package graft.exec

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, MutableProjection}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.ast._
import graft.compiler.QueryCompiler
import graft.compiler.QueryCompiler.TokenKind
import graft.functions.{Funcs, Keywords}
import graft.model.Tables
import graft.operators.PostingAlgebra

/** The driver-side route for small QUERY statements — the reference's
  * in-process SeekToKey on a sorted table (ca-table.h:230-257). The index,
  * summaries and overrides are key-range parquet stores with 1k-row pages
  * and a page index (Catalog.writeRanged). Before anything is compiled to a
  * DataFrame, each leaf's footer (cached per immutable file) and column and
  * offset index bound the rows the statement can touch; within SeekRows,
  * the matching pages are read with parquet-mr, the posting algebra runs
  * over those rows here, and the page fetch reads the summary and override
  * pages the same way — no Spark job. Every other statement takes the Spark
  * plan by an explicit Route.Spark reason; an error inside the seek
  * propagates.
  */
object Seek {

  /** Most stored rows a statement's leaves may span and still run on the
    * driver. At sf0.1 on 4 vCPU the seek of a 100k-row statement takes
    * about 150 ms and the Spark route about 600 ms; the two meet near
    * 300k rows, and a 150k-row leaf of distinct scores already takes the
    * seek 390 ms (SCALE.md has the table). */
  val SeekRows = 100000L

  val PrefixScan = "in-FIELD: prefix scan"
  val BlobExpansion = "FIELD-in: blob expansion"
  val RandomSample = "RANDOM_SAMPLE"
  def notStored(table: String): String =
    s"$table is not a bare projection of one stored parquet relation"
  def overBound(rows: Long): String = s"bound $rows rows > SeekRows $SeekRows"

  /** A posting set on the driver in the shape of PostingAlgebra's frames:
    * rows (off, score, band values…), `bands` naming the pct columns in
    * PostingAlgebra.pctCols order; score and bands may be null. */
  private[graft] final case class Postings(bands: Seq[String], rows: Vector[Row])

  // ---- the posting algebra on the driver, operator for operator ----
  // Each mirrors its PostingAlgebra namesake on Spark's semantics: doubles
  // compare with NaN above every value and -0.0 == 0.0, a comparison with
  // a null score is false, and aggregates skip null scores.

  private def cmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  private def holds(op: String, s: Any, n: Double): Boolean = s != null && {
    val c = cmp(s.asInstanceOf[Double], n)
    op match {
      case "=" => c == 0
      case ">" => c > 0
      case ">=" => c >= 0
      case "<" => c < 0
      case "<=" => c <= 0
    }
  }

  private def offs(p: Postings): Set[Long] = p.rows.iterator.map(_.getLong(0)).toSet

  private def filter(a: Postings)(keep: Row => Boolean): Postings =
    a.copy(rows = a.rows.filter(keep))

  private def withScore(r: Row, s: Any): Row =
    Row.fromSeq(r.getLong(0) +: s +: r.toSeq.drop(2))

  def or(a: Postings, b: Postings): Postings = {
    val all = PostingAlgebra.pctNames.filter(n => a.bands.contains(n) || b.bands.contains(n))
    def pad(p: Postings) = p.rows.map(r => Row.fromSeq(r.get(0) +: r.get(1) +:
      all.map(n => p.bands.indexOf(n) match { case -1 => null; case i => r.get(2 + i) })))
    Postings(all, pad(a) ++ pad(b))
  }

  def and(a: Postings, b: Postings): Postings = {
    val in = offs(b); filter(a)(r => in(r.getLong(0)))
  }

  def subtract(a: Postings, b: Postings): Postings = {
    val in = offs(b); filter(a)(r => !in(r.getLong(0)))
  }

  /** rhs as one max score per offset (null when all its scores are). */
  private def maxScores(b: Postings): Map[Long, Any] =
    dedupMax(b.copy(bands = Nil, rows = b.rows.map(r => Row(r.get(0), r.get(1)))))
      .rows.iterator.map(r => r.getLong(0) -> r.get(1)).toMap

  def thetaCompare(a: Postings, b: Postings, op: String): Postings = {
    val rhs = maxScores(b)
    filter(a)(r => rhs.get(r.getLong(0)).exists(s => s != null &&
      holds(op, r.get(1), s.asInstanceOf[Double])))
  }

  def orderByQuery(a: Postings, b: Postings): Postings = {
    val rhs = maxScores(b)
    a.copy(rows = a.rows.map(r => withScore(r,
      rhs.get(r.getLong(0)).flatMap(Option(_)).getOrElse(Double.NegativeInfinity))))
  }

  def scoreEq(a: Postings, n: Double): Postings = filter(a)(r => holds("=", r.get(1), n))
  def scoreCmp(a: Postings, op: String, n: Double): Postings =
    filter(a)(r => holds(op, r.get(1), n))
  def scoreRange(a: Postings, lo: Double, hi: Double): Postings = {
    val (l, h) = if (lo <= hi) (lo, hi) else (hi, lo)
    filter(a)(r => holds(">=", r.get(1), l) && holds("<=", r.get(1), h))
  }

  def negate(a: Postings): Postings =
    a.copy(rows = a.rows.map(r => withScore(r,
      if (r.get(1) == null) null else -r.getDouble(1))))

  def dedupMax(a: Postings): Postings = dedup(a, 1)
  def dedupMin(a: Postings): Postings = dedup(a, -1)

  /** Per-offset max (sign 1) or min (sign -1), keeping the first row on a
    * tie. Without bands it is Spark's max/min(score), which skips nulls;
    * with bands it is max/min(struct(score, bands…)), whose field order
    * puts null below every value. */
  private def dedup(a: Postings, sign: Int): Postings = {
    def field(x: Any, y: Any): Int =
      if (x == null || y == null) (x != null).compare(y != null)
      else cmp(x.asInstanceOf[Double], y.asInstanceOf[Double])
    def better(r: Row, w: Row): Boolean =
      if (a.bands.isEmpty) r.get(1) != null && (w.get(1) == null ||
        sign * cmp(r.getDouble(1), w.getDouble(1)) > 0)
      else (1 until r.length).iterator.map(i => field(r.get(i), w.get(i)))
        .find(_ != 0).exists(sign * _ > 0)
    val won = scala.collection.mutable.LinkedHashMap.empty[Long, Row]
    a.rows.foreach { r =>
      won.updateWith(r.getLong(0)) {
        case Some(w) if !better(r, w) => Some(w)
        case _ => Some(r)
      }
    }
    a.copy(rows = won.valuesIterator.toVector)
  }

  // ---- the stores ----

  private val footers = new ConcurrentHashMap[(String, Long, Long), ParquetMetadata]

  /** The footer of an immutable store file, read once per (path, length,
    * modification time). */
  private def footer(st: FileStatus, conf: Configuration): ParquetMetadata =
    footers.computeIfAbsent((st.getPath.toString, st.getLen, st.getModificationTime), _ => {
      val in = HadoopInputFile.fromStatus(st, conf)
      val r = ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())
      try r.getFooter finally r.close()
    })

  /** `column IN values` as a parquet predicate over a long or string
    * column — an equality for one value. */
  private def predicate(column: String, values: Set[Any]): FilterPredicate = values.head match {
    case _: Long =>
      val c = FilterApi.longColumn(column)
      val vs = values.map(v => Long.box(v.asInstanceOf[Long]))
      if (vs.size == 1) FilterApi.eq(c, vs.head) else FilterApi.in(c, vs.asJava)
    case _: String =>
      val c = FilterApi.binaryColumn(column)
      val vs = values.map(v => Binary.fromString(v.asInstanceOf[String]))
      if (vs.size == 1) FilterApi.eq(c, vs.head) else FilterApi.in(c, vs.asJava)
  }

  /** One stored frame's parquet files, read by `column IN values`. */
  private[graft] final class Store(files: Seq[FileStatus], conf: Configuration) {

    /** Open a reader per file whose row-group statistics admit the
      * predicate, with the page index filter on. The dictionary filter is
      * off (it reads the key column's whole dictionary page on every seek)
      * and so is parquet's record filter (its IN test costs more than the
      * membership test `read` applies). */
    private def each[A](column: String, values: Set[Any])(f: ParquetFileReader => A): Seq[A] = {
      val pred = predicate(column, values)
      val options = HadoopReadOptions.builder(conf).withRecordFilter(FilterCompat.get(pred))
        .useStatsFilter(true).useDictionaryFilter(false).useBloomFilter(false)
        .useColumnIndexFilter(true).useRecordFilter(false).build()
      files.flatMap { st =>
        val ft = footer(st, conf)
        if (ft.getBlocks.asScala.forall(b => StatisticsFilter.canDrop(pred, b.getColumns))) None
        else {
          val in = HadoopInputFile.fromStatus(st, conf)
          val r = ParquetFileReader.open(in, ft, options, in.newStream())
          try Some(f(r)) finally r.close()
        }
      }
    }

    /** Rows in the pages whose min/max admit a value. */
    def bound(column: String, values: Set[Any]): Long =
      each(column, values)(_.getFilteredRecordCount).sum

    /** The rows whose `column` is in `values`, projected on `cols`, in file
      * order; nothing is read for no values. */
    def read(column: String, values: Set[Any], cols: Seq[String]): Vector[Row] = {
      val want = (cols :+ column).distinct
      val at = want.indexOf(column)
      val rows = if (values.isEmpty) Vector.empty else each(column, values) { r =>
        val out = Vector.newBuilder[Row]
        records(r, want, filtered = true) { v =>
          if (values.contains(v(at))) out += Row.fromSeq(v.take(cols.size).toSeq)
        }
        out.result()
      }.flatten.toVector
      decoded += rows.size
      rows
    }

    /** Rows this store returned to the driver. */
    var decoded = 0L
  }

  /** Every record of `r` (or of its filtered pages), projected on the
    * primitive columns `cols`, as value arrays passed to `f`. */
  private def records(r: ParquetFileReader, cols: Seq[String], filtered: Boolean)(
      f: Array[Any] => Unit): Unit = {
    val file = r.getFooter.getFileMetaData.getSchema
    val schema = new MessageType(file.getName,
      cols.map(c => file.getType(file.getFieldIndex(c))): _*)
    r.setRequestedSchema(schema)
    val io = new ColumnIOFactory().getColumnIO(schema, file)
    def next() = if (filtered) r.readNextFilteredRowGroup() else r.readNextRowGroup()
    var pages = next()
    while (pages != null) {
      val reader = io.getRecordReader(pages, new Records(cols.size))
      var i = 0L
      while (i < pages.getRowCount) { f(reader.read()); i += 1 }
      pages = next()
    }
  }

  /** Every row of the parquet `files`, projected on the primitive columns
    * `cols`, as value arrays passed to `f` in file order. */
  private[graft] def scan(files: Seq[FileStatus], conf: Configuration, cols: Seq[String])(
      f: Array[Any] => Unit): Unit =
    files.foreach { st =>
      val in = HadoopInputFile.fromStatus(st, conf)
      val r = ParquetFileReader.open(in, footer(st, conf),
        HadoopReadOptions.builder(conf).build(), in.newStream())
      try records(r, cols, filtered = false)(f) finally r.close()
    }

  /** Rows in the footers of the parquet `files`. */
  private[graft] def footerRows(files: Seq[FileStatus], conf: Configuration): Long =
    files.map(footer(_, conf).getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Flat records of primitive columns as value arrays (null when absent). */
  private final class Records(n: Int) extends RecordMaterializer[Array[Any]] {
    private var values: Array[Any] = _
    private val root = new GroupConverter {
      private val fields: Array[Converter] = Array.tabulate(n)(i => new PrimitiveConverter {
        override def addLong(v: Long): Unit = values(i) = v
        override def addInt(v: Int): Unit = values(i) = v
        override def addDouble(v: Double): Unit = values(i) = v
        override def addBinary(v: Binary): Unit = values(i) = v.toStringUsingUTF8
      })
      def getConverter(i: Int): Converter = fields(i)
      def start(): Unit = values = new Array[Any](n)
      def end(): Unit = ()
    }
    def getCurrentRecord: Array[Any] = values
    def getRootConverter: GroupConverter = root
  }

  /** A frame that is a bare column projection of one parquet relation:
    * the relation, and each of its files with its partition values, from
    * the relation's file index. */
  private[graft] final case class Stored(relation: HadoopFsRelation,
      files: Seq[(InternalRow, FileStatus)]) {

    /** The files of the partitions whose `column` is one of `values`. */
    def partitions(column: String, values: Set[Long]): Seq[(InternalRow, FileStatus)] = {
      val i = relation.partitionSchema.fieldIndex(column)
      val t = relation.partitionSchema(i).dataType
      files.filter { case (v, _) =>
        !v.isNullAt(i) && values(v.get(i, t).asInstanceOf[Number].longValue)
      }
    }

    /** The files whose row-group statistics admit `column` = `value`. */
    def admitting(column: String, value: Long, conf: Configuration): Seq[(InternalRow, FileStatus)] = {
      val pred = predicate(column, Set[Any](value))
      files.filter { case (_, st) =>
        footer(st, conf).getBlocks.asScala.exists(b => !StatisticsFilter.canDrop(pred, b.getColumns))
      }
    }
  }

  private[graft] def stored(df: DataFrame): Option[Stored] = {
    def of(r: LogicalRelation) = r.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] =>
        Some(Stored(h, h.location.listFiles(Nil, Nil).flatMap(p =>
          p.files.map(f => p.values -> f.fileStatus))))
      case _ => None
    }
    df.queryExecution.analyzed match {
      case Project(list, r: LogicalRelation) if list.forall(_.isInstanceOf[AttributeReference]) =>
        of(r)
      case r: LogicalRelation => of(r)
      case _ => None
    }
  }

  /** The files of a frame that is a bare column projection of one
    * unpartitioned parquet relation. */
  private[graft] def storedFiles(df: DataFrame): Option[Seq[FileStatus]] =
    stored(df).filter(_.relation.partitionSchema.isEmpty).map(_.files.map(_._2))

  /** A stored frame's Store, when it is unpartitioned. */
  private[graft] def store(df: DataFrame, conf: Configuration): Option[Store] =
    storedFiles(df).map(new Store(_, conf))

  private val readers = new ConcurrentHashMap[(SparkSession, StructType, StructType,
    Map[String, String], StructType), PartitionedFile => Iterator[InternalRow]]

  /** Every row of `files` of `s`, as Spark's parquet source reads it:
    * the `required` columns, then the partition values. The reader is
    * built once per (session, schemas, options). Each file is read to its
    * end, which closes it, or closed when `f` throws. A row is valid only
    * inside `f`. */
  private[graft] def scanRows(spark: SparkSession, s: Stored, files: Seq[(InternalRow, FileStatus)],
      required: StructType)(f: InternalRow => Unit): Unit = {
    val h = s.relation
    val read = readers.computeIfAbsent((spark, h.dataSchema, h.partitionSchema, h.options, required), _ =>
      h.fileFormat.buildReaderWithPartitionValues(spark, h.dataSchema, h.partitionSchema,
        required, Nil, h.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConfWithOptions(h.options)))
    files.foreach { case (values, st) =>
      val it = read(PartitionedFile(values, SparkPath.fromPath(st.getPath), 0, st.getLen,
        Array.empty, st.getModificationTime, st.getLen))
      try while (it.hasNext) f(it.next())
      finally it match { case c: AutoCloseable => c.close(); case _ => }
    }
  }

  /** Compiled `cols` over rows of `input`, with their output schema. */
  private[graft] final case class Projection(project: MutableProjection, schema: StructType)

  private val projections = new ConcurrentHashMap[(Boolean, StructType, Seq[String]), Projection]

  /** `cols` over rows of `input`, analyzed and compiled for evaluation on
    * the driver — once per ANSI mode (which the casts fix at analysis),
    * input schema and column text. A projection writes into one row: hold
    * its lock while evaluating and reading it. */
  private[graft] def projection(spark: SparkSession, input: StructType, cols: Column*): Projection =
    projections.computeIfAbsent((spark.sessionState.conf.ansiEnabled, input, cols.map(_.toString)), _ => {
      val df = spark.createDataFrame(java.util.List.of[Row](), input).select(cols: _*)
      // the analyzed projection with its runtime-replaceable calls (`get`)
      // replaced, as the optimizer does before any evaluation
      val Project(list, in) = ReplaceExpressions(df.queryExecution.analyzed): @unchecked
      Projection(MutableProjection.create(list, in.output), df.schema)
    })

  /** The rows of a frame whose optimized plan is a local relation. */
  private[graft] def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  /** The non-null `column` values of a local frame, as longs. */
  private[graft] def localIds(df: DataFrame, column: String): Option[Set[Long]] =
    localRows(df.select(df(column).cast(LongType)))
      .map(_.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet)

  /** The top `k` of (id, score) rows in QueryExec.rankOrder, as a local
    * frame under `schema`: what orderBy(desc(score), asc(id)).limit(k)
    * returns, with no job to collect it. */
  private[graft] def ranked(spark: SparkSession, schema: StructType, rows: Seq[Row], k: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.sorted(QueryExec.rankOrder).take(k): _*), schema)

  /** A statement leaf's lookup: the `key` rows of the index (with the
    * leaf's bands) or, for KEY=, of the summaries. */
  private final case class Lookup(summaries: Boolean, key: String, bands: Seq[String])

  /** A leaf's lookup, or the reason the leaf needs Spark: the compiler's
    * leaf dispatch, restricted to plain lookups. */
  private def leaf(id: String, bands: Seq[String]): Either[String, Lookup] =
    QueryCompiler.tokenKind(Funcs.decodeUriComponent(id)) match {
      case TokenKind.Cas(_, _) => Left(BlobExpansion)
      case TokenKind.PrefixScan(_, _) => Left(PrefixScan)
      case TokenKind.Plain(t) =>
        Right(Lookup(summaries = false, t, if (Keywords.hasPctBands(t)) bands else Nil))
    }

  /** The statement's leaf lookups, or the reason a leaf or operator needs
    * Spark. */
  private def lookups(q: Query, bands: Seq[String]): Either[String, Seq[Lookup]] = q match {
    case Leaf(id) => leaf(id, bands).map(Seq(_))
    case DocKey(k) => Right(Seq(Lookup(summaries = true, k, Nil)))
    case Sample(_, _) => Left(RandomSample)
    case Bin(_, l, r) => both(l, r, bands)
    case CmpQuery(_, l, r) => both(l, r, bands)
    case CmpScalar(_, l, _) => lookups(l, bands)
    case InRange(l, _, _) => lookups(l, bands)
    case Un(_, l) => lookups(l, bands)
  }

  private def both(l: Query, r: Query, bands: Seq[String]) =
    for (a <- lookups(l, bands); b <- lookups(r, bands)) yield a ++ b

  /** A statement bound within SeekRows, with its stores. */
  private[exec] final class Plan(stmt: QueryStmt, index: Store, summaries: Store,
      overrides: Store, bands: Seq[String], val bound: Long) {

    private def postings(l: Lookup): Postings =
      if (l.summaries)
        Postings(Nil, summaries.read("key", Set[Any](l.key), Seq("off"))
          .map(r => Row(r.get(0), 0.0)))
      else Postings(l.bands, index.read("key", Set[Any](l.key), Seq("off", "score") ++ l.bands))

    private def eval(q: Query): Postings = q match {
      case Leaf(id) => postings(leaf(id, bands).fold(r => throw new IllegalStateException(r), identity))
      case DocKey(k) => postings(Lookup(summaries = true, k, Nil))
      case Bin(BinKind.Or, l, r) => or(eval(l), eval(r))
      case Bin(BinKind.And, l, r) => and(eval(l), eval(r))
      case Bin(BinKind.Subtract, l, r) => subtract(eval(l), eval(r))
      case Bin(BinKind.OrderBy, l, r) => orderByQuery(eval(l), eval(r))
      case CmpScalar(CmpOp.Eq, l, v) => scoreEq(eval(l), v)
      case CmpScalar(op, l, v) => scoreCmp(eval(l), op.sym, v)
      case CmpQuery(op, l, r) => thetaCompare(eval(l), eval(r), op.sym)
      case InRange(l, lo, hi) => scoreRange(eval(l), lo, hi)
      case Un(UnKind.Max, l) => dedupMax(eval(l))
      case Un(UnKind.Min, l) => dedupMin(eval(l))
      case Un(UnKind.Negate, l) => negate(eval(l))
      case Sample(_, _) => throw new IllegalStateException(s"$RandomSample routes to Spark")
    }

    /** QueryExec.results on the driver: dedup, then the thresholds join
      * with the threshold key's score. */
    private def results(): Postings = {
      val deduped = dedupMax(eval(stmt.query))
      stmt.thresholds.map(QueryExec.thresholdPlan).fold(deduped) {
        case (_, bs) if bs.isEmpty => Postings(Nil, Vector.empty)
        case (key, bs) =>
          val thr = maxScores(postings(Lookup(summaries = false, key, Nil)))
          Postings(Nil, deduped.rows.flatMap { r =>
            thr.get(r.getLong(0)).filter(s => holds(">=", s, bs.head.lo) &&
              holds("<", s, bs.last.hi)).map(s => Row(r.get(0), s))
          })
      }
    }

    /** The ranked page, counted and sliced like QueryExec's collected path. */
    def page(): QueryExec.Page = {
      val res = results()
      val schema = StructType(Seq(StructField("off", LongType),
        StructField("score", DoubleType)) ++ res.bands.map(StructField(_, DoubleType)))
      val rows = if (stmt.limit == 0) Nil
        else QueryExec.slice(res.rows.sorted(QueryExec.rankOrder), stmt)
      QueryExec.paged(stmt, schema, rows.map(r => QueryExec.row(schema, r.toSeq)),
        res.rows.size, Route.Seek(bound))
    }

    /** The page fetch's seeks, read on the driver. */
    val fetcher: QueryExec.Fetcher = new QueryExec.Fetcher {
      def summaries(offs: Seq[Long]): Map[Any, Seq[Row]] =
        Plan.this.summaries.read("off", offs.toSet[Any], Seq("off", "key", "json")).groupBy(_.get(0))
      def overrides(keys: Seq[String]): Map[Any, Seq[Row]] =
        Plan.this.overrides.read("key", keys.toSet[Any], Seq("key", "json")).groupBy(_.get(0))
      def headers: Option[Seq[Long] => Map[Any, Seq[Row]]] = None
    }

    /** Rows each store returned to the driver so far. */
    def decoded: Map[String, Long] = Map("index" -> index.decoded,
      "summaries" -> summaries.decoded, "overrides" -> overrides.decoded)
  }

  /** The route for `stmt` over `t`: the seek plan when every leaf is a
    * stored lookup and the footers bound the rows within SeekRows, else the
    * reason it runs on Spark. Reads footers and page indexes only. */
  private[exec] def plan(spark: SparkSession, t: Tables, stmt: QueryStmt): Either[String, Plan] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def store(name: String, df: DataFrame) =
      storedFiles(df).map(new Store(_, conf)).toRight(notStored(name))
    val bands = PostingAlgebra.pctCols(t.index)
    for {
      leaves <- lookups(stmt.query, bands)
      index <- store("index", t.index)
      summaries <- store("summaries", t.summaries)
      overrides <- store("overrides", t.overrides)
      all = leaves ++ stmt.thresholds.map(th =>
        Lookup(summaries = false, QueryExec.thresholdPlan(th)._1, Nil))
      bound = all.map(l => (if (l.summaries) summaries else index).bound("key", Set[Any](l.key))).sum
      _ <- Either.cond(bound <= SeekRows, (), overBound(bound))
    } yield new Plan(stmt, index, summaries, overrides, bands, bound)
  }

  /** The route `stmt` takes over `t`, decided from footers alone. */
  def route(spark: SparkSession, t: Tables, stmt: QueryStmt): Route =
    plan(spark, t, stmt).fold(Route.Spark(_), p => Route.Seek(p.bound))
}
