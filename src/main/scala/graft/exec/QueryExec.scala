package graft.exec

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.graft.InSetColumn
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import graft.ast._
import graft.compiler.{Compiled, QueryCompiler}
import graft.functions.{Funcs, Keywords}
import graft.model.Tables
import graft.operators.PostingAlgebra._
import graft.parser.Printer

/** Executes a parsed QUERY statement end-to-end — the Spark re-expression of
  * ca_schema_query (/root/reference/src/query.cc:726-948): compile the AST,
  * final dedup (max), threshold join with score replacement, top-K paging
  * with the count from the same evaluation, bucket-header synthesis, and the
  * page fetch by seek (keys-only, or summary + override + S4 headers). The
  * JSON envelope lives in Presenter.
  *
  * Two routes share the paging, headers and fetch assembly here: a
  * statement whose footers bound it within Seek.SeekRows is evaluated on
  * the driver (Seek) without a Spark job; every other one runs the Spark
  * plan below. The page says which route it took.
  */
object QueryExec {

  /** One threshold bucket [lo, hi) with its display header and sortable
    * base-26 key — all derived from the CONSTANT threshold list at plan time
    * (query.cc:900-928), so bucket assignment is the only data-dependent step.
    */
  final case class Bucket(lo: Double, hi: Double, header: String, headerKey: String)

  /** Build the bucket table for a sorted threshold list. Bucket ordinal k for
    * [t(j), t(j+1)) is j+1 (the reference's `i - thresholds.begin()` where i
    * points at the upper bound, query.cc:905-918); a leading '~' on the key
    * reverses ordinals (k := n - k). Timestamped keys render date headers:
    * "A–B", or just "A" when the bucket spans exactly one day. */
  def buckets(sorted: List[Double], reversed: Boolean, dateHeaders: Boolean): Seq[Bucket] =
    // A single threshold means [t, t) — always empty (query.cc:775-776).
    sorted.zip(sorted.drop(1)).zipWithIndex.map { case ((lo, hi), j) =>
      val header =
        if (!dateHeaders) s"${Printer.g9(lo)}–${Printer.g9(hi)}"
        else if (lo + 1 != hi) s"${daysToDate(lo)}–${daysToDate(hi)}"
        else daysToDate(lo)
      val k = if (reversed) sorted.size - (j + 1) else j + 1
      Bucket(lo, hi, header, base26(k))
    }

  /** "%B %e, %Y" with the double-space collapse (query.cc:158-169) — Java's
    * MMMM d pattern produces the collapsed form directly. Days since epoch. */
  def daysToDate(days: Double): String =
    java.time.LocalDate.ofEpochDay(days.toLong)
      .format(java.time.format.DateTimeFormatter.ofPattern("MMMM d, yyyy",
        java.util.Locale.US))

  /** Base-26 5-char sortable key "AAAAA".."ZZZZZ" (query.cc:923-927). */
  def base26(k: Long): String =
    (4 to 0 by -1).map(p => ('A' + (k / math.pow(26, p).toLong) % 26).toChar).mkString

  /** The threshold plan for a statement: the stripped key name, whether
    * reversed, and the bucket table. */
  private[exec] def thresholdPlan(th: Thresholds): (String, Seq[Bucket]) = {
    val (key, reversed) =
      if (th.key.startsWith("~")) (th.key.drop(1), true) else (th.key, false)
    val sorted = th.values.sorted
    (key, buckets(sorted, reversed, Keywords.isTimestamped(key)))
  }

  /** The deduped, threshold-filtered result set (off, score) BEFORE paging —
    * `offsets` right before the partial_sort (query.cc:726-793). With
    * thresholds, the result score is REPLACED by the threshold key's score and
    * only offsets whose threshold score ∈ [min, max) survive (query.cc:764-793).
    */
  def results(spark: SparkSession, t: Tables, stmt: QueryStmt): (DataFrame, Compiled) = {
    val compiled = new QueryCompiler(spark, t).compile(stmt.query)
    val deduped = dedupMax(compiled.postings)
    val res = stmt.thresholds match {
      case None => deduped
      case Some(th) if thresholdPlan(th)._2.isEmpty =>
        deduped.limit(0) // single threshold value: [t, t) is empty
      case Some(th) =>
        val (key, bs) = thresholdPlan(th)
        val (lo, hi) = (bs.head.lo, bs.last.hi)
        // Pin the threshold postings to one score per offset (max) — the
        // reference walks raw posting duplicates (query.cc:764-790); on a
        // well-formed index the two agree, and sets are the only
        // order-independent contract at scale.
        val thr = dedupMax(t.index.filter(col("key") === key).select("off", "score"))
        deduped.select("off")
          .join(thr.filter(col("score") >= lo && col("score") < hi), Seq("off"))
    }
    (res, compiled)
  }

  /** A page on the driver: rows in rank order under `schema`, plus the
    * statement's total match count ("result-count", query.cc:933), the
    * route it ran on and, on the seek route, the rows each store returned. */
  final case class Page(total: Long, schema: StructType, rows: Seq[Row], route: Route,
      decoded: Map[String, Long] = Map.empty) {
    def toDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** (score DESC, off ASC) — topK's order, applied on the driver. Doubles
    * compare as Spark sorts them: NaN above every value, -0.0 == 0.0,
    * nulls after every score. */
  private[graft] val rankOrder: Ordering[Row] = (a: Row, b: Row) => {
    val (sa, sb) = (a.get(1), b.get(1))
    val byScore =
      if (sa == null || sb == null) (sa == null).compare(sb == null)
      else {
        val (x, y) = (sa.asInstanceOf[Double], sb.asInstanceOf[Double])
        if (x == y) 0 else java.lang.Double.compare(y, x)
      }
    if (byScore != 0) byScore else a.getLong(0).compare(b.getLong(0))
  }

  /** The statement's page of an already ranked result set. */
  private[exec] def slice(ranked: Seq[Row], stmt: QueryStmt): Seq[Row] = {
    val from = math.min(stmt.offset, Int.MaxValue).toInt
    val until = if (stmt.limit < 0) ranked.length
      else from + math.min(stmt.limit, ranked.length.toLong).toInt
    ranked.slice(from, until)
  }

  private val CountMetric = "graft_result_count"

  /** The ranked page (off, score [, pcts] [, _header, _header_key]) and the
    * total count, on the route Seek picks: the driver seek for a statement
    * its footers bound within Seek.SeekRows, else the Spark plan. */
  def page(spark: SparkSession, t: Tables, stmt: QueryStmt): DataFrame =
    (Seek.plan(spark, t, stmt) match {
      case Right(seek) => seek.page()
      case Left(reason) => ranked(spark, t, stmt, reason)._1
    }).toDF(spark)

  /** The Spark route's page, from ONE evaluation of results() with no
    * cache — the reference builds `offsets` once, partial-sorts it and pages
    * it (query.cc:726-807):
    *  - a LIMIT that plans as TakeOrderedAndProject: the count is observed on
    *    the result set beneath it, which runs once;
    *  - LIMIT 0: the page is empty and the count runs on the executors;
    *  - otherwise — LIMIT -1, or a result set the optimizer knows fits the
    *    page, whose limit it drops — the page is the whole set: collected
    *    unsorted, ranked and sliced on the driver, and counted there. A count
    *    observed under the global sort would double: the range partitioner's
    *    sampling job runs the observed subtree a second time.
    * Returned with the statement's compiled extra. */
  private def ranked(spark: SparkSession, t: Tables, stmt: QueryStmt,
      reason: String): (Page, Compiled) = {
    val (res, compiled) = results(spark, t, stmt)
    val set = res.select((Seq("off", "score") ++ pctCols(res)).map(col): _*)
    val observed = Option.when(stmt.limit > 0)(
        topK(set.observe(CountMetric, count(lit(1))), stmt.limit, stmt.offset))
      .filter(_.queryExecution.sparkPlan.isInstanceOf[TakeOrderedAndProjectExec])
    val (rows, total) =
      if (stmt.limit == 0) (Nil, set.count())
      else observed match {
        case Some(top) =>
          val rows = top.collect().toSeq
          val n = top.queryExecution.observedMetrics.getOrElse(CountMetric,
            throw new IllegalStateException(s"no observed result count for $stmt"))
          (rows, n.getLong(0))
        case None =>
          val all = set.collect()
          (slice(all.sorted(rankOrder).toSeq, stmt), all.length.toLong)
      }
    (paged(stmt, set.schema, rows, total, Route.Spark(reason)), compiled)
  }

  /** The page of `rows` in rank order; with thresholds, each row gets its
    * bucket's header, looked up in the constant bucket table. */
  private[exec] def paged(stmt: QueryStmt, schema: StructType, rows: Seq[Row],
      total: Long, route: Route): Page =
    stmt.thresholds match {
      case None => Page(total, schema, rows, route)
      case Some(th) =>
        val (_, bs) = thresholdPlan(th)
        val withHeaders = StructType(schema.fields ++ headerFields)
        Page(total, withHeaders, rows.map { r =>
          val b = bs.find(b => r.getDouble(1) < b.hi)
          row(withHeaders, r.toSeq ++ Seq(b.map(_.header).orNull, b.map(_.headerKey).orNull))
        }, route)
    }

  private val headerFields = Seq(
    StructField("_header", StringType), StructField("_header_key", StringType))

  private[exec] def row(schema: StructType, values: Seq[Any]): Row =
    new GenericRowWithSchema(values.toArray, schema)

  /** The page fetch's three seeks by key, each grouped by that key: the
    * summaries (off, key, json) of the page's offsets, the overrides
    * (key, json) of their keys, and — for S4 statements — the extra headers
    * (off, _header, _header_key) of the page's offsets. */
  private[exec] trait Fetcher {
    def summaries(offs: Seq[Long]): Map[Any, Seq[Row]]
    def overrides(keys: Seq[String]): Map[Any, Seq[Row]]
    def headers: Option[Seq[Long] => Map[Any, Seq[Row]]]
  }

  /** Fetch `df`'s rows whose `k` is in `values`, grouped by `k` — empty
    * without a job when there is nothing to look up. The In predicate
    * reaches the parquet scan, so a key-range store reads only the pages
    * holding those keys, and only the page's rows reach the driver. */
  private def seek(df: DataFrame, k: String, values: Seq[Any]): Map[Any, Seq[Row]] =
    if (values.isEmpty) Map.empty
    else df.filter(InSetColumn(col(k), values)).collect().toSeq.groupBy(_.getAs[Any](k))

  /** The Spark route's seeks: pushed InSets over the stored frames. */
  private def sparkFetcher(t: Tables, compiled: Compiled, stmt: QueryStmt): Fetcher =
    new Fetcher {
      def summaries(offs: Seq[Long]) = seek(t.summaries.select("off", "key", "json"), "off", offs)
      def overrides(keys: Seq[String]) = seek(t.overrides.select("key", "json"), "key", keys)
      def headers = compiled.extra.filter(_ => stmt.thresholds.isEmpty).map(e =>
        offs => seek(e.select("off", "_header", "_header_key"), "off", offs))
    }

  /** THE page fetch (query.cc:809-898), shared by the Shell (Presenter) and
    * every QUERY entry, on the route Seek picks: the page's summaries by
    * `off IN (page offsets)`; then, unless keys-only, the overrides by
    * `key IN (those keys)` and the S4 extra headers by `off IN (page
    * offsets)`, merged on the page in rank order. A page offset with no
    * summary row yields no row; an override merges its body into the
    * summary's (query.cc:877-890).
    * Columns: keys-only → (key); else off, score, key, json [, pcts]
    * [, _header, _header_key] — threshold headers win over S4 headers. */
  def fetch(spark: SparkSession, t: Tables, stmt: QueryStmt): Page =
    Seek.plan(spark, t, stmt) match {
      case Right(seek) =>
        val pg = assemble(stmt, seek.page(), seek.fetcher)
        pg.copy(decoded = seek.decoded)
      case Left(reason) => fetchOnSpark(spark, t, stmt, reason)
    }

  /** The fetch on the Spark route, whatever the statement's bound. */
  private[graft] def fetchOnSpark(spark: SparkSession, t: Tables, stmt: QueryStmt,
      reason: String): Page = {
    val (pg, compiled) = ranked(spark, t, stmt, reason)
    assemble(stmt, pg, sparkFetcher(t, compiled, stmt))
  }

  private def assemble(stmt: QueryStmt, pg: Page, f: Fetcher): Page = {
    val offs = pg.rows.map(_.getLong(0)).distinct
    val summ = f.summaries(offs)
    val docs = pg.rows.map(r => r -> summ.getOrElse(r.getLong(0), Nil))
    if (stmt.keysOnly) {
      val schema = StructType(Seq(StructField("key", StringType)))
      pg.copy(schema = schema,
        rows = docs.flatMap(_._2).map(d => row(schema, Seq(d.getString(1)))))
    } else {
      val ovr = f.overrides(docs.flatMap(_._2).map(_.getString(1)).distinct)
      val extra = f.headers.map(_(offs))
      val pcts = pctCols(pg.schema)
      val schema = StructType(
        Seq(StructField("off", LongType), StructField("score", DoubleType),
          StructField("key", StringType), StructField("json", StringType)) ++
          pcts.map(StructField(_, DoubleType)) ++
          (if (stmt.thresholds.isDefined || extra.isDefined) headerFields else Nil))
      pg.copy(schema = schema, rows = docs.flatMap { case (r, ds) =>
        val headers: Seq[Seq[Any]] =
          if (stmt.thresholds.isDefined)
            Seq(Seq(r.getAs[String]("_header"), r.getAs[String]("_header_key")))
          else extra.fold(Seq(Seq.empty[Any]))(_.get(r.getLong(0))
            .fold(Seq(Seq[Any](null, null)))(_.map(h => Seq(h.getString(1), h.getString(2)))))
        for {
          d <- ds
          o <- ovr.get(d.getString(1))
            .fold(Seq(Option.empty[String]))(_.map(o => Option(o.getString(1))))
          h <- headers
        } yield row(schema, Seq(r.getLong(0), r.get(1), d.getString(1),
          o.fold(d.getString(2))(Funcs.jsonMerge(d.getString(2), _))) ++
          pcts.map(r.getAs[Any]) ++ h)
      })
    }
  }

  /** The fetch as a DataFrame: full result rows, or for KEYS FOR the
    * page's document keys in rank order (query.cc:809-828). */
  def rows(spark: SparkSession, t: Tables, stmt: QueryStmt): DataFrame =
    fetch(spark, t, stmt).toDF(spark)

  /** Convenience: parse a statement string and return the page / keys /
    * rows DataFrame for it (the driver CORRECTNESS entry points — these go
    * text → lexer → parser → compiler → executor). */
  def runPage(spark: SparkSession, t: Tables, text: String): DataFrame =
    graft.parser.Parser.parseStatement(text) match {
      case q: QueryStmt if q.keysOnly => rows(spark, t, q)
      case q: QueryStmt => page(spark, t, q)
      case s => throw new IllegalArgumentException(s"not a QUERY statement: $s")
    }

  def runRows(spark: SparkSession, t: Tables, text: String): DataFrame =
    graft.parser.Parser.parseStatement(text) match {
      case q: QueryStmt => rows(spark, t, q)
      case s => throw new IllegalArgumentException(s"not a QUERY statement: $s")
    }
}
