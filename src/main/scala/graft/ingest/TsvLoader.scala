package graft.ingest

import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.exec.{Route, Seek}

/** S7 — TSV ingest (/root/reference/src/ca-load.cc:116-391): lines of
  * `key TAB (dockey|date) TAB value [TAB pct5 TAB pct25 TAB pct75 TAB pct95]`
  * with backslash escaping of tab/newline/CR inside fields.
  *
  *  - index mode: the middle column is a document key, resolved to its
  *    summary-table offset (ca-load.cc:282-294)
  *  - time-series mode: the middle column is a date string parsed with the
  *    given format; the offset is its epoch-SECONDS value
  *    (ca-load.cc:296-314; SURVEY §1.1 — time series store timestamps as
  *    offsets)
  *
  * Spark shape: a raw-line read + split, not the csv reader — the reference's
  * escaping (`\t` inside a field) is not CSV quoting. The unescape is the one
  * procedural per-char step (a transcription of ca-load.cc:238-253) and runs
  * once at ingest, never at query time.
  *
  * Index mode has a driver route, like Seek's for QUERY: the reference
  * resolves each line's document key in process, with no distributed step
  * (ca-load.cc:282-294). A batch that is one plain file of at most LoadBytes,
  * over summaries that are one stored parquet relation of at most
  * ResolveRows rows, is read on the driver with Hadoop's LineRecordReader
  * (what Spark's text source reads with), projected through the same
  * `columns` expressions, and resolved against a `key → offs` map of the
  * summaries built once per store. Every other input takes the Spark join by
  * a named `Route.Spark` reason.
  */
object TsvLoader {

  /** Unescape \t \n \r \\ (ca-load.cc:238-253: backslash followed by
    * t/n/r/other — other keeps the char). */
  def unescape(s: String): String = {
    if (s == null || !s.contains('\\')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case o => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val unescapeUdf = udf(unescape _)

  /** `escape` as a column — fixture writers reuse it so the TSV they plant
    * goes through the same escaping contract the loader undoes. */
  val escapeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(escape _)

  /** C2 — the inverse escape for TSV output (format.cc:247-268: tab, newline,
    * CR and backslash become backslash sequences). */
  def escape(s: String): String = {
    if (s == null) return null
    val sb = new StringBuilder(s.length)
    for (c <- s) c match {
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\\' => sb.append("\\\\")
      case o => sb.append(o)
    }
    sb.toString
  }

  /** Most bytes a TSV batch may hold and still load on the driver. At
    * sf0.1 on 4 vCPU, load plus append, the routes meet near 1.5 MB (50k
    * rows of the benchmark's batches); at this bound the driver route
    * still takes about two thirds of the Spark join's time (SCALE.md has
    * the crossover). */
  val LoadBytes: Long = 1L << 20

  /** Most summary rows the driver's resolve map may hold: the map takes
    * about 150 bytes a key (24.5 MB for sf0.1's 165k), so 150 MB here. */
  val ResolveRows = 1000000L

  val NotOneFile = "input is not one file (a directory of part files, a glob or a missing path)"
  val Compressed = "compressed input"
  def overBound(bytes: Long): String = s"batch $bytes bytes > LoadBytes $LoadBytes"
  def overResolve(rows: Long): String = s"summaries $rows rows > ResolveRows $ResolveRows"

  private val LineSchema = StructType(Seq(StructField("value", StringType)))

  /** A line's 3+ columns (key, mid, score, pct5..pct95) over its `value`
    * — the one projection both index routes and the time-series mode
    * evaluate. */
  private def columnList: Seq[Column] = {
    val parts = split(col("value"), "\t")
    // `get` (not getItem) — the percentile columns are optional and ANSI mode
    // rejects out-of-bounds getItem.
    Seq(
      unescapeUdf(get(parts, lit(0))).as("key"),
      unescapeUdf(get(parts, lit(1))).as("mid"),
      get(parts, lit(2)).cast("double").as("score"),
      get(parts, lit(3)).cast("double").as("pct5"),
      get(parts, lit(4)).cast("double").as("pct25"),
      get(parts, lit(5)).cast("double").as("pct75"),
      get(parts, lit(6)).cast("double").as("pct95"))
  }

  private def columns(lines: DataFrame): DataFrame = lines.select(columnList: _*)

  /** Index mode: resolve document keys against the summary table
    * (ca-load.cc:282-294 — unknown doc keys are an error there; here they are
    * dropped like an inner join drops them, and surfaced by the caller
    * comparing counts). A small batch over stored summaries resolves on the
    * driver and comes back as a local frame; see `route`. */
  def loadIndex(spark: SparkSession, path: String, summaries: DataFrame): DataFrame =
    batch(spark, path, summaries).fold(_ => joined(spark, path, summaries),
      resolved(spark, _, summaries))

  /** The route `loadIndex` takes for this batch, decided from file and
    * footer metadata alone. */
  def route(spark: SparkSession, path: String, summaries: DataFrame): Route =
    batch(spark, path, summaries).fold(Route.Spark(_), b => Route.Seek(b.file.getLen))

  /** The Spark route: every line joined to the summaries by document key. */
  private[graft] def joined(spark: SparkSession, path: String, summaries: DataFrame): DataFrame =
    columns(spark.read.text(path))
      .join(summaries.select(col("key").as("mid"), col("off")), Seq("mid"))
      .select("key", "off", "score", "pct5", "pct25", "pct75", "pct95")

  /** A batch within the driver route's bounds, with its summaries' files. */
  private final case class Batch(file: FileStatus, summaries: Seq[FileStatus])

  private def batch(spark: SparkSession, path: String,
      summaries: DataFrame): Either[String, Batch] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    for {
      file <- Option(p.getFileSystem(conf).globStatus(p))
        .collect { case Array(st) if st.isFile => st }.toRight(NotOneFile)
      _ <- Either.cond(new CompressionCodecFactory(conf).getCodec(file.getPath) == null,
        (), Compressed)
      _ <- Either.cond(file.getLen <= LoadBytes, (), overBound(file.getLen))
      stored <- Seek.storedFiles(summaries).toRight(Seek.notStored("summaries"))
      rows = Seek.footerRows(stored, conf)
      _ <- Either.cond(rows <= ResolveRows, (), overResolve(rows))
    } yield Batch(file, stored)
  }

  /** The last summaries store's `key → offs` (several offs when the store
    * repeats a key, as the join fans out), named by the (path, length,
    * modification time) of its files: a store is immutable once published. */
  private val offsByKey =
    new AtomicReference[(Seq[(String, Long, Long)], java.util.HashMap[String, Array[Any]])]

  private def offsOf(files: Seq[FileStatus], conf: Configuration): java.util.HashMap[String, Array[Any]] = {
    val id = files.map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
    Option(offsByKey.get).filter(_._1 == id).map(_._2).getOrElse {
      val m = new java.util.HashMap[String, Array[Any]]
      Seek.scan(files, conf, Seq("key", "off")) { v =>
        if (v(0) != null)
          m.merge(v(0).asInstanceOf[String], Array(v(1)), (a: Array[Any], b: Array[Any]) => a ++ b)
      }
      offsByKey.set(id -> m)
      m
    }
  }

  /** The driver route: the batch's lines through `columns`, each joined to
    * the offs of its document key, as a local frame with the Spark route's
    * schema. No Spark job runs; the frame is one partition, so an append
    * writes one file, as the Spark route's does. */
  private def resolved(spark: SparkSession, b: Batch, summaries: DataFrame): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cols = Seek.projection(spark, LineSchema, columnList: _*)
    val offs = offsOf(b.summaries, conf)
    val schema = StructType(cols.schema("key") +: summaries.schema("off") +: cols.schema.drop(2))
    val out = new java.util.ArrayList[Row]
    val reader = new LineRecordReader()
    reader.initialize(new FileSplit(b.file.getPath, 0, b.file.getLen, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    // the projection writes into one row: a batch holds it for its lines
    try cols.project.synchronized {
      while (reader.nextKeyValue()) {
        val line = reader.getCurrentValue
        val r = cols.project(InternalRow(UTF8String.fromBytes(line.getBytes, 0, line.getLength)))
        Option(r.getUTF8String(1)).flatMap(mid => Option(offs.get(mid.toString))).foreach { os =>
          val key = Option(r.getUTF8String(0)).map(_.toString).orNull
          val values = (2 until 7).map(i => if (r.isNullAt(i)) null else r.getDouble(i))
          os.foreach(off => out.add(Row.fromSeq(key +: off +: values)))
        }
      }
    } finally reader.close()
    spark.createDataFrame(out, schema).coalesce(1)
  }

  /** Time-series mode: parse the date column; offset := epoch seconds
    * (ca-load.cc:296-314, default format "%Y-%m-%d %H:%M:%S"). */
  def loadTimeSeries(spark: SparkSession, path: String,
      format: String = "yyyy-MM-dd HH:mm:ss"): DataFrame =
    columns(spark.read.text(path))
      .select(col("key"),
        unix_timestamp(to_timestamp(col("mid"), format)).as("off"),
        col("score"), col("pct5"), col("pct25"), col("pct75"), col("pct95"))

  /** Summary mode: (key, json) pairs (ca-load.cc summary output type). */
  def loadSummaries(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
    val parts = split(col("value"), "\t")
    // `get` like columns — ANSI rejects out-of-bounds getItem, so a
    // malformed line (no tab) must read as a NULL json field, not a task
    // failure (review finding, r19: this was the one loader left on
    // getItem, and it had no caller exercising it)
    lines.select(
      unescapeUdf(get(parts, lit(0))).as("key"),
      unescapeUdf(get(parts, lit(1))).as("json"))
  }
}
