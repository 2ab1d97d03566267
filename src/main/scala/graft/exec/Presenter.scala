package graft.exec

import org.apache.spark.sql.SparkSession
import graft.ast._
import graft.functions.Funcs
import graft.model.Tables
import graft.parser.Printer

/** S12 — output formatting: the JSON result envelope
  * `{"result-count":N,"result":[{...}]}` (query.cc:933-941), keys-only lines
  * (query.cc:809-828), and SELECT's CSV rows (select.cc:133-152), driven by
  * runtime SET state (statement.cc:35-48, output.cc:31-124).
  *
  * Rendering collects the PAGE (bounded by LIMIT/OFFSET — the reference
  * streams rows to stdout one process at a time; a driver-side page collect is
  * the same contract with the same bound). Everything upstream stays
  * distributed.
  */
object Presenter {

  /** Mutable session output state (SET OUTPUT FORMAT / SET TIME FORMAT),
    * the analogue of the reference's globals (output.cc:25-31). Parity note:
    * in the reference these globals are WRITE-ONLY — statement.cc:35-48
    * assigns them but no output path reads them (QUERY always prints the JSON
    * envelope, SELECT always CSV, dumps use their own --date-format flag) —
    * so accepting SET and rendering formats per statement kind IS the
    * reference behavior, not a gap. */
  final class SessionState {
    var outputFormat: OutputFormat = OutputFormat.Json
    var timeFormat: String = "yyyy-MM-dd HH:mm:ss"
  }

  /** JSON string escaping (util.h:196-253) — shared with Shell's error
    * envelope so messages echoing user input stay well-formed JSON. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The error envelope (query.cc:943-947) — message escaped, since parse
    * errors echo raw user input. */
  def errorEnvelope(message: String): String =
    s"""{"error":"${jsonEscape(String.valueOf(message))}"}"""

  /** QUERY → the JSON envelope of the fetched page (QueryExec.fetch). */
  def queryJson(spark: SparkSession, t: Tables, stmt: QueryStmt): String =
    envelope(QueryExec.fetch(spark, t, stmt))

  /** The JSON envelope of a fetched page — summary + override merge, pct
    * bands and headers already on each row — and the count from the same
    * evaluation. */
  private[graft] def envelope(pg: QueryExec.Page): String = {
    val hasHeaders = pg.schema.fieldNames.contains("_header")
    val hasBands = pg.schema.fieldNames.contains("pct5")
    val items = pg.rows.map { r =>
      val sb = new StringBuilder
      sb.append("\"_key\":\"").append(jsonEscape(r.getAs[String]("key"))).append('"')
      val b = Funcs.jsonBody(r.getAs[String]("json"))
      if (b.nonEmpty) sb.append(',').append(b)
      // percentile bands render as the ca-dump value string — score then the
      // four pcts, space-joined %.9g (ca-dump.cc:168-199, HasPercentiles)
      if (hasBands && r.getAs[java.lang.Double]("pct5") != null) {
        val band = Seq("score", "pct5", "pct25", "pct75", "pct95")
          .map(c => Printer.g9(r.getAs[Double](c))).mkString(" ")
        sb.append(",\"_score\":\"").append(band).append('"')
      }
      if (hasHeaders && r.getAs[String]("_header") != null) {
        sb.append(",\"_header\":\"").append(jsonEscape(r.getAs[String]("_header")))
          .append("\",\"_header_key\":\"").append(r.getAs[String]("_header_key"))
          .append('"')
      }
      sb.toString
    }
    // The reference's printf structure emits "[{" … "}]" unconditionally, so
    // an EMPTY result set renders as [{}] — one empty object — not []
    // (query.cc:930-941). Replicated for envelope parity.
    s"""{"result-count":${pg.total},"result":[{${items.mkString("},\n{")}}]}"""
  }

  /** QUERY KEYS FOR — one key per line in rank order (query.cc:809-828). */
  def queryKeys(spark: SparkSession, t: Tables, stmt: QueryStmt): String =
    QueryExec.fetch(spark, t, stmt).rows.map(_.getString(0)).mkString("\n")

  /** SELECT → CSV: key,v1,…[,"json" with doubled quotes] (select.cc:133-152);
    * values print %.9g, NaN prints "nan". */
  def selectCsv(spark: SparkSession, t: Tables, stmt: SelectStmt): String = {
    // offset order — the reference iterates the selection in offset order
    // (select.cc:133-152); an unordered collect() would be partition-dependent
    val df = SelectExec.runOrdered(spark, t, stmt)
    val n = stmt.fields.size
    df.collect().map { r =>
      val sb = new StringBuilder(r.getAs[String]("key"))
      for (i <- 1 to n) {
        val v = r.getDouble(r.fieldIndex(s"f$i"))
        sb.append(',').append(if (v.isNaN) "nan" else Printer.g9(v))
      }
      if (stmt.withSummaries)
        sb.append(",\"").append(r.getAs[String]("json").replace("\"", "\"\"")).append('"')
      sb.toString
    }.mkString("\n")
  }

  /** CORRELATE → TSV lines: log_odds \t cnt_a \t cnt_b \t key [\t range]
    * (correlate.cc:146-196). */
  def correlateTsv(spark: SparkSession, t: Tables, stmt: CorrelateStmt): String =
    // key order (split ranges of one key by lo bound, nulls first) — pins a
    // deterministic text contract; the reference walks keys in table order
    CorrelateExec.run(spark, t, stmt.queryA, stmt.queryB)
      .orderBy(org.apache.spark.sql.functions.asc("key"),
        org.apache.spark.sql.functions.asc_nulls_first("min_score"))
      .collect().map { r =>
      val range = (Option(r.getAs[java.lang.Double]("min_score")),
        Option(r.getAs[java.lang.Double]("max_score"))) match {
        case (None, None) => ""
        case (lo, hi) =>
          "\t" + lo.map(d => Printer.g9(d.doubleValue)).getOrElse("-inf") +
            "\t" + hi.map(d => Printer.g9(d.doubleValue)).getOrElse("inf")
      }
      f"${r.getAs[Double]("log_odds")}%.3f\t${r.getAs[Long]("cnt_a")}\t" +
        f"${r.getAs[Long]("cnt_b")}\t${r.getAs[String]("key")}$range"
    }.mkString("\n")

  /** Dispatch one parsed statement (statement.cc:12-50). Internal caches
    * (CORRELATE membership sets, LSH buckets) are released once the
    * statement's output is materialized — a long-lived Shell session must not
    * accumulate cached partitions across statements (ADVICE r3). */
  def execute(spark: SparkSession, t: Tables, state: SessionState,
      stmt: Statement): String =
    try stmt match {
      case q: QueryStmt if q.keysOnly => queryKeys(spark, t, q)
      case q: QueryStmt => queryJson(spark, t, q)
      case s: SelectStmt => selectCsv(spark, t, s)
      case c: CorrelateStmt => correlateTsv(spark, t, c)
      case p: ParseStmt => Printer.print(p.query)
      case SetOutputFormat(f) => state.outputFormat = f; ""
      case SetTimeFormat(f) => state.timeFormat = f; ""
    } finally graft.util.Caches.drain()
}
