package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.GraftSession
import graft.ast.QueryStmt
import graft.compiler.QueryCompiler
import graft.exec.Presenter
import graft.ingest.{Compact, TsvLoader}
import graft.ml.{Ann, Pq, Quant, Retrieval}
import graft.model.{Catalog, Tables}
import graft.parser.Parser

/** In-memory trace of one run: spans the harness records around each call
  * into an engine module, plus the events Spark's public hooks deliver.
  * Nothing is written until the run ends. */
final class Trace {
  @volatile var on = false
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  val records = new ConcurrentLinkedQueue[ObjectNode]()

  /** Epoch nanoseconds on a monotonic clock, so harness spans and Spark's
    * epoch-millisecond event times share one time axis. */
  def now(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  def record(kind: String)(fill: ObjectNode => Unit): Unit = {
    val n = Harness.json.createObjectNode()
    n.put("kind", kind)
    fill(n)
    records.add(n)
  }

  def span[A](op: Long, name: String)(f: => A): A =
    if (!on) f
    else {
      val t0 = now()
      try f
      finally {
        val t1 = now()
        record("span") { n =>
          n.put("op", op); n.put("name", name); n.put("t0", t0); n.put("t1", t1)
        }
      }
    }
}

/** Job, stage and task-metric events from the scheduler's listener bus. */
final class SchedulerEvents(trace: Trace) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    trace.record("job_start") { n => n.put("job", e.jobId); n.put("t_ms", e.time) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    trace.record("job_end") { n => n.put("job", e.jobId); n.put("t_ms", e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    trace.record("stage") { n =>
      n.put("stage", s.stageId)
      n.put("t0_ms", s.submissionTime.getOrElse(0L))
      n.put("t1_ms", s.completionTime.getOrElse(0L))
      n.put("tasks", s.numTasks)
      if (m != null) {
        n.put("task_ms", m.executorRunTime)
        n.put("gc_ms", m.jvmGCTime)
        n.put("input_records", m.inputMetrics.recordsRead)
        n.put("input_bytes", m.inputMetrics.bytesRead)
        n.put("shuffle_bytes",
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }
}

/** Catalyst phase times of every action, from the query-execution hook. */
final class ActionPhases(trace: Trace) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    rec(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    rec(funcName, qe)

  private def rec(funcName: String, qe: QueryExecution): Unit =
    trace.record("action") { n =>
      n.put("func", funcName)
      val ph = n.putObject("phases")
      qe.tracker.phases.foreach { case (name, p) =>
        val o = ph.putObject(name)
        o.put("t0_ms", p.startTimeMs); o.put("t1_ms", p.endTimeMs)
      }
    }
}

/** The benchmark's engine harness. `--mode prepare` builds the stores every
  * workload opens; `--mode run` executes an ops file (statements, serving
  * requests and ingest batches, in any mix) as a closed loop with one
  * client and writes each op's output for checking.
  */
object Harness {
  val json = new ObjectMapper()

  private val Langs = Seq("en", "fr", "de", "es", "zh")
  private val MaxTailFiles = 24

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o("mode") match {
      case "prepare" => prepare(o("corpus"), o("out"))
      case "run" => run(o)
    }
  }

  /** Materialize every store the workloads open, so a run's set-up opens
    * warm stores instead of building them. The first call, `Catalog.tables`
    * on an empty cache, is the ca-load build; its time is written to `out`. */
  def prepare(corpus: String, out: String): Unit = {
    val spark = GraftSession.local()
    try {
      val t0 = System.nanoTime()
      Catalog.tables(spark, corpus)
      val buildMs = (System.nanoTime() - t0) / 1e6
      val s = new Stores(spark, corpus)
      Langs.foreach(s.metaStats)
      val w = new PrintWriter(out, "UTF-8")
      try w.println(s"""{"build_ms": $buildMs}""") finally w.close()
    } finally spark.stop()
  }

  /** The serving stores, opened once per run. */
  final class Stores(spark: SparkSession, corpus: String) {
    val lex: DataFrame = Catalog.lexIndex(spark, corpus)
    val lexStats: DataFrame = Catalog.lexStatsFolded(spark, corpus)
    val meta: DataFrame = Catalog.docMeta(spark, corpus)
    val emb: DataFrame = Catalog.embeddings(spark, corpus)
    val flat: DataFrame = Catalog.ivfFlat(spark, corpus)
    val sq8: DataFrame = Catalog.sq8IvfStore(spark, corpus)
    val pq: DataFrame = Catalog.pqIvfStore(spark, corpus)
    def metaStats(lang: String): DataFrame = Catalog.metaStatsFolded(spark, corpus, lang)
  }

  private def readOps(path: String): Vector[JsonNode] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(l => json.readTree(l)).toVector
    finally src.close()
  }

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Parquet files below `dir` with their sizes. */
  private def parquetFiles(dir: String): Map[String, Long] = {
    val root = new File(dir)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    if (!root.exists()) Map.empty
    else walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length).toMap
  }

  def run(o: Map[String, String]): Unit = {
    val corpus = o("corpus")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val ops = readOps(o("ops"))
    val (warmup, timed) = ops.partition(_.path("warmup").asBoolean(false))
    def has(kind: String) = ops.exists(_.get("kind").asText == kind)
    def isIngest(op: JsonNode) = op.get("kind").asText == "ingest"
    val trace = new Trace
    val summary = json.createObjectNode()

    val spark = GraftSession.local()
    summary.put("session_ready_epoch_ms", System.currentTimeMillis())
    summary.put("spark_version", spark.version)
    summary.put("java_version", System.getProperty("java.version"))
    summary.put("cores", spark.sparkContext.defaultParallelism)

    val t0 = System.nanoTime()
    val tables: Tables = Catalog.tables(spark, corpus)
    summary.put("open_ms", (System.nanoTime() - t0) / 1e6)
    val stores = if (has("serve")) Some(new Stores(spark, corpus)) else None
    val state = new Presenter.SessionState
    val tail = s"$work/ingest/tail"
    val base = s"$work/ingest/base"
    var bytesWritten = 0L
    var compactions = 0

    def runStatement(id: Long, text: String): String = {
      val stmts = trace.span(id, "parser.parse")(Parser.parseStatements(text))
      stmts.map { st =>
        st match {
          case q: QueryStmt if trace.on =>
            trace.span(id, "compiler.compile")(new QueryCompiler(spark, tables).compile(q.query))
          case _ =>
        }
        trace.span(id, "exec.execute")(Presenter.execute(spark, tables, state, st))
      }.mkString("\n")
    }

    def serveFrame(op: JsonNode): DataFrame = {
      val s = stores.get
      val k = op.get("k").asInt
      op.get("tier").asText match {
        case "bm25" =>
          val terms = strings(op.get("terms"))
          if (op.has("lang")) {
            val lang = op.get("lang").asText
            Retrieval.bm25StoredTopKFiltered(s.lex, s.meta, terms, lang, k, Some(s.metaStats(lang)))
          } else Retrieval.bm25StoredTopK(s.lex, s.lexStats, terms, k)
        case "ivf" =>
          val q = op.path("q").asLong
          if (op.has("label")) Ann.ivfTopKFilteredFrom(s.flat, s.emb, q, op.get("label").asInt, k)
          else if (op.has("dead")) {
            import spark.implicits._
            Ann.ivfTopKMaskedFrom(s.flat, s.emb, q, longs(op.get("dead")).toDF("vec_id"), k)
          } else if (op.has("batch"))
            Ann.ivfTopKBatchFrom(s.flat, s.emb.filter(col("vec_id") < op.get("batch").asLong), k)
          else Ann.ivfTopKFrom(s.flat, s.emb, q, k)
        case "sq8" => Quant.sq8IvfTopKFrom(s.sq8, s.emb, op.get("q").asLong, k)
        case "pq" => Pq.pqIvfTopKFrom(s.pq, s.emb, op.get("q").asLong, k)
        case "rrf" =>
          Retrieval.rrfStored(s.lex, s.lexStats, s.emb, s.flat, strings(op.get("terms")),
            op.get("q").asLong, 20, k)
      }
    }

    def oracleSql(op: JsonNode): String = {
      val k = op.get("k").asInt
      op.get("tier").asText match {
        case "bm25" =>
          val terms = strings(op.get("terms"))
          if (op.has("lang")) Retrieval.bm25FilteredOracleSql(terms, k, op.get("lang").asText)
          else Retrieval.bm25OracleSql(terms, k)
        case "ivf" =>
          val q = op.path("q").asLong
          if (op.has("label")) Ann.ivfFilteredOracleSql(q, op.get("label").asInt, k)
          else if (op.has("dead"))
            Ann.ivfMaskedOracleSql(q, k, "SELECT vec_id FROM (VALUES " +
              longs(op.get("dead")).map(d => s"($d)").mkString(", ") + ") t(vec_id)")
          else if (op.has("batch")) Ann.ivfBatchOracleSql(op.get("batch").asLong, k)
          else Ann.ivfOracleSql(q, k)
        case "sq8" => Quant.sq8IvfOracleSql(op.get("q").asLong, k)
        case "pq" => Pq.pqIvfOracleSql(op.get("q").asLong, k)
        case "rrf" =>
          Retrieval.rrfStoredOracleSql(strings(op.get("terms")), op.get("q").asLong, 20, k)
      }
    }

    def serve(id: Long, op: JsonNode, res: ObjectNode): Unit = {
      val rows = trace.span(id, s"ml.${op.get("tier").asText}") {
        val df = serveFrame(op)
        (df.columns, df.collect())
      }
      val cols = res.putArray("cols")
      rows._1.foreach(cols.add)
      val out = res.putArray("rows")
      rows._2.foreach { r =>
        val a = out.addArray()
        (0 until r.length).foreach { i =>
          r.get(i) match {
            case null => a.addNull()
            case v: java.lang.Number => a.add(v.doubleValue)
            case v => a.add(v.toString)
          }
        }
      }
    }

    def ingest(id: Long, op: JsonNode, res: ObjectNode): Unit = {
      trace.span(id, "ingest.load") {
        TsvLoader.loadIndex(spark, op.get("path").asText, tables.summaries)
          .write.mode("append").parquet(tail)
      }
      val due = trace.span(id, "ingest.poll")(Compact.shouldCompact(tail, base, MaxTailFiles))
      if (due) trace.span(id, "ingest.compact") {
        Compact.compactCycle(spark, tail, base, "key", Seq("key", "off"))
      }
      res.put("compacted", due)
    }

    /** Ingest bookkeeping, outside the op's time: the bytes it wrote, and
      * stale generations dropped once a flip is done. */
    def afterIngest(before: Map[String, Long], res: ObjectNode): Unit = {
      bytesWritten += (parquetFiles(tail) -- before.keys).values.sum
      if (res.path("compacted").asBoolean(false)) {
        compactions += 1
        bytesWritten += Compact.currentGeneration(base)
          .map(g => parquetFiles(g).values.sum).getOrElse(0L)
        Compact.cleanupStale(base)
      }
    }

    def runOp(op: JsonNode, res: ObjectNode): Unit = {
      val id = op.get("id").asLong
      op.get("kind").asText match {
        case "stmt" => res.put("out", runStatement(id, op.get("text").asText))
        case "serve" => serve(id, op, res)
        case "ingest" => ingest(id, op, res)
      }
    }

    // fixed warm-up: untimed, output unchecked
    summary.put("warmup_epoch_ms", System.currentTimeMillis())
    warmup.foreach(op => runOp(op, json.createObjectNode()))
    Compact.rmTree(tail); Compact.rmTree(base)

    val ran = ArrayBuffer.empty[(JsonNode, ObjectNode)]
    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME
    def codegenSum: Long = codegen.getSnapshot.getValues.sum
    if (traced) {
      spark.sparkContext.addSparkListener(new SchedulerEvents(trace))
      spark.listenerManager.register(new ActionPhases(trace))
      trace.on = true
    }
    val loopStart = System.nanoTime()
    summary.put("first_op_epoch_ms", System.currentTimeMillis())
    val deadline = loopStart + (seconds * 1e9).toLong
    val it = timed.iterator
    while (it.hasNext && System.nanoTime() < deadline) {
      val op = it.next()
      val res = json.createObjectNode()
      val id = op.get("id").asLong
      res.put("id", id)
      val cg0 = codegen.getCount
      val cs0 = if (trace.on) codegenSum else 0L
      val fd0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      val before = if (isIngest(op)) parquetFiles(tail) else Map.empty[String, Long]
      val a = trace.now()
      val s0 = System.nanoTime()
      try { runOp(op, res); res.put("ok", true) }
      catch {
        case e: Exception =>
          res.put("ok", false)
          res.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}")
      }
      res.put("wall_ns", System.nanoTime() - s0)
      res.put("t0", a)
      res.put("t1", trace.now())
      res.put("files_discovered", HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - fd0)
      if (trace.on) {
        res.put("codegen_compiles", codegen.getCount - cg0)
        res.put("codegen_ms", math.max(0L, codegenSum - cs0))
      }
      if (isIngest(op)) afterIngest(before, res)
      ran += op -> res
    }
    summary.put("loop_s", (System.nanoTime() - loopStart) / 1e9)
    summary.put("ops_left", it.size)

    if (has("ingest")) {
      // generation ∪ tail, read back and summarized per key
      val r0 = System.nanoTime()
      val parts = Compact.currentGeneration(base).map(g => spark.read.parquet(g)).toSeq ++
        (if (Compact.dataFileCount(tail) > 0) Seq(spark.read.parquet(tail)) else Nil)
      val agg = parts.reduceOption(_.unionByName(_)).toSeq.flatMap(_
        .groupBy("key")
        .agg(count(lit(1)).as("n"), sum("score").as("score_sum"), sum("off").as("off_sum"))
        .collect())
      summary.put("readback_s", (System.nanoTime() - r0) / 1e9)
      val rb = summary.putObject("readback")
      agg.foreach { r =>
        val k = rb.putArray(r.getString(0))
        k.add(r.getLong(1)); k.add(r.getDouble(2)); k.add(r.getLong(3))
      }
      val live = parquetFiles(tail) ++
        Compact.currentGeneration(base).map(parquetFiles).getOrElse(Map.empty)
      summary.put("files_live", live.size)
      summary.put("live_bytes", live.values.sum)
      summary.put("bytes_written", bytesWritten)
      summary.put("compactions", compactions)
    }
    ran.foreach { case (op, res) =>
      if (op.get("kind").asText == "serve") res.put("oracle_sql", oracleSql(op))
    }
    summary.put("rss_peak_mb", vmHwmMb())
    // stopping drains the listener bus, so every event is in the trace
    spark.stop()

    val w = new PrintWriter(o("out"), "UTF-8")
    try {
      w.println(json.writeValueAsString(summary))
      ran.foreach { case (_, res) => w.println(json.writeValueAsString(res)) }
    } finally w.close()
    if (traced) {
      val tw = new PrintWriter(o("trace_out"), "UTF-8")
      try trace.records.asScala.foreach(r => tw.println(json.writeValueAsString(r)))
      finally tw.close()
    }
  }
}
