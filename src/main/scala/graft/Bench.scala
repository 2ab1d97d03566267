package graft

import scala.collection.immutable.ListMap

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":"total",...,"queries":{...}}.
  *
  * Protocol (VERDICT r2 #9 — fixed order + repetition so numbers steer
  * rounds instead of measuring protocol noise):
  *  - queries run in sorted-name order, always;
  *  - a warmup pass absorbs JVM/codegen/parquet-footer startup (and builds
  *    the materialized index cache on a cold run, so per-query numbers
  *    measure the query, not the one-time write);
  *  - each query runs GRAFT_BENCH_REPS times (default 3); the reported
  *    per-query number is the MEDIAN; total = sum of medians.
  *  - a query that throws reports err:true and contributes 0 to total (it
  *    would otherwise masquerade as a fast success — VERDICT r1 #7).
  */
object Bench {

  /** Seconds to at most 2 decimals, trailing zeros stripped, Locale.ROOT
    * (the f-interpolator honors the JVM locale — de_DE renders 0,49,
    * invalid JSON; ADVICE r7). */
  def compact(sec: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec))
    val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
    if (t.isEmpty) "0" else t
  }

  /** JSON string escaping for interpolated names/paths (ADVICE r9: a quote
    * or backslash in SPARK_GRAFT_SF_DIR would otherwise emit an invalid
    * bench line). Entry names are repo-controlled identifiers, but the sf
    * dir is environment input. */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** ONE renderer for both record forms (stdout compact line and the
    * full-precision bench_last.json): totals/errors always come from ALL
    * results, the per-query map from the (possibly guarded) kept subset —
    * structurally shared so the two renderings can't drift. `extra` is a
    * pre-rendered JSON fragment (leading comma included) appended before
    * the closing brace — the per-entry scheduler counters ride here. */
  private[graft] def record(kept: Iterable[(String, (Double, Boolean))],
      all: ListMap[String, (Double, Boolean)], reps: Int, sfDir: String,
      fmt: Double => String, extra: String = ""): String = {
    val qs = kept.map { case (k, (sec, ok)) =>
      jstr(k) + ":" + (if (ok) fmt(sec) else s"""{"sec":${fmt(sec)},"err":true}""")
    }.mkString("{", ",", "}")
    val total = all.collect { case (_, (sec, true)) => sec }.sum
    val nErr = all.count(!_._2._2)
    val omitted = all.size - kept.size
    val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$om,"errors":$nErr,"reps":$reps,"sf":${jstr(sfDir)}$extra}"""
  }

  /** Ambient-load fragment stamped into every bench record (VERDICT r18
    * #7): r13/r17/r18 each spent a round-trip deciding ambient-vs-
    * structural drift because the artifact carried no machine-load
    * context. `load1` = the 1-minute loadavg at capture (−1 where the JVM
    * can't read it), `contended` = the contended-harness flag
    * (GRAFT_BENCH_CONTENDED, set by scripts/contended_bench.sh). Leading
    * comma so it splices into record()'s tail. */
  private[graft] def loadFragment(load1: Double, contended: Boolean): String =
    s""","load1":${String.format(java.util.Locale.ROOT, "%.2f",
      Double.box(load1))},"contended":$contended"""

  /** The commit hash of the tree the bench measured, `-dirty`-suffixed
    * when the working tree has uncommitted changes, `"unknown"` when git
    * is unavailable (VERDICT r19 #7: the r19 judge had to diff
    * committed-vs-working-tree counters to attribute a driver artifact to
    * a tree; a stamp makes every artifact self-attributing). Shells out
    * once per bench run — never in a measured section. */
  private[graft] def gitCommit(): String =
    try {
      import scala.sys.process._
      val out = new StringBuilder
      val sink = ProcessLogger(o => { out.append(o); () }, _ => ())
      if (Process(Seq("git", "rev-parse", "--short=12", "HEAD")).!(sink) != 0)
        "unknown"
      else {
        // SOURCE paths only, untracked included (ADVICE r21: plain
        // --untracked-files=no let a brand-new not-yet-added source file
        // stamp clean, while any scope that counts root-level scratch/
        // artifact JSONs makes every regenerate-then-commit run dirty).
        // src + build.sbt + project + scripts is exactly "the code and
        // build definition that built and drove this measurement".
        val st = new StringBuilder
        Process(Seq("git", "status", "--porcelain", "--",
            "src", "build.sbt", "project", "scripts"))
          .!(ProcessLogger(o => { st.append(o); () }, _ => ()))
        out.toString.trim + (if (st.nonEmpty) "-dirty" else "")
      }
    } catch { case _: Throwable => "unknown" }

  /** The per-entry scheduler-counter fragment for the SLOWEST `take`
    * queries (the ones perf grading reads): steady-state job counts, so a
    * many-short-waves entry is distinguishable from a data-volume entry
    * straight from the bench line (VERDICT r13 #4). Leading comma so it
    * splices into record()'s tail; empty when no counters were captured. */
  private[graft] def jobsFragment(results: ListMap[String, (Double, Boolean)],
      counters: Map[String, graft.util.BenchCounters.Snap],
      take: Int = 15): String = {
    val slowest = results.toSeq.filter(_._2._2)
      .sortBy { case (_, (sec, _)) => -sec }.take(take)
      .flatMap { case (n, _) => counters.get(n).map(c => jstr(n) + ":" + c.jobs) }
    if (slowest.isEmpty) "" else slowest.mkString(""","jobs":{""", ",", "}")
  }

  /** The stdout bench line with the length guard applied: the driver
    * captures only the last 2000 chars of stdout, so the line must stay
    * ≤ `maxLen` (1700 — headroom for trailing noise). If the full per-query
    * map is too long, the FASTEST queries drop first (the slow ones are what
    * perf grading needs) and `queries_omitted` says how many. This is the
    * contract whose silent regression produced BENCH_r05/r06's
    * "parsed": null. */
  def guardedLine(results: ListMap[String, (Double, Boolean)], reps: Int,
      sfDir: String, maxLen: Int = 1700, extra: String = ""): String = {
    val fullLine = record(results, results, reps, sfDir, compact, extra)
    if (fullLine.length <= maxLen) fullLine
    else {
      val bySlowest = results.toSeq.sortBy { case (_, (sec, ok)) => (ok, -sec) }
      Iterator.range(bySlowest.size, 0, -1).map { n =>
        record(bySlowest.take(n).sortBy(_._1), results, reps, sfDir, compact,
          extra)
      }.find(_.length <= maxLen)
        .getOrElse(record(Nil, results, reps, sfDir, compact, extra))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local()
    // Bench wants a byte-clean stdout: with build.sbt's StdoutOutput the
    // child shares the driver's capture window, so even stray stderr WARNs
    // (interleaved if the driver merges streams) must be minimized.
    spark.sparkContext.setLogLevel("ERROR")
    // scheduler counters: per-entry {jobs, stages, shuffle, task-time}
    // deltas, bus-drained around each rep so they attribute exactly
    val counters = new graft.util.BenchCounters
    spark.sparkContext.addSparkListener(counters)

    // Warmup: touch the hot paths once (ignore result + errors).
    for (w <- Seq("q1_pricing", "j2_and", "s1_keyword_leaf"))
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case _: Throwable => () }

    // GRAFT_BENCH_ONLY=a,b,c restricts the run (local iteration aid).
    val only = sys.env.get("GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val measured = ordered.map { case (name, fn) =>
      // per-QUERY cache isolation: operators that cache() internally must
      // not inherit (or evict) another query's cached data — otherwise
      // late queries measure memory pressure, not the query (observed 2x
      // swings on the heavy entries; VERDICT r5: 8 phantom >2× full-run
      // regressions, all exonerated by isolation). Within a query, reps
      // share the tracked caches — rep 1 pays population, the median
      // reports steady-state statement cost — and the drain AFTER the rep
      // loop releases them so nothing carries into the next query.
      spark.catalog.clearCache()
      val times = (1 to reps).map { _ =>
        val c0 = counters.drainedSnapshot(spark.sparkContext)
        counters.markWindow()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        val wall = (System.nanoTime() - t0) / 1e9
        val delta = counters.drainedSnapshot(spark.sparkContext) - c0
        // driver-phase split (VERDICT r20 #2): wall = time-to-first-job +
        // job-span + tail; a stall with executors idle shows up as a
        // t_first_job or tail far above job-span, straight off the artifact
        val firstJob = counters.windowFirstJobStart
        val tFirstMs = if (firstJob < 0) -1L else firstJob - w0
        val spanMs =
          if (firstJob < 0) 0L
          else math.max(0L, counters.lastJobEnd - firstJob)
        (wall, ok, delta, tFirstMs, spanMs)
      }
      graft.util.Caches.drain()
      // settle the heap between queries: without an explicit collection,
      // a heavy query's garbage is collected DURING the next query's reps,
      // billing its GC pauses to an innocent neighbor (observed 1.5-2.5×
      // full-run swings on simhash/correlate that isolation can't
      // reproduce)
      System.gc()
      val okAll = times.forall(_._2)
      val median = times.map(_._1).sorted.apply(reps / 2)
      // the LAST rep's counter delta is the steady-state job shape (rep 1
      // additionally pays cache population / one-shot sink bring-up);
      // the full per-rep list rides into bench_last.json so a stalled rep
      // localizes from the artifact alone (VERDICT r20 #2: the median +
      // last-rep record cost two round-trips of attribution)
      (name, (median, okAll), times)
    }
    val results: ListMap[String, (Double, Boolean)] =
      ListMap.from(measured.map { case (n, r, _) => n -> r })
    val perQuery: Map[String, graft.util.BenchCounters.Snap] =
      measured.map { case (n, _, ts) => n -> ts.last._3 }.toMap
    val perRep: Map[String, Seq[(Double, Boolean, graft.util.BenchCounters.Snap, Long, Long)]] =
      measured.map { case (n, _, ts) => n -> ts }.toMap
    // ambient context: 1-min loadavg AT THE END of the run (the bench's
    // own work dominates the window either way — what the field decides
    // is whether OTHER load shared the machine) + the contended flag
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // presence-based with the obvious off spellings excluded, so
    // GRAFT_BENCH_CONTENDED=true/yes/1 all stamp true (review finding:
    // an exact-"1" match silently recorded contended:false under load)
    val contended = sys.env.get("GRAFT_BENCH_CONTENDED")
      .exists(v => v.nonEmpty && v != "0" && !v.equalsIgnoreCase("false"))
    val ambient = loadFragment(load1, contended) +
      s""","commit":${jstr(gitCommit())}"""
    // stdout gets the guarded COMPACT line (see guardedLine) + steady-state
    // job counts for the slowest entries; bench_last.json below keeps full
    // precision and the complete counter set for offline analysis.
    val line: String = guardedLine(results, reps, sfDir,
      extra = ambient + jobsFragment(results, perQuery))
    println(line)
    System.out.flush()
    // Persist full precision: the driver captures stdout tails, and r4's
    // BENCH json lost its "metric":"total" prefix to truncation — a file
    // copy makes the full record recoverable (VERDICT r4 #3/wrong-5).
    val countersJson = perQuery.toSeq.sortBy(_._1).map { case (n, c) =>
      // per-rep arrays beside the last-rep scalars: walls, task_ms, and
      // the driver-phase split (ms to first job, first-job→last-job span)
      // — the fields that would have localized the r20 driver-side stall
      // without a round-trip (VERDICT r20 #2)
      val reps = perRep(n)
      val repsSec = reps.map(r => compact(r._1)).mkString("[", ",", "]")
      val repsTask = reps.map(_._3.taskMs).mkString("[", ",", "]")
      val repsFirst = reps.map(_._4).mkString("[", ",", "]")
      val repsSpan = reps.map(_._5).mkString("[", ",", "]")
      jstr(n) + s""":{"jobs":${c.jobs},"stages":${c.stages},"shuffle_bytes":${c.shuffleBytes},"task_ms":${c.taskMs},"reps_sec":$repsSec,"task_ms_reps":$repsTask,"t_first_job_ms":$repsFirst,"job_span_ms":$repsSpan}"""
    }.mkString(""","counters":{""", ",", "}")
    // the full-precision file additionally records the executor thread
    // count the run actually used (local[$SPARK_GRAFT_CPUS]) so the
    // executors-idle detector derives its task-time divisor from the
    // artifact instead of a hard-coded 32 (ADVICE r21)
    val coresJson = s""","cores":${spark.sparkContext.defaultParallelism}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_last.json")),
      record(results, results, reps, sfDir, _.toString,
        ambient + coresJson + countersJson) + "\n")
    catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
    // Re-print as the ABSOLUTE last stdout line: if anything (a shutdown
    // WARN, an sbt trailer on a merged stream) landed after the first
    // print, the driver's tail window still ends in clean JSON.
    println(line)
    System.out.flush()
  }
}
