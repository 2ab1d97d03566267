package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Pins the committed bench ARTIFACTS' contract (VERDICT r19 #2/#3/#7):
  * every ambient-vs-structural drift call must be decidable from files in
  * the repo, which means (a) the contended artifact covers every entry
  * that has ever run ≥1 s quiet, (b) a standing isolated-reps artifact
  * covers the driver's top-task_ms entries with cheap controls, and
  * (c) both carry the ambient-load and commit stamps that make them
  * attributable to the exact tree they measured. A red test here means a
  * source change landed without refreshing the artifact it invalidates —
  * rerun scripts/contended_bench.sh / scripts/isolated_bench.sh. */
class BenchArtifactsSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** Project root = nearest ancestor of the CWD holding build.sbt, so the
    * artifact tests survive a forked test JVM or a CWD change instead of
    * silently reporting "missing — run scripts/" (ADVICE r20). */
  private val projectRoot: java.nio.file.Path = {
    var d = java.nio.file.Paths.get("").toAbsolutePath
    while (d != null && !java.nio.file.Files.exists(d.resolve("build.sbt")))
      d = d.getParent
    assert(d != null, "no build.sbt on any ancestor of the test CWD")
    d
  }

  private def readArtifact(name: String): JsonNode = {
    val p = projectRoot.resolve(name)
    assert(java.nio.file.Files.exists(p), s"$name missing — run scripts/")
    mapper.readTree(java.nio.file.Files.readString(p))
  }

  private def queryNames(n: JsonNode): Set[String] = {
    val it = n.get("queries").fieldNames()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSet
  }

  test("gitCommit: self-attributing token (hash, optionally -dirty)") {
    val c = Bench.gitCommit()
    assert(c == "unknown" || c.matches("[0-9a-f]{7,40}(-dirty)?"), c)
    val line = Bench.guardedLine(
      scala.collection.immutable.ListMap("q" -> (1.0, true)), reps = 3,
      sfDir = "/sf", extra = s""","commit":${Bench.jstr(c)}""")
    assert(line.contains(""""commit":""""), line)
  }

  /** Committed artifacts must be stamped by a CLEAN tracked tree (ADVICE
    * r20: with the untracked-files fix in Bench.gitCommit a -dirty stamp
    * now really means "code changed since the stamp's commit" — an
    * artifact carrying it cannot attribute its numbers). */
  private def assertCleanStamp(a: JsonNode, name: String): Unit = {
    val c = a.get("commit").asText()
    assert(c.nonEmpty, s"$name: empty commit stamp")
    assert(!c.endsWith("-dirty"),
      s"$name stamped $c — refresh the artifact from a committed tree")
  }

  test("bench_isolated.json: reps=5 quiet, top-task_ms family + controls " +
      "incl. the r21 stream-bring-up additions, stamped with load1 + commit") {
    val a = readArtifact("bench_isolated.json")
    assert(a.get("reps").asInt() == 5)
    assert(a.get("contended").asBoolean() == false)
    assert(a.get("errors").asInt() == 0)
    assert(a.get("load1").isNumber)
    assertCleanStamp(a, "bench_isolated.json")
    // r21 additions (VERDICT r20 #5): the stream-heavy entries whose
    // driver verify counters showed 20-49× task_ms inflation at identical
    // shapes — micro-batch bring-up under contention; the isolated quiet
    // artifact pre-decides the next drift call on them
    val want = Set("decontaminate_fuzzy", "source_overlap", "dedup_simhash",
      "lm_stream_scores", "span_dedup", "ql_dockey_or", "s1_keyword_leaf",
      "dedup_clusters_stream", "sketch_hdr_stream", "pqr_stream_index",
      "dedup_pairs_stream", "shingle_stream_index")
    val got = queryNames(a)
    assert(want.subsetOf(got), s"missing: ${want -- got}")
  }

  test("bench_last.json: full-precision quiet record parses, carries the " +
      "ambient + commit stamps and the per-entry counters with per-rep " +
      "walls + task_ms + driver-phase split") {
    val a = readArtifact("bench_last.json")
    assert(a.get("load1").isNumber)
    assertCleanStamp(a, "bench_last.json")
    val counters = a.get("counters")
    assert(counters != null && counters.isObject)
    val reps = a.get("reps").asInt()
    val it = counters.fields()
    while (it.hasNext) {
      val e = it.next()
      for (f <- Seq("reps_sec", "task_ms_reps", "t_first_job_ms",
          "job_span_ms")) {
        val arr = e.getValue.get(f)
        assert(arr != null && arr.isArray && arr.size() == reps,
          s"${e.getKey}: counters.$f missing or not $reps-long")
      }
    }
  }

  test("bench_last.json: no entry's wall may dwarf its executor task time " +
      "(the executors-idle stall detector, VERDICT r20 #6)") {
    // wall ≤ max(floor, k × task_ms/32): a committed quiet artifact where
    // an entry holds a multi-second wall over near-zero task-seconds is
    // the r20 decontaminate_fuzzy signature (23.4 s wall, 2.8 task-s) —
    // the class of regression this pin makes a local test failure.
    // floor covers micro-batch bring-up + planning-only entries; k covers
    // scheduling slack on real work.
    val a = readArtifact("bench_last.json")
    val counters = a.get("counters")
    // divisor from the artifact's recorded executor thread count, never an
    // assumed one (ADVICE r21 — a literal made the bound wrong on any other
    // machine); floor 3.0 s calibrated against the planning-heavy quiet
    // entries (a1_max/decontaminate_report sit at 1.5-2 s of pure AQE-wave
    // driver latency on an honest quiet run — ADVICE r21)
    assert(a.has("cores"),
      "bench_last.json predates the `cores` field — regenerate it")
    val cores = a.get("cores").asInt()
    val it = a.get("queries").fields()
    while (it.hasNext) {
      val e = it.next()
      val wall =
        if (e.getValue.isNumber) e.getValue.asDouble()
        else e.getValue.get("sec").asDouble()
      val c = counters.get(e.getKey)
      if (c != null) {
        // MAX task_ms across reps (not the last-rep scalar): rep 1 pays
        // cache/store population, so its task time is the entry's honest
        // compute ceiling — a median wall that dwarfs even that is
        // executors-idle, not work
        val taskIt = c.get("task_ms_reps").elements()
        var maxTask = 0L
        while (taskIt.hasNext) maxTask = math.max(maxTask, taskIt.next().asLong())
        val bound = math.max(3.0, 12.0 * maxTask / 1000.0 / cores)
        assert(wall <= bound,
          s"${e.getKey}: wall ${wall}s vs task-derived bound ${bound}s — " +
            "executors idle under a long wall; localize with the entry's " +
            "t_first_job_ms/job_span_ms arrays (or refresh the artifact " +
            "from a quiet machine if ambient)")
      }
    }
  }

  test("bench_contended.json: contended flag set, covers the ≥1s-quiet " +
      "tail incl. the r21 ambient-drift additions, stamped with load1 + " +
      "commit") {
    val a = readArtifact("bench_contended.json")
    assert(a.get("contended").asBoolean() == true)
    assert(a.get("load1").isNumber)
    assertCleanStamp(a, "bench_contended.json")
    // the r20-added tail (VERDICT r19 #2) — dedup_simhash was the one
    // drifted entry with no pre-decided arbiter — plus the r21 additions
    // (VERDICT r20 #4): every entry that exceeded 2× driver-vs-committed
    // in BENCH_r20, drifting from BELOW the old ≥1s-quiet family rule
    val want = Set("dedup_simhash", "dedup_winnow", "lm_stream_scores",
      "j1_or", "merge_union", "ql_theta_query", "decontaminate_fuzzy",
      "hardneg_mine", "ev_stream_left_join", "ev_user_profile",
      "ingest_pct_derive", "q10_returned", "ann_recall_planted",
      "j3_subtract", "j5_order_by")
    val got = queryNames(a)
    assert(want.subsetOf(got), s"missing: ${want -- got}")
  }
}
