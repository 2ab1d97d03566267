package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Verify job-count regression gate (VERDICT r15 #2): a wave
  * regression must trip at build time against the committed
  * verify_counters.json baseline, inside the AQE-jitter tolerance it must
  * stay quiet, and entries with no committed value (new this round) pass.
  */
class VerifyGateSpec extends AnyFunSuite {

  test("gate trips over tolerance and resets at/below it") {
    val base = Map("a" -> 5L, "b" -> 10L)
    // exactly baseline + tolerance → quiet
    assert(Verify.jobRegressions(base,
      Seq("a" -> (5L + Verify.JobsTolerance),
        "b" -> (10L + Verify.JobsTolerance))).isEmpty)
    // one over → trips, naming the offender with both numbers
    val r = Verify.jobRegressions(base,
      Seq("a" -> (5L + Verify.JobsTolerance + 1), "b" -> 10L))
    assert(r.size == 1 && r.head.startsWith("a: ") &&
      r.head.contains("vs committed 5"))
    // a cured entry (fewer jobs) and a brand-new entry both pass
    assert(Verify.jobRegressions(base,
      Seq("a" -> 2L, "new_entry" -> 100L)).isEmpty)
  }

  test("baseline parser reads the machine-written counter map") {
    val json = """{"a":{"jobs":5,"stages":5,"shuffle_bytes":12,"task_ms":3},""" +
      """"q1_agg":{"jobs":28,"stages":30,"shuffle_bytes":0,"task_ms":0}}"""
    assert(Verify.parseJobsBaseline(json) ==
      Map("a" -> 5L, "q1_agg" -> 28L))
    // corrupt content parses to empty; readJobsBaseline refuses it
    assert(Verify.parseJobsBaseline("not json").isEmpty)
  }

  test("a missing baseline passes every entry; an unreadable one fails") {
    val dir = java.nio.file.Files.createTempDirectory("verify_baseline")
    val corrupt = dir.resolve("corrupt.json")
    try {
      assert(Verify.readJobsBaseline(dir.resolve("absent.json")).isEmpty)
      // a directory exists but cannot be read as the counter map
      intercept[java.io.IOException](Verify.readJobsBaseline(dir))
      java.nio.file.Files.writeString(corrupt, "not json")
      intercept[IllegalArgumentException](Verify.readJobsBaseline(corrupt))
    } finally {
      java.nio.file.Files.deleteIfExists(corrupt)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}
