package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Wires the oracle-TYPE gate into `sbt test` (VERDICT r18 #6): the
  * r17 postmortem's 15 red entries were representation-only — DuckDB
  * widens sum(BIGINT) to HUGEINT, which the driver's hasher serializes
  * differently from Spark's int64 even when every value agrees.
  * scripts/oracle_types.py DESCRIBEs every oracle and fails
  * HUGEINT/UHUGEINT/DECIMAL outputs, but it only protects commits when it
  * RUNS — this spec shells it over every entry's oracle
  * (SparkEntry.oracleSql) so the next bare `sum(n)` fails the suite, not
  * a later round report.
  * Cancels (never silently passes) when python3/duckdb are unavailable. */
class OracleTypesSpec extends AnyFunSuite {

  private val SfDir = "/root/testdata/sf0.001"

  private def haveDuckdb: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import duckdb").start()
      p.waitFor() == 0
    } catch { case _: Throwable => false }

  /** Run the gate over an oracle_sql.json payload; (exitCode, stdout). */
  private def runGate(json: String): (Int, String) = {
    val dir = Files.createTempDirectory("oracle_types_gate")
    try {
      Files.writeString(dir.resolve("oracle_sql.json"), json)
      val pb = new ProcessBuilder("python3", "scripts/oracle_types.py",
        SfDir, dir.toString)
      pb.directory(new java.io.File("."))
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes())
      (p.waitFor(), out)
    } finally {
      Files.deleteIfExists(dir.resolve("oracle_sql.json"))
      Files.deleteIfExists(dir)
    }
  }

  test("every committed oracle is type-clean (no HUGEINT/DECIMAL output)") {
    assume(haveDuckdb, "python3+duckdb unavailable — gate not runnable here")
    assume(Files.isDirectory(Paths.get(SfDir)), s"$SfDir missing")
    val (code, out) = runGate(Verify.oracleSqlJson)
    assert(code == 0, s"oracle type gate failed:\n$out")
    assert(out.contains("type-clean"), out)
  }

  test("the gate actually trips: a deliberately un-cast aggregate is red") {
    assume(haveDuckdb, "python3+duckdb unavailable — gate not runnable here")
    assume(Files.isDirectory(Paths.get(SfDir)), s"$SfDir missing")
    val bad = """{"deliberate_bad": "SELECT source, sum(n_chars) AS s FROM documents GROUP BY source"}"""
    val (code, out) = runGate(bad)
    assert(code != 0, s"gate must fail a bare sum(BIGINT):\n$out")
    assert(out.contains("BADTYPE deliberate_bad"), out)
  }
}
