package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Catalog

/** The fail-loud staleness posture around the materialization cache
  * (VERDICT r13 #8): fingerprinted keys rebuild cleanly ACROSS sessions,
  * but a mid-session source regeneration must throw, not silently mix
  * derived-store generations between entries. And the build-aside publish
  * behind every store (`Catalog.open`): a store path holds a whole store or
  * nothing. */
class CatalogSpec extends AnyFunSuite {

  /** Run `body` with the store path of `name` under a fresh, empty source
    * dir, then delete that source's cache directory. */
  private def withStore(name: String)(body: (String, String) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-publish").toString
    val path = Catalog.cacheDir(dir, name)
    try body(dir, path)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path).getParentFile)
  }

  /** The `.building-*` siblings of a store path. */
  private def buildingSiblings(path: String): Seq[String] = {
    val f = new java.io.File(path)
    Option(f.getParentFile.list()).toSeq.flatten
      .filter(_.startsWith(s"${f.getName}.building-"))
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("a build whose write fails part-way leaves nothing at the store " +
      "path, and the next open builds the store cleanly") {
    import TestSpark.spark
    import org.apache.spark.sql.functions.{col, udf}
    withStore("failing") { (dir, path) =>
      // the last of 8 partitions fails after the others have written files
      val failAt = udf((id: Long) =>
        if (id == 95L) throw new IllegalStateException("injected") else id)
      intercept[Exception] {
        Catalog.open(spark, dir, "failing", Catalog.Layout.Plain) {
          spark.range(0, 100, 1, 8).select(failAt(col("id")).as("id"))
        }
      }
      assert(!new java.io.File(path).exists(), s"a failed build left $path")
      assert(buildingSiblings(path).isEmpty)
      val df = Catalog.open(spark, dir, "failing", Catalog.Layout.Plain, "id") {
        spark.range(0, 100, 1, 8).toDF()
      }
      assert(ids(df) == (0L until 100L))
    }
  }

  test("a store another publisher finishes during this build is kept: " +
      "open returns the winner's rows and drops its own build") {
    import TestSpark.spark
    withStore("raced") { (dir, path) =>
      def files = new java.io.File(path).listFiles().toSeq
        .map(f => (f.getName, f.length, f.lastModified)).sorted
      var winner = Seq.empty[(String, Long, Long)]
      val df = Catalog.open(spark, dir, "raced", Catalog.Layout.Plain, "id") {
        spark.range(5).write.parquet(path) // the winner publishes first
        winner = files
        spark.range(10).toDF()
      }
      assert(winner.nonEmpty)
      assert(files == winner, "the losing build replaced the winner's files")
      assert(ids(df) == (0L until 5L))
      assert(buildingSiblings(path).isEmpty)
    }
  }

  test("a .building sibling left by a killed build is never read and does " +
      "not block the next open") {
    import TestSpark.spark
    withStore("killed") { (dir, path) =>
      // a killed build's partial output: data files, no _SUCCESS
      val left = s"$path.building-killed"
      spark.range(1000, 1003).write.parquet(left)
      new java.io.File(s"$left/_SUCCESS").delete()
      val df = Catalog.open(spark, dir, "killed", Catalog.Layout.Plain, "id") {
        spark.range(10).toDF()
      }
      assert(ids(df) == (0L until 10L))
      assert(buildingSiblings(path) == Seq("killed.building-killed"))
    }
  }

  test("mid-session source regeneration fails loud, stable sources pass") {
    val dir = s"/tmp/graft-catalog-spec-${System.nanoTime()}"
    Catalog.assertStableSource(dir, "aaaa11")
    Catalog.assertStableSource(dir, "aaaa11") // unchanged: idempotent
    val e = intercept[IllegalStateException] {
      Catalog.assertStableSource(dir, "bbbb22")
    }
    assert(e.getMessage.contains("regenerated mid-session"), e.getMessage)
    assert(e.getMessage.contains(dir), e.getMessage)
  }

  test("an unreadable source footer raises instead of being re-laid") {
    import TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-footer").toString
    // a tableKeys name whose file is not parquet: the footer row count that
    // sizes the re-lay must fail loud, not read as 0 rows
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/documents.parquet"), "not parquet")
    val e = intercept[Throwable](Catalog.table(spark, dir, "documents"))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getStackTrace.exists(
      _.getMethodName.contains("footerRows"))),
      s"the error must come from the footer read, got $e")
  }

  test("benchBands sidecar equals the live bench-split band build, and the " +
      "fuzzy entry memoizes its probe frame per statement window") {
    import TestSpark.spark
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val live = graft.ml.NearDup.bands(graft.ml.NearDup.signatures(
        graft.ml.NearDup.shingles(
          Catalog.documents(spark, dir).filter(col("doc_id") < 100L))))
      .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
      .collect().map(_.toSeq).toSet
    val stored = Catalog.benchBands(spark, dir, 100L)
      .collect().map(_.toSeq).toSet
    assert(stored == live && stored.nonEmpty,
      "bench_bands sidecar diverged from the live band pipeline")
    // per-statement-window memo (VERDICT r20 #1a): within one window the
    // entry must return the SAME frame — rep 1 pays the bounded collect +
    // cache population, later reps measure steady state
    val f1 = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
    val f2 = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
    assert(f1 eq f2, "fuzzy entry rebuilt its probe frame within a window")
    graft.util.Caches.drain()
    val f3 = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
    assert(!(f1 eq f3), "fuzzy entry memo leaked across statement windows")
    graft.util.Caches.drain()
  }

  test("two JVMs get different scratch roots for the same entry") {
    val dir = "/root/testdata/sf0.001"
    val a = Catalog.scratchFor(dir, "bm25_topk_gen", "101-aaaa")
    val b = Catalog.scratchFor(dir, "bm25_topk_gen", "202-bbbb")
    assert(a != b)
    assert(new java.io.File(a).getParent == new java.io.File(b).getParent)
    assert(Catalog.scratch(dir, "bm25_topk_gen") ==
      Catalog.scratchFor(dir, "bm25_topk_gen", Catalog.jvm))
    assert(Catalog.jvm.startsWith(s"${ProcessHandle.current.pid}-"))
  }
}
