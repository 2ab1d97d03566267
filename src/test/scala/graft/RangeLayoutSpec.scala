package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Catalog

/** The key-range store layout (Catalog.writeRanged) on sf0.01: index files
  * hold disjoint key ranges, a key lookup reads one page of one file, and
  * the layout is a function of the rows alone. Its cut points equal a
  * driver-side reference, and computing them moves no data into one task. */
class RangeLayoutSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.01"

  /** (min, max, rows) of `k` per file of `df`, in key order. */
  private def fileRanges(df: DataFrame, k: String): Seq[(String, String, Long)] =
    df.groupBy(input_file_name()).agg(min(k), max(k), count(lit(1))).collect()
      .map(r => (r.get(1).toString, r.get(2).toString, r.getLong(3))).toSeq
      .sortBy(_._1)

  private val small = "/root/testdata/sf0.001"

  /** The cut points from their definition, on the driver: the first value
    * of every block of `rowsPerFile` rows but the first, in key order. */
  private def referenceCuts(df: DataFrame, k: String, rowsPerFile: Long): Seq[Any] = {
    var before = 0L
    var prev = 0L
    df.groupBy(k).count().orderBy(k).collect().toSeq.flatMap { r =>
      val block = before / rowsPerFile
      before += r.getLong(1)
      val starts = block != prev
      prev = block
      if (starts) Some(r.get(0)) else None
    }
  }

  /** The messages logged while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("range-layout-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(e.getMessage.getFormattedMessage); ()
      }
    }
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    try { body; seen.toArray(Array.empty[String]).toSeq }
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("cut points equal a driver-side reference over the sf0.001 index " +
      "and summaries") {
    for ((df, k) <- Seq(Catalog.deriveIndex(spark, small) -> "key",
        Catalog.deriveSummaries(spark, small) -> "off");
        rows <- Seq(1L, 97L, 4096L, 1L << 18)) {
      val want = referenceCuts(df, k, rows)
      assert(Catalog.cutPoints(df, k, rows) == want, s"$k every $rows rows")
      if (rows == 97L) assert(want.size >= 5, s"$k: ${want.size} cuts")
    }
  }

  test("a writeRanged build logs no unpartitioned-window warning") {
    val warning = "No Partition Defined for Window operation"
    // the capture sees the warning when a window has no partition
    val probe = logged(spark.range(10).withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("id")))
      .collect())
    assert(probe.exists(_.contains(warning)), probe)
    val base = java.nio.file.Files.createTempDirectory("graft-cuts").toFile
    try {
      val seen = logged(Catalog.writeRanged(Catalog.deriveIndex(spark, small),
        s"$base/index", "key", "key", "off"))
      assert(!seen.exists(_.contains(warning)), seen.filter(_.contains(warning)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }

  test("index files hold disjoint key ranges; a name: lookup reads one page") {
    val idx = Catalog.index(spark, dir)
    val ranges = fileRanges(idx, "key")
    assert(ranges.size >= 2, s"expected a multi-file index at sf0.01: $ranges")
    ranges.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 < b._1, s"files overlap: $a and $b")
    }
    val key = "name:order7.com"
    assert(ranges.count(r => r._1 <= key && key <= r._2) == 1)
    val (rows, _, records) = TestSpark.jobsAndRecords(
      idx.filter(col("key") === key).select("off").collect())
    assert(rows.map(_.getLong(0)).toSeq == Seq(7L))
    // one file matches the pushed key and its page index narrows the read
    // to the page holding the key: 1k-row pages, never a whole file
    assert(records <= 2000, s"a one-key lookup read $records records")
  }

  test("the range layout depends only on the rows, not on session " +
      "parallelism or input splits") {
    val base = java.nio.file.Files.createTempDirectory("graft-layout").toFile
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
    val saved = keys.map(k => k -> spark.conf.get(k))
    def build(shuffle: String, split: String): Seq[(Int, Seq[(String, String, Long)])] =
      try {
        spark.conf.set(keys(0), shuffle)
        spark.conf.set(keys(1), split)
        Seq(
          "index" -> Catalog.deriveIndex(spark, dir),
          "overrides" -> Catalog.overrideRows(Catalog.table(spark, dir, "orders"))
        ).map { case (name, df) =>
          val path = s"$base/$name-$shuffle"
          Catalog.writeRanged(df, path, "key", "key")
          val files = new java.io.File(path).list().count(_.endsWith(".parquet"))
          (files, fileRanges(spark.read.parquet(path), "key"))
        }
      } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val a = build("2", "1m")
      val b = build("7", "64m")
      assert(a.head._1 >= 2, s"expected a multi-file index at sf0.01: $a")
      assert(a == b)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }

  test("a cell store holds one file per cell under any session parallelism") {
    val base = java.nio.file.Files.createTempDirectory("graft-cells").toFile
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
    val saved = keys.map(k => k -> spark.conf.get(k))
    def files(shuffle: String, split: String): (Int, Int) =
      try {
        spark.conf.set(keys(0), shuffle)
        spark.conf.set(keys(1), split)
        val rows = Catalog.embeddings(spark, dir).repartition(5)
          .join(Catalog.ivfCells(spark, dir), Seq("vec_id"))
        val path = s"$base/cells-$shuffle"
        Catalog.Layout.Cells.write(rows, path)
        val cells = new java.io.File(path).listFiles().filter(_.getName.startsWith("cell="))
        (cells.length, cells.map(_.list().count(_.endsWith(".parquet"))).sum)
      } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      for ((shuffle, split) <- Seq("2" -> "1m", "7" -> "64m")) {
        val (cells, parquet) = files(shuffle, split)
        assert(cells > 1 && parquet == cells, s"shuffle $shuffle: $cells cells, $parquet files")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }
}
