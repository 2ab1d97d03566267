package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.exec.{Route, Seek}
import graft.ingest.{Merge, SortedWriter, TsvLoader}

class IngestSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmpFile(content: String): String = {
    val f = Files.createTempFile("graft-tsv", ".tsv")
    Files.writeString(f, content)
    f.toString
  }

  test("unescape: \\t \\n \\r \\\\ and unknown escapes (ca-load.cc:238-253)") {
    assert(TsvLoader.unescape("a\\tb\\nc\\rd\\\\e\\qf") == "a\tb\nc\rd\\e\\qf".replace("\\q", "q"))
    assert(TsvLoader.unescape("plain") == "plain")
    assert(TsvLoader.unescape(null) == null)
  }

  test("index-mode TSV resolves document keys to offsets") {
    val path = tmpFile("price\td1\t10.5\nprice\td2\t20.5\t1\t2\t3\t4\nmissing\tdX\t1\n")
    val summaries = Seq((100L, "d1", "{}"), (200L, "d2", "{}"))
      .toDF("off", "key", "json")
    val rows = TsvLoader.loadIndex(spark, path, summaries)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.getAs[java.lang.Double]("pct5")).map(_.doubleValue)))
      .sortBy(_._2)
    // in-memory summaries are not a stored relation: the Spark join, by name
    assert(TsvLoader.route(spark, path, summaries) == Route.Spark(Seek.notStored("summaries")))
    // unknown doc key dX drops; d2 carries its percentile band
    assert(rows.toSeq == Seq(
      ("price", 100L, 10.5, None),
      ("price", 200L, 20.5, Some(1.0))))
  }

  test("time-series TSV: offset = epoch seconds of the parsed date") {
    val path = tmpFile("cpu\t2020-01-02 03:04:05\t0.75\n")
    val r = TsvLoader.loadTimeSeries(spark, path).collect().head
    assert(r.getString(0) == "cpu")
    assert(r.getLong(1) == 1577934245L) // 2020-01-02T03:04:05Z
    assert(r.getDouble(2) == 0.75)
  }

  test("merge-mode union: agreeing generations pass, conflicts raise") {
    val g1 = Seq(("k", 1L, 5.0)).toDF("key", "off", "score")
    val ok = Merge.union(Seq(g1, g1)).collect()
    assert(ok.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("k", 1L, 5.0)))
    val g2 = Seq(("k", 1L, 6.0)).toDF("key", "off", "score")
    val e = intercept[Exception] { Merge.union(Seq(g1, g2)).collect() }
    assert(e.getMessage.contains("conflicting") ||
      e.getCause != null && e.getCause.getMessage.contains("conflicting"))
  }

  test("merge-mode pick-one prefers the non-percentile value") {
    val withPct = Seq(("k", 1L, 5.0, 4.0, 4.5, 5.5, 6.0))
      .toDF("key", "off", "score", "pct5", "pct25", "pct75", "pct95")
    val plain = Seq(("k", 1L, 9.0)).toDF("key", "off", "score")
    val out = Merge.pickOne(Seq(withPct, plain)).collect().head
    assert(out.getDouble(2) == 9.0 && !out.getBoolean(3)) // non-pct wins
    // pct-only offset keeps its (pct-carrying) value
    val out2 = Merge.pickOne(Seq(withPct)).collect().head
    assert(out2.getDouble(2) == 5.0 && out2.getBoolean(3))
  }

  test("sorted write: postings land sorted by (key, off) per file (T4)") {
    val dir = Files.createTempDirectory("graft-sorted").toString
    val postings = Seq(("b", 3L, 1.0), ("a", 2L, 1.0), ("a", 1L, 1.0), ("b", 1L, 2.0))
      .toDF("key", "off", "score")
    SortedWriter.write(postings, s"$dir/t")
    // per-partition order check: within each parquet file rows are sorted
    val perFile = spark.read.parquet(s"$dir/t")
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"),
        col("key"), col("off"))
      .collect().groupBy(_.getInt(0)).values
    perFile.foreach { rows =>
      val seq = rows.map(r => (r.getString(1), r.getLong(2))).toSeq
      assert(seq == seq.sorted)
    }
    assert(spark.read.parquet(s"$dir/t").count() == 4)
  }

  test("sharded write: every shard directory is ADDRESSABLE by shardOf(key)" +
      " and holds only its own keys, sorted") {
    val dir = Files.createTempDirectory("graft-sharded").toString
    val postings = (0 until 200)
      .map(i => (s"k$i", i.toLong, 1.0)).toDF("key", "off", "score")
    SortedWriter.write(postings, s"$dir/t", shards = 4)
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 200)
    // the shard partition column must EQUAL the recomputed shardOf(key) —
    // the former murmur3 re-hash placed rows at pmod(hash(shard), n), so
    // files corresponded to nothing a consumer could address
    val mismatch = back.filter(
      col("shard") =!= graft.functions.Funcs.shardOf(col("key"), 4)).count()
    assert(mismatch == 0, "shard dir must equal shardOf(key)")
    // all 4 shards materialize as hive dirs on this key population
    val dirs = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.sameElements((0 until 4).map(i => s"shard=$i")), dirs.toSeq)
  }

  test("copy with rewrites: filter, strip/add prefix, score threshold (S11)") {
    val dir = Files.createTempDirectory("graft-copy").toString
    val postings = Seq(("idx:a", 1L, 5.0), ("idx:b", 2L, 1.0), ("other", 3L, 9.0))
      .toDF("key", "off", "score")
    SortedWriter.copy(postings, s"$dir/c", keyFilter = Some("^idx:"),
      stripPrefix = Some("idx:"), addPrefix = Some("new:"), minScore = Some(2.0))
    val rows = spark.read.parquet(s"$dir/c")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("new:a", 1L, 5.0)))
  }
}
