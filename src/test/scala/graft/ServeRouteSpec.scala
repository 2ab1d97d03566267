package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exec.{Route, Seek}
import graft.ml.{Ann, Ivf, IvfCodec, Pq, Quant, Retrieval}
import graft.model.Catalog

/** The stored single lookups' route: the requests a store workload makes
  * run no Spark job, a missing or zero-norm query vector fails on both
  * routes, and a request over SeekRows keeps the Spark plan and names its
  * reason. */
class ServeRouteSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = Catalog.embeddings(spark, dir)
  private def lex = Catalog.lexIndex(spark, dir)
  private def stats = Catalog.lexStatsFolded(spark, dir)
  private def flat = Catalog.ivfFlat(spark, dir)
  private val Terms = Seq("merge", "stream", "window")

  /** The five serve calls of the store workload, as its harness makes them. */
  private val requests: Seq[(String, () => DataFrame)] = Seq(
    "ivf" -> (() => Ann.ivfTopKFrom(flat, emb, 3L, 10)),
    "sq8" -> (() => Quant.sq8IvfTopKFrom(Catalog.sq8IvfStore(spark, dir), emb, 3L, 10)),
    "pq" -> (() => Pq.pqIvfTopKFrom(Catalog.pqIvfStore(spark, dir), emb, 3L, 10)),
    "bm25" -> (() => Retrieval.bm25StoredTopK(lex, stats, Terms, 10)),
    "rrf" -> (() => Retrieval.rrfStored(lex, stats, emb, flat, Terms, 3L, 20, 10)))

  test("each store serve request collects its rows with no Spark job") {
    requests.foreach { case (_, r) => r().collect() }
    for ((name, r) <- requests) {
      val ((rows, routes), jobs, _) = TestSpark.jobsAndRecords {
        val (df, routes) = Route.observed(r())
        (df.collect(), routes)
      }
      assert(rows.length == 10, name)
      assert(routes.size == 1 && routes.head.isInstanceOf[Route.Seek], s"$name: $routes")
      assert(jobs == 0, s"$name launched $jobs jobs")
    }
  }

  /** A parquet store of `df` under a fresh temporary directory. */
  private def stored(df: DataFrame, partitionBy: String*): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft-serve-route").resolve("s").toString
    df.write.partitionBy(partitionBy: _*).parquet(path)
    spark.read.parquet(path)
  }

  test("an absent or zero-norm query vector fails on both routes") {
    val zero = stored(Seq((0L, Array.fill(Ann.Dims)(0f))).toDF("vec_id", "embedding"))
    for ((q, e, why) <- Seq((-1L, emb, "not present in corpus"), (0L, zero, "zero-norm"));
        pinned <- Seq(false, true)) {
      def call = Ivf.topK(IvfCodec.Flat, flat, e, q, 10).collect()
      val err = intercept[IllegalArgumentException](
        if (pinned) Route.onSpark("pinned by the spec")(call) else call)
      assert(err.getMessage.contains(why), s"pinned=$pinned: ${err.getMessage}")
    }
  }

  test("a request over SeekRows keeps the Spark plan and names the bound") {
    val rows = Seek.SeekRows + 1
    val vec = Array.fill(Ann.Dims)(1.0)
    val cells = stored(spark.range(rows).select(col("id").as("vec_id"),
      array_repeat(lit(0.5f), Ann.Dims).as("embedding"),
      lit(Ann.probedCellsOf(vec).head.toInt).as("cell")), "cell")
    val query = stored(Seq((0L, vec.map(_.toFloat))).toDF("vec_id", "embedding"))
    val (ivf, ivfRoutes) = Route.observed(Ivf.topK(IvfCodec.Flat, cells, query, 0L, 3))
    assert(ivfRoutes == Seq(Route.Spark(Seek.overBound(rows))))
    assert(ivf.queryExecution.executedPlan.toString.contains("FileScan parquet"))
    assert(ivf.collect().length == 3)

    val postings = stored(spark.range(rows).select(lit("t").as("token"),
      col("id").as("doc_id"), lit(1).as("tf"), lit(5).as("dl")).coalesce(1))
    val (bm25, bm25Routes) = Route.observed(Retrieval.bm25StoredTopK(postings, stats, Seq("t"), 3))
    assert(bm25Routes == Seq(Route.Spark(Seek.overBound(rows))))
    assert(bm25.queryExecution.executedPlan.toString.contains("FileScan parquet"))
    assert(bm25.collect().length == 3)
  }

  test("restrictions the driver cannot apply keep the Spark plan") {
    val live = emb.select("vec_id").filter(col("vec_id") > 5)
    val (_, routes) = Route.observed(Ivf.topK(IvfCodec.Flat, flat, emb, 0L, 5, Ivf.Allowed(live)))
    assert(routes == Seq(Route.Spark(Ivf.NotLocal)))
    val (_, lexRoutes) = Route.observed(Retrieval.bm25StoredTopK(lex,
      Catalog.lexStats(spark, dir), Terms, 5))
    assert(lexRoutes == Seq(Route.Spark(Retrieval.NotFolded)))
  }
}
