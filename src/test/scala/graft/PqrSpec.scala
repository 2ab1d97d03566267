package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Ann, Pq, TrainedCentroids, TrainedPqCodebooks, TrainedPqrCodebooks}

class PqrSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def encodeErr(v: Array[Double], books: Seq[Seq[Seq[Double]]],
      base: Array[Double]): Double = {
    // reconstruction error of coding (v - base) through `books`, i.e.
    // ||v - (base + decode(code(v - base)))||²; base = 0 is the raw tier
    var err = 0.0
    for (j <- 0 until Pq.M) {
      val r = Array.tabulate(Pq.SubDim)(d =>
        v(j * Pq.SubDim + d) - base(j * Pq.SubDim + d))
      val best = books(j).minBy(c =>
        (0 until Pq.SubDim).map(d => (r(d) - c(d)) * (r(d) - c(d))).sum)
      err += (0 until Pq.SubDim)
        .map(d => (r(d) - best(d)) * (r(d) - best(d))).sum
    }
    err
  }

  test("residual coding reconstructs with lower error than raw PQ " +
      "(the IVFPQ design claim, Jégou et al. 2011)") {
    val emb = graft.model.Catalog.embeddings(spark, dir)
    val cells = Ann.cellAssignment(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val zero = Array.fill(Ann.Dims)(0.0)
    val (rawSum, resSum) = vecs.foldLeft((0.0, 0.0)) {
      case ((ra, re), (id, v)) =>
        val cent = TrainedCentroids.matrix(cells(id).toInt - 1).toArray
        (ra + encodeErr(v, TrainedPqCodebooks.books, zero),
          re + encodeErr(v, TrainedPqrCodebooks.books, cent))
    }
    val (rawMse, resMse) = (rawSum / vecs.length, resSum / vecs.length)
    assert(resMse < rawMse,
      s"residual MSE $resMse must beat raw-PQ MSE $rawMse")
    // the win must be material, not noise — the coarse term absorbs real
    // between-cell variance on this corpus
    assert(resMse < rawMse * 0.95,
      s"residual MSE $resMse not materially below raw $rawMse")
  }

  test("PqrSim kernel nulls on out-of-range cell or code, never a " +
      "partial similarity") {
    val q = (1 to Ann.Dims).map(_ => "0.1D").mkString("array(", ",", ")")
    def simOf(codes: String, cell: String): java.lang.Double = {
      val r = spark.sql(
        s"SELECT graft_pqr_sim($codes, $cell, $q, 1.0D) AS s").collect()(0)
      if (r.isNullAt(0)) null else r.getDouble(0)
    }
    val codes = s"cast(array(${Seq.fill(Pq.M)(0).mkString(",")}) as array<tinyint>)"
    assert(simOf(codes, "1L") != null)
    assert(simOf(codes, "0L") == null, "cell 0 is out of range (1-based)")
    assert(simOf(codes, s"${PqrSimCells + 1}L") == null)
    val badCode = s"cast(array(${(Seq.fill(Pq.M - 1)(0) :+ 99).mkString(",")}) as array<tinyint>)"
    assert(simOf(badCode, "1L") == null)
    val shortCodes = s"cast(array(0) as array<tinyint>)"
    assert(simOf(shortCodes, "1L") == null)
  }

  private def PqrSimCells: Int = graft.expressions.PqrSim.Cells
}
