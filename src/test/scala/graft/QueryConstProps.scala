package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.Ann

/** Randomized pinning of the driver-side query constants against the
  * in-plan derivations they replaced (r15): a single-query lookup now
  * computes its bucket keys and probed cells as driver arithmetic over the
  * committed plane/centroid constants. The claim is BIT-identity — same
  * per-element double widening, same index-order accumulation as the
  * graft_dot kernel — so these laws assert exact equality (not tolerance)
  * between the driver math and the engine expressions, over random float
  * vectors shaped like the corpus (including adversarial near-zero dots
  * where a different op order would flip a signature bit). */
class QueryConstProps extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(151)

  private def randomVecs(n: Int): Seq[(Long, Seq[Float])] =
    (0 until n).map { i =>
      (i.toLong, Seq.fill(Ann.Dims)((rnd.nextFloat() * 2 - 1)))
    }

  test("driver bucket keys == the signature expression, bit for bit") {
    val vecs = randomVecs(60)
    val df = vecs.toDF("vec_id", "embedding")
    val e = df.select(col("vec_id"), col("embedding").as("emb"))
    for (mp <- Seq(false, true)) {
      // engine side: the SAME key expressions topKBatch explodes — the
      // index build's signatures, and for multi-probe the in-plan flip
      val keys = Ann.probeKeys(col("emb"), mp)
      val engine = e.select(col("vec_id") +:
          keys.zipWithIndex.map { case (c, i) => c.as(s"b$i") }: _*)
        .collect()
        .map(r => r.getLong(0) -> (1 to keys.size).map(r.getString).toSeq)
        .toMap
      for ((id, v) <- vecs) {
        val driver = Ann.probeKeysOf(v.map(_.toDouble).toArray, mp)
        assert(driver == engine(id),
          s"vec $id multiProbe=$mp: driver $driver != engine ${engine(id)}")
      }
    }
  }

  test("driver probed cells == the in-plan probe ranking, exactly") {
    val vecs = randomVecs(40)
    val df = vecs.toDF("vec_id", "embedding")
    for ((id, v) <- vecs) {
      val engine = Ann.probedCells(
        df.select(col("vec_id"), col("embedding").as("emb")), id)
      val driver = Ann.probedCellsOf(v.map(_.toDouble).toArray)
      assert(driver == engine, s"vec $id: driver $driver != engine $engine")
    }
  }

  test("selfDot == graft_dot on the same vector") {
    val vecs = randomVecs(40)
    val engine = vecs.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "graft_dot(embedding, embedding) AS d")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, v) <- vecs) {
      val driver = Ann.selfDot(v.map(_.toDouble).toArray)
      assert(java.lang.Double.doubleToLongBits(driver) ==
        java.lang.Double.doubleToLongBits(engine(id)),
        s"vec $id: selfDot $driver != kernel ${engine(id)}")
    }
  }

  test("multi-probe keys: superset of base keys, one flip per table at " +
      "hamming distance exactly 1") {
    def hamming(a: String, b: String): Int = a.zip(b).count(p => p._1 != p._2)
    for ((_, v) <- randomVecs(60)) {
      val vec = v.map(_.toDouble).toArray
      val base = Ann.probeKeysOf(vec, multiProbe = false)
      val mp = Ann.probeKeysOf(vec, multiProbe = true)
      assert(mp.size == 2 * Ann.Tables)
      assert(base.forall(mp.contains), "multi-probe must include base keys")
      for (t <- 0 until Ann.Tables) {
        val (b, f) = (mp(2 * t), mp(2 * t + 1))
        assert(b == base(t), "even slots are the base keys, in table order")
        assert(f.startsWith(s"$t:") && hamming(b, f) == 1,
          s"table $t flip key $f not at hamming distance 1 from $b")
      }
    }
  }
}
