package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ml.{Ivf, IvfCodec}
import graft.model.Catalog

/** The shared IVF serving path's contract, once per codec: the flat, SQ8,
  * PQ and residual-PQ tiers all serve through Ivf, so every tier must honor
  * the same restriction and batching identities — a restriction that keeps
  * every id (or masks none) is the unrestricted lookup, an allowed lookup
  * stays inside its slice, a masked lookup drops every tombstone without
  * moving a survivor's score, and a batch answers each query exactly as the
  * single lookup does while staying cell-pruned and in-plan. */
class IvfServingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val K = 10

  /** One tier: its codec, its materialized store and the store's table
    * name, the kernel its ranking must run through, and plan fragments its
    * serving must never contain (quantized tiers never dequantize
    * candidates to double arrays; SQ8 never scans the flat codes table). */
  private case class Tier(codec: IvfCodec, store: () => DataFrame,
      table: String, kernel: String, forbidden: Seq[String])

  private val tiers = Seq(
    Tier(IvfCodec.Flat, () => Catalog.ivfFlat(spark, dir), "ivf_flat",
      "graft_dot", Nil),
    Tier(IvfCodec.Sq8, () => Catalog.sq8IvfStore(spark, dir), "sq8_ivf",
      "graft_sq8_sim", Seq("sq8_codes", "transform(codes")),
    Tier(IvfCodec.Pq, () => Catalog.pqIvfStore(spark, dir), "pq_ivf",
      "graft_pq_sim", Seq("transform(codes")),
    Tier(IvfCodec.Pqr, () => Catalog.pqrIvfStore(spark, dir), "pqr_ivf",
      "graft_pqr_sim", Seq("transform(codes")))

  private def emb: DataFrame = Catalog.embeddings(spark, dir)

  private def single(t: Tier, k: Int,
      r: Ivf.Restrict[DataFrame] = Ivf.Unrestricted): Seq[(Long, Double)] =
    Ivf.topK(t.codec, t.store(), emb, 0L, k, r).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def batchRows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  for (t <- tiers) {
    val name = t.codec.name

    test(s"$name: allowed with every id and masked with no tombstones " +
        "== unrestricted, single and batch") {
      val all = emb.select("vec_id")
      val none = Seq.empty[Long].toDF("vec_id")
      val plain = single(t, K)
      assert(plain.length == K)
      assert(single(t, K, Ivf.Allowed(all)) == plain)
      assert(single(t, K, Ivf.Masked(none)) == plain)
      val queries = emb.filter(col("vec_id") < 4)
      val plainBatch = batchRows(Ivf.topKBatch(t.codec, t.store(), queries, K))
      assert(batchRows(Ivf.topKBatch(t.codec, t.store(), queries, K,
        Ivf.Allowed(all))) == plainBatch)
      assert(batchRows(Ivf.topKBatch(t.codec, t.store(), queries, K,
        Ivf.Masked(none))) == plainBatch)
      graft.util.Caches.drain()
    }

    test(s"$name: allowed stays in the slice and == the post-filtered " +
        "unrestricted ranking") {
      // the slice: even vec_ids — big enough that top-k is full
      val got = single(t, K,
        Ivf.Allowed(emb.select("vec_id").filter(col("vec_id") % 2 === 0)))
      assert(got.length == K)
      assert(got.forall(_._1 % 2 == 0), "allowed serve leaked a non-slice id")
      // the semi-join commutes with the scoring: rank the unrestricted
      // chain deep (every probed candidate), then post-filter
      val deep = single(t, 100000).filter(_._1 % 2 == 0).take(K)
      assert(got == deep)
      graft.util.Caches.drain()
    }

    test(s"$name: masked drops every tombstone, survivor sims unchanged") {
      // tombstones drawn from the unmasked top-k, so the mask provably
      // bites, plus a block of low ids
      val plain = single(t, K)
      val dead = (plain.take(2).map(_._1) ++ (0L until 50L)).distinct
      val masked = single(t, K, Ivf.Masked(dead.toDF("vec_id")))
      assert(masked.nonEmpty)
      assert(masked.map(_._1).toSet.intersect(dead.toSet).isEmpty,
        "masked serve surfaced a tombstoned id")
      // no codec's score carries corpus statistics: survivors keep theirs
      val um = plain.toMap
      assert(masked.forall { case (id, s) => um.get(id).forall(_ == s) })
      val deep = single(t, 100000).filterNot(r => dead.contains(r._1)).take(K)
      assert(masked == deep)
      graft.util.Caches.drain()
    }

    test(s"$name: batch row for qid q == single lookup for q, " +
        "cell-pruned and ranked in-plan through the tier kernel") {
      val store = t.store()
      val df = Ivf.topKBatch(t.codec, store, emb.filter(col("vec_id") < 8), K)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains(t.table), s"batch plan does not scan ${t.table}:\n$p")
      // the only cross shape allowed is the probe stage's |Q|×Cells
      // expansion against the broadcast centroid matrix; candidates arrive
      // through a hash join on the cell key
      assert(!p.contains("CartesianProduct"),
        s"batch plan has a cartesian product:\n$p")
      assert(p.contains("HashJoin [cell#") || p.contains("HashJoin [cast(cell#")
        || p.contains("hashpartitioning(cell#"),
        s"candidate join is not a hash join on cell:\n$p")
      // BOTH per-query ranks ride the pushdown (probe stage and final top-k)
      val wgl = "WindowGroupLimit".r.findAllIn(p).size
      assert(wgl >= 2,
        s"expected both per-query ranks as WindowGroupLimit, found $wgl:\n$p")
      // the store scan carries a partition filter driven by the batch's
      // probed cells (broadcast left-semi → dynamic partition pruning)
      assert("""PartitionFilters: \[[^\]]*(dynamicpruning|cell#\d+[^\]]* IN )""".r
          .findFirstIn(p).isDefined,
        s"no probed-cell partition filter on the batch ${t.table} scan:\n$p")
      assert(p.contains(t.kernel),
        s"batch path does not rank through ${t.kernel}:\n$p")
      for (f <- t.forbidden)
        assert(!p.contains(f), s"batch plan contains '$f':\n$p")
      val singles = (0L until 8L).flatMap { qid =>
        Ivf.topK(t.codec, store, emb, qid, K).collect()
          .map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
      assert(batchRows(df) == singles)
      graft.util.Caches.drain()
    }
  }
}
