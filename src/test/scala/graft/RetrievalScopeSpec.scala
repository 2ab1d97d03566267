package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ml.{Ivf, IvfCodec, Retrieval}
import graft.model.Catalog

/** The stored lexical and hybrid serving path's contract, once per scope
  * ({none, slice lang=en, tombstone mask, slice + mask}) and per tier
  * (BM25, RRF): an empty mask is no mask, sliced hits stay in the slice,
  * masked hits never include a tombstone while BM25 survivors keep their
  * pre-delete scores, the fused ranking is the reciprocal-rank fusion of
  * the two identically scoped tiers, and a batch answers each query
  * exactly as the single lookup does — from the stores only. */
class RetrievalScopeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val Terms = Seq("merge", "stream", "window")
  private val Queries = Seq(0L -> Terms, 1L -> Seq("hash", "join"))
  private val K = 10
  private val N = 20

  private type Scope = Retrieval.Scope[Retrieval.Slice, DataFrame]

  private def index = Catalog.lexIndex(spark, dir)
  private def stats = Catalog.lexStats(spark, dir)
  private def meta = Catalog.docMeta(spark, dir)
  private def emb = Catalog.embeddings(spark, dir)
  private def flat = Catalog.ivfFlat(spark, dir)

  private lazy val enIds: Set[Long] = meta.filter(col("lang") === "en")
    .select("doc_id").collect().map(_.getLong(0)).toSet

  private case class Case(name: String, sliced: Boolean, masked: Boolean)

  private val cases = Seq(Case("no scope", false, false),
    Case("slice en", true, false), Case("mask", false, true),
    Case("slice en + mask", true, true))

  private def scope(sliced: Boolean, dead: Option[Seq[Long]]): Scope =
    Retrieval.Scope(Option.when(sliced)(Retrieval.Slice.lang(meta, "en")),
      dead.map(_.toDF("doc_id")))

  /** The dense tier's restriction rendered independently of the serving
    * path: the surviving vec_ids as one allowed set. */
  private def denseOf(sliced: Boolean,
      dead: Seq[Long]): Ivf.Restrict[DataFrame] = {
    val live = emb.select("vec_id").filter(!col("vec_id").isin(dead: _*))
    Ivf.Allowed(
      if (sliced) live.filter(col("vec_id").isin(enIds.toSeq: _*)) else live)
  }

  private def denseIds(sliced: Boolean, dead: Seq[Long], n: Int): Seq[Long] =
    Ivf.topK(IvfCodec.Flat, flat, emb, 0L, n, denseOf(sliced, dead))
      .collect().map(_.getLong(0)).toSeq

  private def bm25(terms: Seq[String], k: Int, sc: Scope): Seq[(Long, Double)] =
    rows(Retrieval.bm25StoredTopK(index, stats, terms, k, sc))

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def batchRows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Tombstones that bite on both tiers: the top-2 BM25 hits and the top
    * dense neighbour of query 0, each under the same slice. */
  private def deadFor(sliced: Boolean): Seq[Long] =
    (bm25(Terms, 5, scope(sliced, None)).take(2).map(_._1) ++
      denseIds(sliced, Nil, 5).take(1)).distinct

  /** One tier: its single lookup for (terms, query vector) and its batch
    * over Queries, both under a scope, and the stored tables it reads. */
  private case class Tier(name: String,
      single: (Seq[String], Long, Scope) => DataFrame,
      batch: Scope => DataFrame, tables: Seq[String])

  private val tiers = Seq(
    Tier("bm25",
      (ts, _, sc) => Retrieval.bm25StoredTopK(index, stats, ts, K, sc),
      sc => Retrieval.bm25StoredTopKBatch(index, stats,
        Queries.toDF("qid", "terms"), K, scope = sc),
      Seq("lex_index")),
    Tier("rrf",
      (ts, q, sc) => Retrieval.rrfStored(index, stats, emb, flat, ts, q, N,
        K, sc),
      sc => Retrieval.rrfStoredBatch(index, stats, flat,
        Queries.toDF("qid", "terms"), emb.filter(col("vec_id") < 2), N, K,
        scope = sc),
      Seq("lex_index", "ivf_flat")))

  for (t <- tiers) {
    test(s"${t.name}: empty mask == no mask, bit for bit, single and batch") {
      val none = Seq.empty[Long]
      for (sliced <- Seq(false, true)) {
        val plain = rows(t.single(Terms, 0L, scope(sliced, None)))
        assert(plain.length == K)
        assert(rows(t.single(Terms, 0L, scope(sliced, Some(none)))) == plain,
          s"sliced=$sliced: empty mask must be the identity")
        assert(batchRows(t.batch(scope(sliced, Some(none)))) ==
          batchRows(t.batch(scope(sliced, None))),
          s"sliced=$sliced: empty mask must be the identity in a batch")
      }
      graft.util.Caches.drain()
    }

    for (c <- cases) {
      test(s"${t.name} under ${c.name}: scoped hits, batch == singles, " +
          "store-only") {
        val dead = if (c.masked) deadFor(c.sliced) else Nil
        val sc = scope(c.sliced, Option.when(c.masked)(dead))
        val single = t.single(Terms, 0L, sc)
        val got = rows(single)
        assert(got.nonEmpty)
        if (c.sliced)
          assert(got.forall(r => enIds(r._1)), "a hit escaped the slice")
        if (c.masked) {
          assert(!got.exists(r => dead.contains(r._1)),
            "a tombstoned doc surfaced")
          // the mask bites: the unmasked result held a tombstone
          assert(rows(t.single(Terms, 0L, scope(c.sliced, None)))
            .exists(r => dead.contains(r._1)), "vacuous mask")
        }
        // BM25 survivors keep their unmasked scores (pre-delete df and
        // stats): the masked ranking is the deep unmasked ranking with the
        // tombstones dropped
        val lexDeep = bm25(Terms, 100000, scope(c.sliced, None))
        if (t.name == "bm25")
          assert(got == lexDeep.filterNot(r => dead.contains(r._1)).take(K))
        else {
          // the fused ranking is the RRF of the two identically scoped
          // tiers, the dense one restricted independently of the path
          val lexIds = lexDeep.map(_._1).filterNot(dead.contains).take(N)
          val denIds = denseIds(c.sliced, dead, N)
          if (c.sliced)
            assert(denIds.forall(enIds), "dense tier leaked outside the slice")
          def rank(ids: Seq[Long]) = ids.zipWithIndex.map { case (d, i) =>
            d -> 1.0 / (Retrieval.RrfK + i + 1) }.toMap
          val (lr, dr) = (rank(lexIds), rank(denIds))
          val want = (lr.keySet ++ dr.keySet).toSeq.map { d =>
            d -> BigDecimal(lr.getOrElse(d, 0.0) + dr.getOrElse(d, 0.0))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          }.sortBy { case (d, s) => (-s, d) }.take(K)
          assert(got == want)
        }
        // every qid's batch rows == its single lookup (both qids: a window
        // not partitioned by qid could still get the dominant query right)
        val batch = t.batch(sc)
        val bRows = batchRows(batch)
        for ((qid, ts) <- Queries) {
          val slice = bRows.filter(_._1 == qid).map(r => (r._2, r._3))
          assert(slice == rows(t.single(ts, qid, sc)).toSet,
            s"qid $qid diverges from its single lookup")
        }
        if (c.sliced) assert(bRows.forall(r => enIds(r._2)))
        if (c.masked) assert(!bRows.exists(r => dead.contains(r._2)))
        for (p <- Seq(single, batch).map(_.queryExecution.executedPlan.toString)) {
          assert(t.tables.forall(p.contains) && !TestSpark.scansCorpusText(p),
            s"must read only the stored tiers:\n$p")
          if (c.sliced)
            assert(p.contains("doc_meta"), s"slice not read from the sidecar:\n$p")
        }
        graft.util.Caches.drain()
      }
    }
  }
}
