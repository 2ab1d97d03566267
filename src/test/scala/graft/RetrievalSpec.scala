package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Ann, CorpusOps, Ivf, IvfCodec, Retrieval}
import graft.model.Catalog

/** BM25 / hybrid-fusion retrieval and the bloom-pruned decontamination —
  * result correctness against in-memory reference models, plus the plan
  * properties the scale story depends on (codegen'd bloom probe present,
  * label filter pushed to the candidate scan).
  */
class RetrievalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("bm25TopK matches the in-memory reference on a hand fixture") {
    val docs = Seq(
      (0L, "x y x"), (1L, "x z"), (2L, "w w"), (3L, "y y y x"),
      (4L, "z w"), (5L, "x x x x"))
      .toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, Seq("x", "y"), 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Bm25Ref.topK(
      Seq((0L, "x y x"), (1L, "x z"), (2L, "w w"), (3L, "y y y x"),
        (4L, "z w"), (5L, "x x x x")), Seq("x", "y"), 4)
    assert(got == want)
  }

  test("bm25TopK excludes docs containing no query term") {
    val docs = Seq((0L, "a b"), (1L, "c d"), (2L, "a a")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, Seq("a"), 10).collect().map(_.getLong(0))
    assert(got.toSet == Set(0L, 2L))
  }

  test("rrfFusion fuses both tiers; single-tier docs contribute one term") {
    val got = Retrieval.rrfFusion(
      Catalog.documents(spark, dir), Catalog.embeddings(spark, dir),
      Seq("merge", "stream", "window"), 0L, 20, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10)
    // reference: recompute from the two tier rankings independently
    val lex = Retrieval.bm25TopK(
      Catalog.documents(spark, dir), Seq("merge", "stream", "window"), 20)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val e = Catalog.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val q = e.find(_._1 == 0L).get._2
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    val den = e.filter(_._1 != 0L)
      .map { case (id, v) =>
        id -> BigDecimal(dot(v, q) / math.sqrt(dot(v, v) * dot(q, q)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
      .sortBy { case (id, s) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
    val want = (lex.keySet ++ den.keySet).toSeq
      .map { d =>
        val s = lex.get(d).map(r => 1.0 / (Retrieval.RrfK + r)).getOrElse(0.0) +
          den.get(d).map(r => 1.0 / (Retrieval.RrfK + r)).getOrElse(0.0)
        d -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
      .sortBy { case (d, s) => (-s, d) }.take(10)
    assert(got.toSeq == want)
  }

  test("bm25TopKBatch == per-query single lookups, map-side top-k") {
    val docs = Catalog.documents(spark, dir)
    val queries = Seq(0L -> Seq("merge", "stream", "window"),
      1L -> Seq("hash", "join"), 2L -> Seq("fast", "filter", "sort"))
    val bdf = Retrieval.bm25TopKBatch(docs, queries.toDF("qid", "terms"), 5)
    val batch = bdf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val singles = queries.flatMap { case (qid, ts) =>
      Retrieval.bm25TopK(docs, ts, 5).collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1))) }.toSet
    assert(batch == singles)
    // the per-query rank rides WindowGroupLimit (partial top-k map-side),
    // not a global sort
    assert(bdf.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    // the SERVING variant (r19): pre-folded stats + static term dict must
    // be result-identical to the in-plan derivation — the memoized fold
    // renders the same Σdl/N double division, and the isin prunes exactly
    // the dictionary the equi-join matched
    val served = Retrieval.bm25TopKBatch(docs, queries.toDF("qid", "terms"),
        5, stats = Some(graft.model.Catalog.lexStatsFolded(spark, dir)),
        termDict = Some(queries.flatMap(_._2).distinct))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == singles,
      "folded-stats/termDict batch must equal the in-plan batch")
  }

  test("bm25StoredTopK == corpus-side bm25TopK; store pruned, text not read") {
    val terms = Seq("hash", "join", "filter")
    val docs = Catalog.documents(spark, dir)
    val stored = graft.ml.Retrieval.bm25StoredTopK(
      Catalog.lexIndex(spark, dir), Catalog.lexStats(spark, dir), terms, 15)
    val got = stored.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Retrieval.bm25TopK(docs, terms, 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    val p = stored.queryExecution.executedPlan.toString
    assert(p.contains("lex_index"), s"plan does not scan the stored index:\n$p")
    assert(p.contains("In(token"), s"term filter not pushed to the store:\n$p")
    assert(!TestSpark.scansCorpusText(p),
      s"stored serving re-reads corpus text:\n$p")
  }

  test("streamed lex index + stats == batch across micro-batches") {
    val base = java.nio.file.Files.createTempDirectory("graft_lex_stream").toString
    val chunks = Seq(
      Seq((0L, "a b a c"), (1L, "b b d")),
      Seq((2L, "c")),
      Seq((3L, "a d d e"), (4L, "e")))
    chunks.foreach(ch => ch.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$base/in"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val all = chunks.flatten.toDF("doc_id", "text")
    // index rows: streamed projection == batch projection
    graft.streaming.Sinks.parquetOnce(Retrieval.lexRows(src),
      s"$base/rows", s"$base/ck1")
    val streamedRows = spark.read.parquet(s"$base/rows")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val batchRows = Retrieval.lexRows(all)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(streamedRows == batchRows)
    // stats: per-batch delta generations fold to the batch aggregate
    graft.streaming.Sinks.foreachBatchOnce(src, s"$base/ck2",
      graft.streaming.Sinks.deltaWriter(s"$base/deltas", Retrieval.lexStatsRows))
    assert(spark.read.parquet(s"$base/deltas").count() == 3,
      "one delta generation per micro-batch")
    val folded = spark.read.parquet(s"$base/deltas")
      .agg(sum("n_docs").cast("long"), sum("sum_dl").cast("long"))
      .collect().head
    val batchStats = Retrieval.lexStatsRows(all).collect().head
    assert((folded.getLong(0), folded.getLong(1)) ==
      (batchStats.getLong(0), batchStats.getLong(1)))
  }

  test("bm25StoredTopKBatch == corpus-side batch; store-only plan") {
    val queries = Seq(0L -> Seq("merge", "stream", "window"),
      1L -> Seq("hash", "join"), 2L -> Seq("fast", "filter", "sort"))
    val sdf = Retrieval.bm25StoredTopKBatch(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir), queries.toDF("qid", "terms"), 5)
    val stored = sdf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val corpus = Retrieval.bm25TopKBatch(Catalog.documents(spark, dir),
      queries.toDF("qid", "terms"), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored == corpus)
    val p = sdf.queryExecution.executedPlan.toString
    assert(p.contains("lex_index") && !TestSpark.scansCorpusText(p),
      s"stored batch must read only the index:\n$p")
  }

  test("bm25StoredTopKBatch: broadcast and shuffle semi regimes agree") {
    // the term-dictionary prune is deliberately UNHINTED: AQE broadcasts a
    // small batch's dictionary and must degrade to a shuffle semi-join
    // when a data-scale batch outgrows the threshold
    // (Retrieval.bm25StoredTopKBatch). VERDICT r14 #6: the degradation
    // path was documented but untested — pin BOTH regimes' plans and
    // their equal results by flipping the broadcast thresholds.
    val queries = Seq(0L -> Seq("merge", "stream", "window"),
      1L -> Seq("hash", "join"), 2L -> Seq("fast", "filter", "sort"))
    def run() = {
      val df = Retrieval.bm25StoredTopKBatch(Catalog.lexIndex(spark, dir),
        Catalog.lexStats(spark, dir), queries.toDF("qid", "terms"), 5)
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      (rows, df.queryExecution.executedPlan.toString)
    }
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      val (bRows, bPlan) = run()
      assert(bPlan.contains("BroadcastHashJoin") &&
        bPlan.contains("LeftSemi"),
        s"small dictionary should broadcast the semi join:\n$bPlan")
      keys.foreach(spark.conf.set(_, "-1"))
      val (sRows, sPlan) = run()
      assert(!sPlan.contains("BroadcastHashJoin"),
        s"threshold -1 must degrade every join to a shuffle:\n$sPlan")
      assert(sPlan.contains("LeftSemi"),
        s"shuffle regime lost the semi prune:\n$sPlan")
      assert(sRows == bRows,
        "shuffle-semi regime diverged from the broadcast regime")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("bm25 from the compacted generation == stored; In(token) survives the swap") {
    val terms = Seq("hash", "join", "filter")
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_bm25_gen").toString
    try {
      val gen = graft.streaming.Sinks.compacted(spark,
        graft.streaming.Stores.LexIndex, dir, scratch)
      val fromGen = Retrieval.bm25StoredTopK(gen,
        Catalog.lexStats(spark, dir), terms, 15)
      val got = fromGen.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = Retrieval.bm25StoredTopK(Catalog.lexIndex(spark, dir),
        Catalog.lexStats(spark, dir), terms, 15)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want)
      // the token-sorted compaction keeps the pushed In skip on the
      // generation scan — the claim that lets a swapped store keep serving
      val p = fromGen.queryExecution.executedPlan.toString
      assert(p.contains("In(token"),
        s"In(token) not pushed to the compacted generation scan:\n$p")
    } finally graft.util.Caches.drain()
  }

  test("filtered lexical: stored slice == corpus-side slice; meta-only plan") {
    val terms = Seq("merge", "stream", "window")
    val stored = Retrieval.bm25StoredTopK(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir), terms, 10, Retrieval.Scope(Some(
        Retrieval.Slice.lang(Catalog.docMeta(spark, dir), "en"))))
    val got = stored.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val corpus = Retrieval.bm25TopK(
      Catalog.documents(spark, dir).filter(col("lang") === "en"), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == corpus, "stored filtered slice diverged from corpus-side")
    assert(got.nonEmpty)
    // every hit is genuinely in the slice
    val enIds = Catalog.docMeta(spark, dir).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.forall { case (id, _) => enIds.contains(id) })
    // the stored path reads postings + the metadata sidecar, never text;
    // the lang predicate reaches the sidecar scan pushed
    val p = stored.queryExecution.executedPlan.toString
    assert(p.contains("lex_index") && p.contains("doc_meta") &&
      !TestSpark.scansCorpusText(p),
      s"filtered stored plan must read index + sidecar only:\n$p")
    assert(p.contains("EqualTo(lang,en)"),
      s"lang filter not pushed to the doc_meta scan:\n$p")
  }

  test("filtered batch: stored == corpus-side, and == filtered singles") {
    val queries = Seq(0L -> Seq("merge", "stream", "window"),
      1L -> Seq("hash", "join"))
    val en = Retrieval.Scope(Some(
      Retrieval.Slice.lang(Catalog.docMeta(spark, dir), "en")))
    val stored = Retrieval.bm25StoredTopKBatch(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir), queries.toDF("qid", "terms"), 5,
      scope = en)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val corpus = Retrieval.bm25TopKBatch(
      Catalog.documents(spark, dir).filter(col("lang") === "en"),
      queries.toDF("qid", "terms"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored == corpus)
    // each batch slice equals the single-query filtered lookup
    val singles = queries.flatMap { case (qid, ts) =>
      Retrieval.bm25StoredTopK(Catalog.lexIndex(spark, dir),
        Catalog.lexStats(spark, dir), ts, 5, en).collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1))) }.toSet
    assert(stored == singles)
  }

  test("tombstone mask: losers gone, pre-delete stats, rebuild re-scores") {
    val terms = Seq("merge", "stream", "window")
    import spark.implicits._
    // a synthetic tombstone set drawn from the unmasked top-k, so the mask
    // provably bites regardless of fixture clustering
    val unmasked = Retrieval.bm25StoredTopK(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dead = unmasked.take(2).map(_._1)
    val masked = Retrieval.bm25StoredTopK(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir), terms, 10,
      Retrieval.Scope(mask = Some(dead.toDF("doc_id"))))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // deleted docs vanish from results...
    assert(masked.map(_._1).toSet.intersect(dead.toSet).isEmpty)
    // ...and surviving docs keep their PRE-delete scores (df/stats are the
    // stored index's until a rebuild) — the deleted-docs contract
    val unmaskedScores = unmasked.toMap
    assert(masked.forall { case (id, s) =>
      unmaskedScores.get(id).forall(_ == s) })
    // the rebuild end re-scores: same tombstones excised before indexing,
    // clean-corpus df/avgdl — scores for survivors may legitimately move
    val rebuilt = Retrieval.bm25TopK(Catalog.documents(spark, dir)
        .join(dead.toDF("doc_id"), Seq("doc_id"), "left_anti"), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rebuilt.map(_._1).toSet.intersect(dead.toSet).isEmpty)
    assert(rebuilt.nonEmpty)
  }

  test("rrfStored serves from stored indexes only") {
    val df = Retrieval.rrfStored(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir), Catalog.embeddings(spark, dir),
      Catalog.ivfFlat(spark, dir), Seq("merge", "stream", "window"),
      0L, 20, 10)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("lex_index") && p.contains("ivf_flat"),
      s"stored tiers missing from plan:\n$p")
    assert(!TestSpark.scansCorpusText(p),
      s"stored hybrid re-reads corpus text:\n$p")
    // fused scores must decompose into the two tier rankings
    val lexIds = Retrieval.bm25TopK(Catalog.documents(spark, dir),
      Seq("merge", "stream", "window"), 20).collect().map(_.getLong(0)).toSet
    val denIds = graft.ml.Ann.ivfTopK(Catalog.embeddings(spark, dir),
      Catalog.ivfCells(spark, dir), 0L, 20).collect().map(_.getLong(0)).toSet
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.nonEmpty && got.forall { case (id, _) =>
      lexIds.contains(id) || denIds.contains(id) })
    // a doc in both tiers outranks the same single-tier contribution
    assert(got.forall { case (_, s) => s > 0.0 && s <= 2.0 / (Retrieval.RrfK + 1) })
  }

  test("rrfStoredBatch slice == single rrfStored; store-only plan") {
    val terms = Seq("merge", "stream", "window")
    val queries = Seq(0L -> terms, 1L -> Seq("hash", "join"))
    val bdf = Retrieval.rrfStoredBatch(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir),
      Catalog.ivfFlat(spark, dir), queries.toDF("qid", "terms"),
      Catalog.embeddings(spark, dir).filter(col("vec_id") < 2), 20, 10)
    // BOTH qid slices check against their single-query paths: a fusion
    // window accidentally not partitioned by qid could still produce a
    // correct dominant-query slice, so one slice alone is not enough
    for ((qid, ts) <- queries) {
      val slice = bdf.filter(col("qid") === qid).collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      val single = Retrieval.rrfStored(Catalog.lexIndex(spark, dir),
        Catalog.lexStats(spark, dir), Catalog.embeddings(spark, dir),
        Catalog.ivfFlat(spark, dir), ts, qid, 20, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(slice == single, s"qid $qid slice diverges from single path")
    }
    val p = bdf.queryExecution.executedPlan.toString
    assert(p.contains("lex_index") && p.contains("ivf_flat") &&
      !TestSpark.scansCorpusText(p),
      s"batched hybrid must read only the stored tiers:\n$p")
  }

  private def enScope = Retrieval.Scope(
    Some(Retrieval.Slice.lang(Catalog.docMeta(spark, dir), "en")))

  test("rrfStoredFiltered: all hits in slice, ranks decompose per tier") {
    val terms = Seq("merge", "stream", "window")
    val df = Retrieval.rrfStored(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir), Catalog.embeddings(spark, dir),
      Catalog.ivfFlat(spark, dir), terms, 0L, 20, 10, enScope)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.nonEmpty)
    val enIds = Catalog.docMeta(spark, dir).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.forall { case (id, _) => enIds.contains(id) },
      "fused hit outside the metadata slice")
    // every fused score decomposes into the two filtered tier rankings
    val lexIds = Retrieval.bm25StoredTopKFiltered(Catalog.lexIndex(spark, dir),
      Catalog.docMeta(spark, dir), terms, "en", 20)
      .collect().map(_.getLong(0)).toSet
    val denIds = Ivf.topK(IvfCodec.Flat, Catalog.ivfFlat(spark, dir),
      Catalog.embeddings(spark, dir), 0L, 20,
      Ivf.Allowed(Catalog.docMeta(spark, dir).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))))
      .collect().map(_.getLong(0)).toSet
    assert(denIds.subsetOf(enIds), "dense tier leaked outside the slice")
    assert(got.forall { case (id, _) =>
      lexIds.contains(id) || denIds.contains(id) })
  }

  test("rrfStoredFilteredBatch slice == single rrfStoredFiltered; store-only") {
    val terms = Seq("merge", "stream", "window")
    val queries = Seq(0L -> terms, 1L -> Seq("hash", "join"))
    val bdf = Retrieval.rrfStoredBatch(Catalog.lexIndex(spark, dir),
      Catalog.lexStats(spark, dir), Catalog.ivfFlat(spark, dir),
      queries.toDF("qid", "terms"),
      Catalog.embeddings(spark, dir).filter(col("vec_id") < 2), 20, 10,
      scope = enScope)
    // both qid slices against the single filtered hybrid (the
    // rrfStoredBatch convention: one slice alone can mask a fusion window
    // not partitioned by qid)
    for ((qid, ts) <- queries) {
      val slice = bdf.filter(col("qid") === qid).collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      val single = Retrieval.rrfStored(Catalog.lexIndex(spark, dir),
        Catalog.lexStats(spark, dir), Catalog.embeddings(spark, dir),
        Catalog.ivfFlat(spark, dir), ts, qid, 20, 10, enScope).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(slice == single, s"qid $qid slice diverges from single path")
    }
    // every fused hit stays inside the metadata slice
    val enIds = Catalog.docMeta(spark, dir).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bdf.collect().forall(r => enIds.contains(r.getLong(1))),
      "fused hit outside the metadata slice")
    val p = bdf.queryExecution.executedPlan.toString
    assert(p.contains("lex_index") && p.contains("ivf_flat") &&
      p.contains("doc_meta") && !TestSpark.scansCorpusText(p),
      s"filtered batched hybrid must read only the stored tiers:\n$p")
  }

  test("fusion union-sum == full-outer coalesce reference (randomized)") {
    // The r16 fusion rewrite's claim: rrf(d) = Σ 1/(K+rank) as a union +
    // aggregation is BIT-identical to the former full-outer-join coalesce
    // form (double addition over ≤2 contributions commutes). Randomized
    // over tier overlap patterns incl. one-sided docs and disjoint sets;
    // the reference is computed locally with the exact double op order of
    // the old joined expression (lex contribution + den contribution).
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 8) {
      val ids = rnd.shuffle((1L to 30L).toList)
      val lexN = 1 + rnd.nextInt(10)
      val denN = 1 + rnd.nextInt(10)
      val lex = ids.take(lexN).zipWithIndex.map { case (d, i) => (d, i + 1) }
      val den = rnd.shuffle(ids).take(denN).zipWithIndex
        .map { case (d, i) => (d, i + 1) }
      val got = Retrieval.fuse(
        lex.toDF("doc_id", "rank"), den.toDF("doc_id", "rank"), 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val lexM = lex.toMap; val denM = den.toMap
      val want = (lexM.keySet ++ denM.keySet).map { d =>
        val c = lexM.get(d).map(r => 1.0 / (Retrieval.RrfK + r)).getOrElse(0.0) +
          denM.get(d).map(r => 1.0 / (Retrieval.RrfK + r)).getOrElse(0.0)
        d -> BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      }.toMap
      assert(got == want, s"trial $trial: $got vs $want")
    }
  }

  test("decontaminateBloom == decontaminate, bloom probe in the plan") {
    val docs = Catalog.documents(spark, dir)
    val exact = CorpusOps.decontaminate(docs, 25L, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = CorpusOps.decontaminateBloom(docs, 25L, 3)
    val got = pruned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("graft_bloom_contains"),
      s"bloom probe missing from plan:\n$p")
  }

  test("graft_bloom_contains: no false negatives, null-safe, arity-checked") {
    val vals = (0 until 500).map(i => s"shingle $i body")
    val bf = vals.toDF("s").stat.bloomFilter("s", 1000, 0.01)
    val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
    val probed = vals.toDF("s")
      .select(call_function("graft_bloom_contains", col("s"),
        lit(bos.toByteArray)).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(probed.forall(identity), "bloom reported a false negative")
    val onNull = Seq[Option[String]](None).toDF("s")
      .select(call_function("graft_bloom_contains", col("s"),
        lit(bos.toByteArray)))
      .collect().head
    assert(onNull.isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_bloom_contains('x')").collect()
    }
    // a NULL FILTER must fail the query loudly, not silently prune
    // everything (an empty decontamination result reads as "clean")
    val err = intercept[Throwable] {
      vals.toDF("s")
        .select(call_function("graft_bloom_contains", col("s"),
          lit(null).cast("binary")))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c => c.getMessage != null &&
        c.getMessage.contains("filter bytes are NULL")), s"got $err")
  }

  test("emb_topk_filtered: label predicate pushed, results all carry it") {
    val df = TestSpark.onSpark(Ivf.topK(IvfCodec.Flat, Catalog.ivfFlat(spark, dir),
      Catalog.embeddings(spark, dir), 0, 10, Ivf.Label(3)))
    val labels = Catalog.embeddings(spark, dir)
      .filter(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = df.collect().map(_.getLong(0))
    assert(got.nonEmpty && got.forall(labels.contains))
    // the flat-store path must equal the assignment-table derivation
    val viaCells = Ann.ivfTopKFiltered(Catalog.embeddings(spark, dir),
      Catalog.ivfCells(spark, dir), 0, 3, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == viaCells)
    // the predicate reaches the flat store's parquet scan as a pushed filter
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(label,3)"),
      s"label filter not pushed to the scan:\n$p")
  }
}
