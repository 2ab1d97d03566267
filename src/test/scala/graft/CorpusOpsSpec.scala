package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.ml.{Clusters, CorpusOps, NearDup}

class CorpusOpsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("connectedComponents merges transitive chains and keeps islands apart") {
    // chain 1-2, 2-3 (1~3 never paired) plus isolated pair 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val cc = Clusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents converges on a long path (diameter > 2)") {
    val pairs = (1L until 7L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Clusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 7 && cc.values.forall(_ == 1L))
  }

  test("connectedComponents runs ONE job per round (fused convergence check)") {
    // VERDICT r13 #2: the moved-row count must ride the round's checkpoint
    // materialization (accumulator), not a second count() action — two
    // driver-scheduled waves per round amplified 5-20x under load. With AQE
    // off AND broadcast joins disabled (a BroadcastExchange collects via
    // its own scheduler job) one action == one scheduler job, so the count
    // is exact: seed checkpoint + 1 verify round (a clique converges at
    // the seed) = 2 jobs inside the call, + 1 for the result collect.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val counters = new graft.util.BenchCounters
    spark.sparkContext.addSparkListener(counters)
    try {
      val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
      val before = counters.drainedSnapshot(spark.sparkContext)
      val cc = Clusters.connectedComponents(pairs)
      val rows = cc.collect()
      val delta = counters.drainedSnapshot(spark.sparkContext) - before
      assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      assert(delta.jobs == 3,
        s"expected seed + 1 round + collect = 3 jobs, got ${delta.jobs}")
    } finally {
      spark.sparkContext.removeSparkListener(counters)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abj)
    }
  }

  test("dedupClusters resolves the planted A~B~C chain to one cluster") {
    val base = (1 to 30).map(i => s"tok$i")
    val a = base.mkString(" ")
    val b = (base.dropRight(1) :+ "CHANGED").mkString(" ") // ~a
    val c = (base.dropRight(2) ++ Seq("CHANGED", "MORE")).mkString(" ") // ~b
    val other = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((10L, a), (11L, b), (12L, c), (13L, other))
      .toDF("doc_id", "text")
    val cc = Clusters.dedupClusters(docs, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.keySet.contains(10L) && cc.keySet.contains(11L))
    assert(cc.values.toSet == Set(10L)) // every clustered doc labels to min
    assert(!cc.keySet.contains(13L)) // the unrelated doc never enters a pair
  }

  test("removeNearDupsKeepBest keeps the highest-quality member, not the min id") {
    // a (id 10, 40 tokens) ~ b (id 11, the same 40 tokens + 20 more): one
    // cluster; quality scales with token count below 100, so b outscores a
    // and must survive even though a has the smaller id — the exact case
    // where keep-min-id deletes the better copy
    val base = (1 to 40).map(i => s"tok$i")
    val extra = (1 to 20).map(i => s"extra$i")
    val docs = Seq(
      (10L, base.mkString(" ")),
      (11L, (base ++ extra).mkString(" ")),
      (13L, (1 to 30).map(i => s"zzz$i").mkString(" "))
    ).toDF("doc_id", "text")
    val best = Clusters.removeNearDupsKeepBest(docs, 0.5).collect()
      .map(_.getLong(0)).toSet
    assert(best == Set(11L, 13L), s"keep-best survivors: $best")
    // contrast: the min-id policy keeps 10 — the two entries really differ
    val minId = Clusters.removeNearDups(docs, 0.5).collect()
      .map(_.getLong(0)).toSet
    assert(minId == Set(10L, 13L), s"min-id survivors: $minId")
    graft.util.Caches.drain()
  }

  test("stratifiedSample takes exactly min(n, |stratum|) per stratum, deterministically") {
    val docs = ((1L to 9L).map(i => (i, "en")) ++ (20L to 22L).map(i => (i, "de")))
      .toDF("doc_id", "lang")
    val s1 = CorpusOps.stratifiedSample(docs, "lang", 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val s2 = CorpusOps.stratifiedSample(docs, "lang", 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(s1 == s2) // hash order, no RNG state
    assert(s1.count(_._2 == "en") == 5)
    assert(s1.count(_._2 == "de") == 3) // stratum smaller than n: all of it
  }

  test("vocabTopK counts tokens with a total tie-break order") {
    val docs = Seq((1L, "a b b c"), (2L, "b c c a")).toDF("doc_id", "text")
    val top = CorpusOps.vocabTopK(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // b and c both occur 3 times; token ASC breaks the tie
    assert(top == Seq(("b", 3L), ("c", 3L)))
  }

  test("decontaminate flags only training docs sharing enough benchmark shingles") {
    val leaked = (1 to 10).map(i => s"w$i").mkString(" ") // 8 shared shingles
    val clean = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq((0L, leaked), (100L, leaked), (101L, clean))
      .toDF("doc_id", "text")
    val out = CorpusOps.decontaminate(docs, benchMaxId = 50L, minOverlap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(100L -> 8L)) // benchmark doc 0 itself is never reported
  }

  test("decontaminateFuzzy flags cross-split near-dups, never train-train") {
    val leaked = (1 to 10).map(i => s"w$i").mkString(" ")
    // one word changed: 8 shingles each, 5 shared → jaccard 5/11 ≈ 0.4545
    val para = ((1 to 7).map(i => s"w$i") ++ Seq("z") ++
      (9 to 10).map(i => s"w$i")).mkString(" ")
    val trainDup = (1 to 10).map(i => s"y$i").mkString(" ")
    val docs = Seq((0L, leaked), (100L, leaked), (101L, para),
        (102L, trainDup), (103L, trainDup))
      .toDF("doc_id", "text")
    val out = CorpusOps.decontaminateFuzzy(docs, benchMaxId = 50L,
        minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    // 100 is an exact clone of bench doc 0 (jaccard 1.0); 101 is the
    // paraphrase IF banding surfaces it (5 shared shingles may or may not
    // share a band — don't pin recall, pin precision); the train-train
    // clone pair 102/103 must NEVER appear: the probe is cross-split only
    assert(out.contains(100L) && out(100L) == (1L, 1.0))
    assert(!out.contains(102L) && !out.contains(103L) && !out.contains(0L))
    out.get(101L).foreach { case (n, j) => assert(n == 1L && j < 0.5) }
  }

  test("decontaminateRemoval keeps exactly the unflagged training docs") {
    val leaked = (1 to 10).map(i => s"w$i").mkString(" ")
    val clean = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq((0L, leaked, "bench"), (100L, leaked, "web"),
        (101L, clean, "web"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.decontaminateRemoval(docs, 50L, 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // 100 is flagged (8 shared shingles ≥ 3) and removed; the bench doc
    // itself is never part of the training output
    assert(out == Seq((101L, "web")))
  }

  test("ngramNovelty scores shared shingles as non-novel, drops tiny docs") {
    // docs 1 and 2 share their first shingle ("a b c"); everything else
    // is unique; doc 3 is too short to shingle and must drop
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = CorpusOps.ngramNovelty(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out == Map(1L -> ((2L, 1L, 0.5)), 2L -> ((2L, 1L, 0.5))))
  }

  test("decontaminateFuzzyFrom over the pair graph equals the live probe") {
    val leaked = (1 to 10).map(i => s"w$i").mkString(" ")
    val trainDup = (1 to 10).map(i => s"y$i").mkString(" ")
    val docs = Seq((0L, leaked), (100L, leaked), (102L, trainDup),
      (103L, trainDup)).toDF("doc_id", "text")
    val live = CorpusOps.decontaminateFuzzy(docs, 50L, 0.6)
      .collect().map(_.toSeq).toSet
    // the stored path reads the FULL near-dup pair graph (what
    // Catalog.dupPairs materializes) and filters cross-split
    val stored = CorpusOps.decontaminateFuzzyFrom(
        NearDup.nearDuplicates(docs, 0.6), 50L)
      .collect().map(_.toSeq).toSet
    assert(live == stored && live.nonEmpty)
  }

  test("decontaminateFuzzyBands: the distributed fallback past the collect " +
      "cap equals the collected-inline path (ADVICE r20)") {
    val leaked = (1 to 10).map(i => s"w$i").mkString(" ")
    val para = ((1 to 7).map(i => s"w$i") ++ Seq("z") ++
      (9 to 10).map(i => s"w$i")).mkString(" ")
    val docs = Seq((0L, leaked), (1L, para), (100L, leaked), (101L, para))
      .toDF("doc_id", "text")
    val bands = NearDup.bands(NearDup.signatures(NearDup.shingles(
        docs.filter(col("doc_id") < 50L))))
      .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val inline = CorpusOps.decontaminateFuzzyBands(docs, bands, 50L, 0.3)
      .collect().map(_.toSeq).toSet
    // cap 0 pushes every band row past the limit probe: no collect, no
    // isin literal — the broadcast semi-join path must agree exactly
    val fallback = CorpusOps.decontaminateFuzzyBands(docs, bands, 50L, 0.3,
        maxCollected = 0)
      .collect().map(_.toSeq).toSet
    assert(inline == fallback && inline.nonEmpty)
  }

  test("stored-fixture bloom decontamination equals the live paths") {
    // The Catalog.decontamBench/decontamBloomBytes serving shape: bench
    // shingles round-trip through parquet, the bloom arrives as pre-built
    // bytes — the fold must equal both decontaminate (exact) and
    // decontaminateBloom (live bloom build), the decontaminate_bloom
    // serving contract (VERDICT r15 #5).
    val leaked = (1 to 10).map(i => s"w$i").mkString(" ")
    val partial = ((1 to 4).map(i => s"w$i") ++ (1 to 6).map(i => s"y$i"))
      .mkString(" ") // shares shingles w1..w4 → 2 overlapping 3-grams
    val docs = Seq((0L, leaked), (100L, leaked), (101L, partial))
      .toDF("doc_id", "text")
    val live = CorpusOps.decontaminate(docs, 50L, 3)
      .collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("decon-store").toString
    NearDup.shingles(docs).filter($"doc_id" < 50L).select("shingle")
      .distinct().write.mode("overwrite").parquet(dir)
    val bench = spark.read.parquet(dir)
    val bf = bench.stat.bloomFilter("shingle", 64L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val stored = CorpusOps.decontaminateBloomStored(docs, bench,
        bos.toByteArray, 50L, 3)
      .collect().map(_.toSeq).toSet
    assert(stored == live && live.nonEmpty)
  }

  test("mixtureSample fills per-source quotas, capped by availability") {
    val docs = ((1 to 10).map(i => (i.toLong, "srcA")) ++
      (11 to 13).map(i => (i.toLong, "srcB")))        // srcB short of quota
      .map { case (id, s) => (id, "t", s) }.toDF("doc_id", "text", "source")
    val got = CorpusOps
      .mixtureSample(docs, Seq("srcA" -> 0.6, "srcB" -> 0.4), total = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc == Map("srcA" -> 6, "srcB" -> 3)) // 0.4*10=4 wanted, 3 exist
    // deterministic: a second draw returns the identical id set
    val again = CorpusOps
      .mixtureSample(docs, Seq("srcA" -> 0.6, "srcB" -> 0.4), total = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("repetition: hand-computed bigram/trigram fractions") {
    val docs = Seq((1L, "a b a b a"), (2L, "x y z w")).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis.repetition(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // doc 1: bigrams (a b, b a, a b, b a) → top 2/4; trigrams (aba, bab, aba)
    // → 1 − 2/3 repeats
    assert(got(1L) == ((0.333333, 0.5)))
    // doc 2: all bigrams unique → 1/3; trigrams all distinct → 0
    assert(got(2L) == ((0.0, 0.333333)))
  }

  test("packBatches: greedy fill invariants, deterministic layout") {
    val rnd = new scala.util.Random(5)
    val docs = (1L to 60L).map(i =>
      (i, (1 to rnd.nextInt(40) + 1).map(_ => "t").mkString(" ")))
      .toDF("doc_id", "text")
    val got = CorpusOps.packBatches(docs, budget = 50L, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 60)
    // every doc is in the batch its prefix sum starts in → recompute naively
    val byShard = got.groupBy(_._2)
    for ((_, rows) <- byShard) {
      // reconstruct the md5 order from the assignment: batch ids must be
      // non-decreasing along the order and each batch's token load must
      // stay under budget + its last doc (greedy overflow bound)
      val loads = rows.groupBy(_._4).view.mapValues(_.map(_._3).sum)
      for ((b, load) <- loads if loads.contains(b + 1))
        assert(load >= 50L - 40L, s"batch $b underfilled at $load") // no gaps
      for ((_, load) <- loads)
        assert(load <= 50L + 40L, s"overflow beyond one doc: $load")
    }
    // deterministic: same input → identical assignment
    val again = CorpusOps.packBatches(docs, budget = 50L, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("repetition pins dup_trigram_frac to 0.0 below 3 tokens") {
    // unguarded sequence(0, size-3) would go descending on a 2-token doc and
    // invent degenerate trigrams (dup_trigram_frac 0.5 vs the oracle's 0/0)
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis.repetition(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(1L) == ((0.0, 1.0))) // no trigrams; the single bigram is top
  }

  test("tfidf/logprob vocabulary join is never hint-broadcast") {
    // a 100 TB corpus has an unbounded vocabulary: the df/unigram side must
    // reach the term join through a shuffle (AQE may downgrade at runtime,
    // but a broadcast() HINT would force it at any size → driver OOM).
    // Threshold -1 disables auto-broadcast, so any BroadcastHashJoin left in
    // the plan can only come from a reintroduced hint.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
      for (df <- Seq(CorpusOps.tfidfTopTerms(docs, 2),
                     CorpusOps.unigramLogProb(docs))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"vocabulary side must not be a build-side broadcast:\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("de-hinted vocab join still broadcasts at runtime via AQE when small") {
    // complement of the no-hint test above: with the default threshold the
    // tiny df table must reach the term join as a RUNTIME broadcast (AQE
    // converts after seeing post-shuffle sizes) — proving the hint removal
    // costs nothing when the vocabulary actually fits
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"))
      .toDF("doc_id", "text")
    val df = CorpusOps.tfidfTopTerms(docs, 2)
    df.collect() // adaptive plans finalize on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"AQE did not runtime-broadcast the small vocab side:\n$plan")
  }

  test("Caches.memoize: statement-scoped, cleared by drain") {
    var builds = 0
    def make() = graft.util.Caches.memoize("spec:memo") {
      builds += 1
      Seq((1L, "x")).toDF("id", "v")
    }
    val a = make(); val b = make()
    assert(builds == 1 && (a eq b)) // second call reuses the first build
    graft.util.Caches.drain()
    make()
    assert(builds == 2) // a new statement window builds afresh
    graft.util.Caches.drain()
  }

  test("scrub counts and masks emails and urls") {
    val docs = Seq(
      (1L, "mail a.b+c@x-y.io and also http://t.co/z here"),
      (2L, "nothing to hide")).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis.scrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1)
    assert(got(2L) == ((0, 0, TestSpark.spark.sql(
      "SELECT md5('nothing to hide')").head.getString(0))))
    // masked text hashes differently from the original
    assert(got(1L)._3 != got(2L)._3)
  }

  test("temperatureSample: sqrt-law quotas upweight small sources, " +
      "md5-order draw, quota law matches hand arithmetic") {
    // skewed corpus: 90 / 9 / 1 docs per source
    val docs = ((1 to 90).map(i => (i.toLong, "big")) ++
      (91 to 99).map(i => (i.toLong, "mid")) :+ (100L -> "tiny"))
      .toDF("doc_id", "source")
    val total = 30
    val got = CorpusOps.temperatureSample(docs, 0.5, total).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    // hand arithmetic: z = √90 + √9 + √1; quota_d = round(30·√n_d/z)
    val z = math.sqrt(90.0) + 3.0 + 1.0
    // quota law: round(30·√n_d/z), capped by what the source HAS (tiny's
    // quota is 2 but it holds one doc — an under-provisioned source
    // contributes all of it, the mixtureSample contract)
    val quota = Map(
      "big" -> math.round(total * math.sqrt(90.0) / z).toInt,
      "mid" -> math.round(total * 3.0 / z).toInt,
      "tiny" -> math.round(total * 1.0 / z).toInt)
    val n = Map("big" -> 90, "mid" -> 9, "tiny" -> 1)
    val want = quota.map { case (s, q) => s -> math.min(q, n(s)) }
    assert(bySrc == want.filter(_._2 > 0))
    // α = 0.5 upweights the tail: tiny's QUOTA is ~2.2/30 ≈ 7.4% of the
    // draw vs its 1% corpus share
    assert(quota("tiny") * 100.0 / total > 100.0 * 1 / 100,
      "temperature did not upweight the smallest source")
    // the draw is the shared md5-order prefix per source
    val drawnBig = got.filter(_._2 == "big").map(_._1).toSet
    val orderedBig = (1 to 90).map(_.toLong)
      .sortBy(id => (TestSpark.spark.sql(
        s"SELECT md5('tmp:' || '$id')").head.getString(0), id))
      .take(want("big")).toSet
    assert(drawnBig == orderedBig)
  }

  test("gopherRules: each rule independently fails its crafted doc") {
    val pad = (1 to 60).map(_ => "have").mkString(" ") // 60 words, all alpha
    val good = pad + " of" // 2 distinct stops, meanLen ok
    val docs = Seq(
      (1L, good),                                      // passes everything
      (2L, "the of"),                                  // too few words
      (3L, (1 to 60).map(_ => "a").mkString(" ") + " the of"), // meanLen < 3
      (4L, pad + " of " + (1 to 20).map(_ => "#").mkString(" ")), // symbols
      (5L, pad + " of " + (1 to 20).map(_ => "123").mkString(" ")), // alpha
      (6L, (1 to 60).map(i => s"tok$i").mkString(" ")) // no stop words
    ).toDF("doc_id", "text")
    val got = graft.ml.TextAnalysis.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> false))
    // the relaxed stop gate the oracle entry pins: doc 6 still fails (0
    // hits), doc 1 still passes
    val relaxed = graft.ml.TextAnalysis.gopherRules(docs, minStops = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(relaxed(1L) && !relaxed(6L))
  }

  test("tfidfTopTerms ranks by rounded score with term tie-break") {
    // 4 docs; "rare" appears in doc 1 only (3×), "mid" in docs 1-2,
    // "all" in every doc (idf = ln(1) = 0)
    val docs = Seq(
      (1L, "rare rare rare mid all"), (2L, "mid all"),
      (3L, "all all"), (4L, "all")).toDF("doc_id", "text")
    val got = CorpusOps.tfidfTopTerms(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._4)
    assert(d1.map(_._2).toSeq == Seq("rare", "mid"))
    assert(d1.head._3 == math.rint(3 * math.log(4.0) * 1e6) / 1e6)
    // doc 3: "all" scores 0 (idf ln(1)=0) but still ranks (only term)
    assert(got.filter(_._1 == 3L).map(_._2).toSeq == Seq("all"))
  }

  test("chunkDocs: window boundaries, carried overlap, no pure-suffix chunks") {
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, toks(5)),   // shorter than overlap -> one chunk of 5
      (2L, toks(50)),  // exactly maxTok -> one chunk
      (3L, toks(51)),  // one token beyond -> second window carries it
      (4L, toks(60)),  // [1..50] + [41..60]
      (5L, toks(130))  // three strides: starts 0, 40, 80, (120 > n-overlap-1)
    ).toDF("doc_id", "text")
    val got = graft.ml.CorpusOps.chunkDocs(docs, 50, 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .groupBy(_._1)
    assert(got(1L).toSeq == Seq((1L, 0, toks(5), 5)))
    assert(got(2L).toSeq == Seq((2L, 0, toks(50), 50)))
    assert(got(3L).map(c => (c._2, c._4)).sorted.toSeq == Seq((0, 50), (1, 11)))
    // chunk 1 of doc 4 starts at token 41 (10 tokens of carried context)
    val d4 = got(4L).sortBy(_._2)
    assert(d4.map(c => (c._2, c._4)).toSeq == Seq((0, 50), (1, 20)))
    assert(d4(1)._3.startsWith("t41 ") && d4(1)._3.endsWith(" t60"))
    val d5 = got(5L).sortBy(_._2)
    assert(d5.map(c => (c._2, c._4)).toSeq == Seq((0, 50), (1, 50), (2, 50)))
    assert(d5(2)._3.startsWith("t81 ") && d5(2)._3.endsWith(" t130"))
  }

  test("weightedSample == the A-ES reference: top-k by ln(u)/w with " +
      "md5 uniforms, longer docs proportionally likelier") {
    val docs = (0L until 40L)
      .map(i => (i, (1 to (i % 7 + 1).toInt).map(_ => "w").mkString(" "), s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val got = CorpusOps.weightedSample(docs, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    // reference: same md5 uniform, same log-domain key, in plain Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def keyOf(id: Long, w: Int): Double = {
      val hex = md.digest(s"aes:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 16777216.0
      BigDecimal(math.log(u) / w).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = (0L until 40L).map(i => (i, keyOf(i, (i % 7 + 1).toInt)))
      .sortBy { case (id, k) => (-k, id) }.take(10)
    assert(got.toSeq == want)
  }

  test("dataConstrainedEpochs: cap binds, sub-epoch sources keep " +
      "effective == unique, and repeats discount toward the asymptote") {
    // three sources, equal budget split 300/source: tiny (10 tok → capped
    // at 4 epochs), medium (100 tok → 3 epochs, repeats discounted),
    // large (600 tok → 0.5 epochs, no repeats)
    val docs = (Seq.fill(1)(("a", 10)) ++ Seq(("b", 100), ("c", 600)))
      .zipWithIndex
      .map { case ((s, n), i) => (i.toLong, (1 to n).map(_ => "w").mkString(" "), s) }
      .toDF("doc_id", "text", "source")
    val got = CorpusOps.dataConstrainedEpochs(docs, 900L, maxEpochs = 4.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (ua, ea, sa, fa) = got("a")
    assert(ua == 10L && ea == 4.0 && sa == 40.0, "cap must bind for a")
    // capped repeats R=3: effective = 10 + 10·15.4·(1−exp(−3/15.4))
    assert(math.abs(fa - (10 + 10 * 15.4 * (1 - math.exp(-3 / 15.4)))) < 1e-3)
    val (ub, eb, sb, fb) = got("b")
    assert(ub == 100L && eb == 3.0 && sb == 300.0)
    assert(fb > ub && fb < sb, "repeat value must sit between unique and served")
    val (uc, ec, sc, fc) = got("c")
    assert(uc == 600L && ec == 0.5 && sc == 300.0)
    assert(fc == uc.toDouble, "no repeats → effective equals unique")
  }
}
