package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.ml.{Ann, Multimodal, NearDup}

class MlSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("NearDup finds the planted near-duplicate pair and nothing else") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 29).map(i => s"tok$i") :+ "CHANGED").mkString(" ")
    val unrelated = (1 to 30).map(i => s"other$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("doc_id", "text")
    val pairs = NearDup.nearDuplicates(docs, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 1)
    val (a, b, j) = pairs.head
    assert(a == 0L && b == 1L)
    // shingle sets: 28 each, 27 shared → jaccard 27/29
    assert(math.abs(j - 27.0 / 29.0) < 1e-4)
  }

  test("containmentPairs catches the subset shape Jaccard misses") {
    val big = (1 to 40).map(i => s"w$i").mkString(" ")
    val small = (1 to 10).map(i => s"w$i").mkString(" ") // a verbatim prefix
    val other = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, big), (2L, small), (3L, other))
      .toDF("doc_id", "text")
    // small ⊂ big: containment 8/min(38,8) = 1.0, jaccard 8/38 ≈ 0.21 —
    // invisible at any useful symmetric threshold
    val jac = NearDup.ngramJaccard(docs, 0.6, 50).collect()
    assert(jac.isEmpty)
    val con = NearDup.containmentPairs(docs, 0.9, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(con == Seq((1L, 2L, 38L, 8L, 1.0)))
    // surgery: the contained copy (doc 2, the smaller set) dies, the
    // superset and the unrelated doc survive
    val kept = NearDup.containmentRemoval(docs, 0.9, 50).collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    // store serving == live: removalFrom over the full pair table is the
    // same surgery (the Catalog.containPairs contract)
    val kept2 = NearDup.containmentRemovalFrom(
        NearDup.containmentPairs(docs, 0.9, 50), docs)
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == kept)
  }

  test("ivfOutliersFrom z-scores each vector against its own cell") {
    // three copies of centroid 1 (cosine 1.0) and its negation (cosine
    // -1.0), all pinned to cell 1: micro-sims 1e6×3 and -1e6, so mean =
    // 5e5, sd = sqrt(7.5e11) ≈ 866025.4 — only the negation exceeds 1 sd
    val c1 = graft.ml.TrainedCentroids.matrix.head.map(_.toFloat).toArray
    val emb = Seq((1L, c1), (2L, c1), (3L, c1),
      (4L, c1.map(-_))).toDF("vec_id", "embedding")
    val cells = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("vec_id", "cell")
    val out = Ann.ivfOutliersFrom(cells, emb, threshold = 1.0).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(out(4L) == ((-1000000L, -1.7321, true)))
    assert(Seq(1L, 2L, 3L).forall(v =>
      out(v) == ((1000000L, 0.5774, false))))
  }

  test("ivfDriftFrom reports zero drift for a cell sitting on its centroid") {
    val c1 = graft.ml.TrainedCentroids.matrix.head.map(_.toFloat).toArray
    val c2 = graft.ml.TrainedCentroids.matrix(1).map(_.toFloat).toArray
    val moved = c2.clone(); moved(0) = -10f // cell 2's mass has shifted
    val emb = Seq((1L, c1), (2L, c1), (3L, moved))
      .toDF("vec_id", "embedding")
    val cells = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("vec_id", "cell")
    val out = Ann.ivfDriftFrom(cells, emb).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // cell 1's mean IS the centroid (micro-rounding preserves the 6-dec
    // literal exactly) → drift 0; cell 2's mean points elsewhere
    assert(out(1L)._1 == 2L && out(1L)._2 == 0.0)
    assert(out(2L)._1 == 1L && out(2L)._2 > 0.1)
  }

  test("Ann: identical vector is a candidate with cosine 1; buckets prune") {
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(Ann.Dims)(rnd.nextGaussian().toFloat)
    val v0 = vec()
    val rows = Seq((0L, v0), (1L, v0.clone())) ++ (2L to 20L).map(i => (i, vec()))
    val emb = rows.toDF("vec_id", "embedding")
    val top = Ann.topK(emb, 0, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 == 1L && top.head._2 == 1.0) // the clone
    // candidate pruning really happened: candidates ≤ corpus − 1
    val nCands = Ann.buckets(emb).filter(col("vec_id") =!= 0)
      .join(Ann.buckets(emb).filter(col("vec_id") === 0)
        .select(col("t"), col("sig")), Seq("t", "sig"))
      .select("vec_id").distinct().count()
    assert(nCands >= 1 && nCands <= 20)
    assert(top.length <= 5)
  }

  test("SimHash: near-identical docs collide at low hamming; unrelated don't pair") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 39).map(i => s"tok$i") :+ "CHANGED").mkString(" ")
    val unrelated = (1 to 40).map(i => s"zz$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("doc_id", "text")
    val pairs = NearDup.simHashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 <= 3))
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L))
  }

  test("embedding-cosine near-dup finds the planted clone pair") {
    val rnd = new scala.util.Random(3)
    def vec(): Array[Float] = Array.fill(Ann.Dims)(rnd.nextGaussian().toFloat)
    val v = vec()
    val rows = Seq((0L, v), (1L, v.clone())) ++ (2L to 15L).map(i => (i, vec()))
    val pairs = Ann.nearDupCos(rows.toDF("vec_id", "embedding"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("embedding-cosine near-dup against a PERSISTED bucket index") {
    // the entry path reads Catalog.annBuckets (parquet); round-trip the
    // bucket table through parquet so the materialized form — not just the
    // in-memory derivation — is what the candidate join consumes (ADVICE r6:
    // the sf0.01 entry used to pass vacuously on 0 rows)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(Ann.Dims)(rnd.nextGaussian().toFloat)
    val v = vec()
    val rows = Seq((0L, v), (1L, v.clone())) ++ (2L to 15L).map(i => (i, vec()))
    val emb = rows.toDF("vec_id", "embedding")
    val dirPath = java.nio.file.Files.createTempDirectory("bk")
    try {
      val dir = dirPath.toString
      Ann.bucketIds(emb).write.mode("overwrite").parquet(dir)
      val pairs = Ann.nearDupCos(emb, spark.read.parquet(dir), 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
    } finally {
      // don't leak a parquet directory per test run (ADVICE r7)
      import java.nio.file.{Files, Path}
      import scala.jdk.CollectionConverters._
      Files.walk(dirPath).iterator().asScala.toSeq.reverse
        .foreach((p: Path) => Files.deleteIfExists(p))
    }
  }

  test("semanticDedup: within-cell lower-triangle removal, planted variants " +
      "removed iff they share their source's cell") {
    val emb = graft.model.Catalog.embeddings(spark,
      "/root/testdata/sf0.001")
    // threshold above any cosine: identity (no removal)
    assert(Ann.semanticDedupPlanted(emb, 1.1, 50).isEmpty,
      "an impossible threshold removed rows")
    // realistic threshold over the planted corpus: at 0.9 only the planted
    // (source, variant) pairs clear the bar (natural ceiling ~0.51), and the
    // variant is the removed side (source has the lower vec_id); removal
    // requires cell co-membership, so removed == variants sharing cells
    val removed = Ann.semanticDedupPlanted(emb, 0.9, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(removed.nonEmpty)
    assert(removed.keys.forall(_ >= Ann.PlantOffset),
      "a non-planted doc was removed at a threshold above the natural ceiling")
    val e = Ann.plantedCorpus(emb, 50)
    val cells = Ann.cellAssignment(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expect = cells.keys.filter(_ >= Ann.PlantOffset)
      .filter(v => cells.get(v) == cells.get(v - Ann.PlantOffset)).toSet
    assert(removed.keySet == expect,
      "removed set diverges from the co-cell planted variants")
    removed.foreach { case (v, c) => assert(cells(v) == c) }
  }

  test("n-gram Jaccard: exact inverted-index dedup; df-cap bounds candidates") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 29).map(i => s"tok$i") :+ "CHANGED").mkString(" ")
    val unrelated = (1 to 30).map(i => s"other$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("doc_id", "text")
    val pairs = NearDup.ngramJaccard(docs, 0.6, maxDf = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 1)
    assert(pairs.head._1 == 0L && pairs.head._2 == 1L)
    assert(math.abs(pairs.head._3 - 27.0 / 29.0) < 1e-4)
    // df-cap of 1 excludes every shared shingle from candidate generation
    // (each shared shingle has df=2) → no pairs at all
    assert(NearDup.ngramJaccard(docs, 0.6, maxDf = 1).count() == 0)
  }

  test("winnowing: sketch shrinks, guarantee holds, identical docs fully match") {
    // doc 0 and 1 share a 10-token run (>= k+w-1 = 6) → winnowing GUARANTEES
    // at least one shared fingerprint; doc 2 shares nothing
    val shared = (1 to 10).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (0L, s"aa bb cc $shared"),
      (1L, s"$shared xx yy zz"),
      (2L, (1 to 13).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val fps = NearDup.winnowFingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // sketch is strictly smaller than the full gram set (13 tokens → 11
    // grams; w=4 windows keep at most 8 distinct minima, typically ~2/(w+1))
    assert(fps.count(_._1 == 0L) < 11)
    val cands = NearDup.winnowCandidates(docs, minShared = 1, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.toSeq == Seq((0L, 1L)))
    // identical docs share their entire sketch
    val twins = Seq((0L, shared), (1L, shared)).toDF("doc_id", "text")
    val n = NearDup.winnowFingerprints(twins).filter(col("doc_id") === 0).count()
    val both = NearDup.winnowCandidates(twins, minShared = 1, maxDf = 50)
      .collect()
    assert(both.length == 1 && both.head.getLong(2) == n)
  }

  test("incrementalDupes: new docs flagged against the existing sketch only") {
    val shared = (1 to 10).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (0L, s"aa bb cc $shared"),                               // existing
      (1L, (1 to 13).map(i => s"old$i").mkString(" ")),        // existing
      (100L, s"$shared xx yy zz"),                             // new, dups 0
      (101L, (1 to 13).map(i => s"fresh$i").mkString(" ")),    // new, clean
      (102L, s"zz yy $shared")                                 // new, dups 0
    ).toDF("doc_id", "text")
    val got = NearDup.incrementalDupes(docs, splitId = 100L,
        minShared = 1, maxDf = 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(100L, 102L)) // clean new doc not flagged
    assert(got.values.toSet == Set(0L))   // matched to the existing source
    // new docs never flag each other (100 and 102 share `shared` too)
    assert(!got.values.exists(_ >= 100L))
  }

  test("ngramJaccard plan construction launches no Spark job (VERDICT r4 #5)") {
    val docs = Seq((0L, "a b c d e"), (1L, "a b c d f")).toDF("doc_id", "text")
    val (df, jobs, _) = TestSpark.jobsAndRecords(
      NearDup.ngramJaccard(docs, 0.6, maxDf = 50)) // construct only
    assert(jobs == 0, "constructing the DataFrame must not run a job")
    assert(df.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
  }

  test("IVF top-k: clone ranks first; probing touches only probed cells") {
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(Ann.Dims)(rnd.nextGaussian().toFloat)
    val v0 = vec()
    val rows = Seq((0L, v0), (99L, v0.clone())) ++
      (1L to 40L).map(i => (i, vec()))
    val emb = rows.toDF("vec_id", "embedding")
    val top = Ann.ivfTopK(emb, 0, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // the clone lands in the same cell as the query (identical cosines to
    // every centroid) so probing must surface it at sim 1.0
    assert(top.head._1 == 99L && top.head._2 == 1.0)
    assert(top.length <= 5)
  }

  test("resize: stride-2 byte downsample keeps odd positions") {
    val docs = Seq((1L, "abcde")).toDF("doc_id", "text")
    val r = Multimodal.resize(spark, docs).collect().head
    assert(r.getInt(1) == 3) // a, c, e
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest("ace".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(r.getString(2) == want)
  }

  test("frame sampling: deterministic stride over byte frames") {
    val text = ("x" * 300) // 300 bytes → frames 0..4 (64B); stride 4 → 0, 4
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(docs).collect()
      .map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(frames.map(_._1).toSeq == Seq(0, 4))
    val md = java.security.MessageDigest.getInstance("MD5")
    val f0 = md.digest("x" * 64 getBytes "UTF-8")
      .map(b => f"${b & 0xff}%02x").mkString
    assert(frames.head._2 == f0)
    // last frame (idx 4) is the 44-byte tail — substring truncates
    md.reset()
    val f4 = md.digest("x" * 44 getBytes "UTF-8")
      .map(b => f"${b & 0xff}%02x").mkString
    assert(frames.last._2 == f4)
  }

  test("language-ID picks the profile with most stopword hits; und when none") {
    val docs = Seq(
      (0L, "the cat and the dog is in a house"),
      (1L, "der hund und die katze ist ein tier"),
      (2L, "xyzzy plugh quux")).toDF("doc_id", "text")
    val out = graft.ml.TextAnalysis.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(0L -> "en", 1L -> "de", 2L -> "und"))
    // confusion vs a labeled lang column: the de doc mislabeled 'en'
    // lands in the (en, de) off-diagonal cell
    val labeled = docs.withColumn("lang",
      org.apache.spark.sql.functions.when($"doc_id" === 1L, "en")
        .otherwise("en"))
    val cm = graft.ml.TextAnalysis.langIdConfusion(labeled).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cm == Map(("en", "en") -> 1L, ("en", "de") -> 1L,
      ("en", "und") -> 1L))
  }

  test("cleanCorpus: dedups, gates quality, filters language in one plan") {
    val good = ((1 to 120).map(i => s"w$i") ++
      Seq("the", "and", "of")).mkString(" ") // long, clean, English
    val german = ((1 to 120).map(i => s"w$i") ++
      Seq("der", "die", "und", "und")).mkString(" ")
    val junk = "!!! ??? ***" // short + all punctuation → quality ~0
    val docs = Seq((3L, good), (1L, good) /* dup, lower id wins */,
      (5L, german), (7L, junk)).toDF("doc_id", "text")
    val out = graft.ml.TextAnalysis.cleanCorpus(docs, 0.5, "en").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L)) // canonical English survivor
    assert(out.head.getAs[Double]("quality") >= 0.5)
    assert(out.head.getAs[Int]("n_regex_tokens") == 123)
  }

  test("funnelReport charges each doc to the FIRST stage that drops it") {
    val good = ((1 to 120).map(i => s"w$i") ++
      Seq("the", "and", "of")).mkString(" ")
    val german = ((1 to 120).map(i => s"w$i") ++
      Seq("der", "die", "und", "und")).mkString(" ")
    val junk = "!!! ??? ***" // quality ~0, also non-English: charged to langid
    val blocked = ((1 to 120).map(i => s"w$i") ++
      Seq("the", "and", "of", "legacy")).mkString(" ")
    val docs = Seq((3L, good, "a"), (1L, good, "b"), (5L, german, "a"),
      (7L, junk, "a"), (9L, blocked, "b")).toDF("doc_id", "text", "source")
    val out = graft.ml.TextAnalysis.funnelReport(docs, 0.5, "en",
        Seq("slow", "dup", "legacy")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sortBy(_._1)
    // junk + german die at langid (junk is 'und' — first stage wins, its
    // quality failure is never double-counted); blocked dies at blocklist;
    // the good dup dies at exact_dup (doc 1 kept, doc 3 dropped)
    assert(out == Seq(
      (1L, "langid", 5L, 2L, 3L),
      (2L, "quality", 3L, 0L, 3L),
      (3L, "blocklist", 3L, 1L, 2L),
      (4L, "exact_dup", 2L, 1L, 1L)))
    // per-source: the cross-source dup (1 in "b" wins the global min) is
    // charged to source "a" where the losing copy lives
    val bySrc = graft.ml.TextAnalysis.funnelBySource(docs, 0.5, "en",
        Seq("slow", "dup", "legacy")).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(bySrc(("a", 1L)) == ((3L, 2L, 1L))) // german+junk die at langid
    assert(bySrc(("a", 4L)) == ((1L, 1L, 0L))) // doc 3 loses the global dedup
    assert(bySrc(("b", 3L)) == ((2L, 1L, 1L))) // blocked dies at blocklist
    assert(bySrc(("b", 4L)) == ((1L, 0L, 1L))) // doc 1 is the kept first
  }

  test("Multimodal: decodePgm parses real PGM bytes, rejects malformed ones") {
    val px = Array[Byte](10, 20, 30, 255.toByte)
    val img = "P5\n2 2\n255\n".getBytes("UTF-8") ++ px
    val Some((w, h, pixels)) = Multimodal.decodePgm(img)
    assert(w == 2 && h == 2)
    assert(pixels.toSeq == Seq(10, 20, 30, 255)) // byte 0xff reads as 255, not -1
    // multi-digit dims + tab/space separators parse
    val wide = "P5 12 1\t255\n".getBytes("UTF-8") ++ Array.fill[Byte](12)(7)
    assert(Multimodal.decodePgm(wide).map(_._1) == Some(12))
    // malformed: wrong magic, truncated pixel data, maxval over 8-bit
    assert(Multimodal.decodePgm("P6\n2 2\n255\n".getBytes ++ px) == None)
    assert(Multimodal.decodePgm("P5\n4 4\n255\n".getBytes ++ px) == None)
    assert(Multimodal.decodePgm("P5\n2 2\n65535\n".getBytes ++ px) == None)
    assert(Multimodal.decodePgm(Array[Byte]()) == None)
    // missing whitespace after maxval = malformed header, not pixel 0
    // (first pixel 65 = 'A', so only the separator check can reject it)
    assert(Multimodal.decodePgm(
      "P5\n1 1\n255".getBytes ++ Array[Byte](65)) == None)
    // a dimension that would wrap a 32-bit int must reject, not alias to a
    // small "valid" image
    assert(Multimodal.decodePgm(
      "P5\n4294967297 1\n255\n".getBytes ++ Array[Byte](7)) == None)
  }

  test("Multimodal: documentFeatures decodes planted PGM stats per partition") {
    val text = ('a' to 'z').mkString + "ABCDEF" // 32 chars, codes 97..122,65..70
    val docs = Seq((7L, text), (8L, "short")).toDF("doc_id", "text")
    val rows = Multimodal.documentFeatures(spark, docs).collect()
    assert(rows.length == 1) // <32-char doc has no full image → dropped
    val r = rows.head
    val codes = text.take(32).map(_.toInt)
    assert(r.getAs[Int]("width") == 8 && r.getAs[Int]("height") == 4)
    assert(r.getAs[Int]("n_px") == 32)
    assert(r.getAs[Int]("min_px") == codes.min) // 'A' = 65
    assert(r.getAs[Int]("max_px") == codes.max) // 'z' = 122
    assert(r.getAs[Long]("sum_px") == codes.sum.toLong)
    assert(r.getAs[Double]("mean_px") ==
      math.rint(codes.sum.toDouble / 32 * 1e4) / 1e4)
  }
}
