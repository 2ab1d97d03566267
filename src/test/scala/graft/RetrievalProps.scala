package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.ml.Retrieval

/** Scalacheck laws for the retrieval tier: bm25TopK against an in-memory
  * BM25 model over random small corpora and query term sets, and the
  * batch == singles equivalence over random query batches. Scores compare
  * at the entries' own 4-dp rounding (the cross-engine contract), ranks
  * exactly. Corpora draw from a tiny vocabulary so term overlap, all-doc
  * misses, single-token docs, and repeated tokens all occur naturally.
  */
object RetrievalProps extends Properties("Retrieval") {
  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val vocab = Vector("a", "b", "c", "d", "e")

  private val corpus: Gen[Vector[(Long, String)]] = for {
    n <- Gen.choose(1, 8)
    texts <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 12)
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield toks.mkString(" "))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toVector

  private val terms: Gen[Vector[String]] = for {
    k <- Gen.choose(1, 3)
    ts <- Gen.pick(k, vocab)
  } yield ts.toVector

  property("bm25TopK == in-memory BM25 over random corpora") =
    forAll(corpus, terms) { (docs, ts) =>
      val got = Retrieval.bm25TopK(docs.toDF("doc_id", "text"), ts, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      got == Bm25Ref.topK(docs, ts, 5)
    }

  property("filtered bm25 == in-memory BM25 over the slice alone") =
    // the slice contract: candidates, df, AND n_docs/avgdl all come from
    // the metadata-defined sub-corpus — equal to running the unfiltered
    // model on the slice as its own corpus
    forAll(corpus, terms, Gen.oneOf("en", "de")) { (docs, ts, lang) =>
      val langOf = docs.map { case (id, _) =>
        id -> (if (id % 3 == 0) "en" else "de") }.toMap
      val df = docs.toDF("doc_id", "text")
        .withColumn(
          "lang",
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.col("doc_id") % 3 === 0, "en")
            .otherwise("de"))
      val got = Retrieval.bm25TopK(
        df.filter(org.apache.spark.sql.functions.col("lang") === lang), ts, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      got == Bm25Ref.topK(docs.filter(d => langOf(d._1) == lang), ts, 5)
    }

  property("chunkDocs covers every token; interior chunks overlap exactly") =
    forAll(Gen.choose(1, 40), Gen.choose(0, 4), Gen.choose(1, 60)) {
      (stride, overlap, n) =>
        val maxTok = stride + overlap
        val text = (1 to n).map(i => s"t$i").mkString(" ")
        val chunks = graft.ml.CorpusOps.chunkDocs(
            Seq((0L, text)).toDF("doc_id", "text"), maxTok, overlap)
          .collect().map(r => (r.getInt(1), r.getString(2).split(" ").toSeq))
          .sortBy(_._1)
        // every token appears in some chunk, in order, with exactly
        // `overlap` carried tokens at every interior boundary
        val starts = chunks.map(_._1 * stride)
        val covered = chunks.zip(starts).flatMap { case ((_, toks), s) =>
          toks.zipWithIndex.map { case (t, i) => (s + i, t) } }.toMap
        (covered.size == n) :| s"covered ${covered.size} of $n" &&
        covered.forall { case (i, t) => t == s"t${i + 1}" } :| "order" &&
        chunks.zip(chunks.drop(1)).forall { case ((_, a), (_, b)) =>
          a.takeRight(overlap) == b.take(overlap) } :| "carried overlap"
    }

  property("bm25StoredTopK over lexRows == corpus-side bm25TopK") =
    forAll(corpus, terms) { (docs, ts) =>
      val ddf = docs.toDF("doc_id", "text")
      val stored = Retrieval.bm25StoredTopK(Retrieval.lexRows(ddf),
          Retrieval.lexStatsRows(ddf), ts, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val corpusSide = Retrieval.bm25TopK(ddf, ts, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      stored == corpusSide
    }

  property("bm25TopKBatch == per-query singles over random batches") =
    forAll(corpus, Gen.listOfN(2, terms)) { (docs, queryTerms) =>
      val queries = queryTerms.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.toSeq) }
      val batch = Retrieval.bm25TopKBatch(docs.toDF("doc_id", "text"),
          queries.toDF("qid", "terms"), 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val singles = queries.flatMap { case (qid, ts) =>
        Retrieval.bm25TopK(docs.toDF("doc_id", "text"), ts, 5)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
      batch == singles
    }
}
