package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.streaming.DocumentsIngest

/** Scalacheck laws for the streamed containment pair admission
  * (DocumentsIngest.containAdmission) — the cases the fixed
  * two-batch StreamReplaySpec cannot reach:
  *
  *  - EXACTNESS: every streamed pair's (na, nb, containment) equals an
  *    independent plain-Scala computation over the full shingle sets —
  *    admission-time discovery never reports a stale value (docs are
  *    immutable; the batch writer joins the ACCUMULATED store).
  *  - RECALL SANDWICH: batch pipeline ⊆ streamed ⊆ all true pairs. The
  *    deliberately tiny df cap makes shingles CROSS the cap mid-stream,
  *    exercising the documented superset direction (a pair admitted while
  *    its witness shingle was still rare stays admitted; the batch
  *    generation, judging by final df, may skip it — more recall,
  *    identical exact values, never less).
  *  - REPLAY: re-invoking the LAST batch id (the only batch foreachBatch
  *    can redeliver — replays happen before any later batch commits)
  *    leaves the store row-identical INCLUDING multiplicity (the b=<id>
  *    overwrite discipline) — idempotent, not additive.
  */
object ContainmentStreamProps extends Properties("ContainmentStream") {
  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val MinC = 0.5
  private val MaxDf = 2 // tiny ON PURPOSE: shingles must cross it mid-stream

  private val pool = Vector("a", "b", "c", "d", "e")

  private def docGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    toks <- Gen.listOfN(n, Gen.oneOf(pool))
  } yield toks.mkString(" ")

  private def corpusGen: Gen[(Vector[(Long, String, String)], Int)] = for {
    n <- Gen.choose(2, 7)
    docs <- Gen.listOfN(n, docGen)
    k <- Gen.choose(1, 3)
  } yield (docs.zipWithIndex.map { case (t, i) => (i.toLong, t, "s") }
    .toVector, k)

  private def shingleSet(t: String): Set[String] = {
    val tk = t.split(" ", -1).toSeq
    if (tk.size < 3) Set.empty
    else tk.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Exact containment over full shingle sets, Spark's HALF_UP rounding. */
  private def refPairs(
      docs: Vector[(Long, String, String)]): Map[(Long, Long), (Long, Long, Double)] = {
    val sh = docs.map { case (id, t, _) => id -> shingleSet(t) }.toMap
    (for {
      Seq(a, b) <- docs.map(_._1).sorted.combinations(2).toSeq
      i = (sh(a) & sh(b)).size
      if sh(a).nonEmpty && sh(b).nonEmpty && i > 0
      c = BigDecimal(i.toDouble / math.min(sh(a).size, sh(b).size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= MinC
    } yield (a, b) -> ((sh(a).size.toLong, sh(b).size.toLong, c))).toMap
  }

  property("streamed admission: exact values, batch ⊆ streamed ⊆ true, " +
      "replay converges under mid-stream df-cap crossings") =
    forAll(corpusGen) { case (docs, k) =>
      val base = java.nio.file.Files
        .createTempDirectory("graft_containprops").toString
      try {
        val df = docs.toDF("doc_id", "text", "source")
        val write = DocumentsIngest.containAdmission(base, MinC, MaxDf)
        val batchOf = (id: Long) =>
          df.filter(org.apache.spark.sql.functions.col("doc_id") % k === id)
        (0L until k.toLong).foreach(id => write(batchOf(id), id))
        def pairRows() = spark.read.parquet(s"$base/pairs")
          .select("doc_a", "doc_b", "na", "nb", "containment").collect()
          .map(r => ((r.getLong(0), r.getLong(1)),
            (r.getLong(2), r.getLong(3), r.getDouble(4)))).toSeq.sorted
        val rows = pairRows()
        val streamed = rows.toMap
        val ref = refPairs(docs)
        val batch = graft.ml.NearDup
          .containmentPairs(df, MinC, MaxDf).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = streamed.forall { case (key, v) => ref.get(key).contains(v) }
        val sandwich = batch.subsetOf(streamed.keySet) &&
          streamed.keySet.subsetOf(ref.keySet)
        // no pair discovered twice across batch generations
        val once = rows.size == streamed.size
        // at-least-once replay of the LAST batch id (the only one the
        // foreachBatch contract can redeliver) — multiset-identical store
        write(batchOf(k.toLong - 1), k.toLong - 1)
        val replayOk = pairRows() == rows
        exact && sandwich && once && replayOk
      } finally graft.ingest.Compact.rmTree(base)
    }
}
