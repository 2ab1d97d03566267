package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) of the embedding corpus — the far end of the
  * scalar-quantization family Quant opens (SQ8's own scaladoc names it):
  * each vector splits into `M` disjoint subspaces and stores ONE BYTE per
  * subspace — the index of its nearest codebook centroid — so a
  * 64-dim float32 row shrinks 256 B → 8 B (32×, vs SQ8's 4×). Ranking is
  * asymmetric ADC (asymmetric distance computation): the raw query against
  * the candidate's reconstructed centroids, where every reconstructed
  * float comes from the committed codebook CONSTANTS — candidates
  * themselves contribute only their M code bytes (expressions.PqSim, the
  * codegen'd kernel).
  *
  * Like SQ8, PQ composes with the IVF coarse quantizer
  * (Catalog.pqIvfStore: codes hive-partitioned by cell); a lookup probes
  * its nearest cells and ranks only those partitions' codes — O(probed
  * cells) serving over a store 32× smaller than the floats. Codebooks are
  * trained offline on a corpus sample (TrainPq → TrainedPqCodebooks, the
  * TrainedCentroids pattern), so both engines embed the same literal
  * matrices and the DuckDB oracle can mirror encode + rank exactly.
  *
  * Quality sits below SQ8 (16 centroids replace a whole 8-dim subspace —
  * quantization error is per-REGION, not per-component); PqSpec measures
  * the probed-cell overlap against IVF-flat and pins a floor. The
  * reference engine stores float scores only; this is
  * pipeline-beyond-reference surface like the rest of ml/.
  */
object Pq {

  val M = 8                    // subspaces per vector
  val Ksub = 16                // centroids per subspace codebook
  val SubDim = Ann.Dims / M    // dimensions per subspace
  // fail loudly if the committed codebooks' shape ever drifts from the
  // geometry the encode/rank expressions are generated with (TrainPq
  // writes M×Ksub×SubDim; a partial regeneration would otherwise
  // mis-index silently)
  require(TrainedPqCodebooks.books.length == M &&
    TrainedPqCodebooks.books.forall(b =>
      b.length == Ksub && b.forall(_.length == SubDim)),
    s"TrainedPqCodebooks shape != ${M}x${Ksub}x$SubDim")

  /** The M-byte code row for a double-array embedding column: each byte
    * is the 0-based index of the subspace's nearest centroid (ties →
    * lowest index), through the PqCodes kernel — over the residual
    * codebooks for the residual tier (PqResidual). A pure per-row
    * expression — the batch store build and the streamed upkeep share it
    * verbatim (there is no quantizer to freeze: the codebooks ARE
    * committed constants). */
  private[graft] def codesExpr(emb: Column, residual: Boolean = false): Column =
    call_function(if (residual) "graft_pqr_codes" else "graft_pq_codes", emb)

  /** (vec_id, codes array<tinyint> of length M) — the PERSISTABLE store
    * content (Catalog.pqIvfStore lays it out under the coarse quantizer). */
  def pqCodes(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), codesExpr(col("emb")).as("codes"))

  // Serving: the composed PQ×IVF store (Catalog.pqIvfStore) is one tier
  // of the shared IVF path (Ivf); its codec (IvfCodec.Pq) ranks probed rows
  // through the PqSim ADC kernel on the code bytes alone.

  // Entry points the benchmark harness (perfbench/harness) calls by name;
  // the harness may not change with the engine, so each keeps its
  // signature as one call into the shared path.
  def pqIvfTopKFrom(store: DataFrame, emb: DataFrame, qVecId: Long,
      k: Int): DataFrame =
    Ivf.topK(IvfCodec.Pq, store, emb, qVecId, k)
  def pqIvfOracleSql(qVecId: Long, k: Int): String =
    Ivf.oracleSql(IvfCodec.Pq, qVecId, k)

  /** Recall@k of the PQ×IVF lookup against the exact brute-force top-k in
    * the PLANTED regime over an ad-hoc store built from the planted corpus
    * with the same pqCodes ∘ cellAssignment composition as
    * Catalog.pqIvfStore (the stored-fixture gate is Ivf.recallAtKFrom over
    * Catalog.pqIvfStore over Catalog.Planted). Returns (method, hits, recall). */
  def recallAtKPlanted(emb: DataFrame, qVecId: Long, m: Int,
      k: Int): DataFrame = {
    val e = graft.util.Caches.track(
      Ann.plantedCluster(emb, qVecId, m).cache())
    // cached: the 128-centroid encode expression over the planted corpus is
    // the dominant cost — repeated statement evaluations (bench reps) must
    // reuse the encoded codes, as the materialized store would
    val store = graft.util.Caches.track(pqCodes(e)
      .join(Ann.cellAssignment(e).select(col("vec_id"), col("cell")),
        Seq("vec_id"))
      .cache())
    val ee = e.select(col("vec_id"), col("embedding").as("emb"))
    Ann.recallOf(Ann.exactTopKIds(ee, qVecId, k),
      Ivf.topK(IvfCodec.Pq, store, e, qVecId, k), "pq", k)
  }

  /** The multi-stage retrieval LADDER: a cheap PQ shortlist (kCoarse
    * candidates ranked on code bytes alone) re-ranked EXACTLY against the
    * float embeddings — the standard deployment shape for coarse
    * quantizers (SCALE.md): the 32× store screens, the float tier
    * decides. The shortlist ids are collected eagerly — a BOUNDED list of
    * exactly kCoarse longs, the same bounded-collect class as the probe
    * lists — and pushed into the embeddings scan as a static In filter,
    * so the exact tier READS only the kCoarse survivors' float rows
    * (file/row-group skipping at planning time), never the corpus.
    * Returns (vec_id, sim) — exact cosines. */
  def pqRerank(store: DataFrame, emb: DataFrame, qVecId: Long,
      kCoarse: Int, k: Int): DataFrame = {
    val shortlist = Ivf.topK(IvfCodec.Pq, store, emb, qVecId, kCoarse)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = broadcast(e.filter(col("vec_id") === qVecId)
      .select(col("emb").as("qemb")))
    e.filter(col("vec_id").isin(shortlist: _*)).crossJoin(q)
      .select(col("vec_id"),
        round(Ann.cosine(col("emb"), col("qemb")), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  // ---- DuckDB mirrors ----

  private[ml] def cbListSqlWith(j: Int,
      books: Seq[Seq[Seq[Double]]]): String =
    books(j).map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** The (j, k) squared distance, unrolled in the same left-to-right
    * component order as the PqCodes kernel. Parameterized over codebooks and the
    * source array's SQL rendering (the residual tier's is an expression,
    * not a column name). */
  private[ml] def distSqlWith(j: Int, k: Int, books: Seq[Seq[Seq[Double]]],
      src: String): String = {
    val c = books(j)(k)
    (0 until SubDim).map { d =>
      val x = s"$src[${j * SubDim + d + 1}]"
      s"($x - ${c(d)}) * ($x - ${c(d)})"
    }.mkString(" + ")
  }

  /** The argmin code list over arbitrary codebooks/source (shared with the
    * residual tier so the encode mirroring has ONE rendering). */
  private[ml] def codesListSqlWith(books: Seq[Seq[Seq[Double]]],
      src: String): String =
    (0 until M).map { j =>
      val dists = (0 until Ksub).map(k => s"(${distSqlWith(j, k, books, src)})")
        .mkString("[", ",", "]")
      s"(list_position($dists, list_min($dists)) - 1)"
    }.mkString("[", ",", "]")

  /** The reconstructed vector: per subspace, the first-minimum centroid
    * (list_position ≡ Spark's array_position on identically computed
    * distances), flattened in subspace order — so list_dot_product over it
    * accumulates the exact dimension-ordered IEEE sequence the PqSim
    * kernel produces. Parameterized like the encode renderings. */
  private[ml] def xqSqlWith(books: Seq[Seq[Seq[Double]]],
      src: String): String = {
    val subs = (0 until M).map { j =>
      val dists = (0 until Ksub).map(k => s"(${distSqlWith(j, k, books, src)})")
        .mkString("[", ",", "]")
      s"(${cbListSqlWith(j, books)})[list_position($dists, list_min($dists))]"
    }
    s"flatten([${subs.mkString(",")}])"
  }

  /** The ONE SQL rendering of the M-code list (argmin per subspace, tie →
    * first occurrence) — shared by every PQ store-content oracle so the
    * encode mirroring cannot drift between them. */
  private def codesListSql: String =
    codesListSqlWith(TrainedPqCodebooks.books, "emb")

  /** DuckDB mirror of pqCodes (the store's content, exploded to scalar
    * (vec_id, pos, code) so codes pin element-wise). */
  def codesOracleSql: String =
    s"""WITH e AS (${Ann.BaseSrcSql}),
       |cx AS (SELECT vec_id, $codesListSql AS codes FROM e)
       |SELECT vec_id, CAST(u.pos AS INT) AS pos, CAST(u.code AS TINYINT) AS code
       |FROM (SELECT vec_id,
       |  unnest(list_transform(range(1, $M + 1),
       |    i -> {'pos': i - 1, 'code': codes[i]})) AS u FROM cx)
       |""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of the STREAMED composed-store upkeep
    * (EmbeddingsIngest.pqRows): the shared coarse-quantizer CTE chain and
    * the same argmin codes, exploded to scalar (vec_id, cell, pos, code)
    * so the stored/streamed/compacted content pins element-wise — the
    * sq8StreamOracleSql shape for the PQ family. */
  def pqStreamOracleSql: String =
    s"""WITH ${Ann.cellCtesSql(Ann.BaseSrcSql)},
       |cx AS (SELECT vec_id, $codesListSql AS codes FROM e)
       |SELECT ux.vec_id AS vec_id, CAST(cell.cell AS BIGINT) AS cell,
       |  CAST(u.pos AS INT) AS pos, CAST(u.code AS TINYINT) AS code
       |FROM (SELECT vec_id,
       |  unnest(list_transform(range(1, $M + 1),
       |    i -> {'pos': i - 1, 'code': codes[i]})) AS u FROM cx) AS ux
       |JOIN cell ON cell.vec_id = ux.vec_id
       |""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of pqRerank: the PQ lookup oracle as a kCoarse-deep
    * shortlist, then the exact brute-force rendering (Ann.exactTopKSql)
    * restricted to the shortlist — so the re-rank tier and the exact
    * baseline cannot drift. */
  def pqRerankOracleSql(qVecId: Long, kCoarse: Int, k: Int): String =
    s"""WITH short AS ((${Ivf.oracleSql(IvfCodec.Pq, qVecId, kCoarse)}))
       |SELECT vec_id, sim FROM (${Ann.exactTopKSql(qVecId, k, Ann.BaseSrcSql,
            "AND e.vec_id IN (SELECT vec_id FROM short)")})
       |""".stripMargin.replaceAll("\\s+", " ")
}
