package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RESIDUAL product quantization — the published IVFPQ design proper
  * (Jégou et al. 2011, "Product quantization for nearest neighbor
  * search", the IVFADC variant Faiss ships as IVFPQ): instead of coding
  * raw vectors (Pq — the IndexPQ shape), each vector is coded as its
  * RESIDUAL to the coarse-quantizer centroid, r(v) = v − c(cell(v)).
  * The coarse term absorbs the between-cell variance, so the M-byte code
  * budget quantizes a distribution concentrated around 0 — materially
  * lower reconstruction error at identical storage (PqrSpec measures the
  * improvement against the raw tier and pins it).
  *
  * Serving reads the SAME composed (cell-partitioned) layout as the raw
  * tier; ranking reconstructs candidate ≈ c(cell) + decode(codes) inside
  * the codegen'd PqrSim kernel — candidates contribute their M bytes and
  * their cell id, every float comes from the two committed constant
  * tables (TrainedCentroids, TrainedPqrCodebooks). Encode is a pure
  * per-row projection (codebooks and centroids are constants — nothing to
  * freeze), so the batch store build and streamed upkeep share it
  * verbatim, exactly like the raw tier.
  */
object PqResidual {

  private def centsLit: Column = typedLit(TrainedCentroids.matrix)

  /** (vec_id, cell, remb): the residual rows — one zip_with subtraction
    * against the row's 1-based cell centroid (the TrainedCentroids
    * convention). Shared by the trainer (TrainPqResidual) and the encode
    * below so the residual definition has one rendering. */
  def residualRows(emb: DataFrame, cells: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .join(cells, Seq("vec_id"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("emb"),
          element_at(centsLit, col("cell").cast("int")),
          (a, b) => a - b).as("remb"))

  /** (vec_id, cell, codes): the persistable residual-coded store content
    * (Catalog.pqrIvfStore lays it out cell-partitioned). */
  def pqrRows(emb: DataFrame, cells: DataFrame): DataFrame =
    residualRows(emb, cells)
      .select(col("vec_id"), col("cell"),
        Pq.codesExpr(col("remb"), residual = true).as("codes"))

  // Serving: the composed residual-PQ×IVF store (Catalog.pqrIvfStore) is
  // one tier of the shared IVF path (Ivf); its codec (IvfCodec.Pqr) ranks
  // probed rows through the PqrSim kernel with the cell id feeding the
  // reconstruction.

  // ---- DuckDB mirrors ----

  /** The residual rows `rr(vec_id, cell, remb)` over the shared
    * coarse-quantizer CTEs — the same per-element subtraction order as
    * residualRows' zip_with — shared by the store-content and serving
    * (IvfCodec.Pqr) mirrors. */
  private[ml] def residualCteSql: String =
    s"""rr AS (SELECT e.vec_id AS vec_id, cell.cell AS cell,
       |    list_transform(range(1, ${Ann.Dims + 1}),
       |      i -> e.emb[i] - cc.cemb[i]) AS remb
       |  FROM e JOIN cell USING (vec_id) JOIN c cc ON cc.cent_id = cell.cell)""".stripMargin

  /** DuckDB mirror of the store content (vec_id, cell, pos, code). */
  def codesOracleSql(srcSql: String = Ann.BaseSrcSql): String = {
    val codes = Pq.codesListSqlWith(TrainedPqrCodebooks.books, "remb")
    s"""WITH ${Ann.cellCtesSql(srcSql)},
       |$residualCteSql,
       |cx AS (SELECT vec_id, cell, $codes AS codes FROM rr)
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell,
       |  CAST(u.pos AS INT) AS pos, CAST(u.code AS TINYINT) AS code
       |FROM (SELECT vec_id, cell,
       |  unnest(list_transform(range(1, ${Pq.M} + 1),
       |    i -> {'pos': i - 1, 'code': codes[i]})) AS u FROM cx)
       |""".stripMargin.replaceAll("\\s+", " ")
  }
}
