package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The embeddings stream every vector-side store record (Stores) is
  * maintained from, and the per-row projections those stores share with
  * their batch builds: new embedding rows stream through the SAME
  * signature, cell-argmax and quantizer encodes the batch build uses
  * (Ann.bucketIds — graft_dot hyperplane signs, data-independent planes)
  * and append. Stateless — no state store, no shuffle; at 100 TB this is
  * the always-on writer that keeps the stored indexes current between full
  * rebuilds, the same role the reference's per-generation index blocks
  * play (/root/reference/src/table-backend-writeonce.cc:594-636).
  */
object EmbeddingsIngest {

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def stream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(s"$dir/{embeddings.parquet}")

  /** Stream-derived IVF cell rows (vec_id, cell) — the coarse-quantizer
    * assignment as a PURE PROJECTION: the argmax over the 16 constant
    * centroid cosines folds into array_max over (csim, −cent_id) structs
    * (struct ordering = highest similarity, ties → lowest cent_id, exactly
    * Ann.cellAssignment's max(struct) aggregate), so the upkeep stream
    * stays stateless append like the bucket store — no aggregation, no
    * state store. At 100 TB new vectors assign themselves on the way in
    * and append to the cell-partitioned index. */
  private def cellExpr(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val entries = graft.ml.TrainedCentroids.matrix.zipWithIndex.map {
      case (cvec, i) =>
        val cemb = array(cvec.map(lit): _*)
        val d = call_function("graft_dot", emb, cemb)
        val na = call_function("graft_dot", emb, emb)
        val nb = call_function("graft_dot", cemb, cemb)
        struct((d / sqrt(na * nb)).as("csim"),
          lit(-(i + 1).toLong).as("neg"))
    }
    -array_max(array(entries: _*)).getField("neg")
  }

  def cellRows(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    emb.select(col("vec_id"), cellExpr(col("embedding")).as("cell"))
  }

  /** Stream-derived COMPOSED SQ8×IVF rows (vec_id, cell, codes) — the
    * upkeep of Catalog.sq8IvfStore as ONE stateless per-row projection:
    * the coarse-quantizer argmax (cellExpr, as in cellRows) and the frozen
    * affine encode (Quant.codesFrozen — mn/scale are the constants the
    * trained store ships; re-deriving them per batch would re-scale the
    * index) computed side by side. No aggregation, no state store, no
    * stream-stream join: at 100 TB new vectors quantize themselves on the
    * way in and append to the cell-partitioned codes index. */
  def sq8Rows(emb: DataFrame, mn: Double, scale: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    emb.select(col("vec_id"), cellExpr(col("embedding")).as("cell"),
      graft.ml.Quant.codesFrozen(
        col("embedding").cast("array<double>"), mn, scale).as("codes"))
  }

  /** Stream-derived COMPOSED PQ×IVF rows (vec_id, cell, codes) — the
    * upkeep of Catalog.pqIvfStore as one stateless per-row projection:
    * the coarse argmax (cellExpr) and the committed-codebook PQ encode
    * (Pq.codesExpr — the codebooks ARE constants, so unlike SQ8 there is
    * no quantizer to freeze/ship) computed side by side. New vectors
    * quantize themselves on the way in and append to the cell-partitioned
    * codes index. */
  def pqRows(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    emb.select(col("vec_id"), cellExpr(col("embedding")).as("cell"),
      graft.ml.Pq.codesExpr(
        col("embedding").cast("array<double>")).as("codes"))
  }

  /** Stream-derived COMPOSED residual-PQ×IVF rows (vec_id, cell, codes) —
    * the upkeep of Catalog.pqrIvfStore as one stateless per-row
    * projection: the coarse argmax (cellExpr), the residual against THAT
    * cell's committed centroid, and the residual-codebook encode — the
    * IVFADC ingest path. Both constant tables are frozen at train time,
    * so like the raw tier there is no quantizer state to ship. */
  def pqrRows(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cents = typedLit(graft.ml.TrainedCentroids.matrix)
    emb.select(col("vec_id"), cellExpr(col("embedding")).as("cell"),
        col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"), col("cell"),
        graft.ml.Pq.codesExpr(
          zip_with(col("e"),
            element_at(cents, col("cell").cast("int")), (a, b) => a - b),
          residual = true).as("codes"))
  }

  /** The frozen quantizer: the batch store's constant (mn, scale) columns
    * (a one-row bounded lookup — the shipped quantizer, exactly what a
    * deployment distributes to its encoders). Read once per statement:
    * the streamed store's encode and the generation serving both need it. */
  def frozenQuantizer(spark: SparkSession, dir: String): (Double, Double) =
    graft.util.Caches.memoize(s"sq8:quantizer:$dir") {
      val st = graft.model.Catalog.sq8Store(spark, dir)
        .select("mn", "scale").head()
      (st.getDouble(0), st.getDouble(1))
    }

  /** The generation-SERVING store — sq8_topk_gen's source, shared with
    * its QuantSpec pin so the entry and the spec cannot drift: the
    * compacted streamed SQ8 generation read back through the MANIFEST with
    * the shipped (mn, scale) re-attached (generations store only the byte
    * codes; the affine pair is index metadata distributed with the
    * manifest). */
  def sq8GenServing(spark: SparkSession, dir: String,
      scratchBase: String): DataFrame = {
    val (mn, scale) = frozenQuantizer(spark, dir)
    graft.ml.Quant.attachQuantizer(
      Sinks.compacted(spark, Stores.Sq8, dir, scratchBase), mn, scale)
  }
}
