package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streamed maintenance of the summary-override table — the reference's
  * result-refresh mechanism (/root/reference/README.md:38-49,
  * src/query.cc:877-890): overrides are keyed JSON overlays consulted per
  * result so summary fields update WITHOUT rebuilding the indexes. Batch
  * loading covers the initial table (S6); its always-on twin is the
  * `Stores.Overrides` record: new source rows stream through the SAME
  * derivation the batch table uses (Catalog.overrideRows — a pure per-row
  * projection, no state store, no shuffle) and append to the stored
  * `summary_overrides` table. With the postings/sketch/ANN stores this
  * completes always-on ingest across all three logical table types (index,
  * summaries, overrides).
  */
object OverridesIngest {

  /** The override derivation's source columns (a projection of the orders
    * relation — parquet column pruning reads nothing else). */
  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType)))

  def stream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(s"$dir/{orders.parquet}")
}
