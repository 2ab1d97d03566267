package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** JSONL (newline-delimited JSON) ingest — the de-facto interchange format
  * of LLM training-data releases (public corpora ship .jsonl shards; the
  * reference's TSV loader is the same role for its native tables,
  * /root/reference/src/ca-load.cc:116-391): one document object per line,
  * splittable per line so a 100 TB drop parallelizes like any text source.
  *
  * The schema is EXPLICIT, never inferred: inference samples the data (an
  * extra pass a large ingest cannot afford) and can widen types
  * run-to-run, which would poison every downstream store with an unstable
  * schema. FAILFAST mode makes a malformed line an ingest-time error —
  * the permissive corrupt-record column would instead smuggle silent
  * nulls into training data, the exact failure class a pipeline must
  * stop on.
  *
  * The correctness entry round-trips the documents table: parquet corpus
  * → JSONL scratch (written once) → read back through this loader; the
  * result must equal the parquet original row-for-row (the oracle IS the
  * plain `SELECT ... FROM documents`), pinning that JSON string escaping
  * (quotes, backslashes, control chars, unicode) survives the format
  * change in both directions.
  */
object JsonlLoader {

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Read a JSONL path as the documents table, schema pinned, malformed
    * lines fatal. */
  def documents(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentsSchema).option("mode", "FAILFAST").json(path)

  /** Round-trip entry point: write the corpus as JSONL once (published
    * whole by Catalog.publish, like every store), read it back through the
    * pinned-schema loader. */
  def documentsRoundTrip(spark: SparkSession, dir: String,
      scratch: String): DataFrame =
    documents(spark, graft.model.Catalog.publish(scratch)(
      graft.model.Catalog.documents(spark, dir).write.json(_)))
}
