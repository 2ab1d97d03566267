package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ml.{Ann, NearDup}
import graft.model.Catalog

/** A store kept as per-batch delta generations: `writer(base)` writes each
  * micro-batch under `base`, and the store reads back as `fold` over the
  * `dir` generations (an empty frame with `schema` when the stream ran no
  * batch). */
final case class Deltas(schema: StructType, fold: DataFrame => DataFrame,
    writer: String => (DataFrame, Long) => Unit, dir: String = "deltas")

object Deltas {
  /** The common shape: each batch writes `f(batch)` as its own
    * `deltas/b=<id>` generation through the one delta writer. */
  def of(f: DataFrame => DataFrame, schema: StructType,
      fold: DataFrame => DataFrame): Deltas =
    Deltas(schema, fold, base => Sinks.deltaWriter(s"$base/deltas", f))
}

/** One stream-maintained store: its source stream, the per-row projection
  * the batch build shares, and how the shared one-shots in `Sinks` write
  * it. `sort` is the compaction sort (its head is the generation key),
  * `partitions` the generation's file count, `mode` the memory sink's
  * output mode. A stateful store runs on a cloned session with
  * `statePartitions` shuffle partitions plus `confs`. The memo key and the
  * memory-sink name derive from `name`, so names must be unique. */
final case class Store(
    name: String,
    source: (SparkSession, String) => DataFrame,
    rows: (DataFrame, String) => DataFrame = (s, _) => s,
    sort: Seq[String] = Nil,
    partitions: Int = 4,
    mode: String = "append",
    statePartitions: Option[Int] = None,
    confs: Map[String, String] = Map.empty,
    deltas: Option[Deltas] = None) {

  /** The store's rows, streamed from `dir`'s source on `spark`. */
  def stream(spark: SparkSession, dir: String): DataFrame =
    rows(source(spark, dir), dir)
}

/** The registry of stream-maintained stores — one record each. */
object Stores {
  private val Docs = DocumentsIngest.stream _
  private val Emb = EmbeddingsIngest.stream _
  private val Events = EventsIngest.stream _
  private val Orders = OverridesIngest.stream _

  /** Bounded state partitions for the stateful one-shots: the session
    * default commits one state-store checkpoint per shuffle partition per
    * operator, which is bring-up cost for a few seconds of input. */
  private val Stateful = Some(8)

  private def dfSchema(key: String) = StructType(Seq(
    StructField(key, StringType), StructField("df", LongType)))

  /** A (key, df) document-frequency store: per-batch counts, summed. */
  private def dfDeltas(key: String) = Some(Deltas.of(Sinks.counts(key),
    dfSchema(key), _.groupBy(key).agg(sum("df").as("df"))))

  // ---- documents ----
  val WinnowSketch = Store("winnow_sketch", Docs,
    (d, _) => NearDup.winnowFingerprints(d), Seq("fp", "doc_id"))
  val WinnowDf = Store("winnow_df", Docs, WinnowSketch.rows,
    deltas = dfDeltas("fp"))
  val ShingleSketch = Store("shingle_sketch", Docs,
    (d, _) => DocumentsIngest.shingleRows(d), Seq("sh", "doc_id"))
  val ShingleDf = Store("shingle_df", Docs, ShingleSketch.rows,
    deltas = dfDeltas("sh"))
  val SpanSketch = Store("span_sketch", Docs,
    (d, _) => graft.ml.SpanDedup.spanShingles(d), Seq("h", "doc_id", "pos"))
  val CdcChunks = Store("cdc_chunks", Docs,
    (d, _) => graft.ml.CorpusOps.cdcChunkRows(d), Seq("doc_id", "chunk_id"))
  val LexIndex = Store("lex_index", Docs,
    (d, _) => graft.ml.Retrieval.lexRows(d), Seq("token", "doc_id"))
  val LexStats = Store("lex_stats", Docs, deltas = Some(Deltas.of(
    graft.ml.Retrieval.lexStatsRows,
    StructType(Seq(StructField("n_docs", LongType),
      StructField("sum_dl", LongType))),
    // zero-batch corpus → NULL sums, which the stats fold reads as 0
    _.agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl")))))
  val DocMeta = Store("doc_meta", Docs,
    (d, _) => graft.ml.Retrieval.metaRows(d))
  val DocScores = Store("doc_scores", Docs,
    (d, _) => graft.ml.Selection.scoreRows(d), Seq("source", "doc_id"))
  val DsirScores = Store("dsir_scores", Docs, (d, dir) =>
    graft.ml.Selection.dsirWeightsFrom(d,
      Catalog.dsirRatio(d.sparkSession, dir, "src0")))
  val BpeTokens = Store("bpe_tokens", Docs, (d, dir) =>
    graft.ml.Bpe.docTokens(d, Catalog.bpeMergePairs(d.sparkSession, dir)))
  val AudioEnergy = Store("audio_energy", Docs,
    (d, _) => graft.ml.Multimodal.audioEnergy(d))
  /** Per-bigram scored rows; CorpusOps.pplFold folds them per doc at read. */
  val PplScored = Store("ppl_scored", Docs, (d, dir) =>
    graft.ml.CorpusOps.pplBigramScored(d, Catalog.lmStore(d.sparkSession, dir),
      Catalog.lmVocab(d.sparkSession, dir)))
  val MmFeatures = Store("mm_features", Docs,
    (d, _) => graft.ml.Multimodal.documentFeatures(d.sparkSession, d))
  val Phash = Store("phash", Docs,
    (d, _) => graft.ml.Multimodal.phashRows(d.sparkSession, d))
  /** Bounded sum-typed streaming state: the d×w count-min cell grid. */
  val CmsCells = Store("cms_cells", Docs, (d, _) =>
    graft.ml.Sketches.cmsCells(
      d.select(expr("explode(split(text, ' '))").as("token"))),
    mode = "complete", statePartitions = Stateful)
  val DupPairs = pairStore("dup_pairs",
    base => DocumentsIngest.pairAdmission(base, 0.6),
    Seq(StructField("jaccard", DoubleType)))
  /** Connected components over the stream-admitted pair store. */
  val DupClusters = DupPairs.copy(name = "dup_clusters", deltas =
    DupPairs.deltas.map(d =>
      d.copy(fold = d.fold.andThen(graft.ml.Clusters.connectedComponents))))
  val ContainPairs = pairStore("contain_pairs",
    base => DocumentsIngest.containAdmission(base, 0.9, 50),
    Seq(StructField("na", LongType), StructField("nb", LongType),
      StructField("containment", DoubleType)))

  /** A verified-pair store: each batch's admission writes its pairs under
    * `pairs/b=<id>`; the store reads back doc_a-sorted. */
  private def pairStore(name: String,
      admit: String => (DataFrame, Long) => Unit,
      value: Seq[StructField]): Store = {
    val schema = StructType(StructField("doc_a", LongType) +:
      StructField("doc_b", LongType) +: value)
    Store(name, Docs, sort = Seq("doc_a", "doc_b"), deltas = Some(Deltas(
      schema, _.select(schema.fieldNames.toSeq.map(col): _*), admit,
      "pairs")))
  }

  // ---- embeddings ----
  val AnnBuckets = Store("ann_buckets", Emb, (e, _) => Ann.bucketIds(e),
    Seq("bucket", "vec_id"))
  val IvfCells = Store("ivf_cells", Emb,
    (e, _) => EmbeddingsIngest.cellRows(e), Seq("cell", "vec_id"))
  val Sq8 = Store("sq8", Emb, (e, dir) => {
    val (mn, scale) = EmbeddingsIngest.frozenQuantizer(e.sparkSession, dir)
    EmbeddingsIngest.sq8Rows(e, mn, scale)
  }, Seq("cell", "vec_id"))
  val Pq = Store("pq", Emb, (e, _) => EmbeddingsIngest.pqRows(e),
    Seq("cell", "vec_id"))
  val Pqr = Store("pqr", Emb, (e, _) => EmbeddingsIngest.pqrRows(e),
    Seq("cell", "vec_id"))
  val Proj = Store("proj", Emb,
    (e, _) => graft.ml.Quant.randProject(e, 64, 16))

  // ---- orders ----
  val Overrides = Store("overrides", Orders,
    (o, _) => Catalog.overrideRows(o))

  // ---- events ----
  val Postings = Store("postings", Events, (e, _) => EventsIngest.postings(e))
  val DailyCounts = Store("daily_counts", Events,
    (e, _) => EventsIngest.dailyCounts(e), mode = "complete",
    statePartitions = Stateful)
  val DedupDaily = Store("dedup_daily", Events,
    (e, _) => EventsIngest.dedupDaily(e), statePartitions = Stateful)
  /** Every per-batch profile update; EventsIngest.finalProfiles keeps
    * each user's last. */
  val UserProfiles = Store("user_profiles", Events,
    (e, _) => EventsIngest.userProfiles(e), mode = "update",
    statePartitions = Stateful)
  val IntervalJoin = Store("interval_join", Events,
    (e, _) => EventsIngest.intervalJoin(e), statePartitions = Stateful)
  val IntervalJoinLeft = Store("interval_join_left", Events,
    (e, _) => EventsIngest.intervalJoinLeft(e), statePartitions = Stateful)
  val Enriched = Store("enriched", Events, (e, dir) =>
    EventsIngest.enriched(e, Catalog.table(e.sparkSession, dir, "customer")),
    mode = "complete", statePartitions = Stateful)
  // broadcast DISABLED on the cloned session: the testdata dimension is
  // small enough that the planner would otherwise pick a broadcast join
  // and exercise the same plan as Enriched — the point here is the big-dim
  // SHUFFLE shape (StreamingSpec pins the plan contains no broadcast join)
  val EnrichedShuffled = Enriched.copy(name = "enriched_shuffled",
    rows = (e, dir) => EventsIngest.enrichedShuffled(e,
      Catalog.table(e.sparkSession, dir, "customer")),
    confs = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
  val HllRegisters = Store("hll_registers", Events,
    (e, _) => graft.ml.Sketches.hllRegisters(e), mode = "complete",
    statePartitions = Stateful)
  val HdrGrid = Store("hdr_grid", Events,
    (e, _) => graft.ml.Sketches.hdrGrid(e), mode = "complete",
    statePartitions = Stateful)
  /** Per-batch HLL registers, max-folded: max is idempotent, so a replayed
    * batch can only re-assert the same register. */
  val HllDeltas = Store("hll_deltas", Events, sort = Seq("event_type", "reg"),
    partitions = 1, deltas = Some(Deltas.of(graft.ml.Sketches.hllRegisters,
      StructType(Seq(StructField("event_type", StringType),
        StructField("reg", IntegerType), StructField("mr", IntegerType))),
      _.groupBy("event_type", "reg").agg(max("mr").as("mr")))))
  /** Per-batch HDR grid counts, sum-folded: additive, so the b=<id>
    * overwrite is what makes a replayed batch safe. */
  val HdrDeltas = Store("hdr_deltas", Events,
    sort = Seq("event_type", "shift", "w"), partitions = 1,
    deltas = Some(Deltas.of(graft.ml.Sketches.hdrGrid,
      StructType(Seq(StructField("event_type", StringType),
        StructField("shift", IntegerType), StructField("w", LongType),
        StructField("cnt", LongType))),
      _.groupBy("event_type", "shift", "w").agg(sum("cnt").as("cnt")))))

  val all: Seq[Store] = Seq(WinnowSketch, WinnowDf, ShingleSketch, ShingleDf,
    SpanSketch, CdcChunks, LexIndex, LexStats, DocMeta, DocScores, DsirScores,
    BpeTokens, AudioEnergy, PplScored, MmFeatures, Phash, CmsCells, DupPairs,
    DupClusters, ContainPairs, AnnBuckets, IvfCells, Sq8, Pq, Pqr, Proj,
    Overrides, Postings, DailyCounts, DedupDaily, UserProfiles, IntervalJoin,
    IntervalJoinLeft, Enriched, EnrichedShuffled, HllRegisters, HdrGrid,
    HllDeltas, HdrDeltas)
}
