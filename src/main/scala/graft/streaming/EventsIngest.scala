package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Catalog

/** §2.9 — Structured Streaming ingest of the `events` stream. The reference
  * has no streaming runtime (ingestion = batch generations + k-way merge,
  * SURVEY §2.9); this is the Spark-native replacement:
  *
  *  - `postings`: stateless map of events → index-shaped postings
  *    (key = "event:" + type, off = epoch-SECONDS timestamp — the reference's
  *    time-series convention, src/ca-load.cc:296-314), appended to a parquet
  *    sink. At scale this is the always-on writer that replaces re-running
  *    ca-load per generation.
  *  - `dailyCounts`: event-time tumbling-window aggregation with a watermark
  *    for late data.
  *
  * Each streamed event store is a record in `Stores`; the stateful ones
  * (windows, dedup, profiles, joins, enrichment, sketch grids) carry a
  * bounded state-partition count the shared memory one-shot applies.
  */
object EventsIngest {

  /** The raw event stream, normalized like the batch reader. The file
    * source needs an explicit schema; deriving it from the parquet footer
    * (one driver-side read) instead of hard-coding keeps the stream working
    * when the testdata's physical ts encoding changes (nanos-as-Long vs
    * TIMESTAMP_NTZ — see Catalog.normalizeTs). */
  def stream(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // The glob braces make the file-stream source treat `dir` as basePath
    // (a bare file path is rejected — basePath must be a directory).
    Catalog.normalizeTs(
      spark.readStream.schema(fileSchema).parquet(s"$dir/{events.parquet}"))
  }

  /** Index-shaped postings from the stream (stateless — no shuffle,
    * no state store). */
  def postings(events: DataFrame): DataFrame =
    events.select(
      concat(lit("event:"), col("event_type")).as("key"),
      unix_timestamp(col("ts")).as("off"),
      col("value").as("score"))

  /** Watermarked daily tumbling-window counts per event type. */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Session windows per user — events closer than `gap` to their
    * predecessor merge into one session (`session_window`: identical
    * semantics in batch and streaming, the idiomatic stateful-aggregation
    * shape for sessionization — no hand-rolled mapGroupsWithState needed).
    * Returns (user_id, session_start epoch-sec, n_events, sum_value).
    * Scale: state is partitioned by user_id; the watermark (streaming
    * variant) bounds state retention. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("session_start"),
        col("n_events"), col("sum_value"))

  /** Streaming variant: watermarked session windows (append mode emits a
    * session once the watermark passes its close). */
  def sessionsStream(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    sessions(events.withWatermark("ts", "1 day"), gap)

  /** Streaming exact dedup — one row per (user_id, event_type, day), emitted
    * the first time the key is seen. `dropDuplicatesWithinWatermark` keys the
    * state store on the dedup columns and the watermark expires a key's state
    * once its day can no longer recur; all duplicates of a key fall inside
    * that key's day, so expiry never re-admits one. The training-pipeline
    * shape: exact dedup of an unbounded stream with BOUNDED state — at 100 TB
    * the state store is key-partitioned and holds one entry per key, not the
    * rows (vs. a plain dropDuplicates whose state grows forever). */
  def dedupDaily(events: DataFrame): DataFrame =
    events
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .select(col("user_id"), col("event_type"), col("day"))

  /** Per-user lifetime profile state: first/last event second, event count,
    * raw value sum. Merging an event is commutative and associative, so the
    * emitted profile is independent of micro-batch slicing and intra-batch
    * row order — which is what makes the stream output oracle-checkable. */
  case class UserProfile(first: Long, last: Long, n: Long, sum: Double)

  /** §2.10's custom-state shape — `flatMapGroupsWithState` with an arbitrary
    * case-class state per key, for stateful logic the built-in aggregations
    * don't express (the running profile must SURVIVE across micro-batches
    * and re-emit its updated value each time the user appears). Update mode:
    * each micro-batch emits one refreshed profile row per user seen in it.
    *
    * Scale: state is hash-partitioned by user_id in the state store — 4
    * fields per user, not the events — so 100 TB of events costs O(users)
    * state. NoTimeout because the profile is lifetime-scoped; a deployment
    * bounding state would set `GroupStateTimeout.EventTimeTimeout` and drop
    * users idle past the watermark. Works identically over a batch Dataset
    * (Spark runs the same function once per key), which is what the
    * stream == batch spec pins. */
  def userProfiles(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserProfile, (Long, Long, Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Double)],
         state: GroupState[UserProfile]) =>
          var s = state.getOption
            .getOrElse(UserProfile(Long.MaxValue, Long.MinValue, 0L, 0.0))
          rows.foreach { case (_, sec, v) =>
            s = UserProfile(math.min(s.first, sec), math.max(s.last, sec),
              s.n + 1, s.sum + v)
          }
          state.update(s)
          Iterator((uid, s.first, s.last, s.n, s.sum))
      }
      .toDF("user_id", "first_sec", "last_sec", "n_events", "sum_value")
      // raw sum in state, rounding only at the emission edge (the repo's
      // float-output contract: round double sums to 2 decimals both sides)
      .withColumn("sum_value", round(col("sum_value"), 2))
  }

  /** Each user's LAST profile update out of a stream of Update-mode
    * emissions (Stores.UserProfiles) — n_events strictly grows per update,
    * so the max-n row is the final state, and the kept set equals the
    * batch groupBy(user_id) aggregate. */
  def finalProfiles(updates: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    updates
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(desc("n_events"))))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Stream-static enrichment: the event stream joined to a STATIC dimension
    * (customer market segment keyed by user_id = c_custkey), then aggregated
    * per (segment, event_type). The static side is broadcast — a stateless
    * map-side join per micro-batch, no stream-stream state store at all; the
    * downstream aggregate is the only stateful operator. This is the
    * enrich-then-aggregate shape an always-on ingest runs against slowly-
    * changing dimensions: at 100 TB/day the dimension stays
    * broadcast-refreshed per micro-batch while the stream never shuffles
    * for the join itself. */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))), Seq("user_id"))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))

  /** Billion-row-dimension variant of `enriched` (VERDICT r9 #6): NO
    * broadcast — the micro-batch SHUFFLES against the dimension on
    * user_id, which is the deployment shape when the dimension does not
    * fit on one executor (a billion-user profile table). Cost model: every
    * micro-batch pays a shuffle of batch + the dimension's matching side
    * (mitigated in practice by storing the dimension bucketed on the join
    * key so only the stream side moves); broadcast-refresh (above) pays a
    * per-batch rebroadcast instead. The crossover is dimension size ≈ what
    * an executor can hold — both shapes produce identical results, which
    * the shared oracle pins. */
  def enrichedShuffled(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(dim.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment")), Seq("user_id"))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))

  /** Stream-stream self interval join: each purchase paired with the same
    * user's views in the trailing `gap` — the watermarked two-stream join
    * Structured Streaming runs with BOUNDED state: the time-interval
    * condition plus both watermarks lets the engine drop buffered rows once
    * they can no longer match (state ≈ gap + watermark of stream, never the
    * stream's history). The append-mode output is exactly the batch
    * interval join, which the entry's oracle and the spec both pin. */
  def intervalJoin(events: DataFrame, gap: String = "1 hour"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 day")
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 day")
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"interval $gap") &&
        col("v_ts") <= col("p_ts"))
      .select(col("user_id"), col("p_ts"), col("v_ts"))
  }

  /** LEFT-OUTER variant of the interval join: purchases with NO view in the
    * trailing `gap` still emit, with null view columns — but only once the
    * view-side watermark passes the purchase's match window, i.e. the
    * engine PROVES no future view can pair (the subtle half of streaming
    * outer joins: null emission is watermark-forced, not absence-observed).
    * State stays bounded exactly as in the inner variant. Purchases younger
    * than (max event time − watermark) are still awaiting proof when a
    * one-shot run drains, so consumers comparing against a batch left join
    * must restrict to the resolved region (the entry applies a 2-day
    * cutoff on both engines). The trailing region itself is pinned by
    * StreamingSpec's two-phase checkpoint-resume fixture: a buffered
    * unmatched purchase flushes (null view columns) exactly when later
    * input advances the watermark past its window — noting the global
    * watermark is the MIN across BOTH sides' watermark columns, so both
    * streams must see fresh data for the flush to fire. */
  def intervalJoinLeft(events: DataFrame, gap: String = "1 hour"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 day")
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 day")
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"interval $gap") &&
        col("v_ts") <= col("p_ts"),
      "left_outer")
      .select(col("user_id"), col("p_ts"), col("v_ts"))
  }
}
