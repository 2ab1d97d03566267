package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-SELECTION operators — the published family of "which docs make the
  * training set" verbs that sit between cleaning and mixing:
  *
  *  - DSIR importance resampling (Xie et al., NeurIPS 2023): score every
  *    raw doc by how target-like its hashed n-gram distribution is, keep
  *    the top mass;
  *  - a hashed-feature LINEAR quality classifier (the GPT-3-era logistic
  *    filter shape: fixed-width feature hashing, per-doc weighted mean);
  *  - Pareto rejection sampling over that score (GPT-3 Appendix A's
  *    "keep low-scoring docs with decaying probability" lottery, at α = 1
  *    so the inverse CDF is a single IEEE division — no pow, engine-exact);
  *  - the deterministic md5 train/val/test split every pipeline needs last.
  *
  * All randomness is md5-derived (the RANDOM_SAMPLE determinism contract,
  * /root/reference/src/query.cc:668-686): reproducible across runs, engines,
  * and partitionings, with DuckDB mirrors sharing the exact hash → number
  * convention (`('0x' || substr(md5(x),1,6))::BIGINT` ≡ Spark's
  * `conv(substring(md5(x),1,6),16,10)`).
  *
  * Scale shape: every op here is one corpus scan + one partial-aggregating
  * groupBy on (doc_id, bucket) + joins against a table bounded at 256 rows
  * BY CONSTRUCTION (the feature space is fixed-width — the paper's is 10k
  * buckets; ours is 2 hex chars = 256). Nothing vocabulary-sized is ever
  * broadcast (contrast tfidfTopTerms' unbounded term table); the bucket
  * tables are below any broadcast threshold at any corpus size.
  */
object Selection {

  /** Number of hash buckets = 16^2 (2 hex chars of md5). */
  val Buckets = 256

  // ---- shared hashed-feature derivation (Spark side) ----------------------

  /** Per-doc hashed-gram bucket counts: unigrams + bigrams (the DSIR
    * paper's feature set), each hashed to its md5 prefix bucket. One
    * explode + one partial-aggregating groupBy keyed (doc_id, b) — the
    * count collapses map-side before the shuffle. Carries `source` for the
    * target-slice split (functionally dependent on doc_id, free to group). */
  private[ml] def bucketCounts(docs: DataFrame): DataFrame = {
    val tok = split(col("text"), " ")
    // the CASE guard wraps the transform itself: on a 1-token doc the
    // unguarded sequence(0, size-2) goes DESCENDING (the repetition
    // operator's documented trap, TextAnalysis.scala:188-195)
    val bigrams = expr(
      """CASE WHEN size(tok) >= 2
        |THEN transform(sequence(0, size(tok) - 2),
        |     i -> concat_ws(' ', tok[i], tok[i+1]))
        |ELSE CAST(array() AS array<string>) END""".stripMargin)
    docs.select(col("doc_id"), col("source"), tok.as("tok"))
      .select(col("doc_id"), col("source"),
        explode(concat(col("tok"), bigrams)).as("gram"))
      .select(col("doc_id"), col("source"),
        substring(md5(col("gram")), 1, 2).as("b"))
      .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("c"))
  }

  /** The shared bucket-count CTE (DuckDB side): same grams, same buckets. */
  private val BucketCtesSql: String =
    """tokd AS (SELECT doc_id, source, string_split(text, ' ') AS tok
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, source, unnest(tok) AS gram FROM tokd
      |  UNION ALL
      |  SELECT doc_id, source,
      |    unnest(list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])) AS gram
      |  FROM tokd),
      |gb AS (SELECT doc_id, source, substr(md5(gram), 1, 2) AS b,
      |    count(*) AS c
      |  FROM grams GROUP BY 1, 2, 3)""".stripMargin

  // ---- DSIR importance resampling -----------------------------------------

  /** DSIR importance weights (Xie et al. 2023): per doc, the mean over its
    * hashed-gram occurrences of ln p̂_target(b) − ln p̂_raw(b), where both
    * distributions are add-one-smoothed bucket frequencies (target = the
    * `targetSrc` slice, raw = the whole corpus). A doc whose gram mix looks
    * like the target scores > 0; generic/noise docs score < 0. The paper
    * resamples ∝ exp(score); the deterministic engine keeps the top mass
    * (`dsirSelect`) — same ordering, no RNG state.
    *
    * Scale: the bucket distributions aggregate the ALREADY-reduced
    * (doc, bucket) counts into ≤256-row tables; their totals fold in a
    * window over those 256 rows; the log-ratio table re-joins the doc-side
    * counts as an explicit broadcast (bounded by construction — this is the
    * justified-broadcast case tfidfTopTerms' unbounded vocabulary is not).
    * One corpus-sized shuffle total (the bucketCounts groupBy). */
  /** The 256-row log-ratio table: raw and target bucket totals in ONE
    * conditional aggregation — separate raw/tgt aggs would each re-execute
    * the bucketCounts subtree (the lazy-plan fan-out trap,
    * TextAnalysis.cleanCorpus). This is the query-independent half of
    * DSIR: per (sf-dir, target) it is a materialized store
    * (Catalog.dsirRatio), so a serving statement pays only the scoring
    * pass. */
  def ratioTable(docs: DataFrame, targetSrc: String): DataFrame = {
    val z = Window.partitionBy()
    bucketCounts(docs).groupBy("b")
      .agg(sum("c").as("cr"),
        sum(when(col("source") === targetSrc, col("c")).otherwise(0L))
          .as("ct"))
      .select(col("b"),
        (log((col("ct") + 1).cast("double") /
            (sum(col("ct")).over(z) + Buckets)) -
          log((col("cr") + 1).cast("double") /
            (sum(col("cr")).over(z) + Buckets))).as("lr"))
  }

  def dsirWeights(docs: DataFrame, targetSrc: String): DataFrame =
    dsirWeightsFrom(docs, ratioTable(docs, targetSrc))

  /** DSIR scoring against a PREBUILT ratio table (Catalog.dsirRatio) —
    * the serving shape: the store is 256 rows BOUNDED BY CONSTRUCTION, so
    * serving collects it once (the driver-side query-constants precedent,
    * Ann.probedCells) and embeds the log-ratios as an array literal
    * indexed by the bucket int — the scoring becomes a PER-ROW FOLD over
    * each doc's gram list: zero joins, zero exchanges, the statement IS
    * the corpus scan (the quality_linear shape applied to importance
    * scoring; the former broadcast-join + re-aggregate paid the 12M-row
    * gram explode shuffle per statement). Σ_b c(b)·lr(b) / Σ_b c(b) ≡ the
    * per-occurrence mean, so the result matches the aggregated form
    * (summation order differs; the rounded score absorbs it — the
    * tfidf/logprob convention). A bucket absent from the stored table
    * (impossible when serving the build corpus, possible for a foreign
    * doc) contributes the neutral log-ratio 0. */
  def dsirWeightsFrom(docs: DataFrame, ratio: DataFrame): DataFrame =
    dsirWeightsFolded(docs, foldRatio(ratio))

  /** Collect a (b, lr) ratio frame to the bucket→log-ratio map the scoring
    * fold embeds — the one rendering of the hex-bucket parse, shared by the
    * per-statement collect (dsirWeightsFrom) and the memoized driver-side
    * constants (Catalog.dsirRatioFolded). */
  def foldRatio(ratio: DataFrame): Map[Int, Double] =
    ratio.collect()
      .map(r => Integer.parseInt(r.getString(0), 16) -> r.getDouble(1)).toMap

  /** DSIR scoring against DRIVER-HELD ratio constants — the serving shape
    * when the 256-row store has already been collected and memoized once
    * per (session, sf-dir, target) (Catalog.dsirRatioFolded, the
    * lexStatsFolded posture): the statement is ONE corpus scan with the
    * log-ratios folded in as an array literal; even the store-read collect
    * job disappears (VERDICT r18 #1: dsir_weights was the slowest recurring
    * entry because every run re-derived the ratio from the corpus). */
  def dsirWeightsFolded(docs: DataFrame,
      byBucket: Map[Int, Double]): DataFrame = {
    val lrArr = typedLit((0 until Buckets).map(byBucket.getOrElse(_, 0.0)))
    val idx = (g: Column) =>
      conv(substring(md5(g), 1, 2), 16, 10).cast("int") + 1
    // gram list PROJECTED once (the cmsWithHex single-evaluation posture):
    // lambda-bearing expressions get no codegen subexpression elimination,
    // so referencing GramListExpr in both the fold and the size would
    // build the uni+bigram array twice per row (review finding, r19)
    docs.select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), expr(GramListExpr).as("gl"))
      .select(col("doc_id"),
        round(aggregate(col("gl"), lit(0.0),
            (acc, g) => acc + element_at(lrArr, idx(g))) /
          size(col("gl")), 4).as("dsir_score"))
  }

  /** Top-`k` DSIR selection: the deterministic stand-in for the paper's
    * importance resampling draw — rank by (score DESC, doc_id) and cut at
    * k. The rounded score + id tie-break is a total order, so the
    * k-boundary is engine-stable; the sort is a TakeOrdered over the
    * already-reduced per-doc scores, not a full corpus sort. */
  def dsirSelect(docs: DataFrame, targetSrc: String, k: Int): DataFrame =
    dsirSelectFrom(docs, ratioTable(docs, targetSrc), k)

  /** The serving draw against the stored ratio (Catalog.dsirRatio). */
  def dsirSelectFrom(docs: DataFrame, ratio: DataFrame, k: Int): DataFrame =
    dsirSelectFolded(docs, foldRatio(ratio), k)

  /** The serving draw against memoized driver-side ratio constants
    * (Catalog.dsirRatioFolded) — one scan + TakeOrdered, no collect job. */
  def dsirSelectFolded(docs: DataFrame, byBucket: Map[Int, Double],
      k: Int): DataFrame =
    dsirWeightsFolded(docs, byBucket)
      .orderBy(desc("dsir_score"), asc("doc_id"))
      .limit(k)

  private def dsirCtesSql(targetSrc: String): String =
    s"""$BucketCtesSql,
       |bt AS (SELECT b, sum(c) AS cr,
       |    sum(CASE WHEN source = '$targetSrc' THEN c ELSE 0 END) AS ct
       |  FROM gb GROUP BY b),
       |ratio AS (SELECT b,
       |    ln((ct + 1) * 1.0 / ((SELECT sum(ct) FROM bt) + $Buckets)) -
       |    ln((cr + 1) * 1.0 / ((SELECT sum(cr) FROM bt) + $Buckets)) AS lr
       |  FROM bt),
       |score AS (SELECT doc_id, round(sum(c * lr) / sum(c), 4) AS dsir_score
       |  FROM gb JOIN ratio USING (b) GROUP BY doc_id)""".stripMargin

  def dsirOracleSql(targetSrc: String): String =
    s"""WITH ${dsirCtesSql(targetSrc)}
       |SELECT doc_id, dsir_score FROM score""".stripMargin
      .replaceAll("\\s+", " ")

  def dsirSelectOracleSql(targetSrc: String, k: Int): String =
    s"""WITH ${dsirCtesSql(targetSrc)}
       |SELECT doc_id, dsir_score FROM score
       |ORDER BY dsir_score DESC, doc_id LIMIT $k""".stripMargin
      .replaceAll("\\s+", " ")

  // ---- hashed linear quality classifier + Pareto lottery ------------------

  // Per-bucket weights are a deterministic [-1, 1) value derived from the
  // bucket id's own md5 — computed INLINE in the fold lambdas below. A
  // real deployment swaps these pseudo-weights for TRAINED ones via the
  // committed-constants pattern (TrainedCentroids); the operator shape —
  // per-doc weighted mean over hashed features, zero joins because the
  // weight is a pure function of the bucket — is what's under test.

  /** The per-doc gram LIST (unigrams then bigrams, document order) and its
    * DuckDB twin — classifier inference folds over this array per row, so
    * BOTH engines sum weights in the identical sequence. */
  private val GramListExpr =
    """concat(tok,
      |  CASE WHEN size(tok) >= 2
      |  THEN transform(sequence(0, size(tok) - 2),
      |       i -> concat_ws(' ', tok[i], tok[i+1]))
      |  ELSE CAST(array() AS array<string>) END)""".stripMargin

  private val GramListSql =
    "tok || list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])"

  /** Hashed-feature linear quality score ∈ [0, 1]: the mean, over the
    * doc's gram sequence, of each gram's bucket weight — affinely
    * squashed. Σ_b c(b)·w(b) / Σ_b c(b) ≡ the per-occurrence mean, so the
    * whole classifier is a PER-ROW ARRAY FOLD: zero joins, zero shuffles,
    * whole-stage codegen — inference at 100 TB is the scan itself (the
    * reason production quality classifiers are linear-over-hashed-features
    * in the first place). Both engines fold the grams in document order —
    * the summation sequence is identical, not merely round-masked.
    * Monotone in the linear response, so the verdict is a threshold on the
    * score directly (no sigmoid — avoids exp() libm divergence; same
    * decision boundary). */
  /** The classifier score over an already-projected gram-list column `gl`
    * — the single-evaluation rendering every scoring path shares (the
    * gram array is built ONCE per row; review finding, r19). */
  private val ScoreFromGlExpr =
    """round((aggregate(gl, cast(0.0 as double),
      |  (acc, g) -> acc + round(cast(conv(substring(md5(concat('w:',
      |    substring(md5(g), 1, 2))), 1, 6), 16, 10) as double)
      |    / 16777216.0 * 2 - 1, 6))
      | / size(gl) + 1) / 2, 4)""".stripMargin

  def linearQuality(docs: DataFrame, tau: Double): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), expr(GramListExpr).as("gl"))
      .select(col("doc_id"), expr(ScoreFromGlExpr).as("score"))
      .withColumn("passes", col("score") >= tau)

  private val ScoreSql: String =
    s"""round((list_sum(list_transform($GramListSql,
       |  g -> round(('0x' || substr(md5('w:' || substr(md5(g), 1, 2)), 1, 6))::BIGINT
       |    / 16777216.0 * 2 - 1, 6)))
       | / len($GramListSql) + 1) / 2, 4)""".stripMargin

  def linearQualityOracleSql(tau: Double): String =
    s"""WITH tokd AS (SELECT doc_id, string_split(text, ' ') AS tok
       |  FROM documents),
       |sc AS (SELECT doc_id, $ScoreSql AS score FROM tokd)
       |SELECT doc_id, score, score >= $tau AS passes FROM sc""".stripMargin
      .replaceAll("\\s+", " ")

  /** GPT-3-style Pareto rejection sampling (Brown et al. 2020, Appendix A:
    * keep a doc iff a Pareto draw exceeds 1 − score, so high-quality docs
    * are kept outright and low-quality docs survive with decaying
    * probability — the filter keeps SOME tail mass on purpose). At α = 1
    * the inverse-CDF draw is u/(1−u), and `keep ⇔ u/(1−u) > 1 − score`
    * rearranges to `u > (1−score)/(2−score)` — one subtraction and one
    * division on a rounded score, both correctly-rounded IEEE ops, so the
    * keep decision is bit-identical across engines (a general α needs pow,
    * which libms don't guarantee — the α = 0.5 sqrt rule's cousin,
    * CorpusOps.temperatureSample). u is the md5 uniform: first 6 hex chars
    * of md5("par:" ‖ doc_id) / 16^6, exact in doubles.
    *
    * Takes a SCORED frame — normally the stored sidecar
    * (Catalog.docScores): the lottery is a per-row predicate over scores
    * the pipeline already computed at ingest; re-folding the classifier
    * per statement pays the corpus-scale gram hash again (measured 50×
    * the sidecar read at sf0.1). `paretoSampleLive` composes the fold
    * inline for ad-hoc corpora. */
  def paretoSample(scores: DataFrame): DataFrame = {
    val u = conv(substring(md5(concat(lit("par:"),
      col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)
    scores.select(col("doc_id"), col("score"))
      .filter(u > (lit(1.0) - col("score")) / (lit(2.0) - col("score")))
  }

  def paretoSampleLive(docs: DataFrame, tau: Double = 0.0): DataFrame =
    paretoSample(linearQuality(docs, tau))

  def paretoOracleSql(tau: Double = 0.0): String =
    s"""WITH tokd AS (SELECT doc_id, string_split(text, ' ') AS tok
       |  FROM documents),
       |sc AS (SELECT doc_id, $ScoreSql AS score FROM tokd)
       |SELECT doc_id, score FROM sc
       |WHERE ('0x' || substr(md5('par:' || doc_id), 1, 6))::BIGINT / 16777216.0
       |  > (1.0 - score) / (2.0 - score)""".stripMargin
      .replaceAll("\\s+", " ")

  // ---- deterministic train/val/test split ---------------------------------

  /** The split every pipeline applies LAST: assign each doc to
    * train/val/test by the first hex char of md5("split:" ‖ doc_id) —
    * '0'–'b' → train (12/16), 'c'–'d' → val (2/16), 'e'–'f' → test (2/16).
    * A pure single-char string comparison (ASCII order, identical on both
    * engines — no numeric conversion at all), stable under corpus growth:
    * a doc's split never changes when other docs arrive, which is the
    * property hash splits exist for (a row_number split reshuffles
    * everybody on every append). Zero shuffle: one codegen projection. */
  def trainEvalSplit(docs: DataFrame): DataFrame = {
    val c = substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 1)
    docs.select(col("doc_id"), col("source"),
      when(c < "c", "train").when(c < "e", "val").otherwise("test")
        .as("split"))
  }

  def trainEvalSplitOracleSql: String =
    """SELECT doc_id, source,
      |  CASE WHEN substr(md5('split:' || doc_id), 1, 1) < 'c' THEN 'train'
      |       WHEN substr(md5('split:' || doc_id), 1, 1) < 'e' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin.replaceAll("\\s+", " ")

  // ---- the stored selection sidecar ---------------------------------------

  private[graft] def splitCol: Column = {
    val c = substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 1)
    when(c < "c", "train").when(c < "e", "val").otherwise("test")
  }

  private[graft] val SplitSql: String =
    """CASE WHEN substr(md5('split:' || doc_id), 1, 1) < 'c' THEN 'train'
      |     WHEN substr(md5('split:' || doc_id), 1, 1) < 'e' THEN 'val'
      |     ELSE 'test' END""".stripMargin

  /** The shared per-doc selection-sidecar projection — (doc_id, source,
    * n_tok, score, split) — used identically by the batch store build
    * (Catalog.docScores) and the streamed twin
    * (streaming.Stores.DocScores): stateless per-row, so streaming it
    * needs no state store and a doc's sidecar row is complete within its
    * micro-batch (the metaRows convention, Retrieval.scala). This is the
    * table downstream curation reads INSTEAD of the corpus text — scoring
    * at 100 TB happens once at ingest, selection statements are
    * sidecar-sized. */
  def scoreRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("source"),
        size(col("tok")).cast("long").as("n_tok"),
        expr(GramListExpr).as("gl"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(ScoreFromGlExpr).as("score"),
        splitCol.as("split"))

  /** DuckDB mirror of scoreRows over the `documents` view. */
  def scoreRowsOracleSql: String =
    s"""WITH tokd AS (SELECT doc_id, source, string_split(text, ' ') AS tok
       |  FROM documents)
       |SELECT doc_id, source, CAST(len(tok) AS BIGINT) AS n_tok,
       |  $ScoreSql AS score, $SplitSql AS split
       |FROM tokd""".stripMargin.replaceAll("\\s+", " ")

  /** The classifier entry served from the STORED sidecar — same result as
    * `linearQuality`, but the statement reads (doc_id, score) off
    * Catalog.docScores and never touches corpus text (the bm25_stored
    * posture applied to quality filtering). */
  def qualityStored(scores: DataFrame, tau: Double): DataFrame =
    scores.select(col("doc_id"), col("score"))
      .withColumn("passes", col("score") >= tau)

  /** The composed CURATION statement a training run issues: take the
    * train-split docs that clear the quality bar, then draw the
    * temperature-weighted mixture (p ∝ n^0.5 over the SURVIVOR counts) —
    * entirely over the stored sidecar: corpus text is never scanned, the
    * statement's only corpus-shaped input is the (doc_id, source, score,
    * split) table. Quota derivation and the md5-order draw are
    * CorpusOps.temperatureSample's, applied to the filtered survivor set
    * (α pinned 0.5 — the IEEE-exact sqrt rule). */
  def curate(scores: DataFrame, tau: Double, total: Int): DataFrame = {
    val survivors = scores
      .filter(col("split") === "train" && col("score") >= tau)
    val counts = survivors.groupBy("source").agg(count(lit(1)).as("n"))
    val z = Window.partitionBy()
    val quotas = counts
      .withColumn("wz", sqrt(col("n").cast("double")))
      .select(col("source"),
        round(lit(total) * col("wz") / sum("wz").over(z), 0)
          .cast("int").as("quota"))
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("cur:"), col("doc_id").cast("string"))),
        col("doc_id"))
    survivors.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= total)
      .join(quotas, Seq("source"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("source"))
  }

  /** Two-phase data CURRICULUM — the staged-pretraining schedule
    * (pretrain broadly, then anneal on a quality-gated slice — the
    * published midtraining/decay-phase recipe): phase 'pretrain' is the
    * α = 0.5 temperature draw over the whole corpus (breadth); phase
    * 'anneal' is the quality-bar-gated curate draw off the stored score
    * sidecar (the anneal phase deliberately REVISITS high-quality data —
    * overlap between phases is the published behavior, not a bug). Pure
    * composition of the two existing draws, so every determinism and
    * WindowGroupLimit property they pin carries over; the schedule is
    * the new operator, the draws are shared machinery. Returns
    * (phase, doc_id, source). */
  def curriculum(docs: DataFrame, scores: DataFrame, totalPre: Int,
      tau: Double, totalAnneal: Int): DataFrame =
    CorpusOps.temperatureSample(docs, 0.5, totalPre)
      .select(lit("pretrain").as("phase"), col("doc_id"), col("source"))
      .unionAll(curate(scores, tau, totalAnneal)
        .select(lit("anneal").as("phase"), col("doc_id"), col("source")))

  def curriculumOracleSql(totalPre: Int, tau: Double,
      totalAnneal: Int): String =
    s"""SELECT 'pretrain' AS phase, doc_id, source FROM (
       |  ${CorpusOps.temperatureOracleSql(totalPre)})
       |UNION ALL
       |SELECT 'anneal' AS phase, doc_id, source FROM (
       |  ${curateOracleSql(tau, totalAnneal)})"""
      .stripMargin.replaceAll("\\s+", " ")

  /** The dataset-card report — per source: volume (docs, tokens), mean
    * classifier score, and split composition — entirely off the stored
    * sidecar (one partial-aggregating groupBy over (doc_id, source,
    * n_tok, score, split); corpus text never scanned). This is the table
    * a training run logs beside its mixture weights. */
  def corpusReport(scores: DataFrame): DataFrame =
    scores.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        round(avg("score"), 4).as("mean_score"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))

  def corpusReportOracleSql: String =
    s"""WITH tokd AS (SELECT doc_id, source, string_split(text, ' ') AS tok
       |  FROM documents),
       |sc AS (SELECT doc_id, source, CAST(len(tok) AS BIGINT) AS n_tok,
       |    $ScoreSql AS score, $SplitSql AS split
       |  FROM tokd)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  round(avg(score), 4) AS mean_score,
       |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |FROM sc GROUP BY source""".stripMargin.replaceAll("\\s+", " ")

  def curateOracleSql(tau: Double, total: Int): String =
    s"""WITH tokd AS (SELECT doc_id, source, string_split(text, ' ') AS tok
       |  FROM documents),
       |sv AS (SELECT doc_id, source FROM tokd
       |  WHERE $SplitSql = 'train' AND $ScoreSql >= $tau),
       |c AS (SELECT source, count(*) AS n FROM sv GROUP BY source),
       |q AS (SELECT source,
       |    CAST(round($total * sqrt(CAST(n AS DOUBLE)) /
       |      (SELECT sum(sqrt(CAST(n AS DOUBLE))) FROM c), 0) AS INT) AS quota
       |  FROM c),
       |r AS (SELECT doc_id, source, row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY md5('cur:' || doc_id), doc_id) AS rn
       |  FROM sv)
       |SELECT doc_id, source FROM r JOIN q USING (source)
       |WHERE rn <= quota""".stripMargin.replaceAll("\\s+", " ")
}
