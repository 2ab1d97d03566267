package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword and hybrid retrieval over the corpus — the serving-side verbs a
  * training-data platform runs next to its dedup/quality passes: BM25
  * keyword ranking (the lexical tier every retrieval stack starts from) and
  * reciprocal-rank fusion of the lexical and embedding tiers (the standard
  * hybrid-search combiner). The reference's keyword index answers boolean
  * key lookups (/root/reference/src/query.cc:307-346); BM25 is the scored
  * generalization a corpus-scale engine adds on the same inverted shape.
  *
  * Scale shape (100 TB): ONE corpus-wide shuffle — the per-doc token
  * aggregation. Query-term tf counts ride that aggregation as conditional
  * sums (|terms| extra columns, not |vocab|), corpus statistics (N, avgdl,
  * per-term df) collapse to a ONE-ROW frame broadcast back, and the final
  * top-k is a TakeOrdered, never a full sort. Nothing vocabulary-sized is
  * ever broadcast (cf. tfidfTopTerms' rationale in CorpusOps).
  */
object Retrieval {

  val K1 = 1.2
  val B = 0.75
  val RrfK = 60

  private def tfc(i: Int) = s"tf$i"
  private def dfc(i: Int) = s"df$i"

  /** Per-doc (dl, tf per query term) in one aggregation over the exploded
    * token stream. Every doc survives: split() never returns an empty
    * array (an empty text yields [""], matching DuckDB's string_split), so
    * avgdl downstream is a true corpus mean. */
  private def wideTf(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, 1).otherwise(0)).as(tfc(i))
    }
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfs: _*)
  }

  /** Okapi BM25 top-k for a bag-of-terms query.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the non-negative Lucene
    * form). Docs containing no query term are excluded (their score is
    * identically 0). Ranking is on the ROUNDED score with doc_id tiebreak —
    * the same total-order convention the ANN entries pin, so the k-boundary
    * agrees across engines. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val wide = wideTf(docs, terms)
    val statCols = count(lit(1)).as("n_docs") +: avg(col("dl")).as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(tfc(i)) > 0, 1).otherwise(0)).as(dfc(i)))
    val stats = wide.agg(statCols.head, statCols.tail: _*)
    val norm = col("dl") / col("avgdl")
    val score = terms.indices.map { i =>
      val idf = log((col("n_docs") - col(dfc(i)) + 0.5) / (col(dfc(i)) + 0.5) + 1)
      idf * (col(tfc(i)) * (K1 + 1)) / (col(tfc(i)) + (norm * B + (1 - B)) * K1)
    }.reduce(_ + _)
    wide.crossJoin(broadcast(stats))
      .filter(terms.indices.map(i => col(tfc(i)))
        .reduceLeft((a, b) => greatest(a, b)) > 0)
      .select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(k)
  }

  /** DuckDB mirror of bm25TopK — same wide-aggregation CTEs so tf/df/avgdl
    * are computed identically. */
  /** A term as a SQL string literal — embedded quotes doubled (ADVICE r14:
    * an unescaped quote produced a malformed oracle query while the Spark
    * side handled the term fine, so the entry would fail instead of
    * catching a real divergence). */
  private def sqlLit(t: String): String = s"'${t.replace("'", "''")}'"

  def bm25OracleSql(terms: Seq[String], k: Int,
      where: String = "", andWhere: String = ""): String = {
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN token = ${sqlLit(t)} THEN 1 ELSE 0 END) AS ${tfc(i)}"
    }.mkString(", ")
    val dfSel = terms.indices.map(i =>
      s"sum(CASE WHEN ${tfc(i)} > 0 THEN 1 ELSE 0 END) AS ${dfc(i)}").mkString(", ")
    // 0.5::DOUBLE etc: DuckDB types bare decimal literals as DECIMAL, whose
    // division rounds differently from IEEE double at the last digits; the
    // casts force the whole score chain onto the doubles Spark computes
    val score = terms.indices.map { i =>
      s"ln((n_docs - ${dfc(i)} + 0.5::DOUBLE)/(${dfc(i)} + 0.5::DOUBLE) + 1) * " +
        s"(${tfc(i)} * ($K1::DOUBLE + 1)) / " +
        s"(${tfc(i)} + $K1::DOUBLE * (1 - $B::DOUBLE + $B::DOUBLE * dl/avgdl))"
    }.mkString(" + ")
    val anyTf = if (terms.size == 1) tfc(0)
      else s"greatest(${terms.indices.map(tfc).mkString(", ")})"
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents $where),
       |wide AS (SELECT doc_id, count(*) AS dl, $tfSel FROM tok GROUP BY doc_id),
       |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, $dfSel FROM wide)
       |SELECT doc_id, round($score, 4) AS bm25
       |FROM wide, st WHERE $anyTf > 0 $andWhere
       |ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin
      .replaceAll("\\s+", " ")
  }

  /** The inverted-index rows (token, doc_id, tf, dl) as a STATELESS
    * per-row projection — tf via a filter-count over the doc's own token
    * array rather than a corpus aggregation, so the identical expression
    * builds the batch store AND streams new documents in (the
    * winnowFingerprints convention: one projection, two paths, no drift;
    * statelessness is what lets upkeep run in append mode with no state
    * store). A document is one input row, so its tf rows are complete
    * within whatever micro-batch carries it. */
  def lexRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("tok"), size(col("tok")).as("dl"),
        explode(array_distinct(col("tok"))).as("token"))
      .select(col("token"), col("doc_id"),
        size(expr("filter(tok, x -> x = token)")).as("tf"), col("dl"))

  /** The additive corpus-statistics row (n_docs, sum_dl) — stored beside
    * the index because BOTH are pure sums: a streamed batch appends its own
    * delta row and readers fold generations with one tiny aggregate, so
    * serving never scans the corpus-sized index for N/avgdl. */
  def lexStatsRows(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).as("sum_dl"))

  /** DuckDB mirror of the full inverted-index content. */
  def lexOracleSql: String =
    """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |  unnest(string_split(text, ' ')) AS token FROM documents)
      |SELECT token, doc_id, count(*) AS tf, dl
      |FROM tok GROUP BY token, doc_id, dl""".stripMargin
      .replaceAll("\\s+", " ")

  def lexStatsOracleSql: String =
    // BIGINT cast: DuckDB widens integer sums to HUGEINT, which the
    // driver's pandas bridge renders as object, not int64
    """SELECT count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
      |FROM documents""".stripMargin.replaceAll("\\s+", " ")

  /** Fold the additive stats store (generations of (n_docs, sum_dl)) to
    * the broadcast (n_docs, avgdl) row every stored serving path consumes
    * — ONE rendering so the avgdl arithmetic cannot drift between the
    * single and batch stored lookups. */
  private def statsFold(stats: DataFrame): DataFrame =
    // a pre-folded frame (Catalog.lexStatsFolded — local 1-row, columns
    // (n_docs, avgdl)) broadcasts as is: its LocalRelation builds the
    // broadcast driver-side with no scan/agg stage waves. Generation
    // frames (columns (n_docs, sum_dl)) keep the in-plan additive fold.
    if (stats.columns.sameElements(Array("n_docs", "avgdl"))) broadcast(stats)
    else broadcast(stats
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl")))

  /** The ONE BM25 per-(doc, term) contribution expression, over columns
    * (tf, df, dl, n_docs, avgdl) — shared by every path that scores from
    * long-format postings (stored single/batch, corpus-side batch), so a
    * K1/B/idf change lands once. bm25TopK's wide-column variant renders
    * the same arithmetic per term index. */
  private def contribExpr: Column = {
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    idf * (col("tf") * (K1 + 1)) /
      (col("tf") + (col("dl") / col("avgdl") * B + (1 - B)) * K1)
  }

  /** The per-query rank tail over (qid, doc_id, bm25) — row_number ≤ k
    * with the rounded-score/doc_id tie-break, riding WindowGroupLimit
    * (the lexical twin of Ann.topKPerQuery). keepRank hands the computed
    * rank to a fusion consumer instead of forcing a second identical
    * window. */
  private def perQueryTopK(scored: DataFrame, k: Int,
      keepRank: Boolean = false): DataFrame = {
    val ranked = scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("bm25"), asc("doc_id"))))
      .filter(col("rank") <= k)
    if (keepRank) ranked.select("qid", "doc_id", "bm25", "rank")
    else ranked.select("qid", "doc_id", "bm25")
  }

  /** BM25 served FROM the stored inverted index — what query time looks
    * like when the engine stops re-tokenizing the corpus per statement:
    * the term `isin` reaches the token-sorted store as a pushed In filter
    * (row-group skip via min/max — the postings-seek analogue of the
    * reference's keyword lookups), per-term df is an aggregate over ONLY
    * those pruned postings, and N/avgdl fold from the additive stats
    * generations as a broadcast 1-row frame. Query cost is proportional to
    * the query terms' posting lists, not the corpus — the inverted-index
    * serving contract. Same scoring chain and rank convention as
    * bm25TopK, so the stored path shares its oracle. */
  /** The ONE single-query scoring tail over pruned postings `px` and an
    * unfolded stats frame — shared by the plain, metadata-filtered, and
    * tombstone-masked stored lookups, so a tie-break / rounding / df-shape
    * change lands once (review finding, r15). Per-term df is a WINDOW
    * count over the pruned postings — same value as the former
    * groupBy(token) aggregate joined back, one exchange instead of two
    * plus a join (VERDICT r14 #3 job audit); the window's token
    * partitioning is the postings' natural key. Trade (documented): a
    * window has no map-side partial agg, so a stop-word-frequency query
    * term buffers its whole posting list in one task (WindowExec spills —
    * a straggler, not a failure); same hot-term exposure and df-cap
    * treatment as the corpus-side batch. */
  private def withDfWindow(px: DataFrame): DataFrame =
    px.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("token")))

  private def scoreWithDf(pxd: DataFrame, stats: DataFrame,
      k: Int): DataFrame =
    pxd.crossJoin(statsFold(stats))
      .groupBy("doc_id").agg(round(sum(contribExpr), 4).as("bm25"))
      .orderBy(desc("bm25"), asc("doc_id")).limit(k)

  private def scoreStoredPostings(px: DataFrame, stats: DataFrame,
      k: Int): DataFrame =
    scoreWithDf(withDfWindow(px), stats, k)

  def bm25StoredTopK(index: DataFrame, stats: DataFrame,
      terms: Seq[String], k: Int): DataFrame =
    scoreStoredPostings(index.filter(col("token").isin(terms: _*)),
      stats, k)

  /** BATCHED BM25: serve a whole query TABLE (qid, terms array) in one
    * declarative plan — the lexical twin of Ivf.topKBatch (queries
    * arrive in batches at serving time; per-query driver round-trips don't
    * scale). Stages, all in-plan:
    *  1. tf — one corpus-sized pass whose SHUFFLE stays term-bounded: dl
    *     rides the explode as a carried column (functional on doc_id, so
    *     it joins the groupBy key for free — no second corpus shuffle on
    *     doc_id), and the token stream is restricted to the batch's
    *     distinct term set by an UNHINTED equi-join (AQE broadcasts the
    *     term dictionary when it's small, shuffle-joins when a data-scale
    *     batch makes it big);
    *  2. per-term df from the pruned tf rows, and the corpus scalars
    *     (N, avgdl) from a SECOND corpus scan — a deliberate trade: the
    *     term filter that keeps stage 1's shuffle small also drops the
    *     no-term docs the scalars must count, and folding them back in
    *     would cost a full-vocabulary shuffle. Two text scans beat one
    *     vocabulary-wide exchange; at serving scale BOTH passes disappear
    *     into bm25StoredTopKBatch's stored index + additive stats store;
    *  3. scoring — (qid, term) joins tf on term, contributions sum per
    *     (qid, doc), round-4 like the single-query path;
    *  4. per-query top-k — row_number ≤ k rides Spark's WindowGroupLimit
    *     (partial top-k map-side), never a global sort.
    * Query contract: qids distinct, terms within a query distinct (a
    * duplicated term would double its contribution; the reference model is
    * a bag-of-DISTINCT-terms query, matching bm25TopK's term list).
    * Returns (qid, doc_id, bm25), ≤ k rows per query — docs sharing no
    * term with a query never appear, as in the single-query path. */
  def bm25TopKBatch(docs: DataFrame, queries: DataFrame, k: Int,
      stats: Option[DataFrame] = None,
      termDict: Option[Seq[String]] = None): DataFrame = {
    val qt = queries.select(col("qid"), explode(col("terms")).as("token"))
    val exploded = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("token"))
    // term restriction: a driver-held literal batch prunes the token
    // stream with a static isin folded into the scan stage (the stored
    // batch's termDict posture — no dictionary broadcast-build wave); a
    // data-scale batch keeps the unhinted equi-join (AQE broadcasts the
    // dictionary while it fits). The dict must equal the queries' distinct
    // terms — the batch==singles specs pin the equivalence.
    val pruned = termDict match {
      case Some(dict) => exploded.filter(col("token").isin(dict: _*))
      case None => exploded.join(qt.select("token").distinct(), Seq("token"))
    }
    val tf = pruned
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    // window-count df over the term-bounded tf rows (the stored paths'
    // shape): one token exchange instead of re-evaluating the corpus-pass
    // tf subtree for a df aggregate and joining it back
    val tfd = tf.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("token")))
    // (n_docs, avgdl): the caller passes the corpus' PRE-FOLDED stats when
    // they're immutable per sf-dir (Catalog.lexStatsFolded /
    // metaStatsFolded — a local 1-row frame, so this entry's former
    // second corpus scan disappears; VERDICT r18 #3). An ad-hoc corpus
    // keeps the in-plan fallback: a second text scan is still cheaper
    // than folding the no-term docs back through a vocabulary shuffle.
    // Same value either way — both render Σdl/N as one exact-integer
    // double division (Spark's avg over a long column does the same).
    val st = stats.getOrElse(docs.agg(count(lit(1)).as("n_docs"),
      avg(size(split(col("text"), " "))).as("avgdl")))
    perQueryTopK(qt.join(tfd, Seq("token"))
      .crossJoin(statsFold(st))
      .groupBy("qid", "doc_id")
      .agg(round(sum(contribExpr), 4).as("bm25")), k)
  }

  /** DuckDB mirror of bm25TopKBatch for an inline query batch. */
  def bm25BatchOracleSql(queries: Seq[(Long, Seq[String])], k: Int,
      where: String = ""): String = {
    val qRows = queries.flatMap { case (qid, ts) =>
      ts.map(t => s"($qid, ${sqlLit(t)})") }.mkString(", ")
    s"""WITH q(qid, token) AS (VALUES $qRows),
       |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |          unnest(string_split(text, ' ')) AS token FROM documents $where),
       |tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM tok
       |       WHERE token IN (SELECT DISTINCT token FROM q)
       |       GROUP BY doc_id, dl, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |st AS (SELECT count(*) AS n_docs,
       |         avg(len(string_split(text, ' '))) AS avgdl
       |       FROM documents $where),
       |sc AS (SELECT q.qid, tf.doc_id,
       |         round(sum(
       |           ln((n_docs - df + 0.5::DOUBLE)/(df + 0.5::DOUBLE) + 1) *
       |           (tf * ($K1::DOUBLE + 1)) /
       |           (tf + (dl/avgdl * $B::DOUBLE + (1 - $B::DOUBLE)) * $K1::DOUBLE)), 4) AS bm25
       |       FROM q JOIN tf USING (token) JOIN df USING (token), st
       |       GROUP BY q.qid, tf.doc_id)
       |SELECT qid, doc_id, bm25 FROM (
       |  SELECT qid, doc_id, bm25, row_number() OVER (
       |    PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rn FROM sc)
       |WHERE rn <= $k""".stripMargin.replaceAll("\\s+", " ")
  }

  /** BATCHED BM25 FROM THE STORED INDEX — the lexical serving matrix's
    * fourth corner ({single, batch} × {corpus-side, stored}): the whole
    * query table answered against Catalog.lexIndex in one plan. The store
    * is pruned to the batch's term dictionary by an UNHINTED left-semi:
    * unlike probed cells (≤ Cells, always broadcast-safe), a batch's
    * distinct term set is bounded only by the vocabulary, so AQE
    * runtime-broadcasts it while it fits and degrades to a shuffle
    * semi-join when a data-scale batch grows it — at serving-size batches
    * the broadcast semi is the store's row-group skip. df aggregates only
    * the pruned
    * postings; stats fold from the additive store. Same scoring and rank
    * conventions as bm25TopKBatch, so the stored batch shares its oracle. */
  /** The ONE batch scoring tail over pruned postings — shared by the plain
    * and metadata-filtered stored batches (the single-query
    * scoreStoredPostings twin). Window-count df over the pruned postings:
    * one token exchange that the query join REUSES — the former
    * groupBy+join-back shape evaluated the pruned-postings subtree twice
    * and paid two more exchanges (VERDICT r14 #3: rrf_stored_batch's
    * 26-job wave audit). */
  private def scoreStoredPostingsBatch(qt: DataFrame, px: DataFrame,
      stats: DataFrame, k: Int, keepRank: Boolean = false): DataFrame =
    // ONE exchange on qid serves both the (qid, doc_id) aggregate (subset
    // co-partitioning: hash(qid) clusters (qid, doc_id)) and the per-query
    // rank window — the former agg-hash + window-hash exchange pair was
    // two AQE stage waves per tier (VERDICT r15 #6). Map-side combine for
    // the agg is forfeited; a (qid, doc_id) group holds ≤ |terms| rows, so
    // the partials saved almost nothing.
    perQueryTopK(qt.join(withDfWindow(px), Seq("token"))
      .crossJoin(statsFold(stats))
      .repartition(col("qid"))
      .groupBy("qid", "doc_id")
      .agg(round(sum(contribExpr), 4).as("bm25")), k, keepRank)

  /** `termDict`: when the CALLER already holds the batch's distinct terms
    * driver-side (a literal serving batch — the entries' BatchQueries
    * case), the store prunes by a static pushed In(token) exactly like the
    * single-query path: row-group skipping at planning time, and the
    * dictionary semi-join's broadcast-build wave disappears (VERDICT r15
    * #6 job audit). A data-scale batch passes None and keeps the unhinted
    * semi-join below. The dict must equal the queries' distinct terms —
    * asserted cheaply at plan time is impossible, so the batch==singles
    * specs pin the equivalence. */
  def bm25StoredTopKBatch(index: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int, keepRank: Boolean = false,
      termDict: Option[Seq[String]] = None): DataFrame = {
    val qt = queries.select(col("qid"), explode(col("terms")).as("token"))
    // UNHINTED like bm25TopKBatch's dictionary join: distinct terms are
    // bounded by the batch's VOCABULARY, not a fixed cap (unlike probed
    // cells ≤ Cells), so a forced broadcast would OOM the driver on a
    // data-scale batch instead of degrading to a shuffle semi-join
    val px = termDict match {
      case Some(dict) => index.filter(col("token").isin(dict: _*))
      case None => index.join(qt.select("token").distinct(),
        Seq("token"), "left_semi")
    }
    scoreStoredPostingsBatch(qt, px, stats, k, keepRank)
  }

  // ---- metadata-FILTERED retrieval (r15): the serving shape every search
  // deployment exposes ("search within lang = L / source = S"), previously
  // present only on the dense float tier. Semantics: retrieval over the
  // metadata-defined SUB-corpus — candidates, df, AND (n_docs, avgdl) all
  // come from the slice, exactly what a per-language index would hold, and
  // what makes the corpus-side and stored paths trivially consistent.

  /** Corpus-side filtered BM25 — a metadata filter composed with the
    * existing operator (the predicate reaches the documents scan pushed). */
  def bm25TopKFiltered(docs: DataFrame, terms: Seq[String], k: Int,
      lang: String): DataFrame =
    bm25TopK(docs.filter(col("lang") === lang), terms, k)

  /** The sidecar's row projection (doc_id, lang, source, dl) — STATELESS
    * per-row, shared by the batch store build (Catalog.docMeta) and the
    * streamed upkeep (DocumentsIngest.metaOnce), the lexRows convention:
    * one projection, two paths, no drift. */
  def metaRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      size(split(col("text"), " ")).as("dl"))

  /** DuckDB mirror of the sidecar content. */
  def metaOracleSql: String =
    """SELECT doc_id, lang, source,
      |  len(string_split(text, ' ')) AS dl FROM documents""".stripMargin
      .replaceAll("\\s+", " ")

  /** The filtered slice's (n_docs, sum_dl) — ONE aggregate over the
    * metadata SIDECAR (Catalog.docMeta carries dl), never the corpus. */
  private def metaStats(meta: DataFrame, lang: String): DataFrame =
    meta.filter(col("lang") === lang)
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))

  /** Filtered BM25 FROM the stored index: postings pruned to the query
    * terms (pushed In), then to the allowed documents by an UNHINTED
    * left-semi against the metadata sidecar (term-bounded left side, so
    * the semi is cheap however large the slice; AQE broadcasts the pruned
    * side when it fits); df windows over the SURVIVING postings and the
    * slice stats fold from the sidecar — query cost stays proportional to
    * the terms' posting lists, and the corpus text is never touched. */
  /** `sliceStats`: a pre-folded (n_docs, avgdl) frame for the slice
    * (Catalog.metaStatsFolded — the immutable sidecar's fold memoized
    * driver-side); None keeps the in-plan sidecar aggregate. */
  def bm25StoredTopKFiltered(index: DataFrame, meta: DataFrame,
      terms: Seq[String], lang: String, k: Int,
      sliceStats: Option[DataFrame] = None): DataFrame =
    scoreStoredPostings(
      index.filter(col("token").isin(terms: _*))
        .join(meta.filter(col("lang") === lang).select("doc_id"),
          Seq("doc_id"), "left_semi"),
      sliceStats.getOrElse(metaStats(meta, lang)), k)

  /** Filtered stored HYBRID: both tiers restricted to the same
    * metadata-defined slice of the shared id space — the lexical tier via
    * bm25StoredTopKFiltered, the dense tier via the probed-cell lookup
    * semi-joined to the sidecar's allowed ids (Ivf.Allowed) — then
    * the usual k-bounded fusion. Nothing corpus-sized at query time. */
  def rrfStoredFiltered(index: DataFrame, meta: DataFrame, flat: DataFrame,
      emb: DataFrame, terms: Seq[String], qVecId: Long, lang: String,
      n: Int, k: Int, sliceStats: Option[DataFrame] = None): DataFrame = {
    val lex = bm25StoredTopKFiltered(index, meta, terms, lang, n, sliceStats)
      .select(col("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("bm25"), asc("doc_id"))).as("rank"))
    val den = Ivf.topK(IvfCodec.Flat, flat, emb, qVecId, n,
        Ivf.Allowed(meta.filter(col("lang") === lang)
          .select(col("doc_id").as("vec_id"))))
      .select(col("vec_id").as("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("sim"), asc("vec_id"))).as("rank"))
    fuse(lex, den, k)
  }

  /** BM25 from the stored index with a TOMBSTONE mask — retrieval over a
    * deduped view of the corpus WITHOUT reindexing: the near-dup cluster
    * losers (or any deleted-doc set) anti-join the candidates at serving
    * time, while df and the corpus stats remain those of the STORED index
    * — the deleted-docs contract every segment-based engine ships
    * (deletes mask results immediately; scores reflect pre-delete
    * statistics until a rebuild folds them out), and the retrieval
    * analogue of the reference's summary-override no-reindex refresh
    * (/root/reference/README.md:38-49). The mask touches only doc_ids;
    * bm25CleanRebuild below is the rebuild end of the lifecycle. */
  def bm25StoredTopKMasked(index: DataFrame, stats: DataFrame,
      tombstones: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    // df windows over the UNMASKED pruned postings (deleted docs still
    // count — pre-delete statistics, by contract), THEN the mask anti-joins
    // the candidate rows, then the shared scoring chain
    val pxd = withDfWindow(index.filter(col("token").isin(terms: _*)))
    scoreWithDf(pxd.join(tombstones.select("doc_id"), Seq("doc_id"),
      "left_anti"), stats, k)
  }

  /** Filtered AND masked BM25 from the stored index — the two serving
    * contracts composed, each keeping its own statistics discipline: the
    * slice semi-join AND the slice df/stats come from the metadata sidecar
    * (sub-corpus semantics, as bm25StoredTopKFiltered), while the
    * tombstones anti-join only the CANDIDATE rows after the df window
    * (pre-delete statistics, as bm25StoredTopKMasked). The composition
    * order matters and is pinned by spec: df windows over the sliced
    * UNMASKED postings — a deleted doc stops appearing immediately but
    * keeps counting toward slice df until a rebuild folds it out. */
  def bm25StoredTopKFilteredMasked(index: DataFrame, meta: DataFrame,
      tombstones: DataFrame, terms: Seq[String], lang: String, k: Int,
      sliceStats: Option[DataFrame] = None): DataFrame = {
    val pxd = withDfWindow(
      index.filter(col("token").isin(terms: _*))
        .join(meta.filter(col("lang") === lang).select("doc_id"),
          Seq("doc_id"), "left_semi"))
    scoreWithDf(pxd.join(tombstones.select("doc_id"), Seq("doc_id"),
        "left_anti"),
      sliceStats.getOrElse(metaStats(meta, lang)), k)
  }

  /** The rebuild end of the delete lifecycle: BM25 over the physically
    * deduped corpus (losers excised BEFORE indexing, so df/avgdl reflect
    * the clean corpus) — what a compaction that folds tombstones out
    * serves. One anti-join + the standard operator. */
  def bm25CleanRebuild(docs: DataFrame, tombstones: DataFrame,
      terms: Seq[String], k: Int): DataFrame =
    bm25TopK(docs.join(tombstones.select("doc_id"), Seq("doc_id"),
      "left_anti"), terms, k)

  /** Corpus-side filtered BATCH — the filter composes with the batch
    * operator; the slice predicate prunes the corpus pass itself. The
    * optional `stats` is the SLICE's pre-folded (n_docs, avgdl)
    * (Catalog.metaStatsFolded) — it must describe the same slice the
    * filter cuts. */
  def bm25TopKBatchFiltered(docs: DataFrame, queries: DataFrame, k: Int,
      lang: String, stats: Option[DataFrame] = None,
      termDict: Option[Seq[String]] = None): DataFrame =
    bm25TopKBatch(docs.filter(col("lang") === lang), queries, k, stats,
      termDict)

  /** Filtered BATCH from the stored index — the matrix's last corner:
    * bm25StoredTopKBatch's plan with the postings additionally semi-joined
    * to the slice's doc ids and the stats folded from the sidecar. */
  def bm25StoredTopKBatchFiltered(index: DataFrame, meta: DataFrame,
      queries: DataFrame, lang: String, k: Int,
      keepRank: Boolean = false,
      termDict: Option[Seq[String]] = None,
      sliceStats: Option[DataFrame] = None): DataFrame = {
    val qt = queries.select(col("qid"), explode(col("terms")).as("token"))
    val pruned = termDict match {
      case Some(dict) => index.filter(col("token").isin(dict: _*))
      case None => index.join(qt.select("token").distinct(),
        Seq("token"), "left_semi")
    }
    val px = pruned
      .join(meta.filter(col("lang") === lang).select("doc_id"),
        Seq("doc_id"), "left_semi")
    scoreStoredPostingsBatch(qt, px,
      sliceStats.getOrElse(metaStats(meta, lang)), k, keepRank)
  }

  /** DuckDB mirror of the filtered batch paths (shared, like the
    * unfiltered pair). */
  def bm25BatchFilteredOracleSql(queries: Seq[(Long, Seq[String])], k: Int,
      lang: String): String =
    bm25BatchOracleSql(queries, k, s"WHERE lang = ${sqlLit(lang)}")

  /** DuckDB mirror of bm25TopKFiltered / bm25StoredTopKFiltered (one
    * oracle — the stored path's whole point is slice-equivalence). */
  def bm25FilteredOracleSql(terms: Seq[String], k: Int,
      lang: String): String =
    bm25OracleSql(terms, k, s"WHERE lang = ${sqlLit(lang)}")

  /** DuckDB mirror of rrfStoredFiltered: the filtered bm25 CTE + the
    * allowed-set dense oracle, fused with the standard tail. */
  def rrfStoredFilteredOracleSql(terms: Seq[String], qVecId: Long,
      lang: String, n: Int, k: Int): String =
    s"""WITH lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM (${bm25FilteredOracleSql(terms, n, lang)})),
       |den AS (
       |  SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS den_rank
       |  FROM (${Ivf.oracleSql(IvfCodec.Flat, qVecId, n, Ivf.Allowed(
            s"SELECT doc_id AS vec_id FROM documents WHERE lang = ${sqlLit(lang)}"))}))
       |SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |  round(COALESCE(1.0::DOUBLE/($RrfK + lex_rank), 0) +
       |        COALESCE(1.0::DOUBLE/($RrfK + den_rank), 0), 6) AS rrf
       |FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $k""".stripMargin
      .replaceAll("\\s+", " ")

  /** Exact embedding-cosine ranking for one query vector, as (vec_id, rank)
    * for the top `n` — the dense tier the fusion consumes. Same rounded-sim
    * vec_id-tiebreak order as Ann's exact baseline; the rank is assigned by
    * a window over the LIMITED n-row frame, so no corpus-wide window runs. */
  private def denseRanks(emb: DataFrame, qVecId: Long, n: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    val q = broadcast(e.filter(col("vec_id") === qVecId)
      .select(col("emb").as("qemb")))
    val topn = e.filter(col("vec_id") =!= qVecId).crossJoin(q)
      .select(col("vec_id"),
        round(Ann.dot(col("emb"), col("qemb")) /
          sqrt(Ann.dot(col("emb"), col("emb")) * Ann.dot(col("qemb"), col("qemb"))), 6)
          .as("sim"))
      .orderBy(desc("sim"), asc("vec_id")).limit(n)
    topn.select(col("vec_id"), row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(desc("sim"), asc("vec_id"))).as("rank"))
  }

  /** Reciprocal-rank fusion of the BM25 and exact-cosine rankings for one
    * query (terms + its embedding; doc_id and vec_id share the id space):
    * rrf(d) = Σ_systems 1/(RrfK + rank_s(d)), absent docs contribute
    * nothing. Integer ranks make the fused score a sum of two fixed
    * rationals — bit-identical across engines — rounded to 6dp for the
    * output column. Both inputs are already k-bounded (≤ n rows each), so
    * the fusion join/sort is driver-trivial no matter the corpus size; the
    * heavy lifting happened in the two tiers. */
  def rrfFusion(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      qVecId: Long, n: Int, k: Int): DataFrame =
    fuse(bm25TopK(docs, terms, n)
        .select(col("doc_id"), row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("bm25"), asc("doc_id"))).as("rank")),
      denseRanks(emb, qVecId, n).withColumnRenamed("vec_id", "doc_id"), k)

  /** ONE rendering of the fusion rows: rrf(d) = Σ_tiers 1/(RrfK + rank) is
    * a plain sum over the tiers' (keys, rank) rows, so the fusion is a
    * UNION + one aggregation — not the former full-outer join, whose
    * equi-full-outer needs both k-bounded sides exchanged AND sorted
    * (an SMJ wave pair, r15 #6 job audit). Absent tiers simply contribute
    * no row; double addition over ≤2 values is commutative, so the summed
    * score is bit-identical to the joined coalesce form (the oracles keep
    * the full-outer rendering — same values). The explicit repartition on
    * keys.head (qid for batches, doc_id single) lets the downstream
    * per-query rank window reuse the aggregation's exchange via subset
    * co-partitioning. */
  private def fuseRows(lex: DataFrame, den: DataFrame,
      keys: Seq[String]): DataFrame = {
    val contrib = (lit(1.0) / (lit(RrfK) + col("rank"))).as("contrib")
    lex.select(keys.map(col) :+ contrib: _*)
      .unionByName(den.select(keys.map(col) :+ contrib: _*))
      .repartition(col(keys.head))
      .groupBy(keys.map(col): _*)
      .agg(round(sum("contrib"), 6).as("rrf"))
  }

  /** The single-query fusion tail shared by the corpus-side and
    * stored-index hybrid entries. private[graft]: RetrievalSpec's
    * randomized union-sum == full-outer law drives it directly. */
  private[graft] def fuse(lex: DataFrame, den: DataFrame, k: Int): DataFrame =
    fuseRows(lex, den, Seq("doc_id"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(k)

  /** Hybrid retrieval served ENTIRELY from stored indexes — the deployed
    * shape: the lexical tier reads Catalog.lexIndex (pushed In(token),
    * no re-tokenization), the dense tier reads the IVF cell store (probed
    * cells only, approximate by construction), and the fusion runs over
    * the two k-bounded rankings. Neither tier touches anything
    * corpus-sized at query time. */
  def rrfStored(index: DataFrame, stats: DataFrame, emb: DataFrame,
      flat: DataFrame, terms: Seq[String], qVecId: Long, n: Int,
      k: Int): DataFrame = {
    val lex = bm25StoredTopK(index, stats, terms, n)
      .select(col("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("bm25"), asc("doc_id"))).as("rank"))
    val den = Ivf.topK(IvfCodec.Flat, flat, emb, qVecId, n)
      .select(col("vec_id").as("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("sim"), asc("vec_id"))).as("rank"))
    fuse(lex, den, k)
  }

  /** Tombstone-MASKED stored hybrid — the delete lifecycle applied to BOTH
    * tiers of the same fusion (VERDICT r15 #4's rationale made an
    * operator): the lexical tier serves masked with pre-delete statistics
    * (bm25StoredTopKMasked), the dense tier anti-joins the same tombstone
    * set inside its probed cells (Ivf.Masked), and the fusion
    * sees no deleted doc from either side — masking one tier only would
    * fuse a ranking that still contains the deleted doc with one that
    * doesn't, exactly the inconsistency this operator exists to prevent. */
  def rrfStoredMasked(index: DataFrame, stats: DataFrame, emb: DataFrame,
      flat: DataFrame, tombstones: DataFrame, terms: Seq[String],
      qVecId: Long, n: Int, k: Int): DataFrame = {
    val lex = bm25StoredTopKMasked(index, stats, tombstones, terms, n)
      .select(col("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("bm25"), asc("doc_id"))).as("rank"))
    val den = Ivf.topK(IvfCodec.Flat, flat, emb, qVecId, n,
        Ivf.Masked(tombstones.select(col("doc_id").as("vec_id"))))
      .select(col("vec_id").as("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("sim"), asc("vec_id"))).as("rank"))
    fuse(lex, den, k)
  }

  /** DuckDB mirror of rrfStoredMasked: the masked bm25 oracle (candidates
    * anti-joined, df/stats pre-delete) + the masked dense oracle, fused
    * with the standard tail. */
  def rrfStoredMaskedOracleSql(terms: Seq[String], qVecId: Long,
      deadDocSql: String, n: Int, k: Int): String =
    s"""WITH dead AS ($deadDocSql),
       |lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM (${bm25OracleSql(terms, n, andWhere =
            "AND doc_id NOT IN (SELECT doc_id FROM dead)")})),
       |den AS (
       |  SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS den_rank
       |  FROM (${Ivf.oracleSql(IvfCodec.Flat, qVecId, n,
            Ivf.Masked("SELECT doc_id AS vec_id FROM dead"))}))
       |SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |  round(COALESCE(1.0::DOUBLE/($RrfK + lex_rank), 0) +
       |        COALESCE(1.0::DOUBLE/($RrfK + den_rank), 0), 6) AS rrf
       |FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $k""".stripMargin
      .replaceAll("\\s+", " ")

  /** Filtered AND masked stored hybrid — the serving lattice's last
    * single-query cell: both tiers restricted to the same metadata slice
    * AND masked by the same tombstone set. The lexical tier composes the
    * two contracts (bm25StoredTopKFilteredMasked: slice df, pre-delete
    * statistics); the dense tier's candidate set is one relational
    * expression — slice ids anti-joined to the tombstones — fed to the
    * existing allowed-set lookup (semi/anti commutes with cell pruning,
    * the same one-line composition the quantized masked tiers use).
    * Either set empty degrades to the simpler operator bit-identically
    * (spec-pinned). */
  def rrfStoredFilteredMasked(index: DataFrame, meta: DataFrame,
      flat: DataFrame, emb: DataFrame, tombstones: DataFrame,
      terms: Seq[String], qVecId: Long, lang: String, n: Int, k: Int,
      sliceStats: Option[DataFrame] = None): DataFrame = {
    val lex = bm25StoredTopKFilteredMasked(index, meta, tombstones, terms,
        lang, n, sliceStats)
      .select(col("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("bm25"), asc("doc_id"))).as("rank"))
    val allowed = meta.filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
      .join(tombstones.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
    val den = Ivf.topK(IvfCodec.Flat, flat, emb, qVecId, n, Ivf.Allowed(allowed))
      .select(col("vec_id").as("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("sim"), asc("vec_id"))).as("rank"))
    fuse(lex, den, k)
  }

  /** DuckDB mirror of rrfStoredFilteredMasked: the bm25 oracle sliced in
    * its corpus CTE (slice statistics) and masked in its output predicate
    * (pre-delete statistics), the dense oracle over the slice-minus-dead
    * allowed set, fused with the standard tail. */
  def rrfStoredFilteredMaskedOracleSql(terms: Seq[String], qVecId: Long,
      lang: String, deadDocSql: String, n: Int, k: Int): String =
    s"""WITH dead AS ($deadDocSql),
       |lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM (${bm25OracleSql(terms, n,
            where = s"WHERE lang = ${sqlLit(lang)}",
            andWhere = "AND doc_id NOT IN (SELECT doc_id FROM dead)")})),
       |den AS (
       |  SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS den_rank
       |  FROM (${Ivf.oracleSql(IvfCodec.Flat, qVecId, n, Ivf.Allowed(
            s"""SELECT doc_id AS vec_id FROM documents
               | WHERE lang = ${sqlLit(lang)}
               |   AND doc_id NOT IN (SELECT doc_id FROM dead)""".stripMargin
              .replaceAll("\\s+", " ")))}))
       |SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |  round(COALESCE(1.0::DOUBLE/($RrfK + lex_rank), 0) +
       |        COALESCE(1.0::DOUBLE/($RrfK + den_rank), 0), 6) AS rrf
       |FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $k""".stripMargin
      .replaceAll("\\s+", " ")

  /** BATCHED stored hybrid — the whole hybrid serving matrix in one plan:
    * the lexical tier is bm25StoredTopKBatch (stored postings, term-
    * dictionary semi-join), the dense tier is Ivf.topKBatch (stored
    * cells, probed-cell pruning), and the per-query fusion joins the two
    * k-bounded rankings on (qid, doc_id). Query contract: the lexical
    * queries table's qids ARE corpus vec_ids (the shared id space every
    * hybrid entry uses), and `denQueries` carries those rows' embeddings.
    * Per-query output is ≤ k rows ranked by (rrf DESC, doc_id). */
  def rrfStoredBatch(index: DataFrame, stats: DataFrame,
      flat: DataFrame, queries: DataFrame, denQueries: DataFrame,
      n: Int, k: Int, termDict: Option[Seq[String]] = None): DataFrame = {
    // each tier KEEPS the rank its own top-n window just computed — no
    // second identical window per tier (review finding)
    val lex = bm25StoredTopKBatch(index, stats, queries, n, keepRank = true,
        termDict = termDict)
      .select("qid", "doc_id", "rank")
    val den = Ivf.topKBatch(IvfCodec.Flat, flat, denQueries, n, keepRank = true)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    fuseBatch(lex, den, k)
  }

  /** The per-query batch fusion tail (full-outer on (qid, doc_id) + the
    * per-query rank window) shared by the plain and filtered stored
    * batches. */
  private def fuseBatch(lex: DataFrame, den: DataFrame, k: Int): DataFrame =
    fuseRows(lex, den, Seq("qid", "doc_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("rrf"), asc("doc_id"))))
      .filter(col("rn") <= k)
      .select("qid", "doc_id", "rrf")

  /** BATCHED FILTERED stored hybrid — the serving matrix's last corner
    * ({batch} × {stored} × {filtered}): both tiers' batch plans restricted
    * to the same metadata-defined slice (lexical postings semi-joined to
    * the sidecar's slice ids with slice stats; dense candidates semi-joined
    * to the same ids inside the probed partitions), fused per query.
    * Nothing corpus-sized at query time; sub-corpus df/avgdl semantics
    * identical to the filtered singles (spec-pinned). */
  def rrfStoredFilteredBatch(index: DataFrame, meta: DataFrame,
      flat: DataFrame, queries: DataFrame, denQueries: DataFrame,
      lang: String, n: Int, k: Int,
      termDict: Option[Seq[String]] = None,
      sliceStats: Option[DataFrame] = None): DataFrame = {
    val lex = bm25StoredTopKBatchFiltered(index, meta, queries, lang, n,
        keepRank = true, termDict = termDict, sliceStats = sliceStats)
      .select("qid", "doc_id", "rank")
    val allowed = meta.filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    val den = Ivf.topKBatch(IvfCodec.Flat, flat, denQueries, n,
        Ivf.Allowed(allowed), keepRank = true)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    fuseBatch(lex, den, k)
  }

  /** DuckDB mirror of rrfStoredFilteredBatch: the filtered batch oracles
    * for both tiers + the per-query fusion tail (rrfStoredBatchOracleSql's
    * shape with the slice composed in). */
  def rrfStoredFilteredBatchOracleSql(queries: Seq[(Long, Seq[String])],
      maxQid: Long, lang: String, n: Int, k: Int): String =
    s"""WITH lex AS (
       |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM (${bm25BatchFilteredOracleSql(queries, n, lang)})),
       |den AS (
       |  SELECT qid, vec_id AS doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, vec_id) AS den_rank
       |  FROM (${Ivf.batchOracleSql(IvfCodec.Flat, maxQid, n, Ivf.Allowed(
            s"SELECT doc_id AS vec_id FROM documents WHERE lang = ${sqlLit(lang)}"))})),
       |f AS (SELECT COALESCE(lex.qid, den.qid) AS qid,
       |        COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |        round(COALESCE(1.0::DOUBLE/($RrfK + lex_rank), 0) +
       |              COALESCE(1.0::DOUBLE/($RrfK + den_rank), 0), 6) AS rrf
       |      FROM lex FULL OUTER JOIN den
       |        ON lex.qid = den.qid AND lex.doc_id = den.doc_id)
       |SELECT qid, doc_id, rrf FROM (
       |  SELECT qid, doc_id, rrf, row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, doc_id) AS rn FROM f)
       |WHERE rn <= $k""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of rrfStoredBatch: the already-verified batch oracles
    * for both tiers, per-query rank assignment, and the fusion tail. */
  def rrfStoredBatchOracleSql(queries: Seq[(Long, Seq[String])],
      maxQid: Long, n: Int, k: Int): String =
    s"""WITH lex AS (
       |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM (${bm25BatchOracleSql(queries, n)})),
       |den AS (
       |  SELECT qid, vec_id AS doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, vec_id) AS den_rank
       |  FROM (${Ivf.batchOracleSql(IvfCodec.Flat, maxQid, n)})),
       |f AS (SELECT COALESCE(lex.qid, den.qid) AS qid,
       |        COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |        round(COALESCE(1.0::DOUBLE/($RrfK + lex_rank), 0) +
       |              COALESCE(1.0::DOUBLE/($RrfK + den_rank), 0), 6) AS rrf
       |      FROM lex FULL OUTER JOIN den
       |        ON lex.qid = den.qid AND lex.doc_id = den.doc_id)
       |SELECT qid, doc_id, rrf FROM (
       |  SELECT qid, doc_id, rrf, row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, doc_id) AS rn FROM f)
       |WHERE rn <= $k""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of rrfStored: the bm25 CTE is bm25OracleSql's rendering
    * and the dense tier is Ivf.oracleSql's — each already verified
    * stand-alone — composed with the same fusion tail as rrfOracleSql. */
  def rrfStoredOracleSql(terms: Seq[String], qVecId: Long, n: Int,
      k: Int): String =
    s"""WITH lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM (${bm25OracleSql(terms, n)})),
       |den AS (
       |  SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS den_rank
       |  FROM (${Ivf.oracleSql(IvfCodec.Flat, qVecId, n)}))
       |SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |  round(COALESCE(1.0::DOUBLE/($RrfK + lex_rank), 0) +
       |        COALESCE(1.0::DOUBLE/($RrfK + den_rank), 0), 6) AS rrf
       |FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $k""".stripMargin
      .replaceAll("\\s+", " ")

  /** DuckDB mirror of rrfFusion: the bm25 CTE is the SAME rendering as the
    * stand-alone oracle (bm25OracleSql) and the dense tier reuses the
    * exact-cosine form the ANN oracles pin, so the fused entry cannot drift
    * from the tiers it combines. */
  def rrfOracleSql(terms: Seq[String], qVecId: Long, n: Int, k: Int): String = {
    val bm25 = bm25OracleSql(terms, n)
    s"""WITH lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM ($bm25)),
       |e AS (${Ann.BaseSrcSql}),
       |q AS (SELECT emb AS qemb FROM e WHERE vec_id = $qVecId),
       |topn AS (SELECT e.vec_id,
       |    round(list_dot_product(e.emb, q.qemb) /
       |      sqrt(list_dot_product(e.emb, e.emb) * list_dot_product(q.qemb, q.qemb)), 6) AS sim
       |  FROM e, q WHERE e.vec_id <> $qVecId
       |  ORDER BY sim DESC, e.vec_id LIMIT $n),
       |den AS (SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS den_rank
       |  FROM topn)
       |SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |  round(COALESCE(1.0::DOUBLE/($RrfK + lex_rank), 0) +
       |        COALESCE(1.0::DOUBLE/($RrfK + den_rank), 0), 6) AS rrf
       |FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $k""".stripMargin
      .replaceAll("\\s+", " ")
  }
}
