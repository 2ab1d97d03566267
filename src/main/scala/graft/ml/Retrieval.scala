package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.exec.{Route, Seek}

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

  /** A term as a SQL string literal — embedded quotes doubled (ADVICE r14:
    * an unescaped quote produced a malformed oracle query while the Spark
    * side handled the term fine, so the entry would fail instead of
    * catching a real divergence). */
  private def sqlLit(t: String): String = s"'${t.replace("'", "''")}'"

  /** DuckDB mirror of bm25TopK and of bm25StoredTopK under `scope` — same
    * wide-aggregation CTEs so tf/df/avgdl are computed identically. The
    * slice predicate cuts the corpus CTE (slice statistics); the mask drops
    * candidates in the output predicate only (pre-delete statistics). */
  def bm25OracleSql(terms: Seq[String], k: Int,
      scope: Scope[String, String] = Scope()): String = {
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
       |  FROM documents ${sliceWhereSql(scope)}),
       |wide AS (SELECT doc_id, count(*) AS dl, $tfSel FROM tok GROUP BY doc_id),
       |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, $dfSel FROM wide)
       |SELECT doc_id, round($score, 4) AS bm25
       |FROM wide, st WHERE $anyTf > 0
       |  ${scope.mask.fold("")(d => s"AND doc_id NOT IN ($d)")}
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

  /** DuckDB mirror of the corpus-statistics row. */
  def lexStatsOracleSql: String =
    // BIGINT cast: DuckDB widens integer sums to HUGEINT, which the
    // driver's pandas bridge renders as object, not int64
    """SELECT count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
      |FROM documents""".stripMargin.replaceAll("\\s+", " ")

  /** The sidecar's row projection (doc_id, lang, source, dl) — STATELESS
    * per-row, shared by the batch store build (Catalog.docMeta) and the
    * streamed upkeep (streaming.Stores.DocMeta), the lexRows convention:
    * one projection, two paths, no drift. */
  def metaRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      size(split(col("text"), " ")).as("dl"))

  /** DuckDB mirror of the sidecar content. */
  def metaOracleSql: String =
    """SELECT doc_id, lang, source,
      |  len(string_split(text, ' ')) AS dl FROM documents""".stripMargin
      .replaceAll("\\s+", " ")

  /** The scope of one stored lexical or hybrid request — two independent,
    * optional parts, the lexical twin of Ivf.Restrict:
    *  - `slice`: retrieval over a metadata-defined SUB-corpus ("search
    *    within lang = L"). Candidates, df AND (n_docs, avgdl) all come from
    *    the slice — exactly what a per-language index would hold, and what
    *    keeps the corpus-side and stored paths trivially consistent. Spark
    *    side a [[Slice]]; oracle side a predicate over `documents`.
    *  - `mask`: tombstoned doc ids — retrieval over a deduped view WITHOUT
    *    reindexing, the deleted-docs contract every segment-based engine
    *    ships: deletes vanish from the results at once while df and the
    *    corpus statistics stay pre-delete until a rebuild folds them out
    *    (the retrieval analogue of the reference's summary-override
    *    no-reindex refresh). Spark side a frame with a doc_id column;
    *    oracle side a subquery yielding doc_id.
    * The order is fixed and spec-pinned: the slice cuts the postings BEFORE
    * the df window, the mask anti-joins the candidates AFTER it — a deleted
    * doc keeps counting toward (slice) df until a rebuild. The hybrid tiers
    * apply the same scope to the dense side (denseRestrict). */
  final case class Scope[+S, +M](slice: Option[S] = None,
      mask: Option[M] = None)

  /** A slice's doc ids and the (n_docs, avgdl) or (n_docs, sum_dl)
    * statistics it is scored with — they replace the corpus statistics. */
  final case class Slice(ids: DataFrame, stats: DataFrame)

  object Slice {
    /** The lang = `lang` slice of the metadata sidecar (Catalog.docMeta).
      * `stats`: the slice's pre-folded (n_docs, avgdl)
      * (Catalog.metaStatsFolded — the immutable sidecar's fold memoized
      * driver-side); None keeps ONE in-plan aggregate over the sidecar,
      * never the corpus. */
    def lang(meta: DataFrame, lang: String,
        stats: Option[DataFrame] = None): Slice = {
      val rows = meta.filter(col("lang") === lang)
      Slice(rows.select("doc_id"), stats.getOrElse(
        rows.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))))
    }
  }

  /** The oracle-side slice predicate of Slice.lang. */
  def langSql(lang: String): String = s"lang = ${sqlLit(lang)}"

  private def sliceWhereSql(scope: Scope[String, String]): String =
    scope.slice.fold("")(p => s"WHERE $p")

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
        Window.partitionBy("qid").orderBy(desc("bm25"), asc("doc_id"))))
      .filter(col("rank") <= k)
    if (keepRank) ranked.select("qid", "doc_id", "bm25", "rank")
    else ranked.select("qid", "doc_id", "bm25")
  }

  /** Per-term df as a WINDOW count over the pruned postings — same value
    * as a groupBy(token) aggregate joined back, one exchange instead of two
    * plus a join (VERDICT r14 #3 job audit); the window's token
    * partitioning is the postings' natural key, and the batch's query join
    * REUSES that exchange. Trade (documented): a window has no map-side
    * partial agg, so a stop-word-frequency query term buffers its whole
    * posting list in one task (WindowExec spills — a straggler, not a
    * failure); same hot-term exposure and df-cap treatment as the
    * corpus-side batch. */
  private def withDfWindow(px: DataFrame): DataFrame =
    px.withColumn("df", count(lit(1)).over(Window.partitionBy("token")))

  /** The scope's slice: an UNHINTED left-semi of the pruned postings
    * against the slice ids (term-bounded left side, so the semi is cheap
    * however large the slice; AQE broadcasts the ids when they fit). */
  private def sliced(px: DataFrame, scope: Scope[Slice, DataFrame]): DataFrame =
    scope.slice.fold(px)(s => px.join(s.ids, Seq("doc_id"), "left_semi"))

  /** The scope's mask: the tombstones anti-join the df-windowed candidate
    * rows, so deleted docs still count toward df (pre-delete statistics). */
  private def masked(pxd: DataFrame, scope: Scope[Slice, DataFrame]): DataFrame =
    scope.mask.fold(pxd)(m =>
      pxd.join(m.select("doc_id"), Seq("doc_id"), "left_anti"))

  private def scopeStats(stats: DataFrame,
      scope: Scope[Slice, DataFrame]): DataFrame =
    statsFold(scope.slice.fold(stats)(_.stats))

  /** BM25 served FROM the stored inverted index — what query time looks
    * like when the engine stops re-tokenizing the corpus per statement:
    * the term `isin` reaches the token-sorted store as a pushed In filter
    * (row-group skip via min/max — the postings-seek analogue of the
    * reference's keyword lookups), per-term df is a window over ONLY those
    * pruned postings, and N/avgdl fold from the additive stats generations
    * as a broadcast 1-row frame. Query cost is proportional to the query
    * terms' posting lists, not the corpus — the inverted-index serving
    * contract. Same scoring chain and rank convention as bm25TopK, so the
    * stored path shares its oracle (bm25OracleSql under the same scope).
    * Under `scope`, the slice semi-joins the postings before the df window
    * and its statistics replace `stats`; the mask anti-joins after it. */
  /** When `local` bounds the request, the term postings are read from the
    * pages whose `token` statistics admit the terms and scored on the
    * driver. */
  def bm25StoredTopK(index: DataFrame, stats: DataFrame,
      terms: Seq[String], k: Int,
      scope: Scope[Slice, DataFrame] = Scope()): DataFrame =
    Route.serve(local(index, stats, terms, scope))(_.topK(k)) {
      masked(withDfWindow(
          sliced(index.filter(col("token").isin(terms: _*)), scope)), scope)
        .crossJoin(scopeStats(stats, scope))
        .groupBy("doc_id").agg(round(sum(contribExpr), 4).as("bm25"))
        .orderBy(desc("bm25"), asc("doc_id")).limit(k)
    }

  val NotFolded = "the stats are not one local (n_docs, avgdl) row"
  val NotLocal = "the scope's ids are not a local relation"

  /** The driver plan of a stored BM25 request: an unpartitioned stored
    * index whose page statistics bound the query terms' postings within
    * SeekRows (the pages each term's statistics admit), folded local stats,
    * and a scope of local id sets. */
  private def local(index: DataFrame, stats: DataFrame, terms: Seq[String],
      scope: Scope[Slice, DataFrame]): Either[String, (Long, Postings)] = {
    def ids(df: DataFrame) = Seek.localIds(df, "doc_id").toRight(NotLocal)
    val scoped = scope.slice.fold(stats)(_.stats)
    val ts = terms.toSet[Any]
    for {
      idx <- Seek.store(index, index.sparkSession.sparkContext.hadoopConfiguration)
        .toRight(Seek.notStored("the lexical index"))
      _ <- Either.cond(index.schema("doc_id").dataType == LongType, (), Ivf.NotLongIds)
      row <- Seek.localRows(scoped).filter(rows =>
        scoped.columns.sameElements(Array("n_docs", "avgdl")) && rows.size == 1)
        .map(_.head).toRight(NotFolded)
      slice <- scope.slice.map(s => ids(s.ids).map(Some(_))).getOrElse(Right(None))
      mask <- scope.mask.map(m => ids(m).map(Some(_))).getOrElse(Right(None))
      // per term: the page index bounds an IN by its values' [min, max]
      bound = ts.iterator.map(t => idx.bound("token", Set(t))).sum
      _ <- Either.cond(bound <= Seek.SeekRows, (), Seek.overBound(bound))
    } yield bound -> new Postings(index, idx, ts, scoped.schema, row, slice, mask)
  }

  /** A stored BM25 request on the driver, in the Spark plan's order: the
    * slice keeps its postings, per-term df counts them, the mask drops its
    * docs, and each posting's contribExpr — compiled once per input
    * schema, the statistics bound as input columns — sums per doc in
    * token order and rounds through the same `round`. */
  private final class Postings(index: DataFrame, idx: Seek.Store, terms: Set[Any],
      statsSchema: StructType, stats: InternalRow, slice: Option[Set[Long]],
      mask: Option[Set[Long]]) {

    def topK(k: Int): DataFrame = {
      val spark = index.sparkSession
      val input = StructType(Seq(index.schema("tf"), StructField("df", LongType, nullable = false),
        index.schema("dl")) ++ statsSchema.fields)
      val contrib = Seek.projection(spark, input, contribExpr)
      val rounded = Seek.projection(spark,
        StructType(Seq(StructField("bm25", DoubleType))), round(col("bm25"), 4).as("bm25"))
      val postings = terms.toSeq.flatMap(t => idx.read("token", Set(t), Seq("token", "doc_id", "tf", "dl")))
        .filter(p => p.get(1) != null && slice.forall(_(p.getLong(1))))
      val df = postings.groupBy(_.get(0)).view.mapValues(_.size.toLong).toMap
      val sums = collection.mutable.LinkedHashMap.empty[Long, Option[Double]]
      contrib.project.synchronized {
        postings.filter(p => mask.forall(!_(p.getLong(1))))
          .sortBy(p => UTF8String.fromString(p.getString(0)))
          .foreach { p =>
            val out = contrib.project(InternalRow(p.get(2), df(p.get(0)), p.get(3),
              stats.get(0, statsSchema(0).dataType), stats.get(1, statsSchema(1).dataType)))
            // Spark's sum: nulls skipped, the first value added to 0.0
            val c = if (out.isNullAt(0)) None else Some(out.getDouble(0))
            sums.updateWith(p.getLong(1))(s => Some(c.map(s.flatten.getOrElse(0.0) + _)
              .orElse(s.flatten)))
          }
      }
      val rows = rounded.project.synchronized {
        sums.iterator.map { case (doc, s) =>
          val out = rounded.project(InternalRow(s.map(Double.box).orNull))
          Row(doc, if (out.isNullAt(0)) null else out.getDouble(0))
        }.toVector
      }
      Seek.ranked(spark, StructType(Seq(index.schema("doc_id"), rounded.schema("bm25"))), rows, k)
    }
  }

  /** The lang-sliced bm25StoredTopK under the signature
    * perfbench/harness/src/Harness.scala calls (the harness may not be
    * edited). */
  def bm25StoredTopKFiltered(index: DataFrame, meta: DataFrame,
      terms: Seq[String], lang: String, k: Int,
      sliceStats: Option[DataFrame] = None): DataFrame = {
    val slice = Slice.lang(meta, lang, sliceStats)
    bm25StoredTopK(index, slice.stats, terms, k, Scope(Some(slice)))
  }

  /** The lang-sliced bm25OracleSql under the signature
    * perfbench/harness/src/Harness.scala calls (the harness may not be
    * edited). */
  def bm25FilteredOracleSql(terms: Seq[String], k: Int,
      lang: String): String =
    bm25OracleSql(terms, k, Scope(Some(langSql(lang))))

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
    * term with a query never appear, as in the single-query path. A
    * metadata slice is `docs.filter(...)` with that slice's `stats`. */
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
    // window-count df over the term-bounded tf rows (the stored paths'
    // shape): one token exchange instead of re-evaluating the corpus-pass
    // tf subtree for a df aggregate and joining it back
    perQueryTopK(qt.join(withDfWindow(tf), Seq("token"))
      .crossJoin(statsFold(st))
      .groupBy("qid", "doc_id")
      .agg(round(sum(contribExpr), 4).as("bm25")), k)
  }

  /** DuckDB mirror of bm25TopKBatch and of bm25StoredTopKBatch under
    * `scope` for an inline query batch — the slice predicate cuts both
    * corpus CTEs, the mask drops scored candidates only. */
  def bm25BatchOracleSql(queries: Seq[(Long, Seq[String])], k: Int,
      scope: Scope[String, String] = Scope()): String = {
    val qRows = queries.flatMap { case (qid, ts) =>
      ts.map(t => s"($qid, ${sqlLit(t)})") }.mkString(", ")
    val where = sliceWhereSql(scope)
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
       |       ${scope.mask.fold("")(d => s"WHERE tf.doc_id NOT IN ($d)")}
       |       GROUP BY q.qid, tf.doc_id)
       |SELECT qid, doc_id, bm25 FROM (
       |  SELECT qid, doc_id, bm25, row_number() OVER (
       |    PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rn FROM sc)
       |WHERE rn <= $k""".stripMargin.replaceAll("\\s+", " ")
  }

  /** BATCHED BM25 FROM THE STORED INDEX: the whole query table answered
    * against Catalog.lexIndex in one plan. `termDict`: when the CALLER
    * already holds the batch's distinct terms driver-side (a literal
    * serving batch — the entries' BatchQueries case), the store prunes by
    * a static pushed In(token) exactly like the single-query path:
    * row-group skipping at planning time, and the dictionary semi-join's
    * broadcast-build wave disappears (VERDICT r15 #6 job audit). A
    * data-scale batch passes None and keeps an UNHINTED left-semi against
    * the dictionary: unlike probed cells (≤ Cells, always broadcast-safe),
    * a batch's distinct term set is bounded only by the vocabulary, so AQE
    * runtime-broadcasts it while it fits and degrades to a shuffle
    * semi-join when a data-scale batch grows it (a forced broadcast would
    * OOM the driver). The dict must equal the queries' distinct terms —
    * the batch==singles specs pin the equivalence. Then the scope exactly
    * as in bm25StoredTopK, and the same scoring and rank conventions as
    * bm25TopKBatch, so the stored batch shares its oracle. */
  def bm25StoredTopKBatch(index: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int, keepRank: Boolean = false,
      termDict: Option[Seq[String]] = None,
      scope: Scope[Slice, DataFrame] = Scope()): DataFrame = {
    val qt = queries.select(col("qid"), explode(col("terms")).as("token"))
    val pruned = termDict match {
      case Some(dict) => index.filter(col("token").isin(dict: _*))
      case None => index.join(qt.select("token").distinct(),
        Seq("token"), "left_semi")
    }
    // ONE exchange on qid serves both the (qid, doc_id) aggregate (subset
    // co-partitioning: hash(qid) clusters (qid, doc_id)) and the per-query
    // rank window — the former agg-hash + window-hash exchange pair was
    // two AQE stage waves per tier (VERDICT r15 #6). Map-side combine for
    // the agg is forfeited; a (qid, doc_id) group holds ≤ |terms| rows, so
    // the partials saved almost nothing.
    perQueryTopK(
      qt.join(masked(withDfWindow(sliced(pruned, scope)), scope), Seq("token"))
        .crossJoin(scopeStats(stats, scope))
        .repartition(col("qid"))
        .groupBy("qid", "doc_id")
        .agg(round(sum(contribExpr), 4).as("bm25")), k, keepRank)
  }

  /** One tier's k-bounded ranking as (doc_id, rank), ranked by (`score`
    * DESC, `id`) — the window runs over the LIMITED frame, so no
    * corpus-wide window runs. A doc_id tier is not self-aliased: the alias
    * would carry a duplicate column through the window. */
  private def ranks(df: DataFrame, score: String, id: String): DataFrame =
    df.select(if (id == "doc_id") col(id) else col(id).as("doc_id"),
      row_number().over(Window.orderBy(desc(score), asc(id))).as("rank"))

  /** Exact embedding-cosine ranking for one query vector, as (doc_id, rank)
    * for the top `n` — the dense tier the fusion consumes. Same rounded-sim
    * vec_id-tiebreak order as Ann's exact baseline. */
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
    ranks(topn, "sim", "vec_id")
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
    fuse(ranks(bm25TopK(docs, terms, n), "bm25", "doc_id"),
      denseRanks(emb, qVecId, n), k)

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

  /** The per-query batch fusion tail: the fusion rows on (qid, doc_id) +
    * the per-query rank window. */
  private def fuseBatch(lex: DataFrame, den: DataFrame, k: Int): DataFrame =
    fuseRows(lex, den, Seq("qid", "doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("rrf"), asc("doc_id"))))
      .filter(col("rn") <= k)
      .select("qid", "doc_id", "rrf")

  /** The dense tier's restriction for a scope over the shared doc/vec id
    * space, so both tiers of one fusion see the same candidates — masking
    * one tier only would fuse a ranking that still holds a deleted doc with
    * one that doesn't. Slice and mask together are ONE allowed set, the
    * slice ids anti-joined to the tombstones (semi/anti commute with cell
    * pruning). */
  private def denseRestrict(
      scope: Scope[Slice, DataFrame]): Ivf.Restrict[DataFrame] = {
    def vecIds(ids: DataFrame) = ids.select(col("doc_id").as("vec_id"))
    (scope.slice, scope.mask) match {
      case (None, None) => Ivf.Unrestricted
      case (Some(s), None) => Ivf.Allowed(vecIds(s.ids))
      case (None, Some(m)) => Ivf.Masked(vecIds(m))
      case (Some(s), Some(m)) => Ivf.Allowed(
        vecIds(s.ids).join(vecIds(m), Seq("vec_id"), "left_anti"))
    }
  }

  /** The oracle twin of denseRestrict. */
  private def denseRestrictSql(
      scope: Scope[String, String]): Ivf.Restrict[String] =
    (scope.slice, scope.mask) match {
      case (None, None) => Ivf.Unrestricted
      case (Some(p), None) =>
        Ivf.Allowed(s"SELECT doc_id AS vec_id FROM documents WHERE $p")
      case (None, Some(d)) => Ivf.Masked(s"SELECT doc_id AS vec_id FROM ($d)")
      case (Some(p), Some(d)) => Ivf.Allowed(
        s"SELECT doc_id AS vec_id FROM documents WHERE $p AND doc_id NOT IN ($d)")
    }

  /** Hybrid retrieval served ENTIRELY from stored indexes — the deployed
    * shape: the lexical tier is bm25StoredTopK (pushed In(token), no
    * re-tokenization), the dense tier reads the IVF cell store (probed
    * cells only, approximate by construction), both under the same
    * `scope`, and the fusion runs over the two k-bounded rankings. Neither
    * tier touches anything corpus-sized at query time. */
  /** When both tiers' driver plans bound the request, both rank and fuse
    * on the driver. */
  def rrfStored(index: DataFrame, stats: DataFrame, emb: DataFrame,
      flat: DataFrame, terms: Seq[String], qVecId: Long, n: Int,
      k: Int, scope: Scope[Slice, DataFrame] = Scope()): DataFrame = {
    val dense = denseRestrict(scope)
    Route.serve(for {
      lex <- local(index, stats, terms, scope)
      vec <- Ivf.localVec(emb, qVecId)
      den <- Ivf.local(flat, vec, dense, Ann.Probes)
    } yield (lex._1 + den._1) -> (lex._2, vec, den._2)) { case (lex, vec, den) =>
      fusedLocal(lex.topK(n), den.topK(IvfCodec.Flat, vec, qVecId, n), k)
    } {
      fuse(ranks(bm25StoredTopK(index, stats, terms, n, scope), "bm25", "doc_id"),
        ranks(Ivf.topK(IvfCodec.Flat, flat, emb, qVecId, n, dense), "sim", "vec_id"), k)
    }
  }

  /** `fuse` over two local rankings, on the driver: each row's rank is its
    * position, the contributions sum per doc from 0.0 as Spark's sum does
    * (two positive addends commute exactly), and the sum rounds through the
    * same `round`. */
  private def fusedLocal(lex: DataFrame, den: DataFrame, k: Int): DataFrame = {
    val spark = lex.sparkSession
    val rounded = Seek.projection(spark,
      StructType(Seq(StructField("rrf", DoubleType))), round(col("rrf"), 6).as("rrf"))
    val sums = collection.mutable.LinkedHashMap.empty[Long, Double]
    for (tier <- Seq(lex, den); (r, i) <- tier.collect().zipWithIndex)
      sums(r.getLong(0)) = sums.getOrElse(r.getLong(0), 0.0) + 1.0 / (RrfK + i + 1)
    val rows = rounded.project.synchronized {
      sums.iterator.map { case (doc, s) => Row(doc, rounded.project(InternalRow(s)).getDouble(0)) }
        .toVector
    }
    val id = StructField("doc_id", LongType, lex.schema(0).nullable || den.schema(0).nullable)
    Seek.ranked(spark, StructType(Seq(id, rounded.schema("rrf"))), rows, k)
  }

  /** BATCHED stored hybrid — the whole hybrid serving matrix in one plan:
    * the lexical tier is bm25StoredTopKBatch, the dense tier is
    * Ivf.topKBatch (stored cells, probed-cell pruning), both under the
    * same `scope`, and the per-query fusion combines the two k-bounded
    * rankings on (qid, doc_id). Each tier KEEPS the rank its own top-n
    * window computed — no second identical window. Query contract: the
    * lexical queries table's qids ARE corpus vec_ids (the shared id space
    * every hybrid entry uses), and `denQueries` carries those rows'
    * embeddings. Per-query output is ≤ k rows ranked by (rrf DESC,
    * doc_id). */
  def rrfStoredBatch(index: DataFrame, stats: DataFrame,
      flat: DataFrame, queries: DataFrame, denQueries: DataFrame,
      n: Int, k: Int, termDict: Option[Seq[String]] = None,
      scope: Scope[Slice, DataFrame] = Scope()): DataFrame = {
    val lex = bm25StoredTopKBatch(index, stats, queries, n, keepRank = true,
        termDict = termDict, scope = scope)
      .select("qid", "doc_id", "rank")
    val den = Ivf.topKBatch(IvfCodec.Flat, flat, denQueries, n,
        denseRestrict(scope), keepRank = true)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    fuseBatch(lex, den, k)
  }

  /** DuckDB mirror of every fusion: ranks the lexical (bm25) and dense
    * (vec_id, sim) oracle rows — per qid when `perQuery` — and fuses them
    * with the full-outer COALESCE form the union-sum Spark tail equals. */
  private def fuseOracleSql(lexSql: String, denSql: String, k: Int,
      perQuery: Boolean): String = {
    val (q, by) = if (perQuery) ("qid, ", "PARTITION BY qid ") else ("", "")
    val qid = if (perQuery) "COALESCE(lex.qid, den.qid) AS qid," else ""
    val on = if (perQuery) "lex.qid = den.qid AND " else ""
    s"""WITH lex AS (
       |  SELECT ${q}doc_id,
       |    row_number() OVER (${by}ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM ($lexSql)),
       |den AS (
       |  SELECT ${q}vec_id AS doc_id,
       |    row_number() OVER (${by}ORDER BY sim DESC, vec_id) AS den_rank
       |  FROM ($denSql)),
       |f AS (SELECT $qid COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       |        round(COALESCE(1.0::DOUBLE/($RrfK + lex_rank), 0) +
       |              COALESCE(1.0::DOUBLE/($RrfK + den_rank), 0), 6) AS rrf
       |      FROM lex FULL OUTER JOIN den ON ${on}lex.doc_id = den.doc_id)
       |SELECT ${q}doc_id, rrf FROM (
       |  SELECT ${q}doc_id, rrf,
       |    row_number() OVER (${by}ORDER BY rrf DESC, doc_id) AS rn FROM f)
       |WHERE rn <= $k""".stripMargin.replaceAll("\\s+", " ")
  }

  /** DuckDB mirror of rrfFusion: the bm25 tier is bm25OracleSql's rendering
    * and the dense tier the exact-cosine form the ANN oracles pin, so the
    * fused entry cannot drift from the tiers it combines. */
  def rrfOracleSql(terms: Seq[String], qVecId: Long, n: Int, k: Int): String =
    fuseOracleSql(bm25OracleSql(terms, n),
      Ann.exactTopKSql(qVecId, n, Ann.BaseSrcSql), k, perQuery = false)

  /** DuckDB mirror of rrfStored under `scope`: bm25OracleSql and
    * Ivf.oracleSql — each verified stand-alone — under the same scope,
    * fused. */
  def rrfStoredOracleSql(terms: Seq[String], qVecId: Long, n: Int,
      k: Int, scope: Scope[String, String] = Scope()): String =
    fuseOracleSql(bm25OracleSql(terms, n, scope),
      Ivf.oracleSql(IvfCodec.Flat, qVecId, n, denseRestrictSql(scope)), k,
      perQuery = false)

  /** DuckDB mirror of rrfStoredBatch under `scope` for the query batch
    * vec_id < maxQid. */
  def rrfStoredBatchOracleSql(queries: Seq[(Long, Seq[String])],
      maxQid: Long, n: Int, k: Int,
      scope: Scope[String, String] = Scope()): String =
    fuseOracleSql(bm25BatchOracleSql(queries, n, scope),
      Ivf.batchOracleSql(IvfCodec.Flat, maxQid, n, denseRestrictSql(scope)),
      k, perQuery = true)
}
