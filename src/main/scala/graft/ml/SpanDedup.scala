package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document repeated-SPAN detection — the span-level exact-substring
  * member of the dedup family (Lee et al. 2022, "Deduplicating Training
  * Data Makes Language Models Better"): long verbatim repeats across
  * documents are boilerplate, licenses, and templates that document-level
  * near-dup never catches, because the containing documents differ. The
  * reference engine has no span operator (its dedup surface is the
  * key-level J6/A1/A2 family); this is pipeline-beyond-reference surface
  * like the rest of ml/.
  *
  * A `W`-token rolling shingle is hashed at every position; shingles
  * occurring in MORE THAN ONE document are "shared", and each document's
  * shared positions merge into maximal token spans (gaps-and-islands over
  * the position sequence). Output is span-surgery input: (doc_id,
  * span_start, span_end) in 0-based token offsets, inclusive — ready for a
  * downstream cut or keep-first policy, which is a separate editorial
  * decision this operator deliberately does not bake in.
  *
  * Scale shape: the corpus expands to ~n_tokens shingle rows per doc (the
  * same fan-out every shingle op in NearDup pays), ONE hash aggregation on
  * the shingle hash computes the document frequency (count(distinct doc) >
  * 1 partial-aggregates map-side, so a boilerplate shingle present in
  * every document is not a hot key), and the island merge is a per-doc
  * window bounded by document length — no all-pairs stage, no driver
  * state. At 100 TB the one-call cache below becomes the STORED positional
  * sketch (the winnowSketch pattern): Catalog.spanSketch materializes
  * (doc_id, pos, h) once, streaming.Stores.SpanSketch maintains it
  * incrementally, Compact folds the streamed generations, and
  * sharedSpansFrom reads the stored table for both the df aggregation and
  * the probe — the corpus text is tokenized exactly once, at build time,
  * never per analysis pass.
  */
object SpanDedup {

  val W = 8 // span shingle width in tokens

  private def toks: Column = split(col("text"), " ")

  /** (doc_id, pos, h): the md5 of the W-token shingle at every 0-based
    * position; docs shorter than W contribute nothing. The position list is
    * guarded BEFORE sequence() — sequence(0, n−W) with n<W would generate a
    * DESCENDING range, not an empty one. This projection IS the stored
    * positional sketch's row shape (Catalog.spanSketch materializes it;
    * the streamed upkeep appends it per micro-batch), and it is a pure
    * stateless per-row transform, so the batch build and the streamed
    * ingest share it verbatim. */
  def spanShingles(docs: DataFrame): DataFrame = {
    val n = size(toks)
    docs.select(col("doc_id"), toks.as("tok"),
        when(n >= W, sequence(lit(0), n - W))
          .otherwise(array().cast("array<int>")).as("ps"))
      .select(col("doc_id"), col("tok"), explode(col("ps")).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("tok"), col("pos") + 1, lit(W)))).as("h"))
  }

  /** Maximal repeated spans: positions whose shingle appears in >1 distinct
    * document, merged per doc wherever consecutive spans overlap or touch
    * (next.pos ≤ prev.pos + W). Returns (doc_id, span_start, span_end),
    * token offsets inclusive. */
  def sharedSpans(docs: DataFrame): DataFrame =
    sharedSpansFrom(spanShingles(docs))

  /** sharedSpans over a STORED positional sketch (Catalog.spanSketch) — or
    * the inline shingle fan-out, which the single-consumer shape below no
    * longer needs to cache. The df > 1 gate is "more than one distinct
    * doc_id under this hash", i.e. exactly min(doc_id) ≠ max(doc_id) over
    * a window partitioned by h: ONE scan and ONE exchange of the sketch
    * instead of the former aggregate + self-join (two scans, two
    * exchanges, and a join probe — the r16 bench tail's largest shuffle).
    * At 100 TB the shared-hash set is corpus-sized (boilerplate is
    * everywhere), so there is no broadcastable side to exploit — the
    * window IS the minimal data movement for this gate. Same result by
    * construction (SpanDedupSpec pins the equivalence through a parquet
    * round-trip). */
  def sharedSpansFrom(sketch: DataFrame): DataFrame = {
    val wh = Window.partitionBy("h")
    mergeIslands(sketch
      .withColumn("mn", min("doc_id").over(wh))
      .withColumn("mx", max("doc_id").over(wh))
      .filter(col("mn") =!= col("mx"))
      .select("doc_id", "pos"))
  }

  /** The gaps-and-islands merge shared by both span policies: consecutive
    * marked positions closer than a shingle width fold into one maximal
    * (doc_id, span_start, span_end) token span — a per-doc window bounded
    * by document length. */
  private def mergeIslands(pos: DataFrame): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    pos
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byPos) <= W, lit(0))
          .otherwise(lit(1)))
      .withColumn("island", sum("brk").over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(W) - 1).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** SPAN-LEVEL DECONTAMINATION: maximal runs a TRAINING document (doc_id
    * ≥ benchMaxId) shares verbatim with ANY benchmark document (doc_id <
    * benchMaxId) — the exact-substring contamination check (Lee et al.
    * 2022 §6's eval-overlap concern) that shingle-COUNT decontamination
    * (CorpusOps.decontaminate) cannot localize: it flags a doc, this
    * returns the precise token spans, ready for cutBySpans surgery or a
    * coverage gate. Unlike sharedSpans, train↔train repeats do NOT mark —
    * only positions whose shingle occurs on the benchmark side.
    *
    * Runs over the STORED positional sketch (Catalog.spanSketch): the
    * bench hash set is one pruned aggregation of the bench rows (eval
    * suites are bounded, AQE runtime-broadcasts it when it fits; unhinted
    * because "benchmark" is a domain contract, not a plan guarantee), the
    * train side probes it with a hash semi-join, and the island merge is
    * the same per-doc bounded window every span policy uses. Corpus text
    * is never re-tokenized. Returns (doc_id, span_start, span_end). */
  def benchSpansFrom(sketch: DataFrame, benchMaxId: Long): DataFrame = {
    val benchH = sketch.filter(col("doc_id") < benchMaxId)
      .select("h").distinct()
    mergeIslands(sketch.filter(col("doc_id") >= benchMaxId)
      .join(benchH, Seq("h"))
      .select("doc_id", "pos"))
  }

  /** DuckDB mirror of benchSpansFrom: the bench-hash semi-join as the
    * marked-position policy, then the shared island merge. */
  def benchSpansOracleSql(benchMaxId: Long): String = islandsSqlOver(
    s"""bh AS (SELECT DISTINCT h FROM p WHERE doc_id < $benchMaxId),
       |sp AS (SELECT doc_id, pos FROM p JOIN bh USING (h)
       |       WHERE doc_id >= $benchMaxId)""".stripMargin)

  /** KEEP-FIRST spans: like sharedSpans, but each shared shingle's single
    * CANONICAL occurrence — the lexicographically lowest (doc_id, pos) —
    * is exempt from cutting, so exactly one copy of every shared run
    * survives (Lee et al. 2022's dedup policy: remove the duplicate, keep
    * the text; contrast cutSharedSpans, which treats shared runs as
    * boilerplate and excises every occurrence). Within-document repeats
    * are duplicates too: the second occurrence of a shingle inside the
    * canonical document still marks for cutting. Cost over sharedSpans is
    * ONE extra min(struct(doc_id, pos)) riding the same single window
    * pass. */
  def keepFirstSpans(docs: DataFrame): DataFrame =
    keepFirstSpansFrom(spanShingles(docs))

  /** keepFirstSpans over a STORED positional sketch (Catalog.spanSketch) —
    * the same one-scan/one-exchange window shape as sharedSpansFrom, with
    * the canonical occurrence carried as a third window aggregate over the
    * identical frame (one Window operator, zero extra exchanges). */
  def keepFirstSpansFrom(sketch: DataFrame): DataFrame = {
    val wh = Window.partitionBy("h")
    mergeIslands(sketch
      .withColumn("mn", min("doc_id").over(wh))
      .withColumn("mx", max("doc_id").over(wh))
      .withColumn("canon", min(struct(col("doc_id"), col("pos"))).over(wh))
      .filter(col("mn") =!= col("mx") &&
        !(col("doc_id") === col("canon.doc_id") &&
          col("pos") === col("canon.pos")))
      .select("doc_id", "pos"))
  }

  /** Span SURGERY — apply sharedSpans to the corpus: excise every
    * cross-document shared span from every document and re-join the
    * surviving tokens (the aggressive boilerplate-removal policy: shared
    * template/license runs are noise wherever they appear, so no canonical
    * copy is kept — contrast dedup_keep_best, where whole-document
    * survivors ARE kept). Docs with no shared span pass through verbatim
    * without paying the token round-trip. The cut itself is a per-row array
    * expression (filter-with-index against the doc's own bounded span
    * list), so beyond sharedSpans' shuffle the only added cost is one
    * doc-keyed join — codegen'd, no UDF. */
  def cutSharedSpans(docs: DataFrame): DataFrame =
    cutBySpans(docs, sharedSpans(docs))

  /** Span surgery under the KEEP-FIRST policy: cut every shared run
    * except its canonical occurrence — the lowest (doc_id, pos) copy of
    * each shared shingle survives verbatim, so deduplicated text is
    * removed from the corpus exactly once instead of everywhere. */
  def cutSharedSpansKeepFirst(docs: DataFrame): DataFrame =
    cutBySpans(docs, keepFirstSpans(docs))

  /** The shared surgery tail: fold a policy's (doc_id, span_start,
    * span_end) rows into a per-doc span list and excise those token
    * ranges. The cut is a per-row array expression (filter-with-index
    * against the doc's own bounded span list) — codegen'd, no UDF; docs
    * with no span pass through verbatim without the token round-trip. */
  private[ml] def cutBySpans(docs: DataFrame, spanRows: DataFrame): DataFrame = {
    val spans = spanRows
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("text")).otherwise(
          concat_ws(" ", filter(toks, (_, i) =>
            !exists(col("spans"), sp => i >= sp("s") && i <= sp("e")))))
          .as("clean_text"))
  }

  /** Per-document boilerplate COVERAGE: the fraction of a doc's tokens
    * inside a cross-document shared span — a quality signal (a
    * high-coverage doc is mostly template) that rides the same sharedSpans
    * shuffle; merged islands never overlap, so a straight length sum is
    * exact. */
  def spanCoverage(docs: DataFrame): DataFrame = {
    val cov = sharedSpans(docs).groupBy("doc_id")
      .agg(sum(col("span_end") - col("span_start") + 1).as("shared_tokens"))
    docs.select(col("doc_id"), size(toks).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("shared_tokens"), lit(0L)).as("shared_tokens"),
        round(coalesce(col("shared_tokens"), lit(0L)) / col("n_tokens"), 4)
          .as("coverage"))
  }

  /** SOURCE-PAIR shingle overlap — the corpus-card "how much does source A
    * repeat source B" figure (cross-source syndication/boilerplate audit;
    * the between-sources complement of decontaminate's train-vs-bench
    * axis): distinct W-token shingle hashes per source, intersected per
    * source pair, with containment = shared / min(|A|, |B|). Served FROM
    * the stored positional sketch (Catalog.spanSketch) joined to the
    * (doc_id, source) projection — the corpus text is never re-tokenized.
    * Scale shape: the sketch shuffles ONCE on the hash into a per-hash
    * source SET (bounded by S, partial-aggregated map-side); pair counts
    * and per-source totals both explode from that one grouped frame
    * in-row — no self-join, so the sketch is never derived twice (the
    * first cut's a⋈b formulation re-derived the distinct frame on both
    * join sides AND for the totals: three sketch scans where one
    * suffices). With S bounded sources a hash emits at most S(S−1)/2
    * pair rows; the output is S×S-bounded. Returns (src_a, src_b,
    * n_shared, n_a, n_b, containment), zero-overlap pairs absent. */
  def sourceOverlapFrom(sketch: DataFrame, docs: DataFrame): DataFrame = {
    val byH = sketch
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("h").agg(array_sort(collect_set("source")).as("srcs"))
    val pairs = byH
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |    b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    val tot = byH.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    pairs
      .join(tot.select(col("source").as("src_a"), col("n").as("n_a")),
        Seq("src_a"))
      .join(tot.select(col("source").as("src_b"), col("n").as("n_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        round(col("n_shared") / least(col("n_a"), col("n_b")), 6)
          .as("containment"))
  }

  /** DuckDB mirror of sourceOverlapFrom over the same shingle CTEs. */
  def sourceOverlapOracleSql: String =
    s"""WITH $shingleCtesSql,
       |ss AS (SELECT DISTINCT d.source AS source, p.h AS h
       |  FROM p JOIN documents d USING (doc_id)),
       |tot AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
       |pr AS (SELECT a.source AS src_a, b.source AS src_b,
       |    count(*) AS n_shared
       |  FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared, ta.n AS n_a, tb.n AS n_b,
       |  round(n_shared * 1.0 / least(ta.n, tb.n), 6) AS containment
       |FROM pr JOIN tot ta ON ta.source = pr.src_a
       |  JOIN tot tb ON tb.source = pr.src_b""".stripMargin
      .replaceAll("\\s+", " ")

  /** DuckDB mirror of sharedSpans: the same positional shingle hash (list
    * slice is 1-based inclusive, so tok[i+1 : i+W] is the Spark
    * slice(tok, pos+1, W) at pos = i), the same df > 1 gate, the same
    * lag-based island break with NULL-first-row → new island, and the same
    * inclusive span arithmetic; positions cast to INT to match Spark's
    * sequence element type. */
  def spansOracleSql: String = islandsSqlOver(
    s"""shared AS (SELECT h FROM p GROUP BY h HAVING count(DISTINCT doc_id) > 1),
       |sp AS (SELECT doc_id, pos FROM p JOIN shared USING (h))""".stripMargin)

  /** DuckDB mirror of keepFirstSpans: the same df > 1 gate, with each
    * shared shingle's lexicographically-first (doc_id, pos) row exempted —
    * row_number over (doc_id, pos) is the window rendering of Spark's
    * min(struct(doc_id, pos)) argmin — then the identical island merge. */
  def keepFirstSpansSql: String = islandsSqlOver(
    s"""shared AS (SELECT h FROM p GROUP BY h HAVING count(DISTINCT doc_id) > 1),
       |sp AS (SELECT doc_id, pos FROM (
       |  SELECT doc_id, pos, row_number() OVER (PARTITION BY h
       |      ORDER BY doc_id, pos) AS rn
       |  FROM p JOIN shared USING (h)) WHERE rn > 1)""".stripMargin)

  /** The ONE DuckDB rendering of the gaps-and-islands merge over a policy's
    * marked-position CTE `sp` — shared by both span policies so the island
    * arithmetic cannot drift between their oracles. */
  private def islandsSqlOver(spCtes: String): String =
    s"""WITH $shingleCtesSql,
       |$spCtes,
       |brk AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $W
       |         THEN 0 ELSE 1 END AS brk FROM sp),
       |isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM brk)
       |SELECT doc_id, min(pos) AS span_start,
       |  CAST(max(pos) + $W - 1 AS INT) AS span_end
       |FROM isl GROUP BY doc_id, island
       |""".stripMargin.replaceAll("\\s+", " ")

  /** The ONE DuckDB rendering of spanShingles, as CTEs `t` (tokenized
    * corpus, short docs dropped) and `p` (doc_id, pos, h): the same
    * 1-based list slice for the W-token window at 0-based pos, the same
    * md5 over the space-joined shingle, positions cast to INT to match
    * Spark's sequence element type. Shared by every span oracle, so the
    * shingle definition cannot drift between the analysis mirrors and the
    * stored/streamed sketch mirrors. */
  private def shingleCtesSql: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tok
       |  FROM documents WHERE len(string_split(text, ' ')) >= $W),
       |p AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (
       |  SELECT doc_id, unnest(list_transform(range(0, len(tok) - $W + 1),
       |    i -> {'pos': CAST(i AS INT),
       |          'h': md5(array_to_string(tok[i + 1 : i + $W], ' '))})) AS u
       |  FROM t))""".stripMargin

  /** DuckDB mirror of spanShingles — the stored positional sketch's row
    * shape. Pins the streamed sketch upkeep and its compacted generation
    * (both must reproduce the batch projection row-for-row). */
  def sketchOracleSql: String =
    s"""WITH $shingleCtesSql SELECT doc_id, pos, h FROM p
       |""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of cutSharedSpans: spansOracleSql's islands folded into
    * a per-doc span list, then the same filter-by-position cut — range(0,
    * n) is the 0-based position domain, tok[i+1] the 1-based list read, and
    * a spanless doc passes its text through the same CASE branch Spark
    * takes. A FULLY cut doc must render as '' on both sides: DuckDB's
    * array_to_string over an empty list is NULL (string_agg semantics),
    * hence the COALESCE — Spark's concat_ws is already ''. */
  def cutOracleSql: String = cutSqlOver(spansOracleSql)

  /** DuckDB mirror of cutSharedSpansKeepFirst: the keep-first span set
    * through the same surgery template. */
  def cutKeepFirstOracleSql: String = cutSqlOver(keepFirstSpansSql)

  private[ml] def cutSqlOver(spansSql: String): String =
    s"""WITH spans AS ($spansSql),
       |agg AS (SELECT doc_id, list({'s': span_start, 'e': span_end}) AS spans
       |        FROM spans GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN a.spans IS NULL THEN d.text
       |  ELSE COALESCE(array_to_string(list_transform(
       |    list_filter(range(0, len(string_split(d.text, ' '))),
       |      i -> len(list_filter(a.spans, sp -> i >= sp.s AND i <= sp.e)) = 0),
       |    i -> string_split(d.text, ' ')[i + 1]), ' '), '') END AS clean_text
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of spanCoverage: the same non-overlapping-island length
    * sum (BIGINT to match Spark's sum), n_tokens cast to INT (DuckDB len is
    * BIGINT, Spark size is INT), and the same 4-dp rounded ratio. */
  def coverageOracleSql: String =
    s"""WITH spans AS ($spansOracleSql),
       |c AS (SELECT doc_id,
       |        CAST(sum(span_end - span_start + 1) AS BIGINT) AS shared_tokens
       |      FROM spans GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
       |  COALESCE(c.shared_tokens, 0) AS shared_tokens,
       |  round(COALESCE(c.shared_tokens, 0) * 1.0
       |    / len(string_split(d.text, ' ')), 4) AS coverage
       |FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id
       |""".stripMargin.replaceAll("\\s+", " ")
}
