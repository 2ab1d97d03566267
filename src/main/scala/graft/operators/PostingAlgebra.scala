package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The cantera-table query algebra (SURVEY §2.2-2.7) over posting DataFrames
  * with columns (off: Long, score: Double).
  *
  * Semantics are pinned to the reference interpreter, esp. duplicate handling
  * (/root/reference/src/query.cc:68-196,358-628). Every top-level statement in
  * the reference ends in RemoveDuplicates (query.cc:624-628), so combinators
  * here are specified up to that final per-offset dedup; where the reference's
  * positional tie rules are unobservable post-dedup we use the simpler
  * shuffle-free Spark equivalent (noted per function).
  *
  * Scale: AND/SUBTRACT compile to left_semi/left_anti joins — Catalyst picks
  * broadcast automatically when the rhs key set is small; nothing here
  * collects to the driver. A statement small enough for the driver does not
  * come here: graft.exec.Seek evaluates the same operators over the rows it
  * read, and SeekAlgebraProps pins the two to each other.
  */
object PostingAlgebra {

  private val postingCols = Seq("off", "score")
  private[graft] val pctNames = Seq("pct5", "pct25", "pct75", "pct95")

  /** The optional percentile-band columns of the universal value
    * (/root/reference/src/ca-table.h:102-105) present on this posting set.
    * Presence is schema-level (decided at plan time by the compiler, per
    * keyword family); operators carry bands on the VALUE side — the side
    * whose element the reference copies into the result. */
  def pctCols(df: DataFrame): Seq[String] = pctCols(df.schema)
  def pctCols(schema: StructType): Seq[String] = pctNames.filter(schema.fieldNames.contains)

  private def p(df: DataFrame): DataFrame =
    df.select((postingCols ++ pctCols(df)).map(col): _*)

  /** Align both sides of a union: pad missing band columns with NULLs when
    * only one side carries them (mixed-family OR). */
  private def aligned(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    val all = (pctCols(a) ++ pctCols(b)).distinct
    def pad(df: DataFrame): DataFrame = {
      val have = pctCols(df)
      df.select(postingCols.map(col) ++ all.map(n =>
        if (have.contains(n)) col(n) else lit(null).cast("double").as(n)): _*)
    }
    (pad(p(a)), pad(p(b)))
  }

  /** J1 `a OR b` — merge-union (src/query.cc:68-94,418-427). DELIBERATE
    * DEVIATION: the reference drops the lhs element at offset ties and keeps
    * the rhs one, so after RemoveDuplicates(use_max) it can yield the rhs
    * score where this yields max(lhs, rhs). We define OR as plain bag-union
    * (set semantics post-dedup), which is shuffle-free and well-defined on
    * unordered data; the oracle and the property tests pin this contract. */
  def or(a: DataFrame, b: DataFrame): DataFrame = {
    val (x, y) = aligned(a, b)
    x.unionByName(y)
  }

  /** J2 `a AND b` — intersect keeping ALL lhs duplicates, scores from lhs
    * (src/query.cc:96-125,429-438). left_semi is exactly that; semi-join
    * ignores rhs duplicates natively, no rhs dedup needed. */
  def and(a: DataFrame, b: DataFrame): DataFrame =
    p(a).join(p(b).select("off"), Seq("off"), "left_semi")

  /** J3 `a - b` / `a AND NOT b` — remove every lhs element whose offset occurs
    * in rhs (src/query.cc:358-392,440-449). anti-join ignores rhs duplicates
    * natively. */
  def subtract(a: DataFrame, b: DataFrame): DataFrame =
    p(a).join(p(b).select("off"), Seq("off"), "left_anti")

  /** J4 `a > b` / `a < b` with a query rhs — theta-semi-join on offset keeping
    * lhs rows whose score compares true against the rhs score at the same
    * offset (src/query.cc:171-196,459-505). The reference advances both sides
    * 1:1 through duplicate runs — consuming the rhs element on the first lhs
    * duplicate, so later elements of an lhs run are silently dropped; we pin
    * rhs to one score per offset (max, = the post-dedup view) and compare
    * EVERY lhs row, so the operator is well-defined on sets. Parity with the
    * reference holds for unique-offset inputs (AlgebraProps); the dup-run
    * deviations are witnessed in AlgebraDeviationSpec. */
  def thetaCompare(a: DataFrame, b: DataFrame, op: String): DataFrame = {
    val rhs = dedupMax(b.select("off", "score")).withColumnRenamed("score", "rscore")
    val joined = p(a).join(rhs, Seq("off"), "inner")
    val kept = op match {
      case ">"  => joined.filter(col("score") >  col("rscore"))
      case ">=" => joined.filter(col("score") >= col("rscore"))
      case "<"  => joined.filter(col("score") <  col("rscore"))
      case "<=" => joined.filter(col("score") <= col("rscore"))
    }
    kept.select((postingCols ++ pctCols(a)).map(col): _*)
  }

  /** J5 `a ORDER BY b` — keep lhs offsets, score := rhs score at same offset,
    * else -inf (src/query.cc:519-547). */
  def orderByQuery(a: DataFrame, b: DataFrame): DataFrame =
    p(a).join(dedupMax(b.select("off", "score")).withColumnRenamed("score", "rscore"),
        Seq("off"), "left_outer")
      .select(col("off") +:
        coalesce(col("rscore"), lit(Double.NegativeInfinity)).as("score") +:
        pctCols(a).map(col): _*)

  /** F1-F4 — element-wise score filters (src/query.cc:451-517). */
  def scoreEq(a: DataFrame, n: Double): DataFrame = p(a).filter(col("score") === n)
  def scoreCmp(a: DataFrame, op: String, n: Double): DataFrame = op match {
    case ">"  => p(a).filter(col("score") >  n)
    case ">=" => p(a).filter(col("score") >= n)
    case "<"  => p(a).filter(col("score") <  n)
    case "<=" => p(a).filter(col("score") <= n)
  }
  /** `q [lo, hi]` — inclusive range, bounds auto-swapped when reversed
    * (src/query.cc:507-517). */
  def scoreRange(a: DataFrame, lo: Double, hi: Double): DataFrame = {
    val (l, h) = if (lo <= hi) (lo, hi) else (hi, lo)
    p(a).filter(col("score").between(l, h))
  }

  /** A1/A2/J6 — per-offset dedup keeping max (QUERY) or min (SELECT/CORRELATE)
    * score (src/query.cc:137-156,579-607,624-628). Map-side partial agg comes
    * free from groupBy. */
  def dedupMax(a: DataFrame): DataFrame = dedup(a, max)
  def dedupMin(a: DataFrame): DataFrame = dedup(a, min)

  /** Band-carrying dedup: argmax/argmin by score via struct ordering — the
    * winner's pct columns ride along (ties broken deterministically by the
    * band values themselves). */
  private def dedup(a: DataFrame, agg: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column): DataFrame = {
    val pc = pctCols(a)
    if (pc.isEmpty) p(a).groupBy("off").agg(agg(col("score")).as("score"))
    else p(a).groupBy("off")
      .agg(agg(struct(("score" +: pc).map(col): _*)).as("m"))
      .select(col("off") +: ("score" +: pc).map(n => col(s"m.$n").as(n)): _*)
  }

  /** A3 `~q` — negate scores (src/query.cc:609-611; bands untouched). */
  def negate(a: DataFrame): DataFrame =
    p(a).select(col("off") +: negative(col("score")).as("score") +:
      pctCols(a).map(col): _*)

  /** T1 — rank by score descending and paginate (src/query.cc:795-807).
    * Ties broken by ascending offset for determinism (the reference's
    * partial_sort tie order is unspecified). limit < 0 means "all"
    * (query-parser.yy:517-531). Compiles to TakeOrderedAndProject —
    * a distributed partial top-K, no full sort. */
  def topK(a: DataFrame, limit: Long, skip: Long = 0): DataFrame = {
    val sorted = p(a).orderBy(desc("score"), asc("off"))
    val paged = if (skip > 0) sorted.offset(skip.toInt) else sorted
    if (limit >= 0) paged.limit(limit.toInt) else paged
  }

  /** T3 RANDOM_SAMPLE(q, n) — deterministic sample of n postings, re-sorted by
    * offset (src/query.cc:549-568, fixed seed 1234). Determinism is defined
    * w.r.t. a canonical per-row hash order (md5 of "off:seed"), not partition
    * layout, so the same rows are chosen on any cluster size — and the same
    * expression is runnable in the DuckDB oracle. */
  def randomSample(a: DataFrame, n: Int, seed: Long = 1234L): DataFrame =
    p(a)
      .orderBy(md5(concat(col("off").cast("string"), lit(":" + seed))), col("off"), col("score"))
      .limit(n)
      .orderBy(col("off"), col("score"))
}
