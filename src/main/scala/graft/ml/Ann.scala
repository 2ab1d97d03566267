package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an embedding column via
  * sign-random-projection LSH: L hash tables × B hyperplane bits; candidates
  * are vectors sharing a (table, signature) bucket with the query, re-ranked
  * by exact cosine. This is the scale path the brute-force `emb_topk` lacks:
  * the plan joins on bucket signatures (hash shuffle on a short string key)
  * and only candidate rows reach the cosine — at 100 TB the bucket column
  * becomes the partition key and a lookup touches O(candidates), not O(N).
  *
  * Hyperplanes are deterministic pseudo-random values derived from
  * md5(plane:dim) — data-independent constants, embedded as literals in both
  * the Spark plan and the DuckDB oracle (a production build would broadcast a
  * plane matrix instead of inlining literals).
  */
object Ann {

  val Tables = 4 // L hash tables
  val Bits = 6   // hyperplane bits per table
  val Dims = 64  // embedding dimensionality of the testdata

  /** Hyperplane component ∈ [-1, 1): md5("p:d") first 8 hex chars → uint32 →
    * scaled. Rounded so the SQL-literal mirror is bit-identical. */
  def planeValue(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    val u = java.lang.Long.parseLong(hex, 16)
    math.rint(((u / 4294967296.0) * 2 - 1) * 1e6) / 1e6
  }

  /** All L×B hyperplanes, each a Dims-vector. */
  lazy val planes: Seq[Seq[Double]] =
    (0 until Tables * Bits).map(p => (0 until Dims).map(d => planeValue(p, d)))

  /** graft_dot — the codegen'd native Expression (expressions.DotProduct),
    * replacing the interpreted aggregate(zip_with(...)) chain in the hot
    * loop. Shared with Quant so the quantized paths rank with the
    * identical expression. */
  private[ml] def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def dot(emb: Column, plane: Seq[Double]): Column =
    dot(emb, array(plane.map(lit): _*))

  /** The B-bit signature string for hash table t. */
  def signature(emb: Column, t: Int): Column =
    concat((0 until Bits).map { b =>
      when(dot(emb, planes(t * Bits + b)) >= 0, "1").otherwise("0")
    }: _*)

  /** Exploded (vec_id, table, sig) bucket rows for every vector. */
  def buckets(emb: DataFrame): DataFrame = {
    // float32 arrays go straight into graft_dot (it converts per element);
    // accumulation is double either way, matching the oracle's CAST.
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    val sigs = e.select(col("vec_id") +: col("emb") +:
      (0 until Tables).map(t => signature(col("emb"), t).as(s"sig$t")): _*)
    sigs.select(col("vec_id"), col("emb"),
      explode(array((0 until Tables).map { t =>
        struct(lit(t).as("t"), col(s"sig$t").as("sig"))
      }: _*)).as("b"))
      .select(col("vec_id"), col("emb"), col("b.t"), col("b.sig"))
  }

  /** The PERSISTABLE bucket index: (vec_id, bucket) with bucket = "t:sig" —
    * one string key so it can be a parquet partition column (a pure-digit sig
    * would be inferred as an integer on read-back and lose leading zeros).
    * Catalog.annBuckets materializes this once per sf-dir, the way the
    * reference STORES its index instead of deriving it per query
    * (/root/reference/src/table-backend-writeonce.cc:594-636). */
  def bucketIds(emb: DataFrame): DataFrame =
    buckets(emb).select(col("vec_id"),
      concat(col("t").cast("string"), lit(":"), col("sig")).as("bucket"))

  // ---- driver-side query constants (VERDICT r14 #5 job audit) ----
  // A single-query lookup's bucket keys and probed cells are pure
  // arithmetic between ONE bounded vector and the COMMITTED plane/centroid
  // constants. Collecting the query row once (a Dims-length vector — the
  // same bounded-collect class as the L bucket keys) and doing that
  // arithmetic on the driver replaces two scheduled jobs per lookup
  // (bucket-key scan, probe ranking) and lets the query vector inline as a
  // LITERAL — no 1-row broadcast build job, no second embeddings scan in
  // the ranking plan. The math mirrors the graft_dot kernel exactly:
  // per-element widening to double, index-order accumulation, so every
  // produced value is bit-identical to the former in-plan derivation.

  /** The query row's embedding as driver-side doubles (exact float→double
    * widening — the kernel's own conversion). One bounded collect. */
  private[graft] def queryVec(emb: DataFrame, qVecId: Long): Array[Double] = {
    val rows = emb.filter(col("vec_id") === qVecId).select("embedding")
      .limit(1).collect()
    require(rows.nonEmpty, s"query vec_id $qVecId not present in corpus")
    rows(0).getSeq[Number](0).iterator.map(_.doubleValue).toArray
  }

  private def dotConst(a: Array[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The query vector as a literal array column (double literals — exact
    * values; graft_dot widens per element, so mixing with a float corpus
    * column produces the identical IEEE sequence). */
  private[ml] def litVec(vec: Array[Double]): Column =
    array(vec.toSeq.map(lit): _*)

  /** dot(vec, vec) in kernel order — the query self-norm literal. */
  private[graft] def selfDot(vec: Array[Double]): Double =
    dotConst(vec, scala.collection.immutable.ArraySeq.unsafeWrapArray(vec))

  /** The L bucket keys of one query vector — driver arithmetic against the
    * plane constants (the signature expression's exact op order). */
  private[graft] def queryBucketKeysOf(vec: Array[Double]): Seq[String] =
    (0 until Tables).map { t =>
      val bits = (0 until Bits).map { b =>
        if (dotConst(vec, planes(t * Bits + b)) >= 0) '1' else '0'
      }.mkString
      s"$t:$bits"
    }

  /** The 2L multi-probe bucket keys: per table, the base key plus the key
    * with the lowest-|margin| bit flipped (ties → lowest bit index, the
    * first-occurrence argmin both engines share). Margins are the same
    * dotConst values the base signature uses — one derivation, two
    * keys. */
  private[graft] def queryMultiProbeKeysOf(vec: Array[Double]): Seq[String] =
    (0 until Tables).flatMap { t =>
      val dots = (0 until Bits).map(b => dotConst(vec, planes(t * Bits + b)))
      val bits = dots.map(d => if (d >= 0) '1' else '0')
      val flip = dots.map(math.abs).zipWithIndex.minBy(_._1)._2
      val flipped = bits.updated(flip, if (bits(flip) == '1') '0' else '1')
      Seq(s"$t:${bits.mkString}", s"$t:${flipped.mkString}")
    }

  /** The query's `Probes` nearest cell ids — driver arithmetic against the
    * committed centroid matrix (cosine in kernel op order; (csim DESC,
    * cent_id ASC) tie-break identical to the in-plan ranking). */
  private[graft] def probedCellsOf(vec: Array[Double]): Seq[Long] =
    probedCellsOf(vec, Probes)

  /** The width-`p` generalization — the adaptive probe-widening lookup
    * escalates p; every fixed-width caller stays on the Probes default. */
  private[graft] def probedCellsOf(vec: Array[Double], p: Int): Seq[Long] = {
    val qq = selfDot(vec)
    // a zero-norm query makes every csim NaN, where Scala's ascending sort
    // (NaN last) and Spark's desc (NaN first) disagree — fail loudly
    // instead of diverging from the in-plan ranking (ADVICE r15)
    require(qq > 0, "probedCellsOf: zero-norm query vector has no cosine ranking")
    TrainedCentroids.matrix.zipWithIndex.map { case (c, i) =>
      val cc = dotConst(c.toArray, c)
      ((i + 1).toLong, dotConst(vec, c) / math.sqrt(qq * cc))
    }.sortBy { case (id, csim) => (-csim, id) }
      .take(p).map(_._1)
  }

  /** LSH-candidate top-k by cosine for query vector `qVecId` against a
    * PERSISTED bucket index (Catalog.annBuckets): hash the query vector into
    * its L buckets, prune the bucket table down to those buckets, exact
    * cosine re-rank only the candidates. The lookup plan never recomputes a
    * corpus signature (VERDICT r4 #1). The query's bucket keys are collected
    * eagerly — a BOUNDED driver-side list (exactly L strings, the same
    * bounded-collect class as the Presenter page contract) pushed into the
    * index scan as a static In filter, so file/row-group skipping happens at
    * planning time instead of through a runtime bucket join. Returns
    * (vec_id, sim). */
  def topK(emb: DataFrame, bk: DataFrame, qVecId: Long, k: Int): DataFrame =
    topKWithVec(emb, bk, queryVec(emb, qVecId), qVecId, k)

  private[ml] def topKWithVec(emb: DataFrame, bk: DataFrame,
      vec: Array[Double], qVecId: Long, k: Int): DataFrame =
    topKWithKeys(emb, bk, vec, queryBucketKeysOf(vec), qVecId, k)

  /** MULTI-PROBE LSH serving (Lv et al., VLDB 2007): probe each table's
    * base bucket AND the bucket with the query's lowest-|margin| bit
    * flipped — the bit most likely to land on the other side of its
    * hyperplane for a true near neighbor. Doubles per-table probes
    * (2L keys) instead of doubling the STORED table count, which is the
    * published trade: index size is the 100 TB cost, query-side probes
    * are nearly free. Same stored index, same ranking chain; the probe
    * keys are driver arithmetic against the committed plane constants
    * (the queryBucketKeysOf convention). */
  def topKMultiProbe(emb: DataFrame, bk: DataFrame, qVecId: Long,
      k: Int): DataFrame = {
    val vec = queryVec(emb, qVecId)
    topKWithKeys(emb, bk, vec, queryMultiProbeKeysOf(vec), qVecId, k)
  }

  private[ml] def topKWithKeys(emb: DataFrame, bk: DataFrame,
      vec: Array[Double], qbs: Seq[String], qVecId: Long,
      k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    val qemb = litVec(vec)
    // candidate ids as an UNHINTED left-semi build side: bounded by the L
    // probed buckets' occupancy in the usual case, so AQE runtime-
    // broadcasts it and the corpus side streams without an exchange; a
    // pathological bucket holding a corpus-scale fraction (correlated or
    // all-equal embeddings that defeat the planes) then degrades to a
    // shuffle join instead of OOMing the driver on a forced broadcast
    // (ADVICE r15 — same posture as the IVF allowed-id restriction)
    val cands = bk.filter(col("bucket").isin(qbs: _*))
      .filter(col("vec_id") =!= qVecId)
      .select("vec_id")
    val d = dot(col("emb"), qemb)
    val na = dot(col("emb"), col("emb"))
    val nb = lit(selfDot(vec))
    e.join(cands, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), round(d / sqrt(na * nb), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** Ad-hoc overload for in-memory corpora (tests, exploratory use): derives
    * the bucket index inline and caches it for the statement. */
  def topK(emb: DataFrame, qVecId: Long, k: Int): DataFrame =
    topK(emb, graft.util.Caches.track(bucketIds(emb).cache()), qVecId, k)

  /** BATCHED LSH serving: a whole query TABLE against the persisted bucket
    * index in one declarative plan — topK's candidate semantics (distinct
    * vec_ids sharing ANY of the query's L buckets, exact-cosine re-rank,
    * same tie-break) with the per-query bounded bucket collect replaced by
    * an in-plan projection: each (qid, qemb) row hashes ITSELF into its L
    * bucket keys (the same signature expressions the index build uses — a
    * |Q|×L explode, no corpus scan), candidates arrive through the bucket
    * equi-join against the stored index, (qid, vec_id) pairs dedup once (a
    * pair can collide in several tables), and the per-query top-k rides
    * the WindowGroupLimit pushdown. Nothing is collected; |Q| can itself
    * be data-scale — bulk lookup against a bucketed corpus is the
    * dedup-against-index-at-ingest shape (NearDup.incrementalDupesFrom's
    * embedding analogue). Same query-table contract as Ivf.topKBatch:
    * distinct qids; excludeSelf = false for an external id space.
    * Returns (qid, vec_id, sim), ≤ k rows per query. */
  def topKBatch(emb: DataFrame, bk: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame =
    topKBatchWithKeys(emb, bk, queries, k, excludeSelf,
      qemb => (0 until Tables).map(t =>
        concat(lit(s"$t:"), signature(qemb, t))))

  /** BATCHED multi-probe serving: topKBatch with each query row hashing
    * itself into 2L keys — per table the base signature plus the
    * lowest-|margin| bit flipped, derived IN-PLAN (margins as an array of
    * |graft_dot| values, first-occurrence array_position argmin — the
    * declarative twin of queryMultiProbeKeysOf, so batch == singles holds
    * key for key). Still zero driver round-trips, |Q| can be
    * data-scale. */
  def topKBatchMultiProbe(emb: DataFrame, bk: DataFrame, queries: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame =
    topKBatchWithKeys(emb, bk, queries, k, excludeSelf,
      qemb => (0 until Tables).flatMap { t =>
        val sig = signature(qemb, t)
        val margins = array((0 until Bits).map(b =>
          abs(dot(qemb, planes(t * Bits + b)))): _*)
        val f = array_position(margins, array_min(margins))
        val flipped = concat(sig.substr(lit(1), (f - 1).cast("int")),
          when(sig.substr(f.cast("int"), lit(1)) === "1", "0").otherwise("1"),
          sig.substr((f + 1).cast("int"), lit(Bits)))
        Seq(concat(lit(s"$t:"), sig), concat(lit(s"$t:"), flipped))
      })

  private def topKBatchWithKeys(emb: DataFrame, bk: DataFrame,
      queries: DataFrame, k: Int, excludeSelf: Boolean,
      keysOf: Column => Seq[Column]): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qemb"))
    val qb = q.select(col("qid"),
      explode(array(keysOf(col("qemb")): _*)).as("bucket"))
    val hits = qb.join(bk, Seq("bucket")).select("qid", "vec_id")
    val pairs = (if (excludeSelf) hits.filter(col("vec_id") =!= col("qid"))
                 else hits).distinct()
    topKPerQuery(pairs
      .join(e, Seq("vec_id"))
      .join(q.select(col("qid"), col("qemb"),
        dot(col("qemb"), col("qemb")).as("qn")), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        asymSim(col("emb"), col("qemb"), col("qn")).as("sim")), k)
  }

  // ---- IVF variant: coarse-quantize into cells, probe nearest cells ----

  val Cells = 16  // coarse centroids (vec_ids 1..Cells as deterministic seeds)
  val Probes = 4  // cells searched per query

  /** Raw cosine between two embedding columns (no rounding — used where both
    * engines COMPARE the value; IEEE doubles with the same op order agree). */
  private[ml] def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** The batch paths' per-candidate ranking sim: cosine with the query-side
    * norm `qn` = dot(qemb, qemb) precomputed once per probed row (probeBatch
    * carries it through the candidate shuffle) instead of re-derived per
    * candidate. Bit-identical to round(cosine(a, b), 6): same values, same
    * multiply order under sqrt. */
  private[ml] def asymSim(emb: Column, qemb: Column, qn: Column): Column =
    round(dot(emb, qemb) / sqrt(dot(emb, emb) * qn), 6)

  /** The batch paths' shared per-query top-k tail over (qid, vec_id, sim)
    * candidates: row_number ≤ k with the (sim DESC, vec_id ASC) tie-break —
    * rides Spark's WindowGroupLimit pushdown (partial top-k map-side, never
    * a global sort). The oracle twin is batchRankSql. */
  private[ml] def topKPerQuery(cand: DataFrame, k: Int,
      keepRank: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = cand.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rank") <= k)
    // keepRank: a fusion consumer (Retrieval.rrfStoredBatch) reuses the
    // rank this window just computed instead of re-deriving it with a
    // second identical window per tier
    if (keepRank) ranked.select("qid", "vec_id", "sim", "rank")
    else ranked.select("qid", "vec_id", "sim")
  }

  /** IVF-flat top-k: the inverted-file ANN shape — a coarse quantizer assigns
    * every vector to its nearest of `Cells` centroids; a query probes its
    * `Probes` nearest cells and exact-re-ranks only those cells' members. At
    * 100 TB the cell id becomes the partition key, the centroid matrix stays
    * a broadcast, and a lookup touches |probed cells| partitions instead of
    * the corpus — the complementary scale path to LSH bucketing (topK above).
    * Returns (vec_id, sim). */
  def ivfTopK(emb: DataFrame, qVecId: Long, k: Int): DataFrame =
    ivfTopK(emb, graft.util.Caches.track(cellAssignment(emb).cache()), qVecId, k)

  /** The coarse-quantizer centroid table (cent_id 1.., cemb): the k-means
    * matrix trained offline on a corpus sample and committed as constants
    * (TrainedCentroids, generated by TrainCentroids) — the standard IVF
    * deployment shape, and what keeps the centroid literals identical in the
    * Spark plan and the DuckDB oracle. Tiny; always broadcast. */
  def centroids(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    val spark = emb.sparkSession
    spark.createDataFrame(
      java.util.Arrays.asList(TrainedCentroids.matrix.zipWithIndex.map {
        case (c, i) => Row((i + 1).toLong, c)
      }: _*),
      StructType(Seq(StructField("cent_id", LongType),
        StructField("cemb", ArrayType(DoubleType)))))
  }

  /** The PERSISTABLE coarse-quantizer assignment (vec_id, cell) — every
    * vector's nearest centroid; argmax via max(struct) = one
    * partial-aggregated shuffle, ties → lowest cent_id. Catalog.ivfCells
    * materializes this partitioned by cell. */
  def cellAssignment(emb: DataFrame,
      cents: Option[DataFrame] = None): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    val asg = e.crossJoin(broadcast(cents.getOrElse(centroids(emb))))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("emb"), col("cemb")).as("csim"))
    asg.groupBy("vec_id")
      .agg(max(struct(col("csim"), (-col("cent_id")).as("neg"))).as("m"))
      .select(col("vec_id"), (-col("m.neg")).as("cell"))
  }

  /** The query's `Probes` nearest cell ids — a 1×Cells ranking on the
    * broadcast centroid matrix, collected eagerly (a BOUNDED list of exactly
    * `Probes` longs, the same bounded-collect class as the L bucket keys) so
    * callers can push it into an index scan as a static In filter. Shared by
    * the IVF-flat lookup below and the SQ8-over-IVF lookup (Quant). */
  def probedCells(e: DataFrame, qVecId: Long,
      cents: Option[DataFrame] = None): Seq[Long] = {
    val cn = broadcast(cents.getOrElse(centroids(e)))
    e.filter(col("vec_id") === qVecId).crossJoin(cn)
      .select(col("cent_id"), cosine(col("emb"), col("cemb")).as("csim"))
      .orderBy(desc("csim"), asc("cent_id")).limit(Probes)
      .collect().map(_.getLong(0)).toSeq
  }

  /** IVF-flat top-k against a PERSISTED cell assignment (Catalog.ivfCells):
    * the query probes its `Probes` nearest centroids (a 1×Cells ranking on
    * the broadcast centroid matrix) and exact-re-ranks only those cells'
    * members — the lookup plan prunes the assignment table to the probed
    * cells instead of re-quantizing the corpus per query (VERDICT r4 #1).
    * The probed cell ids are collected eagerly (probedCells above) and
    * pushed as a static In filter, giving STATIC partition pruning on the
    * cell-partitioned table. The reference derivation the stored serving
    * path (Ivf) is pinned against. Returns (vec_id, sim). */
  def ivfTopK(emb: DataFrame, cells: DataFrame, qVecId: Long, k: Int,
      cents: Option[DataFrame] = None): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    val qCells = probedCells(e, qVecId, cents)
    val q = broadcast(e.filter(col("vec_id") === qVecId)
      .select(col("emb").as("qemb")))
    cells.filter(col("cell").isin(qCells: _*)).filter(col("vec_id") =!= qVecId)
      .join(e, Seq("vec_id"))
      .crossJoin(q)
      .select(col("vec_id"),
        round(cosine(col("emb"), col("qemb")), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** FILTERED IVF top-k reference: nearest neighbours among label = L,
    * post-filtered within the probed cells (the quantizer knows nothing of
    * labels) — the label predicate prunes the CANDIDATE side before
    * ranking. Returns (vec_id, sim). */
  def ivfTopKFiltered(emb: DataFrame, cells: DataFrame, qVecId: Long,
      label: Int, k: Int, cents: Option[DataFrame] = None): DataFrame = {
    val full = emb.select(col("vec_id"), col("embedding").as("emb"))
    val el = emb.filter(col("label") === label)
      .select(col("vec_id"), col("embedding").as("emb"))
    val qCells = probedCells(full, qVecId, cents)
    val q = broadcast(full.filter(col("vec_id") === qVecId)
      .select(col("emb").as("qemb")))
    cells.filter(col("cell").isin(qCells: _*)).filter(col("vec_id") =!= qVecId)
      .join(el, Seq("vec_id"))
      .crossJoin(q)
      .select(col("vec_id"),
        round(cosine(col("emb"), col("qemb")), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  // ---- IVF-FLAT serving store (VERDICT r14 #5/#3 job audit) ----
  // A real IVF-flat index stores the VECTORS inside the cell layout — the
  // float tier's analogue of sq8IvfStore/pqIvfStore: Catalog.ivfFlat is
  // embeddings re-laid-out hive-partitioned by cell (vec_id, embedding,
  // label, cell). Serving from it needs NO corpus join: a lookup reads the
  // probed partitions' vectors directly. Every tier serves through the
  // shared path (Ivf) with its codec (IvfCodec.Flat here).

  // Entry points the benchmark harness (perfbench/harness) calls by name;
  // the harness may not change with the engine, so each keeps its
  // signature as one call into the shared path.
  def ivfTopKFrom(flat: DataFrame, emb: DataFrame, qVecId: Long,
      k: Int): DataFrame =
    Ivf.topK(IvfCodec.Flat, flat, emb, qVecId, k)
  def ivfTopKFilteredFrom(flat: DataFrame, emb: DataFrame, qVecId: Long,
      label: Int, k: Int): DataFrame =
    Ivf.topK(IvfCodec.Flat, flat, emb, qVecId, k, Ivf.Label(label))
  def ivfTopKMaskedFrom(flat: DataFrame, emb: DataFrame, qVecId: Long,
      tombstones: DataFrame, k: Int): DataFrame =
    Ivf.topK(IvfCodec.Flat, flat, emb, qVecId, k, Ivf.Masked(tombstones))
  def ivfTopKBatchFrom(flat: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Ivf.topKBatch(IvfCodec.Flat, flat, queries, k)
  def ivfOracleSql(qVecId: Long, k: Int): String =
    Ivf.oracleSql(IvfCodec.Flat, qVecId, k)
  def ivfFilteredOracleSql(qVecId: Long, label: Int, k: Int): String =
    Ivf.oracleSql(IvfCodec.Flat, qVecId, k, Ivf.Label(label))
  def ivfMaskedOracleSql(qVecId: Long, k: Int, deadSql: String): String =
    Ivf.oracleSql(IvfCodec.Flat, qVecId, k, Ivf.Masked(deadSql))
  def ivfBatchOracleSql(maxQid: Long, k: Int): String =
    Ivf.batchOracleSql(IvfCodec.Flat, maxQid, k)

  /** The COMPACTION end of the dense delete lifecycle: fold the tombstoned
    * vectors out of the flat store into a new sorted generation behind the
    * atomic MANIFEST flip (the bm25_clean_rebuild equivalence), then serve
    * the same lookup from the flipped generation — the cell In-filter
    * file-skips via min/max on the (cell, vec_id) sort. Cosine carries no
    * corpus statistics, so this equals the masked serve exactly. Memoized
    * per statement window like every *Once compaction. */
  def ivfTombstoneCompactServe(spark: org.apache.spark.sql.SparkSession,
      flat: DataFrame, emb: DataFrame, qVecId: Long, tombstones: DataFrame,
      scratchBase: String, k: Int): DataFrame = {
    val clean = graft.util.Caches.memoize(s"ann:tombcompact:$scratchBase") {
      graft.ingest.Compact.rmTree(scratchBase)
      graft.ingest.Compact.writeGenerationAndFlip(spark,
        flat.join(tombstones.select("vec_id"), Seq("vec_id"), "left_anti"),
        scratchBase, "cell", Seq("cell", "vec_id"), partitions = Some(4))
    }
    Ivf.topK(IvfCodec.Flat, clean, emb, qVecId, k)
  }

  /** HARD-NEGATIVE mining over the stored IVF-flat index — the
    * contrastive-training data op: for each query vector, the top-k
    * nearest candidates EXCLUDING the query itself and its known
    * POSITIVES — a (qid, vec_id) pair table: labeled relevants, near-dup
    * partners (the verified pair graph's both orientations), a
    * self-supervised per-query top-1, or any union of those. Composes the
    * shared batch candidate chain with ONE anti-join on (qid, vec_id);
    * everything stays in-plan, so |Q| can itself be data-scale.
    * Returns (qid, vec_id, sim), ≤ k rows per query. */
  def hardNegatives(flat: DataFrame, queries: DataFrame,
      positives: DataFrame, k: Int, excludeTopM: Int = 0): DataFrame = {
    val scored = Ivf.candidates(IvfCodec.Flat, flat, queries,
      Ivf.Unrestricted, excludeSelf = true)
    // excludeTopM: each query's top-M of the PLAIN ranking are treated as
    // self-supervised positives INSIDE the same chain — the window rides
    // the qid exchange the final top-k already needs, instead of a second
    // probe/join chain computing the top-M separately (r16 bench: the
    // two-chain entry paid ~2× the plan)
    val mFiltered =
      if (excludeTopM <= 0) scored
      else scored.withColumn("rk0", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))))
        .filter(col("rk0") > excludeTopM)
        .drop("rk0")
    topKPerQuery(mFiltered
      .join(positives.select("qid", "vec_id"), Seq("qid", "vec_id"),
        "left_anti"), k)
  }

  /** DuckDB mirror of the hardneg_mine entry: the shared batch candidate
    * chain, positives = the verified near-dup pair graph (both
    * orientations) ∪ each query's top-`excludeTopM` candidates (the
    * self-supervised positives, which guarantee the exclusion bites for
    * every query), then the per-query top-k over the surviving candidates.
    * `pairCtes` supplies a `dup` CTE (NearDup.pairCtesSql); `excludeTopM`
    * mirrors hardNegatives' parameter so the pair cannot drift. */
  def hardNegOracleSql(maxQid: Long, k: Int, pairCtes: String,
      excludeTopM: Int = 1): String = {
    val selfPos = if (excludeTopM <= 0) ""
      else s"""UNION ALL SELECT qid, vec_id FROM (
           |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, vec_id ASC) AS rk FROM cand)
           |  WHERE rk <= $excludeTopM""".stripMargin
    s"""WITH ${Ivf.batchCandSql(IvfCodec.Flat, maxQid, Ivf.Unrestricted)},
       |$pairCtes,
       |pos AS (SELECT doc_a AS qid, doc_b AS vec_id FROM dup
       |  UNION ALL SELECT doc_b, doc_a FROM dup
       |  $selfPos),
       |fcand AS (SELECT qid, vec_id, sim FROM cand
       |  WHERE NOT EXISTS (SELECT 1 FROM pos
       |    WHERE pos.qid = cand.qid AND pos.vec_id = cand.vec_id))
       |SELECT qid, vec_id, sim FROM (
       |  SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, vec_id ASC) AS rk FROM fcand)
       |WHERE rk <= $k
       |""".stripMargin.replaceAll("\\s+", " ")
  }

  /** The batched-oracle final rank over a `cand(qid, vec_id, sim)` CTE —
    * per-query top-k with the (sim DESC, vec_id ASC) tie-break every batch
    * lookup pins. */
  private[ml] def batchRankSql(k: Int): String =
    s"""SELECT qid, vec_id, sim FROM (
       |  SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, vec_id ASC) AS rk FROM cand)
       |WHERE rk <= $k""".stripMargin

  /** Embedding-cosine near-duplicate pairs against a PERSISTED bucket index:
    * candidates share an LSH bucket (any of the L tables), survivors
    * re-ranked by exact cosine ≥ minCos. Returns (vec_a, vec_b, cos). Same
    * no-all-pairs shape as the MinHash path — the bucket join bounds the
    * candidate set, and the signatures come from the stored index, not a
    * per-statement corpus scan. */
  def nearDupCos(emb: DataFrame, bk: DataFrame, minCos: Double): DataFrame = {
    val ids = bk.as("x").join(bk.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val e = emb.select(col("vec_id"), col("embedding"))
    val pairs = ids
      .join(e.withColumnRenamed("vec_id", "vec_a")
        .withColumnRenamed("embedding", "ea"), Seq("vec_a"))
      .join(e.withColumnRenamed("vec_id", "vec_b")
        .withColumnRenamed("embedding", "eb"), Seq("vec_b"))
    val cosine = round(dot(col("ea"), col("eb")) /
      sqrt(dot(col("ea"), col("ea")) * dot(col("eb"), col("eb"))), 6)
    pairs.select(col("vec_a"), col("vec_b"), cosine.as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Ad-hoc overload for in-memory corpora: derives (and caches) the bucket
    * index inline — the signature subtree (L×B literal plane arrays) is
    * large to plan/codegen, so materialize it once, not per self-join side. */
  def nearDupCos(emb: DataFrame, minCos: Double): DataFrame =
    nearDupCos(emb, graft.util.Caches.track(bucketIds(emb).cache()), minCos)

  /** Planted-variant vec_ids live `PlantOffset` above their source row. */
  val PlantOffset = 1000000L

  /** Deterministic near-duplicate augmentation (ADVICE r7): the synthetic
    * corpus' top pairwise cosine is ~0.51, so realistic near-dup thresholds
    * returned empty on both engines and could only be exercised with a
    * fixture-driven 0.4. Every `every`-th vector gets a planted variant —
    * first Dims/2 components scaled by 1.1 → cosine ≈ 0.9988 against its
    * source — under vec_id + PlantOffset. Embeddings are widened
    * float→double BEFORE perturbing so the arithmetic is bit-identical to
    * the DuckDB mirror's DOUBLE[] math. */
  def plantedCorpus(emb: DataFrame, every: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val half = Dims / 2
    val planted = e.filter(col("vec_id") % every === 0)
      .select((col("vec_id") + PlantOffset).as("vec_id"),
        concat(
          transform(slice(col("embedding"), 1, half), x => x * lit(1.1)),
          slice(col("embedding"), half + 1, Dims - half)).as("embedding"))
    e.unionAll(planted)
  }

  /** A planted CLUSTER around one source vector: m variants under
    * vec_id + PlantOffset + j, variant j scaling the first Dims/2
    * components by (1 + 0.02·j) — cosines to the source range ~0.9988 down
    * to ~0.99, all far above the synthetic corpus' natural ceiling (~0.51),
    * so the exact top-m for the source IS the cluster. This is the
    * structured regime the flat `ann_recall` entry cannot probe (VERDICT
    * r9 #5): hyperplane LSH recall at the planted cosines is provably high
    * (per-table collision ≈ 0.91 at cos 0.9988; ≥1-of-4 ≈ 0.9999), so a
    * quality regression in planes/banding moves a recall pinned ≥ 0.8
    * instead of one pinned at the honest-but-toothless 0.0. Double-widened
    * BEFORE perturbing, factors inlined as literals — bit-identical to the
    * DuckDB mirror. */
  def plantedCluster(emb: DataFrame, qVecId: Long, m: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val half = Dims / 2
    val variants = (1 to m).map { j =>
      val f = 1.0 + 0.02 * j
      e.filter(col("vec_id") === qVecId)
        .select((col("vec_id") + lit(PlantOffset + j)).as("vec_id"),
          concat(
            transform(slice(col("embedding"), 1, half), x => x * lit(f)),
            slice(col("embedding"), half + 1, Dims - half)).as("embedding"))
    }
    variants.foldLeft(e)(_ unionAll _)
  }

  /** recallAtK over the planted cluster — the quality-regime recall gate:
    * both index derivations and the exact baseline run over the SAME
    * augmented corpus (ad-hoc derived and cached for the statement, like
    * the other planted entries). */
  def recallAtKPlanted(emb: DataFrame, qVecId: Long, m: Int, k: Int): DataFrame = {
    val e = graft.util.Caches.track(plantedCluster(emb, qVecId, m).cache())
    recallAtK(e, graft.util.Caches.track(bucketIds(e).cache()),
      graft.util.Caches.track(cellAssignment(e).cache()), qVecId, k)
  }

  /** nearDupCos at a REALISTIC threshold (0.9+) over the planted corpus:
    * demonstrates genuine near-dup recall — each planted pair collides in
    * ≥1 LSH table with p ≈ 0.9999 at cos 0.9988 — while staying fully
    * oracle-checked (the mirror plants the same variants). */
  def nearDupCosPlanted(emb: DataFrame, minCos: Double, every: Int): DataFrame =
    nearDupCos(plantedCorpus(emb, every), minCos)

  /** SEMANTIC dedup scoped to the coarse-quantizer cells — the SemDeDup
    * recipe (Abbas et al. 2023, arXiv:2303.09540): k-means the embeddings
    * (here: the SAME committed coarse quantizer the IVF tiers serve from,
    * so the dedup and the index agree on what "semantically close" means),
    * then compare pairs only WITHIN a cell and remove any point whose
    * max cosine over the lower-triangle ordering exceeds the threshold —
    * i.e. point x is removed when some retained-ordering predecessor y in
    * its cell has cos(x,y) ≥ minCos. The ordering is the paper's
    * fixed-but-arbitrary matrix order made deterministic (vec_id ASC); the
    * centroid-proximity keep-policy refinement is an ORDER BY swap away.
    * Scale: the quadratic stays WITHIN cells — the published design point
    * (k grows with the corpus so cells stay bounded); no all-pairs, and
    * against the stored assignment (Catalog.ivfCells) the statement reads
    * cell-partitioned data and never re-quantizes. Complements the
    * LSH-bucketed nearDupCos: buckets bound candidates by hash collision,
    * cells by cluster membership — the latter also catches moderate-cosine
    * topical duplicates LSH tables at these bit widths rarely collide.
    * Returns the REMOVED rows (vec_id, cell). */
  def semanticDedup(emb: DataFrame, cells: DataFrame,
      minCos: Double): DataFrame = {
    val m = cells.select(col("vec_id"), col("cell"))
      .join(emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb")), Seq("vec_id"))
    m.as("x").join(m.as("y"),
        col("x.cell") === col("y.cell") &&
          col("y.vec_id") < col("x.vec_id"))
      .filter(round(cosine(col("x.emb"), col("y.emb")), 6) >= minCos)
      .select(col("x.vec_id").as("vec_id"), col("x.cell").as("cell"))
      .distinct()
  }

  /** semanticDedup at a REALISTIC threshold over the planted corpus
    * (nearDupCosPlanted's posture): the variants land in their source's
    * cell by construction of the assignment arithmetic on both engines,
    * so the removed set is non-trivial at cos ≥ 0.9. Ad-hoc assignment
    * over the augmented corpus, cached for the statement's two sides. */
  def semanticDedupPlanted(emb: DataFrame, minCos: Double,
      every: Int): DataFrame = {
    val e = graft.util.Caches.track(plantedCorpus(emb, every).cache())
    semanticDedup(e, graft.util.Caches.track(cellAssignment(e).cache()),
      minCos)
  }

  /** DuckDB mirror of semanticDedup: the shared cell CTEs + the same
    * lower-triangle within-cell pair predicate. */
  def semanticDedupSql(minCos: Double,
      srcSql: String = BaseSrcSql): String =
    s"""WITH ${cellCtesSql(srcSql)},
       |m AS (SELECT cell.vec_id, cell.cell, e.emb
       |      FROM cell JOIN e USING (vec_id))
       |SELECT DISTINCT x.vec_id, CAST(x.cell AS BIGINT) AS cell
       |FROM m x JOIN m y ON x.cell = y.cell AND y.vec_id < x.vec_id
       |WHERE round(list_dot_product(x.emb, y.emb) /
       |  sqrt(list_dot_product(x.emb, x.emb) * list_dot_product(y.emb, y.emb)),
       |  6) >= $minCos""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of semanticDedupPlanted. */
  def semanticDedupPlantedSql(minCos: Double, every: Int): String =
    semanticDedupSql(minCos, plantedSrcSql(every))

  /** DuckDB mirror of nearDupCos over the `embeddings` view. */
  def nearDupCosSql(minCos: Double): String =
    nearDupCosSqlFrom(
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings",
      minCos)

  /** DuckDB mirror of the full bucketIds table (the materialized /
    * stream-maintained index content): one "t:sig" row per (vector, hash
    * table). */
  def bucketsOracleSql: String = {
    def sigExpr(t: Int): String = (0 until Bits).map { b =>
      s"(CASE WHEN list_dot_product(emb, ${planeSql(planes(t * Bits + b))}) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    val perTable = (0 until Tables).map(t =>
      s"SELECT vec_id, '$t:' || ${sigExpr(t)} AS bucket FROM e")
      .mkString(" UNION ALL ")
    s"WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) $perTable"
      .replaceAll("\\s+", " ")
  }

  /** DuckDB mirror of plantedCorpus's source relation: same augmentation
    * (double widening FIRST, then the 1.1 half-scale) so cosines are
    * bit-identical. Shared by the planted near-dup and semantic-dedup
    * oracles. */
  def plantedSrcSql(every: Int): String = {
    val half = Dims / 2
    val base = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings"
    s"""SELECT vec_id, emb FROM ($base)
       | UNION ALL
       | SELECT vec_id + $PlantOffset AS vec_id,
       |   list_concat(list_transform(emb[1:$half], x -> x * 1.1),
       |               emb[${half + 1}:$Dims]) AS emb
       | FROM ($base) WHERE vec_id % $every = 0""".stripMargin
  }

  /** DuckDB mirror of nearDupCosPlanted. */
  def nearDupCosPlantedSql(minCos: Double, every: Int): String =
    nearDupCosSqlFrom(plantedSrcSql(every), minCos)

  private def nearDupCosSqlFrom(srcSql: String, minCos: Double): String = {
    def sigExpr(src: String): Seq[String] = (0 until Tables).map { t =>
      (0 until Bits).map { b =>
        s"(CASE WHEN list_dot_product($src, ${planeSql(planes(t * Bits + b))}) >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
    }
    val sigs = sigExpr("e.emb").zipWithIndex
      .map { case (s, t) => s"$s AS sig$t" }.mkString(", ")
    val cond = (0 until Tables).map(t => s"x.sig$t = y.sig$t").mkString(" OR ")
    s"""WITH e AS ($srcSql),
       |es AS (SELECT e.vec_id, e.emb, $sigs FROM e),
       |p AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |        round(list_dot_product(x.emb, y.emb) /
       |          sqrt(list_dot_product(x.emb, x.emb) * list_dot_product(y.emb, y.emb)), 6) AS cos
       |      FROM es x JOIN es y ON x.vec_id < y.vec_id AND ($cond))
       |SELECT vec_a, vec_b, cos FROM p WHERE cos >= $minCos
       |""".stripMargin.replaceAll("\\s+", " ")
  }

  /** The ONE rendering of the exact brute-force top-k baseline every recall
    * gate compares against (the Spark twin of exactTopKSql): corpus-wide
    * rounded cosine, (sim DESC, vec_id ASC) total order, self excluded.
    * Input `e` is (vec_id, emb); callers cache the result when it feeds
    * multiple probes. */
  private[ml] def exactTopKIds(e: DataFrame, qVecId: Long,
      k: Int): DataFrame = {
    val q = broadcast(e.filter(col("vec_id") === qVecId)
      .select(col("emb").as("qemb")))
    e.filter(col("vec_id") =!= qVecId).crossJoin(q)
      .select(col("vec_id"), round(cosine(col("emb"), col("qemb")), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id")).limit(k)
      .select("vec_id")
  }

  /** Public exactTopKIds over an (vec_id, embedding) frame — the PERSISTABLE
    * exact-baseline content (Catalog.exactTop10 / plantedExactTop10
    * materialize it so the recall gates READ their k-row baseline instead of
    * re-running the corpus-wide ranking per statement — VERDICT r14 #5). */
  def exactIds(emb: DataFrame, qVecId: Long, k: Int): DataFrame =
    exactTopKIds(emb.select(col("vec_id"), col("embedding").as("emb")),
      qVecId, k)

  /** The exact baseline RESTRICTED to a label slice — what filtered-ANN
    * recall compares against: the query row comes from the full corpus,
    * candidates only from the slice. Persisted by
    * Catalog.exactTop10Filtered. */
  def exactIdsFiltered(emb: DataFrame, qVecId: Long, label: Int,
      k: Int): DataFrame = {
    val vec = queryVec(emb, qVecId)
    emb.filter(col("label") === label).filter(col("vec_id") =!= qVecId)
      .select(col("vec_id"),
        round(cosine(col("embedding"), litVec(vec)), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id")).limit(k)
      .select("vec_id")
  }

  /** The ONE rendering of the recall row every gate emits:
    * (method, hits, recall@k) of an approximate lookup's ids against the
    * exact baseline — shared by the LSH/IVF gate here and the SQ8/PQ
    * planted gates (Quant, Pq), so the hit/rounding convention cannot
    * drift between tiers. */
  private[ml] def recallOf(exact: DataFrame, approx: DataFrame,
      method: String, k: Int): DataFrame =
    approx.select("vec_id").join(exact, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .select(lit(method).as("method"), col("hits"),
        round(col("hits") * lit(1.0) / k, 4).as("recall"))

  /** Recall@k of both approximate lookups (LSH buckets, IVF cells) against
    * the exact brute-force top-k, for one query vector — the ANN QUALITY
    * check as a deterministic relational result: (method, hits, recall).
    * Membership logic alone can pass while recall quietly degrades (bad
    * planes, too few probes); this pins the quality number itself to the
    * oracle each round. All three rankings use the rounded-sim,
    * vec_id-tiebreak total order the individual entries already pin, so the
    * k-boundaries agree across engines.
    *
    * Expected regime, pinned so a change is visible: on the near-uniform
    * synthetic corpus the exact top-10 sits at cos ≈ 0.2-0.3, where IVF
    * recall ≈ the probed fraction (Probes/Cells = 1/4 → ~0.5 with the
    * proximity correlation) and hyperplane-LSH recall is ~0 BY DESIGN — a
    * 16-bit × 8-table index only collides at high cosine (p ≈ 0.87 at the
    * planted-clone 0.999, ~1e-3 at 0.25). LSH is the near-duplicate index
    * (its quality regime is pinned by dedup_embcos_real); IVF is the
    * general top-k scale path. A recall ENTRY failing means an engine
    * diverged; the VALUES moving means planes/centroids/probes changed. */
  def recallAtK(emb: DataFrame, bk: DataFrame, cells: DataFrame,
      qVecId: Long, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    // cached: the brute-force subplan (corpus-wide cosine + sort) feeds
    // BOTH recall probes — uncached it executes twice per evaluation
    val exact = graft.util.Caches.track(exactTopKIds(e, qVecId, k).cache())
    recallOf(exact, topK(emb, bk, qVecId, k), "lsh", k)
      .unionByName(recallOf(exact, topKMultiProbe(emb, bk, qVecId, k),
        "lsh_mp", k))
      .unionByName(recallOf(exact, ivfTopK(emb, cells, qVecId, k), "ivf", k))
  }

  /** The recall rows as a LOCAL result: every input is k-bounded (the
    * stored exact baseline and each lookup's top-k — collected under the
    * same bounded-collect contract as the bucket keys), so the overlap
    * count is driver arithmetic, not a scheduled join + aggregation per
    * method. The HEAVY work — ranking the probed candidates — still runs
    * in Spark inside each lookup; only the ≤k×≤k id comparison moved out.
    * Rounding mirrors Spark's round() (BigDecimal HALF_UP). */
  private[ml] def recallRows(spark: org.apache.spark.sql.SparkSession,
      exact: Set[Long], lookups: Seq[(String, Seq[Long])],
      k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val rows = lookups.map { case (method, ids) =>
      val hits = ids.count(exact.contains).toLong
      val recall = BigDecimal.valueOf(hits.toDouble / k)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      Row(method, hits, recall)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("method", StringType),
        StructField("hits", LongType), StructField("recall", DoubleType))))
  }

  /** recallAtK served from STORED fixtures (VERDICT r14 #5): the exact
    * baseline is a k-row stored read, the LSH and IVF lookups rank their
    * probed candidates in Spark (one bounded query-row collect shared by
    * both), and the ≤k-id overlap is computed driver-side (recallRows) —
    * the gate READS and compares instead of re-deriving corpus, index,
    * baseline, or scheduling per-method join/agg waves. */
  def recallAtKFrom(emb: DataFrame, bk: DataFrame, flat: DataFrame,
      exact: DataFrame, qVecId: Long, k: Int): DataFrame = {
    val ids = exact.select("vec_id").collect().map(_.getLong(0)).toSet
    val vec = queryVec(emb, qVecId)
    // ALL lookups rank inside ONE tagged-union action (each branch is its
    // own TakeOrdered — the union concatenates ≤k results, it does not
    // merge their orderings), so the gate schedules one ranking wave
    val both = topKWithVec(emb, bk, vec, qVecId, k)
        .select(lit("lsh").as("method"), col("vec_id"))
      .unionAll(topKWithKeys(emb, bk, vec, queryMultiProbeKeysOf(vec),
          qVecId, k)
        .select(lit("lsh_mp").as("method"), col("vec_id")))
      .unionAll(Ivf.topKAt(IvfCodec.Flat, flat, vec, qVecId, k)
        .select(lit("ivf").as("method"), col("vec_id")))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    recallRows(emb.sparkSession, ids,
      Seq("lsh", "lsh_mp", "ivf").map(m =>
        m -> both.collect { case (`m`, id) => id }.toSeq), k)
  }

  /** ONE rendering of the exact brute-force top-k subquery — every recall
    * oracle compares against it, so the exact tier cannot drift between
    * gates (the cellCtesSql convention). `andWhere` restricts the
    * candidates (a filtered gate's slice) over `e.vec_id`. */
  private[ml] def exactTopKSql(qVecId: Long, k: Int, srcSql: String,
      andWhere: String = ""): String =
    s"""WITH e AS ($srcSql),
       |q AS (SELECT emb AS qemb FROM e WHERE vec_id = $qVecId)
       |SELECT e.vec_id AS vec_id,
       |  round(list_dot_product(e.emb, q.qemb) /
       |    sqrt(list_dot_product(e.emb, e.emb) * list_dot_product(q.qemb, q.qemb)), 6) AS sim
       |FROM e, q WHERE e.vec_id <> $qVecId $andWhere
       |ORDER BY sim DESC, e.vec_id LIMIT $k""".stripMargin

  /** The ONE rendering of a recall oracle: per (method, lookup oracle)
    * arm, the (method, hits, recall@k) row of the lookup's ids against the
    * exact baseline subquery — recallRows' SQL twin. */
  private[ml] def recallArmsSql(exactSql: String,
      arms: Seq[(String, String)], k: Int): String = {
    val ctes = arms.zipWithIndex.map { case ((_, sql), i) => s"a$i AS (($sql))" }
    val rows = arms.zipWithIndex.map { case ((method, _), i) =>
      s"""SELECT '$method' AS method, count(*) AS hits,
         |  round(count(*) * 1.0 / $k, 4) AS recall
         |FROM a$i WHERE vec_id IN (SELECT vec_id FROM exact)""".stripMargin
    }
    s"""WITH exact AS (($exactSql)),
       |${ctes.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}
       |""".stripMargin.replaceAll("\\s+", " ")
  }

  /** DuckDB mirror of recallAtK: the exact, LSH, and IVF top-k oracles
    * (each already verified stand-alone) composed as recall arms. */
  def recallOracleSql(qVecId: Long, k: Int,
      srcSql: String = BaseSrcSql): String =
    recallArmsSql(exactTopKSql(qVecId, k, srcSql), Seq(
      "lsh" -> oracleSql(qVecId, k, srcSql),
      "lsh_mp" -> multiProbeOracleSql(qVecId, k, srcSql),
      "ivf" -> Ivf.oracleSql(IvfCodec.Flat, qVecId, k, srcSql = srcSql)), k)

  /** Shared oracle CTE chain `e, c, asg, cell` — ONE rendering of the
    * coarse quantizer (centroid VALUES + cosine assignment + per-vector
    * argmax) used by BOTH ivfOracleSql and cellsOracleSql, so the two
    * entries pinning the same quantizer cannot drift. */
  private[ml] def cellCtesSql(srcSql: String): String = {
    val cRows = TrainedCentroids.matrix.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, ${planeSql(c)})" }.mkString(", ")
    s"""e AS ($srcSql),
       |c(cent_id, cemb) AS (VALUES $cRows),
       |asg AS (SELECT e.vec_id, c.cent_id,
       |          list_dot_product(e.emb, c.cemb) /
       |          sqrt(list_dot_product(e.emb, e.emb) * list_dot_product(c.cemb, c.cemb)) AS csim
       |        FROM e, c),
       |cell AS (SELECT vec_id, cent_id AS cell FROM (
       |           SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY csim DESC, cent_id ASC) AS rn FROM asg) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB mirror of the full IVF cell assignment (the materialized /
    * stream-maintained index content), cell widened to BIGINT to match
    * the Spark column. */
  def cellsOracleSql: String =
    s"""WITH ${cellCtesSql(BaseSrcSql)}
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM cell
       |""".stripMargin.replaceAll("\\s+", " ")

  /** INDEX-HEALTH audit of the coarse quantizer — per-cell population and
    * load factor (n_vecs / mean cell size), the figure an ANN deployment
    * alarms on: a hot cell turns every probe into a scan, an empty one
    * wastes a centroid (the rebalance trigger in IVF practice; Jégou et
    * al. 2011 §5 discuss the imbalance cost). Reads the STORED assignment
    * — one partial-aggregating groupBy of (vec_id, cell), embeddings never
    * re-quantized; the 1-row stats frame rides a broadcast crossJoin (the
    * sizesOf posture). */
  def ivfBalanceFrom(cells: DataFrame): DataFrame = {
    // the store is PARTITIONED by cell, so the read-back column is the
    // inferred int32 partition value — widen to match the oracle's BIGINT
    val per = cells.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val stats = per.agg(count(lit(1)).as("n_cells"),
      sum("n_vecs").as("n_total"))
    per.crossJoin(broadcast(stats))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs") * col("n_cells") / col("n_total"), 4)
          .as("load_factor"))
  }

  /** EMBEDDING-SPACE OUTLIER audit — per vector, the z-score of its
    * cosine to its OWN assigned centroid against that cell's population
    * (the mis-embedded / off-manifold detector an embedding-quality pass
    * runs before training a retriever: a vector far from its cell's
    * cohesion is a decode failure, an empty doc, or a domain stray).
    * Reads the STORED assignment and re-derives exactly ONE cosine per
    * vector (vec ⋈ its centroid — never the K-way re-quantization); the
    * cosine is quantized to integer MICRO-units (round×1e6, the
    * Sketches.centsCol posture) so the per-cell moments are exact integer
    * sums and both engines share one float tree for mean/sd/z — the
    * ts_anomaly discipline. Σq² stays inside BIGINT up to ~9M vectors per
    * cell (q ≤ 1e6 → q² ≤ 1e12); beyond that shard cells or widen to
    * DOUBLE sums. Cell moments ride one window over the cell-partitioned
    * store (map-side partial aggregation, no second scan). Returns
    * (vec_id, cell, sim_micro, z, is_outlier). */
  def ivfOutliersFrom(cells: DataFrame, emb: DataFrame,
      threshold: Double = 2.0): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    val cn = broadcast(centroids(emb).withColumnRenamed("cent_id", "cell"))
    val q = cells.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(e, Seq("vec_id"))
      .join(cn, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        round(cosine(col("emb"), col("cemb")) * 1e6, 0).cast("long")
          .as("sim_micro"))
    val byCell = org.apache.spark.sql.expressions.Window.partitionBy("cell")
    val mean = col("_s1").cast("double") / col("_n")
    val varr = greatest(
      col("_s2").cast("double") / col("_n") - mean * mean, lit(0.0))
    val sd = sqrt(varr)
    q.withColumn("_n", count(lit(1)).over(byCell))
      .withColumn("_s1", sum("sim_micro").over(byCell))
      .withColumn("_s2", sum(col("sim_micro") * col("sim_micro")).over(byCell))
      .select(col("vec_id"), col("cell"), col("sim_micro"),
        when(sd > 0.0, round((col("sim_micro") - mean) / sd, 4))
          .otherwise(lit(0.0)).as("z"),
        (sd > 0.0 && abs(col("sim_micro") - mean) > sd * threshold)
          .as("is_outlier"))
  }

  /** CENTROID-DRIFT audit — the other IVF maintenance trigger beside
    * ivf_balance: per cell, how far the data's actual mean vector has
    * moved from the trained centroid (drift = 1 − cosine). A drifted cell
    * means the frozen quantizer no longer matches the corpus (ingest
    * distribution shift) and probes lose recall — the re-train alarm an
    * IVF deployment schedules on. Recomputes each cell's mean from the
    * STORED assignment: one 64×-dim unpivot (bounded by Dims, never by
    * corpus width) into per-(cell, dim) exact integer micro-sums, the
    * mean array re-assembled in dim order, and ONE cosine per cell
    * against the centroid literal — the dot fold and its
    * list_dot_product mirror run left-to-right over the same 64 doubles,
    * so the float trees agree (the serving-path cosine discipline).
    * Returns (cell, n_vecs, drift). */
  def ivfDriftFrom(cells: DataFrame, emb: DataFrame): DataFrame = {
    val j = cells.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(emb.select(col("vec_id"), col("embedding").as("emb")),
        Seq("vec_id"))
    val d = j.select(col("cell"), posexplode(col("emb")).as(Seq("pos", "x")))
      .select(col("cell"), col("pos"),
        round(col("x") * 1e6, 0).cast("long").as("q"))
    // n_vecs rides the SAME aggregation chain (every vector contributes
    // one row per dim, so any dim's count is the cell population) — a
    // separate per-cell count would re-evaluate the join subtree and scan
    // embeddings twice (plan-pinned single scan, PlanAuditSpec)
    val m = d.groupBy("cell", "pos")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .select(col("cell"), col("pos"),
        (col("s").cast("double") / col("n") / lit(1e6)).as("m"), col("n"))
    val newc = m.groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"),
        max("n").as("n_vecs"))
      .select(col("cell"), expr("transform(ps, p -> p.m)").as("nemb"),
        col("n_vecs"))
    newc
      .join(broadcast(centroids(emb).withColumnRenamed("cent_id", "cell")),
        Seq("cell"))
      .select(col("cell"), col("n_vecs"),
        round(lit(1.0) - cosine(col("nemb"), col("cemb")), 6).as("drift"))
  }

  /** DuckDB mirror of ivfDriftFrom: the shared cell CTEs, the identical
    * micro-unit integer sums per (cell, dim), and list_dot_product over
    * the same dim-ordered mean array. */
  def ivfDriftOracleSql: String =
    s"""WITH ${cellCtesSql(BaseSrcSql)},
       |j AS (SELECT CAST(cell.cell AS BIGINT) AS cellid, e.emb
       |  FROM cell JOIN e USING (vec_id)),
       |d AS (SELECT cellid, generate_subscripts(emb, 1) AS pos,
       |  CAST(round(unnest(emb) * 1000000) AS BIGINT) AS q FROM j),
       |m AS (SELECT cellid, pos, CAST(sum(q) AS BIGINT) AS s, count(*) AS n
       |  FROM d GROUP BY 1, 2),
       |nc AS (SELECT cellid,
       |  list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY pos) AS nemb,
       |  CAST(max(n) AS BIGINT) AS n_vecs
       |  FROM m GROUP BY cellid)
       |SELECT nc.cellid AS cell, nc.n_vecs,
       |  round(1.0 - list_dot_product(nemb, c.cemb) /
       |    sqrt(list_dot_product(nemb, nemb) *
       |         list_dot_product(c.cemb, c.cemb)), 6) AS drift
       |FROM nc JOIN c ON c.cent_id = nc.cellid""".stripMargin
      .replaceAll("\\s+", " ")

  /** DuckDB mirror of ivfOutliersFrom: the shared cell CTEs restricted to
    * each vector's assigned centroid row, then the identical integer-sum /
    * float-tree moments. */
  def ivfOutliersOracleSql(threshold: Double = 2.0): String =
    s"""WITH ${cellCtesSql(BaseSrcSql)},
       |a AS (SELECT asg.vec_id, CAST(cell.cell AS BIGINT) AS cell,
       |  CAST(round(asg.csim * 1000000) AS BIGINT) AS sim_micro
       |  FROM asg JOIN cell ON asg.vec_id = cell.vec_id
       |    AND asg.cent_id = cell.cell),
       |m AS (SELECT cell, count(*) AS n, CAST(sum(sim_micro) AS BIGINT) AS s1,
       |  CAST(sum(sim_micro * sim_micro) AS BIGINT) AS s2 FROM a GROUP BY cell),
       |s AS (SELECT cell, CAST(s1 AS DOUBLE) / n AS mean,
       |  sqrt(greatest(CAST(s2 AS DOUBLE) / n -
       |    (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0.0)) AS sd
       |  FROM m)
       |SELECT a.vec_id, a.cell, a.sim_micro,
       |  CASE WHEN s.sd > 0.0 THEN round((a.sim_micro - s.mean) / s.sd, 4)
       |    ELSE 0.0 END AS z,
       |  (s.sd > 0.0 AND abs(a.sim_micro - s.mean) > s.sd * $threshold)
       |    AS is_outlier
       |FROM a JOIN s USING (cell)""".stripMargin.replaceAll("\\s+", " ")

  def ivfBalanceOracleSql: String =
    s"""WITH ${cellCtesSql(BaseSrcSql)},
       |per AS (SELECT cell, count(*) AS n_vecs FROM cell GROUP BY cell),
       |st AS (SELECT count(*) AS n_cells,
       |  CAST(sum(n_vecs) AS BIGINT) AS n_total FROM per)
       |SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
       |  round(n_vecs * (SELECT n_cells FROM st) * 1.0 /
       |    (SELECT n_total FROM st), 4) AS load_factor
       |FROM per""".stripMargin.replaceAll("\\s+", " ")

  /** The un-augmented oracle source relation (doubles widened first). */
  val BaseSrcSql = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings"

  /** DuckDB mirror of plantedCluster: same widening-then-scale order and
    * the same factor literals, so cosines are bit-identical. */
  def plantedClusterSrcSql(qVecId: Long, m: Int): String = {
    val half = Dims / 2
    val variants = (1 to m).map { j =>
      val f = 1.0 + 0.02 * j
      s"""SELECT vec_id + ${PlantOffset + j} AS vec_id,
         |  list_concat(list_transform(emb[1:$half], x -> x * $f),
         |              emb[${half + 1}:$Dims]) AS emb
         |  FROM ($BaseSrcSql) WHERE vec_id = $qVecId""".stripMargin
    }
    (s"SELECT vec_id, emb FROM ($BaseSrcSql)" +: variants)
      .mkString(" UNION ALL ")
  }

  private def planeSql(plane: Seq[Double]): String =
    plane.mkString("[", ",", "]")

  /** The L per-table signature expressions over a source embedding column —
    * the ONE SQL rendering of `signature`, shared by the single-query and
    * batched LSH oracles so the plane literals cannot drift. */
  private def lshSigExprs(src: String): Seq[String] =
    (0 until Tables).map { t =>
      (0 until Bits).map { b =>
        s"(CASE WHEN list_dot_product($src, ${planeSql(planes(t * Bits + b))}) >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
    }

  /** DuckDB mirror of topKMultiProbe: the single-query LSH oracle with a
    * per-table FLIPPED signature derived independently in SQL — margins
    * as a list of abs dot products, argmin via list_position on the list
    * minimum (first occurrence = lowest bit, queryMultiProbeKeysOf's
    * tie-break), string surgery for the flip. A candidate matches a
    * table on the base OR the flipped signature. */
  def multiProbeOracleSql(qVecId: Long, k: Int,
      srcSql: String = BaseSrcSql): String = {
    val eSigs = lshSigExprs("e.emb").zipWithIndex
      .map { case (s, t) => s"$s AS sig$t" }.mkString(", ")
    val qSigs = lshSigExprs("q.qemb").zipWithIndex
      .map { case (s, t) => s"$s AS qsig$t" }.mkString(", ")
    val margins = (0 until Tables).map { t =>
      (0 until Bits).map { b =>
        s"abs(list_dot_product(q.qemb, ${planeSql(planes(t * Bits + b))}))"
      }.mkString("[", ",", "]") + s" AS m$t"
    }.mkString(", ")
    val flips = (0 until Tables).map { t =>
      s"""substr(qsig$t, 1, list_position(m$t, list_min(m$t)) - 1) ||
         |(CASE WHEN substr(qsig$t, list_position(m$t, list_min(m$t)), 1) = '1'
         |  THEN '0' ELSE '1' END) ||
         |substr(qsig$t, list_position(m$t, list_min(m$t)) + 1) AS qflip$t""".stripMargin
    }.mkString(", ")
    val matchCond = (0 until Tables)
      .map(t => s"es.sig$t = qs.qsig$t OR es.sig$t = qs.qflip$t")
      .mkString(" OR ")
    s"""WITH e AS ($srcSql),
       |q AS (SELECT emb AS qemb FROM e WHERE vec_id = $qVecId),
       |es AS (SELECT e.vec_id, e.emb, $eSigs FROM e),
       |qs0 AS (SELECT q.qemb, $qSigs, $margins FROM q),
       |qs AS (SELECT *, $flips FROM qs0),
       |cand AS (SELECT es.vec_id, es.emb, qs.qemb FROM es, qs
       |         WHERE ($matchCond) AND es.vec_id <> $qVecId)
       |SELECT vec_id,
       |  round(list_dot_product(emb, qemb) /
       |        sqrt(list_dot_product(emb, emb) * list_dot_product(qemb, qemb)), 6) AS sim
       |FROM cand ORDER BY sim DESC, vec_id LIMIT $k
       |""".stripMargin.replaceAll("\\s+", " ")
  }

  /** DuckDB mirror of topK over the `embeddings` view. */
  def oracleSql(qVecId: Long, k: Int,
      srcSql: String = BaseSrcSql): String = {
    val eSigs = lshSigExprs("e.emb").zipWithIndex
      .map { case (s, t) => s"$s AS sig$t" }.mkString(", ")
    val qSigs = lshSigExprs("q.qemb").zipWithIndex
      .map { case (s, t) => s"$s AS qsig$t" }.mkString(", ")
    val matchCond = (0 until Tables).map(t => s"es.sig$t = qs.qsig$t").mkString(" OR ")
    s"""WITH e AS ($srcSql),
       |q AS (SELECT emb AS qemb FROM e WHERE vec_id = $qVecId),
       |es AS (SELECT e.vec_id, e.emb, $eSigs FROM e),
       |qs AS (SELECT q.qemb, $qSigs FROM q),
       |cand AS (SELECT es.vec_id, es.emb, qs.qemb FROM es, qs
       |         WHERE ($matchCond) AND es.vec_id <> $qVecId)
       |SELECT vec_id,
       |  round(list_dot_product(emb, qemb) /
       |        sqrt(list_dot_product(emb, emb) * list_dot_product(qemb, qemb)), 6) AS sim
       |FROM cand ORDER BY sim DESC, vec_id LIMIT $k
       |""".stripMargin.replaceAll("\\s+", " ")
  }

  /** DuckDB mirror of topKBatch for the query batch vec_id < maxQid: the
    * same any-table bucket match per (query, vector) pair, the same
    * distinct-pair dedup, and the shared batchRankSql top-k tail with
    * topKBatch's exact tie-break. */
  def lshBatchOracleSql(maxQid: Long, k: Int,
      srcSql: String = BaseSrcSql): String = {
    val eSigs = lshSigExprs("e.emb").zipWithIndex
      .map { case (s, t) => s"$s AS sig$t" }.mkString(", ")
    val qSigs = lshSigExprs("q.qemb").zipWithIndex
      .map { case (s, t) => s"$s AS qsig$t" }.mkString(", ")
    val matchCond = (0 until Tables).map(t => s"es.sig$t = qs.qsig$t").mkString(" OR ")
    s"""WITH e AS ($srcSql),
       |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < $maxQid),
       |es AS (SELECT e.vec_id, e.emb, $eSigs FROM e),
       |qs AS (SELECT q.qid, $qSigs FROM q),
       |pairs AS (SELECT DISTINCT qs.qid, es.vec_id FROM es, qs
       |          WHERE ($matchCond) AND es.vec_id <> qs.qid),
       |cand AS (SELECT p.qid, p.vec_id,
       |    round(list_dot_product(e.emb, q.qemb) /
       |          sqrt(list_dot_product(e.emb, e.emb) * list_dot_product(q.qemb, q.qemb)), 6) AS sim
       |  FROM pairs p JOIN e ON e.vec_id = p.vec_id JOIN q ON q.qid = p.qid)
       |${batchRankSql(k)}
       |""".stripMargin.replaceAll("\\s+", " ")
  }

  /** DuckDB mirror of topKBatchMultiProbe: lshBatchOracleSql's chain with
    * the per-table flipped signature (multiProbeOracleSql's margin-argmin
    * string surgery) derived per QUERY ROW. */
  def multiProbeBatchOracleSql(maxQid: Long, k: Int,
      srcSql: String = BaseSrcSql): String = {
    val eSigs = lshSigExprs("e.emb").zipWithIndex
      .map { case (s, t) => s"$s AS sig$t" }.mkString(", ")
    val qSigs = lshSigExprs("q.qemb").zipWithIndex
      .map { case (s, t) => s"$s AS qsig$t" }.mkString(", ")
    val margins = (0 until Tables).map { t =>
      (0 until Bits).map { b =>
        s"abs(list_dot_product(q.qemb, ${planeSql(planes(t * Bits + b))}))"
      }.mkString("[", ",", "]") + s" AS m$t"
    }.mkString(", ")
    val flips = (0 until Tables).map { t =>
      s"""substr(qsig$t, 1, list_position(m$t, list_min(m$t)) - 1) ||
         |(CASE WHEN substr(qsig$t, list_position(m$t, list_min(m$t)), 1) = '1'
         |  THEN '0' ELSE '1' END) ||
         |substr(qsig$t, list_position(m$t, list_min(m$t)) + 1) AS qflip$t""".stripMargin
    }.mkString(", ")
    val matchCond = (0 until Tables)
      .map(t => s"es.sig$t = qs.qsig$t OR es.sig$t = qs.qflip$t")
      .mkString(" OR ")
    s"""WITH e AS ($srcSql),
       |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < $maxQid),
       |es AS (SELECT e.vec_id, e.emb, $eSigs FROM e),
       |qs0 AS (SELECT q.qid, $qSigs, $margins FROM q),
       |qs AS (SELECT *, $flips FROM qs0),
       |pairs AS (SELECT DISTINCT qs.qid, es.vec_id FROM es, qs
       |          WHERE ($matchCond) AND es.vec_id <> qs.qid),
       |cand AS (SELECT p.qid, p.vec_id,
       |    round(list_dot_product(e.emb, q.qemb) /
       |          sqrt(list_dot_product(e.emb, e.emb) * list_dot_product(q.qemb, q.qemb)), 6) AS sim
       |  FROM pairs p JOIN e ON e.vec_id = p.vec_id JOIN q ON q.qid = p.qid)
       |${batchRankSql(k)}
       |""".stripMargin.replaceAll("\\s+", " ")
  }
}
