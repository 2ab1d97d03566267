package graft.ml

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import graft.exec.{Route, Seek}

/** One IVF tier's codec — ONLY what differs between the flat, SQ8, PQ and
  * residual-PQ tiers: the candidate score over one row of the tier's
  * cell-partitioned store, and the DuckDB twin of that row and score.
  * Probing, restriction, ranking, batching, recall and the oracle shapes
  * around them are shared (Ivf), the way the reference keeps several
  * posting encodings behind one reader. */
sealed abstract class IvfCodec(val name: String) {

  /** The rounded candidate score of one store row against query `qemb`
    * whose self-dot is `qn`. */
  private[ml] def sim(qemb: Column, qn: Column): Column

  /** The batch query column, built from a corpus `embedding` column. */
  private[ml] def query(embedding: Column): Column

  /** Oracle CTEs over Ann.cellCtesSql's `e, c, asg, cell` chain, ending in
    * the candidate relation `cv(vec_id, cell, …)` — one row per coded
    * corpus vector, exactly what the tier's store holds. */
  private[ml] def candCtesSql: String

  /** The oracle twin of `sim` over a `cv` row and query expression `q`. */
  private[ml] def simSql(q: String): String
}

object IvfCodec {

  /** Rounded cosine of a `cv.v` vector against `q` — the flat, PQ and
    * residual-PQ oracles' score (their kernels reconstruct `v` and run the
    * graft_dot accumulation order). */
  private def cosineSql(q: String): String =
    s"""round(list_dot_product(cv.v, $q) /
       |  sqrt(list_dot_product(cv.v, cv.v) * list_dot_product($q, $q)), 6)""".stripMargin

  /** IVF-flat (Catalog.ivfFlat): the float vectors stored inside the cell
    * layout. The batch query stays the uncast float column — graft_dot
    * widens per element, so no cast enters the plan. */
  object Flat extends IvfCodec("ivf") {
    private[ml] def sim(qemb: Column, qn: Column): Column =
      Ann.asymSim(col("embedding"), qemb, qn)
    private[ml] def query(embedding: Column): Column = embedding
    private[ml] def candCtesSql: String =
      "cv AS (SELECT vec_id, cell.cell AS cell, e.emb AS v FROM cell JOIN e USING (vec_id))"
    private[ml] def simSql(q: String): String = cosineSql(q)
  }

  /** SQ8 (Catalog.sq8IvfStore): byte codes plus the shipped (mn, scale)
    * quantizer, ranked by the expressions.Sq8Sim kernel directly on the
    * codes — no per-candidate dequantized array. */
  object Sq8 extends IvfCodec("sq8") {
    private[ml] def sim(qemb: Column, qn: Column): Column =
      round(call_function("graft_sq8_sim", col("codes"), qemb, col("mn"),
        col("scale"), qn), 6)
    private[ml] def query(embedding: Column): Column =
      embedding.cast("array<double>")
    /** Quant's codes CTEs plus the per-row code sums the kernel
      * accumulates — Σc and Σc² (exact integers on both engines) and the
      * dimension count. */
    private[ml] def candCtesSql: String =
      s"""${Quant.codesCtesSql},
         |cv AS (SELECT vec_id, cell.cell AS cell, mn, scale, codes,
         |         CAST(list_sum(codes) AS DOUBLE) AS s1,
         |         CAST(list_sum(list_transform(codes, x -> x * x)) AS DOUBLE) AS s2,
         |         len(codes) AS nd
         |       FROM cx JOIN cell USING (vec_id))""".stripMargin
    /** The Sq8Sim kernel's arithmetic: with mp = mn + 128·scale,
      * num = mp·Σq + scale·(c·q) and nrm = mp²·n + 2·mp·scale·Σc +
      * scale²·Σc² — every term the same IEEE double op in the same order
      * as the generated loop, so hashes match. */
    private[ml] def simSql(q: String): String =
      s"""round(((cv.mn + 128 * cv.scale) * list_sum($q)
         |    + cv.scale * list_dot_product(CAST(cv.codes AS DOUBLE[]), $q)) /
         |  sqrt(((cv.mn + 128 * cv.scale) * (cv.mn + 128 * cv.scale) * cv.nd
         |    + 2 * (cv.mn + 128 * cv.scale) * cv.scale * cv.s1
         |    + cv.scale * cv.scale * cv.s2) * list_dot_product($q, $q)), 6)""".stripMargin
  }

  /** PQ (Catalog.pqIvfStore): M code bytes per vector, ranked by the
    * expressions.PqSim ADC kernel against the committed codebooks; the
    * oracle reconstructs each vector from its first-minimum centroids. */
  object Pq extends IvfCodec("pq") {
    private[ml] def sim(qemb: Column, qn: Column): Column =
      round(call_function("graft_pq_sim", col("codes"), qemb, qn), 6)
    private[ml] def query(embedding: Column): Column =
      embedding.cast("array<double>")
    private[ml] def candCtesSql: String =
      s"""cv AS (SELECT vec_id, cell.cell AS cell,
         |  ${graft.ml.Pq.xqSqlWith(TrainedPqCodebooks.books, "emb")} AS v
         |  FROM e JOIN cell USING (vec_id))""".stripMargin
    private[ml] def simSql(q: String): String = cosineSql(q)
  }

  /** Residual PQ (Catalog.pqrIvfStore): codes of v − c(cell(v)); the
    * expressions.PqrSim kernel reconstructs c(cell) + decode(codes), so the
    * candidate's cell feeds the score. The hive partition column comes back
    * INT; the kernel takes the 1-based cell as BIGINT. */
  object Pqr extends IvfCodec("pqr") {
    private[ml] def sim(qemb: Column, qn: Column): Column =
      round(call_function("graft_pqr_sim", col("codes"),
        col("cell").cast("long"), qemb, qn), 6)
    private[ml] def query(embedding: Column): Column =
      embedding.cast("array<double>")
    /** PqResidual's residual rows, the chosen residual centroids `px`,
      * and the IVFADC reconstruction — per-element addition first, then
      * list_dot_product's left-to-right accumulate, the PqrSim kernel's
      * IEEE sequence. */
    private[ml] def candCtesSql: String =
      s"""${PqResidual.residualCteSql},
         |px AS (SELECT vec_id, cell,
         |    ${graft.ml.Pq.xqSqlWith(TrainedPqrCodebooks.books, "remb")} AS xqr
         |  FROM rr),
         |cv AS (SELECT px.vec_id AS vec_id, px.cell AS cell,
         |    list_transform(range(1, ${Ann.Dims + 1}),
         |      i -> cc.cemb[i] + px.xqr[i]) AS v
         |  FROM px JOIN c cc ON cc.cent_id = px.cell)""".stripMargin
    private[ml] def simSql(q: String): String = cosineSql(q)
  }
}

/** The ONE IVF serving path, parameterized by codec: single lookup, batch
  * lookup, adaptive probe widening and the recall gate, each under one
  * restriction parameter, plus the matching DuckDB oracle builders.
  *
  * A lookup probes the query's nearest cells (driver arithmetic against the
  * committed centroids, Ann.probedCellsOf) and pushes them into the store
  * scan as a static In filter — static partition pruning on the
  * cell-partitioned store — then ranks only the probed rows by the codec's
  * score with the (sim DESC, vec_id ASC) tie-break. A batch assigns probes
  * in-plan (probeBatch), prunes the store to the batch's probed cells
  * (dynamic partition pruning) and ranks per query (Ann.topKPerQuery). */
object Ivf {

  /** The restriction one request applies to its candidates. The Spark side
    * carries id frames (R = DataFrame), the oracle side id subqueries
    * (R = String) yielding a `vec_id` column. `Label` filters the flat
    * store's label column (only the flat store carries metadata). Allowed
    * and masked restrictions commute with the probed-cell pruning, and no
    * codec's score carries corpus statistics, so a masked serve equals a
    * tombstone-folded store exactly. Fewer than k survivors in the probed
    * cells return fewer than k rows — the standard filtered-ANN contract
    * (topKAdaptive widens the probes instead). */
  sealed trait Restrict[+R]
  case object Unrestricted extends Restrict[Nothing]
  final case class Label(label: Int) extends Restrict[Nothing]
  final case class Allowed[R](ids: R) extends Restrict[R]
  final case class Masked[R](ids: R) extends Restrict[R]

  /** Semi/anti-joins are unhinted: a slice or tombstone set is
    * sub-corpus-sized, not fixed-bounded, so a forced broadcast could OOM at
    * data scale; AQE broadcasts it while small. */
  private def restricted(store: DataFrame,
      r: Restrict[DataFrame]): DataFrame =
    r match {
      case Unrestricted => store
      case Label(l) => store.filter(col("label") === l)
      case Allowed(ids) =>
        store.join(ids.select("vec_id"), Seq("vec_id"), "left_semi")
      case Masked(ids) =>
        store.join(ids.select("vec_id"), Seq("vec_id"), "left_anti")
    }

  /** Top-k of query vector `qVecId` against the codec's store, as
    * (vec_id, sim). When `local` bounds the lookup, the query row and the
    * probed cells are read and ranked on the driver. Otherwise it is ONE
    * bounded query-row collect, probe arithmetic on the driver, then a
    * single probed-partition scan ranked against the literal query. */
  def topK(codec: IvfCodec, store: DataFrame, emb: DataFrame, qVecId: Long,
      k: Int, r: Restrict[DataFrame] = Unrestricted): DataFrame =
    Route.serve(for {
      vec <- localVec(emb, qVecId)
      cells <- local(store, vec, r, Ann.Probes)
    } yield cells._1 -> (vec, cells._2)) { case (vec, cells) =>
      cells.topK(codec, vec, qVecId, k)
    } {
      topKAt(codec, store, Ann.queryVec(emb, qVecId), qVecId, k, r)
    }

  /** topK for an already-collected query vector, at probe width `probes`. */
  private[ml] def topKAt(codec: IvfCodec, store: DataFrame,
      vec: Array[Double], qVecId: Long, k: Int,
      r: Restrict[DataFrame] = Unrestricted,
      probes: Int = Ann.Probes): DataFrame =
    Route.serve(local(store, vec, r, probes))(_.topK(codec, vec, qVecId, k)) {
      rankedTopK(codec, restricted(
          store.filter(col("cell").isin(Ann.probedCellsOf(vec, probes): _*)), r)
        .filter(col("vec_id") =!= qVecId), vec, k)
    }

  val NotCells = "the store is not partitioned by cell"
  val NotLocal = "the restriction's ids are not a local relation"
  val NoLabel = "the store has no label column"
  val NotLongIds = "vec_id is not BIGINT"

  /** `emb`'s row `qVecId` read on the driver, as Ann.queryVec returns it:
    * the files whose statistics admit the id, within SeekRows. An absent
    * id fails as Ann.queryVec does. */
  private[ml] def localVec(emb: DataFrame, qVecId: Long): Either[String, Array[Double]] = {
    val conf = emb.sparkSession.sparkContext.hadoopConfiguration
    for {
      s <- Seek.stored(emb).toRight(Seek.notStored("embeddings"))
      _ <- Either.cond(s.relation.dataSchema("vec_id").dataType == LongType, (), NotLongIds)
      files = s.admitting("vec_id", qVecId, conf)
      rows = Seek.footerRows(files.map(_._2), conf)
      _ <- Either.cond(rows <= Seek.SeekRows, (), Seek.overBound(rows))
    } yield {
      val cols = StructType(Seq(s.relation.dataSchema("vec_id"), s.relation.dataSchema("embedding")))
      val elem = cols(1).dataType.asInstanceOf[ArrayType].elementType
      var vec: Option[Array[Double]] = None
      Seek.scanRows(emb.sparkSession, s, files, cols) { row =>
        if (vec.isEmpty && !row.isNullAt(0) && row.getLong(0) == qVecId)
          vec = Some(row.getArray(1).toArray[Any](elem).map(_.asInstanceOf[Number].doubleValue))
      }
      require(vec.nonEmpty, s"query vec_id $qVecId not present in corpus")
      vec.get
    }
  }

  /** The driver plan of a single lookup: the store's probed `cell=` files,
    * bound by their footer rows within SeekRows, under a restriction the
    * driver can apply (none, a label, or a local id set). */
  private[ml] def local(store: DataFrame, vec: Array[Double], r: Restrict[DataFrame],
      probes: Int): Either[String, (Long, Cells)] = {
    val conf = store.sparkSession.sparkContext.hadoopConfiguration
    for {
      s <- Seek.stored(store).toRight(Seek.notStored("the IVF store"))
      _ <- Either.cond(s.relation.partitionSchema.fieldNames.contains("cell"), (), NotCells)
      _ <- Either.cond(s.relation.dataSchema("vec_id").dataType == LongType, (), NotLongIds)
      rr <- r match {
        case Unrestricted => Right(Unrestricted)
        case Label(l) => Either.cond(s.relation.dataSchema.fieldNames.contains("label"), Label(l), NoLabel)
        case Allowed(ids) => Seek.localIds(ids, "vec_id").map(Allowed(_)).toRight(NotLocal)
        case Masked(ids) => Seek.localIds(ids, "vec_id").map(Masked(_)).toRight(NotLocal)
      }
      files = s.partitions("cell", Ann.probedCellsOf(vec, probes).toSet)
      bound = Seek.footerRows(files.map(_._2), conf)
      _ <- Either.cond(bound <= Seek.SeekRows, (), Seek.overBound(bound))
    } yield bound -> new Cells(store, s, files, rr)
  }

  /** The probed cells' files of a stored IVF store, ranked on the driver:
    * each row that passes the self-exclusion and the restriction is scored
    * by the codec's own `sim` Column, compiled once per codec and store
    * schema with the query and its self-dot as bound input columns. */
  private[ml] final class Cells(store: DataFrame, s: Seek.Stored,
      files: Seq[(InternalRow, FileStatus)], r: Restrict[Set[Long]]) {

    def topK(codec: IvfCodec, vec: Array[Double], qVecId: Long, k: Int): DataFrame = {
      val spark = store.sparkSession
      val data = s.relation.dataSchema
      val input = StructType(data ++ s.relation.partitionSchema ++ Seq(
        StructField("qemb", ArrayType(DoubleType, containsNull = false), nullable = false),
        StructField("qn", DoubleType, nullable = false)))
      val sim = Seek.projection(spark, input, codec.sim(col("qemb"), col("qn")).as("sim"))
      val id = data.fieldIndex("vec_id")
      val keep: (Long, InternalRow) => Boolean = r match {
        case Unrestricted => (_, _) => true
        case Label(l) =>
          val i = data.fieldIndex("label")
          (_, row) => !row.isNullAt(i) &&
            row.get(i, data(i).dataType).asInstanceOf[Number].longValue == l
        case Allowed(ids) => (v, _) => ids(v)
        case Masked(ids) => (v, _) => !ids(v)
      }
      val q = InternalRow(UnsafeArrayData.fromPrimitiveArray(vec), Ann.selfDot(vec))
      val joined = new JoinedRow
      val rows = Vector.newBuilder[Row]
      sim.project.synchronized {
        Seek.scanRows(spark, s, files, data) { row =>
          if (!row.isNullAt(id)) {
            val v = row.getLong(id)
            if (v != qVecId && keep(v, row)) {
              val out = sim.project(joined(row, q))
              rows += Row(v, if (out.isNullAt(0)) null else out.getDouble(0))
            }
          }
        }
      }
      Seek.ranked(spark, StructType(Seq(store.schema("vec_id"), sim.schema("sim"))), rows.result(), k)
    }
  }

  /** The single lookups' shared ranking tail over a candidate frame in the
    * codec's row shape: score every row with the codec against the literal
    * query and its self-dot, then take the (sim DESC, vec_id ASC) top-k.
    * The IVF tiers and the LSH lookup (Ann.topKAt) rank through it. */
  private[ml] def rankedTopK(codec: IvfCodec, cand: DataFrame,
      vec: Array[Double], k: Int): DataFrame =
    cand.select(col("vec_id"),
        codec.sim(Ann.litVec(vec), lit(Ann.selfDot(vec))).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)

  /** ADAPTIVE probe widening for restricted lookups: serve at the standard
    * width and, while the restriction thins the probed candidates below k,
    * double the probed cells (Probes → 2·Probes → … → Cells, an exact slice
    * scan at the ladder's end) before answering short. Each escalation is
    * ONE bounded count over an already cell-pruned k-limited plan; the rule
    * is deterministic in the data, so adaptiveOracleSql mirrors it. */
  def topKAdaptive(codec: IvfCodec, store: DataFrame, emb: DataFrame,
      qVecId: Long, k: Int, r: Restrict[DataFrame]): DataFrame = {
    val vec = Ann.queryVec(emb, qVecId)
    def at(p: Int) = topKAt(codec, store, vec, qVecId, k, r, p)
    adaptiveWidths.init.iterator.map(at).find(_.count() >= k)
      .getOrElse(at(adaptiveWidths.last))
  }

  /** The probe ladder Probes → 2·Probes → … → Cells, shared by the lookup
    * and its oracle so the two can never disagree on the escalation
    * levels. */
  private[graft] def adaptiveWidths: Seq[Int] =
    (Iterator.iterate(Ann.Probes)(_ * 2).takeWhile(_ < Ann.Cells).toSeq
      :+ Ann.Cells).distinct

  /** BATCHED top-k: a whole query TABLE (vec_id, embedding) in one
    * declarative plan — probe assignment, probed-cell pruning, scoring and
    * per-query top-k, nothing collected, so |Q| can itself be data-scale.
    *
    * Query-table contract: qids must be DISTINCT (both per-query windows
    * key on qid), and each query's own row is excluded, as in the single
    * lookup. `keepRank` keeps the per-query rank for a fusion consumer.
    * Returns (qid, vec_id, sim), ≤ k rows per query. */
  def topKBatch(codec: IvfCodec, store: DataFrame, queries: DataFrame, k: Int,
      r: Restrict[DataFrame] = Unrestricted,
      keepRank: Boolean = false): DataFrame =
    Ann.topKPerQuery(candidates(codec, store, queries, r), k, keepRank)

  /** The ONE batch candidate chain — probe assignment, probed-cell pruning
    * of the restricted store, self-exclusion, codec scoring. Every batch
    * lookup and the hard-negative miner compose it. Returns
    * (qid, vec_id, sim), unranked. */
  private[ml] def candidates(codec: IvfCodec, store: DataFrame,
      queries: DataFrame, r: Restrict[DataFrame]): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
      codec.query(col("embedding")).as("qemb"))
    val probed = probeBatch(q, Ann.centroids(queries))
    probed.join(prunedByProbedCells(restricted(store, r), probed), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        codec.sim(col("qemb"), col("qn")).as("sim"))
  }

  /** The batched probe stage: each (qid, qemb) row of `q` ranks the
    * broadcast centroid matrix and keeps its `Probes` nearest cells — a
    * |Q|×Cells projection + per-query WindowGroupLimit, no aggregation, no
    * driver round-trip. Also carries the query self-dot `qn`, so ranking
    * pays the query norm once per probed row, not once per candidate.
    * Returns (qid, qemb, qn, cell), `Probes` rows per query. */
  private def probeBatch(q: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    q.crossJoin(broadcast(cents))
      .select(col("qid"), col("qemb"), col("cent_id").as("cell"),
        Ann.cosine(col("qemb"), col("cemb")).as("csim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("csim"), asc("cell"))))
      .filter(col("rk") <= Ann.Probes)
      .select(col("qid"), col("qemb"),
        Ann.dot(col("qemb"), col("qemb")).as("qn"), col("cell"))
  }

  /** Partition-skip the cell-keyed store down to the batch's probed cells
    * BEFORE the candidate join: a broadcast left-semi on the partition
    * column hands Spark a dynamic partition-pruning filter. The build side
    * is bounded by |Q| × Probes cell rows (distinct ≤ Cells), so it is
    * always a safe broadcast; no .distinct() — a left-semi dedups by
    * construction, and a distinct would add an exchange + stage wave. */
  private def prunedByProbedCells(store: DataFrame,
      probed: DataFrame): DataFrame =
    store.join(broadcast(probed.select("cell")), Seq("cell"), "left_semi")

  /** The recall gate from STORED fixtures: recall@k of one lookup against
    * a k-row stored exact baseline — the one-arm call of Ann.recallFrom.
    * Returns (method, hits, recall). */
  def recallAtKFrom(codec: IvfCodec, store: DataFrame, emb: DataFrame,
      exact: DataFrame, qVecId: Long, k: Int,
      r: Restrict[DataFrame] = Unrestricted,
      method: Option[String] = None): DataFrame =
    Ann.recallFrom(emb, exact, qVecId, k, Seq(method.getOrElse(codec.name) ->
      (topKAt(codec, store, _, qVecId, k, r))))

  // ---- DuckDB mirrors ----

  /** The restriction as a predicate on candidate id column `id`. Label is
    * anchored to the base `embeddings` table, so it pairs only with the
    * base corpus. */
  private[ml] def restrictSql(r: Restrict[String], id: String): String =
    r match {
      case Unrestricted => ""
      case Label(l) => s"AND $id IN (SELECT vec_id FROM embeddings WHERE label = $l)"
      case Allowed(ids) => s"AND $id IN (SELECT vec_id FROM ($ids))"
      case Masked(ids) => s"AND $id NOT IN (SELECT vec_id FROM ($ids))"
    }

  private def preludeSql(codec: IvfCodec, srcSql: String): String =
    s"${Ann.cellCtesSql(srcSql)},\n${codec.candCtesSql}"

  /** The single lookup's ranked candidates at probe width `probes`, over
    * the prelude and a one-row `q(qemb)` CTE. */
  private def rankedSql(codec: IvfCodec, qVecId: Long, k: Int,
      r: Restrict[String], probes: Int): String =
    s"""SELECT cv.vec_id AS vec_id, ${codec.simSql("q.qemb")} AS sim
       |FROM cv JOIN (SELECT cent_id AS cell FROM asg WHERE vec_id = $qVecId
       |    ORDER BY csim DESC, cent_id ASC LIMIT $probes) qc USING (cell), q
       |WHERE cv.vec_id <> $qVecId ${restrictSql(r, "cv.vec_id")}
       |ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin

  private def queryCteSql(qVecId: Long): String =
    s"q AS (SELECT emb AS qemb FROM e WHERE vec_id = $qVecId)"

  /** DuckDB mirror of topK (srcSql parameterized so the planted recall
    * gates reuse the exact same rendering). */
  def oracleSql(codec: IvfCodec, qVecId: Long, k: Int,
      r: Restrict[String] = Unrestricted,
      srcSql: String = Ann.BaseSrcSql): String = {
    require(srcSql == Ann.BaseSrcSql || !r.isInstanceOf[Label],
      "a label restriction is anchored to the base embeddings table")
    s"""WITH ${preludeSql(codec, srcSql)},
       |${queryCteSql(qVecId)}
       |${rankedSql(codec, qVecId, k, r, Ann.Probes)}
       |""".stripMargin.replaceAll("\\s+", " ")
  }

  /** DuckDB mirror of topKAdaptive: one ranked CTE per ladder width, then
    * the first width whose hit count reaches k (or the last width)
    * answers — the same deterministic escalation rule. */
  def adaptiveOracleSql(codec: IvfCodec, qVecId: Long, k: Int,
      r: Restrict[String]): String = {
    val widths = adaptiveWidths
    val ranked = widths.map(p =>
      s"r$p AS (${rankedSql(codec, qVecId, k, r, p)})").mkString(",\n")
    val arms = widths.zipWithIndex.map { case (p, i) =>
      val shorter = widths.take(i).map(s => s"(SELECT count(*) FROM r$s) < $k")
      val cond = (if (i == widths.size - 1) shorter
        else shorter :+ s"(SELECT count(*) FROM r$p) >= $k").mkString(" AND ")
      s"SELECT vec_id, sim FROM r$p" + (if (cond.nonEmpty) s" WHERE $cond" else "")
    }.mkString(" UNION ALL ")
    s"""WITH ${preludeSql(codec, Ann.BaseSrcSql)},
       |${queryCteSql(qVecId)},
       |$ranked
       |$arms
       |""".stripMargin.replaceAll("\\s+", " ")
  }

  /** The batched-oracle CTEs through `cand(qid, vec_id, sim)` for the query
    * batch vec_id < maxQid: the query rows, their per-query `Probes`
    * nearest cells ranked from the shared `asg` CTE with probeBatch's
    * exact tie-break, and the codec-scored candidates of those cells. */
  private[ml] def batchCandSql(codec: IvfCodec, maxQid: Long,
      r: Restrict[String]): String =
    s"""${preludeSql(codec, Ann.BaseSrcSql)},
       |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < $maxQid),
       |probed AS (SELECT qid, qemb, cell FROM (
       |    SELECT q.qid, q.qemb, asg.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY asg.csim DESC, asg.cent_id ASC) AS rk
       |    FROM q JOIN asg ON asg.vec_id = q.qid)
       |  WHERE rk <= ${Ann.Probes}),
       |cand AS (SELECT p.qid AS qid, cv.vec_id AS vec_id,
       |    ${codec.simSql("p.qemb")} AS sim
       |  FROM probed p JOIN cv USING (cell)
       |  WHERE cv.vec_id <> p.qid ${restrictSql(r, "cv.vec_id")})""".stripMargin

  /** DuckDB mirror of topKBatch for the query batch vec_id < maxQid. */
  def batchOracleSql(codec: IvfCodec, maxQid: Long, k: Int,
      r: Restrict[String] = Unrestricted): String =
    s"""WITH ${batchCandSql(codec, maxQid, r)}
       |${Ann.batchRankSql(k)}
       |""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of recallAtKFrom: the exact baseline restricted like the
    * lookup, against the lookup's own oracle (Ann.recallArmsSql). */
  def recallOracleSql(codec: IvfCodec, qVecId: Long, k: Int,
      r: Restrict[String] = Unrestricted, srcSql: String = Ann.BaseSrcSql,
      method: Option[String] = None): String =
    Ann.recallArmsSql(
      Ann.exactTopKSql(qVecId, k, srcSql, restrictSql(r, "e.vec_id")),
      Seq(method.getOrElse(codec.name) ->
        oracleSql(codec, qVecId, k, r, srcSql)), k)
}
