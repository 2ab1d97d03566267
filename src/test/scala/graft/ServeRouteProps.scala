package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.exec.Route
import graft.ml.{Ivf, IvfCodec, Retrieval}
import graft.model.Catalog

/** The stored single lookups' driver route against their Spark plans over
  * the same sf0.001 stores: every IVF codec under no restriction, a local
  * mask and a local allowed set (and the flat store under a label), BM25
  * over absent, single, repeated and rare terms, and the RRF hybrid at
  * n = 20. Both routes return the same schema and the same rows in the
  * same order, bit for bit, and the driver route is the one taken. */
object ServeRouteProps extends Properties("ServeRoute") {
  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val dir = "/root/testdata/sf0.001"
  private def emb = Catalog.embeddings(spark, dir)
  private def lex = Catalog.lexIndex(spark, dir)
  private def stats = Catalog.lexStatsFolded(spark, dir)

  private val stores: Seq[(IvfCodec, () => DataFrame)] = Seq(
    IvfCodec.Flat -> (() => Catalog.ivfFlat(spark, dir)),
    IvfCodec.Sq8 -> (() => Catalog.sq8IvfStore(spark, dir)),
    IvfCodec.Pq -> (() => Catalog.pqIvfStore(spark, dir)),
    IvfCodec.Pqr -> (() => Catalog.pqrIvfStore(spark, dir)))

  /** Rows with doubles as raw bits, so NaN equals NaN and -0.0 differs
    * from 0.0. */
  private def bits(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  })

  /** `lookup` on the driver and pinned to Spark: same schema, same rows. */
  private def same(lookup: => DataFrame): Prop = {
    val (local, routes) = Route.observed(lookup)
    val onSpark = Route.onSpark("pinned by the spec")(lookup)
    val (a, b) = (local.collect().toSeq, onSpark.collect().toSeq)
    (routes.size == 1 && routes.head.isInstanceOf[Route.Seek]) :| s"route $routes" &&
      (local.schema == onSpark.schema) :| s"schema ${local.schema} vs ${onSpark.schema}" &&
      (bits(a) == bits(b)) :| s"driver $a\nspark $b"
  }

  private val qid = Gen.choose(0L, 60L)
  private val ids = Gen.listOfN(40, Gen.choose(0L, 120L))

  private val restrict: Gen[Ivf.Restrict[DataFrame]] = Gen.oneOf(
    Gen.const[Ivf.Restrict[DataFrame]](Ivf.Unrestricted),
    ids.map(d => Ivf.Masked(d.toDF("vec_id"))),
    ids.map(a => Ivf.Allowed(a.toDF("vec_id"))))

  property("ivf: driver == spark, every codec and local restriction") =
    forAll(Gen.oneOf(stores), qid, restrict, Gen.choose(1, 15)) { case ((codec, store), q, r, k) =>
      same(Ivf.topK(codec, store(), emb, q, k, r))
    }

  property("ivf: driver == spark, flat store under a label") =
    forAll(qid, Gen.choose(0, 9)) { (q, l) =>
      same(Ivf.topK(IvfCodec.Flat, Catalog.ivfFlat(spark, dir), emb, q, 10, Ivf.Label(l)))
    }

  // absent, common, rare (`dup`) and repeated terms
  private val term = Gen.oneOf("merge", "stream", "window", "hash", "join", "dup", "zzz-absent")
  private val terms = Gen.choose(1, 3).flatMap(Gen.listOfN(_, term))

  property("bm25: driver == spark over absent, one, repeated and rare terms") =
    forAll(terms, Gen.choose(1, 20)) { (ts, k) =>
      same(Retrieval.bm25StoredTopK(lex, stats, ts, k))
    }

  property("bm25: driver == spark under a local mask") =
    forAll(terms, ids) { (ts, dead) =>
      same(Retrieval.bm25StoredTopK(lex, stats, ts, 15,
        Retrieval.Scope(mask = Some(dead.toDF("doc_id")))))
    }

  property("rrf: driver == spark at n = 20") =
    forAll(terms, qid, Gen.choose(1, 20)) { (ts, q, k) =>
      same(Retrieval.rrfStored(lex, stats, emb, Catalog.ivfFlat(spark, dir), ts, q, 20, k))
    }
}
