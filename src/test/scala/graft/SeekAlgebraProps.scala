package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.exec.{QueryExec, Seek}
import graft.exec.Seek.Postings
import graft.operators.PostingAlgebra

/** The seek route's driver algebra against PostingAlgebra on Spark, one
  * property per operator: both results, after the statement's final
  * dedupMax and ranked by QueryExec.rankOrder, must be the same rows.
  * Inputs reuse AlgebraProps' offsets (duplicates and empty sides included)
  * and add NaN, -0.0 and null scores and band-carrying sides, so a
  * two-sided operator also sees mixed-band inputs.
  */
object SeekAlgebraProps extends Properties("Seek driver algebra") {
  import TestSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val score: Gen[java.lang.Double] = Gen.frequency(
    6 -> Gen.choose(-3, 3).map(i => Double.box(i.toDouble)),
    1 -> Gen.const(Double.box(Double.NaN)),
    1 -> Gen.const(Double.box(-0.0)),
    1 -> Gen.const(null))

  /** AlgebraProps' posting lists, rescored, with or without the four bands. */
  val postings: Gen[Postings] = for {
    base <- Gen.frequency(1 -> Gen.const(Vector.empty), 5 -> AlgebraProps.postings)
    banded <- Gen.oneOf(true, false)
    bands = if (banded) PostingAlgebra.pctNames else Nil
    rows <- Gen.sequence[Vector[Row], Row](base.map { case (off, _) =>
      Gen.listOfN(1 + bands.size, score).map(s => Row.fromSeq(off +: s))
    })
  } yield Postings(bands, rows)

  private def frame(p: Postings): DataFrame =
    spark.createDataFrame(p.rows.asJava, StructType(
      Seq(StructField("off", LongType), StructField("score", DoubleType)) ++
        p.bands.map(StructField(_, DoubleType))))

  /** Doubles are equal as Spark groups them: NaN == NaN, -0.0 == 0.0. */
  private def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.toSeq.zip(y.toSeq).forall {
        case (u: Double, v: Double) => u == v || (u.isNaN && v.isNaN)
        case (u, v) => u == v
      }
    }

  private def ranked(rows: Seq[Row]): Seq[Row] =
    rows.map(r => Row.fromSeq(r.toSeq)).sorted(QueryExec.rankOrder)

  private def agree(spark: DataFrame, driver: Postings): Boolean = {
    val want = ranked(PostingAlgebra.dedupMax(spark).collect().toSeq)
    val got = ranked(Seek.dedupMax(driver).rows)
    same(want, got) || { println(s"spark: $want\ndriver: $got"); false }
  }

  private val unary: Seq[(String, DataFrame => DataFrame, Postings => Postings)] = Seq(
    ("scoreEq 0", PostingAlgebra.scoreEq(_, 0.0), Seek.scoreEq(_, 0.0)),
    ("scoreEq NaN", PostingAlgebra.scoreEq(_, Double.NaN), Seek.scoreEq(_, Double.NaN)),
    ("scoreCmp > 1", PostingAlgebra.scoreCmp(_, ">", 1.0), Seek.scoreCmp(_, ">", 1.0)),
    ("scoreCmp >= -0.0", PostingAlgebra.scoreCmp(_, ">=", -0.0), Seek.scoreCmp(_, ">=", -0.0)),
    ("scoreCmp < 0", PostingAlgebra.scoreCmp(_, "<", 0.0), Seek.scoreCmp(_, "<", 0.0)),
    ("scoreCmp <= 2", PostingAlgebra.scoreCmp(_, "<=", 2.0), Seek.scoreCmp(_, "<=", 2.0)),
    ("scoreRange [-1, 2]", PostingAlgebra.scoreRange(_, -1.0, 2.0), Seek.scoreRange(_, -1.0, 2.0)),
    ("scoreRange [2, -1]", PostingAlgebra.scoreRange(_, 2.0, -1.0), Seek.scoreRange(_, 2.0, -1.0)),
    ("negate", PostingAlgebra.negate _, Seek.negate _),
    ("dedupMax", PostingAlgebra.dedupMax _, Seek.dedupMax _),
    ("dedupMin", PostingAlgebra.dedupMin _, Seek.dedupMin _))

  private val binary: Seq[(String, (DataFrame, DataFrame) => DataFrame,
      (Postings, Postings) => Postings)] = Seq(
    ("or", PostingAlgebra.or _, Seek.or _),
    ("and", PostingAlgebra.and _, Seek.and _),
    ("subtract", PostingAlgebra.subtract _, Seek.subtract _),
    ("orderByQuery", PostingAlgebra.orderByQuery _, Seek.orderByQuery _)) ++
    Seq(">", ">=", "<", "<=").map(op => (s"thetaCompare $op",
      PostingAlgebra.thetaCompare(_: DataFrame, _: DataFrame, op),
      Seek.thetaCompare(_: Postings, _: Postings, op)))

  for ((name, onSpark, onDriver) <- unary)
    property(s"$name == PostingAlgebra") = forAll(postings) { a =>
      agree(onSpark(frame(a)), onDriver(a))
    }

  for ((name, onSpark, onDriver) <- binary)
    property(s"$name == PostingAlgebra") = forAll(postings, postings) { (a, b) =>
      agree(onSpark(frame(a), frame(b)), onDriver(a, b))
    }
}
