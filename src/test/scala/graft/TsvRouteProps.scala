package graft

import java.nio.file.{Files, Path}
import scala.util.{Failure, Try}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.exec.{Route, Seek}
import graft.ingest.TsvLoader

/** TsvLoader.loadIndex's driver route against its Spark join, over the same
  * batch file and the same stored summaries: escapes, 3- and 7-column lines,
  * short and empty lines, CRLF, unknown document keys, a summary key stored
  * twice (the join fans out), and the number spellings Spark's cast accepts.
  * Both routes must return the same row multiset with the same schema, fail
  * alike on a malformed value under ANSI, and append one file per batch; the
  * driver route runs no Spark job. */
object TsvRouteProps extends Properties("TsvRoute") {
  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def tsv(text: String): String = {
    val f = tmp("graft-tsv-route").resolve("batch.tsv")
    Files.writeString(f, text)
    f.toString
  }

  /** (off, key) rows as one stored parquet relation, the summaries shape. */
  private def stored(rows: Seq[(Long, String)]): DataFrame = {
    val dir = tmp("graft-tsv-summaries").resolve("s").toString
    rows.toDF("off", "key").withColumn("json", lit("{}")).coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Rows as strings, so NaN equals NaN and -0.0 differs from 0.0. */
  private def rows(df: DataFrame): Map[Seq[String], Int] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf)).groupBy(identity).view
      .mapValues(_.size).toMap

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))

  // fields as written in the file: backslash escapes of tab, newline,
  // backslash and an unknown escape
  private val field = Gen.oneOf("k", "a\\tb", "x\\\\y", "q\\z", "n\\nl", "")
  private val doc = Gen.oneOf("d1", "d2", "d\\t3", "d\\\\4", "dX", "")
  private val value = Gen.oneOf("1", "-2.5", "1e3", " 2.5", "NaN", "-Infinity", "0.125")

  private val line: Gen[String] = Gen.frequency(
    6 -> (for (k <- field; d <- doc; v <- value) yield s"$k\t$d\t$v"),
    2 -> (for (k <- field; d <- doc; vs <- Gen.listOfN(5, value))
      yield (Seq(k, d) ++ vs).mkString("\t")),
    1 -> (for (k <- field; d <- doc) yield s"$k\t$d"),
    1 -> field,
    1 -> Gen.const(""))

  /** Lines ended by LF or CRLF, the last one sometimes unterminated. */
  private val batch: Gen[String] = for {
    ls <- Gen.listOf(line)
    ends <- Gen.listOfN(ls.size, Gen.oneOf("\n", "\r\n", ""))
  } yield ls.zip(ends).zipWithIndex.map { case ((l, e), i) =>
    l + (if (e.isEmpty && i < ls.size - 1) "\n" else e)
  }.mkString

  /** Summary keys, unescaped: some documents unknown, one key sometimes
    * stored twice. */
  private val summaries: Gen[Seq[(Long, String)]] = for {
    keys <- Gen.someOf("d1", "d2", "d\t3", "d\\4")
    twice <- Gen.oneOf(true, false)
  } yield {
    val base = keys.toSeq.zipWithIndex.map { case (k, i) => (100L + i, k) }
    if (twice && base.nonEmpty) base :+ (999L -> base.head._2) else base
  }

  property("driver route == Spark route: row multiset and schema") =
    forAll(batch, summaries) { (text, summ) =>
      val path = tsv(text)
      val s = stored(summ)
      val driver = TsvLoader.loadIndex(spark, path, s)
      val viaSpark = TsvLoader.joined(spark, path, s)
      (TsvLoader.route(spark, path, s) == Route.Seek(Files.size(Path.of(path)))) :| "route" &&
        (driver.schema == viaSpark.schema) :| s"schema ${driver.schema} vs ${viaSpark.schema}" &&
        (rows(driver) == rows(viaSpark)) :| "rows"
    }

  private def castFails(body: => Any): Boolean = Try(body) match {
    case Failure(e) => Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists {
      case t: SparkThrowable => t.getCondition == "CAST_INVALID_INPUT"
      case _ => false
    }
    case _ => false
  }

  // the malformed line's document key is stored: the Spark route casts a
  // line's value only once the join keeps it (an unmatched line on the
  // stream side is never cast), while the driver route casts every line
  property("a malformed value fails on both routes under ANSI") =
    forAll(batch, summaries, Gen.oneOf("abc", "1.2.3", "")) { (text, summ, bad) =>
      val path = tsv(s"k\td1\t$bad\n$text")
      val s = stored(summ :+ (7L -> "d1"))
      castFails(TsvLoader.loadIndex(spark, path, s).collect()) :| "driver" &&
        castFails(TsvLoader.joined(spark, path, s).collect()) :| "spark"
    }

  property("driver route: no Spark job inside loadIndex, one file per append") =
    forAll(batch, summaries) { (text, summ) =>
      val path = tsv(text)
      val s = stored(summ)
      val (df, jobs, _) = TestSpark.jobsAndRecords(TsvLoader.loadIndex(spark, path, s))
      val driverOut = tmp("graft-tsv-append").resolve("tail").toString
      val sparkOut = tmp("graft-tsv-append").resolve("tail").toString
      df.write.mode("append").parquet(driverOut)
      df.write.mode("append").parquet(driverOut)
      TsvLoader.joined(spark, path, s).write.mode("append").parquet(sparkOut)
      (jobs == 0L) :| s"$jobs jobs" &&
        (parquetFiles(driverOut) == 2) :| s"${parquetFiles(driverOut)} files after two appends" &&
        (parquetFiles(sparkOut) == 1) :| "Spark route: one file per append"
    }

  property("inputs outside the driver route's bounds take the Spark join by name") =
    Prop {
      val path = tsv("price\td1\t10.5\n")
      val inMemory = Seq((100L, "d1", "{}")).toDF("off", "key", "json")
      val s = stored(Seq(100L -> "d1"))
      val dir = tmp("graft-tsv-dir").toString
      Files.writeString(Path.of(dir, "part-0.tsv"), "price\td1\t10.5\n")
      val gz = tmp("graft-tsv-gz").resolve("batch.tsv.gz")
      val w = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
      try w.write("price\td1\t10.5\n".getBytes("UTF-8")) finally w.close()
      val big = tmp("graft-tsv-big").resolve("batch.tsv")
      Files.write(big, Array.fill[Byte]((TsvLoader.LoadBytes + 1).toInt)('\n'.toByte))
      val wide = tmp("graft-tsv-wide").resolve("s").toString
      spark.range(TsvLoader.ResolveRows + 1)
        .select(col("id").as("off"), concat(lit("d"), col("id")).as("key")).write.parquet(wide)
      Seq(
        TsvLoader.route(spark, path, inMemory) -> Seek.notStored("summaries"),
        TsvLoader.route(spark, dir, s) -> TsvLoader.NotOneFile,
        TsvLoader.route(spark, s"$dir/missing.tsv", s) -> TsvLoader.NotOneFile,
        TsvLoader.route(spark, gz.toString, s) -> TsvLoader.Compressed,
        TsvLoader.route(spark, big.toString, s) -> TsvLoader.overBound(TsvLoader.LoadBytes + 1),
        TsvLoader.route(spark, path, spark.read.parquet(wide)) ->
          TsvLoader.overResolve(TsvLoader.ResolveRows + 1)
      ).forall { case (got, reason) => got == Route.Spark(reason) }
    }
}
