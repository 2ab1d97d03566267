package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ast.QueryStmt
import graft.exec.{Presenter, QueryExec, Route, Seek}
import graft.model.{Catalog, Tables}
import graft.parser.Parser

/** The QUERY statement path on sf0.001: the count and the page come from
  * one evaluation, and the page fetch seeks, without changing a byte of
  * what the Shell prints — on the driver seek for statements the footers
  * bound within Seek.SeekRows, on Spark for a named reason otherwise. */
class QueryPathSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private def tables = Catalog.tables(spark, dir)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def stmt(text: String): QueryStmt =
    Parser.parseStatement(text).asInstanceOf[QueryStmt]

  /** (case, statement, SHA-256 of the text Presenter.execute printed for it
    * on the join-based page path this one replaced, the Spark reason for a
    * statement that does not seek). */
  private val cases = Seq(
    ("limit_10", "QUERY 'status:F' LIMIT 10;",
      "97f50b644a3472141ceb681b05445200c4e8842f2932c3caadcd36fed810b4bc", None),
    ("limit_all", "QUERY 'status:F' LIMIT -1;",
      "cd2a88925a72258fa2e1c297f39da1bd7c7bd9d774442d74ac222fdad22775a2", None),
    ("limit_all_offset", "QUERY 'status:F' ORDER BY 'price' LIMIT -1 OFFSET 7;",
      "a37fe7fe317af395224729825040f0e8ce721b818b7ae8d6c23fc2d2a8eaa601", None),
    ("fetch_first_offset", "QUERY 'status:O' ORDER BY 'price' FETCH FIRST 10 ROWS ONLY OFFSET 5 ROWS;",
      "14356d0df04dce35328a2587e70e98399a257239b77634b47e8f576923c2957f", None),
    ("no_match", "QUERY 'name:order9999999.com' LIMIT 10;",
      "93526c87b524be719448fcc6d9c42bd6dbb2c83941ee79675d7c038afc9296e7", None),
    ("one_threshold", "QUERY 'status:O' THRESHOLDS 50000 FOR KEY 'price' LIMIT 10;",
      "93526c87b524be719448fcc6d9c42bd6dbb2c83941ee79675d7c038afc9296e7", None),
    ("thresholds", "QUERY 'status:O' THRESHOLDS 50000, 150000, 300000 FOR KEY 'price' LIMIT 20;",
      "c5ac36696344b0600ee37d40c0b3d20ece35c43d58315e2deab822b6ccc811cb", None),
    ("thresholds_date_all", "QUERY 'status:F' THRESHOLDS 1995-01-01, 1996-01-01, 1997-01-01 FOR KEY '~orderdate' LIMIT -1;",
      "63cf66fabec37443e8d5dce71184d00e80ffdc33a18af707f55ab0515b740454", None),
    ("keys_thresholds", "QUERY KEYS FOR 'status:O' THRESHOLDS 50000, 300000 FOR KEY 'price' LIMIT 30;",
      "ec62bb4111c9b48c662a94a4850fd9542979e52bf0c56f901140e84c696d77ed", None),
    ("keys_or", "QUERY KEYS FOR 'name:order7.com' OR 'name:order32.com' LIMIT 10;",
      "d5ebfeba9b8b106d562b1442afc10cd56f56f65d4b670fc749bd8d53b1b08e69", None),
    ("name_in_blob", "QUERY 'name-in:b1' LIMIT -1;",
      "f9724fda8171e2dcba1772cd4c08a0ab4c17935a6e1dab2c013a83f9f2dd0fe5", Some(Seek.BlobExpansion)),
    ("priceband", "QUERY 'priceband' LIMIT 20;",
      "bc948474ebedc9cd76d28f258527a511930b4caa7436459a575a02ae52d82e2a", None),
    ("overridden", "QUERY 'name:order7.com' LIMIT 10;",
      "304162d25f6c967233f74cd3a084816e2bc2a2c2f3547718aa182d25419c6161", None),
    ("limit_0", "QUERY 'status:F' LIMIT 0;",
      "1b8a5fabb79d0e7ef230f801008ff36355ea23a69123463bc3ad6d3bf1118aac", None),
    ("offset_past_end", "QUERY 'name:order7.com' LIMIT 5 OFFSET 100;",
      "f6e2255e1b135bdccb2bfdabdd897a4cfa36ee0460beb2f4cc473243ec23423e", None),
    ("multi_summary", "QUERY 'custseg:BUILDING' LIMIT 25;",
      "6750a9cc654088a7fa7cfe1c04b6c3ae075e8dc4f808a1e788dbe3f12fa5c8da", None),
    ("dockey_or", "QUERY KEY='order:42' + MIN('qty') [10, 20] LIMIT -1;",
      "845ad7682cb693f689e194161e7425b958015be10c9d3b52c119fc9b07799943", None),
    ("random_sample", "QUERY RANDOM_SAMPLE(~'price' [-200000, -50000], 50) LIMIT -1;",
      "fa996371da2904e250d33449a46ab3110d1011f225ebbbfe9ebde03450a0d0bc", Some(Seek.RandomSample)),
    ("sample_within_limit", "QUERY RANDOM_SAMPLE(~'price' [-200000, -50000], 50) LIMIT 100;",
      "fa996371da2904e250d33449a46ab3110d1011f225ebbbfe9ebde03450a0d0bc", Some(Seek.RandomSample)),
    ("sample_offset", "QUERY RANDOM_SAMPLE('status:F', 20) LIMIT 5 OFFSET 3;",
      "d6c8b454bffd677e6131c7e237f430dfb64312ebb0dcddfe1e72b9337a3f35e6", Some(Seek.RandomSample)),
    ("large_page", "QUERY 'priceband' LIMIT -1;",
      "b28bae41663aaeba6da7b7c8e3e685bd88b0d393a7385033bf94c77ef8a88429", None)
  )

  for ((name, text, want, onSpark) <- cases)
    test(s"result-count is the exact result-set size and the output is " +
        s"unchanged: $name") {
      val t = tables
      val s = stmt(text)
      val route = QueryExec.fetch(spark, t, s).route
      onSpark match {
        case None => assert(route.isInstanceOf[Route.Seek], s"$text: $route")
        case Some(reason) => assert(route == Route.Spark(reason), s"$text: $route")
      }
      val out = Presenter.execute(spark, t, new Presenter.SessionState, s)
      val size = QueryExec.results(spark, t, s)._1.count()
      val count =
        if (s.keysOnly) QueryExec.fetch(spark, t, s).total
        else """"result-count":(\d+)""".r.findFirstMatchIn(out).get.group(1).toLong
      assert(count == size, s"$text: result-count $count, result set $size")
      assert(sha256(out) == want, s"$text printed:\n$out")
    }

  test("LIMIT 0 counts on the executors and collects no result rows") {
    val t = tables
    val (out, plans) = TestSpark.executedPlans(Presenter.envelope(QueryExec.fetchOnSpark(
      spark, t, stmt("QUERY 'status:F' LIMIT 0;"), "pinned to the Spark route")))
    assert(out.contains("\"result-count\":"), out)
    // every action is a global count: no plan returns the result set's rows
    assert(plans.nonEmpty && plans.forall(_.contains("keys=[], functions=[count(")),
      s"LIMIT 0 collected more than a count:\n${plans.mkString("\n")}")
  }

  test("a page of more than 1000 keys sparse over summaries collects only " +
      "its own summary rows") {
    val t = Catalog.tables(spark, "/root/testdata/sf0.01")
    val s = stmt("QUERY 'status:F' LIMIT -1;")
    val fetched = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (qe.executedPlan.toString.contains("/summaries]"))
          qe.executedPlan.collectFirst {
            case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
          }.foreach(fetched.addAndGet)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val page =
      try {
        val page = QueryExec.fetchOnSpark(spark, t, s, "pinned to the Spark route")
        org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        page
      } finally spark.listenerManager.unregister(l)
    val offs = page.rows.map(_.getLong(0)).distinct
    assert(offs.size > 1000, s"page of ${offs.size} offsets")
    assert(offs.max - offs.min > 2 * offs.size, "page is not sparse")
    assert(fetched.get == offs.size,
      s"${offs.size} page offsets, ${fetched.get} summary rows collected")
  }

  test("LIMIT 0 on the seek route runs no job and decodes no more rows than its bound") {
    val t = tables
    val s = stmt("QUERY 'status:F' LIMIT 0;")
    val (page, jobs, _) = TestSpark.jobsAndRecords(QueryExec.fetch(spark, t, s))
    val Route.Seek(bound) = page.route: @unchecked
    assert(jobs == 0, s"LIMIT 0 ran $jobs jobs")
    assert(page.rows.isEmpty && page.total == QueryExec.results(spark, t, s)._1.count())
    assert(page.decoded.values.sum <= bound, s"decoded ${page.decoded}, bound $bound")
    assert((page.decoded - "index").values.forall(_ == 0),
      s"the empty page fetched ${page.decoded}")
  }

  test("a page of more than 1000 keys on the seek route decodes only its own " +
      "summary rows") {
    val t = Catalog.tables(spark, "/root/testdata/sf0.01")
    val (page, jobs, _) = TestSpark.jobsAndRecords(
      QueryExec.fetch(spark, t, stmt("QUERY 'status:F' LIMIT -1;")))
    assert(page.route.isInstanceOf[Route.Seek], page.route)
    assert(jobs == 0, s"the seek ran $jobs jobs")
    val offs = page.rows.map(_.getLong(0)).distinct
    assert(offs.size > 1000, s"page of ${offs.size} offsets")
    assert(offs.max - offs.min > 2 * offs.size, "page is not sparse")
    assert(page.decoded("summaries") == offs.size,
      s"${offs.size} page offsets, ${page.decoded("summaries")} summary rows decoded")
  }

  test("a warm lookup runs no Spark job: name, KEY= and KEYS FOR an OR") {
    val t = tables
    def run(text: String): Long = TestSpark.jobsAndRecords(
      Presenter.execute(spark, t, new Presenter.SessionState, stmt(text)))._2
    run("QUERY 'name:order1.com' LIMIT 10;")
    run("QUERY KEYS FOR 'name:order1.com' OR 'name:order2.com' LIMIT 10;")
    val lookup = run("QUERY 'name:order7.com' LIMIT 10;")
    val key = run("QUERY KEY='order:7' LIMIT 10;")
    val keys = run("QUERY KEYS FOR 'name:order32.com' OR 'name:order33.com' LIMIT 10;")
    assert(lookup == 0, s"lookup ran $lookup jobs")
    assert(key == 0, s"KEY= ran $key jobs")
    assert(keys == 0, s"KEYS FOR ran $keys jobs")
  }

  test("the Spark route is taken by name: S4 blobs, RANDOM_SAMPLE, an over-bound " +
      "statement and an in-memory Tables") {
    val t = tables
    def route(t: Tables, text: String): Route = QueryExec.fetch(spark, t, stmt(text)).route
    assert(route(t, "QUERY 'name-in:b1' LIMIT -1;") == Route.Spark(Seek.BlobExpansion))
    assert(route(t, "QUERY 'in-priority:urgent' LIMIT 10;") == Route.Spark(Seek.PrefixScan))
    assert(route(t, "QUERY RANDOM_SAMPLE('status:F', 20) LIMIT 5;") ==
      Route.Spark(Seek.RandomSample))
    // 'price' alone spans 15,000 rows at sf0.01, within SeekRows; with the
    // two lineitem-wide leaves the statement spans 135,000
    val wide = Catalog.tables(spark, "/root/testdata/sf0.01")
    val Route.Spark(reason) =
      route(wide, "QUERY 'price' OR 'qty' OR 'lineprice' LIMIT 10;"): @unchecked
    assert(reason.startsWith("bound ") && reason.endsWith(s"rows > SeekRows ${Seek.SeekRows}"),
      reason)
    import spark.implicits._
    val mem = Tables(Seq(("k", 1L, 1.0)).toDF("key", "off", "score"),
      Seq((1L, "doc:1", "{}")).toDF("off", "key", "json"),
      Seq(("doc:1", """{"a":1}""")).toDF("key", "json"))
    assert(route(mem, "QUERY 'k' LIMIT 10;") == Route.Spark(Seek.notStored("index")))
  }
}
