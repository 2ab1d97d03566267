package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all specs (getOrCreate — tests fork once). */
object TestSpark {
  /** Plan strings render scan locations in full: Spark cuts them at
    * `spark.sql.maxMetadataStringLength` (100 characters by default), and a
    * long cache root would push the store names the plan pins look for past
    * the cut. */
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4")
    s.conf.set("spark.sql.maxMetadataStringLength", Int.MaxValue.toLong)
    s
  }

  def postingsDf(p: Seq[(Long, Double)]): DataFrame = {
    import spark.implicits._
    p.toDF("off", "score")
  }

  /** Collect a posting DataFrame to a multiset for exact comparison. */
  def multiset(df: DataFrame): Map[(Long, Double), Int] =
    df.collect()
      .map(r => (r.getLong(r.fieldIndex("off")), r.getDouble(r.fieldIndex("score"))))
      .groupBy(identity).view.mapValues(_.length).toMap

  def multiset(p: Seq[(Long, Double)]): Map[(Long, Double), Int] =
    p.groupBy(identity).view.mapValues(_.length).toMap

  /** `body` with the stored serving lookups on their Spark plans: at these
    * scales they run on the driver, and the plan audits pin the scans they
    * keep over the driver route's bound. */
  def onSpark[A](body: => A): A = graft.exec.Route.onSpark("pinned by the plan audits")(body)

  /** Run `body` and return its value with the executed physical plans of
    * every action it ran, in completion order. */
  def executedPlans[A](body: => A): (A, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val a = body
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      (a, plans.toArray(Array.empty[String]).toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** Run `body` and return its value with the number of Spark jobs it
    * started and the input records its tasks read. */
  def jobsAndRecords[A](body: => A): (A, Long, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          records.addAndGet(m.inputMetrics.recordsRead); ()
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      (a, jobs.get, records.get)
    } finally sc.removeSparkListener(l)
  }

  /** True when an executed plan reads the corpus TEXT table — matches both
    * the raw source file and its re-laid src_documents copy (review
    * finding, r15: the re-lay made bare "documents.parquet" guards
    * vacuous). The stored-only retrieval pins use this. */
  def scansCorpusText(plan: String): Boolean =
    plan.toLowerCase.contains("documents.parquet") ||
      plan.contains("src_documents")
}
