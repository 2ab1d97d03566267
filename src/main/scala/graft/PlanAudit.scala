package graft

/** Diagnostic main: print the formatted, AQE-final physical plan of the
  * named entries, or of every `audit`-flagged entry when no name is given,
  * so scan pruning, pushdown and join strategies can be inspected without
  * editing any spec (usage: PlanAudit <sfDir> [name...]). The special name
  * `contain_writer_frame` prints the containment micro-batch ADMISSION
  * frame's plan (the foreachBatch writer's work — not reachable through any
  * declared entry, which only reads the store). Stored serving lookups are
  * pinned to their Spark plans, which they keep over SeekRows. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanAudit <sfDir> [name...]")
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.entries.filter(_.audit).map(_.name)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      val df =
        if (name == "contain_writer_frame") {
          import org.apache.spark.sql.functions.col
          val base = java.nio.file.Files
            .createTempDirectory("graft_planaudit_contain").toString
          val docs = graft.model.Catalog.documents(spark, sfDir)
          val mid = 250L
          val write = graft.streaming.DocumentsIngest
            .containAdmission(base, 0.9, 50)
          write(docs.filter(col("doc_id") < mid), 0L)
          write(docs.filter(col("doc_id") >= mid), 1L)
          graft.streaming.DocumentsIngest.containPairBatchFrame(spark, base,
            graft.ml.NearDup.shingles(docs.filter(col("doc_id") >= mid)),
            0.9, 50)
        } else graft.exec.Route.onSpark("PlanAudit prints the Spark plan")(
          SparkEntry.queries(name)(spark, sfDir))
      // run the frame's own plan, so its adaptive plan is the final one
      df.queryExecution.toRdd.foreach(_ => ())
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      println(df.queryExecution.executedPlan.toString)
      graft.util.Caches.drain()
    }
    spark.stop()
  }
}
