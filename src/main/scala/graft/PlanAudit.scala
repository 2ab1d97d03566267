package graft

/** Diagnostic main: print an entry's formatted physical plan (the
  * .explain("formatted") the plan audits read) without editing any spec.
  * The special name `contain_writer_frame` prints the containment
  * micro-batch ADMISSION frame's plan (the foreachBatch writer's work —
  * not reachable through any declared entry, which only reads the store). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
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
      } else SparkEntry.queries(name)(spark, sfDir)
    df.count() // let AQE finalize
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
