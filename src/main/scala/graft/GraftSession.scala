package graft

import org.apache.spark.sql.SparkSession

/** One place to build the SparkSession all mains/tests share, so session-wide
  * flags (UTC, nanos-as-long for the events table, shuffle partitions sized to
  * local cores) are set once at construction instead of being mutated from
  * inside catalog getters (order-dependence hazard — see ADVICE r1).
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Spark 4 defaults, pinned because the 100 TB design leans on them:
      // AQE re-plans shuffles at runtime (partition coalescing) and splits
      // skewed join partitions — the engine's answer to hot keys (SCALE.md)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // local paths go through graft.util.LocalFs: no process forked per
      // chmod or permission read when libhadoop is absent
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.LocalFs].getName)

  /** The sandbox mains' session (Bench/Verify/Smoke/Shell/tests). Scan
    * sizing lives HERE, not in `builder` (ADVICE r15): a deployment
    * composing on `builder` keeps Spark's 128 MB default — its files are
    * ≥ hundreds of MB and the cluster has thousands of cores to keep busy
    * WITHOUT sub-splitting. The bench corpora ship single-digit-MB files,
    * so the default made every hot scan (lineitem 11 MB at sf0.1) ONE task
    * on a 32-core executor — the range/salted join entries were spending
    * 2+ s single-threaded in the scan stage. 4 MB splits those scans
    * across cores; row-group pruning and pushed filters are unaffected
    * (they skip within whatever split reads them). The env knob is the
    * revert mechanism (e.g. =128m), mirroring SPARK_GRAFT_CPUS. */
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(cpus)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
