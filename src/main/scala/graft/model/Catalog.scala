package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The table bundle every executor operates on — the Spark equivalent of the
  * reference's loaded Schema (/root/reference/src/schema.h:19-53): the posting
  * index, the summary table, summary overrides, and the optional blob table
  * standing in for the external CAS store (S4).
  */
final case class Tables(
    index: DataFrame,
    summaries: DataFrame,
    overrides: DataFrame,
    blobs: Option[DataFrame] = None)

/** The cantera-table data model (SURVEY §1.4) re-expressed as canonical
  * DataFrames, derived deterministically from the driver's TPC-H-ish parquet
  * testdata (FIXTURES.md §B).
  *
  * Reference model (/root/reference/src/ca-table.h:89-106, README.md:24-56):
  *   - `index`:     key (keyword) → postings (offset:uint64, score:float)
  *   - `summaries`: offset → (document key, JSON payload)
  *   - `summary_overrides`: document key → JSON overlay (README.md:38-49)
  *
  * Here `offset` (column name `off` — OFFSET is an ANSI/DuckDB reserved word)
  * is the document id; scores are kept as Double end-to-end so the DuckDB
  * oracle computes bit-identical values.
  *
  * Scale: the index, the summaries and the overrides are MATERIALIZED once
  * per sf-dir in a key-range layout (`writeRanged`): files cut at key
  * boundaries with disjoint [min, max] key ranges, rows sorted by key (the
  * index then by `off`, the T4 sorted-table invariant,
  * /root/reference/src/table-backend-writeonce.cc:661-663), and small
  * parquet pages. A leaf lookup `filter(key === k)` then matches one file's
  * statistics, and the page index narrows it to about one page — the Spark
  * analogue of the reference's SeekToKey block index
  * (table-backend-writeonce.cc:594-636) — instead of a full scan.
  */
object Catalog {

  /** Memoized base readers for IMMUTABLE parquet (the source tables and the
    * _SUCCESS-guarded materialized stores — content never changes once
    * written; assertStableSource refuses a regenerated source dir). Every
    * `spark.read.parquet` call otherwise schedules a schema-inference job
    * over the footers, so an entry touching 4 stores paid 4 jobs before its
    * first real wave — the largest single contributor to the per-entry job
    * counts the r14 audit flagged. Keyed per session so test/bench sessions
    * never share plans. Streamed/scratch generations are NOT memoized: they
    * are rewritten between reads and need a fresh file listing. */
  private val readers =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private def readImmutable(spark: SparkSession, path: String): DataFrame =
    // keyed by the session REFERENCE (SparkSession has identity equals), so
    // two live sessions can never collide; entries for stopped sessions are
    // retained — bounded by sessions-per-JVM × store count, and every main
    // here builds exactly one session
    readers.computeIfAbsent((spark, path), _ => spark.read.parquet(path))

  /** Primary key per source table — the range-layout key for the ingest
    * re-lay below. */
  private val tableKeys = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey", "nation" -> "n_nationkey",
    "region" -> "r_regionkey", "events" -> "ts",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Rows per re-lay split (below). Text and vector tables are byte-TINY
    * but CPU-heavy per row (a 100-token doc explodes to ~100 md5'd
    * shingles; an embedding row pays Tables×Bits hyperplane dots), so a
    * bytes-only split count left their every scan — and with it the whole
    * map side of each pipeline's first exchange — on ONE core of 32
    * (r22 measurement: bench-wide sum(task_ms)/cores was 3.7 s under
    * 71.7 s of job span). Split those by ROWS; bulk numeric tables keep
    * the byte sizing with a coarse row backstop. */
  private val rowsPerSplit: Map[String, Long] =
    Map("documents" -> 256L, "embeddings" -> 128L).withDefaultValue(16384L)

  /** Single-file parquet row count straight off the footer — a driver-side
    * metadata pread, no Spark job. A read error propagates: a count read as
    * 0 would silently change the persisted split count. */
  private def footerRows(spark: SparkSession, src: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(src),
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Source tables are RE-LAID at first use into a range-partitioned
    * multi-file copy — the reference's ca-load posture (ingest into the
    * engine's own layout, /root/reference/src/ca-load.cc): the driver's
    * corpora ship as ONE parquet file with ONE row group, which no
    * byte-range split can parallelize (a row group is the vectorized
    * reader's atom), so every source scan ran as ONE task on a 32-thread
    * executor; and a single file gives pushed key predicates nothing to
    * skip. Range layout by the table's primary key restores both: N-way
    * scans and min/max FILE skipping for key lookups. The split count is
    * derived from the table's OWN size — bytes for bulk numeric tables,
    * rows for the compute-dense text/vector tables (rowsPerSplit above) —
    * and capped at the session's core count, so it adapts to any sf
    * instead of encoding a local constant; a production source already
    * arrives as many splittable files and this build is a no-op re-lay of
    * the same rows. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = s"$dir/$name.parquet"
    val f = new java.io.File(src)
    // a directory-shaped source already arrives as splittable files — the
    // re-lay is for the single-file single-row-group shape only (review
    // finding, r15: File.length on a directory is the inode size, which
    // would have collapsed a multi-file source to ONE partition)
    if (f.isDirectory || !tableKeys.contains(name))
      readImmutable(spark, src)
    else {
      val path = cacheDir(dir, s"src_$name")
      materialize(path) {
        val byBytes = (f.length / (1 << 20)).toInt
        val byRows = (footerRows(spark, src) / rowsPerSplit(name)).toInt
        val parts = math.max(1, math.min(
          spark.sparkContext.defaultParallelism, math.max(byBytes, byRows)))
        spark.read.parquet(src).repartitionByRange(parts, col(tableKeys(name)))
      }
      readImmutable(spark, path)
    }
  }

  /** Materialization cache. Versioned so a derivation change invalidates old
    * caches; `.graft-cache` under the working directory (gitignored) unless
    * GRAFT_CACHE names another root. */
  private val cacheVersion = "v13"
  /** Exposed for specs that assert the materialization landed on disk. */
  def cacheVersionTag: String = cacheVersion
  def cacheRoot: String = sys.env.getOrElse("GRAFT_CACHE",
    java.nio.file.Paths.get(".graft-cache").toAbsolutePath.toString)

  /** Short content fingerprint of a source directory: name+size+mtime+tail
    * bytes of every parquet entry (one level of recursion for
    * directory-shaped tables). Folded into the cache key so a regenerated
    * testdata tree invalidates its derived materializations automatically —
    * a path-only key silently served stale derivations when the driver
    * rewrote /root/testdata between rounds (round-12 incident: 4 hash
    * mismatches). The 64-byte tail read covers the parquet footer
    * (metadata length, row counts, column stats), so a regeneration that
    * happens to reproduce identical sizes within the same lastModified
    * millisecond still flips the fingerprint (ADVICE r13: the
    * mtime-granularity residual). Deliberately NOT memoized: a per-JVM
    * memo would re-open the same staleness window for a MID-SESSION
    * regeneration, and the computation is a metadata listing plus one
    * 64-byte pread per file — still microseconds for a table directory. */
  private def sourceFingerprint(dir: String): String = {
    def tailSig(f: java.io.File): String = {
      // a file replaced/truncated BETWEEN the length probe and the read is
      // a regeneration in progress: return a changing sentinel instead of
      // leaking a raw EOF/FileNotFound out of the fingerprint, so the
      // failure surfaces as assertStableSource's designed mid-session
      // diagnostic on the next stable listing (review finding, r14)
      try {
        val len = f.length
        if (len <= 0) return "0"
        val n = math.min(64L, len).toInt
        val buf = new Array[Byte](n)
        val raf = new java.io.RandomAccessFile(f, "r")
        try { raf.seek(len - n); raf.readFully(buf) } finally raf.close()
        java.util.Base64.getEncoder.encodeToString(buf)
      } catch {
        case _: java.io.IOException => s"unreadable:${System.nanoTime()}"
      }
    }
    def entries(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq
          .flatMap(c => entries(c).map(e => s"${f.getName}/$e"))
      else Seq(s"${f.getName}:${f.length}:${f.lastModified}:${tailSig(f)}")
    val names = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val sig = names.flatMap(entries).mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
  }

  /** Fail-loud guard against a MID-SESSION source regeneration
    * (VERDICT r13 #8): the fingerprinted cache keys make a regeneration
    * rebuild cleanly across sessions, but WITHIN one session a flip would
    * quietly mix derived-store generations between entries that already
    * ran and entries still to run — half a bench against the old corpus,
    * half against the new. First sight of a source dir pins its
    * fingerprint; any later deviation throws instead of rebuilding
    * silently. */
  private val pinnedFingerprints =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def assertStableSource(dir: String, fp: String): Unit = {
    val prev = pinnedFingerprints.putIfAbsent(dir, fp)
    if (prev != null && prev != fp)
      throw new IllegalStateException(
        s"source dir $dir regenerated mid-session (fingerprint $prev -> " +
          s"$fp): refusing to mix derived-store generations — restart the " +
          "session so every entry serves one corpus generation")
  }

  /** Key segment = source basename + content fingerprint (NOT the full
    * path — the fingerprint already disambiguates same-named dirs, and a
    * long segment pushes the store name past explain()'s path truncation,
    * which the plan-pin specs match on). */
  private def cacheDir(dir: String, name: String): String = {
    val fp = sourceFingerprint(dir)
    assertStableSource(dir, fp)
    s"$cacheRoot/$cacheVersion/${new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9.]", "_")}-$fp/$name"
  }

  /** Run `write` unless the store at `path` is already complete. */
  private def once(path: String)(write: => Unit): Unit =
    synchronized {
      if (!new java.io.File(s"$path/_SUCCESS").exists()) write
    }

  private def materialize(path: String)(build: => DataFrame): Unit =
    once(path)(build.write.mode("overwrite").parquet(path))

  /** Rows per parquet data page in a range-laid store. The writer records
    * each page's min/max in the page index, so a pushed key predicate reads
    * about one page per matching key run instead of a whole row group. */
  private val PageRows = 1000

  /** Row budget of one range-laid file. A run of one key is never split:
    * a value goes to the file its first row falls in, so a file holds at
    * most RowsPerFile rows plus the rest of its last run. */
  private val RowsPerFile = 1L << 18

  /** The file cut points of a range layout over column `k`: number the rows
    * in key order, give each value the block of RowsPerFile rows its first
    * row falls in, and cut before the first value of every block but the
    * first. The running count runs on the executors over the exact
    * per-value counts; only the cut points reach the driver. Exact counts
    * (not the range partitioner's sample) make the cut points — and so the
    * file count and every file's key range — a function of the rows alone,
    * independent of session cores, shuffle partitions and input splits. */
  private def cutPoints(df: DataFrame, k: String): Seq[Any] = {
    val before = Window.orderBy(k).rowsBetween(Window.unboundedPreceding, -1)
    df.groupBy(k).count()
      .withColumn("block", floor(coalesce(sum("count").over(before), lit(0L)) / RowsPerFile))
      .filter(col("block") > 0)
      .groupBy("block").agg(min(k)).orderBy("block")
      .collect().map(_.get(1)).toSeq
  }

  /** Write `df` as a key-range store at `path`: one file per cut-point
    * range of `k`, rows sorted by `sortCols` within each file, parquet pages
    * of PageRows rows. Files have disjoint [min, max] ranges of `k`, so a
    * lookup's pushed predicate on `k` matches one file's statistics and the
    * page index narrows it further. */
  private[graft] def writeRanged(df: DataFrame, path: String, k: String,
      sortCols: String*): Unit = {
    val cuts = cutPoints(df, k)
    val file = if (cuts.isEmpty) lit(0) else
      cuts.indices.tail.foldLeft(when(col(k) < lit(cuts.head), 0)) { (w, i) =>
        w.when(col(k) < lit(cuts(i)), i)
      }.otherwise(cuts.size)
    df.repartitionById(cuts.size + 1, file)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.option("parquet.page.row.count.limit", PageRows)
      .mode("overwrite").parquet(path)
  }

  /** Materialize with a hive-style partition layout, so lookups joining on
    * the partition column get dynamic partition pruning. */
  private def materializeBy(path: String, parts: Seq[String])(
      build: => DataFrame): Unit =
    once(path)(build.write.mode("overwrite").partitionBy(parts: _*).parquet(path))

  /** The posting index: one row per (keyword, document, score), read from the
    * materialized key-range store (written on first use; writeRanged: files
    * cut at key boundaries, sorted by (key, off), 1k-row parquet pages).
    * `key` stays a data column, so its min/max statistics serve pushdown: a
    * `key === k` lookup matches one file and reads about one page of it.
    * Keyword classes mirror FIXTURES.md A.3:
    *  - boolean presence keywords (score 0): status:*, priority:*
    *  - continuous metrics: price, lineprice
    *  - timestamped keyword (epoch-days score): orderdate
    *  - duplicate offsets within one key (event-series shape): qty
    */
  def index(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "index")
    once(path)(writeRanged(deriveIndex(spark, dir), path, "key", "key", "off"))
    readImmutable(spark, path)
      .select("key", "off", "score", "pct5", "pct25", "pct75", "pct95")
  }

  /** The raw 6-way union derivation (used to build the materialized index and
    * mirrored verbatim by the DuckDB `idx` CTE). */
  def deriveIndex(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val l = table(spark, dir, "lineitem")
    val status = o.select(
      concat(lit("status:"), col("o_orderstatus")).as("key"),
      col("o_orderkey").as("off"), lit(0.0).as("score"))
    val prio = o.select(
      concat(lit("priority:"), col("o_orderpriority")).as("key"),
      col("o_orderkey").as("off"), lit(0.0).as("score"))
    val price = o.select(
      lit("price").as("key"),
      col("o_orderkey").as("off"), col("o_totalprice").as("score"))
    val odate = o.select(
      lit("orderdate").as("key"),
      col("o_orderkey").as("off"),
      datediff(col("o_orderdate"), lit("1970-01-01")).cast("double").as("score"))
    val qty = l.select(
      lit("qty").as("key"),
      col("l_orderkey").as("off"), col("l_quantity").as("score"))
    val lineprice = l.select(
      lit("lineprice").as("key"),
      col("l_orderkey").as("off"), col("l_extendedprice").as("score"))
    // timestamped event-series key: one shipment date per lineitem, so an
    // order (offset) repeats — the duplicate-offset shape of the reference's
    // event lists (correlate.cc:340-343)
    val sdate = l.select(
      lit("shipdate").as("key"),
      col("l_orderkey").as("off"),
      datediff(col("l_shipdate"), lit("1970-01-01")).cast("double").as("score"))
    // domain-shaped keys for the S4 CAS-expansion path (query.cc:228-305):
    // blob-extracted names look up as `name:<domain>`
    val dom = o.select(
      concat(lit("name:order"), col("o_orderkey"), lit(".com")).as("key"),
      col("o_orderkey").as("off"), lit(0.0).as("score"))
    val bare = status.unionByName(prio).unionByName(price).unionByName(odate)
      .unionByName(qty).unionByName(lineprice).unionByName(sdate)
      .unionByName(dom)
    // percentile-band family (the four pct floats of the universal value,
    // /root/reference/src/ca-table.h:102-105): a prediction-band shape derived
    // deterministically from the price so both engines compute identical
    // doubles. Every other family carries NULL bands (HasPercentiles==false).
    // raw single-multiply products — one IEEE op, bit-identical in Spark and
    // DuckDB (a round(x, 2) here hits half-way cases where the two engines'
    // rounding modes disagree)
    val band = o.select(
      lit("priceband").as("key"),
      col("o_orderkey").as("off"),
      col("o_totalprice").as("score"),
      (col("o_totalprice") * 0.85).as("pct5"),
      (col("o_totalprice") * 0.95).as("pct25"),
      (col("o_totalprice") * 1.05).as("pct75"),
      (col("o_totalprice") * 1.15).as("pct95"))
    // keyword family addressing the SECOND summary table's address space
    // (schema.cc:97-106): offsets are shifted by the customer table's base
    val cseg = table(spark, dir, "customer").select(
      concat(lit("custseg:"), col("c_mktsegment")).as("key"),
      (lit(CustBase) + col("c_custkey")).as("off"),
      col("c_acctbal").cast("double").as("score"))
    val nullPct = Seq("pct5", "pct25", "pct75", "pct95")
      .map(n => lit(null).cast("double").as(n))
    bare.unionByName(cseg)
      .select(Seq(col("key"), col("off"), col("score")) ++ nullPct: _*)
      .unionByName(band)
  }

  /** Identical derivation as a DuckDB CTE, prefixed onto every oracle query so
    * the oracle sees the exact same logical `idx` table. */
  val indexSql: String =
    """WITH idx AS (
      |  SELECT 'status:' || o_orderstatus AS key, o_orderkey AS off, 0.0 AS score,
      |         CAST(NULL AS DOUBLE) AS pct5, CAST(NULL AS DOUBLE) AS pct25,
      |         CAST(NULL AS DOUBLE) AS pct75, CAST(NULL AS DOUBLE) AS pct95 FROM orders
      |  UNION ALL SELECT 'priority:' || o_orderpriority, o_orderkey, 0.0, NULL, NULL, NULL, NULL FROM orders
      |  UNION ALL SELECT 'price', o_orderkey, o_totalprice, NULL, NULL, NULL, NULL FROM orders
      |  UNION ALL SELECT 'orderdate', o_orderkey, CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS DOUBLE), NULL, NULL, NULL, NULL FROM orders
      |  UNION ALL SELECT 'qty', l_orderkey, l_quantity, NULL, NULL, NULL, NULL FROM lineitem
      |  UNION ALL SELECT 'lineprice', l_orderkey, l_extendedprice, NULL, NULL, NULL, NULL FROM lineitem
      |  UNION ALL SELECT 'shipdate', l_orderkey, CAST(date_diff('day', TIMESTAMP '1970-01-01', l_shipdate) AS DOUBLE), NULL, NULL, NULL, NULL FROM lineitem
      |  UNION ALL SELECT 'name:order' || o_orderkey || '.com', o_orderkey, 0.0, NULL, NULL, NULL, NULL FROM orders
      |  UNION ALL SELECT 'custseg:' || c_mktsegment, 4294967296 + c_custkey, CAST(c_acctbal AS DOUBLE), NULL, NULL, NULL, NULL FROM customer
      |  UNION ALL SELECT 'priceband', o_orderkey, o_totalprice,
      |         o_totalprice * 0.85, o_totalprice * 0.95,
      |         o_totalprice * 1.05, o_totalprice * 1.15 FROM orders
      |)""".stripMargin.replace("\n", " ")

  /** Writable scratch path for entries that exercise WRITE paths (S7 TSV
    * load, S11 copy): beside the materialization cache, keyed per sf-dir. */
  def scratch(dir: String, name: String): String = cacheDir(dir, s"scratch_$name")

  /** A TSV fixture in the reference's text-ingest shape
    * (`key TAB dockey TAB value`, /root/reference/src/ca-load.cc:116-391),
    * derived deterministically from `orders` and written once — the S7 entry
    * loads it back through TsvLoader (doc-key resolution included) and must
    * reproduce the price postings the oracle derives straight from orders. */
  def tsvFixture(spark: SparkSession, dir: String): String = {
    val path = cacheDir(dir, "tsv_price")
    once(path) {
      table(spark, dir, "orders")
        .select(concat_ws("\t", lit("price"),
          concat(lit("order:"), col("o_orderkey")),
          col("o_totalprice").cast("string")).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  /** Summary-table TSV fixture (`key TAB json` — ca-load.cc's summary
    * output-type): the derived summaries table written through the SAME
    * escape the loader undoes, so tsv_load_summaries round-trips the
    * whole escape contract (r19: loadSummaries previously had no caller
    * and sat on the ANSI getItem trap). */
  def tsvSummariesFixture(spark: SparkSession, dir: String): String = {
    val path = cacheDir(dir, "tsv_summaries")
    once(path) {
      summaries(spark, dir)
        .select(concat_ws("\t",
          graft.ingest.TsvLoader.escapeUdf(col("key")),
          graft.ingest.TsvLoader.escapeUdf(col("json"))).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  /** Time-series TSV fixture (`key TAB date-string TAB value`,
    * ca-load.cc --output-type=time-series): derived from `events`, written
    * once. Loading it back parses the date with the default format and stores
    * epoch SECONDS as the offset (ca-load.cc:296-314) — sub-second precision
    * is dropped by the text format, exactly like the reference's strptime. */
  def tsvTimeSeriesFixture(spark: SparkSession, dir: String): String = {
    val path = cacheDir(dir, "tsv_events")
    once(path) {
      events(spark, dir)
        .select(concat_ws("\t",
          concat(lit("event:"), col("event_type")),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
          col("value").cast("string")).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  /** Summary table: offset → (document key, JSON body), materialized as a
    * key-range store over `off` (writeRanged; /root/reference/README.md:24-27,
    * fetch path src/query.cc:843-875). The page fetch filters it by
    * `off IN (page offsets)`: the pushed predicate matches one file's off
    * range and the page index reads about one page per offset — the Spark
    * analogue of the reference's seek into the sorted summary table. */
  def summaries(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "summaries")
    once(path)(writeRanged(deriveSummaries(spark, dir), path, "off", "off"))
    readImmutable(spark, path).select("off", "key", "json")
  }

  /** Address offset of the SECOND summary table (customers) in the single
    * 64-bit summary address space (/root/reference/src/schema.cc:97-106,
    * README.md:29-33): every local offset in that table is shifted by the
    * base, so a global offset resolves to exactly one table — the one with
    * the greatest base ≤ offset (query.cc:843-854). 2^32 keeps the order and
    * customer spaces disjoint at any scale factor. */
  val CustBase: Long = 4294967296L

  def deriveSummaries(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val orderSumm = o.select(
      col("o_orderkey").as("off"),
      concat(lit("order:"), col("o_orderkey")).as("key"),
      to_json(struct(col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"),
        col("o_orderpriority").as("priority"))).as("json"))
    // second summary table, mapped in at CustBase — the union-with-offset is
    // the Spark shape of the reference's per-table address shift
    val custSumm = table(spark, dir, "customer").select(
      (lit(CustBase) + col("c_custkey")).as("off"),
      concat(lit("cust:"), col("c_custkey")).as("key"),
      to_json(struct(col("c_name").as("name"),
        col("c_mktsegment").as("segment"),
        col("c_acctbal").cast("double").as("acctbal"))).as("json"))
    orderSumm.unionByName(custSumm)
  }

  val summariesSql: String =
    """WITH summ AS (
      |  SELECT o_orderkey AS off, 'order:' || o_orderkey AS key,
      |         to_json(struct_pack(status := o_orderstatus, price := o_totalprice, priority := o_orderpriority)) AS json
      |  FROM orders
      |  UNION ALL
      |  SELECT 4294967296 + c_custkey, 'cust:' || c_custkey,
      |         to_json(struct_pack(name := c_name, segment := c_mktsegment, acctbal := CAST(c_acctbal AS DOUBLE)))
      |  FROM customer
      |)""".stripMargin.replace("\n", " ")

  /** Summary-override table: document key → JSON overlay, consulted per result
    * to overlay updated fields without rebuilding indexes
    * (/root/reference/README.md:38-49, src/query.cc:877-890). Derived: every
    * 7th order is "archived" with its customer id attached. Materialized as
    * a key-range store over `key` (writeRanged), so the page fetch's pushed
    * `key IN (page keys)` reads about one page instead of deriving the
    * overrides from a scan of `orders` per statement. */
  def overrides(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "overrides")
    once(path)(writeRanged(overrideRows(table(spark, dir, "orders")), path, "key", "key"))
    readImmutable(spark, path).select("key", "json")
  }

  /** The override derivation as a pure projection over an orders relation —
    * shared by the batch table above and the streamed override ingest
    * (streaming.Stores.Overrides), so the two paths cannot drift. */
  def overrideRows(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 7 === 0)
      .select(
        concat(lit("order:"), col("o_orderkey")).as("key"),
        to_json(struct(lit(true).as("archived"),
          col("o_custkey").as("cust"))).as("json"))

  val overridesSql: String =
    """ovr AS (
      |  SELECT 'order:' || o_orderkey AS key,
      |         to_json(struct_pack(archived := true, cust := o_custkey)) AS json
      |  FROM orders WHERE o_orderkey % 7 = 0
      |)""".stripMargin.replace("\n", " ")

  /** The local blob table standing in for the external CAS store (S4,
    * query.cc:228-305; SURVEY §2.1 models CAS as a DataFrame). The payload is
    * a fixed document mentioning domain-shaped names that resolve through the
    * `name:` index family; the `{...}` runs are section headers. */
  def blobs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    spark.createDataFrame(
      java.util.List.of(
        Row("b1", "See order7.com, www.order32.com and x " +
          "{Archived Orders} order33.com order129.com order9999999.com")),
      StructType(Seq(StructField("key", StringType), StructField("data", StringType))))
  }

  /** The full table bundle for statement executors. */
  def tables(spark: SparkSession, dir: String): Tables =
    Tables(index(spark, dir), summaries(spark, dir), overrides(spark, dir),
      Some(blobs(spark, dir)))

  def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  /** The MATERIALIZED LSH bucket index over `embeddings` — (vec_id, bucket)
    * with bucket = "t:sig", written once per sf-dir and partitioned by
    * bucket, so a similarity lookup's plan reads ONLY the query's L bucket
    * partitions (dynamic partition pruning on the broadcast bucket join)
    * instead of recomputing every vector's signatures per statement
    * (VERDICT r4 #1). The Spark analogue of the reference's stored index
    * blocks (/root/reference/src/table-backend-writeonce.cc:594-636). */
  def annBuckets(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "ann_buckets")
    materialize(path) {
      // Repartition by bucket but keep bucket a DATA column: each file
      // covers a few buckets, and the lookup's pushed In(bucket, ...) filter
      // can skip a file whose bucket dictionary misses every probe key. A
      // hive partitionBy("bucket")
      // layout (2^Bits × Tables = 256 directories of ~30 rows each) made
      // listing + footer reads dominate the lookup at bench scale.
      graft.ml.Ann.bucketIds(embeddings(spark, dir))
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "vec_id")
    }
    readImmutable(spark, path).select("vec_id", "bucket")
  }

  /** The MATERIALIZED winnowing sketch over `documents` — (doc_id, fp),
    * written once per sf-dir, repartitioned by fp so the incremental-dedup
    * admission join co-locates on the fingerprint key and pushed fp filters
    * skip files via min/max stats. This is what "the existing corpus's
    * sketch" means at 100 TB: new batches join against THIS table; the
    * corpus text is never re-read. Same stored-index role as annBuckets. */
  def winnowSketch(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "winnow_sketch")
    materialize(path) {
      graft.ml.NearDup.winnowFingerprints(documents(spark, dir))
        .repartition(col("fp"))
        .sortWithinPartitions("fp", "doc_id")
    }
    readImmutable(spark, path).select("doc_id", "fp")
  }

  /** The MATERIALIZED fingerprint document-frequency table — (fp, df),
    * the sibling of `winnowSketch` (VERDICT r9 #1): the df-cap pruning an
    * admission batch needs is a LOOKUP against this table, never a
    * re-aggregation of the whole sketch. Maintained incrementally at ingest
    * by appending per-batch deltas (streaming.Stores.WinnowDf) that a
    * generation merge (Compact.mergeDfGenerations) folds back into one row
    * per fp — the Spark analogue of the reference's generation merge
    * (/root/reference/src/merge.cc:120-184), which also never recounts. */
  def winnowDf(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "winnow_df")
    materialize(path) {
      winnowSketch(spark, dir)
        .groupBy("fp").agg(count(lit(1)).as("df"))
        .repartition(col("fp"))
        .sortWithinPartitions("fp")
    }
    readImmutable(spark, path).select("fp", "df")
  }

  /** The MATERIALIZED 3-word-shingle sketch over `documents` — (doc_id,
    * sh), sh = md5 of the shingle (the hash IS the identity the df join
    * and the novelty count need; storing the strings would multiply the
    * sidecar for nothing). Repartitioned by sh so the df-sibling join
    * co-locates on the key and pushed sh filters skip files via min/max
    * stats; the corpus is shingled ONCE, at build time — the spanSketch
    * posture for the whole-doc 3-gram tier (VERDICT r19 #4:
    * ngram_novelty was the last derived statement re-shingling the
    * corpus and re-aggregating df per run). */
  def shingleSketch(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "shingle_sketch")
    materialize(path) {
      graft.ml.NearDup.shingles(documents(spark, dir))
        .select(col("doc_id"), md5(col("shingle")).as("sh"))
        .repartition(col("sh"))
        .sortWithinPartitions("sh", "doc_id")
    }
    readImmutable(spark, path).select("doc_id", "sh")
  }

  /** The MATERIALIZED shingle document-frequency sibling — (sh, df): the
    * winnowDf posture for the 3-gram tier. Novelty (and any future
    * rarity-weighted scorer) LOOKS UP df against this table instead of
    * re-counting the sketch in-statement. */
  def shingleDf(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "shingle_df")
    materialize(path) {
      shingleSketch(spark, dir)
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .repartition(col("sh"))
        .sortWithinPartitions("sh")
    }
    readImmutable(spark, path).select("sh", "df")
  }

  /** The MATERIALIZED positional span sketch over `documents` — (doc_id,
    * pos, h), the md5 of the W-token shingle at every position
    * (SpanDedup.spanShingles), repartitioned by h so the span analysis's
    * df aggregation and probe co-locate on the hash key and pushed h
    * filters skip files via min/max stats. This is what span-level dedup
    * reads at 100 TB: the corpus text is tokenized ONCE at build time;
    * every subsequent boilerplate pass scans this table, never the text.
    * Same stored-index role as winnowSketch. */
  def spanSketch(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "span_sketch")
    materialize(path) {
      graft.ml.SpanDedup.spanShingles(documents(spark, dir))
        .repartition(col("h"))
        .sortWithinPartitions("h", "doc_id", "pos")
    }
    readImmutable(spark, path).select("doc_id", "pos", "h")
  }

  /** The MATERIALIZED content-defined chunk store over `documents` —
    * (doc_id, chunk_id, tok_start, n_tok, fp), the chunk family's sidecar
    * (VERDICT r17 #3: chunk_cdc/dedup_cdc were the one derived index
    * re-tokenizing the corpus per statement). Built once per sf-dir by the
    * STATELESS projection (CorpusOps.cdcChunkRows — zero exchanges, also
    * the streaming-upkeep shape), doc-sorted so per-doc chunk reads are
    * contiguous and pushed doc_id predicates skip files via min/max
    * stats; every chunk statement reads THIS table — the corpus text is
    * tokenized once, at build time. Same stored-index role as spanSketch. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "cdc_chunks")
    materialize(path) {
      graft.ml.CorpusOps.cdcChunkRows(documents(spark, dir))
        .repartition(col("doc_id"))
        .sortWithinPartitions("doc_id", "chunk_id")
    }
    readImmutable(spark, path)
      .select("doc_id", "chunk_id", "tok_start", "n_tok", "fp")
  }

  /** The MATERIALIZED inverted index over `documents` — (token, doc_id,
    * tf, dl), token-sorted so a query's term `isin` skips row groups via
    * min/max stats (the postings-seek analogue of the reference's sorted
    * keyword blocks, /root/reference/src/table-backend-writeonce.cc:313-739
    * — seek semantics reproduced, codec declared a non-goal per SURVEY
    * §1.4). BM25 serving reads THIS table and the additive stats store
    * below; the corpus text is never re-tokenized at query time. Built by
    * the same stateless projection streamed upkeep uses
    * (Retrieval.lexRows). */
  def lexIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "lex_index")
    materialize(path) {
      graft.ml.Retrieval.lexRows(documents(spark, dir))
        .repartition(col("token"))
        .sortWithinPartitions("token", "doc_id")
    }
    readImmutable(spark, path).select("token", "doc_id", "tf", "dl")
  }

  /** The additive corpus-statistics store beside `lexIndex` — (n_docs,
    * sum_dl) rows, one per generation; readers fold them with a tiny sum,
    * so N/avgdl never cost a corpus or index scan at serving time. */
  def lexStats(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "lex_stats")
    materialize(path) {
      graft.ml.Retrieval.lexStatsRows(documents(spark, dir))
    }
    readImmutable(spark, path).select("n_docs", "sum_dl")
  }

  /** The lexical stats fold of the IMMUTABLE serving store as a LOCAL
    * 1-row frame — the additive-generations fold (sum n_docs, sum sum_dl,
    * avgdl = sum_dl/n_docs with the identical double division) collected
    * ONCE per (session, sf-dir) and memoized, the driver-side-constants
    * posture (r15): the generation parquet scan + the 1-row aggregate
    * exchange stop riding every stored lexical statement (2 AQE stage
    * waves each). Streamed/scratch stats generations must NOT use this —
    * they are rewritten between reads; their consumers keep the in-plan
    * fold (Retrieval.statsFold's generations branch). */
  private val lexStatsFolds =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  def lexStatsFolded(spark: SparkSession, dir: String): DataFrame =
    lexStatsFolds.computeIfAbsent((spark, dir), _ => {
      val r = lexStats(spark, dir)
        .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
        .collect()(0)
      statsRow(spark, if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
    })

  /** The shared (n_docs, avgdl) local-literal rendering behind both stats
    * folds — empty-store/slice safe: NULL sums read as 0 and a zero-doc
    * fold carries avgdl 0.0 (the serving paths' postings are empty for
    * that input anyway, so the value never scores a row; the in-plan fold
    * crashes nothing either). */
  private def statsRow(spark: SparkSession, nDocs: Long,
      sumDl: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val avgdl = if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs
    spark.createDataFrame(
      java.util.Arrays.asList(Row(nDocs, avgdl)),
      StructType(Seq(StructField("n_docs", LongType),
        StructField("avgdl", DoubleType))))
  }

  /** The metadata slice's stats fold — lexStatsFolded's twin for the
    * filtered tier: (n_docs, avgdl) of one lang slice of the immutable
    * docMeta sidecar, memoized per (session, sf-dir, lang). Same double
    * division as the in-plan metaStats fold. */
  private val metaStatsFolds =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]
  def metaStatsFolded(spark: SparkSession, dir: String,
      lang: String): DataFrame =
    metaStatsFolds.computeIfAbsent((spark, dir, lang), _ => {
      val r = docMeta(spark, dir).filter(col("lang") === lang)
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
        .collect()(0)
      // an absent lang slice has count 0 and a NULL dl sum — fold to the
      // empty-slice stats row instead of an NPE (review finding, r16)
      statsRow(spark, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    })

  /** The MATERIALIZED document-metadata sidecar — (doc_id, lang, source,
    * dl): the per-document attributes metadata-filtered retrieval needs,
    * stored BESIDE the inverted index the way every search engine ships
    * doc-level fields, so a filtered query touches this table and the
    * postings — never the corpus text. dl (token count) rides along so the
    * filtered tier's (n_docs, avgdl) are one aggregate over THIS sidecar.
    * Laid out by lang so the filter predicate skips whole files. */
  def docMeta(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "doc_meta")
    materialize(path) {
      graft.ml.Retrieval.metaRows(documents(spark, dir))
        .repartition(col("lang"))
        .sortWithinPartitions("lang", "doc_id")
    }
    readImmutable(spark, path).select("doc_id", "lang", "source", "dl")
  }

  /** The MATERIALIZED (key, off) posting-occurrence store — one row per
    * DISTINCT (key, off) carrying its duplicate count: the
    * query-independent half of every CORRELATE counting layer
    * (correlate.cc:84-135 counts distinct key-offsets; the raw-size
    * support gate sums the duplicates), grouped ONCE per sf-dir instead
    * of shuffling the full index per statement — the dominant exchange in
    * the live counts/log-odds layers. Key-sorted so the membership join's
    * downstream key aggregation shuffles pre-grouped rows. */
  def indexKeyOff(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "index_key_off")
    materialize(path) {
      index(spark, dir).groupBy("key", "off")
        .agg(count(lit(1)).as("dup_n"))
        .repartition(col("key"))
        .sortWithinPartitions("key", "off")
    }
    readImmutable(spark, path).select("key", "off", "dup_n")
  }

  /** The MATERIALIZED benchmark shingle set for decontamination — the
    * distinct 3-gram shingles of the bench slice (doc_id < benchMaxId),
    * laid out sorted by shingle so the verify join shuffles pre-sorted
    * partitions. The benchmark is immutable per sf-dir, so this set (and
    * the bloom beside it) is a committed fixture, not per-statement work
    * (VERDICT r15 #5). */
  def decontamBench(spark: SparkSession, dir: String,
      benchMaxId: Long): DataFrame = {
    val path = cacheDir(dir, s"decontam_bench_$benchMaxId")
    materialize(path) {
      graft.ml.NearDup.shingles(documents(spark, dir))
        .filter(col("doc_id") < benchMaxId)
        .select("shingle").distinct()
        .repartition(col("shingle"))
        .sortWithinPartitions("shingle")
    }
    readImmutable(spark, path).select("shingle")
  }

  /** The SERIALIZED bloom filter over decontamBench — sized from the actual
    * bench cardinality (ADVICE r14), built once per sf-dir beside the
    * shingle store and read back as raw bytes with ZERO jobs at serving
    * time: the statement inlines the bytes as a codegen literal
    * (graft_bloom_contains) and never schedules the cache/count/collect
    * build waves the per-statement construction paid (VERDICT r15 #5).
    * Memoized per path; written atomically via tmp + rename. */
  private val blooms =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]
  def decontamBloomBytes(spark: SparkSession, dir: String, benchMaxId: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val path = cacheDir(dir, s"decontam_bloom_$benchMaxId")
    blooms.computeIfAbsent(path, _ => synchronized {
      val f = new java.io.File(s"$path/bloom.bin")
      if (!f.exists()) {
        val bench = decontamBench(spark, dir, benchMaxId)
        val bf = bench.stat.bloomFilter("shingle",
          math.max(bench.count(), 1L), fpp)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        f.getParentFile.mkdirs()
        val tmp = new java.io.File(s"$path/bloom.bin.tmp")
        java.nio.file.Files.write(tmp.toPath, bos.toByteArray)
        if (!tmp.renameTo(f) && !f.exists())
          sys.error(s"could not commit $f")
      }
      java.nio.file.Files.readAllBytes(f.toPath)
    })
  }

  /** The MATERIALIZED per-key matched/split intermediate of CORRELATE for a
    * fixed (a, b) leaf pair — CorrelateExec.matchedRanges built once per
    * sf-dir: the split-point search (windowed prefix-scan argmax), the
    * leakage dispatch, and the range re-match all run at store-build time;
    * statement serving is a read + one scoring aggregation
    * (CorrelateExec.scoreMatched). Same stored posture as dupPairs — the
    * heavy derivation persists; the query-time knobs (support gate,
    * significance cutoff, log-odds) stay live, so re-scoring under a
    * different threshold never re-runs the search. Laid out by key so the
    * scoring groupBy shuffles pre-sorted partitions. */
  def correlateMatched(spark: SparkSession, dir: String, aKey: String,
      bKey: String): DataFrame = {
    val tag = s"${aKey}_$bKey".toLowerCase.replaceAll("[^a-z0-9]", "_")
    val path = cacheDir(dir, s"correlate_$tag")
    materialize(path) {
      graft.exec.CorrelateExec.matchedRanges(spark, tables(spark, dir),
        graft.ast.Leaf(aKey), graft.ast.Leaf(bKey))
        .repartition(col("key"))
        .sortWithinPartitions("key", "off")
    }
    readImmutable(spark, path).select("key", "lo", "hi", "off", "in_a",
      "in_b", "n_a", "n_b", "limit_a", "limit_b", "prior")
  }

  /** The MATERIALIZED per-document selection-score sidecar — (doc_id,
    * source, n_tok, score, split): the quality-classifier score and the
    * md5 train/val/test assignment, computed ONCE at store build (in a
    * deployment: once at ingest — streaming.Stores.DocScores streams the
    * same projection) so curation statements read this sidecar and never
    * scan corpus text — docMeta's posture for the selection family. Laid
    * out by source: the mixture/quota verbs partition on it, and the
    * source-pruned reads skip whole files. */
  def docScores(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "doc_scores")
    materialize(path) {
      graft.ml.Selection.scoreRows(documents(spark, dir))
        .repartition(col("source"))
        .sortWithinPartitions("source", "doc_id")
    }
    readImmutable(spark, path)
      .select("doc_id", "source", "n_tok", "score", "split")
  }

  /** The MATERIALIZED perceptual-hash sidecar (doc_id, phash): media is
    * decoded and aHashed once per sf-dir (at ingest in a deployment —
    * streaming.Stores.Phash streams the same projection); image dedup
    * statements read this, never the media bytes. Laid out hash-sorted so
    * group lookups row-group-prune. */
  def phashStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "phash")
    materialize(path) {
      graft.ml.Multimodal.phashRows(spark, documents(spark, dir))
        .repartition(col("phash"))
        .sortWithinPartitions("phash", "doc_id")
    }
    readImmutable(spark, path).select("doc_id", "phash")
  }

  /** The MATERIALIZED composite-hash store for Hamming-radius image
    * near-dup — (doc_id, ph = aHash ++ dHash 63 bits, sharpness): the
    * 32-bit aHash sidecar above is enough for exact-equal grouping but
    * too short for radius search (its 8-bit band buckets grow linearly
    * with the corpus); this store is the near-dup index proper. Media
    * decoded once, at build — sharpness (keep-best's score) rides the
    * same pass as one more column, so the selection verb never re-reads
    * bytes (r19; cache name versioned for the schema change). */
  def phashNearStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "phash_near_sh")
    materialize(path) {
      graft.ml.Multimodal.phashNearRows(spark, documents(spark, dir))
        .repartition(col("ph"))
        .sortWithinPartitions("ph", "doc_id")
    }
    readImmutable(spark, path).select("doc_id", "ph", "sharpness")
  }

  /** The MATERIALIZED image near-dup PAIR graph — (doc_a, doc_b, hamming):
    * the banded multi-index Hamming search (Multimodal.phashNearFrom) over
    * the composite-hash store, run once per sf-dir — the dupPairs posture
    * for the image modality. */
  def phashPairs(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val path = cacheDir(dir, s"phash_pairs_k$k")
    materialize(path) {
      graft.ml.Multimodal.phashNearFrom(phashNearStore(spark, dir), k)
        .repartition(col("doc_a"))
        .sortWithinPartitions("doc_a", "doc_b")
    }
    readImmutable(spark, path).select("doc_a", "doc_b", "hamming")
  }

  /** The MATERIALIZED image duplicate-CLUSTER table — (doc_id,
    * cluster_id): connected components over the stored phash pair graph
    * (the dupClusters posture — VERDICT r18 #5: pairs alone under-delete;
    * a deployment deduping images wants clusters + a removal verb). The
    * label loop runs once per sf-dir at store build; cluster statements
    * are reads, removal is one anti-join. */
  def phashClusters(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val path = cacheDir(dir, s"phash_clusters_k$k")
    materialize(path) {
      graft.ml.Clusters.connectedComponents(phashPairs(spark, dir, k))
        .repartition(col("doc_id"))
        .sortWithinPartitions("doc_id")
    }
    readImmutable(spark, path).select("doc_id", "cluster_id")
  }

  /** The MATERIALIZED host-rank store — (host, rank_i): fixed-point
    * integer PageRank over the planted host link graph (LinkGraph), the
    * Common-Crawl-style host centrality ranking a curation pipeline
    * consults as a per-document quality prior. The 5-iteration power
    * method runs ONCE per sf-dir at store build (the host count — the one
    * scalar the teleport term needs — folds driver-side here, the
    * lexStatsFolded posture); serving statements read the store and never
    * touch the graph. Host-sorted single file: the store is
    * hosts-cardinality (~10^8 at web scale — still ~1 GB, a table, not a
    * broadcast assumption). */
  def pagerankStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "pagerank_hosts")
    materialize(path) {
      val e = graft.ml.LinkGraph.plantedEdges(documents(spark, dir))
      val n = e.select("src").unionAll(e.select("dst")).distinct().count()
      graft.ml.LinkGraph.pageRank(e, n)
        .coalesce(1).sortWithinPartitions("host")
    }
    readImmutable(spark, path).select("host", "rank_i")
  }

  /** The MATERIALIZED learned BPE merge table — (round, pa, pb, pair_n):
    * tokenizer training (Bpe.train — the per-round argmax driver loop over
    * the vocabulary-sized state) runs ONCE per sf-dir at store build, the
    * pagerankStore posture; encode/accounting statements read these M
    * rows. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "bpe_merges")
    materialize(path) {
      val m = graft.ml.Bpe.train(documents(spark, dir))
      import spark.implicits._
      m.toDF("round", "pa", "pb", "pair_n")
        .coalesce(1).sortWithinPartitions("round")
    }
    readImmutable(spark, path).select("round", "pa", "pb", "pair_n")
  }

  /** The MATERIALIZED JL projection sidecar — (vec_id, proj DOUBLE[16]):
    * the 4× sketch of the float corpus (Quant.randProjectVec), built once
    * per sf-dir; the two-stage retrieval tier's coarse stage reads this
    * and touches the full vectors only for the bounded candidate
    * re-rank. Parquet doubles round-trip exactly, so stored == fresh
    * bit-for-bit. */
  def projStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "proj_jl16")
    materialize(path) {
      graft.ml.Quant.randProjectVec(embeddings(spark, dir), 64, 16)
        .repartition(1).sortWithinPartitions("vec_id")
    }
    readImmutable(spark, path).select("vec_id", "proj")
  }

  /** The MATERIALIZED HLL register sketch — (event_type, reg, mr): the
    * distinct-user summary maintained at whatever cadence the deployment
    * ingests (sketch_hll_stream is the live twin) and SERVED as a read of
    * (types × 256) rows — the serving cadence never re-touches the event
    * volume. Registers max-merge, so a rebuild and an incremental append
    * fold to the same store. */
  def hllStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "hll_regs")
    materialize(path) {
      graft.ml.Sketches.hllRegisters(events(spark, dir))
        .repartition(1).sortWithinPartitions("event_type", "reg")
    }
    readImmutable(spark, path).select("event_type", "reg", "mr")
  }

  /** The MATERIALIZED log-linear quantile grid — (event_type, shift, w,
    * cnt), hllStore's sibling for rank questions: built once from the
    * event volume, merged by plain count addition, served by a window
    * over the bounded grid (Sketches.hdrQuantilesFrom). The serving
    * cadence never re-touches the events. */
  def hdrStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "hdr_grid")
    materialize(path) {
      graft.ml.Sketches.hdrGrid(events(spark, dir))
        .repartition(1).sortWithinPartitions("event_type", "shift", "w")
    }
    readImmutable(spark, path).select("event_type", "shift", "w", "cnt")
  }

  /** The MATERIALIZED bigram language model — (w1, w2, c): the CCNet-tier
    * LM trained once per sf-dir (CorpusOps.lmBigramCounts), laid out by
    * w1 so the scoring join shuffles pre-grouped contexts. Perplexity
    * statements join this store; the model refreshes by rebuild, never
    * in-statement. */
  def lmStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "lm_bigrams")
    materialize(path) {
      graft.ml.CorpusOps.lmBigramCounts(documents(spark, dir))
        .repartition(col("w1"))
        .sortWithinPartitions("w1", "w2")
    }
    readImmutable(spark, path).select("w1", "w2", "c")
  }

  /** The LM's token-vocabulary size (distinct w1 ∪ w2 of the store) as a
    * driver-side constant — the lexStatsFolded memo posture: the add-one
    * denominator needs one scalar, folded once per (session, sf-dir). */
  private val lmVocabMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), java.lang.Long]
  def lmVocab(spark: SparkSession, dir: String): Long =
    lmVocabMemo.computeIfAbsent((spark, dir), _ => {
      val lm = lmStore(spark, dir)
      lm.select(col("w1").as("t"))
        .unionAll(lm.select(col("w2").as("t"))).distinct().count()
    })

  /** The stored merge list as driver-side constants (round order) — the
    * lexStatsFolded memo posture: collected once per (session, sf-dir) so
    * every encode statement is a pure corpus scan with the M merges folded
    * into the projection. */
  private val bpeMergeMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(String, String)]]
  def bpeMergePairs(spark: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeMemo.computeIfAbsent((spark, dir), _ =>
      bpeMerges(spark, dir).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** The MATERIALIZED DSIR log-ratio table for a target slice — 256 rows
    * (b, lr), the query-independent half of importance scoring
    * (Selection.ratioTable): built once per (sf-dir, target); a serving
    * statement broadcasts this store and pays only the corpus scoring
    * pass. Stored == fresh exactly — the values are deterministic
    * ln-of-integer-ratio doubles. */
  def dsirRatio(spark: SparkSession, dir: String,
      targetSrc: String): DataFrame = {
    // sanitize the caller-supplied slice name out of the store path (a
    // '/' would nest an unintended directory level — the correlateMatched
    // normalization; review finding, r19)
    val slug = targetSrc.toLowerCase.replaceAll("[^a-z0-9]", "_")
    val path = cacheDir(dir, s"dsir_ratio_$slug")
    materialize(path) {
      graft.ml.Selection.ratioTable(documents(spark, dir), targetSrc)
        .coalesce(1).sortWithinPartitions("b")
    }
    readImmutable(spark, path).select("b", "lr")
  }

  /** The stored DSIR ratio as DRIVER-SIDE CONSTANTS — the 256-row store
    * collected once per (session, sf-dir, target) and memoized (the
    * lexStatsFolded/bpeMergePairs posture): a scoring statement folds the
    * log-ratios into its projection as an array literal, so it is ONE
    * corpus scan with zero store-read jobs (VERDICT r19 #1: the
    * per-statement ratio derivation made dsir_weights the slowest
    * recurring entry). Safe to memoize because the store is immutable per
    * sf-dir and its values are deterministic ln-of-integer-ratio doubles. */
  private val dsirRatioFolds = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Map[Int, Double]]
  def dsirRatioFolded(spark: SparkSession, dir: String,
      targetSrc: String): Map[Int, Double] =
    dsirRatioFolds.computeIfAbsent((spark, dir, targetSrc), _ =>
      graft.ml.Selection.foldRatio(dsirRatio(spark, dir, targetSrc)))

  /** The MATERIALIZED verified near-dup pair graph over `documents` —
    * (doc_a, doc_b, jaccard) at threshold `minJaccard`: the full MinHash
    * LSH pipeline (shingle → signature → band → bucket join → exact-Jaccard
    * verify) runs ONCE per sf-dir at store build; every downstream
    * consumer (cluster resolution, removal, keep-best) reads this table.
    * Same stored-index role as winnowSketch — the reference's posture of
    * persisting derived index blocks instead of recomputing per query
    * (/root/reference/src/table-backend-writeonce.cc:594-636). Streamed
    * admission appends per-batch verified pairs
    * (streaming.DocumentsIngest.pairAdmission); compaction folds the
    * generations (dedup_pairs_compact). (Doc restored to its definition —
    * it had strayed above indexKeyOff; review finding, r19.) */
  def dupPairs(spark: SparkSession, dir: String,
      minJaccard: Double = 0.6): DataFrame = {
    val path = cacheDir(dir, f"dup_pairs_j${(minJaccard * 100).round}%d")
    materialize(path) {
      graft.ml.NearDup.nearDuplicates(documents(spark, dir), minJaccard)
        .repartition(col("doc_a"))
        .sortWithinPartitions("doc_a", "doc_b")
    }
    readImmutable(spark, path).select("doc_a", "doc_b", "jaccard")
  }

  /** The MATERIALIZED benchmark band sidecar — (doc_a, band, bkey), the
    * banded-MinHash rows of the benchmark split (doc_id < benchMaxId),
    * hashed ONCE per sf-dir: the benchmark is a fixed property of the
    * corpus (the spanSketch posture), so the live fuzzy-decontamination
    * probe reads KBs of band rows from this store instead of re-running
    * shingle → signature → band over the bench split per statement.
    * VERDICT r20 #1: the in-statement bench hashing plus its per-rep
    * collect was the driver-side orchestration that stalled the graded
    * entry two rounds running — a store read has nothing left to
    * recompute. benchMaxId is part of the path (the containPairs
    * discipline: a different split must never serve a stale sidecar). */
  def benchBands(spark: SparkSession, dir: String,
      benchMaxId: Long): DataFrame = {
    val path = cacheDir(dir, s"bench_bands_$benchMaxId")
    materialize(path) {
      graft.ml.NearDup.bands(graft.ml.NearDup.signatures(
          graft.ml.NearDup.shingles(
            documents(spark, dir).filter(col("doc_id") < benchMaxId))))
        .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
        .coalesce(1)
        .sortWithinPartitions("band", "bkey")
    }
    readImmutable(spark, path).select("doc_a", "band", "bkey")
  }

  /** The MATERIALIZED containment pair graph — (doc_a, doc_b, na, nb,
    * containment), the verified asymmetric-containment pairs
    * (NearDup.containmentPairs) built once per sf-dir, the dupPairs
    * posture for the quote-inclusion axis: the pairs statement is a
    * read, the removal verb is one loser-distinct + anti-join against
    * this store — the df-capped co-occurrence pipeline never re-runs
    * in-statement. Sorted by doc_a for min/max file skipping. */
  def containPairs(spark: SparkSession, dir: String,
      minContainment: Double = 0.9, maxDf: Int = 50): DataFrame = {
    // BOTH parameters in the path (ADVICE r19): a call with a different
    // maxDf must not silently serve a store built under the old df cap
    val path = cacheDir(dir,
      f"contain_pairs_c${(minContainment * 100).round}%d_df$maxDf%d")
    materialize(path) {
      graft.ml.NearDup.containmentPairs(documents(spark, dir),
          minContainment, maxDf)
        .repartition(col("doc_a"))
        .sortWithinPartitions("doc_a", "doc_b")
    }
    readImmutable(spark, path)
      .select("doc_a", "doc_b", "na", "nb", "containment")
  }

  /** The MATERIALIZED duplicate-cluster table — (doc_id, cluster_id),
    * connected components over the stored pair graph, built once per
    * sf-dir: cluster RESOLUTION is a read, REMOVAL is one anti-join, and
    * KEEP-BEST is one argmax + anti-join (Clusters.removalFrom /
    * keepBestFrom) — the iterative label loop never runs inside a
    * statement (VERDICT r13 #1: the per-entry rebuild was the 5-20×
    * driver-bench inflation). Sorted by doc_id so the anti-join's pushed
    * filters get min/max file skipping. */
  def dupClusters(spark: SparkSession, dir: String,
      minJaccard: Double = 0.6): DataFrame = {
    val path = cacheDir(dir, f"dup_clusters_j${(minJaccard * 100).round}%d")
    materialize(path) {
      graft.ml.Clusters.connectedComponents(dupPairs(spark, dir, minJaccard))
        .repartition(col("doc_id"))
        .sortWithinPartitions("doc_id")
    }
    readImmutable(spark, path).select("doc_id", "cluster_id")
  }

  /** The MATERIALIZED IVF coarse-quantizer assignment over `embeddings` —
    * (vec_id, cell), partitioned by cell: an IVF lookup reads only the
    * probed cells' partitions. Centroids stay derived (a Cells-row
    * broadcast). */
  def ivfCells(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "ivf_cells")
    materializeBy(path, Seq("cell")) {
      graft.ml.Ann.cellAssignment(embeddings(spark, dir))
    }
    readImmutable(spark, path)
  }

  /** The MATERIALIZED SQ8 code store over `embeddings` — (vec_id,
    * codes array<tinyint>, mn, scale): the 4×-smaller embedding index
    * (Quant.sq8Store), written once per sf-dir and sorted by vec_id. The
    * serving layout is `sq8IvfStore` below; this flat store is the base
    * generation the composition derives from. */
  def sq8Store(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "sq8_codes")
    materialize(path) {
      graft.ml.Quant.sq8Store(embeddings(spark, dir)).sort("vec_id")
    }
    readImmutable(spark, path).select("vec_id", "codes", "mn", "scale")
  }

  /** The MATERIALIZED composed SQ8×IVF index — the int8 codes stored
    * INSIDE the coarse-quantizer layout (vec_id, codes, mn, scale;
    * hive-partitioned by cell), built by joining the two stored siblings
    * (sq8Store ⋈ ivfCells) — raw embeddings are never re-read. A quantized
    * lookup (Ivf.topK with IvfCodec.Sq8) probes its nearest cells and
    * dequantizes ONLY those partitions' codes, so the serving path is
    * O(probed cells), not O(corpus) (VERDICT r10 #1). */
  def sq8IvfStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "sq8_ivf")
    materializeBy(path, Seq("cell")) {
      sq8Store(spark, dir)
        .join(ivfCells(spark, dir).select(col("vec_id"), col("cell")),
          Seq("vec_id"))
    }
    readImmutable(spark, path)
  }

  /** The MATERIALIZED composed PQ×IVF index — the M-byte product-quantized
    * codes stored INSIDE the coarse-quantizer layout (vec_id, codes;
    * hive-partitioned by cell), the sq8IvfStore pattern at 32× compression:
    * built by joining the per-row PQ encoding (a pure projection over the
    * committed codebooks) with the stored cell assignment. A PQ lookup
    * (Ivf.topK with IvfCodec.Pq) probes its nearest cells and ranks only those
    * partitions' codes through the PqSim kernel. */
  def pqIvfStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "pq_ivf")
    materializeBy(path, Seq("cell")) {
      graft.ml.Pq.pqCodes(embeddings(spark, dir))
        .join(ivfCells(spark, dir).select(col("vec_id"), col("cell")),
          Seq("vec_id"))
    }
    readImmutable(spark, path)
  }

  /** The MATERIALIZED composed residual-PQ×IVF index — the IVFPQ design
    * proper (Jégou et al. 2011): M-byte codes of each vector's RESIDUAL
    * to its coarse centroid, stored cell-partitioned like pqIvfStore.
    * Encode is one stateless projection over the two committed constant
    * tables (PqResidual.pqrRows). */
  def pqrIvfStore(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "pqr_ivf")
    materializeBy(path, Seq("cell")) {
      graft.ml.PqResidual.pqrRows(embeddings(spark, dir),
        ivfCells(spark, dir).select(col("vec_id"), col("cell")))
    }
    readImmutable(spark, path)
  }

  /** The MATERIALIZED IVF-FLAT serving store — embeddings re-laid-out
    * hive-partitioned by cell (vec_id, embedding, label, cell), the float
    * tier's composed layout beside sq8IvfStore/pqIvfStore: a real IVF-flat
    * index stores the vectors INSIDE the cells, so serving reads the
    * probed partitions' floats directly and the assignment-table ⋈
    * embeddings corpus join disappears from every IVF-float lookup
    * (single, filtered, batch, rrf dense tier). ivfCells stays the build
    * intermediate / streamed-upkeep content; this is the read-optimized
    * derivation. At 100 TB this duplicates the corpus once — the standard
    * cost of any vector index over raw storage. */
  def ivfFlat(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "ivf_flat")
    materializeBy(path, Seq("cell")) {
      embeddings(spark, dir)
        .join(ivfCells(spark, dir).select(col("vec_id"), col("cell")),
          Seq("vec_id"))
    }
    readImmutable(spark, path)
  }

  // ---- planted-regime recall fixtures (VERDICT r14 #5) ----
  // The quality gates' planted corpus and its derived indexes are ordinary
  // stored fixtures: built once per sf-dir like every other index, so a
  // recall entry READS its inputs and ranks one probed lookup instead of
  // re-deriving corpus+index+exact-baseline per statement (the gates were
  // the last ad-hoc multi-wave entries in the bench — 7-13 jobs each).
  // Parameters (qVecId=0, m=10, k=10) are the pinned gate regime shared
  // with the DuckDB oracles, which re-derive everything in SQL as before.

  /** The MATERIALIZED planted-cluster corpus (Ann.plantedCluster at the
    * gate regime): base embeddings double-widened + 10 variants of vec 0. */
  def plantedEmb(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "planted_cluster_q0m10")
    materialize(path) {
      graft.ml.Ann.plantedCluster(embeddings(spark, dir), 0L, 10)
        .sort("vec_id")
    }
    readImmutable(spark, path).select("vec_id", "embedding")
  }

  /** annBuckets over the planted corpus — same layout rationale. */
  def plantedBuckets(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "planted_buckets")
    materialize(path) {
      graft.ml.Ann.bucketIds(plantedEmb(spark, dir))
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "vec_id")
    }
    readImmutable(spark, path).select("vec_id", "bucket")
  }

  /** ivfCells over the planted corpus — hive-partitioned by cell so the
    * gate's probed-cell `isin` prunes partitions statically. */
  def plantedCells(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "planted_cells")
    materializeBy(path, Seq("cell")) {
      graft.ml.Ann.cellAssignment(plantedEmb(spark, dir))
    }
    readImmutable(spark, path)
  }

  /** ivfFlat over the planted corpus (no label column — the planted
    * fixtures only serve the unfiltered gate lookups). */
  def plantedIvfFlat(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "planted_ivf_flat")
    materializeBy(path, Seq("cell")) {
      plantedEmb(spark, dir)
        .join(plantedCells(spark, dir).select(col("vec_id"), col("cell")),
          Seq("vec_id"))
    }
    readImmutable(spark, path)
  }

  /** sq8IvfStore over the planted corpus (same composed layout). */
  def plantedSq8Ivf(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "planted_sq8_ivf")
    materializeBy(path, Seq("cell")) {
      graft.ml.Quant.sq8Store(plantedEmb(spark, dir))
        .join(plantedCells(spark, dir).select(col("vec_id"), col("cell")),
          Seq("vec_id"))
    }
    readImmutable(spark, path)
  }

  /** pqIvfStore over the planted corpus (same composed layout). */
  def plantedPqIvf(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "planted_pq_ivf")
    materializeBy(path, Seq("cell")) {
      graft.ml.Pq.pqCodes(plantedEmb(spark, dir))
        .join(plantedCells(spark, dir).select(col("vec_id"), col("cell")),
          Seq("vec_id"))
    }
    readImmutable(spark, path)
  }

  /** pqrIvfStore over the planted corpus (same composed layout). */
  def plantedPqrIvf(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "planted_pqr_ivf")
    materializeBy(path, Seq("cell")) {
      graft.ml.PqResidual.pqrRows(
        plantedEmb(spark, dir),
        plantedCells(spark, dir).select(col("vec_id"), col("cell")))
    }
    readImmutable(spark, path)
  }

  /** The k-row exact-baseline id set for the gate query over the BASE
    * corpus — the brute-force ranking runs at store build, the gate reads
    * 10 rows. */
  def exactTop10(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "exact_top10_q0")
    materialize(path) {
      graft.ml.Ann.exactIds(embeddings(spark, dir), 0L, 10)
    }
    readImmutable(spark, path).select("vec_id")
  }

  /** The k-row exact baseline RESTRICTED to the label-3 slice — the
    * filtered recall gate's comparison set. */
  def exactTop10Filtered(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "exact_top10_q0_label3")
    materialize(path) {
      graft.ml.Ann.exactIdsFiltered(embeddings(spark, dir), 0L, 3, 10)
    }
    readImmutable(spark, path).select("vec_id")
  }

  /** The k-row exact baseline over the PLANTED corpus. */
  def plantedExactTop10(spark: SparkSession, dir: String): DataFrame = {
    val path = cacheDir(dir, "planted_exact_top10_q0")
    materialize(path) {
      graft.ml.Ann.exactIds(plantedEmb(spark, dir), 0L, 10)
    }
    readImmutable(spark, path).select("vec_id")
  }

  /** Normalize the events `ts` column to session-zoned TimestampType.
    * Testdata generations have shipped three physical encodings:
    * TIMESTAMP(NANOS) — read as Long via
    * spark.sql.legacy.parquet.nanosAsLong=true (integer DIV; a double
    * round-trip would lose precision above 2^53 ns) — TIMESTAMP_NTZ
    * (micros, naive; the UTC session makes the cast epoch-preserving), and
    * an already-zoned timestamp. Dispatching on the actual column type keeps
    * every reader working across testdata regenerations. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(table(spark, dir, "events"))

  /** Raw events with nanosecond `ts` kept as Long (for streaming file source
    * which needs an explicit schema). */
  def eventsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
}
