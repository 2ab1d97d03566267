package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Catalog

/** Plan-level scale audits: the predicates that make leaf lookups cheap at
  * 100 TB must actually reach the parquet scan (PushedFilters), and the page
  * fetch must seek its stores by the page's keys. `.explain` shows the same
  * facts a human audit reads; these pin them against regressions. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The plans a QUERY entry's statement executes on the Spark route: the
    * statement path evaluates its page and fetch eagerly. At sf0.001 most
    * of these statements take the driver seek, which runs no plan, so the
    * audits pin the Spark route explicitly. */
  private def ranPlans(entry: String): Seq[String] = {
    val text = SparkEntry.entries.find(_.name == entry).flatMap(_.statement).get
    val stmt = graft.parser.Parser.parseStatement(text).asInstanceOf[graft.ast.QueryStmt]
    TestSpark.executedPlans(graft.exec.QueryExec.fetchOnSpark(spark,
      Catalog.tables(spark, dir), stmt, "pinned to the Spark route"))._2
  }

  /** The PushedFilters of every scan in `plans` that reads the store
    * named `store`. */
  private def scansOf(plans: Seq[String], store: String): Seq[String] =
    plans.flatMap(_.linesIterator).filter(l =>
      l.contains("Scan parquet") && l.contains(s"/$store]"))
      .map(l => l.substring(l.indexOf("PushedFilters:")))

  test("S1 leaf lookup pushes the key equality into the parquet scan") {
    val p = planOf(Catalog.index(spark, dir)
      .filter(col("key") === "price").select("off", "score"))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(key,price)"),
      s"key filter not pushed:\n$p")
  }

  test("band leaf reads only its columns plus the pct bands") {
    val p = ranPlans("ql_pct_bands").mkString("\n")
    assert(p.contains("EqualTo(key,priceband)"), s"leaf filter not pushed:\n$p")
    // column pruning: the scan must not read `key` rows beyond the filter —
    // ReadSchema carries off/score/pcts only after pruning
    assert(p.contains("pct5") && p.contains("pct95"))
  }

  test("dump regex prefix reaches the scan as a StartsWith filter") {
    val p = planOf(SparkEntry.queries("dump_pct")(spark, dir))
    assert(p.contains("StringStartsWith(key,priceband)"),
      s"prefix not pushed:\n$p")
  }

  test("in-FIELD:PARAM contains-scan pushes its prefix (VERDICT r15 #7)") {
    // The S3 prefix+contains leaf is inherently a key sweep over one
    // prefix family, but the StartsWith conjunct must reach the parquet
    // scan as a pushed filter: in the key-range index layout (files cut at
    // key boundaries, sorted by key, 1k-row pages) the min/max statistics
    // of files and pages then skip every other key family — only the
    // contains() check runs post-scan.
    val p = ranPlans("ql_in_prefix").mkString("\n")
    assert(p.contains("StringStartsWith(key,priority)"),
      s"in-prefix leaf's StartsWith not pushed:\n$p")
  }

  test("5-field SELECT collapses plain leaves into ONE index scan") {
    // VERDICT r9 #4: N plain-leaf fields must not mean N scans of a 100 TB
    // index — the collapse makes it one shared `key isin (…)` scan read
    // twice (per-(field,off) mins + the tiny field-wide flags aggregate,
    // both key-pruned). Total parquet scans = FROM selection + 2 pruned
    // field reads + summaries = 4, independent of field count (the
    // per-field path scanned the index 2N+1 times). No window over the key
    // partition may appear — it would funnel a hot key's posting list
    // through one task.
    val df = graft.exec.SelectExec.run(spark,
      graft.model.Catalog.tables(spark, dir),
      "SELECT 'price', 'qty', 'status:F', 'status:O', 'nosuchkey' " +
        "FROM 'status:F';")
    val p = planOf(df)
    val scans = p.split("Scan parquet").length - 1
    assert(scans == 4, s"expected 4 parquet scans, got $scans:\n$p")
    assert(p.contains("In(key"), s"field key-set filter not pushed:\n$p")
    assert(!p.contains("Window"), s"unbounded key-partition window:\n$p")
    assert(df.count() > 0)
  }

  test("dedup cluster family serves from the materialized store, not the pipeline") {
    // the r14 lead fix: the MinHash pipeline + CC label loop run ONCE at
    // store build — a statement plan that re-tokenizes text (split/md5 of
    // the shingle pipeline) or re-runs the label loop has regressed to the
    // per-entry rebuild that inflated 5-20x in driver rounds 11-13
    val pc = planOf(SparkEntry.queries("dedup_clusters")(spark, dir))
    assert(pc.contains("dup_clusters"), s"not reading the cluster store:\n$pc")
    assert(!pc.contains("split(") && !pc.contains("md5"),
      s"dedup_clusters re-derives the pair pipeline in-statement:\n$pc")
    val pr = planOf(SparkEntry.queries("dedup_removal")(spark, dir))
    assert(pr.contains("dup_clusters"), s"removal not joining the store:\n$pr")
    assert(pr.contains("LeftAnti"), s"removal is not one anti-join:\n$pr")
    assert(!pr.contains("md5"),
      s"dedup_removal re-derives the pair pipeline in-statement:\n$pr")
  }

  test("fuzzy decontamination serves from the pair-graph store; the IVF " +
      "audits read the stored assignment with one embeddings scan") {
    // decontaminate_fuzzy_stored's whole contract: a sidecar read + one
    // grouped fold — a plan that hashes text (md5 of the shingle/band
    // pipeline) has regressed to the live probe
    val pf = planOf(
      SparkEntry.queries("decontaminate_fuzzy_stored")(spark, dir))
    assert(pf.contains("dup_pairs"), s"not reading the pair store:\n$pf")
    assert(!TestSpark.scansCorpusText(pf) && !pf.contains("md5"),
      s"fuzzy stored serving re-derives the band pipeline:\n$pf")
    // the containment family: pairs are a pure store read; the removal's
    // only corpus touch is the md5 output projection (one text scan), the
    // loser set comes from the store via one anti-join
    val pc = planOf(SparkEntry.queries("dedup_containment")(spark, dir))
    assert(pc.contains("contain_pairs") && !TestSpark.scansCorpusText(pc),
      s"containment pairs not a store read:\n$pc")
    val pr = planOf(SparkEntry.queries("containment_removal")(spark, dir))
    assert(pr.contains("contain_pairs") && pr.contains("LeftAnti"),
      s"containment removal not an anti-join against the store:\n$pr")
    assert(!pr.contains("shingle"),
      s"containment removal re-derives the shingle pipeline:\n$pr")
    // ngram_novelty_stored: one sketch + df-sibling store join — a plan
    // that tokenizes text (split/md5 of the shingle pipeline) has
    // regressed to the live per-statement re-shingling (VERDICT r19 #4)
    val pn = planOf(SparkEntry.queries("ngram_novelty_stored")(spark, dir))
    assert(pn.contains("shingle_sketch") && pn.contains("shingle_df"),
      s"not reading the shingle stores:\n$pn")
    assert(!TestSpark.scansCorpusText(pn) && !pn.contains("split(") &&
      !pn.contains("md5"),
      s"stored novelty re-shingles the corpus in-statement:\n$pn")
    // emb_outliers / ivf_drift: assignment comes from the ivf_cells store,
    // embeddings are scanned exactly ONCE (the per-vector cosine join) —
    // a second scan means the K-way re-quantization crept back in
    for (name <- Seq("emb_outliers", "ivf_drift")) {
      val p = planOf(SparkEntry.queries(name)(spark, dir))
      assert(p.contains("ivf_cells"),
        s"$name not reading the stored assignment:\n$p")
      val scans = "(?i)embeddings\\.parquet|src_embeddings".r
        .findAllIn(p).size
      assert(scans == 1,
        s"$name must scan embeddings exactly once, saw $scans:\n$p")
    }
  }

  test("semantic dedup reads the stored cell assignment; filtered+masked " +
      "hybrid is store-only") {
    // dedup_semantic's 100 TB posture: the coarse assignment is READ from
    // Catalog.ivfCells — a plan that re-quantizes (centroid argmax over
    // cent_id) has regressed to per-statement assignment
    val ps = planOf(SparkEntry.queries("dedup_semantic")(spark, dir))
    assert(ps.contains("ivf_cells"),
      s"dedup_semantic not reading the stored assignment:\n$ps")
    assert(!ps.contains("cent_id"),
      s"dedup_semantic re-derives the cell assignment in-statement:\n$ps")
    // the filtered+masked hybrid: both tiers from stores, corpus text
    // never scanned (the rrf_stored family contract)
    val pm = planOf(TestSpark.onSpark(
      SparkEntry.queries("rrf_stored_filtered_masked")(spark, dir)))
    assert(pm.contains("lex_index") && pm.contains("ivf_flat") &&
      !TestSpark.scansCorpusText(pm),
      s"filtered+masked hybrid must read only the stored tiers:\n$pm")
    graft.util.Caches.drain()
  }

  test("vocabulary joins carry NO explicit broadcast hint (r9 de-broadcast pins)") {
    // the r9 scale fix: df/unigram vocabularies and CORRELATE membership
    // sets are data-scaled, so their joins must reach the planner unhinted
    // (AQE may still runtime-broadcast when a side actually fits — that is
    // the desired behavior; an explicit hint would cap the operator at
    // driver-memory vocabulary sizes). The pinned counts are the KNOWN
    // bounded hints — tfidf/logprob each carry exactly one, the ONE-ROW
    // corpus-size aggregate (policy-clean); anything above the pin means a
    // data-scaled side got re-hinted.
    val allowed = Map("tfidf_topterms" -> 1, "text_logprob" -> 1,
      "dedup_ngram" -> 0, "correlate_leakage" -> 0, "dedup_incremental" -> 0,
      // the shared-shingle set and the per-cluster winner table are both
      // data-scaled (boilerplate/cluster counts grow with the corpus) —
      // their joins must stay unhinted too
      "span_dedup" -> 0, "dedup_keep_best" -> 0,
      "span_cut" -> 0, "span_coverage" -> 0)
    for ((name, n) <- allowed) try {
      val df = SparkEntry.queries(name)(spark, dir)
      val got = "ResolvedHint".r
        .findAllIn(df.queryExecution.analyzed.toString).size
      assert(got == n, s"$name: $got explicit join hints, pinned $n")
    } finally graft.util.Caches.drain()
  }

  test("selection family keeps its scale shapes: WindowGroupLimit bounds, " +
      "zero-shuffle split, bounded-broadcast DSIR") {
    // domain cap + token budget: the static rank bound must rewrite to
    // WindowGroupLimit so executors forward ≤ cap/budget rows per group
    // instead of sorting whole mega-domains/sources
    for (name <- Seq("sample_domain_cap", "mixture_token_budget")) {
      val p = planOf(SparkEntry.queries(name)(spark, dir))
      assert(p.contains("WindowGroupLimit"),
        s"$name: rank bound not rewritten to WindowGroupLimit:\n$p")
    }
    // the md5 split is a pure projection — ANY exchange means it regressed
    // to a shuffle
    val ps = planOf(SparkEntry.queries("split_train_eval")(spark, dir))
    assert(!ps.contains("Exchange"), s"split_train_eval shuffles:\n$ps")
    // DSIR scoring is a per-row fold against the COLLECTED 256-entry
    // ratio literal (bounded by construction — the driver-side
    // query-constants precedent): the scoring plan must carry no joins
    // and no exchanges; the only aggregation anywhere is inside the
    // eager ratio build, never in the statement plan
    for (name <- Seq("dsir_weights", "dsir_stored")) {
      val p = planOf(SparkEntry.queries(name)(spark, dir))
      assert(!p.contains("Exchange") && !p.contains("Join"),
        s"$name scoring must be a pure fold scan:\n$p")
    }
    // classifier inference is a per-row array fold — zero joins, zero
    // exchanges; the 100 TB cost is the scan itself. The Pareto lottery
    // composes on the same projection, so it must stay shuffle-free too.
    for (name <- Seq("quality_linear", "sample_pareto")) {
      val pq = planOf(SparkEntry.queries(name)(spark, dir))
      assert(!pq.contains("Exchange"), s"$name must be a pure scan:\n$pq")
    }
  }

  test("corpus-side batch BM25 pays ONE text scan: stats fold is a local " +
      "1-row frame, the literal batch's term dict is a static isin (r19)") {
    for (name <- Seq("bm25_topk_batch", "bm25_topk_filtered_batch")) {
      val p = planOf(SparkEntry.queries(name)(spark, dir))
      val scans = "(?i)documents\\.parquet|src_documents".r
        .findAllIn(p).size
      assert(scans == 1,
        s"$name must scan corpus text exactly once, saw $scans:\n$p")
      // the memoized stats ride a LocalTableScan (driver-built broadcast),
      // not an in-plan corpus aggregate
      assert(p.contains("LocalTableScan"),
        s"$name stats must be the pre-folded local frame:\n$p")
    }
  }

  test("page fetch seeks summaries by In(off) and overrides by In(key)") {
    // the fetch filters each store by the collected page's keys: the
    // predicate must reach the parquet scan, and no join may pull a whole
    // store into the statement
    for (entry <- Seq("ql_multi_summary", "ql_summaries", "s6_override",
        "ql_keys_for")) {
      val plans = ranPlans(entry)
      val summ = scansOf(plans, "summaries")
      assert(summ.nonEmpty && summ.forall(_.contains("In(off,")),
        s"$entry: summaries not fetched by pushed In(off):\n${plans.mkString("\n")}")
      assert(!plans.exists(p => p.contains("Join") && p.contains("/summaries]")),
        s"$entry joins the summaries store:\n${plans.mkString("\n")}")
      if (entry != "ql_keys_for") {
        val ovr = scansOf(plans, "overrides")
        assert(ovr.nonEmpty && ovr.forall(_.contains("In(key,")),
          s"$entry: overrides not fetched by pushed In(key):\n${plans.mkString("\n")}")
        assert(!plans.exists(_.contains("orders.parquet")) &&
          !plans.exists(_.contains("/src_orders]")),
          s"$entry re-derives the overrides from orders:\n${plans.mkString("\n")}")
      }
    }
    // no QUERY statement scans all of summaries: every summaries scan
    // pushes the page's offsets, or a KEY= leaf's key
    for (entry <- SparkEntry.queries.keys.toSeq.sorted
        if entry.startsWith("ql_") || entry == "s6_override") {
      val plans = ranPlans(entry)
      for (scan <- scansOf(plans, "summaries"))
        assert(scan.contains("In(off,") || scan.contains("EqualTo(key,"),
          s"$entry scans all of summaries:\n$scan")
    }
  }

  test("multi-probe LSH pushes all 2L bucket keys into the stored-index " +
      "scan; A-ES sampling is one scan + TakeOrdered") {
    try {
      val p = planOf(SparkEntry.queries("emb_topk_lsh_mp")(spark, dir))
      // the bucket IN (...) filter must carry 2L = 8 keys — base and
      // flipped per table — and reach the scan (PushedFilters shows the
      // same In truncated, so count on the full DataFilters rendering)
      assert(p.contains("PushedFilters: [IsNotNull(vec_id), In(bucket,"),
        s"bucket In not pushed to the stored-index scan:\n$p")
      val in = """bucket#\d+ IN \(([^)]*)\)""".r.findFirstMatchIn(p)
      assert(in.isDefined, s"no bucket IN (...) filter:\n$p")
      assert(in.get.group(1).split(",").length == 2 * graft.ml.Ann.Tables,
        s"expected ${2 * graft.ml.Ann.Tables} probe keys in:\n${in.get}")
      val ws = planOf(SparkEntry.queries("sample_weighted")(spark, dir))
      assert(ws.contains("TakeOrderedAndProject"),
        s"A-ES top-k must ride TakeOrderedAndProject, not a global sort:\n$ws")
      assert(!ws.contains("Exchange hashpartitioning"),
        s"A-ES draw must not shuffle:\n$ws")
    } finally graft.util.Caches.drain()
  }

  test("BPE accounting is a zero-exchange scan; training reads the store; " +
      "LPT packs per-shard windows") {
    try {
      // the per-doc subword count folds the stored merges in-plan: no
      // vocabulary join, no exchange — the statement IS the corpus scan
      val pt = planOf(SparkEntry.queries("bpe_doc_tokens")(spark, dir))
      assert(!pt.contains("Exchange") && !pt.contains("Join"),
        s"bpe_doc_tokens must be a pure fold scan:\n$pt")
      // serving the learned merges is a store read, not a training run:
      // no aggregation anywhere in the statement plan
      val tr = planOf(SparkEntry.queries("bpe_train")(spark, dir))
      assert(!tr.contains("Exchange") && !tr.contains("Aggregate"),
        s"bpe_train must read the stored merge table:\n$tr")
      // serpentine LPT ranks inside hash shards — the window exchange is
      // hash partitioning on `shard`, never a single-partition global sort
      val pl = planOf(SparkEntry.queries("pack_lpt")(spark, dir))
      assert(pl.contains("hashpartitioning(shard"),
        s"pack_lpt must window per-shard:\n$pl")
      assert(!pl.contains("SinglePartition"),
        s"pack_lpt must not fall back to a global window:\n$pl")
    } finally graft.util.Caches.drain()
  }

  test("blocklist verdict never joins; LM scoring join stays unhinted; " +
      "the release manifest windows per shard") {
    try {
      val bf = planOf(SparkEntry.queries("filter_blocklist")(spark, dir))
      assert(!bf.contains("Join"),
        s"the bounded blocklist folds into the scan, never joins:\n$bf")
      val lm = SparkEntry.queries("ppl_bigram")(spark, dir)
      assert(!lm.queryExecution.analyzed.toString.contains("ResolvedHint"),
        "a web-scale LM exceeds any broadcast bound — the model join " +
          "must stay unhinted for AQE to decide")
      val pr = planOf(SparkEntry.queries("pipeline_release")(spark, dir))
      assert(pr.contains("hashpartitioning(shard"),
        s"the release layout must window per-shard, never globally:\n$pr")
      assert(!pr.contains("SinglePartition"),
        s"no global window in the release chain:\n$pr")
    } finally graft.util.Caches.drain()
  }

  test("sketch family keeps its scale shapes: HLL is pure aggregation, " +
      "CMS joins stay unhinted, KN scoring hints ONLY the 1-row type total") {
    try {
      // HLL: two aggregations, no join anywhere — the register sketch is
      // the shuffle payload
      val hll = planOf(SparkEntry.queries("sketch_hll")(spark, dir))
      assert(!hll.contains("Join"), s"HLL must never join:\n$hll")
      // CMS: counter/freq joins are vocabulary-sized — unbounded at 100 TB,
      // so no explicit broadcast hint (AQE decides)
      val cms = SparkEntry.queries("sketch_cms")(spark, dir)
      assert(!cms.queryExecution.analyzed.toString.contains("ResolvedHint"),
        "CMS joins must stay unhinted")
      // lm_kn_params derives from the MODEL store only — the corpus is
      // never scanned
      val kp = planOf(SparkEntry.queries("lm_kn_params")(spark, dir))
      assert(!kp.contains("documents"),
        s"KN parameters must read the store, not the corpus:\n$kp")
      // ppl_kn: model joins unhinted (web-scale LM), and exactly ONE hint
      // in the statement — the broadcast 1-row bigram-type total (the
      // sizesOf posture)
      val kn = SparkEntry.queries("ppl_kn")(spark, dir)
      val hints = "ResolvedHint".r
        .findAllIn(kn.queryExecution.analyzed.toString).length
      assert(hints == 1,
        s"ppl_kn must hint only the 1-row type total, found $hints hints")
    } finally graft.util.Caches.drain()
  }

  test("host-rank serving reads the store; the rank-mass join stays " +
      "unhinted") {
    try {
      // link_pagerank is a store read: the 5-iteration power method ran
      // at build — no joins, no aggregation in the statement plan
      val pr = planOf(SparkEntry.queries("link_pagerank")(spark, dir))
      assert(!pr.contains("Join") && !pr.contains("Aggregate"),
        s"link_pagerank must read the stored ranks:\n$pr")
      // quality_hostrank joins docs to the rank store WITHOUT an explicit
      // broadcast hint (a 10^8-host store exceeds any broadcast bound;
      // AQE picks broadcast at planted scale on its own)
      val q = SparkEntry.queries("quality_hostrank")(spark, dir)
      val logical = q.queryExecution.analyzed.toString
      assert(!logical.contains("ResolvedHint"),
        s"quality_hostrank must leave the rank join unhinted:\n$logical")
    } finally graft.util.Caches.drain()
  }

  test("CDC chunk family serves from the materialized sidecar, never " +
    "re-tokenizing the corpus text") {
    try {
      // chunk_cdc is a pure store read: no aggregate, no join, no explode
      val c = planOf(SparkEntry.queries("chunk_cdc")(spark, dir))
      assert(c.contains("cdc_chunks"), s"plan does not scan cdc_chunks:\n$c")
      assert(!c.contains("Generate") && !c.contains("Aggregate"),
        s"chunk_cdc must be a plain store read:\n$c")
      // dedup_cdc joins the sidecar to the (doc_id, source) projection —
      // the documents scan must NOT read the text column
      val d = SparkEntry.queries("dedup_cdc")(spark, dir)
      val p = planOf(d)
      assert(p.contains("cdc_chunks"), s"plan does not scan cdc_chunks:\n$p")
      val docScans = p.linesIterator
        .filter(l => l.contains("documents.parquet") ||
          (l.contains("ReadSchema") && l.contains("source")))
        .mkString("\n")
      assert(!docScans.contains("text"),
        s"dedup_cdc read the corpus text:\n$docScans")
    } finally graft.util.Caches.drain()
  }

  test("ingest_jsonl is a single pinned-schema json scan (no inference " +
    "subtree, no shuffle)") {
    try {
      val p = planOf(SparkEntry.queries("ingest_jsonl")(spark, dir))
      assert(p.contains("Scan json"), s"expected a json scan:\n$p")
      assert(!p.contains("Exchange"), s"round-trip read must not shuffle:\n$p")
    } finally graft.util.Caches.drain()
  }
}
