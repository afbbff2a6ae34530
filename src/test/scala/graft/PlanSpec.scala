package graft

import org.apache.spark.sql.functions.col

/** Plan-shape regression net: the properties that make the battery
  * scale-safe, asserted on the physical plans so a refactor that
  * silently loses a pushdown/broadcast/bounded-aggregate fails here
  * rather than at 100 TB. */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** [[plan]] followed by the plans of the frames `q` pinned. */
  private def planWithPins(q: String): String =
    planWithPins(SparkEntry.queries(q)(spark, dir))

  test("q01: the shipdate filter reaches the parquet scan") {
    val p = plan("q01_scan_project")
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_shipdate"), p.take(800))
  }

  test("q11: both dimension joins broadcast (no fact shuffle)") {
    val p = plan("q11_broadcast_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("q13: latest-N compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q13_topk").contains("TakeOrderedAndProject"))
  }

  test("q24: brute-force top-k is TakeOrdered over the codegen'd cosine") {
    val p = plan("q24_knn_brute")
    assert(p.contains("TakeOrderedAndProject") && p.contains("fvec_cosine"), p.take(800))
  }

  test("q38: anti-join plans as LeftAnti with the urgent filter on the build side") {
    val p = plan("q38_anti_join")
    assert(p.contains("LeftAnti"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    // the priority predicate reaches the orders parquet scan
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"), p.take(1200))
  }

  test("q39: star join broadcasts all three dimensions") {
    val p = plan("q39_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(800))
  }

  test("q40: nothing shuffles under the co-located join (exchanges only above it)") {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the plan shows what bucketing buys on two
      // genuinely large fact tables
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q40_bucketed_cojoin")
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0, p.take(600))
      // parent-first print: everything after the join line is its subtree
      assert(!p.substring(i).contains("Exchange"),
        "exchange under the bucketed join:\n" + p.substring(i).take(1200))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.sql("DROP TABLE IF EXISTS graft_q40_lineitem")
      spark.sql("DROP TABLE IF EXISTS graft_q40_orders")
    }
  }

  test("q41: the salt participates in the join keys") {
    val p = plan("q41_salted_join")
    assert(p.contains("_salt"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("q22b: every sketch consumer reads the persisted frame, not the kernel") {
    Shared.scope {
      val df = SparkEntry.queries("q22b_minhash_persisted")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      // band self-join (both sides) + two pair branches = four
      // pinned-scan consumers; the sketch UDF cannot re-run per branch
      val pinScans = "Scan ExistingRDD".r.findAllIn(p).size
      assert(pinScans >= 3, p.take(1200))
      // a pin prints no build recipe (its lineage is cut), so every
      // parquet scan in the print would be a consumer bypassing the pin
      assert("FileScan parquet".r.findAllIn(p).size == 0,
        "a branch bypassed the pin:\n" + p.take(1200))
      // and the compute-once path returns exactly the one-shot pairs
      val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val oneShot = SparkEntry.queries("q22_minhash_dedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs == oneShot, s"pinned=${pairs.size} oneShot=${oneShot.size}")
    }
  }

  test("q31b: the serve side reads index tables — no gram kernel, no corpus scan") {
    val (invT, candT) = graft.battery.Common.ngramIndexTables(spark, dir)
    try {
      val df = SparkEntry.queries("q31b_ngram_persisted")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      // the serve plan may touch ONLY the two index tables: any UDF is
      // the gram kernel re-running, any documents scan is the corpus
      // being re-read — both belong to the build, which already ran
      assert(!p.contains("UDF"),
        "gram kernel ran on the serve path:\n" + p.take(1200))
      assert(!p.contains("documents"),
        "serve path re-scanned the corpus:\n" + p.take(1200))
      assert(p.contains(invT) && p.contains(candT), p.take(1200))
      // and the lifecycle returns exactly the one-shot pairs
      val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val oneShot = SparkEntry.queries("q31_ngram_jaccard")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs == oneShot, s"persisted=${pairs.size} oneShot=${oneShot.size}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $invT")
      spark.sql(s"DROP TABLE IF EXISTS $candT")
    }
  }

  test("q54b: BM25 serves off the stats tables — no corpus scan, term filter pushed down") {
    val (statsT, dfT, corpT) = graft.battery.DedupQueries.bm25Tables(spark, dir)
    try {
      val df = SparkEntry.queries("q54b_bm25_persisted")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("documents"),
        "serve path re-scanned the corpus:\n" + p.take(1200))
      assert(p.contains(statsT) && p.contains(dfT) && p.contains(corpT),
        p.take(1200))
      // the query-term filter reaches the postings parquet scan
      val statsScan = p.linesIterator
        .filter(l => l.contains(statsT) && l.contains("PushedFilters"))
        .mkString("\n")
      assert(statsScan.contains("In(term"),
        "term filter not pushed into the postings scan:\n" + statsScan)
      // and the lifecycle returns exactly the ad-hoc scores
      val served = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val adHoc = SparkEntry.queries("q54_bm25")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served == adHoc, s"served=${served.take(5)} adHoc=${adHoc.take(5)}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $statsT")
      spark.sql(s"DROP TABLE IF EXISTS $dfT")
      spark.sql(s"DROP TABLE IF EXISTS $corpT")
    }
  }

  test("similarity/dedup queries: no cartesian products, no per-group windows") {
    Seq("q22_minhash_dedup", "q25_knn_join", "q31_ngram_jaccard",
      "q33_lsh_topk", "q33b_lsh_multiprobe", "q34_embedding_dedup",
      "q35_ivf_topk", "q56_winnow_pairs", "q57_drop_near_dups",
      "q86_retrieval_eval", "q98_substring_dedup", "q100_snapshot_diff",
      "q101_boilerplate_lines", "q102_image_dhash", "q103_code_filters",
      "q104_audio_fingerprint", "q105_export_manifest").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("Window"), s"$q ranks through a window")
    }
  }

  test("crawl/curation queries (q106–q119): no cartesian products, no per-group windows") {
    // q109/q88c are lifecycle queries that run their streams when the
    // entry is invoked; the returned frame is the SERVE plan, which is
    // exactly what must stay banded/bounded
    Seq("q106_quarantine", "q107_phrase_search", "q108_bitext_margin",
      "q109_stream_minhash", "q110_drift_matrix", "q111_html_extract",
      "q112_video_neardup", "q113_link_canonical", "q115_warc_parse",
      "q116_warc_extract", "q117_robots_gate", "q118_head_metadata",
      "q119_charset_decode", "q120_sitemap_parse", "q121_frontier_schedule",
      "q122_crawl_delay", "q123_warc_roundtrip",
      "q124_frontier_stream", "q125_unicode_normalize",
      "q126_components_stream", "q127_sitemap_discovery",
      "q128_http_decode", "q129_sitemap_frontier",
      "q130_redirect_chains", "q131_normalized_dedup",
      "q132_revisit_dedup", "q133_wet_stream",
      "q134_apex_budget", "q135_recrawl_due",
      "q136_cdx_fetch", "q137_takedown_purge",
      "q138_cdx_stream").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("Window"), s"$q ranks through a window")
    }
  }

  test("round-13 queries: no cartesians; windows only where packing shards them") {
    // q146/q147/q148/q150: fixture-fed WARC/CDXJ compositions — the
    // scale-safety bar is the usual no-cartesian / no-per-group-window
    Seq("q146_wat_export", "q147_cdxj_rangescan", "q148_latest_capture",
      "q150_wat_stream", "q151_crawl_merge", "q152_meta_robots",
      "q153_canonical_collapse", "q154_xrobots_directives").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("Window"), s"$q ranks through a window")
    }
    // q145: exactly ONE window — packContiguous's per-shard running
    // sum (sharding is the parallelism lever, by design); the sequence
    // assembly itself must be a hash aggregation, never a second window
    val p145 = plan("q145_token_shards")
    assert(!p145.contains("CartesianProduct"), p145.take(800))
    assert("Window".r.findAllIn(p145).size == 1,
      "assembly must aggregate, not window:\n" + p145.take(1200))
    // q148's winner selection is ONE partially-combined max aggregate
    val p148 = planWithPins("q148_latest_capture")
    assert(p148.contains("partial_max") || p148.contains("partial_finalmerge"),
      "latestCaptures lost its map-side combine:\n" + p148.take(1200))
    // q149: the apex budget flows through the bounded best-k aggregator
    // (partial aggregation before the one exchange), never a window
    val p149 = plan("q149_quality_frontier")
    assert(!p149.contains("CartesianProduct") && !p149.contains("Window"),
      p149.take(800))
    assert(p149.contains("ObjectHashAggregate") ||
      p149.contains("SortAggregate"),
      "bounded top-k aggregator missing:\n" + p149.take(1200))
  }

  test("round-14 queries: extraction is exchange-free; aggregates combine map-side; BM25 top-k never sorts globally") {
    // q155/q156: row-local kernel + scalar URL kernels — ZERO
    // exchanges anywhere in the plan (the orderBy is the battery
    // presentation sort; check below the Sort's child). q82c is one
    // narrow pass + presentation sort.
    Seq("q155_image_text_pairs", "q156_anchor_text_edges",
      "q82c_bpe_chained").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("Window"),
        s"$q:\n" + p.take(800))
      // one Exchange at most — the rangepartitioning under the
      // presentation orderBy; a second would mean the extraction
      // itself shuffled
      assert("Exchange".r.findAllIn(p).size <= 1,
        s"$q extraction must not shuffle:\n" + p.take(1200))
    }
    // q157: the profile is ONE hash aggregation keyed by destination
    // (plus the presentation sort); map-side combine on the count
    val p157 = plan("q157_anchor_profile")
    assert(!p157.contains("CartesianProduct") && !p157.contains("Window"),
      p157.take(800))
    assert(p157.contains("partial_count") || p157.contains("partial_"),
      "profile aggregation lost its map-side combine:\n" + p157.take(1200))
    // q158: the ranking plans as TakeOrderedAndProject (per-partition
    // top-n), never a global sort of all scored docs
    val p158 = plan("q158_anchor_bm25")
    assert(p158.contains("TakeOrderedAndProject"),
      "anchor BM25 lost its top-k plan:\n" + p158.take(1200))
    // q159: the benchmark side broadcasts — the corpus is scanned
    // once, semi-joined without an exchange, aggregated with combine
    val p159 = plan("q159_decontamination")
    assert(p159.contains("BroadcastHashJoin"),
      "benchmark grams must broadcast:\n" + p159.take(1200))
    assert(!p159.contains("SortMergeJoin") &&
      !p159.contains("CartesianProduct"), p159.take(800))
  }

  test("q171: repetition stats are one scan-side kernel pass — no window, one agg shuffle plus the presentation sort") {
    // the 13 permilles and the fired rule all derive from ONE struct
    // column computed in the scan projection; the only exchanges are
    // the funnel's hash aggregation and the presentation orderBy. A
    // Window or a third exchange would mean the per-document kernel
    // leaked into a corpus-wide operation.
    val p = plan("q171_gopher_repetition")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(800))
    assert("Exchange".r.findAllIn(p).size <= 2,
      "repetition stats must stay row-local below the funnel agg:\n" +
        p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial_"),
      "funnel aggregation lost its map-side combine:\n" + p.take(1200))
  }

  test("q172: the bench side broadcasts; the corpus never sort-merge-joins or self-joins") {
    val p = plan("q172_fuzzy_decontamination")
    assert(p.contains("BroadcastHashJoin"),
      "bench banded sketches must broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("Window"), p.take(800))
  }

  test("q174/q175/q176: trainer-seam plans — one assembly agg, geometry-only ledgers, histogram-solved packing") {
    // q174: the multimodal assembly is ONE hash aggregation over the
    // packed rows; no cartesian product anywhere, and the only Window
    // is packContiguous's per-shard prefix sum
    val p174 = plan("q174_multimodal_shards")
    assert(!p174.contains("CartesianProduct"), p174.take(800))
    // the slot-table branch re-derives the assembly, so the pack
    // prefix-sum window appears once per branch — two, never more
    assert("Window".r.findAllIn(p174).size <= 2,
      "only the pack prefix-sum windows may appear:\n" + p174.take(1200))
    // q175: the fertility ledger never re-tokenizes — the doc meta
    // joins the exploded geometry shares; one hash agg with combine
    val p175 = plan("q175_fertility_telemetry")
    assert(!p175.contains("CartesianProduct"), p175.take(800))
    assert(p175.contains("partial_count") || p175.contains("partial_"),
      "ledger aggregation lost its map-side combine:\n" + p175.take(1200))
    // q176: best-fit packing pays exactly TWO windows — the offset
    // prefix-sum over the bounded id-class HISTOGRAM and the exact
    // rank WITHIN a bucket (keyed on __cls, so no single-task window
    // over a dominant size class) — never a join against a bin table
    val p176 = plan("q176_bestfit_packing")
    assert(!p176.contains("CartesianProduct") &&
      !p176.contains("SortMergeJoin"), p176.take(800))
    val w176 = p176.split("\n").filter(_.contains("Window"))
      .filterNot(_.contains("WindowGroupLimit")).toSeq
    assert(w176.size == 2,
      "exactly the histogram-offset + within-bucket rank windows:\n" +
        p176.take(1200))
    w176.foreach(w => assert(w.contains("__cls"),
      "a window lost its id-class key (single-task skew):\n" + w))
  }

  test("q162/q164: the CCNet cut windows the HISTOGRAM, not the corpus; the license gate is one narrow pass") {
    // q162: exactly ONE Window — over the bounded (lang, score)
    // histogram (its input is a HashAggregate, never the raw docs) —
    // and the assignment joins back as a BROADCAST; a SortMergeJoin
    // here would mean the corpus shuffled on the score
    val p162 = plan("q162_ppl_buckets")
    assert("Window".r.findAllIn(p162).size == 1, p162.take(1200))
    assert(p162.contains("BroadcastHashJoin"),
      "bucket assignment must broadcast back:\n" + p162.take(1200))
    assert(!p162.contains("CartesianProduct"), p162.take(800))
    // the Window's ordering key is the score — and it must sit above
    // an aggregate (the histogram), which the plan shows as the
    // window operating on the aggregated count column
    assert(p162.contains("__cnt") || p162.contains("partial_count"),
      "window lost its histogram input:\n" + p162.take(1600))
    // q164: license detection is pure codegen over the scan — no
    // UDF, no Window, at most the presentation sort's exchange
    val p164 = plan("q164_license_filter")
    assert(!p164.contains("BatchEvalPython") && !p164.contains("Window"),
      p164.take(800))
    assert("Exchange".r.findAllIn(p164).size <= 1,
      "license gate must not shuffle:\n" + p164.take(1200))
  }

  test("q114: host PageRank from raw HTML keeps the q95 aggregation shape") {
    val p = planWithPins("q114_host_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p.take(800))
    assert(p.contains("partial_sum"), "contribution SUM lost its map-side combine")
  }

  test("q95b: the serve plan reads the edge tables — no edge re-derivation") {
    val p = planWithPins("q95b_pagerank_serve")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p.take(800))
    // serve scans the build-once bucketed tables …
    assert(p.contains("graft_q95b_edges_b32_"),
      "serve path does not read the edge table:\n" + p.take(1200))
    // … and never the raw trade inputs the build derived them from
    assert(!p.contains("customer.parquet") && !p.contains("supplier.parquet"),
      "serve path re-derived edges from the raw tables:\n" + p.take(1200))
    assert(p.contains("partial_sum"), "contribution SUM lost its map-side combine")
  }

  test("q95c: the streamed-graph serve reads the streamed edge tables — no edge re-derivation") {
    val p = planWithPins("q95c_pagerank_stream")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p.take(800))
    assert(p.contains("graft_q95c_edges_"),
      "serve path does not read the streamed edge table:\n" + p.take(1200))
    assert(!p.contains("orders.parquet") && !p.contains("lineitem.parquet"),
      "serve path re-derived edges from the raw tables:\n" + p.take(1200))
    assert(p.contains("partial_sum"), "contribution SUM lost its map-side combine")
  }

  test("q88c: the streamed-index serve keeps the probe-below-ADC broadcast shape") {
    val df = SparkEntry.queries("q88c_ivfpq_stream")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin [cell#"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("Window"), p.take(800))
    val iAdc = p.indexOf("adc#")
    assert(iAdc >= 0 && p.lastIndexOf("BroadcastHashJoin") > iAdc,
      "ADC scoring ran below the probe join on the streamed path:\n" + p.take(1500))
  }

  test("streaming index appends keep their anti-join shape (idempotent replay is a plan property)") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    import spark.implicits._
    val tbl = "graft_planspec_sketches"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val batch1 = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val batch2 = Seq((2L, "pack my box with five dozen liquor jugs"),
      (3L, "how vexingly quick daft zebras jump")).toDF("doc_id", "text")
    try {
      operators.Dedup.appendToSketchTable(spark, batch1, "doc_id", "text", tbl)
      spark.listenerManager.register(listener)
      operators.Dedup.appendToSketchTable(spark, batch2, "doc_id", "text", tbl)
      // listener delivery is async AND can starve under a loaded
      // suite: poll long, and only accept the append's own write plan
      // (both the table name and the join node — a tbl-mentioning
      // plan without the join, e.g. a later read, must not satisfy
      // the find and mask the one we want)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var appendPlan = Option.empty[String]
      while (appendPlan.isEmpty && System.nanoTime() < deadline) {
        appendPlan = captured.toArray(Array.empty[String])
          .find(p => p.contains(tbl) && p.contains("LeftAnti"))
        if (appendPlan.isEmpty) Thread.sleep(100)
      }
      assert(appendPlan.isDefined,
        "the second append lost its seen-id anti-join (or the " +
          "listener never delivered):\n" +
          captured.toArray(Array.empty[String]).mkString("\n---\n").take(1200))
      // and the anti-join actually filtered: the replayed doc 2 did
      // not append a duplicate sketch row
      assert(spark.table(tbl).groupBy("doc_id").count()
        .filter(col("count") > 1).isEmpty,
        "replayed id appended twice")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("q95: PageRank steps are joins + partial-combined SUM exchanges, no cartesian") {
    val p = planWithPins("q95_pagerank")
    assert(!p.contains("CartesianProduct"), "PageRank grew a cartesian")
    assert(!p.contains("Window"), "PageRank ranks through a window")
    // the per-iteration dst aggregation must combine map-side
    assert(p.contains("partial_sum"), "contribution SUM lost its map-side combine")
  }

  test("q33: one corpus scan, scoring inside the broadcast bucket join") {
    val p = plan("q33_lsh_topk")
    // the query side broadcasts; a SortMergeJoin here means the corpus
    // is being shuffled (the join-back-by-id regression)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "corpus-shuffling join crept back into lshTopK:\n" + p.take(1200))
    // corpus + its injected-clone branch (a union over the same
    // parquet) + queries; anything beyond means a candidate join-back
    // re-scanned the corpus
    assert("FileScan parquet".r.findAllIn(p).size <= 3,
      "extra corpus scan:\n" + p.take(1200))
  }

  test("top-k queries aggregate partially before their shuffle") {
    Seq("q25_knn_join", "q33_lsh_topk", "q35_ivf_topk").foreach { q =>
      assert(plan(q).toLowerCase.contains("partial_topkaggregator"),
        s"$q lost the map-side combine")
    }
  }

  test("q73: the Morton key is pure codegen over a broadcast stats row — no UDF, no data shuffle") {
    val p = plan("q73_zorder")
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"),
      "zorder key fell out of codegen:\n" + p.take(800))
    // the one-row stats frame attaches via a broadcast nested-loop,
    // never by shuffling the events side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("q75: shard export shuffles once on the shard key, no global sort below the output order") {
    val p = plan("q75_shard_export")
    // the window partitions by shard: its exchange is hashpartitioning
    // on shard, not a single-partition global sort
    assert(p.contains("hashpartitioning(shard"), p.take(1200))
    assert(!p.contains("SinglePartition"),
      "per-shard window collapsed to one partition:\n" + p.take(1200))
  }

  test("q84: PQ serves off broadcast query LUTs with bounded top-k, never a corpus shuffle join") {
    val p = plan("q84_pq_topk")
    // stage 1 (ADC over codes) and stage 2 (shortlist fetch) both join
    // via broadcast — a SortMergeJoin would mean the corpus or the
    // code table is being shuffled to meet the (tiny) other side
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "corpus-shuffling join crept into the PQ serve:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p.take(800))
    // both rankers keep their map-side combine
    assert("partial_topkaggregator".r.findAllIn(p.toLowerCase).size >= 2,
      "PQ shortlist/rerank lost the bounded partial aggregation")
  }

  test("q88: IVFADC probes via a cell equi-join BELOW the ADC scoring") {
    val p = plan("q88_ivfpq_topk")
    // the probe restriction must be a broadcast hash join on the cell
    // id — never a shuffle of the code table or a cartesian
    assert(p.contains("BroadcastHashJoin [cell#"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("Window"), p.take(800))
    // parent-first print: the ADC projection must sit ABOVE the cell
    // join (scoring only probed rows), i.e. some join prints after it
    val iAdc = p.indexOf("adc#")
    assert(iAdc >= 0, "ADC projection missing:\n" + p.take(800))
    assert(p.lastIndexOf("BroadcastHashJoin") > iAdc,
      "ADC scoring ran below the probe join (whole code table scored):\n" + p.take(1500))
    // shortlist + rerank both keep their bounded partial aggregation
    assert("partial_topkaggregator".r.findAllIn(p.toLowerCase).size >= 2,
      "IVFADC shortlist/rerank lost the bounded partial aggregation")
  }

  test("q88b: the persisted serve reads the index tables — no re-encode, no corpus shuffle") {
    val df = SparkEntry.queries("q88b_ivfpq_persisted")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the ADC stage scans the catalog code table, not a fresh encode
    // of the raw embeddings
    assert(p.contains("graft_q88b_idx"),
      "persisted serve does not read the code table:\n" + p.take(1200))
    // same probe-below-scoring shape as the one-shot q88
    assert(p.contains("BroadcastHashJoin [cell#"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("Window"), p.take(800))
    val iAdc = p.indexOf("adc#")
    assert(iAdc >= 0 && p.lastIndexOf("BroadcastHashJoin") > iAdc,
      "ADC scoring ran below the probe join on the persisted path:\n" + p.take(1500))
  }

  test("q89: DSIR scoring is one narrow pass — the ratio table rides the closure, no join") {
    val p = plan("q89_dsir_score")
    assert(!p.contains("Join"), "scoring grew a join:\n" + p.take(800))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1,
      s"scoring shuffles $exchanges times (expected only the orderBy range exchange):\n" +
        p.take(1200))
  }

  test("q171b: the repetition kernel sits at exactly ONE plan site, checkpointed before the funnel arms") {
    // parquet-backed, not a local Seq — ConvertToLocalRelation folds
    // a LocalRelation projection at optimize time, hiding the kernel
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the gate projection invokes the one-pass kernel exactly once —
    // the round-15 defect was the 13-branch Column ladder re-running
    // the stats UDF per threshold consumer
    val fp = graft.operators.Corpus.gateFlagged(docs, "doc_id", "text",
        Set("und"), 0.0, 0.5, namedRepetition = true, badwords = None)
      .queryExecution.executedPlan.toString
    assert("gopher_fired_rule".r.findAllIn(fp).size == 1,
      "kernel must appear at exactly one site in the gate projection:\n" + fp.take(1500))
    // the funnel output reads the localCheckpointed frame from all
    // three arms — no gate kernel survives into the verdict plan
    val vp = graft.operators.Corpus.gateAttribution(docs, "doc_id", "text",
        langs = Set("und"), minQuality = 0.0, namedRepetition = true)
      .queryExecution.executedPlan.toString
    assert(!vp.contains("gopher_fired_rule"),
      "verdict plan re-invokes the repetition kernel:\n" + vp.take(1500))
    assert(vp.contains("ExistingRDD"),
      "funnel arms must scan the checkpointed frame:\n" + vp.take(1500))
  }

  test("q85: classifier scoring is one narrow pass — no shuffle, no join") {
    val p = plan("q85_classifier_score")
    // scoring = scan + project(kernel) + sort for the battery's
    // orderBy; weights ride the closure, so nothing exchanges except
    // the final presentation sort
    assert(!p.contains("Join"), "scoring grew a join:\n" + p.take(800))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1,
      s"scoring shuffles $exchanges times (expected only the orderBy range exchange):\n" +
        p.take(1200))
  }

  // ------------------------------------------------------- round 17

  test("q182: the chat chain is row-local to the packer — no join anywhere") {
    // render, per-turn counts, spans, and token ids all live in ONE
    // projection (tokenIdsCol exists for exactly this); a re-join on
    // doc_id sneaking back in is the regression this pins against
    val p = plan("q182_multiturn_sft")
    assert(!p.contains("Join"), "chat chain grew a join:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("q183/q185: byte tokenization and span corruption are pure narrow passes") {
    Seq("q183_byte_bpe", "q185_span_corrupt").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n" + p.take(800))
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 1,
        s"$q shuffles $exchanges times (expected only the orderBy range " +
          "exchange):\n" + p.take(1200))
    }
  }

  test("q184: one MapGroups for the per-cell path, no cartesian, windows bounded") {
    val p = plan("q184_incontext_pack")
    // the greedy path runs per cell exactly once; everything else is
    // the id join-back, the pack window, and the fixture's count
    // window
    assert("MapGroups".r.findAllIn(p).size == 1,
      "expected exactly one per-cell path operator:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"))
    assert("Window".r.findAllIn(p).size <= 2,
      "unexpected extra windows:\n" + p.take(1500))
  }
}
