package graft.streaming

import graft.SparkSpec
import graft.operators.Rollup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

case class Tick(id: Long, ts: Timestamp, kind: String, value: Double, rev: Int)

/** Continuous maintenance semantics: the streamed rollup state equals
  * the from-scratch rollup of everything streamed so far, replayed
  * batches are detected and skipped (exactly-once effect), and the
  * streamed lake upsert converges to latest-wins without bookkeeping.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1767103200000L + minute * 60000L)

  test("streamingRollup state tracks the from-scratch rollup batch after batch") {
    implicit val sqlCtx = spark.sqlContext
    val stateTable = "graft_maint_rollup_state"
    spark.sql(s"DROP TABLE IF EXISTS $stateTable")
    spark.sql(s"DROP TABLE IF EXISTS ${stateTable}_staging")
    graft.sources.Warehouse.clearOrphanLocation(spark, stateTable)
    graft.sources.Warehouse.clearOrphanLocation(spark, s"${stateTable}_staging")
    val ckpt = graft.sources.Scratch.dir("maint_ckpt").toString
    val mem = MemoryStream[Tick]
    val q = Maintenance.streamingRollup(mem.toDF(), "ts", "value",
      Seq("kind"), stateTable, ckpt)
    try {
      var all = Seq.empty[Tick]
      val batches = Seq(
        (1 to 20).map(i => Tick(i, ts(i % 90), if (i % 2 == 0) "a" else "b", i * 1.5, 0)),
        (21 to 30).map(i => Tick(i, ts(i % 90), "a", i * 2.0, 0)),
        (31 to 45).map(i => Tick(i, ts(i % 90), "c", 7.25, 0)))
      for (batch <- batches) {
        mem.addData(batch: _*)
        q.processAllAvailable()
        all = all ++ batch
        val expect = Rollup.report(
          Rollup.hourlyState(all.toDF(), "ts", "value", Seq("kind")))
        // the swap ran in the stream's cloned session; this session's
        // cached listing is stale by design (Maintenance scaladoc)
        spark.catalog.refreshTable(stateTable)
        val got = Rollup.report(spark.table(stateTable))
        assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
          s"state diverged after ${all.size} rows")
      }
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $stateTable")
    }
  }

  test("refreshRollupState skips a replayed batch id — no double counting") {
    val stateTable = "graft_maint_replay_state"
    spark.sql(s"DROP TABLE IF EXISTS $stateTable")
    spark.sql(s"DROP TABLE IF EXISTS ${stateTable}_staging")
    graft.sources.Warehouse.clearOrphanLocation(spark, stateTable)
    graft.sources.Warehouse.clearOrphanLocation(spark, s"${stateTable}_staging")
    val b0 = Seq(Tick(1, ts(0), "a", 10.0, 0), Tick(2, ts(0), "a", 20.0, 0)).toDF()
    val b1 = Seq(Tick(3, ts(0), "a", 30.0, 0)).toDF()
    def incr(df: org.apache.spark.sql.DataFrame) =
      Rollup.hourlyState(df, "ts", "value", Seq("kind"))
    try {
      assert(Maintenance.refreshRollupState(spark, stateTable, incr(b0), 0L))
      assert(Maintenance.refreshRollupState(spark, stateTable, incr(b1), 1L))
      val before = Rollup.report(spark.table(stateTable)).collect().toSeq
      // crash-replay of batch 1: detected via the high-water mark
      assert(!Maintenance.refreshRollupState(spark, stateTable, incr(b1), 1L))
      val after = Rollup.report(spark.table(stateTable)).collect().toSeq
      assert(after == before, "replayed batch was merged twice")
      val n = spark.table(stateTable).agg(sum("n")).head.getLong(0)
      assert(n == 3L, s"expected 3 contributing rows, state says $n")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $stateTable")
    }
  }

  test("crash between state drop and staging rename: recovery adopts staging") {
    val stateTable = "graft_maint_crash_state"
    val staging = s"${stateTable}_staging"
    spark.sql(s"DROP TABLE IF EXISTS $stateTable")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    graft.sources.Warehouse.clearOrphanLocation(spark, stateTable)
    graft.sources.Warehouse.clearOrphanLocation(spark, staging)
    val b0 = Seq(Tick(1, ts(0), "a", 10.0, 0), Tick(2, ts(0), "b", 20.0, 0)).toDF()
    val b1 = Seq(Tick(3, ts(0), "a", 30.0, 0)).toDF()
    val b2 = Seq(Tick(4, ts(0), "c", 40.0, 0)).toDF()
    def incr(df: org.apache.spark.sql.DataFrame) =
      Rollup.hourlyState(df, "ts", "value", Seq("kind"))
    try {
      assert(Maintenance.refreshRollupState(spark, stateTable, incr(b0), 0L))
      // replay batch 1's swap BY HAND up to the crash point: staging
      // holds the merged state and the stamped mark, the old state is
      // dropped, the rename never happened
      val merged = Rollup.merge(spark.table(stateTable), incr(b1))
      merged.write.saveAsTable(staging)
      spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES " +
        s"('${Maintenance.LastBatchProp}'='1')")
      spark.sql(s"DROP TABLE $stateTable")
      graft.sources.Warehouse.clearOrphanLocation(spark, stateTable)
      // the stream redelivers batch 1: recovery must adopt the staging
      // table (merge skipped — its effect is already in the state),
      // NOT restart the state from this one increment
      assert(!Maintenance.refreshRollupState(spark, stateTable, incr(b1), 1L),
        "replayed batch re-merged after crash recovery")
      val n1 = spark.table(stateTable).agg(sum("n")).head.getLong(0)
      assert(n1 == 3L, s"state lost/reset across the crash window: $n1 rows")
      // and the stream continues normally afterwards
      assert(Maintenance.refreshRollupState(spark, stateTable, incr(b2), 2L))
      val expect = Rollup.report(Rollup.hourlyState(
        b0.unionByName(b1).unionByName(b2), "ts", "value", Seq("kind")))
      val got = Rollup.report(spark.table(stateTable))
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        "state wrong after crash-window recovery")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $stateTable")
      spark.sql(s"DROP TABLE IF EXISTS $staging")
    }
  }

  test("streamingRollup checkpoint restart: no re-merge, state stays exact") {
    implicit val sqlCtx = spark.sqlContext
    val stateTable = "graft_maint_restart_state"
    spark.sql(s"DROP TABLE IF EXISTS $stateTable")
    spark.sql(s"DROP TABLE IF EXISTS ${stateTable}_staging")
    graft.sources.Warehouse.clearOrphanLocation(spark, stateTable)
    graft.sources.Warehouse.clearOrphanLocation(spark, s"${stateTable}_staging")
    val ckpt = graft.sources.Scratch.dir("maint_restart").toString
    val mem = MemoryStream[Tick]
    val run1 = (1 to 10).map(i => Tick(i, ts(i), "a", i * 1.0, 0))
    val run2 = (11 to 15).map(i => Tick(i, ts(i), "b", i * 1.0, 0))
    val q1 = Maintenance.streamingRollup(mem.toDF(), "ts", "value",
      Seq("kind"), stateTable, ckpt)
    try {
      mem.addData(run1: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // NEW query, same checkpoint: committed offsets resume, and the
    // high-water mark would reject any replayed batch the restart
    // re-delivers
    val q2 = Maintenance.streamingRollup(mem.toDF(), "ts", "value",
      Seq("kind"), stateTable, ckpt)
    try {
      mem.addData(run2: _*)
      q2.processAllAvailable()
      spark.catalog.refreshTable(stateTable)
      val expect = Rollup.report(Rollup.hourlyState(
        (run1 ++ run2).toDF(), "ts", "value", Seq("kind")))
      val got = Rollup.report(spark.table(stateTable))
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        "state wrong after checkpoint restart")
      val n = spark.table(stateTable).agg(sum("n")).head.getLong(0)
      assert(n == 15L, s"rows double-merged across restart: $n")
    } finally {
      q2.stop()
      spark.sql(s"DROP TABLE IF EXISTS $stateTable")
    }
  }

  private def ngramDocs = {
    val docs = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    // clones of docs 0-2 so cross-batch near-dup pairs must exist
    docs.union(docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 9000).as("doc_id"),
        concat(col("text"), lit(" tail marker")).as("text")))
  }

  private def ngramTbl(prefix: String) = graft.operators.Dedup.NgramIncrTables(
    s"${prefix}_inv", s"${prefix}_dfreq", s"${prefix}_pinv", s"${prefix}_cands")

  private def dropNgram(tbl: graft.operators.Dedup.NgramIncrTables): Unit =
    Seq(tbl.inv, tbl.dfreq, tbl.pinv, tbl.cands).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.sources.Warehouse.clearOrphanLocation(spark, t)
    }

  private def servePairs(tbl: graft.operators.Dedup.NgramIncrTables): Seq[String] =
    graft.operators.Dedup.ngramVerifiedPairs(
        spark.table(tbl.inv), spark.table(tbl.cands), threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(_.toString).sorted.toSeq

  private def scratchPairs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    graft.operators.Dedup.ngramJaccard(df, "doc_id", "text", n = 3, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(_.toString).sorted.toSeq

  test("streamingNgramIndex serves the from-scratch pair set batch after batch") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = ngramTbl("graft_maint_ngram")
    dropNgram(tbl)
    val ckpt = graft.sources.Scratch.dir("maint_ngram").toString
    val all = ngramDocs.as[(Long, String)].collect().sortBy(_._1)
    val batches = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = Maintenance.streamingNgramIndex(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl, ckpt)
    try {
      var delivered = Seq.empty[(Long, String)]
      for (batch <- batches) {
        mem.addData(batch: _*)
        q.processAllAvailable()
        delivered = delivered ++ batch
        Seq(tbl.inv, tbl.dfreq, tbl.pinv, tbl.cands)
          .foreach(spark.catalog.refreshTable)
        assert(servePairs(tbl) == scratchPairs(delivered.toDF("doc_id", "text")),
          s"streamed index diverged after ${delivered.size} docs")
      }
      // the clones landed in a different batch than their sources and
      // were still paired — the fixture actually exercised cross-batch
      assert(servePairs(tbl).nonEmpty)
    } finally { q.stop(); dropNgram(tbl) }
  }

  test("streamingNgramIndex checkpoint restart re-delivers without double-indexing") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = ngramTbl("graft_maint_ngram_rs")
    val ref = ngramTbl("graft_maint_ngram_rs_ref")
    dropNgram(tbl); dropNgram(ref)
    val ckpt = graft.sources.Scratch.dir("maint_ngram_rs").toString
    val all = ngramDocs.as[(Long, String)].collect().sortBy(_._1)
    val (run1, run2) = all.splitAt(all.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q1 = Maintenance.streamingNgramIndex(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl, ckpt)
    try { mem.addData(run1: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = Maintenance.streamingNgramIndex(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl, ckpt)
    try {
      mem.addData(run2: _*)
      q2.processAllAvailable()
      Seq(tbl.inv, tbl.dfreq, tbl.pinv, tbl.cands)
        .foreach(spark.catalog.refreshTable)
      // equal answers AND equal row counts vs a singly-built reference
      // index — a replayed append would duplicate inv rows and corrupt
      // the shared counts even where the answer set happens to survive
      graft.operators.Dedup.ensureNgramIndexIncr(spark,
        run1.toSeq.toDF("doc_id", "text"), "doc_id", "text", ref)
      graft.operators.Dedup.appendToNgramIndex(spark,
        run2.toSeq.toDF("doc_id", "text"), "doc_id", "text", ref)
      assert(servePairs(tbl) == servePairs(ref))
      assert(spark.table(tbl.inv).count() == spark.table(ref.inv).count(),
        "inv row counts diverged — a replay double-indexed")
      assert(spark.table(tbl.cands).count() == spark.table(ref.cands).count())
    } finally { q2.stop(); dropNgram(tbl); dropNgram(ref) }
  }

  test("append heals both crash windows of the pinv commit protocol") {
    import graft.operators.Dedup
    val tbl = ngramTbl("graft_maint_ngram_crash")
    val ref = ngramTbl("graft_maint_ngram_crash_ref")
    dropNgram(tbl); dropNgram(ref)
    try {
      val all = ngramDocs.as[(Long, String)].collect().sortBy(_._1)
      val (b1, b2) = all.splitAt(all.length / 2)
      val (df1, df2) = (b1.toSeq.toDF("doc_id", "text"), b2.toSeq.toDF("doc_id", "text"))
      Dedup.ensureNgramIndexIncr(spark, df1, "doc_id", "text", tbl)
      Dedup.ensureNgramIndexIncr(spark, df1, "doc_id", "text", ref)
      Dedup.appendToNgramIndex(spark, df2, "doc_id", "text", ref)

      // window 1: crash AFTER the inv append — batch-2 inv rows are in,
      // nothing else. Replay must not double them and must finish the job.
      Dedup.ngramIndex(df2, "doc_id", "text", n = 3)
        .write.mode("append").saveAsTable(tbl.inv)
      Dedup.appendToNgramIndex(spark, df2, "doc_id", "text", tbl)
      assert(servePairs(tbl) == servePairs(ref), "window-1 heal diverged")
      assert(spark.table(tbl.inv).count() == spark.table(ref.inv).count(),
        "window-1 heal duplicated inv rows")

      // window 2: crash AFTER the cands append but BEFORE the pinv
      // commit marker — rebuild that exact state by restoring pinv to
      // its pre-append snapshot, then replay.
      val pinvBefore = spark.table(ref.pinv)
        .filter(!col("doc_id").isin(b2.map(_._1): _*))
        .collect()
      val pinvSchema = spark.table(tbl.pinv).schema
      spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(pinvBefore: _*)),
          pinvSchema)
        .write.mode("overwrite").saveAsTable(tbl.pinv)
      spark.catalog.refreshTable(tbl.pinv)
      Dedup.appendToNgramIndex(spark, df2, "doc_id", "text", tbl)
      assert(servePairs(tbl) == servePairs(ref), "window-2 heal diverged")
      assert(spark.table(tbl.cands).count() == spark.table(ref.cands).count(),
        "window-2 heal duplicated candidate pairs")
      assert(spark.table(tbl.pinv).count() == spark.table(ref.pinv).count())
    } finally { dropNgram(tbl); dropNgram(ref) }
  }

  test("streamingUpsert applies CDC batches to the lake, latest version winning") {
    implicit val sqlCtx = spark.sqlContext
    val root = graft.sources.Scratch.dir("maint_lake").toString
    val lake = s"$root/lake"
    Seq(Tick(1, ts(0), "a", 1.0, 0), Tick(2, ts(0), "b", 2.0, 0))
      .toDF().write.partitionBy("kind").parquet(lake)
    val mem = MemoryStream[Tick]
    val q = Maintenance.streamingUpsert(mem.toDF(), lake,
      keyCols = Seq("id"), partitionCol = "kind", versionCol = "rev",
      checkpoint = s"$root/ckpt")
    try {
      mem.addData(Tick(1, ts(1), "a", 1.5, 1))               // update
      q.processAllAvailable()
      mem.addData(Tick(3, ts(2), "b", 3.0, 1),               // insert
                  Tick(1, ts(3), "a", 1.25, 0))              // stale rev: loses
      q.processAllAvailable()
      val got = spark.read.parquet(lake)
        .select("id", "value", "rev", "kind")
        .as[(Long, Double, Int, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 1.5, 1, "a"), (2L, 2.0, 0, "b"), (3L, 3.0, 1, "b")))
    } finally q.stop()
  }

  test("streamingTextSegments archives batch subtrees; replay leaves the record set unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val root = graft.sources.Scratch.dir("maint_wet").toString + "/archive"
    val ckpt = graft.sources.Scratch.dir("maint_wet_ckpt").toString
    val all = (0 until 30).map(i => (s"https://h.com/d$i", s"streamed text $i ā"))
    val mem = MemoryStream[(String, String)]
    val q = Maintenance.streamingTextSegments(
      mem.toDF().toDF("uri", "text"), "uri", "text", root, ckpt)
    try {
      var delivered = Seq.empty[(String, String)]
      for (batch <- all.grouped(10)) {
        mem.addData(batch: _*)
        q.processAllAvailable()
        delivered = delivered ++ batch
        val back = graft.sources.Warc.readWarc(spark, s"$root/batch-*")
          .filter(col("warc_type") === "conversion")
          .select(col("target_uri"),
            graft.operators.Charset.decodeText(col("body"),
              lit(null).cast("string")).getField("text").as("t"))
          .as[(String, String)].collect().toSeq.sorted
        assert(back == delivered.sorted, s"archive diverged at ${delivered.size}")
        assert(graft.sources.Warc.auditAllTextSegments(spark, root)
          .filter(!col("ok")).isEmpty, "audit flagged a clean archive")
      }
    } finally q.stop()
    // replay: re-delivering a batch rewrites its OWN subtree only —
    // whole-directory overwrite keyed by batch id — so the archive's
    // record set and audit are unchanged (byte identity additionally
    // holds when the replayed partitioning matches, which a real
    // foreachBatch re-delivery has; a deliberately DIFFERENT
    // partitioning here proves the stronger set-level idempotence)
    val b0 = new java.io.File(root).listFiles().filter(_.getName == "batch-0").head
    graft.sources.Warc.writeTextSegments(
      all.take(10).toDF("uri", "text").repartition(4), "uri", "text", b0.toString)
    val back = graft.sources.Warc.readWarc(spark, s"$root/batch-*")
      .filter(col("warc_type") === "conversion")
      .select(col("target_uri"),
        graft.operators.Charset.decodeText(col("body"),
          lit(null).cast("string")).getField("text").as("t"))
      .as[(String, String)].collect().toSeq.sorted
    assert(back == all.sorted.toSeq, "replayed batch changed the record set")
    // audit still clean over the whole tree, one subtree per batch
    val audit = graft.sources.Warc.auditAllTextSegments(spark, root)
    assert(audit.filter(!col("ok")).isEmpty)
    assert(audit.select("batch_dir").distinct().count() == 3)
  }

  // --- streaming graph maintenance (the q95c leg) ---

  /** Star (1 → 2..10) + chain (20 → 21 → … → 30): the star's source
    * gains out-degree in EVERY batch, so each merge must re-fold the
    * out-degree into rows already in the state table — the exact
    * property that makes graph appends non-row-idempotent. */
  private def graphFixture: Seq[(Long, Long)] =
    (2L to 10L).map(k => (1L, k)) ++ (20L until 30L).map(i => (i, i + 1))

  private def dropGraph(tbl: String): Unit =
    Seq(tbl, s"${tbl}_nodes", s"${tbl}_staging").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.sources.Warehouse.clearOrphanLocation(spark, t)
    }

  test("streamingGraphEdges tracks the one-shot edge derivation batch after batch") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_maint_graph"
    val ref = "graft_maint_graph_ref"
    dropGraph(tbl); dropGraph(ref)
    val ckpt = graft.sources.Scratch.dir("maint_graph").toString
    val all = graphFixture
    val mem = MemoryStream[(Long, Long)]
    val q = Maintenance.streamingGraphEdges(
      mem.toDF().toDF("src", "dst"), "src", "dst", tbl, ckpt, buckets = 4)
    try {
      var delivered = Seq.empty[(Long, Long)]
      for (batch <- all.grouped(math.max(1, all.size / 3 + 1))) {
        mem.addData(batch: _*)
        q.processAllAvailable()
        delivered = delivered ++ batch
        Seq(tbl, s"${tbl}_nodes").foreach(spark.catalog.refreshTable)
        val expect = graft.operators.Graph.edgesWithOutDegree(
          delivered.toDF("src", "dst"), "src", "dst")
        val got = spark.table(tbl)
        assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
          s"edge state diverged after ${delivered.size} pairs")
        val expectNodes = delivered.flatMap(p => Seq(p._1, p._2)).distinct.sorted
        assert(spark.table(s"${tbl}_nodes").as[Long].collect().sorted.toSeq
          == expectNodes, "node list diverged")
      }
    } finally q.stop()
    // served ranks == ranks off a one-shot ensureEdgeTable build
    graft.operators.Graph.ensureEdgeTable(spark,
      all.toDF("src", "dst"), "src", "dst", ref, buckets = 4)
    def ranks(t: String) = graft.Shared.scope(graft.operators.Graph
      .pageRankMicroFromTable(spark, t, iterations = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq)
    val streamed = ranks(tbl)
    val oneShot = ranks(ref)
    assert(streamed == oneShot, "streamed table served different ranks")
    dropGraph(tbl); dropGraph(ref)
  }

  test("refreshGraphEdges skips a replayed batch id (ledger) and re-folds out-degrees") {
    val tbl = "graft_maint_graph_replay"
    dropGraph(tbl)
    try {
      val b0 = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
      assert(Maintenance.refreshGraphEdges(spark, tbl, b0, "src", "dst", 0L))
      assert(!Maintenance.refreshGraphEdges(spark, tbl, b0, "src", "dst", 0L),
        "replayed batch id was not skipped")
      val odAfter0 = spark.table(tbl).filter(col("src") === 1L)
        .select("__od").distinct().as[Long].collect().toSeq
      assert(odAfter0 == Seq(2L))
      // a NEW batch touching the same source must re-fold __od into
      // the rows that were already in the table
      val b1 = Seq((1L, 4L)).toDF("src", "dst")
      assert(Maintenance.refreshGraphEdges(spark, tbl, b1, "src", "dst", 1L))
      spark.catalog.refreshTable(tbl)
      val odAfter1 = spark.table(tbl).filter(col("src") === 1L)
        .select("__od").distinct().as[Long].collect().toSeq
      assert(odAfter1 == Seq(3L), s"out-degree not re-folded: $odAfter1")
      assert(spark.table(tbl).count() == 3L)
    } finally dropGraph(tbl)
  }

  test("streamingGraphEdges checkpoint restart re-delivers without state damage") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_maint_graph_rs"
    dropGraph(tbl)
    val ckpt = graft.sources.Scratch.dir("maint_graph_rs").toString
    val all = graphFixture
    val (run1, run2) = all.splitAt(all.size / 2)
    val mem = MemoryStream[(Long, Long)]
    val q1 = Maintenance.streamingGraphEdges(
      mem.toDF().toDF("src", "dst"), "src", "dst", tbl, ckpt, buckets = 4)
    try { mem.addData(run1: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = Maintenance.streamingGraphEdges(
      mem.toDF().toDF("src", "dst"), "src", "dst", tbl, ckpt, buckets = 4)
    try {
      mem.addData(run2: _*)
      q2.processAllAvailable()
      Seq(tbl, s"${tbl}_nodes").foreach(spark.catalog.refreshTable)
      // the restarted stream continued the ledger: final state equals
      // the one-shot derivation — a re-merged batch would distort no
      // row sets (the merge re-collapses) but WOULD waste a swap, and
      // a skipped batch would lose edges; equality pins both
      val expect = graft.operators.Graph.edgesWithOutDegree(
        all.toDF("src", "dst"), "src", "dst")
      val got = spark.table(tbl)
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        "restart damaged the edge state")
      val lastBatch = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .properties.get("graft.maintenance.lastBatch").map(_.toLong)
      assert(lastBatch.contains(1L), s"ledger high water: $lastBatch")
    } finally { q2.stop(); dropGraph(tbl) }
  }

  test("src bucketing survives the ledgered staged swap (q95b serve shape holds)") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_maint_graph_bkt"
    dropGraph(tbl)
    val ckpt = graft.sources.Scratch.dir("maint_graph_bkt").toString
    val mem = MemoryStream[(Long, Long)]
    val q = Maintenance.streamingGraphEdges(
      mem.toDF().toDF("src", "dst"), "src", "dst", tbl, ckpt, buckets = 4)
    try {
      for (batch <- graphFixture.grouped(7)) {
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.catalog.refreshTable(tbl)
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .bucketSpec
    assert(spec.exists(b => b.numBuckets == 4 &&
        b.bucketColumnNames == Seq("src")),
      s"bucket spec lost through the swap: $spec")
    // and the serve plan reads the swapped table with its map-side
    // combine intact — the q95b PlanSpec shape on the STREAMED table
    val p = planWithPins(graft.operators.Graph
      .pageRankMicroFromTable(spark, tbl, iterations = 1))
    assert(p.contains("partial_sum"),
      "contribution SUM lost its map-side combine on the streamed table")
    dropGraph(tbl)
  }

  private def dropLm(bigT: String, tokT: String): Unit =
    Seq(bigT, s"${bigT}_staging", tokT).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.sources.Warehouse.clearOrphanLocation(spark, t)
    }

  test("streamingBigramModel serves the one-shot LM score batch after batch") {
    implicit val sqlCtx = spark.sqlContext
    val (bigT, tokT) = ("graft_maint_lm_big", "graft_maint_lm_tok")
    dropLm(bigT, tokT)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" < 60).select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect()
    val ckpt = graft.sources.Scratch.dir("maint_lm_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Maintenance.streamingBigramModel(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", bigT, tokT, ckpt)
    try {
      var delivered = Seq.empty[(Long, String)]
      for (batch <- rows.grouped(25)) {
        mem.addData(batch.toSeq: _*)
        q.processAllAvailable()
        delivered = delivered ++ batch
        spark.catalog.refreshTable(bigT)
        spark.catalog.refreshTable(tokT)
        val snapshot = delivered.toDF("doc_id", "text")
        val served = graft.operators.LangModel.scoreFromTables(spark,
            snapshot, "doc_id", "text", bigT, tokT)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val oneShot = graft.operators.LangModel.perplexityScore(
            snapshot, "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(served == oneShot,
          s"streamed model diverged after ${delivered.size} docs")
      }
    } finally q.stop()
    dropLm(bigT, tokT)
  }

  test("absorbBigramBatch: replayed batch id adds nothing; token half heals a crash between the two writes") {
    val (bigT, tokT) = ("graft_maint_lm_replay_big", "graft_maint_lm_replay_tok")
    dropLm(bigT, tokT)
    val b1 = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val b2 = Seq((3L, "c d c"), (4L, "b d")).toDF("doc_id", "text")
    Maintenance.absorbBigramBatch(spark, b1, "doc_id", "text", bigT, tokT, 0L)
    Maintenance.absorbBigramBatch(spark, b2, "doc_id", "text", bigT, tokT, 1L)
    def state() = (
      spark.table(bigT).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet,
      spark.table(tokT).collect().map(_.getString(0)).toSet)
    val before = state()
    // replay of an already-applied batch: ledger skips the merge,
    // token anti-join appends nothing
    Maintenance.absorbBigramBatch(spark, b2, "doc_id", "text", bigT, tokT, 1L)
    assert(state() == before, "replayed batch mutated the model state")
    // crash window: bigram merge applied (ledger stamped) but the
    // process died before the token append — the redelivered batch
    // must complete exactly the token half
    val b3 = Seq((5L, "e f")).toDF("doc_id", "text")
    val incr = graft.operators.LangModel.bigramCounts(
      graft.operators.LangModel.docBigramOcc(b3, "doc_id", "text"))
    Maintenance.refreshLedgered(spark, bigT, incr, 2L) { (st, inc) =>
      val s2 = st.select(col("w1"), col("w2"), col("cnt").as("__sc"))
      val i2 = inc.select(col("w1"), col("w2"), col("cnt").as("__ic"))
      s2.join(i2, Seq("w1", "w2"), "full_outer")
        .select(col("w1"), col("w2"),
          (coalesce(col("__sc"), lit(0L)) +
            coalesce(col("__ic"), lit(0L))).as("cnt"))
    }
    assert(!state()._2.contains("e"), "crash fixture already has the tokens")
    Maintenance.absorbBigramBatch(spark, b3, "doc_id", "text", bigT, tokT, 2L)
    val after = state()
    assert(after._2.contains("e") && after._2.contains("f"),
      "redelivery did not heal the missing token half")
    assert(after._1.count(t => t._1 == "e" && t._2 == "f") == 1 &&
        after._1.find(t => t._1 == "e" && t._2 == "f").get._3 == 1L,
      "redelivery double-merged the stamped bigram batch")
    dropLm(bigT, tokT)
  }

  test("absorbBigramBatch releases the token delta it pins") {
    val (bigT, tokT) = ("graft_maint_lm_release_big", "graft_maint_lm_release_tok")
    dropLm(bigT, tokT)
    Maintenance.absorbBigramBatch(spark, Seq((1L, "a b a")).toDF("doc_id", "text"),
      "doc_id", "text", bigT, tokT, 0L)
    val tokens0 = spark.table(tokT).count()
    val before = persistedRdds
    // the tokens table exists now, so the novel-token delta is pinned
    Maintenance.absorbBigramBatch(spark, Seq((2L, "b c d")).toDF("doc_id", "text"),
      "doc_id", "text", bigT, tokT, 1L)
    assert((persistedRdds -- before).isEmpty, "absorb left its pin stored")
    assert(spark.table(tokT).count() > tokens0, "the novel tokens were not appended")
    dropLm(bigT, tokT)
  }
}
