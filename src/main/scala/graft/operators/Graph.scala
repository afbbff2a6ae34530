package graft.operators

import graft.Shared
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed link-graph ranking (Brin & Page 1998's PageRank) in
  * EXACT integer arithmetic — the domain/page quality signal a
  * web-crawl curation pipeline feeds into its keep/drop gates
  * (the CommonCrawl-derived pipelines rank hosts by link centrality
  * before content filters ever run).
  *
  * Exactness discipline (the q85/q89 integer pattern): rank mass is
  * held in integer micro-units of `scale`. One iteration is
  * `r'(v) = base + Σ_{u→v} floor(r(u)·dampNum / (dampDen·outdeg(u)))`
  * with `base = floor(scale·(dampDen−dampNum) / (dampDen·N))` — every
  * operation is integer floor-division or integer addition, so the
  * result is bit-identical across engines, partitionings, and
  * summation orders, and a DuckDB oracle can replay the whole
  * fixed-iteration unroll (battery q95). The flooring residue and the
  * out-mass of dangling nodes (no out-edges) are DROPPED, not
  * redistributed — total mass decays slightly per iteration, which is
  * the documented teleport-absorbing variant; ORDER of ranks (the
  * signal a curation gate consumes) is unaffected.
  *
  * Two lifecycles, identical ranks:
  *  - Ad-hoc ([[pageRankMicro]]): derives edges+out-degrees and nodes
  *    in-session, pins them, iterates, pins the final ranks and
  *    releases the scratch.
  *  - Standing workload ([[ensureEdgeTable]] + [[pageRankMicroFromTable]]):
  *    the derivation — the expensive part, a distinct over the raw
  *    pair stream plus the out-degree fold — happens ONCE into catalog
  *    tables (the [[Retrieval.ensureBm25Tables]] nightly-index
  *    pattern); every serve call reads two narrow tables and pays only
  *    the iterations. This is the split a standing ranking workload
  *    runs: rebuilding the graph per query was ~90% of the q95 wall
  *    clock at sf0.1.
  *
  * Scale shape: per iteration, ranks join out-degrees on the node key
  * (both |nodes|-sized, co-partitioned after the first exchange), the
  * edge list joins on `src` (edges pinned pre-partitioned by `src`
  * once, reused every iteration), and contributions aggregate by
  * `dst` — the one unavoidable PageRank exchange, with map-side
  * combine because the aggregate is a plain integer SUM. Nothing is
  * ever collected; driver state is the node count. Every
  * `checkpointEvery` iterations the rank frame is pinned
  * ([[graft.Shared.pin]]: materialized, lineage cut) and the previous
  * one released — downstream stages read the stored blocks, so no
  * iteration ever recomputes an earlier one and the plan never nests
  * deeper than `checkpointEvery` steps. Pins not released before
  * returning belong to the caller's [[graft.Shared.scope]].
  */
object Graph {

  /** Collapsed `(src, dst, __od)` edge list with the out-degree folded
    * in — the static per-source property every iteration re-reads, so
    * it is computed once at build time rather than re-joined per step.
    * `assumeDistinct = true` skips the (src, dst) dedup when the
    * caller guarantees collapsed multiplicity.
    *
    * Round-17 build shape (guide §2.4 "remove shuffles outright"):
    * ONE exchange for the whole derivation. The raw pairs are hash-
    * repartitioned by `src` first; `HashPartitioning(src)` satisfies
    * the (src, dst) dedup's ClusteredDistribution (subset rule), the
    * out-degree aggregate's, and the fold-back join's, so dedup,
    * count, and join all run inside that one layout with no further
    * exchange (the out-degree join carries a SHUFFLE_HASH hint —
    * without it the planner sort-merges and pays two sorts of the
    * edge list). Not a window: a per-src COUNT window would buffer
    * each source's edge group, and a mega-out-degree node (a hub page
    * with millions of outlinks) turns that buffer into per-task
    * memory pressure — the aggregate's state is one long per source
    * regardless of skew. The output stays partitioned by `src`, which
    * is exactly the layout [[ensureEdgeTable]]'s bucketed write and
    * the per-iteration join want (the old derive shape — distinct
    * exchange, groupBy exchange, join, then a THIRD repartition(src)
    * exchange in [[pageRankMicro]] — measured 2.4 s vs 0.9 s for the
    * raw distinct at sf0.1; this is one edge-list exchange total). */
  def edgesWithOutDegree(edges: DataFrame, srcCol: String, dstCol: String,
                         assumeDistinct: Boolean = false): DataFrame = {
    val cleaned = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .na.drop()
      .repartition(col("src"))
    val dedup = if (assumeDistinct) cleaned
      else cleaned.dropDuplicates("src", "dst")
    val outdeg = dedup.groupBy(col("src").as("__on"))
      .agg(count(lit(1)).as("__od"))
    dedup.join(outdeg.hint("shuffle_hash"), dedup("src") === outdeg("__on"))
      .select(col("src"), col("dst"), col("__od"))
  }

  /** Build-once/serve-many lifecycle: write the collapsed edge list
    * (with out-degrees) and the node list as catalog tables unless
    * they already exist (idempotent; existence-keyed like
    * [[Retrieval.ensureBm25Tables]], so dataset identity must ride in
    * the table name). The edge table is BUCKETED by `src` (the
    * [[graft.sources.Bucketed]] co-location discipline): a bucketed
    * scan already satisfies the per-iteration join's hash
    * distribution, so serving pins the scan with NO shuffle at all —
    * the one-time src repartition moves from every serve call into
    * the build. The raw pair stream is read exactly once per build;
    * every [[pageRankMicroFromTable]] call after is two narrow table
    * scans plus the iterations. Nodes land in `<table>_nodes`. */
  def ensureEdgeTable(spark: SparkSession, edges: => DataFrame,
                      srcCol: String, dstCol: String, table: String,
                      assumeDistinct: Boolean = false,
                      buckets: Int = 32): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val nodesTable = table + "_nodes"
    if (!spark.catalog.tableExists(table)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, table)
      edgesWithOutDegree(edges, srcCol, dstCol, assumeDistinct)
        .write.mode("overwrite")
        .bucketBy(buckets, "src").sortBy("src")
        .saveAsTable(table)
    }
    if (!spark.catalog.tableExists(nodesTable)) refreshNodesTable(spark, table)
  }

  /** Recompute `<table>_nodes` from the CURRENT edge table. The node
    * list is a pure function of the edge list, so this overwrite is
    * idempotent — the streaming maintenance calls it after every
    * applied edge merge (a crash between the edge swap and this
    * refresh leaves a stale-but-recomputable node list that the next
    * batch repairs; nothing is lost). */
  def refreshNodesTable(spark: SparkSession, table: String): Unit = {
    val nodesTable = table + "_nodes"
    graft.sources.Warehouse.clearOrphanLocation(spark, nodesTable)
    val e = spark.table(table)
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .write.mode("overwrite").saveAsTable(nodesTable)
    spark.catalog.refreshTable(nodesTable)
  }

  /** Merge one increment of `(src, dst, __od)` state rows into an
    * existing [[ensureEdgeTable]]-shaped state frame. Unlike the
    * sketch families' per-row-idempotent appends, a graph append is
    * NOT row-local: a new edge changes the out-degree folded into
    * EVERY existing row of its source, so the merge re-collapses the
    * union'd pair set and re-folds out-degrees — one distinct + one
    * count exchange over (state ∪ batch), never an iteration. Rows
    * already present keep their identity (the distinct collapses
    * them); only `__od` values of touched sources change. */
  def mergeEdgeState(state: DataFrame, incr: DataFrame): DataFrame =
    edgesWithOutDegree(
      state.select(col("src"), col("dst"))
        .unionByName(incr.select(col("src"), col("dst"))),
      "src", "dst")

  /** `(node, rank_micro)` after `iterations` synchronous PageRank
    * steps over `edges(srcCol, dstCol)`. Duplicate edges are
    * collapsed (link multiplicity does not multiply mass — the
    * classic formulation); self-loops are legal and kept. Initial
    * rank is the uniform `floor(scale / N)`.
    */
  def pageRankMicro(edges: DataFrame, srcCol: String, dstCol: String,
                    iterations: Int,
                    dampNum: Long = 85L, dampDen: Long = 100L,
                    scale: Long = 1000000000L,
                    checkpointEvery: Int = 5,
                    assumeDistinct: Boolean = false): DataFrame = {
    // Node keys keep their NATIVE type — long keys shuffle and compare
    // far cheaper than decorated strings at web-graph scale.
    //
    // Round-17 build shape: [[edgesWithOutDegree]] is now the ONE-
    // exchange repartition(src) + windowed-count pipeline, so the
    // intermediate dedup frame the old build materialized (a second
    // |edges|-sized copy, written once and scanned three times) is
    // gone — e IS the first materialization, and the node list derives
    // from the pinned e (two cheap scans + a partial-aggregated
    // distinct). Old build: 3 edge-list exchanges + 2 edge-list
    // materializations, 5.4 s at sf0.1; new: 1 exchange + 1, the
    // derivation itself ~0.9 s.
    val spark = edges.sparkSession
    val e0 = Shared.pin(edgesWithOutDegree(edges, srcCol, dstCol, assumeDistinct))
    val edgeCount = e0.count()
    // Round-18 (guide §2.1/§2.2 — fewer, larger partitions; derive the
    // count from the DATA, not the session constant): the iteration
    // loop runs `iterations × 3` stages whose exchanges all inherit
    // spark.sql.shuffle.partitions, a constant sized for the session's
    // scan parallelism. For a small graph that is pure per-task
    // overhead — the round-17 scaling block measured q95 running ~3×
    // FASTER at 8 cores/8 partitions than at 32 (same plan, same
    // data), because 32 partitions × 4 iterations × 3 frames of
    // KB-sized shuffle blocks is scheduling cost, not compute. The
    // partition count below is derived from the measured edge count:
    // parallelism ramps one task per ~1M edges up to the session's
    // core count, then partition COUNT grows past the core count only
    // when partitions would exceed ~4M edges (~128 MB) each — the same
    // number a 100 TB graph needs so per-task hash state stays bounded
    // (the old conf-driven behavior, restored exactly where it
    // matters). The AQE coalescing that would normally fix the small
    // case cannot: the loop's frames are pinned, and their stored
    // partitioning is fixed.
    val p = iterationPartitions(edgeCount,
      spark.sparkContext.defaultParallelism)
    val prevConf = spark.conf.get("spark.sql.shuffle.partitions")
    val e = if (p == prevConf.toInt) e0 else {
      // one extra |edges|-sized exchange at build time (read from the
      // pin, written once) buys every iteration join/aggregate the
      // adaptive layout — the SHUFFLE_HASH joins need e's partitioning
      // to MATCH the iteration exchanges' count or they re-exchange
      // the edge list every step
      val r = Shared.pin(e0.repartition(p, col("src")))
      Shared.release(e0)
      r
    }
    // The session conf steers every exchange the iteration plan makes
    // (contribution aggregate, node distinct); restored in the finally
    // after the final ranks are PINNED, so no plan of this build
    // executes under the caller's conf.
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    try {
      val nodes = Shared.pin(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      iterateAndRelease(e, nodes, iterations, dampNum, dampDen, scale,
        checkpointEvery, epsilonMicro = 0L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevConf)
  }

  /** Partition count for the iteration loop's exchanges, derived from
    * the measured edge count (guide §2.2): one task per ~1M edges up
    * to `cores` (a local fixture's 4-step loop must not pay cores×
    * task launches per stage to shuffle kilobytes), then one partition
    * per ~4M edges (~128 MB — the guide's partition-size band) so a
    * web-scale graph's per-task join/aggregate state stays bounded no
    * matter how far past the core count it grows. */
  private[graft] def iterationPartitions(edgeCount: Long, cores: Int): Int = {
    val floor = math.min(cores.toLong, 1L + (edgeCount - 1L).max(0L) / 1000000L)
    val byBytes = 1L + (edgeCount - 1L).max(0L) / 4000000L
    math.max(1L, math.max(floor, byBytes)).toInt
  }

  /** PageRank served off a prebuilt [[ensureEdgeTable]] pair: reads
    * `(src, dst, __od)` and `<table>_nodes`, pins both, and pays only
    * the iterations — ~0.15 s per step at sf0.1 where the ad-hoc
    * build costs ~9 s. The edge table's `src` bucketing IS the join
    * distribution, so the pinned scan needs no shuffle (pass
    * `repartitionEdges = true` for an external table that was not
    * written bucketed — without it such a table re-exchanges the
    * whole edge list inside EVERY iteration). With `epsilonMicro > 0`
    * the loop becomes a CONVERGED run: it stops at the first
    * iteration whose largest per-node rank change is ≤ `epsilonMicro`
    * micro-units (or at `iterations`, whichever comes first).
    * Convergence checking pins and compares every step (one extra
    * |nodes|-row integer aggregate per step) — leave it 0 to replay a
    * fixed unroll bit-for-bit. */
  def pageRankMicroFromTable(spark: SparkSession, table: String,
                             iterations: Int,
                             dampNum: Long = 85L, dampDen: Long = 100L,
                             scale: Long = 1000000000L,
                             checkpointEvery: Int = 5,
                             epsilonMicro: Long = 0L,
                             repartitionEdges: Boolean = false): DataFrame = {
    val scan = spark.table(table)
    val e = Shared.pin(if (repartitionEdges) scan.repartition(col("src")) else scan)
    val nodes = Shared.pin(spark.table(table + "_nodes"))
    iterateAndRelease(e, nodes, iterations, dampNum, dampDen, scale,
      checkpointEvery, epsilonMicro)
  }

  /** The shared synchronous-iteration loop. Takes ownership of the
    * pinned `e`/`nodes` scratch frames and releases them once the
    * final ranks are pinned. */
  private def iterateAndRelease(e: DataFrame, nodes: DataFrame,
                                iterations: Int, dampNum: Long,
                                dampDen: Long, scale: Long,
                                checkpointEvery: Int,
                                epsilonMicro: Long): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    require(scale > 0, s"scale must be positive, got $scale")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    require(epsilonMicro >= 0, s"epsilonMicro must be >= 0, got $epsilonMicro")

    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    val base = scale * (dampDen - dampNum) / (dampDen * n)
    val r0 = scale / n

    var ranks = nodes.withColumn("rank_micro", lit(r0))
    var pinned: Option[DataFrame] = None
    // convergence checking needs CONSECUTIVE iterations materialized
    val every = if (epsilonMicro > 0) 1 else checkpointEvery
    var i = 0
    var converged = false
    while (i < iterations && !converged) {
      val prev = ranks
      // dangling nodes have no e row — their out-mass drops here.
      //
      // Join strategies are pinned (guide §3.1, deliberate choice):
      // both per-iteration joins carry a SHUFFLE_HASH hint. Without
      // it the static planner put a SortMergeJoin here, which re-
      // SORTED the full pinned edge list on src EVERY iteration
      // (|edges| log |edges| per step — the edge list is static!),
      // and broadcast the contribution frame in the rank update —
      // wrong at scale, where contribs is |nodes|-sized and a
      // broadcast would OOM the driver. With the hints: prev is
      // already HashPartitioning(node) (it is the previous update
      // join's stream side), the pinned e holds HashPartitioning(src)
      // from the build, contribs aggregates into
      // HashPartitioning(node) — so each iteration's only exchange
      // is the contribution SUM's, the PageRank minimum. The hash
      // build side is |nodes|/partitions rows per task (ranks or
      // contribs, never edges) — bounded the same way the rank
      // frame itself is; raise partitions with graph size.
      val contribs = prev.hint("shuffle_hash")
        .join(e, prev("node") === e("src"))
        .select(col("dst").as("node"),
          // `div`, not `/`: Column./ is DOUBLE division, whose
          // round-to-nearest can land ON an integer the true quotient
          // sits just under — truncating that is off by one vs exact
          // integer floor. `div` is exact integral division.
          expr(s"(rank_micro * $dampNum) div ($dampDen * __od)").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__m"))
      ranks = nodes.join(contribs.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("__m"), lit(0L))).as("rank_micro"))
      i += 1
      if (i % every == 0 || i == iterations) {
        val next = Shared.pin(ranks) // BEFORE releasing the frame it reads
        if (epsilonMicro > 0) {
          // largest per-node step delta, in exact integer micro-units
          val delta = next.as("a")
            .join(prev.select(col("node"), col("rank_micro").as("__p")), "node")
            .agg(max(abs(col("rank_micro") - col("__p"))).as("d"))
            .head().getLong(0)
          converged = delta <= epsilonMicro
        }
        pinned.foreach(Shared.release)
        pinned = Some(next)
        ranks = next
      }
    }
    // iterations == 0 returns the uniform init — pin it too, so the
    // scratch frames can be released uniformly below
    if (pinned.isEmpty) ranks = Shared.pin(ranks)
    // the final ranks are pinned, so nothing recomputes through these
    Shared.release(e)
    Shared.release(nodes)
    ranks
  }
}
