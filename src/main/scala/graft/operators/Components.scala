package graft.operators

import graft.Shared
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair/edge frame — the step
  * that turns near-duplicate PAIRS (MinHash/SimHash/n-gram output)
  * into duplicate CLUSTERS so a corpus can keep exactly one
  * representative per group. Transitivity matters: a–b and b–c verified
  * pairs mean {a,b,c} is one cluster even when (a,c) itself was never a
  * candidate.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each
  * round is two grouped aggregations over the edge list, the edge set
  * only ever points toward smaller labels, and convergence takes
  * O(log n) rounds on any graph (a path graph converges in ~log
  * rounds where naive min-label propagation needs diameter rounds).
  * Everything stays distributed: no edge list on the driver, each
  * round checkpoints its frame and explicitly frees the superseded
  * round's blocks, and the fixpoint test is exact edge-set equality.
  */
object Components {

  /** `(node, component)` for every node appearing in `edges`, where
    * `component` is the smallest node id in the node's connected
    * component. Input columns `aCol`/`bCol` must share one numeric/
    * comparable type; self-loops and duplicate/reversed edges are
    * tolerated (a node whose only edge is a self-loop is its own
    * singleton component). Nodes not mentioned in any edge at all are
    * absent from the output — corpus singletons are the caller's
    * id set minus this frame (see [[Dedup.dropNearDuplicateClusters]],
    * where that difference is exactly the left-anti join).
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIterations: Int = 50): DataFrame = {
    // canonical working set: both directions, no self-loops
    def sym(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()

    // every round is pinned (an iterated DataFrame's LOGICAL plan nests
    // one level per round even when persisted, and ~10+ rounds of star
    // operations overflow Catalyst's analysis stack); superseded rounds
    // are released below, so at most three edge-set copies are stored
    // at once on exactly the corpus-scale graphs this targets.
    // The input pair list is pinned before sym() references it twice
    // (u,v and v,u branches) — otherwise an expensive upstream pair
    // generation (e.g. n-gram Jaccard) executes once per branch
    val input = Shared.pin(edges.select(col(aCol).as("u"), col(bCol).as("v")))

    // row counts ride each checkpoint's materialization job as an
    // Observation (computed by the tasks that are already running) —
    // the fixpoint precheck below then costs zero extra jobs per
    // round, instead of the two count() jobs it used to launch.
    def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = Shared.pin(df.observe(obs, count(lit(1)).as("n")))
      (ck, obs.get("n").asInstanceOf[Long])
    }

    var (cur, curCount) = checkpointCounted(sym(input))

    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // large-star: every neighbor v > u links to m(u) = min(u, N(u))
      val withMin = cur.groupBy("u")
        .agg(min(col("v")).as("mnbr"))
        .withColumn("m", least(col("u"), col("mnbr")))
        .select("u", "m")
      val large = cur.join(withMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      val afterLarge = Shared.pin(sym(large))

      // small-star: every neighbor v <= u (and u itself) links to m(u)
      val directed = afterLarge.filter(col("v") < col("u"))
      val dmin = directed.groupBy("u").agg(min(col("v")).as("m"))
      val small = directed.join(dmin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .union(dmin.select(col("u"), col("m").as("v")))
      val (next, nextCount) = checkpointCounted(sym(small))

      // fixpoint: the symmetric edge sets are equal (both canonical
      // and deduped, so equal counts + empty anti-join is equality).
      // The count precheck is free (observed above); the exact
      // anti-join runs only on rounds whose counts already agree —
      // typically once, at convergence itself.
      converged = nextCount == curCount && next.except(cur).isEmpty
      // (`input` stays pinned — the lazy singleton/root frames below
      // read it when the CALLER executes the result)
      Shared.release(afterLarge)
      Shared.release(cur)
      cur = next
      curCount = nextCount
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIterations rounds")

    // at fixpoint the graph is a union of stars rooted at component
    // minima: every node points at its root, roots point at nothing
    val members = cur.filter(col("v") < col("u"))
      .select(col("u").as("node"), col("v").as("component"))
    val roots = cur.select(col("v").as("node")).distinct()
      .join(members.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    // nodes whose every edge was a self-loop vanished from the working
    // set at canonicalization; they are still named by the input, so
    // they surface as their own singleton components
    val allNodes = input.select(col("u").as("node"))
      .union(input.select(col("v").as("node"))).distinct()
    val isolated = allNodes
      .join(members.select(col("node")).union(roots.select(col("node"))),
        Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    members.union(roots).union(isolated)
  }

  /** Append a batch of near-duplicate PAIRS to a persisted component
    * CATALOG — the streaming-maintenance half of the cluster
    * lifecycle (every dedup family streams pairs: q83 n-gram, q109
    * MinHash; this keeps their CLUSTERS current without re-clustering
    * the corpus). The classic split of a distributed union-find:
    *
    *  - `table` `(node, component)` is APPEND-ONLY — each node's
    *    assignment AT FIRST SIGHT, in terms of the then-current
    *    representatives;
    *  - `table_remap` `(old_comp, new_comp)` records merges, kept
    *    PATH-COMPRESSED on every append (each historical id maps
    *    DIRECTLY to its current representative — resolution is ONE
    *    join, never an iteration);
    *  - a batch reduces to a REPRESENTATIVE-LEVEL graph first (each
    *    endpoint resolves through the catalog; in-cluster edges
    *    become self-loops and vanish), so the batch's
    *    [[connectedComponents]] run touches O(|batch| + touched reps)
    *    nodes, NEVER the corpus — and the base table is never
    *    rewritten; only the |merges|-sized remap is.
    *
    * Replay-safe without a ledger: a re-delivered batch's edges all
    * resolve to self-loops and its nodes anti-join away — nothing
    * changes (the q109/q88c append discipline). Representatives
    * follow the batch semantics exactly: a component's id is the
    * smallest node id EVER seen in it (a later-arriving smaller node
    * re-roots the cluster through the remap). Ids must be integral
    * and unique across the corpus. Serve with
    * [[componentsFromTable]] — identical answers to a from-scratch
    * [[connectedComponents]] over every pair delivered so far
    * (battery q126 pins the streamed lifecycle closed-form). */
  def appendToComponentsTable(spark: SparkSession, pairs: DataFrame,
                              aCol: String, bCol: String,
                              table: String): Unit = Shared.scope {
    val remapT = table + "_remap"
    val e = pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
    if (!spark.catalog.tableExists(table)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, table)
      graft.sources.Warehouse.clearOrphanLocation(spark, remapT)
      connectedComponents(e, "u", "v")
        .select(col("node").cast("long"), col("component").cast("long"))
        .write.saveAsTable(table)
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("old_comp",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("new_comp",
              org.apache.spark.sql.types.LongType))))
        .write.saveAsTable(remapT)
      return
    }
    val eCk = Shared.pin(e) // referenced by 2 endpoint joins
    val base = spark.table(table)
    val remap = spark.table(remapT)
    val resolve = componentsFromTable(spark, table)
    // endpoints through the catalog; unseen nodes represent themselves
    val repEdges = eCk
      .join(resolve.select(col("node").as("u"), col("component").as("cu")),
        Seq("u"), "left")
      .join(resolve.select(col("node").as("v"), col("component").as("cv")),
        Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("a"),
        coalesce(col("cv"), col("v")).as("b"))
      .filter(col("a") =!= col("b"))
    val batchNodes = eCk.select(col("u").as("node"))
      .union(eCk.select(col("v").as("node"))).distinct()
    val newNodes = Shared.pin(batchNodes
      .join(base.select("node"), Seq("node"), "left_anti"))
    if (repEdges.isEmpty && newNodes.isEmpty) return // pure replay: no-op
    val cc = Shared.pin(connectedComponents(repEdges, "a", "b"))
    // merges among EXISTING representatives (cc nodes that are not new)
    val cm = cc.join(newNodes, Seq("node"), "left_anti")
      .filter(col("component") =!= col("node"))
      .select(col("node").as("old_comp"), col("component").as("new_comp"))
    // path-compress the standing remap through this batch's merges,
    // then add them; materialize BEFORE overwriting the table read above
    val updatedRemap = Shared.pin(remap.alias("r")
      .join(cm.alias("m"), col("r.new_comp") === col("m.old_comp"), "left")
      .select(col("r.old_comp").as("old_comp"),
        coalesce(col("m.new_comp"), col("r.new_comp")).as("new_comp"))
      .unionByName(cm)
      .distinct())
    updatedRemap.write.mode("overwrite").saveAsTable(remapT)
    // base stays append-only: new nodes land with their (current)
    // component; self-loop-only newcomers are their own singletons
    val newAssign = cc.join(newNodes, Seq("node"), "left_semi")
    val newSingletons = newNodes
      .join(cc.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    newAssign.unionByName(newSingletons)
      .select(col("node").cast("long"), col("component").cast("long"))
      .write.mode("append").saveAsTable(table)
  }

  /** `(node, component)` for everything appended so far: the base
    * assignments resolved through the path-compressed remap — ONE
    * left join (the remap side is |merges|-sized, typically
    * broadcast), no iteration, no corpus rewrite ever. */
  def componentsFromTable(spark: SparkSession, table: String): DataFrame = {
    val base = spark.table(table)
    val remap = spark.table(table + "_remap")
    base.join(remap, base("component") === remap("old_comp"), "left")
      .select(base("node"),
        coalesce(remap("new_comp"), base("component")).as("component"))
  }
}
