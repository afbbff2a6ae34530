package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one way this library materializes a shared subplan, and the one
  * way it lets go of it.
  *
  * Spark re-executes a subplan once per plan branch that references it,
  * so a frame that feeds a self-join, two join-backs, a count and a
  * write, or the next round of an iteration is computed once per
  * consumer unless it is materialized. [[pin]] materializes it EAGERLY
  * with `localCheckpoint`: the rows are stored as raw partitions in the
  * block managers (memory, spilling to local disk) and the returned
  * frame is a scan over those blocks with its lineage CUT. Cutting the
  * lineage is part of the contract, not a side effect:
  *  - iterated frames (connected components, PageRank ranks) stay one
  *    plan node deep instead of nesting one level per round;
  *  - a delta computed against a table can be appended to that same
  *    table without re-deriving itself from the table it just wrote;
  *  - the consumers read raw partitions, with none of the columnar
  *    encode/decode of `persist()`'s in-memory relation, which measured
  *    slower than recomputing on the n-gram pair plans.
  *
  * The price is fault tolerance. A pinned frame cannot be recomputed:
  * when an executor holding its blocks is lost (or decommissioned by
  * dynamic allocation) a job that reads them fails instead of
  * re-running the lineage. The library assumes local mode, or a cluster
  * whose executors outlive the query. A deployment that loses executors
  * mid-query needs reliable `checkpoint` to a checkpoint dir in place of
  * `localCheckpoint` here; no call site depends on which one is used.
  *
  * Release is explicit, because neither `Dataset.unpersist()` nor
  * `spark.catalog.clearCache()` frees a local checkpoint (the cache
  * manager never saw it); only unpersisting the stored RDD does.
  *  - [[scope]] frees every pin made inside it on the calling thread
  *    when the block returns or throws. Every query attempt of the
  *    battery runs in one, and so does every function that consumes its
  *    own pins before it returns (table appends, streaming micro-batch
  *    bodies, the demo runs).
  *  - [[release]] frees a pin at once, for a frame superseded inside a
  *    longer computation (the previous round of an iteration).
  *  - A pin made on a thread with no open scope is not tracked: it
  *    lives until it is released or Spark's ContextCleaner collects it
  *    after the frame is garbage.
  * A function that returns a frame reading its own pins must not open a
  * scope around them; the pins belong to its caller's scope.
  */
object Shared {
  // open scopes of the calling thread, innermost first; each holds the
  // stored RDDs of the pins made while it was innermost
  private val open = ThreadLocal.withInitial[List[ArrayBuffer[RDD[_]]]](() => Nil)

  /** `ds` materialized now, its lineage cut; tracked by the innermost
    * open [[scope]] of this thread, if any. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val pinned = ds.localCheckpoint()
    open.get.headOption.foreach(_ ++= stored(pinned))
    pinned
  }

  /** Free the pinned blocks `ds` reads, now. `ds` must not be read
    * afterwards, nor any lazy frame derived from it. */
  def release(ds: Dataset[_]): Unit = stored(ds).foreach(free)

  /** Run `body`, then free every pin it made on this thread (also when
    * it throws). A nested scope frees only its own pins. */
  def scope[A](body: => A): A = {
    val outer = open.get
    val mine = ArrayBuffer.empty[RDD[_]]
    open.set(mine :: outer)
    try body
    finally {
      open.set(outer)
      mine.foreach(free)
    }
  }

  private def stored(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.logical.collectLeaves().collect { case r: LogicalRDD => r.rdd }

  // not RDD's unpersist: it warns, once per pin, that a local checkpoint
  // cannot be recomputed, which is what a pin is
  private def free(rdd: RDD[_]): Unit =
    org.apache.spark.sql.graftbridge.ColumnBridge.freeRdd(rdd)
}
