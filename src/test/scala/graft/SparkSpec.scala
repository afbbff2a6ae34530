package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ids of the RDDs whose blocks the session holds stored. */
  def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The executed plan of `df`, followed by the executed plans of the
    * frames pinned while `df` was built (each [[Shared.pin]] runs as one
    * `localCheckpoint` action), so a property of a pinned subplan stays
    * assertable although `df`'s own plan only scans the pin. The pins
    * are freed before it returns. */
  def planWithPins(df: => DataFrame): String = Shared.scope {
    val pins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = s"plan_marker_${System.nanoTime()}"
    @volatile var drained = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "localCheckpoint") pins.add(qe.executedPlan.toString)
        else if (qe.executedPlan.toString.contains(marker)) drained = true
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val p = df.queryExecution.executedPlan.toString
      // listener delivery is async but ordered: once the marker query
      // is seen, every pin made before it has been delivered
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(50)
      assert(drained, "query listener never delivered the marker")
      (p +: pins.toArray(Array.empty[String]).toSeq).mkString("\n")
    } finally spark.listenerManager.unregister(listener)
  }
}
