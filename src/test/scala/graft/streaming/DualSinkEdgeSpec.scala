package graft.streaming

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.SparkSpec
import graft.sources.Scratch
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Edge cases of the one-job, exactly-once vision sink, driven through
  * `DualSink.writeBatch` directly. */
class DualSinkEdgeSpec extends SparkSpec {
  import spark.implicits._

  /** Midnight UTC between 2023-11-14 and 2023-11-15. */
  private val Midnight = 1700006400000L

  /** Two cameras, one frame each per 500 ms from 2 s before midnight to
    * 1.5 s after it; every third frame has no detections. */
  private def frames(): Seq[FrameDets] =
    (-4 until 4).flatMap { i =>
      Seq("CAM_01", "CAM_02").map { cam =>
        val x = (if (cam == "CAM_01") 0 else 300) + (i + 4) * 8
        val dets =
          if ((i + 4) % 3 == 2) Nil
          else Seq(DetRaw("Person", x, 80, x + 60, 200), DetRaw("Car", x + 150, 170, x + 210, 290))
        FrameDets(cam, Midnight + i * 500L, dets)
      }
    }

  /** Tracked rows as a local relation, so writing them runs no upstream job. */
  private def tracked(fs: Seq[FrameDets]): DataFrame =
    VisionStreamJob.track(fs.toDS()).collect().toSeq.toDS().toDF()

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.groupMapReduce((r: Row) => r.toSeq)(_ => 1)(_ + _)

  /** Data files under `dir`, skipping `_`/`.`-prefixed entries as Spark's listings do. */
  private def dataFiles(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .flatMap(f => if (f.isDirectory) dataFiles(f) else Seq(f.getPath))

  private def lastCommitted(root: String): Long =
    new BatchCommit(spark.sessionState.newHadoopConf(), 0L, s"$root/lake", Some(s"$root/warehouse"))
      .lastCommitted

  test("an empty micro-batch commits its log entry and writes no data files") {
    val root = Scratch.dir("dualsink_empty").toString
    DualSink.writeBatch(tracked(Nil), 0L, s"$root/warehouse", s"$root/lake")
    assert(lastCommitted(root) == 0L)
    assert(dataFiles(new File(root)).isEmpty, dataFiles(new File(root)))
    assert(!new File(s"$root/lake/${BatchCommit.StagingDir}").exists())
  }

  test("a batch id already in the sink log is not written again") {
    val root = Scratch.dir("dualsink_replay").toString
    val batch = tracked(frames())
    DualSink.writeBatch(batch, 3L, s"$root/warehouse", s"$root/lake")
    val first = dataFiles(new File(root)).sorted
    assert(first.nonEmpty)
    DualSink.writeBatch(batch, 3L, s"$root/warehouse", s"$root/lake")
    DualSink.writeBatch(batch, 2L, s"$root/warehouse", s"$root/lake")
    assert(dataFiles(new File(root)).sorted == first)
    assert(lastCommitted(root) == 3L)
    // the log keeps only the last batch id
    assert(new File(s"$root/lake/${BatchCommit.LogDir}").list().filterNot(_.startsWith(".")).toSeq ==
      Seq("3"))
  }

  test("frames across midnight UTC land in two day= directories; both legs carry the batch id") {
    val root = Scratch.dir("dualsink_midnight").toString
    val batch = tracked(frames())
    DualSink.writeBatch(batch, 5L, s"$root/warehouse", s"$root/lake")

    Seq("day=14", "day=15").foreach { d =>
      assert(dataFiles(new File(s"$root/lake/year=2023/month=11/$d")).nonEmpty, d)
    }
    val lake = spark.read.json(s"$root/lake")
    val perDay = lake.groupBy("day").agg(count(lit(1)).as("n"), min("event_ms"), max("event_ms"))
      .orderBy("day").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(perDay == Seq((14, 8L, Midnight - 2000, Midnight - 500), (15, 8L, Midnight, Midnight + 1500)),
      perDay)
    def frameKeys(df: DataFrame) =
      rows(df.select(col("camera_id"), col("event_ms"), col("total_objects").cast("long")))
    assert(frameKeys(lake) == frameKeys(batch))

    val wh = spark.read.parquet(s"$root/warehouse")
    val want = rows(DualSink.toWarehouseRows(batch))
    assert(want.size > 8 && rows(wh.drop("_batch_id")) == want)
    Seq(lake, wh).foreach { leg =>
      assert(leg.select("_batch_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(5L))
    }
  }

  test("one job writes both legs, reported to QueryExecutionListeners with files and rows") {
    val root = Scratch.dir("dualsink_metrics_edge").toString
    val batch = tracked(frames())
    val jobs = new AtomicInteger()
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val writes = mutable.ArrayBuffer.empty[Map[String, Long]]
    val sql = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan.foreach {
          case w: DataWritingCommandExec if w.cmd.isInstanceOf[DualSinkWrite] =>
            writes.synchronized(writes += w.metrics.map { case (k, m) => k -> m.value })
          case _ =>
        }
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobCounter)
    spark.listenerManager.register(sql)
    try {
      DualSink.writeBatch(batch, 0L, s"$root/warehouse", s"$root/lake")
      val deadline = System.currentTimeMillis() + 15000
      while (writes.synchronized(writes.isEmpty) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(300)
    } finally {
      spark.listenerManager.unregister(sql)
      spark.sparkContext.removeSparkListener(jobCounter)
    }
    assert(jobs.get() == 1, s"jobs: ${jobs.get()}")
    assert(writes.size == 1, writes)
    val m = writes.head
    assert(m("numOutputRows") == 16L + DualSink.toWarehouseRows(batch).count(), m)
    assert(m("numParts") == 2L, m)
    assert(m("numFiles") == dataFiles(new File(root)).size.toLong && m("numFiles") >= 3L, m)
  }
}
