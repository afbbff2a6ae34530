package citybench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by the benchmark's spans and Spark's event times:
  * epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Seconds since JVM start at which each phase of the run ended; the
  * report shows where a run's wall time goes. */
object Phases {
  private val start = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  val marks = mutable.ArrayBuffer.empty[(String, Double)]
  def mark(label: String): Unit = marks += label -> (Clock.nowMs - start) / 1000
}

object Stats {
  /** Nearest-rank percentile of an ascending sequence. */
  def pct(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Relative change of the median from the first to the last quarter of
    * samples taken in time order. */
  def drift(inOrder: Seq[Double]): Double = {
    val q = inOrder.size / 4
    if (q == 0) 0.0
    else {
      val all = median(inOrder)
      if (all == 0) 0.0 else (median(inOrder.takeRight(q)) - median(inOrder.take(q))) / all
    }
  }
}

/** JVM-wide counters read at window edges. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Double = gcs.map(g => math.max(0L, g.getCollectionTime)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Heap in use after full collections: the least of a few, spaced so
    * that a micro-batch in flight, or blocks that Spark's cleaner frees
    * only after a collection has found their owner unreachable, do not
    * count. */
  def retainedHeapMb: Double = (1 to 3).map { _ =>
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Thread.sleep(200)
    used
  }.min
}

/** One timed interval. `key` is unique; `parent` is the key of the
  * enclosing span ("" for a root); spans sharing `op` belong to one
  * operation (a closed-loop op or one micro-batch). */
final case class Span(key: String, name: String, start: Double, end: Double,
                      parent: String, op: String)

/** Wraps the benchmark's calls into the program. The untraced probe
  * only runs the call; [[Tracer]] also records a span around it. */
trait Probe {
  def call[T](name: String, op: String, parent: String = "")(f: String => T): T
}

object Untraced extends Probe {
  def call[T](name: String, op: String, parent: String)(f: String => T): T = f("")
}

/** Span recorder for traced runs. Bench-call spans tag the jobs they
  * submit through a local property, so [[SparkCounters]] can parent the
  * job spans. Spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession) extends Probe {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong()

  def call[T](name: String, op: String, parent: String)(f: String => T): T = {
    val key = "s" + seq.incrementAndGet()
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, key)
    val t0 = Clock.nowMs
    try f(key)
    finally {
      spans.add(Span(key, name, t0, Clock.nowMs, parent, op))
      sc.setLocalProperty(Tracer.SpanProp, outer)
    }
  }
}

object Tracer {
  val SpanProp = "citybench.span"
}

/** Task, stage and job counters plus job and stage spans, from a
  * SparkListener. Jobs are parented to the bench-call span that
  * submitted them or, inside a stream, to their micro-batch. */
final class SparkCounters(tracer: Tracer) extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val schedulerDelayMs = new DoubleAdder
  val runMs = new DoubleAdder
  val cpuMs = new DoubleAdder
  val shuffleReadBytes = new DoubleAdder
  val shuffleWriteBytes = new DoubleAdder
  val spillBytes = new DoubleAdder
  val resultBytes = new DoubleAdder

  private val jobOpen = mutable.Map.empty[Int, (Double, String, String)]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    val (parent, op) = (span, batch) match {
      case (Some(s), _) => (s, "")
      case (None, Some(b)) => ("b" + b, b)
      case _ => ("", "")
    }
    jobOpen(e.jobId) = (e.time.toDouble, parent, op)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.incrementAndGet()
    jobOpen.remove(e.jobId).foreach { case (t0, parent, op) =>
      tracer.spans.add(Span("j" + e.jobId, "spark.job", t0, e.time.toDouble, parent, op))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.incrementAndGet()
    val info = e.stageInfo
    for (t0 <- info.submissionTime; t1 <- info.completionTime; job <- stageJob.get(info.stageId))
      tracer.spans.add(Span(s"g${info.stageId}.${info.attemptNumber()}", "spark.stage",
        t0.toDouble, t1.toDouble, "j" + job, ""))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + info.gettingResultTime
      schedulerDelayMs.add(math.max(0L, info.duration - overhead).toDouble)
      runMs.add(m.executorRunTime.toDouble)
      cpuMs.add(m.executorCpuTime / 1e6)
      shuffleReadBytes.add((m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten.toDouble)
      spillBytes.add((m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      resultBytes.add(m.resultSize.toDouble)
    }
  }

  /** Per-op (or per-batch) averages of the counters. */
  def perOp(n: Double): Map[String, Double] = {
    val d = math.max(1.0, n)
    Map(
      "spark.jobs" -> jobs.get / d,
      "spark.stages" -> stages.get / d,
      "spark.tasks" -> tasks.get / d,
      "spark.scheduler_delay_ms" -> schedulerDelayMs.sum / d,
      "spark.executor_run_ms" -> runMs.sum / d,
      "spark.executor_cpu_ms" -> cpuMs.sum / d,
      "spark.shuffle_read_bytes" -> shuffleReadBytes.sum / d,
      "spark.shuffle_write_bytes" -> shuffleWriteBytes.sum / d,
      "spark.spill_bytes" -> spillBytes.sum / d,
      "spark.result_bytes" -> resultBytes.sum / d)
  }
}

/** Planning time, files scanned and files/partitions/bytes/rows written,
  * from the executed plans of every query the session runs. */
final class SqlCounters extends QueryExecutionListener {
  val planningMs = new DoubleAdder
  val filesRead = new DoubleAdder
  val filesWritten = new DoubleAdder
  val partsWritten = new DoubleAdder
  val bytesWritten = new DoubleAdder
  val rowsWritten = new DoubleAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planningMs.add(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Running totals, for differences across a window. */
  def values: Map[String, Double] = Map(
    "planning_ms" -> planningMs.sum, "files_read" -> filesRead.sum,
    "files_written" -> filesWritten.sum, "parts_written" -> partsWritten.sum,
    "bytes_written" -> bytesWritten.sum, "rows_written" -> rowsWritten.sum)

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  private def walk(p: SparkPlan): Unit = {
    p match {
      case s: FileSourceScanExec => filesRead.add(metric(s, "numFiles"))
      case w: DataWritingCommandExec =>
        filesWritten.add(metric(w, "numFiles"))
        partsWritten.add(metric(w, "numParts"))
        bytesWritten.add(metric(w, "numOutputBytes"))
        rowsWritten.add(metric(w, "numOutputRows"))
      case _ =>
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.innerChildren.collect { case c: SparkPlan => c }
    }
    (p.children ++ inner).foreach(walk)
  }
}
