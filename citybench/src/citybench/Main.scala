package citybench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

object Iso {
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val fmtMs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")
  private def at(ms: Long) = LocalDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC)
  def sec(epochSec: Long): String = fmt.format(at(epochSec * 1000))
  def ms(epochMs: Long): String = fmtMs.format(at(epochMs))
}

/** End-to-end numbers of one timed window. Latency samples are in the
  * order the work was issued; `beyond` counts the samples (micro-batches
  * for streams) above the tail percentile. `trend` is the median latency
  * of successive slices of the warm-up and the window, for the report. */
final case class Timed(p50: Double, tail: Double, tailPct: Double, samples: Int,
                       beyond: Int, drift: Double, throughput: Double,
                       latenessP99: Double, trend: Seq[Double])

/** What a workload measured: the untraced window, and for traced runs the
  * traced window with its per-layer metrics and spans. */
final case class Measured(timed: Timed, warmupMs: Double,
                          traced: Option[(Timed, Map[String, Double])])

final case class Checked(attempted: Long, failed: Long, failures: Seq[String])

trait Workload {
  /** Lands the run's input under `dir`; called several times, the last
    * staged copy is the one the run uses. */
  def stage(dir: String): Unit
  /** Warm-up, the untraced timed window and, with a tracer, a traced window. */
  def run(seconds: Int, tracer: Option[Tracer]): Measured
  /** Compares every output of the run against its reference. */
  def check(): Checked
}

/** `train` shrinks every phase of a workload to a token amount; the
  * training run only has to load the classes a real run loads. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, out: String, cores: Int, train: Boolean = false)

object Main {
  /** Staging repeats per run; setup_s uses their median. */
  val StageRepeats = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m.get("cores").map(_.toInt).getOrElse(4))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("citybench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(o)
    val sessionMs = System.currentTimeMillis() - jvmStart
    try {
      if (o.workload == "train") train(spark, o)
      else measure(spark, o, sessionMs)
    } finally spark.stop()
  }

  private def workload(spark: SparkSession, o: Opts): Workload = o.workload match {
    case "vision" => new Vision(spark, o)
    case "lake_batch" => new LakeBatch(spark, o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Runs both workloads once at token size and writes nothing; the
    * build runs this in the JVM that dumps the class-data archive at exit.
    * Output checks are not timed, so they are left out. */
  private def train(spark: SparkSession, o: Opts): Unit = Seq("vision", "lake_batch").foreach { name =>
    val w = workload(spark, o.copy(workload = name, train = true))
    w.stage(s"${o.work}/train-$name")
    w.run(1, None)
    w match { case s: StreamWorkload => s.stop() case _ => }
  }

  private def measure(spark: SparkSession, o: Opts, sessionMs: Double): Unit = {
    val w = workload(spark, o)
    val stageMs = (1 to StageRepeats).map { i =>
      val t0 = Clock.nowMs
      w.stage(s"${o.work}/input$i")
      Clock.nowMs - t0
    }
    Phases.mark("staged")
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val m = w.run(o.seconds, tracer)
    val heapMb = Jvm.retainedHeapMb
    val c = w.check()
    Phases.mark("checked")
    write(o, sessionMs, stageMs, m, heapMb, c, tracer)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  private def timed(t: Timed): String = obj(Seq(
    "latency_p50_ms" -> num(t.p50), "latency_tail_ms" -> num(t.tail),
    "tail_pct" -> num(t.tailPct), "samples" -> t.samples.toString,
    "beyond_tail" -> t.beyond.toString, "drift" -> num(t.drift),
    "throughput_per_s" -> num(t.throughput), "lateness_p99_ms" -> num(t.latenessP99),
    "trend_ms" -> t.trend.map(x => num(math.rint(x))).mkString("[", ", ", "]")))

  /** The run's record for the Python front end: end-to-end numbers,
    * steadiness inputs, output check, and in traced runs the per-layer
    * numbers and every span. */
  private def write(o: Opts, sessionMs: Double, stageMs: Seq[Double], m: Measured,
                    heapMb: Double, c: Checked, tracer: Option[Tracer]): Unit = {
    val setup = Seq(
      "setup.session_ms" -> sessionMs,
      "setup.stage_ms" -> Stats.median(stageMs),
      "setup.warmup_ms" -> m.warmupMs)
    val fields = Seq(
      "workload" -> str(o.workload),
      "setup_s" -> num((sessionMs + Stats.median(stageMs)) / 1000.0),
      "stage_ms" -> stageMs.map(num).mkString("[", ", ", "]"),
      "retained_heap_mb" -> num(heapMb),
      "timed" -> timed(m.timed),
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "failures" -> c.failures.take(20).map(str).mkString("[", ", ", "]"),
      "phases_s" -> obj(Phases.marks.toSeq.map { case (k, v) => k -> num(v) }),
      "setup" -> obj(setup.map { case (k, v) => k -> num(v) })) ++
      m.traced.toSeq.flatMap { case (t, layers) => Seq(
        "traced" -> timed(t),
        "layers" -> obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }))
      } ++
      tracer.toSeq.map { tr =>
        import scala.jdk.CollectionConverters._
        "spans" -> tr.spans.asScala.toSeq.sortBy(_.start).map(s => obj(Seq(
          "key" -> str(s.key), "name" -> str(s.name), "start" -> num(s.start),
          "end" -> num(s.end), "parent" -> str(s.parent), "op" -> str(s.op))))
          .mkString("[\n", ",\n", "]")
      }
    val f = new File(o.out)
    Files.write(f.toPath, obj(fields).getBytes(StandardCharsets.UTF_8))
  }
}
