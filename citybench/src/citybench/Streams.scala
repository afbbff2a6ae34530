package citybench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.citybench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One message value on a topic; `id` is what the output check keys on. */
final case class Msg(topic: String, line: String, id: String)

/** One file the generator publishes into `topic=<topic>/`. `due` is its
  * offset in ms from the start of its phase; every message in the file is
  * created at that moment. */
final case class Pub(name: String, topic: String, msgs: IndexedSeq[Msg], due: Double) {
  lazy val bytes: Array[Byte] = msgs.map(_.line).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
}

/** A published file: when it was due and when its rename completed (epoch ms). */
final case class Sent(pub: Pub, dueMs: Double, doneMs: Double)

/** The files of one run, rendered at staging time from the seed. */
final case class Plan(prime: Seq[IndexedSeq[Pub]], warm: IndexedSeq[Pub], timed: IndexedSeq[Pub],
                      backlog: Seq[IndexedSeq[Pub]], traced: IndexedSeq[Pub],
                      tracedBacklog: Seq[IndexedSeq[Pub]]) {
  def all: Iterator[Pub] =
    (prime.flatten.iterator ++ warm ++ timed ++ backlog.flatten ++ traced ++ tracedBacklog.flatten)
}

/** Writes topic files the way a producer hands them over: a hidden
  * temp file renamed into place, so the file source never lists a
  * partial file. */
final class Publisher(topicBase: String) {
  private def dir(topic: String): Path = Paths.get(topicBase, s"topic=$topic")

  def prepare(p: Pub): Path = {
    val tmp = dir(p.topic).resolve(s".${p.name}.tmp")
    Files.write(tmp, p.bytes)
    tmp
  }

  def place(tmp: Path, p: Pub): Unit =
    Files.move(tmp, dir(p.topic).resolve(p.name), StandardCopyOption.ATOMIC_MOVE)

  /** Open loop on the calling thread: each file appears at its due time
    * whatever the stream is doing. `idle` runs only when the next file is
    * not due for a while. */
  def openLoop(pubs: IndexedSeq[Pub], idle: () => Unit): IndexedSeq[Sent] = {
    val t0 = Clock.nowMs
    pubs.map { p =>
      val due = t0 + p.due
      val tmp = prepare(p)
      if (due - Clock.nowMs > 25) idle()
      val wait = due - Clock.nowMs
      if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
      place(tmp, p)
      Sent(p, due, Clock.nowMs)
    }
  }
}

object Plans {
  private var fileSeq = 0

  private def name(): String = { fileSeq += 1; f"f$fileSeq%07d.txt" }

  /** `seconds` of messages at `rate` per second, one file per topic per tick. */
  def openLoop(msgs: Iterator[Msg], rate: Double, seconds: Double, tickMs: Double): IndexedSeq[Pub] = {
    val n = math.round(rate * seconds).toInt
    (0 until n).map(k => (math.floor(k * 1000.0 / rate / tickMs).toLong, msgs.next()))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (tick, in) =>
        in.map(_._2).groupBy(_.topic).toSeq.sortBy(_._1).map { case (topic, ms) =>
          Pub(name(), topic, ms.toIndexedSeq, (tick + 1) * tickMs)
        }
      }.toIndexedSeq
  }

  /** `n` messages published at once, in files of at most `perFile` messages. */
  def backlog(msgs: Iterator[Msg], n: Int, perFile: Int): IndexedSeq[Pub] =
    (0 until n).map(_ => msgs.next()).grouped(perFile).flatMap { chunk =>
      chunk.groupBy(_.topic).toSeq.sortBy(_._1).map { case (topic, ms) =>
        Pub(name(), topic, ms.toIndexedSeq, 0.0)
      }
    }.toIndexedSeq
}

/** Batch membership and batch times of a running query: membership from
  * the file source's checkpoint log, times from the query's progress. */
final class StreamLog(q: StreamingQuery, checkpoint: String) {
  val progress = mutable.Map.empty[Long, StreamingQueryProgress]

  /** Keeps every progress record of a batch that ran; Spark retains only
    * the recent ones, so this is called often. */
  def poll(): Unit = q.recentProgress.foreach { p =>
    if (p.durationMs.containsKey("addBatch")) progress(p.batchId) = p
  }

  def startMs(b: Long): Double = java.time.Instant.parse(progress(b).timestamp).toEpochMilli.toDouble
  def endMs(b: Long): Double = startMs(b) + progress(b).durationMs.get("triggerExecution").doubleValue
  def duration(b: Long, phase: String): Double =
    Option(progress(b).durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  /** File name → id of the batch that read it. */
  def fileBatches(): Map[String, Long] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case Entry(path, batch) => path.substring(path.lastIndexOf('/') + 1) -> batch.toLong }
      .toMap
  }
}

/** Open-loop streaming workloads: the benchmark's main thread publishes
  * topic files at a fixed offered rate while one query drains them; after
  * the timed window, fixed backlogs published all at once measure the
  * drain rate. */
abstract class StreamWorkload(spark: SparkSession, seconds: Int, trace: Boolean, train: Boolean)
    extends Workload {
  import StreamWorkload._

  /** Offered load in messages per second, and one file per topic per tick. */
  protected def rate: Double
  protected def tickMs: Double
  /** Open-loop seconds before the timed window. */
  protected def warmupSeconds: Double
  /** Drain rounds, and the messages in each round's backlog. */
  protected def backlogRounds: Int
  protected def backlogMsgs: Int
  /** Percentile of message latency reported as `latency_tail_ms`. */
  protected def tailPct: Double
  /** The deterministic message sequence of the run. */
  protected def messages(): Iterator[Msg]
  protected def topics: Seq[String]
  protected def startQuery(topicBase: String, checkpoint: String, out: String): StreamingQuery
  /** Workload-specific per-layer numbers of the traced window, given the
    * window's [[SqlCounters]] totals. */
  protected def layerExtras(sql: Map[String, Double], batches: Seq[Long], sent: Seq[Sent]): Map[String, Double]

  protected var dir: String = _
  protected var plan: Plan = _
  protected var query: StreamingQuery = _
  protected var log: StreamLog = _
  protected def topicBase = s"$dir/topics"
  protected def checkpoint = s"$dir/checkpoint"
  protected def out = s"$dir/out"
  protected var unresolved = 0L

  def stage(dir: String): Unit = {
    this.dir = dir
    topics.foreach(t => Files.createDirectories(Paths.get(topicBase, s"topic=$t")))
    val msgs = messages()
    val perFile = math.max(1, math.round(rate * tickMs / 1000).toInt)
    val (primeRounds, drains, warmup) =
      if (train) (1, 1, 1.0) else (PrimeRounds, backlogRounds, warmupSeconds)
    def backlogs() = Seq.fill(drains)(Plans.backlog(msgs, backlogMsgs, BacklogPerFile))
    val prime = Seq.fill(primeRounds)(Plans.backlog(msgs, perFile * 5, perFile))
    val warm = Plans.openLoop(msgs, rate, warmup, tickMs)
    // a traced run splits its time between an untraced and a traced window
    // and drains only in the traced one
    val window = if (trace) seconds / 2.0 else seconds.toDouble
    val timed = Plans.openLoop(msgs, rate, window, tickMs)
    plan =
      if (trace) Plan(prime, warm, timed, Nil, Plans.openLoop(msgs, rate, window, tickMs), backlogs())
      else Plan(prime, warm, timed, backlogs(), IndexedSeq.empty, Nil)
    plan.all.foreach(_.bytes)
  }

  /** Drains whose pilot and backlog did not land in two separate batches,
    * with what went wrong; [[check]] counts each as a failed operation. */
  protected val drainFailures = mutable.ArrayBuffer.empty[String]

  /** Publishes one backlog at once and returns messages per second over
    * the micro-batch that drains it. The first file goes out alone as a
    * pilot; the rest is renamed in while the pilot's batch runs, after that
    * batch has listed its input, so the whole rest lands in later batches.
    * Renamed in while the stream lists the idle topic tree instead, a
    * backlog would split over two batches in some runs and not others.
    * A drain whose pilot batch never started, or whose rest shares the
    * pilot's batch, gives no rate and is recorded as a failure. */
  private def drain(pubs: IndexedSeq[Pub], probe: Probe, round: Int): Option[Double] = {
    val pub = new Publisher(topicBase)
    probe.call("stream.drain", s"drain$round") { _ =>
      val (pilot, rest) = (pubs.head, pubs.tail)
      val tmps = rest.map(pub.prepare)
      pub.place(pub.prepare(pilot), pilot)
      val deadline = Clock.nowMs + PilotWaitMs
      while (!(query.status.isTriggerActive && query.status.isDataAvailable) && Clock.nowMs < deadline)
        LockSupport.parkNanos(200000)
      val listed = Clock.nowMs < deadline
      rest.zip(tmps).foreach { case (p, tmp) => pub.place(tmp, p) }
      query.processAllAvailable()
      log.poll()
      val fb = log.fileBatches()
      val pilotBatch = fb(pilot.name)
      val shared = rest.count(p => fb(p.name) == pilotBatch)
      if (!listed) {
        drainFailures += s"drain $round: pilot batch did not start within $PilotWaitMs ms"
        None
      } else if (shared > 0) {
        drainFailures += s"drain $round: $shared backlog files landed in the pilot's batch $pilotBatch"
        None
      } else {
        val end = rest.map(p => log.endMs(fb(p.name))).max
        Some(rest.map(_.msgs.size).sum * 1000.0 / (end - log.endMs(pilotBatch)))
      }
    }
  }

  /** Message latencies of an open-loop window: file due time to the end
    * of the batch that committed the file. */
  private def analyse(sent: IndexedSeq[Sent], rates: Seq[Option[Double]],
                      warm: IndexedSeq[Sent] = IndexedSeq.empty): Timed = {
    val fb = log.fileBatches()
    val t0 = (warm ++ sent).headOption.map(_.dueMs).getOrElse(0.0)
    val trend = (warm ++ sent).filter(s => fb.get(s.pub.name).exists(log.progress.contains))
      .groupBy(s => ((s.dueMs - t0) / TrendSliceMs).toInt).toSeq.sortBy(_._1)
      .map { case (_, ss) => Stats.median(ss.map(s => log.endMs(fb(s.pub.name)) - s.dueMs)) }
    val (known, lost) = sent.partition(s => fb.get(s.pub.name).exists(log.progress.contains))
    unresolved += lost.map(_.pub.msgs.size).sum
    val perFile = known.map { s =>
      val b = fb(s.pub.name)
      (b, log.endMs(b) - s.dueMs, s.pub.msgs.size)
    }
    val inOrder = perFile.flatMap { case (_, lat, n) => Iterator.fill(n)(lat) }
    val sorted = inOrder.sorted
    val tail = Stats.pct(sorted, tailPct)
    val beyond = perFile.collect { case (b, lat, _) if lat > tail => b }.distinct.size
    val lateness = sent.map(s => s.doneMs - s.dueMs).sorted
    Timed(Stats.pct(sorted, 0.5), tail, tailPct, inOrder.size, beyond, Stats.drift(inOrder),
      Stats.mean(rates.flatten), Stats.pct(lateness, 0.99), trend)
  }

  def run(seconds: Int, tracer: Option[Tracer]): Measured = {
    val probe = tracer.getOrElse(Untraced)
    val pub = new Publisher(topicBase)
    val t0 = Clock.nowMs
    // the query runs in a clone of the session, which copies the listeners
    // registered before it starts
    val sql = tracer.map { _ => val l = new SqlCounters; spark.listenerManager.register(l); l }
    query = probe.call("stream.start", "start")(_ => startQuery(topicBase, checkpoint, out))
    log = new StreamLog(query, checkpoint)
    plan.prime.foreach { files =>
      files.foreach(p => pub.place(pub.prepare(p), p))
      query.processAllAvailable()
    }
    Phases.mark("primed")
    val warm = pub.openLoop(plan.warm, log.poll)
    Phases.mark("warmed")
    val warmupMs = Clock.nowMs - t0
    val sent = pub.openLoop(plan.timed, log.poll)
    query.processAllAvailable()
    Phases.mark("timed")
    val rates = plan.backlog.zipWithIndex.map { case (b, i) => drain(b, Untraced, i) }
    log.poll()
    Phases.mark("drained")
    val timed = analyse(sent, rates, warm)
    val traced = for (tr <- tracer; l <- sql) yield tracedWindow(tr, pub, l)
    if (traced.nonEmpty) Phases.mark("traced")
    Measured(timed, warmupMs, traced)
  }

  private val phases = Seq(
    "latestOffset" -> "stream.latest_offset", "walCommit" -> "stream.wal_commit",
    "getBatch" -> "stream.get_batch", "queryPlanning" -> "stream.planning",
    "addBatch" -> "stream.add_batch", "commitOffsets" -> "stream.commit_offsets")

  /** Same open loop and drains with listeners attached; per-layer numbers
    * are per micro-batch of the open-loop part. */
  private def tracedWindow(tr: Tracer, pub: Publisher, sql: SqlCounters): (Timed, Map[String, Double]) = {
    val sc = spark.sparkContext
    val ctr = new SparkCounters(tr)
    sc.addSparkListener(ctr)
    Bus.drain(sc)
    val sql0 = sql.values
    val (gc0, jit0, w0) = (Jvm.gcMs, Jvm.jitMs, Clock.nowMs)
    val sent = pub.openLoop(plan.traced, log.poll)
    query.processAllAvailable()
    Bus.drain(sc)
    log.poll()
    val (gc1, jit1, w1) = (Jvm.gcMs, Jvm.jitMs, Clock.nowMs)
    val sqlDelta = sql.values.map { case (k, v) => k -> (v - sql0(k)) }
    val batches = log.progress.keys.toSeq.sorted.filter(b => log.startMs(b) >= w0 && log.endMs(b) <= w1)
    val n = batches.size.toDouble
    val fb = log.fileBatches()
    val due = sent.map(s => s.pub.name -> s.dueMs).toMap
    val filesOf = fb.toSeq.groupBy(_._2).map { case (b, fs) => b -> fs.map(_._1) }
    val layers = Map(
      "stream.batches" -> n,
      "topicstream.files_per_batch" -> Stats.mean(batches.map(b => filesOf.getOrElse(b, Nil).size.toDouble)),
      "topicstream.rows_per_batch" -> Stats.mean(batches.map(b => log.progress(b).numInputRows.toDouble)),
      "topicstream.lag_ms" -> Stats.mean(batches.flatMap { b =>
        val dues = filesOf.getOrElse(b, Nil).flatMap(due.get)
        if (dues.isEmpty) None else Some(log.startMs(b) - dues.min)
      }),
      "sql.planning_ms" -> sqlDelta("planning_ms") / math.max(1.0, n),
      "jvm.gc_ms" -> (gc1 - gc0), "jvm.jit_ms" -> (jit1 - jit0)) ++
      phases.map { case (k, name) => s"${name}_ms" -> Stats.mean(batches.map(b => log.duration(b, k))) } ++
      ctr.perOp(n) ++ layerExtras(sqlDelta, batches, sent)
    val rates = plan.tracedBacklog.zipWithIndex.map { case (b, i) => drain(b, tr, i) }
    Bus.drain(sc)
    sc.removeSparkListener(ctr)
    spark.listenerManager.unregister(sql)
    log.poll()
    batchSpans(tr, log.progress.keys.filter(b => log.startMs(b) >= w0).toSeq)
    (analyse(sent, rates), layers)
  }

  /** Micro-batch spans from progress records: reported phases before the
    * sink are laid out from the trigger start, the sink and offset commit
    * back from its end; jobs move under the phase they started in. */
  private def batchSpans(tr: Tracer, batches: Seq[Long]): Unit = {
    val jobs = tr.spans.asScala.filter(s => s.name == "spark.job" && s.parent.startsWith("b")).toList
    for (b <- batches) {
      val (s, e) = (log.startMs(b), log.endMs(b))
      tr.spans.add(Span(s"b$b", "stream.batch", s, e, "", b.toString))
      val (head, tail) = phases.splitAt(4)
      val fwd = head.scanLeft(s)((t, p) => t + log.duration(b, p._1))
      val bwd = tail.reverse.scanLeft(e)((t, p) => t - log.duration(b, p._1)).reverse
      val iv = head.zip(fwd.zip(fwd.tail)) ++ tail.zip(bwd.zip(bwd.tail))
      val placed = iv.collect { case ((k, name), (a, z)) if z > a =>
        tr.spans.add(Span(s"b$b.$k", name, a, z, s"b$b", b.toString)); (s"b$b.$k", a, z)
      }
      jobs.filter(_.parent == s"b$b").foreach { j =>
        placed.find { case (_, a, z) => j.start >= a && j.start < z }.foreach { case (key, _, _) =>
          tr.spans.remove(j)
          tr.spans.add(j.copy(parent = key))
        }
      }
    }
  }

  def stop(): Unit = if (query != null) { query.stop(); query = null }
}

object StreamWorkload {
  /** Small batches run alone before the open loop starts, so the first,
    * slow batch of a cold JVM does not leave a queue behind. */
  val PrimeRounds = 1
  val BacklogPerFile = 100
  /** Width of a slice of the reported latency trend. */
  val TrendSliceMs = 2000.0
  /** How long a drain waits for the pilot's batch to list its input. */
  val PilotWaitMs = 10000
}
