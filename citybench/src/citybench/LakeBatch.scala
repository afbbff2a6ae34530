package citybench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.citybench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{input_file_name, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.batch.TrafficBatchJob
import graft.generator.Generator
import graft.schemas.Schemas
import graft.sources.{Lake, TopicStream}

/** `lake_batch`: at set-up the collector (`TopicStream.collectToBronze`)
  * lands one fixed bronze traffic lake from seeded topic files; then one
  * client repeats the reference's full batch run over that lake — catalog
  * registration with partition discovery, `TrafficBatchJob.run` to
  * zone-partitioned parquet, the hourly rollup saved as a table, and the
  * zone report over SQL. Every op reads the same lake and writes to a
  * fresh location, so no op sees more data than the one before it.
  * Before the timed ops, the [[CurationLeg]] runs one query of the
  * operator library, and two untimed ops warm the op path. */
final class LakeBatch(spark: SparkSession, o: Opts) extends Workload {
  import LakeBatch._

  private case class Rec(zone: String, hour: Int, vehicles: Int, speed: String,
                         occupancy: String, json: String)

  private val recs: IndexedSeq[Rec] = {
    val rnd = new scala.util.Random(o.seed)
    val zones = Seq("downtown", "industrial", "residential", "commercial")
    val roadTypes = Seq("highway", "arterial", "local")
    // hour varies fastest, so every flush and every input slice spans all hours
    (0 until Hours * RowsPerHour).map { i =>
      val hour = i % Hours
      val zone = zones(rnd.nextInt(zones.size))
      val vehicles = rnd.nextInt(120)
      val speed = "%.1f".format(5 + rnd.nextDouble() * 100)
      val occupancy = "%.2f".format(rnd.nextDouble())
      val ts = Iso.sec(Generator.BaseEpochSec + hour * 3600L + rnd.nextInt(3600))
      Rec(zone, hour, vehicles, speed, occupancy,
        s"""{"sensor_id":"TS_${"%03d".format(i % 16)}","road_id":"R${rnd.nextInt(25)}","road_type":"${roadTypes(rnd.nextInt(3))}","zone":"$zone","vehicle_count":"$vehicles","average_speed":"$speed","occupancy_rate":"$occupancy","event_time":"$ts"}""")
    }
  }

  /** Plain-Scala reference of `hourly_traffic_stats`:
    * (zone, hour) → (total vehicles, mean speed, peak occupancy). */
  private val hourly: Map[(String, Long), (Long, Double, Float)] =
    recs.groupBy(r => (r.zone, (Generator.BaseEpochSec + r.hour * 3600L) * 1000L)).map { case (k, rs) =>
      k -> (rs.map(_.vehicles.toLong).sum, rs.map(_.speed.toFloat.toDouble).sum / rs.size,
        rs.map(_.occupancy.toFloat).max)
    }

  /** Reference zone report: zone → (mean of hourly mean speeds, total vehicles). */
  private val report: Map[String, (Double, Long)] =
    hourly.groupBy(_._1._1).map { case (zone, hs) =>
      zone -> (hs.values.map(_._2).sum / hs.size, hs.values.map(_._1).sum)
    }

  private val curation = new CurationLeg(spark, o.seed)
  private var lake: String = _
  private var ops: String = _

  /** What the collector wrote at set-up, per 1k events where it is a
    * count: (files, hour partitions, bronze bytes per published byte). */
  private var written = (0.0, 0.0, 0.0)

  /** Publishes the records as topic files and lands them with one run of
    * the collector, which leaves small files in every hour partition;
    * stages the curation leg's documents. */
  def stage(dir: String): Unit = {
    lake = s"$dir/bronze/traffic"
    ops = s"$dir/ops"
    curation.stage(s"$dir/curation")
    val topic = Paths.get(dir, "topics", s"topic=$Topic")
    Files.createDirectories(topic)
    val published = recs.grouped(recs.size / FilesPerPartition).zipWithIndex.map { case (rs, i) =>
      val bytes = rs.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(topic.resolve(f"f$i%02d.txt"), bytes)
      bytes.length.toLong
    }.sum
    TopicStream.collectToBronze(spark, s"$dir/topics", Map(Topic -> ("traffic", Schemas.trafficEvent)),
      s"$dir/bronze", lit("2000-01-01T00:00:00"), s"$dir/checkpoint", Trigger.AvailableNow())
      .awaitTermination()
    val files = Files.walk(Paths.get(lake)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !"_.".contains(p.getFileName.toString.head)).toSeq
    val k = recs.size / 1000.0
    written = (files.size / k, files.map(_.getParent).distinct.size / k,
      files.map(Files.size).sum.toDouble / published)
  }

  /** Each op's findings from the checks made right after it; the hourly
    * tables of all ops are read back together in [[check]]. */
  private val opWrong = mutable.LinkedHashMap.empty[Int, Seq[String]]

  /** One full batch run; returns its makespan in ms. Output checks and
    * cleanup of the previous op's processed store run outside the timed
    * region. */
  private def op(i: Int, probe: Probe): Double = {
    val dir = s"$ops/op$i"
    val id = i.toString
    val t0 = Clock.nowMs
    val rows = probe.call("op", id) { key =>
      probe.call("catalog.register", id, key)(_ =>
        Lake.registerTable(spark, "bronze_traffic", lake, Schemas.trafficEvent))
      val traffic = probe.call("batch.run", id, key)(_ => TrafficBatchJob.run(spark, lake, s"$dir/processed"))
      probe.call("warehouse.write", id, key) { _ =>
        spark.sql("DROP TABLE IF EXISTS hourly_traffic_stats")
        TrafficBatchJob.hourlyStats(traffic).write.mode("overwrite")
          .option("path", s"$dir/hourly").saveAsTable("hourly_traffic_stats")
      }
      probe.call("batch.report", id, key)(_ => spark.sql(ReportSql).collect())
    }
    val ms = Clock.nowMs - t0
    opWrong(i) = verify(rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq)
    if (i > 0) delete(Paths.get(s"$ops/op${i - 1}/processed"))
    ms
  }

  /** The registered table lists every hour partition, and the zone report
    * matches its reference. */
  private def verify(rows: Seq[(String, Double, Long)]): Seq[String] = {
    val reportWrong =
      if (rows.map(_._1).toSet != report.keySet) Seq(s"report zones ${rows.map(_._1)} != ${report.keys}")
      else rows.flatMap { case (zone, speed, vehicles) =>
        val (s, v) = report(zone)
        if (v == vehicles && math.abs(math.rint(s * 100) / 100 - speed) <= 0.0100001) None
        else Some(s"report row $zone: expected ($s, $v), got ($speed, $vehicles)")
      } ++ (if (rows.map(-_._2) == rows.map(-_._2).sorted) Nil else Seq("report not ordered by avg_speed"))
    val parts = spark.sql("SHOW PARTITIONS bronze_traffic").collect().length
    val partsWrong = if (parts == Hours) Nil else Seq(s"bronze table lists $parts partitions, expected $Hours")
    partsWrong ++ reportWrong
  }

  /** Every op's hourly table matches the reference. Hourly totals cover
    * every bronze row, so a lost or doubled row fails them. */
  private def hourlyWrong(): Map[Int, Seq[String]] = {
    val OpDir = """.*/op(\d+)/hourly/.*""".r
    val got = spark.read.parquet(s"$ops/op*/hourly").withColumn("file", input_file_name()).collect()
      .groupBy(r => r.getString(5) match { case OpDir(i) => i.toInt })
      .map { case (i, rs) => i -> rs.map { r =>
        (r.getString(0), r.getTimestamp(1).getTime) -> (r.getLong(2), r.getDouble(3), r.getFloat(4))
      }.toMap }
    opWrong.keys.map { i =>
      val mine = got.getOrElse(i, Map.empty)
      i -> (hourly.keySet ++ mine.keySet).toSeq.flatMap { k =>
        (hourly.get(k), mine.get(k)) match {
          case (Some((v, s, p)), Some((v2, s2, p2)))
              if v == v2 && p == p2 && math.abs(s - s2) <= 1e-9 * math.max(1.0, math.abs(s)) => None
          case (e, g) => Some(s"hourly stats of $k: expected $e, got $g")
        }
      }
    }.toMap
  }

  private def delete(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)

  private var next = 0
  /** Back-to-back ops until `seconds` of op time and at least `minOps`
    * ops have been measured. */
  private def loop(seconds: Double, minOps: Int, probe: Probe): IndexedSeq[Double] = {
    val lat = mutable.ArrayBuffer.empty[Double]
    while (lat.size < minOps || lat.sum < seconds * 1000) { lat += op(next, probe); next += 1 }
    lat.toIndexedSeq
  }

  private def timed(lat: IndexedSeq[Double]): Timed = {
    val sorted = lat.sorted
    val tail = Stats.pct(sorted, TailPct)
    Timed(Stats.pct(sorted, 0.5), tail, TailPct, lat.size, lat.count(_ > tail),
      Stats.drift(lat), recs.size * lat.size * 1000.0 / lat.sum, 0.0,
      lat.grouped(TrendOps).map(Stats.median).toSeq)
  }

  def run(seconds: Int, tracer: Option[Tracer]): Measured = {
    val t0 = Clock.nowMs
    val queryMs = curation.run(tracer.getOrElse(Untraced))
    if (!o.train) loop(0.0, WarmupOps, Untraced)
    val warmupMs = Clock.nowMs - t0
    Phases.mark("warmed")
    // a traced run splits its time between an untraced and a traced window
    val (window, minOps) =
      if (o.train) (0.0, 1)
      else if (tracer.isEmpty) (seconds.toDouble, TimedOps)
      else (seconds / 2.0, TracedOps)
    val untraced = timed(loop(window, minOps, Untraced))
    Phases.mark("timed")
    val traced = tracer.map { tr =>
      val sc = spark.sparkContext
      val ctr = new SparkCounters(tr)
      val sql = new SqlCounters
      sc.addSparkListener(ctr)
      spark.listenerManager.register(sql)
      val first = next
      val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
      val lat = loop(window, minOps, tr)
      Bus.drain(sc)
      val (gc1, jit1) = (Jvm.gcMs, Jvm.jitMs)
      sc.removeSparkListener(ctr)
      spark.listenerManager.unregister(sql)
      val n = lat.size.toDouble
      val mine = tr.spans.asScala.filter(s => s.op.nonEmpty && s.op.forall(_.isDigit) && s.op.toInt >= first).toSeq
      def spanMs(name: String) = mine.filter(_.name == name).map(s => s.end - s.start).sum / n
      val layers = Map(
        "catalog.register_ms" -> spanMs("catalog.register"),
        "catalog.partitions" -> spark.sql("SHOW PARTITIONS bronze_traffic").count().toDouble,
        "batch.run_ms" -> spanMs("batch.run"),
        "warehouse.write_ms" -> spanMs("warehouse.write"),
        "batch.report_ms" -> spanMs("batch.report"),
        "lake.files_read" -> sql.filesRead.sum / n,
        "lake.files_written" -> written._1,
        "lake.partitions_written" -> written._2,
        "lake.write_amplification" -> written._3,
        "sql.planning_ms" -> sql.planningMs.sum / n,
        "jvm.gc_ms" -> (gc1 - gc0), "jvm.jit_ms" -> (jit1 - jit0),
        s"operators.${CurationLeg.Query}_ms" -> queryMs) ++ ctr.perOp(n)
      Phases.mark("traced")
      (timed(lat), layers)
    }
    Measured(untraced, warmupMs, traced)
  }

  def check(): Checked = {
    val hourlyByOp = hourlyWrong()
    val wrong = opWrong.toSeq.map { case (i, w) => i -> (w ++ hourlyByOp(i)) }.filter(_._2.nonEmpty)
    delete(Paths.get(ops))
    Checked(opWrong.size + curation.attempted, wrong.size + curation.failed,
      wrong.flatMap { case (i, w) => w.map(x => s"op $i: $x") } ++ curation.failures)
  }
}

object LakeBatch {
  val Topic = "smart-city-traffic"
  val Hours = 24
  val RowsPerHour = 80
  /** Topic files published at set-up; the collector reads each in its
    * own task and so leaves this many files in every hour partition. */
  val FilesPerPartition = 2
  /** Ops in the timed window, whatever its length: with the tail at p60,
    * 25 ops leave 10 samples beyond it. A traced run times half as many
    * in each of its two windows. */
  val TimedOps = 25
  /** Untimed ops before the window. Without them, op latency fell by
    * 6-27% from the first to the last quarter of the window. */
  val WarmupOps = 2
  val TracedOps = 12
  val TailPct = 0.6
  /** Ops per slice of the reported latency trend. */
  val TrendOps = 5
  val ReportSql =
    """SELECT zone, round(avg(avg_speed), 2) AS avg_speed,
      |       sum(total_vehicles) AS total_vehicles
      |FROM hourly_traffic_stats
      |GROUP BY zone ORDER BY avg_speed DESC""".stripMargin
}
