package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.batch.TrafficBatchJob
import graft.generator.Generator
import graft.schemas.Schemas
import graft.sources.{Lake, TopicStream}

/** The runnable end-to-end reference slice (SURVEY §7.2): one `main`
  * that walks a batch of traffic telemetry through every storage layer
  * of the reference dataflow —
  *
  *   generator → topic dir (the Kafka-wire surface, S6)
  *     → bronze JSONL lake with event-time partitions (S7/W1/W6)
  *     → catalog table synced to the lake's partition dirs (S12)
  *     → batch analytics: casts, congestion, zone/road aggs (P1/P2/A1-A5)
  *     → processed parquet partitioned by zone (S2)
  *     → `hourly_traffic_stats` warehouse table (A7)
  *     → the README zone report over SQL (A8/O1)
  *
  * Mirrors `spark-submit traffic_batch_processing.py` plus the
  * collector chain that feeds it (SURVEY §3.1/§3.3). Every stage is a
  * library call — this object only composes them, so it doubles as the
  * "first thing a reference user runs" and the composition e2e spec's
  * subject. */
object PipelineDemo {

  /** Deterministic event-time fallback (never wall clock — partition
    * keys must be stable for the spec). */
  private val fallbackTs = lit("2025-12-30T14:00:00")

  final case class Result(bronzeRows: Long, analyticsRows: Long,
                          hourlyRows: Long, report: DataFrame)

  /** Run the full slice under `base` (a scratch dir); `nEvents` rows of
    * flat traffic telemetry (8 sensors per hourly batch). Returns row
    * counts per layer plus the final SQL report. */
  def run(spark: SparkSession, base: String, nEvents: Int = 64): Result = {
    val topicBase = s"$base/topics"
    val lakeBase = s"$base/lake"
    val topic = "smart-city-traffic-events"

    // 1. produce: JSON message values land in the topic dir, exactly
    //    what the MQTT→Kafka bridge emits on the wire (S6)
    TopicStream.writeTopic(
      Generator.trafficEvents(spark, nEvents).toJSON.toDF("value")
        .withColumn("topic", lit(topic)),
      topicBase, col("topic"), col("value"))

    // 2. collect: subscribe, parse with the declared schema, land
    //    bronze JSONL under event-time year=/month=/day=/hour= dirs
    //    (S7; AvailableNow = drain-and-stop for the demo, the 60 s
    //    ProcessingTime trigger is the service default)
    TopicStream.collectToBronze(spark, topicBase,
        Map(topic -> ("traffic", Schemas.trafficEvent)),
        lakeBase, fallbackTs, s"$base/ckpt", Trigger.AvailableNow())
      .awaitTermination()

    // 3. catalog: external table over the bronze tree, its partitions
    //    synced to the hour dirs on disk (S12)
    Lake.registerTable(spark, "bronze_traffic", s"$lakeBase/traffic",
      Schemas.trafficEvent)
    val bronzeRows = spark.table("bronze_traffic").count()

    // 4. batch analytics over the lake: casts, congestion derivation,
    //    zone-partitioned processed parquet (S1/S2/P1/P2)
    val traffic = TrafficBatchJob.run(spark, s"$lakeBase/traffic",
      s"$base/processed")

    // 5. the declared-but-never-written hourly rollup, landed as a
    //    warehouse table (A7). The data lives under `base` (an explicit
    //    location, not the shared warehouse dir) so a rerun or a stale
    //    dir from another session can never collide with the managed-
    //    table location guard.
    spark.sql("DROP TABLE IF EXISTS hourly_traffic_stats")
    TrafficBatchJob.hourlyStats(traffic)
      .write.mode("overwrite")
      .option("path", s"$base/warehouse/hourly_traffic_stats")
      .saveAsTable("hourly_traffic_stats")

    // 6. the README zone report, over SQL like a reference user (A8/O1)
    val report = spark.sql(
      """SELECT zone, round(avg(avg_speed), 2) AS avg_speed,
                sum(total_vehicles) AS total_vehicles
         FROM hourly_traffic_stats
         GROUP BY zone ORDER BY avg_speed DESC""")

    Result(bronzeRows, traffic.count(),
      spark.table("hourly_traffic_stats").count(), report)
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      graft.sources.Scratch.dir("graft-pipeline-demo").toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .appName("graft-pipeline-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = run(spark, base)
      println(s"bronze rows:    ${r.bronzeRows}")
      println(s"analytics rows: ${r.analyticsRows}")
      println(s"hourly rows:    ${r.hourlyRows}")
      r.report.show(20, truncate = false)
    } finally spark.stop()
  }
}
