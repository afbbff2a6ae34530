package graft

import org.apache.spark.sql.functions._

/** E2E composition spec for the runnable reference slice: every layer
  * (topic dir → bronze lake → catalog → analytics → processed parquet
  * → warehouse rollup → SQL report) must land, with numbers that
  * reconcile against the generator input. */
class PipelineDemoSpec extends SparkSpec {

  test("pipeline demo: all layers land and reconcile end to end") {
    val base = graft.sources.Scratch.dir("graft-e2e").toString
    try {
      val r = PipelineDemo.run(spark, base, nEvents = 64)

      // every event survives collection and analytics, none duplicated
      assert(r.bronzeRows == 64, s"bronze=${r.bronzeRows}")
      assert(r.analyticsRows == 64, s"analytics=${r.analyticsRows}")

      // bronze landed under EVENT-time partition dirs (base instant
      // 2025-12-30T14:00Z, 8 sensors/hour -> hours 14..21 of 12-30)
      val hours = new java.io.File(s"$base/lake/traffic/year=2025/month=12/day=30")
        .listFiles().filter(_.isDirectory).map(_.getName).sorted
      assert(hours.head == "hour=14" && hours.length == 8, hours.mkString(","))

      // the catalog table lists the same partitions as the hour dirs
      assert(spark.table("bronze_traffic")
        .select("year", "month", "day", "hour").distinct().count() == 8)

      // processed parquet is zone-partitioned (S2)
      val zones = new java.io.File(s"$base/processed/traffic_events")
        .listFiles().filter(_.isDirectory).map(_.getName)
      assert(zones.nonEmpty && zones.forall(_.startsWith("zone=")), zones.mkString(","))

      // warehouse rollup reconciles against the generator input:
      // same total vehicles, one row per (zone, hour) group
      val src = generator.Generator.trafficEvents(spark, 64)
        .select(col("zone"),
          date_trunc("hour", functions.City.parseIsoTs(col("event_time"))).as("hour"),
          col("vehicle_count").cast("int").as("vc"))
      val expectTotal = src.agg(sum("vc")).collect().head.getLong(0)
      val gotTotal = spark.table("hourly_traffic_stats")
        .agg(sum("total_vehicles")).collect().head.getLong(0)
      assert(gotTotal == expectTotal, s"$gotTotal != $expectTotal")
      assert(r.hourlyRows == src.select("zone", "hour").distinct().count())

      // the SQL report aggregates per zone
      val report = r.report.collect()
      assert(report.length ==
        src.select("zone").distinct().count().toInt)
      assert(report.map(_.getLong(2)).sum == expectTotal)
    } finally {
      spark.sql("DROP TABLE IF EXISTS hourly_traffic_stats")
      spark.sql("DROP TABLE IF EXISTS bronze_traffic")
    }
  }
}
