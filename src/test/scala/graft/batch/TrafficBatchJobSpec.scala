package graft.batch

import graft.SparkSpec
import graft.generator.Generator
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TrafficBatchJobSpec extends SparkSpec {

  private lazy val raw = Generator.trafficEvents(spark, 400)
  private lazy val traffic = TrafficBatchJob.transform(raw).cache()

  test("transform: casts, timestamp parse, congestion derivation") {
    import org.apache.spark.sql.types._
    val sch = traffic.schema
    assert(sch("vehicle_count").dataType == IntegerType)
    assert(sch("average_speed").dataType == FloatType)
    assert(sch("timestamp").dataType == TimestampType)
    // congestion matches an independent re-derivation from occupancy
    val mismatches = traffic.withColumn("expected",
      when(col("occupancy_rate") > 0.8, "high")
        .when(col("occupancy_rate") > 0.5, "medium").otherwise("low"))
      .filter(col("congestion_level") =!= col("expected")).count()
    assert(mismatches == 0)
    assert(traffic.count() == 400)
  }

  test("a repeated transform -> hourly rollup reuses its generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def once() = TrafficBatchJob.hourlyStats(TrafficBatchJob.transform(raw)).collect()
    val first = once()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = once()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles == 0,
      "the second run compiled new code")
    assert(second.map(_.toString).sorted.sameElements(first.map(_.toString).sorted))
  }

  test("a malformed event_time gives a null timestamp, the same on every run") {
    val bad = raw.withColumn("event_time",
      when(col("road_id") === "R0", lit("not a time")).otherwise(col("event_time")))
    def once() = {
      val t = TrafficBatchJob.transform(bad)
      (t.collect().map(_.toString).sorted, TrafficBatchJob.hourlyStats(t).collect().map(_.toString).sorted)
    }
    val t = TrafficBatchJob.transform(bad)
    val nulls = t.filter(col("timestamp").isNull)
    assert(nulls.count() == 16 && nulls.filter(col("road_id") =!= "R0").isEmpty) // 400 rows over 25 roads
    assert(t.filter(col("timestamp").isNotNull).count() == 400 - 16)
    val (rows1, hourly1) = once()
    Thread.sleep(20)
    val (rows2, hourly2) = once()
    assert(rows1.sameElements(rows2) && hourly1.sameElements(hourly2))
    assert(hourly1.exists(_.contains(",null,")), "malformed rows roll up under a null hour")
  }

  test("zone analytics: totals reconcile with input") {
    val za = TrafficBatchJob.zoneAnalytics(traffic)
    val fromAgg = za.agg(sum("total_vehicles")).collect().head.getLong(0)
    val fromRaw = traffic.agg(sum("vehicle_count")).collect().head.getLong(0)
    assert(fromAgg == fromRaw)
    assert(za.columns.toSeq == Seq("zone", "timestamp", "avg_speed", "total_vehicles", "avg_occupancy"))
  }

  test("road analytics: event counts reconcile; windowed variant coarsens") {
    val ra = TrafficBatchJob.roadAnalytics(traffic)
    assert(ra.agg(sum("event_count")).collect().head.getLong(0) == 400)
    val windowed = TrafficBatchJob.roadAnalytics(traffic, windowed = true)
    assert(windowed.count() <= ra.count())
    assert(windowed.agg(sum("event_count")).collect().head.getLong(0) == 400)
  }

  test("summary: counts and time range") {
    val s = TrafficBatchJob.summary(traffic).collect().head
    assert(s.getLong(0) == 400)
    assert(s.getLong(1) == 4)  // 4 zones
    assert(s.getLong(2) == 25) // 25 roads
    assert(!s.isNullAt(3) && !s.isNullAt(4))
  }

  test("hourly stats (A7): per zone-hour totals, averages, peak congestion") {
    val hourly = TrafficBatchJob.hourlyStats(traffic).collect()
    assert(hourly.nonEmpty)
    // reconciles: per-zone hourly totals sum to the per-zone totals
    val byZone = hourly.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val want = traffic.groupBy("zone").agg(sum("vehicle_count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byZone == want)
    // peak is a max: never below the zone-hour average occupancy
    val chk = TrafficBatchJob.hourlyStats(traffic)
      .join(traffic.groupBy(col("zone"), date_trunc("hour", col("timestamp")).as("hour"))
        .agg(avg("occupancy_rate").as("avg_occ")), Seq("zone", "hour"))
      .filter(col("peak_congestion") < col("avg_occ")).count()
    assert(chk == 0)
  }

  test("JDBC sink (S3): real append + read-back through embedded Derby") {
    val url = "jdbc:derby:memory:graft_batch;create=true"
    val in = graft.sources.Scratch.dir("graft_jdbc_in").toString
    graft.generator.Generator.trafficEvents(spark, 100).write.mode("overwrite").json(in)
    TrafficBatchJob.run(spark, in,
      graft.sources.Scratch.dir("graft_jdbc_out").toString, jdbcUrl = Some(url))
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "traffic_analytics").load()
    assert(back.count() == 100)
    // the corrected projection (P7): average_speed present, created_at stamped
    assert(back.columns.map(_.toLowerCase).toSet.contains("average_speed"))
    assert(back.filter(col("created_at").isNull).count() == 0)
    // append mode appends (second run doubles the rows)
    TrafficBatchJob.run(spark, in,
      graft.sources.Scratch.dir("graft_jdbc_out2").toString, jdbcUrl = Some(url))
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "traffic_analytics").load().count() == 200)
  }

  test("end-to-end run: jsonl in, zone-partitioned parquet out") {
    val in = graft.sources.Scratch.dir("graft_batch_in").toString
    val out = graft.sources.Scratch.dir("graft_batch_out").toString
    raw.write.mode("overwrite").json(in)
    val t = TrafficBatchJob.run(spark, in, out)
    assert(t.count() == 400)
    val zones = new java.io.File(s"$out/traffic_events").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(zones.toSeq == Seq("zone=commercial", "zone=downtown",
      "zone=industrial", "zone=residential"))
    val back = spark.read.parquet(s"$out/traffic_events")
    assert(back.count() == 400)
    // reference-compat inference mode reads the same data
    val t2 = TrafficBatchJob.run(spark, in,
      graft.sources.Scratch.dir("graft_batch_out2").toString, inferSchema = true)
    assert(t2.count() == 400)
  }
}
