package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.sources.LocalFs

/** S8/W9: one processed stream fanned to a warehouse table and a
  * partitioned lake — a single `foreachBatch` writing both (exactly
  * the shape SURVEY prescribes for the reference's DualStorageWriter,
  * minus its dead-code HDFS mock). The JDBC leg is pluggable; with no
  * JDBC URL the warehouse leg writes parquet (the local stand-in).
  *
  * foreachBatch is at-least-once into external sinks; the batch id is
  * recorded in a `_batch_id` column so a downstream MERGE/dedup can
  * make the JDBC leg idempotent (SURVEY §7.4 risk 6).
  */
object DualSink {

  /** Flatten tracked output to warehouse rows (one row per detection —
    * the reference's per-detection INSERT fan-out, :363-384). */
  def toWarehouseRows(tracked: DataFrame): DataFrame =
    tracked
      .withColumn("time", timestamp_millis(col("event_ms")))
      .withColumn("det", explode(col("detections")))
      .select(col("camera_id"), col("time"),
        col("det.object_id").as("object_id"),
        col("det.detection_type").as("object_type"),
        col("det.centroid.x").as("centroid_x"),
        col("det.centroid.y").as("centroid_y"),
        col("det.tracking_duration_seconds").as("tracking_duration"))

  def writeBatch(batch: DataFrame, batchId: Long,
                 warehousePath: String, lakePath: String,
                 jdbcUrl: Option[String] = None,
                 jdbcProps: Map[String, String] = Map.empty): Unit = {
    val cached = batch.persist()
    try {
      val rows = toWarehouseRows(cached).withColumn("_batch_id", lit(batchId))
      jdbcUrl match {
        case Some(url) =>
          val props = new java.util.Properties()
          jdbcProps.foreach { case (k, v) => props.setProperty(k, v) }
          rows.write.mode("append").jdbc(url, "vision_detections", props)
        case None =>
          rows.write.mode("append").parquet(warehousePath)
      }
      // lake leg: vision partitions by year/month/day only (:427-438).
      // _batch_id stamped here too — foreachBatch is at-least-once, and
      // an unmarked replay would leave undetectable duplicates in bronze.
      cached
        .withColumn("time", timestamp_millis(col("event_ms")))
        .withColumn("year", date_format(col("time"), "yyyy"))
        .withColumn("month", date_format(col("time"), "MM"))
        .withColumn("day", date_format(col("time"), "dd"))
        .drop("time")
        .withColumn("_batch_id", lit(batchId))
        .write.mode("append").partitionBy("year", "month", "day").json(lakePath)
    } finally cached.unpersist()
  }

  /** Name of the observed-metrics set attached to the stream (A13). */
  val MetricsName = "graft_collector_metrics"

  /** W2 sink leg: stream the 1-minute continuous aggregate into a JDBC
    * warehouse table (the TimescaleDB `traffic_1min` analog,
    * init-timescaledb.sql:50-68). Append output mode: the watermark
    * finalizes each bucket once per healthy run, so plain JDBC appends
    * are the incremental-refresh equivalent. Like every foreachBatch
    * external sink this is AT-LEAST-ONCE: a crash between the append
    * and the checkpoint commit replays the batch on restart, so rows
    * carry `_batch_id` and downstream reads should dedup on
    * (bucket, camera_id) or MERGE on it where the target supports it. */
  def startAggToJdbc(agg: DataFrame, jdbcUrl: String, table: String,
                     checkpoint: String,
                     jdbcProps: Map[String, String] = Map.empty,
                     triggerMs: Long = 60000): StreamingQuery =
    agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val props = new java.util.Properties()
        jdbcProps.foreach { case (k, v) => props.setProperty(k, v) }
        batch.withColumn("_batch_id", lit(batchId))
          .write.mode("append").jdbc(jdbcUrl, table, props)
      }
      .start()

  /** Wire a tracked stream into the dual sink with a processing-time
    * trigger (W1's 60 s flush analog; tests use shorter). The stream
    * carries collector-style observed metrics (records/objects per
    * batch) readable through a [[CollectorMetrics]] listener. */
  def start(tracked: Dataset[VisionOut], checkpoint: String,
            warehousePath: String, lakePath: String,
            triggerMs: Long = 60000): StreamingQuery = {
    LocalFs.bind(tracked.sparkSession)
    tracked.toDF()
      .observe(MetricsName, count(lit(1)).as("records"),
        coalesce(sum("total_objects"), lit(0L)).as("objects"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch((b: DataFrame, id: Long) => writeBatch(b, id, warehousePath, lakePath))
      .start()
  }
}
