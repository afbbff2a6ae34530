package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.sources.LocalFs

/** S8/W9: one processed stream fanned to a warehouse leg and a
  * partitioned lake leg — the reference's DualStorageWriter (a
  * TimescaleDB table plus an HDFS JSONL lake under `year/month/day`),
  * minus its dead-code HDFS mock. With no JDBC URL the warehouse leg
  * writes parquet (the local stand-in).
  *
  * Delivery. The file legs are exactly-once per micro-batch: both are
  * written by one Spark job into batch-scoped staging directories, and
  * the driver moves the files into place and records the batch id in a
  * sink log under the lake root; a replayed batch id that is already
  * logged is a no-op, and a batch cut short by a crash is finished or
  * discarded before it is written again (layout and recovery:
  * [[BatchCommit]]). Every row carries its micro-batch id in
  * `_batch_id`. A sink root therefore belongs to one checkpoint: a new
  * checkpoint over the same roots restarts at batch 0 and is skipped
  * until it passes the logged id.
  *
  * The JDBC leg is at-least-once: it appends after the lake commit, so
  * a crash between the two, or inside the append, re-appends the batch
  * on restart. Its rows carry `_batch_id` too, which makes it
  * idempotent downstream by a dedup or MERGE on
  * (`_batch_id`, camera_id, time, object_id) (SURVEY §7.4 risk 6).
  */
object DualSink {

  /** Warehouse columns taken from each detection struct, with the
    * field path they come from. */
  private[streaming] val DetectionColumns: Seq[(String, Seq[String])] = Seq(
    "object_id" -> Seq("object_id"),
    "object_type" -> Seq("detection_type"),
    "centroid_x" -> Seq("centroid", "x"),
    "centroid_y" -> Seq("centroid", "y"),
    "tracking_duration" -> Seq("tracking_duration_seconds"))

  /** Flatten tracked output to warehouse rows (one row per detection —
    * the reference's per-detection INSERT fan-out, :363-384). */
  def toWarehouseRows(tracked: DataFrame): DataFrame =
    tracked
      .withColumn("time", timestamp_millis(col("event_ms")))
      .withColumn("det", explode(col("detections")))
      .select(Seq(col("camera_id"), col("time")) ++ DetectionColumns.map { case (name, path) =>
        col(("det" +: path).mkString(".")).as(name)
      }: _*)

  /** Write one micro-batch of tracked rows to both legs, exactly once
    * per `batchId` for the file legs (see the delivery note above). With
    * `jdbcUrl` the warehouse rows append to the JDBC table
    * `vision_detections` after the lake commit, at-least-once. */
  def writeBatch(batch: DataFrame, batchId: Long,
                 warehousePath: String, lakePath: String,
                 jdbcUrl: Option[String] = None,
                 jdbcProps: Map[String, String] = Map.empty): Unit = {
    val session = batch.sparkSession
    val commit = new BatchCommit(session.sessionState.newHadoopConf(), batchId, lakePath,
      if (jdbcUrl.isDefined) None else Some(warehousePath))
    if (commit.recover()) {
      // already committed: write nothing, but still run the batch, since
      // Spark fails a stateful batch whose state partitions do not all commit
      batch.queryExecution.toRdd.foreach(_ => ())
    } else {
      session.sessionState.executePlan(DualSinkWrite(batch.queryExecution.analyzed, commit))
        .assertCommandExecuted()
    }
    jdbcUrl.foreach(appendJdbc(toWarehouseRows(batch), batchId, _, "vision_detections", jdbcProps))
  }

  /** Called at each step of a batch's commit with the batch id and the
    * step: `staged` once the job's tasks have staged their files,
    * `moved` after each file move, `log` before the sink-log write.
    * A no-op; the crash specs halt the JVM from it. */
  @volatile private[streaming] var commitHook: (Long, String) => Unit = (_, _) => ()

  private def appendJdbc(rows: DataFrame, batchId: Long, url: String, table: String,
                         jdbcProps: Map[String, String]): Unit = {
    val props = new java.util.Properties()
    jdbcProps.foreach { case (k, v) => props.setProperty(k, v) }
    rows.withColumn("_batch_id", lit(batchId)).write.mode("append").jdbc(url, table, props)
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
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        appendJdbc(batch, batchId, jdbcUrl, table, jdbcProps))
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
