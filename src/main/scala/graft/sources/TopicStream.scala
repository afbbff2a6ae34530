package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructType, StringType}

/** Kafka-shaped streaming source/sink over "topic" directories (S5/S6).
  *
  * The sandbox ships no spark-sql-kafka jar, so the Kafka wire surface
  * is emulated with Spark's file micro-batch source over a tree
  * `<base>/topic=<name>/…` where each text line is one message value
  * (JSON) — exactly the payloads the reference bridges produce
  * (mqtt_to_kafka_bridge.py:175-197, rtsp_to_kafka_bridge.py:199-219).
  * The read side exposes the Kafka source's column contract —
  * `key`, `value`, `topic`, `partition`, `timestamp` — so downstream
  * jobs written against a real `format("kafka")` source swap in
  * unchanged.
  *
  * Semantics mapping:
  *  - `subscribe(topics)` → partition-pruned filter on the `topic`
  *    directory column (unselected topic dirs are never listed/read)
  *  - `startingOffsets=earliest` → file sources replay all files; the
  *    checkpoint tracks progress like committed offsets
  *  - `maxOffsetsPerTrigger` → `maxFilesPerTrigger`
  *  - keyed per-device partition ordering (W10) → `partition` column =
  *    hash(key) % numPartitions, and stateful consumers `groupByKey` on
  *    the device key exactly as they would on Kafka
  */
object TopicStream {

  val DefaultNumPartitions = 32

  /** The bridge's partition-key choice (mqtt_to_kafka_bridge.py:127-152;
    * camera frames keyed by camera_id, rtsp_to_kafka_bridge.py:219)
    * applied to the raw JSON value: first present of the 5 device-id
    * fields, else camera_id, else the last MQTT topic segment. */
  def messageKey(value: Column): Column = coalesce(
    get_json_object(value, "$.data.sensor_id"),
    get_json_object(value, "$.data.parking_lot_id"),
    get_json_object(value, "$.data.vehicle_id"),
    get_json_object(value, "$.data.edge_id"),
    get_json_object(value, "$.data.traffic_light_id"),
    get_json_object(value, "$.camera_id"),
    element_at(split(get_json_object(value, "$.mqtt_topic"), "/"), -1))

  private val wireSchema = new StructType()
    .add("value", StringType).add("topic", StringType)

  /** Kafka-wire columns from a raw (value, topic) pair. */
  private def toWire(df: DataFrame, numPartitions: Int): DataFrame =
    df.withColumn("key", messageKey(col("value")))
      .select(col("key"), col("value"), col("topic"),
        pmod(xxhash64(col("key")), lit(numPartitions)).cast("int").as("partition"),
        coalesce(
          try_to_timestamp(regexp_replace(
            get_json_object(col("value"), "$.timestamp"), "Z$", "+00:00")),
          current_timestamp()).as("timestamp"))

  /** Streaming read of one or more topics (S5). */
  def readStream(spark: SparkSession, base: String, subscribe: Seq[String],
                 maxFilesPerTrigger: Option[Int] = None,
                 numPartitions: Int = DefaultNumPartitions): DataFrame = {
    LocalFs.bind(spark)
    val reader = spark.readStream.format("text").schema(wireSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    toWire(reader.load(base).where(col("topic").isin(subscribe: _*)), numPartitions)
  }

  /** Batch read of the same tree (offline reprocessing over the "topic"
    * retention window). */
  def read(spark: SparkSession, base: String, subscribe: Seq[String],
           numPartitions: Int = DefaultNumPartitions): DataFrame = {
    LocalFs.bind(spark)
    toWire(spark.read.format("text").schema(wireSchema).load(base)
      .where(col("topic").isin(subscribe: _*)), numPartitions)
  }

  /** Batch "producer" (S6): append message values into topic dirs. The
    * reference producer's gzip/acks/retries are broker-side concerns;
    * the durable, keyed, per-topic layout is what consumers observe. */
  def writeTopic(df: DataFrame, base: String, topicCol: Column,
                 valueCol: Column): Unit =
    df.select(valueCol.cast("string").as("value"), topicCol.as("topic"))
      .write.mode("append").partitionBy("topic").format("text").save(base)

  /** Multi-topic collector (S7, traffic_collector.py:27-32,94-105): one
    * stream subscribed to several topics, routed back apart by the
    * `topic` column into per-type bronze subtrees with event-time
    * partition keys. The reference's 50-record/60-second flush triggers
    * collapse into the micro-batch trigger. */
  def collectToBronze(spark: SparkSession, topicBase: String,
                      routes: Map[String, (String, StructType)],
                      lakeBase: String, fallback: Column,
                      checkpoint: String,
                      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    val src = readStream(spark, topicBase, routes.keys.toSeq)
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        routes.foreach { case (topic, (subdir, schema)) =>
          val rows = batch.filter(col("topic") === topic)
            .select(from_json(col("value"), schema).as("r")).select("r.*")
          Lake.writeBronze(rows, s"$lakeBase/$subdir", "json", fallback)
        }
      }
      .start()
  }
}
