package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import graft.generator.Generator
import graft.schemas.Schemas
import graft.sources.{LocalFs, NioLocalFs, Scratch, TopicStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exactly-once across a restart: the vision stream over a topic
  * directory is stopped after some batches and restarted from the same
  * checkpoint, with files published while it was down. Runs under the
  * java.nio `file:` binding, so the checkpoint's atomic renames go
  * through its link-status code. */
class DualSinkRestartSpec extends SparkSpec {

  private val Topic = "smart-city-camera-frames"

  private def frames(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), Schemas.cameraFrame).as("f")).select("f.*")

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.groupMapReduce((r: Row) => r.toSeq)(_ => 1)(_ + _)

  test("restart from the checkpoint: warehouse equals a one-shot track, lake holds each frame once") {
    val root = Scratch.dir("dualsink_topic_restart").toString
    val base = s"$root/topics"
    val topicDir = Paths.get(base, s"topic=$Topic")
    Files.createDirectories(topicDir)
    // 6 files of 8 frames each, two cameras, event time rising file by file
    val files = Generator.cameraFrameLines(48).grouped(8).toVector
    def publish(i: Int): Unit = {
      val hidden = topicDir.resolve(s".part-$i.tmp")
      Files.write(hidden, files(i).mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(hidden, topicDir.resolve(f"part-$i%03d.json"), StandardCopyOption.ATOMIC_MOVE)
    }
    def start() = DualSink.start(
      VisionStreamJob.track(VisionStreamJob.syntheticDetect(
        frames(TopicStream.readStream(spark, base, Seq(Topic))))),
      s"$root/ckpt", s"$root/warehouse", s"$root/lake", triggerMs = 0)
    def lakeBatches(): Set[Long] =
      spark.read.json(s"$root/lake").select("_batch_id").distinct()
        .collect().map(_.getLong(0)).toSet

    // run 1: three files, one batch each, then a clean stop
    val q1 = start()
    try (0 to 2).foreach { i => publish(i); q1.processAllAvailable() }
    finally q1.stop()
    assert(spark.sparkContext.hadoopConfiguration.get(LocalFs.AbstractFileSystemKey) ==
      classOf[NioLocalFs].getName, "the checkpoint must run under the nio binding")
    val run1 = lakeBatches()
    assert(run1.size == 3, s"run 1 batches: $run1")

    // two files land while the stream is down; run 2 resumes, then one more
    publish(3); publish(4)
    val q2 = start()
    try { q2.processAllAvailable(); publish(5); q2.processAllAvailable() }
    finally q2.stop()
    val run2 = lakeBatches() -- run1
    assert(run2.nonEmpty && run2.min > run1.max, s"run 2 must continue the batch ids: $run1 then $run2")

    val reference = VisionStreamJob.track(VisionStreamJob.syntheticDetect(
      frames(TopicStream.read(spark, base, Seq(Topic)))))
    val want = rows(DualSink.toWarehouseRows(reference.toDF()))
    val got = rows(spark.read.parquet(s"$root/warehouse").drop("_batch_id"))
    assert(want.nonEmpty && got == want,
      s"warehouse differs from one-shot track: missing ${(want.toSet -- got.toSet).take(3)}, " +
        s"extra ${(got.toSet -- want.toSet).take(3)}")

    val lake = spark.read.json(s"$root/lake").select("camera_id", "event_ms", "_batch_id")
    assert(lake.count() == 48, s"lake rows ${lake.count()}")
    val perFrame = rows(lake.groupBy("camera_id", "event_ms")
      .agg(count(lit(1)).as("n"), countDistinct("_batch_id").as("ids")).select("n", "ids"))
    assert(perFrame == Map(Seq(1L, 1L) -> 48), s"per-frame (rows, batch ids): $perFrame")
    val frameKeys = reference.select("camera_id", "event_ms").collect().map(_.toSeq).toSet
    assert(lake.select("camera_id", "event_ms").collect().map(_.toSeq).toSet == frameKeys)
  }
}
