package citybench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.generator.Generator
import graft.operators.Multimodal.Codec
import graft.schemas.Schemas
import graft.sources.TopicStream
import graft.streaming.{DualSink, VisionStreamJob}

/** `vision`: camera frames from many cameras at a fixed frame rate go
  * through the synthetic detector, the per-camera stateful tracker and
  * the two-leg sink (`DualSink.start`, continuous trigger). */
final class Vision(spark: SparkSession, o: Opts) extends StreamWorkload(spark, o.seconds, o.trace, o.train) {
  import Vision._

  protected val rate: Double = Cameras * Fps
  protected val tickMs = 100.0
  protected val warmupSeconds = 4.0
  protected val backlogRounds = 1
  protected val backlogMsgs = 3000
  protected val tailPct = 0.6
  protected val topics = Seq(FrameTopic)

  /** (camera, event ms) of every published frame. */
  private val expected = mutable.Set.empty[(String, Long)]

  protected def messages(): Iterator[Msg] = {
    expected.clear()
    val rnd = new scala.util.Random(o.seed)
    val cams = rnd.shuffle((0 until 1000).toVector).take(Cameras).map(c => f"CAM_$c%03d")
    val firstFrame = cams.map(_ => rnd.nextInt(10000).toLong)
    Iterator.from(0).map { k =>
      val c = k % Cameras
      val n = k / Cameras
      val cam = cams(c)
      val eventMs = Generator.BaseEpochSec * 1000L + (n * 1000 / Fps).toLong
      expected += ((cam, eventMs))
      Msg(FrameTopic,
        s"""{"camera_id":"$cam","camera_name":"Camera $cam","location":"Gare","camera_type":"traffic","timestamp":"${Iso.ms(eventMs)}","frame_number":${firstFrame(c) + n},"width":$Width,"height":$Height,"format":"jpeg","frame_data":"$Payload"}""",
        s"$cam/$eventMs")
    }
  }

  private def frames(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), Schemas.cameraFrame).as("f")).select("f.*")

  protected def startQuery(topicBase: String, checkpoint: String, out: String): StreamingQuery =
    DualSink.start(
      VisionStreamJob.track(VisionStreamJob.syntheticDetect(
        frames(TopicStream.readStream(spark, topicBase, Seq(FrameTopic))))),
      checkpoint, s"$out/warehouse", s"$out/lake", triggerMs = 0)

  protected def layerExtras(sql: Map[String, Double], batches: Seq[Long], sent: Seq[Sent]): Map[String, Double] = {
    val state = batches.flatMap(b => log.progress(b).stateOperators.headOption)
    val n = math.max(1, batches.size).toDouble
    Map(
      "tracker.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "tracker.state_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "tracker.update_ms" -> Stats.mean(state.map(_.allUpdatesTimeMs.toDouble)),
      "tracker.commit_ms" -> Stats.mean(state.map(_.commitTimeMs.toDouble)),
      "dualsink.rows_per_batch" -> sql("rows_written") / n,
      "dualsink.files_per_batch" -> sql("files_written") / n)
  }

  /** The warehouse leg equals a one-shot batch `track` over every
    * published frame; the lake leg holds each frame exactly once. */
  def check(): Checked = {
    stop()
    val reference = DualSink.toWarehouseRows(VisionStreamJob.track(VisionStreamJob.syntheticDetect(
      frames(TopicStream.read(spark, topicBase, Seq(FrameTopic))))).toDF())
    def rows(df: DataFrame) = df.collect().groupMapReduce(_.toSeq)(_ => 1)(_ + _)
    val want = rows(reference)
    val got = rows(spark.read.parquet(s"$out/warehouse").drop("_batch_id"))
    val wrong = (want.keySet ++ got.keySet).filter(r => want.get(r) != got.get(r))
      .map(r => (r(0), r(1))).toSeq.distinct
      .map { case (cam, time) => s"warehouse rows of $cam at $time differ from batch tracking" }
    val lake = spark.read.schema("camera_id STRING, event_ms BIGINT, _batch_id BIGINT")
      .json(s"$out/lake")
      .groupBy("camera_id", "event_ms").agg(count(lit(1)).as("n"), countDistinct("_batch_id").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val lakeWrong = expected.toSeq.sorted.flatMap { f =>
      lake.get(f) match {
        case Some((1L, 1L)) => None
        case None => Some(s"frame $f missing from the lake leg")
        case Some((n, b)) => Some(s"frame $f written $n times over $b batch ids")
      }
    } ++ lake.keys.filterNot(expected.contains).toSeq.sorted.map(f => s"unexpected lake frame $f")
    val lost = if (unresolved > 0) Seq(s"$unresolved frames not in any committed batch") else Nil
    Checked(expected.size.toLong, wrong.length + lakeWrong.size + unresolved + drainFailures.size,
      wrong.toSeq ++ lakeWrong ++ lost ++ drainFailures)
  }
}

object Vision {
  val FrameTopic = "camera-frames"
  val Cameras = 40
  /** The reference bridge's per-camera frame rate (BASELINE.md). */
  val Fps = 2.0
  val Width = 64
  val Height = 48
  /** One fixed JPEG, base64 encoded, carried by every frame. */
  lazy val Payload: String = java.util.Base64.getEncoder.encodeToString(
    Codec.encodeJpeg(Codec.grayImage(Width, Height)((x, y) => (x * 5 + y * 3) % 256)))
}
