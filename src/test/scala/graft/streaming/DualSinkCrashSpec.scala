package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import graft.generator.Generator
import graft.schemas.Schemas
import graft.sources.{Scratch, TopicStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** A crash inside a micro-batch's commit: a child JVM runs the
  * topic-dir vision stream and halts (`Runtime.halt`, no shutdown
  * hooks, no stream stop) in batch 2 at one step of the sink's commit;
  * this JVM restarts the stream from the checkpoint while more files
  * land. The warehouse leg must then equal a one-shot `track`, and the
  * lake leg must hold every frame exactly once, under one `_batch_id`. */
class DualSinkCrashSpec extends SparkSpec {
  import DualSinkCrashSpec._

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.groupMapReduce((r: Row) => r.toSeq)(_ => 1)(_ + _)

  private def files(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f.getPath))

  /** What the halted child left behind, per crash step. */
  private def assertHaltedAt(root: String, step: String): Unit = {
    val stage = new File(s"$root/lake/${BatchCommit.StagingDir}/$CrashBatch")
    val moves = new File(stage, "_moves")
    val staged = files(stage).filterNot(_.endsWith("_moves")) ++
      files(new File(s"$root/warehouse/${BatchCommit.StagingDir}/$CrashBatch"))
    val log = new File(s"$root/lake/${BatchCommit.LogDir}").list().filterNot(_.startsWith(".")).toSeq
    assert(log == Seq((CrashBatch - 1).toString), s"sink log at the halt: $log")
    step match {
      case "staged" => assert(!moves.exists() && staged.size >= 2, staged)
      case "moved" =>
        val listed = new String(Files.readAllBytes(moves.toPath), UTF_8)
          .linesIterator.filter(_.nonEmpty).toSeq
        assert(listed.size >= 2 && staged.size == listed.size - 1,
          s"halt mid-move: $listed, still staged $staged")
      case "log" => assert(moves.exists() && staged.isEmpty, staged)
    }
  }

  Seq("staged", "moved", "log").foreach { step =>
    test(s"crash at '$step' in batch $CrashBatch: restart leaves each frame once in both legs") {
      val root = Scratch.dir(s"dualsink_crash_$step").toString
      val java = s"${sys.props("java.home")}/bin/java"
      val cmd = Seq(java, "-Xmx768m") ++
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
        Seq("-cp", sys.props("java.class.path"), DualSinkCrashSpec.getClass.getName.stripSuffix("$"),
          root, step)
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
      assert(proc.waitFor() == HaltCode && out.contains(s"$Halting $step"), out.takeRight(4000))
      assertHaltedAt(root, step)

      // two files land while the stream is down; the restart replays
      // batch 2, then takes them, then one more
      publish(root, 3); publish(root, 4)
      val q = start(spark, root)
      try { q.processAllAvailable(); publish(root, 5); q.processAllAvailable() }
      finally q.stop()

      val reference = VisionStreamJob.track(VisionStreamJob.syntheticDetect(
        frames(TopicStream.read(spark, s"$root/topics", Seq(Topic)))))
      val want = rows(DualSink.toWarehouseRows(reference.toDF()))
      val got = rows(spark.read.parquet(s"$root/warehouse").drop("_batch_id"))
      assert(want.nonEmpty && got == want,
        s"warehouse differs from one-shot track: missing ${(want.toSet -- got.toSet).take(3)}, " +
          s"extra ${(got.toSet -- want.toSet).take(3)}")

      val lake = spark.read.json(s"$root/lake").select("camera_id", "event_ms", "_batch_id")
      val perFrame = rows(lake.groupBy("camera_id", "event_ms")
        .agg(count(lit(1)).as("n"), countDistinct("_batch_id").as("ids")).select("n", "ids"))
      assert(perFrame == Map(Seq(1L, 1L) -> Frames), s"per-frame (rows, batch ids): $perFrame")
      assert(lake.select("camera_id", "event_ms").collect().map(_.toSeq).toSet ==
        reference.select("camera_id", "event_ms").collect().map(_.toSeq).toSet)
      // the replayed batch kept its id on both legs
      Seq(lake, spark.read.parquet(s"$root/warehouse")).foreach { leg =>
        assert(leg.filter(col("_batch_id") === CrashBatch).count() > 0)
      }
      assert(!new File(s"$root/lake/${BatchCommit.StagingDir}").exists())
      assert(!new File(s"$root/warehouse/${BatchCommit.StagingDir}").exists())
    }
  }
}

/** Child-JVM half: runs batches 0 to 2 of the stream, one topic file
  * each, and halts at the named commit step of batch 2. */
object DualSinkCrashSpec {
  val Topic = "smart-city-camera-frames"
  val Frames = 48
  val CrashBatch = 2L
  val HaltCode = 77
  val Halting = "DUALSINK-HALT"

  /** 6 files of 8 frames each, two cameras, event time rising file by file. */
  private lazy val lines = Generator.cameraFrameLines(Frames).grouped(8).toVector

  private def topicDir(root: String) =
    Files.createDirectories(Paths.get(root, "topics", s"topic=$Topic"))

  def publish(root: String, i: Int): Unit = {
    val dir = topicDir(root)
    val hidden = dir.resolve(s".part-$i.tmp")
    Files.write(hidden, lines(i).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(hidden, dir.resolve(f"part-$i%03d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  def frames(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), Schemas.cameraFrame).as("f")).select("f.*")

  def start(spark: SparkSession, root: String): StreamingQuery = {
    topicDir(root)
    DualSink.start(
      VisionStreamJob.track(VisionStreamJob.syntheticDetect(
        frames(TopicStream.readStream(spark, s"$root/topics", Seq(Topic))))),
      s"$root/ckpt", s"$root/warehouse", s"$root/lake", triggerMs = 0)
  }

  def main(args: Array[String]): Unit = {
    val Array(root, step) = args
    val spark = SparkSession.builder().master("local[2]").appName(s"dualsink-crash-$step")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    DualSink.commitHook = (batch, at) => if (batch == CrashBatch && at == step) {
      println(s"$Halting $step")
      System.out.flush()
      Runtime.getRuntime.halt(HaltCode)
    }
    val q = start(spark, root)
    (0 to CrashBatch.toInt).foreach { i => publish(root, i); q.processAllAvailable() }
    println(s"batch $CrashBatch committed without reaching step '$step'")
    System.exit(1)
  }
}
