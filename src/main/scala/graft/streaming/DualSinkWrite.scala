package graft.streaming

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate}
import java.util.UUID

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory,
  WriteJobStatsTracker, WriteTaskStats}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The one Spark job behind [[DualSink.writeBatch]]: each task reads its
  * partition of the tracked batch once and writes both legs into the
  * batch's staging directories — the lake rows to one JSON file per
  * `year=/month=/day=` directory, the exploded warehouse rows to one
  * parquet file. The driver then commits the batch ([[BatchCommit]]).
  *
  * A `DataWritingCommand`, so the write runs as a SQL execution the way
  * `DataFrameWriter`'s do: `QueryExecutionListener`s see it, and its
  * plan reports `numFiles`/`numOutputRows`/`numParts` summed over both
  * legs. */
private[streaming] final case class DualSinkWrite(query: LogicalPlan, commit: BatchCommit)
    extends DataWritingCommand {

  override def outputColumnNames: Seq[String] = query.output.map(_.name)

  override protected def withNewChildInternal(newChild: LogicalPlan): DualSinkWrite =
    copy(query = newChild)

  override def run(session: SparkSession, child: SparkPlan): Seq[Row] = {
    val frames = query.schema
    val job = Job.getInstance(commit.hadoopConf)
    val lake = new JsonFileFormat().prepareWrite(session, job, Map.empty, DualSinkTask.lakeSchema(frames))
    val warehouse = commit.warehouseStage.map(stage => stage ->
      new ParquetFileFormat().prepareWrite(session, job, Map.empty, DualSinkTask.warehouseSchema(frames)))
    val stats = basicWriteJobStatsTracker(commit.hadoopConf)
    val task = new DualSinkTask(commit.batchId, frames, session.sessionState.conf.sessionLocalTimeZone,
      new SerializableConfiguration(job.getConfiguration), stats, commit.lakeStage -> lake, warehouse)
    val staged = session.sparkContext.runJob(child.execute(), task.write _)
    val start = System.nanoTime()
    commit.commit(staged.toSeq.flatMap(_.files))
    stats.processStats(staged.toSeq.map(_.stats), (System.nanoTime() - start) / 1000000)
    Nil
  }
}

/** What one task staged: leg-tagged paths relative to the batch's
  * staging directory (`lake/year=…/part-…json`, `warehouse/part-…parquet`),
  * and its write statistics. */
private final case class StagedFiles(files: Seq[String], stats: WriteTaskStats)

/** Task side of [[DualSinkWrite]]. The batch id comes in with the task
  * and is stamped onto each output row here, so the generated code of
  * the batch's plan is the same for every batch. */
private final class DualSinkTask(
    batchId: Long, frames: StructType, timeZone: String,
    conf: SerializableConfiguration, stats: WriteJobStatsTracker,
    lake: (String, OutputWriterFactory),
    warehouse: Option[(String, OutputWriterFactory)]) extends Serializable {

  def write(ctx: TaskContext, rows: Iterator[InternalRow]): StagedFiles = {
    val attempt = new TaskAttemptContextImpl(conf.value, new TaskAttemptID(
      s"dualsink$batchId", ctx.stageId(), TaskType.MAP, ctx.partitionId(), ctx.attemptNumber()))
    val tracker = stats.newTaskInstance()
    val writers = mutable.ArrayBuffer.empty[OutputWriter]
    val files = mutable.ArrayBuffer.empty[String]
    def open(leg: String, to: (String, OutputWriterFactory), dir: String,
             schema: StructType): OutputWriter = {
      val (stage, format) = to
      val rel = f"$dir%spart-${ctx.partitionId()}%05d-${UUID.randomUUID()}.c000" +
        format.getFileExtension(attempt)
      val w = format.newInstance(s"$stage/$rel", schema, attempt)
      writers += w
      files += s"$leg/$rel"
      tracker.newFile(w.path())
      w
    }

    val camera = frames.fieldIndex("camera_id")
    val event = frames.fieldIndex("event_ms")
    val detections = frames.fieldIndex("detections")
    val detType = DualSinkTask.detectionType(frames)
    val detFields = DualSink.DetectionColumns
      .map { case (_, path) => DualSinkTask.field(detType, path)._1 }.toArray
    val zone = DateTimeUtils.getZoneId(timeZone)
    val stamp = new GenericInternalRow(Array[Any](batchId))
    val lakeRow = new JoinedRow()
    val lakeSchema = DualSinkTask.lakeSchema(frames)
    val lakeFiles = mutable.HashMap.empty[Option[LocalDate], OutputWriter]
    val whSchema = DualSinkTask.warehouseSchema(frames)
    val whRow = new GenericInternalRow(whSchema.length)
    whRow.update(whSchema.length - 1, batchId)
    lazy val whFile = open("warehouse", warehouse.get, "", whSchema)

    def dayFile(day: Option[LocalDate]): OutputWriter = lakeFiles.getOrElseUpdate(day, {
      val parts = day.fold(Seq.fill(3)(DEFAULT_PARTITION_NAME))(d =>
        Seq(f"${d.getYear}%04d", f"${d.getMonthValue}%02d", f"${d.getDayOfMonth}%02d"))
      tracker.newPartition(new GenericInternalRow(parts.map(UTF8String.fromString).toArray[Any]))
      open("lake", lake, Seq("year", "month", "day").zip(parts).map { case (k, v) => s"$k=$v/" }.mkString,
        lakeSchema)
    })

    try {
      rows.foreach { frame =>
        val ms = if (frame.isNullAt(event)) None else Some(frame.getLong(event))
        val lw = dayFile(ms.map(m => Instant.ofEpochMilli(m).atZone(zone).toLocalDate))
        lakeRow(frame, stamp)
        lw.write(lakeRow)
        tracker.newRow(lw.path(), lakeRow)
        if (warehouse.isDefined && !frame.isNullAt(detections)) {
          val dets = frame.getArray(detections)
          whRow.update(0, if (frame.isNullAt(camera)) null else frame.getUTF8String(camera))
          whRow.update(1, ms.fold(null: Any)(_ * 1000L))
          var i = 0
          while (i < dets.numElements()) {
            val d = if (dets.isNullAt(i)) null else dets.getStruct(i, detType.length)
            var c = 0
            while (c < detFields.length) {
              whRow.update(2 + c, if (d == null) null else detFields(c)(d))
              c += 1
            }
            whFile.write(whRow)
            tracker.newRow(whFile.path(), whRow)
            i += 1
          }
        }
      }
      val start = System.nanoTime()
      writers.foreach { w => w.close(); tracker.closeFile(w.path()) }
      StagedFiles(files.toSeq, tracker.getFinalStats((System.nanoTime() - start) / 1000000))
    } catch {
      case e: Throwable =>
        writers.foreach { w =>
          try {
            w.close()
            val p = new Path(w.path())
            p.getFileSystem(conf.value).delete(p, false)
          } catch { case NonFatal(s) => e.addSuppressed(s) }
        }
        throw e
    }
  }
}

private object DualSinkTask {
  /** The lake leg's rows: the tracked columns plus `_batch_id`; the
    * `year/month/day` of `event_ms` is the directory (:427-438). */
  def lakeSchema(tracked: StructType): StructType =
    tracked.add(StructField("_batch_id", LongType, nullable = false))

  /** The warehouse leg's rows: [[DualSink.toWarehouseRows]]'s columns
    * plus `_batch_id`. */
  def warehouseSchema(tracked: StructType): StructType = {
    val det = detectionType(tracked)
    StructType(Seq(StructField("camera_id", StringType), StructField("time", TimestampType)) ++
      DualSink.DetectionColumns.map { case (name, path) => StructField(name, field(det, path)._2) } :+
      StructField("_batch_id", LongType, nullable = false))
  }

  def detectionType(tracked: StructType): StructType =
    tracked("detections").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** Reader and type of the (possibly nested) field at `path` of a
    * struct row; the reader gives null when any struct on the way is. */
  def field(struct: StructType, path: Seq[String]): (InternalRow => Any, DataType) = {
    val i = struct.fieldIndex(path.head)
    struct(i).dataType match {
      case inner: StructType if path.tail.nonEmpty =>
        val (next, dt) = field(inner, path.tail)
        ((r: InternalRow) => if (r.isNullAt(i)) null else next(r.getStruct(i, inner.length)), dt)
      case dt =>
        val read = InternalRow.getAccessor(dt)
        ((r: InternalRow) => read(r, i), dt)
    }
  }
}

/** Driver side of one batch's write into a lake root and, unless the
  * warehouse leg goes to JDBC, a warehouse root — Spark's file-sink
  * pattern of staged task output, a driver-side commit and a log of
  * committed batch ids:
  *
  *  - tasks write under `<root>/_staging/<batchId>/` of each leg;
  *  - the driver writes the list of committed task files to
  *    `<lake>/_staging/<batchId>/_moves`, moves each file to the same
  *    relative path under its leg's root, then records the batch in the
  *    sink log `<lake>/_dualsink/`, an empty file named by the last
  *    committed batch id (older ones are deleted).
  *
  * [[recover]] runs first: a batch id at or below the log's is a no-op;
  * a batch with a `_moves` list was fully staged, so its remaining
  * moves finish and it is logged; anything else staged is discarded.
  * Recovery reads the log directory and one staging directory, never
  * the lake. The `_`-prefixed directories are skipped by Spark's file
  * listings, so readers of either leg see a batch's files only once
  * they are moved in. */
private[streaming] final class BatchCommit(val hadoopConf: Configuration, val batchId: Long,
                                           lakeRoot: String, warehouseRoot: Option[String]) {
  import BatchCommit._

  private val roots: Map[String, Path] =
    (Seq("lake" -> lakeRoot) ++ warehouseRoot.map("warehouse" -> _)).map { case (leg, root) =>
      val p = new Path(root)
      leg -> p.getFileSystem(hadoopConf).makeQualified(p)
    }.toMap
  private val fs = roots.map { case (leg, root) => leg -> root.getFileSystem(hadoopConf) }
  private def stage(leg: String) = new Path(roots(leg), s"$StagingDir/$batchId")
  private val lakeFs = fs("lake")
  private val logDir = new Path(roots("lake"), LogDir)
  private val moves = new Path(stage("lake"), "_moves")

  def lakeStage: String = stage("lake").toString
  def warehouseStage: Option[String] = roots.get("warehouse").map(_ => stage("warehouse").toString)

  /** The last batch id in the sink log, or -1. */
  def lastCommitted: Long =
    if (!lakeFs.exists(logDir)) -1L
    else lakeFs.listStatus(logDir).flatMap(_.getPath.getName.toLongOption).maxOption.getOrElse(-1L)

  /** Bring the legs to a state where this batch is either committed or
    * absent; true when it is committed and must not be written again. */
  def recover(): Boolean =
    if (lastCommitted >= batchId) true
    else if (lakeFs.exists(moves)) {
      val in = lakeFs.open(moves)
      val staged = try new String(in.readAllBytes(), UTF_8) finally in.close()
      move(staged.linesIterator.filter(_.nonEmpty).toSeq)
      log()
      true
    } else {
      clearStaging()
      false
    }

  /** Commit the files the tasks staged (leg-tagged relative paths). */
  def commit(staged: Seq[String]): Unit = {
    DualSink.commitHook(batchId, "staged")
    if (staged.nonEmpty) {
      val tmp = new Path(stage("lake"), "_moves.tmp")
      val out = lakeFs.create(tmp, true)
      try out.write(staged.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
      if (!lakeFs.rename(tmp, moves)) throw new IOException(s"could not rename $tmp to $moves")
      move(staged)
    }
    log()
  }

  /** Move each staged file still in staging to its place in its leg. */
  private def move(staged: Seq[String]): Unit = {
    val made = mutable.Set.empty[Path]
    staged.foreach { f =>
      val Array(leg, rel) = f.split("/", 2)
      val (src, dst) = (new Path(stage(leg), rel), new Path(roots(leg), rel))
      if (fs(leg).exists(src)) {
        if (made.add(dst.getParent)) fs(leg).mkdirs(dst.getParent)
        if (!fs(leg).rename(src, dst)) throw new IOException(s"could not move $src to $dst")
      }
      DualSink.commitHook(batchId, "moved")
    }
  }

  private def log(): Unit = {
    DualSink.commitHook(batchId, "log")
    lakeFs.create(new Path(logDir, batchId.toString), true).close()
    lakeFs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.toLongOption.exists(_ < batchId))
      .foreach(lakeFs.delete(_, false))
    clearStaging()
  }

  private def clearStaging(): Unit =
    roots.foreach { case (leg, root) => fs(leg).delete(new Path(root, StagingDir), true) }
}

private[streaming] object BatchCommit {
  val StagingDir = "_staging"
  val LogDir = "_dualsink"
}
