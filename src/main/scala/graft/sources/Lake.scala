package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.City

/** Bronze-lake collector semantics (SURVEY S7/W1/W6): append-only
  * records partitioned by EVENT-time-derived `year=/month=/day=/hour=`
  * dirs — late records land in old partitions by construction, and
  * read-side partition pruning is free.
  *
  * Partition key derivation replicates the collectors
  * (air_quality_collector.py:95-120): nested `data.timestamp` first,
  * envelope `timestamp` second, then an injectable fallback (the
  * reference uses wall clock — nondeterministic, so tests inject).
  */
object Lake {

  /** The event-time partition columns, outermost first. */
  private val PartitionKeys = Seq("year", "month", "day", "hour")

  /** Event time for a lake record: nested `data.timestamp` (envelope)
    * first, top-level `timestamp` second, flat `event_time` (the
    * traffic-analytics row shape) third — whichever exist in the
    * schema — then the injectable fallback. The `current_timestamp()`
    * default becomes a new constant in the generated code of every
    * query, forcing a recompile (see [[City.parseIsoTs]]). */
  def eventTime(df: DataFrame, fallback: Column = current_timestamp()): Column = {
    val names = df.schema.fieldNames.toSet
    val hasNested = df.schema.fields.exists(f => f.name == "data" &&
      f.dataType.isInstanceOf[StructType] &&
      f.dataType.asInstanceOf[StructType].fieldNames.contains("timestamp"))
    val candidates =
      (if (hasNested) Seq(col("data.timestamp")) else Nil) ++
        (if (names.contains("timestamp")) Seq(col("timestamp")) else Nil) ++
        (if (names.contains("event_time")) Seq(col("event_time")) else Nil)
    require(candidates.nonEmpty,
      s"no event-time column (data.timestamp / timestamp / event_time) in ${names.mkString(", ")}")
    City.parseIsoTs(coalesce(candidates: _*), fallback)
  }

  /** Append event-time partition key columns. */
  def withPartitionKeys(df: DataFrame, fallback: Column = current_timestamp()): DataFrame =
    df.select(col("*") +: City.partitionCols(eventTime(df, fallback)): _*)

  /** Write a bronze partition tree. `format` "json" mirrors the
    * reference's JSONL lake; "parquet" is the scale-path default. The
    * `current_timestamp()` fallback is the collectors' wall-clock rule,
    * and it costs a codegen recompile on every write (micro-batch); a
    * hot path that can do without wall-clock semantics should pass a
    * fixed fallback. */
  def writeBronze(df: DataFrame, path: String, format: String = "json",
                  fallback: Column = current_timestamp()): Unit = {
    LocalFs.bind(df.sparkSession)
    withPartitionKeys(df, fallback).write.mode("append")
      .partitionBy("year", "month", "day", "hour").format(format).save(path)
  }

  /** Read a bronze tree back with its declared schema; partition columns
    * come from the directory layout (pruning on them is free). */
  def readBronze(spark: SparkSession, path: String, schema: StructType,
                 format: String = "json"): DataFrame = {
    LocalFs.bind(spark)
    val partitioned = PartitionKeys.foldLeft(schema)(_.add(_, "string"))
    spark.read.schema(partitioned).format(format)
      .option("basePath", path).load(path)
  }

  /** [[readBronze]] with a QUARANTINE channel — the ingestion rule a
    * bronze lake actually needs: a malformed JSONL line (truncated
    * write, crashed producer, junk on the topic) must neither kill
    * the read (FAILFAST) nor vanish silently (DROPMALFORMED). The
    * read runs PERMISSIVE with a corrupt-record column: well-formed
    * rows parse into `schema`, malformed lines come back whole in
    * `_quarantined` with every data field null — so
    * `n_parsed + n_quarantined == n_lines` always holds (spec-pinned)
    * and the bad lines can be shipped to a dead-letter dir intact for
    * replay. With `cache = true` (the default) the frame is cached
    * before returning: Spark refuses corrupt-record-only projections
    * on an uncached raw-file scan (documented engine limitation), and
    * the audit query that groups by `_quarantined IS NULL` is exactly
    * such a projection. THE CALLER OWNS THE UNPERSIST — pass
    * `cache = false` to skip pinning when the downstream plan keeps a
    * data column in every projection (then the engine limitation never
    * bites and nothing is pinned in executor storage).
    * Battery q106 oracles the split on deterministically injected
    * truncated lines. */
  def readBronzeQuarantine(spark: SparkSession, path: String,
                           schema: StructType,
                           cache: Boolean = true): DataFrame = {
    val withCorrupt = new StructType(
      (schema.fields :+ org.apache.spark.sql.types.StructField(
        "_quarantined", org.apache.spark.sql.types.StringType)))
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantined")
      .json(path)
    if (cache) raw.cache() else raw
  }

  /** Ship a [[readBronzeQuarantine]] frame's malformed lines to a
    * DEAD-LETTER directory, VERBATIM — the replay channel that closes
    * the quarantine loop: once the producer bug is fixed, the dead
    * letters re-ingest through the normal bronze read with no
    * re-parse, no re-derivation, byte-identical to what arrived
    * (battery q106 pins the round trip by md5 over the full sorted
    * line set). `_quarantined` holds the raw line exactly as read
    * (the JSONL framing guarantees no embedded newline), and the text
    * writer emits one file per source partition — partition-parallel,
    * nothing driver-side. `mode` defaults to append (the operational
    * channel accumulates); pass "overwrite" for idempotent batch
    * re-runs. Returns the number of dead letters written.
    *
    * Pass the CACHED frame [[readBronzeQuarantine]] returns (its
    * default): this write is precisely the corrupt-record-only
    * projection the engine disallows on an uncached raw-file scan. */
  def writeDeadLetter(quarantined: DataFrame, path: String,
                      mode: String = "append"): Long = {
    val bad = quarantined.filter(col("_quarantined").isNotNull)
      .select(col("_quarantined").as("value"))
    bad.write.mode(mode).text(path)
    bad.count()
  }

  /** W8: retention maintenance — drop event-time partition directories
    * whose `year=/month=/day=` date is older than `retainDays` before
    * `today` (the TimescaleDB 7-day `drop_chunks` policy,
    * init-timescaledb.sql:71-74). Walks only directory names through the
    * Hadoop FileSystem API (works on HDFS/S3A identically) — O(partition
    * dirs), never reading file contents. Returns the dropped partition
    * paths; empty month/year parents are pruned afterwards. */
  def dropOldPartitions(spark: SparkSession, path: String, retainDays: Int,
                        today: java.time.LocalDate): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val cutoff = today.minusDays(retainDays.toLong)
    val dropped = Seq.newBuilder[String]
    def kids(p: Path, prefix: String) = subdirs(fs, p, prefix)
    for (y <- kids(root, "year="); m <- kids(y.getPath, "month=");
         d <- kids(m.getPath, "day=")) {
      try {
        val date = java.time.LocalDate.of(
          y.getPath.getName.stripPrefix("year=").toInt,
          m.getPath.getName.stripPrefix("month=").toInt,
          d.getPath.getName.stripPrefix("day=").toInt)
        if (date.isBefore(cutoff)) {
          fs.delete(d.getPath, true)
          dropped += s"${y.getPath.getName}/${m.getPath.getName}/${d.getPath.getName}"
        }
      } catch { case _: NumberFormatException | _: java.time.DateTimeException => () }
    }
    // prune now-empty month/year dirs so listings stay clean
    for (y <- kids(root, "year=")) {
      for (m <- kids(y.getPath, "month=") if fs.listStatus(m.getPath).isEmpty)
        fs.delete(m.getPath, false)
      if (fs.listStatus(y.getPath).isEmpty) fs.delete(y.getPath, false)
    }
    dropped.result()
  }

  /** Small-files compaction over a bronze partition tree — the
    * operational chore every micro-batch collector creates: one file
    * per trigger per partition means a year of 60-second flushes is
    * ~half a million files whose listing alone dominates planning.
    * Walks `year=/month=/day=/hour=` leaf dirs through the FileSystem
    * API, and rewrites only those holding more than
    * `maxFilesPerPartition` data files, into `ceil(bytes/targetBytes)`
    * files each.
    *
    * The rewrite is LOSSLESS under schema drift, never a parse through
    * `schema`: line formats (json/csv/text) move as verbatim lines
    * (`spark.read.text` → `write.text` — fields a reader's schema
    * wouldn't know about, malformed-but-recoverable lines, everything
    * on disk rides through byte-identical, verified by a line count +
    * CRC32 sum); self-describing formats (parquet/orc) are read by
    * their own footers with `mergeSchema`, so no column any file
    * carries is dropped. The `schema` parameter is only a fallback for
    * formats that are neither (none in this lake).
    * Each rewrite is verified before the swap, and the swap never
    * deletes a byte until the compacted
    * files are renamed in: originals are first moved aside into a
    * hidden `.<hour>_compact_old` dir, the compacted files renamed
    * into place (every rename result checked), and only then is the
    * old dir dropped. A crash mid-swap leaves rows split between the
    * partition and its hidden recovery dirs — visible data may be
    * temporarily incomplete, but nothing is ever destroyed, and a
    * later run REFUSES to touch a partition that still has recovery
    * leftovers rather than cleaning them up blind. Closed partitions
    * only: compacting the partition a stream is currently appending to
    * would race the collector — pass a predicate that excludes the
    * current hour (the default excludes nothing).
    * Returns the rewritten partition paths. */
  def compact(spark: SparkSession, path: String, schema: StructType,
              format: String = "json", targetBytes: Long = 128L << 20,
              maxFilesPerPartition: Int = 4,
              closedOnly: String => Boolean = _ => true): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val done = Seq.newBuilder[String]
    for ((names, dir) <- hourLeaves(fs, root)) {
      val rel = names.mkString("/")
      val files = Warehouse.visibleFiles(fs, dir)
      if (files.length > maxFilesPerPartition && closedOnly(rel)) {
        val tmp = new Path(dir.getParent, s".${dir.getName}_compact_tmp")
        val old = new Path(dir.getParent, s".${dir.getName}_compact_old")
        // leftovers mean an earlier compaction was interrupted and this
        // partition's rows may be split across these dirs — deleting or
        // reusing them blind is the data-loss path; surface it instead
        require(!fs.exists(tmp) && !fs.exists(old),
          s"$rel has recovery leftovers from an interrupted compaction " +
            s"($tmp / $old); restore or remove them manually first")
        val bytes = files.map(_.getLen).sum
        val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        val lineFormat = Set("json", "csv", "text")(format)
        // read by explicit visible FILES: the tmp dir is dot-named
        // (hidden from lake readers by design) — the shared
        // [[Warehouse.visibleFiles]] discipline
        def read(p: Path): DataFrame = {
          val fls = Warehouse.visibleFiles(spark, p.toString)
          require(fls.nonEmpty, s"no data files under $p")
          if (lineFormat) spark.read.text(fls: _*)
          else if (format == "parquet" || format == "orc")
            spark.read.option("mergeSchema", "true").format(format).load(fls: _*)
          else spark.read.schema(schema).format(format).load(fls: _*)
        }
        // content fingerprint the rewrite must reproduce: line formats
        // get count + CRC32-of-line sum (order-free, catches any byte
        // change); self-describing formats get the row count
        def fingerprint(df: DataFrame): (Long, Long) = {
          val row =
            if (lineFormat) df.agg(count(lit(1)),
              coalesce(sum(crc32(col("value"))), lit(0L))).head()
            else df.agg(count(lit(1)), lit(0L)).head()
          (row.getLong(0), row.getLong(1))
        }
        val src = read(dir)
        val expected = fingerprint(src)
        if (lineFormat) src.coalesce(n).write.text(tmp.toString)
        else src.coalesce(n).write.format(format).save(tmp.toString)
        val actual = fingerprint(read(tmp))
        require(actual == expected,
          s"compaction of $rel would alter content " +
            s"(count,crc $actual != $expected); aborting before swap")
        swapIn(fs, dir, tmp, old, rel)
        fs.delete(tmp, true)
        done += rel
      }
    }
    val doneRels = done.result()
    // Parquet lakes carrying a durable min-max manifest get it
    // refreshed for exactly the rewritten leaves (see Lake.upsert).
    // Line-format lakes have no parquet stats to manifest.
    if (format == "parquet" && doneRels.nonEmpty &&
        graft.operators.Layout.manifestExists(spark, path))
      graft.operators.Layout.refreshManifestDirs(spark, path,
        doneRels.map(r => new Path(root, r).toString))
    doneRels
  }

  /** Latest-wins MERGE (upsert) of `updates` into a parquet lake tree
    * partitioned by one `col=value` level, rewriting ONLY the
    * partitions that contain affected keys.
    *
    * A 100 TB table absorbs a trickle of corrections and late rows
    * every day; re-writing the whole table per batch is the naive
    * O(history) path. Here the update batch names its partitions, the
    * base read prunes to exactly those leaves (literal `isin` — the
    * scan never lists the rest), and one key-shuffle resolves each
    * key to its newest version: highest `versionCol` wins, with the
    * update side beating base on ties, and duplicate keys INSIDE the
    * batch collapsing to their newest row. Unmatched update keys are
    * plain inserts. Everything else on disk is untouched — not
    * re-written, not even read.
    *
    * The swap reuses compact's never-delete-first discipline (q66):
    * merged partitions stage under a hidden `.upsert_stage` dir, the
    * originals move aside before the staged files rename in, and a
    * partition with leftovers from an interrupted run is refused, not
    * cleaned up blind. ACID table formats carry this commit protocol
    * natively; a bare parquet tree gets the same rename discipline
    * explicitly.
    *
    * `updates` must have the base schema (including `partitionCol`),
    * and a key's partition value must be immutable — moving a key
    * between partitions would need the OLD partition named in the
    * batch to retire the stale row, which this writer does not infer.
    * Returns the rewritten/created partition values.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             keyCols: Seq[String], partitionCol: String,
             versionCol: String): Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"no lake at $path")
    val stage = new Path(root, ".upsert_stage")
    require(!fs.exists(stage),
      s"$stage left by an interrupted upsert; restore or remove it manually first")

    val partVals = updates.select(col(partitionCol).cast("string"))
      .distinct().collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    if (partVals.isEmpty) return Nil
    val hasNull = partVals.contains(null)
    val parts = partVals.filter(_ != null).sorted

    val inParts =
      if (parts.nonEmpty) col(partitionCol).isin(parts: _*) else lit(false)
    val base = spark.read.parquet(path)
      .filter(if (hasNull) inParts || col(partitionCol).isNull else inParts)
    val cols = base.columns
    require(cols.sorted.sameElements(updates.columns.sorted),
      s"updates schema ${updates.columns.toSeq} != base ${cols.toSeq}")
    val merged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc)
    val latest = merged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__src")

    latest.repartition(col(partitionCol))
      .write.partitionBy(partitionCol).parquet(stage.toString)

    // Leaf dir names must match what Spark's partitioned writer emitted
    // into the stage: escaped values (':' '/' '%' '=' …) and the Hive
    // default name for null — a raw s"$col=$p" misses those leaves and
    // the stage delete below would silently drop their merged rows.
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def leafNameOf(p: String): String = {
      val v = if (p == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
              else ExternalCatalogUtils.escapePathName(p)
      s"${ExternalCatalogUtils.escapePathName(partitionCol)}=$v"
    }

    val done = Seq.newBuilder[String]
    for (p <- partVals.sortBy(v => if (v == null) "" else v)) {
      val leafName = leafNameOf(p)
      val stagedLeaf = new Path(stage, leafName)
      if (fs.exists(stagedLeaf)) {
        swapIn(fs, new Path(root, leafName), stagedLeaf,
          new Path(root, s".${leafName}_upsert_old"), leafName)
        done += p
      }
    }
    // Belt-and-braces: every leaf the staged write produced must have
    // been swapped in above; an unconsumed leaf means a name-mapping
    // bug, and deleting the stage would lose its merged rows.
    val unconsumed = fs.listStatus(stage).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(partVals.map(leafNameOf).toSet)
    require(unconsumed.isEmpty,
      s"staged leaves ${unconsumed.mkString(", ")} were not consumed by the " +
        s"swap; stage left at $stage, no data deleted")
    fs.delete(stage, true)
    val doneParts = done.result()
    // A lake carrying a durable min-max manifest (Layout.writeManifest)
    // gets it maintained incrementally here: only the leaves this merge
    // rewrote are re-statted — |delta| work, the Iceberg/Delta commit
    // discipline, never a table scan.
    if (graft.operators.Layout.manifestExists(spark, path))
      graft.operators.Layout.refreshManifestDirs(spark, path,
        doneParts.map(p => new Path(root, leafNameOf(p)).toString))
    doneParts
  }

  private def subdirs(fs: FileSystem, p: Path, prefix: String) =
    fs.listStatus(p).filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))

  /** The `year=/month=/day=/hour=` leaf dirs under `root`, each with its
    * four `key=value` dir names — a driver-side walk of directory names
    * only, never of file contents. */
  private def hourLeaves(fs: FileSystem, root: Path): Seq[(Seq[String], Path)] =
    (for (y <- subdirs(fs, root, "year="); m <- subdirs(fs, y.getPath, "month=");
          d <- subdirs(fs, m.getPath, "day="); h <- subdirs(fs, d.getPath, "hour="))
      yield (Seq(y, m, d, h).map(_.getPath.getName), h.getPath)).toSeq

  /** The never-delete-first partition swap [[compact]] and [[upsert]]
    * share: `leaf`'s visible files move aside into the hidden `old`
    * dir, `staged`'s visible files rename in (every result checked),
    * and only then is `old` dropped. A leftover `old` from an
    * interrupted swap is refused, never cleaned up blind. */
  private def swapIn(fs: FileSystem, leaf: Path, staged: Path, old: Path,
                     rel: String): Unit = {
    require(!fs.exists(old),
      s"$old left by an interrupted swap of $rel; restore or remove it manually first")
    def mv(src: Path, dst: Path): Unit = require(fs.rename(src, dst),
      s"rename $src -> $dst failed; $rel left in its recovery dirs, no data deleted")
    val existing = if (fs.exists(leaf)) Warehouse.visibleFiles(fs, leaf)
      else { fs.mkdirs(leaf); Array.empty[FileStatus] }
    fs.mkdirs(old)
    existing.foreach(f => mv(f.getPath, new Path(old, f.getPath.getName)))
    Warehouse.visibleFiles(fs, staged)
      .foreach(f => mv(f.getPath, new Path(leaf, f.getPath.getName)))
    fs.delete(old, true)
  }

  /** Register a bronze tree in the session catalog as a partitioned
    * external table (S12), and keep it in step with the tree on every
    * later call. The table is created only when it is missing or its
    * definition (data schema, partition columns, format, location)
    * differs; its partitions are then synced to the
    * `year=/month=/day=/hour=` dirs on disk by the driver-side walk
    * [[compact]] uses — new hour dirs are added, vanished ones dropped
    * (their files are never touched) — and the table is refreshed, so a
    * cached read or file listing sees files that landed since the last
    * call. Runs no Spark job: re-registering an unchanged lake costs a
    * directory walk and a catalog lookup, where DROP + CREATE + `MSCK
    * REPAIR TABLE` would rebuild the table and re-discover every
    * partition each time. */
  def registerTable(spark: SparkSession, name: String, path: String,
                    schema: StructType, format: String = "json"): Unit = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogTablePartition, ExternalCatalogUtils}
    LocalFs.bind(spark)
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val ddl = (schema.toDDL +: PartitionKeys.map(k => s"$k STRING")).mkString(", ")
    val current = Some(ident).filter(catalog.tableExists).map(catalog.getTableMetadata)
    if (!current.exists(t => t.provider.exists(_.equalsIgnoreCase(format)) &&
        t.partitionColumnNames == PartitionKeys && t.schema == StructType.fromDDL(ddl) &&
        t.storage.locationUri.contains(fs.makeQualified(root).toUri))) {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(
        s"""CREATE TABLE $name ($ddl)
           |USING $format
           |PARTITIONED BY (${PartitionKeys.mkString(", ")})
           |LOCATION '$path'""".stripMargin)
    }
    val storage = catalog.getTableMetadata(ident).storage
    val leaves = if (fs.exists(root)) hourLeaves(fs, root) else Nil
    val onDisk = leaves.map { case (names, dir) =>
      names.map { n =>
        val (k, v) = n.splitAt(n.indexOf('='))
        k -> ExternalCatalogUtils.unescapePathName(v.tail)
      }.toMap -> dir
    }.toMap
    val listed = catalog.listPartitions(ident).map(_.spec).toSet
    val gone = listed.filterNot(onDisk.contains).toSeq
    if (gone.nonEmpty)
      catalog.dropPartitions(ident, gone, ignoreIfNotExists = true,
        purge = false, retainData = true)
    val added = onDisk.filterNot { case (spec, _) => listed(spec) }
    if (added.nonEmpty)
      catalog.createPartitions(ident, added.map { case (spec, dir) =>
        CatalogTablePartition(spec, storage.copy(locationUri = Some(dir.toUri)))
      }.toSeq, ignoreIfExists = true)
    spark.catalog.refreshTable(name)
  }
}
