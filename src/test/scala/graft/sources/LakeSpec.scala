package graft.sources

import graft.SparkSpec
import graft.generator.Generator
import graft.schemas.Schemas
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class LakeSpec extends SparkSpec {

  private def tmp(): String =
    graft.sources.Scratch.dir("graft_lake").toString

  test("bronze write partitions by zero-padded event-time keys") {
    val dir = tmp()
    val fallback = to_timestamp(lit("1999-01-01 00:00:00"))
    val aq = Generator.airQuality(spark, 24)
    Lake.writeBronze(aq, dir, "json", fallback)

    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.matches("year=\\d{4}")), dirs.mkString(","))
    // base instant 2025-12-30T14:00Z, 24 records at 5-min cadence → hours 14,15
    val hourDirs = new java.io.File(s"$dir/year=2025/month=12/day=30")
      .listFiles().map(_.getName).sorted
    assert(hourDirs.contains("hour=14") && hourDirs.contains("hour=15"), hourDirs.mkString(","))
    // garbage timestamps (every 11th record) land in the fallback partition
    assert(new java.io.File(s"$dir/year=1999/month=01/day=01/hour=00").exists())
  }

  test("bronze read-back: schema, count, partition pruning") {
    val dir = tmp()
    val fallback = to_timestamp(lit("1999-01-01 00:00:00"))
    Lake.writeBronze(Generator.airQuality(spark, 24), dir, "json", fallback)
    val back = Lake.readBronze(spark, dir, Schemas.airQuality)
    assert(back.count() == 24)
    assert(back.schema.fieldNames.toSeq.takeRight(4) == Seq("year", "month", "day", "hour"))
    // nested struct fields survive the roundtrip
    val pm = back.filter(col("year") === "2025")
      .select(col("data.measurements.pm25")).na.drop().count()
    assert(pm > 0)
    // partition pruning: the year predicate must reach the scan's
    // PartitionFilters (not run as a post-scan filter over all files)
    val pruned = back.filter(col("year") === "1999")
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanned.matches("(?s).*PartitionFilters.*1999.*"),
      s"year=1999 did not prune partitions:\n${scanned.take(800)}")
    assert(pruned.count() == 2) // records 10 and 21 have garbage ts
  }

  test("catalog registration + MSCK + SQL over the lake (S12)") {
    val dir = tmp()
    val fallback = to_timestamp(lit("1999-01-01 00:00:00"))
    Lake.writeBronze(Generator.trafficEdges(spark, 40), dir, "json", fallback)
    Lake.registerTable(spark, "bronze_traffic_edges", dir, Schemas.trafficEdges)
    val n = spark.sql("SELECT count(1) FROM bronze_traffic_edges").collect().head.getLong(0)
    assert(n == 40)
    val byLevel = spark.sql(
      """SELECT data.traffic_data.congestion_level AS lvl, count(1) AS n
         FROM bronze_traffic_edges GROUP BY 1 ORDER BY 1""").collect()
    assert(byLevel.map(_.getString(0)).toSet.subsetOf(Set("high", "medium", "low")))
    assert(byLevel.map(_.getLong(1)).sum == 40)
    spark.sql("DROP TABLE bronze_traffic_edges")
  }

  private val regFallback = to_timestamp(lit("1999-01-01 00:00:00"))

  private def partitions(table: String): Set[String] =
    spark.sql(s"SHOW PARTITIONS $table").collect().map(_.getString(0)).toSet

  private def rows(table: String): Long =
    spark.sql(s"SELECT count(1) FROM $table").collect().head.getLong(0)

  /** A table property that survives exactly as long as the table does:
    * re-registration that keeps the table keeps it, one that redefines
    * the table drops it. */
  private def probe(table: String): Option[String] = {
    val catalog = spark.sessionState.catalog
    catalog.getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .properties.get("probe")
  }

  /** Spark jobs that `body` starts on this thread, seen by a listener.
    * The bus delivers events in order, so once a marker job run after
    * `body` has been seen, every job of `body` has been too. */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"lakespec-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("lakespec.tag"))).getOrElse(""))
    }
    def tagged[T](t: String)(f: => T): T = {
      sc.setLocalProperty("lakespec.tag", t)
      try f finally sc.setLocalProperty("lakespec.tag", null)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(s"$tag-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$tag-marker") && System.nanoTime < deadline) Thread.sleep(5)
      assert(seen.contains(s"$tag-marker"), "listener never saw the marker job")
      seen.toArray.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  test("re-registering an unchanged lake keeps table and partitions and runs no Spark job") {
    val dir = tmp()
    Lake.writeBronze(Generator.trafficEvents(spark, 64), dir, "json", regFallback)
    try {
      Lake.registerTable(spark, "bronze_reg_same", dir, Schemas.trafficEvent)
      val before = partitions("bronze_reg_same")
      assert(before.size == 8, before)
      spark.sql("ALTER TABLE bronze_reg_same SET TBLPROPERTIES ('probe' = 'kept')")
      val jobs = jobsIn(Lake.registerTable(spark, "bronze_reg_same", dir, Schemas.trafficEvent))
      assert(jobs == 0, s"re-registration ran $jobs Spark jobs")
      assert(partitions("bronze_reg_same") == before)
      assert(probe("bronze_reg_same").contains("kept"), "an unchanged table was recreated")
      assert(rows("bronze_reg_same") == 64)
    } finally spark.sql("DROP TABLE IF EXISTS bronze_reg_same")
  }

  test("re-registering adds a new hour dir and drops a deleted one") {
    val dir = tmp()
    val events = Generator.trafficEvents(spark, 64)
    Lake.writeBronze(events, dir, "json", regFallback)
    try {
      Lake.registerTable(spark, "bronze_reg_sync", dir, Schemas.trafficEvent)
      val before = partitions("bronze_reg_sync")
      assert(before("year=2025/month=12/day=30/hour=14"), before)
      Lake.writeBronze(events.limit(3).withColumn("event_time", lit("2025-12-31T03:15:00Z")),
        dir, "json", regFallback)
      Scratch.deleteRecursively(new java.io.File(s"$dir/year=2025/month=12/day=30/hour=14"))
      Lake.registerTable(spark, "bronze_reg_sync", dir, Schemas.trafficEvent)
      assert(partitions("bronze_reg_sync") ==
        before - "year=2025/month=12/day=30/hour=14" + "year=2025/month=12/day=31/hour=03")
      // the 8 events of hour 14 left with their dir; the 3 new ones arrived
      assert(rows("bronze_reg_sync") == 64 - 8 + 3)
    } finally spark.sql("DROP TABLE IF EXISTS bronze_reg_sync")
  }

  test("a changed schema or location redefines the table") {
    val dir = tmp()
    val moved = tmp()
    Lake.writeBronze(Generator.trafficEvents(spark, 64), dir, "json", regFallback)
    Lake.writeBronze(Generator.trafficEvents(spark, 24), moved, "json", regFallback)
    try {
      Lake.registerTable(spark, "bronze_reg_def", dir, Schemas.trafficEvent)
      spark.sql("ALTER TABLE bronze_reg_def SET TBLPROPERTIES ('probe' = 'kept')")
      val narrower = org.apache.spark.sql.types.StructType(Schemas.trafficEvent.fields.init)
      Lake.registerTable(spark, "bronze_reg_def", dir, narrower)
      assert(probe("bronze_reg_def").isEmpty, "a schema change kept the old table")
      assert(!spark.table("bronze_reg_def").columns.contains("event_time"))
      assert(rows("bronze_reg_def") == 64 && partitions("bronze_reg_def").size == 8)

      spark.sql("ALTER TABLE bronze_reg_def SET TBLPROPERTIES ('probe' = 'kept')")
      Lake.registerTable(spark, "bronze_reg_def", moved, narrower)
      assert(probe("bronze_reg_def").isEmpty, "a location change kept the old table")
      // 24 events at 8 per hour: hours 14-16 of the moved lake only
      assert(rows("bronze_reg_def") == 24 && partitions("bronze_reg_def").size == 3)
    } finally spark.sql("DROP TABLE IF EXISTS bronze_reg_def")
  }

  test("a cached table sees files that landed since the last registration") {
    val dir = tmp()
    val events = Generator.trafficEvents(spark, 64)
    Lake.writeBronze(events, dir, "json", regFallback)
    try {
      Lake.registerTable(spark, "bronze_reg_cached", dir, Schemas.trafficEvent)
      spark.catalog.cacheTable("bronze_reg_cached")
      assert(rows("bronze_reg_cached") == 64)
      // another writer (Spark's own writer would refresh the cache
      // itself) lands a second flush as new files in the same hour dirs
      val flush = tmp()
      Lake.writeBronze(events, flush, "json", regFallback)
      val landed = Files.walk(java.nio.file.Paths.get(flush)).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")).toSeq
      assert(landed.nonEmpty)
      landed.foreach { f =>
        val rel = java.nio.file.Paths.get(flush).relativize(f)
        Files.copy(f, java.nio.file.Paths.get(dir).resolve(rel.resolveSibling(s"late-${rel.getFileName}")))
      }
      assert(rows("bronze_reg_cached") == 64, "the cache was not in effect")
      Lake.registerTable(spark, "bronze_reg_cached", dir, Schemas.trafficEvent)
      assert(spark.catalog.isCached("bronze_reg_cached"))
      assert(rows("bronze_reg_cached") == 128)
    } finally {
      spark.catalog.uncacheTable("bronze_reg_cached")
      spark.sql("DROP TABLE IF EXISTS bronze_reg_cached")
    }
  }

  test("retention drops partition dirs older than N days, keeps the rest (W8)") {
    val dir = tmp()
    val fallback = to_timestamp(lit("1999-01-01 00:00:00"))
    Lake.writeBronze(Generator.airQuality(spark, 24), dir, "json", fallback)
    // data lives at 2025-12-30 (+ the 1999 fallback partition)
    val dropped = Lake.dropOldPartitions(spark, dir, retainDays = 7,
      today = java.time.LocalDate.of(2026, 1, 3))
    assert(dropped == Seq("year=1999/month=01/day=01"), dropped.mkString(","))
    assert(!new java.io.File(s"$dir/year=1999").exists(), "empty parents pruned")
    assert(new java.io.File(s"$dir/year=2025/month=12/day=30").exists())
    // 22 of 24 records survive (the 2 fallback records are gone)
    assert(Lake.readBronze(spark, dir, Schemas.airQuality).count() == 22)
    // a second run is a no-op
    assert(Lake.dropOldPartitions(spark, dir, 7, java.time.LocalDate.of(2026, 1, 3)).isEmpty)
  }

  test("compaction collapses small files, preserves every row, skips open partitions") {
    val dir = tmp()
    val fallback = to_timestamp(lit("1999-01-01 00:00:00"))
    // 6 appends -> >= 6 files per touched partition (one per write)
    (0 until 6).foreach { _ =>
      Lake.writeBronze(Generator.airQuality(spark, 12), dir, "json", fallback)
    }
    val before = Lake.readBronze(spark, dir, Schemas.airQuality)
      .collect().map(_.toString).sorted
    def filesIn(rel: String) = new java.io.File(s"$dir/$rel").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")).length
    val probe = new java.io.File(dir).listFiles().filter(_.isDirectory).head
    val leaf = {
      def down(f: java.io.File): java.io.File =
        f.listFiles().filter(_.isDirectory).headOption.map(down).getOrElse(f)
      down(probe)
    }
    val rel = leaf.toString.stripPrefix(s"$dir/")
    assert(filesIn(rel) >= 6, s"expected many small files, got ${filesIn(rel)}")

    // an excluded ("still open") partition is left untouched
    val skipped = Lake.compact(spark, dir, Schemas.airQuality,
      maxFilesPerPartition = 2, closedOnly = _ != rel)
    assert(!skipped.contains(rel) && filesIn(rel) >= 6)

    val compacted = Lake.compact(spark, dir, Schemas.airQuality,
      maxFilesPerPartition = 2)
    assert(compacted.contains(rel), s"compacted=$compacted")
    assert(filesIn(rel) == 1, s"still ${filesIn(rel)} files")
    // every row survives, byte-for-byte on the parsed view
    val after = Lake.readBronze(spark, dir, Schemas.airQuality)
      .collect().map(_.toString).sorted
    assert(after.toSeq == before.toSeq)
    // idempotent: nothing left above the threshold
    assert(Lake.compact(spark, dir, Schemas.airQuality,
      maxFilesPerPartition = 2).isEmpty)
  }

  test("JSONL compaction is lossless under schema drift and malformed lines") {
    // fields absent from the declared schema, and lines the schema can't
    // parse at all, must ride through compaction byte-identical — the
    // rewrite is a line move, never a parse through `schema`
    val dir = tmp()
    val leaf = new java.io.File(s"$dir/year=2026/month=01/day=01/hour=00")
    leaf.mkdirs()
    val drifted = Seq(
      """{"sensor_id":"a","extra_field":{"nested":1},"timestamp":"2026-01-01T00:00:00Z"}""",
      """{"sensor_id":"b","renamed_pm25":7.5}""",
      """this line is not even JSON {{{""",
      """{"sensor_id":"c"}""")
    drifted.zipWithIndex.foreach { case (line, i) =>
      Files.write(java.nio.file.Paths.get(s"$leaf/part-drift-$i.json"),
        (line + "\n").getBytes("UTF-8"))
    }
    // 6 more tiny files so the partition crosses the threshold
    (0 until 6).foreach { i =>
      Files.write(java.nio.file.Paths.get(s"$leaf/part-pad-$i.json"),
        s"""{"sensor_id":"pad$i"}\n""".getBytes("UTF-8"))
    }
    val before = spark.read.textFile(leaf.toString).collect().sorted
    val compacted = Lake.compact(spark, dir, Schemas.airQuality,
      maxFilesPerPartition = 2)
    assert(compacted == Seq("year=2026/month=01/day=01/hour=00"), compacted)
    val survivors = leaf.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(survivors.length == 1, s"expected 1 compacted file, got ${survivors.length}")
    val after = spark.read.textFile(leaf.toString).collect().sorted
    assert(after.toSeq == before.toSeq,
      s"compaction altered raw lines:\n${after.toSeq.diff(before.toSeq)}")
    assert(after.exists(_.contains("extra_field")) &&
      after.exists(_.contains("not even JSON")))
  }

  test("upsert rewrites only affected partitions; latest version wins; inserts land") {
    import spark.implicits._
    val dir = tmp() + "/upsert_lake"
    Seq((1L, 10.0, 0, "a"), (2L, 20.0, 0, "a"), (3L, 30.0, 0, "b"),
        (4L, 40.0, 0, "c"))
      .toDF("id", "v", "rev", "part")
      .write.partitionBy("part").parquet(dir)
    def filesOf(p: String): Set[(String, Long)] =
      new java.io.File(s"$dir/part=$p").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => (f.getName, f.lastModified())).toSet
    val bBefore = filesOf("b"); val cBefore = filesOf("c")

    val updates = Seq(
      (1L, 11.0, 1, "a"),   // beaten by the rev=2 row below
      (1L, 12.0, 2, "a"),   // intra-batch latest wins
      (2L, 20.5, 0, "a"),   // same rev as base: update side wins the tie
      (5L, 50.0, 1, "a"),   // insert into existing partition
      (6L, 60.0, 1, "d"))   // insert creating a NEW partition
      .toDF("id", "v", "rev", "part")
    val done = Lake.upsert(spark, dir, updates,
      keyCols = Seq("id"), partitionCol = "part", versionCol = "rev")
    assert(done.sorted == Seq("a", "d"))

    // untouched partitions: exact same files, same mtimes
    assert(filesOf("b") == bBefore && filesOf("c") == cBefore)

    val got = spark.read.parquet(dir)
      .select("id", "v", "rev", "part").as[(Long, Double, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 12.0, 2, "a"), (2L, 20.5, 0, "a"), (3L, 30.0, 0, "b"),
      (4L, 40.0, 0, "c"), (5L, 50.0, 1, "a"), (6L, 60.0, 1, "d")))

    // idempotent re-apply: same end state
    Lake.upsert(spark, dir, updates, Seq("id"), "part", "rev")
    val again = spark.read.parquet(dir)
      .select("id", "v", "rev", "part").as[(Long, Double, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(again == got)
  }

  test("upsert handles partition values needing path escaping and nulls") {
    import spark.implicits._
    // ':' and '%' are escaped by Spark's partitioned writer
    // (part=a%3Ab); null lands in __HIVE_DEFAULT_PARTITION__. A raw
    // s"part=$p" leaf name misses both — the merged rows would be
    // discarded with the stage dir (the round-6 ADVICE finding).
    val dir = tmp() + "/upsert_escape"
    Seq((1L, 10.0, 0, "a:b"), (2L, 20.0, 0, "p%q"), (3L, 30.0, 0, null: String),
        (4L, 40.0, 0, "plain"))
      .toDF("id", "v", "rev", "part")
      .write.partitionBy("part").parquet(dir)

    val updates = Seq(
      (1L, 11.0, 1, "a:b"),          // update in an escaped partition
      (2L, 21.0, 1, "p%q"),          // update in another escaped partition
      (3L, 31.0, 1, null: String),   // update in the null partition
      (5L, 50.0, 1, "x=y"))          // insert creating an escaped partition
      .toDF("id", "v", "rev", "part")
    val done = Lake.upsert(spark, dir, updates,
      keyCols = Seq("id"), partitionCol = "part", versionCol = "rev")
    assert(done.filter(_ != null).sorted == Seq("a:b", "p%q", "x=y") &&
      done.contains(null))

    val got = spark.read.parquet(dir)
      .select("id", "v", "rev", "part").as[(Long, Double, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 11.0, 1, "a:b"), (2L, 21.0, 1, "p%q"), (3L, 31.0, 1, null),
      (4L, 40.0, 0, "plain"), (5L, 50.0, 1, "x=y")))
  }

  test("upsert fuzz: 30 seeded batch sequences converge to the reference merge") {
    import spark.implicits._
    for (seed <- 0 until 30) {
      val rnd = new scala.util.Random(seed)
      val parts = Seq("p0", "p1", "p2")
      def somePart() = parts(rnd.nextInt(parts.length))
      val dir = tmp() + s"/fuzz_$seed"
      val base = (0 until 20).map(i => (i.toLong, rnd.nextInt(100).toDouble, 0, somePart()))
      base.toDF("id", "v", "rev", "part").write.partitionBy("part").parquet(dir)
      // reference state: (id -> (v, rev, part)); update wins rev ties
      var ref = base.map(r => r._1 -> r).toMap
      for (_ <- 0 until 3) {
        val batch = (0 until rnd.nextInt(10) + 1).map { _ =>
          val id = rnd.nextInt(30).toLong // ~1/3 inserts
          val part = ref.get(id).map(_._4).getOrElse(somePart()) // partition immutable per key
          (id, rnd.nextInt(100).toDouble, rnd.nextInt(4), part)
        }
        // the engine breaks ties between two same-key same-rev rows of
        // ONE batch arbitrarily — drop such keys from the fixture
        // (outcome undefined by contract), keep the unique-newest rest
        val dedupedBatch = batch.groupBy(_._1).flatMap { case (_, rows) =>
          val top = rows.filter(_._3 == rows.map(_._3).max)
          if (top.distinct.size == 1) Some(top.head) else None
        }.toSeq
        Lake.upsert(spark, dir, dedupedBatch.toDF("id", "v", "rev", "part"),
          Seq("id"), "part", "rev")
        dedupedBatch.foreach { r =>
          val keep = ref.get(r._1) match {
            case Some(old) => if (r._3 >= old._3) r else old
            case None => r
          }
          ref = ref + (r._1 -> keep)
        }
        val got = spark.read.parquet(dir)
          .select("id", "v", "rev", "part").as[(Long, Double, Int, String)]
          .collect().map(r => r._1 -> r).toMap
        assert(got == ref, s"seed $seed diverged: got ${got.size} ref ${ref.size}")
      }
    }
  }

  test("upsert refuses a tree with stage leftovers instead of cleaning them blind") {
    import spark.implicits._
    val dir = tmp() + "/upsert_stale"
    Seq((1L, 1.0, 0, "a")).toDF("id", "v", "rev", "part")
      .write.partitionBy("part").parquet(dir)
    assert(new java.io.File(s"$dir/.upsert_stage").mkdirs())
    val updates = Seq((1L, 2.0, 1, "a")).toDF("id", "v", "rev", "part")
    val e = intercept[IllegalArgumentException](
      Lake.upsert(spark, dir, updates, Seq("id"), "part", "rev"))
    assert(e.getMessage.contains("interrupted upsert"))
  }

  test("compaction refuses a partition with swap leftovers instead of cleaning them blind") {
    val dir = tmp()
    val fallback = to_timestamp(lit("1999-01-01 00:00:00"))
    (0 until 3).foreach { _ =>
      Lake.writeBronze(Generator.airQuality(spark, 12), dir, "json", fallback)
    }
    def down(f: java.io.File): java.io.File =
      f.listFiles().filter(_.isDirectory).headOption.map(down).getOrElse(f)
    val leaf = down(new java.io.File(dir))
    def names = leaf.listFiles().map(_.getName).sorted.toSeq
    val before = names
    assert(before.count(n => !n.startsWith(".") && !n.startsWith("_")) >= 3)
    val old = new java.io.File(leaf.getParentFile, s".${leaf.getName}_compact_old")
    assert(old.mkdirs())
    val e = intercept[IllegalArgumentException](
      Lake.compact(spark, dir, Schemas.airQuality, maxFilesPerPartition = 1))
    assert(e.getMessage.contains("recovery leftovers"))
    assert(old.isDirectory && names == before, "the refused partition was touched")
  }

  test("map-typed vehicle breakdown merges via City.mergeMapCounts (A9)") {
    val p = Generator.parking(spark, 30)
      .select(col("data.parking_lot_id").as("lot"),
        col("data.vehicle_breakdown").as("vehicle_breakdown"))
    val merged = graft.functions.City
      .mergeMapCounts(p.withColumn("all", lit("all")), Seq("all"), "vehicle_breakdown")
      .select(explode(col("vehicle_breakdown")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == Set("car", "motorcycle"))
    assert(merged("car") > merged("motorcycle")) // 80/20 split by construction
    // per-lot merge keeps one row per group with a sorted-key map
    val perLot = graft.functions.City.mergeMapCounts(p, Seq("lot"), "vehicle_breakdown")
    assert(perLot.count() == p.select("lot").distinct().count())
    val keys = perLot.select(map_keys(col("vehicle_breakdown"))).collect()
      .map(_.getSeq[String](0))
    assert(keys.forall(k => k == k.sorted), "map keys must serialize sorted")
  }

  test("quarantine read conserves every line and hands back bad lines verbatim") {
    val dir = graft.sources.Scratch.dir("graft_quar").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "good one"}""",
      """{"doc_id": 2""",                         // truncated
      """{"doc_id": 3, "text": "also good"}""",
      """not json at all""",
      """{"doc_id": "not-a-long", "text": "type clash"}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-00000.json"), lines.mkString("\n"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val read = Lake.readBronzeQuarantine(spark, dir, schema)
    // conservation: nothing vanishes, nothing is invented
    assert(read.count() == lines.length.toLong)
    val bad = read.filter(col("_quarantined").isNotNull)
      .select("_quarantined").collect().map(_.getString(0)).toSet
    assert(bad.contains("""{"doc_id": 2"""), s"truncated line not verbatim: $bad")
    assert(bad.contains("not json at all"))
    assert(bad.contains("""{"doc_id": "not-a-long", "text": "type clash"}"""))
    // the good side parses fully
    val good = read.filter(col("_quarantined").isNull)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(good == Map(1L -> "good one", 3L -> "also good"))
  }

  test("dead-letter round trip: bad lines land verbatim, append accumulates, count returned") {
    val dir = graft.sources.Scratch.dir("graft_dl_src").toString
    val dl = graft.sources.Scratch.dir("graft_dl_out").toString + "/letters"
    val badLines = Seq(
      """{"doc_id": 7""",
      """garbage with "quotes" and \ backslashes and {braces}""",
      """{"doc_id": "clash", "text": "tab\there"}""")
    val lines = Seq("""{"doc_id": 1, "text": "good"}""") ++ badLines
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-00000.json"), lines.mkString("\n"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val q = Lake.readBronzeQuarantine(spark, dir, schema)
    assert(Lake.writeDeadLetter(q, dl, mode = "overwrite") == badLines.length.toLong)
    val back = spark.read.text(dl).collect().map(_.getString(0)).toSeq.sorted
    assert(back == badLines.sorted, s"round trip not byte-identical: $back")
    // append accumulates a second delivery (operational default)
    assert(Lake.writeDeadLetter(q, dl) == badLines.length.toLong)
    assert(spark.read.text(dl).count() == 2L * badLines.length)
  }
}
