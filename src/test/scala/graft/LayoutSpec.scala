package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Layout semantics behind q73: the Morton key matches a bit-twiddling
  * reference implementation, the write is lossless, and — the point of
  * the whole exercise — a 2-D box predicate prunes more files under
  * the Z-order layout than under a single-column sort, measured on the
  * files' actual min-max footprints.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def mortonRef(xs: Seq[Long], bits: Int): Long = {
    var key = 0L
    val n = xs.size
    for (b <- 0 until bits; ci <- 0 until n)
      key |= ((xs(ci) >> b) & 1L) << (b * n + ci)
    key
  }

  test("zorderKey matches the reference interleave, 2-dim and 3-dim") {
    val samples = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (255L, 255L, 255L),
      (170L, 85L, 0L), (200L, 3L, 77L), (128L, 64L, 32L))
    val df = samples.toDF("x", "y", "z")
    val got2 = df.select($"x", $"y",
      Layout.zorderKey(Seq($"x", $"y"), 8).as("k")).collect()
    got2.foreach { r =>
      assert(r.getLong(2) == mortonRef(Seq(r.getLong(0), r.getLong(1)), 8))
    }
    val got3 = df.select($"x", $"y", $"z",
      Layout.zorderKey(Seq($"x", $"y", $"z"), 8).as("k")).collect()
    got3.foreach { r =>
      assert(r.getLong(3) == mortonRef(Seq(r.getLong(0), r.getLong(1), r.getLong(2)), 8))
    }
  }

  test("zorderKey orders a 2x2 quadrant grid as the Z traversal") {
    // the curve's defining property at one bit: (0,0) < (1,0) < (0,1) < (1,1)
    val quads = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L)).toDF("x", "y")
    val keys = quads.select(Layout.zorderKey(Seq($"x", $"y"), 1).as("k"))
      .collect().map(_.getLong(0)).toSeq
    assert(keys == Seq(0L, 1L, 2L, 3L))
  }

  private lazy val events =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")

  /** Per-file bounding boxes over (user_id, event_id) — what a parquet
    * footer would expose for pruning. */
  private def fileBoxes(path: String): Array[(Long, Long, Long, Long)] =
    spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
           min("event_id").as("elo"), max("event_id").as("ehi"))
      .select("ulo", "uhi", "elo", "ehi")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("a 2-D box query prunes more files under Z-order than under a 1-D sort") {
    val tmp = graft.sources.Scratch.dir("graft_layout").toString
    val zPath = s"$tmp/zorder"
    val linPath = s"$tmp/linear"
    // Files must be finer-grained than the query boxes for layout to
    // matter at all: each file is a contiguous segment of the curve,
    // and a box can only be pruned against segments smaller than
    // itself. 256 files over 10k rows is toy-sized, but the RATIO
    // (file footprint ~1/256 of the space vs box area ~1/64) mirrors
    // a 100 TB table's millions-of-files-vs-selective-predicate shape.
    val numFiles = 256

    val st = events.agg(
      min("user_id").as("umin"), max("user_id").as("umax"),
      min("event_id").as("emin"), max("event_id").as("emax")).head()
    val (umin, umax) = (st.getLong(0), st.getLong(1))
    val (emin, emax) = (st.getLong(2), st.getLong(3))
    Layout.writeZOrdered(
      events, zPath,
      Seq(Layout.quantize(col("user_id"), lit(umin), lit(umax), 8),
          Layout.quantize(col("event_id"), lit(emin), lit(emax), 8)),
      bits = 8, numFiles = numFiles)
    // the comparison layout: same file count, sorted on user_id only
    events.repartitionByRange(numFiles, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(linPath)

    // losslessness: same rows, original schema (the key is dropped)
    val zBack = spark.read.parquet(zPath)
    assert(zBack.count() == events.count())
    assert(zBack.columns.sorted.toSeq == events.columns.sorted.toSeq)
    assert(zBack.agg(sum("event_id")).head.getLong(0) ==
      events.agg(sum("event_id")).head.getLong(0))

    // Sweep 12.5%-per-dim boxes along the diagonal (unaligned offsets
    // included — no cherry-picking the curve's friendly cells) and
    // count file hits under each layout. 1-D sort prunes on user_id
    // only, so every box pays ~12.5% of files regardless of the
    // event_id constraint; the Z layout's per-file boxes are tight on
    // both dims and the 1.6%-area boxes touch only the curve segments
    // that actually cross them.
    val zBoxes = fileBoxes(zPath)
    val linBoxes = fileBoxes(linPath)
    def overlapping(boxes: Array[(Long, Long, Long, Long)],
                    ulo: Long, uhi: Long, elo: Long, ehi: Long): Int =
      boxes.count { case (flo, fhi, glo, ghi) =>
        fhi >= ulo && flo <= uhi && ghi >= elo && glo <= ehi
      }
    val uSpan = umax - umin
    val eSpan = emax - emin
    val hits = (0 to 6).map { k =>
      val ulo = umin + uSpan * k / 8; val uhi = umin + uSpan * (k + 1) / 8
      val elo = emin + eSpan * k / 8; val ehi = emin + eSpan * (k + 1) / 8
      (overlapping(zBoxes, ulo, uhi, elo, ehi),
       overlapping(linBoxes, ulo, uhi, elo, ehi))
    }
    val zTotal = hits.map(_._1).sum
    val linTotal = hits.map(_._2).sum
    info(s"box sweep file hits of $numFiles: z=${hits.map(_._1)} total=$zTotal; " +
      s"linear=${hits.map(_._2)} total=$linTotal")
    assert(zTotal < linTotal,
      s"z-order total hits=$zTotal not better than linear=$linTotal")
    assert(zTotal.toDouble <= linTotal.toDouble * 0.6,
      s"expected a decisive pruning win: z=$zTotal linear=$linTotal")

    // ---- manifest-pruned read over the same z layout ----
    val manifest = Layout.buildManifest(spark, zPath, Seq("user_id", "event_id"))
    assert(manifest.count() == numFiles)
    val (ulo, uhi) = (umin + uSpan * 3 / 8, umin + uSpan * 5 / 8)
    val (elo, ehi) = (emin + eSpan * 3 / 8, emin + eSpan * 5 / 8)
    val pruned = Layout.prunedRead(spark, manifest,
      Map("user_id" -> (ulo, uhi), "event_id" -> (elo, ehi)))
    val full = spark.read.parquet(zPath)
      .filter(col("user_id").between(ulo, uhi) && col("event_id").between(elo, ehi))
    // row-for-row equal to the full scan…
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    assert(pruned.count() > 0, "box unexpectedly empty — fixture drifted")
    // …while actually skipping files
    assert(pruned.inputFiles.length < numFiles,
      s"manifest pruned nothing: ${pruned.inputFiles.length} of $numFiles files")

    // a box outside the data is empty but keeps the schema
    val none = Layout.prunedRead(spark, manifest,
      Map("user_id" -> (umax + 1000, umax + 2000)))
    assert(none.count() == 0)
    assert(none.schema == full.schema)
  }

  test("incremental manifest refresh equals a full rebuild across upsert and compact") {
    import graft.sources.Lake
    // file values come from input_file_name() URIs; strip the scheme so
    // carried-over and freshly-statted rows compare on the same form
    def rows(df: DataFrame, cols: Seq[String]): Seq[String] = df
      .select((regexp_replace(col("file"), "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/").as("f")
        +: cols.flatMap(c => Seq(col(s"${c}_min"), col(s"${c}_max")))): _*)
      .collect().map(_.toString).sorted.toSeq

    // --- the Lake.upsert hook: flat part=X lake ---
    val dir = graft.sources.Scratch.dir("graft_mlake").toString + "/lake"
    Seq((1L, 10L, 0, "a"), (2L, 20L, 0, "a"), (3L, 30L, 0, "b"), (4L, 40L, 0, "c"))
      .toDF("id", "v", "rev", "part")
      .write.partitionBy("part").parquet(dir)
    Layout.writeManifest(spark, dir, Seq("id", "v"))
    // rewrites partition a, creates partition d -> only those leaves
    // may be re-statted; b and c rows must carry over verbatim
    val bBefore = rows(Layout.readManifest(spark, dir), Seq("id", "v"))
      .filter(s => s.contains("part=b") || s.contains("part=c"))
    Lake.upsert(spark, dir,
      Seq((1L, 11L, 1, "a"), (5L, 50L, 1, "d")).toDF("id", "v", "rev", "part"),
      keyCols = Seq("id"), partitionCol = "part", versionCol = "rev")
    val refreshed = rows(Layout.readManifest(spark, dir), Seq("id", "v"))
    assert(refreshed == rows(Layout.buildManifest(spark, dir, Seq("id", "v")), Seq("id", "v")),
      "manifest after the upsert hook diverged from a full rebuild")
    assert(refreshed.filter(s => s.contains("part=b") || s.contains("part=c")) == bBefore,
      "untouched partitions were re-statted (file identity changed)")
    // the refreshed manifest serves pruned reads == the plain filter
    val pruned = Layout.prunedRead(spark, Layout.readManifest(spark, dir),
      Map("id" -> (5L, 9L))).select("id", "v").collect().map(_.toString).sorted.toSeq
    val plain = spark.read.parquet(dir).filter(col("id").between(5L, 9L))
      .select("id", "v").collect().map(_.toString).sorted.toSeq
    assert(pruned == plain && pruned.nonEmpty)

    // --- the Lake.compact hook: bronze-shaped parquet tree ---
    val bdir = graft.sources.Scratch.dir("graft_mbronze").toString + "/lake"
    (0 until 3).foreach { i =>
      Seq((i.toLong, 100L + i, 2026, 1, 1, 5), (i + 10L, 200L + i, 2026, 1, 1, 6))
        .toDF("id", "v", "year", "month", "day", "hour")
        .write.mode("append").partitionBy("year", "month", "day", "hour").parquet(bdir)
    }
    Layout.writeManifest(spark, bdir, Seq("id", "v"))
    val done = Lake.compact(spark, bdir, new org.apache.spark.sql.types.StructType(),
      format = "parquet", maxFilesPerPartition = 1)
    assert(done.nonEmpty, "fixture failed to fragment — nothing compacted")
    assert(rows(Layout.readManifest(spark, bdir), Seq("id", "v")) ==
      rows(Layout.buildManifest(spark, bdir, Seq("id", "v")), Seq("id", "v")),
      "manifest after the compact hook diverged from a full rebuild")
  }

  test("normalizePath strips scheme AND authority, never folding the authority into the path") {
    // the round-8 bug: 'hdfs://nn:8020/a' -> '/nn:8020/a' made the
    // manifest prefix match (and any fs call on the string) silently
    // miss every touched leaf on a non-local filesystem
    assert(Layout.normalizePath("hdfs://nn:8020/a/b") == "/a/b")
    assert(Layout.normalizePath("s3a://bucket/a/b") == "/a/b")
    assert(Layout.normalizePath("file:///a/b") == "/a/b")
    assert(Layout.normalizePath("file:/a/b") == "/a/b")
    assert(Layout.normalizePath("/a/b") == "/a/b")
    // symmetry: a dir and a file under it agree after normalization
    val dir = Layout.normalizePath("hdfs://nn:8020/lake/part=a")
    val file = Layout.normalizePath("hdfs://nn:8020/lake/part=a/f0.parquet")
    assert(file.startsWith(dir + "/"))
  }

  test("refresh with a partition column in statsCols keeps the column resolvable") {
    import graft.sources.Lake
    // partition columns only exist via directory inference; the fresh-
    // file re-stat must read with basePath or the refresh throws AFTER
    // Lake.upsert already swapped data (stale manifest vs committed data)
    val dir = graft.sources.Scratch.dir("graft_mpart").toString + "/lake"
    Seq((1L, 10L, 0, 7L), (2L, 20L, 0, 8L), (3L, 30L, 0, 9L))
      .toDF("id", "v", "rev", "part")
      .write.partitionBy("part").parquet(dir)
    Layout.writeManifest(spark, dir, Seq("id", "part"))
    Lake.upsert(spark, dir,
      Seq((1L, 11L, 1, 7L), (4L, 40L, 1, 5L)).toDF("id", "v", "rev", "part"),
      keyCols = Seq("id"), partitionCol = "part", versionCol = "rev")
    val man = Layout.readManifest(spark, dir)
    val rebuilt = Layout.buildManifest(spark, dir, Seq("id", "part"))
    def norm(df: DataFrame): Seq[String] = df
      .select(regexp_replace(col("file"), "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", "").as("f"),
        col("id_min"), col("id_max"), col("part_min"), col("part_max"))
      .collect().map(_.toString).sorted.toSeq
    assert(norm(man) == norm(rebuilt),
      "partition-column stats after refresh diverged from a full rebuild")
  }

  test("refreshManifestDirs releases the manifest frame it pins") {
    val dir = graft.sources.Scratch.dir("graft_mrelease").toString + "/lake"
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "part")
      .write.partitionBy("part").parquet(dir)
    Layout.writeManifest(spark, dir, Seq("id", "v"))
    Seq((3L, 30L)).toDF("id", "v").write.mode("append").parquet(s"$dir/part=a")
    val before = persistedRdds
    Layout.refreshManifestDirs(spark, dir, Seq(s"$dir/part=a"))
    assert((persistedRdds -- before).isEmpty, "refresh left its pin stored")
    assert(Layout.readManifest(spark, dir).count() == 3L)
  }
}
