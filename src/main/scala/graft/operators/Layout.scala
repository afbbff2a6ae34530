package graft.operators

import graft.Shared
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning at lake scale.
  *
  * A 100 TB fact table is only as fast as the files a filter can skip:
  * parquet readers prune whole files/row-groups from footer min-max
  * stats, but a single-column sort gives selective stats on ONE
  * dimension — a box query on any other column still touches every
  * file. Interleaving the bits of several quantized dimensions into one
  * sort key (a Z-order / Morton curve, public knowledge — Morton 1966;
  * the same layout Delta's `OPTIMIZE ZORDER BY` and Iceberg's
  * `rewrite_data_files(strategy => 'sort', sort_order => zorder(...))`
  * apply) keeps rows that are close in EVERY dimension close in the
  * file order, so each file's min-max box is tight on all of them and
  * a multi-dimension predicate prunes most files.
  *
  * Everything here is integer/bit arithmetic on codegen'd built-ins —
  * no UDF, no shuffle beyond the one range-partition of the write
  * itself — and the key is a pure deterministic function of the row,
  * so an external engine (the DuckDB oracle in q73) reproduces it
  * bit-for-bit.
  */
object Layout {

  /** Scale a numeric column into `[0, 2^bits)` given its inclusive
    * min/max (pass them as literals or as columns from a broadcast
    * one-row stats frame). The arithmetic is fixed IEEE-double steps —
    * `floor(((c - min) * (2^bits - 1)) / (max - min))` with the
    * multiply before the divide — so any engine computes the identical
    * quantile. Degenerate range (`max == min`) maps to 0.
    */
  def quantize(c: Column, minC: Column, maxC: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"quantize bits must be in [1,31], got $bits")
    val scale = lit(((1L << bits) - 1).toDouble)
    when(maxC === minC, lit(0L)).otherwise(
      floor(((c - minC).cast("double") * scale) / (maxC - minC).cast("double"))
        .cast("long"))
  }

  /** Interleave the low `bits` bits of each (already-quantized,
    * non-negative) column into one Morton key: bit `b` of column `ci`
    * lands at position `b * n + ci`, so successive bit-levels of all
    * dimensions alternate and the induced order is the Z-curve.
    * `bits * cols.size` must fit a signed long.
    */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1, "zorderKey needs at least one column")
    require(bits * n <= 63, s"bits($bits) * dims($n) must be <= 63")
    val terms =
      for { (c, ci) <- cols.zipWithIndex; b <- 0 until bits }
        yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + ci)
    terms.reduce(_ + _)
  }

  /** The same Morton key as ANSI SQL over pre-quantized expressions —
    * the q73 oracle is generated from this so the engine and the
    * oracle can never drift.
    */
  def zorderKeySql(quantized: Seq[String], bits: Int): String = {
    val n = quantized.size
    (for { (q, ci) <- quantized.zipWithIndex; b <- 0 until bits }
      yield s"(((($q) >> $b) & 1) << ${b * n + ci})").mkString(" + ")
  }

  /** `quantize` as ANSI SQL (same IEEE step order). */
  def quantizeSql(c: String, minE: String, maxE: String, bits: Int): String = {
    val scale = ((1L << bits) - 1).toDouble
    s"""CASE WHEN ($maxE) = ($minE) THEN 0
        ELSE CAST(floor((($c - $minE) * $scale) / CAST($maxE - $minE AS DOUBLE)) AS BIGINT) END"""
  }

  /** Per-file min-max manifest over `statsCols` — the repo-side
    * analog of parquet footer stats / an Iceberg manifest. At 100 TB
    * the manifest is |files| rows: tiny, and the thing [[prunedRead]]
    * consults INSTEAD of listing and footer-probing every file.
    *
    * This is the FULL-REBUILD form — it reads every row of every file,
    * so it is |data|-priced and belongs only after a whole-table
    * rewrite (where the write itself was already |data|) or as the
    * recovery fallback. Steady-state maintenance is incremental:
    * writers that rewrite a known set of leaves call
    * [[refreshManifestDirs]], which re-stats ONLY the touched files —
    * the Iceberg/Delta discipline (stats ride each commit's file list,
    * the table is never re-scanned to learn what it already knew).
    */
  def buildManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                    statsCols: Seq[String]): DataFrame =
    statsForFiles(spark, spark.read.parquet(path), statsCols)

  private def statsForFiles(spark: org.apache.spark.sql.SparkSession,
                            data: DataFrame, statsCols: Seq[String]): DataFrame = {
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    data.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Directory the durable manifest lives in, INSIDE the lake root.
    * The underscore prefix hides it from Spark/Hadoop data listings
    * (the `_delta_log` convention), so `spark.read.parquet(lake)`
    * never sees manifest rows as data. */
  val ManifestDirName = "_graft_manifest"

  private def manifestPath(path: String) =
    new org.apache.hadoop.fs.Path(path, ManifestDirName)

  def manifestExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = manifestPath(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  def readManifest(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(manifestPath(path).toString)

  /** Full manifest (re)build persisted next to the data — the
    * initialization step of the incremental lifecycle, run once after
    * a whole-table write like [[writeZOrdered]]. */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                    statsCols: Seq[String]): Unit =
    buildManifest(spark, path, statsCols)
      .write.mode("overwrite").parquet(manifestPath(path).toString)

  /** Scheme + authority prefix of a URI-ish path string
    * (`hdfs://nn:8020`, `s3a://bucket`, `file://`, `file:`) — the part
    * both sides of a prefix match must drop SYMMETRICALLY. The old
    * form (`scheme:/+` → `/`) folded the authority into the path
    * (`hdfs://nn:8020/a` → `/nn:8020/a`), which broke both the match
    * and any filesystem call made on the mangled string. */
  private val SchemeAuthorityRe = "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?"

  /** `file` values come from `input_file_name()` as URIs
    * (`file:///a/b`, `hdfs://nn:8020/a/b`); touched dirs are qualified
    * against the lake's FileSystem before comparison. Both sides
    * normalize to a scheme-and-authority-less absolute path ONLY for
    * the prefix match — never for filesystem calls, which always use
    * the qualified original `Path`. */
  private[graft] def normalizePath(s: String): String =
    s.replaceFirst(SchemeAuthorityRe, "")

  /** Incrementally refresh a persisted manifest after a partial
    * rewrite: rows whose file lives under a `touchedDirs` prefix are
    * replaced by fresh stats over the files NOW present there (none,
    * if the dir vanished); every other row is carried over untouched.
    * Cost: |touched data| to stat + |files| rows to rewrite — never a
    * table scan. The stats columns are recovered from the manifest's
    * own schema, so callers (Lake.upsert, Lake.compact) need no
    * side-channel.
    */
  def refreshManifestDirs(spark: org.apache.spark.sql.SparkSession, path: String,
                          touchedDirs: Seq[String]): Unit = {
    if (touchedDirs.isEmpty) return
    val mPath = manifestPath(path)
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(mPath), s"no manifest at $mPath to refresh — writeManifest first")
    val man = readManifest(spark, path)
    val statsCols = man.columns.filter(_.endsWith("_min")).map(_.dropRight(4)).toSeq
    // filesystem calls use the QUALIFIED original path; only the prefix
    // match normalizes (symmetrically on both sides). Trailing
    // separator so "/a/b" cannot prefix-match "/a/bc".
    val touched = touchedDirs.map { d =>
      val qual = fs.makeQualified(new org.apache.hadoop.fs.Path(d))
      (qual, normalizePath(qual.toUri.toString).stripSuffix("/") + "/")
    }
    val nfile = regexp_replace(col("file"), SchemeAuthorityRe, "")
    val underTouched = touched.map { case (_, p) => nfile.startsWith(p) }.reduce(_ || _)
    val freshFiles = touched.flatMap { case (dir, _) =>
      if (fs.exists(dir))
        fs.listStatus(dir).filter(st => st.isFile &&
            !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
          .map(_.getPath.toString)
      else Array.empty[String]
    }
    val kept = man.filter(!underTouched)
    val refreshed =
      if (freshFiles.isEmpty) kept
      else kept.unionByName(
        statsForFiles(spark,
          // basePath keeps Hive-style partition columns resolvable when
          // a partition column is among statsCols (directory inference
          // is off for an explicit file list without it)
          spark.read
            .option("basePath", fs.makeQualified(
              new org.apache.hadoop.fs.Path(path)).toString)
            .parquet(freshFiles: _*),
          statsCols))
    // the new manifest's lineage reads the old manifest files — pin it
    // (|files| rows, lineage cut) before overwriting them
    Shared.scope {
      Shared.pin(refreshed).write.mode("overwrite").parquet(mPath.toString)
    }
  }

  /** Scan only the files whose manifest box can overlap the given
    * per-column closed ranges, then re-apply the exact predicate.
    * Equal to the full-scan filter row-for-row (pruning only skips
    * files that PROVABLY contain no match); with a Z-ordered layout
    * the skipped fraction is what LayoutSpec measures. Collecting the
    * matching file list on the driver is |files|-sized — the same
    * scale class as any catalog's split planning.
    */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, manifest: DataFrame,
                 ranges: Map[String, (Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "prunedRead needs at least one range")
    val overlap = ranges.map { case (c, (lo, hi)) =>
      col(s"${c}_max") >= lo && col(s"${c}_min") <= hi
    }.reduce(_ && _)
    val files = manifest.filter(overlap).select("file")
      .collect().map(_.getString(0))
    val exact = ranges.map { case (c, (lo, hi)) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    if (files.isEmpty) {
      // empty result with the data schema: open the full file set but
      // cap at zero rows — nothing is read, only listed
      val all = manifest.select("file").collect().map(_.getString(0))
      spark.read.parquet(all.toIndexedSeq: _*).limit(0)
    } else spark.read.parquet(files.toIndexedSeq: _*).filter(exact)
  }

  /** Rewrite `df` into `numFiles` files ordered by the Z-curve over
    * `zcols` (already-quantized columns — compose with [[quantize]]).
    * One range shuffle on the key, a local sort inside each output
    * file, and the key itself is dropped before the write: the layout
    * lives in the file order and footer stats, not the schema.
    */
  def writeZOrdered(df: DataFrame, path: String, zcols: Seq[Column],
                    bits: Int, numFiles: Int): Unit = {
    val keyed = df.withColumn("__zkey", zorderKey(zcols, bits))
    keyed
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
