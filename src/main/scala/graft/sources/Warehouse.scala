package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Warehouse-directory hygiene shared by every build-once table writer
  * ([[Bucketed]], `Dedup.ensureNgramTables`, demo jobs): a fresh
  * metastore can inherit a stale warehouse directory from a previous
  * session — `saveAsTable` refuses to reuse the location even in
  * overwrite mode (LOCATION_ALREADY_EXISTS) — so the orphan location of
  * an UNREGISTERED table must be cleared before writing. */
object Warehouse {

  /** The visible (non-underscore, non-dot) part FILES of a directory,
    * sorted — the shared read path for HIDDEN-NAMED artifact dirs
    * (`_graft_*_manifest`, compaction tmp dirs): handing Spark the
    * hidden dir path itself trips DataSource's hidden-path filter (an
    * "All paths were ignored" WARN that reads like a fault), so every
    * such reader lists the files and passes them explicitly. Empty
    * when the directory does not exist. */
  def visibleFiles(spark: SparkSession, dirPath: String): Seq[String] = {
    val p = new Path(dirPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else visibleFiles(fs, p).toSeq.map(_.getPath.toString).sorted
  }

  /** [[visibleFiles]] as statuses, on a caller's filesystem. */
  private[sources] def visibleFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter(s => s.isFile && {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })

  /** Fail fast on qualified names: a qualified table lives at
    * `<warehouse>/<db>.db/<table>` and would dodge the orphan probe
    * (and backticked DROPs elsewhere would target the wrong table). */
  def requireUnqualified(table: String, who: String): Unit =
    require(!table.contains("."),
      s"$who takes an unqualified table name in the default database, got '$table'")

  /** Delete the default-database location for `table` if it exists but
    * the catalog has no such table. The location is resolved from the
    * catalog's default database — the value the catalog actually uses —
    * not the session conf, which can drift from it. Destructive delete
    * is gated on the directory actually looking like a Spark table dir
    * (committed _SUCCESS marker or part/parquet files), never an
    * arbitrary directory that happens to collide with the name. */
  def clearOrphanLocation(spark: SparkSession, table: String): Unit = {
    requireUnqualified(table, "Warehouse.clearOrphanLocation")
    if (spark.catalog.tableExists(table)) return
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(new java.net.URI(
        spark.catalog.getDatabase("default").locationUri)),
      table.toLowerCase(java.util.Locale.ROOT)) // catalog lowercases locale-free
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def looksLikeTableDir: Boolean = {
      val entries = fs.listStatus(loc).map(_.getPath.getName)
      entries.isEmpty || entries.contains("_SUCCESS") ||
        entries.exists(n => n.startsWith("part-") || n.endsWith(".parquet"))
    }
    if (fs.exists(loc) && fs.getFileStatus(loc).isDirectory && looksLikeTableDir)
      fs.delete(loc, true)
  }

  /** Census of the graft-managed catalog tables — the operational
    * audit the growing build-once table population needs (a stale
    * `ensure*` table left by an aborted run is otherwise invisible):
    * one row per default-database table whose name starts with
    * `prefix`, with its row count, catalog creation stamp
    * (epoch millis), and maintenance-ledger high-water batch (NULL
    * for non-ledgered tables — the ledgered families stamp
    * `graft.maintenance.lastBatch` into table properties). Driver
    * work is one catalog listing plus one COUNT job per table —
    * bounded by the table census, never by data size; each count is
    * a metadata-only parquet scan. */
  def auditTables(spark: SparkSession, prefix: String = "graft_"): DataFrame = {
    import spark.implicits._
    val names = spark.sessionState.catalog.listTables("default")
      .map(_.table).filter(_.startsWith(prefix)).sorted
    val rows = names.map { n =>
      val meta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(n))
      // the property key Maintenance.refreshLedgered stamps
      (n, spark.table(n).count(), meta.createTime,
        meta.properties.get("graft.maintenance.lastBatch").map(_.toLong))
    }
    rows.toDF("table_name", "row_count", "created_at_ms", "last_batch")
  }
}
