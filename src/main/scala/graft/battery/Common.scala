package graft
package battery

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.{Scratch, Tables}

/** The fixture helpers that several battery families share: table
  * loading, dataset identity tags, the build-once dir and table
  * conventions, per-call scratch dirs and the MemoryStream harness. */
private[graft] object Common {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Dataset-identity tag for build-once tables and dirs: the dir's
    * hash plus, per named table, its row count and an
    * order-independent xxhash64 checksum over every column, memoized
    * per (tables, dir) for the JVM. The checksum catches in-place
    * regeneration of the testdata with the same row count, which a
    * count probe alone would serve a stale artifact for; it is one
    * narrow agg per table paid once per JVM (bit_xor keeps it
    * overflow-free under ANSI arithmetic). */
  private val tagCache =
    new java.util.concurrent.ConcurrentHashMap[(Seq[String], String), String]()

  private[graft] def dataTag(s: SparkSession, dir: String, tables: String*): String =
    tagCache.computeIfAbsent((tables, dir), _ =>
      tables.map { name =>
        val df = t(s, dir, name)
        val r = df.agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L))).head()
        s"_${r.getLong(0)}_" + java.lang.Long.toHexString(r.getLong(1))
      }.mkString(java.lang.Integer.toHexString(dir.hashCode), "", ""))

  /** [[dataTag]] of the documents table, the one most artifacts key on. */
  private[graft] def docsTag(s: SparkSession, dir: String): String =
    dataTag(s, dir, "documents")

  /** Shared build-once n-gram index tables (q31b build/serve, q62
    * cluster dedup): dataset identity (path + content fingerprint) AND
    * build parameters ride in the names, because `ensureNgramTables`
    * keys idempotency on table existence alone — two callers with
    * drifting (n, threshold) would otherwise silently serve each
    * other's build. */
  private[graft] def ngramIndexTables(s: SparkSession, dir: String): (String, String) = {
    val tag = docsTag(s, dir) + "_n3_t50"
    (s"graft_q31b_inv_$tag", s"graft_q31b_cands_$tag")
  }

  /** Shared build-once connected-components table over the q31b pair
    * graph: `(node, component)` for every doc that appears in a
    * verified near-dup pair. q48 (cluster report), q62 (survivor
    * filter), and q78b (leak-free splits) all consume the SAME
    * component map, and the large-star/small-star fixpoint is the
    * expensive part — so it is materialized once per dataset tag, the
    * [[ngramIndexTables]] lifecycle. */
  private[graft] def componentsTable(s: SparkSession, dir: String): String =
    s"graft_q48_comp_${docsTag(s, dir)}_n3_t50"

  private[graft] def ensureComponentsTable(s: SparkSession, dir: String): String = {
    val tbl = componentsTable(s, dir)
    if (!s.catalog.tableExists(tbl)) {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val (invT, candT) = ngramIndexTables(s, dir)
      graft.operators.Dedup.ensureNgramTables(s, docs, "doc_id", "text",
        invT, candT, n = 3, threshold = 0.5)
      val pairs = graft.operators.Dedup.ngramVerifiedPairs(
        s.table(invT), s.table(candT), threshold = 0.5)
      graft.sources.Warehouse.clearOrphanLocation(s, tbl)
      graft.operators.Components.connectedComponents(pairs, "doc_a", "doc_b")
        .write.mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** Hash of the compiled classfiles, stamped into every build-once
    * tmp dir ([[ensureDerivedDir]]): the WARC input fixtures are built
    * by graft code (`Warc.buildSegment`, `httpResponse`, `gzipBytes`,
    * …) and the streamed and derived exports are operator OUTPUTS, so
    * any code change must invalidate them or the battery would keep
    * validating bytes an older build wrote. The stamp walks the WHOLE
    * compiled `graft` package tree (names + mtimes): a body-only edit
    * recompiles just its own file, so probing a fixed class list would
    * miss e.g. a `Url.surt` change that reshapes every CDXJ key.
    * Unchanged builds (bench child JVMs, the two bench passes,
    * Verify) share the stamp and the cache; any recompile rebuilds
    * once. When classes load
    * from a JAR (sbt's forked runMain packages a fresh bg-jobs jar
    * PER INVOCATION, so the jar's own mtime would rebuild every run),
    * the stamp hashes the `graft/` entries' CRCs instead —
    * content-derived, stable across repackaging, changed by any
    * recompiled class. Fails LOUDLY if the probe is missing — a
    * silently-constant stamp would quietly stop invalidating. */
  private lazy val derivedCodeStamp: String = {
    val u = getClass.getResource("/graft/SparkEntry$.class")
    require(u != null, "classfile probe failed; cannot stamp derived artifacts")
    var acc = 1469598103934665603L // FNV-1a over sorted (name, version) pairs
    def mix(name: String, v: Long): Unit = {
      acc ^= name.hashCode.toLong; acc *= 1099511628211L
      acc ^= v; acc *= 1099511628211L
    }
    if (u.getProtocol == "file") {
      val root = new java.io.File(u.toURI).getParentFile // …/classes/graft
      def walk(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.sortBy(_.getName).foreach { k =>
          if (k.isDirectory) walk(k) else mix(k.getName, k.lastModified())
        }
      }
      walk(root)
    } else u.openConnection() match {
      case juc: java.net.JarURLConnection =>
        juc.setUseCaches(false)
        val jf = juc.getJarFile
        try {
          val es = jf.entries()
          val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          while (es.hasMoreElements) {
            val e = es.nextElement()
            if (e.getName.startsWith("graft/") && !e.isDirectory)
              entries += ((e.getName, e.getCrc))
          }
          entries.sortBy(_._1).foreach { case (nm, crc) => mix(nm, crc) }
        } finally jf.close()
      case c => acc = c.getLastModified
    }
    f"${acc & 0xffffffffL}%08x"
  }

  /** The one build-once convention for tmp artifacts (the WARC
    * fixtures, the streamed WET/WAT exports, the derived WAT/CDXJ and
    * merge outputs, q79's Z-ordered lake): a dir keyed by `name` + the
    * [[dataTag]] of the `tables` it derives from (documents unless
    * named) + [[derivedCodeStamp]], so the bench's warm-up + min-of-2 protocol
    * times SERVE rather than re-export. `build` populates a staging
    * dir that is renamed into place: a build that throws publishes
    * nothing, and the next call clears its stage and builds again.
    * Older-stamp siblings for the same (name, data tag) are pruned
    * before staging — iterative recompiles must not strand one
    * corpus-sized export per build in the temp dir. */
  private[graft] def ensureDerivedDir(s: SparkSession, dir: String, name: String,
                                      tables: Seq[String] = Seq("documents"))
                                     (build: String => Unit): String = {
    val prefix = s"graft_${name}_${dataTag(s, dir, tables: _*)}"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val root = new java.io.File(tmp, s"${prefix}_$derivedCodeStamp")
    if (!root.exists()) {
      val stale = tmp.listFiles()
      if (stale != null) stale
        .filter(f => f.getName.startsWith(prefix) &&
          !f.getName.startsWith(root.getName))
        .foreach(Scratch.deleteRecursively)
      val stage = new java.io.File(s"${root}_stage")
      Scratch.deleteRecursively(stage)
      stage.mkdirs()
      build(stage.toString)
      if (!stage.renameTo(root))
        require(root.exists(), s"build-once rename failed for $root")
    }
    root.toString
  }

  /** JVM-lifetime parent of the tmp lakes and exports that battery
    * entries rewrite on every call (deleted when the JVM exits). */
  private lazy val callScratch = Scratch.dir("graft_battery").toFile

  /** `callScratch/<name>`: the output dir of one rewrite-per-call entry. */
  private[graft] def callDir(name: String): String =
    new java.io.File(callScratch, name).toString

  /** The MemoryStream harness behind every streamed battery leg: the
    * collected `rows` (the S5 situation — no message bus in the
    * battery) arrive in chunks of `n / 3 + 1` rows, in order, through
    * the query `start` builds from the stream frame and a checkpoint
    * dir; each chunk is fully processed before the next is added, so
    * batch ids follow the chunks. The query is stopped and its
    * one-shot checkpoint deleted whatever happens — nothing ever
    * restarts from it. */
  private[graft] def streamRows[T: Encoder](s: SparkSession, rows: collection.Seq[T])(
      start: (DataFrame, String) => StreamingQuery): Unit = {
    val mem = MemoryStream[T](s)
    val ckpt = Scratch.dir("graft_stream_ckpt").toFile
    try {
      val q = start(mem.toDF(), ckpt.toString)
      try rows.grouped(rows.length / 3 + 1).foreach { c =>
        mem.addData(c.toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
    } finally Scratch.deleteRecursively(ckpt)
  }

  /** Fan a kernel-heavy pipeline out across cores when the scan cannot
    * (round-18, guide §2.5 "input skew — repartition immediately after
    * the read" / §1.2 "fix the distributed algorithm first"): the
    * fixture parquet files are SINGLE-ROW-GROUP, so every scan is one
    * task no matter the split size and every scan-side kernel (JSON
    * parse, shingle sketch, text stats) ran serial on one core while
    * 31 idled — the round-17 scaling block's "nothing parallelizes at
    * this SF" was this, not scheduling overhead. Condition: the
    * relation's estimated bytes yield fewer scan splits than the
    * session has cores. At warehouse scale a real table has many
    * splits, the condition is false, and the frame passes through
    * untouched — a 100 TB table is never shuffled just to parse it.
    * Hash-repartition on the row key (keyless round-robin would pay
    * the sort-before-repartition pass on the full rows). */
  private[graft] def fanOut(df: org.apache.spark.sql.DataFrame,
                            key: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz < BigInt(split) * cores) df.repartition(cores, col(key)) else df
  }
}
