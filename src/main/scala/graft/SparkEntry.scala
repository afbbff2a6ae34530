package graft

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.{City, Text}
import graft.sources.{Scratch, Tables}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent `oracleSql` (column names
  * and types aligned on both sides; doubles rounded to 4 dp so the
  * hash compare is robust to accumulation order).
  *
  * Design notes for 100 TB scale are on each query; all plans are
  * declarative DataFrame trees so Catalyst handles pushdown/pruning,
  * and dimension joins are explicitly broadcast.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
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
  private def dataTag(s: SparkSession, dir: String, tables: String*): String =
    tagCache.computeIfAbsent((tables, dir), _ =>
      tables.map { name =>
        val df = t(s, dir, name)
        val r = df.agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L))).head()
        s"_${r.getLong(0)}_" + java.lang.Long.toHexString(r.getLong(1))
      }.mkString(java.lang.Integer.toHexString(dir.hashCode), "", ""))

  /** [[dataTag]] of the documents table, the one most artifacts key on. */
  private def docsTag(s: SparkSession, dir: String): String =
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

  /** Incremental n-gram index tables (q31c): the frozen-order
    * build/append lifecycle of [[graft.operators.Dedup
    * .ensureNgramIndexIncr]]. Same naming rules as
    * [[ngramIndexTables]]. */
  private[graft] def ngramIncrTables(s: SparkSession, dir: String)
      : graft.operators.Dedup.NgramIncrTables = {
    val tag = docsTag(s, dir) + "_n3_t50_incr"
    graft.operators.Dedup.NgramIncrTables(
      s"graft_q31c_inv_$tag", s"graft_q31c_df_$tag",
      s"graft_q31c_pinv_$tag", s"graft_q31c_cands_$tag")
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

  private def ensureComponentsTable(s: SparkSession, dir: String): String = {
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

  /** Shared build-once BM25 statistics tables (q54b). */
  private[graft] def bm25Tables(s: SparkSession, dir: String): (String, String, String) = {
    val tag = docsTag(s, dir)
    (s"graft_q54b_stats_$tag", s"graft_q54b_df_$tag", s"graft_q54b_corpus_$tag")
  }

  /** Shared build-once bigram language-model tables (q70b). */
  private[graft] def bigramTables(s: SparkSession, dir: String): (String, String, String) = {
    val tag = docsTag(s, dir)
    (s"graft_q70b_bigrams_$tag", s"graft_q70b_ctx_$tag", s"graft_q70b_vocab_$tag")
  }

  /** Build-once STREAMED bigram-LM state (q163/q162b): the corpus
    * delivered in 3 micro-batches through
    * [[graft.streaming.Maintenance.streamingBigramModel]] into the
    * standing (bigrams, tokens) table pair. The driver-side collect
    * feeds the MemoryStream test harness (the S5 situation), not the
    * operator. */
  private def ensureStreamedLmTables(s: SparkSession,
                                     dir: String): (String, String) = {
    import s.implicits._
    val tag = docsTag(s, dir)
    val (bigT, tokT) = (s"graft_q163_big_$tag", s"graft_q163_tok_$tag")
    if (!s.catalog.tableExists(bigT) || !s.catalog.tableExists(tokT)) {
      // Rebuild FROM SCRATCH whenever either table is missing: a crash
      // between creating bigT and tokT must not replay batches against
      // a stamped ledger, because the skip's correctness would then
      // hinge on the fresh collect() reproducing the old run's chunk
      // boundaries — parquet read order guarantees no such thing, and
      // a boundary shift silently under/over-counts bigrams. Dropping
      // the surviving half (plus the staging/ledger state: the ledger
      // is a table property on bigT, the swap uses a _staging sibling)
      // makes the rebuild a first-ever run with batch ids aligned to
      // THIS collect's chunks.
      Seq(bigT, s"${bigT}_staging", tokT).foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.sources.Warehouse.clearOrphanLocation(s, tbl)
      }
      val rows = t(s, dir, "documents").select("doc_id", "text")
        .as[(Long, String)].collect()
      streamRows(s, rows) { (in, ckpt) =>
        graft.streaming.Maintenance.streamingBigramModel(
          in.toDF("doc_id", "text"), "doc_id", "text", bigT, tokT, ckpt)
      }
      s.catalog.refreshTable(bigT)
      s.catalog.refreshTable(tokT)
    }
    (bigT, tokT)
  }

  /** Build-once customer<->supplier trade-graph edge tables (q95b):
    * the q95 edge derivation — the join+distinct+mirror+out-degree
    * fold that dominated q95's wall clock — materialized once per
    * dataset tag via [[graft.operators.Graph.ensureEdgeTable]];
    * serving iterations read only these tables. */
  private def ensureTradeEdgeTable(s: SparkSession, dir: String): String = {
    // b32 = the bucketed layout version: existence-keyed idempotence
    // must not serve a pre-bucketing table under the no-repartition
    // serve path
    val tbl = s"graft_q95b_edges_b32_${dataTag(s, dir, "orders", "lineitem")}"
    graft.operators.Graph.ensureEdgeTable(s, {
      val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cn"),
          (col("l_suppkey") * 2 + 1).as("sn"))
        .distinct()
      pairs.select(col("cn").as("src"), col("sn").as("dst"))
        .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst")))
    }, "src", "dst", tbl, assumeDistinct = true)
    tbl
  }

  /** Build-once IVFADC index tables for q88b (corpus = embeddings ∪
    * ann clones): cell-tagged code rows, the centroid frame, and the
    * PQ codebook frame — the three artifacts [[graft.operators.Similarity]]'s
    * persisted lifecycle serves from. The ensureBm25Tables idempotency
    * discipline: keyed on table existence, dataset identity in the
    * names. */
  private def ensureIvfPqTables(s: SparkSession, dir: String): (String, String, String) = {
    val tag = dataTag(s, dir, "embeddings")
    val (idxT, centT, cbT) =
      (s"graft_q88b_idx_$tag", s"graft_q88b_cent_$tag", s"graft_q88b_cb_$tag")
    if (!s.catalog.tableExists(idxT) || !s.catalog.tableExists(centT) ||
        !s.catalog.tableExists(cbT)) {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = emb.union(annClones(emb))
      val cm = graft.operators.Similarity.ivfCentroids(corpus, "vec_id",
        "embedding", nlist = 16)
      val model = graft.operators.Similarity.pqTrain(corpus, "vec_id", "embedding")
      graft.sources.Warehouse.clearOrphanLocation(s, centT)
      graft.operators.Similarity.centroidsToDF(s, cm)
        .write.mode("overwrite").saveAsTable(centT)
      graft.sources.Warehouse.clearOrphanLocation(s, cbT)
      graft.operators.Similarity.pqModelToDF(s, model)
        .write.mode("overwrite").saveAsTable(cbT)
      graft.sources.Warehouse.clearOrphanLocation(s, idxT)
      graft.operators.Similarity.ivfPqEncode(corpus, "vec_id", "embedding", cm, model)
        .write.mode("overwrite").saveAsTable(idxT)
    }
    (idxT, centT, cbT)
  }

  /** The q113/q114 web-page fixture: one page per document with a
    * deterministic base URL (`https://Site{id%20}.Example.COM:443/…` —
    * mixed case + default port so canonicalization is live) and four
    * link species — a chrome nav link, an absolute link carrying the
    * full canonicalization torture set (case, default port, dot
    * segments, tracking params, unsorted query, fragment), a
    * path-relative link with a tracking param, a protocol-relative
    * link — plus a mailto: that must canonicalize to NULL. */
  private def linkPages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://Site"), pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".Example.COM:443/dir/page"), col("doc_id").cast("string"),
        lit(".html")).as("base_url"),
      concat(
        lit("<html><body><nav><a href=\"/home\">Home</a></nav>" +
          "<p><a href=\"HTTPS://WWW.Example.com:443/a/b/../c/./d.html" +
          "?utm_source=x&amp;b=2&amp;a=1&amp;gclid=z#frag\">one</a> " +
          "<a href='../other/page"),
        col("doc_id").cast("string"),
        lit(".html?z=1&amp;utm_medium=email'>two</a> " +
          "<a href=//CDN.example.com/lib.js>three</a> " +
          "<a href=\"mailto:user@example.com\">four</a></p></body></html>"))
        .as("html"))

  /** The q111 page fixture: the documents table wrapped in a fixed
    * HTML template carrying every boilerplate species (head chrome,
    * header branding, nav bar, short promo div, link-farm list,
    * footer) around two real content blocks. Shared verbatim by the
    * q115/q116 WARC fixture — the q115 oracle reconstructs these
    * exact bytes in SQL, so the template must stay a pure
    * concatenation of literals, doc_id, and text. */
  private def mainTextPages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(
        lit("<!DOCTYPE html><html><head><title>Doc "),
        col("doc_id").cast("string"),
        lit("</title><style>p{color:red}</style>" +
          "<script>if(a<b){x=1;}</script></head><body>" +
          "<header><h1>Site &amp; Brand</h1></header>" +
          "<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>" +
          "<div>HOME | ABOUT</div><p>"),
        col("text"),
        lit("</p><ul><li><a href=\"/a\">Link one</a> " +
          "<a href=\"/b\">Link two</a> more links</li></ul>" +
          "<p>Quoted &quot;entities&quot; &amp; more entity text " +
          "decodes here</p>" +
          "<footer>(c) example corp all rights reserved</footer>" +
          "</body></html>")).as("html"))

  /** The shared-hub anchor fixture (q157/q158/q161): groups of 5
    * consecutive docs all link to one hub page with per-doc labels —
    * the profile aggregate and its ranking/streaming consumers all
    * read the same template, and the oracle is arithmetic on the
    * group leader id. */
  private def anchorHubPages(s: SparkSession, dir: String): DataFrame = {
    val ks = pmod(col("doc_id"), lit(20)).cast("string")
    val ids = col("doc_id").cast("string")
    val leader =
      (col("doc_id") - pmod(col("doc_id"), lit(5))).cast("string")
    t(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://site"), ks, lit(".example.com/page"),
        ids, lit(".html")).as("url"),
      concat(lit("<html><body><a href=\"https://hub.example.com/t"),
        leader, lit(".html\">topic "), ids,
        lit(" guide</a></body></html>")).as("html"))
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
  private def callDir(name: String): String =
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

  /** Build-once WARC fixture for q115/q116: real `.warc` segment
    * files (every other one whole-file GZIPPED to keep that path
    * live), 25 docs per segment, each segment = one warcinfo record +
    * a request/response pair per doc; response bodies are the
    * [[mainTextPages]] HTML verbatim. */
  private def ensureWarcDir(s: SparkSession, dir: String): String =
    ensureDerivedDir(s, dir, "q115_warc") { stage =>
      val rows = mainTextPages(s, dir)
        .select(col("doc_id"), col("html")).collect()
        .map(r => r.getLong(0) -> r.getString(1))
      rows.groupBy(_._1 / 25).foreach { case (seg, docs) =>
        val records = ("warcinfo", null: String,
          "software: graft\r\n".getBytes("ISO-8859-1")) +:
          docs.sortBy(_._1).flatMap { case (id, html) =>
            val uri = s"https://site${id % 20}.example.com/dir/page$id.html"
            Seq(
              ("request", uri,
                (s"GET /dir/page$id.html HTTP/1.1\r\nHost: example.com\r\n\r\n")
                  .getBytes("ISO-8859-1")),
              ("response", uri,
                graft.sources.Warc.httpResponse(html.getBytes("ISO-8859-1"))))
          }.toSeq
        val bytes = graft.sources.Warc.buildSegment(records)
        val (name, out) =
          if (seg % 2 == 0) (f"seg-$seg%05d.warc", bytes)
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(bytes); g.close()
            (f"seg-$seg%05d.warc.gz", bos.toByteArray)
          }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(stage, name), out)
      }
    }

  /** Build-once WARC fixture for q128: every response body rides a
    * different HTTP wire encoding by doc_id%5 — identity, chunked,
    * gzip, deflate, chunked-over-gzip — around the SAME closed-form
    * text, so the decoded output is a pure function of the documents
    * table regardless of encoding. */
  private def ensureHttpWarcDir(s: SparkSession, dir: String): String =
    ensureDerivedDir(s, dir, "q128_warc") { stage =>
      val rows = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1))
      rows.groupBy(_._1 / 25).foreach { case (seg, docs) =>
        val records = docs.sortBy(_._1).map { case (id, text) =>
          val body = s"decoded $id $text"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val W = graft.sources.Warc
          val payload = (id % 5) match {
            case 0 => W.httpResponse(body)
            case 1 => W.httpResponseWith(W.encodeChunked(body, 64),
              extraHeaders = Seq("Transfer-Encoding: chunked"))
            case 2 => W.httpResponseWith(W.gzipBytes(body),
              extraHeaders = Seq("Content-Encoding: gzip"))
            case 3 => W.httpResponseWith(W.deflateBytes(body),
              extraHeaders = Seq("Content-Encoding: deflate"))
            case _ => W.httpResponseWith(W.encodeChunked(W.gzipBytes(body), 64),
              extraHeaders = Seq("Content-Encoding: gzip",
                "Transfer-Encoding: chunked"))
          }
          ("response",
            s"https://site${id % 20}.example.com/dir/page$id.html", payload)
        }.toSeq
        java.nio.file.Files.write(
          java.nio.file.Paths.get(stage, f"seg-$seg%05d.warc"),
          graft.sources.Warc.buildSegment(records))
      }
    }

  /** Build-once WARC fixture for q130: per doc a redirect CHAIN —
    * /start (301, relative Location) → /hop (302, absolute Location
    * onto the NEXT host) → /final (200 content); every 10th doc is a
    * 2-cycle /start ⇄ /loop instead. Exercises relative resolution,
    * cross-host hops, and the loop cap closed-form. */
  private def ensureRedirectWarcDir(s: SparkSession, dir: String): String =
    ensureDerivedDir(s, dir, "q130_warc") { stage =>
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .collect().map(_.getLong(0))
      val W = graft.sources.Warc
      ids.groupBy(_ / 25).foreach { case (seg, docs) =>
        val records = docs.sorted.flatMap { id =>
          val h = s"https://site${id % 20}.example.com"
          val hNext = s"https://site${(id % 20 + 1) % 20}.example.com"
          if (id % 10 == 0) Seq(
            ("response", s"$h/start$id.html", W.httpResponseWith(
              Array.empty[Byte], status = "302 Found",
              extraHeaders = Seq(s"Location: /loop$id.html"))),
            ("response", s"$h/loop$id.html", W.httpResponseWith(
              Array.empty[Byte], status = "301 Moved Permanently",
              extraHeaders = Seq(s"Location: /start$id.html"))))
          else Seq(
            ("response", s"$h/start$id.html", W.httpResponseWith(
              Array.empty[Byte], status = "301 Moved Permanently",
              extraHeaders = Seq(s"Location: /hop$id.html"))),
            ("response", s"$h/hop$id.html", W.httpResponseWith(
              Array.empty[Byte], status = "302 Found",
              extraHeaders = Seq(s"Location: $hNext/final$id.html"))),
            ("response", s"$hNext/final$id.html",
              W.httpResponse(s"terminal $id".getBytes("UTF-8"))))
        }.toSeq
        java.nio.file.Files.write(
          java.nio.file.Paths.get(stage, f"seg-$seg%05d.warc"),
          W.buildSegment(records))
      }
    }

  /** Build-once WARC fixture for q132: every doc a digest-stamped
    * response (`WARC-Payload-Digest` = sha1-base32 of the HTTP body —
    * the CommonCrawl convention), and every doc_id%4==3 additionally a
    * `revisit` record whose digest points at doc_id−1's body — the
    * refetch-dedup pointer a real crawl emits instead of storing the
    * duplicate payload. */
  private def ensureRevisitWarcDir(s: SparkSession, dir: String): String =
    ensureDerivedDir(s, dir, "q132_warc") { stage =>
      val rows = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1))
      val bodyOf = rows.toMap.map { case (id, text) =>
        id -> s"revisit fixture $id $text"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      val W = graft.sources.Warc
      rows.groupBy(_._1 / 25).foreach { case (seg, docs) =>
        val records = docs.map(_._1).sorted.flatMap { id =>
          val body = bodyOf(id)
          val resp = ("response",
            s"https://site${id % 20}.example.com/dir/page$id.html",
            W.httpResponse(body),
            Seq(s"WARC-Payload-Digest: ${W.sha1Base32(body)}"))
          if (id % 4 == 3 && bodyOf.contains(id - 1)) Seq(resp,
            ("revisit",
              s"https://site${id % 20}.example.com/dup/page$id.html",
              Array.empty[Byte],
              Seq(s"WARC-Payload-Digest: ${W.sha1Base32(bodyOf(id - 1))}")))
          else Seq(resp)
        }.toSeq
        java.nio.file.Files.write(
          java.nio.file.Paths.get(stage, f"seg-$seg%05d.warc"),
          W.buildSegmentWithHeaders(records))
      }
    }

  /** Build-once WARC fixture for q136: the CDX corpus — segments of
    * digest-stamped `text/plain` responses whose bodies are a pure
    * template of `(doc_id, text)`, written PER-RECORD-GZIP-MEMBER
    * (the CommonCrawl convention `Warc.cdxIndex` walks with exact
    * `Inflater` byte accounting) except every third segment, which
    * stays plain so the uncompressed offset path rides the same
    * oracle. */
  private def ensureCdxWarcDir(s: SparkSession, dir: String): String =
    ensureDerivedDir(s, dir, "q136_warc") { stage =>
      val W = graft.sources.Warc
      val rows = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1))
      rows.groupBy(_._1 / 25).foreach { case (seg, docs) =>
        val recs = ("warcinfo", null: String,
            "software: graft\r\n".getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1),
            Seq.empty[String]) +:
          docs.sortBy(_._1).map { case (id, text) =>
            val body = s"Document $id: $text"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            ("response",
              s"https://www.site${id % 20}.example.com/dir/page$id.html",
              W.httpResponse(body, "text/plain"),
              Seq(s"WARC-Payload-Digest: ${W.sha1Base32(body)}"))
          }.toSeq
        val (name, bytes) =
          if (seg % 3 == 2)
            (f"seg-$seg%05d.warc", W.buildSegmentWithHeaders(recs))
          else
            (f"seg-$seg%05d.warc.gz",
              recs.map(r => W.gzipBytes(W.buildSegmentWithHeaders(Seq(r))))
                .reduce(_ ++ _))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(stage, name), bytes)
      }
    }

  /** Build-once WARC fixture for q148: THREE crawl batches over the
    * same URL space — every doc captured on 2026-01-01 (version 1)
    * and re-captured on 2026-01-02 (version 2); every third doc
    * captured a third time on 2026-01-03. Each crawl lands its own
    * per-record-gzip-member segment set (the re-fetch reality a
    * latest-capture-wins corpus build dedups), every response
    * digest-stamped. */
  private def ensureMultiCaptureWarcDir(s: SparkSession, dir: String): String =
    ensureDerivedDir(s, dir, "q148_warc") { stage =>
      val W = graft.sources.Warc
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .collect().map(_.getLong(0))
      val crawls = Seq(
        ("a", "2026-01-01T00:00:00Z", 1, ids),
        ("b", "2026-01-02T00:00:00Z", 2, ids),
        ("c", "2026-01-03T00:00:00Z", 3, ids.filter(_ % 3 == 0)))
      crawls.foreach { case (tag, date, ver, docIds) =>
        docIds.groupBy(_ / 25).foreach { case (seg, docs) =>
          val recs = docs.sorted.map { id =>
            val body = s"version $ver of page $id"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            ("response",
              s"https://www.site${id % 20}.example.com/dir/page$id.html",
              W.httpResponse(body, "text/plain"),
              Seq(s"WARC-Payload-Digest: ${W.sha1Base32(body)}"))
          }.toSeq
          val bytes = recs
            .map(r => W.gzipBytes(W.buildSegmentWithHeaders(Seq(r), date)))
            .reduce(_ ++ _)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(stage,
              f"crawl-$tag-seg-$seg%05d.warc.gz"), bytes)
        }
      }
    }

  /** Build-once WARC fixture for q170: crawl A captures every page
    * with a body, an `ETag`, and a `Last-Modified`; crawl B (one day
    * later) revalidates — every doc_id%3==0 page answers `304 Not
    * Modified` (empty body, same ETag echoed), the rest ship fresh
    * bodies under a NEW ETag. Per-record gzip members like the q148
    * fixture so the resolved locators are ranged-fetchable. */
  private def ensureRevalWarcDir(s: SparkSession, dir: String): String =
    ensureDerivedDir(s, dir, "q170_warc") { stage =>
      val W = graft.sources.Warc
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .collect().map(_.getLong(0))
      def seg(tag: String, date: String, docs: Seq[Long],
              rec: Long => (Array[Byte], Seq[String])): Unit =
        docs.groupBy(_ / 25).foreach { case (sg, ds) =>
          val recs = ds.sorted.map { id =>
            val (payload, hdrs) = rec(id)
            ("response",
              s"https://www.site${id % 20}.example.com/dir/page$id.html",
              payload, hdrs)
          }
          val bytes = recs
            .map(r => W.gzipBytes(W.buildSegmentWithHeaders(Seq(r), date)))
            .reduce(_ ++ _)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(stage,
              f"reval-$tag-seg-$sg%05d.warc.gz"), bytes)
        }
      seg("a", "2026-02-01T00:00:00Z", ids.toSeq, { id =>
        val body = s"cached content of page $id"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (W.httpResponseWith(body, "200 OK", "text/plain",
          Seq(s"""ETag: "et-$id"""",
            "Last-Modified: Sun, 01 Feb 2026 00:00:00 GMT")),
          Seq(s"WARC-Payload-Digest: ${W.sha1Base32(body)}"))
      })
      seg("b", "2026-02-02T00:00:00Z", ids.toSeq, { id =>
        if (id % 3 == 0)
          (W.httpResponseWith(Array.empty[Byte], "304 Not Modified",
            "text/plain", Seq(s"""ETag: "et-$id"""")), Nil)
        else {
          val body = s"fresh content of page $id"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (W.httpResponseWith(body, "200 OK", "text/plain",
            Seq(s"""ETag: "et2-$id"""",
              "Last-Modified: Mon, 02 Feb 2026 00:00:00 GMT")),
            Seq(s"WARC-Payload-Digest: ${W.sha1Base32(body)}"))
        }
      })
    }

  /** Build-once WARC fixture for q154: responses carrying
    * `X-Robots-Tag` headers by doc_id%4 — absent / `noindex` / an
    * agent-scoped `googlebot: nofollow` / TWO headers whose second is
    * `none` (repeats must list-join) — while every EVEN doc's HTML
    * body declares `<meta name=robots content=nofollow>`, so the
    * cross-layer most-restrictive combine is exercised in both
    * directions. */
  private def ensureXRobotsWarcDir(s: SparkSession, dir: String): String =
    ensureDerivedDir(s, dir, "q154_warc") { stage =>
      val W = graft.sources.Warc
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .collect().map(_.getLong(0))
      ids.groupBy(_ / 25).foreach { case (seg, docs) =>
        val records = docs.sorted.map { id =>
          val meta = if (id % 2 == 0)
            "<meta name=\"robots\" content=\"nofollow\">" else ""
          val html = s"<html><head>$meta</head><body><p>doc $id" +
            "</p></body></html>"
          val hdrs = (id % 4) match {
            case 1 => Seq("X-Robots-Tag: noindex")
            case 2 => Seq("X-Robots-Tag: googlebot: nofollow")
            case 3 => Seq("X-Robots-Tag: unavailable_after: 1 Jan 2027",
              "X-Robots-Tag: none")
            case _ => Nil
          }
          ("response",
            s"https://site${id % 20}.example.com/dir/page$id.html",
            W.httpResponseWith(html.getBytes(
              java.nio.charset.StandardCharsets.UTF_8),
              extraHeaders = hdrs))
        }.toSeq
        java.nio.file.Files.write(
          java.nio.file.Paths.get(stage, f"seg-$seg%05d.warc"),
          W.buildSegment(records))
      }
    }

  /** The q56/q56b corpus: documents plus docs 0-4 cloned at id+300000
    * with a sub-k marker suffix (contributes no shared 30-gram of its
    * own, so each clone must pair with its source via surviving
    * fingerprints). */
  private def winnowCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    docs.union(docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" winnowed clone mark")).as("text")))
  }

  /** q82's committed BPE merge list. Deliberately character-disjoint
    * and non-chaining (no merge output can feed another pair), which
    * collapses the greedy tokenizer to closed-form counting — the
    * property the DuckDB oracle replays and BpeSpec pins against
    * [[graft.operators.Bpe.tokenizeWord]] on adversarial words. */
  private[graft] val CommittedBpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("i", "n"), ("e", "</w>"))

  /** q171's 26 planted repetition fixtures — classes 2r (FIRE rule r)
    * and 2r+1 (NEAR-MISS pass) for each of the 13 Gopher rules in
    * [[graft.functions.Text.GopherRepetitionRules]] order. Every
    * filler word is unique within its document (4-char `uNNN`), so a
    * fixture carries EXACTLY its engineered repetition signal: the
    * fire class trips its own rule first in ladder order, the pass
    * class sits within a few permille UNDER every ceiling (e.g. the
    * dup_10gram pass is a repeated 10-gram in a 200-word doc — 100
    * permille, one word short of firing). Single-word repeated lines
    * avoid accidental repeated word n-grams; long single WORDS (not
    * word runs) push char fractions without touching gram stats. */
  private[graft] lazy val GopherFixtures: Seq[String] = {
    def u(i: Int) = f"u$i%03d"
    // k occurrences of `gram` each followed by floor((n-k*|g|)/k)
    // unique fillers, padded with fillers to exactly n words
    def gramDocK(gram: Seq[String], k: Int, nTotal: Int): String = {
      val ws = scala.collection.mutable.ArrayBuffer[String]()
      var fi = 0
      val gap = (nTotal - k * gram.size) / k
      for (_ <- 0 until k) {
        ws ++= gram
        for (_ <- 0 until gap) { ws += u(fi); fi += 1 }
      }
      while (ws.size < nTotal) { ws += u(fi); fi += 1 }
      ws.take(nTotal).mkString(" ")
    }
    val p = "p001"; val x = "x001"
    val l20 = (0 until 20).map(i => f"l$i%03d").mkString(" ")
    val w30 = "w" * 30
    val y50 = "y" * 50
    val g = Seq("a001", "b001", "c001", "d001", "e001", "f001", "g001",
      "h001", "i001", "j001")
    val top2Fire = {
      val ws = scala.collection.mutable.ArrayBuffer[String]()
      var fi = 0
      for (_ <- 0 until 5) {
        ws += g(0); ws += g(1)
        for (_ <- 0 until 3) { ws += u(fi); fi += 1 }
      }
      ws.mkString(" ")
    }
    Seq(
      Seq(p, u(1), p, u(2), p, u(3), p, u(4), u(5)).mkString("\n\n"),
      Seq(p, u(1), p, u(2), p, u(3), u(4), u(5), u(6), u(7))
        .mkString("\n\n"),
      (1 to 4).map(i => x + "\n" + u(i)).mkString("\n\n"),
      (Seq(x + "\n" + u(1), x + "\n" + u(2), x + "\n" + u(3),
        u(4) + "\n" + u(5), u(6) + "\n" + u(7))).mkString("\n\n"),
      Seq(l20, u(1), u(2), u(3), u(4), l20, u(5), u(6), u(7), u(8))
        .mkString("\n\n"),
      ((w30 +: (1 to 12).map(u)) ++ (w30 +: (13 to 24).map(u)))
        .mkString("\n\n"),
      (Seq(y50 + "\n" + u(1), y50 + "\n" + u(2)) ++ (3 to 8).map(u))
        .mkString("\n\n"),
      (Seq(w30 + "\n" + u(1), w30 + "\n" + u(2)) ++ (3 to 23).map(u))
        .mkString("\n\n"),
      top2Fire,
      gramDocK(g.take(2), 2, 22),
      gramDocK(g.take(3), 3, 33),
      gramDocK(g.take(3), 2, 34),
      gramDocK(g.take(4), 3, 60),
      gramDocK(g.take(4), 2, 52),
      gramDocK(g.take(5), 2, 55),
      gramDocK(g.take(5), 2, 67),
      gramDocK(g.take(6), 2, 82),
      gramDocK(g.take(6), 2, 86),
      gramDocK(g.take(7), 2, 103),
      gramDocK(g.take(7), 2, 108),
      gramDocK(g.take(8), 2, 128),
      gramDocK(g.take(8), 2, 134),
      gramDocK(g.take(9), 2, 156),
      gramDocK(g.take(9), 2, 164),
      gramDocK(g.take(10), 2, 190),
      gramDocK(g.take(10), 2, 200))
  }

  /** q82c's committed CHAINED merge list: rank 1 consumes rank 0's
    * output (`th`+`e`), so the greedy argmax apply loop's stage
    * structure is LIVE — the one interior q82's non-chaining list
    * collapsed away. Still closed-form: stage 0 is the q145
    * left-to-right scan, and because `the`'s alternation-preferred
    * regex match consumes exactly the (th, e) pairs stage 1 merges
    * (the 'e' it takes can never belong to a later 'th'), the WHOLE
    * two-stage trace equals ONE scan 'the|th|.'; the trailing
    * end-of-word merge then applies iff the last symbol is a BARE 'e'
    * (`LIKE '%e' AND NOT LIKE '%the'`). Rank ORDER is observable:
    * (th,e) at rank 1 beats (e,</w>) at rank 2 on words ending in
    * "the" — swapping them changes the output, which BpeSpec pins. */
  private[graft] val CommittedChainedBpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), ("e", "</w>"))

  /** q183's committed BYTE-level merge list (symbols in byte-char
    * space; ids: th=256, the=257, " t"=258, in=259, ing=260). Chained
    * ((th,e) consumes (t,h)'s output) AND space-crossing ((" ","t")
    * is live — the byte-level signature a word model cannot express):
    * on ` the` the rank-0 (t,h) consumes the `t` first so the space
    * stays bare, while on ` tin` rank-2 fires and the space lands
    * INSIDE the token — swap those ranks and ` the` tokenizes
    * differently, which ByteBpeSpec pins. Closed-form replay: within
    * a letter pre-token the greedy trace equals ONE `'the|th|ing|in|.'`
    * scan (the q82c alternation argument: no merge output feeds a
    * pattern that starts differently — `e`/`g`/`n`/`h` start
    * nothing), and the space rule is `[258] ++ scan(rest)` iff the
    * word starts `t` not followed by `h`, else `[32] ++ scan(word)`. */
  private[graft] val CommittedByteBpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), (" ", "t"), ("i", "n"), ("in", "g"))

  /** q87b's committed weak-label training set — a fixed literal corpus
    * (quality-prose vs spam boilerplate, the CCNet-style weak signal),
    * so the trained weights are a pure function of committed code and
    * identical at every scale factor. The battery entry RUNS
    * [[graft.operators.Classifier.trainLogistic]] on it at query time;
    * [[CommittedGateWeightsMilli]] is the spec-pinned snapshot of that
    * training's quantized output, and the q87b oracle scores under the
    * snapshot — so silent training drift fails BOTH the spec and the
    * oracle. */
  private[graft] val GateTrainingSet: Seq[(String, Double)] = Seq(
    ("the study presents a careful analysis of measured results", 1.0),
    ("researchers describe methods and report detailed findings", 1.0),
    ("the committee published a thorough technical review", 1.0),
    ("engineers document the design and its measured tradeoffs", 1.0),
    ("the survey summarizes evidence from many careful experiments", 1.0),
    ("a clear explanation of the algorithm and its proof", 1.0),
    ("the report lists sources and verifies every claim", 1.0),
    ("students learn from worked examples and precise definitions", 1.0),
    ("buy cheap pills now click here win money fast", 0.0),
    ("free prize winner click now limited offer act fast", 0.0),
    ("cheap loans instant cash no checks click today", 0.0),
    ("hot singles near you click this link now", 0.0),
    ("win big casino bonus spin now free coins", 0.0),
    ("miracle diet lose weight fast buy now cheap", 0.0),
    ("unsubscribe spam offer expires click claim your prize", 0.0),
    ("earn money from home fast easy clicks guaranteed", 0.0))

  /** Gate-classifier hyperparameters shared by the q87b entry, its
    * oracle, and the ClassifierSpec snapshot pin. dim is small so the
    * oracle's weight VALUES list stays readable. */
  private[graft] val GateDim = 64
  private[graft] val GateIters = 15
  private[graft] val GateLr = 1.0

  /** Committed snapshot of `quantizeMilli(trainLogistic(GateTrainingSet,
    * dim = GateDim, iters = GateIters, lr = GateLr))` — bit-stable by
    * the trainer's exact-decimal gradient discipline, re-derived and
    * asserted equal by ClassifierSpec on every run. The q87b oracle
    * scores under THESE values while the battery entry scores under a
    * fresh training run, so the two can only agree while training
    * reproduces the snapshot. */
  private[graft] val CommittedGateBiasMilli = -71L
  private[graft] val CommittedGateWeightsMilli: Array[Long] = Array(
    174, 0, 190, 435, 219, 0, 195, 176, 77, 0, 304, 143, -1080, -276,
    -279, -248, -381, 371, -270, 195, 205, -183, -214, 0, 319, -248, 0,
    140, -183, 279, -631, 195, 190, -270, 190, 95, 176, -357, -159, 590,
    1135, 0, 395, 0, 146, -384, -191, 0, 0, 0, -495, 455, -491, 118, 5,
    -495, 0, -431, 186, -270, -3, -558, 0, -270)

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

  /** 25 deterministic near-duplicate probe vectors for the ANN oracles
    * (q33/q33b/q35/q35b): clone j∈[0,5) of query q∈[0,5) has id
    * 100000 + 5q + j and the query's embedding with coordinate 0
    * shifted by +0.01·(j+1). The shift is double arithmetic followed by
    * one float cast — bit-identical to DuckDB's
    * `CAST(embedding[1] + 0.01*(j+1) AS FLOAT)` — so both engines score
    * the exact same vectors. Cosines land ≥ ~0.9987 while the corpus
    * max is ≈ 0.6: exact top-5 per query = its clone set. */
  private[graft] def annClones(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(4))).as("j"))
      .select((col("vec_id") * 5 + col("j") + 100000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0,
            (x.cast("double") + (col("j") + 1) * lit(0.01d)).cast("float"))
            .otherwise(x)).as("embedding"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Zone-style congestion report: events bucketed by hour + type with
    * congestion classification — the reference batch job's A1 shape. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = t(spark, dir, "events")
    ev.withColumn("congestion", City.congestionOccupancy(col("value") / 100.0))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"), col("congestion"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
  }

  // ------------------------------------------------------------------
  // Query battery. Each is (SparkSession, sfDir) => DataFrame.
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/P1: projection + casts + filter, pushed to parquet scan.
    "q01_scan_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("qty"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // P2/F3: CASE WHEN congestion derivation + count per level.
    "q02_congestion_case" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("congestion_level", City.congestionOccupancy(col("value") / 100.0))
        .groupBy("congestion_level")
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("congestion_level")
    }),

    // A1: zone-style hash aggregation (partial+final, map-side combine).
    "q03_zone_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(round(avg("value"), 4).as("avg_value"),
          round(sum("value"), 4).as("total_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // A2/TPC-H Q1 shape: multi-aggregate over two group keys.
    "q04_lineitem_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double").as("revenue"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A3: exact distinct counts (expand at scale: approx_count_distinct).
    "q05_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"))
    }),

    // A4/A5: global min/max/count; timestamps emitted at second
    // granularity as strings for cross-engine schema parity.
    "q06_minmax" -> ((s, dir) => {
      t(s, dir, "events")
        .agg(date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
          date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("max_ts"),
          count(lit(1)).as("n"))
    }),

    // A6/W2: tumbling 1-minute buckets per type: count, exact distinct
    // users, avg — the continuous-aggregate shape.
    "q07_window_1min" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(avg("value"), 4).as("avg_value"))
        .orderBy("bucket", "event_type")
    }),

    // A7: hourly rollup with peak (max) — the declared-but-never-written
    // hourly_traffic_stats job.
    // The hourly rollup IS Rollup.hourlyState + Rollup.report (the
    // q76 machinery): decimal sums and an integer-unit exact half-up
    // average — regenerated sf0.1 data lands real hours exactly on
    // the 4-dp tie (1236.27/24 = 51.51125), where round-on-double
    // flips between engines (caught by the round-15 full sweep).
    "q08_hourly_rollup" -> ((s, dir) =>
      graft.operators.Rollup.report(
          graft.operators.Rollup.hourlyState(t(s, dir, "events"),
            "ts", "value", Seq("event_type")))
        .select("hour", "event_type", "total_value", "avg_value",
          "peak_value")
        .orderBy("hour", "event_type")),

    // A8/O1: the README SQL report through the spark.sql surface.
    "q09_sql_report" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""SELECT event_type, round(avg(value), 4) AS avg_value, count(1) AS n
               FROM events
               WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
               GROUP BY event_type
               ORDER BY avg_value DESC, event_type""")
    }),

    // A9/F12: per-group breakdown keyed by a JSON-extracted property
    // (vehicle_breakdown analog: map modeled as rows, merged by re-agg).
    "q10_breakdown" -> ((s, dir) => {
      fanOut(t(s, dir, "events"), "event_id")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("vclass",
          when(col("k") % 4 === 0, "car").when(col("k") % 4 === 1, "truck")
            .when(col("k") % 4 === 2, "bus").otherwise("bike"))
        .groupBy("event_type", "vclass")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "vclass")
    }),

    // J1/J2: dimension joins — both small dims explicitly broadcast; no
    // shuffle of the fact side at scale.
    "q11_broadcast_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"), round(avg("c_acctbal"), 4).as("avg_acctbal"))
        .orderBy("r_name", "n_name")
    }),

    // Fact-fact equi-join (shuffle join, AQE-planned) + rollup.
    "q12_join_revenue" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // O2: latest-N (TakeOrderedAndProject — no global sort at scale).
    "q13_topk" -> ((s, dir) => {
      t(s, dir, "events")
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(10)
        .select(col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("value"))
    }),

    // F1: EPA AQI piecewise mapping, aggregated per category.
    "q14_aqi" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("aqi", City.aqiValue(col("value")))
        .withColumn("category", City.aqiCategory(col("value")))
        .groupBy("category")
        .agg(count(lit(1)).as("n"), round(avg("aqi"), 4).as("avg_aqi"))
        .orderBy("category")
    }),

    // F9: event-time partition key derivation (lake layout columns).
    "q15_partition_keys" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(City.partitionCols(col("ts")) :+ col("event_id"): _*)
        .groupBy("year", "month", "day", "hour")
        .agg(count(lit(1)).as("n"))
        .orderBy("year", "month", "day", "hour")
    }),

    // F15: ordered prefix-match topic routing.
    "q16_route_topic" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("mqtt_topic",
          when(col("event_type") === "click", concat(lit("air_quality/AQ_"), col("user_id"), lit("/data")))
            .when(col("event_type") === "view", concat(lit("parking/P_"), col("user_id"), lit("/status")))
            .when(col("event_type") === "purchase", concat(lit("traffic/sumo/edges/e"), col("user_id")))
            .when(col("event_type") === "signup", concat(lit("traffic/sumo/vehicles/v"), col("user_id")))
            .otherwise(concat(lit("debug/"), col("user_id"))))
        .withColumn("kafka_topic", City.routeTopic(col("mqtt_topic")))
        .groupBy("kafka_topic")
        .agg(count(lit(1)).as("n"))
        .orderBy("kafka_topic")
    }),

    // Text: token counting per document (whitespace tokenizer).
    "q17_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // Text: corpus stats per source — mean word length + token totals.
    "q18_text_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"),
          round(avg(Text.meanWordLength(col("text"))), 4).as("avg_word_len"))
        .orderBy("source")
    }),

    // Dedup: exact (hash-groupBy on content digest).
    "q19_exact_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("digest"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("digest")
    }),

    // Dedup: normalization-based (case/punct/whitespace-insensitive).
    "q20_norm_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(Text.fingerprintMd5(col("text")).as("digest"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("digest")
    }),

    // U6: generator/explode — word frequency via explode + re-agg.
    "q21_word_freq" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }),

    // Dedup: MinHash+LSH near-dup pairs at the production threshold,
    // over the corpus plus five injected clones (docs 0-4 at id+100000
    // with two words appended). FULLY ORACLED (round 5): the output is
    // the exact-verified pair set — (doc_a, doc_b, true shingle-set
    // jaccard) — so DuckDB's brute-force all-pairs jaccard is a complete
    // oracle as long as LSH candidate recall is 100% on the true pairs,
    // which it is here (30/30 at sf0.01: every true pair ≥ 0.8 collides
    // in ≥1 of the 16 bands; deterministic for fixed data + the engine's
    // seeded coefficients). The engine's internal 64-bit hashes never
    // reach the output; hashed-shingle jaccard equals string-shingle
    // jaccard up to 2^-64 collisions.
    "q22_minhash_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val clones = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" appended words")).as("text"))
      graft.operators.Dedup.minhashDedup(docs.union(clones),
          "doc_id", "text", threshold = 0.8, numHashes = 128, bands = 16)
        .orderBy("doc_a", "doc_b")
    }),

    // q22 through the documented compute-once sketch lifecycle: the
    // sketch frame is pinned, so banding and both pair branches read
    // the pin (plan-asserted ExistingRDD scans) and the sketch kernel
    // runs once per document instead of up to 3x — the cluster default
    // for corpus-scale dedup. Identical pairs to q22, and oracled by the
    // same brute-force SQL — the lifecycle must not change the answer.
    "q22b_minhash_persisted" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val clones = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" appended words")).as("text"))
      val sk = Shared.pin(graft.operators.Dedup.minhashSketches(docs.union(clones),
        "doc_id", "text", numHashes = 128, bands = 16))
      graft.operators.Dedup.minhashDedupFromSketches(sk, threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup: per-document 64-bit SimHash fingerprints — FULLY oracled:
    // the DuckDB side restates the exact kernel (FNV-1a per token,
    // mix64 finisher, per-bit majority vote) with 64-bit wrapping
    // emulated in HUGEINT modular arithmetic (the corpus is pure ASCII
    // at every SF, so lower()/char-code semantics agree engine-to-
    // engine).
    "q23_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), graft.operators.Dedup.simhash(col("text")).as("simhash"))
        .orderBy("doc_id")
    }),

    // Similarity: exact brute-force cosine top-k against vec 0's
    // embedding (oracle via DuckDB list_cosine_similarity).
    "q24_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .collect().head.getSeq[Float](0)
      graft.operators.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 10)
        .withColumn("cosine", round(col("cosine"), 4))
    }),

    // Similarity: k-NN join, 5 query vectors × top-5 neighbors.
    "q25_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.knnJoin(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // Text: stopword-argmax language ID distribution.
    "q26_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(Text.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")
    }),

    // Text: quality-score distribution per source.
    "q27_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(round(avg(Text.qualityScore(col("text"))), 4).as("avg_quality"),
          round(min(Text.qualityScore(col("text"))), 4).as("min_quality"),
          count(lit(1)).as("n"))
        .orderBy("source")
    }),

    // Dedup: exact word-trigram Jaccard via inverted-index equi-join.
    // Deterministically complete (any pair ≥ threshold shares a gram),
    // so it carries a true all-pairs DuckDB oracle — the near-dup
    // family's hash-checked member.
    "q31_ngram_jaccard" -> ((s, dir) => {
      graft.operators.Dedup.ngramJaccard(
          t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // q31 through the build-once/serve-many lifecycle, as catalog
    // TABLES (the q40b pattern): the inverted index and the PPJoin
    // candidate pairs are written on first call — the nightly index
    // build, one corpus read — and the timed serve side is exact
    // verification off those tables: no gram kernel, no corpus scan,
    // no candidate self-join (plan-asserted). Under the bench's
    // min-of-2 the second attempt measures pure serving. The round-3/4
    // in-memory persist() variants of this entry measured SLOWER than
    // one-shot at sf0.1 — a cache build is a materialization barrier
    // plus serialization on top of the same work, and the kernels are
    // cheap at this SF — which is exactly why the durable-table
    // lifecycle is the one worth benching: it is what amortizes at
    // 100 TB. Same oracle as q31 — the lifecycle must not change the
    // answer.
    "q31b_ngram_persisted" -> ((s, dir) => {
      val (invT, candT) = ngramIndexTables(s, dir)
      graft.operators.Dedup.ensureNgramTables(s,
        t(s, dir, "documents"), "doc_id", "text", invT, candT,
        n = 3, threshold = 0.5)
      graft.operators.Dedup.ngramVerifiedPairs(s.table(invT), s.table(candT),
          threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental-index lifecycle: the index is BUILT over 60% of the
    // corpus (doc_id % 5 < 3) under a frozen gram order, the other 40%
    // arrives as an APPEND touching only delta-sized rows — and serving
    // must still answer byte-identically to the one-shot q31 oracle
    // over the whole corpus. Pins the frozen-order completeness
    // argument (Dedup.ensureNgramIndexIncr) at driver level; the
    // multi-append + unseen-vocabulary cases are spec-pinned
    // (DedupSpec "incremental n-gram index").
    "q31c_ngram_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = ngramIncrTables(s, dir)
      graft.operators.Dedup.ensureNgramIndexIncr(s,
        docs.filter(col("doc_id") % 5 < 3), "doc_id", "text", tbl,
        n = 3, threshold = 0.5)
      graft.operators.Dedup.appendToNgramIndex(s,
        docs.filter(col("doc_id") % 5 >= 3), "doc_id", "text", tbl,
        n = 3, threshold = 0.5)
      graft.operators.Dedup.ngramVerifiedPairs(s.table(tbl.inv),
          s.table(tbl.cands), threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup: SimHash pigeonhole pair search within Hamming radius 3 —
    // FULLY oracled now that the fingerprints themselves are (q23): the
    // oracle recomputes every signature and brute-forces all pairs at
    // bit_count(xor) <= 3, so the banding's completeness is checked
    // against ground truth on every driver run (DedupSpec's all-pairs
    // reconciliation remains as the spec-level cross-check).
    "q32_simhash_pairs" -> ((s, dir) => {
      graft.operators.Dedup.simhashDedup(
          t(s, dir, "documents"), "doc_id", "text", radius = 3)
        .orderBy("doc_a", "doc_b")
    }),

    // Similarity: LSH-bucketed ANN top-k, FULLY ORACLED by a gap
    // argument (the q34 pattern, VERDICT r3 #4): 5 near-identical clones
    // are injected per query vector (cosine ≥ 0.9987 vs organic max
    // ≈ 0.6), so the exact top-5 is the clone set and the LSH answer
    // must equal DuckDB's brute-force window — provided the 4-table
    // 12-plane index recovers every clone (per-clone miss ≈ 1e-5;
    // deterministic for this data + seed, verified at sf0.001/0.01/0.1).
    "q33_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.lshTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", dim = 64, k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // q33 with query-side multi-probe: each query also probes every
    // bucket one sign-flip away in each table. Probing is additive, so
    // recall over the injected clones stays 1 and the SAME exact-top-5
    // oracle must hold — multi-probe can change only cost, not answers.
    "q33b_lsh_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.lshTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", dim = 64, k = 5,
          probeAdjacent = true)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // Similarity: product-quantization ANN (Jégou et al. 2011 ADC) —
    // the memory-bound scale path: the shortlist scan touches 8-int
    // codes (32x smaller than the raw float[64]s), then an exact-
    // cosine rerank fetches raw vectors for the 50-candidate shortlist
    // alone. Same injected-clone gap argument and EXACT-top-5 oracle
    // as q33/q35: the clones quantize onto (nearly) the query's own
    // codes, so they dominate the ADC shortlist, and the rerank is
    // exact math — quantization error can only cost shortlist recall,
    // which the 0.99-vs-0.6 gap makes impossible here (error bounds
    // spec-pinned; verified at sf0.001/0.01/0.1).
    "q84_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.pqTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // Similarity: IVFADC — the q35 coarse quantizer composed with the
    // q84 PQ/ADC scorer (Jégou et al. 2011's full system): each query
    // probes 8 of 16 cells and ADC-scans ONLY those cells' code rows,
    // so per-query cost is O(corpus·nprobe/nlist/32) instead of q84's
    // O(corpus/32). Correctness rides both parents' gap arguments at
    // once: a clone quantizes into (or within a hair of) its query's
    // best cell (q35's probe argument), dominates the probed ADC
    // shortlist (q84's ADC argument), and the exact-cosine rerank is
    // exact math — so the served top-5 is exactly the clone set under
    // the same EXACT oracle. nprobe = nlist ≡ exhaustive ADC is
    // spec-pinned in SimilaritySpec.
    "q88_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.ivfPqTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // q88 through the persisted lifecycle: both quantizers and the
    // cell-tagged code table served from build-once catalog tables
    // (centroid frame via centroidsFromDF, codebooks via
    // pqModelFromDF) — the one-shot q88 rebuilds all three per call,
    // so at index scale this split is the difference between a query
    // and a rebuild. Same EXACT oracle: the serve path is identical
    // math over identical persisted state (spec-pinned equivalence in
    // SimilaritySpec's IVFADC lifecycle test).
    "q88b_ivfpq_persisted" -> ((s, dir) => {
      val (idxT, centT, cbT) = ensureIvfPqTables(s, dir)
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cm = graft.operators.Similarity.centroidsFromDF(s.table(centT))
      val model = graft.operators.Similarity.pqModelFromDF(s.table(cbT))
      graft.operators.Similarity.ivfPqTopKFromIndex(s.table(idxT), cm,
          emb.union(annClones(emb)), emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", model, k = 5, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // q88's STREAMED sibling (the q109 discipline for the ANN
    // family — the last index family to get the streaming leg): the
    // corpus + clones stream in 3 micro-batches into a persisted
    // IVFADC code table via per-vector-idempotent appends, encoding
    // against the FROZEN q88b centroids/codebooks (an ANN model is
    // trained once; only the code table grows). Serving off the
    // streamed table must answer the q88 exact-top-5 clone oracle
    // verbatim — streamed codes are bit-identical to a one-shot
    // encode (spec-pinned, with replay idempotence).
    "q88c_ivfpq_stream" -> ((s, dir) => {
      import s.implicits._
      val (_, centT, cbT) = ensureIvfPqTables(s, dir)
      val tbl = s"graft_q88c_idx_${dataTag(s, dir, "embeddings")}"
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      if (!s.catalog.tableExists(tbl)) {
        val all = emb.union(annClones(emb)).as[(Long, Seq[Float])].collect()
        streamRows(s, all) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingIvfPqIndex(
            in.toDF("vec_id", "embedding"), "vec_id", "embedding",
            tbl, centT, cbT, ckpt)
        }
        s.catalog.refreshTable(tbl)
      }
      val cm = graft.operators.Similarity.centroidsFromDF(s.table(centT))
      val model = graft.operators.Similarity.pqModelFromDF(s.table(cbT))
      graft.operators.Similarity.ivfPqTopKFromIndex(s.table(tbl), cm,
          emb.union(annClones(emb)), emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", model, k = 5, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // Similarity: IVF coarse-quantized ANN, 5 queries probing 8 of 16
    // cells — same injected-clone gap argument and oracle as q33: a
    // clone is near-identical to its query, so it quantizes into (or
    // within a hair of) the query's own best cell, well inside the
    // 8-cell probe set, and the served top-5 is exactly the clone set.
    "q35_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.ivfTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // q35 with 2 Lloyd refinement rounds on the centroid seeds: the
    // index build changes (distributed per-(cell,dim) means, decimal
    // partial sums), the serving contract must not — same oracle.
    "q35b_ivf_lloyd" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.ivfTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8,
          lloydIters = 2)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // Similarity: embedding near-dup pairs with multi-table LSH over
    // deterministically injected near-duplicate vectors. Oracled: the
    // corpus has a wide similarity gap (max organic cosine ≈ 0.6 vs the
    // 0.99 threshold), so the exact-verified LSH output equals the
    // all-pairs ground truth (per-pair miss probability ~1e-6 for the
    // near-identical clones under 4 independent 12-plane tables).
    "q34_embedding_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val dups = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      graft.operators.Similarity.embeddingDedup(emb.union(dups),
          "vec_id", "embedding", dim = 64, threshold = 0.99)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("id_a", "id_b")
    }),

    // Winnowing (MOSS) fingerprint pair detection: docs 0-4 cloned at
    // id+300000 with a short (< k chars, so it contributes no shared
    // gram of its own) marker appended; pairs = docs sharing ≥1 winnow
    // fingerprint at k=30, w=8. FULLY oracled (since round 8, the
    // q23/q32 pattern): the DuckDB side restates the gram-hash kernel
    // (FNV-1a over each 30-char window + mix64, in HUGEINT modular
    // arithmetic — WinnowGramCte) and replays the rolling-min pick in
    // SQL. Rightmost-min tie-breaking needs no emulation: tied window
    // positions share the hash VALUE, so each document's fingerprint
    // set is exactly its distinct per-window minima. q56b pins the
    // positional hash sequence itself row-by-row.
    "q56_winnow_pairs" -> ((s, dir) => {
      val fp = winnowCorpus(s, dir)
        .select(col("doc_id"),
          explode(Text.winnowFingerprints(col("text"), k = 30, w = 8)).as("fp"))
        .distinct()
      fp.select(col("fp"), col("doc_id").as("doc_a"))
        .join(fp.select(col("fp"), col("doc_id").as("doc_b")), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .orderBy("doc_a", "doc_b")
    }),

    // The positional 30-gram hash sequence q56's winnow selects from,
    // emitted per (doc, pos) over the same clone-augmented corpus —
    // the side entry that lets the q56 oracle replay the selection
    // from inputs DuckDB has independently recomputed from the raw
    // text (hash kernel restated in SQL, never trusted from the
    // engine).
    "q56b_winnow_grams" -> ((s, dir) =>
      winnowCorpus(s, dir)
        .select(col("doc_id"), Text.gramHashes(col("text"), k = 30).as("ghs"))
        .select(col("doc_id"), posexplode(col("ghs")).as(Seq("pos", "gh")))
        .orderBy("doc_id", "pos")),

    // Dedup: the near-dup corpus filter over the q22 corpus — survivors
    // per source (with an id checksum so the oracle pins the exact
    // survivor SET, not just counts) after dropping the higher-id side
    // of every verified pair. Oracled by the same recall-is-total
    // argument as q22: the detected pairs ARE the brute-force ≥0.8
    // pairs, so DuckDB can restate the whole filter.
    "q57_drop_near_dups" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val clones = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"), col("source"),
          concat(col("text"), lit(" appended words")).as("text"))
      graft.operators.Dedup.dropNearDuplicates(docs.union(clones),
          "doc_id", "text", threshold = 0.8)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    }),

    // Dedup: the corpus-filter form — survivors per source after exact
    // dedup over a corpus with injected verbatim copies.
    "q37_dedup_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 200000).as("doc_id"), col("source"), col("text"))
      graft.operators.Dedup.dropExactDuplicates(docs.union(copies), "doc_id", "text")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // A9: MAP<STRING,INT> merge across rows (vehicle_breakdown shape):
    // per-row 2-entry maps merged per day; canonical sorted k:v string
    // output for cross-engine comparison.
    "q29_map_merge" -> ((s, dir) => {
      // fanOut: the JSON parse + map build measured ~3 s single-task
      // on the one-row-group fixture scan (30 us/row on one core)
      val ev = fanOut(t(s, dir, "events"), "event_id")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("vclass",
          when(col("k") % 4 === 0, "car").when(col("k") % 4 === 1, "truck")
            .when(col("k") % 4 === 2, "bus").otherwise("bike"))
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .withColumn("breakdown",
          map(col("vclass"), lit(1), concat(lit("evt_"), col("event_type")), lit(1)))
      City.mergeMapCounts(ev, Seq("day"), "breakdown")
        .select(col("day"), City.mapCountsToString(col("breakdown")).as("breakdown"))
        .orderBy("day")
    }),

    // U4: the text library through the SQL text surface; must equal the
    // q17 Column path.
    "q36_sql_tokens" -> ((s, dir) => {
      Text.registerSqlFunctions(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""SELECT doc_id, token_count(text) AS n_tokens, n_chars
               FROM documents ORDER BY doc_id""")
    }),

    // U4: the scalar library through the SQL text surface (reference
    // users live in SQL — Hive/psql); must equal the q14 Column path.
    "q30_sql_aqi" -> ((s, dir) => {
      City.registerSqlFunctions(s)
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""SELECT aqi_category(value) AS category, count(1) AS n,
                      round(avg(aqi_value(value)), 4) AS avg_aqi
               FROM events GROUP BY category ORDER BY category""")
    }),

    // Anti-join (NOT EXISTS): customers with no urgent orders — plans as
    // a broadcast/shuffled LeftAnti with the filter pushed into the
    // build side, never a cartesian.
    "q38_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          round(avg("c_acctbal"), 4).as("avg_acctbal"))
        .orderBy("c_mktsegment")
    }),

    // Star join: fact (lineitem) with two broadcast dims (part,
    // supplier→nation) — the classic OLAP shape; both dims explicitly
    // broadcast so the fact side never shuffles for the join.
    "q39_star_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .groupBy("p_brand", "n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("p_brand", "n_name")
    }),

    // Bucketed co-located join: both sides written bucketed+sorted on
    // the join key, so the join itself reads pre-hash-partitioned data
    // and plans with zero exchanges under it (plan-asserted). The
    // write-time shuffle is paid once — the storage-layout answer for
    // repeatedly-joined 100 TB facts. Same aggregate as q12, so the
    // oracle doubles as an equivalence check against the plain join.
    "q40_bucketed_cojoin" -> ((s, dir) => {
      graft.sources.Bucketed.save(
        t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
          col("l_extendedprice"), col("l_discount")),
        "graft_q40_lineitem", "orderkey")
      graft.sources.Bucketed.save(
        t(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
          col("o_orderpriority")),
        "graft_q40_orders", "orderkey")
      graft.sources.Bucketed
        .cojoin(s, "graft_q40_lineitem", "graft_q40_orders", "orderkey")
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // q40 through the build/serve split: the bucketed tables are built
    // once per session (Bucketed.ensure no-ops when they exist), so
    // under the bench's min-of-2 the second attempt measures ONLY the
    // shuffle-free serve join — the write shuffle is the amortized
    // build cost, exactly like q22/q22b for sketches. Same aggregate
    // and oracle as q40: layout + lifecycle must change nothing.
    "q40b_bucketed_serve" -> ((s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      // dataset identity rides in the table name so a session serving
      // several sf dirs never reads a stale build
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val lt = s"graft_q40b_lineitem_$tag"
      val ot = s"graft_q40b_orders_$tag"
      graft.sources.Bucketed.ensure(
        t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
          col("l_extendedprice"), col("l_discount")), lt, "orderkey")
      graft.sources.Bucketed.ensure(
        t(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
          col("o_orderpriority")), ot, "orderkey")
      graft.sources.Bucketed.cojoin(s, lt, ot, "orderkey")
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // Salted skew join: result rows identical to the plain equi-join
    // (which is exactly what the oracle computes) — only the shuffle
    // distribution changes, spreading each hot key across `salt`
    // partitions (plan-asserted: _salt in the join keys).
    "q41_salted_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_suppkey").as("suppkey"),
        col("l_extendedprice"), col("l_discount"))
      val su = t(s, dir, "supplier").select(col("s_suppkey").as("suppkey"),
        col("s_nationkey"))
      graft.operators.Skew.saltedJoin(l, su, "suppkey", salt = 8)
        .groupBy("s_nationkey")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("s_nationkey")
    }),

    // Backward as-of join: each click picks up the user's latest view
    // value at-or-before it. One key shuffle + cumulative window — no
    // range cross-join (oracle: DuckDB LATERAL top-1 probe, an
    // independent algorithm). Values rounded BEFORE the join so both
    // engines carry identical doubles through the match.
    "q42_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select("event_id", "user_id", "ts", "value", "event_type")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          round(col("value"), 4).as("view_value"), col("event_id").as("view_ord"))
      graft.operators.Temporal.asofJoin(clicks, views, key = "user_id",
          leftTs = "ts", rightTs = "ts", rightVals = Seq("view_value"),
          rightOrd = Some("view_ord"))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("view_value"))
        .orderBy("event_id")
    }),

    // Nearest as-of join (pandas direction='nearest'): each click picks
    // the user's view value closest in time, either direction, ties
    // preferring the earlier row. Oracle: an independent LATERAL probe
    // ordered by absolute distance with the same tie rules.
    "q63_asof_nearest" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select("event_id", "user_id", "ts", "value", "event_type")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          round(col("value"), 4).as("view_value"), col("event_id").as("view_ord"))
      graft.operators.Temporal.asofJoinNearest(clicks, views, key = "user_id",
          leftTs = "ts", rightTs = "ts", rightVals = Seq("view_value"),
          rightOrd = Some("view_ord"))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("view_value"))
        .orderBy("event_id")
    }),

    // Point-in-interval range join: clicks landing inside each error's
    // 10-minute window, as a bin equi-join + exact containment filter
    // (plan-asserted: no cartesian / nested-loop). Oracle is DuckDB's
    // plain inequality join — fine at sf0.01, quadratic at scale,
    // which is exactly why the binned form exists.
    "q43_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("err_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("err_end"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("ts").as("click_ts"), col("value"))
      graft.operators.Temporal.rangeJoinPointInterval(clicks, errors,
          "click_ts", "err_start", "err_end", binSeconds = 600L)
        .groupBy("err_id")
        .agg(count(lit(1)).as("n_clicks"), round(sum("value"), 4).as("total_value"))
        .orderBy("err_id")
    }),

    // Gap sessionization (30-min inactivity) rolled up per session.
    // The oracle states the same gap definition in DuckDB window SQL —
    // cross-engine parity on lag/running-sum/aggregate semantics.
    "q44_sessionize" -> ((s, dir) => {
      val e = t(s, dir, "events").select("event_id", "user_id", "ts", "value")
      graft.operators.Temporal.sessionize(e, "user_id", "ts",
          gapSeconds = 1800L, ordCols = Seq("event_id"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          round(sum("value"), 4).as("total_value"),
          floor((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            / 1000000L).cast("long").as("duration_sec"))
        .orderBy("user_id", "session_idx")
    }),

    // HLL sketch distinct counts: mergeable sketch state is the
    // 100 TB distinct-count answer (shard → sketch → union, no
    // re-scan). FULLY ORACLED in the exact regime (the q91/q92 KMV/
    // Misra-Gries discipline): at lgK = 14 the DataSketches HLL stays
    // in coupon (LIST/SET) mode far past this fixture's cardinality —
    // the estimate's collision correction c²/2²⁷ rounds to zero below
    // ~8k distinct, so the rounded estimate EQUALS the exact count,
    // deterministically (verified at sf0.001/0.01/0.1: 15/150/1500
    // distinct users per type, all exact; divergence begins ~40k).
    // The oracle is therefore DuckDB's COUNT(DISTINCT); the SATURATED
    // regime (where estimators differ) stays spec-pinned in AggSpec
    // (error bound vs exact + shard-merge identity).
    "q55_hll_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
          .as("hll_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy("event_type")
    }),

    // Lexical retrieval: BM25 top-20 for a bag-of-words query —
    // tf kept narrow (query terms only, filtered inside the token
    // explode), corpus stats broadcast one-row frames, final rank a
    // TakeOrderedAndProject. Oracle restates the formula in SQL.
    "q54_bm25" -> ((s, dir) => {
      graft.operators.Retrieval.bm25TopK(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("the", "data", "model"), n = 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // BM25 build/serve split: postings + docFreq + corpus stats built
    // once into catalog tables (the q31b/q40b nightly-index lifecycle),
    // the query served entirely off them — the serve plan scans only
    // the stats tables (plan-asserted in PlanSpec) with the query-term
    // filter pushed into the postings scan. Same oracle as q54: the
    // lifecycle must not change the scores.
    "q54b_bm25_persisted" -> ((s, dir) => {
      val (statsT, dfT, corpT) = bm25Tables(s, dir)
      graft.operators.Retrieval.ensureBm25Tables(s,
        t(s, dir, "documents"), "doc_id", "text", statsT, dfT, corpT)
      graft.operators.Retrieval.bm25TopKFromStats(
          s.table(statsT), s.table(dfT), s.table(corpT),
          Seq("the", "data", "model"), n = 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // The retrieval family's STREAMING leg (Maintenance.streamingBm25
    // → Retrieval.appendToBm25Tables — closing its build/serve/stream
    // triad like n-gram/MinHash/IVFADC/graph before it): documents
    // arrive in 3 micro-batches over MemoryStream, each absorbing
    // per-doc-idempotently into the (postings, doc-length) pair — df
    // and corpus stats are DERIVED at serve time (term-filtered
    // postings scan + one dl aggregate), so nothing already written
    // ever changes; a whole-corpus replay absorb must then be a
    // ZERO-doc no-op (required in-entry), and the served top-20
    // answers the q54 oracle VERBATIM — streamed arrival must not
    // move one score.
    "q139_bm25_stream" -> ((s, dir) => {
      import s.implicits._
      val statsT = s"graft_q139_stats_${docsTag(s, dir)}"
      val dlT = s"graft_q139_dl_${docsTag(s, dir)}"
      if (!s.catalog.tableExists(dlT)) {
        val rows = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().sortBy(_._1)
        streamRows(s, rows) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingBm25(
            in.toDF("doc_id", "text"), "doc_id", "text",
            statsT, dlT, ckpt)
        }
      }
      val replayed = graft.operators.Retrieval.appendToBm25Tables(s,
        t(s, dir, "documents"), "doc_id", "text", statsT, dlT)
      require(replayed == 0L,
        s"replay absorb must be a no-op, absorbed $replayed docs")
      graft.operators.Retrieval.bm25TopKFromTables(s, statsT, dlT,
          Seq("the", "data", "model"), n = 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // Context-budget chunking: sliding 50-token windows, stride 40
    // (overlapping) — one JVM kernel pass per doc, exploded to one row
    // per chunk. Chunk text is md5'd so the oracle compares content
    // without hauling strings through the hash gate.
    "q52_chunking" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.Text.chunkByTokens(col("text"),
            chunkTokens = 50, stride = 40)))
        .select(col("doc_id"), col("pos").as("chunk_id"),
          graft.functions.Text.tokenCount(col("col")).as("n_tokens"),
          md5(col("col")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Sequence packing: deterministic hash-shard, then contiguous
    // token-budget bins from a running window sum — the scalable
    // pack-then-split used for pretraining shards (true first-fit is
    // inherently sequential). Aggregated per bin for the oracle.
    "q53_packing" -> ((s, dir) => {
      graft.operators.Packing.packContiguous(
          t(s, dir, "documents"), "doc_id", "n_chars",
          budget = 20000L, shards = 4)
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          min("doc_id").as("first_doc"))
        .orderBy("shard", "bin")
    }),

    // Packed-sequence MATERIALIZATION (Packing.assembleSequences —
    // the step between q53's bin assignment and the trainer): each
    // bin's docs concatenate in pack order with a separator, and the
    // per-doc START OFFSETS surface as the boundary array an
    // attention/loss mask is built from. One hash aggregation, sort
    // inside the aggregate, offsets a one-pass HOF prefix sum — no
    // window. Oracle rebuilds every sequence and offset list in SQL
    // off the q53 packing CTE; one byte out of place in any
    // concatenation breaks its bin's md5.
    "q143_sequence_assembly" -> ((s, dir) => {
      val packed = graft.operators.Packing.packContiguous(
        t(s, dir, "documents").select("doc_id", "n_chars", "text"),
        "doc_id", "n_chars", budget = 20000L, shards = 4)
      graft.operators.Packing.assembleSequences(packed,
          "doc_id", "text", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_chars"),
          md5(col("sequence")).as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .orderBy("shard", "bin")
    }),

    // Deterministic fill-in-the-middle (Text.fimTransform — the
    // arXiv:2207.14255 infilling recipe, PSM order): a hash-gated
    // half of the corpus re-emits as <PRE>prefix<SUF>suffix<MID>
    // middle with hash-drawn cut points, the rest passes through
    // verbatim; every draw is an md5-prefix integer keyed on
    // (doc_id, salt) so the SAME docs transform with the SAME cuts
    // in any engine — the oracle restates gate, cuts, and the
    // re-assembled string wholesale in SQL.
    "q144_fim_transform" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.select(col("doc_id"),
          graft.functions.Text.fimTransform(col("doc_id"), col("text"))
            .as("out"))
        .select(col("doc_id"), md5(col("out")).as("fim_md5"),
          length(col("out")).cast("long").as("fim_chars"))
        .orderBy("doc_id")
    }),

    // Tokenized training shards (Bpe.tokenIds → Packing.packContiguous
    // on n_tokens → assembleTokenSequences): the corpus→batch
    // capstone — every document BPE-tokenizes to INTEGER IDS under the
    // committed merge list (deterministic codepoint-base id scheme, no
    // corpus-derived vocab), packs into token-budget bins, and each
    // bin materializes as ONE id sequence with an EOS (id 0) after
    // every document plus the offset boundary array — the literal
    // trainer feed q143 produced only the string form of. The oracle
    // replays tokenization closed-form: the committed merges are
    // character-disjoint and non-chaining, so the greedy tokenizer's
    // SYMBOL LIST (not just its count, as q82 exploits) equals a
    // single left-to-right regex scan 'th|in|.' plus the trailing-e
    // end-of-word merge — BpeSpec pins that equivalence on
    // adversarial words — then restates the q53 shard/bin arithmetic
    // and rebuilds every sequence and offset list; one id out of
    // place breaks its bin's md5.
    "q145_token_shards" -> ((s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      val packed = graft.operators.Packing.packContiguous(
        toks, "doc_id", "n_tokens", budget = 5000L, shards = 4)
      graft.operators.Packing.assembleTokenSequences(packed,
          "doc_id", "token_ids", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          md5(array_join(transform(col("sequence"), _.cast("string")), ","))
            .as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .orderBy("shard", "bin")
    }),

    // WAT metadata export (Html.watMetadata → Warc.writeWatSegments —
    // CommonCrawl's THIRD artifact family next to the WARC segments
    // and the WET text export): one `metadata`-type record per
    // response capture whose JSON body carries url/date/digest/title/
    // description/base/outlinks, extracted in ONE scanHtml kernel
    // pass. Roundtrip proof: build WAT over the q115 WARC fixture's
    // responses, write real metadata segments (per-record gzip
    // members, rename-on-commit), read them BACK through the WARC
    // reader, re-parse the JSON — every field must equal the
    // closed-form template (absent fields pin as '-', never silently
    // dropped).
    "q146_wat_export" -> ((s, dir) => {
      val wdir = ensureWarcDir(s, dir)
      val W = graft.sources.Warc
      val resp = W.readWarc(s, wdir).filter(col("warc_type") === "response")
      val wat = graft.operators.Html.watMetadata(resp, "target_uri",
        "body", "warc_date", "payload_digest")
      // build-once: the export lands under a docsTag-keyed dir; bench
      // re-invocations time the read-back serve, not a re-export
      val watDir = ensureDerivedDir(s, dir, "q146_wat")(stage =>
        W.writeWatSegments(wat, "uri", "wat_json", s"$stage/wat")) + "/wat"
      W.readWarc(s, watDir).filter(col("warc_type") === "metadata")
        .select(from_json(col("body").cast("string"),
          "url STRING, date STRING, digest STRING, title STRING, " +
            "description STRING, base STRING, outlinks ARRAY<STRING>, " +
            "n_links INT",
          Map.empty[String, String]).as("j"))
        .select(
          regexp_extract(col("j.url"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("j.title").as("title"),
          coalesce(col("j.description"), lit("-")).as("description"),
          coalesce(col("j.base"), lit("-")).as("base_href"),
          col("j.n_links").as("n_links"),
          array_join(col("j.outlinks"), ",").as("outlinks_csv"),
          col("j.date").as("warc_date"),
          coalesce(col("j.digest"), lit("-")).as("digest"))
        .orderBy("doc_id")
    }),

    // CDXJ RANGE-SCAN serve (Warc.readCdxjPrefix over the per-shard
    // min/max manifest writeCdxj now publishes) — the query the SURT
    // sort exists for: "every capture under site3.example.com"
    // answered by opening ONLY the shards whose key range overlaps
    // the prefix. The entry REQUIRES that shard selection actually
    // skipped files (the pruning receipt — a full scan wearing a
    // range-scan name fails in-entry), and the result must equal the
    // closed-form subtree, exactly what a whole-index filter returns.
    "q147_cdxj_rangescan" -> ((s, dir) => {
      val wdir = ensureCdxWarcDir(s, dir)
      val W = graft.sources.Warc
      // build-once publish; every invocation still runs the read-side
      // pruning receipt below against the committed index
      val cdxjDir = ensureDerivedDir(s, dir, "q147_cdxj")(stage =>
        W.writeCdxj(W.cdxIndex(s, wdir), s"$stage/cdxj", shards = 8)) + "/cdxj"
      // site3's host subtree (SURT folds www. — the fixture's keys are
      // `com,example,site3)/…`; the `)` keeps the label boundary exact,
      // so site13/site30 could never ride along)
      val prefix = "com,example,site3)"
      val all = W.cdxjShardsForPrefix(s, cdxjDir, "")
      val sel = W.cdxjShardsForPrefix(s, cdxjDir, prefix)
      require(sel.nonEmpty && sel.size < all.size,
        s"prefix scan must skip shards: selected ${sel.size} of ${all.size}")
      W.readCdxjPrefix(s, cdxjDir, prefix)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("url"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("urlkey"), col("url"), col("mime"), col("status"))
        .orderBy("doc_id")
    }),

    // Latest-capture-wins corpus build (Warc.latestCaptures → ranged
    // fetch): three crawl batches capture every URL 2-3 times across
    // three days; the catalog dedups to ONE winner per urlkey — max
    // warc_date, locator tiebreak — in a single hash agg (never a
    // window over the catalog), and the winners' ranged-read bodies
    // must be the NEWEST version of every page, digests verified.
    // n_captures audits that nothing was silently single-captured.
    "q148_latest_capture" -> ((s, dir) => {
      val wdir = ensureMultiCaptureWarcDir(s, dir)
      val W = graft.sources.Warc
      // round-17: pin the winner set — it feeds both the ranged fetch
      // and the metadata join-back; unpinned, each branch re-walked
      // all ~467 segments through the CDX indexer. |urlkeys|-row
      // narrow frame.
      val winners = Shared.pin(W.latestCaptures(W.cdxIndex(s, wdir)))
      W.fetchByCdx(winners, wdir)
        .join(winners.select("filename", "offset", "member_record_index",
          "warc_date", "n_captures"),
          Seq("filename", "offset", "member_record_index"))
        .select(
          regexp_extract(col("url"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("warc_date"), col("n_captures"), col("digest_ok"),
          col("body").cast("string").as("text"))
        .orderBy("doc_id")
    }),

    // Quality-fed frontier (Frontier.hostQuality × qualityScore →
    // scheduleByKey) — the crawl quality LOOP closed: host k carries a
    // link-graph rank DESCENDING in k (host 0 ranks best) and a refine
    // keep-rate ASCENDING in k (host 0 keeps ~1/20, host 19 keeps
    // everything), the blended score is the exact integer product
    // rank×quality_milli, and the 20 sibling hosts compete for ONE
    // apex budget of 5 — so the high-rank/low-quality hosts must
    // DEMONSTRABLY lose their slots to low-rank/high-quality ones
    // (rank-only scoring would schedule host 0 first; the oracle's
    // winners come from the high-k end). Every keep verdict, rate,
    // product, and slot is closed-form.
    "q149_quality_frontier" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(20)).as("k"),
        (pmod(expr("doc_id div 20"), lit(20)) >=
          lit(19L) - pmod(col("doc_id"), lit(20))).as("kept"))
      val urls = d.select(col("doc_id"), col("k"),
        concat(lit("https://site"), col("k").cast("string"),
          lit(".example.com/page"), col("doc_id").cast("string"),
          lit(".html")).as("url"))
      val ranks = d.select(col("k")).distinct()
        .select(col("k"), (lit(1000L) - col("k") * 40L).as("rank_micro"))
      val quality = graft.operators.Frontier.hostQuality(
        d.select(col("k").as("host"), col("kept")), "host", "kept")
      val scored = urls
        .join(broadcast(ranks), "k")
        .join(broadcast(quality.withColumnRenamed("host", "k")), "k")
        .select(col("url"),
          graft.operators.Frontier.qualityScore(
            col("rank_micro"), col("quality_milli")).as("score"))
      graft.operators.Frontier.scheduleByKey(scored,
          graft.operators.Url.apexDomain(col("url")), "url", "score",
          maxPerKey = 5)
        .orderBy("host_slot")
    }),

    // Robots META directives (Html.robotsDirectives — the in-page
    // counterpart of robots.txt): four regimes by doc_id%4 — absent
    // (default index,follow), noindex, a case/whitespace-mangled
    // "NOFOLLOW, index" (tokens are case-insensitive and trimmed),
    // and "none" (= both). Composed the way a pipeline acts on them:
    // in_corpus = !noindex gates the content, and a nofollow page's
    // outlinks vanish from the frontier feed (anti-join against
    // extractLinks). Every verdict and surviving-link count is
    // closed-form.
    "q152_meta_robots" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head>"),
          when(pmod(col("doc_id"), lit(4)) === 1,
              lit("<meta name=\"robots\" content=\"noindex\">"))
            .when(pmod(col("doc_id"), lit(4)) === 2,
              lit("<meta name=\"ROBOTS\" content=\" NOFOLLOW , index \">"))
            .when(pmod(col("doc_id"), lit(4)) === 3,
              lit("<meta name=robots content=none>"))
            .otherwise(lit("")),
          lit("<title>T</title></head><body><p>body</p>" +
            "<a href=\"/l1\">a</a> <a href=\"/l2\">b</a></body></html>"))
          .as("html"))
      val d = graft.operators.Html.robotsDirectives(pages, "doc_id", "html")
      val followedLinks = graft.operators.Html
        .extractLinks(pages, "doc_id", "html")
        .join(d.filter(col("nofollow")).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      d.join(followedLinks, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("meta_robots"), lit("-")).as("meta_robots"),
          col("noindex"), col("nofollow"),
          (!col("noindex")).as("in_corpus"),
          coalesce(col("n"), lit(0L)).as("n_frontier_links"))
        .orderBy("doc_id")
    }),

    // X-Robots-Tag directives (Warc surfaces the header; the
    // HTTP-layer counterpart of q152's meta robots — binary resources
    // have no meta, so this is how PDFs/images get their noindex):
    // four header regimes including an agent-scoped token and a
    // REPEATED header that must list-join, combined with the meta
    // layer by OR (most restrictive wins across layers). Every header
    // echo and verdict closed-form.
    "q154_xrobots_directives" -> ((s, dir) => {
      val wdir = ensureXRobotsWarcDir(s, dir)
      val W = graft.sources.Warc
      val pages = W.readWarc(s, wdir)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("http_x_robots"),
          col("body").cast("string").as("html"))
      val meta = graft.operators.Html.robotsDirectives(
        pages, "doc_id", "html")
      pages.select(col("doc_id"),
          coalesce(col("http_x_robots"), lit("-")).as("x_robots"),
          W.xRobotsVerdicts(col("http_x_robots")).as("h"))
        .join(meta.select(col("doc_id"),
          col("noindex").as("m_noindex"),
          col("nofollow").as("m_nofollow")), "doc_id")
        .select(col("doc_id"), col("x_robots"),
          col("h.noindex").as("hdr_noindex"),
          col("h.nofollow").as("hdr_nofollow"),
          (col("h.noindex") || col("m_noindex")).as("noindex"),
          (col("h.nofollow") || col("m_nofollow")).as("nofollow"))
        .orderBy("doc_id")
    }),

    // Declared-canonical collapse (Html.canonicalTargets — <link
    // rel=canonical> resolved and canonicalized, the pre-dedup
    // collapse every web corpus applies): groups of five URL variants
    // — a leader with no declaration, one member declaring a RELATIVE
    // canonical (resolution against the page URL is live), three
    // declaring it absolute with mangled case (canonicalization is
    // live) — must each fold to ONE canonical_url with the leader as
    // keeper and exactly four declarations counted. Closed-form per
    // group.
    "q153_canonical_collapse" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") - pmod(col("doc_id"), lit(5))).as("leader"))
      val pages = docs.select(col("doc_id"),
        concat(lit("https://site"),
          pmod(col("leader"), lit(20)).cast("string"),
          lit(".example.com/page"), col("doc_id").cast("string"),
          lit(".html")).as("url"),
        concat(lit("<html><head>"),
          when(pmod(col("doc_id"), lit(5)) === 0, lit(""))
            .when(pmod(col("doc_id"), lit(5)) === 1,
              concat(lit("<link rel=\"canonical\" href=\"page"),
                col("leader").cast("string"), lit(".html\">")))
            .otherwise(
              concat(lit("<link rel=\"canonical\" href=\"HTTPS://Site"),
                pmod(col("leader"), lit(20)).cast("string"),
                lit(".Example.COM/page"), col("leader").cast("string"),
                lit(".html\">"))),
          lit("</head><body><p>x</p></body></html>")).as("html"))
      graft.operators.Html.canonicalTargets(pages, "doc_id", "url", "html")
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_pages"), min("doc_id").as("keeper"),
          count(col("canonical_href")).as("n_declared"))
        .orderBy("keeper")
    }),

    // Image–text pairs (Html.imageTextPairs — the LAION slot: alt-text
    // pairs mined from page markup are THE public multimodal
    // training-data source): five regimes by doc_id%5 — relative src
    // vs the page URL, base-href resolution with an explicit-empty
    // alt (the decorative convention, distinct from ABSENT), figure/
    // figcaption captioning, a chrome logo whose title attribute is
    // the caption fallback, and an absolute src with canonicalization
    // slop. A src-less img on every page proves no ghost rows. Every
    // resolved URL, alt, caption, and chrome flag is closed-form.
    "q155_image_text_pairs" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(5))
      val ks = pmod(col("doc_id"), lit(20)).cast("string")
      val ids = col("doc_id").cast("string")
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"), ks, lit(".example.com/dir/page"),
          ids, lit(".html")).as("url"),
        concat(
          lit("<html><head><title>Page "), ids, lit("</title>"),
          when(m === 1, lit("<base href=\"/media/\">")).otherwise(lit("")),
          lit("</head><body>"),
          when(m === 0, concat(lit("<img src=\"pics/img"), ids,
              lit(".jpg\" alt=\"Alt &amp; text "), ids, lit("\">")))
            .when(m === 1, concat(lit("<img src=\"i"), ids,
              lit(".png\" alt=\"\">")))
            .when(m === 2, concat(lit("<figure><img src=\"/abs/f"), ids,
              lit(".jpg\"><figcaption>Cap "), ids,
              lit(" &quot;q&quot;</figcaption></figure>")))
            .when(m === 3, concat(
              lit("<nav><img src=\"logo.svg\" title=\"Logo "), ids,
              lit("\"></nav>")))
            .otherwise(concat(
              lit("<img src=\"HTTPS://CDN.Example.COM:443/x"), ids,
              lit(".webp\" alt=\"x\">"))),
          lit("<img alt=\"ghost\"></body></html>")).as("html"))
      graft.operators.Html.imageTextPairs(pages, "doc_id", "url", "html")
        .select(col("doc_id"), col("img_pos"), col("image_url"),
          coalesce(col("alt_text"), lit("[absent]")).as("alt_text"),
          coalesce(col("caption"), lit("-")).as("caption"),
          col("in_chrome"), col("page_title"))
        .orderBy("doc_id")
    }),

    // Anchor-text edges (Html.anchorTextEdges — the web's oldest
    // relevance label: the text OTHER pages use to describe a
    // target): four regimes by doc_id%4 — entity-decoded text,
    // base-href destination resolution with nested inline markup
    // stripped, a textless image anchor next to a chrome nav link,
    // and a block boundary ending the anchor's text claim. Every
    // edge, destination, and text is closed-form.
    "q156_anchor_text_edges" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(4))
      val ks = pmod(col("doc_id"), lit(20)).cast("string")
      val ids = col("doc_id").cast("string")
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"), ks, lit(".example.com/dir/page"),
          ids, lit(".html")).as("url"),
        when(m === 0, concat(lit("<a href=\"next"), ids,
            lit(".html\">Go &amp; see "), ids, lit("</a>")))
          .when(m === 1, concat(
            lit("<head><base href=\"/en/\"></head><body><a href=\"deep"),
            ids, lit(".html\">Deep <b>Bold</b> "), ids, lit("</a>")))
          .when(m === 2, concat(lit("<a href=\"/img"), ids,
            lit("\"><img src=\"i.png\"></a>"),
            lit("<nav><a href=\"/nav\">Home</a></nav>")))
          .otherwise(concat(lit("<a href=\"/cut"), ids,
            lit("\">start "), ids, lit("<p>rest of page</p></a>")))
          .as("html"))
      graft.operators.Html.anchorTextEdges(pages, "doc_id", "url", "html")
        .select(col("doc_id"), col("link_pos"), col("dst_url"),
          coalesce(col("anchor_text"), lit("[none]")).as("anchor_text"),
          col("in_chrome"))
        .orderBy("doc_id", "link_pos")
    }),

    // Per-TARGET anchor-term profile (the aggregate half of the
    // anchor story — what retrieval training and crawl scoring
    // actually consume): groups of 5 consecutive docs all link to one
    // shared hub page with per-doc labels, and the profile — inbound
    // count, distinct source pages, and the label bag in
    // deterministic (sorted) order — is ONE hash aggregation keyed by
    // destination, closed-form per hub.
    "q157_anchor_profile" -> ((s, dir) =>
      graft.operators.Html.anchorProfile(
          graft.operators.Html.anchorTextEdges(
            anchorHubPages(s, dir), "doc_id", "url", "html"))
        .orderBy("dst_url")),

    // The anchor family's STREAMING leg (Maintenance.streamingAnchorEdges
    // → Html.appendToAnchorTable — closing its build/serve/stream triad
    // like BM25/n-gram/MinHash/IVFADC/graph before it): the q157
    // fixture pages DELIVERED AS A STREAM in 3 micro-batches, each
    // absorbing per-source-page idempotently into the standing
    // postings+markers pair; a whole-corpus replay must absorb ZERO
    // pages (required in-entry), and the served profiles answer the
    // q157 oracle VERBATIM — streamed arrival must not move one count
    // or reorder one term bag. The driver-side collect feeds the
    // MemoryStream test harness (the S5 situation), not the operator.
    "q161_anchor_stream" -> ((s, dir) => {
      import s.implicits._
      val tbl = s"graft_q161_anchor_${docsTag(s, dir)}"
      val pages = anchorHubPages(s, dir)
      if (!s.catalog.tableExists(tbl)) {
        val rows = pages.select("doc_id", "url", "html")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        streamRows(s, rows) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingAnchorEdges(
            in.toDF("doc_id", "url", "html"),
            "doc_id", "url", "html", tbl, ckpt)
        }
      }
      val replayed = graft.operators.Html.appendToAnchorTable(
        s, pages, "doc_id", "url", "html", tbl)
      require(replayed == 0L,
        s"replay absorb must be a no-op, absorbed $replayed pages")
      graft.operators.Html.anchorProfileFromTable(s, tbl)
        .orderBy("dst_url")
    }),

    // Anchor-field retrieval (the CONSUMPTION of q157's profiles —
    // ranking targets by the text other pages use for them, the
    // web-search move body-text BM25 can't make): the q157 hub
    // profiles are the documents, the anchor term bag is the field,
    // and a query carrying two rare per-doc tokens plus one uniform
    // token must rank the two matching hubs first with every score
    // replayed by the q54 BM25 arithmetic.
    "q158_anchor_bm25" -> ((s, dir) => {
      val profiles = graft.operators.Html.anchorProfile(
        graft.operators.Html.anchorTextEdges(
          anchorHubPages(s, dir), "doc_id", "url", "html"))
      graft.operators.Retrieval.bm25TopK(profiles, "dst_url",
          "anchor_terms", Seq("17", "42", "guide"), n = 10)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // CCNet perplexity bucketing — the head/middle/tail cut that
    // decides which slice of a crawl a trainer ever sees: every
    // document scores under the q70 corpus bigram LM, then each
    // LANGUAGE's score distribution cuts into thirds. NOT a
    // per-language ntile window (that serializes a 100 TB language
    // through one task): the distribution collapses to the bounded
    // (lang, 4-dp score) histogram, the cut is exact integer rank
    // arithmetic (`div`, never a float quotient), and value blocks
    // never split — ties land in one bucket on both engines. The
    // oracle replays scoring, histogram, cumulative ranks, and the
    // floor-div cut; one document in the wrong third breaks the hash.
    "q162_ppl_buckets" -> ((s, dir) =>
      // fanOut: LM scoring kernel off the single-task scan
      graft.operators.LangModel.perplexityBuckets(
          fanOut(t(s, dir, "documents"), "doc_id"), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("avg_logprob"),
          when(col("bucket") === 0, lit("head"))
            .when(col("bucket") === 1, lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy("doc_id")),

    // The bigram-LM family's STREAMING leg (q70 build / q70b
    // persisted-serve / THIS — the triad discipline every index
    // family carries): the corpus streams in 3 micro-batches into a
    // standing (w1,w2,cnt) model table (additive merge under the
    // batch-id ledger — counts are not idempotent) plus a
    // distinct-token vocabulary table (anti-join appends — replay
    // absorbs nothing); context marginals and the vocab stat DERIVE
    // at serve time, so two tables are the whole state. Serving off
    // the streamed model must answer the q70 oracle VERBATIM —
    // streamed arrival must not move one micro-nat.
    "q163_lm_stream" -> ((s, dir) => {
      val (bigT, tokT) = ensureStreamedLmTables(s, dir)
      graft.operators.LangModel.scoreFromTables(s,
          t(s, dir, "documents"), "doc_id", "text", bigT, tokT)
        .orderBy("doc_id")
    }),

    // The bucket cut SERVED OFF THE STREAMED MODEL (q162 through the
    // q163 state): scoring reads the standing bigram/token tables,
    // the histogram cut runs unchanged on top — and the answer must
    // be the q162 oracle VERBATIM, because the streamed model scores
    // exactly like the one-shot train (q163's guarantee) and the cut
    // is a pure function of the scores. The head/middle/tail serve a
    // growing corpus runs between micro-batches, no retrain.
    "q162b_ppl_buckets_served" -> ((s, dir) => {
      val (bigT, tokT) = ensureStreamedLmTables(s, dir)
      val docs = t(s, dir, "documents")
      // the SAME cut implementation q162 runs (bucketsFromScores) —
      // only the scoring source differs
      graft.operators.LangModel.bucketsFromScores(
          graft.operators.LangModel.scoreFromTables(s,
            docs, "doc_id", "text", bigT, tokT),
          docs, "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("avg_logprob"),
          when(col("bucket") === 0, lit("head"))
            .when(col("bucket") === 1, lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy("doc_id")
    }),

    // License-header gate for code corpora (The Stack / StarCoder
    // keep-permissive step): five license regimes planted by
    // doc_id%6 — MIT, Apache-2.0, GPL-3.0, BSD-3-Clause, a
    // proprietary notice — and one left bare. Detection is pure
    // codegen (lower + contains over a BOUNDED 1500-char header
    // window), and the marker order is itself under test: the BSD
    // header ENDS with the same "all rights reserved" sentence the
    // proprietary notice leads with, so a detector that checks
    // proprietary first mislabels every BSD file. The oracle replays
    // the header synthesis and the full decision ladder.
    "q164_license_filter" -> ((s, dir) => {
      val hdrs = array(
        lit("Permission is hereby granted, free of charge, to any person obtaining a copy of this software."),
        lit("Licensed under the Apache License, Version 2.0; you may not use this file except in compliance."),
        lit("This file is free software under the terms of the GNU General Public License as published."),
        lit("Redistribution and use in source and binary forms, with or without modification, are permitted. All rights reserved."),
        lit("Copyright 2026 MegaCorp. All rights reserved. Unauthorized copying is prohibited."))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(6)) < 5,
          concat(
            element_at(hdrs, pmod(col("doc_id"), lit(6)).cast("int") + 1),
            lit("\n"), col("text")))
          .otherwise(col("text")).as("text"))
      docs.select(col("doc_id"),
          graft.functions.Text.licenseInfo(col("text")).as("li"))
        .select(col("doc_id"), col("li.license").as("license"),
          col("li.permissive").as("permissive"))
        .orderBy("doc_id")
    }),

    // Cluster-balanced rebalance (the SemDeDup/DataComp "don't let
    // the dominant cluster eat the token budget" step), made
    // cross-engine EXACT end-to-end: label-seeded integer centroids
    // (grid-quantized element means, floor-divided — a pure function
    // of the member set), row-local integer-L2 argmin re-assignment
    // (codebook rides the closure, no join, no float compare), then
    // the q96 temperature machinery with the CLUSTER as the stratum
    // (n^0.5 quotas flatten dominant clusters; md5-smallest draw).
    // The per-cluster summary pins the kept SET through id checksums;
    // the oracle re-derives quantization, centroids, every argmin,
    // quotas, and membership from scratch.
    "q165_cluster_balance" -> ((s, dir) =>
      graft.operators.Similarity.clusterBalance(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label",
          totalTarget = 200L)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("id_sum"),
          sum(col("vec_id") * col("vec_id")).as("id_sq_sum"))
        .orderBy("cluster")),

    // Gate-attribution funnel (the curation stats page every real
    // pipeline publishes — which stage dropped what): the q61-style
    // corpus (plus 50 planted clones) runs the refine gates with
    // FIRST-FAIL attribution in pipeline order (lang → quality →
    // repetition → duplicate → kept), so counts sum to the input.
    // Every class is POPULATED by construction: doc_id%9==5 becomes
    // an English-but-punctuation-flooded text (langId still says en
    // — one stopword — so the charge lands on QUALITY, the ordering
    // subtlety), %9==7 a stopword-only repetition text that passes
    // quality and fails the dup-token ceiling; the floor is 0.7
    // because at the default 0.3 the quality gate is unreachable
    // once language passes (comp1+comp3 ≥ 1.04, comp4 ≥ 0.5). The
    // oracle replays every gate kernel (the q26/q27/q59 fragments),
    // the keeper map, and the first-fail collapse.
    "q166_gate_attribution" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(9)) === 5,
          concat(lit("the "), repeat(lit("!? "), 40)))
        .when(pmod(col("doc_id"), lit(9)) === 7,
          repeat(lit("the "), 30))
        .otherwise(col("text")).as("text"))
      val u = base.unionByName(base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 400000L).as("doc_id"), col("text")))
      graft.operators.Corpus.gateAttribution(u, "doc_id", "text",
          minQuality = 0.7)
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("verdict")
    }),

    // Interleaved image–text documents (the MMC4/OBELICS training
    // format — image placeholders IN the main-content flow plus an
    // aligned, resolved image list): template pages carry a chrome
    // logo (must never emit), an image BETWEEN two kept paragraphs
    // (must splice exactly there), a dropped-short block, and a
    // trailing figure whose caption block also drops while its image
    // still emits — boilerplate TEXT dies, content images survive.
    // Captions exercise the figcaption-then-title-then-alt ladder;
    // URLs resolve relative and root-relative srcs against the page.
    // The oracle states the full interleaved string (placeholders,
    // newlines, block order) and both resolved URLs closed-form.
    "q168_interleaved_docs" -> ((s, dir) => {
      val ks = pmod(col("doc_id"), lit(20)).cast("string")
      val ids = col("doc_id").cast("string")
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"), ks, lit(".example.com/dir/page"),
          ids, lit(".html")).as("url"),
        concat(
          lit("<html><head><title>Page "), ids, lit("</title></head><body>"),
          lit("<nav><a href=\"/\">Home sweet home navigation</a><img src=\"logo.png\"></nav>"),
          lit("<p>First paragraph of page "), ids,
          lit(" with enough characters to keep it.</p>"),
          lit("<img src=\"pics/a"), ids, lit(".jpg\" alt=\"Alt "), ids,
          lit("\">"),
          lit("<p>Second paragraph of page "), ids,
          lit(" is also long enough to keep around.</p>"),
          lit("<div>tiny</div>"),
          lit("<figure><img src=\"/f/b"), ids, lit(".png\"><figcaption>Cap "),
          ids, lit("</figcaption></figure></body></html>")).as("html"))
      graft.operators.Html.interleavedDocs(pages, "doc_id", "url", "html")
        .select(col("doc_id"), col("interleaved_text"),
          array_join(col("image_urls"), "|").as("image_urls_csv"),
          array_join(col("image_captions"), "|").as("captions_csv"),
          col("n_images"), col("n_kept"))
        .orderBy("doc_id")
    }),

    // Conditional revalidation (RFC 9110 §13 — the recrawl
    // bandwidth-saver): crawl A captures every page with validators;
    // crawl B gets `304 Not Modified` for every doc_id%3==0 page
    // (empty body, ETag echoed) and fresh bodies elsewhere. The
    // ledger (one latest-wins hash agg, never a window) carries the
    // If-None-Match set; resolveNotModified unions fresh captures
    // with 304s RESOLVED to crawl A's locators (content date frozen,
    // observation date advanced); the ranged fetch then proves the
    // resolved bytes are crawl A's verbatim. The oracle states
    // source, both dates, body text, and the latest ETag closed-form
    // for every page.
    "q170_revalidation" -> ((s, dir) => {
      val wdir = ensureRevalWarcDir(s, dir)
      val W = graft.sources.Warc
      val ledger = W.revalidationLedger(W.readWarc(s, s"$wdir/reval-*"))
      // round-17: pin the resolved locator set — it feeds both the
      // ranged fetch and the metadata join-back, and each branch
      // re-ran BOTH segment-walking CDX index passes without the pin.
      // |captures|-row narrow frame.
      val eff = Shared.pin(W.resolveNotModified(
        W.cdxIndex(s, s"$wdir/reval-b-*"), W.cdxIndex(s, s"$wdir/reval-a-*")))
      val bodies = W.fetchByCdx(eff, wdir)
        .select(col("filename"), col("offset"), col("member_record_index"),
          col("body").cast("string").as("body_text"))
      eff.join(bodies, Seq("filename", "offset", "member_record_index"))
        .join(ledger.select(col("urlkey"),
          col("http_etag").as("ledger_etag")), Seq("urlkey"))
        .select(
          regexp_extract(col("url"), "page(\\d+)\\.html", 1).cast("long")
            .as("doc_id"),
          col("source"), col("observed_date"), col("content_date"),
          col("body_text"), col("ledger_etag"))
        .orderBy("doc_id")
    }),

    // Gopher repetition-rule battery (Rae et al. 2021 Table A1 — the
    // public repetition-filter recipe): 26 planted fixture classes,
    // one FIRE and one NEAR-MISS PASS per rule, each engineered so
    // exactly its own rule is the first to exceed its ceiling (fire)
    // or so every stat sits within a few permille UNDER every ceiling
    // (pass) — both directions of all 13 rules are live. Stats are
    // exact integer permilles from one JVM kernel pass
    // (Sketches.repetitionStats), so the oracle states every number
    // as a closed-form constant per class; the fired rule is the
    // shared Column ladder gateAttribution's named mode uses.
    "q171_gopher_repetition" -> ((s, dir) => {
      val fixtures = array(GopherFixtures.map(lit): _*)
      val cls = pmod(col("doc_id"), lit(26)).cast("int")
      t(s, dir, "documents")
        .select(col("doc_id"), cls.as("cls"),
          element_at(fixtures, cls + 1).as("text"))
        .withColumn("st", graft.functions.Text.repetitionStats(col("text")))
        .select(col("doc_id"), col("cls"),
          coalesce(graft.functions.Text.gopherRepetitionRule(col("st")),
            lit("none")).as("verdict"),
          col("st.dup_para_pm"), col("st.dup_line_pm"),
          col("st.dup_para_char_pm"), col("st.dup_line_char_pm"),
          col("st.top2_pm"), col("st.top3_pm"), col("st.top4_pm"),
          col("st.dup5_pm"), col("st.dup6_pm"), col("st.dup7_pm"),
          col("st.dup8_pm"), col("st.dup9_pm"), col("st.dup10_pm"))
        .groupBy("cls", "verdict", "dup_para_pm", "dup_line_pm",
          "dup_para_char_pm", "dup_line_char_pm", "top2_pm", "top3_pm",
          "top4_pm", "dup5_pm", "dup6_pm", "dup7_pm", "dup8_pm",
          "dup9_pm", "dup10_pm")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("cls")
    }),

    // The same fixtures through the FULL curation funnel with named
    // repetition rules (gateAttribution namedRepetition=true): fire
    // classes land on `repetition:<rule>`, pass classes flow through
    // to the exact-dedup stage (every doc of a class shares one text,
    // so each pass class keeps its min-id doc and marks the rest
    // duplicates). langs=und / minQuality=0 open the upstream gates —
    // the fixture words are gibberish by design and this battery
    // charges the repetition stage, not langId.
    "q171b_gopher_gate" -> ((s, dir) => {
      val fixtures = array(GopherFixtures.map(lit): _*)
      // fanOut: the Gopher stats kernel off the single-task scan
      val docs = fanOut(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"),
          element_at(fixtures, pmod(col("doc_id"), lit(26)).cast("int") + 1)
            .as("text"))
      graft.operators.Corpus.gateAttribution(docs, "doc_id", "text",
          langs = Set("und"), minQuality = 0.0, namedRepetition = true)
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("verdict")
    }),

    // FUZZY eval-set decontamination (the near-dup complement of
    // q159's exact 13-gram gate — Lee/Dodge style): doc_id%7==4 docs
    // are REPLACED by a lightly-edited benchmark item ("zz " prefix —
    // shingle Jaccard 0.9565, a paraphrase-leak an exact-gram gate
    // could miss), %7==5 docs EMBED a benchmark item diluted by their
    // own text (Jaccard ≤ ~0.66, below the 0.8 bar — flagged by q159's
    // exact gate, correctly NOT by this one). The bench side
    // broadcasts; candidates verify inline against the exact
    // hashed-shingle Jaccard; the oracle recomputes the BRUTE-FORCE
    // char-5-gram Jaccard of every doc against every bench item, so
    // an LSH recall miss is a correctness failure.
    "q172_fuzzy_decontamination" -> ((s, dir) => {
      import s.implicits._
      val sents = (0 until 3).map(b =>
        (0 until 15).map(k => s"zq${('a' + b).toChar}$k").mkString(" "))
      val bench = sents.zipWithIndex
        .map { case (t, b) => (b.toLong, t) }.toDF("bench_id", "btext")
      val sentByMod3 = element_at(array(sents.map(lit): _*),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val planted = fanOut(t(s, dir, "documents"), "doc_id").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 4,
          concat(lit("zz "), sentByMod3))
        .when(pmod(col("doc_id"), lit(7)) === 5,
          concat(sentByMod3, lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
      graft.operators.Dedup.fuzzyContaminatedDocs(planted, "doc_id",
          "text", bench, "bench_id", "btext", threshold = 0.8)
        .orderBy("doc_id")
    }),

    // C4 badwords/URL gate (Raffel et al. 2020 §2.2 — the public
    // blocklist recipe): whole-WORD content matches flag (including
    // across hyphen boundaries: "free-porn"), substring traps never
    // do ("sussex"/"essex"/"classy"), and the URL gate flags blocked
    // tokens in the source address. The funnel runs with every
    // upstream gate opened (langs=all, quality 0, dupTok 1.0) so the
    // blocklist is the only text gate: fire classes land on
    // `badwords`, pass classes flow to the exact-dedup keeper logic.
    "q173_c4_badwords" -> ((s, dir) => {
      val cls = pmod(col("doc_id"), lit(6)).cast("int")
      val docs = fanOut(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), cls.as("cls"),
        when(cls === 0, concat(col("text"), lit(" viagra casino offers")))
          .when(cls === 1, concat(col("text"), lit(" Hot PORN! site")))
          .when(cls === 2, concat(col("text"), lit(" sussex essex classy")))
          .when(cls === 3, concat(col("text"), lit(" free-porn links")))
          .otherwise(col("text")).as("text"),
        when(cls === 4, lit("https://best-casino.example.com/play"))
          .otherwise(lit("https://news.example.com/page")).as("url"))
      val verd = graft.operators.Corpus.gateAttribution(
        docs.select("doc_id", "text"), "doc_id", "text",
        langs = Set("en", "fr", "de", "es", "und"), minQuality = 0.0,
        maxDupTokenFraction = 1.0,
        badwords = Some(graft.functions.Text.C4Badwords))
      docs.select(col("doc_id"), col("cls"),
          graft.functions.Text.blockedUrl(col("url")).as("url_blocked"))
        .join(verd, "doc_id")
        .groupBy("cls", "verdict", "url_blocked")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("cls", "verdict")
    }),

    // Multimodal trainer seam (q168's interleaved docs carried all
    // the way to the packed-shard form): placeholder LINES tokenize
    // to ONE reserved negative id each (text runs never merge across
    // an image boundary), the multimodal assembler flattens each
    // bin's refs in pack order, and the image LOOKASIDE table maps
    // every slot ordinal to its 0-based position in the landed
    // sequence + its ref — the ordinal contract a trainer's embedding
    // swap relies on. Three planted classes: no-image, trailing
    // image + caption run, and image-bracketed text. The oracle
    // rebuilds ids (q145 chain + [-2] splices), shard/bin arithmetic,
    // offsets, every slot position (per-doc placeholder index + doc
    // offset), and the ref order from scratch.
    "q174_multimodal_shards" -> ((s, dir) => {
      val cls = pmod(col("doc_id"), lit(3)).cast("int")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(cls === 1,
          concat(col("text"), lit("\n<|image_0|>\nthe small table")))
        .when(cls === 2,
          concat(lit("<|image_0|>\n"), col("text"), lit("\n<|image_1|>")))
        .otherwise(col("text")).as("itext"),
        when(cls === 1, array(concat(lit("https://img.example.com/a"),
          col("doc_id").cast("string"), lit(".jpg"))))
        .when(cls === 2, array(
          concat(lit("https://img.example.com/b"),
            col("doc_id").cast("string"), lit(".png")),
          concat(lit("https://img.example.com/c"),
            col("doc_id").cast("string"), lit(".png"))))
        .otherwise(array().cast("array<string>")).as("urls"))
      val toks = graft.operators.Multimodal.tokenizeInterleaved(docs,
        "doc_id", "itext", "urls", CommittedBpeMerges)
      val packed = graft.operators.Packing.packContiguous(toks, "doc_id",
        "n_tokens", budget = 5000L, shards = 4)
      val seqs = graft.operators.Packing.assembleMultimodalSequences(
        packed, "doc_id", "token_ids", "image_refs", orderCol = "doc_id")
      val slots = graft.operators.Packing.imageSlotTable(seqs)
      val slotAgg = slots.groupBy("shard", "bin").agg(
        count(lit(1)).as("n_slots"),
        array_join(transform(
          array_sort(collect_list(struct(col("slot"), col("position")))),
          x => x.getField("position").cast("string")), ",")
          .as("positions_csv"),
        array_join(transform(
          array_sort(collect_list(struct(col("slot"), col("image_ref")))),
          x => x.getField("image_ref")), "|").as("refs_csv"))
      seqs.select(col("shard"), col("bin"), col("n_docs"),
          col("seq_tokens"),
          md5(array_join(transform(col("sequence"), _.cast("string")), ","))
            .as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .join(slotAgg, Seq("shard", "bin"), "left")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          col("seq_md5"), col("offsets_csv"),
          coalesce(col("n_slots"), lit(0L)).as("n_slots"),
          coalesce(col("positions_csv"), lit("")).as("positions_csv"),
          coalesce(col("refs_csv"), lit("")).as("refs_csv"))
        .orderBy("shard", "bin")
    }),

    // The multimodal attribution ledger: per-source token AND image-
    // slot contributions, both recovered from the landed shard
    // geometry (offset spans scanned for placeholder ids — never
    // re-tokenized). The oracle restates tokens via the q145 chain
    // (+placeholders +sep) and slots from the planted class shape.
    "q174b_image_attribution" -> ((s, dir) => {
      val cls = pmod(col("doc_id"), lit(3)).cast("int")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("source"),
        when(cls === 1,
          concat(col("text"), lit("\n<|image_0|>\nthe small table")))
        .when(cls === 2,
          concat(lit("<|image_0|>\n"), col("text"), lit("\n<|image_1|>")))
        .otherwise(col("text")).as("itext"),
        when(cls === 1, array(lit("a.jpg")))
        .when(cls === 2, array(lit("b.png"), lit("c.png")))
        .otherwise(array().cast("array<string>")).as("urls"))
      val toks = graft.operators.Multimodal.tokenizeInterleaved(docs,
        "doc_id", "itext", "urls", CommittedBpeMerges)
      val packed = graft.operators.Packing.packContiguous(toks, "doc_id",
        "n_tokens", budget = 5000L, shards = 4)
      val seqs = graft.operators.Packing.assembleMultimodalSequences(
        packed, "doc_id", "token_ids", "image_refs", orderCol = "doc_id")
      graft.operators.Packing.sequenceAttribution(seqs,
          docs.select("doc_id", "source"), "doc_id", "source",
          imageId = Some(graft.operators.Multimodal.ImagePlaceholderId))
        .orderBy("source")
    }),

    // Tokenizer fertility telemetry (tokens/char, tokens/word,
    // bytes/token per source — the mixture-design dashboard numbers):
    // token counts recovered from the LANDED q145 shard geometry
    // (offset deltas minus the separator — fertility describes the
    // tokenizer, not the packing convention), denominators from the
    // normalized text that fed it; every ratio an exact integer floor
    // division. The oracle restates tokens via the q145 closed-form
    // chain and the denominators from the same normalize expression.
    "q175_fertility_telemetry" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = graft.operators.Bpe.tokenIds(
        docs.select("doc_id", "text"), "doc_id", "text",
        CommittedBpeMerges)
      val seqs = graft.operators.Packing.assembleTokenSequences(
        graft.operators.Packing.packContiguous(toks, "doc_id", "n_tokens",
          budget = 5000L, shards = 4),
        "doc_id", "token_ids", orderCol = "doc_id")
      val norm = graft.functions.Text.normalizeText(col("text"))
      val meta = docs.select(col("doc_id"), col("source"),
        length(norm).cast("long").as("n_chars"),
        when(length(norm) === 0, lit(0L))
          .otherwise(size(split(norm, " ")).cast("long")).as("n_words"),
        octet_length(norm).cast("long").as("n_bytes"))
      graft.operators.Packing.fertilityTelemetry(seqs, meta, "doc_id",
          "source", "n_chars", "n_words", "n_bytes")
        .orderBy("source")
    }),

    // Best-fit-decreasing packing (Krell et al. 2021's histogram
    // formulation): sizes planted 70/50/25 (doc 0 the lone 70) so
    // every BFD move is arithmetic the oracle can restate — the 70-bin
    // absorbs exactly one 25 (best-fit chooses the TIGHTEST gap), the
    // 50s pair into full bins, the remaining 25s pack 4-to-a-bin with
    // a tail. The solver runs on the (shard, size) histogram and
    // emits run-length allocations; rows only pay a rank window.
    "q176_bestfit_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") === 0, lit(70L))
          .when(pmod(col("doc_id"), lit(2)) === 1, lit(50L))
          .otherwise(lit(25L)).as("n_tokens"))
      graft.operators.Packing.packBestFit(docs, "doc_id", "n_tokens",
          budget = 100L, shards = 1)
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sz_sum"),
          sum("doc_id").as("id_sum"))
        .orderBy("bin")
    }),

    // The packing-efficiency report, best-fit vs contiguous on the
    // SAME fixture: BFD fills the gaps contiguous pays for in
    // straddle/padding — both rows exact integers, the contiguous row
    // replayed via the q53 window arithmetic.
    "q176b_packing_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") === 0, lit(70L))
          .when(pmod(col("doc_id"), lit(2)) === 1, lit(50L))
          .otherwise(lit(25L)).as("n_tokens"))
      val bfd = graft.operators.Packing.packingReport(
          graft.operators.Packing.packBestFit(docs, "doc_id", "n_tokens",
            budget = 100L, shards = 1), "n_tokens", 100L)
        .withColumn("method", lit("best_fit"))
      val ff = graft.operators.Packing.packingReport(
          graft.operators.Packing.packContiguous(docs, "doc_id",
            "n_tokens", budget = 100L, shards = 1), "n_tokens", 100L)
        .withColumn("method", lit("contiguous"))
      bfd.unionByName(ff)
        .select("method", "n_bins", "n_items", "packed_size",
          "fill_milli", "padding_waste")
        .orderBy("method")
    }),

    // SFT loss-mask seam (train-on-completions — the q144 FIM / q174
    // slot-table sibling): the q145 token chain gets a planted
    // prompt/completion boundary — doc_id%5==0 all-completion, ==1
    // all-prompt (empty span, separator untrained), ==2 NULL
    // (unlabeled pretraining doc -> trains in full), else half — and
    // the assembler emits per-doc [mask_start, mask_end) spans over
    // the packed sequence. The oracle rebuilds every span from the
    // closed-form chain geometry: a wrong offset, clamp, or
    // separator rule breaks the CSV hash.
    "q177_sft_loss_mask" -> ((s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      val m = pmod(col("doc_id"), lit(5))
      val withB = toks.withColumn("prompt_tokens",
        when(m === 0, lit(0L))
          .when(m === 1, col("n_tokens").cast("long"))
          .when(m === 2, lit(null).cast("long"))
          .otherwise(expr("CAST(n_tokens AS BIGINT) div 2")))
      val packed = graft.operators.Packing.packContiguous(
        withB, "doc_id", "n_tokens", budget = 5000L, shards = 4)
      graft.operators.Packing.assembleSftSequences(packed,
          "doc_id", "token_ids", "prompt_tokens", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          aggregate(zip_with(col("mask_ends"), col("mask_starts"),
            (e, st) => e - st), lit(0L), (a, x) => a + x)
            .as("masked_tokens"),
          array_join(transform(col("mask_starts"), _.cast("string")), ",")
            .as("mask_starts_csv"),
          array_join(transform(col("mask_ends"), _.cast("string")), ",")
            .as("mask_ends_csv"))
        .orderBy("shard", "bin")
    }),

    // DPO preference-pair seam + length-bucketed dynamic batching
    // (Rafailov 2023 pairs; fairseq/HF group_by_length batches):
    // planted token geometry — prompt always 10 ids, chosen 59 (odd
    // doc_id) / 39 (even), rejected EMPTY for doc_id%3==0 (degenerate
    // pair: sep lands, mask empty) else 39 — so every pair's padded
    // size is 70 (odd) or 50 (even) and the batch walk is closed-form
    // rank arithmetic: 70s pair into budget-150 batches of 2, an odd
    // 70-count leaves an open slot the FIRST 50 fills (padded to 70),
    // the rest batch 3-to-a-batch. The oracle restates sequences,
    // masks, batch ids, and pad lengths from scratch.
    "q178_dpo_batches" -> ((s, dir) => {
      val clen = when(pmod(col("doc_id"), lit(2)) === 1, lit(59L))
        .otherwise(lit(39L))
      val rlen = when(pmod(col("doc_id"), lit(3)) === 0, lit(0L))
        .otherwise(lit(39L))
      val pairs0 = t(s, dir, "documents").select(col("doc_id"),
        sequence(lit(1L), lit(10L)).as("prompt"),
        sequence(lit(101L), lit(100L) + clen).as("chosen"),
        when(rlen > 0, sequence(lit(201L), lit(200L) + rlen))
          .otherwise(array().cast("array<long>")).as("rejected"))
      val asm = graft.operators.Packing.assemblePreferencePairs(
        pairs0, "doc_id", "prompt", "chosen", "rejected")
      val sized = asm.withColumn("pair_tokens",
        greatest(col("n_tokens_chosen"), col("n_tokens_rejected")))
      graft.operators.Packing.batchByLength(sized, "doc_id",
          "pair_tokens", budget = 150L, shards = 1)
        .groupBy("shard", "batch", "pad_len")
        .agg(count(lit(1)).as("n_pairs"),
          sum("pair_tokens").as("payload_tokens"),
          sum("doc_id").as("id_sum"),
          sum("mask_start").as("mask_start_sum"),
          sum("mask_end_chosen").as("mask_end_chosen_sum"),
          sum("mask_end_rejected").as("mask_end_rejected_sum"),
          md5(array_join(array_sort(collect_list(concat_ws("|",
            format_string("%010d", col("doc_id")),
            array_join(transform(col("seq_chosen"), _.cast("string")), ","),
            array_join(transform(col("seq_rejected"), _.cast("string")),
              ",")))), ";")).as("pairs_md5"))
        .withColumn("padded_tokens", col("pad_len") * col("n_pairs"))
        .orderBy("batch")
    }),

    // The batching-efficiency report over the q178 chain: group-by-
    // length pads NOTHING inside single-size batches, so the whole
    // corpus's padding waste is the one cross-class handoff batch
    // (20 tokens, odd n70) or zero (even n70) — the closed-form the
    // oracle states for both parities.
    "q178b_batching_report" -> ((s, dir) => {
      val clen = when(pmod(col("doc_id"), lit(2)) === 1, lit(59L))
        .otherwise(lit(39L))
      val rlen = when(pmod(col("doc_id"), lit(3)) === 0, lit(0L))
        .otherwise(lit(39L))
      val pairs0 = t(s, dir, "documents").select(col("doc_id"),
        sequence(lit(1L), lit(10L)).as("prompt"),
        sequence(lit(101L), lit(100L) + clen).as("chosen"),
        when(rlen > 0, sequence(lit(201L), lit(200L) + rlen))
          .otherwise(array().cast("array<long>")).as("rejected"))
      val sized = graft.operators.Packing.assemblePreferencePairs(
          pairs0, "doc_id", "prompt", "chosen", "rejected")
        .withColumn("pair_tokens",
          greatest(col("n_tokens_chosen"), col("n_tokens_rejected")))
      graft.operators.Packing.batchingReport(
        graft.operators.Packing.batchByLength(sized, "doc_id",
          "pair_tokens", budget = 150L, shards = 1), "pair_tokens")
    }),

    // Packed-sequence position ids (positions reset at every doc
    // boundary — the rotary/absolute-embedding contract for packed
    // training): derived purely from the landed offsets of the q145
    // shards, never re-tokenized. The oracle rebuilds every position
    // from the closed-form chain — an off-by-one at a boundary, a
    // separator outside its doc's span, or a length/geometry drift
    // breaks the CSV hash; the invariant columns (sum = Σ l(l+1)/2,
    // max = longest doc span - 1) cross-check the same geometry a
    // second way.
    "q179_position_ids" -> ((s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      val packed = graft.operators.Packing.packContiguous(
        toks, "doc_id", "n_tokens", budget = 5000L, shards = 4)
      val seqs = graft.operators.Packing.assembleTokenSequences(packed,
        "doc_id", "token_ids", orderCol = "doc_id")
      graft.operators.Packing.positionIds(seqs)
        .select(col("shard"), col("bin"), col("seq_tokens"),
          aggregate(col("position_ids"), lit(0L), (a, x) => a + x)
            .as("pos_sum"),
          array_max(col("position_ids")).as("pos_max"),
          md5(array_join(transform(col("position_ids"), _.cast("string")),
            ",")).as("pos_md5"))
        .orderBy("shard", "bin")
    }),

    // Chat-template render + SFT boundary (the ChatML-shape contract:
    // messages -> one training string with committed turn markers,
    // and the prompt/completion boundary in TOKENS feeds q177's mask
    // seam): a three-turn conversation per doc, the prefix ending at
    // the final assistant header. The oracle rebuilds the exact
    // rendered bytes (md5) and both BPE token counts through the
    // q145 chain over the rendered strings — a marker byte, a
    // newline, or a non-prefix-stable tokenization breaks it.
    "q180_chat_render" -> ((s, dir) => {
      val msgs = array(
        struct(lit("system").as("role"), lit("be helpful").as("content")),
        struct(lit("user").as("role"), col("text").as("content")),
        struct(lit("assistant").as("role"), col("text").as("content")))
      val df = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) === 1)
        .select(col("doc_id"),
          graft.functions.Text.renderChatMessages(msgs).as("rendered"),
          graft.functions.Text.chatPromptPrefix(msgs).as("prefix"))
      val tot = graft.operators.Bpe.tokenCount(df, "doc_id", "rendered",
          CommittedBpeMerges)
        .withColumnRenamed("n_bpe_tokens", "total_tokens")
      val pre = graft.operators.Bpe.tokenCount(df, "doc_id", "prefix",
          CommittedBpeMerges)
        .withColumnRenamed("n_bpe_tokens", "prompt_tokens")
      df.select(col("doc_id"), md5(col("rendered")).as("rendered_md5"))
        .join(tot, "doc_id").join(pre, "doc_id")
        .orderBy("doc_id")
    }),

    // Rejection sampling / best-of-n (the Llama 2 RLHF candidate
    // filter): 8-candidate groups (prompt_id = doc_id div 8) with a
    // deterministic integer LCG reward both engines compute exactly;
    // the winner is the reward argmax (ties by id) and the margin —
    // winner minus runner-up — is NULL only for singleton groups
    // (the last, short group when |documents| % 8 == 1). One window
    // over bounded candidate sets.
    "q181_rejection_sample" -> ((s, dir) => {
      val cands = t(s, dir, "documents").select(col("doc_id"),
        expr("doc_id div 8").as("prompt_id"),
        ((col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(1000003L))
          .as("reward"))
      graft.operators.Sampling.rejectionSample(cands, "prompt_id",
          "reward", "doc_id", keep = 1)
        .select("prompt_id", "doc_id", "reward", "margin")
        .orderBy("prompt_id")
    }),

    // Multi-turn chat SFT masks (the standard chat recipe: every
    // ASSISTANT turn's body — content + end marker — trains; user/
    // system turns and all role headers mask): a 5-turn conversation
    // per doc (system / user / assistant / user / assistant) where
    // the MIDDLE assistant turn is the main trainable span, planted
    // empty for doc_id%4==0 (trains just its <|im_end|>) and the
    // FINAL assistant turn empty for doc_id%3==0 — the final span
    // runs to the doc end, so it trains the packing separator too
    // (+1), which interior spans never do. Spans derive from
    // per-turn token counts (segment additivity; never re-tokenized),
    // re-based onto the q145-style packed sequence. The oracle
    // rebuilds every segment string, token count, cumulative
    // position, packing offset, and global span from scratch.
    "q182_multiturn_sft" -> ((s, dir) => {
      val txt = coalesce(col("text"), lit(""))
      val midC = when(pmod(col("doc_id"), lit(4)) === 0, lit(""))
        .otherwise(txt)
      val finC = when(pmod(col("doc_id"), lit(3)) === 0, lit(""))
        .otherwise(txt)
      val msgs = array(
        struct(lit("system").as("role"), lit("be helpful").as("content")),
        struct(lit("user").as("role"), txt.as("content")),
        struct(lit("assistant").as("role"), midC.as("content")),
        struct(lit("user").as("role"), lit("continue").as("content")),
        struct(lit("assistant").as("role"), finC.as("content")))
      val base = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) < 2)
        .select(col("doc_id"),
          graft.functions.Text.renderChatMessages(msgs).as("rendered"),
          graft.functions.Text.chatTurnUnits(msgs).as("units"))
      val withSpans = graft.operators.Bpe.turnTokenCounts(base, "units",
          CommittedBpeMerges)
        .withColumn("spans", graft.functions.Text.turnMaskSpans(
          col("units"), col("turn_counts")))
        .withColumn("token_ids", graft.operators.Bpe.tokenIdsCol(s,
          col("rendered"), CommittedBpeMerges))
        .select(col("doc_id"), col("token_ids"),
          size(col("token_ids")).cast("long").as("n_tokens"), col("spans"))
      val packed = graft.operators.Packing.packContiguous(withSpans,
        "doc_id", "n_tokens", budget = 5000L, shards = 4)
      graft.operators.Packing.assembleSftSequencesMultiTurn(packed,
          "doc_id", "token_ids", "spans", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          col("n_spans"), col("masked_tokens"),
          array_join(transform(col("mask_spans"),
            z => concat_ws("-", z.getField("start").cast("string"),
              z.getField("end").cast("string"))), ",").as("spans_csv"))
        .orderBy("shard", "bin")
    }),

    // In-context pretraining packing (Shi et al. 2023: order docs by
    // semantic similarity before packing so training sequences hold
    // RELATED documents): planted geometry — 50 clusters keyed
    // doc_id%50 (members FAR APART in id space, so id-order packing
    // scatters them), each on its own one-hot axis (the IVF model is
    // COSINE, so clusters separate by direction: dim c = 10000, all
    // other centroids score exactly 0), and within a cluster the
    // dim-50 position is the PERMUTATION ((doc_id div 50) * 7) % m,
    // m the cluster size — the greedy path (seed = smallest id, at
    // position 0) sweeps positions ascending, so ctx_rank IS that
    // permutation and an implementation that secretly ordered by id
    // would produce different ranks AND different bins. Cells shard
    // by cell % 2 (locality-preserving, never the md5-of-id draw).
    // The oracle restates cell, rank, shard, and every bin cut.
    "q184_incontext_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs0 = t(s, dir, "documents").select(col("doc_id"),
          (lit(100L) + pmod(col("doc_id"), lit(3)) * 10L).as("n_tokens"),
          pmod(col("doc_id"), lit(50)).as("__c"),
          expr("doc_id div 50").as("__u0"))
        .withColumn("__m",
          count(lit(1)).over(Window.partitionBy(col("__c"))))
        .withColumn("emb", transform(sequence(lit(0), lit(50)), i =>
          when(i === col("__c").cast("int"), lit(10000f))
            .when(i === lit(50),
              (pmod(col("__u0") * 7L, col("__m")) * 10L).cast("float"))
            .otherwise(lit(0f))))
        .select("doc_id", "n_tokens", "emb")
      val centroids = (0 until 50)
        .map(c => Array.tabulate(51)(d => if (d == c) 1f else 0f)).toArray
      graft.operators.Packing.packInContext(docs0, "doc_id", "n_tokens",
          "emb", centroids, budget = 500L, shards = 2)
        .select(col("doc_id"), col("cell"), col("ctx_rank"), col("shard"),
          col("bin"))
        .orderBy("doc_id")
    }),

    // Partition-scoped token shards (the q145 chain under
    // packContiguousBy): snapshot = doc_id div 150, two local shards
    // — the incremental-maintenance layout where appending a
    // snapshot can never move an earlier snapshot's bins (PackingSpec
    // pins the invariance; here the oracle restates the part-folded
    // shard ids and every bin cut).
    "q187_partitioned_shards" -> ((s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
        .withColumn("snapshot", expr("doc_id div 150"))
      val packed = graft.operators.Packing.packContiguousBy(toks,
        "doc_id", "n_tokens", "snapshot", budget = 5000L, shards = 2)
      graft.operators.Packing.assembleTokenSequences(packed,
          "doc_id", "token_ids", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          md5(array_join(transform(col("sequence"), _.cast("string")), ","))
            .as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .orderBy("shard", "bin")
    }),

    // Conflict-free contrastive batches (the DPR/GTR/E5 in-batch-
    // negative constraint: no two pairs in a batch may share a
    // passage): pairs keyed by passage_id = doc_id%40 — 40 passages
    // with many pairs each, the collision-heavy regime — striped by
    // per-passage rank and batched 8 at a time within (shard,
    // stripe), passages sharded by md5 so a passage never splits.
    // The oracle restates shard, stripe, and batch with the same
    // windows; PackingSpec pins the no-collision property itself.
    "q186_contrastive_batches" -> ((s, dir) => {
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(40)).as("passage_id"))
      graft.operators.Packing.batchDistinctBy(pairs, "doc_id",
          "passage_id", batchSize = 8, shards = 2)
        .select("doc_id", "passage_id", "shard", "stripe", "batch")
        .orderBy("doc_id")
    }),

    // T5 span corruption (Raffel 2020 §3.1.4) over the q145 token
    // chain: spans placed DETERMINISTICALLY (equal segments, LCG
    // offset per (doc, k) — the q181 discipline), sentinels count up
    // from 1,000,000, target ends with the terminal sentinel. The
    // oracle rebuilds every input and target id closed-form — span
    // count, lengths, LCG starts, slices, sentinels — so one id out
    // of place breaks both md5s.
    "q185_span_corrupt" -> ((s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      graft.operators.Denoising.spanCorrupt(toks, "doc_id", "token_ids",
          sentinelBase = 1000000L)
        .select(col("doc_id"), col("n_tokens"), col("n_input"),
          col("n_target"),
          md5(array_join(transform(col("input_ids"), _.cast("string")),
            ",")).as("input_md5"),
          md5(array_join(transform(col("target_ids"), _.cast("string")),
            ",")).as("target_md5"))
        .orderBy("doc_id")
    }),

    // Shard attribution ledger (the data-governance page: how many
    // tokens did each SOURCE contribute to the training batch): the
    // q145 shards' per-doc token shares are recovered from the landed
    // offset geometry itself (offset deltas, separator included —
    // never re-tokenized, so a corrupted offset array shows up as a
    // wrong attribution) and aggregate per source. The oracle
    // recomputes every share from the q145 closed-form scan +1 — the
    // two derivations must meet exactly.
    "q169_shard_attribution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = graft.operators.Bpe.tokenIds(
        docs.select("doc_id", "text"), "doc_id", "text", CommittedBpeMerges)
      val seqs = graft.operators.Packing.assembleTokenSequences(
        graft.operators.Packing.packContiguous(toks, "doc_id", "n_tokens",
          budget = 5000L, shards = 4),
        "doc_id", "token_ids", orderCol = "doc_id")
      graft.operators.Packing.sequenceAttribution(seqs,
          docs.select("doc_id", "source"), "doc_id", "source")
        .orderBy("source")
    }),

    // Detokenizer roundtrip (the q145 loop closed): every document
    // tokenizes to ids under the committed merge list and DECODES
    // BACK — and the decode must reproduce the normalized text
    // byte-for-byte (BPE merging only concatenates adjacent symbols,
    // so the id stream is lossless over normalized text by
    // construction; this entry makes the claim an oracle, not a
    // comment). The oracle recomputes n_tokens via the q145
    // closed-form scan and the decoded md5 as md5(normalized text) —
    // one swallowed character, doubled space, or mis-mapped id
    // breaks the hash.
    "q167_token_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = graft.operators.Bpe.tokenIds(docs, "doc_id", "text",
        CommittedBpeMerges)
      graft.operators.Bpe.decodeTokenIds(toks, "doc_id", "token_ids",
          CommittedBpeMerges)
        .join(toks.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          md5(col("decoded")).as("decoded_md5"))
        .orderBy("doc_id")
    }),

    // Benchmark DECONTAMINATION (Dedup.contaminatedDocs — the GPT-3
    // 13-gram eval-overlap recipe): three synthetic-vocabulary
    // benchmark items (their words appear NOWHERE in the corpus's
    // 31-word vocabulary, so nothing matches accidentally) are planted
    // verbatim into every doc_id%7==3 document; exactly those docs
    // flag, each with the planted item's 3 distinct 13-grams
    // (15 words → 3 windows; boundary windows mixing corpus words are
    // NOT benchmark grams) and one benchmark item hit.
    "q159_decontamination" -> ((s, dir) => {
      import s.implicits._
      val sents = (0 until 3).map(b =>
        (0 until 15).map(k => s"zq${('a' + b).toChar}$k").mkString(" "))
      val bench = sents.zipWithIndex
        .map { case (t, b) => (b.toLong, t) }.toDF("bench_id", "btext")
      val planted = fanOut(t(s, dir, "documents"), "doc_id").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 3,
          concat(col("text"), lit(" "),
            element_at(
              array(sents.map(lit): _*),
              (pmod(col("doc_id"), lit(3)) + 1).cast("int"))))
          .otherwise(col("text")).as("text"))
      graft.operators.Dedup.contaminatedDocs(planted, "doc_id", "text",
          bench, "bench_id", "btext", n = 13)
        .orderBy("doc_id")
    }),

    // Split-leakage audit (Sampling.splitLeakage — the C4-style check
    // that eval rows are not verbatim copies of training rows): exact
    // clones planted at doc_id+100000 for every doc_id%11==0, splits
    // assigned by ID (the naive keying), every clone group whose two
    // members hash into different splits reported with its sorted
    // split list. The oracle replays the md5-threshold split and the
    // text-grouping exactly; any accidental corpus-native duplicate
    // groups report identically on both sides.
    "q160_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val all = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      val sp = graft.operators.Sampling.splitAssign(all, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      graft.operators.Sampling.splitLeakage(sp, "doc_id", "text", "split")
        .orderBy("leader")
    }),

    // Cross-crawl index MERGE (the CommonCrawl consumption pattern:
    // every crawl publishes its own sorted CDXJ; a consumer unions
    // them and dedups): each of the q148 fixture's three crawl
    // batches publishes a SEPARATE CDXJ index; the consumer reads all
    // three back, re-publishes ONE merged sorted index (global order
    // + manifest via writeCdxj), range-reads it, and latest-capture
    // dedups — and the winners must equal the single-catalog build's
    // EXACTLY: the q148 oracle verbatim. A locator lost in any
    // publish/merge hop, a mis-sorted shard, or a date mangled in
    // interchange breaks the hash.
    "q151_crawl_merge" -> ((s, dir) => {
      val wdir = ensureMultiCaptureWarcDir(s, dir)
      val W = graft.sources.Warc
      // build-once: the three per-crawl publishes AND the merged
      // re-publish are the producer side of the pattern — they land
      // once per docsTag; every invocation times the CONSUMER side
      // (range read + latest-capture dedup + ranged fetch)
      val base = ensureDerivedDir(s, dir, "q151_merge") { stage =>
        Seq("a", "b", "c").foreach { tag =>
          W.writeCdxj(W.cdxIndex(s, s"$wdir/crawl-$tag-*"),
            s"$stage/cdxj-$tag", shards = 2)
        }
        val merged = Seq("a", "b", "c")
          .map(tag => W.readCdxj(s, s"$stage/cdxj-$tag"))
          .reduce(_ unionByName _)
        W.writeCdxj(merged, s"$stage/cdxj-merged", shards = 3)
      }
      // round-17: pin — same two-consumer shape as q148's winner set
      val winners = Shared.pin(W.latestCaptures(
        W.readCdxjPrefix(s, s"$base/cdxj-merged", "com,")))
      W.fetchByCdx(winners, wdir)
        .join(winners.select("filename", "offset", "member_record_index",
          "warc_date", "n_captures"),
          Seq("filename", "offset", "member_record_index"))
        .select(
          regexp_extract(col("url"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("warc_date"), col("n_captures"), col("digest_ok"),
          col("body").cast("string").as("text"))
        .orderBy("doc_id")
    }),

    // The WAT family's STREAMING leg (Maintenance.streamingWatSegments
    // — completing the batch/audit/streaming triad the WET export
    // already has): the q146 WAT rows DELIVERED AS A STREAM in 3
    // micro-batches, each landing its own batch subtree of
    // metadata-type segments; the whole tree must audit clean
    // (required in-entry, recordType-aware) and the read-back fields
    // answer the q146 oracle VERBATIM — streamed arrival must not
    // change one byte of metadata. The driver-side collect feeds the
    // MemoryStream test harness (the S5 situation), not the operator.
    "q150_wat_stream" -> ((s, dir) => {
      import s.implicits._
      val root = ensureDerivedDir(s, dir, "q150_wat") { stage =>
        val wat = graft.operators.Html.watMetadata(
            graft.sources.Warc.readWarc(s, ensureWarcDir(s, dir))
              .filter(col("warc_type") === "response"),
            "target_uri", "body", "warc_date", "payload_digest")
          .as[(String, String)].collect().sortBy(_._1)
        streamRows(s, wat) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingWatSegments(
            in.toDF("uri", "wat_json"), "uri", "wat_json", stage, ckpt)
        }
      }
      val audited = graft.sources.Warc.auditAllTextSegments(s, root,
        recordType = "metadata").filter(!col("ok")).count()
      require(audited == 0, s"WAT stream audit failures: $audited")
      graft.sources.Warc.readWarc(s, s"$root/batch-*")
        .filter(col("warc_type") === "metadata")
        .select(from_json(col("body").cast("string"),
          "url STRING, date STRING, digest STRING, title STRING, " +
            "description STRING, base STRING, outlinks ARRAY<STRING>, " +
            "n_links INT",
          Map.empty[String, String]).as("j"))
        .select(
          regexp_extract(col("j.url"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("j.title").as("title"),
          coalesce(col("j.description"), lit("-")).as("description"),
          coalesce(col("j.base"), lit("-")).as("base_href"),
          col("j.n_links").as("n_links"),
          array_join(col("j.outlinks"), ",").as("outlinks_csv"),
          col("j.date").as("warc_date"),
          coalesce(col("j.digest"), lit("-")).as("digest"))
        .orderBy("doc_id")
    }),

    // Deterministic hash sampling: membership is md5(salt||id) under a
    // hex threshold — the same rows in ANY engine/partitioning/rerun
    // (df.sample() can't oracle: per-partition RNG). Scan-side filter,
    // zero shuffle.
    "q49_hash_sample" -> ((s, dir) => {
      graft.operators.Sampling.hashSample(
          t(s, dir, "documents"), "doc_id", fraction = 0.2)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Deterministic stratified sampling: per-source fractions for
    // training-mixture reweighting, same md5 membership rule.
    "q50_stratified_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedSample(
          t(s, dir, "events"), "event_id", "event_type",
          Map("click" -> 0.5, "view" -> 0.25, "error" -> 0.05))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("event_type")
    }),

    // Fixed-size deterministic draw: the 64 smallest digests, planned
    // as TakeOrderedAndProject (per-partition top-n, no sort shuffle).
    "q51_fixed_sample" -> ((s, dir) => {
      graft.operators.Sampling.fixedSizeSample(
          t(s, dir, "documents"), "doc_id", n = 64)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Near-dup pairs → duplicate CLUSTERS: distributed connected
    // components (large-star/small-star, O(log n) rounds, no driver
    // edge list) over the verified n-gram pair set. Transitivity is
    // the point — a–b and b–c pair up {a,b,c} even when (a,c) was
    // never a candidate. Oracle: DuckDB recursive-CTE label reach over
    // the independently-computed brute-force pair set.
    // Served from the build-once components table (ensureComponents-
    // Table): the fixpoint runs once per dataset tag and q62/q78b read
    // the same map — round-6 ran it independently in all three.
    "q48_dedup_clusters" -> ((s, dir) => {
      s.table(ensureComponentsTable(s, dir)).orderBy("node")
    }),

    // Near-dup pairs → clusters → SURVIVORS: the transitive corpus
    // filter (dropNearDuplicateClusters) keeps the smallest id per
    // connected component of the verified n-gram pair graph. The pair
    // set is served off the SAME persisted index tables q31b builds
    // (ensureNgramTables is idempotent per dataset tag) — exactly how a
    // nightly dedup pipeline shares its index across consumers instead
    // of regenerating pairs per job. Oracled: the pairs are q31's
    // brute-force ground truth and the component minima come from a
    // recursive label-reach CTE, so the survivor set (pinned per
    // source with an id checksum) is fully SQL-checkable.
    "q62_drop_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val comp = s.table(ensureComponentsTable(s, dir))
      graft.operators.Dedup
        .dropNearDuplicateClustersFromComponents(docs, "doc_id", comp)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    }),

    // Exact order statistics per group: Spark's sort-based percentile
    // with linear interpolation — the same definition as DuckDB's
    // quantile_cont, so the oracle is exact, not tolerance-based.
    // (percentile_approx is the 100 TB serving path; its error bound
    // vs this exact form is spec-asserted in AggSpec.)
    "q45_quantiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
        .orderBy("l_returnflag")
    }),

    // OLAP rollup: subtotals + grand total in one pass (Spark expands
    // grouping sets before the shuffle — one aggregate, not 3 unioned
    // queries). Grouping-null cells are labeled 'ALL' on both sides so
    // the row sort is deterministic across engines.
    "q46_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("ret_flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("line_status"),
          col("revenue"), col("n"))
        .orderBy("ret_flag", "line_status")
    }),

    // Pivot: event-type columns per user cohort. With an explicit
    // value list Spark plans ONE aggregate pass (no per-value scans);
    // the oracle states the same thing as conditional aggregation.
    "q47_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("cohort", col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(avg("value"), 4))
        .orderBy("cohort")
    }),

    // PII scrubbing: deterministic per-doc email/IP/phone injected into
    // each text, then redacted by the pure-Column regexp chain; the
    // oracle restates the same RE2-compatible patterns in DuckDB
    // (leftmost, replace-all). Scrubbed text compared by md5; per-kind
    // match counts audit that each pattern fired.
    "q58_pii_scrub" -> ((s, dir) => {
      val withPii = t(s, dir, "documents")
        .withColumn("t2", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com"),
          lit(" or +3526211"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 ok")))
      withPii.select(col("doc_id"),
          md5(Text.scrubPii(col("t2"))).as("scrubbed_md5"),
          Text.piiCount(col("t2"), Text.EmailRe).as("n_email"),
          Text.piiCount(col("t2"), Text.Ipv4Re).as("n_ip"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition statistics per source: duplicate-token
    // fraction and top-bigram share — the boilerplate/spam signals of a
    // corpus quality filter. Both are one-pass per-doc kernels (the
    // explode+count HOF form shuffled every bigram occurrence
    // corpus-wide to compute a per-document statistic — 6.9 s at sf0.1
    // vs 0.2 s for the kernel; spec-asserted equal). Docs with fewer
    // than 2 normalized words have no bigram (NULL share) and drop
    // out, stated identically in the oracle.
    "q59_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          Text.dupTokenFraction(col("text")).as("dup_frac"),
          Text.topNgramShare(col("text"), 2).as("top_bigram_frac"))
        .filter(col("top_bigram_frac").isNotNull)
        .groupBy("source")
        .agg(round(avg("dup_frac"), 4).as("avg_dup_frac"),
          round(avg("top_bigram_frac"), 4).as("avg_top_bigram"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // The full refinement pass a data curator runs — language
    // allow-list, quality floor, repetition ceiling, exact dedup with
    // min-id survivors — over the corpus plus injected verbatim copies.
    // Every gate is an already-oracled per-doc signal; the oracle
    // restates the whole composition, and the id checksum pins the
    // exact survivor set.
    "q61_corpus_refine" -> ((s, dir) => {
      // fanOut: the gate kernels off the single-task scan
      val docs = fanOut(t(s, dir, "documents"), "doc_id")
        .select("doc_id", "source", "text")
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 400000).as("doc_id"), col("source"), col("text"))
      graft.operators.Corpus.refine(docs.union(copies), "doc_id", "text",
          langs = Set("en"), minQuality = Some(0.3),
          maxDupTokenFraction = Some(0.5))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    }),

    // Corpus health report — the one-row flagship a training-data
    // pipeline runs first on any new corpus: doc/token/BPE-token
    // volume, language share, quality and repetition means, exact-dup
    // pressure. One scan + one tiny digest agg, every signal from the
    // already-oracled scalar library (q17/q26/q27/q59 restated jointly
    // by the oracle). Also the battery exposure for tokenCountBpe,
    // which previously had specs but no driver-checked entry.
    "q60_corpus_report" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(
        Text.tokenCount(col("text")).cast("long").as("tok"),
        Text.tokenCountBpe(col("text")).cast("long").as("bpe"),
        Text.langId(col("text")).as("lang"),
        Text.qualityScore(col("text")).as("q"),
        Text.dupTokenFraction(col("text")).as("df"),
        md5(col("text")).as("digest"))
      val dupPressure = base.groupBy("digest").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_unique_texts"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
      base.agg(
          count(lit(1)).as("n_docs"),
          sum("tok").as("total_tokens"),
          sum("bpe").as("total_bpe_tokens"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          round(avg("q"), 4).as("avg_quality"),
          round(avg("df"), 4).as("avg_dup_frac"))
        .crossJoin(dupPressure)
    }),

    // Multimodal: magic-byte format sniffing over binary media columns
    // (JPEG/PNG headers synthesized deterministically from doc parity).
    "q28_media_meta" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("content", concat(
          when(col("doc_id") % 2 === 0, unhex(lit("FFD8FFE0")))
            .otherwise(unhex(lit("89504E470D0A1A0A"))),
          encode(col("text"), "UTF-8")))
        .select(col("doc_id").as("media_id"),
          length(col("content")).as("n_bytes"),
          graft.operators.Multimodal.sniffFormat(col("content")).as("format"))
        .orderBy("media_id")
    }),

    // Real image decode (javax.imageio): synthesize a deterministic
    // gradient grayscale PNG per doc (pixel (x,y) = (3x+5y+id) % 256,
    // dims varying with id), decode it back through the REAL codec, and
    // emit integer-exact raster statistics. The oracle recomputes the
    // same stats in closed form — a faked decode cannot match.
    // Mirrors the reference's cv2.imdecode (flink_vision_job_proper
    // .py:149-151) with the JDK codec instead.
    "q64_image_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 16 + (id % 8).toInt
          val h = 12 + (id % 5).toInt
          graft.operators.Multimodal.MediaRow(id,
            graft.operators.Multimodal.Codec.encodePng(
              graft.operators.Multimodal.Codec.grayImage(w, h)(
                (x, y) => ((x * 3 + y * 5 + id) % 256).toInt)),
            "png")
        }
      graft.operators.Multimodal.imageStats(media).toDF()
        .orderBy("media_id")
    }),

    // Vision pipeline end-to-end under the oracle gate: a deterministic
    // frame fixture (2 cameras × 150 frames at 2 s cadence, constant 3
    // objects in smooth +4/+3 px-per-frame motion) runs the REAL W4
    // state machine (flatMapGroupsWithState tracker) into the 1-minute
    // continuous aggregate. The closed form the oracle restates only
    // holds if the tracker associates every object across all 150
    // frames (stable ids 0/1/2 per camera, durations growing 2 s per
    // frame): a single mis-association resets first-seen and shifts
    // avg_duration. Mirrors flink_vision_job_proper.py:186-269.
    "q65_vision_e2e" -> ((s, dir) => {
      import s.implicits._
      val t0Ms = graft.generator.Generator.BaseEpochSec * 1000L
      val frames = s.range(0, 300).map { n =>
        val cam = "CAM_%02d".format((n % 2) + 1)
        val i = (n / 2).toInt
        val dets = (0 until 3).map { d =>
          val cx = 100 + 200 * d + 4 * i
          val cy = 100 + 150 * d + 3 * i
          graft.streaming.DetRaw("Car", cx - 30, cy - 60, cx + 30, cy + 60)
        }
        graft.streaming.FrameDets(cam, t0Ms + 2000L * i, dets)
      }
      val tracked = graft.streaming.VisionStreamJob.track(frames)
      graft.streaming.VisionStreamJob.continuousAgg(tracked, withWatermark = false)
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("camera_id"), col("detection_count"), col("unique_objects"),
          round(col("avg_duration"), 4).as("avg_duration"))
        .orderBy("bucket", "camera_id")
    }),

    // Hybrid retrieval: BM25 top-20 (q54's query) fused with
    // brute-force cosine top-20 (q24's probe) by reciprocal-rank
    // fusion — the lexical+semantic composition every RAG-ish corpus
    // pipeline runs. Each leg is ranked under the oracle discipline
    // (rounded score, id tiebreak) so ranks — and therefore the fused
    // 1/(60+rank) sums — are engine-exact. The two legs share the
    // doc_id == vec_id convention of the testdata tables.
    "q68_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = graft.operators.Retrieval.bm25TopK(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("the", "data", "model"), n = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("score"), 4).desc, col("doc_id"))))
        .select("doc_id", "rank")
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .collect().head.getSeq[Float](0)
      val sem = graft.operators.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", qv, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("cosine"), 6).desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, sem), "doc_id", "rank")
        .orderBy(col("rrf_score").desc, col("doc_id"))
    }),

    // Benchmark decontamination (the GPT-3/Llama eval-overlap rule):
    // hold out every 25th document as the "benchmark", flag each
    // remaining training doc sharing any word 4-gram with it. n=4 is
    // this corpus's signal point (n=5 leaves one organic pair at
    // sf0.01; the classic n=13 needs real benchmark prompts); the
    // operator itself defaults to 13. Eval grams broadcast; the corpus
    // is scanned once.
    "q69_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contaminationMatches(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 4)
        .orderBy("train_id", "eval_id")
    }),

    // Bigram-LM perplexity quality scoring (the CCNet-style gate):
    // train add-one-smoothed bigram counts on the corpus, score every
    // doc's average token log-probability. Per-bigram log-probs are
    // rounded to integer micro-nats BEFORE summing, so the per-doc
    // aggregation is order-independent integer arithmetic — the trick
    // that makes a many-term float sum hash-oracleable.
    "q70_lm_score" -> ((s, dir) =>
      graft.operators.LangModel.perplexityScore(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // q70 through the build-once/serve-many lifecycle (the q31b/q54b
    // catalog-table pattern): model tables written once, the timed
    // serve is one corpus scan joined against narrow count tables.
    // Same oracle as q70 — the lifecycle must not change the answer.
    "q70b_lm_persisted" -> ((s, dir) => {
      val (bigT, ctxT, vocT) = bigramTables(s, dir)
      graft.operators.LangModel.ensureBigramTables(s,
        t(s, dir, "documents"), "doc_id", "text", bigT, ctxT, vocT)
      graft.operators.LangModel.scoreFromModel(
          graft.operators.LangModel.docBigramOcc(
            t(s, dir, "documents"), "doc_id", "text"),
          s.table(bigT), s.table(ctxT), s.table(vocT))
        .orderBy("doc_id")
    }),

    // Epoch-weighted training mixture: the up-sampling half of data
    // recipes (q50 covers fractions ≤ 1) — source weights > 1 emit
    // whole copies plus a deterministic fractional draw, all
    // scan-side. Output keeps (doc_id, source, epoch) so the oracle
    // pins exactly which copies exist.
    "q72_epoch_mixture" -> ((s, dir) =>
      graft.operators.Sampling.epochMixture(
          t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4, "src3" -> 0.0))
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")),

    // Real BPE subword tokenization — the APPLY side, fully oracled
    // under a COMMITTED merge list. The three merges are chosen
    // character-disjoint and non-chaining (no merge output feeds
    // another pair), so the greedy lowest-rank-first tokenizer
    // degenerates to closed-form arithmetic any engine can replay:
    // tokens(word) = len+1 − occ('th') − occ('in') − endswith('e'),
    // with occ = single-pass non-overlapping count (= SQL replace) —
    // exactly the symbol-level semantics, because a merged symbol is
    // atomic and can never re-pair (BpeSpec pins the equivalence on
    // adversarial words). TRAINING stays covered by q82b (the
    // distributed histogram, hash-oracled) and BpeSpec's hand-derived
    // merge trace — the greedy argmax loop itself is the only
    // non-SQL-expressible remnant.
    "q82_bpe_tokens" -> ((s, dir) =>
      graft.operators.Bpe.tokenCount(t(s, dir, "documents"),
          "doc_id", "text", CommittedBpeMerges)
        .orderBy("doc_id")),

    // The GENERAL greedy BPE apply path under a CHAINED merge list
    // (rank 1 consumes rank 0's output — the stage structure q82's
    // character-disjoint list collapsed away, the battery's last
    // spec-only interior): every token ID of every document under
    // CommittedChainedBpeMerges, md5-pinned per doc. The oracle
    // replays the full two-stage greedy trace closed-form — see the
    // merge list's doc for why one 'the|th|.' scan equals it — so one
    // id out of place, one rank misordered (priority between (th,e)
    // and (e,</w>) is observable on words ending in "the"), breaks
    // the hash.
    "q82c_bpe_chained" -> ((s, dir) =>
      graft.operators.Bpe.tokenIds(t(s, dir, "documents"),
          "doc_id", "text", CommittedChainedBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"), _.cast("string")),
            ",")).as("ids_md5"))
        .orderBy("doc_id")),

    // The byte-level tokenizer feeding the UNCHANGED trainer chain
    // (the q145 contract): ByteBpe ids -> contiguous pack ->
    // assembled sequences with offsets — the packing geometry under
    // the byte model, restated closed-form end to end (byte ids via
    // the q183 scan + space rule, then the q145 shard/bin/offset
    // forms verbatim).
    "q183b_byte_token_shards" -> ((s, dir) => {
      val toks = graft.operators.ByteBpe.byteTokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedByteBpeMerges)
      val packed = graft.operators.Packing.packContiguous(
        toks, "doc_id", "n_tokens", budget = 5000L, shards = 4)
      graft.operators.Packing.assembleTokenSequences(packed,
          "doc_id", "token_ids", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          md5(array_join(transform(col("sequence"), _.cast("string")), ","))
            .as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .orderBy("shard", "bin")
    }),

    // The byte trainer's distributed half (q82b's sibling): the
    // pre-token histogram GPT-2 trains on — first word bare, every
    // later word with its leading space (this corpus's pre-token
    // shape) — tail-pruned at minCount=2. The greedy merge loop
    // itself (shared with the word trainer, end-of-word disabled)
    // stays spec-pinned, the q82 treatment.
    "q183d_byte_histogram" -> ((s, dir) =>
      graft.operators.ByteBpe.pretokenHistogram(
          t(s, dir, "documents").select("doc_id", "text"), "text",
          minCount = 2L)
        .orderBy("pretoken")),

    // Byte-level detokenize roundtrip — q167's sibling with the
    // STRONGER claim: no normalization anywhere, so decode∘encode is
    // the identity on the RAW text and the oracle is simply
    // md5(text) (n_tokens still restated via the byte scan — a
    // wrong id count can't hide behind the identity).
    "q183c_byte_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = graft.operators.ByteBpe.byteTokenIds(docs, "doc_id",
        "text", CommittedByteBpeMerges)
      graft.operators.ByteBpe.decodeByteTokenIds(toks, "doc_id",
          "token_ids", CommittedByteBpeMerges)
        .join(toks.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          md5(col("decoded")).as("decoded_md5"))
        .orderBy("doc_id")
    }),

    // UL2 mixture-of-denoisers (Tay et al. 2022, public): one batch
    // mixes the R-denoiser (the q185 short-span corruption), the
    // X-denoiser (extreme: half the tokens in long spans), and the
    // S-denoiser (PrefixLM: continue the final quarter), selected by
    // doc_id%3, each input prefixed with its mode token (2000000+m)
    // and all three sharing the q185 sentinel grammar so one decoder
    // contract serves the mixture. Every id restated closed-form per
    // mode.
    "q185b_ul2_mixture" -> ((s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      val m = pmod(col("doc_id"), lit(3))
      def shape(df: org.apache.spark.sql.DataFrame, modeId: Long,
                tag: String) =
        df.select(col("doc_id"), lit(tag).as("mode"), col("n_tokens"),
          concat(array(lit(2000000L + modeId)), col("input_ids"))
            .as("input_ids"),
          col("target_ids"))
      val r = shape(graft.operators.Denoising.spanCorrupt(
        toks.filter(m === 0), "doc_id", "token_ids",
        sentinelBase = 1000000L, densityPct = 15, meanSpan = 3), 0, "R")
      val x = shape(graft.operators.Denoising.spanCorrupt(
        toks.filter(m === 1), "doc_id", "token_ids",
        sentinelBase = 1000000L, densityPct = 50, meanSpan = 8), 1, "X")
      val sd = shape(graft.operators.Denoising.prefixLmSplit(
        toks.filter(m === 2), "doc_id", "token_ids",
        sentinelBase = 1000000L), 2, "S")
      r.unionByName(x).unionByName(sd)
        .select(col("doc_id"), col("mode"), col("n_tokens"),
          size(col("input_ids")).cast("long").as("n_input"),
          size(col("target_ids")).cast("long").as("n_target"),
          md5(array_join(transform(col("input_ids"), _.cast("string")),
            ",")).as("input_md5"),
          md5(array_join(transform(col("target_ids"), _.cast("string")),
            ",")).as("target_md5"))
        .orderBy("doc_id")
    }),

    // BYTE-level BPE apply (GPT-2: regex pre-tokenization + greedy
    // byte-pair merges; no normalize, no end-of-word, spaces inside
    // tokens): every id of every document md5-pinned under the
    // committed space-crossing chained merges. A constant planted
    // suffix exercises the regex branches the [a-z ] corpus lacks —
    // contraction, digit run, multi-byte UTF-8 (café), the/tin/thing
    // merge interplay, trailing whitespace run — and contributes
    // FIXED ids the oracle states literally; the corpus part is the
    // closed-form scan + space rule (see CommittedByteBpeMerges).
    "q183_byte_bpe" -> ((s, dir) =>
      graft.operators.ByteBpe.byteTokenIds(
          t(s, dir, "documents").select(col("doc_id"),
            concat(col("text"), lit(" it's 42 café the tin thing  "))
              .as("text")),
          "doc_id", "text", CommittedByteBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"), _.cast("string")),
            ",")).as("ids_md5"))
        .orderBy("doc_id")),

    // Streaming near-dup index maintenance e2e: the whole corpus
    // DELIVERED AS A STREAM in 3 micro-batches through
    // Maintenance.streamingNgramIndex (replay-safe via appendToNgram-
    // Index's pinv commit-marker protocol), then served from the same
    // ngramVerifiedPairs surface every batch consumer uses — and the
    // answer must equal the from-scratch batch build over the corpus:
    // the q31 all-pairs oracle, verbatim. The driver-side collect
    // feeds the MemoryStream test harness (no Kafka wire in the
    // sandbox — the S5 situation), not the operator: on a real
    // cluster the stream IS the source and each micro-batch stays
    // distributed end-to-end.
    "q83_stream_neardup" -> ((s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val tbl = graft.operators.Dedup.NgramIncrTables(
        s"graft_q83_inv_$tag", s"graft_q83_dfreq_$tag",
        s"graft_q83_pinv_$tag", s"graft_q83_cands_$tag")
      if (!s.catalog.tableExists(tbl.cands)) {
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .as[(Long, String)].collect()
        streamRows(s, docs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingNgramIndex(
            in.toDF("doc_id", "text"), "doc_id", "text", tbl, ckpt)
        }
        Seq(tbl.inv, tbl.dfreq, tbl.pinv, tbl.cands)
          .foreach(s.catalog.refreshTable)
      }
      graft.operators.Dedup.ngramVerifiedPairs(
          s.table(tbl.inv), s.table(tbl.cands), threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // Streaming corpus telemetry: per-source doc/token counts + KMV
    // distinct-token and Misra-Gries top-term sketches absorbed from a
    // document stream in 3 micro-batches through the batch-id-ledgered
    // staged swap (the q76/q83 maintenance discipline) — every column
    // is mergeable, so state stays |sources| rows and history is never
    // re-read. In the unsaturated regime (31-term vocab << k/capacity)
    // every sketch is complete, so the report equals the exact SQL
    // truth regardless of batching.
    "q93_stream_telemetry" -> ((s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val state = s"graft_q93_tel_$tag"
      if (!s.catalog.tableExists(state)) {
        val docs = t(s, dir, "documents").select("doc_id", "source", "text")
          .as[(Long, String, String)].collect()
        streamRows(s, docs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingTelemetry(
            in.toDF("doc_id", "source", "text"), "source", "text",
            state, ckpt)
        }
        s.catalog.refreshTable(state)
      }
      graft.operators.Telemetry.report(s.table(state), "source")
        .orderBy("source")
    }),

    // Retrieval evaluation harness e2e: every doc with a verified
    // near-dup becomes a QUERY (its own text as the bag of words), the
    // near-dup partners are the binary relevance truth, bm25JoinTopK
    // retrieves top-20 per query in one job, and evalRanking scores
    // recall@10 / MRR per query. Fully oracled: DuckDB independently
    // recomputes the pair truth (the q31 machinery), the per-query
    // BM25 ranking (the q54 formula, same float op order), and the
    // metrics. Near-dup partners share most of their text, so they
    // score far above organic docs — rank boundaries are not
    // float-tie sensitive.
    "q86_retrieval_eval" -> ((s, dir) => {
      // fanOut: same single-task-scan story as q94
      val docs = fanOut(t(s, dir, "documents").select("doc_id", "text"),
        "doc_id")
      val (invT, candT) = ngramIndexTables(s, dir)
      graft.operators.Dedup.ensureNgramTables(s, docs, "doc_id", "text",
        invT, candT, n = 3, threshold = 0.5)
      val pairs = graft.operators.Dedup.ngramVerifiedPairs(
        s.table(invT), s.table(candT), threshold = 0.5)
      // round-17: the relevance set is referenced from several plan
      // branches (query derivation + the eval join) and its old
      // self-union form evaluated the verify join once PER DIRECTION
      // PER BRANCH; the explode mirrors in one pass and the pin holds
      // the |near-dup pairs|-bounded frame (truth-set-sized, never
      // corpus-sized) so the verify join runs once per attempt.
      val rel = Shared.pin(pairs.select(explode(array(
          struct(col("doc_a").as("query_id"), col("doc_b").as("doc_id")),
          struct(col("doc_b").as("query_id"), col("doc_a").as("doc_id"))))
          .as("p"))
        .select(col("p.query_id"), col("p.doc_id")))
      val queries = docs.join(
        rel.select(col("query_id").as("doc_id")).distinct(), Seq("doc_id"))
      // df-cap disabled HERE only: the synthetic corpus draws from a
      // 31-term vocabulary where 30 terms sit in >50% of docs — by df
      // they all look like stopwords, yet they are the only content
      // there is, so any cap guts the ranking. Real Zipfian corpora
      // keep the 0.5 production default (capped path spec-pinned in
      // RetrievalSpec: stopword pruning below the join + plan shape).
      val run = graft.operators.Retrieval.bm25JoinTopK(docs, "doc_id", "text",
        queries, "doc_id", "text", n = 20, excludeSelf = true,
        maxDfFraction = 1.0)
      graft.operators.Retrieval.evalRanking(run, rel, k = 10)
        .orderBy("query_id")
    }),

    // Hard-negative mining off the same harness (the DPR training
    // recipe): each query's top-ranked BM25 hits that are NOT near-dup
    // relevant, re-numbered 1..5 — the training pairs a dense
    // retriever is fit on. Anti-join + bounded re-rank over the
    // already-bounded run; integer-only output so the oracle
    // hash-matches with no float exposure.
    "q94_hard_negatives" -> ((s, dir) => {
      // fanOut on docs measured a wash here (2.4-3.1 s vs 2.6 s — the
      // enriched bm25 side re-derives and exchanges early anyway);
      // left on the plain scan
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val (invT, candT) = ngramIndexTables(s, dir)
      graft.operators.Dedup.ensureNgramTables(s, docs, "doc_id", "text",
        invT, candT, n = 3, threshold = 0.5)
      val pairs = graft.operators.Dedup.ngramVerifiedPairs(
        s.table(invT), s.table(candT), threshold = 0.5)
      // round-17: explode-mirror + pin — same rationale as q86
      // (the old self-union re-ran the verify join per direction per
      // consuming branch; rel is truth-set-sized)
      val rel = Shared.pin(pairs.select(explode(array(
          struct(col("doc_a").as("query_id"), col("doc_b").as("doc_id")),
          struct(col("doc_b").as("query_id"), col("doc_a").as("doc_id"))))
          .as("p"))
        .select(col("p.query_id"), col("p.doc_id")))
      // Round-17 de-noise (r16 VERDICT #5): the raw 31-term vocabulary
      // made EVERY query match EVERY doc, so the candidate join was
      // |queries|×|docs| no matter the plan and the bench figure was
      // data-degenerate noise (historic spread 4.8-9.3 s). The
      // RETRIEVAL side now scores an ENRICHED text — each word gets a
      // doc-group suffix (wordxG, G = doc_id%16), i.e. ~500 distinct
      // terms each in ~1/16 of the corpus — so the posting join is
      // sparse and the figure measures the real mining path. The
      // df-cap stays DISABLED (maxDfFraction=1.0): the fix is a
      // richer vocabulary, not a cap that would mask it. The
      // NEAR-DUP TRUTH is untouched (original text, the shared
      // trigram tables); the oracle enriches identically in SQL.
      val enriched = docs.select(col("doc_id"), concat_ws(" ",
        transform(split(col("text"), " "), w =>
          concat(w, lit("x"), pmod(col("doc_id"), lit(16)).cast("string"))))
        .as("text"))
      // a deterministic quarter of the truth queries (kept from the
      // degenerate era; the oracle applies the same filter on run20)
      val queries = enriched.join(
        rel.select(col("query_id").as("doc_id")).distinct()
          .filter(pmod(col("doc_id"), lit(4)) === 0), Seq("doc_id"))
      val run = graft.operators.Retrieval.bm25JoinTopK(enriched, "doc_id",
        "text", queries, "doc_id", "text", n = 20, excludeSelf = true,
        maxDfFraction = 1.0)
      graft.operators.Retrieval.mineHardNegatives(run, rel, nNeg = 5)
        .orderBy("query_id", "neg_rank")
    }),

    // Learned-gate scoring plumbing under CLOSED-FORM weights — the
    // fastText/CCNet quality-classifier serve path (tokenize → hash →
    // bucket → weight lookup → aggregate) with a deterministic
    // mix64-derived weight table both engines recompute independently;
    // integer milli-unit weights make each doc's score an EXACT
    // integer sum, so the oracle hash-matches with no float rounding.
    // The trained-weights path differs only in the table used
    // (Classifier.trainLogistic — iterative-greedy, not
    // SQL-expressible; ClassifierSpec pins determinism + distilled-
    // rule holdout accuracy).
    "q85_classifier_score" -> ((s, dir) =>
      graft.operators.Classifier.scoreMilli(t(s, dir, "documents"),
          "doc_id", "text",
          graft.operators.Classifier.pseudoWeightsMilli(4096))
        .orderBy("doc_id")),

    // Quality-budgeted curation under the gate: keep each source's top
    // half by the q85 linear score (ties by doc_id — deterministic),
    // report survivors per source with an id checksum so the oracle
    // pins the exact kept SET. One window partitioning carries both
    // the rank and the group size — one shuffle on source, the
    // stratified-sample scale shape.
    "q87_gated_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.operators.Classifier.scoreMilli(
          docs.select("doc_id", "text"), "doc_id", "text",
          graft.operators.Classifier.pseudoWeightsMilli(4096))
        .join(docs.select("doc_id", "source"), "doc_id")
      graft.operators.Sampling.topFractionBy(scored, "source", "score_milli",
          "doc_id", fraction = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum("score_milli").as("score_sum"))
        .orderBy("source")
    }),

    // q87's trained sibling: the distributed trainer runs AT QUERY
    // TIME on the committed literal training set (weights are a pure
    // function of committed code — identical at every sf), its output
    // quantizes to exact integer milli-units, and the corpus is gated
    // per source by the LEARNED score. The oracle scores under the
    // spec-pinned snapshot of this exact training run
    // (CommittedGateWeightsMilli), so silent training drift fails
    // ClassifierSpec's snapshot pin AND this hash gate.
    "q87b_trained_gate" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val (w, b) = graft.operators.Classifier.trainLogistic(
        GateTrainingSet.toDF("text", "label"), "text", "label",
        dim = GateDim, iters = GateIters, lr = GateLr)
      val (wm, bm) = graft.operators.Classifier.quantizeMilli(w, b)
      val scored = graft.operators.Classifier.scoreMilli(
          docs.select("doc_id", "text"), "doc_id", "text", wm)
        .select(col("doc_id"), (col("score_milli") + bm).as("score_milli"))
        .join(docs.select("doc_id", "source"), "doc_id")
      graft.operators.Sampling.topFractionBy(scored, "source", "score_milli",
          "doc_id", fraction = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum("score_milli").as("score_sum"))
        .orderBy("source")
    }),

    // The DISTRIBUTED half of BPE alone — the (word, count) histogram
    // the driver-side merge loop trains on — is plain SQL (normalize +
    // split + explode + group-by), so it gets its own fully-oracled
    // entry: DuckDB recomputes the histogram from the raw corpus,
    // shrinking q82's unavoidable no_oracle surface to the greedy
    // merge loop only (which BpeSpec pins by hand-derived trace).
    "q82b_bpe_histogram" -> ((s, dir) =>
      graft.operators.Bpe.wordHistogram(t(s, dir, "documents"), "text",
          minCount = 2L)
        .orderBy("word")),

    // DSIR importance scoring (Xie et al. 2023): fit add-1-smoothed
    // hashed unigram+bigram multinomials over a TARGET slice (source
    // 'src0') and the whole corpus, score every doc by its exact
    // integer micro log-ratio sum. Fully oracled: DuckDB re-derives
    // the gram set (with multiplicity), the mix64∘FNV bucket of every
    // distinct gram, both distributions, the quantized per-bucket
    // ratio — same ln-argument decomposition on the same integers —
    // and each doc's integer score. Selection composes downstream
    // (topFractionBy / fixedSizeSample on score_micro).
    "q89_dsir_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lr = graft.operators.Dsir.fitLogRatioMicro(
        docs.filter(col("source") === "src0").select("text"),
        docs.select("text"), "text", dim = 4096)
      graft.operators.Dsir.importanceScoreMicro(docs, "doc_id", "text", lr)
        .orderBy("doc_id")
    }),

    // Token-budget curation: keep each source's best-scoring docs
    // (classifier gate, ties by id) until a per-source weight budget
    // is spent — the "take N tokens of web" mixture primitive. Weight
    // here is n_chars so the DuckDB oracle needs no tokenizer; the
    // operator is the skew-safe two-pass threshold select (histogram
    // window over distinct scores, crossing-class ties only), spec-
    // pinned equal to the naive one-window cumulative-sum form.
    "q90_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.operators.Classifier.scoreMilli(
          docs.select("doc_id", "text"), "doc_id", "text",
          graft.operators.Classifier.pseudoWeightsMilli(4096))
        .join(docs.select("doc_id", "source", "n_chars"), "doc_id")
      graft.operators.Sampling.tokenBudgetBy(scored, "source", "score_milli",
          "doc_id", "n_chars", budget = 4000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum("n_chars").as("chars_kept"), sum("score_milli").as("score_sum"))
        .orderBy("source")
    }),

    // KMV distinct sketches with SET ALGEBRA (Beyer et al. 2007):
    // "how many users clicked AND viewed" without a distinct-join.
    // Each side aggregates to one bounded ≤k-long array (map-side
    // combine; the shuffle carries sketches, never rows), the two
    // 1-row sketch frames cross-join broadcast-style, and every
    // estimate evaluates in the projection. k=4096 exceeds the user
    // cardinality at every test SF, so the estimates are EXACT and the
    // DuckDB oracle is plain COUNT(DISTINCT) set algebra; KmvSpec pins
    // the saturated-estimator error bounds the battery can't see.
    "q91_kmv_sets" -> ((s, dir) => {
      val k = 4096
      val ev = t(s, dir, "events")
      def sk(tp: String) = ev
        .filter(col("event_type") === tp && col("value") > 80)
        .agg(graft.operators.Kmv.kmvAgg(k)(col("user_id")).as(s"sk_$tp"))
      sk("click").crossJoin(sk("view")).select(
        graft.operators.Kmv.ndvEst(k)(col("sk_click")).as("ndv_click"),
        graft.operators.Kmv.ndvEst(k)(col("sk_view")).as("ndv_view"),
        graft.operators.Kmv.unionEst(k)(col("sk_click"), col("sk_view"))
          .as("ndv_union"),
        graft.operators.Kmv.intersectEst(k)(col("sk_click"), col("sk_view"))
          .as("ndv_intersect"),
        graft.operators.Kmv.diffEst(k)(col("sk_click"), col("sk_view"))
          .as("ndv_click_only"))
    }),

    // Misra-Gries heavy hitters: the corpus's top terms from a bounded
    // ≤capacity-entry counter map — a partial aggregate whose exchange
    // carries sketches, never token occurrences (the 100 TB altern-
    // ative to a full |vocab|-keyed shuffle). capacity=2048 dwarfs the
    // fixture vocabulary, so no decrement ever fires and the counts
    // are EXACT == the q21 groupBy truth (same tokenization); FreqSpec
    // pins the saturated ε-bound + no-false-negative guarantees the
    // battery can't see.
    "q92_heavy_hitters" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(graft.functions.Text.tokens(col("text"))).as("term"))
        .agg(graft.operators.Freq.frequentTerms(2048)(col("term")).as("fi"))
        .select(explode(col("fi")).as("tc"))
        .select(col("tc.term").as("term"), col("tc.count").as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(20)),

    // Column profile health gate: row/null/distinct counts and typed
    // min/max per column, the post-stage invariant check a curation
    // pipeline runs between every two stages. EXACT distincts here so
    // DuckDB's closed-form count(DISTINCT) oracles the values; the
    // production default is the approx (Expand-free, genuinely
    // one-pass) path, plan-pinned in PlanSpec.
    "q81_profile" -> ((s, dir) =>
      graft.operators.Profile.profile(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"), exactDistinct = true)
        .orderBy("col_name")),

    // SemDeDup-style semantic dedup: k-means cells scope the pair
    // candidates instead of q34's data-oblivious LSH buckets. Same
    // clone fixture and the same FULL brute-force oracle as q34 — the
    // gap argument (organic cosine ceiling ~0.6 vs threshold 0.99)
    // plus the spec-pinned clone co-location make the cell-scoped
    // output equal the all-pairs truth.
    "q80_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val dups = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      graft.operators.Similarity.semanticDedupPairs(emb.union(dups),
          "vec_id", "embedding", nlist = 16, lloydIters = 2, threshold = 0.99)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("id_a", "id_b")
    }),

    // Manifest-pruned scan over the Z-ordered layout: build the
    // clustered files + min-max manifest once per dataset (the
    // nightly-index pattern), then answer a 2-D box query by reading
    // ONLY the files whose manifest box overlaps. Pruning can only
    // skip provably-empty files, so the result is exactly the full
    // scan's — which is the oracle. LayoutSpec measures the skip
    // rate; q79 pins the correctness end-to-end through real files.
    "q79_pruned_read" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val st = ev.agg(
        min("user_id").as("umin"), max("user_id").as("umax"),
        min("event_id").as("emin"), max("event_id").as("emax")).head()
      val (umin, umax, emin, emax) =
        (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
      val zDir = ensureDerivedDir(s, dir, "q79_zlake", Seq("events"))(stage =>
        graft.operators.Layout.writeZOrdered(ev, stage,
          Seq(graft.operators.Layout.quantize(col("user_id"), lit(umin), lit(umax), 8),
              graft.operators.Layout.quantize(col("event_id"), lit(emin), lit(emax), 8)),
          bits = 8, numFiles = 64))
      val manifest = graft.operators.Layout.buildManifest(
        s, zDir, Seq("user_id", "event_id"))
      graft.operators.Layout.prunedRead(s, manifest, Map(
          "user_id" -> (umin + (umax - umin) * 3 / 8, umin + (umax - umin) * 5 / 8),
          "event_id" -> (emin + (emax - emin) * 3 / 8, emin + (emax - emin) * 5 / 8)))
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .orderBy("event_id")
    }),

    // Deterministic train/val/test split: labels are a pure function
    // of doc_id (md5 draw vs cumulative thresholds), so reruns and
    // engines agree row-for-row — which is exactly what the oracle
    // checks.
    "q78_split_assign" -> ((s, dir) =>
      graft.operators.Sampling.splitAssign(
          t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")),

    // Leakage-free variant: the split key is the near-dup CLUSTER
    // representative (n-gram Jaccard pairs off the shared q31b index
    // tables → connected components), so every member of a duplicate
    // cluster lands in the same split and eval never scores on a
    // near-copy of a training row.
    "q78b_split_leakfree" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val comp = s.table(ensureComponentsTable(s, dir))
      val withRep = docs.join(comp, docs("doc_id") === comp("node"), "left")
        .select(docs("doc_id"),
          coalesce(col("component"), docs("doc_id")).as("rep"))
      graft.operators.Sampling.splitAssign(withRep, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          keyCol = Some("rep"))
        .select("doc_id", "rep", "split")
        .orderBy("doc_id")
    }),

    // Lake MERGE upsert end-to-end through real files: build a
    // partitioned lake from events, apply one update batch carrying
    // intra-batch version conflicts (rev 1 AND rev 2 per matched key
    // — latest must win), updates to existing keys, and inserts of
    // brand-new (negative) keys, then read the tree back. The oracle
    // states the post-merge table in closed form.
    "q77_lake_upsert" -> ((s, dir) => {
      val lakeDir = callDir(s"q77_lake_${dataTag(s, dir, "events")}")
      val ev = t(s, dir, "events")
      val base = ev.select(col("event_id"), col("value"),
        lit(0).as("rev"), col("event_type"))
      base.repartition(8, col("event_id"))
        .write.mode("overwrite").partitionBy("event_type").parquet(lakeDir)
      val matched = ev.filter(col("event_id") % 7 === 0)
      val updates =
        matched.select(col("event_id"), (col("value") + 1000).as("value"),
            lit(1).as("rev"), col("event_type"))
          .unionByName(matched.select(col("event_id"),
            (col("value") + 2000).as("value"), lit(2).as("rev"), col("event_type")))
          .unionByName(ev.filter(col("event_id") % 97 === 0)
            .select((-col("event_id") - 1).as("event_id"),
              (col("event_id") * 1.5).as("value"), lit(1).as("rev"),
              col("event_type")))
      graft.sources.Lake.upsert(s, lakeDir, updates,
        keyCols = Seq("event_id"), partitionCol = "event_type",
        versionCol = "rev")
      s.read.parquet(lakeDir)
        .select(col("event_id"), round(col("value"), 4).as("value"),
          col("rev"), col("event_type"))
        .orderBy("event_id")
    }),

    // Incremental rollup maintenance: the base/increment split (a
    // deterministic 80/20 cut of events) is rolled up as two PARTIAL
    // algebraic states and merged — the oracle recomputes the rollup
    // from scratch, pinning the merge identity the incremental-refresh
    // scheme rests on (Rollup scaladoc).
    "q76_incr_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_id") % 5 =!= 0)
      val incr = ev.filter(col("event_id") % 5 === 0)
      val st = graft.operators.Rollup.merge(
        graft.operators.Rollup.hourlyState(base, "ts", "value", Seq("event_type")),
        graft.operators.Rollup.hourlyState(incr, "ts", "value", Seq("event_type")))
      graft.operators.Rollup.report(st).orderBy("hour", "event_type")
    }),

    // Sharded training-data export: the deterministic global shuffle
    // (shard + intra-shard position are pure functions of doc_id, see
    // Sampling.shardAssign). 16 shards so the oracle can express
    // `mod 16` as the digest's 8th hex digit without hex→int support.
    "q75_shard_export" -> ((s, dir) =>
      graft.operators.Sampling.shardAssign(
          t(s, dir, "documents"), "doc_id", numShards = 16)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")),

    // Runtime-filter join pruning: lineitem is bloom-filtered against
    // the urgent orders' keys BEFORE the join shuffle (RuntimeFilter
    // scaladoc; the ~20% selective dim predicate is the canonical
    // case). The bloom is one-sided, so the result is exactly the
    // plain join — which is the oracle.
    "q74_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.operators.RuntimeFilter
        .bloomPrunedJoin(li, urgent, "l_orderkey", "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
               .as("revenue"),
             count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // Z-order layout key: the Morton interleave over (user_id,
    // event_id), each quantized to 8 bits against the table's own
    // min-max (a broadcast one-row stats frame — no second scan
    // barrier at scale, the agg is tiny). This is the sort key
    // Layout.writeZOrdered clusters files by; LayoutSpec proves the
    // multi-dimension pruning effect on real files, this entry pins
    // the key itself bit-for-bit against DuckDB's bit arithmetic.
    "q73_zorder" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val stats = ev.agg(
        min("user_id").as("umin"), max("user_id").as("umax"),
        min("event_id").as("emin"), max("event_id").as("emax"))
      ev.crossJoin(broadcast(stats))
        .select(col("event_id"),
          graft.operators.Layout.zorderKey(Seq(
            graft.operators.Layout.quantize(col("user_id"), col("umin"), col("umax"), 8),
            graft.operators.Layout.quantize(col("event_id"), col("emin"), col("emax"), 8)),
            bits = 8).as("zkey"))
        .orderBy("event_id")
    }),

    // C4-style span dedup: scrub every repeated 10-word aligned span
    // (first corpus occurrence survives) and reassemble the documents
    // — the repeated-passage filter that EDITS docs instead of
    // dropping them. ~10% of this corpus's spans are repeats at every
    // SF, so the rewrite is non-trivial.
    "q71_span_dedup" -> ((s, dir) =>
      graft.operators.Dedup.dedupSpans(
          t(s, dir, "documents"), "doc_id", "text", k = 10)
        .orderBy("doc_id")),

    // Audio decode under the oracle gate (the q64 pattern for WAV):
    // synthesize a deterministic asymmetric square wave per document
    // (+A / -(A+1), period/amplitude/length varying with doc_id),
    // encode it as 16-bit PCM WAV, decode back through the REAL
    // javax.sound parser, and emit integer-exact stats. The oracle
    // restates the closed form — a decoder faking the parse, or one
    // with a byte-order/signedness bug, cannot reproduce
    // sum_abs/peak_min.
    "q67_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val n = 800 + (id % 13).toInt * 16
          val half = 4 + (id % 5).toInt
          val a = 1000 + (id % 7).toInt * 500
          val samples = Array.tabulate(n)(i =>
            if ((i / half) % 2 == 0) a else -(a + 1))
          graft.operators.Multimodal.MediaRow(id,
            graft.operators.Multimodal.Codec.encodeWav(8000f, 1, samples),
            "wav")
        }
      graft.operators.Multimodal.audioStats(media).toDF().orderBy("media_id")
    }),

    // Lake maintenance under the oracle gate: fragment the documents
    // table into a JSONL bronze tree (8 hash-partitioned writers × 3
    // event-hour leaves → 8 files per leaf), run the never-delete-first
    // Lake.compact swap, and read the tree back. The emitted rows prove
    // in one hash what the oracle can state in closed form: every
    // document survives the swap byte-identical (per-doc md5 through
    // the JSONL roundtrip), every leaf held more than
    // maxFilesPerPartition files before and exactly one after, and all
    // three leaves were rewritten. A lost line, a parse-altered field,
    // a skipped leaf, or a leftover fragment each breaks a column.
    "q66_compaction" -> ((s, dir) => {
      import s.implicits._
      val lakeDir = callDir(s"q66_lake_${docsTag(s, dir)}")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("year", lit("2026")).withColumn("month", lit("01"))
        .withColumn("day", lit("01"))
        .withColumn("hour", format_string("%02d", col("doc_id") % 3))
        .repartition(8, col("doc_id"))
        .write.mode("overwrite").partitionBy("year", "month", "day", "hour")
        .json(lakeDir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")
      import org.apache.hadoop.fs.Path
      val fs = new Path(lakeDir).getFileSystem(s.sessionState.newHadoopConf())
      def filesIn(h: Int): Int = fs.listStatus(
          new Path(f"$lakeDir/year=2026/month=01/day=01/hour=$h%02d"))
        .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      val before = (0 until 3).map(filesIn)
      val compacted = graft.sources.Lake.compact(s, lakeDir, schema,
        format = "json", maxFilesPerPartition = 4)
      val perLeaf = (0 until 3).map(h =>
          (h, before(h) > 4, filesIn(h), compacted.size))
        .toDF("hour_bucket", "fragmented_before", "files_after", "n_compacted")
      graft.sources.Lake.readBronze(s, lakeDir, schema, "json")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("hour").cast("int").as("hour_bucket"))
        .join(broadcast(perLeaf), "hour_bucket")
        .select(col("doc_id"), col("text_md5"), col("hour_bucket"),
          col("fragmented_before"), col("files_after"), col("n_compacted"))
        .orderBy("doc_id")
    }),

    // Link-graph ranking in exact integer micro-units: PageRank over
    // the bipartite customer<->supplier trade graph (distinct
    // orders⋈lineitem pairs, both directions), 4 synchronous steps.
    // Every step is integer floor arithmetic (Graph.pageRankMicro), so
    // the oracle replays the unrolled iteration bit-for-bit — no float
    // ever enters. Scale shape: edges persisted once; per step one
    // ranks⋈outdeg node join, the src-keyed edge join, and the one
    // unavoidable dst-keyed exchange with map-side integer SUM combine.
    "q95_pagerank" -> ((s, dir) => {
      // long node keys (customers even, suppliers odd — strings would
      // double every exchange's bytes), ONE direction distincted (a
      // 600k-row exchange) then mirrored — the directions are disjoint
      // by construction, so assumeDistinct skips a second 1.2M-row
      // dedup exchange inside the operator
      val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cn"),
          (col("l_suppkey") * 2 + 1).as("sn"))
      // round-17: mirror via a single-pass explode instead of a
      // self-union — Spark does not deduplicate common subplans, so
      // the union form computed the join+distinct subtree TWICE (once
      // per direction, ~0.9 s each at sf0.1). The multi-edge collapse
      // also moves INTO the operator (assumeDistinct = false): its
      // dedup runs under the same src partitioning as everything
      // else, so the standalone (cn, sn) distinct exchange this query
      // used to pay disappears. Same collapsed edge set, same ranks.
      val edges = pairs.select(explode(array(
          struct(col("cn").as("src"), col("sn").as("dst")),
          struct(col("sn").as("src"), col("cn").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.Graph.pageRankMicro(edges, "src", "dst", iterations = 4)
        .orderBy("node")
    }),

    // The q95 build/serve split: the edge derivation (join + distinct
    // + mirror + out-degree fold — ~90% of q95's cost) is materialized
    // ONCE into catalog tables; this entry serves four iterations off
    // them — the standing-workload lifecycle every other index family
    // in the battery already has. Bit-identical ranks: same integer
    // arithmetic, same unrolled oracle as q95.
    "q95b_pagerank_serve" -> ((s, dir) => {
      val tbl = ensureTradeEdgeTable(s, dir)
      graft.operators.Graph.pageRankMicroFromTable(s, tbl, iterations = 4)
        .orderBy("node")
    }),

    // The graph family's STREAMING leg (Maintenance.streamingGraphEdges
    // — the build/serve/streaming triad the n-gram, MinHash, and IVFADC
    // families already close): the trade graph's one-direction pairs
    // arrive in 3 micro-batches over MemoryStream, each batch merging
    // through the ledgered staged swap (re-collapse + out-degree
    // re-fold — graph appends are not row-idempotent), mirroring done
    // DECLARATIVELY on the stream (a streaming self-union, so the
    // driver holds one direction only); serve is the same
    // pageRankMicroFromTable as q95b and must answer the q95 unrolled
    // oracle verbatim — bit-identical integer ranks regardless of how
    // the edges arrived.
    "q95c_pagerank_stream" -> ((s, dir) => {
      import s.implicits._
      val tbl = s"graft_q95c_edges_${dataTag(s, dir, "orders", "lineitem")}"
      if (!s.catalog.tableExists(tbl)) {
        val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
          .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("cn"),
            (col("l_suppkey") * 2 + 1).as("sn"))
          .distinct()
          .as[(Long, Long)].collect().sortBy(identity)
        streamRows(s, pairs) { (in, ckpt) =>
          val base = in.toDF("cn", "sn")
          val edges = base.select(col("cn").as("src"), col("sn").as("dst"))
            .unionByName(base.select(col("sn").as("src"), col("cn").as("dst")))
          graft.streaming.Maintenance.streamingGraphEdges(
            edges, "src", "dst", tbl, ckpt)
        }
        s.catalog.refreshTable(tbl)
        s.catalog.refreshTable(tbl + "_nodes")
      }
      graft.operators.Graph.pageRankMicroFromTable(s, tbl, iterations = 4)
        .orderBy("node")
    }),

    // Temperature-scaled mixture (the mT5 n^α sampling rule) at
    // α = 0.5: quotas are exact-integer largest-remainder shares of
    // n_i^0.5 (sqrt is IEEE correctly-rounded, the 2^20 weight scaling
    // exact), selection is the per-source md5-smallest draw via the
    // skew-safe digest-prefix two-pass. The per-source summary pins
    // the kept SET through id checksums; the oracle re-derives
    // weights, apportionment, and membership from scratch.
    "q96_temperature_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source")
      graft.operators.Sampling.temperatureMixture(
          docs, "doc_id", "source", totalTarget = 200L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum(col("doc_id") * col("doc_id")).as("id_sq_sum"))
        .orderBy("source")
    }),

    // Corpus drift monitor: 2×Jensen-Shannon divergence in exact
    // pico-nat integers between the English slice and the rest, over
    // the q89 hashed unigram+bigram space (same FNV∘mix64 kernel, so
    // the oracle replays buckets, smoothing, the fixed float
    // expression tree, and the integer sums). One row out.
    "q97_js_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dsir.jsDivergencePico(
        docs.filter(col("lang") === "en").select("text"),
        docs.filter(col("lang") =!= "en").select("text"),
        "text", dim = 4096)
    }),

    // Unaligned exact-substring dedup (Lee et al. 2021 semantics at
    // word granularity, k=3 so the 31-term synthetic vocabulary
    // actually collides): any 3-token window seen earlier in the
    // corpus — (doc_id, pos) order — is a repeat, covered positions
    // drop, first copies survive verbatim. The engine shuffles 8-byte
    // gram hashes; the oracle keys by the gram strings themselves, so
    // a hash-vs-content divergence (collision or kernel drift) fails
    // the gate. Output pins the rebuilt text by md5 plus the exact
    // drop count per doc.
    "q98_substring_dedup" -> ((s, dir) =>
      graft.operators.Dedup.dedupSubstrings(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", k = 3)
        .select(col("doc_id"), md5(col("text")).as("kept_md5"),
          col("n_dropped"))
        .orderBy("doc_id")),

    // q97's STREAMED sibling: per-lang gram-bucket counts maintained
    // from a 3-batch document stream through the batch-id-ledgered
    // staged swap (the q93 discipline — count merges are not
    // idempotent), then the drift served OFF THE STATE: slice, re-sum
    // by bucket, same pico arithmetic. The oracle is q97's verbatim —
    // streamed state must answer exactly like the one-shot pass.
    "q99_stream_drift" -> ((s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val state = s"graft_q99_drift_$tag"
      if (!s.catalog.tableExists(state)) {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
          .as[(Long, String, String)].collect()
        streamRows(s, docs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingDriftCounts(
            in.toDF("doc_id", "lang", "text"), "lang", "text",
            state, ckpt, dim = 4096)
        }
        s.catalog.refreshTable(state)
      }
      val st = s.table(state)
      graft.operators.Dsir.jsDivergencePicoFromCounts(
        st.filter(col("lang") === "en")
          .groupBy("bucket").agg(sum("cnt").as("cnt")),
        st.filter(col("lang") =!= "en")
          .groupBy("bucket").agg(sum("cnt").as("cnt")),
        dim = 4096)
    }),

    // Snapshot audit: deterministic churn (every 7th doc removed,
    // every surviving 5th edited, ids < 40 re-minted as new docs)
    // diffed per document — one id-keyed full-outer join of (id,
    // digest, length) triples, never of bodies — and rolled up per
    // status with id/char checksums pinning the exact membership.
    "q100_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val v2 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      graft.operators.Corpus.snapshotDiff(docs, v2, "doc_id", "text")
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("chars_a").as("chars_a"), sum("chars_b").as("chars_b"))
        .orderBy("status")
    }),

    // Boilerplate line removal under injected noise: a header and a
    // footer on EVERY doc (df = 100% > 60% → dropped, all
    // occurrences) and a 'subscribe now' line on every second doc
    // (df = 50% < 60% → kept) — the C4-style line-frequency filter
    // with the threshold demonstrably live in both directions. Body
    // lines are whole original texts (their exact-dup df is far below
    // the bar). Output pins the rebuilt text by md5 + drop counts.
    "q101_boilerplate_lines" -> ((s, dir) => {
      val noisy = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("COOKIE NOTICE\n"), col("text"),
          lit("\nfooter: (c) example"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("\nsubscribe now"))
            .otherwise(lit(""))).as("text"))
      graft.operators.Dedup.dropBoilerplateLines(noisy, "doc_id", "text",
          maxDocFraction = 0.6)
        .select(col("doc_id"), md5(col("text")).as("kept_md5"),
          col("n_dropped"))
        .orderBy("doc_id")
    }),

    // Image near-dup via perceptual hashing: synthesize textured
    // grayscale rasters (quadratic pixel formula — linear gradients
    // would make every dHash identical), PNG-encode, decode through
    // the REAL codec, dHash, and radius-search via pigeonhole banding
    // (Dedup.signaturePairs — never all-pairs). Ids < 25 get a
    // +1-brightness-offset clone at id+100000: measured clone
    // distance ≤ 6 bits, nearest non-clone ≥ 14, so radius 6 returns
    // exactly the clone pairs. The oracle replays pixels, sampling
    // grid, bit construction, and Hamming filter closed-form.
    "q102_image_dhash" -> ((s, dir) => {
      import s.implicits._
      // fanOut: the PNG encode + decode kernels ran inside the
      // one-row-group scan's single task (see fanOut scaladoc)
      val media = fanOut(t(s, dir, "documents").select(col("doc_id")),
          "doc_id").as[Long]
        .flatMap { id =>
          val w = 16 + (id % 8).toInt
          val h = 12 + (id % 5).toInt
          val c = 1 + (id % 5)
          def row(mid: Long, off: Long) = graft.operators.Multimodal.MediaRow(
            mid,
            graft.operators.Multimodal.Codec.encodePng(
              graft.operators.Multimodal.Codec.grayImage(w, h)(
                (x, y) => ((3L * x * x + 7L * y * y + c * x * y + 29L * id
                  + off) % 256L).toInt)),
            "png")
          if (id < 25) Seq(row(id, 0L), row(id + 100000L, 1L))
          else Seq(row(id, 0L))
        }
      val sigs = graft.operators.Multimodal.imageDHash(media)
        .select(col("media_id").as("doc_id"), col("dhash").as("sig"))
      graft.operators.Dedup.signaturePairs(sigs, radius = 6)
        .orderBy("doc_a", "doc_b")
    }),

    // Code-file quality filters (the BigCode/StarCoder "The Stack"
    // recipe): line-length shape + alphanumeric density as pure
    // builtin Columns (whole-stage codegen, no UDF), with a
    // 300-char minified line injected into every third doc so the
    // keep-rule is live in both directions. kept gates on the ROUNDED
    // outputs in both engines, so the hash compare is exact.
    "q103_code_filters" -> ((s, dir) => {
      val noisy = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit("\n"), repeat(lit("x"), 300)))
          .otherwise(col("text")).as("text"))
      noisy.select(col("doc_id"), Text.codeStats(col("text")).as("s"))
        .select(col("doc_id"), col("s.n_lines"), col("s.max_line_len"),
          col("s.avg_line_len"), col("s.alnum_frac"),
          (col("s.max_line_len") <= 250 && col("s.avg_line_len") <= 250.0 &&
            col("s.alnum_frac") >= 0.25).as("kept"))
        .orderBy("doc_id")
    }),

    // Audio near-dup: q67-style synthetic WAVs with an id-dependent
    // magnitude ripple (so distinct ids decorrelate), fingerprinted
    // through the REAL codec by 64-frame energy deltas (integer-only,
    // amplitude-scale-invariant), radius-searched via the same
    // pigeonhole banding as text SimHash and image dHash. Ids < 25
    // get a 2x-amplitude clone at id+100000 — measured Hamming 0 (the
    // scale invariance), distinct ids almost all > 4. Oracle replays
    // waveform, frame energies, bit order, and the Hamming filter.
    "q104_audio_fingerprint" -> ((s, dir) => {
      import s.implicits._
      // fanOut measured SLOWER here (1.6 -> 2.2 s isolated): the WAV
      // synth/codec kernel is cheap per row and the exchange +
      // 32-partition cache build cost more than the serial kernel —
      // left on the single-task scan (the q102/q112 image/video
      // kernels ARE heavy enough; see their fanOut)
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val n = 800 + (id % 13).toInt * 16
          val half = 4 + (id % 5).toInt
          val a = 1000 + (id % 7).toInt * 500
          val k = 1 + (id % 11).toInt
          def row(mid: Long, sc: Int) = graft.operators.Multimodal.MediaRow(
            mid,
            graft.operators.Multimodal.Codec.encodeWav(8000f, 1,
              Array.tabulate(n) { i =>
                val mag = a + (i * k) % 23
                (if ((i / half) % 2 == 0) mag else -(mag + 1)) * sc
              }),
            "wav")
          if (id < 25) Seq(row(id, 1), row(id + 100000L, 2))
          else Seq(row(id, 1))
        }
      val sigs = graft.operators.Multimodal.audioFingerprint(media)
        .select(col("media_id").as("doc_id"), col("afp").as("sig"))
      graft.operators.Dedup.signaturePairs(sigs, radius = 2)
        .orderBy("doc_a", "doc_b")
    }),

    // Export integrity end-to-end: shard the corpus to real parquet
    // dirs WITH a checksum manifest, then re-audit the written files
    // against it. The oracle re-derives the shard assignment (q75's
    // md5 digit rule) and the integer moments from the raw table —
    // so a row lost, duplicated, or misplaced between write and
    // re-read breaks the hash, and `ok` must be uniformly true.
    "q105_export_manifest" -> ((s, dir) => {
      val out = callDir(s"q105_export_${docsTag(s, dir)}")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.operators.Sampling.writeShardedWithManifest(docs, "doc_id", 16, out)
      // the moments are DECIMAL(38,0) of the mod-P fold; battery ids
      // are far below P, so the values equal plain Σid/Σid² — cast to
      // long for a stable cross-engine output schema
      graft.operators.Sampling.verifyShardedExport(s, out, "doc_id")
        .withColumn("id_sum", col("id_sum").cast("long"))
        .withColumn("id_sq_sum", col("id_sq_sum").cast("long"))
        .orderBy("shard")
    }),

    // Ingestion quarantine + dead-letter round trip: every 10th
    // document is written as a TRUNCATED JSONL line; the quarantine
    // read must hand back every malformed line whole (id_sum counts
    // parsed rows only — PERMISSIVE partial-parse results don't leak
    // into the good-side checksum; quarantine_chars pins the verbatim
    // bad-line text by total length). No line may vanish: the two
    // n_rows sum to the corpus size or the hash breaks. The bad lines
    // then ship VERBATIM to a dead-letter dir (Lake.writeDeadLetter)
    // and are read back: dl_md5 (md5 over the sorted re-read lines)
    // and q_md5 (same digest over the in-memory quarantine column)
    // must both equal the oracle's closed-form digest — byte identity
    // through the write+read round trip, not just equal lengths.
    "q106_quarantine" -> ((s, dir) => {
      val out = callDir(s"q106_bronze_${docsTag(s, dir)}")
      val dl = callDir(s"q106_deadletter_${docsTag(s, dir)}")
      t(s, dir, "documents").select(
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(lit("{\"doc_id\": "), col("doc_id").cast("string")))
          .otherwise(to_json(struct(col("doc_id"), col("text")))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")
      val q = graft.sources.Lake.readBronzeQuarantine(s, out, schema)
      graft.sources.Lake.writeDeadLetter(q, dl, mode = "overwrite")
      val sortedMd5 = (c: org.apache.spark.sql.Column) =>
        md5(concat_ws("\n", array_sort(collect_list(c))))
      val roundtrip = s.read.text(dl)
        .agg(sortedMd5(col("value")).as("dl_md5"))
      val qDigest = q.filter(col("_quarantined").isNotNull)
        .agg(sortedMd5(col("_quarantined")).as("q_md5"))
      q.groupBy(col("_quarantined").isNull.as("parsed"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_quarantined").isNull, col("doc_id"))
            .otherwise(lit(0L))).as("id_sum"),
          sum(length(coalesce(col("_quarantined"), lit(""))))
            .as("quarantine_chars"))
        .crossJoin(broadcast(roundtrip))
        .crossJoin(broadcast(qDigest))
        .orderBy("parsed")
    }),

    // Exact phrase search over positional postings — the consecutive-
    // token semantics bag-of-words BM25 cannot express. The phrase
    // filter sits under the first exchange (only the two terms'
    // postings ever move); occurrences = equi-join of offset-shifted
    // legs on (doc, start). The oracle scans the token arrays
    // directly, so a positional off-by-one or a lost occurrence
    // breaks the hash.
    "q107_phrase_search" -> ((s, dir) =>
      graft.operators.Retrieval.phraseMatches(
          t(s, dir, "documents"), "doc_id", "text", Seq("part", "filter"))
        .orderBy("doc_id")),

    // Margin-based bitext mining (the LASER/CCMatrix parallel-corpus
    // recipe): the embeddings table split by label parity stands in
    // for two languages; pairs score by cosine OVER the mean of each
    // side's k-NN neighborhood, which suppresses hubs a raw cosine
    // threshold admits. Candidates are bounded forward+backward k-NN
    // unions — never a materialized cross product. Cosines enter at
    // the knnJoin 6-dp rounding, so the oracle replays ranking,
    // neighborhood means, and margins.
    "q108_bitext_margin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.marginPairs(
          emb.filter(pmod(col("label"), lit(2)) === 0),
          emb.filter(pmod(col("label"), lit(2)) === 1),
          "vec_id", "embedding", k = 4, thresholdMilli = 1000L)
        .orderBy("id_a", "id_b")
    }),

    // q22's STREAMED sibling (the q83 discipline for the MinHash
    // family): the corpus + clones stream in 3 micro-batches into a
    // persisted sketch table via per-doc-idempotent appends (no
    // ledger needed — replay appends nothing), then near-dup pairs
    // serve OFF THE TABLE and must match the q22 brute-force oracle
    // verbatim.
    "q109_stream_minhash" -> ((s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val tbl = s"graft_q109_mh_$tag"
      if (!s.catalog.tableExists(tbl)) {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val clones = docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" appended words")).as("text"))
        val all = docs.union(clones).as[(Long, String)].collect()
        streamRows(s, all) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingMinhashSketches(
            in.toDF("doc_id", "text"), "doc_id", "text", tbl, ckpt)
        }
        s.catalog.refreshTable(tbl)
      }
      graft.operators.Dedup.minhashDedupFromSketches(s.table(tbl),
          threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    }),

    // HTML main-content extraction (the trafilatura/jusText slot —
    // the FIRST stage of every CommonCrawl text pipeline): pages are
    // synthesized from the documents table with a fixed template
    // carrying every boilerplate species — head/title chrome, header
    // branding, a nav link bar, a too-short promo div, a link-farm
    // list item, a footer — around two real content blocks (the doc
    // text and a fixed entity-bearing paragraph). Every rule fires in
    // BOTH directions: chrome drops while body content keeps, the
    // 12-char div fails minChars=25 while both content blocks pass,
    // the 0.61-link-density list fails maxLinkDensity=0.33 while
    // content sits at 0. The oracle reconstructs the expected
    // extraction from the same template inputs — markup never parsed
    // twice, entities decoded to literals, whitespace collapsed the
    // same way — so one leaked tag, dropped word, or mis-decoded
    // entity breaks the hash.
    "q111_html_extract" -> ((s, dir) => {
      graft.operators.Html.extractMainText(mainTextPages(s, dir),
          "doc_id", "html")
        .orderBy("doc_id")
    }),

    // Video near-dup: synthetic 6-frame MJPEG clips (per-frame 9×8
    // step-walk textures driven by mix64(id, frame) — each dHash
    // comparison has a ±12 luminance margin, so JPEG noise cannot
    // flip it), with every id < 25 cloned at id+100000 through a REAL
    // decode→re-encode generation loop. Keyframes (every 2nd frame)
    // dHash and band via the shared signaturePairs machinery; the
    // per-pair coverage rollup must find exactly the clone pairs at
    // full coverage: measured clone keyframe distance 0 vs nearest
    // cross-video keyframe 11 bits over ALL sf0.1-scale pairs —
    // radius 4 sits in the gap with margin both ways, deterministic
    // for this data (the q33/q102 gap-argument discipline).
    "q112_video_neardup" -> ((s, dir) => {
      import s.implicits._
      // fanOut: the MJPEG encode -> re-encode clone -> decode+dHash
      // pipeline ran inside the one-row-group scan's single task
      val media = fanOut(t(s, dir, "documents").select(col("doc_id")),
          "doc_id").as[Long]
        .flatMap { id =>
          def frame(f: Int) = graft.operators.Multimodal.Codec.encodeJpeg(
            graft.operators.Multimodal.Codec.grayImage(36, 16) { (x, y) =>
              val bits = graft.operators.Sketches.mix64(
                id * 131L + f * 7919L + 17L)
              var v = 128
              var i = 0
              while (i < x / 4) {
                v += (if (((bits >> (y / 2 * 8 + i)) & 1L) == 1L) 12 else -12)
                i += 1
              }
              v
            })
          val bos = new java.io.ByteArrayOutputStream()
          (0 until 6).foreach(f => bos.write(frame(f)))
          val src = bos.toByteArray
          def row(mid: Long, bytes: Array[Byte]) =
            graft.operators.Multimodal.MediaRow(mid, bytes, "jpg")
          if (id < 25) {
            // the clone is a true re-encode generation: demux, decode,
            // re-encode every frame — zero shared bytes with the source
            val rb = new java.io.ByteArrayOutputStream()
            graft.operators.Multimodal.Codec.splitMjpegFrames(src).foreach {
              case (_, fb) => rb.write(graft.operators.Multimodal.Codec
                .encodeJpeg(graft.operators.Multimodal.Codec.decode(fb).get))
            }
            Seq(row(id, src), row(id + 100000L, rb.toByteArray))
          } else Seq(row(id, src))
        }
      graft.operators.Multimodal.videoNearDupPairs(media, everyN = 2,
          radius = 4, minMatchMilli = 600)
        .orderBy("video_a", "video_b")
    }),

    // Outlink extraction + URL canonicalization (the courlan/surt
    // rules): every link species from the linkPages fixture through
    // the real state machine and the canonicalizer — entity-decoded
    // hrefs, relative resolution against the page's base URL, case/
    // port/dot-segment/tracking-param/fragment normalization, chrome
    // flagging, and mailto: NULLing. The oracle states every expected
    // canonical form closed-form from the template inputs.
    "q113_link_canonical" -> ((s, dir) => {
      val pages = linkPages(s, dir)
      graft.operators.Html.extractLinks(pages, "doc_id", "html")
        .join(pages.select(col("doc_id"), col("base_url")), "doc_id")
        .select(col("doc_id"), col("link_pos"),
          graft.operators.Url.resolve(col("base_url"), col("href"))
            .as("canonical_url"),
          graft.operators.Url.host(
            graft.operators.Url.resolve(col("base_url"), col("href")))
            .as("host"),
          col("in_chrome"))
        .orderBy("doc_id", "link_pos")
    }),

    // The full web-graph composition, end to end from raw HTML: pages
    // → extractLinks → hostEdges (resolve + canonicalize + host fold,
    // already distinct) → exact-integer PageRank over the host graph.
    // 20 site hosts each link themselves, www, and cdn — 22 nodes, 60
    // edges whose structure the oracle re-derives closed-form from
    // the template, then replays the 4-step integer unroll exactly as
    // q95 does (string node keys this time).
    "q114_host_pagerank" -> ((s, dir) => {
      val pages = linkPages(s, dir)
      val links = graft.operators.Html.extractLinks(pages, "doc_id", "html")
        .join(pages.select(col("doc_id"), col("base_url")), "doc_id")
      val edges = graft.operators.Url.hostEdges(links, "base_url", "href")
      graft.operators.Graph.pageRankMicro(edges, "src_host", "dst_host",
          iterations = 4, assumeDistinct = true)
        .orderBy("node")
    }),

    // WARC ingestion (ISO 28500 — the crawl-native input format):
    // real segment files (half gzipped), Content-Length framing (the
    // fixture's bodies contain record-separator byte sequences via
    // the HTML, so a separator-scanner would shred them), HTTP
    // response splitting, non-response records surfacing with a NULL
    // http side. The oracle reconstructs every record closed-form:
    // response bodies are the q111 template bytes (md5 + length),
    // request/warcinfo rows carry type + doc identity only.
    "q115_warc_parse" -> ((s, dir) => {
      val wdir = ensureWarcDir(s, dir)
      graft.sources.Warc.readWarc(s, wdir)
        .select(
          regexp_extract(col("target_uri"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("http_status"), col("http_content_type"),
          md5(col("body").cast("string")).as("body_md5"),
          length(col("body").cast("string")).as("body_chars"))
        .orderBy("warc_type", "doc_id")
    }),

    // The CommonCrawl front door end to end: WARC segments → response
    // records → charset-sniffed decode (Charset.decodeText — the
    // fixture's ASCII bodies take the strict-UTF-8 rung; q119 pins
    // the legacy rungs) → main-content extraction — and the result
    // must equal q111's extraction over the same pages VERBATIM (same
    // oracle SQL), proving the whole ingestion path (gzip, framing,
    // HTTP split, byte→text decode) is lossless in front of the
    // extractor.
    "q116_warc_extract" -> ((s, dir) => {
      val wdir = ensureWarcDir(s, dir)
      val pages = graft.sources.Warc.readWarc(s, wdir)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          graft.operators.Charset.decodeText(
            col("body"), col("http_content_type"))
            .getField("text").as("html"))
      graft.operators.Html.extractMainText(pages, "doc_id", "html")
        .orderBy("doc_id")
    }),

    // Robots-exclusion gating (RFC 9309): five URL species per doc
    // against per-host rules that exercise longest-match precedence
    // (Allow /private/ok beats Disallow /private), the $ end anchor
    // (/*.gif$), and agent-group REPLACEMENT (odd hosts give graftbot
    // its own Disallow-/ group, so the * group's /tmp rule must NOT
    // apply). The oracle states every verdict closed-form by
    // (host parity, species).
    "q117_robots_gate" -> ((s, dir) => {
      val urls = t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(20)).cast("string").as("k"))
        .select(col("doc_id"),
          posexplode(array(
            concat(lit("https://site"), col("k"), lit(".example.com/dir/page"),
              col("doc_id").cast("string"), lit(".html")),
            concat(lit("https://site"), col("k"), lit(".example.com/private/x")),
            concat(lit("https://site"), col("k"), lit(".example.com/private/ok/y")),
            concat(lit("https://site"), col("k"), lit(".example.com/img/banner.gif")),
            concat(lit("https://site"), col("k"), lit(".example.com/tmp/z"))))
            .as(Seq("species", "url")))
      val robots = s.range(20).select(
        concat(lit("site"), col("id").cast("string"), lit(".example.com"))
          .as("host"),
        when(col("id") % 2 === 0,
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
            "Disallow: /*.gif$\n"))
          .otherwise(
            lit("User-agent: graftbot\nDisallow: /\n" +
              "User-agent: *\nDisallow: /tmp\n")).as("robots_txt"))
      graft.operators.Robots.filterAllowed(urls, "url", robots, "graftbot")
        .select("doc_id", "species", "url", "host", "allowed")
        .orderBy("doc_id", "species")
    }),

    // Head-metadata extraction + base-href-aware link resolution: the
    // kept-fields slot of a FineWeb-style pipeline (title/description
    // ride next to the main text) plus the <base href> semantics a
    // naive resolver gets wrong — the page's relative link must
    // resolve against the DECLARED base (a different host here), not
    // the page URL. Title/description carry entities and whitespace
    // runs; everything is stated closed-form by the oracle.
    "q118_head_metadata" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.com/dir/page"), col("doc_id").cast("string"),
          lit(".html")).as("base_url"),
        concat(
          lit("<html><head><title>Doc  "),
          col("doc_id").cast("string"),
          lit(" &amp;\n Friends</title>" +
            "<base href=\"https://Mirror"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".Example.ORG/root/\">" +
            "<meta name=\"description\" content=\"Summary &quot;"),
          col("doc_id").cast("string"),
          lit("&quot; of the page\">" +
            "</head><body><p>body text</p>" +
            "<a href=\"rel/x.html\">r</a></body></html>")).as("html"))
      val meta = graft.operators.Html.extractMetadata(pages, "doc_id", "html")
      val firstLink = graft.operators.Html.extractLinks(pages, "doc_id", "html")
        .filter(col("link_pos") === 0)
        .join(pages.select(col("doc_id"), col("base_url")), "doc_id")
        .select(col("doc_id"),
          graft.operators.Url.resolve(
            coalesce(col("base_href"), col("base_url")), col("href"))
            .as("resolved_url"))
      meta.join(firstLink, "doc_id")
        .select("doc_id", "title", "meta_description", "base_href",
          "n_links", "resolved_url")
        .orderBy("doc_id")
    }),

    // Charset sniffing ladder (Charset.decodeBodies): five encoding
    // regimes cycling by doc_id — (0) UTF-8 declared in the HTTP
    // header, (1) windows-1252 declared only by <meta charset> (the
    // bytes are NOT valid UTF-8 — é/€/— live in 0x80–0xFF), (2)
    // UTF-16LE by BOM with a LYING charset=utf-8 header (BOM must
    // win), (3) undeclared UTF-8 caught by the strict-probe rung,
    // (4) undeclared legacy bytes falling to windows-1252. Every
    // decoded string and every charset verdict is stated closed-form;
    // one wrong rung or one mojibake byte breaks the hash.
    "q119_charset_decode" -> ((s, dir) => {
      val mk = udf { (id: Long, text: String) =>
        ((id % 5).toInt: @unchecked) match {
          case 0 => (s"Header café №$id — $text".getBytes("UTF-8"),
            "text/html; charset=utf-8")
          case 1 => (("<html><head><meta charset=\"windows-1252\"></head>" +
            s"<body>café € dash—$id</body></html>").getBytes("windows-1252"),
            "text/html")
          case 2 => (Array[Byte](0xFF.toByte, 0xFE.toByte) ++
            s"Unicode ★$id★ $text".getBytes("UTF-16LE"),
            "text/html; charset=utf-8")
          case 3 => (s"Māori tēnā $id $text".getBytes("UTF-8"), "text/plain")
          case 4 => ("caf".getBytes("UTF-8") ++
            Array[Byte](0xE9.toByte, ' '.toByte, 0x80.toByte) ++
            s"$id $text".getBytes("UTF-8"), "application/octet-stream")
        }
      }
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("r"))
        .select(col("doc_id"), col("r._1").as("body"),
          col("r._2").as("http_content_type"))
      graft.operators.Charset.decodeBodies(pages, "body", "http_content_type")
        .select("doc_id", "charset", "text")
        .orderBy("doc_id")
    }),

    // Sitemap-protocol parsing (Sitemap.extractEntries): even docs
    // publish a <urlset> (one full entry — entity-encoded loc,
    // lastmod, changefreq, priority — plus one loc-only entry), odd
    // docs a <sitemapindex> pointing at a child sitemap. Every field
    // of every entry is stated closed-form by parity.
    "q120_sitemap_parse" -> ((s, dir) => {
      val site = concat(lit("https://site"),
        pmod(col("doc_id"), lit(20)).cast("string"), lit(".example.com"))
      val xml = when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("<?xml version=\"1.0\"?><urlset><url><loc>"), site,
          lit("/page"), col("doc_id").cast("string"),
          lit(".html?a=1&amp;b=2</loc><lastmod>2026-01-15</lastmod>" +
            "<changefreq>daily</changefreq><priority>0.8</priority>" +
            "</url><url><loc>"), site,
          lit("/extra"), col("doc_id").cast("string"),
          lit("</loc></url></urlset>")))
        .otherwise(concat(lit("<sitemapindex><sitemap><loc>"), site,
          lit("/sitemap"), col("doc_id").cast("string"),
          lit(".xml.gz</loc><lastmod>2026-02-01T00:00:00Z</lastmod>" +
            "</sitemap></sitemapindex>")))
      val docs = t(s, dir, "documents").select(col("doc_id"), xml.as("xml"))
      graft.operators.Sitemap.extractEntries(docs, "doc_id", "xml")
        .orderBy("doc_id", "entry_pos")
    }),

    // Politeness-bounded frontier scheduling (Frontier.schedule): one
    // URL per doc on host site{doc_id%20}, score = doc_id — each
    // host's budget of 5 slots must go to its 5 highest doc_ids in
    // score order, through the BOUNDED top-k aggregator (no per-host
    // window; plan-asserted in FrontierSpec). The oracle re-derives
    // every slot with a row_number the engine itself never runs.
    "q121_frontier_schedule" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(
        concat(lit("https://site"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.com/page"), col("doc_id").cast("string"),
          lit(".html")).as("url"),
        col("doc_id").as("score"))
      graft.operators.Frontier.schedule(urls, "url", "score", maxPerHost = 5)
        .orderBy("host", "host_slot")
    }),

    // Crawl-delay gating composed onto the scheduled frontier: even
    // hosts declare a * delay of k+1 s, odd hosts give graftbot a
    // specific 2.5 s group (ceil → 3; the * group's 60 s must NOT
    // apply — group replacement) — and each slot's earliest polite
    // fetch time is slot × delay, all exact integers.
    "q122_crawl_delay" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(
        concat(lit("https://site"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.com/page"), col("doc_id").cast("string"),
          lit(".html")).as("url"),
        col("doc_id").as("score"))
      val sched = graft.operators.Frontier.schedule(
        urls, "url", "score", maxPerHost = 5)
      val robots = s.range(20).select(
        concat(lit("site"), col("id").cast("string"), lit(".example.com"))
          .as("host"),
        when(col("id") % 2 === 0,
          concat(lit("User-agent: *\nCrawl-delay: "),
            (col("id") + 1).cast("string"), lit("\n")))
          .otherwise(lit("User-agent: graftbot\nCrawl-delay: 2.5\n" +
            "User-agent: *\nCrawl-delay: 60\n")).as("robots_txt"))
      sched.join(broadcast(robots), Seq("host"), "left")
        .select(col("host"), col("host_slot"), col("url"),
          graft.operators.Robots.crawlDelay(col("robots_txt"), "graftbot")
            .as("crawl_delay"))
        .withColumn("fetch_eta_sec", col("host_slot") * col("crawl_delay"))
        .orderBy("host", "host_slot")
    }),

    // Distributed WET export → read-back roundtrip: the corpus writes
    // as real conversion-record WARC segments (one STREAMED segment
    // per partition, gzipped, manifest-audited) and comes back
    // through the q115-proven reader byte-identically — text,
    // per-record payload byte counts, and the charset ladder's
    // verdict on envelope-less UTF-8 payloads all stated closed-form.
    "q123_warc_roundtrip" -> ((s, dir) => {
      val out = callDir(s"q123_wet_${docsTag(s, dir)}")
      val docs = t(s, dir, "documents").select(
        concat(lit("https://site"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.com/doc"), col("doc_id").cast("string")).as("uri"),
        col("text"))
      graft.sources.Warc.writeTextSegments(docs, "uri", "text", out)
      val audited = graft.sources.Warc.auditTextSegments(s, out)
        .filter(!col("ok")).count()
      graft.sources.Warc.readWarc(s, out)
        .filter(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "doc(\\d+)$", 1)
            .cast("long").as("doc_id"),
          graft.operators.Charset.decodeText(
            col("body"), lit(null).cast("string")).as("d"),
          length(col("body")).cast("long").as("n_bytes"))
        .select(col("doc_id"), col("d.charset").as("charset"),
          col("d.text").as("text"), col("n_bytes"),
          lit(audited).as("audit_failures"))
        .orderBy("doc_id")
    }),

    // Streaming frontier lifecycle: the q121 URL set discovered in 3
    // micro-batches into a persisted frontier table (idempotent per
    // URL — the q109/q88c append discipline), then scheduled minus a
    // closed-form fetched ledger (doc_id % 7 == 0 already crawled) —
    // the answer must equal the batch schedule over the same pending
    // set, slot for slot.
    "q124_frontier_stream" -> ((s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val tbl = s"graft_q124_frontier_$tag"
      val mkUrl = concat(lit("https://site"),
        pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".example.com/page"), col("doc_id").cast("string"),
        lit(".html"))
      if (!s.catalog.tableExists(tbl)) {
        val all = t(s, dir, "documents")
          .select(mkUrl.as("url"), col("doc_id").as("score"))
          .as[(String, Long)].collect()
        streamRows(s, all) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingFrontier(
            in.toDF("url", "score"), "url", "score", tbl, ckpt)
        }
        s.catalog.refreshTable(tbl)
      }
      val fetched = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(mkUrl.as("url"))
      graft.operators.Frontier.scheduleFromTable(s, tbl, Some(fetched),
          maxPerHost = 5)
        .orderBy("host", "host_slot")
    }),

    // Unicode normalization + web folding (Text.normalizeUnicode,
    // NFKC): five regimes cycling by doc_id — (0) decomposed
    // e+combining-acute must compose, (1) curly quotes / em-dash /
    // ellipsis fold to ASCII, (2) NBSP→space and zero-width removal,
    // (3) NFKC compat folds (fullwidth letters, the ﬁ ligature),
    // (4) C0/C1 control removal with \t preserved. Every output
    // string is stated literally; one unfolded glyph breaks the hash.
    "q125_unicode_normalize" -> ((s, dir) => {
      val mk = udf { (id: Long, text: String) =>
        ((id % 5).toInt: @unchecked) match {
          case 0 => s"cafe\u0301 au lait $text"
          case 1 => s"“q” ‘a’ x—y… $id"
          case 2 => s"a\u00A0b\u200Bc $text"
          case 3 => s"ＡＢＣ ﬁle $id"
          case 4 => s"x\u0007y\u009Fz\t$text"
        }
      }
      t(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("raw"))
        .select(col("doc_id"),
          graft.functions.Text.normalizeUnicode(col("raw"), form = "NFKC")
            .as("normalized"))
        .orderBy("doc_id")
    }),

    // Streaming component-catalog lifecycle: chain pairs (doc, doc−1)
    // for doc_id%10 ∈ {1,2,3} delivered in 3 micro-batches — batches
    // split chains mid-link, so cross-batch merges and remap path
    // compression are both live — then served off the catalog. Every
    // (node, component) row is closed-form: chains of four, component
    // = the chain's x0 node, truncated at the corpus edge.
    "q126_components_stream" -> ((s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val tbl = s"graft_q126_comp_$tag"
      if (!s.catalog.tableExists(tbl)) {
        val pairs = t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(10)).between(1, 3))
          .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
          .as[(Long, Long)].collect()
        streamRows(s, pairs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingComponents(
            in.toDF("a", "b"), "a", "b", tbl, ckpt)
        }
        s.catalog.refreshTable(tbl)
        s.catalog.refreshTable(tbl + "_remap")
      }
      graft.operators.Components.componentsFromTable(s, tbl)
        .orderBy("node")
    }),

    // Sitemap discovery from robots.txt (Robots.sitemapUrls): hosts
    // cycle three regimes — none, one directive, two directives (the
    // second uppercase and sandwiched BETWEEN agent groups, proving
    // case-insensitivity and group-independence). Every discovered
    // URL and its file position is closed-form.
    "q127_sitemap_discovery" -> ((s, dir) => {
      val robots = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(20)).as("k")).distinct()
        .select(
          concat(lit("site"), col("k").cast("string"), lit(".example.com"))
            .as("host"),
          col("k"),
          when(pmod(col("k"), lit(3)) === 0,
            lit("User-agent: *\nDisallow: /tmp\n"))
          .when(pmod(col("k"), lit(3)) === 1,
            concat(lit("Sitemap: https://site"), col("k").cast("string"),
              lit(".example.com/sitemap.xml\nUser-agent: *\nDisallow: /tmp\n")))
          .otherwise(
            concat(lit("User-agent: *\nDisallow: /tmp\n" +
                "SITEMAP: https://site"), col("k").cast("string"),
              lit(".example.com/maps/one.xml # primary\n" +
                "User-agent: extra\nAllow: /\n" +
                "Sitemap: https://site"), col("k").cast("string"),
              lit(".example.com/maps/two.xml.gz\n")))
            .as("robots_txt"))
      robots.select(col("host"), col("k"),
          posexplode(graft.operators.Robots.sitemapUrls(col("robots_txt")))
            .as(Seq("sitemap_pos", "sitemap_url")))
        .select("host", "sitemap_pos", "sitemap_url")
        .orderBy("host", "sitemap_pos")
    }),

    // HTTP transfer/content decoding in the WARC path (Warc.parseHttp
    // → dechunk → decompressBody): five wire encodings by doc_id%5 —
    // identity, chunked, gzip, deflate, chunked-over-gzip — all
    // carrying the same closed-form body, which must surface decoded
    // and byte-identical through the charset ladder regardless of how
    // it crossed the wire. One garbled rung breaks the hash.
    "q128_http_decode" -> ((s, dir) => {
      val wdir = ensureHttpWarcDir(s, dir)
      graft.sources.Warc.readWarc(s, wdir)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          graft.operators.Charset.decodeText(
            col("body"), col("http_content_type"))
            .getField("text").as("text"))
        .withColumn("mode", pmod(col("doc_id"), lit(5)))
        .select("doc_id", "mode", "text")
        .orderBy("doc_id")
    }),

    // The discovery loop closed: sitemap XML (Sitemap.extractEntries)
    // ∪ link-discovered URLs, deduped by canonical URL (the overlap
    // /sm/a arrives from BOTH feeds and must hold one slot at its best
    // score), gated by robots (the /tmp sitemap entry is disallowed
    // and must never reach the table), appended to the persisted
    // frontier (Frontier.appendToFrontierTable), and scheduled off it.
    // /sm/b is sitemap-ONLY — its slot proves sitemap discovery feeds
    // the schedule. Every slot closed-form per host.
    "q129_sitemap_frontier" -> ((s, dir) => {
      val tbl = s"graft_q129_frontier_${docsTag(s, dir)}"
      val hosts = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(20)).cast("string").as("k")).distinct()
      def root = concat(lit("https://site"), col("k"), lit(".example.com"))
      if (!s.catalog.tableExists(tbl)) {
        val sitemaps = hosts.select(col("k"),
          concat(lit("<urlset><url><loc>"), root,
            lit("/sm/a.html</loc></url><url><loc>"), root,
            lit("/sm/b.html</loc></url><url><loc>"), root,
            lit("/tmp/c.html</loc></url></urlset>")).as("xml"))
        val smUrls = graft.operators.Sitemap.extractEntries(sitemaps, "k", "xml")
          .filter(col("kind") === "url")
          .select(col("loc").as("u"), lit(5L).as("sc"))
        val linkUrls = hosts.select(concat(root, lit("/sm/a.html")).as("u"),
            lit(3L).as("sc"))
          .unionByName(hosts.select(concat(root, lit("/ln/d.html")).as("u"),
            lit(3L).as("sc")))
        val robots = hosts.select(
          concat(lit("site"), col("k"), lit(".example.com")).as("host"),
          lit("User-agent: *\nDisallow: /tmp\n").as("robots_txt"))
        val gated = graft.operators.Robots.filterAllowed(
            smUrls.unionByName(linkUrls), "u", robots, "graftbot")
          .filter(col("allowed")).select(col("u"), col("sc"))
        graft.operators.Frontier.appendToFrontierTable(s, gated, "u", "sc", tbl)
      }
      graft.operators.Frontier.scheduleFromTable(s, tbl, None, maxPerHost = 3)
        .orderBy("host", "host_slot")
    }),

    // WARC revisit-record dedup (the CommonCrawl refetch convention:
    // a re-crawled URL whose payload digest matches a stored response
    // ships as a payload-less `revisit` record carrying
    // WARC-Payload-Digest): revisits join back to their original via
    // the digest — a |revisits|⋈|responses| hash join on the digest
    // key, never a byte comparison — and digest_ok re-derives each
    // response's sha1-base32 from its decoded body and compares it to
    // the header, proving the parser surfaces the digest AND the body
    // bytes that produced it. Every pointer closed-form (revisit id →
    // id−1).
    "q132_revisit_dedup" -> ((s, dir) => {
      val wdir = ensureRevisitWarcDir(s, dir)
      val recs = graft.sources.Warc.readWarc(s, wdir)
      val responses = recs.filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "page(\\d+)\\.html", 1)
            .cast("long").as("orig_id"),
          col("target_uri").as("orig_uri"),
          col("payload_digest").as("digest"),
          (col("payload_digest") <=>
            graft.sources.Warc.digestColumn(col("body"))).as("digest_ok"))
      val revisits = recs.filter(col("warc_type") === "revisit")
        .select(
          regexp_extract(col("target_uri"), "page(\\d+)\\.html", 1)
            .cast("long").as("revisit_id"),
          col("payload_digest").as("digest"))
      revisits.join(responses, Seq("digest"))
        .select("revisit_id", "orig_id", "orig_uri", "digest_ok")
        .orderBy("revisit_id")
    }),

    // Redirect handling (Url.resolveRedirectChains over the
    // http_location column the WARC reader now surfaces): 301/302
    // chains with a relative first hop and a cross-host second hop
    // resolve to their terminal; every 10th doc's /start ⇄ /loop
    // 2-cycle must cap out as looped (terminal NULL) instead of
    // cycling. Closed-form per doc.
    "q130_redirect_chains" -> ((s, dir) => {
      val wdir = ensureRedirectWarcDir(s, dir)
      val recs = graft.sources.Warc.readWarc(s, wdir)
      val redirects = recs
        .filter(col("http_status").between(300, 399) &&
          col("http_location").isNotNull)
        .select(graft.operators.Url.canonical(col("target_uri")).as("src"),
          graft.operators.Url.resolve(col("target_uri"), col("http_location"))
            .as("dst"))
      val chains = graft.operators.Url.resolveRedirectChains(
        redirects, "src", "dst", maxHops = 4)
      // the chains frame is pinned in the caller's scope: releasing it
      // before the consume made the TIMED count recompute the whole
      // maxHops join cascade (one full WARC-walk edge derivation per
      // hop reference, five segment walks per call).
      chains.filter(col("url").contains("/start"))
        .select(
          regexp_extract(col("url"), "start(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("terminal_url"), col("hops"), col("looped"))
        .orderBy("doc_id")
    }),

    // Unicode normalization COMPOSED into the dedup path (q125 proves
    // the kernel; this proves the composition): each doc ships as two
    // byte-DIFFERENT, visually-identical variants — composed é +
    // curly quotes vs decomposed e‌+◌́ + ASCII quotes — and they must
    // collapse to ONE group under fingerprintMd5∘normalizeUnicode
    // while their raw digests stay distinct (n_raw_digests = 2 pins
    // that the collapse is the normalizer's doing, not an accident).
    "q131_normalized_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.select(col("doc_id").as("id"),
          concat(lit("café “q” "), col("text")).as("raw"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("id"),
          concat(lit("café \"q\" "), col("text")).as("raw")))
      variants
        .select(col("id"),
          graft.functions.Text.fingerprintMd5(
            graft.functions.Text.normalizeUnicode(col("raw"), form = "NFKC"))
            .as("digest"),
          md5(col("raw")).as("raw_digest"))
        .groupBy("digest")
        .agg(min("id").as("keeper"), count(lit(1)).as("n_copies"),
          countDistinct(col("raw_digest")).as("n_raw_digests"))
        .orderBy("digest")
    }),

    // Apex-level politeness budgets (Frontier.scheduleByKey with
    // Url.apexDomain — the Heritrix queue-by-assignment-domain knob):
    // 20 sibling site{k}.example.com hosts fold to ONE apex and must
    // share one budget of 5 — the top-5 scores win, slots by score
    // desc; a per-HOST budget would schedule all 20. Closed-form.
    "q134_apex_budget" -> ((s, dir) => {
      val urls = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(20)).as("k")).distinct()
        .select(
          concat(lit("https://site"), col("k").cast("string"),
            lit(".example.com/page"), col("k").cast("string"),
            lit(".html")).as("url"),
          col("k").as("score"))
      graft.operators.Frontier.scheduleByKey(urls,
          graft.operators.Url.apexDomain(col("url")), "url", "score",
          maxPerKey = 5)
        .orderBy("host_slot")
    }),

    // Freshness-aware recrawl gating (Frontier.markDueForRecrawl over
    // the sitemaps.org changefreq vocabulary): eight regimes cycling
    // by doc_id — the six standard labels, `never` (no finite
    // interval, never due), and a garbage label taking the default
    // week — against a fixed `now` and an age that grows with doc_id,
    // so every verdict flips at a closed-form id threshold.
    "q135_recrawl_due" -> ((s, dir) => {
      val now = 1767103200L
      val cf = element_at(
        array(lit("always"), lit("hourly"), lit("daily"), lit("weekly"),
          lit("monthly"), lit("yearly"), lit("never"), lit("sometimes")),
        (pmod(col("doc_id"), lit(8)) + 1).cast("int"))
      val marked = graft.operators.Frontier.markDueForRecrawl(
        t(s, dir, "documents").select(col("doc_id"),
          cf.as("changefreq"),
          (lit(now) - col("doc_id") * 3600L).as("last_fetch")),
        "last_fetch", "changefreq", now)
      marked.select("doc_id", "changefreq", "interval_sec", "due")
        .orderBy("doc_id")
    }),

    // CDX capture index + ranged-read serve (Warc.cdxIndex /
    // Warc.fetchByCdx — the random-access half of the WARC story
    // CommonCrawl publishes next to every crawl): the index's
    // (filename, offset, comp_length) locator triples are proven by
    // FETCHING every response back through them — one ranged read of
    // one gzip member (or plain-file span) per doc that must
    // reproduce the template body, the stamped payload digest, and
    // the SURT urlkey in closed form. A single off-by-one offset
    // fails the member's gzip magic and nulls the row out of the
    // hash; a wrong comp_length truncates the member the same way.
    "q136_cdx_fetch" -> ((s, dir) => {
      val wdir = ensureCdxWarcDir(s, dir)
      val W = graft.sources.Warc
      val cdx = W.cdxIndex(s, wdir)
      W.fetchByCdx(cdx.filter(col("warc_type") === "response"), wdir)
        .select(
          regexp_extract(col("url"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          graft.operators.Url.surt(col("url")).as("urlkey"),
          col("http_status"), col("digest_ok"),
          col("body").cast("string").as("text"))
        .orderBy("doc_id")
    }),

    // The CDX catalog's STREAMING leg (Maintenance.streamingCdx →
    // Warc.appendToCdxTable): segment paths land in 3 micro-batches
    // (a continuous crawl announces segment sets per batch —
    // CommonCrawl refreshes its index per crawl the same way), each
    // absorbing through the filename-keyed skip + anti-join append;
    // a whole-archive replay absorb must then be a ZERO-segment
    // no-op (required in-entry), and ranged-read serving off the
    // catalog answers the q136 oracle VERBATIM — streamed arrival
    // must not change one locator.
    "q138_cdx_stream" -> ((s, dir) => {
      import s.implicits._
      val wdir = ensureCdxWarcDir(s, dir)
      val tbl = s"graft_q138_cdx_${docsTag(s, dir)}"
      if (!s.catalog.tableExists(tbl)) {
        val files = new java.io.File(wdir).listFiles()
          .map(_.toString).sorted.toSeq
        streamRows(s, files) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingCdx(
            in.toDF("path"), "path", tbl, ckpt)
        }
      }
      val replayed = graft.sources.Warc.appendToCdxTable(s, tbl, wdir)
      require(replayed == 0L,
        s"replay absorb must be a no-op, indexed $replayed segments")
      graft.sources.Warc.fetchByCdx(
          s.table(tbl).filter(col("warc_type") === "response"), wdir)
        .select(
          regexp_extract(col("url"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          graft.operators.Url.surt(col("url")).as("urlkey"),
          col("http_status"), col("digest_ok"),
          col("body").cast("string").as("text"))
        .orderBy("doc_id")
    }),

    // CDXJ interchange (Warc.writeCdxj / readCdxj — the SORTED text
    // form CommonCrawl actually publishes its index as): the q136
    // index round-trips through `urlkey timestamp {json}` lines
    // (string-valued fields, range-partitioned global sort) and the
    // read-back locators must fetch every response EXACTLY like the
    // in-memory index — the q136 oracle verbatim. A lost field, a
    // mis-cast offset, or a timestamp that doesn't reconstruct the
    // WARC date breaks the fetch or the hash.
    "q140_cdxj_roundtrip" -> ((s, dir) => {
      val wdir = ensureCdxWarcDir(s, dir)
      val W = graft.sources.Warc
      val cdxjDir = new java.io.File(
        graft.sources.Scratch.dir("graft_q140").toFile,
        "cdxj").toString
      W.writeCdxj(W.cdxIndex(s, wdir), cdxjDir, shards = 3)
      val back = W.readCdxj(s, cdxjDir)
      W.fetchByCdx(back.filter(col("warc_type") === "response"), wdir)
        .select(
          regexp_extract(col("url"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          graft.operators.Url.surt(col("url")).as("urlkey"),
          col("http_status"), col("digest_ok"),
          col("body").cast("string").as("text"))
        .orderBy("doc_id")
    }),

    // Compliance takedowns (Corpus.applyTakedowns): all four rule
    // kinds live at once over the template URL corpus — an exact-URL
    // rule written WITH a tracking param (canonical-space matching
    // must still hit), a host rule, a domain rule whose SURT-prefix
    // tree match reaches through the www label, and a path-prefix
    // rule. Every verdict closed-form; the corpus never shuffles
    // (all four rule joins broadcast — CorpusSpec pins the plan).
    "q137_takedown_purge" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://www.site"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.com/dir/page"), col("doc_id").cast("string"),
          lit(".html")).as("url"))
      val rules = Seq(
        ("url", "https://www.site7.example.com/dir/page7.html?utm_source=x"),
        ("host", "www.site3.example.com"),
        ("domain", "site4.example.com"),
        ("prefix", "https://www.site5.example.com/dir/page1")
      ).toDF("kind", "value")
      graft.operators.Corpus.applyTakedowns(docs, "url", rules)
        .select("doc_id", "url").orderBy("doc_id")
    }),

    // The compliance family's STREAMING leg (Maintenance
    // .streamingTakedowns → Corpus.appendToTakedownTable): the four
    // q137 notices arrive in 2 micro-batches — a real compliance feed
    // files opt-outs continuously — accumulating append-only and
    // (kind, value)-idempotently into a rules TABLE; a whole-feed
    // replay absorb must file ZERO rules (required in-entry), and the
    // purge against the accumulated table answers the q137 oracle
    // VERBATIM — streamed arrival must not change one removal.
    "q141_takedown_stream" -> ((s, dir) => {
      import s.implicits._
      val allRules = Seq(
        ("url", "https://www.site7.example.com/dir/page7.html?utm_source=x"),
        ("host", "www.site3.example.com"),
        ("domain", "site4.example.com"),
        ("prefix", "https://www.site5.example.com/dir/page1"))
      val tbl = s"graft_q141_rules_${docsTag(s, dir)}"
      if (!s.catalog.tableExists(tbl)) {
        streamRows(s, allRules) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingTakedowns(
            in.toDF("kind", "value"), "kind", "value", tbl, ckpt)
        }
      }
      val replayed = graft.operators.Corpus.appendToTakedownTable(s,
        allRules.toDF("kind", "value"), tbl)
      require(replayed == 0L,
        s"replay absorb must file nothing, filed $replayed rules")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://www.site"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.com/dir/page"), col("doc_id").cast("string"),
          lit(".html")).as("url"))
      graft.operators.Corpus.applyTakedowns(docs, "url", s.table(tbl))
        .select("doc_id", "url").orderBy("doc_id")
    }),

    // Archive REDACTION — the whole compliance story composed at the
    // capture level, the operation an archive steward actually runs
    // on a takedown: purge the CAPTURE INDEX (applyTakedowns over the
    // CDX url column), ranged-fetch ONLY the surviving captures
    // (fetchByCdx — no purged byte is ever read back), re-export
    // their decoded text as fresh WET segments, and prove the
    // redacted archive byte-exactly by reading it back. Every stage
    // is an individually-oracled operator; the composition's oracle
    // is q136's template minus exactly the q137 rule cohorts.
    "q142_archive_redaction" -> ((s, dir) => {
      val wdir = ensureCdxWarcDir(s, dir)
      val W = graft.sources.Warc
      val rules = s.createDataFrame(Seq(
        ("url", "https://www.site7.example.com/dir/page7.html?utm_source=x"),
        ("host", "www.site3.example.com"),
        ("domain", "site4.example.com"),
        ("prefix", "https://www.site5.example.com/dir/page1")))
        .toDF("kind", "value")
      val cdx = W.cdxIndex(s, wdir).filter(col("warc_type") === "response")
      val kept = graft.operators.Corpus.applyTakedowns(cdx, "url", rules)
      val fetched = W.fetchByCdx(kept, wdir)
        .select(col("url"), col("body").cast("string").as("text"))
      val outDir = new java.io.File(
        graft.sources.Scratch.dir("graft_q142").toFile,
        "redacted").toString
      W.writeTextSegments(fetched, "url", "text", outDir)
      W.readWarc(s, outDir)
        .filter(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("body").cast("string").as("text"))
        .orderBy("doc_id")
    }),

    // The WET export's STREAMING leg (Maintenance.streamingTextSegments
    // — a continuous crawl emits segment sets per batch, CommonCrawl's
    // actual publication shape): the corpus streams in 3 micro-batches,
    // each writing its own batch-<id>/ subtree (per-record gzip
    // members, manifest, rename-on-commit; replay = byte-identical
    // overwrite, no ledger needed), and the tree reads back + audits
    // through the q123 roundtrip oracle VERBATIM — streamed arrival
    // must not change one byte.
    "q133_wet_stream" -> ((s, dir) => {
      import s.implicits._
      val root = ensureDerivedDir(s, dir, "q133_wet") { stage =>
        val docs = t(s, dir, "documents").select(
            concat(lit("https://site"),
              pmod(col("doc_id"), lit(20)).cast("string"),
              lit(".example.com/doc"), col("doc_id").cast("string")).as("uri"),
            col("text"))
          .as[(String, String)].collect().sortBy(_._1)
        streamRows(s, docs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingTextSegments(
            in.toDF("uri", "text"), "uri", "text", stage, ckpt)
        }
      }
      val audited = graft.sources.Warc.auditAllTextSegments(s, root)
        .filter(!col("ok")).count()
      graft.sources.Warc.readWarc(s, s"$root/batch-*")
        .filter(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "doc(\\d+)$", 1)
            .cast("long").as("doc_id"),
          graft.operators.Charset.decodeText(
            col("body"), lit(null).cast("string")).as("d"),
          length(col("body")).cast("long").as("n_bytes"))
        .select(col("doc_id"), col("d.charset").as("charset"),
          col("d.text").as("text"), col("n_bytes"),
          lit(audited).as("audit_failures"))
        .orderBy("doc_id")
    }),

    // The full pairwise drift dashboard: JS divergence between EVERY
    // language-slice pair in one plan (densified bucket grid
    // self-joined on bucket — never |groups|² separate passes), exact
    // pico integers, each cell bit-equal to the two-slice q97-style
    // call (spec-pinned). 5 languages → 10 cells.
    "q110_drift_matrix" -> ((s, dir) => {
      val counts = graft.operators.Dsir.bucketCountsBy(
        t(s, dir, "documents"), "lang", "text", dim = 4096)
      graft.operators.Dsir.jsDriftMatrixPico(counts, "lang", dim = 4096)
        .orderBy("group_a", "group_b")
    })
  )

  // ------------------------------------------------------------------
  // DuckDB oracles. Column names/types match the Spark side exactly.
  // ------------------------------------------------------------------

  /** All-pairs word-trigram Jaccard ground truth, shared verbatim by
    * q31 and q31b (the lifecycle variant must answer identically). */
  /** Shared CTE prefix computing every document's 64-bit SimHash in
    * DuckDB — an exact restatement of [[graft.operators.Sketches
    * .simhash]]: lowercase whitespace tokens, FNV-1a 64 per token
    * (recursive CTE over character positions), the mix64 finisher, and
    * the per-bit majority vote. Java's wrapping 64-bit arithmetic is
    * emulated in HUGEINT mod 2^64, with each multiply split at 2^32 so
    * no intermediate exceeds 127 bits. Valid because the corpus is
    * pure ASCII at every SF (checked), where DuckDB `lower`/`unicode`
    * agree with Java's per-char toLowerCase/char codes. */
  /** Recursive-CTE restatement of the winnow gram-hash kernel
    * ([[graft.operators.Sketches.gramHashes]]): normalize, slide a
    * 30-char window, FNV-1a each window char-by-char, mix64-finish —
    * all in HUGEINT modular arithmetic (the SimhashSigCte technique),
    * signed back to BIGINT at the end so comparisons match the
    * engine's Long ordering. Ends in `hs(doc_id, pos, n, gh)` where
    * `n` is the gram count of the doc (window clamping needs it). */
  private val WinnowGramCte =
    """WITH RECURSIVE
       corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 300000 AS doc_id,
                text || ' winnowed clone mark' AS text
         FROM documents WHERE doc_id < 5),
       norm AS (
         SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
         FROM corpus),
       posu AS (
         SELECT doc_id, t, greatest(length(t) - 30 + 1, 1) AS n,
                unnest(range(greatest(length(t) - 30 + 1, 1))) AS p
         FROM norm),
       gpos AS (
         SELECT doc_id, CAST(p AS INTEGER) AS pos, n,
                substr(t, CAST(p AS INTEGER) + 1, least(30, length(t))) AS gram
         FROM posu),
       dgram AS (SELECT DISTINCT gram FROM gpos),
       fnv(gram, i, h) AS (
         SELECT gram, 0, CAST(14695981039346656037 AS HUGEINT) FROM dgram
         UNION ALL
         SELECT gram, i + 1,
                (xor(h, CAST(unicode(substr(gram, i + 1, 1)) AS HUGEINT))
                  * 1099511628211) % 18446744073709551616
         FROM fnv WHERE i < len(gram)),
       fh0 AS (SELECT gram, h FROM fnv WHERE i = len(gram)),
       w1 AS (SELECT gram, (h + 11400714819323198485) % 18446744073709551616 AS z FROM fh0),
       w2 AS (SELECT gram, xor(z, z // 1073741824) AS z FROM w1),
       w3 AS (SELECT gram,
                (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                 + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
              FROM w2),
       w4 AS (SELECT gram, xor(z, z // 134217728) AS z FROM w3),
       w5 AS (SELECT gram,
                (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                 + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
              FROM w4),
       ghash AS (SELECT gram,
                CAST(CASE WHEN xor(z, z // 2147483648) >= 9223372036854775808
                          THEN xor(z, z // 2147483648) - 18446744073709551616
                          ELSE xor(z, z // 2147483648) END AS BIGINT) AS gh
              FROM w5),
       hs AS (SELECT g.doc_id, g.pos, g.n, h.gh
              FROM gpos g JOIN ghash h USING (gram))
    """

  /** Shared token-hash prefix of the classifier oracles (q85/q87/
    * q87b): distinct (doc, term) rows plus each term's mix64∘FNV-1a
    * hash as unsigned HUGEINT `z` in `t5` — the exact
    * [[graft.operators.Sketches.tokenHashes]] kernel restated. */
  /** Shared q89/q97 gram-space prefix: unigram+bigram grams with
    * multiplicity under the lower/\s+ tokenization, the recursive
    * FNV-1a∘mix64 bucket (mod 4096) of every distinct gram, ending in
    * `gr(doc_id, bucket)` — the exact feature space of
    * [[graft.operators.Dsir.gramBuckets]]. */
  private val GramBucketCte =
    """WITH RECURSIVE
           wl AS (
             SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> len(t) > 0) AS ws
             FROM documents),
           uni AS (SELECT doc_id, unnest(ws) AS gram FROM wl),
           big AS (SELECT doc_id,
                          unnest(list_transform(range(1, len(ws)),
                                                i -> ws[i] || ' ' || ws[i + 1])) AS gram
                   FROM wl),
           grams AS (SELECT doc_id, gram FROM uni
                     UNION ALL SELECT doc_id, gram FROM big),
           dgram AS (SELECT DISTINCT gram FROM grams),
           fnv(gram, pos, h) AS (
             SELECT gram, 0, CAST(14695981039346656037 AS HUGEINT) FROM dgram
             UNION ALL
             SELECT gram, pos + 1,
                    (xor(h, CAST(unicode(substr(gram, pos + 1, 1)) AS HUGEINT))
                      * 1099511628211) % 18446744073709551616
             FROM fnv WHERE pos < len(gram)),
           fh0 AS (SELECT gram, h FROM fnv WHERE pos = len(gram)),
           m1 AS (SELECT gram, (h + 11400714819323198485) % 18446744073709551616 AS z FROM fh0),
           m2 AS (SELECT gram, xor(z, z // 1073741824) AS z FROM m1),
           m3 AS (SELECT gram,
                    (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                     + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
                  FROM m2),
           m4 AS (SELECT gram, xor(z, z // 134217728) AS z FROM m3),
           m5 AS (SELECT gram,
                    (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                     + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
                  FROM m4),
           gb AS (SELECT gram, CAST(xor(z, z // 2147483648) % 4096 AS INTEGER) AS bucket FROM m5),
           gr AS (SELECT g.doc_id, gb.bucket FROM grams g JOIN gb USING (gram))"""

  /** Shared q97/q99 drift oracle: per-slice add-1-smoothed bucket
    * distributions over [[GramBucketCte]]'s feature space and the
    * exact pico-quantized midpoint-KL sums — q99's streamed state
    * must answer exactly like q97's one-shot computation. */
  private val JsDriftOracleSql = GramBucketCte +
    """,
           ac AS (SELECT gr.bucket, count(1) AS c
                  FROM gr JOIN documents d USING (doc_id)
                  WHERE d.lang = 'en' GROUP BY gr.bucket),
           bc AS (SELECT gr.bucket, count(1) AS c
                  FROM gr JOIN documents d USING (doc_id)
                  WHERE d.lang <> 'en' GROUP BY gr.bucket),
           tot AS (SELECT
                     coalesce((SELECT sum(c) FROM ac), 0) AS ta,
                     coalesce((SELECT sum(c) FROM bc), 0) AS tb),
           per AS (SELECT
                     CAST(coalesce(a.c, 0) + 1 AS DOUBLE) / (tot.ta + 4096) AS ma,
                     CAST(coalesce(b.c, 0) + 1 AS DOUBLE) / (tot.tb + 4096) AS mb
                   FROM (SELECT unnest(range(4096)) AS bk) bb
                   CROSS JOIN tot
                   LEFT JOIN ac a ON a.bucket = bb.bk
                   LEFT JOIN bc b ON b.bucket = bb.bk),
           q AS (SELECT
                   CAST(floor(ma * ln(2.0 * ma / (ma + mb)) * 1000000000000.0 + 0.5) AS BIGINT) AS ka,
                   CAST(floor(mb * ln(2.0 * mb / (ma + mb)) * 1000000000000.0 + 0.5) AS BIGINT) AS kb
                 FROM per)
         SELECT (SELECT CAST(ta AS BIGINT) FROM tot) AS grams_a,
                (SELECT CAST(tb AS BIGINT) FROM tot) AS grams_b,
                CAST(sum(ka) AS BIGINT) AS kl_a_pico,
                CAST(sum(kb) AS BIGINT) AS kl_b_pico,
                CAST(sum(ka) + sum(kb) AS BIGINT) AS js2_pico
         FROM q"""

  private val TokenHashCte =
    """WITH RECURSIVE
         toks0 AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                             t -> len(t) > 0)) AS term
           FROM documents),
         toks AS (SELECT DISTINCT doc_id, term FROM toks0),
         dterm AS (SELECT DISTINCT term FROM toks),
         fnv(term, pos, h) AS (
           SELECT term, 0, CAST(14695981039346656037 AS HUGEINT) FROM dterm
           UNION ALL
           SELECT term, pos + 1,
                  (xor(h, CAST(unicode(substr(term, pos + 1, 1)) AS HUGEINT))
                    * 1099511628211) % 18446744073709551616
           FROM fnv WHERE pos < len(term)),
         fh0 AS (SELECT term, h FROM fnv WHERE pos = len(term)),
         t1 AS (SELECT term, (h + 11400714819323198485) % 18446744073709551616 AS z FROM fh0),
         t2 AS (SELECT term, xor(z, z // 1073741824) AS z FROM t1),
         t3 AS (SELECT term,
                  (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                   + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
                FROM t2),
         t4 AS (SELECT term, xor(z, z // 134217728) AS z FROM t3),
         t5 AS (SELECT term,
                  (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                   + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
                FROM t4)"""

  /** Shared q85/q87 scoring CTE: token hash (mix64 of FNV-1a per
    * distinct term) + closed-form mix64 weight table + per-doc exact
    * integer sums, ending in `cscores(doc_id, n_feat, score_milli)`. */
  private val ClassifierScoreCte = TokenHashCte +
    """,
         bkt AS (SELECT term, CAST(xor(z, z // 2147483648) % 4096 AS INTEGER) AS j FROM t5),
         js AS (SELECT CAST(unnest(range(4096)) AS HUGEINT) AS j0),
         u1 AS (SELECT j0, (j0 + 11400714819323198485) % 18446744073709551616 AS z FROM js),
         u2 AS (SELECT j0, xor(z, z // 1073741824) AS z FROM u1),
         u3 AS (SELECT j0,
                  (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                   + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
                FROM u2),
         u4 AS (SELECT j0, xor(z, z // 134217728) AS z FROM u3),
         u5 AS (SELECT j0,
                  (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                   + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
                FROM u4),
         wj AS (SELECT CAST(j0 AS INTEGER) AS j,
                       CAST((xor(z, z // 2147483648) % 2048) - 1024 AS BIGINT) AS w
                FROM u5),
         agg AS (SELECT t.doc_id, CAST(count(1) AS BIGINT) AS n_feat,
                        CAST(sum(wj.w) AS BIGINT) AS score_milli
                 FROM toks t JOIN bkt USING (term) JOIN wj ON wj.j = bkt.j
                 GROUP BY t.doc_id),
         cscores AS (
           SELECT d.doc_id, coalesce(a.n_feat, CAST(0 AS BIGINT)) AS n_feat,
                  coalesce(a.score_milli, CAST(0 AS BIGINT)) AS score_milli
           FROM documents d LEFT JOIN agg a USING (doc_id))
      """

  /** Shared q86/q94 retrieval-oracle prefix: near-dup relevance
    * truth (the q31 trigram machinery), per-doc BM25 stats, and the
    * per-query top-20 run `run20` — float op order matches the
    * engine exactly, so rank boundaries are stable cross-engine. */
  private val Bm25Run20Cte =
    """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS nws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(nws) < 3 THEN [array_to_string(nws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(nws) - 1),
                         i -> array_to_string(list_slice(nws, i, i + 2), ' '))) END AS grams
           FROM w),
         p0 AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         rel AS (
           SELECT doc_a AS query_id, doc_b AS doc_id FROM p0
           UNION ALL
           SELECT doc_b AS query_id, doc_a AS doc_id FROM p0),
         toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         qt AS (
           SELECT DISTINCT q.query_id, tr.term
           FROM (SELECT DISTINCT query_id FROM rel) q
           JOIN tr ON tr.doc_id = q.query_id),
         scored AS (
           SELECT qt.query_id, tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + (dl.dl / s.avgdl * 0.75 + 0.25) * 1.2)) AS score
           FROM qt JOIN tf USING (term) JOIN dfq USING (term)
           JOIN dl ON dl.doc_id = tf.doc_id
           CROSS JOIN stats s
           WHERE tf.doc_id != qt.query_id
           GROUP BY qt.query_id, tf.doc_id),
         run20 AS (
           SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id) AS rank
             FROM scored)
           WHERE rank <= 20)"""

  private val SimhashSigCte =
    """WITH RECURSIVE
       toks AS (
         SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           t -> len(t) > 0)) AS term
         FROM documents),
       dterm AS (SELECT DISTINCT term FROM toks),
       fnv(term, pos, h) AS (
         SELECT term, 0, CAST(14695981039346656037 AS HUGEINT) FROM dterm
         UNION ALL
         SELECT term, pos + 1,
                (xor(h, CAST(unicode(substr(term, pos + 1, 1)) AS HUGEINT)) * 1099511628211)
                  % 18446744073709551616
         FROM fnv WHERE pos < len(term)),
       fh0 AS (SELECT term, h FROM fnv WHERE pos = len(term)),
       m1 AS (SELECT term, (h + 11400714819323198485) % 18446744073709551616 AS z FROM fh0),
       m2 AS (SELECT term, xor(z, z // 1073741824) AS z FROM m1),
       m3 AS (SELECT term,
                (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                 + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
              FROM m2),
       m4 AS (SELECT term, xor(z, z // 134217728) AS z FROM m3),
       m5 AS (SELECT term,
                (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                 + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
              FROM m4),
       fh AS (SELECT term, xor(z, z // 2147483648) AS th FROM m5),
       bits(b, v) AS (
         SELECT 0, CAST(1 AS HUGEINT)
         UNION ALL SELECT b + 1, v * 2 FROM bits WHERE b < 63),
       votes AS (
         SELECT t.doc_id, bits.b, bits.v,
                sum(CASE WHEN (fh.th // bits.v) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         FROM toks t JOIN fh USING (term), bits
         GROUP BY t.doc_id, bits.b, bits.v),
       usig AS (
         SELECT doc_id, sum(CASE WHEN vote > 0 THEN v ELSE 0 END) AS u
         FROM votes GROUP BY doc_id),
       sig AS (
         SELECT d.doc_id,
                CAST(CASE WHEN coalesce(u.u, 0) >= 9223372036854775808
                          THEN coalesce(u.u, 0) - 18446744073709551616
                          ELSE coalesce(u.u, 0) END AS BIGINT) AS simhash
         FROM documents d LEFT JOIN usig u USING (doc_id))
    """

  private val NgramJaccardOracleSql =
    """WITH w AS (
         SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
         FROM documents),
       g AS (
         SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                       i -> array_to_string(list_slice(ws, i, i + 2), ' '))) END AS grams
         FROM w),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS j
         FROM g a JOIN g b ON a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, round(j, 4) AS jaccard
       FROM pairs WHERE j >= 0.5 ORDER BY doc_a, doc_b"""

  /** q70/q70b shared oracle: the q31 gram normalization, per-doc
    * bigram occurrence counts, corpus bigram/context counts, Laplace
    * smoothing over the distinct-token vocabulary, and per-bigram
    * log-probs quantized to integer micro-nats before the (exact,
    * order-independent) per-doc sum. */
  private val BigramLmOracleSql =
    """WITH w AS (
         SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
         FROM documents),
       pairs AS (
         SELECT doc_id,
                unnest(list_transform(range(1, len(ws)),
                  i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS bg
         FROM w WHERE len(ws) >= 2),
       occ AS (
         SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(1) AS occ
         FROM pairs GROUP BY doc_id, bg.w1, bg.w2),
       cnt AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS cnt
               FROM occ GROUP BY w1, w2),
       ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx
               FROM cnt GROUP BY w1),
       voc AS (SELECT count(DISTINCT t) AS v
               FROM (SELECT unnest(ws) AS t FROM w)),
       contrib AS (
         SELECT o.doc_id, o.occ,
                CAST(round(ln((c.cnt + 1.0) / (x.ctx + 1.0 * voc.v)) * 1e6)
                     AS BIGINT) AS c
         FROM occ o JOIN cnt c USING (w1, w2) JOIN ctx x USING (w1)
              CROSS JOIN voc)
       SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
              CAST(sum(occ * c) AS BIGINT) AS sum_scaled,
              round(CAST(sum(occ * c) AS BIGINT) / 1e6 /
                    CAST(sum(occ) AS BIGINT), 4) AS avg_logprob
       FROM contrib GROUP BY doc_id ORDER BY doc_id"""

  /** q162: the q70 scoring chain, then the CCNet cut — cumulative
    * counts over each language's (avg_logprob) histogram in
    * DESCENDING score order, bucket = floor(rows_before · 3 / n) via
    * DuckDB's integer `//` (the engine side uses `div` — no float
    * quotient decides a boundary on either engine), whole value
    * blocks landing in one bucket. */
  private val PplBucketsOracleSql =
    """WITH w AS (
         SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
         FROM documents),
       pairs AS (
         SELECT doc_id,
                unnest(list_transform(range(1, len(ws)),
                  i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS bg
         FROM w WHERE len(ws) >= 2),
       occ AS (
         SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(1) AS occ
         FROM pairs GROUP BY doc_id, bg.w1, bg.w2),
       cnt AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS cnt
               FROM occ GROUP BY w1, w2),
       ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx
               FROM cnt GROUP BY w1),
       voc AS (SELECT count(DISTINCT t) AS v
               FROM (SELECT unnest(ws) AS t FROM w)),
       contrib AS (
         SELECT o.doc_id, o.occ,
                CAST(round(ln((c.cnt + 1.0) / (x.ctx + 1.0 * voc.v)) * 1e6)
                     AS BIGINT) AS c
         FROM occ o JOIN cnt c USING (w1, w2) JOIN ctx x USING (w1)
              CROSS JOIN voc),
       scored AS (
         SELECT doc_id,
                round(CAST(sum(occ * c) AS BIGINT) / 1e6 /
                      CAST(sum(occ) AS BIGINT), 4) AS avg_logprob
         FROM contrib GROUP BY doc_id),
       sl AS (
         SELECT s.doc_id, d.lang, s.avg_logprob
         FROM scored s JOIN documents d USING (doc_id)),
       hist AS (
         SELECT lang, avg_logprob, count(1) AS hc FROM sl GROUP BY 1, 2),
       cum AS (
         SELECT lang, avg_logprob,
                coalesce(sum(hc) OVER (PARTITION BY lang
                  ORDER BY avg_logprob DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
                sum(hc) OVER (PARTITION BY lang) AS n
         FROM hist),
       bk AS (
         SELECT lang, avg_logprob,
                CASE CAST((lo * 3) // n AS INTEGER)
                  WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                  ELSE 'tail' END AS bucket
         FROM cum)
       SELECT sl.doc_id, sl.lang, sl.avg_logprob, bk.bucket
       FROM sl JOIN bk USING (lang, avg_logprob)
       ORDER BY sl.doc_id"""

  /** Exact ANN ground truth under the injected-clone gap argument,
    * shared verbatim by q33/q33b/q35/q35b: the four plans (single-probe
    * LSH, multi-probe LSH, IVF, Lloyd-refined IVF) must all return the
    * same exact top-5 — the clones — because nothing else comes within
    * 0.39 cosine of a query. Clone construction mirrors [[annClones]]
    * bit-for-bit (double shift, one float cast). Rank on the unrounded-
    * to-4dp (6dp) score with vec_id tiebreak, exactly like the Spark
    * side's TopK ordering. */
  private val AnnCloneOracleSql =
    """WITH clones AS (
         SELECT vec_id * 5 + j + 100000 AS vec_id,
                list_transform(range(1, len(embedding) + 1),
                  i -> CAST(CASE WHEN i = 1 THEN embedding[i] + 0.01 * (j + 1)
                            ELSE embedding[i] END AS FLOAT)) AS embedding
         FROM embeddings CROSS JOIN (SELECT unnest(range(5)) AS j)
         WHERE vec_id < 5),
       all_e AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL SELECT vec_id, embedding FROM clones),
       q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, e.vec_id AS corpus_id,
                round(round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 6), 4) AS cosine,
                row_number() OVER (PARTITION BY q.query_id
                  ORDER BY round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 6) DESC, e.vec_id)
                  AS rank
         FROM all_e e JOIN q ON e.vec_id != q.query_id)
       SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
       FROM scored WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Brute-force all-pairs shingle-set Jaccard ground truth over the
    * q22 corpus (originals + 5 appended-words clones), shared verbatim
    * by q22 and q22b: the MinHash+LSH detector's verified output equals
    * this exactly because its candidate recall over the ≥0.8 pairs is
    * total here (30/30) and verification computes true Jaccard. 5-char
    * shingles of normalized text, distinct per doc — the engine's
    * [[graft.operators.Sketches.shingleHashes]] semantics restated on
    * strings. */
  private val MinhashPairsOracleSql =
    """WITH u AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text || ' appended words'
         FROM documents WHERE doc_id < 5),
       n AS (
         SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
         FROM u),
       s AS (
         SELECT doc_id, list_distinct(list_transform(
                  range(1, greatest(length(t) - 4, 1) + 1),
                  i -> substr(t, i, 5))) AS sh
         FROM n),
       p AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         FROM s a JOIN s b ON a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, round(j, 4) AS jaccard
       FROM p WHERE j >= 0.8 ORDER BY doc_a, doc_b"""

  def oracleSql: Map[String, String] = Map(
    "q22_minhash_dedup" -> MinhashPairsOracleSql,

    // the persisted-sketch lifecycle must return exactly the one-shot
    // q22 answer — the same oracle string, bound once
    "q22b_minhash_persisted" -> MinhashPairsOracleSql,

    // q109: the streamed sketch-table lifecycle must return exactly
    // the q22 batch answer.
    "q109_stream_minhash" -> MinhashPairsOracleSql,

    // q110: the pairwise drift matrix — per-lang bucket counts over
    // the shared gram chain, densified with smoothing mass, the
    // identical float expression tree per bucket pair, exact integer
    // pico sums per cell.
    "q110_drift_matrix" -> (GramBucketCte +
      """,
           lc AS (SELECT d.lang, gr.bucket, count(1) AS c
                  FROM gr JOIN documents d USING (doc_id)
                  GROUP BY d.lang, gr.bucket),
           lt AS (SELECT lang, sum(c) AS t FROM lc GROUP BY lang),
           langs AS (SELECT DISTINCT lang FROM documents),
           dense AS (SELECT l.lang, bb.bk AS bucket,
                       CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (lt.t + 4096) AS m
                     FROM langs l
                     CROSS JOIN (SELECT unnest(range(4096)) AS bk) bb
                     JOIN lt ON lt.lang = l.lang
                     LEFT JOIN lc c ON c.lang = l.lang AND c.bucket = bb.bk),
           p AS (SELECT a.lang AS ga, b.lang AS gb,
                   CAST(floor(a.m * ln(2.0 * a.m / (a.m + b.m)) * 1000000000000.0 + 0.5) AS BIGINT) AS ka,
                   CAST(floor(b.m * ln(2.0 * b.m / (a.m + b.m)) * 1000000000000.0 + 0.5) AS BIGINT) AS kb
                 FROM dense a JOIN dense b
                   ON a.bucket = b.bucket AND a.lang < b.lang)
         SELECT ga AS group_a, gb AS group_b,
                CAST(sum(ka) + sum(kb) AS BIGINT) AS js2_pico
         FROM p GROUP BY ga, gb ORDER BY ga, gb"""),

    "q33_lsh_topk" -> AnnCloneOracleSql,
    "q33b_lsh_multiprobe" -> AnnCloneOracleSql,
    "q35_ivf_topk" -> AnnCloneOracleSql,
    "q35b_ivf_lloyd" -> AnnCloneOracleSql,
    "q84_pq_topk" -> AnnCloneOracleSql,
    "q88_ivfpq_topk" -> AnnCloneOracleSql,
    // the persisted lifecycle must return exactly the one-shot q88
    // answer — the same oracle string, bound once
    "q88b_ivfpq_persisted" -> AnnCloneOracleSql,
    // q88c: identical semantics again — the streamed append changes
    // where the codes come from, not one bit of their content.
    "q88c_ivfpq_stream" -> AnnCloneOracleSql,

    // q57: the whole near-dup corpus filter restated in SQL — brute-
    // force ≥0.8 pair set (see MinhashPairsOracleSql), drop every
    // higher-id pair member, survivors per source with an id checksum.
    "q57_drop_near_dups" ->
      """WITH u AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, source, text || ' appended words'
           FROM documents WHERE doc_id < 5),
         n AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
           FROM u),
         s AS (
           SELECT doc_id, list_distinct(list_transform(
                    range(1, greatest(length(t) - 4, 1) + 1),
                    i -> substr(t, i, 5))) AS sh
           FROM n),
         drops AS (
           SELECT DISTINCT b.doc_id
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                 >= 0.8)
         SELECT source, count(1) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM u WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         GROUP BY source ORDER BY source""",

    "q01_scan_project" ->
      """SELECT l_orderkey, l_linenumber, CAST(trunc(l_quantity) AS INTEGER) AS qty,
                round(l_extendedprice * (1.0 - l_discount), 4) AS revenue, l_returnflag
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
         ORDER BY l_orderkey, l_linenumber""",

    "q02_congestion_case" ->
      """SELECT CASE WHEN value/100.0 > 0.8 THEN 'high'
                     WHEN value/100.0 > 0.5 THEN 'medium'
                     ELSE 'low' END AS congestion_level,
                count(1) AS n, round(avg(value), 4) AS avg_value
         FROM events GROUP BY 1 ORDER BY congestion_level""",

    "q03_zone_agg" ->
      """SELECT event_type, round(avg(value), 4) AS avg_value,
                round(sum(value), 4) AS total_value, count(1) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q04_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                round(avg(l_extendedprice), 4) AS avg_price, count(1) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q05_distinct" ->
      """SELECT count(DISTINCT user_id) AS n_users,
                count(DISTINCT event_type) AS n_types FROM events""",

    "q06_minmax" ->
      """SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
                count(1) AS n FROM events""",

    "q07_window_1min" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                event_type, count(1) AS n, count(DISTINCT user_id) AS n_users,
                round(avg(value), 4) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""",

    "q08_hourly_rollup" ->
      """WITH h AS (
           SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                  event_type, count(1) AS n,
                  CAST(sum(CAST(value AS DECIMAL(20,4))) * 10000 AS BIGINT)
                    AS su,
                  round(max(value), 4) AS peak_value
           FROM events GROUP BY 1, 2)
         SELECT hour, event_type,
                CAST(su AS DOUBLE) / 10000.0 AS total_value,
                CAST((su * 2 + n) // (2 * n) AS DOUBLE) / 10000.0
                  AS avg_value,
                peak_value
         FROM h ORDER BY hour, event_type""",

    "q09_sql_report" ->
      """SELECT event_type, round(avg(value), 4) AS avg_value, count(1) AS n
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
         GROUP BY event_type ORDER BY avg_value DESC, event_type""",

    "q10_breakdown" ->
      """SELECT event_type,
                CASE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 4
                     WHEN 0 THEN 'car' WHEN 1 THEN 'truck'
                     WHEN 2 THEN 'bus' ELSE 'bike' END AS vclass,
                count(1) AS n
         FROM events GROUP BY 1, 2 ORDER BY event_type, vclass""",

    "q11_broadcast_join" ->
      """SELECT r_name, n_name, count(1) AS n_customers,
                round(avg(c_acctbal), 4) AS avg_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q12_join_revenue" ->
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // Sort key cast to microsecond TIMESTAMP: the parquet stores
    // TIMESTAMP(NANOS); Spark truncates to µs, so the oracle must rank
    // on the same precision or near-ties could flip the selected rows.
    "q13_topk" ->
      """SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
         FROM events ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC LIMIT 10""",

    "q14_aqi" ->
      """WITH aqi AS (
           SELECT value AS pm25,
             CASE WHEN value <= 12.0 THEN CAST(trunc((50.0/12.0) * value) AS INTEGER)
                  WHEN value <= 35.4 THEN CAST(trunc(50 + (50.0/23.4) * (value - 12.0)) AS INTEGER)
                  WHEN value <= 55.4 THEN CAST(trunc(100 + (50.0/20.0) * (value - 35.4)) AS INTEGER)
                  WHEN value <= 150.4 THEN CAST(trunc(150 + (50.0/95.0) * (value - 55.4)) AS INTEGER)
                  WHEN value <= 250.4 THEN CAST(trunc(200 + (100.0/100.0) * (value - 150.4)) AS INTEGER)
                  ELSE CAST(trunc(300 + (200.0/249.6) * least(value - 250.4, 249.6)) AS INTEGER) END AS aqi,
             CASE WHEN value <= 12.0 THEN 'Good'
                  WHEN value <= 35.4 THEN 'Moderate'
                  WHEN value <= 55.4 THEN 'Unhealthy for Sensitive Groups'
                  WHEN value <= 150.4 THEN 'Unhealthy'
                  WHEN value <= 250.4 THEN 'Very Unhealthy'
                  ELSE 'Hazardous' END AS category
           FROM events)
         SELECT category, count(1) AS n, round(avg(aqi), 4) AS avg_aqi
         FROM aqi GROUP BY category ORDER BY category""",

    "q15_partition_keys" ->
      """SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
                strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour,
                count(1) AS n
         FROM events GROUP BY 1, 2, 3, 4 ORDER BY year, month, day, hour""",

    "q16_route_topic" ->
      """WITH topics AS (
           SELECT CASE event_type
                    WHEN 'click' THEN 'air_quality/AQ_' || user_id || '/data'
                    WHEN 'view' THEN 'parking/P_' || user_id || '/status'
                    WHEN 'purchase' THEN 'traffic/sumo/edges/e' || user_id
                    WHEN 'signup' THEN 'traffic/sumo/vehicles/v' || user_id
                    ELSE 'debug/' || user_id END AS mqtt_topic
           FROM events)
         SELECT CASE WHEN starts_with(mqtt_topic, 'air_quality') THEN 'smart-city-air-quality'
                     WHEN starts_with(mqtt_topic, 'parking') THEN 'smart-city-parking'
                     WHEN starts_with(mqtt_topic, 'traffic/sumo/edges') THEN 'smart-city-traffic-edges'
                     WHEN starts_with(mqtt_topic, 'traffic/sumo/vehicles') THEN 'smart-city-traffic-vehicles'
                     WHEN starts_with(mqtt_topic, 'traffic/sumo/traffic_lights') THEN 'smart-city-traffic-lights'
                     WHEN starts_with(mqtt_topic, 'traffic/sumo/simulation') THEN 'smart-city-simulation-stats'
                     ELSE 'smart-city-raw-data' END AS kafka_topic,
                count(1) AS n
         FROM topics GROUP BY 1 ORDER BY kafka_topic""",

    "q17_token_count" ->
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE CAST(array_length(string_split_regex(trim(text), '\s+')) AS INTEGER) END AS n_tokens,
                n_chars
         FROM documents ORDER BY doc_id""",

    "q18_text_stats" ->
      """WITH toks AS (
           SELECT source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE CAST(list_aggregate(list_transform(string_split_regex(lower(trim(text)), '\s+'),
                         x -> length(x)), 'sum') AS DOUBLE)
                       / array_length(string_split_regex(trim(text), '\s+')) END AS mwl
           FROM documents)
         SELECT source, count(1) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                round(avg(mwl), 4) AS avg_word_len
         FROM toks GROUP BY source ORDER BY source""",

    "q19_exact_dedup" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keeper, count(1) AS n_copies
         FROM documents GROUP BY 1 ORDER BY digest""",

    "q20_norm_dedup" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g'))) AS digest,
                min(doc_id) AS keeper, count(1) AS n_copies
         FROM documents GROUP BY 1 ORDER BY digest""",

    "q21_word_freq" ->
      """SELECT word, count(1) AS n FROM (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> length(x) > 0)) AS word
           FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 20""",

    // Rank on round(cosine, 6) like the Spark side so near-ties cannot
    // flip row selection across engines.
    "q24_knn_brute" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 4) AS cosine
         FROM embeddings, q
         ORDER BY round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 6) DESC, vec_id LIMIT 10""",

    "q25_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS corpus_id,
                  round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 4) AS cosine,
                  row_number() OVER (PARTITION BY q.query_id
                    ORDER BY round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 6) DESC, e.vec_id)
                    AS rank
           FROM embeddings e JOIN q ON e.vec_id != q.query_id)
         SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
         FROM scored WHERE rank <= 5 ORDER BY query_id, rank""",

    "q23_simhash" ->
      (SimhashSigCte + "SELECT doc_id, simhash FROM sig ORDER BY doc_id"),

    // all-pairs brute force over the recomputed signatures: checks the
    // pigeonhole banding's completeness against ground truth
    "q32_simhash_pairs" ->
      (SimhashSigCte +
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           ORDER BY doc_a, doc_b"""),

    // q56: replay the winnow selection in SQL over independently
    // recomputed gram hashes — each window [s, min(s+7, n-1)] takes
    // its minimum (rightmost-min tie-breaking is value-invisible),
    // distinct minima per doc are the fingerprints, pairs share >= 1.
    "q56_winnow_pairs" ->
      (WinnowGramCte +
        """, wnd AS (
             SELECT doc_id, n, unnest(range(greatest(n - 8, 0) + 1)) AS s
             FROM (SELECT DISTINCT doc_id, n FROM gpos)),
           mins AS (
             SELECT w.doc_id, w.s, min(h.gh) AS fp
             FROM wnd w JOIN hs h ON h.doc_id = w.doc_id
               AND h.pos >= w.s AND h.pos <= least(w.s + 7, w.n - 1)
             GROUP BY w.doc_id, w.s),
           fps AS (SELECT DISTINCT doc_id, fp FROM mins)
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
           ORDER BY doc_a, doc_b"""),

    // q56b: the positional gram-hash sequence itself, row-by-row
    "q56b_winnow_grams" ->
      (WinnowGramCte + "SELECT doc_id, pos, gh FROM hs ORDER BY doc_id, pos"),

    // q86: pair truth (q31 machinery) + per-query BM25 run (q54
    // formula, engine float-op order mirrored) + metrics, all
    // recomputed from the raw corpus. The run disables the df-cap
    // (see the q86 entry comment — this fixture's 31-term vocabulary
    // makes df a content signal, not a stopword signal), so the
    // oracle applies none either.
    "q86_retrieval_eval" ->
      (Bm25Run20Cte +
        """,
         m AS (
           SELECT rel.query_id,
                  CAST(count(1) AS BIGINT) AS n_rel,
                  CAST(sum(CASE WHEN r.rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
                  coalesce(round(1.0 / min(CASE WHEN r.rank <= 10 THEN r.rank END), 6),
                           0.0) AS mrr
           FROM rel LEFT JOIN run20 r
             ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
           GROUP BY rel.query_id)
         SELECT query_id, n_rel, hits_at_k,
                round(CAST(hits_at_k AS DOUBLE) / n_rel, 6) AS recall_at_k, mrr
         FROM m ORDER BY query_id"""),

    // q94: the BM25 run over the GROUP-ENRICHED text (wordxG,
    // G = doc_id%16 — the round-17 de-noise; truth pairs stay on the
    // original text) with relevant pairs anti-joined away and the
    // survivors re-ranked 1..5 per query.
    "q94_hard_negatives" ->
      ("""WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS nws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(nws) < 3 THEN [array_to_string(nws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(nws) - 1),
                         i -> array_to_string(list_slice(nws, i, i + 2), ' '))) END AS grams
           FROM w),
         p0 AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         rel AS (
           SELECT doc_a AS query_id, doc_b AS doc_id FROM p0
           UNION ALL
           SELECT doc_b AS query_id, doc_a AS doc_id FROM p0),
         toks AS (
           SELECT doc_id, list_transform(
                    list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> len(t) > 0),
                    t -> t || 'x' || CAST(doc_id % 16 AS VARCHAR)) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         qt AS (
           SELECT DISTINCT q.query_id, tr.term
           FROM (SELECT DISTINCT query_id FROM rel) q
           JOIN tr ON tr.doc_id = q.query_id),
         scored AS (
           SELECT qt.query_id, tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + (dl.dl / s.avgdl * 0.75 + 0.25) * 1.2)) AS score
           FROM qt JOIN tf USING (term) JOIN dfq USING (term)
           JOIN dl ON dl.doc_id = tf.doc_id
           CROSS JOIN stats s
           WHERE tf.doc_id != qt.query_id
           GROUP BY qt.query_id, tf.doc_id),
         run20 AS (
           SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id) AS rank
             FROM scored)
           WHERE rank <= 20)""" +
        """,
         neg AS (
           SELECT r.query_id, r.doc_id, r.rank FROM run20 r
           WHERE r.query_id % 4 = 0
             AND NOT EXISTS (SELECT 1 FROM rel
                             WHERE rel.query_id = r.query_id
                               AND rel.doc_id = r.doc_id)),
         nr AS (
           SELECT query_id, doc_id,
                  CAST(row_number() OVER (PARTITION BY query_id
                                          ORDER BY rank) AS INTEGER) AS neg_rank
           FROM neg)
         SELECT query_id, doc_id, neg_rank
         FROM nr WHERE neg_rank <= 5
         ORDER BY query_id, neg_rank"""),

    // q85: both the token hash AND the weight table recomputed from
    // scratch — mix64∘FNV per distinct term (the q23 machinery),
    // mix64 over range(4096) for the closed-form weights, exact
    // integer sums per doc.
    "q85_classifier_score" ->
      (ClassifierScoreCte +
        "SELECT doc_id, n_feat, score_milli FROM cscores ORDER BY doc_id"),

    // q87: the q85 scores gated per source — rank and count in one
    // window partitioning, keep ceil(n/2), aggregate the survivors.
    "q87_gated_sample" ->
      (ClassifierScoreCte +
        """, csrc AS (
             SELECT s.doc_id, s.score_milli, d.source
             FROM cscores s JOIN documents d USING (doc_id)),
           crk AS (
             SELECT doc_id, source, score_milli,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY score_milli DESC, doc_id) AS rn,
                    count(1) OVER (PARTITION BY source) AS n
             FROM csrc)
           SELECT source, CAST(count(1) AS BIGINT) AS n_kept,
                  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                  CAST(sum(score_milli) AS BIGINT) AS score_sum
           FROM crk WHERE rn <= ceil(n * 0.5)
           GROUP BY source ORDER BY source"""),

    // q90: the q85 scores under a per-source WEIGHT budget — a doc is
    // kept iff the source's running n_chars total (score desc, id asc
    // order) including it stays <= 4000. One cumulative-sum window; the
    // engine's skew-safe two-pass threshold form is spec-pinned equal.
    "q90_token_budget" ->
      (ClassifierScoreCte +
        """, csrc AS (
             SELECT s.doc_id, s.score_milli, d.source, d.n_chars
             FROM cscores s JOIN documents d USING (doc_id)),
           ccum AS (
             SELECT doc_id, source, score_milli, n_chars,
                    sum(n_chars) OVER (PARTITION BY source
                                       ORDER BY score_milli DESC, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum
             FROM csrc)
           SELECT source, CAST(count(1) AS BIGINT) AS n_kept,
                  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                  CAST(sum(n_chars) AS BIGINT) AS chars_kept,
                  CAST(sum(score_milli) AS BIGINT) AS score_sum
           FROM ccum WHERE cum <= 4000
           GROUP BY source ORDER BY source"""),

    // q91: in the unsaturated regime (k=4096 > user ndv at every test
    // SF) every KMV estimate equals the exact distinct count, so the
    // oracle is plain set algebra over COUNT(DISTINCT).
    "q91_kmv_sets" ->
      """WITH a AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'click' AND value > 80),
           b AS (SELECT DISTINCT user_id FROM events
                 WHERE event_type = 'view' AND value > 80)
         SELECT (SELECT count(1) FROM a) AS ndv_click,
                (SELECT count(1) FROM b) AS ndv_view,
                (SELECT count(1) FROM (SELECT * FROM a UNION SELECT * FROM b))
                  AS ndv_union,
                (SELECT count(1) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
                  AS ndv_intersect,
                (SELECT count(1) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
                  AS ndv_click_only""",

    // q93: unsaturated sketches are complete, so the streamed
    // telemetry report equals plain per-source SQL: doc/token counts,
    // exact distinct tokens, and the top term under (count desc, term)
    // — independent of how the stream was batched.
    "q93_stream_telemetry" ->
      """WITH toks AS (
           SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                             x -> length(x) > 0)) AS term
           FROM documents),
         per AS (
           SELECT source, count(1) AS n_tokens,
                  count(DISTINCT term) AS ndv_tokens
           FROM toks GROUP BY source),
         dcs AS (SELECT source, count(1) AS n_docs FROM documents GROUP BY source),
         tc AS (SELECT source, term, count(1) AS n FROM toks GROUP BY source, term),
         top AS (SELECT source, term AS top_term, n AS top_n,
                        row_number() OVER (PARTITION BY source
                                           ORDER BY n DESC, term) AS rn
                 FROM tc)
         SELECT d.source, d.n_docs, p.n_tokens, p.ndv_tokens,
                t.top_term, CAST(t.top_n AS BIGINT) AS top_n
         FROM dcs d JOIN per p USING (source) JOIN top t USING (source)
         WHERE t.rn = 1 ORDER BY d.source""",

    // q92: with capacity >> vocabulary the MG sketch never decrements,
    // so its counts equal the exact groupBy truth (q21's tokenization).
    "q92_heavy_hitters" ->
      """SELECT term, count(1) AS n FROM (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> length(x) > 0)) AS term
           FROM documents)
         GROUP BY term ORDER BY n DESC, term LIMIT 20""",

    // q87b: the q87 gate under the LEARNED weights — scored from the
    // committed training snapshot (VALUES list below), bucketed mod 64
    // on the same mix64 token hash, bias added per doc, then the same
    // per-source ceil(n/2) selection. The engine trains fresh at query
    // time; agreement with this oracle is exactly the statement that
    // training reproduced the committed snapshot.
    "q87b_trained_gate" -> (TokenHashCte +
      s""",
         bkt AS (SELECT term, CAST(xor(z, z // 2147483648) % $GateDim AS INTEGER) AS j FROM t5),
         wj(j, w) AS (VALUES ${CommittedGateWeightsMilli.zipWithIndex
           .map { case (w, j) => s"($j, $w)" }.mkString(", ")}),
         agg AS (SELECT t.doc_id, CAST(sum(wj.w) AS BIGINT) AS s
                 FROM toks t JOIN bkt USING (term) JOIN wj ON wj.j = bkt.j
                 GROUP BY t.doc_id),
         cscores AS (
           SELECT d.doc_id,
                  coalesce(a.s, CAST(0 AS BIGINT)) + ($CommittedGateBiasMilli) AS score_milli
           FROM documents d LEFT JOIN agg a USING (doc_id)),
         csrc AS (
           SELECT s.doc_id, s.score_milli, d.source
           FROM cscores s JOIN documents d USING (doc_id)),
         crk AS (
           SELECT doc_id, source, score_milli,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY score_milli DESC, doc_id) AS rn,
                  count(1) OVER (PARTITION BY source) AS n
           FROM csrc)
         SELECT source, CAST(count(1) AS BIGINT) AS n_kept,
                CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(score_milli) AS BIGINT) AS score_sum
         FROM crk WHERE rn <= ceil(n * 0.5)
         GROUP BY source ORDER BY source"""),

    "q31_ngram_jaccard" -> NgramJaccardOracleSql,

    // the persisted-gram lifecycle must return exactly the one-shot q31
    // answer — the SAME oracle string, bound once so the two can never
    // drift apart
    "q31b_ngram_persisted" -> NgramJaccardOracleSql,

    // the incremental build+append lifecycle must return exactly the
    // one-shot q31 answer over the full corpus
    "q31c_ngram_incremental" -> NgramJaccardOracleSql,

    // the STREAMED index maintenance loop must too — same oracle again
    "q83_stream_neardup" -> NgramJaccardOracleSql,

    "q29_map_merge" ->
      """WITH base AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
                  CASE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 4
                       WHEN 0 THEN 'car' WHEN 1 THEN 'truck'
                       WHEN 2 THEN 'bus' ELSE 'bike' END AS vclass,
                  'evt_' || event_type AS evt
           FROM events),
         kv AS (
           SELECT day, key, count(1) AS cnt FROM (
             SELECT day, vclass AS key FROM base
             UNION ALL
             SELECT day, evt AS key FROM base)
           GROUP BY day, key)
         SELECT day, string_agg(key || ':' || cnt, ',' ORDER BY key) AS breakdown
         FROM kv GROUP BY day ORDER BY day""",

    "q36_sql_tokens" ->
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE CAST(array_length(string_split_regex(trim(text), '\s+')) AS INTEGER) END AS n_tokens,
                n_chars
         FROM documents ORDER BY doc_id""",

    "q30_sql_aqi" ->
      """WITH aqi AS (
           SELECT value AS pm25,
             CASE WHEN value <= 12.0 THEN CAST(trunc((50.0/12.0) * value) AS INTEGER)
                  WHEN value <= 35.4 THEN CAST(trunc(50 + (50.0/23.4) * (value - 12.0)) AS INTEGER)
                  WHEN value <= 55.4 THEN CAST(trunc(100 + (50.0/20.0) * (value - 35.4)) AS INTEGER)
                  WHEN value <= 150.4 THEN CAST(trunc(150 + (50.0/95.0) * (value - 55.4)) AS INTEGER)
                  WHEN value <= 250.4 THEN CAST(trunc(200 + (100.0/100.0) * (value - 150.4)) AS INTEGER)
                  ELSE CAST(trunc(300 + (200.0/249.6) * least(value - 250.4, 249.6)) AS INTEGER) END AS aqi,
             CASE WHEN value <= 12.0 THEN 'Good'
                  WHEN value <= 35.4 THEN 'Moderate'
                  WHEN value <= 55.4 THEN 'Unhealthy for Sensitive Groups'
                  WHEN value <= 150.4 THEN 'Unhealthy'
                  WHEN value <= 250.4 THEN 'Very Unhealthy'
                  ELSE 'Hazardous' END AS category
           FROM events)
         SELECT category, count(1) AS n, round(avg(aqi), 4) AS avg_aqi
         FROM aqi GROUP BY category ORDER BY category""",

    "q26_langid" ->
      """WITH toks AS (
           SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk
           FROM documents),
         hits AS (
           SELECT
             length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS en,
             length(list_filter(tk, x -> x IN ('le','la','les','de','des','du','et','ou','un','une','est','que','qui','dans','pour','sur','avec','au','ce','pas'))) AS fr,
             length(list_filter(tk, x -> x IN ('der','die','das','und','oder','ein','eine','ist','zu','den','von','mit','auf','für','im','nicht','sich','dem','sie','werden'))) AS de,
             length(list_filter(tk, x -> x IN ('el','la','los','las','de','y','o','un','una','es','que','en','por','para','con','no','se','del','al','como'))) AS es
           FROM toks)
         SELECT CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                     WHEN en = greatest(en, fr, de, es) THEN 'en'
                     WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                     WHEN de = greatest(en, fr, de, es) THEN 'de'
                     ELSE 'es' END AS lang_pred, count(1) AS n
         FROM hits GROUP BY 1 ORDER BY lang_pred""",

    "q38_anti_join" ->
      """SELECT c_mktsegment, count(1) AS n_customers,
                round(avg(c_acctbal), 4) AS avg_acctbal
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q39_star_join" ->
      """SELECT p_brand, n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         GROUP BY p_brand, n_name ORDER BY p_brand, n_name""",

    // q40 re-aggregates the q12 join through the bucketed layout — the
    // oracle is the plain join, proving layout changes nothing.
    "q40_bucketed_cojoin" ->
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // q40b serves the same aggregate through the ensure() lifecycle —
    // identical oracle: the build/serve split must change nothing.
    "q40b_bucketed_serve" ->
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // q41's oracle is the unsalted join — salting must be invisible in
    // the result.
    "q41_salted_join" ->
      """SELECT s_nationkey,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey""",

    // q42's oracle probes each click with an independent algorithm —
    // a LATERAL top-1 subquery — not the union/window trick the Spark
    // side uses. CAST(ts AS TIMESTAMP) truncates DuckDB's nanosecond
    // read to the same microseconds Spark's loader produces, so the
    // <= boundary is decided on identical values in both engines.
    "q42_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                           value, event_type FROM events),
              c AS (SELECT * FROM e WHERE event_type = 'click'),
              v AS (SELECT * FROM e WHERE event_type = 'view')
         SELECT c.event_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                lv.view_value
         FROM c LEFT JOIN LATERAL (
           SELECT round(v.value, 4) AS view_value FROM v
           WHERE v.user_id = c.user_id AND v.ts <= c.ts
           ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) lv ON TRUE
         ORDER BY event_id""",

    // q63's oracle probes each click independently: minimum absolute
    // distance, ties to the earlier (backward) row, same-timestamp
    // rights to the largest ord — exactly asofJoinNearest's contract.
    "q63_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                           value, event_type FROM events),
              c AS (SELECT * FROM e WHERE event_type = 'click'),
              v AS (SELECT * FROM e WHERE event_type = 'view')
         SELECT c.event_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                lv.view_value
         FROM c LEFT JOIN LATERAL (
           SELECT round(v.value, 4) AS view_value FROM v
           WHERE v.user_id = c.user_id
           ORDER BY abs(epoch_us(v.ts) - epoch_us(c.ts)) ASC,
                    (v.ts > c.ts) ASC, v.event_id DESC LIMIT 1) lv ON TRUE
         ORDER BY event_id""",

    // q43's oracle is the plain inequality join — correct at sf0.01,
    // quadratic at scale; the binned equi-join must return exactly it.
    "q43_range_join" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value,
                           event_type FROM events),
              er AS (SELECT event_id AS err_id, ts AS err_start,
                            ts + INTERVAL 10 MINUTE AS err_end
                     FROM e WHERE event_type = 'error'),
              c AS (SELECT ts AS click_ts, value FROM e
                    WHERE event_type = 'click')
         SELECT err_id, count(1) AS n_clicks, round(sum(value), 4) AS total_value
         FROM er JOIN c ON c.click_ts >= er.err_start AND c.click_ts <= er.err_end
         GROUP BY err_id ORDER BY err_id""",

    // q44's oracle restates the gap rule in DuckDB window SQL; micros
    // everywhere so the >30min comparison is exact in both engines.
    "q44_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                           value FROM events),
              s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                         THEN 1 ELSE 0 END AS ns
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              -- CAST: DuckDB's integer window sum returns HUGEINT, which
              -- survives to the compare as a float-rendered column
              x AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM s)
         SELECT user_id, session_idx, count(1) AS n_events,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                round(sum(value), 4) AS total_value,
                (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_sec
         FROM x GROUP BY user_id, session_idx ORDER BY user_id, session_idx""",

    // q55: exact-regime oracle — at lgK = 14 the sketch is in coupon
    // mode at every committed SF (≤1500 distinct vs ~8k where the
    // collision correction first rounds away from c), so the rounded
    // estimate equals COUNT(DISTINCT) deterministically. The saturated
    // regime (where estimator families genuinely differ) is spec-
    // pinned in AggSpec, not oracled.
    "q55_hll_distinct" ->
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS hll_users,
                CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         FROM events GROUP BY event_type ORDER BY event_type""",

    // q54: the BM25 formula restated in SQL (ln == Spark's log, both
    // natural); top-20 selected on the UNROUNDED score with doc_id
    // tiebreak in both engines, rounded only for the compare.
    "q54_bm25" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('the', 'data', 'model') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id)
         SELECT doc_id, round(score, 4) AS score
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
         ORDER BY score DESC, doc_id""",

    // q139: identical oracle to q54 — streamed arrival must not move
    // one score (df/corpus stats derive at serve time, so the pair of
    // tables answers exactly like the one-shot formula).
    "q139_bm25_stream" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('the', 'data', 'model') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id)
         SELECT doc_id, round(score, 4) AS score
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
         ORDER BY score DESC, doc_id""",

    // q54b: identical oracle to q54 — the build/serve lifecycle must
    // not change a single score.
    "q54b_bm25_persisted" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('the', 'data', 'model') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id)
         SELECT doc_id, round(score, 4) AS score
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
         ORDER BY score DESC, doc_id""",

    // q52: same window arithmetic over the same whitespace tokens;
    // DuckDB's list_slice is 1-based inclusive (end = start+len-1).
    "q52_chunking" ->
      """WITH g AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              t -> len(t) > 0) AS ws
           FROM documents),
         k AS (
           SELECT doc_id, ws,
                  greatest(CAST(ceil((len(ws) - 50) / 40.0) AS INT), 0) AS kmax
           FROM g WHERE len(ws) > 0),
         c AS (
           SELECT doc_id, unnest(range(0, kmax + 1)) AS chunk_id, ws FROM k)
         SELECT doc_id, chunk_id,
                len(list_slice(ws, chunk_id * 40 + 1, chunk_id * 40 + 50)) AS n_tokens,
                md5(array_to_string(list_slice(ws, chunk_id * 40 + 1,
                      chunk_id * 40 + 50), ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id""",

    // q143: the q53 packing CTE extended to full sequence rebuild —
    // string_agg in doc order with the \n\n separator, offsets an
    // exclusive prefix sum of (len+2) per bin, both aggregated in
    // doc order.
    "q143_sequence_assembly" ->
      """WITH p AS (
           SELECT doc_id, n_chars, text,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM documents),
         b AS (
           SELECT shard, doc_id, n_chars, text,
                  CAST(floor(coalesce(sum(n_chars) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 20000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, text,
                  coalesce(sum(len(text) + 2) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(len(string_agg(text, e'\n\n' ORDER BY doc_id))
                  AS BIGINT) AS seq_chars,
                md5(string_agg(text, e'\n\n' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv
         FROM o GROUP BY shard, bin ORDER BY shard, bin""",

    // q144: gate, cuts, and the PSM re-assembly restated wholesale —
    // the md5-prefix draws are the Sampling discipline, so DuckDB
    // derives byte-identical transforms.
    "q144_fim_transform" ->
      """WITH d AS (
           SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimgate'), 1, 8))::BIGINT
                    % 100 AS gate,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimc1'), 1, 8))::BIGINT AS d1,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimc2'), 1, 8))::BIGINT AS d2
           FROM documents),
         c AS (
           SELECT doc_id, text, n, gate,
                  least(d1 % (n + 1), d2 % (n + 1)) AS lo,
                  greatest(d1 % (n + 1), d2 % (n + 1)) AS hi
           FROM d),
         t AS (
           SELECT doc_id,
                  CASE WHEN gate < 50 THEN
                    '<PRE>' || substr(text, 1, CAST(lo AS INT)) ||
                    '<SUF>' || substr(text, CAST(hi + 1 AS INT),
                                      CAST(n - hi AS INT)) ||
                    '<MID>' || substr(text, CAST(lo + 1 AS INT),
                                      CAST(hi - lo AS INT))
                  ELSE text END AS out
           FROM c)
         SELECT doc_id, md5(out) AS fim_md5,
                CAST(len(out) AS BIGINT) AS fim_chars
         FROM t ORDER BY doc_id""",

    // q145: tokenization replayed closed-form — the committed merges
    // are character-disjoint ('th'/'in' share no characters, so their
    // occurrences in a word can never overlap and merge ORDER is
    // immaterial) and non-chaining, so the greedy tokenizer's symbol
    // list equals one left-to-right non-overlapping scan 'th|in|.'
    // plus the trailing-e end-of-word merge; ids are the committed
    // scheme (1='</w>', 2..4=merge rank, 5+codepoint=base chars,
    // 0=EOS between docs). Shard/bin = the q53 arithmetic on token
    // counts; sequences and offsets rebuild like q143's.
    "q145_token_shards" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (
           SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, ids,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, ids,
                  coalesce(sum(len(ids) + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(sum(len(ids) + 1) AS BIGINT) AS seq_tokens,
                md5(string_agg(array_to_string(list_append(ids, 0), ','),
                    ',' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv
         FROM o GROUP BY shard, bin ORDER BY shard, bin""",

    // q168: the interleaved string, resolved URLs, caption ladder,
    // and counts stated verbatim from the template — a placeholder
    // out of position, a leaked chrome logo, or a dropped content
    // image breaks the hash.
    "q168_interleaved_docs" ->
      """WITH b AS (
           SELECT doc_id, CAST(doc_id % 20 AS VARCHAR) AS k,
                  CAST(doc_id AS VARCHAR) AS i
           FROM documents)
         SELECT doc_id,
                'First paragraph of page ' || i ||
                ' with enough characters to keep it.' || chr(10) ||
                '<|image_0|>' || chr(10) ||
                'Second paragraph of page ' || i ||
                ' is also long enough to keep around.' || chr(10) ||
                '<|image_1|>' AS interleaved_text,
                'https://site' || k || '.example.com/dir/pics/a' || i ||
                '.jpg|https://site' || k || '.example.com/f/b' || i ||
                '.png' AS image_urls_csv,
                'Alt ' || i || '|Cap ' || i AS captions_csv,
                CAST(2 AS INT) AS n_images, CAST(2 AS INT) AS n_kept
         FROM b ORDER BY doc_id""",

    // q170: every page's effective capture closed-form from the
    // two-crawl template — 304s keep crawl A's body and date under
    // crawl B's observation date; the ledger's ETag is the latest
    // validator observed (B's echo for 304s, B's new tag elsewhere).
    "q170_revalidation" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN 'revalidated'
                     ELSE 'fresh' END AS source,
                '2026-02-02T00:00:00Z' AS observed_date,
                CASE WHEN doc_id % 3 = 0 THEN '2026-02-01T00:00:00Z'
                     ELSE '2026-02-02T00:00:00Z' END AS content_date,
                CASE WHEN doc_id % 3 = 0
                     THEN 'cached content of page ' || CAST(doc_id AS VARCHAR)
                     ELSE 'fresh content of page ' || CAST(doc_id AS VARCHAR)
                END AS body_text,
                CASE WHEN doc_id % 3 = 0
                     THEN '"et-' || CAST(doc_id AS VARCHAR) || '"'
                     ELSE '"et2-' || CAST(doc_id AS VARCHAR) || '"'
                END AS ledger_etag
         FROM documents ORDER BY doc_id""",

    // q171: every fixture class's 13 repetition permilles and fired
    // rule stated as CLOSED-FORM constants (hand-derived from the
    // planted word geometry — e.g. class 0 is a one-word paragraph
    // appearing 4x among 9: 3 dup occurrences of 9 = 333 permille on
    // all four line/para stats); the corpus only contributes
    // membership counts and id sums per class.
    "q171_gopher_repetition" ->
      """WITH fx(cls, verdict, dup_para_pm, dup_line_pm, dup_para_char_pm,
                 dup_line_char_pm, top2_pm, top3_pm, top4_pm, dup5_pm,
                 dup6_pm, dup7_pm, dup8_pm, dup9_pm, dup10_pm) AS (VALUES
             (0,'dup_para',333,333,333,333,0,0,0,0,0,0,0,0,0),
             (1,'none',200,200,200,200,0,0,0,0,0,0,0,0,0),
             (2,'dup_line',0,375,0,375,0,0,0,0,0,0,0,0,0),
             (3,'none',0,200,0,200,0,0,0,0,0,0,0,0,0),
             (4,'dup_para_char',100,100,430,430,83,125,166,833,833,833,833,833,833),
             (5,'none',38,38,192,192,0,0,0,0,0,0,0,0,0),
             (6,'dup_line_char',0,100,0,378,0,0,0,0,0,0,0,0,0),
             (7,'none',0,40,0,197,0,0,0,0,0,0,0,0,0),
             (8,'top_2gram',0,0,0,0,400,0,0,0,0,0,0,0,0),
             (9,'none',0,0,0,0,181,0,0,0,0,0,0,0,0),
             (10,'top_3gram',0,0,0,0,181,272,0,0,0,0,0,0,0),
             (11,'none',0,0,0,0,117,176,0,0,0,0,0,0,0),
             (12,'top_4gram',0,0,0,0,100,150,200,0,0,0,0,0,0),
             (13,'none',0,0,0,0,76,115,153,0,0,0,0,0,0),
             (14,'dup_5gram',0,0,0,0,72,109,145,181,0,0,0,0,0),
             (15,'none',0,0,0,0,59,89,119,149,0,0,0,0,0),
             (16,'dup_6gram',0,0,0,0,48,73,97,146,146,0,0,0,0),
             (17,'none',0,0,0,0,46,69,93,139,139,0,0,0,0),
             (18,'dup_7gram',0,0,0,0,38,58,77,135,135,135,0,0,0),
             (19,'none',0,0,0,0,37,55,74,129,129,129,0,0,0),
             (20,'dup_8gram',0,0,0,0,31,46,62,125,125,125,125,0,0),
             (21,'none',0,0,0,0,29,44,59,119,119,119,119,0,0),
             (22,'dup_9gram',0,0,0,0,25,38,51,115,115,115,115,115,0),
             (23,'none',0,0,0,0,24,36,48,109,109,109,109,109,0),
             (24,'dup_10gram',0,0,0,0,21,31,42,105,105,105,105,105,105),
             (25,'none',0,0,0,0,20,30,40,100,100,100,100,100,100)),
         d AS (SELECT doc_id, CAST(doc_id % 26 AS INT) AS cls
               FROM documents)
         SELECT f.cls, f.verdict,
                CAST(f.dup_para_pm AS BIGINT) AS dup_para_pm,
                CAST(f.dup_line_pm AS BIGINT) AS dup_line_pm,
                CAST(f.dup_para_char_pm AS BIGINT) AS dup_para_char_pm,
                CAST(f.dup_line_char_pm AS BIGINT) AS dup_line_char_pm,
                CAST(f.top2_pm AS BIGINT) AS top2_pm,
                CAST(f.top3_pm AS BIGINT) AS top3_pm,
                CAST(f.top4_pm AS BIGINT) AS top4_pm,
                CAST(f.dup5_pm AS BIGINT) AS dup5_pm,
                CAST(f.dup6_pm AS BIGINT) AS dup6_pm,
                CAST(f.dup7_pm AS BIGINT) AS dup7_pm,
                CAST(f.dup8_pm AS BIGINT) AS dup8_pm,
                CAST(f.dup9_pm AS BIGINT) AS dup9_pm,
                CAST(f.dup10_pm AS BIGINT) AS dup10_pm,
                count(1) AS n_docs, CAST(sum(d.doc_id) AS BIGINT) AS id_sum
         FROM d JOIN fx f USING (cls)
         GROUP BY ALL ORDER BY f.cls""",

    // q171b: the funnel — fire classes charge their named rule, pass
    // classes flow to exact dedup where the class's min doc_id is the
    // keeper (all docs of a class share one fixture text).
    "q171b_gopher_gate" ->
      """WITH fx(cls, fail) AS (VALUES
             (0,'repetition:dup_para'), (1,NULL),
             (2,'repetition:dup_line'), (3,NULL),
             (4,'repetition:dup_para_char'), (5,NULL),
             (6,'repetition:dup_line_char'), (7,NULL),
             (8,'repetition:top_2gram'), (9,NULL),
             (10,'repetition:top_3gram'), (11,NULL),
             (12,'repetition:top_4gram'), (13,NULL),
             (14,'repetition:dup_5gram'), (15,NULL),
             (16,'repetition:dup_6gram'), (17,NULL),
             (18,'repetition:dup_7gram'), (19,NULL),
             (20,'repetition:dup_8gram'), (21,NULL),
             (22,'repetition:dup_9gram'), (23,NULL),
             (24,'repetition:dup_10gram'), (25,NULL)),
         d AS (SELECT doc_id, CAST(doc_id % 26 AS INT) AS cls
               FROM documents),
         k AS (SELECT cls, min(doc_id) AS keeper FROM d GROUP BY 1),
         v AS (SELECT d.doc_id,
                      coalesce(f.fail,
                        CASE WHEN d.doc_id = k.keeper THEN 'kept'
                             ELSE 'duplicate' END) AS verdict
               FROM d JOIN fx f USING (cls) JOIN k USING (cls))
         SELECT verdict, count(1) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM v GROUP BY 1 ORDER BY 1""",

    // q172: the BRUTE-FORCE pair truth (the q22 discipline, corpus x
    // bench instead of corpus self-join): every doc's char-5-gram
    // Jaccard against every bench item recomputed from scratch — the
    // LSH path must reproduce it exactly, so a banding recall miss is
    // a correctness failure, not a silent gap.
    "q172_fuzzy_decontamination" ->
      """WITH bench(bench_id, btext) AS (VALUES
             (0, 'zqa0 zqa1 zqa2 zqa3 zqa4 zqa5 zqa6 zqa7 zqa8 zqa9 zqa10 zqa11 zqa12 zqa13 zqa14'),
             (1, 'zqb0 zqb1 zqb2 zqb3 zqb4 zqb5 zqb6 zqb7 zqb8 zqb9 zqb10 zqb11 zqb12 zqb13 zqb14'),
             (2, 'zqc0 zqc1 zqc2 zqc3 zqc4 zqc5 zqc6 zqc7 zqc8 zqc9 zqc10 zqc11 zqc12 zqc13 zqc14')),
         u AS (
           SELECT d.doc_id,
                  CASE WHEN d.doc_id % 7 = 4 THEN 'zz ' || b.btext
                       WHEN d.doc_id % 7 = 5 THEN b.btext || ' ' || d.text
                       ELSE d.text END AS text
           FROM documents d
           JOIN bench b ON b.bench_id = d.doc_id % 3),
         n AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
           FROM u),
         s AS (
           SELECT doc_id, list_distinct(list_transform(
                    range(1, greatest(length(t) - 4, 1) + 1),
                    i -> substr(t, i, 5))) AS sh
           FROM n),
         nb AS (
           SELECT bench_id, trim(regexp_replace(regexp_replace(lower(btext),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
           FROM bench),
         sb AS (
           SELECT bench_id, list_distinct(list_transform(
                    range(1, greatest(length(t) - 4, 1) + 1),
                    i -> substr(t, i, 5))) AS sh
           FROM nb),
         p AS (
           SELECT a.doc_id, b.bench_id,
                  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                    AS j
           FROM s a CROSS JOIN sb b)
         SELECT doc_id, CAST(count(1) AS BIGINT) AS n_bench_hits,
                round(max(j), 4) AS max_jaccard
         FROM p WHERE j >= 0.8
         GROUP BY doc_id ORDER BY doc_id""",

    // q173: fire classes are closed-form ('badwords' for cls 0/1/3,
    // url_blocked only for cls 4); the pass classes' kept/duplicate
    // split replays the md5 keeper logic over the MODIFIED texts —
    // the q166 oracle discipline.
    "q173_c4_badwords" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id % 6 AS INT) AS cls,
                  CASE CAST(doc_id % 6 AS INT)
                    WHEN 0 THEN text || ' viagra casino offers'
                    WHEN 1 THEN text || ' Hot PORN! site'
                    WHEN 2 THEN text || ' sussex essex classy'
                    WHEN 3 THEN text || ' free-porn links'
                    ELSE text END AS text
           FROM documents),
         b AS (
           SELECT doc_id, cls, text,
                  cls IN (0, 1, 3) AS blocked,
                  cls = 4 AS url_blocked
           FROM d),
         k AS (
           SELECT md5(text) AS dk, min(doc_id) AS keeper
           FROM b WHERE NOT blocked GROUP BY 1),
         v AS (
           SELECT b.doc_id, b.cls, b.url_blocked,
                  CASE WHEN b.blocked THEN 'badwords'
                       WHEN b.doc_id = k.keeper THEN 'kept'
                       ELSE 'duplicate' END AS verdict
           FROM b LEFT JOIN k ON NOT b.blocked AND md5(b.text) = k.dk)
         SELECT cls, verdict, url_blocked, count(1) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM v GROUP BY ALL ORDER BY cls, verdict""",

    // q174: the q145 closed-form chain with the interleaved splices —
    // per-doc ids gain [-2] placeholders (cls1 also the fixed
    // "the small table" run: [2,4 | 120,114,102,113,113,1 |
    // 121,102,103,113,4] under the committed scheme), then shard/bin
    // arithmetic, offsets, global slot positions (per-doc placeholder
    // index + doc offset) and pack-order refs all rebuild from
    // scratch.
    "q174_multimodal_shards" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS tids
           FROM w),
         mm AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 1 THEN list_concat(tids,
                      [-2, 2, 4, 120, 114, 102, 113, 113, 1,
                       121, 102, 103, 113, 4])
                    WHEN 2 THEN list_concat(list_prepend(-2, tids), [-2])
                    ELSE tids END AS ids,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 1 THEN ['https://img.example.com/a' ||
                                 CAST(doc_id AS VARCHAR) || '.jpg']
                    WHEN 2 THEN ['https://img.example.com/b' ||
                                   CAST(doc_id AS VARCHAR) || '.png',
                                 'https://img.example.com/c' ||
                                   CAST(doc_id AS VARCHAR) || '.png']
                    ELSE CAST([] AS VARCHAR[]) END AS refs
           FROM tok),
         p AS (
           SELECT doc_id, ids, refs, CAST(len(ids) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM mm),
         b AS (
           SELECT shard, doc_id, ids, refs,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, ids, refs,
                  coalesce(sum(len(ids) + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b),
         sl AS (
           SELECT shard, bin, doc_id, ids, refs, off,
                  list_transform(
                    list_filter(range(1, len(ids) + 1), i -> ids[i] = -2),
                    i -> i - 1 + off) AS poss
           FROM o)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(sum(len(ids) + 1) AS BIGINT) AS seq_tokens,
                md5(string_agg(array_to_string(list_append(ids, 0), ','),
                    ',' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv,
                CAST(coalesce(sum(len(poss)), 0) AS BIGINT) AS n_slots,
                coalesce(string_agg(array_to_string(poss, ','), ','
                    ORDER BY doc_id) FILTER (len(poss) > 0), '')
                  AS positions_csv,
                coalesce(string_agg(array_to_string(refs, '|'), '|'
                    ORDER BY doc_id) FILTER (len(refs) > 0), '')
                  AS refs_csv
         FROM sl GROUP BY shard, bin ORDER BY shard, bin""",

    // q174b: tokens restated via the same chain (+placeholders +sep),
    // image slots from the planted class shape (cls1 one, cls2 two).
    "q174b_image_attribution" ->
      """WITH w AS (
           SELECT doc_id, source, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id, source,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS tids
           FROM w),
         mm AS (
           SELECT doc_id, source, CAST(doc_id % 3 AS INT) AS cls,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 1 THEN len(tids) + 14
                    WHEN 2 THEN len(tids) + 2
                    ELSE len(tids) END AS n_tok
           FROM tok)
         SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                CAST(sum(n_tok + 1) AS BIGINT) AS n_tokens_with_sep,
                CAST(sum(CASE cls WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END)
                  AS BIGINT) AS n_image_slots
         FROM mm GROUP BY source ORDER BY source""",

    // q176: the BFD assignment restated as pure rank arithmetic —
    // the 70-doc is bin 0; 50-rank r is bin 1 + r div 2 (an odd n50
    // leaves a half-filled 50-TAIL bin, remaining 50); the first
    // 25-doc joins bin 0 (the tightest gap, remaining 30), with an
    // odd n50 the next TWO 25s fill the 50-tail bin, and the rest
    // open bins of 4 after the 50 bins. Both n50 parities are stated
    // so the oracle expresses the ALGORITHM, not the battery data's
    // even-n50 accident.
    "q176_bestfit_packing" ->
      """WITH s AS (
           SELECT doc_id, CASE WHEN doc_id = 0 THEN 70
                               WHEN doc_id % 2 = 1 THEN 50
                               ELSE 25 END AS sz
           FROM documents),
         c AS (SELECT CAST(sum(CASE WHEN sz = 50 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n50 FROM s),
         r AS (SELECT doc_id, sz,
                 row_number() OVER (PARTITION BY sz ORDER BY doc_id) - 1
                   AS rk
               FROM s),
         a AS (SELECT doc_id, sz,
                 CASE WHEN sz = 70 THEN 0
                      WHEN sz = 50 THEN 1 + rk // 2
                      WHEN rk = 0 THEN 0
                      WHEN (SELECT n50 FROM c) % 2 = 1 AND rk <= 2
                        THEN 1 + ((SELECT n50 FROM c) - 1) // 2
                      WHEN (SELECT n50 FROM c) % 2 = 1
                        THEN 1 + ((SELECT n50 FROM c) + 1) // 2
                               + (rk - 3) // 4
                      ELSE 1 + (SELECT n50 FROM c) // 2 + (rk - 1) // 4
                 END AS bin
               FROM r)
         SELECT CAST(0 AS INT) AS shard, CAST(bin AS BIGINT) AS bin,
                count(1) AS n_docs, CAST(sum(sz) AS BIGINT) AS sz_sum,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM a GROUP BY bin ORDER BY bin""",

    // q176b: the BFD row from the same arithmetic (bins = 1 + n50/2 +
    // ceil((n25-1)/4)), the contiguous row replayed via the window
    // cumsum bin cut.
    "q176b_packing_report" ->
      """WITH s AS (
           SELECT doc_id, CASE WHEN doc_id = 0 THEN 70
                               WHEN doc_id % 2 = 1 THEN 50
                               ELSE 25 END AS sz
           FROM documents),
         tot AS (
           SELECT CAST(count(1) AS BIGINT) AS n_items,
                  CAST(sum(sz) AS BIGINT) AS packed,
                  CAST(sum(CASE WHEN sz = 50 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n50,
                  CAST(sum(CASE WHEN sz = 25 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n25
           FROM s),
         bfd AS (
           -- odd n50: the half-filled 50-tail bin absorbs 25-ranks
           -- 1..2, so only n25-3 open fresh 4-packs; even n50: n25-1
           SELECT 'best_fit' AS method,
                  CASE WHEN n50 % 2 = 1
                    THEN 1 + (n50 + 1) // 2 + (n25 - 3 + 3) // 4
                    ELSE 1 + n50 // 2 + (n25 - 1 + 3) // 4
                  END AS n_bins,
                  n_items, packed
           FROM tot),
         ffb AS (
           SELECT doc_id, sz,
                  CAST(floor(coalesce(sum(sz) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / 100.0) AS BIGINT) AS bin
           FROM s),
         ff AS (
           SELECT 'contiguous' AS method,
                  CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
                  (SELECT n_items FROM tot) AS n_items,
                  (SELECT packed FROM tot) AS packed
           FROM ffb),
         u AS (SELECT * FROM bfd UNION ALL SELECT * FROM ff)
         SELECT method, CAST(n_bins AS BIGINT) AS n_bins, n_items,
                packed AS packed_size,
                CAST((packed * 1000) // (n_bins * 100) AS BIGINT)
                  AS fill_milli,
                CAST(n_bins * 100 - packed AS BIGINT) AS padding_waste
         FROM u ORDER BY method""",

    // q177: the q145 chain (tokens, shard, contiguous bin, offsets)
    // plus the planted boundary ladder; spans restated closed-form —
    // clamp to the doc length, +1 separator only when the completion
    // is non-empty, NULL boundary trains in full.
    "q177_sft_loss_mask" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (
           SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, n_tokens,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, n_tokens AS l,
                  coalesce(sum(n_tokens + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b),
         sp AS (
           SELECT shard, bin, doc_id, off, l,
                  least(CASE WHEN doc_id % 5 = 0 THEN 0
                             WHEN doc_id % 5 = 1 THEN l
                             WHEN doc_id % 5 = 2 THEN 0
                             ELSE l // 2 END, l) AS cb
           FROM o),
         m AS (
           SELECT shard, bin, doc_id, l,
                  off + cb AS ms,
                  CASE WHEN cb < l THEN off + l + 1 ELSE off + cb END AS me
           FROM sp)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(sum(l + 1) AS BIGINT) AS seq_tokens,
                CAST(sum(me - ms) AS BIGINT) AS masked_tokens,
                string_agg(CAST(ms AS VARCHAR), ',' ORDER BY doc_id)
                  AS mask_starts_csv,
                string_agg(CAST(me AS VARCHAR), ',' ORDER BY doc_id)
                  AS mask_ends_csv
         FROM m GROUP BY shard, bin ORDER BY shard, bin""",

    // q178: pairs and batches restated from scratch — sequences via
    // range() off the planted lengths, masks via the completion rule,
    // batch ids as pure rank arithmetic over the 70/50 size classes
    // (both n70 parities stated: an odd 70-count leaves an open slot
    // the first 50 fills, padded to 70).
    "q178_dpo_batches" ->
      """WITH s AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 1 THEN 59 ELSE 39 END AS clen,
                  CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 39 END AS rlen,
                  CASE WHEN doc_id % 2 = 1 THEN 70 ELSE 50 END AS sz
           FROM documents),
         c AS (SELECT CAST(sum(CASE WHEN sz = 70 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n70 FROM s),
         r AS (SELECT doc_id, clen, rlen, sz,
                 row_number() OVER (PARTITION BY sz ORDER BY doc_id) - 1
                   AS rk
               FROM s),
         a AS (SELECT doc_id, clen, rlen, sz,
                 CASE WHEN sz = 70 THEN rk // 2
                      WHEN (SELECT n70 FROM c) % 2 = 1 AND rk = 0
                        THEN ((SELECT n70 FROM c) - 1) // 2
                      WHEN (SELECT n70 FROM c) % 2 = 1
                        THEN ((SELECT n70 FROM c) + 1) // 2 + (rk - 1) // 3
                      ELSE (SELECT n70 FROM c) // 2 + rk // 3
                 END AS batch,
                 CASE WHEN sz = 70 OR
                        ((SELECT n70 FROM c) % 2 = 1 AND rk = 0)
                   THEN 70 ELSE 50 END AS pad_len
               FROM r),
         p AS (SELECT doc_id, batch, pad_len, sz,
                 printf('%010d', doc_id) || '|' ||
                 array_to_string(list_append(
                   range(1, 11) || range(101, 101 + clen), 0), ',')
                 || '|' ||
                 array_to_string(list_append(
                   range(1, 11) || range(201, 201 + rlen), 0), ',') AS pr,
                 10 + clen + 1 AS mec,
                 CASE WHEN rlen > 0 THEN 10 + rlen + 1 ELSE 10 END AS mer
               FROM a)
         SELECT CAST(0 AS INT) AS shard, CAST(batch AS BIGINT) AS batch,
                CAST(pad_len AS BIGINT) AS pad_len,
                count(1) AS n_pairs,
                CAST(sum(sz) AS BIGINT) AS payload_tokens,
                CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(10) AS BIGINT) AS mask_start_sum,
                CAST(sum(mec) AS BIGINT) AS mask_end_chosen_sum,
                CAST(sum(mer) AS BIGINT) AS mask_end_rejected_sum,
                md5(string_agg(pr, ';' ORDER BY doc_id)) AS pairs_md5,
                CAST(pad_len * count(1) AS BIGINT) AS padded_tokens
         FROM p GROUP BY batch, pad_len ORDER BY batch""",

    // q179: positions restated per doc as range(0, len+1) in doc_id
    // order off the q145 chain; sum/max invariants from the same
    // lengths.
    "q179_position_ids" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (
           SELECT doc_id, CAST(len(ids) AS BIGINT) AS l,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, l,
                  CAST(floor(coalesce(sum(l) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p)
         SELECT shard, bin,
                CAST(sum(l + 1) AS BIGINT) AS seq_tokens,
                CAST(sum(l * (l + 1) // 2) AS BIGINT) AS pos_sum,
                CAST(max(l) AS BIGINT) AS pos_max,
                md5(string_agg(array_to_string(range(0, l + 1), ','),
                    ',' ORDER BY doc_id)) AS pos_md5
         FROM b GROUP BY shard, bin ORDER BY shard, bin""",

    // q180: the rendered bytes restated verbatim (md5) and both BPE
    // counts via the q145 chain over the rendered/prefix strings —
    // per word, token count = |th|in|.-pieces| plus one for the
    // appended </w> (zero when the word ends in 'e': the last piece
    // folds into e</w>).
    "q180_chat_render" ->
      """WITH r AS (
           SELECT doc_id,
                  '<|im_start|>system' || chr(10) || 'be helpful<|im_end|>'
                    || chr(10) || '<|im_start|>user' || chr(10)
                    || coalesce(text, '') || '<|im_end|>' || chr(10)
                    || '<|im_start|>assistant' || chr(10)
                    || coalesce(text, '') || '<|im_end|>' || chr(10)
                    AS rendered,
                  '<|im_start|>system' || chr(10) || 'be helpful<|im_end|>'
                    || chr(10) || '<|im_start|>user' || chr(10)
                    || coalesce(text, '') || '<|im_end|>' || chr(10)
                    || '<|im_start|>assistant' || chr(10) AS prefix
           FROM documents WHERE doc_id % 7 = 1),
         tc AS (
           SELECT doc_id, rendered,
                  coalesce(list_sum(list_transform(
                    list_filter(string_split(trim(regexp_replace(
                      regexp_replace(lower(rendered), '[!-/:-@\[-`{-~]', '',
                        'g'), '\s+', ' ', 'g')), ' '),
                      x -> length(x) > 0),
                    wd -> len(regexp_extract_all(wd, 'th|in|.'))
                          + CASE WHEN wd LIKE '%e' THEN 0 ELSE 1 END)), 0)
                    AS total_tokens,
                  coalesce(list_sum(list_transform(
                    list_filter(string_split(trim(regexp_replace(
                      regexp_replace(lower(prefix), '[!-/:-@\[-`{-~]', '',
                        'g'), '\s+', ' ', 'g')), ' '),
                      x -> length(x) > 0),
                    wd -> len(regexp_extract_all(wd, 'th|in|.'))
                          + CASE WHEN wd LIKE '%e' THEN 0 ELSE 1 END)), 0)
                    AS prompt_tokens
           FROM r)
         SELECT doc_id, md5(rendered) AS rendered_md5,
                CAST(total_tokens AS BIGINT) AS total_tokens,
                CAST(prompt_tokens AS BIGINT) AS prompt_tokens
         FROM tc ORDER BY doc_id""",

    // q181: winner + margin restated with the same LCG reward and the
    // same (reward DESC, id) order.
    "q181_rejection_sample" ->
      """WITH c AS (
           SELECT doc_id, doc_id // 8 AS prompt_id,
                  (doc_id * 1103515245 + 12345) % 1000003 AS reward
           FROM documents),
         r AS (
           SELECT doc_id, prompt_id, reward,
                  row_number() OVER (PARTITION BY prompt_id
                    ORDER BY reward DESC, doc_id) AS rn,
                  lead(reward) OVER (PARTITION BY prompt_id
                    ORDER BY reward DESC, doc_id) AS nxt
           FROM c)
         SELECT CAST(prompt_id AS BIGINT) AS prompt_id, doc_id,
                CAST(reward AS BIGINT) AS reward,
                CAST(reward - nxt AS BIGINT) AS margin
         FROM r WHERE rn = 1 ORDER BY prompt_id""",

    // q182: every segment string, per-segment token count, cumulative
    // position, packing offset (q177's closed form), and global span
    // rebuilt from scratch — assistant bodies only, the final span
    // (== doc end) +1 for the separator, interior spans untouched.
    "q182_multiturn_sft" ->
      """WITH d AS (
           SELECT doc_id, coalesce(text, '') AS txt,
                  CASE WHEN doc_id % 4 = 0 THEN ''
                       ELSE coalesce(text, '') END AS midc,
                  CASE WHEN doc_id % 3 = 0 THEN ''
                       ELSE coalesce(text, '') END AS finc
           FROM documents WHERE doc_id % 7 < 2),
         seg AS (
           SELECT doc_id, u.turn AS turn, u.part AS part,
                  u.role AS role, u.seg_txt AS seg_txt
           FROM d, UNNEST([
             {'turn': 0, 'part': 0, 'role': 'system',
              'seg_txt': '<|im_start|>system' || chr(10)},
             {'turn': 0, 'part': 1, 'role': 'system',
              'seg_txt': 'be helpful<|im_end|>' || chr(10)},
             {'turn': 1, 'part': 0, 'role': 'user',
              'seg_txt': '<|im_start|>user' || chr(10)},
             {'turn': 1, 'part': 1, 'role': 'user',
              'seg_txt': txt || '<|im_end|>' || chr(10)},
             {'turn': 2, 'part': 0, 'role': 'assistant',
              'seg_txt': '<|im_start|>assistant' || chr(10)},
             {'turn': 2, 'part': 1, 'role': 'assistant',
              'seg_txt': midc || '<|im_end|>' || chr(10)},
             {'turn': 3, 'part': 0, 'role': 'user',
              'seg_txt': '<|im_start|>user' || chr(10)},
             {'turn': 3, 'part': 1, 'role': 'user',
              'seg_txt': 'continue<|im_end|>' || chr(10)},
             {'turn': 4, 'part': 0, 'role': 'assistant',
              'seg_txt': '<|im_start|>assistant' || chr(10)},
             {'turn': 4, 'part': 1, 'role': 'assistant',
              'seg_txt': finc || '<|im_end|>' || chr(10)}
           ]) AS t(u)),
         cnt AS (
           SELECT doc_id, turn, part, role,
                  CAST(coalesce(list_sum(list_transform(
                    list_filter(string_split(trim(regexp_replace(
                      regexp_replace(lower(seg_txt),
                        '[!-/:-@\[-`{-~]', '', 'g'),
                      '\s+', ' ', 'g')), ' '), x -> length(x) > 0),
                    wd -> len(regexp_extract_all(wd, 'th|in|.'))
                          + CASE WHEN wd LIKE '%e' THEN 0 ELSE 1 END)),
                    0) AS BIGINT) AS c
           FROM seg),
         pos AS (
           SELECT doc_id, turn, part, role, c,
                  coalesce(sum(c) OVER (PARTITION BY doc_id
                    ORDER BY turn, part
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS p0
           FROM cnt),
         tot AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
           FROM cnt GROUP BY doc_id),
         p AS (
           SELECT doc_id, n,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tot),
         b AS (
           SELECT shard, doc_id, n,
                  CAST(floor(coalesce(sum(n) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, n,
                  coalesce(sum(n + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b),
         sp AS (
           SELECT doc_id, turn, p0 AS s, p0 + c AS e
           FROM pos WHERE part = 1 AND role = 'assistant' AND c > 0),
         g AS (
           SELECT o.shard, o.bin, sp.doc_id, sp.turn,
                  o.off + sp.s AS gs,
                  o.off + CASE WHEN sp.e = o.n AND sp.e > sp.s
                               THEN sp.e + 1 ELSE sp.e END AS ge
           FROM sp JOIN o USING (doc_id)),
         binstat AS (
           SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                  CAST(sum(n + 1) AS BIGINT) AS seq_tokens
           FROM o GROUP BY shard, bin),
         spanstat AS (
           SELECT shard, bin, CAST(count(1) AS INT) AS n_spans,
                  CAST(sum(ge - gs) AS BIGINT) AS masked_tokens,
                  string_agg(CAST(gs AS VARCHAR) || '-' || CAST(ge AS VARCHAR),
                    ',' ORDER BY doc_id, turn) AS spans_csv
           FROM g GROUP BY shard, bin)
         SELECT bs.shard, bs.bin, bs.n_docs, bs.seq_tokens,
                CAST(coalesce(ss.n_spans, 0) AS INT) AS n_spans,
                CAST(coalesce(ss.masked_tokens, 0) AS BIGINT)
                  AS masked_tokens,
                coalesce(ss.spans_csv, '') AS spans_csv
         FROM binstat bs LEFT JOIN spanstat ss USING (shard, bin)
         ORDER BY shard, bin""",

    // q187: the q145 forms with the part-folded shard —
    // (id div 150)*2 + md5(id)%2 — and bins cut per shard.
    "q187_partitioned_shards" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (
           SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n_tokens,
                  (doc_id // 150) * 2 +
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 2 AS BIGINT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, ids,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, ids,
                  coalesce(sum(len(ids) + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b)
         SELECT CAST(shard AS BIGINT) AS shard, bin,
                CAST(count(1) AS INT) AS n_docs,
                CAST(sum(len(ids) + 1) AS BIGINT) AS seq_tokens,
                md5(string_agg(array_to_string(list_append(ids, 0), ','),
                    ',' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv
         FROM o GROUP BY shard, bin ORDER BY shard, bin""",

    // q186: shard (md5 of passage), per-passage stripe rank, and the
    // within-(shard,stripe) batch walk restated with the same
    // windows.
    "q186_contrastive_batches" ->
      """WITH p AS (
           SELECT doc_id, CAST(doc_id % 40 AS BIGINT) AS passage_id
           FROM documents),
         r AS (
           SELECT doc_id, passage_id,
                  CAST(('0x' || substr(md5(CAST(passage_id AS VARCHAR)),
                        1, 8))::BIGINT % 2 AS INT) AS shard,
                  CAST(row_number() OVER (PARTITION BY passage_id
                        ORDER BY doc_id) - 1 AS BIGINT) AS stripe
           FROM p)
         SELECT doc_id, passage_id, shard, stripe,
                CAST((row_number() OVER (PARTITION BY shard, stripe
                      ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch
         FROM r ORDER BY doc_id""",

    // q185: the q145 id chain + the span arithmetic restated — noise
    // budget, span count, per-span lengths, LCG starts, inter-span
    // slices, sentinels, terminal sentinel.
    "q185_span_corrupt" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n FROM tok),
         c AS (
           SELECT doc_id, ids, n,
                  least((n * 15 + 50) // 100, n) AS n_noise
           FROM p),
         c2 AS (
           SELECT *, CASE WHEN n_noise > 0
                  THEN greatest((n_noise * 2 + 3) // 6, 1)
                  ELSE 0 END AS n_spans
           FROM c),
         c3 AS (
           SELECT *, CASE WHEN n_spans > 0 THEN n // n_spans ELSE 0 END AS seg,
                  CASE WHEN n_spans > 0 THEN n_noise // n_spans ELSE 0 END AS base,
                  CASE WHEN n_spans > 0 THEN n_noise % n_spans ELSE 0 END AS rem
           FROM c2),
         sp AS (
           SELECT doc_id, u.k AS k,
                  least(base + CASE WHEN u.k < rem THEN 1 ELSE 0 END,
                        seg) AS len0,
                  u.k * seg + ((doc_id * 1103515245 + 12345
                                + u.k * 2654435761) % 2147483647)
                    % (seg - least(base + CASE WHEN u.k < rem THEN 1
                                        ELSE 0 END, seg) + 1) AS start
           FROM c3, UNNEST(range(0, n_spans)) AS u(k)),
         sp2 AS (
           SELECT doc_id, k, start, len0,
                  coalesce(lag(start + len0) OVER (PARTITION BY doc_id
                    ORDER BY k), 0) AS pos
           FROM sp),
         agg AS (
           SELECT s.doc_id,
                  flatten(list(list_slice(c.ids, s.pos + 1, s.start)
                    || [1000000 + s.k] ORDER BY s.k)) AS in0,
                  max(s.start + s.len0) AS last_end,
                  flatten(list([1000000 + s.k]
                    || list_slice(c.ids, s.start + 1, s.start + s.len0)
                    ORDER BY s.k)) AS tgt0
           FROM sp2 s JOIN c3 c USING (doc_id)
           GROUP BY s.doc_id),
         outp AS (
           SELECT c.doc_id, c.n,
                  CASE WHEN c.n_spans > 0
                    THEN a.in0 || list_slice(c.ids, a.last_end + 1, c.n)
                    ELSE c.ids END AS input_ids,
                  CASE WHEN c.n_spans > 0
                    THEN a.tgt0 || [1000000 + c.n_spans]
                    ELSE CAST([] AS BIGINT[]) END AS target_ids
           FROM c3 c LEFT JOIN agg a USING (doc_id))
         SELECT doc_id, n AS n_tokens,
                CAST(len(input_ids) AS BIGINT) AS n_input,
                CAST(len(target_ids) AS BIGINT) AS n_target,
                md5(array_to_string(input_ids, ',')) AS input_md5,
                md5(array_to_string(target_ids, ',')) AS target_md5
         FROM outp ORDER BY doc_id""",

    // q185b: the q185 span arithmetic per mode (R: 15%/3, X: 50%/8),
    // the S mode's quarter split, mode tokens 2000000+m prepended,
    // shared sentinel grammar.
    "q185b_ul2_mixture" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n,
                      doc_id % 3 AS md
               FROM tok),
         c AS (
           SELECT doc_id, ids, n, md,
                  CASE md WHEN 0 THEN least((n * 15 + 50) // 100, n)
                          WHEN 1 THEN least((n * 50 + 50) // 100, n)
                  END AS n_noise
           FROM p),
         c2 AS (
           SELECT *, CASE WHEN md = 2 THEN NULL
                  WHEN n_noise > 0 THEN
                    CASE md WHEN 0 THEN greatest((n_noise * 2 + 3) // 6, 1)
                            WHEN 1 THEN greatest((n_noise * 2 + 8) // 16, 1)
                    END
                  ELSE 0 END AS n_spans
           FROM c),
         c3 AS (
           SELECT *, CASE WHEN n_spans > 0 THEN n // n_spans ELSE 0 END AS seg,
                  CASE WHEN n_spans > 0 THEN n_noise // n_spans ELSE 0 END AS base,
                  CASE WHEN n_spans > 0 THEN n_noise % n_spans ELSE 0 END AS rem
           FROM c2 WHERE md IN (0, 1)),
         sp AS (
           SELECT doc_id, u.k AS k,
                  least(base + CASE WHEN u.k < rem THEN 1 ELSE 0 END,
                        seg) AS len0,
                  u.k * seg + ((doc_id * 1103515245 + 12345
                                + u.k * 2654435761) % 2147483647)
                    % (seg - least(base + CASE WHEN u.k < rem THEN 1
                                        ELSE 0 END, seg) + 1) AS start
           FROM c3, UNNEST(range(0, n_spans)) AS u(k)),
         sp2 AS (
           SELECT doc_id, k, start, len0,
                  coalesce(lag(start + len0) OVER (PARTITION BY doc_id
                    ORDER BY k), 0) AS pos
           FROM sp),
         agg AS (
           SELECT s.doc_id,
                  flatten(list(list_slice(c.ids, s.pos + 1, s.start)
                    || [1000000 + s.k] ORDER BY s.k)) AS in0,
                  max(s.start + s.len0) AS last_end,
                  flatten(list([1000000 + s.k]
                    || list_slice(c.ids, s.start + 1, s.start + s.len0)
                    ORDER BY s.k)) AS tgt0
           FROM sp2 s JOIN c3 c USING (doc_id)
           GROUP BY s.doc_id),
         outrx AS (
           SELECT c.doc_id, CASE c.md WHEN 0 THEN 'R' ELSE 'X' END AS mode,
                  c.n,
                  CASE WHEN c.n_spans > 0
                    THEN [2000000 + c.md] || a.in0
                         || list_slice(c.ids, a.last_end + 1, c.n)
                    ELSE [2000000 + c.md] || c.ids END AS input_ids,
                  CASE WHEN c.n_spans > 0
                    THEN a.tgt0 || [1000000 + c.n_spans]
                    ELSE CAST([] AS BIGINT[]) END AS target_ids
           FROM c3 c LEFT JOIN agg a USING (doc_id)),
         s2 AS (
           SELECT doc_id, n, ids,
                  n - greatest(n // 4, 1) AS spl
           FROM p WHERE md = 2 AND n > 0),
         outs AS (
           SELECT doc_id, 'S' AS mode, n,
                  [2000002] || list_slice(ids, 1, spl) || [1000000]
                    AS input_ids,
                  [1000000] || list_slice(ids, spl + 1, n) || [1000001]
                    AS target_ids
           FROM s2
           UNION ALL
           SELECT doc_id, 'S', n, [2000002], CAST([] AS BIGINT[])
           FROM p WHERE md = 2 AND n = 0),
         unioned AS (
           SELECT * FROM outrx UNION ALL SELECT * FROM outs)
         SELECT doc_id, mode, n AS n_tokens,
                CAST(len(input_ids) AS BIGINT) AS n_input,
                CAST(len(target_ids) AS BIGINT) AS n_target,
                md5(array_to_string(input_ids, ',')) AS input_md5,
                md5(array_to_string(target_ids, ',')) AS target_md5
         FROM unioned ORDER BY doc_id""",

    // q184: the planted permutation restated — cell = id%50, rank =
    // ((id div 50) * 7) % |cell|, shard = cell%2, bins from the
    // (cell, rank, id)-ordered running size sum.
    "q184_incontext_pack" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id % 50 AS INT) AS cell,
                  doc_id // 50 AS u0,
                  CAST(100 + (doc_id % 3) * 10 AS BIGINT) AS sz
           FROM documents),
         m AS (SELECT cell, count(1) AS mm FROM d GROUP BY cell),
         r AS (
           SELECT d.doc_id, d.cell, d.sz,
                  CAST((d.u0 * 7) % m.mm AS BIGINT) AS ctx_rank,
                  CAST(d.cell % 2 AS INT) AS shard
           FROM d JOIN m USING (cell))
         SELECT doc_id, cell, ctx_rank, shard,
                CAST(floor(coalesce(sum(sz) OVER (PARTITION BY shard
                       ORDER BY cell, ctx_rank, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / 500.0) AS BIGINT) AS bin
         FROM r ORDER BY doc_id""",

    // q178b: the padded cost closed-form — 70s pair (ceil(n70/2)
    // batches), 50s triple, and the ONLY waste is the odd-n70
    // handoff batch's 20 tokens — which exists only when a 50 is
    // there to take the handoff slot (n50 >= 1; with n50 = 0 the
    // open 70-batch holds a single item at pad 70, waste 0).
    "q178b_batching_report" ->
      """WITH s AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 1 THEN 70 ELSE 50 END AS sz
           FROM documents),
         tot AS (
           SELECT CAST(sum(CASE WHEN sz = 70 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n70,
                  CAST(sum(CASE WHEN sz = 50 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n50,
                  CAST(count(1) AS BIGINT) AS n_items,
                  CAST(sum(sz) AS BIGINT) AS payload
           FROM s),
         r AS (
           SELECT (n70 + 1) // 2 +
                  CASE WHEN n70 % 2 = 1 THEN (n50 + 1) // 3
                       ELSE (n50 + 2) // 3 END AS n_batches,
                  n_items, payload,
                  payload + CASE WHEN n70 % 2 = 1 AND n50 >= 1
                            THEN 20 ELSE 0 END AS padded
           FROM tot)
         SELECT CAST(0 AS INT) AS shard,
                CAST(n_batches AS BIGINT) AS n_batches, n_items,
                payload AS payload_tokens,
                CAST(padded AS BIGINT) AS padded_tokens,
                CAST(payload * 1000 // padded AS BIGINT) AS fill_milli,
                CAST(padded - payload AS BIGINT) AS padding_waste
         FROM r""",

    // q175: tokens via the q145 chain (no separator), denominators
    // from the same normalize, ratios exact integer floor divisions.
    "q175_fertility_telemetry" ->
      """WITH nw AS (
           SELECT doc_id, source,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
           FROM documents),
         w AS (
           SELECT doc_id, source, norm,
                  list_filter(string_split(norm, ' '),
                    x -> length(x) > 0) AS ws
           FROM nw),
         tok AS (
           SELECT doc_id, source, norm,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS tids
           FROM w),
         a AS (
           SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                  CAST(sum(len(tids)) AS BIGINT) AS n_tokens,
                  CAST(sum(length(norm)) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN length(norm) = 0 THEN 0
                                ELSE len(string_split(norm, ' ')) END)
                    AS BIGINT) AS wd,
                  CAST(sum(strlen(norm)) AS BIGINT) AS b
           FROM tok GROUP BY source)
         SELECT source, n_docs, n_tokens,
                CAST(CASE WHEN c = 0 THEN NULL
                     ELSE (n_tokens * 1000) // c END AS BIGINT)
                  AS tokens_per_kchar,
                CAST(CASE WHEN wd = 0 THEN NULL
                     ELSE (n_tokens * 1000) // wd END AS BIGINT)
                  AS tokens_per_kword,
                CAST(CASE WHEN n_tokens = 0 THEN NULL
                     ELSE (b * 1000) // n_tokens END AS BIGINT)
                  AS bytes_per_token_milli
         FROM a ORDER BY source""",

    // q169: per-doc token counts via the q145 closed-form scan, +1
    // separator each, grouped by source — the geometry-derived
    // attribution must reproduce them exactly.
    "q169_shard_attribution" ->
      """WITH w AS (
           SELECT doc_id, source,
                  list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id, source,
                  CAST(coalesce(list_sum(list_transform(ws, wd ->
                    CASE WHEN wd LIKE '%e'
                      THEN len(regexp_extract_all(wd, 'th|in|.'))
                      ELSE len(regexp_extract_all(wd, 'th|in|.')) + 1
                    END)), 0) AS BIGINT) AS n_tokens
           FROM w)
         SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens + 1) AS BIGINT) AS n_tokens_with_sep
         FROM tok GROUP BY source ORDER BY source""",

    // q167: n_tokens via the q145 closed-form tokenizer scan;
    // decoded_md5 is md5 of the NORMALIZED text itself — the
    // roundtrip's losslessness stated as the oracle.
    "q167_token_roundtrip" ->
      """WITH n AS (
           SELECT doc_id,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
           FROM documents),
         w AS (
           SELECT doc_id,
                  list_filter(string_split(norm, ' '),
                    x -> length(x) > 0) AS ws,
                  norm
           FROM n),
         tok AS (
           SELECT doc_id, norm,
                  flatten(list_transform(ws, wd ->
                    CASE WHEN wd LIKE '%e'
                      THEN list_append(list_slice(
                             regexp_extract_all(wd, 'th|in|.'), 1,
                             len(regexp_extract_all(wd, 'th|in|.')) - 1),
                           'e</w>')
                      ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                           '</w>')
                    END)) AS toks
           FROM w)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                md5(norm) AS decoded_md5
         FROM tok ORDER BY doc_id""",

    // q146: every WAT field closed-form from the q115 page template —
    // title text, the four anchor hrefs in document order (two chrome
    // nav links, two list links), no meta description / base / digest
    // in that fixture (pinned as '-'), the fixture's fixed WARC date.
    "q146_wat_export" ->
      """SELECT doc_id,
                'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                '-' AS description,
                '-' AS base_href,
                CAST(4 AS INT) AS n_links,
                '/,/about,/a,/b' AS outlinks_csv,
                '2026-01-01T00:00:00Z' AS warc_date,
                '-' AS digest
         FROM documents ORDER BY doc_id""",

    // q147: the site3 subtree closed-form from the q136 fixture
    // template — the range scan must return exactly what a full-index
    // filter would (pruning is REQUIRED in-entry but must be invisible
    // in the result).
    "q147_cdxj_rangescan" ->
      """SELECT doc_id,
                'com,example,site3)/dir/page' || CAST(doc_id AS VARCHAR)
                  || '.html' AS urlkey,
                'https://www.site3.example.com/dir/page'
                  || CAST(doc_id AS VARCHAR) || '.html' AS url,
                'text/plain' AS mime,
                CAST(200 AS INT) AS status
         FROM documents WHERE doc_id % 20 = 3 ORDER BY doc_id""",

    // q148: the winner per page closed-form from the three-crawl
    // fixture — version 3 on 2026-01-03 for every third doc, version 2
    // on 2026-01-02 otherwise; capture counts audit the fan-in.
    "q148_latest_capture" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN '2026-01-03T00:00:00Z'
                     ELSE '2026-01-02T00:00:00Z' END AS warc_date,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
                  AS n_captures,
                TRUE AS digest_ok,
                'version ' ||
                  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS VARCHAR)
                  || ' of page ' || CAST(doc_id AS VARCHAR) AS text
         FROM documents ORDER BY doc_id""",

    // q149: the whole quality loop replayed — keep verdicts, integer
    // keep-rates (floor division), rank×quality products, and the
    // apex top-5 by (score DESC, url ASC). If blending didn't flip
    // the budget, the winners would be host 0's URLs and the hash
    // would break.
    "q149_quality_frontier" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 20 AS k,
                  ((doc_id // 20) % 20) >= (19 - (doc_id % 20)) AS kept
           FROM documents),
         q AS (
           SELECT k,
                  (1000 * sum(CASE WHEN kept THEN 1 ELSE 0 END)) // count(1)
                    AS qm,
                  1000 - 40 * k AS rank_micro
           FROM d GROUP BY k),
         u AS (
           SELECT 'https://site' || CAST(d.k AS VARCHAR) ||
                    '.example.com/page' || CAST(d.doc_id AS VARCHAR) ||
                    '.html' AS url,
                  q.rank_micro * q.qm AS score
           FROM d JOIN q USING (k)),
         r AS (
           SELECT url, score,
                  row_number() OVER (ORDER BY score DESC, url) AS rn
           FROM u)
         SELECT 'example.com' AS host, CAST(rn - 1 AS INT) AS host_slot,
                url, CAST(score AS BIGINT) AS score
         FROM r WHERE rn <= 5 ORDER BY host_slot""",

    // q152: every directive verdict and surviving-link count stated
    // closed-form per regime; the verbatim content roundtrips
    // untouched (trim/case live only in the verdicts).
    "q152_meta_robots" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT)
                  WHEN 1 THEN 'noindex'
                  WHEN 2 THEN ' NOFOLLOW , index '
                  WHEN 3 THEN 'none'
                  ELSE '-' END AS meta_robots,
                (doc_id % 4 = 1 OR doc_id % 4 = 3) AS noindex,
                (doc_id % 4 = 2 OR doc_id % 4 = 3) AS nofollow,
                NOT (doc_id % 4 = 1 OR doc_id % 4 = 3) AS in_corpus,
                CAST(CASE WHEN doc_id % 4 = 2 OR doc_id % 4 = 3
                          THEN 0 ELSE 2 END AS BIGINT) AS n_frontier_links
         FROM documents ORDER BY doc_id""",

    // q154: header echoes (repeats list-joined with ", ") and both
    // verdict layers closed-form; the combined columns OR the
    // header and meta layers.
    "q154_xrobots_directives" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT)
                  WHEN 1 THEN 'noindex'
                  WHEN 2 THEN 'googlebot: nofollow'
                  WHEN 3 THEN 'unavailable_after: 1 Jan 2027, none'
                  ELSE '-' END AS x_robots,
                (doc_id % 4 = 1 OR doc_id % 4 = 3) AS hdr_noindex,
                (doc_id % 4 = 2 OR doc_id % 4 = 3) AS hdr_nofollow,
                (doc_id % 4 = 1 OR doc_id % 4 = 3) AS noindex,
                (doc_id % 4 = 2 OR doc_id % 4 = 3 OR doc_id % 2 = 0)
                  AS nofollow
         FROM documents ORDER BY doc_id""",

    // q153: groups are complete runs of 5 consecutive ids, so every
    // collapse statistic is arithmetic on the leader id.
    "q153_canonical_collapse" ->
      """WITH g AS (
           SELECT doc_id - doc_id % 5 AS leader FROM documents),
         a AS (SELECT leader, count(1) AS n FROM g GROUP BY leader)
         SELECT 'https://site' || CAST(leader % 20 AS VARCHAR) ||
                  '.example.com/page' || CAST(leader AS VARCHAR) ||
                  '.html' AS canonical_url,
                CAST(n AS BIGINT) AS n_pages,
                leader AS keeper,
                CAST(n - 1 AS BIGINT) AS n_declared
         FROM a ORDER BY keeper""",

    // q155: every pair restated closed-form from the five-regime
    // template — resolved image URL (relative, base-href, absolute
    // with canonicalization slop), alt semantics (absent vs
    // explicitly empty), figcaption/title-attr captioning, chrome.
    "q155_image_text_pairs" ->
      """WITH b AS (
           SELECT doc_id, CAST(doc_id % 5 AS INT) AS m,
                  CAST(doc_id % 20 AS VARCHAR) AS k,
                  CAST(doc_id AS VARCHAR) AS i
           FROM documents)
         SELECT doc_id, CAST(0 AS INT) AS img_pos,
                CASE m
                  WHEN 0 THEN 'https://site' || k ||
                    '.example.com/dir/pics/img' || i || '.jpg'
                  WHEN 1 THEN 'https://site' || k ||
                    '.example.com/media/i' || i || '.png'
                  WHEN 2 THEN 'https://site' || k ||
                    '.example.com/abs/f' || i || '.jpg'
                  WHEN 3 THEN 'https://site' || k ||
                    '.example.com/dir/logo.svg'
                  ELSE 'https://cdn.example.com/x' || i || '.webp'
                END AS image_url,
                CASE m WHEN 0 THEN 'Alt & text ' || i
                       WHEN 1 THEN ''
                       WHEN 4 THEN 'x'
                       ELSE '[absent]' END AS alt_text,
                CASE m WHEN 2 THEN 'Cap ' || i || ' "q"'
                       WHEN 3 THEN 'Logo ' || i
                       ELSE '-' END AS caption,
                (doc_id % 5 = 3) AS in_chrome,
                'Page ' || i AS page_title
         FROM b ORDER BY doc_id""",

    // q156: edges restated closed-form — the m=2 regime contributes
    // its second (chrome) edge via the union branch.
    "q156_anchor_text_edges" ->
      """WITH b AS (
           SELECT doc_id, CAST(doc_id % 4 AS INT) AS m,
                  CAST(doc_id % 20 AS VARCHAR) AS k,
                  CAST(doc_id AS VARCHAR) AS i
           FROM documents),
         e AS (
           SELECT doc_id, CAST(0 AS INT) AS link_pos,
                  CASE m
                    WHEN 0 THEN 'https://site' || k ||
                      '.example.com/dir/next' || i || '.html'
                    WHEN 1 THEN 'https://site' || k ||
                      '.example.com/en/deep' || i || '.html'
                    WHEN 2 THEN 'https://site' || k ||
                      '.example.com/img' || i
                    ELSE 'https://site' || k || '.example.com/cut' || i
                  END AS dst_url,
                  CASE m WHEN 0 THEN 'Go & see ' || i
                         WHEN 1 THEN 'Deep Bold ' || i
                         WHEN 2 THEN '[none]'
                         ELSE 'start ' || i END AS anchor_text,
                  FALSE AS in_chrome
           FROM b
           UNION ALL
           SELECT doc_id, CAST(1 AS INT),
                  'https://site' || k || '.example.com/nav', 'Home', TRUE
           FROM b WHERE m = 2)
         SELECT doc_id, link_pos, dst_url, anchor_text, in_chrome
         FROM e ORDER BY doc_id, link_pos""",

    // q157: the per-hub profile is arithmetic on the leader id; the
    // label bag re-sorts in the same binary string order sort_array
    // uses.
    "q157_anchor_profile" ->
      """WITH g AS (
           SELECT doc_id, doc_id - doc_id % 5 AS leader,
                  'topic ' || CAST(doc_id AS VARCHAR) || ' guide' AS lbl
           FROM documents)
         SELECT 'https://hub.example.com/t' || CAST(leader AS VARCHAR) ||
                  '.html' AS dst_url,
                CAST(count(1) AS BIGINT) AS n_anchors,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_pages,
                string_agg(lbl, ' ' ORDER BY lbl) AS anchor_terms
         FROM g GROUP BY leader ORDER BY dst_url""",

    // q161: the q157 oracle verbatim — streamed arrival through the
    // postings+markers pair must not move one count or term.
    "q161_anchor_stream" ->
      """WITH g AS (
           SELECT doc_id, doc_id - doc_id % 5 AS leader,
                  'topic ' || CAST(doc_id AS VARCHAR) || ' guide' AS lbl
           FROM documents)
         SELECT 'https://hub.example.com/t' || CAST(leader AS VARCHAR) ||
                  '.html' AS dst_url,
                CAST(count(1) AS BIGINT) AS n_anchors,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_pages,
                string_agg(lbl, ' ' ORDER BY lbl) AS anchor_terms
         FROM g GROUP BY leader ORDER BY dst_url""",

    // q158: the q157 profile rebuild feeding the q54 BM25 arithmetic —
    // doc = hub, dl = 3 tokens per inbound label, tf over the three
    // query terms only.
    "q158_anchor_bm25" ->
      """WITH g AS (
           SELECT doc_id, doc_id - doc_id % 5 AS leader,
                  'topic ' || CAST(doc_id AS VARCHAR) || ' guide' AS lbl
           FROM documents),
         prof AS (
           SELECT 'https://hub.example.com/t' || CAST(leader AS VARCHAR) ||
                    '.html' AS doc_id,
                  string_agg(lbl, ' ' ORDER BY lbl) AS text
           FROM g GROUP BY leader),
         toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM prof),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('17', '42', 'guide') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id)
         SELECT doc_id, round(score, 4) AS score
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 10)
         ORDER BY score DESC, doc_id""",

    // q159: contamination is exactly the planted set — 3 distinct
    // 13-grams (one 15-word item appended whole; boundary windows mix
    // corpus words and are not benchmark grams) and 1 benchmark item
    // per flagged doc.
    "q159_decontamination" ->
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_hits,
                CAST(1 AS BIGINT) AS n_bench_items
         FROM documents WHERE doc_id % 7 = 3 ORDER BY doc_id""",

    // q160: the md5-threshold split (q78's expression) over base +
    // clone rows, then leaking groups by TEXT equality — the oracle
    // tolerates corpus-native duplicates the same way the operator
    // does (both group by text).
    "q160_split_leakage" -> {
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = graft.operators.Sampling.thresholdHex(cums(0))
      val t2 = graft.operators.Sampling.thresholdHex(cums(1))
      s"""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 11 = 0),
         sp AS (
           SELECT doc_id, text,
                  CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t1'
                         THEN 'train'
                       WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t2'
                         THEN 'val'
                       ELSE 'test' END AS split
           FROM all_docs),
         d AS (
           SELECT text, split, min(doc_id) AS mn, count(1) AS c
           FROM sp GROUP BY text, split),
         g AS (
           SELECT min(mn) AS leader, CAST(sum(c) AS BIGINT) AS n_docs,
                  CAST(count(1) AS BIGINT) AS n_splits,
                  string_agg(split, ',' ORDER BY split) AS splits_csv
           FROM d GROUP BY text)
         SELECT leader, n_docs, n_splits, splits_csv
         FROM g WHERE n_splits > 1 ORDER BY leader"""
    },

    // q151: the q148 oracle verbatim — three separately published
    // per-crawl indexes, merged and re-published in interchange form,
    // must dedup to the same winners as one catalog built directly.
    "q151_crawl_merge" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN '2026-01-03T00:00:00Z'
                     ELSE '2026-01-02T00:00:00Z' END AS warc_date,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
                  AS n_captures,
                TRUE AS digest_ok,
                'version ' ||
                  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS VARCHAR)
                  || ' of page ' || CAST(doc_id AS VARCHAR) AS text
         FROM documents ORDER BY doc_id""",

    // q150: the q146 oracle verbatim — streamed WAT arrival must not
    // change one byte of any metadata field.
    "q150_wat_stream" ->
      """SELECT doc_id,
                'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                '-' AS description,
                '-' AS base_href,
                CAST(4 AS INT) AS n_links,
                '/,/about,/a,/b' AS outlinks_csv,
                '2026-01-01T00:00:00Z' AS warc_date,
                '-' AS digest
         FROM documents ORDER BY doc_id""",

    // q53: identical shard draw (md5 hex prefix -> int), identical
    // running-sum bin cut.
    "q53_packing" ->
      """WITH p AS (
           SELECT doc_id, n_chars,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM documents),
         b AS (
           SELECT shard, doc_id, n_chars,
                  CAST(floor(coalesce(sum(n_chars) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 20000.0) AS BIGINT) AS bin
           FROM p)
         SELECT shard, bin, count(1) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                min(doc_id) AS first_doc
         FROM b GROUP BY shard, bin ORDER BY shard, bin""",

    // q49-q51: md5 is md5 in every engine — the oracles restate the
    // same membership rule and must select the exact same rows.
    // thresholds: floor(f * 16^8) in hex (0.2 -> 33333333).
    "q49_hash_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
         ORDER BY doc_id""",

    "q50_stratified_sample" ->
      """SELECT event_type, count(1) AS n, round(sum(value), 4) AS total_value
         FROM events
         WHERE CASE event_type
                 WHEN 'click' THEN substr(md5('graft' || CAST(event_id AS VARCHAR)), 1, 8) < '80000000'
                 WHEN 'view'  THEN substr(md5('graft' || CAST(event_id AS VARCHAR)), 1, 8) < '40000000'
                 WHEN 'error' THEN substr(md5('graft' || CAST(event_id AS VARCHAR)), 1, 8) < '0ccccccc'
                 ELSE FALSE END
         GROUP BY event_type ORDER BY event_type""",

    "q51_fixed_sample" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source FROM documents
           ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 64)
         ORDER BY doc_id""",

    // q48: the pair set is q31's brute-force oracle; components via
    // recursive label propagation — min reachable label per node.
    "q48_dedup_clusters" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' '))) END AS grams
           FROM w),
         jp AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         e AS (SELECT doc_a AS u, doc_b AS v FROM jp
               UNION SELECT doc_b, doc_a FROM jp),
         reach(node, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node)
         SELECT node, min(lbl) AS component
         FROM reach GROUP BY node ORDER BY node""",

    // q62: q48's component computation (brute-force trigram pairs +
    // recursive label reach) feeding the survivor rule — drop every
    // node that is not its component's minimum.
    "q62_drop_clusters" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' '))) END AS grams
           FROM w),
         jp AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         e AS (SELECT doc_a AS u, doc_b AS v FROM jp
               UNION SELECT doc_b, doc_a FROM jp),
         reach(node, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
         drops AS (
           SELECT node FROM reach GROUP BY node HAVING node != min(lbl))
         SELECT source, count(1) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM documents WHERE doc_id NOT IN (SELECT node FROM drops)
         GROUP BY source ORDER BY source""",

    // q45: quantile_cont == Spark percentile (both linear-interpolated
    // exact order statistics) — cast to double so decimal typing can't
    // truncate the interpolation.
    "q45_quantiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4) AS p25,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 4) AS p99
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q46_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS ret_flag,
                coalesce(l_linestatus, 'ALL') AS line_status,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY ret_flag, line_status""",

    // q47's oracle is conditional aggregation — the relational spelling
    // of the same pivot.
    "q47_pivot" ->
      """SELECT user_id % 10 AS cohort,
                round(avg(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
                round(avg(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
                round(avg(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
                round(avg(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
                round(avg(CASE WHEN event_type = 'view' THEN value END), 4) AS view
         FROM events GROUP BY 1 ORDER BY cohort""",

    "q37_dedup_corpus" ->
      """WITH u AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 200000, source, text FROM documents WHERE doc_id < 50),
         k AS (SELECT md5(text) AS d, min(doc_id) AS keeper FROM u GROUP BY 1)
         SELECT source, count(1) AS n_docs
         FROM u JOIN k ON u.doc_id = k.keeper
         GROUP BY source ORDER BY source""",

    "q34_embedding_dedup" ->
      """WITH clones AS (
           SELECT vec_id + 100000 AS vec_id,
                  list_transform(range(1, len(embedding) + 1),
                    i -> CAST(CASE WHEN i = 1 THEN embedding[i] + 0.01 ELSE embedding[i] END AS FLOAT)) AS embedding
           FROM embeddings WHERE vec_id < 5),
         all_e AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id, embedding FROM clones)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                -- double rounding (6dp then 4dp) matches the Spark leg:
                -- embeddingDedup emits round(cosine, 6), q34 re-rounds to 4
                round(round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 6), 4) AS cosine
         FROM all_e a JOIN all_e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
         ORDER BY id_a, id_b""",

    "q27_quality" ->
      """WITH toks AS (
           SELECT source, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS n,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk
           FROM documents),
         parts AS (
           SELECT source, n,
             CASE WHEN n = 0 THEN 0.0 ELSE least(CAST(n AS DOUBLE) / 50.0, 1.0) END AS ls,
             CASE WHEN length(text) = 0 THEN 1.0
                  ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)) * 10.0) END AS ps,
             CASE WHEN n = 0 THEN 0.0
                  ELSE least((CAST(length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS DOUBLE) / n) * 50.0, 1.0) END AS ss,
             CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) END AS mwl
           FROM toks),
         q AS (
           SELECT source,
             CASE WHEN n = 0 THEN 0.0
                  ELSE round((ls + ps + ss +
                    CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 WHEN mwl > 0.0 THEN 0.5 ELSE 0.0 END) / 4.0, 4) END AS qs
           FROM parts)
         SELECT source, round(avg(qs), 4) AS avg_quality, round(min(qs), 4) AS min_quality, count(1) AS n
         FROM q GROUP BY source ORDER BY source""",

    // q61: the refinement gates restate the q26/q27/q59 per-doc signal
    // fragments as predicates, then exact-dedup the survivors exactly
    // like q37's oracle.
    "q61_corpus_refine" ->
      """WITH u AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 400000, source, text FROM documents WHERE doc_id < 50),
         b AS (
           SELECT doc_id, source, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS tok,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk,
             trim(regexp_replace(regexp_replace(lower(text),
               '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
           FROM u),
         l AS (
           SELECT *,
             length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS en,
             length(list_filter(tk, x -> x IN ('le','la','les','de','des','du','et','ou','un','une','est','que','qui','dans','pour','sur','avec','au','ce','pas'))) AS fr,
             length(list_filter(tk, x -> x IN ('der','die','das','und','oder','ein','eine','ist','zu','den','von','mit','auf','für','im','nicht','sich','dem','sie','werden'))) AS de,
             length(list_filter(tk, x -> x IN ('el','la','los','las','de','y','o','un','una','es','que','en','por','para','con','no','se','del','al','como'))) AS es
           FROM b),
         p AS (
           SELECT doc_id, source, text,
             CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                  WHEN en = greatest(en, fr, de, es) THEN 'en'
                  WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                  WHEN de = greatest(en, fr, de, es) THEN 'de'
                  ELSE 'es' END AS lang,
             CASE WHEN tok = 0 THEN 0.0
                  ELSE round((
                    least(CAST(tok AS DOUBLE) / 50.0, 1.0) +
                    (CASE WHEN length(text) = 0 THEN 1.0
                          ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)) * 10.0) END) +
                    least((CAST(en AS DOUBLE) / tok) * 50.0, 1.0) +
                    (CASE WHEN len(tk) = 0 THEN 0.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) >= 3.0
                           AND CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) <= 10.0 THEN 1.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) > 0.0 THEN 0.5
                          ELSE 0.0 END)) / 4.0, 4) END AS q,
             CASE WHEN length(norm) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
                           / len(string_split(norm, ' ')) END AS df
           FROM l),
         f AS (SELECT doc_id, source, text FROM p
               WHERE lang = 'en' AND q >= 0.3 AND df <= 0.5),
         k AS (SELECT md5(text) AS d, min(doc_id) AS keeper FROM f GROUP BY 1)
         SELECT source, count(1) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM f JOIN k ON f.doc_id = k.keeper
         GROUP BY source ORDER BY source""",

    // q166: the q61 gate chain replayed per-doc with FIRST-FAIL
    // attribution (pipeline order), the keeper map on gate-passing
    // docs only, and the funnel aggregate. Same planted clones, same
    // kernels — `kept` here must equal q61's survivor total.
    "q166_gate_attribution" ->
      """WITH u0 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 9 = 5 THEN 'the ' || repeat('!? ', 40)
                       WHEN doc_id % 9 = 7 THEN repeat('the ', 30)
                       ELSE text END AS text
           FROM documents),
         u AS (
           SELECT doc_id, text FROM u0
           UNION ALL
           SELECT doc_id + 400000, text FROM u0 WHERE doc_id < 50),
         b AS (
           SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS tok,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk,
             trim(regexp_replace(regexp_replace(lower(text),
               '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
           FROM u),
         l AS (
           SELECT *,
             length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS en,
             length(list_filter(tk, x -> x IN ('le','la','les','de','des','du','et','ou','un','une','est','que','qui','dans','pour','sur','avec','au','ce','pas'))) AS fr,
             length(list_filter(tk, x -> x IN ('der','die','das','und','oder','ein','eine','ist','zu','den','von','mit','auf','für','im','nicht','sich','dem','sie','werden'))) AS de,
             length(list_filter(tk, x -> x IN ('el','la','los','las','de','y','o','un','una','es','que','en','por','para','con','no','se','del','al','como'))) AS es
           FROM b),
         p AS (
           SELECT doc_id, text,
             CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                  WHEN en = greatest(en, fr, de, es) THEN 'en'
                  WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                  WHEN de = greatest(en, fr, de, es) THEN 'de'
                  ELSE 'es' END AS lang,
             CASE WHEN tok = 0 THEN 0.0
                  ELSE round((
                    least(CAST(tok AS DOUBLE) / 50.0, 1.0) +
                    (CASE WHEN length(text) = 0 THEN 1.0
                          ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)) * 10.0) END) +
                    least((CAST(en AS DOUBLE) / tok) * 50.0, 1.0) +
                    (CASE WHEN len(tk) = 0 THEN 0.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) >= 3.0
                           AND CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) <= 10.0 THEN 1.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) > 0.0 THEN 0.5
                          ELSE 0.0 END)) / 4.0, 4) END AS q,
             CASE WHEN length(norm) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
                           / len(string_split(norm, ' ')) END AS df
           FROM l),
         v AS (
           SELECT doc_id, text,
             CASE WHEN text IS NULL THEN 'null_text'
                  WHEN lang != 'en' THEN 'lang'
                  WHEN q < 0.7 THEN 'quality'
                  WHEN df > 0.5 THEN 'repetition'
                  ELSE NULL END AS fail
           FROM p),
         f AS (SELECT doc_id, text FROM v WHERE fail IS NULL),
         k AS (SELECT md5(text) AS d, min(doc_id) AS keeper FROM f GROUP BY 1),
         verd AS (
           SELECT v.doc_id,
             coalesce(v.fail,
               CASE WHEN v.doc_id = k.keeper THEN 'kept'
                    ELSE 'duplicate' END) AS verdict
           FROM v LEFT JOIN k ON v.fail IS NULL AND md5(v.text) = k.d)
         SELECT verdict, count(1) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM verd GROUP BY verdict ORDER BY verdict""",

    // q60: the per-doc signal definitions are verbatim fragments of the
    // q17 (tokens), q26 (langId), q27 (quality), and q59 (dup fraction)
    // oracles, aggregated jointly.
    "q60_corpus_report" ->
      """WITH b AS (
           SELECT
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS tok,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk,
             trim(regexp_replace(regexp_replace(lower(text),
               '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm,
             md5(text) AS digest, text
           FROM documents),
         l AS (
           SELECT *,
             length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS en,
             length(list_filter(tk, x -> x IN ('le','la','les','de','des','du','et','ou','un','une','est','que','qui','dans','pour','sur','avec','au','ce','pas'))) AS fr,
             length(list_filter(tk, x -> x IN ('der','die','das','und','oder','ein','eine','ist','zu','den','von','mit','auf','für','im','nicht','sich','dem','sie','werden'))) AS de,
             length(list_filter(tk, x -> x IN ('el','la','los','las','de','y','o','un','una','es','que','en','por','para','con','no','se','del','al','como'))) AS es
           FROM b),
         p AS (
           SELECT tok, bpe, digest,
             CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                  WHEN en = greatest(en, fr, de, es) THEN 'en'
                  WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                  WHEN de = greatest(en, fr, de, es) THEN 'de'
                  ELSE 'es' END AS lang,
             CASE WHEN tok = 0 THEN 0.0
                  ELSE round((
                    least(CAST(tok AS DOUBLE) / 50.0, 1.0) +
                    (CASE WHEN length(text) = 0 THEN 1.0
                          ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)) * 10.0) END) +
                    least((CAST(en AS DOUBLE) / tok) * 50.0, 1.0) +
                    (CASE WHEN len(tk) = 0 THEN 0.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) >= 3.0
                           AND CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) <= 10.0 THEN 1.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) > 0.0 THEN 0.5
                          ELSE 0.0 END)) / 4.0, 4) END AS q,
             CASE WHEN length(norm) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
                           / len(string_split(norm, ' ')) END AS df
           FROM l),
         dup AS (
           SELECT CAST(count(1) AS BIGINT) AS n_unique_texts,
                  CAST(count_if(c > 1) AS BIGINT) AS n_dup_groups
           FROM (SELECT digest, count(1) AS c FROM p GROUP BY digest)),
         stats AS (
           SELECT CAST(count(1) AS BIGINT) AS n_docs,
                  CAST(sum(tok) AS BIGINT) AS total_tokens,
                  CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
                  CAST(count_if(lang = 'en') AS BIGINT) AS n_en,
                  round(avg(q), 4) AS avg_quality,
                  round(avg(df), 4) AS avg_dup_frac
           FROM p)
         SELECT * FROM stats CROSS JOIN dup""",

    // q58: same injected PII, same RE2-compatible patterns, same
    // email → IPv4 → phone replacement order ('g' = replace-all, which
    // is Spark's regexp_replace default).
    "q58_pii_scrub" ->
      """WITH w AS (
           SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       || ' or +3526211' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ok' AS t2
           FROM documents)
         SELECT doc_id,
                md5(regexp_replace(regexp_replace(regexp_replace(t2,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
                      '\b(\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g'),
                      '\+?\d[\d() .-]{6,}\d', '[PII]', 'g')) AS scrubbed_md5,
                CAST(len(regexp_extract_all(t2,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
                CAST(len(regexp_extract_all(t2,
                      '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ip
         FROM w ORDER BY doc_id""",

    // q59: identical normalization, bigram construction, and the same
    // docs-with-a-bigram inner-join semantics.
    "q59_repetition" ->
      """WITH n AS (
           SELECT doc_id, source,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
           FROM documents),
         ws AS (SELECT doc_id, source, t, string_split(t, ' ') AS w FROM n),
         dup AS (
           SELECT doc_id,
                  CASE WHEN length(t) = 0 THEN 0.0
                       ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END AS dup_frac
           FROM ws),
         bg AS (
           SELECT doc_id, source,
                  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
           FROM ws WHERE len(w) >= 2),
         bc AS (SELECT doc_id, source, bg, count(1) AS c FROM bg GROUP BY doc_id, source, bg),
         tb AS (SELECT doc_id, source, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
                FROM bc GROUP BY doc_id, source)
         SELECT source, round(avg(dup_frac), 4) AS avg_dup_frac,
                round(avg(top_bigram_frac), 4) AS avg_top_bigram,
                count(1) AS n_docs
         FROM tb JOIN dup USING (doc_id)
         GROUP BY source ORDER BY source""",

    "q28_media_meta" ->
      """SELECT doc_id AS media_id,
                CAST(4 * (1 - (doc_id % 2)) + 8 * (doc_id % 2) + octet_length(encode(text)) AS INTEGER) AS n_bytes,
                CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'png' END AS format
         FROM documents ORDER BY media_id""",

    // Recomputes the decoded-raster statistics in closed form from the
    // same pixel formula the Spark side encodes — so a green row proves
    // the engine really decoded the PNG bytes (dims from the raster,
    // per-pixel luminance sums), not a hash-derived stub. The grid is
    // the max dims (23x16) filtered per-doc (DuckDB's generate_series
    // can't take lateral column args).
    "q64_image_decode" ->
      """SELECT d.doc_id AS media_id,
                CAST(16 + d.doc_id % 8 AS INTEGER) AS width,
                CAST(12 + d.doc_id % 5 AS INTEGER) AS height,
                1 AS channels,
                CAST(sum((x.x * 3 + y.y * 5 + d.doc_id) % 256) AS BIGINT) AS pixel_sum,
                CAST(sum(CASE WHEN (x.x * 3 + y.y * 5 + d.doc_id) % 256 < 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark
         FROM documents d, generate_series(0, 22) AS x(x), generate_series(0, 15) AS y(y)
         WHERE x.x < 16 + d.doc_id % 8 AND y.y < 12 + d.doc_id % 5
         GROUP BY d.doc_id
         ORDER BY media_id""",

    // q65: the closed form of the vision fixture — valid ONLY when the
    // tracker keeps every association: per camera 3 stable objects, 30
    // frames per 1-min window (2 s cadence), durations exactly 2i s at
    // frame i, so avg_duration over window k is 60k + 29 and the HLL
    // distinct over ids {0,1,2} is exactly 3. Any tracking break
    // (id churn, duration reset, dropped frame) shifts these values.
    "q65_vision_e2e" ->
      """SELECT strftime(epoch_ms((1767103200 + 60 * g.k) * 1000), '%Y-%m-%d %H:%M:%S') AS bucket,
                c.camera_id,
                CAST(90 AS BIGINT) AS detection_count,
                CAST(3 AS BIGINT) AS unique_objects,
                round(CAST(60 * g.k + 29 AS DOUBLE), 4) AS avg_duration
         FROM generate_series(0, 4) AS g(k),
              (VALUES ('CAM_01'), ('CAM_02')) AS c(camera_id)
         ORDER BY bucket, camera_id""",

    // q68: both legs restated (q54's BM25 CTE chain + q24's cosine
    // probe), ranked by (rounded score, id), fused as 1/(60+rank)
    // sums. The per-doc sum has at most two commutative terms, so the
    // doubles are engine-exact unrounded.
    "q68_hybrid_rrf" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('the', 'data', 'model') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id),
         lex AS (
           SELECT doc_id,
                  row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank
           FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         semtop AS (
           SELECT vec_id, CAST(list_cosine_similarity(embedding, qv) AS DOUBLE) AS cosine
           FROM embeddings, q
           ORDER BY round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 6) DESC, vec_id
           LIMIT 20),
         sem AS (
           SELECT vec_id AS doc_id,
                  row_number() OVER (ORDER BY round(cosine, 6) DESC, vec_id) AS rank
           FROM semtop),
         unioned AS (SELECT doc_id, rank FROM lex
                     UNION ALL SELECT doc_id, rank FROM sem)
         SELECT doc_id, sum(1.0 / (60 + rank)) AS rrf_score,
                count(1) AS n_lists
         FROM unioned GROUP BY doc_id
         ORDER BY rrf_score DESC, doc_id""",

    // q69: the q31 gram normalization verbatim at n=4, then a plain
    // train×eval intersect — the oracle can afford all-pairs where the
    // engine broadcasts the (small) eval gram set.
    "q69_decontaminate" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(ws) < 4 THEN [array_to_string(ws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 2),
                         i -> array_to_string(list_slice(ws, i, i + 3), ' '))) END AS grams
           FROM w),
         pairs AS (
           SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
                  len(list_intersect(a.grams, b.grams)) AS shared
           FROM g a JOIN g b ON a.doc_id % 25 != 0 AND b.doc_id % 25 = 0)
         SELECT train_id, eval_id, CAST(shared AS BIGINT) AS n_shared
         FROM pairs WHERE shared > 0 ORDER BY train_id, eval_id""",

    // q70/q70b: the gram normalization, then Laplace bigram log-probs
    // in integer micro-nats (CAST(round(ln·1e6) AS BIGINT)) so the
    // per-doc sum is exact integer arithmetic in both engines; only
    // the final avg re-enters doubles. Integer sums CAST to BIGINT
    // (DuckDB sums BIGINT → HUGEINT → pandas float otherwise).
    "q70_lm_score" -> BigramLmOracleSql,
    "q162_ppl_buckets" -> PplBucketsOracleSql,
    // the streamed model must answer exactly as the one-shot train
    "q163_lm_stream" -> BigramLmOracleSql,
    // the streamed-model serve of the cut must answer as the
    // one-shot q162 — same oracle, verbatim
    "q162b_ppl_buckets_served" -> PplBucketsOracleSql,
    // q165: quantization (round·1000), label-seeded integer
    // centroids (floor of exact integer sums), every vector's
    // integer-L2 argmin with (dist, cluster) tiebreak, then the q96
    // quota/selection replay with the cluster as the stratum. The
    // only float steps are the per-element round (house ulp risk)
    // and the centroid floor-div (gap ≥ 1/n, ~11 orders above double
    // rounding); everything else is exact integers. dim=64 pinned by
    // the embeddings fixture.
    "q165_cluster_balance" ->
      """WITH q AS (
           SELECT vec_id, label,
                  list_transform(embedding,
                    e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS gq
           FROM embeddings),
         px AS (SELECT unnest(range(1, 65)) AS pos),
         cent AS (
           SELECT label AS cluster, pos,
                  CAST(floor(CAST(sum(gq[pos]) AS DOUBLE) / count(1))
                       AS BIGINT) AS cv
           FROM q CROSS JOIN px GROUP BY label, pos),
         cvecs AS (
           SELECT cluster, list(cv ORDER BY pos) AS cvec
           FROM cent GROUP BY cluster),
         dists AS (
           SELECT q.vec_id, c.cluster,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> (q.gq[i] - c.cvec[i]) * (q.gq[i] - c.cvec[i])))
                    AS BIGINT) AS dist
           FROM q CROSS JOIN cvecs c),
         assign AS (
           SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY dist, cluster) AS rk
             FROM dists) WHERE rk = 1),
         cnt AS (SELECT cluster, count(1) AS n FROM assign GROUP BY cluster),
         w AS (SELECT cluster, n,
                 CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0 + 0.5)
                      AS BIGINT) AS sw
               FROM cnt),
         tot AS (SELECT sum(sw) AS st FROM w),
         raw AS (SELECT cluster, n, (200 * sw) // tot.st AS q0,
                        (200 * sw) % tot.st AS rem
                 FROM w CROSS JOIN tot),
         lo AS (SELECT 200 - sum(q0) AS leftover FROM raw),
         bump AS (SELECT cluster, n, q0, rem,
                    row_number() OVER (ORDER BY rem DESC,
                      CAST(cluster AS VARCHAR)) AS rk
                  FROM raw),
         quota AS (SELECT cluster,
                     least(CASE WHEN rk <= (SELECT leftover FROM lo)
                                THEN q0 + 1 ELSE q0 END, n) AS qq
                   FROM bump),
         sel AS (SELECT a.vec_id, a.cluster,
                   row_number() OVER (PARTITION BY a.cluster
                     ORDER BY md5('graft' || CAST(a.vec_id AS VARCHAR)),
                       a.vec_id) AS rn
                 FROM assign a),
         kept AS (SELECT sel.vec_id, sel.cluster
                  FROM sel JOIN quota USING (cluster) WHERE sel.rn <= quota.qq)
         SELECT cluster, count(1) AS n_kept,
                CAST(sum(vec_id) AS BIGINT) AS id_sum,
                CAST(sum(vec_id * vec_id) AS BIGINT) AS id_sq_sum
         FROM kept GROUP BY cluster ORDER BY cluster""",
    "q164_license_filter" ->
      """WITH hx AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 6 AS INTEGER)
                    WHEN 0 THEN 'Permission is hereby granted, free of charge, to any person obtaining a copy of this software.' || chr(10) || text
                    WHEN 1 THEN 'Licensed under the Apache License, Version 2.0; you may not use this file except in compliance.' || chr(10) || text
                    WHEN 2 THEN 'This file is free software under the terms of the GNU General Public License as published.' || chr(10) || text
                    WHEN 3 THEN 'Redistribution and use in source and binary forms, with or without modification, are permitted. All rights reserved.' || chr(10) || text
                    WHEN 4 THEN 'Copyright 2026 MegaCorp. All rights reserved. Unauthorized copying is prohibited.' || chr(10) || text
                    ELSE text END AS text
           FROM documents),
         h AS (SELECT doc_id, lower(substr(text, 1, 1500)) AS h FROM hx),
         lic AS (
           SELECT doc_id,
                  CASE
                    WHEN h LIKE '%apache license%' AND h LIKE '%version 2.0%'
                      THEN 'apache-2.0'
                    WHEN h LIKE '%gnu general public license%' THEN 'gpl-3.0'
                    WHEN h LIKE '%permission is hereby granted, free of charge%'
                      THEN 'mit'
                    WHEN h LIKE '%redistribution and use in source and binary forms%'
                      THEN 'bsd-3-clause'
                    WHEN h LIKE '%all rights reserved%' THEN 'proprietary'
                    ELSE 'none' END AS license
           FROM h)
         SELECT doc_id, license,
                license IN ('mit', 'apache-2.0', 'bsd-3-clause') AS permissive
         FROM lic ORDER BY doc_id""",
    "q70b_lm_persisted" -> BigramLmOracleSql,

    // q72: weights restated as (whole copies, fractional md5
    // threshold) — 2.5 → (2, 0x80000000), 0.4 → (0, 0x66666666) — the
    // engine's thresholdHex values; membership re-derived per doc.
    "q72_epoch_mixture" ->
      """WITH wts AS (
           SELECT * FROM (VALUES ('src0', 2, '80000000'), ('src1', 1, '00000000'),
                                 ('src2', 0, '66666666'), ('src3', 0, '00000000'))
                AS t(source, nfull, frac)),
         epochs AS (SELECT unnest(range(0, 3)) AS epoch)
         SELECT d.doc_id, d.source, CAST(e.epoch AS BIGINT) AS epoch
         FROM documents d JOIN wts w USING (source) CROSS JOIN epochs e
         WHERE e.epoch < w.nfull OR (e.epoch = w.nfull AND
               substr(md5('graft_e' || CAST(d.doc_id AS VARCHAR)), 1, 8) < w.frac)
         ORDER BY d.doc_id, e.epoch""",

    // q81: per-column closed-form profile; numeric min/max stringify
    // AFTER the typed aggregate in both engines.
    "q81_profile" -> {
      def leg(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   count(DISTINCT $c) AS n_distinct,
                   CAST(min($c) AS VARCHAR) AS min_s,
                   CAST(max($c) AS VARCHAR) AS max_s
            FROM documents"""
      Seq("doc_id", "lang", "source", "n_chars").map(leg)
        .mkString("", " UNION ALL ", " ORDER BY col_name")
    },

    // q89: the whole DSIR pipeline re-derived — grams with
    // multiplicity (unigrams + "w1 w2" bigrams of the lower/\s+
    // tokenization), the recursive FNV+mix64 bucket of every distinct
    // gram, target ('src0') and source distributions, the micro-
    // quantized per-bucket log ratio with the SAME ln-argument
    // decomposition and floor(x·1e6 + 0.5) the engine computes
    // driver-side, and exact integer per-doc sums. Gram→bucket chain
    // shared with q97 (GramBucketCte).
    "q89_dsir_score" -> (GramBucketCte +
      """,
           tcnt AS (SELECT gr.bucket, count(1) AS c
                    FROM gr JOIN documents d ON d.doc_id = gr.doc_id
                    WHERE d.source = 'src0' GROUP BY gr.bucket),
           scnt AS (SELECT bucket, count(1) AS c FROM gr GROUP BY bucket),
           tot AS (SELECT
                     (SELECT count(1) FROM gr g JOIN documents d ON d.doc_id = g.doc_id
                      WHERE d.source = 'src0') AS tt,
                     (SELECT count(1) FROM gr) AS st),
           lr AS (SELECT CAST(bb.b AS INTEGER) AS bucket,
                    CAST(floor((ln(coalesce(t.c, 0) + 1) - ln(tot.tt + 4096)
                                - ln(coalesce(s.c, 0) + 1) + ln(tot.st + 4096))
                               * 1000000 + 0.5) AS BIGINT) AS lrm
                  FROM (SELECT unnest(range(4096)) AS b) bb
                  CROSS JOIN tot
                  LEFT JOIN tcnt t ON t.bucket = bb.b
                  LEFT JOIN scnt s ON s.bucket = bb.b),
           per AS (SELECT gr.doc_id, count(1) AS n_grams,
                          CAST(sum(lr.lrm) AS BIGINT) AS score
                   FROM gr JOIN lr USING (bucket) GROUP BY gr.doc_id)
         SELECT d.doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(p.score, 0) AS BIGINT) AS score_micro
         FROM documents d LEFT JOIN per p USING (doc_id)
         ORDER BY d.doc_id"""),

    // q82: BPE tokenization under the committed merge list replayed as
    // closed-form arithmetic — tokens(word) = len+1 − occ('th') −
    // occ('in') − endswith('e'). occ via single-pass replace (the same
    // non-overlapping left-to-right semantics as the symbol-level
    // merge, because merged symbols are atomic); word split via the
    // engine's normalizeText restated (the q82b normalization).
    "q82_bpe_tokens" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
         per AS (
           SELECT doc_id,
                  length(word) + 1
                    - (length(word) - length(replace(word, 'th', ''))) // 2
                    - (length(word) - length(replace(word, 'in', ''))) // 2
                    - CASE WHEN word LIKE '%e' THEN 1 ELSE 0 END AS n
           FROM tok)
         SELECT d.doc_id, CAST(coalesce(sum(p.n), 0) AS BIGINT) AS n_bpe_tokens
         FROM documents d LEFT JOIN per p USING (doc_id)
         GROUP BY d.doc_id ORDER BY d.doc_id""",

    // q82c: the chained two-stage greedy trace closed-form. Stage 0
    // (t,h) is a left-to-right non-overlapping scan; stage 1 (th,e)
    // consumes exactly the pairs the alternation-preferred 'the'
    // match takes (its 'e' can never belong to a later 'th'), so both
    // stages equal ONE scan 'the|th|.'; stage 2's end-of-word merge
    // fires iff the last symbol is a BARE 'e' — a word ending "the"
    // keeps '</w>' separate because rank 1 already took the 'e'
    // (the rank-priority observable). Ids: 1='</w>', 2='th', 3='the',
    // 4='e</w>', 5+codepoint=base.
    "q82c_bpe_chained" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e' AND NOT wd LIKE '%the'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'the|th|.'), 1,
                               len(regexp_extract_all(wd, 'the|th|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'the|th|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'the' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w)
         SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
                md5(array_to_string(ids, ',')) AS ids_md5
         FROM tok ORDER BY doc_id""",

    // q183: the byte-level greedy trace closed-form over the [a-z ]
    // corpus — GPT-2 pre-tokens are the first word bare + ' word'
    // for the rest; within a letter pre-token the merge trace equals
    // one 'the|th|ing|in|.' scan (no merge output feeds another
    // pattern's start), and the (space,t) merge fires iff the word
    // starts 't' NOT followed by 'h' (rank 0 takes the t first
    // otherwise). The planted constant suffix contributes its fixed
    // ids verbatim: ' it'(32,105,116) ''s'(39,115) ' 42'(32,52,50)
    // ' café'(32,99,97,102,195,169 — é is two bytes) ' the'(32,257)
    // ' tin'(258,259) ' thing'(32,256,260) trailing '  '(32,32).
    "q183_byte_bpe" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t1 AS (
           SELECT doc_id, ws[1] AS w0,
                  list_slice(ws, 2, len(ws)) AS rest
           FROM w),
         ids AS (
           SELECT doc_id,
                  list_transform(regexp_extract_all(w0, 'the|th|ing|in|.'),
                    s -> CASE s WHEN 'the' THEN 257 WHEN 'th' THEN 256
                                WHEN 'ing' THEN 260 WHEN 'in' THEN 259
                                ELSE ascii(s) END)
                  || flatten(list_transform(rest, wd ->
                       CASE WHEN substr(wd, 1, 1) = 't'
                                 AND substr(wd, 2, 1) != 'h'
                         THEN [258] || list_transform(
                                regexp_extract_all(substr(wd, 2),
                                  'the|th|ing|in|.'),
                                s -> CASE s WHEN 'the' THEN 257
                                            WHEN 'th' THEN 256
                                            WHEN 'ing' THEN 260
                                            WHEN 'in' THEN 259
                                            ELSE ascii(s) END)
                         ELSE [32] || list_transform(
                                regexp_extract_all(wd, 'the|th|ing|in|.'),
                                s -> CASE s WHEN 'the' THEN 257
                                            WHEN 'th' THEN 256
                                            WHEN 'ing' THEN 260
                                            WHEN 'in' THEN 259
                                            ELSE ascii(s) END)
                       END))
                  || [32,105,116,39,115,32,52,50,32,99,97,102,195,169,
                      32,257,258,259,32,256,260,32,32]
                    AS ids
           FROM t1)
         SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
                md5(array_to_string(ids, ',')) AS ids_md5
         FROM ids ORDER BY doc_id""",

    // q183b: the q183 corpus-side byte ids (no planted suffix)
    // through the q145 shard/bin/offset forms verbatim.
    "q183b_byte_token_shards" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t1 AS (
           SELECT doc_id, ws[1] AS w0,
                  list_slice(ws, 2, len(ws)) AS rest
           FROM w),
         tok AS (
           SELECT doc_id,
                  list_transform(regexp_extract_all(w0, 'the|th|ing|in|.'),
                    s -> CASE s WHEN 'the' THEN 257 WHEN 'th' THEN 256
                                WHEN 'ing' THEN 260 WHEN 'in' THEN 259
                                ELSE ascii(s) END)
                  || flatten(list_transform(rest, wd ->
                       CASE WHEN substr(wd, 1, 1) = 't'
                                 AND substr(wd, 2, 1) != 'h'
                         THEN [258] || list_transform(
                                regexp_extract_all(substr(wd, 2),
                                  'the|th|ing|in|.'),
                                s -> CASE s WHEN 'the' THEN 257
                                            WHEN 'th' THEN 256
                                            WHEN 'ing' THEN 260
                                            WHEN 'in' THEN 259
                                            ELSE ascii(s) END)
                         ELSE [32] || list_transform(
                                regexp_extract_all(wd, 'the|th|ing|in|.'),
                                s -> CASE s WHEN 'the' THEN 257
                                            WHEN 'th' THEN 256
                                            WHEN 'ing' THEN 260
                                            WHEN 'in' THEN 259
                                            ELSE ascii(s) END)
                       END)) AS ids
           FROM t1),
         p AS (
           SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, ids,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, ids,
                  coalesce(sum(len(ids) + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(sum(len(ids) + 1) AS BIGINT) AS seq_tokens,
                md5(string_agg(array_to_string(list_append(ids, 0), ','),
                    ',' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv
         FROM o GROUP BY shard, bin ORDER BY shard, bin""",

    // q183d: the pre-token histogram restated — first word bare,
    // the rest ' '-prefixed, counted, minCount=2 prune.
    "q183d_byte_histogram" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         seg AS (
           SELECT ws[1] AS p FROM w
           UNION ALL
           SELECT ' ' || u.wd
           FROM w, UNNEST(list_slice(ws, 2, len(ws))) AS u(wd))
         SELECT p AS pretoken, CAST(count(1) AS BIGINT) AS n
         FROM seg WHERE length(p) > 0
         GROUP BY p HAVING count(1) >= 2 ORDER BY pretoken""",

    // q183c: decode∘encode is the IDENTITY on raw text (no
    // normalization in the byte model), so decoded_md5 is literally
    // md5(text); n_tokens restated via the byte scan + space rule.
    "q183c_byte_roundtrip" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t1 AS (
           SELECT doc_id, ws[1] AS w0,
                  list_slice(ws, 2, len(ws)) AS rest
           FROM w),
         tok AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(w0, 'the|th|ing|in|.'))
                       AS BIGINT)
                  + CAST(coalesce(list_sum(list_transform(rest, wd ->
                      CASE WHEN substr(wd, 1, 1) = 't'
                                AND substr(wd, 2, 1) != 'h'
                        THEN 1 + len(regexp_extract_all(substr(wd, 2),
                               'the|th|ing|in|.'))
                        ELSE 1 + len(regexp_extract_all(wd,
                               'the|th|ing|in|.'))
                      END)), 0) AS BIGINT) AS n_tokens
           FROM t1)
         SELECT t.doc_id, t.n_tokens, md5(d.text) AS decoded_md5
         FROM tok t JOIN documents d USING (doc_id)
         ORDER BY t.doc_id""",

    // q82b: DuckDB recomputes the BPE word histogram from the raw
    // corpus — normalizeText (lower, strip ASCII punct, collapse
    // whitespace) then split/unnest/group — with the same minCount=2
    // tail prune.
    "q82b_bpe_histogram" ->
      """SELECT word, count(1) AS n FROM (
           SELECT unnest(list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0)) AS word
           FROM documents)
         GROUP BY word HAVING count(1) >= 2 ORDER BY word""",

    // q80: the q34 brute-force oracle verbatim — the cell-scoped
    // algorithm must reproduce the all-pairs truth on this fixture
    // (soundness by construction; completeness by spec-pinned clone
    // co-location).
    "q80_semantic_dedup" ->
      """WITH clones AS (
           SELECT vec_id + 100000 AS vec_id,
                  list_transform(range(1, len(embedding) + 1),
                    i -> CAST(CASE WHEN i = 1 THEN embedding[i] + 0.01 ELSE embedding[i] END AS FLOAT)) AS embedding
           FROM embeddings WHERE vec_id < 5),
         all_e AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id, embedding FROM clones)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 6), 4) AS cosine
         FROM all_e a JOIN all_e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
         ORDER BY id_a, id_b""",

    // q79: the oracle is the PLAIN box filter — manifest pruning must
    // be invisible in the result. Box bounds use floor division on
    // non-negative spans, identical in both engines.
    "q79_pruned_read" ->
      """WITH s AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                           min(event_id) AS emin, max(event_id) AS emax FROM events)
         SELECT e.event_id, e.user_id, e.event_type, round(e.value, 4) AS value
         FROM events e CROSS JOIN s
         WHERE e.user_id >= s.umin + (s.umax - s.umin) * 3 // 8
           AND e.user_id <= s.umin + (s.umax - s.umin) * 5 // 8
           AND e.event_id >= s.emin + (s.emax - s.emin) * 3 // 8
           AND e.event_id <= s.emin + (s.emax - s.emin) * 5 // 8
         ORDER BY e.event_id""",

    // q78/q78b: thresholds generated through the same scanLeft +
    // thresholdHex arithmetic splitAssign uses, so the oracle can
    // never disagree on a boundary digest. q78b's cluster map is the
    // q48 recursive-CTE oracle, left-joined as the split key.
    "q78_split_assign" -> {
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = graft.operators.Sampling.thresholdHex(cums(0))
      val t2 = graft.operators.Sampling.thresholdHex(cums(1))
      s"""SELECT doc_id,
                 CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t1'
                        THEN 'train'
                      WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t2'
                        THEN 'val'
                      ELSE 'test' END AS split
          FROM documents ORDER BY doc_id"""
    },

    "q78b_split_leakfree" -> {
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = graft.operators.Sampling.thresholdHex(cums(0))
      val t2 = graft.operators.Sampling.thresholdHex(cums(1))
      s"""WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\\[-`{-~]', '', 'g'), '\\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' '))) END AS grams
           FROM w),
         jp AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         e AS (SELECT doc_a AS u, doc_b AS v FROM jp
               UNION SELECT doc_b, doc_a FROM jp),
         reach(node, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
         comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         rep AS (
           SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
           FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
         SELECT doc_id, rep,
                CASE WHEN substr(md5('graft' || CAST(rep AS VARCHAR)), 1, 8) < '$t1'
                       THEN 'train'
                     WHEN substr(md5('graft' || CAST(rep AS VARCHAR)), 1, 8) < '$t2'
                       THEN 'val'
                     ELSE 'test' END AS split
         FROM rep ORDER BY doc_id"""
    },

    // q77: the merged table in closed form — matched keys take the
    // batch's NEWEST version (rev 2), unmatched keep their base row,
    // and the negative-key inserts appear once.
    "q77_lake_upsert" ->
      """SELECT event_id,
                round(CASE WHEN event_id % 7 = 0 THEN value + 2000 ELSE value END, 4)
                  AS value,
                CASE WHEN event_id % 7 = 0 THEN 2 ELSE 0 END AS rev,
                event_type
         FROM events
         UNION ALL
         SELECT -event_id - 1 AS event_id, round(event_id * 1.5, 4) AS value,
                1 AS rev, event_type
         FROM events WHERE event_id % 97 = 0
         ORDER BY event_id""",

    // q76: the oracle is the from-scratch rollup — the incremental
    // merge must be indistinguishable from a full recompute.
    "q76_incr_rollup" ->
      """WITH h AS (
           SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                  event_type, count(1) AS n,
                  CAST(sum(CAST(value AS DECIMAL(20,4))) * 10000 AS BIGINT)
                    AS su,
                  round(min(value), 4) AS min_value,
                  round(max(value), 4) AS peak_value
           FROM events GROUP BY 1, 2)
         SELECT hour, event_type, n,
                CAST(su AS DOUBLE) / 10000.0 AS total_value,
                CAST((su * 2 + n) // (2 * n) AS DOUBLE) / 10000.0
                  AS avg_value,
                min_value, peak_value
         FROM h ORDER BY hour, event_type""",

    // q75: shard = (32-bit digest prefix) mod 16 = the prefix's LOW
    // hex digit (char 8), read as its digit value via strpos; position
    // recomputed with the same (digest, id) window order.
    "q75_shard_export" ->
      """WITH d AS (
           SELECT doc_id,
                  md5('graft' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         s AS (
           SELECT doc_id, h,
                  strpos('0123456789abcdef', substr(h, 8, 1)) - 1 AS shard
           FROM d)
         SELECT doc_id, CAST(shard AS INT) AS shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
                     AS INT) AS pos
         FROM s ORDER BY doc_id""",

    // q74: the oracle is the PLAIN join — the bloom prune must be
    // invisible in the result (no false negatives; false positives
    // removed by the exact join).
    "q74_bloom_join" ->
      """SELECT o_orderstatus,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // q73: the oracle SQL is GENERATED from Layout.quantizeSql /
    // zorderKeySql so engine and oracle share one definition of the
    // curve — same IEEE multiply-before-divide quantization, same
    // bit-position convention (bit b of column ci at b*n+ci).
    "q73_zorder" -> {
      val qu = graft.operators.Layout.quantizeSql("e.user_id", "s.umin", "s.umax", 8)
      val qe = graft.operators.Layout.quantizeSql("e.event_id", "s.emin", "s.emax", 8)
      s"""WITH s AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                            min(event_id) AS emin, max(event_id) AS emax FROM events)
          SELECT e.event_id,
                 ${graft.operators.Layout.zorderKeySql(Seq(qu, qe), bits = 8)} AS zkey
          FROM events e CROSS JOIN s
          ORDER BY e.event_id"""
    },

    // q71: same normalization, 10-word aligned spans, keep = first
    // (doc_id, seg_no) occurrence per distinct span (row_number where
    // the engine elects min-struct winners — same total order),
    // surviving spans rejoined in seg_no order.
    "q71_span_dedup" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         seg AS (
           SELECT doc_id,
                  unnest(list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS INT)),
                    i -> {'seg_no': i,
                          'seg': array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ')})) AS s
           FROM w),
         segs AS (SELECT doc_id, s.seg_no AS seg_no, s.seg AS seg FROM seg),
         marked AS (
           SELECT doc_id, seg_no, seg,
                  row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
           FROM segs)
         SELECT doc_id, CAST(count(1) AS BIGINT) AS n_spans,
                CAST(count(1) FILTER (rn = 1) AS BIGINT) AS n_kept,
                coalesce(array_to_string(list(seg ORDER BY seg_no) FILTER (rn = 1), ' '),
                         '') AS text
         FROM marked GROUP BY doc_id ORDER BY doc_id""",

    // q67: closed form of the WAV fixture. Positive samples: the
    // even-indexed half-period blocks — (full+1)//2 complete blocks of
    // `half` samples plus the remainder block when `full` is even;
    // every other sample is -(a+1). Zero crossings: one per block
    // boundary at or before the last frame.
    "q67_audio_decode" ->
      """WITH p AS (
           SELECT doc_id,
                  800 + (doc_id % 13) * 16 AS n,
                  4 + doc_id % 5 AS half,
                  1000 + (doc_id % 7) * 500 AS a
           FROM documents),
         q AS (SELECT doc_id, n, half, a, n // half AS fullb, n % half AS rem FROM p),
         r AS (SELECT doc_id, n, half, a,
                      ((fullb + 1) // 2) * half
                        + CASE WHEN fullb % 2 = 0 THEN rem ELSE 0 END AS npos
               FROM q)
         SELECT doc_id AS media_id,
                CAST(8000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(16 AS INT) AS bits,
                CAST(n AS BIGINT) AS n_frames,
                CAST(npos * a + (n - npos) * (a + 1) AS BIGINT) AS sum_abs,
                CAST((n - 1) // half AS BIGINT) AS zero_crossings,
                CAST(-(a + 1) AS INT) AS peak_min,
                CAST(a AS INT) AS peak_max
         FROM r ORDER BY media_id""",

    // q66: the closed form of a lossless compaction — every document
    // rides the fragment→compact→read-back loop with its text md5
    // intact, each of the 3 leaves was fragmented (8 files > 4) before
    // and holds exactly 1 file after, and all 3 were rewritten.
    "q66_compaction" ->
      """SELECT doc_id, md5(text) AS text_md5,
                CAST(doc_id % 3 AS INT) AS hour_bucket,
                true AS fragmented_before,
                1 AS files_after, 3 AS n_compacted
         FROM documents ORDER BY doc_id""",

    // q95: the integer PageRank unrolled — same edge derivation, same
    // uniform integer init, and four steps of
    // r'(v) = base + Σ floor(r(u)·85 / (100·outdeg(u))) in pure
    // integer floor arithmetic ('//' here, 'div' in Spark), so every
    // rank matches bit-for-bit. Dangling/rounding mass drops in both.
    "q95_pagerank" -> {
      val prelude =
        """WITH pairs AS (
             SELECT DISTINCT 2 * o_custkey AS cn, 2 * l_suppkey + 1 AS sn
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           e AS (SELECT cn AS src, sn AS dst FROM pairs
                 UNION SELECT sn, cn FROM pairs),
           nd AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
           outdeg AS (SELECT src AS node, count(1) AS od FROM e GROUP BY 1),
           nn AS (SELECT count(1) AS n FROM nd),
           r0 AS (SELECT node, 1000000000 // nn.n AS r FROM nd CROSS JOIN nn)"""
      val steps = (1 to 4).map { i =>
        s""",
           r$i AS (
             SELECT nd.node,
                    (SELECT 15000000000 // (100 * n) FROM nn) + coalesce(m.s, 0) AS r
             FROM nd LEFT JOIN (
               SELECT e.dst AS node, sum((p.r * 85) // (100 * o.od)) AS s
               FROM r${i - 1} p JOIN outdeg o ON o.node = p.node
                                JOIN e ON e.src = p.node
               GROUP BY e.dst) m ON m.node = nd.node)"""
      }.mkString
      prelude + steps +
        " SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4 ORDER BY node"
    },

    // q95b: identical semantics to q95 (the lifecycle split changes
    // where the edges live, not one bit of the arithmetic), so the
    // oracle is the same unrolled replay.
    "q95b_pagerank_serve" -> {
      val prelude =
        """WITH pairs AS (
             SELECT DISTINCT 2 * o_custkey AS cn, 2 * l_suppkey + 1 AS sn
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           e AS (SELECT cn AS src, sn AS dst FROM pairs
                 UNION SELECT sn, cn FROM pairs),
           nd AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
           outdeg AS (SELECT src AS node, count(1) AS od FROM e GROUP BY 1),
           nn AS (SELECT count(1) AS n FROM nd),
           r0 AS (SELECT node, 1000000000 // nn.n AS r FROM nd CROSS JOIN nn)"""
      val steps = (1 to 4).map { i =>
        s""",
           r$i AS (
             SELECT nd.node,
                    (SELECT 15000000000 // (100 * n) FROM nn) + coalesce(m.s, 0) AS r
             FROM nd LEFT JOIN (
               SELECT e.dst AS node, sum((p.r * 85) // (100 * o.od)) AS s
               FROM r${i - 1} p JOIN outdeg o ON o.node = p.node
                                JOIN e ON e.src = p.node
               GROUP BY e.dst) m ON m.node = nd.node)"""
      }.mkString
      prelude + steps +
        " SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4 ORDER BY node"
    },

    // q95c: streamed arrival changes WHERE the edges accumulated, not
    // one bit of the arithmetic — the ledgered merges must converge to
    // exactly the q95 edge set and out-degrees, so the oracle is the
    // same unrolled replay once more.
    "q95c_pagerank_stream" -> {
      val prelude =
        """WITH pairs AS (
             SELECT DISTINCT 2 * o_custkey AS cn, 2 * l_suppkey + 1 AS sn
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           e AS (SELECT cn AS src, sn AS dst FROM pairs
                 UNION SELECT sn, cn FROM pairs),
           nd AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
           outdeg AS (SELECT src AS node, count(1) AS od FROM e GROUP BY 1),
           nn AS (SELECT count(1) AS n FROM nd),
           r0 AS (SELECT node, 1000000000 // nn.n AS r FROM nd CROSS JOIN nn)"""
      val steps = (1 to 4).map { i =>
        s""",
           r$i AS (
             SELECT nd.node,
                    (SELECT 15000000000 // (100 * n) FROM nn) + coalesce(m.s, 0) AS r
             FROM nd LEFT JOIN (
               SELECT e.dst AS node, sum((p.r * 85) // (100 * o.od)) AS s
               FROM r${i - 1} p JOIN outdeg o ON o.node = p.node
                                JOIN e ON e.src = p.node
               GROUP BY e.dst) m ON m.node = nd.node)"""
      }.mkString
      prelude + steps +
        " SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4 ORDER BY node"
    },

    // q96: weights, apportionment, and membership re-derived from
    // scratch: s_i = floor(sqrt(n_i)·2^20 + 0.5) (sqrt is IEEE
    // correctly-rounded — bit-identical to Math.sqrt), quotas by
    // integer largest remainder (ties rem DESC then source ASC),
    // capped at n_i, and each source keeps its quota smallest
    // (md5('graft'||id), id) draws.
    "q96_temperature_mixture" ->
      """WITH cnt AS (SELECT source, count(1) AS n FROM documents GROUP BY source),
         w AS (SELECT source, n,
                 CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS s
               FROM cnt),
         tot AS (SELECT sum(s) AS st FROM w),
         raw AS (SELECT source, n, (200 * s) // tot.st AS q0,
                        (200 * s) % tot.st AS rem
                 FROM w CROSS JOIN tot),
         lo AS (SELECT 200 - sum(q0) AS leftover FROM raw),
         bump AS (SELECT source, n, q0, rem,
                    row_number() OVER (ORDER BY rem DESC, source) AS rk
                  FROM raw),
         quota AS (SELECT source,
                     least(CASE WHEN rk <= (SELECT leftover FROM lo)
                                THEN q0 + 1 ELSE q0 END, n) AS q
                   FROM bump),
         sel AS (SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                     ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
                 FROM documents),
         kept AS (SELECT sel.doc_id, sel.source
                  FROM sel JOIN quota USING (source) WHERE sel.rn <= quota.q)
         SELECT source, count(1) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(doc_id * doc_id) AS BIGINT) AS id_sq_sum
         FROM kept GROUP BY source ORDER BY source""",

    // q97: the drift monitor replayed — the q89 gram/bucket chain
    // (GramBucketCte), per-slice add-1-smoothed bucket distributions,
    // the IDENTICAL float expression tree for the two midpoint-KL
    // terms (every op correctly rounded except ln, whose ≤1-ulp
    // spread is ~4 orders under the pico quantization step), and
    // exact integer pico sums.
    "q97_js_drift" -> JsDriftOracleSql,

    // q99: the STREAMED drift state must answer exactly like the
    // one-shot q97 computation — same oracle, verbatim.
    "q99_stream_drift" -> JsDriftOracleSql,

    // q98: the whole unaligned-substring pipeline re-derived keyed by
    // gram STRINGS — first occurrence via row_number over (doc_id,
    // pos), coverage = repeated window start + 0..k-1, survivors
    // reassembled from the ORIGINAL-case tokens in position order
    // (the engine hashes lowercased grams but splices original
    // tokens; whitespace splits are case-invariant so positions
    // align).
    "q98_substring_dedup" ->
      """WITH wl AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              t -> len(t) > 0) AS ws,
                  list_filter(string_split_regex(text, '\s+'),
                              t -> len(t) > 0) AS wso
           FROM documents),
         g AS (SELECT doc_id, unnest(range(1, len(ws) - 1)) AS pos, ws
               FROM wl WHERE len(ws) >= 3),
         gr AS (SELECT doc_id, pos,
                       array_to_string(list_slice(ws, pos, pos + 2), ' ') AS gram
                FROM g),
         rep AS (SELECT doc_id, pos FROM (
                   SELECT doc_id, pos,
                          row_number() OVER (PARTITION BY gram
                                             ORDER BY doc_id, pos) AS rn
                   FROM gr) WHERE rn > 1),
         cov AS (SELECT DISTINCT rep.doc_id, rep.pos + r.range AS cp
                 FROM rep, range(0, 3) r),
         tk AS (SELECT doc_id, pos, wso[pos] AS tkn FROM (
                  SELECT doc_id, unnest(range(1, len(wso) + 1)) AS pos, wso
                  FROM wl)),
         sel AS (SELECT t.doc_id, t.pos, t.tkn, (c.cp IS NOT NULL) AS dr
                 FROM tk t LEFT JOIN cov c
                   ON c.doc_id = t.doc_id AND c.cp = t.pos),
         agg AS (SELECT doc_id,
                   coalesce(string_agg(tkn, ' ' ORDER BY pos)
                            FILTER (WHERE NOT dr), '') AS kept,
                   CAST(count(*) FILTER (WHERE dr) AS BIGINT) AS n_dropped
                 FROM sel GROUP BY doc_id)
         SELECT d.doc_id, md5(coalesce(a.kept, '')) AS kept_md5,
                CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id""",

    // q100: the same deterministic churn and the same diff rule in
    // relational form — presence decides added/removed, digest
    // equality decides changed/unchanged.
    "q100_snapshot_diff" ->
      """WITH v2 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 500000, text FROM documents WHERE doc_id < 40),
         d AS (
           SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN md5(a.text) IS NOT DISTINCT FROM md5(b.text)
                         THEN 'unchanged'
                       ELSE 'changed' END AS status,
                  coalesce(length(a.text), 0) AS ca,
                  coalesce(length(b.text), 0) AS cb
           FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
         SELECT status, count(1) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(ca) AS BIGINT) AS chars_a, CAST(sum(cb) AS BIGINT) AS chars_b
         FROM d GROUP BY status ORDER BY status""",

    // q101: the line-frequency filter replayed keyed by the trimmed
    // line strings — same injected noise, df over DISTINCT docs,
    // empty keys exempt, all occurrences of a boilerplate line drop,
    // survivors rejoined by \n in position order.
    "q101_boilerplate_lines" ->
      """WITH t2 AS (
           SELECT doc_id,
                  'COOKIE NOTICE' || chr(10) || text || chr(10) ||
                  'footer: (c) example' ||
                  CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe now'
                       ELSE '' END AS text
           FROM documents),
         wl AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t2),
         ln AS (SELECT doc_id, pos, ls[pos] AS line, trim(ls[pos]) AS k
                FROM (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls
                      FROM wl)),
         nn AS (SELECT count(1) AS n FROM t2),
         dfl AS (SELECT k, count(DISTINCT doc_id) AS df FROM ln
                 WHERE k <> '' GROUP BY k),
         boiler AS (SELECT k FROM dfl CROSS JOIN nn
                    WHERE df >= 2 AND df > n * 0.6),
         agg AS (SELECT doc_id,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE k NOT IN (SELECT k FROM boiler)), '') AS kept,
                   CAST(count(*) FILTER (WHERE k IN (SELECT k FROM boiler)) AS BIGINT)
                     AS n_dropped
                 FROM ln GROUP BY doc_id)
         SELECT doc_id, md5(kept) AS kept_md5, n_dropped
         FROM agg ORDER BY doc_id""",

    // q102: the perceptual-hash pipeline replayed closed-form — the
    // same quadratic pixel formula, the same floor-division sampling
    // grid, the same bit order (bit gy·8+gx, HUGEINT powers mapped to
    // the signed 64-bit space exactly like the engine's Long), and an
    // all-pairs Hamming filter (the oracle can afford what the engine
    // bands).
    "q102_image_dhash" ->
      """WITH RECURSIVE imgs AS (
           SELECT doc_id AS media_id, doc_id AS id, 0 AS off FROM documents
           UNION ALL
           SELECT doc_id + 100000, doc_id, 1 FROM documents WHERE doc_id < 25),
         pows(b, v) AS (
           SELECT 0, CAST(1 AS HUGEINT)
           UNION ALL SELECT b + 1, v * 2 FROM pows WHERE b < 63),
         grid AS (
           SELECT media_id, id, off, gy.gy, gx.gx,
                  16 + id % 8 AS w, 12 + id % 5 AS h, 1 + id % 5 AS c
           FROM imgs, generate_series(0, 7) AS gy(gy),
                      generate_series(0, 7) AS gx(gx)),
         bits AS (
           SELECT media_id, gy * 8 + gx AS b,
                  CASE WHEN
                    (3*(gx*w//9)*(gx*w//9) + 7*(gy*h//8)*(gy*h//8)
                      + c*(gx*w//9)*(gy*h//8) + 29*id + off) % 256
                    <
                    (3*((gx+1)*w//9)*((gx+1)*w//9) + 7*(gy*h//8)*(gy*h//8)
                      + c*((gx+1)*w//9)*(gy*h//8) + 29*id + off) % 256
                  THEN 1 ELSE 0 END AS bit
           FROM grid),
         usig AS (
           SELECT media_id, coalesce(sum(pows.v), 0) AS u
           FROM bits JOIN pows ON pows.b = bits.b
           WHERE bits.bit = 1 GROUP BY media_id),
         allsig AS (
           SELECT i.media_id,
                  CAST(coalesce(u.u, 0)
                       - CASE WHEN coalesce(u.u, 0) >= 9223372036854775808
                              THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS sig
           FROM imgs i LEFT JOIN usig u USING (media_id))
         SELECT a.media_id AS doc_a, b.media_id AS doc_b,
                CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         FROM allsig a JOIN allsig b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 6
         ORDER BY doc_a, doc_b""",

    // q103: the code filters restated verbatim — same line split,
    // length shapes, alnum regex, 4-dp rounding, and the keep-rule
    // over the rounded values.
    "q103_code_filters" ->
      """WITH t3 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0
                       THEN text || chr(10) || repeat('x', 300)
                       ELSE text END AS text
           FROM documents),
         st AS (
           SELECT doc_id,
                  string_split(text, chr(10)) AS lines,
                  length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum,
                  length(text) AS tlen
           FROM t3),
         v AS (
           SELECT doc_id,
                  CAST(len(lines) AS INTEGER) AS n_lines,
                  CAST(coalesce(list_aggregate(list_transform(lines, l -> length(l)), 'max'), 0) AS INTEGER) AS max_line_len,
                  round(CAST(list_aggregate(list_transform(lines, l -> length(l)), 'sum') AS DOUBLE)
                        / len(lines), 4) AS avg_line_len,
                  CASE WHEN tlen = 0 THEN 0.0
                       ELSE round(CAST(alnum AS DOUBLE) / tlen, 4) END AS alnum_frac
           FROM st)
         SELECT doc_id, n_lines, max_line_len, avg_line_len, alnum_frac,
                (max_line_len <= 250 AND avg_line_len <= 250.0
                 AND alnum_frac >= 0.25) AS kept
         FROM v ORDER BY doc_id""",

    // q104: the audio pipeline closed-form — per-frame |sample| sums
    // over the same waveform formula (magnitude ripple +1 on the
    // negative half-cycle, clone rows scaled x2), energy-delta bits
    // 0..62 (always positive, no sign mapping needed), all-pairs
    // Hamming where the engine bands.
    "q104_audio_fingerprint" ->
      """WITH RECURSIVE media AS (
           SELECT doc_id AS media_id, doc_id AS id, 1 AS sc FROM documents
           UNION ALL
           SELECT doc_id + 100000, doc_id, 2 FROM documents WHERE doc_id < 25),
         par AS (SELECT media_id, sc,
                        800 + (id % 13) * 16 AS n, 4 + id % 5 AS half,
                        1000 + (id % 7) * 500 AS a, 1 + id % 11 AS k
                 FROM media),
         fr AS (SELECT media_id, sc, half, a, k, n // 64 AS fl FROM par),
         en AS (SELECT media_id, f.f AS f,
                  sum(sc * (a + ((f.f * fl + i.i) * k) % 23 +
                      CASE WHEN ((f.f * fl + i.i) // half) % 2 = 1
                           THEN 1 ELSE 0 END)) AS e
                FROM fr, generate_series(0, 63) AS f(f),
                     generate_series(0, 15) AS i(i)
                WHERE i.i < fl
                GROUP BY media_id, f.f),
         pw(b, v) AS (
           SELECT 0, CAST(1 AS BIGINT)
           UNION ALL SELECT b + 1, v * 2 FROM pw WHERE b < 62),
         sig AS (SELECT e1.media_id,
                   CAST(coalesce(sum(CASE WHEN e1.e < e2.e THEN pw.v
                                          ELSE 0 END), 0) AS BIGINT) AS afp
                 FROM en e1
                 JOIN en e2 ON e2.media_id = e1.media_id AND e2.f = e1.f + 1
                 JOIN pw ON pw.b = e1.f
                 WHERE e1.f < 63
                 GROUP BY e1.media_id)
         SELECT a.media_id AS doc_a, b.media_id AS doc_b,
                CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.afp, b.afp)) <= 2
         ORDER BY doc_a, doc_b""",

    // q105: the q75 shard rule re-derived (32-bit digest prefix mod
    // 16 = low hex digit of char 8) with the three integer moments
    // per shard; ok must be uniformly true — the engine's written
    // files must reconcile with an independently recomputed manifest.
    "q105_export_manifest" ->
      """WITH s AS (
           SELECT doc_id,
                  strpos('0123456789abcdef',
                         substr(md5('graft' || CAST(doc_id AS VARCHAR)), 8, 1)) - 1
                    AS shard
           FROM documents)
         SELECT CAST(shard AS INT) AS shard,
                count(1) AS n_rows,
                CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(doc_id * doc_id) AS BIGINT) AS id_sq_sum,
                true AS ok
         FROM s GROUP BY shard ORDER BY shard""",

    // q106: the quarantine split in closed form — badness is decided
    // by construction (id % 10), the quarantined line is the verbatim
    // truncated text ('{"doc_id": ' ++ id = 11 chars + digits), and
    // totals must conserve every line. The dead-letter round trip is
    // pinned by md5 over the newline-joined SORTED bad-line set,
    // computed here from first principles: both dl_md5 (lines read
    // back from the dead-letter dir) and q_md5 (the in-memory
    // quarantine column) must hash-match this closed form — one byte
    // lost or changed in the write+read loop breaks the gate.
    "q106_quarantine" ->
      """WITH m AS (SELECT doc_id, doc_id % 10 = 0 AS bad FROM documents),
         lines AS (SELECT '{"doc_id": ' || CAST(doc_id AS VARCHAR) AS l
                   FROM m WHERE bad),
         dig AS (SELECT md5(string_agg(l, chr(10) ORDER BY l)) AS d FROM lines)
         SELECT NOT bad AS parsed, count(1) AS n_rows,
                CAST(sum(CASE WHEN NOT bad THEN doc_id ELSE 0 END) AS BIGINT) AS id_sum,
                CAST(sum(CASE WHEN bad
                              THEN 11 + length(CAST(doc_id AS VARCHAR))
                              ELSE 0 END) AS BIGINT) AS quarantine_chars,
                (SELECT d FROM dig) AS dl_md5,
                (SELECT d FROM dig) AS q_md5
         FROM m GROUP BY bad ORDER BY parsed""",

    // q107: direct array scan — every i with ws[i]='part' and
    // ws[i+1]='filter' (1-based lists; the engine's 0-based first_pos
    // is hits[1]-1). Overlaps all count.
    "q107_phrase_search" ->
      """WITH w AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              t -> len(t) > 0) AS ws
           FROM documents),
         m AS (
           SELECT doc_id,
                  list_filter(range(1, len(ws)),
                              i -> ws[i] = 'part' AND ws[i + 1] = 'filter') AS hits
           FROM w WHERE len(ws) >= 2)
         SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
                CAST(hits[1] - 1 AS INT) AS first_pos
         FROM m WHERE len(hits) > 0 ORDER BY doc_id""",

    // q108: forward/backward top-4 by (6-dp cosine desc, id asc) —
    // the q25 knnJoin tie discipline — then the margin in EXACT
    // integer micro/milli units (the 6-dp cosine lifts exactly to an
    // integer; the gate and the ratio are pure integer arithmetic, so
    // no rounding boundary can flip cross-engine).
    "q108_bitext_margin" ->
      """WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0),
         b AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
         x AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                      CAST(round(round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                                            AS DOUBLE), 6) * 1000000) AS BIGINT) AS c
               FROM a CROSS JOIN b),
         f AS (SELECT ia, ib, c FROM (
                 SELECT ia, ib, c,
                        row_number() OVER (PARTITION BY ia ORDER BY c DESC, ib) AS rn
                 FROM x) WHERE rn <= 4),
         w AS (SELECT ia, ib, c FROM (
                 SELECT ia, ib, c,
                        row_number() OVER (PARTITION BY ib ORDER BY c DESC, ia) AS rn
                 FROM x) WHERE rn <= 4),
         aa AS (SELECT ia, sum(c) AS sa, count(1) AS na FROM f GROUP BY ia),
         ab AS (SELECT ib, sum(c) AS sb, count(1) AS nb FROM w GROUP BY ib),
         cand AS (SELECT ia, ib, c FROM f UNION SELECT ia, ib, c FROM w),
         m AS (SELECT cand.ia, cand.ib,
                      cand.c * 2 * aa.na * ab.nb AS num,
                      aa.sa * ab.nb + ab.sb * aa.na AS den
               FROM cand JOIN aa USING (ia) JOIN ab USING (ib))
         SELECT ia AS id_a, ib AS id_b,
                CAST((num * 1000) // den AS BIGINT) AS margin_milli
         FROM m WHERE den > 0 AND num * 1000 >= 1000 * den
         ORDER BY id_a, id_b""",

    // q112: the clone structure in closed form — re-encoded clones
    // match all 3 of 3 keyframes (measured distance 0 with a wide
    // deterministic gap to the nearest cross-video keyframe), so the
    // output is exactly one full-coverage pair per cloned id.
    "q112_video_neardup" ->
      """SELECT doc_id AS video_a,
                doc_id + 100000 AS video_b,
                CAST(3 AS BIGINT) AS matched_a,
                CAST(3 AS BIGINT) AS matched_b,
                CAST(1000 AS BIGINT) AS match_milli
         FROM documents WHERE doc_id < 25 ORDER BY video_a""",

    // q113: every canonical form stated closed-form from the template
    // inputs — the engine's parser/resolver/canonicalizer must land on
    // exactly these strings or the hash breaks.
    "q113_link_canonical" ->
      """WITH k AS (SELECT doc_id,
                'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS h
              FROM documents),
         p AS (SELECT CAST(unnest(range(5)) AS INT) AS link_pos)
         SELECT doc_id, link_pos,
                CASE link_pos
                  WHEN 0 THEN 'https://' || h || '/home'
                  WHEN 1 THEN 'https://www.example.com/a/c/d.html?a=1&b=2'
                  WHEN 2 THEN 'https://' || h || '/other/page' ||
                              CAST(doc_id AS VARCHAR) || '.html?z=1'
                  WHEN 3 THEN 'https://cdn.example.com/lib.js'
                END AS canonical_url,
                CASE link_pos
                  WHEN 0 THEN h
                  WHEN 1 THEN 'www.example.com'
                  WHEN 2 THEN h
                  WHEN 3 THEN 'cdn.example.com'
                END AS host,
                link_pos = 0 AS in_chrome
         FROM k CROSS JOIN p
         ORDER BY doc_id, link_pos""",

    // q114: the host-graph structure re-derived from the template
    // (each site host links itself, www, cdn; mailto contributes
    // nothing), then the same 4-step integer unroll as q95 over
    // string node keys.
    "q114_host_pagerank" -> {
      val prelude =
        """WITH hosts AS (
             SELECT DISTINCT 'site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com' AS h
             FROM documents),
           e AS (SELECT h AS src, h AS dst FROM hosts
                 UNION SELECT h, 'www.example.com' FROM hosts
                 UNION SELECT h, 'cdn.example.com' FROM hosts),
           nd AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
           outdeg AS (SELECT src AS node, count(1) AS od FROM e GROUP BY 1),
           nn AS (SELECT count(1) AS n FROM nd),
           r0 AS (SELECT node, 1000000000 // nn.n AS r FROM nd CROSS JOIN nn)"""
      val steps = (1 to 4).map { i =>
        s""",
           r$i AS (
             SELECT nd.node,
                    (SELECT 15000000000 // (100 * n) FROM nn) + coalesce(m.s, 0) AS r
             FROM nd LEFT JOIN (
               SELECT e.dst AS node, sum((p.r * 85) // (100 * o.od)) AS s
               FROM r${i - 1} p JOIN outdeg o ON o.node = p.node
                                JOIN e ON e.src = p.node
               GROUP BY e.dst) m ON m.node = nd.node)"""
      }.mkString
      prelude + steps +
        " SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4 ORDER BY node"
    },

    // q115: every WARC record reconstructed closed-form — response
    // bodies are the q111 template bytes rebuilt literally in SQL
    // (md5 + char length), request/warcinfo RAW payloads digest-pinned
    // too (non-response payloads surface verbatim, never dropped),
    // one request per doc, one warcinfo per 25-doc segment. A framing
    // slip, gzip corruption, or lost record breaks counts or digests.
    "q115_warc_parse" ->
      """WITH h AS (SELECT doc_id,
           '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
           '</title><style>p{color:red}</style><script>if(a<b){x=1;}</script></head><body><header><h1>Site &amp; Brand</h1></header><nav><a href="/">Home</a> | <a href="/about">About</a></nav><div>HOME | ABOUT</div><p>' ||
           text ||
           '</p><ul><li><a href="/a">Link one</a> <a href="/b">Link two</a> more links</li></ul><p>Quoted &quot;entities&quot; &amp; more entity text decodes here</p><footer>(c) example corp all rights reserved</footer></body></html>'
           AS html FROM documents)
         SELECT doc_id, 'response' AS warc_type,
                CAST(200 AS INT) AS http_status,
                'text/html' AS http_content_type,
                md5(html) AS body_md5, CAST(len(html) AS INT) AS body_chars
         FROM h
         UNION ALL
         SELECT doc_id, 'request', NULL, NULL, md5(req),
                CAST(len(req) AS INT)
         FROM (SELECT doc_id,
                 'GET /dir/page' || CAST(doc_id AS VARCHAR) ||
                 '.html HTTP/1.1' || chr(13) || chr(10) ||
                 'Host: example.com' || chr(13) || chr(10) ||
                 chr(13) || chr(10) AS req
               FROM documents)
         UNION ALL
         SELECT NULL, 'warcinfo', NULL, NULL,
                md5('software: graft' || chr(13) || chr(10)),
                CAST(17 AS INT)
         FROM (SELECT DISTINCT doc_id // 25 AS seg FROM documents)
         ORDER BY warc_type, doc_id""",

    // q116: must equal q111's extraction verbatim — the ingestion
    // path in front of the extractor is lossless or the shared
    // closed-form breaks.
    "q116_warc_extract" ->
      """SELECT doc_id,
                regexp_replace(trim(text), '\s+', ' ', 'g') || chr(10) ||
                  'Quoted "entities" & more entity text decodes here'
                  AS main_text,
                CAST(2 AS INT) AS n_kept,
                CAST(6 AS INT) AS n_dropped
         FROM documents ORDER BY doc_id""",

    // q117: verdicts by construction — odd hosts deny graftbot
    // everything (its own group replaces *), even hosts deny the
    // /private prefix (except the longer /private/ok Allow) and the
    // $-anchored gif rule; /tmp passes on even hosts because the *
    // group there has no such rule.
    "q117_robots_gate" ->
      """WITH b AS (SELECT doc_id, doc_id % 20 AS k FROM documents),
         sp AS (SELECT CAST(unnest(range(5)) AS INT) AS species)
         SELECT doc_id, species,
                'https://site' || CAST(k AS VARCHAR) || '.example.com' ||
                CASE species
                  WHEN 0 THEN '/dir/page' || CAST(doc_id AS VARCHAR) || '.html'
                  WHEN 1 THEN '/private/x'
                  WHEN 2 THEN '/private/ok/y'
                  WHEN 3 THEN '/img/banner.gif'
                  ELSE '/tmp/z' END AS url,
                'site' || CAST(k AS VARCHAR) || '.example.com' AS host,
                CASE WHEN k % 2 = 1 THEN FALSE
                     WHEN species IN (1, 3) THEN FALSE
                     ELSE TRUE END AS allowed
         FROM b CROSS JOIN sp ORDER BY doc_id, species""",

    // q118: every head field closed-form — the title's entity and
    // whitespace run collapse, the description's quoted entities
    // decode, base_href comes back RAW (an attribute value, not a
    // canonical URL), and the relative link resolves against the
    // declared base's host (lowercased by canonicalization), not the
    // page's.
    "q118_head_metadata" ->
      """SELECT doc_id,
                'Doc ' || CAST(doc_id AS VARCHAR) || ' & Friends' AS title,
                'Summary "' || CAST(doc_id AS VARCHAR) || '" of the page'
                  AS meta_description,
                'https://Mirror' || CAST(doc_id % 20 AS VARCHAR) ||
                  '.Example.ORG/root/' AS base_href,
                CAST(1 AS INT) AS n_links,
                'https://mirror' || CAST(doc_id % 20 AS VARCHAR) ||
                  '.example.org/root/rel/x.html' AS resolved_url
         FROM documents ORDER BY doc_id""",

    // q119: the charset verdict and the decoded text, both
    // closed-form from the fixture templates (never by re-running a
    // decoder): each regime's expected string is the template with
    // the non-ASCII characters written as the Unicode the bytes
    // encode — the windows-1252 regimes' é/€/— prove the legacy
    // decode (UTF-8 misreading those bytes could never produce them),
    // the BOM regime proves precedence over the lying header.
    "q119_charset_decode" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN 'utf-8'
                  WHEN 1 THEN 'windows-1252'
                  WHEN 2 THEN 'utf-16le'
                  WHEN 3 THEN 'utf-8'
                  ELSE 'windows-1252' END AS charset,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN 'Header café №' || CAST(doc_id AS VARCHAR)
                              || ' — ' || text
                  WHEN 1 THEN '<html><head><meta charset="windows-1252">'
                              || '</head><body>café € dash—'
                              || CAST(doc_id AS VARCHAR) || '</body></html>'
                  WHEN 2 THEN 'Unicode ★' || CAST(doc_id AS VARCHAR)
                              || '★ ' || text
                  WHEN 3 THEN 'Māori tēnā ' || CAST(doc_id AS VARCHAR)
                              || ' ' || text
                  ELSE 'café €' || CAST(doc_id AS VARCHAR) || ' ' || text
                END AS text
         FROM documents ORDER BY doc_id""",

    // q120: every sitemap entry closed-form by parity — even docs'
    // urlset yields the full entry (entity-decoded loc) then the
    // minimal one, odd docs' sitemapindex yields one child-sitemap
    // row with kind=sitemap.
    "q120_sitemap_parse" ->
      """WITH s AS (SELECT doc_id,
                  'https://site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com' AS site
           FROM documents)
         SELECT doc_id, CAST(0 AS INT) AS entry_pos, 'url' AS kind,
                site || '/page' || CAST(doc_id AS VARCHAR) ||
                  '.html?a=1&b=2' AS loc,
                '2026-01-15' AS lastmod, 'daily' AS changefreq,
                '0.8' AS priority
         FROM s WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INT), 'url',
                site || '/extra' || CAST(doc_id AS VARCHAR),
                NULL, NULL, NULL
         FROM s WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, CAST(0 AS INT), 'sitemap',
                site || '/sitemap' || CAST(doc_id AS VARCHAR) || '.xml.gz',
                '2026-02-01T00:00:00Z', NULL, NULL
         FROM s WHERE doc_id % 2 = 1
         ORDER BY doc_id, entry_pos""",

    // q121: the frontier slots re-derived with the window the engine
    // itself refuses to run — row_number per host over (score desc,
    // url) capped at the budget; scores (= doc_id) are unique within
    // a host so every slot is forced.
    "q121_frontier_schedule" ->
      """WITH u AS (SELECT
                  'site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com' AS host,
                  'https://site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com/page' || CAST(doc_id AS VARCHAR) ||
                    '.html' AS url,
                  doc_id AS score
           FROM documents),
         r AS (SELECT host, url, score,
                  row_number() OVER (PARTITION BY host
                    ORDER BY score DESC, url) - 1 AS host_slot
           FROM u)
         SELECT host, CAST(host_slot AS INT) AS host_slot, url,
                CAST(score AS BIGINT) AS score
         FROM r WHERE host_slot < 5 ORDER BY host, host_slot""",

    // q122: delay verdicts by parity (even hosts: the * group's k+1;
    // odd hosts: graftbot's OWN group — ceil(2.5)=3, the * group's 60
    // must not leak through group replacement) and slot×delay ETAs.
    "q122_crawl_delay" ->
      """WITH u AS (SELECT doc_id % 20 AS k,
                  'site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com' AS host,
                  'https://site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com/page' || CAST(doc_id AS VARCHAR) ||
                    '.html' AS url,
                  doc_id AS score
           FROM documents),
         r AS (SELECT k, host, url,
                  row_number() OVER (PARTITION BY host
                    ORDER BY score DESC, url) - 1 AS host_slot
           FROM u)
         SELECT host, CAST(host_slot AS INT) AS host_slot, url,
                CAST(CASE WHEN k % 2 = 0 THEN k + 1 ELSE 3 END AS BIGINT)
                  AS crawl_delay,
                CAST(host_slot * (CASE WHEN k % 2 = 0 THEN k + 1 ELSE 3 END)
                  AS BIGINT) AS fetch_eta_sec
         FROM r WHERE host_slot < 5 ORDER BY host, host_slot""",

    // q124: the q121 slot derivation over the pending set only —
    // streamed discovery must be invisible (same slots as a batch
    // build), and the fetched ledger must carve its URLs out BEFORE
    // ranking (slots close up).
    "q124_frontier_stream" ->
      """WITH u AS (SELECT
                  'site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com' AS host,
                  'https://site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com/page' || CAST(doc_id AS VARCHAR) ||
                    '.html' AS url,
                  doc_id AS score
           FROM documents WHERE doc_id % 7 <> 0),
         r AS (SELECT host, url, score,
                  row_number() OVER (PARTITION BY host
                    ORDER BY score DESC, url) - 1 AS host_slot
           FROM u)
         SELECT host, CAST(host_slot AS INT) AS host_slot, url,
                CAST(score AS BIGINT) AS score
         FROM r WHERE host_slot < 5 ORDER BY host, host_slot""",

    // q125: the normalized strings literally — the composed é proves
    // NFC composition (the input rode a combining acute), ASCII
    // quotes/dash/ellipsis prove the web folds, 'ABC file' proves the
    // NFKC compat folds, and the bare 'xyz' + tab proves control
    // stripping preserved \t.
    "q125_unicode_normalize" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN 'café au lait ' || text
                  WHEN 1 THEN '"q" ''a'' x-y... ' || CAST(doc_id AS VARCHAR)
                  WHEN 2 THEN 'a bc ' || text
                  WHEN 3 THEN 'ABC file ' || CAST(doc_id AS VARCHAR)
                  ELSE 'xyz' || chr(9) || text
                END AS normalized
         FROM documents ORDER BY doc_id""",

    // q126: chain components closed-form — a node appears iff it is an
    // endpoint of some (id, id−1) edge with id%10 ∈ {1,2,3} inside the
    // corpus id range; its component is the chain's x0 = id − id%10
    // (corpus-edge truncation handled by the endpoint conditions).
    "q126_components_stream" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents)
         SELECT doc_id AS node, doc_id - (doc_id % 10) AS component
         FROM documents, mx
         WHERE (doc_id % 10 BETWEEN 1 AND 3)
            OR (doc_id % 10 <= 2 AND doc_id + 1 <= m)
         ORDER BY node""",

    // q127: the discovered sitemap list by host regime — k%3==0 hosts
    // publish none (absent from output), k%3==1 one, k%3==2 two in
    // file order (the uppercase mid-file directive is position 0).
    "q127_sitemap_discovery" ->
      """WITH k AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
         h AS (SELECT k, 'site' || CAST(k AS VARCHAR) || '.example.com'
                    AS host,
                  'https://site' || CAST(k AS VARCHAR) || '.example.com'
                    AS root
               FROM k)
         SELECT host, CAST(0 AS INT) AS sitemap_pos,
                root || '/sitemap.xml' AS sitemap_url
         FROM h WHERE k % 3 = 1
         UNION ALL
         SELECT host, CAST(0 AS INT), root || '/maps/one.xml'
         FROM h WHERE k % 3 = 2
         UNION ALL
         SELECT host, CAST(1 AS INT), root || '/maps/two.xml.gz'
         FROM h WHERE k % 3 = 2
         ORDER BY host, sitemap_pos""",

    // q128: the decode is lossless in closed form — every doc's text
    // comes back as the exact template string however it was framed
    // or compressed on the wire.
    "q128_http_decode" ->
      """SELECT doc_id, doc_id % 5 AS mode,
                'decoded ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
         FROM documents ORDER BY doc_id""",

    // q131: the oracle re-derives the digest from the NORMALIZED
    // closed form (composed é, ASCII quotes — what NFKC+folding must
    // produce from both variants) through the q20 fingerprint
    // pipeline; n_copies = 2 per underlying text occurrence and
    // n_raw_digests = 2 pin that two byte-distinct variants collapsed.
    "q131_normalized_dedup" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(
                  lower('café "q" ' || text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g'))) AS digest,
                min(doc_id) AS keeper,
                CAST(2 * count(1) AS BIGINT) AS n_copies,
                CAST(2 AS BIGINT) AS n_raw_digests
         FROM documents GROUP BY 1 ORDER BY digest""",

    // q129: three slots per host in closed form — /sm/a (in both
    // feeds, deduped, best score 5), /sm/b (sitemap-only, 5, url
    // tiebreak after a), /ln/d (link-only, 3); /tmp/c robots-gated
    // out of existence.
    "q129_sitemap_frontier" ->
      """WITH k AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
         h AS (SELECT 'site' || CAST(k AS VARCHAR) || '.example.com' AS host,
                      'https://site' || CAST(k AS VARCHAR) || '.example.com'
                        AS root
               FROM k)
         SELECT host, CAST(0 AS INT) AS host_slot,
                root || '/sm/a.html' AS url, CAST(5 AS BIGINT) AS score
         FROM h
         UNION ALL
         SELECT host, CAST(1 AS INT), root || '/sm/b.html', CAST(5 AS BIGINT)
         FROM h
         UNION ALL
         SELECT host, CAST(2 AS INT), root || '/ln/d.html', CAST(3 AS BIGINT)
         FROM h
         ORDER BY host, host_slot""",

    // q135: every regime's verdict replayed — due ⇔ interval ≤ age
    // (age = doc_id hours), never → NULL interval and false.
    "q135_recrawl_due" ->
      """WITH d AS (SELECT doc_id,
           CASE doc_id % 8 WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
             WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly' WHEN 4 THEN 'monthly'
             WHEN 5 THEN 'yearly' WHEN 6 THEN 'never'
             ELSE 'sometimes' END AS changefreq,
           CASE doc_id % 8 WHEN 0 THEN 0 WHEN 1 THEN 3600 WHEN 2 THEN 86400
             WHEN 3 THEN 604800 WHEN 4 THEN 2592000 WHEN 5 THEN 31536000
             WHEN 6 THEN NULL ELSE 604800 END AS interval_sec
         FROM documents)
         SELECT doc_id, changefreq, CAST(interval_sec AS BIGINT) AS interval_sec,
                CASE WHEN interval_sec IS NULL THEN false
                     ELSE doc_id * 3600 >= interval_sec END AS due
         FROM d ORDER BY doc_id""",

    // q138: streamed catalog arrival changes nothing — the oracle is
    // q136's ranged-fetch closed form once more (same locators, same
    // bodies, same digests), plus the in-entry require that a
    // whole-archive replay absorbs zero segments.
    "q138_cdx_stream" ->
      """SELECT doc_id,
                'com,example,site' || CAST(doc_id % 20 AS VARCHAR) ||
                  ')/dir/page' || CAST(doc_id AS VARCHAR) || '.html'
                  AS urlkey,
                CAST(200 AS INT) AS http_status, true AS digest_ok,
                'Document ' || CAST(doc_id AS VARCHAR) || ': ' || text
                  AS text
         FROM documents ORDER BY doc_id""",

    // q141: identical oracle to q137 — rules accumulated off a stream
    // must purge exactly like rules handed in one frame.
    "q141_takedown_stream" ->
      """SELECT doc_id,
                'https://www.site' || CAST(doc_id % 20 AS VARCHAR) ||
                  '.example.com/dir/page' || CAST(doc_id AS VARCHAR) ||
                  '.html' AS url
         FROM documents
         WHERE NOT (doc_id = 7
           OR doc_id % 20 IN (3, 4)
           OR (doc_id % 20 = 5 AND CAST(doc_id AS VARCHAR) LIKE '1%'))
         ORDER BY doc_id""",

    // q142: the redacted archive in closed form — q136's template
    // bodies minus exactly the q137 rule cohorts; one extra or
    // missing capture, or one corrupted re-exported byte, breaks the
    // hash.
    "q142_archive_redaction" ->
      """SELECT doc_id,
                'Document ' || CAST(doc_id AS VARCHAR) || ': ' || text
                  AS text
         FROM documents
         WHERE NOT (doc_id = 7
           OR doc_id % 20 IN (3, 4)
           OR (doc_id % 20 = 5 AND CAST(doc_id AS VARCHAR) LIKE '1%'))
         ORDER BY doc_id""",

    // q137: the four takedown kinds re-derived as predicates — the
    // url rule kills exactly doc 7 (its tracking param must not
    // matter), host kills the site3 cohort, domain kills site4's
    // tree through the www label, prefix kills site5 docs whose id
    // renders with a leading '1'.
    "q137_takedown_purge" ->
      """SELECT doc_id,
                'https://www.site' || CAST(doc_id % 20 AS VARCHAR) ||
                  '.example.com/dir/page' || CAST(doc_id AS VARCHAR) ||
                  '.html' AS url
         FROM documents
         WHERE NOT (doc_id = 7
           OR doc_id % 20 IN (3, 4)
           OR (doc_id % 20 = 5 AND CAST(doc_id AS VARCHAR) LIKE '1%'))
         ORDER BY doc_id""",

    // q140: identical oracle to q136 — the text interchange must not
    // lose or shift one locator (a mis-cast offset or torn json field
    // nulls the fetch out of the hash).
    "q140_cdxj_roundtrip" ->
      """SELECT doc_id,
                'com,example,site' || CAST(doc_id % 20 AS VARCHAR) ||
                  ')/dir/page' || CAST(doc_id AS VARCHAR) || '.html'
                  AS urlkey,
                CAST(200 AS INT) AS http_status, true AS digest_ok,
                'Document ' || CAST(doc_id AS VARCHAR) || ': ' || text
                  AS text
         FROM documents ORDER BY doc_id""",

    // q136: the ranged fetch in closed form — every doc returns
    // through its CDX locator with the template body, status 200, a
    // verified digest, and the SURT key (www stripped, host
    // reversed). Offsets/lengths have no SQL analog; they are proven
    // by the fetch succeeding at all.
    "q136_cdx_fetch" ->
      """SELECT doc_id,
                'com,example,site' || CAST(doc_id % 20 AS VARCHAR) ||
                  ')/dir/page' || CAST(doc_id AS VARCHAR) || '.html'
                  AS urlkey,
                CAST(200 AS INT) AS http_status, true AS digest_ok,
                'Document ' || CAST(doc_id AS VARCHAR) || ': ' || text
                  AS text
         FROM documents ORDER BY doc_id""",

    // q134: the shared-apex budget in closed form — of 20 sibling
    // hosts scored 0..19, exactly the top 5 schedule, slot = 19−score.
    "q134_apex_budget" ->
      """WITH k AS (SELECT DISTINCT doc_id % 20 AS k FROM documents)
         SELECT 'example.com' AS host, CAST(19 - k AS INT) AS host_slot,
                'https://site' || CAST(k AS VARCHAR) || '.example.com/page'
                  || CAST(k AS VARCHAR) || '.html' AS url,
                CAST(k AS BIGINT) AS score
         FROM k WHERE k >= 15 ORDER BY host_slot""",

    // q133: streamed arrival changes WHERE the segments live, not one
    // byte of them — the oracle is q123's roundtrip closed form once
    // more (exact text, strict-UTF-8 rung, zero audit failures).
    "q133_wet_stream" ->
      """SELECT doc_id, 'utf-8' AS charset, text,
                CAST(len(text) AS BIGINT) AS n_bytes,
                CAST(0 AS BIGINT) AS audit_failures
         FROM documents ORDER BY doc_id""",

    // q132: every %4==3 doc's revisit resolves to doc_id−1's response
    // in closed form; digest_ok must be uniformly true (one corrupted
    // digest or body byte breaks the hash).
    "q132_revisit_dedup" ->
      """SELECT doc_id AS revisit_id, doc_id - 1 AS orig_id,
                'https://site' || CAST((doc_id - 1) % 20 AS VARCHAR) ||
                  '.example.com/dir/page' || CAST(doc_id - 1 AS VARCHAR) ||
                  '.html' AS orig_uri,
                true AS digest_ok
         FROM documents WHERE doc_id % 4 = 3 ORDER BY revisit_id""",

    // q130: terminals and loop verdicts re-derived from the chain
    // template — non-loop docs land on the NEXT host's /final after
    // exactly 2 hops; every 10th doc is a 2-cycle that must cap out
    // at maxHops=4 with a NULL terminal.
    "q130_redirect_chains" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 10 = 0 THEN NULL
                     ELSE 'https://site' ||
                          CAST((doc_id % 20 + 1) % 20 AS VARCHAR) ||
                          '.example.com/final' || CAST(doc_id AS VARCHAR) ||
                          '.html' END AS terminal_url,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 4 ELSE 2 END AS INT)
                  AS hops,
                doc_id % 10 = 0 AS looped
         FROM documents ORDER BY doc_id""",

    // q123: the roundtrip in closed form — every document returns
    // with its exact text (ASCII corpus: byte length == char length),
    // the ladder lands on the strict-UTF-8 rung (no BOM, no header,
    // no meta), and the manifest audit reports zero failures.
    "q123_warc_roundtrip" ->
      """SELECT doc_id, 'utf-8' AS charset, text,
                CAST(len(text) AS BIGINT) AS n_bytes,
                CAST(0 AS BIGINT) AS audit_failures
         FROM documents ORDER BY doc_id""",

    // q111: the expected extraction reconstructed from the template
    // INPUTS (never by re-parsing markup): main text = the doc text
    // whitespace-collapsed (the kernel's single-space joining) + the
    // fixed entity paragraph already decoded to literals. The fixed
    // boilerplate species (title/header/nav chrome, the 12-char div,
    // the 0.61-density link farm, the footer) are dropped by
    // construction: 2 kept, 6 dropped, every page.
    "q111_html_extract" ->
      """SELECT doc_id,
                regexp_replace(trim(text), '\s+', ' ', 'g') || chr(10) ||
                  'Quoted "entities" & more entity text decodes here'
                  AS main_text,
                CAST(2 AS INT) AS n_kept,
                CAST(6 AS INT) AS n_dropped
         FROM documents ORDER BY doc_id"""
  )
}
