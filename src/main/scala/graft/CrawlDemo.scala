package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Charset, Corpus, Frontier, Graph, Html, Retrieval, Robots, Sampling, Sitemap, Url}
import graft.sources.{Warc, Warehouse}

/** The runnable end-to-end slice for the CRAWL surface — the crawl
  * stack composed as the pipeline a CommonCrawl-style corpus actually
  * runs, from raw WARC bytes to an audited text export:
  *
  *   WARC segments ([[Warc.readWarc]]: framing, gzip, HTTP split with
  *   transfer/content decoding)
  *   → robots META directives ([[Html.robotsDirectives]] — noindex
  *     pages lose their content, nofollow pages lose their outlinks)
  *   → main-content extraction ([[Html.extractMainText]]) over the
  *     200-status pages
  *   → redirect resolution over the 3xx records
  *     ([[Url.resolveRedirectChains]] on the surfaced `Location`
  *     headers — terminals become DISCOVERED URLs, sources are
  *     non-content, loops cap out)
  *   → outlinks ([[Html.extractLinks]]) → canonical host edges
  *     ([[Url.hostEdges]]) → exact-integer host PageRank
  *     ([[Graph.pageRankMicro]])
  *   → sitemap discovery off robots ([[Robots.sitemapUrls]]) joined
  *     with fetched sitemap content → URL entries
  *     ([[Sitemap.extractEntries]])
  *   → ONE discovery pool (links ∪ redirect terminals ∪ sitemap
  *     entries, deduped by canonical URL) gated by robots
  *     ([[Robots.filterAllowed]])
  *   → PERSISTED frontier ([[Frontier.appendToFrontierTable]] —
  *     idempotent appends) scored by the QUALITY LOOP
  *     ([[Frontier.qualityScore]]: host PageRank × the per-host refine
  *     keep-rate from [[Frontier.hostQuality]]) and scheduled politely
  *     ([[Frontier.scheduleFromTable]] minus the fetched ledger) with
  *     crawl-delay fetch ETAs ([[Robots.crawlDelay]])
  *   → text refinement ([[Corpus.refine]]) joined with the host rank
  *   → ANCHOR-TEXT field ([[Html.extractLinks]]' anchor_text
  *     aggregated per canonical destination) joined onto the refined
  *     corpus and demonstrated as a fused BM25 field
  *     ([[Retrieval.bm25TopK]] over body + anchor, [[Retrieval.rrfFuse]])
  *   → audited sharded export ([[Sampling.writeShardedWithManifest]] +
  *     [[Sampling.verifyShardedExport]]), a WET interchange export
  *     ([[Warc.writeTextSegments]]), and a WAT metadata export
  *     ([[Html.watMetadata]] → [[Warc.writeWatSegments]] — the third
  *     CommonCrawl artifact family, audited under its record type)
  *   → capture index over the WET export, PUBLISHED as sorted CDXJ
  *     and consumed back: [[Warc.cdxIndex]] → [[Warc.writeCdxj]] →
  *     [[Warc.readCdxj]] → [[Warc.fetchByCdx]], every conversion
  *     record ranged-fetched through the text-roundtripped index
  *   → warehouse census over the run's catalog tables
  *     ([[Warehouse.auditTables]]).
  *
  * Every stage is an existing, individually-oracled library call
  * (q115/q116/q128, q111, q130, q113/q114, q127/q120/q129, q117,
  * q121/q124, q61, q105, q123, q136/q140); this object only composes
  * them, and the e2e spec reconciles stage counts against one
  * another. */
object CrawlDemo {

  final case class Result(records: Long, pages: Long, extracted: Long,
                          noindexPages: Long, nofollowPages: Long,
                          redirects: Long, redirectTerminals: Long,
                          redirectLoops: Long,
                          hostEdges: Long, rankedHosts: Long,
                          sitemapsDiscovered: Long, sitemapUrls: Long,
                          frontierAllowed: Long, frontierDenied: Long,
                          scheduled: Long, delayedSlots: Long,
                          survivors: Long,
                          anchorTargets: Long, anchoredSurvivors: Long,
                          anchorFusedHits: Long,
                          auditOk: Boolean, wetAuditOk: Boolean,
                          watRecords: Long, watAuditOk: Boolean,
                          cdxFetched: Long,
                          census: DataFrame)

  /** `sitemaps`: fetched sitemap content as `(sitemap_url, xml)` —
    * only URLs actually published via a robots `Sitemap:` directive
    * participate (the discovery loop, not a side channel). */
  def run(spark: SparkSession, warcDir: String, robots: DataFrame,
          outDir: String, agent: String = "graftbot",
          shards: Int = 4, maxPerHost: Int = 4,
          sitemaps: Option[DataFrame] = None,
          frontierTable: String = "graft_crawl_frontier"): Result = Shared.scope {
    import spark.implicits._
    val robotsHost = robots.columns.head
    val robotsTxt = robots.columns(1)

    // 1. ingest: one row per WARC record, HTTP responses split out
    //    (transfer/content codings already decoded by the reader)
    val records = Shared.pin(Warc.readWarc(spark, warcDir))
    val nRecords = records.count()
    val pages = Shared.pin(records
      .filter(col("warc_type") === "response" && col("http_status") === 200)
      .select(col("target_uri").as("url"),
        // charset-sniffed decode (BOM / header / meta / UTF-8 probe /
        // cp1252 fallback) — a raw cast would mojibake the legacy tail
        Charset.decodeText(col("body"), col("http_content_type"))
          .getField("text").as("html"),
        // small scalars the WAT export reuses off this pin instead
        // of re-decoding every body at export time
        col("warc_date"), col("payload_digest"))
      // full 64-bit ids: a mod-10⁹ fold collides at birthday scale
      // (hundreds of merged pages per million URLs, corrupting every
      // doc_id join downstream); the raw hash is collision-free in
      // practice (~n²/2⁶⁵) and the export manifest folds internally,
      // so nothing downstream needs compact ids
      .withColumn("doc_id", xxhash64(col("url"))))
    val nPages = pages.count()
    // belt-and-braces: a doc_id collision would silently merge pages
    // in every join below — fail loudly instead (cheap: pages is
    // pinned and |pages|-sized)
    val idClash = pages.agg(
      (countDistinct(col("url")) - countDistinct(col("doc_id"))).as("d"))
      .head().getLong(0)
    require(idClash == 0, s"doc_id hash collision on $idClash url(s)")

    // 1b. redirect side: 3xx sources are NON-CONTENT pages; their
    //     resolved terminals are crawl discoveries like any outlink
    val redirectEdges = records
      .filter(col("warc_type") === "response" &&
        col("http_status").between(300, 399) &&
        col("http_location").isNotNull)
      .select(Url.canonical(col("target_uri")).as("src"),
        Url.resolve(col("target_uri"), col("http_location")).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val nRedirects = redirectEdges.count()
    val chains = Url.resolveRedirectChains(redirectEdges, "src", "dst")
    val nLoops = chains.filter(col("looped")).count()
    val redirectTargets = chains.filter(!col("looped"))
      .select(col("terminal_url").as("url")).distinct()
    val nTerminals = redirectTargets.count()

    // 1c. robots META directives — the in-page counterpart of the
    //     robots.txt gate below: noindex pages keep their links but
    //     lose their CONTENT; nofollow pages keep their content but
    //     their outlinks vanish from the graph and the frontier.
    //     Pinned: the two counts plus the extraction/link/quality
    //     anti-joins would otherwise each re-run the scanHtml kernel
    //     over every page body.
    val directives = Shared.pin(Html.robotsDirectives(pages, "doc_id", "html"))
    val noindexIds = directives.filter(col("noindex")).select("doc_id")
    val nofollowIds = directives.filter(col("nofollow")).select("doc_id")
    val nNoindex = noindexIds.count()
    val nNofollow = nofollowIds.count()

    // 2. text side: main-content extraction (noindex pages excluded —
    //    a directive-honoring corpus never indexes their content),
    //    then the refine gates
    val extracted = Html.extractMainText(pages, "doc_id", "html")
      .join(noindexIds, Seq("doc_id"), "left_anti")
      .filter(length(col("main_text")) > 0)
    val nExtracted = extracted.count()

    // 3. graph side: outlinks (minus nofollow pages' — their edges
    //    exist neither in the graph nor in discovery) → canonical
    //    host edges → integer PageRank (the host-quality signal)
    val links = Html.extractLinks(pages, "doc_id", "html")
      .join(nofollowIds, Seq("doc_id"), "left_anti")
      .join(pages.select(col("doc_id"), col("url")), "doc_id")
      // a page that declares <base href> resolves its relative links
      // against it, not the page URL — and the declared base itself
      // resolves against the page URL first (a root-relative base like
      // "/en/" is valid HTML; the bare coalesce would hand Url.resolve
      // a scheme-less base and every edge from the page would vanish —
      // the same composition Html.anchorTextEdges/canonicalTargets use)
      .withColumn("base_url",
        coalesce(Url.resolve(col("url"), col("base_href")), col("url")))
    val edges = Url.hostEdges(links, "base_url", "href")
    val nEdges = edges.count()
    val ranks = Graph.pageRankMicro(edges, "src_host", "dst_host",
      iterations = 4)
    val nHosts = ranks.count()

    // 3b. sitemap side: robots Sitemap: pointers joined with the
    //     fetched content — only published sitemaps participate
    val smPointers = robots
      .select(explode(Robots.sitemapUrls(col(robotsTxt))).as("sitemap_url"))
      .distinct()
    val nSitemaps = smPointers.count()
    val smEntries = sitemaps match {
      case Some(sm) =>
        val c = sm.columns
        Sitemap.extractEntries(
            sm.select(col(c(0)).as("sitemap_url"), col(c(1)).as("xml"))
              .join(smPointers, Seq("sitemap_url")),
            "sitemap_url", "xml")
          .filter(col("kind") === "url")
          .select(col("loc").as("url"))
      case None => spark.emptyDataset[String].toDF("url")
    }

    // 4. ONE discovery pool: outlinks ∪ redirect terminals ∪ sitemap
    //    entries, deduped by canonical URL, gated by robots
    val discovered = links
      .select(Url.resolve(col("base_url"), col("href")).as("url"))
      .unionByName(redirectTargets)
      .unionByName(smEntries.select(Url.canonical(col("url")).as("url")))
      .filter(col("url").isNotNull).distinct()
    val smCount = smEntries.count()
    val frontier = Shared.pin(Robots.filterAllowed(discovered, "url", robots, agent))
    val nAllowed = frontier.filter(col("allowed")).count()
    val nDenied = frontier.filter(!col("allowed")).count()

    // 4b'. curate EARLY so its verdicts can feed the frontier: refine
    //     the extracted text, attach the host rank (broadcast — |hosts|
    //     rows) so downstream gates can budget by host quality
    val refined = Shared.pin(Corpus.refine(
        extracted.select(col("doc_id"), col("main_text").as("text")),
        "doc_id", "text", minQuality = None,
        // the C4 blocklist gate rides the same scan-side filter; a
        // spam page costs its host frontier budget through the
        // quality loop below (keep-rate drops)
        badwords = Some(graft.functions.Text.C4Badwords))
      .join(pages.select(col("doc_id"), Url.host(col("url")).as("host")),
        "doc_id")
      .join(broadcast(ranks.withColumnRenamed("node", "host")
        .withColumnRenamed("rank_micro", "host_rank_micro")),
        Seq("host"), "left"))

    // 4b''. ANCHOR-TEXT relevance field (the web's oldest retrieval
    //     label — the text OTHER pages use to describe a target):
    //     content-link anchors aggregate per canonical destination in
    //     one hash agg (|targets| rows; sort_array keeps the joined
    //     field deterministic under shuffle order), the field rides
    //     the refined export, and a BM25 ranking over the anchor
    //     FIELD fused (RRF) with the body-text ranking demonstrates
    //     the classic navigational win: anchor terms retrieve pages
    //     whose own text never says them. Chrome anchors (nav/footer
    //     labels — template noise, not descriptions) stay out.
    // pinned: the target count, the probe head() and the export join
    // each consume it — unpinned, every one re-runs the scanHtml
    // kernel over all pages plus two joins (|targets| rows held)
    val anchorField = Shared.pin(links
      .filter(col("anchor_text").isNotNull && !col("in_chrome"))
      .select(Url.resolve(col("base_url"), col("href")).as("url"),
        col("anchor_text"))
      .filter(col("url").isNotNull)
      .groupBy("url")
      .agg(concat_ws(" ", sort_array(collect_list(col("anchor_text"))))
          .as("anchor_terms"),
        count(lit(1)).as("n_anchors")))
    val nAnchorTargets = anchorField.count()
    val refinedAnchored = Shared.pin(refined
      .join(pages.select(col("doc_id"),
        Url.canonical(col("url")).as("__curl")), "doc_id")
      .join(anchorField.select(col("url").as("__curl"),
        col("anchor_terms")), Seq("__curl"), "left")
      .drop("__curl"))
    val nAnchored = refinedAnchored.filter(col("anchor_terms").isNotNull)
      .count()
    val anchorFusedHits =
      if (nAnchorTargets == 0) 0L
      else {
        // probe = the most-anchored target's leading anchor term
        // (ONE collected row — driver state bounded at a single probe)
        val probe = anchorField
          .orderBy(col("n_anchors").desc, col("url"))
          .select("anchor_terms").head().getString(0)
          .split(" ").head
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(round(col("score"), 9).desc, col("doc_id"))
        def ranked(df: DataFrame) = df
          .withColumn("rank", row_number().over(w))
          .select("doc_id", "rank")
        val bodyRank = ranked(Retrieval.bm25TopK(
          refined.select("doc_id", "text"), "doc_id", "text",
          Seq(probe), n = 10))
        val anchorRank = ranked(Retrieval.bm25TopK(
          refinedAnchored.filter(col("anchor_terms").isNotNull)
            .select("doc_id", "anchor_terms"),
          "doc_id", "anchor_terms", Seq(probe), n = 10))
        Retrieval.rrfFuse(Seq(bodyRank, anchorRank), "doc_id", "rank")
          .count()
      }

    // 4b. persist the frontier (idempotent per URL — replays and
    //     re-discoveries append nothing) scored by the QUALITY LOOP:
    //     host PageRank × per-host refine keep-rate
    //     (Frontier.qualityScore — broadcast, |hosts| rows each), so a
    //     well-linked host whose pages keep failing curation loses
    //     budget to a modest host that yields keepers; hosts not yet
    //     judged take the neutral default, unranked hosts score 0.
    //     Then schedule politely off the table minus the fetched
    //     ledger: best maxPerHost slots per host through the bounded
    //     aggregator (no per-host window).
    //     NOTE: blended scores live on the rank×milli scale (~1000×
    //     the bare rank a pre-quality-loop run stored). Frontier rows
    //     keep their first-discovery score by design ("rescoring a
    //     live frontier is a rebuild"), so a standing frontier table
    //     written under the OLD scale must be rebuilt (drop the
    //     table) rather than appended to — mixed scales would order
    //     new discoveries above every old row.
    val hostQuality = Frontier.hostQuality(
      pages.select(col("doc_id"), Url.host(col("url")).as("host"))
        // noindex pages leave the DENOMINATOR too: "author asked us
        // not to index" is a compliance directive, not a curation
        // failure — a host half-full of legitimate noindex pages
        // (search/login/print views) must not lose frontier budget
        // for honoring it
        .join(noindexIds, Seq("doc_id"), "left_anti")
        .join(refined.select(col("doc_id"), lit(true).as("__kept")),
          Seq("doc_id"), "left")
        .select(col("host"), coalesce(col("__kept"), lit(false)).as("kept")),
      "host", "kept")
    Frontier.appendToFrontierTable(spark,
      frontier.filter(col("allowed")).select(col("url"), col("host"))
        .join(broadcast(ranks.select(col("node").as("host"),
          col("rank_micro"))), Seq("host"), "left")
        .join(broadcast(hostQuality.select(col("host"),
          col("quality_milli"))), Seq("host"), "left")
        .select(col("url"),
          Frontier.qualityScore(col("rank_micro"), col("quality_milli"))
            .as("score")),
      "url", "score", frontierTable)
    val fetchedLedger = pages.select(Url.canonical(col("url")).as("url"))
    val scheduled = Frontier.scheduleFromTable(spark, frontierTable,
      Some(fetchedLedger), maxPerHost)
    val nScheduled = scheduled.count()

    // 4c. politeness metadata off the same robots frame: per-slot
    //    fetch ETAs (slot × Crawl-delay; undeclared hosts fetch
    //    immediately)
    val delayedSlots = scheduled
      .join(broadcast(robots.select(col(robotsHost).as("host"),
        col(robotsTxt).as("__robots"))), Seq("host"), "left")
      .select(col("host"), col("host_slot"),
        (col("host_slot") *
          coalesce(Robots.crawlDelay(col("__robots"), agent), lit(0L)))
          .as("fetch_eta_sec"))
      .filter(col("fetch_eta_sec") > 0).count()

    // 5. (curation itself ran at 4b' so the frontier could eat its
    //    verdicts)
    val nSurvivors = refined.count()

    // 6. audited exports: parquet shards for training, WET segments
    //    for interchange — both manifest-audited
    Sampling.writeShardedWithManifest(
      refinedAnchored.select("doc_id", "host", "host_rank_micro",
        "anchor_terms", "text"),
      "doc_id", shards, outDir)
    val auditOk = Sampling.verifyShardedExport(spark, outDir, "doc_id")
      .filter(!col("ok")).isEmpty
    val wetDir = outDir + "_wet"
    Warc.writeTextSegments(
      refined.join(pages.select(col("doc_id"), col("url")), "doc_id")
        .select(col("url"), col("text")),
      "url", "text", wetDir)
    val wetAuditOk = Warc.auditTextSegments(spark, wetDir)
      .filter(!col("ok")).isEmpty

    // 6b. WAT export — the metadata artifact next to the text one
    //    (CommonCrawl publishes all three): one JSON metadata record
    //    per crawled page (title/description/base/outlinks/digest, one
    //    scanHtml pass), written as metadata-type segments and
    //    re-audited under its record type
    val watDir = outDir + "_wat"
    // the pinned pages frame already holds the charset-sniffed decode
    // (a raw binary→UTF-8 cast would mojibake legacy-charset titles/
    // outlinks) plus the date/digest scalars — reuse it rather than
    // re-decoding every body at export time
    Warc.writeWatSegments(
      Html.watMetadata(pages, "url", "html", "warc_date",
        "payload_digest"),
      "uri", "wat_json", watDir)
    val watRecords = Warc.readWarc(spark, watDir)
      .filter(col("warc_type") === "metadata").count()
    val watAuditOk = Warc.auditTextSegments(spark, watDir,
        recordType = "metadata")
      .filter(!col("ok")).isEmpty

    // 7. capture index over the WET export, published as sorted CDXJ
    //    (the interchange form a downstream consumer actually
    //    receives) — then every conversion record is ranged-fetched
    //    back THROUGH the text-roundtripped index, closing the
    //    publish → index → consume loop with a reconciled count
    val cdxjDir = outDir + "_cdxj"
    Warc.writeCdxj(Warc.cdxIndex(spark, wetDir), cdxjDir, shards = 2)
    val nCdxFetched = Warc.fetchByCdx(
        Warc.readCdxj(spark, cdxjDir)
          .filter(col("warc_type") === "conversion"), wetDir)
      .filter(col("body").isNotNull).count()

    // 8. warehouse census: the run's catalog tables (the frontier, and
    //    anything a previous round left) with row counts and ledger
    //    marks — the operational audit that catches a stale table
    val census = Warehouse.auditTables(spark, frontierTable)

    Result(nRecords, nPages, nExtracted, nNoindex, nNofollow,
      nRedirects, nTerminals, nLoops,
      nEdges, nHosts, nSitemaps, smCount,
      nAllowed, nDenied, nScheduled, delayedSlots,
      nSurvivors, nAnchorTargets, nAnchored, anchorFusedHits,
      auditOk, wetAuditOk, watRecords, watAuditOk,
      nCdxFetched, census)
  }

  def main(args: Array[String]): Unit = {
    val warcDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_WARC_DIR", "/tmp/graft_crawl_warc")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_crawl_out"
    val spark = SparkSession.builder()
      .appName("graft-crawl-demo").master("local[4]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      import spark.implicits._
      val robots = Seq.empty[(String, String)].toDF("host", "robots_txt")
      val r = run(spark, warcDir, robots, outDir)
      println(s"records=${r.records} pages=${r.pages} " +
        s"extracted=${r.extracted} " +
        s"metaRobots=${r.noindexPages}noindex/${r.nofollowPages}nofollow " +
        s"redirects=${r.redirects}" +
        s"(terminals=${r.redirectTerminals} loops=${r.redirectLoops}) " +
        s"edges=${r.hostEdges} hosts=${r.rankedHosts} " +
        s"sitemaps=${r.sitemapsDiscovered}/${r.sitemapUrls}urls " +
        s"frontier=${r.frontierAllowed}+${r.frontierDenied} " +
        s"scheduled=${r.scheduled} delayedSlots=${r.delayedSlots} " +
        s"survivors=${r.survivors} " +
        s"anchors=${r.anchorTargets}targets/${r.anchoredSurvivors}docs" +
        s"/${r.anchorFusedHits}fused " +
        s"audit=${r.auditOk} wet=${r.wetAuditOk} " +
        s"wat=${r.watRecords}/${r.watAuditOk} cdxFetched=${r.cdxFetched}")
      r.census.show(20, false)
    } finally spark.stop()
  }
}
