package graft
package battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The archive and WARC family: WARC/WET/WAT/CDX reading and
  * writing, HTML extraction, robots, sitemaps, the crawl frontier,
  * anchors and compliance takedowns.
  */
private[graft] object ArchiveQueries {
  import Common._

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

  val all: Seq[Query] = Seq(
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
    Query("q146_wat_export", (s, dir) => {
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
    },
      // q146: every WAT field closed-form from the q115 page template —
      // title text, the four anchor hrefs in document order (two chrome
      // nav links, two list links), no meta description / base / digest
      // in that fixture (pinned as '-'), the fixture's fixed WARC date.
      """SELECT doc_id,
                'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                '-' AS description,
                '-' AS base_href,
                CAST(4 AS INT) AS n_links,
                '/,/about,/a,/b' AS outlinks_csv,
                '2026-01-01T00:00:00Z' AS warc_date,
                '-' AS digest
         FROM documents ORDER BY doc_id"""),

    // CDXJ RANGE-SCAN serve (Warc.readCdxjPrefix over the per-shard
    // min/max manifest writeCdxj now publishes) — the query the SURT
    // sort exists for: "every capture under site3.example.com"
    // answered by opening ONLY the shards whose key range overlaps
    // the prefix. The entry REQUIRES that shard selection actually
    // skipped files (the pruning receipt — a full scan wearing a
    // range-scan name fails in-entry), and the result must equal the
    // closed-form subtree, exactly what a whole-index filter returns.
    Query("q147_cdxj_rangescan", (s, dir) => {
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
    },
      // q147: the site3 subtree closed-form from the q136 fixture
      // template — the range scan must return exactly what a full-index
      // filter would (pruning is REQUIRED in-entry but must be invisible
      // in the result).
      """SELECT doc_id,
                'com,example,site3)/dir/page' || CAST(doc_id AS VARCHAR)
                  || '.html' AS urlkey,
                'https://www.site3.example.com/dir/page'
                  || CAST(doc_id AS VARCHAR) || '.html' AS url,
                'text/plain' AS mime,
                CAST(200 AS INT) AS status
         FROM documents WHERE doc_id % 20 = 3 ORDER BY doc_id"""),

    // Latest-capture-wins corpus build (Warc.latestCaptures → ranged
    // fetch): three crawl batches capture every URL 2-3 times across
    // three days; the catalog dedups to ONE winner per urlkey — max
    // warc_date, locator tiebreak — in a single hash agg (never a
    // window over the catalog), and the winners' ranged-read bodies
    // must be the NEWEST version of every page, digests verified.
    // n_captures audits that nothing was silently single-captured.
    Query("q148_latest_capture", (s, dir) => {
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
    },
      // q148: the winner per page closed-form from the three-crawl
      // fixture — version 3 on 2026-01-03 for every third doc, version 2
      // on 2026-01-02 otherwise; capture counts audit the fan-in.
      """SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN '2026-01-03T00:00:00Z'
                     ELSE '2026-01-02T00:00:00Z' END AS warc_date,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
                  AS n_captures,
                TRUE AS digest_ok,
                'version ' ||
                  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS VARCHAR)
                  || ' of page ' || CAST(doc_id AS VARCHAR) AS text
         FROM documents ORDER BY doc_id"""),

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
    Query("q149_quality_frontier", (s, dir) => {
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
    },
      // q149: the whole quality loop replayed — keep verdicts, integer
      // keep-rates (floor division), rank×quality products, and the
      // apex top-5 by (score DESC, url ASC). If blending didn't flip
      // the budget, the winners would be host 0's URLs and the hash
      // would break.
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
         FROM r WHERE rn <= 5 ORDER BY host_slot"""),

    // Robots META directives (Html.robotsDirectives — the in-page
    // counterpart of robots.txt): four regimes by doc_id%4 — absent
    // (default index,follow), noindex, a case/whitespace-mangled
    // "NOFOLLOW, index" (tokens are case-insensitive and trimmed),
    // and "none" (= both). Composed the way a pipeline acts on them:
    // in_corpus = !noindex gates the content, and a nofollow page's
    // outlinks vanish from the frontier feed (anti-join against
    // extractLinks). Every verdict and surviving-link count is
    // closed-form.
    Query("q152_meta_robots", (s, dir) => {
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
    },
      // q152: every directive verdict and surviving-link count stated
      // closed-form per regime; the verbatim content roundtrips
      // untouched (trim/case live only in the verdicts).
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
         FROM documents ORDER BY doc_id"""),

    // X-Robots-Tag directives (Warc surfaces the header; the
    // HTTP-layer counterpart of q152's meta robots — binary resources
    // have no meta, so this is how PDFs/images get their noindex):
    // four header regimes including an agent-scoped token and a
    // REPEATED header that must list-join, combined with the meta
    // layer by OR (most restrictive wins across layers). Every header
    // echo and verdict closed-form.
    Query("q154_xrobots_directives", (s, dir) => {
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
    },
      // q154: header echoes (repeats list-joined with ", ") and both
      // verdict layers closed-form; the combined columns OR the
      // header and meta layers.
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
         FROM documents ORDER BY doc_id"""),

    // Declared-canonical collapse (Html.canonicalTargets — <link
    // rel=canonical> resolved and canonicalized, the pre-dedup
    // collapse every web corpus applies): groups of five URL variants
    // — a leader with no declaration, one member declaring a RELATIVE
    // canonical (resolution against the page URL is live), three
    // declaring it absolute with mangled case (canonicalization is
    // live) — must each fold to ONE canonical_url with the leader as
    // keeper and exactly four declarations counted. Closed-form per
    // group.
    Query("q153_canonical_collapse", (s, dir) => {
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
    },
      // q153: groups are complete runs of 5 consecutive ids, so every
      // collapse statistic is arithmetic on the leader id.
      """WITH g AS (
           SELECT doc_id - doc_id % 5 AS leader FROM documents),
         a AS (SELECT leader, count(1) AS n FROM g GROUP BY leader)
         SELECT 'https://site' || CAST(leader % 20 AS VARCHAR) ||
                  '.example.com/page' || CAST(leader AS VARCHAR) ||
                  '.html' AS canonical_url,
                CAST(n AS BIGINT) AS n_pages,
                leader AS keeper,
                CAST(n - 1 AS BIGINT) AS n_declared
         FROM a ORDER BY keeper"""),

    // Image–text pairs (Html.imageTextPairs — the LAION slot: alt-text
    // pairs mined from page markup are THE public multimodal
    // training-data source): five regimes by doc_id%5 — relative src
    // vs the page URL, base-href resolution with an explicit-empty
    // alt (the decorative convention, distinct from ABSENT), figure/
    // figcaption captioning, a chrome logo whose title attribute is
    // the caption fallback, and an absolute src with canonicalization
    // slop. A src-less img on every page proves no ghost rows. Every
    // resolved URL, alt, caption, and chrome flag is closed-form.
    Query("q155_image_text_pairs", (s, dir) => {
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
    },
      // q155: every pair restated closed-form from the five-regime
      // template — resolved image URL (relative, base-href, absolute
      // with canonicalization slop), alt semantics (absent vs
      // explicitly empty), figcaption/title-attr captioning, chrome.
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
         FROM b ORDER BY doc_id"""),

    // Anchor-text edges (Html.anchorTextEdges — the web's oldest
    // relevance label: the text OTHER pages use to describe a
    // target): four regimes by doc_id%4 — entity-decoded text,
    // base-href destination resolution with nested inline markup
    // stripped, a textless image anchor next to a chrome nav link,
    // and a block boundary ending the anchor's text claim. Every
    // edge, destination, and text is closed-form.
    Query("q156_anchor_text_edges", (s, dir) => {
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
    },
      // q156: edges restated closed-form — the m=2 regime contributes
      // its second (chrome) edge via the union branch.
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
         FROM e ORDER BY doc_id, link_pos"""),

    // Per-TARGET anchor-term profile (the aggregate half of the
    // anchor story — what retrieval training and crawl scoring
    // actually consume): groups of 5 consecutive docs all link to one
    // shared hub page with per-doc labels, and the profile — inbound
    // count, distinct source pages, and the label bag in
    // deterministic (sorted) order — is ONE hash aggregation keyed by
    // destination, closed-form per hub.
    Query("q157_anchor_profile", (s, dir) =>
      graft.operators.Html.anchorProfile(
          graft.operators.Html.anchorTextEdges(
            anchorHubPages(s, dir), "doc_id", "url", "html"))
        .orderBy("dst_url"),
      // q157: the per-hub profile is arithmetic on the leader id; the
      // label bag re-sorts in the same binary string order sort_array
      // uses.
      """WITH g AS (
           SELECT doc_id, doc_id - doc_id % 5 AS leader,
                  'topic ' || CAST(doc_id AS VARCHAR) || ' guide' AS lbl
           FROM documents)
         SELECT 'https://hub.example.com/t' || CAST(leader AS VARCHAR) ||
                  '.html' AS dst_url,
                CAST(count(1) AS BIGINT) AS n_anchors,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_pages,
                string_agg(lbl, ' ' ORDER BY lbl) AS anchor_terms
         FROM g GROUP BY leader ORDER BY dst_url"""),

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
    Query("q161_anchor_stream", (s, dir) => {
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
    },
      // q161: the q157 oracle verbatim — streamed arrival through the
      // postings+markers pair must not move one count or term.
      """WITH g AS (
           SELECT doc_id, doc_id - doc_id % 5 AS leader,
                  'topic ' || CAST(doc_id AS VARCHAR) || ' guide' AS lbl
           FROM documents)
         SELECT 'https://hub.example.com/t' || CAST(leader AS VARCHAR) ||
                  '.html' AS dst_url,
                CAST(count(1) AS BIGINT) AS n_anchors,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_pages,
                string_agg(lbl, ' ' ORDER BY lbl) AS anchor_terms
         FROM g GROUP BY leader ORDER BY dst_url"""),

    // Anchor-field retrieval (the CONSUMPTION of q157's profiles —
    // ranking targets by the text other pages use for them, the
    // web-search move body-text BM25 can't make): the q157 hub
    // profiles are the documents, the anchor term bag is the field,
    // and a query carrying two rare per-doc tokens plus one uniform
    // token must rank the two matching hubs first with every score
    // replayed by the q54 BM25 arithmetic.
    Query("q158_anchor_bm25", (s, dir) => {
      val profiles = graft.operators.Html.anchorProfile(
        graft.operators.Html.anchorTextEdges(
          anchorHubPages(s, dir), "doc_id", "url", "html"))
      graft.operators.Retrieval.bm25TopK(profiles, "dst_url",
          "anchor_terms", Seq("17", "42", "guide"), n = 10)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id"))
    },
      // q158: the q157 profile rebuild feeding the q54 BM25 arithmetic —
      // doc = hub, dl = 3 tokens per inbound label, tf over the three
      // query terms only.
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
         ORDER BY score DESC, doc_id"""),

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
    Query("q170_revalidation", (s, dir) => {
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
    },
      // q170: every page's effective capture closed-form from the
      // two-crawl template — 304s keep crawl A's body and date under
      // crawl B's observation date; the ledger's ETag is the latest
      // validator observed (B's echo for 304s, B's new tag elsewhere).
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
         FROM documents ORDER BY doc_id"""),

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
    Query("q151_crawl_merge", (s, dir) => {
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
    },
      // q151: the q148 oracle verbatim — three separately published
      // per-crawl indexes, merged and re-published in interchange form,
      // must dedup to the same winners as one catalog built directly.
      """SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN '2026-01-03T00:00:00Z'
                     ELSE '2026-01-02T00:00:00Z' END AS warc_date,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
                  AS n_captures,
                TRUE AS digest_ok,
                'version ' ||
                  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS VARCHAR)
                  || ' of page ' || CAST(doc_id AS VARCHAR) AS text
         FROM documents ORDER BY doc_id"""),

    // The WAT family's STREAMING leg (Maintenance.streamingWatSegments
    // — completing the batch/audit/streaming triad the WET export
    // already has): the q146 WAT rows DELIVERED AS A STREAM in 3
    // micro-batches, each landing its own batch subtree of
    // metadata-type segments; the whole tree must audit clean
    // (required in-entry, recordType-aware) and the read-back fields
    // answer the q146 oracle VERBATIM — streamed arrival must not
    // change one byte of metadata. The driver-side collect feeds the
    // MemoryStream test harness (the S5 situation), not the operator.
    Query("q150_wat_stream", (s, dir) => {
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
    },
      // q150: the q146 oracle verbatim — streamed WAT arrival must not
      // change one byte of any metadata field.
      """SELECT doc_id,
                'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                '-' AS description,
                '-' AS base_href,
                CAST(4 AS INT) AS n_links,
                '/,/about,/a,/b' AS outlinks_csv,
                '2026-01-01T00:00:00Z' AS warc_date,
                '-' AS digest
         FROM documents ORDER BY doc_id"""),

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
    Query("q111_html_extract", (s, dir) => {
      graft.operators.Html.extractMainText(mainTextPages(s, dir),
          "doc_id", "html")
        .orderBy("doc_id")
    },
      // q111: the expected extraction reconstructed from the template
      // INPUTS (never by re-parsing markup): main text = the doc text
      // whitespace-collapsed (the kernel's single-space joining) + the
      // fixed entity paragraph already decoded to literals. The fixed
      // boilerplate species (title/header/nav chrome, the 12-char div,
      // the 0.61-density link farm, the footer) are dropped by
      // construction: 2 kept, 6 dropped, every page.
      """SELECT doc_id,
                regexp_replace(trim(text), '\s+', ' ', 'g') || chr(10) ||
                  'Quoted "entities" & more entity text decodes here'
                  AS main_text,
                CAST(2 AS INT) AS n_kept,
                CAST(6 AS INT) AS n_dropped
         FROM documents ORDER BY doc_id"""),

    // WARC ingestion (ISO 28500 — the crawl-native input format):
    // real segment files (half gzipped), Content-Length framing (the
    // fixture's bodies contain record-separator byte sequences via
    // the HTML, so a separator-scanner would shred them), HTTP
    // response splitting, non-response records surfacing with a NULL
    // http side. The oracle reconstructs every record closed-form:
    // response bodies are the q111 template bytes (md5 + length),
    // request/warcinfo rows carry type + doc identity only.
    Query("q115_warc_parse", (s, dir) => {
      val wdir = ensureWarcDir(s, dir)
      graft.sources.Warc.readWarc(s, wdir)
        .select(
          regexp_extract(col("target_uri"), "page(\\d+)\\.html", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("http_status"), col("http_content_type"),
          md5(col("body").cast("string")).as("body_md5"),
          length(col("body").cast("string")).as("body_chars"))
        .orderBy("warc_type", "doc_id")
    },
      // q115: every WARC record reconstructed closed-form — response
      // bodies are the q111 template bytes rebuilt literally in SQL
      // (md5 + char length), request/warcinfo RAW payloads digest-pinned
      // too (non-response payloads surface verbatim, never dropped),
      // one request per doc, one warcinfo per 25-doc segment. A framing
      // slip, gzip corruption, or lost record breaks counts or digests.
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
         ORDER BY warc_type, doc_id"""),

    // The CommonCrawl front door end to end: WARC segments → response
    // records → charset-sniffed decode (Charset.decodeText — the
    // fixture's ASCII bodies take the strict-UTF-8 rung; q119 pins
    // the legacy rungs) → main-content extraction — and the result
    // must equal q111's extraction over the same pages VERBATIM (same
    // oracle SQL), proving the whole ingestion path (gzip, framing,
    // HTTP split, byte→text decode) is lossless in front of the
    // extractor.
    Query("q116_warc_extract", (s, dir) => {
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
    },
      // q116: must equal q111's extraction verbatim — the ingestion
      // path in front of the extractor is lossless or the shared
      // closed-form breaks.
      """SELECT doc_id,
                regexp_replace(trim(text), '\s+', ' ', 'g') || chr(10) ||
                  'Quoted "entities" & more entity text decodes here'
                  AS main_text,
                CAST(2 AS INT) AS n_kept,
                CAST(6 AS INT) AS n_dropped
         FROM documents ORDER BY doc_id"""),

    // Robots-exclusion gating (RFC 9309): five URL species per doc
    // against per-host rules that exercise longest-match precedence
    // (Allow /private/ok beats Disallow /private), the $ end anchor
    // (/*.gif$), and agent-group REPLACEMENT (odd hosts give graftbot
    // its own Disallow-/ group, so the * group's /tmp rule must NOT
    // apply). The oracle states every verdict closed-form by
    // (host parity, species).
    Query("q117_robots_gate", (s, dir) => {
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
    },
      // q117: verdicts by construction — odd hosts deny graftbot
      // everything (its own group replaces *), even hosts deny the
      // /private prefix (except the longer /private/ok Allow) and the
      // $-anchored gif rule; /tmp passes on even hosts because the *
      // group there has no such rule.
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
         FROM b CROSS JOIN sp ORDER BY doc_id, species"""),

    // Head-metadata extraction + base-href-aware link resolution: the
    // kept-fields slot of a FineWeb-style pipeline (title/description
    // ride next to the main text) plus the <base href> semantics a
    // naive resolver gets wrong — the page's relative link must
    // resolve against the DECLARED base (a different host here), not
    // the page URL. Title/description carry entities and whitespace
    // runs; everything is stated closed-form by the oracle.
    Query("q118_head_metadata", (s, dir) => {
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
    },
      // q118: every head field closed-form — the title's entity and
      // whitespace run collapse, the description's quoted entities
      // decode, base_href comes back RAW (an attribute value, not a
      // canonical URL), and the relative link resolves against the
      // declared base's host (lowercased by canonicalization), not the
      // page's.
      """SELECT doc_id,
                'Doc ' || CAST(doc_id AS VARCHAR) || ' & Friends' AS title,
                'Summary "' || CAST(doc_id AS VARCHAR) || '" of the page'
                  AS meta_description,
                'https://Mirror' || CAST(doc_id % 20 AS VARCHAR) ||
                  '.Example.ORG/root/' AS base_href,
                CAST(1 AS INT) AS n_links,
                'https://mirror' || CAST(doc_id % 20 AS VARCHAR) ||
                  '.example.org/root/rel/x.html' AS resolved_url
         FROM documents ORDER BY doc_id"""),

    // Charset sniffing ladder (Charset.decodeBodies): five encoding
    // regimes cycling by doc_id — (0) UTF-8 declared in the HTTP
    // header, (1) windows-1252 declared only by <meta charset> (the
    // bytes are NOT valid UTF-8 — é/€/— live in 0x80–0xFF), (2)
    // UTF-16LE by BOM with a LYING charset=utf-8 header (BOM must
    // win), (3) undeclared UTF-8 caught by the strict-probe rung,
    // (4) undeclared legacy bytes falling to windows-1252. Every
    // decoded string and every charset verdict is stated closed-form;
    // one wrong rung or one mojibake byte breaks the hash.
    Query("q119_charset_decode", (s, dir) => {
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
    },
      // q119: the charset verdict and the decoded text, both
      // closed-form from the fixture templates (never by re-running a
      // decoder): each regime's expected string is the template with
      // the non-ASCII characters written as the Unicode the bytes
      // encode — the windows-1252 regimes' é/€/— prove the legacy
      // decode (UTF-8 misreading those bytes could never produce them),
      // the BOM regime proves precedence over the lying header.
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
         FROM documents ORDER BY doc_id"""),

    // Sitemap-protocol parsing (Sitemap.extractEntries): even docs
    // publish a <urlset> (one full entry — entity-encoded loc,
    // lastmod, changefreq, priority — plus one loc-only entry), odd
    // docs a <sitemapindex> pointing at a child sitemap. Every field
    // of every entry is stated closed-form by parity.
    Query("q120_sitemap_parse", (s, dir) => {
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
    },
      // q120: every sitemap entry closed-form by parity — even docs'
      // urlset yields the full entry (entity-decoded loc) then the
      // minimal one, odd docs' sitemapindex yields one child-sitemap
      // row with kind=sitemap.
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
         ORDER BY doc_id, entry_pos"""),

    // Politeness-bounded frontier scheduling (Frontier.schedule): one
    // URL per doc on host site{doc_id%20}, score = doc_id — each
    // host's budget of 5 slots must go to its 5 highest doc_ids in
    // score order, through the BOUNDED top-k aggregator (no per-host
    // window; plan-asserted in FrontierSpec). The oracle re-derives
    // every slot with a row_number the engine itself never runs.
    Query("q121_frontier_schedule", (s, dir) => {
      val urls = t(s, dir, "documents").select(
        concat(lit("https://site"),
          pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.com/page"), col("doc_id").cast("string"),
          lit(".html")).as("url"),
        col("doc_id").as("score"))
      graft.operators.Frontier.schedule(urls, "url", "score", maxPerHost = 5)
        .orderBy("host", "host_slot")
    },
      // q121: the frontier slots re-derived with the window the engine
      // itself refuses to run — row_number per host over (score desc,
      // url) capped at the budget; scores (= doc_id) are unique within
      // a host so every slot is forced.
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
         FROM r WHERE host_slot < 5 ORDER BY host, host_slot"""),

    // Crawl-delay gating composed onto the scheduled frontier: even
    // hosts declare a * delay of k+1 s, odd hosts give graftbot a
    // specific 2.5 s group (ceil → 3; the * group's 60 s must NOT
    // apply — group replacement) — and each slot's earliest polite
    // fetch time is slot × delay, all exact integers.
    Query("q122_crawl_delay", (s, dir) => {
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
    },
      // q122: delay verdicts by parity (even hosts: the * group's k+1;
      // odd hosts: graftbot's OWN group — ceil(2.5)=3, the * group's 60
      // must not leak through group replacement) and slot×delay ETAs.
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
         FROM r WHERE host_slot < 5 ORDER BY host, host_slot"""),

    // Distributed WET export → read-back roundtrip: the corpus writes
    // as real conversion-record WARC segments (one STREAMED segment
    // per partition, gzipped, manifest-audited) and comes back
    // through the q115-proven reader byte-identically — text,
    // per-record payload byte counts, and the charset ladder's
    // verdict on envelope-less UTF-8 payloads all stated closed-form.
    Query("q123_warc_roundtrip", (s, dir) => {
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
    },
      // q123: the roundtrip in closed form — every document returns
      // with its exact text (ASCII corpus: byte length == char length),
      // the ladder lands on the strict-UTF-8 rung (no BOM, no header,
      // no meta), and the manifest audit reports zero failures.
      """SELECT doc_id, 'utf-8' AS charset, text,
                CAST(len(text) AS BIGINT) AS n_bytes,
                CAST(0 AS BIGINT) AS audit_failures
         FROM documents ORDER BY doc_id"""),

    // Streaming frontier lifecycle: the q121 URL set discovered in 3
    // micro-batches into a persisted frontier table (idempotent per
    // URL — the q109/q88c append discipline), then scheduled minus a
    // closed-form fetched ledger (doc_id % 7 == 0 already crawled) —
    // the answer must equal the batch schedule over the same pending
    // set, slot for slot.
    Query("q124_frontier_stream", (s, dir) => {
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
    },
      // q124: the q121 slot derivation over the pending set only —
      // streamed discovery must be invisible (same slots as a batch
      // build), and the fetched ledger must carve its URLs out BEFORE
      // ranking (slots close up).
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
         FROM r WHERE host_slot < 5 ORDER BY host, host_slot"""),

    // Sitemap discovery from robots.txt (Robots.sitemapUrls): hosts
    // cycle three regimes — none, one directive, two directives (the
    // second uppercase and sandwiched BETWEEN agent groups, proving
    // case-insensitivity and group-independence). Every discovered
    // URL and its file position is closed-form.
    Query("q127_sitemap_discovery", (s, dir) => {
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
    },
      // q127: the discovered sitemap list by host regime — k%3==0 hosts
      // publish none (absent from output), k%3==1 one, k%3==2 two in
      // file order (the uppercase mid-file directive is position 0).
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
         ORDER BY host, sitemap_pos"""),

    // HTTP transfer/content decoding in the WARC path (Warc.parseHttp
    // → dechunk → decompressBody): five wire encodings by doc_id%5 —
    // identity, chunked, gzip, deflate, chunked-over-gzip — all
    // carrying the same closed-form body, which must surface decoded
    // and byte-identical through the charset ladder regardless of how
    // it crossed the wire. One garbled rung breaks the hash.
    Query("q128_http_decode", (s, dir) => {
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
    },
      // q128: the decode is lossless in closed form — every doc's text
      // comes back as the exact template string however it was framed
      // or compressed on the wire.
      """SELECT doc_id, doc_id % 5 AS mode,
                'decoded ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
         FROM documents ORDER BY doc_id"""),

    // The discovery loop closed: sitemap XML (Sitemap.extractEntries)
    // ∪ link-discovered URLs, deduped by canonical URL (the overlap
    // /sm/a arrives from BOTH feeds and must hold one slot at its best
    // score), gated by robots (the /tmp sitemap entry is disallowed
    // and must never reach the table), appended to the persisted
    // frontier (Frontier.appendToFrontierTable), and scheduled off it.
    // /sm/b is sitemap-ONLY — its slot proves sitemap discovery feeds
    // the schedule. Every slot closed-form per host.
    Query("q129_sitemap_frontier", (s, dir) => {
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
    },
      // q129: three slots per host in closed form — /sm/a (in both
      // feeds, deduped, best score 5), /sm/b (sitemap-only, 5, url
      // tiebreak after a), /ln/d (link-only, 3); /tmp/c robots-gated
      // out of existence.
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
         ORDER BY host, host_slot"""),

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
    Query("q132_revisit_dedup", (s, dir) => {
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
    },
      // q132: every %4==3 doc's revisit resolves to doc_id−1's response
      // in closed form; digest_ok must be uniformly true (one corrupted
      // digest or body byte breaks the hash).
      """SELECT doc_id AS revisit_id, doc_id - 1 AS orig_id,
                'https://site' || CAST((doc_id - 1) % 20 AS VARCHAR) ||
                  '.example.com/dir/page' || CAST(doc_id - 1 AS VARCHAR) ||
                  '.html' AS orig_uri,
                true AS digest_ok
         FROM documents WHERE doc_id % 4 = 3 ORDER BY revisit_id"""),

    // Redirect handling (Url.resolveRedirectChains over the
    // http_location column the WARC reader now surfaces): 301/302
    // chains with a relative first hop and a cross-host second hop
    // resolve to their terminal; every 10th doc's /start ⇄ /loop
    // 2-cycle must cap out as looped (terminal NULL) instead of
    // cycling. Closed-form per doc.
    Query("q130_redirect_chains", (s, dir) => {
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
    },
      // q130: terminals and loop verdicts re-derived from the chain
      // template — non-loop docs land on the NEXT host's /final after
      // exactly 2 hops; every 10th doc is a 2-cycle that must cap out
      // at maxHops=4 with a NULL terminal.
      """SELECT doc_id,
                CASE WHEN doc_id % 10 = 0 THEN NULL
                     ELSE 'https://site' ||
                          CAST((doc_id % 20 + 1) % 20 AS VARCHAR) ||
                          '.example.com/final' || CAST(doc_id AS VARCHAR) ||
                          '.html' END AS terminal_url,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 4 ELSE 2 END AS INT)
                  AS hops,
                doc_id % 10 = 0 AS looped
         FROM documents ORDER BY doc_id"""),

    // Apex-level politeness budgets (Frontier.scheduleByKey with
    // Url.apexDomain — the Heritrix queue-by-assignment-domain knob):
    // 20 sibling site{k}.example.com hosts fold to ONE apex and must
    // share one budget of 5 — the top-5 scores win, slots by score
    // desc; a per-HOST budget would schedule all 20. Closed-form.
    Query("q134_apex_budget", (s, dir) => {
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
    },
      // q134: the shared-apex budget in closed form — of 20 sibling
      // hosts scored 0..19, exactly the top 5 schedule, slot = 19−score.
      """WITH k AS (SELECT DISTINCT doc_id % 20 AS k FROM documents)
         SELECT 'example.com' AS host, CAST(19 - k AS INT) AS host_slot,
                'https://site' || CAST(k AS VARCHAR) || '.example.com/page'
                  || CAST(k AS VARCHAR) || '.html' AS url,
                CAST(k AS BIGINT) AS score
         FROM k WHERE k >= 15 ORDER BY host_slot"""),

    // Freshness-aware recrawl gating (Frontier.markDueForRecrawl over
    // the sitemaps.org changefreq vocabulary): eight regimes cycling
    // by doc_id — the six standard labels, `never` (no finite
    // interval, never due), and a garbage label taking the default
    // week — against a fixed `now` and an age that grows with doc_id,
    // so every verdict flips at a closed-form id threshold.
    Query("q135_recrawl_due", (s, dir) => {
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
    },
      // q135: every regime's verdict replayed — due ⇔ interval ≤ age
      // (age = doc_id hours), never → NULL interval and false.
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
         FROM d ORDER BY doc_id"""),

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
    Query("q136_cdx_fetch", (s, dir) => {
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
    },
      // q136: the ranged fetch in closed form — every doc returns
      // through its CDX locator with the template body, status 200, a
      // verified digest, and the SURT key (www stripped, host
      // reversed). Offsets/lengths have no SQL analog; they are proven
      // by the fetch succeeding at all.
      """SELECT doc_id,
                'com,example,site' || CAST(doc_id % 20 AS VARCHAR) ||
                  ')/dir/page' || CAST(doc_id AS VARCHAR) || '.html'
                  AS urlkey,
                CAST(200 AS INT) AS http_status, true AS digest_ok,
                'Document ' || CAST(doc_id AS VARCHAR) || ': ' || text
                  AS text
         FROM documents ORDER BY doc_id"""),

    // The CDX catalog's STREAMING leg (Maintenance.streamingCdx →
    // Warc.appendToCdxTable): segment paths land in 3 micro-batches
    // (a continuous crawl announces segment sets per batch —
    // CommonCrawl refreshes its index per crawl the same way), each
    // absorbing through the filename-keyed skip + anti-join append;
    // a whole-archive replay absorb must then be a ZERO-segment
    // no-op (required in-entry), and ranged-read serving off the
    // catalog answers the q136 oracle VERBATIM — streamed arrival
    // must not change one locator.
    Query("q138_cdx_stream", (s, dir) => {
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
    },
      // q138: streamed catalog arrival changes nothing — the oracle is
      // q136's ranged-fetch closed form once more (same locators, same
      // bodies, same digests), plus the in-entry require that a
      // whole-archive replay absorbs zero segments.
      """SELECT doc_id,
                'com,example,site' || CAST(doc_id % 20 AS VARCHAR) ||
                  ')/dir/page' || CAST(doc_id AS VARCHAR) || '.html'
                  AS urlkey,
                CAST(200 AS INT) AS http_status, true AS digest_ok,
                'Document ' || CAST(doc_id AS VARCHAR) || ': ' || text
                  AS text
         FROM documents ORDER BY doc_id"""),

    // CDXJ interchange (Warc.writeCdxj / readCdxj — the SORTED text
    // form CommonCrawl actually publishes its index as): the q136
    // index round-trips through `urlkey timestamp {json}` lines
    // (string-valued fields, range-partitioned global sort) and the
    // read-back locators must fetch every response EXACTLY like the
    // in-memory index — the q136 oracle verbatim. A lost field, a
    // mis-cast offset, or a timestamp that doesn't reconstruct the
    // WARC date breaks the fetch or the hash.
    Query("q140_cdxj_roundtrip", (s, dir) => {
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
    },
      // q140: identical oracle to q136 — the text interchange must not
      // lose or shift one locator (a mis-cast offset or torn json field
      // nulls the fetch out of the hash).
      """SELECT doc_id,
                'com,example,site' || CAST(doc_id % 20 AS VARCHAR) ||
                  ')/dir/page' || CAST(doc_id AS VARCHAR) || '.html'
                  AS urlkey,
                CAST(200 AS INT) AS http_status, true AS digest_ok,
                'Document ' || CAST(doc_id AS VARCHAR) || ': ' || text
                  AS text
         FROM documents ORDER BY doc_id"""),

    // Compliance takedowns (Corpus.applyTakedowns): all four rule
    // kinds live at once over the template URL corpus — an exact-URL
    // rule written WITH a tracking param (canonical-space matching
    // must still hit), a host rule, a domain rule whose SURT-prefix
    // tree match reaches through the www label, and a path-prefix
    // rule. Every verdict closed-form; the corpus never shuffles
    // (all four rule joins broadcast — CorpusSpec pins the plan).
    Query("q137_takedown_purge", (s, dir) => {
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
    },
      // q137: the four takedown kinds re-derived as predicates — the
      // url rule kills exactly doc 7 (its tracking param must not
      // matter), host kills the site3 cohort, domain kills site4's
      // tree through the www label, prefix kills site5 docs whose id
      // renders with a leading '1'.
      """SELECT doc_id,
                'https://www.site' || CAST(doc_id % 20 AS VARCHAR) ||
                  '.example.com/dir/page' || CAST(doc_id AS VARCHAR) ||
                  '.html' AS url
         FROM documents
         WHERE NOT (doc_id = 7
           OR doc_id % 20 IN (3, 4)
           OR (doc_id % 20 = 5 AND CAST(doc_id AS VARCHAR) LIKE '1%'))
         ORDER BY doc_id"""),

    // The compliance family's STREAMING leg (Maintenance
    // .streamingTakedowns → Corpus.appendToTakedownTable): the four
    // q137 notices arrive in 2 micro-batches — a real compliance feed
    // files opt-outs continuously — accumulating append-only and
    // (kind, value)-idempotently into a rules TABLE; a whole-feed
    // replay absorb must file ZERO rules (required in-entry), and the
    // purge against the accumulated table answers the q137 oracle
    // VERBATIM — streamed arrival must not change one removal.
    Query("q141_takedown_stream", (s, dir) => {
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
    },
      // q141: identical oracle to q137 — rules accumulated off a stream
      // must purge exactly like rules handed in one frame.
      """SELECT doc_id,
                'https://www.site' || CAST(doc_id % 20 AS VARCHAR) ||
                  '.example.com/dir/page' || CAST(doc_id AS VARCHAR) ||
                  '.html' AS url
         FROM documents
         WHERE NOT (doc_id = 7
           OR doc_id % 20 IN (3, 4)
           OR (doc_id % 20 = 5 AND CAST(doc_id AS VARCHAR) LIKE '1%'))
         ORDER BY doc_id"""),

    // Archive REDACTION — the whole compliance story composed at the
    // capture level, the operation an archive steward actually runs
    // on a takedown: purge the CAPTURE INDEX (applyTakedowns over the
    // CDX url column), ranged-fetch ONLY the surviving captures
    // (fetchByCdx — no purged byte is ever read back), re-export
    // their decoded text as fresh WET segments, and prove the
    // redacted archive byte-exactly by reading it back. Every stage
    // is an individually-oracled operator; the composition's oracle
    // is q136's template minus exactly the q137 rule cohorts.
    Query("q142_archive_redaction", (s, dir) => {
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
    },
      // q142: the redacted archive in closed form — q136's template
      // bodies minus exactly the q137 rule cohorts; one extra or
      // missing capture, or one corrupted re-exported byte, breaks the
      // hash.
      """SELECT doc_id,
                'Document ' || CAST(doc_id AS VARCHAR) || ': ' || text
                  AS text
         FROM documents
         WHERE NOT (doc_id = 7
           OR doc_id % 20 IN (3, 4)
           OR (doc_id % 20 = 5 AND CAST(doc_id AS VARCHAR) LIKE '1%'))
         ORDER BY doc_id"""),

    // The WET export's STREAMING leg (Maintenance.streamingTextSegments
    // — a continuous crawl emits segment sets per batch, CommonCrawl's
    // actual publication shape): the corpus streams in 3 micro-batches,
    // each writing its own batch-<id>/ subtree (per-record gzip
    // members, manifest, rename-on-commit; replay = byte-identical
    // overwrite, no ledger needed), and the tree reads back + audits
    // through the q123 roundtrip oracle VERBATIM — streamed arrival
    // must not change one byte.
    Query("q133_wet_stream", (s, dir) => {
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
    },
      // q133: streamed arrival changes WHERE the segments live, not one
      // byte of them — the oracle is q123's roundtrip closed form once
      // more (exact text, strict-UTF-8 rung, zero audit failures).
      """SELECT doc_id, 'utf-8' AS charset, text,
                CAST(len(text) AS BIGINT) AS n_bytes,
                CAST(0 AS BIGINT) AS audit_failures
         FROM documents ORDER BY doc_id""")
  )
}
