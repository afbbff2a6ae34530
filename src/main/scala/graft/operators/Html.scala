package graft.operators

import graft.Shared
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HTML main-content extraction — the block every CommonCrawl-derived
  * text pipeline runs FIRST (trafilatura/jusText in CCNet, RefinedWeb,
  * FineWeb): strip markup, segment the page into text blocks at
  * block-level tag boundaries, and keep only content-dense blocks,
  * dropping chrome (nav/header/footer/aside), link farms, and
  * too-short boilerplate. This is the jusText heuristic family
  * (Pomikálek 2011, public) reduced to its deterministic core — no
  * stopword lists (they'd bind the operator to a language model of the
  * corpus), just structure + density:
  *
  *  - markup never reaches the output: tags, comments, `<script>`,
  *    `<style>` are consumed by a single-pass state machine;
  *  - SEMANTIC CHROME is dropped wholesale: any text inside `<head>`,
  *    `<nav>`, `<header>`, `<footer>`, `<aside>` (nesting-counted);
  *  - LINK FARMS drop by link density: blocks whose linked-character
  *    fraction exceeds `maxLinkDensity` (chars inside `<a>` over all
  *    block chars);
  *  - BOILERPLATE SHORTIES drop by length: blocks shorter than
  *    `minChars` after whitespace collapse ("HOME | ABOUT",
  *    "(c) 2024 site");
  *  - the five standard entities + numeric references decode; inner
  *    whitespace collapses to single spaces (block text is
  *    word-joined, never markup-joined).
  *
  * Output: `(doc_id, main_text, n_kept, n_dropped)` — kept blocks
  * joined by `\n` in document order; the drop counter counts nonempty
  * blocks only. Composes with [[Corpus.refine]] (extract first, then
  * language/quality/dedup gates — the CCNet order).
  *
  * Scale shape: ONE JVM kernel pass per document (the
  * [[Dedup.positionalGramHashes]] discipline — per-char state machine,
  * no regex backtracking, no DOM allocation, O(|html|) with a bounded
  * block buffer), embarrassingly parallel over the corpus with no
  * shuffle at all. NULL html → NULL main_text with zero counts.
  * Battery q111 oracles extraction on generator-synthesized pages
  * where every rule fires in both directions. */
object Html {

  /** Tags that bound text blocks (open OR close flushes the current
    * block). Inline tags (`<a>`, `<b>`, `<span>`, …) do not break
    * blocks — exactly the jusText segmentation. */
  private val BlockTags: Set[String] = Set(
    "html", "head", "body", "title", "p", "div", "section", "article",
    "main", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "table", "thead", "tbody", "tr", "td", "th", "blockquote", "pre",
    "br", "hr", "form", "nav", "header", "footer", "aside", "figure",
    "figcaption", "dl", "dt", "dd")

  /** Chrome containers: all text inside is boilerplate by position.
    * `<head>` is chrome too but is depth-tracked separately so an
    * opening `<body>` can recover from an omitted `</head>`. */
  private val ChromeTags: Set[String] = Set(
    "nav", "header", "footer", "aside")

  /** Raw-text elements whose content is never page text. */
  private val RawTextTags: Set[String] = Set("script", "style")

  /** One extracted block, pre-classification. */
  private[operators] final case class Block(text: String, linkChars: Int,
                                            inChrome: Boolean)

  /** One extracted hyperlink: decoded `href`, document order, chrome
    * flag (nav/footer links are usually boilerplate for CONTENT but
    * are real edges for a WEB GRAPH — the caller chooses), and the
    * anchor's visible TEXT — entity-decoded, whitespace-collapsed,
    * nested inline markup stripped; NULL when the anchor wraps no
    * text (image links, icons). Text accrues to the OUTERMOST open
    * anchor (invalid nested `<a href>` rows carry NULL text) and ends
    * at a block boundary, the same recovery rule link-density counting
    * uses — an unclosed `<a>` cannot claim the rest of the page. */
  private[operators] final case class Link(href: String, inChrome: Boolean,
                                           text: String)

  /** One extracted image: decoded `src`, `alt`/`title` attribute text
    * (entity-decoded, NULL when the attribute is absent), the nearest
    * enclosing `<figure>`'s `<figcaption>` text (NULL outside figures
    * or when the figure has no caption), the chrome flag, and
    * `beforeBlock` — the index of the first block flushed AT OR AFTER
    * the img tag (an image inside a still-open paragraph anchors
    * before that paragraph's block; one between paragraphs anchors
    * between their blocks) — the position [[interleavedDocs]] needs
    * to put images back into the content flow. */
  private[operators] final case class Img(src: String, alt: String,
                                          titleAttr: String, caption: String,
                                          inChrome: Boolean,
                                          beforeBlock: Int)

  /** Tags that live in the head: their appearance does NOT imply the
    * body has opened. Everything else (a `<p>`, a `<div>`, bare text)
    * implicitly opens the body per HTML5's omittable-tag rules — the
    * guard that keeps body-injected `<meta name=robots>` /
    * `<link rel=canonical>` (user content echoed into a page) from
    * hijacking head-scoped signals even on templates that never write
    * an explicit `<body>`. */
  private val HeadScopedTags: Set[String] = Set(
    "html", "head", "title", "base", "link", "meta", "style", "script",
    "noscript", "template")

  /** Decode the five named entities + numeric references in an
    * attribute value (hrefs legally carry `&amp;`); unknown entities
    * pass through verbatim — the same rules the text path applies. */
  private[operators] def decodeEntities(s: String): String = {
    if (s == null || s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val body = if (semi > i && semi - i <= 10) s.substring(i + 1, semi) else null
        val decoded: String = body match {
          case null => null
          case "amp" => "&"
          case "lt" => "<"
          case "gt" => ">"
          case "quot" => "\""
          case "apos" => "'"
          case "nbsp" => " "
          case b if b.length > 1 && b.charAt(0) == '#' =>
            try {
              val code = if (b.charAt(1) == 'x' || b.charAt(1) == 'X')
                Integer.parseInt(b.substring(2), 16)
              else Integer.parseInt(b.substring(1))
              if (Character.isValidCodePoint(code)) new String(Character.toChars(code))
              else null
            } catch { case _: NumberFormatException => null }
          case _ => null
        }
        if (decoded == null) { sb.append(c); i += 1 }
        else { sb.append(decoded); i = semi + 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Everything one pass over the markup yields: text blocks, links,
    * and the head signals (`<base href>`, first `<title>` text,
    * first `<meta name=description>` content — all entity-decoded,
    * null when absent). */
  private[operators] final case class Scan(blocks: Vector[Block],
                                           links: Vector[Link],
                                           baseHref: String,
                                           title: String,
                                           metaDescription: String,
                                           robotsMetas: Vector[String],
                                           canonicalHref: String,
                                           images: Vector[Img])

  /** The single-pass extraction kernel: blocks in document order with
    * collapsed whitespace, linked-char counts, and chrome flags.
    * Tolerant of real-world slop: unclosed tags, stray `<`, quoted
    * `>` inside attributes, self-closing syntax, case-insensitive tag
    * names, unknown entities passed through verbatim. Two recovery
    * rules keep one sloppy tag from poisoning the whole document:
    * an opening `<body>` closes any still-open head scope (`</head>`
    * is legally omittable in HTML5, and title text cannot extend past
    * the head), and anchor nesting resets at every block flush — so
    * an unclosed `<a>` inflates link density only for its own block,
    * at the documented cost that an anchor legally wrapping block
    * content counts its linked chars only up to the first block
    * boundary. */
  private[operators] def extractBlocks(html: String): Vector[Block] =
    scanHtml(html).blocks

  /** Anchor hrefs in document order (entity-decoded), with chrome
    * flags. Links inside comments and script/style raw text do not
    * exist. */
  private[operators] def extractLinksKernel(html: String): Vector[Link] =
    scanHtml(html).links

  private[operators] def scanHtml(html: String): Scan = {
    // mutable holders: anchor text and figure captions attach AFTER
    // the row is created (text follows the <a href>, a <figcaption>
    // legally follows its <img>), so links/imgs build in ArrayBuffers
    // and freeze to the immutable rows at the end of the single pass
    final class LinkH(val href: String, val inChrome: Boolean) {
      var text: String = null
    }
    final class ImgH(val src: String, val alt: String,
                     val titleAttr: String, val inChrome: Boolean,
                     val beforeBlock: Int) {
      var caption: String = null
    }
    val out = Vector.newBuilder[Block]
    var nBlocks = 0 // Vector builders have no size; flush() counts
    val links = scala.collection.mutable.ArrayBuffer.empty[LinkH]
    val imgs = scala.collection.mutable.ArrayBuffer.empty[ImgH]
    val sb = new java.lang.StringBuilder
    var linkChars = 0
    var pendingSpace = false
    var chromeDepth = 0 // nav/header/footer/aside nesting
    var headDepth = 0   // <head> nesting, separately recoverable
    var aDepth = 0
    var baseHref: String = null
    var bodySeen = false
    var metaDescription: String = null
    val robotsMetas = Vector.newBuilder[String]
    var canonicalHref: String = null
    val titleSb = new java.lang.StringBuilder
    var titlePending = false
    var inTitle = false
    var titleDone = false
    // anchor-text accumulation: the OUTERMOST open anchor's link row
    // (if it carried an href) receives the collapsed text
    val anchorSb = new java.lang.StringBuilder
    var anchorPending = false
    var pendingLinkIdx = -1
    // figure/figcaption tracking for image captions: a STACK of open
    // figure frames, each with its own caption buffer and figcaption
    // depth — so nested figures keep the documented nearest-enclosing
    // rule (an inner figure's caption binds its own imgs first; the
    // outer caption then fills only the still-uncaptioned remainder)
    final class FigFrame(val startImg: Int) {
      val capSb = new java.lang.StringBuilder
      var pending = false
      var capDepth = 0
    }
    val figStack = scala.collection.mutable.ArrayBuffer.empty[FigFrame]
    def popFigure(): Unit = {
      if (figStack.nonEmpty) {
        val f = figStack.remove(figStack.length - 1)
        if (f.capSb.length > 0) {
          val cap = f.capSb.toString
          var k = f.startImg
          while (k < imgs.length) {
            if (imgs(k).caption == null) imgs(k).caption = cap
            k += 1
          }
        }
      }
    }
    val n = html.length
    var i = 0

    def finalizeAnchor(): Unit = {
      if (pendingLinkIdx >= 0 && anchorSb.length > 0)
        links(pendingLinkIdx).text = anchorSb.toString
      pendingLinkIdx = -1
      anchorSb.setLength(0)
      anchorPending = false
    }

    def flush(): Unit = {
      val text = sb.toString
      if (text.nonEmpty) {
        out += Block(text, linkChars, chromeDepth > 0 || headDepth > 0)
        nBlocks += 1
      }
      sb.setLength(0)
      linkChars = 0
      pendingSpace = false
      finalizeAnchor() // anchor text ends where link-density credit ends
      aDepth = 0 // an unclosed <a> must not poison later blocks
    }

    def emit(c: Char): Unit = {
      // U+FEFF (BOM / zero-width no-break space) collapses like
      // whitespace: it must neither enter block text nor count as the
      // "visible content" that opens the body
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
          c == 0x0B.toChar || c == 0xA0.toChar || c == 0xFEFF.toChar) {
        if (sb.length > 0) pendingSpace = true
        if (titleSb.length > 0) titlePending = true
        if (anchorSb.length > 0) anchorPending = true
        // EVERY open frame with buffered caption text marks pending,
        // not just the top one: whitespace falling while a nested
        // figure tops the stack must still separate the OUTER
        // caption's words once that frame resumes receiving
        figStack.foreach(f => if (f.capSb.length > 0) f.pending = true)
      } else {
        // visible text outside an (explicit or implied) head opens the
        // body: a canonical/robots declaration echoed into user
        // content can then never pass the head-scope gate, even on
        // templates that omit <body> (title text is head content and
        // must not trip this)
        if (headDepth == 0 && !inTitle) bodySeen = true
        if (pendingSpace) { sb.append(' '); if (aDepth > 0) linkChars += 1 }
        pendingSpace = false
        sb.append(c)
        if (aDepth > 0) linkChars += 1
        if (inTitle && !titleDone) {
          if (titlePending) titleSb.append(' ')
          titlePending = false
          titleSb.append(c)
        }
        if (aDepth > 0 && pendingLinkIdx >= 0) {
          if (anchorPending) anchorSb.append(' ')
          anchorPending = false
          anchorSb.append(c)
        }
        if (figStack.nonEmpty && figStack.last.capDepth > 0) {
          val f = figStack.last
          if (f.pending) f.capSb.append(' ')
          f.pending = false
          f.capSb.append(c)
        }
      }
    }

    def lowerAt(j: Int, s: String): Boolean =
      j + s.length <= n && {
        var k = 0
        while (k < s.length &&
          Character.toLowerCase(html.charAt(j + k)) == s.charAt(k)) k += 1
        k == s.length
      }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (lowerAt(i, "<!--")) {
          // comment: skip to -->
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && html.charAt(i + 1) == '?') {
          // processing instruction (the XHTML '<?xml ...?>' prolog):
          // skip to '>' — emitting the '<' as text would count as
          // visible content and wrongly open the body, discarding
          // every head-scoped declaration of an XHTML page
          val e = html.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
        } else if (i + 1 < n &&
            (Character.isLetter(html.charAt(i + 1)) ||
              html.charAt(i + 1) == '/' || html.charAt(i + 1) == '!')) {
          // parse the tag name
          val closing = html.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val ns = j
          while (j < n && (Character.isLetterOrDigit(html.charAt(j)))) j += 1
          val name = html.substring(ns, j).toLowerCase(java.util.Locale.ROOT)
          // parse attributes properly (name[=value] pairs, values
          // quoted either style or bare) only for the tags that carry
          // data we extract; everything else takes the fast skip
          var attrs: scala.collection.mutable.Map[String, String] = null
          var openedLinkIdx = -1
          // a '>'-preceding '/' self-closes only when it stands ALONE
          // (not as the last character of an unquoted attribute value:
          // '<a href=https://ex.com/>' opens a real anchor)
          var attrSlashLast = false
          if (!closing && (name == "a" || name == "base" || name == "meta" ||
              name == "img" ||
              (name == "link" && canonicalHref == null && !bodySeen))) {
            attrs = scala.collection.mutable.Map.empty[String, String]
            while (j < n && html.charAt(j) != '>') {
              val cj = html.charAt(j)
              if (cj == '/' || Character.isWhitespace(cj)) {
                attrSlashLast = cj == '/'
                j += 1
              }
              else {
                attrSlashLast = false
                val as = j
                while (j < n && {
                  val ch = html.charAt(j)
                  ch != '=' && ch != '>' && ch != '/' &&
                    !Character.isWhitespace(ch)
                }) j += 1
                val aname = html.substring(as, j)
                  .toLowerCase(java.util.Locale.ROOT)
                while (j < n && Character.isWhitespace(html.charAt(j))) j += 1
                var value: String = null
                if (j < n && html.charAt(j) == '=') {
                  j += 1
                  while (j < n && Character.isWhitespace(html.charAt(j))) j += 1
                  if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
                    val qc = html.charAt(j); j += 1
                    val vs = j
                    while (j < n && html.charAt(j) != qc) j += 1
                    value = html.substring(vs, j)
                    if (j < n) j += 1
                  } else {
                    val vs = j
                    while (j < n && {
                      val ch = html.charAt(j)
                      ch != '>' && !Character.isWhitespace(ch)
                    }) j += 1
                    value = html.substring(vs, j)
                  }
                }
                if (value != null && !attrs.contains(aname))
                  attrs(aname) = value
              }
            }
            name match {
              case "a" =>
                attrs.get("href").foreach { h =>
                  links += new LinkH(decodeEntities(h),
                    chromeDepth > 0 || headDepth > 0)
                  openedLinkIdx = links.length - 1
                }
              case "img" =>
                // src-less imgs are not images; alt/title decode like
                // every attribute value, absent stays NULL (alt="" is
                // a real value — the decorative-image convention)
                attrs.get("src").foreach { src =>
                  imgs += new ImgH(decodeEntities(src),
                    attrs.get("alt").map(decodeEntities).orNull,
                    attrs.get("title").map(decodeEntities).orNull,
                    chromeDepth > 0 || headDepth > 0,
                    nBlocks)
                }
              case "base" =>
                if (baseHref == null)
                  attrs.get("href").foreach(h => baseHref = decodeEntities(h))
              case "meta" =>
                if (metaDescription == null &&
                    attrs.get("name").exists(_.equalsIgnoreCase("description")))
                  attrs.get("content").foreach(c =>
                    metaDescription = decodeEntities(c))
                // EVERY robots meta collects (a CMS and a plugin each
                // injecting one is common); the most restrictive
                // combination wins downstream, per the Google/Bing rule
                // — but only HEAD-scoped metas count: once the body
                // opens (explicitly or implicitly), a robots meta is
                // echoed user content, the same injection vector the
                // canonical gate already closes (round-13 ADVICE)
                if (!bodySeen &&
                    attrs.get("name").exists(_.equalsIgnoreCase("robots")))
                  attrs.get("content").foreach(c =>
                    robotsMetas += decodeEntities(c))
              case "link" =>
                // first <link rel=canonical> wins (the convention:
                // search engines ignore all but one canonical anyway);
                // rel is a space-separated TOKEN LIST ("canonical
                // alternate" declares both), matched tokenwise. Links
                // after <body> opens never count — the SEO-injection
                // vector where user content echoed into the body
                // hijacks the page's canonical.
                if (canonicalHref == null &&
                    attrs.get("rel").exists(_.split("\\s+")
                      .exists(_.equalsIgnoreCase("canonical"))))
                  attrs.get("href").foreach(h =>
                    canonicalHref = decodeEntities(h))
              case _ => ()
            }
          } else {
            // skip attributes, honoring quoted values (a '>' in quotes
            // does not end the tag) — and track slash standalone-ness
            // the same way the attrs branch does: a '/' that ends an
            // unquoted value ('<nav data-x=https://ex.com/>') must not
            // fake a self-close, or the depth-tracked tags (chrome,
            // figure, raw-text) inherit the exact bug the anchor
            // branch fixed
            var q: Char = 0
            var inBare = false
            while (j < n && (q != 0 || html.charAt(j) != '>')) {
              val cj = html.charAt(j)
              if (q != 0) { if (cj == q) q = 0 }
              else if (cj == '"' || cj == '\'') { q = cj; inBare = false; attrSlashLast = false }
              else if (Character.isWhitespace(cj)) { inBare = false; attrSlashLast = false }
              else if (cj == '/' && !inBare) attrSlashLast = true
              else { inBare = true; attrSlashLast = false }
              j += 1
            }
          }
          val selfClosing = attrSlashLast
          i = if (j < n) j + 1 else n
          if (name.nonEmpty) {
            if (!closing && !selfClosing && RawTextTags.contains(name)) {
              // consume raw text to the matching close tag
              val close = "</" + name
              var e = i
              var found = -1
              while (found < 0 && e < n) {
                if (html.charAt(e) == '<' && lowerAt(e, close)) found = e
                e += 1
              }
              i = if (found < 0) n
                  else { val g = html.indexOf('>', found); if (g < 0) n else g + 1 }
            }
            // any non-head-scoped tag implies the body has opened
            // (HTML5 omits <body> freely) — checked BEFORE this tag's
            // own scope bookkeeping so the tag that opens the body
            // can't retro-gate signals it already placed in the head
            if (!closing && headDepth == 0 && !HeadScopedTags.contains(name))
              bodySeen = true
            if (BlockTags.contains(name)) flush()
            if (name == "a") {
              if (closing) {
                if (aDepth > 0) aDepth -= 1
                if (aDepth == 0) finalizeAnchor()
              } else if (!selfClosing) {
                if (aDepth == 0) {
                  // outermost anchor: its (href-bearing) row collects
                  // the text; nested anchors ride the outer buffer
                  finalizeAnchor()
                  pendingLinkIdx = openedLinkIdx
                }
                aDepth += 1
              }
            }
            if (name == "figure") {
              if (closing) popFigure()
              else if (!selfClosing) figStack += new FigFrame(imgs.length)
            } else if (name == "figcaption") {
              if (figStack.nonEmpty) {
                val f = figStack.last
                if (closing) { if (f.capDepth > 0) f.capDepth -= 1 }
                else if (!selfClosing) f.capDepth += 1
              }
            }
            if (name == "title") {
              if (closing) { inTitle = false; titleDone = true }
              else if (!selfClosing && !titleDone) inTitle = true
            }
            if (name == "head") {
              if (closing) { if (headDepth > 0) headDepth -= 1 }
              else if (!selfClosing) headDepth += 1
            } else if (name == "body" && !closing) {
              // </head> is optional: an opening <body> closes any
              // still-open head scope, and title text cannot continue
              headDepth = 0
              bodySeen = true
              if (inTitle) { inTitle = false; titleDone = true }
            } else if (ChromeTags.contains(name)) {
              if (closing) { if (chromeDepth > 0) chromeDepth -= 1 }
              else if (!selfClosing) chromeDepth += 1
            }
          }
        } else {
          emit(c) // stray '<' is text
          i += 1
        }
      } else if (c == '&') {
        // entity: the five named + numeric references; unknown pass
        // through verbatim
        val semi = html.indexOf(';', i + 1)
        val body = if (semi > i && semi - i <= 10) html.substring(i + 1, semi) else null
        val decoded: String = body match {
          case null => null
          case "amp" => "&"
          case "lt" => "<"
          case "gt" => ">"
          case "quot" => "\""
          case "apos" => "'"
          case "nbsp" => " "
          case b if b.length > 1 && b.charAt(0) == '#' =>
            try {
              val code = if (b.charAt(1) == 'x' || b.charAt(1) == 'X')
                Integer.parseInt(b.substring(2), 16)
              else Integer.parseInt(b.substring(1))
              if (Character.isValidCodePoint(code)) new String(Character.toChars(code))
              else null
            } catch { case _: NumberFormatException => null }
          case _ => null
        }
        if (decoded == null) { emit(c); i += 1 }
        else { decoded.foreach(emit); i = semi + 1 }
      } else {
        emit(c)
        i += 1
      }
    }
    flush()
    // unclosed figures close at end-of-document (browser recovery):
    // their captions still bind their imgs, nearest frame first
    while (figStack.nonEmpty) popFigure()
    Scan(out.result(),
      links.iterator.map(l => Link(l.href, l.inChrome, l.text)).toVector,
      baseHref,
      if (titleSb.length > 0) titleSb.toString else null, metaDescription,
      robotsMetas.result(), canonicalHref,
      imgs.iterator.map(h =>
        Img(h.src, h.alt, h.titleAttr, h.caption, h.inChrome,
          h.beforeBlock)).toVector)
  }

  /** Classify-and-assemble over [[extractBlocks]]: the public
    * per-document kernel. Returns `(main_text, n_kept, n_dropped)`. */
  /** THE content keep rule, shared by [[extractMainKernel]] and
    * [[interleaveKernel]] — interleavedDocs' contract is "keeps
    * exactly what main-content extraction keeps", which only holds
    * while both read one predicate. */
  private def keepBlock(b: Block, minChars: Int,
                        maxLinkDensity: Double): Boolean =
    !b.inChrome && b.text.length >= minChars &&
      b.linkChars.toDouble / b.text.length <= maxLinkDensity

  private[operators] def extractMainKernel(html: String, minChars: Int,
                                           maxLinkDensity: Double)
      : (String, Int, Int) = {
    val blocks = extractBlocks(html)
    val sb = new java.lang.StringBuilder
    var kept = 0
    var dropped = 0
    blocks.foreach { b =>
      val keep = keepBlock(b, minChars, maxLinkDensity)
      if (keep) {
        if (kept > 0) sb.append('\n')
        sb.append(b.text)
        kept += 1
      } else dropped += 1
    }
    (sb.toString, kept, dropped)
  }

  /** Main-content extraction over a corpus:
    * `(doc_id, main_text, n_kept, n_dropped)`. See the object doc for
    * the rule set. */
  def extractMainText(docs: DataFrame, idCol: String, htmlCol: String,
                      minChars: Int = 25,
                      maxLinkDensity: Double = 0.33): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    require(maxLinkDensity >= 0 && maxLinkDensity <= 1,
      s"maxLinkDensity must be in [0, 1], got $maxLinkDensity")
    val k = udf { (html: String) =>
      if (html == null) (null: String, 0, 0)
      else extractMainKernel(html, minChars, maxLinkDensity)
    }
    docs.select(col(idCol).as("doc_id"), k(col(htmlCol)).as("r"))
      .select(col("doc_id"), col("r._1").as("main_text"),
        col("r._2").as("n_kept"), col("r._3").as("n_dropped"))
  }

  /** Outlink extraction over a corpus:
    * `(doc_id, link_pos, href, in_chrome, anchor_text, base_href)` —
    * every anchor href in document order, entity-decoded, through the
    * same state machine as [[extractMainText]] (links inside comments
    * or script/style raw text do not exist; attribute values may be
    * double-, single-, or un-quoted). `anchor_text` is the anchor's
    * visible text — entity-decoded, whitespace-collapsed, nested
    * inline markup stripped, NULL for textless anchors — the classic
    * web-scale relevance/label signal (anchor-term profiles trained
    * retrieval long before click logs existed). `in_chrome` marks
    * nav/header/footer/aside/head links so content-link analyses can
    * drop boilerplate edges while web-graph builds keep them.
    * `base_href` is the page's first `<base href>` (NULL when
    * absent) — a page that declares one resolves its relative links
    * against IT, not the page URL, so resolution should use
    * `coalesce(base_href, page_url)`. The link-graph feed: compose
    * with [[Url.resolve]] and [[Graph.pageRankMicro]] for the
    * crawl-frontier / host-ranking loop (battery q113/q114). One
    * kernel pass per document, no shuffle; NULL html yields no rows. */
  def extractLinks(docs: DataFrame, idCol: String,
                   htmlCol: String): DataFrame = {
    val k = udf { (html: String) =>
      if (html == null) (Array.empty[(String, Boolean, String)], null: String)
      else {
        val s = scanHtml(html)
        (s.links.map(l => (l.href, l.inChrome, l.text)).toArray, s.baseHref)
      }
    }
    docs.select(col(idCol).as("doc_id"), k(col(htmlCol)).as("r"))
      .select(col("doc_id"), col("r._2").as("base_href"),
        posexplode(col("r._1")).as(Seq("link_pos", "l")))
      .select(col("doc_id"), col("link_pos"),
        col("l._1").as("href"), col("l._2").as("in_chrome"),
        col("l._3").as("anchor_text"),
        col("base_href"))
  }

  /** Head-metadata extraction over a corpus:
    * `(doc_id, title, meta_description, base_href, n_links)` — the
    * first `<title>` text (entity-decoded, whitespace-collapsed), the
    * first `<meta name="description">` content, the first
    * `<base href>`, and the page's outlink count; all NULL-safe (NULL
    * html → all-NULL row with zero links). The kept-fields slot of a
    * FineWeb-style pipeline — titles and descriptions ride next to
    * the extracted main text. One kernel pass, no shuffle; battery
    * q118 oracles every field closed-form including base-href-aware
    * relative link resolution. */
  def extractMetadata(docs: DataFrame, idCol: String,
                      htmlCol: String): DataFrame = {
    val k = udf { (html: String) =>
      if (html == null) (null: String, null: String, null: String, 0)
      else {
        val s = scanHtml(html)
        (s.title, s.metaDescription, s.baseHref, s.links.length)
      }
    }
    docs.select(col(idCol).as("doc_id"), k(col(htmlCol)).as("r"))
      .select(col("doc_id"), col("r._1").as("title"),
        col("r._2").as("meta_description"), col("r._3").as("base_href"),
        col("r._4").as("n_links"))
  }

  /** Robots META directives — the in-page counterpart of robots.txt
    * (the Google/Bing `<meta name="robots">` convention every polite
    * indexer honors): one row per document with every
    * `<meta name=robots>` content verbatim (`meta_robots`, multiple
    * tags joined by `"; "` in document order, NULL when absent) and
    * the two verdicts a pipeline acts on — `noindex` (drop the page's
    * CONTENT from the corpus) and `nofollow` (drop the page's
    * outlinks from the frontier/graph). Tokens are comma-separated,
    * case-insensitive, whitespace-tolerant; `none` means both;
    * MULTIPLE robots metas combine with the most restrictive winning
    * (the documented search-engine rule — a CMS and a plugin each
    * injecting one is common); an absent or unrecognized directive
    * defaults to allow (index,follow) — the standard's default. One
    * kernel pass, no shuffle; compose as anti-joins against
    * [[extractMainText]] output and [[extractLinks]] output
    * (CrawlDemo wires both; battery q152 states every verdict
    * closed-form). */
  def robotsDirectives(docs: DataFrame, idCol: String,
                       htmlCol: String): DataFrame = {
    val k = udf { (html: String) =>
      if (html == null) (null: String, false, false)
      else {
        val s = scanHtml(html)
        val toks = s.robotsMetas
          .flatMap(_.split(","))
          .map(_.trim.toLowerCase(java.util.Locale.ROOT))
          .filter(_.nonEmpty).toSet
        val none = toks.contains("none")
        (if (s.robotsMetas.isEmpty) null else s.robotsMetas.mkString("; "),
          none || toks.contains("noindex"),
          none || toks.contains("nofollow"))
      }
    }
    docs.select(col(idCol).as("doc_id"), k(col(htmlCol)).as("r"))
      .select(col("doc_id"), col("r._1").as("meta_robots"),
        col("r._2").as("noindex"), col("r._3").as("nofollow"))
  }

  /** `<link rel=canonical>` extraction + resolution — the
    * declared-canonical collapse every web corpus applies ahead of
    * content dedup (print views, tracking-parameter variants, and
    * mobile mirrors of one article all declare the same canonical;
    * indexing keeps ONE): per document, `canonical_href` (the first
    * `rel=canonical` href verbatim, NULL when absent — search engines
    * ignore all but one declaration anyway) and `canonical_url` — the
    * href resolved against the page's `<base href>` (else the page
    * URL) and canonicalized ([[Url.canonical]]). A page with no
    * declaration, or an unresolvable one, canonicalizes to ITSELF, so
    * the column is TOTAL and directly groupable:
    * `groupBy(canonical_url) + keep-one` IS the collapse (battery
    * q153 states every group closed-form). One kernel pass + scalar
    * URL kernels, no shuffle. */
  def canonicalTargets(docs: DataFrame, idCol: String, urlCol: String,
                       htmlCol: String): DataFrame = {
    val k = udf { (html: String) =>
      if (html == null) (null: String, null: String)
      else {
        val s = scanHtml(html)
        (s.canonicalHref, s.baseHref)
      }
    }
    docs.select(col(idCol).as("doc_id"), col(urlCol).as("url"),
        k(col(htmlCol)).as("r"))
      .select(col("doc_id"), col("url"),
        col("r._1").as("canonical_href"),
        coalesce(
          // the effective base is the declared <base href> resolved
          // against the page URL (a ROOT-RELATIVE base like "/en/" is
          // valid HTML and must not discard the declaration); resolve
          // already canonicalizes its result
          Url.resolve(
            coalesce(Url.resolve(col("url"), col("r._2")), col("url")),
            col("r._1")),
          Url.canonical(col("url")),
          col("url")).as("canonical_url"))
  }

  /** Image–text pair extraction — the LAION/CC-style multimodal
    * training-data feed (Schuhmann et al. 2021, public: image URLs
    * paired with their alt text, mined from CommonCrawl): one row per
    * `<img src>` in document order with
    * `(doc_id, page_url, img_pos, src, image_url, alt_text, caption,
    * in_chrome, page_title)` —
    *
    *  - `src` verbatim (entity-decoded); `image_url` is src resolved
    *    against the page's `<base href>` (else the page URL) and
    *    canonicalized — the [[canonicalTargets]] base-resolution
    *    composition, NULL only when unresolvable (a `data:` blob);
    *  - `alt_text` is the alt attribute verbatim-decoded, NULL when
    *    ABSENT but `""` when explicitly empty (the decorative-image
    *    convention downstream filters key on);
    *  - `caption` is the nearest enclosing `<figure>`'s
    *    `<figcaption>` text, falling back to the img's `title`
    *    attribute, NULL when neither exists — the page-context slot;
    *  - `in_chrome` marks nav/header/footer/aside/head imgs (logos,
    *    icons) so a pair-quality gate can drop them without losing
    *    them for layout analyses; `page_title` rides along as the
    *    page-level context field.
    *
    * src-less imgs yield no row; NULL html yields no rows. One
    * [[scanHtml]] kernel pass + scalar URL kernels, no shuffle —
    * corpus-linear like every extraction here. The DOWNLOAD of the
    * image bytes is a crawl concern (the output's image_url column IS
    * a fetch frontier); pairing, dedup ([[Multimodal]] fingerprints),
    * and filtering all run on this frame. Battery q155 oracles every
    * pair closed-form on template pages. */
  def imageTextPairs(docs: DataFrame, idCol: String, urlCol: String,
                     htmlCol: String): DataFrame = {
    val k = udf { (html: String) =>
      if (html == null)
        (Array.empty[(String, String, String, Boolean)],
          null: String, null: String)
      else {
        val s = scanHtml(html)
        (s.images.map(m => (m.src, m.alt,
          if (m.caption != null) m.caption else m.titleAttr,
          m.inChrome)).toArray,
          s.baseHref, s.title)
      }
    }
    docs.select(col(idCol).as("doc_id"), col(urlCol).as("page_url"),
        k(col(htmlCol)).as("r"))
      .select(col("doc_id"), col("page_url"), col("r._2").as("base_href"),
        col("r._3").as("page_title"),
        posexplode(col("r._1")).as(Seq("img_pos", "m")))
      .select(col("doc_id"), col("page_url"), col("img_pos"),
        col("m._1").as("src"),
        // effective base = declared <base href> resolved against the
        // page URL (root-relative bases are legal), else the page URL
        Url.resolve(
          coalesce(Url.resolve(col("page_url"), col("base_href")),
            col("page_url")),
          col("m._1")).as("image_url"),
        col("m._2").as("alt_text"),
        col("m._3").as("caption"),
        col("m._4").as("in_chrome"),
        col("page_title"))
  }

  /** Interleave kernel: walk blocks under the [[extractMainKernel]]
    * keep rule, splicing every content (non-chrome, src-bearing)
    * image back into the flow at its `beforeBlock` anchor as a
    * `<|image_N|>` placeholder line, N in emission order. Images
    * anchored inside or after dropped blocks still emit (the TEXT was
    * boilerplate, the image is not); chrome images (logos, nav
    * icons) never do. Returns (interleaved text, images as
    * (src, caption-else-title-else-alt), n_kept, n_dropped,
    * baseHref) — the base rides along so the DataFrame layer never
    * scans the markup twice. */
  private[operators] def interleaveKernel(html: String, minChars: Int,
                                          maxLinkDensity: Double)
      : (String, Array[(String, String)], Int, Int, String) = {
    val s = scanHtml(html)
    val content = s.images.filter(!_.inChrome)
    val sb = new java.lang.StringBuilder
    val imgsOut = Array.newBuilder[(String, String)]
    var emitted = 0
    var kept = 0
    var dropped = 0
    var ip = 0
    def place(m: Img): Unit = {
      if (sb.length > 0) sb.append('\n')
      sb.append("<|image_").append(emitted).append("|>")
      emitted += 1
      imgsOut += ((m.src,
        if (m.caption != null) m.caption
        else if (m.titleAttr != null) m.titleAttr
        else m.alt))
    }
    s.blocks.zipWithIndex.foreach { case (b, k) =>
      while (ip < content.length && content(ip).beforeBlock <= k) {
        place(content(ip)); ip += 1
      }
      val keep = keepBlock(b, minChars, maxLinkDensity)
      if (keep) {
        if (sb.length > 0) sb.append('\n')
        sb.append(b.text)
        kept += 1
      } else dropped += 1
    }
    while (ip < content.length) { place(content(ip)); ip += 1 }
    (sb.toString, imgsOut.result(), kept, dropped, s.baseHref)
  }

  /** Interleaved image–text documents — the MMC4 / OBELICS training
    * format (image placeholders IN the text flow plus an aligned
    * image list), assembled from the same single scanner pass as
    * [[extractMainText]] and [[imageTextPairs]]:
    * `(doc_id, page_url, interleaved_text, image_srcs, image_urls,
    * image_captions, n_images, n_kept, n_dropped)`. Text keeps
    * exactly what main-content extraction keeps; every content image
    * splices in at its document position as `<|image_N|>`;
    * `image_urls[N]` resolves src N against `<base href>`-else-page
    * (the q155 composition, element-wise against the precomputed
    * effective base so nothing re-evaluates per element); captions
    * prefer figcaption, then the title attribute, then alt. One
    * kernel pass + scalar URL kernels, no shuffle; NULL html yields
    * an all-NULL text row with empty arrays. */
  def interleavedDocs(docs: DataFrame, idCol: String, urlCol: String,
                      htmlCol: String, minChars: Int = 25,
                      maxLinkDensity: Double = 0.33): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    require(maxLinkDensity >= 0 && maxLinkDensity <= 1,
      s"maxLinkDensity must be in [0, 1], got $maxLinkDensity")
    val k = udf { (html: String) =>
      if (html == null)
        (null: String, Array.empty[(String, String)], 0, 0, null: String)
      else interleaveKernel(html, minChars, maxLinkDensity)
    }
    docs.select(col(idCol).as("doc_id"), col(urlCol).as("page_url"),
        k(col(htmlCol)).as("r"))
      .withColumn("__base",
        coalesce(Url.resolve(col("page_url"), col("r._5")), col("page_url")))
      .select(col("doc_id"), col("page_url"),
        col("r._1").as("interleaved_text"),
        transform(col("r._2"), m => m.getField("_1")).as("image_srcs"),
        transform(col("r._2"),
          m => Url.resolve(col("__base"), m.getField("_1"))).as("image_urls"),
        transform(col("r._2"), m => m.getField("_2")).as("image_captions"),
        size(col("r._2")).as("n_images"),
        col("r._3").as("n_kept"), col("r._4").as("n_dropped"))
  }

  /** Anchor-text edges — `(doc_id, src_url, link_pos, dst_url,
    * anchor_text, in_chrome)`: every outlink with its destination
    * resolved base-href-aware and canonicalized (the
    * [[canonicalTargets]] composition) plus the anchor's visible
    * text. Anchor text is the web's oldest relevance label — the
    * TEXT OTHER PAGES use to describe a target (Brin & Page 1998
    * indexed it; anchor-term fields still carry web search) — and at
    * training-data scale it labels retrieval pairs and scores crawl
    * targets without a click log. Per-target profile = `groupBy
    * (dst_url) + agg` over this frame (one shuffle keyed by target,
    * map-side combinable); CrawlDemo aggregates it into an
    * anchor-document BM25 field. Textless anchors keep their edge
    * with NULL text (the graph must not thin), unresolvable hrefs
    * keep NULL dst_url. One kernel pass + scalar URL kernels, no
    * shuffle in the extraction itself (src_url rides the row — a
    * re-join against the corpus for it would shuffle |links| rows for
    * a column the kernel input already had). Battery q156 oracles
    * edges closed-form (entity decode, nested-tag stripping, chrome
    * and block-boundary scoping). */
  def anchorTextEdges(docs: DataFrame, idCol: String, urlCol: String,
                      htmlCol: String): DataFrame = {
    val k = udf { (html: String) =>
      if (html == null) (Array.empty[(String, Boolean, String)], null: String)
      else {
        val s = scanHtml(html)
        (s.links.map(l => (l.href, l.inChrome, l.text)).toArray, s.baseHref)
      }
    }
    docs.select(col(idCol).as("doc_id"), col(urlCol).as("src_url"),
        k(col(htmlCol)).as("r"))
      .select(col("doc_id"), col("src_url"), col("r._2").as("base_href"),
        posexplode(col("r._1")).as(Seq("link_pos", "l")))
      .select(col("doc_id"), col("src_url"), col("link_pos"),
        Url.resolve(
          coalesce(Url.resolve(col("src_url"), col("base_href")),
            col("src_url")),
          col("l._1")).as("dst_url"),
        col("l._3").as("anchor_text"), col("l._2").as("in_chrome"))
  }

  /** The per-TARGET anchor profile over an [[anchorTextEdges]] frame —
    * what retrieval training and crawl scoring consume: inbound count,
    * distinct source pages, and the anchor-term bag in deterministic
    * (sorted) order. Chrome labels and textless/unresolvable edges are
    * excluded (template noise, not descriptions). ONE hash aggregation
    * keyed by destination, map-side combinable; |targets| output rows.
    * Shared verbatim by the one-shot build (battery q157), the
    * anchor-field BM25 serve (q158) and the streaming table serve
    * ([[anchorProfileFromTable]], q161) so the three lifecycles cannot
    * drift. */
  def anchorProfile(edges: DataFrame): DataFrame =
    edges
      .filter(!col("in_chrome") && col("anchor_text").isNotNull &&
        col("dst_url").isNotNull)
      .groupBy("dst_url")
      .agg(count(lit(1)).as("n_anchors"),
        countDistinct(col("src_url")).as("n_src_pages"),
        concat_ws(" ", sort_array(collect_list(col("anchor_text"))))
          .as("anchor_terms"))

  /** Append one batch of PAGES' anchor edges into a standing postings
    * table — the anchor family's STREAMING leg (build q157 / serve
    * q158 / stream q161): `table` grows the [[anchorTextEdges]] rows,
    * `<table>_pages` grows one marker per absorbed source page.
    * Appends are per-SOURCE-PAGE idempotent: anchor postings are
    * per-source FACTS (nothing already written changes when new pages
    * arrive — the [[Retrieval.appendToBm25Tables]] situation, not the
    * graph's out-degree), so replays anti-join away on the marker set
    * before a byte of HTML scans, and markers land AFTER postings so
    * a crash between the two re-extracts and row-level-dedups next
    * absorb (the rows-first-markers-second discipline). Zero-link
    * pages still mark — they must not re-scan on every replay.
    * Returns newly absorbed pages. */
  def appendToAnchorTable(spark: org.apache.spark.sql.SparkSession,
                          pages: DataFrame, idCol: String, urlCol: String,
                          htmlCol: String, table: String): Long = {
    val markers = s"${table}_pages"
    val incoming = pages
      .select(col(idCol).as("doc_id"), col(urlCol).as("__url"),
        col(htmlCol).as("__html"))
      .groupBy("doc_id")
      .agg(first(col("__url")).as("__url"), first(col("__html")).as("__html"))
    Shared.scope {
      val fresh = Shared.pin( // two consumers: the postings job + the marker job
        if (!spark.catalog.tableExists(markers)) incoming
        else incoming.join(spark.table(markers).select(col("doc_id")),
          Seq("doc_id"), "left_anti"))
      val n = fresh.count()
      if (n == 0L) return 0L
      val edges = anchorTextEdges(fresh, "doc_id", "__url", "__html")
      if (!spark.catalog.tableExists(table)) {
        graft.sources.Warehouse.clearOrphanLocation(spark, table)
        edges.write.saveAsTable(table)
      } else {
        edges.join(spark.table(table).select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .write.mode("append").saveAsTable(table)
      }
      val marks = fresh.select(col("doc_id"))
      if (!spark.catalog.tableExists(markers)) {
        graft.sources.Warehouse.clearOrphanLocation(spark, markers)
        marks.write.saveAsTable(markers)
      } else {
        marks.join(spark.table(markers).select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          .write.mode("append").saveAsTable(markers)
      }
      n
    }
  }

  /** The [[anchorProfile]] aggregate served off a standing
    * [[appendToAnchorTable]] postings table — identical rows to the
    * one-shot build over everything absorbed so far (battery q161
    * answers the q157 oracle verbatim after streamed arrival). */
  def anchorProfileFromTable(spark: org.apache.spark.sql.SparkSession,
                             table: String): DataFrame =
    anchorProfile(spark.table(table))

  /** WAT-style per-capture metadata (the third CommonCrawl artifact
    * family next to WARC segments and WET text): one row per capture
    * with `wat_json` — a JSON object of `url`, `date`, `digest`
    * (whatever WARC-Payload-Digest the capture carried; NULL omits),
    * `title`, `description`, `base`, `outlinks` (every anchor href in
    * document order, chrome included — the web-graph feed), and
    * `n_links` — ready for [[graft.sources.Warc.writeWatSegments]].
    *
    * Everything HTML-derived comes from ONE [[scanHtml]] kernel pass
    * per row (not the extractLinks+extractMetadata pair, which would
    * scan twice and need a capture-keyed re-join that fans out when
    * one URI is captured twice); no shuffle anywhere — output is
    * capture-linear. NULL html yields NULL title/description/base and
    * an empty outlinks array, never a dropped row.
    *
    * `htmlCol` is cast to string AS UTF-8 — when captures may carry
    * legacy charsets, decode first
    * ([[graft.operators.Charset.decodeText]], as CrawlDemo does) or
    * non-UTF-8 titles/links mojibake. */
  def watMetadata(captures: DataFrame, uriCol: String, htmlCol: String,
                  dateCol: String, digestCol: String): DataFrame = {
    val k = udf { (html: String) =>
      if (html == null)
        (null: String, null: String, null: String, Array.empty[String])
      else {
        val s = scanHtml(html)
        (s.title, s.metaDescription, s.baseHref,
          s.links.map(_.href).toArray)
      }
    }
    captures.select(col(uriCol).cast("string").as("uri"),
        col(dateCol).cast("string").as("__date"),
        col(digestCol).cast("string").as("__digest"),
        k(col(htmlCol).cast("string")).as("r"))
      .select(col("uri"), to_json(struct(
        col("uri").as("url"), col("__date").as("date"),
        col("__digest").as("digest"),
        col("r._1").as("title"), col("r._2").as("description"),
        col("r._3").as("base"), col("r._4").as("outlinks"),
        size(col("r._4")).as("n_links"))).as("wat_json"))
  }
}
