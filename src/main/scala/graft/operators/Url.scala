package graft.operators

import graft.Shared
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization and web-graph plumbing — the normalization
  * every crawl-derived pipeline runs before URL-level dedup, host
  * aggregation, or frontier scheduling (the courlan/surt family of
  * rules, public practice): two spellings of the same resource must
  * canonicalize to the same string or URL dedup silently keeps both.
  *
  * The canonical form of an http(s) URL:
  *  - scheme and host lowercase; a trailing host dot strips;
  *  - default ports drop (`:80` http, `:443` https), others stay;
  *  - dot segments resolve (`/a/b/../c/./d` → `/a/c/d`, RFC 3986
  *    § 5.2.4 including the trailing-slash cases); empty path → `/`;
  *  - percent-encodings normalize per RFC 3986 § 6.2.2 in path and
  *    query (hex uppercased, unreserved octets decoded: `/%7Euser` ≡
  *    `/~user`, `%2f` ≡ `%2F`) — see [[normalizePercent]] for the
  *    documented out-of-scope equivalences;
  *  - the query drops TRACKING params (`utm_*`, `gclid`, `fbclid`,
  *    `msclkid` — the public courlan default set), sorts the
  *    survivors byte-order (duplicates kept, order-insensitive
  *    canonical), and disappears entirely when nothing survives;
  *  - the fragment always drops.
  * Non-http(s) schemes (`mailto:`, `javascript:`, `data:`, …) and
  * unparseable strings canonicalize to NULL — they are not fetchable
  * web resources, and NULL-out beats silently passing garbage into a
  * host graph. All rules are deterministic pure string functions
  * (one JVM kernel pass, no java.net, no network), so an oracle can
  * state expected outputs closed-form (battery q113).
  *
  * [[resolve]] handles the relative forms an [[Html.extractLinks]]
  * pass emits: absolute, protocol-relative (`//host/x`),
  * root-relative (`/x`), query-only (`?x`), fragment-only, and
  * path-relative hrefs against a base URL.
  *
  * Scale shape: every function is a scalar kernel — scan-side,
  * shuffle-free, embarrassingly parallel; the web-graph composition
  * (links → canonicalize → host edges → [[Graph.pageRankMicro]]) does
  * all its heavy lifting in the graph operator (battery q114). */
object Url {

  private val TrackingExact = Set("gclid", "fbclid", "msclkid")
  private def isTracking(k: String): Boolean =
    k.startsWith("utm_") || TrackingExact.contains(k)

  private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private def hexVal(c: Char): Int =
    if (c <= '9') c - '0'
    else if (c <= 'F') c - 'A' + 10
    else c - 'a' + 10

  private def isUnreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'

  /** RFC 3986 § 6.2.2.1–2 percent-encoding normalization: hex digits
    * uppercase; octets encoding UNRESERVED characters decode (`%7E` →
    * `~`, `%41` → `A`). Reserved octets (`%2F`, `%3D`, …) stay
    * encoded — decoding them would change which component they
    * delimit — and malformed escapes (`%` not followed by two hex
    * digits) pass through verbatim. Safe to run over a whole path or
    * query string: it never introduces a delimiter. Out-of-scope
    * equivalences, deliberately: `+` vs `%20` in queries (form
    * encoding, not RFC 3986), IDN/punycode hosts, and decoding
    * non-ASCII percent octets (kept encoded, case-normalized). */
  private[operators] def normalizePercent(s: String): String = {
    if (s == null || s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < n && isHexDigit(s.charAt(i + 1)) &&
          isHexDigit(s.charAt(i + 2))) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) sb.append(v.toChar)
        else {
          sb.append('%')
          sb.append(Character.toUpperCase(s.charAt(i + 1)))
          sb.append(Character.toUpperCase(s.charAt(i + 2)))
        }
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** RFC 3986 § 5.2.4 dot-segment removal over an absolute path. */
  private[operators] def resolveDots(path: String): String = {
    val segs = path.split("/", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 1 // paths here always start with '/'
    while (i < segs.length) {
      segs(i) match {
        case "." => ()
        case ".." => if (out.nonEmpty) out.remove(out.length - 1)
        case s => out += s
      }
      i += 1
    }
    // a trailing "." or ".." names a DIRECTORY: keep the slash
    val last = if (segs.length > 1) segs(segs.length - 1) else ""
    if ((last == "." || last == "..") && (out.isEmpty || out.last.nonEmpty))
      out += ""
    "/" + out.mkString("/")
  }

  /** The canonicalization kernel; null for non-http(s) or garbage. */
  private[operators] def canonicalKernel(raw: String): String = {
    if (raw == null) return null
    val s = raw.trim
    val ci = s.indexOf(':')
    if (ci <= 0) return null
    val scheme = s.substring(0, ci).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return null
    if (!s.regionMatches(ci + 1, "//", 0, 2)) return null
    val rest = s.substring(ci + 3)
    var ae = 0
    while (ae < rest.length && rest.charAt(ae) != '/' &&
           rest.charAt(ae) != '?' && rest.charAt(ae) != '#') ae += 1
    var authority = rest.substring(0, ae)
    if (authority.isEmpty) return null
    // userinfo strips (the surt rule): crawlers never key on it
    val at = authority.lastIndexOf('@')
    if (at >= 0) authority = authority.substring(at + 1)
    if (authority.isEmpty) return null
    // split an explicit port off the authority
    var host = authority
    var port = -1
    val pi = authority.lastIndexOf(':')
    if (pi >= 0 && pi < authority.length - 1 &&
        authority.substring(pi + 1).forall(_.isDigit)) {
      host = authority.substring(0, pi)
      try port = authority.substring(pi + 1).toInt
      catch { case _: NumberFormatException => return null }
    } else if (pi == authority.length - 1) {
      host = authority.substring(0, pi) // bare trailing ':' drops
    }
    host = host.toLowerCase(java.util.Locale.ROOT).stripSuffix(".")
    if (host.isEmpty) return null
    val defaultPort = if (scheme == "http") 80 else 443
    val portPart = if (port < 0 || port == defaultPort) "" else s":$port"
    // path / query / fragment
    val tail = rest.substring(ae)
    val hi = tail.indexOf('#')
    val noFrag = if (hi < 0) tail else tail.substring(0, hi)
    val qi = noFrag.indexOf('?')
    val rawPath = if (qi < 0) noFrag else noFrag.substring(0, qi)
    val rawQuery = if (qi < 0) "" else noFrag.substring(qi + 1)
    // percent-normalize BEFORE dot-segment removal (RFC 3986 § 6.2.2
    // order: case, percent-encoding, then path segments — so
    // `/%2e%2e/` resolves like `/../`) and before query filtering/
    // sorting (so `%75tm_source` is recognized and sort order is
    // canonical)
    val path = resolveDots(
      normalizePercent(if (rawPath.isEmpty) "/" else rawPath))
    val kept = normalizePercent(rawQuery).split("&", -1).toSeq
      .filter(p => p.nonEmpty && !isTracking(p.split("=", 2)(0)))
      .sorted
    val queryPart = if (kept.isEmpty) "" else kept.mkString("?", "&", "")
    s"$scheme://$host$portPart$path$queryPart"
  }

  /** Resolve an href against a base URL (both raw strings); returns a
    * raw absolute URL string for [[canonicalKernel]], or null when the
    * base itself is not an absolute http(s) URL. Covers the forms a
    * link extractor emits: absolute, scheme-relative, root-relative,
    * query-only, fragment-only, path-relative. */
  private[operators] def resolveKernel(base: String, href: String): String = {
    if (href == null || base == null) return null
    val h = href.trim
    // absolute: has a scheme prefix
    val ci = h.indexOf(':')
    if (ci > 0 && h.substring(0, ci).forall(c =>
        c.isLetterOrDigit || c == '+' || c == '-' || c == '.') &&
        h.charAt(0).isLetter) return h
    val b = base.trim
    val bci = b.indexOf(':')
    if (bci <= 0 || !b.regionMatches(bci + 1, "//", 0, 2)) return null
    val scheme = b.substring(0, bci)
    if (h.startsWith("//")) return s"$scheme:$h"
    val rest = b.substring(bci + 3)
    var ae = 0
    while (ae < rest.length && rest.charAt(ae) != '/' &&
           rest.charAt(ae) != '?' && rest.charAt(ae) != '#') ae += 1
    val root = b.substring(0, bci + 3 + ae)
    if (h.isEmpty) return b
    if (h.startsWith("/")) return root + h
    val tail = rest.substring(ae)
    val basePathQ = {
      val hi = tail.indexOf('#')
      if (hi < 0) tail else tail.substring(0, hi)
    }
    val qi = basePathQ.indexOf('?')
    val basePath = if (qi < 0) basePathQ else basePathQ.substring(0, qi)
    if (h.startsWith("#")) return root + basePathQ
    if (h.startsWith("?")) return root + basePath + h
    val di = basePath.lastIndexOf('/')
    val dir = if (di < 0) "/" else basePath.substring(0, di + 1)
    root + dir + h
  }

  /** Host of a canonical (or canonicalizable) URL; NULL when the URL
    * doesn't canonicalize. */
  private[operators] def hostKernel(raw: String): String = {
    val c = canonicalKernel(raw)
    if (c == null) return null
    val start = c.indexOf("//") + 2
    var e = start
    while (e < c.length && c.charAt(e) != '/' && c.charAt(e) != ':' &&
           c.charAt(e) != '?') e += 1
    c.substring(start, e)
  }

  /** Last two host labels — the apex-domain APPROXIMATION
    * (`a.b.site.co.uk` → `co.uk` is WRONG under the public-suffix
    * list, which this deliberately does not ship; use the full host
    * for exactness-critical grouping and this only for coarse
    * rollups, as documented). */
  private[operators] def apexKernel(raw: String): String = {
    val h = hostKernel(raw)
    if (h == null) return null
    val parts = h.split("\\.")
    if (parts.length <= 2) h else parts.takeRight(2).mkString(".")
  }

  /** SURT urlkey (Sort-friendly URI Reordering Transform — the key
    * column of a CDX capture index, per the IIPC/OpenWayback
    * convention `/root/reference` has no analog for): canonicalize
    * ([[canonicalKernel]] — lowercased, tracking params dropped,
    * query sorted), drop the scheme, strip one leading `www`/`wwwN`
    * label (the pywb canonicalizer's rule, so `www.x.com` and `x.com`
    * key together), REVERSE the host labels comma-joined, keep a
    * non-default port, then `)` + path + sorted query:
    * `https://www.News.example.com/a/b?z=1&utm_source=t` →
    * `com,example,news)/a/b?z=1`. Reversed-host keys make one sort
    * cluster a whole domain tree — the property every CDX consumer
    * (range lookup, per-domain slicing) relies on. IPv4 literals are
    * kept in address order (reversing octets would scatter a subnet).
    * NULL for non-web or garbage input. */
  private[operators] def surtKernel(raw: String): String = {
    val c = canonicalKernel(raw)
    if (c == null) return null
    val start = c.indexOf("//") + 2
    var e = start
    while (e < c.length && c.charAt(e) != '/' && c.charAt(e) != ':' &&
           c.charAt(e) != '?') e += 1
    var host = c.substring(start, e)
    var rest = c.substring(e)
    var port = ""
    if (rest.nonEmpty && rest.charAt(0) == ':') {
      val slash = rest.indexOf('/')
      port = rest.substring(0, if (slash < 0) rest.length else slash)
      rest = if (slash < 0) "/" else rest.substring(slash)
    }
    val isIpv4 = host.nonEmpty &&
      host.forall(ch => ch.isDigit || ch == '.')
    val key =
      if (isIpv4) host
      else {
        if (host.length > 4 && host.startsWith("www")) {
          var i = 3
          while (i < host.length && host.charAt(i).isDigit) i += 1
          // strip only when what remains is still a dotted name —
          // `www.com` must NOT collapse onto the bare TLD's key
          if (i < host.length && host.charAt(i) == '.' &&
              host.indexOf('.', i + 1) > i + 1)
            host = host.substring(i + 1)
        }
        host.split('.').reverse.mkString(",")
      }
    key + port + ")" + rest
  }

  /** SURT urlkey Column (see [[surtKernel]]); NULL for non-web. */
  def surt(url: Column): Column =
    udf((s: String) => surtKernel(s)).apply(url)

  /** Canonical http(s) URL Column; NULL for non-web or garbage. */
  def canonical(url: Column): Column =
    udf((s: String) => canonicalKernel(s)).apply(url)

  /** Resolve `href` against `base`, then canonicalize. */
  def resolve(base: Column, href: Column): Column =
    udf((b: String, h: String) =>
      canonicalKernel(resolveKernel(b, h))).apply(base, href)

  /** Host Column (of the canonical form). */
  def host(url: Column): Column =
    udf((s: String) => hostKernel(s)).apply(url)

  /** Approximate apex domain Column (see [[apexKernel]] caveat). */
  def apexDomain(url: Column): Column =
    udf((s: String) => apexKernel(s)).apply(url)

  /** Host-graph edges from an outlink frame: resolve each href
    * against its page's base URL, canonicalize, keep resolvable
    * http(s) targets, and emit DISTINCT `(src_host, dst_host)` — the
    * input [[Graph.pageRankMicro]] ranks (self-loops kept: a
    * site linking itself is a real edge in the classic formulation).
    * One scalar pass plus the distinct's one exchange; feed the
    * result to [[Graph.ensureEdgeTable]] for a standing rank
    * workload. */
  def hostEdges(links: DataFrame, baseUrlCol: String,
                hrefCol: String): DataFrame = {
    val dst = udf((b: String, h: String) =>
      hostKernel(resolveKernel(b, h)))
    links.select(
        udf((s: String) => hostKernel(s)).apply(col(baseUrlCol)).as("src_host"),
        dst(col(baseUrlCol), col(hrefCol)).as("dst_host"))
      .filter(col("src_host").isNotNull && col("dst_host").isNotNull)
      .distinct()
  }

  /** Resolve HTTP redirect chains WITHIN a captured crawl: `redirects`
    * holds one `(src, dst)` canonical-URL pair per 3xx response
    * ([[graft.sources.Warc]] surfaces `http_location`; resolve it
    * against the record URI with [[resolve]] first). Returns one row
    * per redirect SOURCE: `(url, terminal_url, hops, looped)` —
    * `terminal_url` is where following the captured chain lands
    * (a URL with no further captured redirect; it may be outside the
    * capture entirely), `looped = true` (terminal NULL) when the
    * chain is still redirecting after `maxHops` steps, which catches
    * real cycles AND absurd chains the same way a browser's ~20-hop
    * cap does. A redirect source is a NON-CONTENT page: curation
    * drops it and frontiers its terminal instead.
    *
    * Scale shape: `maxHops` self-joins of the pointer frame against
    * the (pinned) redirect map on the current-target key —
    * pointer-jumping bounded by the cap, each step one hash join +
    * no aggregation; nothing driver-side. Chains in real captures are
    * short (1-3); the cap is a guard, not a work estimate. Battery
    * q130 pins 2-hop chains, cross-host hops, and a 2-cycle
    * closed-form. */
  def resolveRedirectChains(redirects: DataFrame, srcCol: String,
                            dstCol: String, maxHops: Int = 8): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // ONE pointer per source, deterministically (min target): a URL
    // captured twice with CONFLICTING Locations would otherwise fan
    // out multiplicatively at every hop and emit several rows per
    // source — a real capture re-fetches URLs across days, so the
    // conflict is the norm, not the exception
    val edges = Shared.pin(redirects
      .select(col(srcCol).as("__e_src"), col(dstCol).as("__e_dst"))
      .na.drop()
      .groupBy("__e_src").agg(min(col("__e_dst")).as("__e_dst")))
    var state = edges.select(col("__e_src").as("url"),
      col("__e_dst").as("cur"), lit(1).as("hops"), lit(false).as("done"))
    var i = 1
    while (i < maxHops) {
      state = state.join(edges, state("cur") === edges("__e_src"), "left")
        .select(col("url"),
          when(col("done") || col("__e_dst").isNull, col("cur"))
            .otherwise(col("__e_dst")).as("cur"),
          when(col("done") || col("__e_dst").isNull, col("hops"))
            .otherwise(col("hops") + 1).as("hops"),
          (col("done") || col("__e_dst").isNull).as("done"))
      i += 1
    }
    // one final probe: a row still pointing at a redirect source
    // after maxHops steps is looping (or absurdly deep — same verdict)
    val out = Shared.pin(state.join(edges.select(col("__e_src")),
        state("cur") === col("__e_src"), "left")
      .select(col("url"),
        when(col("done") || col("__e_src").isNull, col("cur"))
          .otherwise(lit(null).cast("string")).as("terminal_url"),
        col("hops"),
        (!col("done") && col("__e_src").isNotNull).as("looped")))
    Shared.release(edges) // the pinned result no longer reads it
    out
  }
}
