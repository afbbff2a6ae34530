package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Url]] — canonicalization, relative resolution, host extraction.
  * Every rule is pinned in both directions on hand-built fixtures. */
class UrlSpec extends SparkSpec {
  import spark.implicits._

  private def canon(s: String): String = Url.canonicalKernel(s)

  test("surt: host reversal, www-strip, port, sorted query, ipv4, garbage") {
    def surt(s: String): String = Url.surtKernel(s)
    // host labels reverse comma-joined; scheme drops; path keeps
    assert(surt("https://news.example.com/a/b") == "com,example,news)/a/b")
    // one leading www/wwwN label strips so www.x and x key together
    assert(surt("https://www.Example.com/") == "com,example)/")
    assert(surt("http://www2.example.com/x") == "com,example)/x")
    // a host that IS just www (or www.tld) must not strip to nothing
    assert(surt("http://www.com/") == "com,www)/")
    // non-default port survives between host key and ')'
    assert(surt("http://example.com:8080/p") == "com,example:8080)/p")
    assert(surt("https://example.com:443/p") == "com,example)/p")
    // query rides canonicalization: tracking dropped, survivors sorted
    assert(surt("https://e.com/s?z=1&a=2&utm_source=t") == "com,e)/s?a=2&z=1")
    // IPv4 literals keep address order (reversing octets scatters subnets)
    assert(surt("http://192.168.0.1/x") == "192.168.0.1)/x")
    // garbage NULLs like canonical
    assert(surt("mailto:a@b.com") == null && surt(null) == null)
    // column form agrees with the kernel
    val got = Seq("https://www.site3.example.com/dir/page9.html")
      .toDF("u").select(Url.surt(col("u"))).as[String].head()
    assert(got == "com,example,site3)/dir/page9.html")
  }

  test("surt: one sort clusters a whole domain tree") {
    val urls = Seq(
      "https://b.example.com/x", "https://a.example.com/y",
      "https://example.com/z", "https://aardvark.org/w",
      "https://zebra.com/v")
    val keys = urls.map(Url.surtKernel).sorted
    val domainOf = (k: String) => k.takeWhile(_ != ')')
      .split(',').take(2).mkString(",")
    // all com,example* keys are contiguous after the sort
    val idx = keys.zipWithIndex.filter(_._1.startsWith("com,example"))
      .map(_._2)
    assert(idx == (idx.head to idx.last).toList, keys.toString)
    assert(domainOf(keys(idx.head)) == "com,example")
  }

  test("canonical: case, default ports, fragments, trailing host dot") {
    assert(canon("HTTPS://WWW.Example.COM:443/Path/File.html#frag") ==
      "https://www.example.com/Path/File.html")
    // path case is PRESERVED (paths are case-sensitive on the web)
    assert(canon("http://a.com:80/X") == "http://a.com/X")
    // non-default ports stay; both directions of the port rule
    assert(canon("http://a.com:8080/x") == "http://a.com:8080/x")
    assert(canon("https://a.com:80/x") == "https://a.com:80/x")
    assert(canon("http://a.com./x") == "http://a.com/x")
    assert(canon("http://user:pw@a.com/x") == "http://a.com/x")
    // empty path normalizes to /
    assert(canon("http://a.com") == "http://a.com/")
  }

  test("canonical: dot segments resolve per RFC 3986, duplicate slashes kept") {
    assert(canon("http://a.com/a/b/../c/./d") == "http://a.com/a/c/d")
    assert(canon("http://a.com/a/.") == "http://a.com/a/")
    assert(canon("http://a.com/a/..") == "http://a.com/")
    assert(canon("http://a.com/../../x") == "http://a.com/x")
    assert(canon("http://a.com/a//b") == "http://a.com/a//b")
  }

  test("canonical: tracking params drop, survivors sort, empty query vanishes") {
    assert(canon("http://a.com/x?utm_source=s&b=2&a=1&gclid=g&fbclid=f&msclkid=m") ==
      "http://a.com/x?a=1&b=2")
    // both directions: a non-tracking param that LOOKS close survives
    assert(canon("http://a.com/x?utma=1&gclid2=3") ==
      "http://a.com/x?gclid2=3&utma=1")
    assert(canon("http://a.com/x?utm_source=s") == "http://a.com/x")
    // duplicates kept, byte-sorted
    assert(canon("http://a.com/x?b=2&a=2&a=1") == "http://a.com/x?a=1&a=2&b=2")
  }

  test("canonical: percent-encodings normalize per RFC 3986 § 6.2.2") {
    // unreserved octets decode: two spellings of the same resource
    // canonicalize identically
    assert(canon("http://a.com/%7Euser") == "http://a.com/~user")
    assert(canon("http://a.com/%7euser") == canon("http://a.com/~user"))
    assert(canon("http://a.com/%41%62%2D%2e%5F") == "http://a.com/Ab-._")
    // reserved octets stay encoded but hex uppercases (%2f ≡ %2F,
    // and neither becomes a real path delimiter)
    assert(canon("http://a.com/a%2fb") == "http://a.com/a%2Fb")
    assert(canon("http://a.com/a%2Fb") == "http://a.com/a%2Fb")
    // RFC order: percent-decode BEFORE dot-segment removal
    assert(canon("http://a.com/a/%2e%2e/b") == "http://a.com/b")
    assert(canon("http://a.com/a/%2E/b") == "http://a.com/a/b")
    // malformed escapes pass through verbatim
    assert(canon("http://a.com/100%25") == "http://a.com/100%25")
    assert(canon("http://a.com/50%") == "http://a.com/50%")
    assert(canon("http://a.com/%zz") == "http://a.com/%zz")
    // queries normalize too — before tracking-drop and sorting, so a
    // percent-masked tracking key is recognized and sort order is
    // canonical
    assert(canon("http://a.com/?%75tm_source=x&b=%41") ==
      "http://a.com/?b=A")
    assert(canon("http://a.com/?k=%7e&k=%7E") == "http://a.com/?k=~&k=~")
    // non-ASCII octets stay encoded, case-normalized
    assert(canon("http://a.com/caf%c3%a9") == "http://a.com/caf%C3%A9")
  }

  test("canonical: non-web schemes and garbage NULL out") {
    assert(canon("mailto:x@example.com") == null)
    assert(canon("javascript:void(0)") == null)
    assert(canon("not a url") == null)
    assert(canon("http:relative-ish") == null)
    assert(canon("http://") == null)
    assert(canon(null) == null)
  }

  test("resolve: every relative form an extractor emits") {
    val base = "https://Site.Example.com/dir/page.html?q=1#top"
    def res(h: String) = Url.canonicalKernel(Url.resolveKernel(base, h))
    assert(res("https://other.com/x") == "https://other.com/x")   // absolute
    assert(res("//cdn.example.com/lib.js") == "https://cdn.example.com/lib.js")
    assert(res("/root.html") == "https://site.example.com/root.html")
    assert(res("sibling.html") == "https://site.example.com/dir/sibling.html")
    assert(res("../up.html") == "https://site.example.com/up.html")
    assert(res("?r=2") == "https://site.example.com/dir/page.html?r=2")
    assert(res("#anchor") == "https://site.example.com/dir/page.html?q=1")
    assert(res("mailto:x@y.com") == null)                          // absolute non-web
    assert(Url.resolveKernel("not-absolute", "x.html") == null)
  }

  test("canonicalization is IDEMPOTENT over a generated URL corpus") {
    // the invariant URL dedup rests on: canonical(canonical(u)) ==
    // canonical(u) — a second pass through the normalizer must be a
    // fixed point, or two dedup runs disagree
    val rnd = new scala.util.Random(42)
    val schemes = Seq("http", "HTTPS", "hTTp", "https")
    val hosts = Seq("A.b.COM", "x.org.", "WWW.Example.com", "a.com")
    val ports = Seq("", ":80", ":443", ":8080", ":0")
    val segs = Seq("a", "B", "..", ".", "", "x.gif", "p%20q", "..", "dir",
      "%7euser", "%41%2f", "%2e%2e", "caf%c3%a9", "50%", "%zz", "100%25")
    val params = Seq("a=1", "b=2", "utm_source=x", "gclid=1", "", "z",
      "a=2", "utm_campaign=y&broken", "k=%7E", "%75tm_source=q", "p=%2F%2f")
    var tested = 0
    (0 until 800).foreach { _ =>
      val path = "/" + (0 until rnd.nextInt(5))
        .map(_ => segs(rnd.nextInt(segs.length))).mkString("/")
      val query = if (rnd.nextBoolean()) "" else
        "?" + (0 until 1 + rnd.nextInt(3))
          .map(_ => params(rnd.nextInt(params.length))).mkString("&")
      val frag = if (rnd.nextBoolean()) "#f" else ""
      val u = schemes(rnd.nextInt(schemes.length)) + "://" +
        hosts(rnd.nextInt(hosts.length)) + ports(rnd.nextInt(ports.length)) +
        path + query + frag
      val c = Url.canonicalKernel(u)
      if (c != null) {
        tested += 1
        assert(Url.canonicalKernel(c) == c,
          s"not a fixed point: $u -> $c -> ${Url.canonicalKernel(c)}")
      }
    }
    assert(tested > 600, s"fixture degenerated: only $tested canonicalized")
  }

  test("host and apex-domain columns; hostEdges builds the distinct graph") {
    val got = Seq("https://A.B.Example.COM:8443/x?utm_source=1")
      .toDF("u")
      .select(Url.host(col("u")), Url.apexDomain(col("u")),
        Url.canonical(col("u")))
      .head()
    assert(got.getString(0) == "a.b.example.com")
    assert(got.getString(1) == "example.com")
    assert(got.getString(2) == "https://a.b.example.com:8443/x")
    val links = Seq(
      ("https://one.com/a.html", "/b.html"),            // self-loop
      ("https://one.com/a.html", "//two.com/x"),
      ("https://one.com/c.html", "https://two.com/y"),  // same edge after host fold
      ("https://one.com/a.html", "mailto:z@q.com"),     // drops
      ("not a url", "/x.html"))                          // src drops
      .toDF("base", "href")
    val edges = Url.hostEdges(links, "base", "href")
      .as[(String, String)].collect().toSet
    assert(edges == Set(("one.com", "one.com"), ("one.com", "two.com")),
      edges.toString)
  }

  test("resolveRedirectChains: terminals, mid-chain sources, exact-cap chains, cycles") {
    val redirects = Seq(
      ("https://a.com/1", "https://a.com/2"),   // 1 → 2 → 3 → terminal
      ("https://a.com/2", "https://a.com/3"),
      ("https://a.com/3", "https://b.com/t"),
      ("https://c.com/x", "https://c.com/y"),   // 2-cycle
      ("https://c.com/y", "https://c.com/x"),
      ("https://d.com/self", "https://d.com/self"), // self-redirect
      ("https://e.com/one", "https://e.com/done")   // single hop
    ).toDF("src", "dst")
    val rows = graft.Shared.scope(
      Url.resolveRedirectChains(redirects, "src", "dst", maxHops = 3)
        .as[(String, String, Int, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap)
    // the 3-hop chain lands exactly at the cap — resolved, not looped
    assert(rows("https://a.com/1") == (("https://b.com/t", 3, false)))
    // mid-chain sources are rows too, with their own shorter walks
    assert(rows("https://a.com/2") == (("https://b.com/t", 2, false)))
    assert(rows("https://a.com/3") == (("https://b.com/t", 1, false)))
    // cycles and self-redirects cap out with NULL terminal
    assert(rows("https://c.com/x") == ((null, 3, true)))
    assert(rows("https://d.com/self") == ((null, 3, true)))
    assert(rows("https://e.com/one") == (("https://e.com/done", 1, false)))
  }

  test("conflicting captures of one source collapse to one deterministic pointer") {
    // the same URL captured twice with different Locations (re-fetch
    // across days): one row out, min target wins, no fan-out
    val redirects = Seq(
      ("https://a.com/x", "https://a.com/new2"),
      ("https://a.com/x", "https://a.com/new1"),
      ("https://a.com/new1", "https://a.com/t")).toDF("src", "dst")
    val rows = graft.Shared.scope(
      Url.resolveRedirectChains(redirects, "src", "dst", maxHops = 4)
        .as[(String, String, Int, Boolean)].collect().sortBy(_._1))
    assert(rows.count(_._1 == "https://a.com/x") == 1, rows.mkString)
    assert(rows.toSeq == Seq(
      ("https://a.com/new1", "https://a.com/t", 1, false),
      ("https://a.com/x", "https://a.com/t", 2, false)), rows.mkString)
  }

  test("resolveRedirectChains rejects a non-positive cap") {
    intercept[IllegalArgumentException](
      Url.resolveRedirectChains(Seq(("a", "b")).toDF("s", "d"), "s", "d", 0))
  }
}
