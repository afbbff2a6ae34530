package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte→text charset decision and decode — the step between raw WARC
  * response bytes and every text operator downstream. A real crawl is
  * several percent legacy-encoded (windows-1252, Shift_JIS, GBK, …);
  * casting bytes to string assumes UTF-8 and silently turns those
  * pages into mojibake that then flows through dedup, extraction, and
  * quality gates as garbage. This implements the standard sniffing
  * ladder (the WHATWG encoding-sniff order, public, as used by every
  * browser and by crawl toolchains like warcio/fastwarc+trafilatura):
  *
  *  1. BOM — authoritative, wins over everything (a server that sends
  *     `charset=utf-8` but bytes starting FF FE is serving UTF-16LE);
  *  2. HTTP `Content-Type: …; charset=…` parameter;
  *  3. `<meta charset=…>` / `<meta http-equiv=content-type content=…>`
  *     PRESCAN over the first 1024 bytes (ASCII-superset scan — the
  *     declaration must be ASCII-visible to be legal);
  *  4. strict UTF-8 probe: if the whole body decodes as UTF-8 with no
  *     malformed sequence, it IS UTF-8 (UTF-8 is self-validating —
  *     legacy-encoded text virtually never passes);
  *  5. windows-1252 fallback (the WHATWG default for the web's legacy
  *     tail; decodes every byte, so the ladder never fails).
  *
  * Labels resolve through the WHATWG alias table (`latin1`,
  * `iso-8859-1`, `ascii` → windows-1252 — browsers treat them
  * identically and real servers rely on it); unknown labels fall
  * through to the next rung rather than erroring. Decode itself never
  * throws: the chosen charset decodes with REPLACE (U+FFFD) for any
  * residual bad bytes, and a leading BOM character is stripped.
  *
  * Scale shape: one bounded scan per document (BOM = 3 bytes, header
  * param = |header|, prescan = 1024 bytes, probe = one validating
  * pass) — a scalar scan-side kernel, embarrassingly parallel, no
  * shuffle. Battery q119 pins every rung and the precedence between
  * them closed-form; q116 runs the WARC→HTML path through it. */
object Charset {

  import java.nio.charset.{Charset => JCharset, CodingErrorAction, StandardCharsets}

  /** WHATWG label → canonical charset (subset: the labels that appear
    * at measurable frequency in web crawls). Keys lowercase. */
  private val Labels: Map[String, String] = {
    val pairs = Seq(
      Seq("utf-8", "utf8", "unicode-1-1-utf-8", "x-unicode20utf8") -> "utf-8",
      // WHATWG folds latin1/ascii into windows-1252: the bytes 0x80–9F
      // are printable there and servers mislabel constantly
      Seq("windows-1252", "cp1252", "x-cp1252", "iso-8859-1", "iso8859-1",
        "iso_8859-1", "latin1", "l1", "ascii", "us-ascii", "ansi_x3.4-1968",
        "cp819", "ibm819") -> "windows-1252",
      Seq("shift_jis", "shift-jis", "sjis", "x-sjis", "ms_kanji",
        "windows-31j", "cp932") -> "shift_jis",
      Seq("euc-jp", "x-euc-jp") -> "euc-jp",
      Seq("gbk", "gb2312", "gb_2312", "gb_2312-80", "chinese", "csgb2312",
        "x-gbk") -> "gbk",
      Seq("gb18030") -> "gb18030",
      Seq("big5", "big5-hkscs", "cn-big5", "x-x-big5") -> "big5",
      Seq("euc-kr", "korean", "ks_c_5601-1987", "ksc_5601",
        "windows-949") -> "euc-kr",
      Seq("koi8-r", "koi8", "cskoi8r") -> "koi8-r",
      Seq("koi8-u") -> "koi8-u",
      Seq("windows-1250", "cp1250") -> "windows-1250",
      Seq("windows-1251", "cp1251", "x-cp1251") -> "windows-1251",
      Seq("windows-1253", "cp1253") -> "windows-1253",
      Seq("windows-1254", "cp1254", "iso-8859-9", "latin5") -> "windows-1254",
      Seq("windows-1255", "cp1255") -> "windows-1255",
      Seq("windows-1256", "cp1256") -> "windows-1256",
      Seq("windows-1257", "cp1257") -> "windows-1257",
      Seq("windows-1258", "cp1258") -> "windows-1258",
      Seq("windows-874", "tis-620", "iso-8859-11") -> "windows-874",
      Seq("iso-8859-2", "latin2", "l2") -> "iso-8859-2",
      Seq("iso-8859-15", "latin9", "l9") -> "iso-8859-15",
      // WHATWG: the bare "utf-16" label means little-endian
      Seq("utf-16", "utf-16le") -> "utf-16le",
      Seq("utf-16be") -> "utf-16be")
    pairs.flatMap { case (ks, v) => ks.map(_ -> v) }.toMap
  }

  /** Resolve a declared label to a canonical name the JVM can decode;
    * None for unknown/unsupported (the caller falls to the next
    * rung). */
  private[operators] def resolveLabel(label: String): Option[String] = {
    if (label == null) return None
    val l = label.trim.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("'").stripSuffix("'").trim
      .toLowerCase(java.util.Locale.ROOT)
    if (l.isEmpty) None
    else Labels.get(l).filter(c =>
      try JCharset.isSupported(c) catch { case _: IllegalArgumentException => false })
      .orElse {
      // pass-through for anything else the JVM knows (iso-8859-3…)
      try {
        if (JCharset.isSupported(l)) Some(JCharset.forName(l).name()
          .toLowerCase(java.util.Locale.ROOT))
        else None
      } catch { case _: IllegalArgumentException => None }
    }
  }

  /** The `charset=` parameter of a Content-Type header value; None
    * when absent or unresolvable. Scans SUCCESSIVE `charset`
    * occurrences anchored on a parameter-name boundary (start, `;`,
    * or whitespace), so a preceding parameter that merely contains the
    * substring (`x-charsetty=1; charset=utf-8`) can neither satisfy
    * nor swallow the real parameter. */
  private[operators] def fromContentType(ctype: String): Option[String] = {
    if (ctype == null) return None
    val lower = ctype.toLowerCase(java.util.Locale.ROOT)
    var i = lower.indexOf("charset")
    while (i >= 0) {
      val bounded = i == 0 || {
        val c = ctype.charAt(i - 1)
        c == ';' || c == ' ' || c == '\t'
      }
      if (bounded) {
        var j = i + 7
        while (j < ctype.length && (ctype.charAt(j) == ' ' || ctype.charAt(j) == '\t')) j += 1
        if (j < ctype.length && ctype.charAt(j) == '=') {
          j += 1
          while (j < ctype.length && (ctype.charAt(j) == ' ' || ctype.charAt(j) == '\t')) j += 1
          var e = j
          while (e < ctype.length && ctype.charAt(e) != ';' && ctype.charAt(e) != ' ' &&
                 ctype.charAt(e) != '\t') e += 1
          val r = resolveLabel(ctype.substring(j, e))
          if (r.isDefined) return r
        }
      }
      i = lower.indexOf("charset", i + 7)
    }
    None
  }

  private val PrescanBytes = 1024

  /** `<meta charset=…>` prescan over the first 1024 bytes, restricted
    * to charset tokens INSIDE a `<meta …>` tag (an incidental
    * `charset=` in an href query string, comment, or script text must
    * not override the strict-UTF-8 probe), skipping markup comments.
    * Covers both `<meta charset="x">` and `<meta http-equiv=…
    * content="text/html; charset=x">` (the token scan runs within the
    * tag's attribute region either way — the WHATWG prescan's
    * effective behavior). A meta-declared utf-16 label remaps to
    * utf-8 per the WHATWG sniff algorithm: a document whose ASCII
    * prescan could READ the declaration is by construction not
    * UTF-16, so honoring the label would decode ASCII-superset bytes
    * as garbage. Only ASCII bytes participate, so the scan is
    * charset-agnostic for every ASCII-superset encoding. */
  private[operators] def fromMetaPrescan(body: Array[Byte]): Option[String] = {
    if (body == null) return None
    val n = math.min(body.length, PrescanBytes)
    val s = new String(body, 0, n, StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    var from = 0
    while (from >= 0 && from < s.length) {
      val m = s.indexOf("<meta", from)
      if (m < 0) return None
      // tag-name boundary: <metadata> is not a meta tag
      val boundaryOk = m + 5 < s.length && {
        val c = s.charAt(m + 5)
        c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '/'
      }
      // WHATWG prescan skips markup comments: a <meta inside an
      // unclosed-or-enclosing <!-- --> span does not participate
      val cStart = s.lastIndexOf("<!--", m)
      val inComment = cStart >= 0 && {
        val cEnd = s.indexOf("-->", cStart)
        cEnd < 0 || cEnd > m
      }
      if (boundaryOk && !inComment) {
        val close = s.indexOf('>', m)
        val tag = s.substring(m, if (close < 0) s.length else close)
        val r = charsetTokenIn(tag)
        if (r.isDefined)
          return r.map {
            case "utf-16le" | "utf-16be" => "utf-8"
            case other => other
          }
      }
      from = m + 5
    }
    None
  }

  /** The charset-token scan within ONE tag's attribute region:
    * `charset` token, optional `=`, optional quoting, resolved label. */
  private def charsetTokenIn(s: String): Option[String] = {
    var from = 0
    while (from >= 0 && from < s.length) {
      val i = s.indexOf("charset", from)
      if (i < 0) return None
      var j = i + 7
      while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t' ||
        s.charAt(j) == '\n' || s.charAt(j) == '\r')) j += 1
      if (j < s.length && s.charAt(j) == '=') {
        j += 1
        while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t' ||
          s.charAt(j) == '\n' || s.charAt(j) == '\r')) j += 1
        var quote: Char = 0
        if (j < s.length && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
          quote = s.charAt(j); j += 1
        }
        var e = j
        while (e < s.length && {
          val c = s.charAt(e)
          if (quote != 0) c != quote
          else c != ';' && c != '>' && c != '/' && c != ' ' && c != '\t' &&
            c != '\n' && c != '\r' && c != '"' && c != '\''
        }) e += 1
        val r = resolveLabel(s.substring(j, e))
        if (r.isDefined) return r
      }
      from = i + 7
    }
    None
  }

  /** Does the whole body decode as strict UTF-8? (Self-validating:
    * one pass, no allocation beyond the decoder buffer.) */
  private[operators] def isValidUtf8(body: Array[Byte]): Boolean = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try { dec.decode(java.nio.ByteBuffer.wrap(body)); true }
    catch { case _: java.nio.charset.CharacterCodingException => false }
  }

  /** The full ladder: decide the charset for (body, Content-Type).
    * Returns the canonical lowercase label; never null for non-null
    * body (rung 5 always lands). */
  private[operators] def detectKernel(body: Array[Byte],
                                      httpContentType: String): String = {
    if (body == null) return null
    // 1. BOM
    if (body.length >= 3 && body(0) == 0xEF.toByte && body(1) == 0xBB.toByte &&
        body(2) == 0xBF.toByte) return "utf-8"
    if (body.length >= 2 && body(0) == 0xFF.toByte && body(1) == 0xFE.toByte)
      return "utf-16le"
    if (body.length >= 2 && body(0) == 0xFE.toByte && body(1) == 0xFF.toByte)
      return "utf-16be"
    // 2. HTTP header param
    fromContentType(httpContentType)
      // 3. meta prescan
      .orElse(fromMetaPrescan(body))
      // 4. strict UTF-8 probe, 5. windows-1252 fallback
      .getOrElse(if (isValidUtf8(body)) "utf-8" else "windows-1252")
  }

  /** Decode `body` under the ladder's decision: (charset, text). The
    * decode replaces residual malformed bytes with U+FFFD (it can see
    * them when the DECLARED charset lies about some bytes — honoring
    * the declaration with replacement is the browser behavior) and
    * strips one leading BOM character. */
  private[operators] def decodeKernel(body: Array[Byte],
                                      httpContentType: String): (String, String) = {
    if (body == null) return (null, null)
    val cs = detectKernel(body, httpContentType)
    val dec = JCharset.forName(cs).newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val text = dec.decode(java.nio.ByteBuffer.wrap(body)).toString
    val clean = if (text.nonEmpty && text.charAt(0) == '\uFEFF') text.substring(1)
                else text
    (cs, clean)
  }

  /** Column form of decide+decode: `struct(charset, text)` — select
    * `.getField("text")` / `.getField("charset")`. */
  def decodeText(body: Column, contentType: Column): Column = {
    val k = udf((b: Array[Byte], ct: String) => decodeKernel(b, ct))
    k(body, contentType).cast("struct<charset:string,text:string>")
  }

  /** Corpus form over a WARC-shaped frame: adds `charset` and `text`
    * columns decoded from `bodyCol` under `contentTypeCol`. */
  def decodeBodies(df: DataFrame, bodyCol: String,
                   contentTypeCol: String): DataFrame = {
    val d = decodeText(col(bodyCol), col(contentTypeCol))
    df.withColumn("__d", d)
      .withColumn("charset", col("__d.charset"))
      .withColumn("text", col("__d.text"))
      .drop("__d")
  }
}
