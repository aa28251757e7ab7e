package graft.html

import java.nio.charset.StandardCharsets
import java.util.regex.Pattern
import graft.urls.UrlCanon

/**
 * Hand-written HTML extraction — no DOM library exists in this sandbox, and
 * the byte-identical-text oracle (BASELINE.json input_hint) is frozen by the
 * FIXTURES.md §F3 spec, which this object implements normatively:
 *
 *   1. remove script/style/comment blocks (non-greedy, case-insensitive)
 *   2. every remaining tag → single space
 *   3. decode &amp; &lt; &gt; &quot; &apos; &nbsp; and numeric &#N; / &#xH;
 *   4. collapse Unicode whitespace runs to one ASCII space; trim
 *
 * The §F3 steps are SPECIFIED as four sequential regex/string passes
 * (HtmlRobotsSpec pins a literal re-implementation of that pipeline and
 * asserts equality); the implementation here computes the identical result
 * in two hand-rolled passes — step 1 as a block scanner that is a no-op
 * (zero-copy) when a page has no script/style/comment, and steps 2-4 fused
 * into one pass that writes the final text directly. Rationale: the parse
 * path is the crawl's memory-bandwidth hot spot — the regex pipeline
 * materialized 4-5 page-sized intermediate strings per page, and measured
 * as the multi-core throughput ceiling (allocation rate, not CPU); the
 * fused form allocates 1-2.
 *
 * Link extraction pulls every <a ... href="..."> (any quoting) from the RAW
 * html (including inside script/comment blocks — frozen behavior), resolves
 * relative references against the page URL (RFC 3986 §5.2), and returns the
 * raw resolved form — canonicalization happens downstream so the frontier
 * keeps both raw and canonical forms.
 */
object Html {

  private val Href: Pattern = Pattern.compile(
    "(?is)<a\\b[^>]*?\\bhref\\s*=\\s*(\"([^\"]*)\"|'([^']*)'|([^\\s>]+))")

  // --- §F3 step 3 (entity decode), shared by the fused text pass and the
  // per-href decode. Semantics frozen: named entities are case-SENSITIVE
  // lowercase; numeric forms are &#digits; / &#x hex; parsed exactly like
  // Integer.parseInt (same exceptions on overflow/invalid code points).

  /** If an entity starts at s(i) ('&'), decode it: returns the code point in
    * the low 32 bits and the end index (exclusive) in the high 32, or -1. */
  private def entityAt(s: String, i: Int): Long = {
    val n = s.length
    @inline def pack(cp: Int, end: Int): Long = (end.toLong << 32) | (cp & 0xffffffffL)
    if (i + 1 >= n) return -1L
    s.charAt(i + 1) match {
      case '#' =>
        if (i + 2 >= n) return -1L
        val c2 = s.charAt(i + 2)
        if (c2 == 'x' || c2 == 'X') {
          var j = i + 3
          while (j < n && isHex(s.charAt(j))) j += 1
          if (j > i + 3 && j < n && s.charAt(j) == ';')
            pack(java.lang.Integer.parseInt(s.substring(i + 3, j), 16), j + 1)
          else -1L
        } else {
          var j = i + 2
          while (j < n && s.charAt(j) >= '0' && s.charAt(j) <= '9') j += 1
          if (j > i + 2 && j < n && s.charAt(j) == ';')
            pack(java.lang.Integer.parseInt(s.substring(i + 2, j)), j + 1)
          else -1L
        }
      case 'a' =>
        if (s.regionMatches(i + 1, "amp;", 0, 4)) pack('&', i + 5)
        else if (s.regionMatches(i + 1, "apos;", 0, 5)) pack('\'', i + 6)
        else -1L
      case 'l' => if (s.regionMatches(i + 1, "lt;", 0, 3)) pack('<', i + 4) else -1L
      case 'g' => if (s.regionMatches(i + 1, "gt;", 0, 3)) pack('>', i + 4) else -1L
      case 'q' => if (s.regionMatches(i + 1, "quot;", 0, 5)) pack('"', i + 6) else -1L
      case 'n' => if (s.regionMatches(i + 1, "nbsp;", 0, 5)) pack(' ', i + 6) else -1L
      case _ => -1L
    }
  }

  @inline private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  def decodeEntities(s: String): String = {
    var i = s.indexOf('&')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(s, 0, i)
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val e = entityAt(s, i)
        if (e != -1L) { sb.appendCodePoint(e.toInt); i = (e >>> 32).toInt }
        else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // --- §F3 step 1: block removal, exactly the leftmost-non-overlapping
  // semantics of (?is)<script\b[^>]*>.*?</script>|<style…|<!--.*?--> with
  // each match replaced by one space. Zero-copy when nothing matches.

  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** Exclusive end of the closed block ("...</closer>") whose opening tag's
    * name ends at `j` ("<script" ⇒ j = i+7), or -1 if the regex alternative
    * would not match here. */
  private def blockEnd(s: String, j: Int, closer: String): Int = {
    val n = s.length
    // \b: the char after the tag name must not be a word char (EOI is a
    // boundary too, but then "[^>]*>" cannot complete)
    if (j < n && isWordChar(s.charAt(j))) return -1
    val gt = s.indexOf('>', j) // [^>]*> ⇒ the opening tag ends at the FIRST '>'
    if (gt < 0) return -1
    // .*? </closer> (case-insensitive): leftmost occurrence after the '>'
    var k = gt + 1
    val cl = closer.length
    while (k >= 0 && k + cl <= n) {
      k = s.indexOf('<', k)
      if (k < 0 || k + cl > n) return -1
      if (s.regionMatches(true, k, closer, 0, cl)) return k + cl
      k += 1
    }
    -1
  }

  /** §F3 step 1 over the whole string; returns `s` itself when no block
    * occurs (the common fixture-page case — no copy). */
  def stripBlocks(s: String): String = {
    var i = s.indexOf('<')
    var sb: java.lang.StringBuilder = null
    var last = 0
    val n = s.length
    while (i >= 0 && i < n) {
      var end = -1
      if (s.regionMatches(true, i, "<script", 0, 7)) end = blockEnd(s, i + 7, "</script>")
      else if (s.regionMatches(true, i, "<style", 0, 6)) end = blockEnd(s, i + 6, "</style>")
      else if (s.regionMatches(i, "<!--", 0, 4)) {
        val e = s.indexOf("-->", i + 4)
        end = if (e < 0) -1 else e + 3
      }
      if (end > 0) {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(s, last, i).append(' ')
        last = end
        i = s.indexOf('<', end)
      } else i = s.indexOf('<', i + 1)
    }
    if (sb == null) s else { sb.append(s, last, n); sb.toString }
  }

  /** §F3 steps 2-4 fused: tags → one (collapsed) space, entities decoded,
    * whitespace runs collapsed — one pass, one output buffer. Identical to
    * AnyTag.replaceAll(" ") → decodeEntities → a whitespace collapse: a tag
    * replacement and a decoded &nbsp; both become the single space the
    * collapse pass would have produced, and an entity interrupted by a tag
    * boundary stays literal in both formulations (the tag's space breaks
    * the entity text either way). */
  private def renderText(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var inWs = true // leading ws dropped
    var noMoreTags = false
    @inline def ws(): Unit = { if (!inWs) sb.append(' '); inWs = true }
    @inline def ch(c: Char): Unit =
      if (Character.isWhitespace(c) || c == '\u00a0') ws()
      else { sb.append(c); inWs = false }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && !noMoreTags) {
        val gt = s.indexOf('>', i)
        if (gt >= 0) { ws(); i = gt + 1 } // <[^>]*> → " "
        else { noMoreTags = true; ch(c); i += 1 }
      } else if (c == '&') {
        val e = entityAt(s, i)
        if (e != -1L) {
          val cp = e.toInt
          if (cp <= 0xffff) ch(cp.toChar)
          else { sb.appendCodePoint(cp); inWs = false } // no supplementary cp is whitespace
          i = (e >>> 32).toInt
        } else { ch(c); i += 1 }
      } else { ch(c); i += 1 }
    }
    val m = sb.length
    if (m > 0 && sb.charAt(m - 1) == ' ') sb.setLength(m - 1)
    sb.toString
  }

  /** FIXTURES.md §F3 visible-text extraction over UTF-8 bytes. */
  def extractText(html: Array[Byte]): String = {
    if (html == null) return null
    extractTextStr(new String(html, StandardCharsets.UTF_8))
  }

  def extractTextStr(html: String): String = {
    if (html == null) return null
    renderText(stripBlocks(html))
  }

  /** All href targets of anchor tags, resolved against `baseUrl`; raw
    * (non-canonical) absolute forms, in document order, nulls dropped. */
  def extractLinks(html: Array[Byte], baseUrl: String): Array[String] = {
    if (html == null) return Array.empty
    extractLinksStr(new String(html, StandardCharsets.UTF_8), baseUrl)
  }

  def extractLinksStr(html: String, baseUrl: String): Array[String] = {
    if (html == null) return Array.empty
    val m = Href.matcher(html)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) {
      val raw =
        if (m.group(2) != null) m.group(2)
        else if (m.group(3) != null) m.group(3)
        else m.group(4)
      val href = decodeEntities(raw).trim
      val abs = UrlCanon.resolve(baseUrl, href)
      if (abs != null) out += abs
    }
    out.toArray
  }

  /** Index of the next `</a` close tag (case-insensitive, not followed by
    * a letter/digit — accepts `</a>`, `</a >`, `</A>`) at or after `from`;
    * −1 if none. */
  private def indexOfCloseA(s: String, from: Int): Int = {
    var i = math.max(from, 0)
    val n = s.length
    while (i + 2 < n) {
      if (s.charAt(i) == '<' && s.charAt(i + 1) == '/' &&
          (s.charAt(i + 2) == 'a' || s.charAt(i + 2) == 'A') &&
          (i + 3 >= n || !Character.isLetterOrDigit(s.charAt(i + 3))))
        return i
      i += 1
    }
    -1
  }

  /** `(href, anchor_text)` pairs of anchor tags, in document order — the
    * web-graph side of link extraction: anchor text is the classic
    * target-page description signal (search ranking, link-based doc
    * titles), where [[extractLinksStr]] stays the crawl loop's cheaper
    * href-only form. href is resolved exactly like extractLinksStr; the
    * anchor text is the §F3 rendering of the tag's inner HTML (nested tags
    * stripped, entities decoded, whitespace collapsed) up to the next
    * `</a` close — an unterminated anchor renders to end-of-document, the
    * way a tag-soup browser paints it; a malformed open tag (no `>`)
    * yields an empty anchor. */
  def extractAnchorsStr(html: String, baseUrl: String): Array[(String, String)] = {
    if (html == null) return Array.empty
    val m = Href.matcher(html)
    val out = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    while (m.find()) {
      val raw =
        if (m.group(2) != null) m.group(2)
        else if (m.group(3) != null) m.group(3)
        else m.group(4)
      val href = decodeEntities(raw).trim
      val abs = UrlCanon.resolve(baseUrl, href)
      if (abs != null) {
        val tagEnd = html.indexOf('>', m.end())
        val anchor =
          if (tagEnd < 0) ""
          else {
            val close = indexOfCloseA(html, tagEnd + 1)
            val inner =
              if (close < 0) html.substring(tagEnd + 1)
              else html.substring(tagEnd + 1, close)
            extractTextStr(inner)
          }
        out += ((abs, anchor))
      }
    }
    out.toArray
  }

  /** UTF-8 byte form of [[extractAnchorsStr]]. */
  def extractAnchors(html: Array[Byte], baseUrl: String): Array[(String, String)] = {
    if (html == null) return Array.empty
    extractAnchorsStr(new String(html, StandardCharsets.UTF_8), baseUrl)
  }

  /** Text + links in ONE pass over ONE decoded string — the crawl parse
    * path's entry point: the round-2 shape decoded the html bytes twice
    * (separate text/links UDFs) and re-scanned; at ~20 KB a page the double
    * decode alone was a measurable share of the parse bandwidth. */
  def extractAll(html: Array[Byte], baseUrl: String): (String, Array[String]) = {
    if (html == null) return (null, Array.empty)
    val s = new String(html, StandardCharsets.UTF_8)
    (extractTextStr(s), extractLinksStr(s, baseUrl))
  }

  /** `<loc>` values of a sitemap / sitemap-index XML body (sitemaps.org
    * protocol), in document order. One linear indexOf scan — a full XML
    * parser buys nothing here: `<loc>` content is a bare absolute URL by
    * spec (entity-decoded for the five XML escapes the spec requires).
    * Tolerates whitespace padding inside the element; ignores unterminated
    * trailing junk. Works unchanged on a sitemap INDEX (whose <loc>s are
    * child sitemap URLs) — the caller decides whether to recurse. */
  def extractSitemapLocs(xml: Array[Byte]): Array[String] = {
    if (xml == null) return Array.empty
    val s = new String(xml, StandardCharsets.UTF_8)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i >= 0 && i < s.length) {
      val open = s.indexOf("<loc>", i)
      if (open < 0) i = -1
      else {
        val close = s.indexOf("</loc>", open + 5)
        if (close < 0) i = -1
        else {
          val v = decodeEntities(s.substring(open + 5, close).trim)
          val lower = v.toLowerCase(java.util.Locale.ROOT)
          if (lower.startsWith("http://") || lower.startsWith("https://")) out += v
          i = close + 6
        }
      }
    }
    out.toArray
  }
}
