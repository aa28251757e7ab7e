package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import graft.html.Html
import graft.robots.{RobotRule, Robots}
import graft.urls.UrlCanon

/**
 * UDF surface for the parsing operators (SURVEY.md ops 11–14). These stay
 * UDFs (not native expressions) deliberately: they are regex-heavy,
 * allocation-heavy leaf transforms whose cost dwarfs the codegen-boundary
 * overhead; the *cheap, high-frequency* scalar ops (canonicalize, host_rev)
 * are native expressions in [[UrlExpressions]] instead.
 *
 * All UDFs are deterministic (Spark assumes so by default) and null-tolerant.
 */
/** Output row of [[CrawlUdfs.parsePageUdf]] (struct column: text, links). */
final case class ParsedPage(text: String, links: Array[String])

object CrawlUdfs {

  /** (html bytes, base url) → array of (href, anchor_text) structs — the
    * web-graph description signal (Html.extractAnchors). */
  val extractAnchorsUdf = udf((html: Array[Byte], base: String) =>
    Html.extractAnchors(html, base))

  /** Fused ops 11+12 for the crawl parse path (outlinks per
    * [[Html.extractLinks]], visible text per the frozen FIXTURES.md §F3
    * spec of [[Html.extractText]]): ONE UTF-8 decode of the page bytes
    * feeds both extractions (separate extractions decode ~20 KB twice per
    * page — measured parse bandwidth). Null html → null struct (the caller
    * guards on status anyway). */
  val parsePageUdf = udf((html: Array[Byte], base: String) =>
    if (html == null) null
    else {
      val (text, links) = Html.extractAll(html, base)
      ParsedPage(text, links)
    })

  /** (rules, ua, url path) → allowed? (op 14, RFC 9309 longest-match). */
  val robotsAllowsUdf = udf((rules: Seq[(String, Boolean, String)], ua: String, path: String) =>
    Robots.allows(
      if (rules == null) Array.empty[RobotRule]
      else rules.map(t => RobotRule(t._1, t._2, t._3)).toArray,
      ua, path))

  /** (robots body, ua) → struct(`_1` rules, `_2` crawl_delay_ms, `_3`
    * sitemaps) in ONE body scan (op 13 and its Crawl-delay / Sitemap
    * extensions). Facet semantics are [[Robots.scan]]'s, identical to
    * [[Robots.parse]] / [[Robots.crawlDelayMs]] / [[Robots.sitemaps]] by
    * construction (they are views over the same scan): the rule list is
    * flat and ua-independent, the delay is in ms and null when undeclared
    * (group selection as in robots_allows), and the sitemaps ignore groups
    * and drop non-http URLs. */
  val robotsParseUaUdf = udf((body: String, ua: String) => {
    val p = Robots.scan(body)
    (p.rules.map(r => (r.agent, r.allow, r.path)).toSeq,
      Robots.delayFor(p.delays, ua), p.sitemaps.toSeq)
  })

  /** sitemap XML bytes → `<loc>` URLs (op 2 extension: sitemap seeding). */
  val sitemapLocsUdf = udf((xml: Array[Byte]) => Html.extractSitemapLocs(xml))

  /** (base, href) → absolute url or null (RFC 3986 §5.2 resolution). */
  val resolveUdf = udf((base: String, ref: String) => UrlCanon.resolve(base, ref))

  def extract_anchors(html: Column, base: Column): Column = extractAnchorsUdf(html, base)
  def parse_page(html: Column, base: Column): Column = parsePageUdf(html, base)
  def robots_allows(rules: Column, ua: Column, path: Column): Column =
    robotsAllowsUdf(rules, ua, path)
  def robots_parse_ua(body: Column, ua: Column): Column =
    robotsParseUaUdf(body, ua)
  def sitemap_locs(xml: Column): Column = sitemapLocsUdf(xml)

  /** Path+query part of a canonical URL — cheap native ops, no UDF. */
  def urlPath(canonUrl: Column): Column = {
    import org.apache.spark.sql.functions._
    // strip "scheme://host[:port]" → first '/' after "://"
    val afterScheme = regexp_replace(canonUrl, "^[a-z][a-z0-9+.-]*://[^/]*", "")
    when(afterScheme === "", "/").otherwise(afterScheme)
  }
}
