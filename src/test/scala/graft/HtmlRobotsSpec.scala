package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.html.Html
import graft.robots.{RobotRule, Robots}

class HtmlRobotsSpec extends AnyFunSuite {

  test("F3 spec: script/style/comment stripped, tags→space, entities, ws collapse") {
    val html =
      """<html><head><title>T1</title><style>s{}</style>
        |<script>var x=1;</script></head>
        |<body><h1>Page 1 &amp; friends</h1>
        |<p>Hello   &lt;world&gt; &#65;&#x42;&nbsp;end</p>
        |<!-- noise --></body></html>""".stripMargin
    assert(Html.extractTextStr(html) == "T1 Page 1 & friends Hello <world> AB end")
  }

  test("extraction drops nothing visible and is deterministic") {
    val h = "<p>a</p><p>b</p>"
    assert(Html.extractTextStr(h) == "a b")
    assert(Html.extractTextStr(h) == Html.extractTextStr(h))
  }

  test("link extraction: quoting styles, resolution, entity decode") {
    val html =
      """<a href="/abs">a</a>
        |<a href='rel/x'>b</a>
        |<a href=bare>c</a>
        |<A HREF="HTTP://Other.com/Y">d</A>
        |<a href="?q=1&amp;r=2">e</a>
        |<a href="#frag">f</a>""".stripMargin
    val links = Html.extractLinksStr(html, "http://ex.com/dir/page")
    assert(links.toSeq == Seq(
      "http://ex.com/abs",
      "http://ex.com/dir/rel/x",
      "http://ex.com/dir/bare",
      "HTTP://Other.com/Y",
      "http://ex.com/dir/page?q=1&r=2"))
  }

  test("anchor extraction: inner-HTML rendering, close-tag tolerance, unterminated tail") {
    val html =
      """<a href="/abs">go <b>deep</b> &amp; far</a>
        |<a href='rel/x'>  spaced   text </a>
        |<A HREF="http://other.com/y">UPPER</A >
        |<a href="/selfclose">empty<!-- note --></a>
        |<a href="/tail">unterminated rest of <i>doc</i>""".stripMargin
    val out = Html.extractAnchorsStr(html, "http://ex.com/dir/page")
    assert(out.toSeq == Seq(
      ("http://ex.com/abs", "go deep & far"),          // nested tag + entity
      ("http://ex.com/dir/rel/x", "spaced text"),       // ws collapse + trim
      ("http://other.com/y", "UPPER"),                  // case-insensitive close
      ("http://ex.com/selfclose", "empty"),             // comment stripped
      ("http://ex.com/tail", "unterminated rest of doc") // renders to EOF
    ), out.toSeq.toString)
    // href set must agree with the link extractor on the same document
    assert(out.map(_._1).toSeq == Html.extractLinksStr(html, "http://ex.com/dir/page").toSeq)
  }

  // The LITERAL §F3 pipeline — four sequential regex/string passes — kept
  // here as the normative reference the optimized two-pass scanner in
  // Html.scala must equal byte-for-byte. If these ever diverge, the SCANNER
  // is wrong: this formulation IS the frozen spec.
  private object F3Reference {
    import java.util.regex.Pattern
    private val ScriptStyleComment = Pattern.compile(
      "(?is)<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>|<!--.*?-->")
    private val AnyTag = Pattern.compile("<[^>]*>")
    private val Entity = Pattern.compile(
      "&(amp|lt|gt|quot|apos|nbsp);|&#(\\d+);|&#[xX]([0-9a-fA-F]+);")
    private def decode(s: String): String = {
      val m = Entity.matcher(s)
      val sb = new java.lang.StringBuilder(s.length)
      var last = 0
      while (m.find()) {
        sb.append(s, last, m.start())
        if (m.group(1) != null) sb.append(m.group(1) match {
          case "amp" => "&"; case "lt" => "<"; case "gt" => ">"
          case "quot" => "\""; case "apos" => "'"; case "nbsp" => " "
        })
        else if (m.group(2) != null) sb.appendCodePoint(Integer.parseInt(m.group(2)))
        else sb.appendCodePoint(Integer.parseInt(m.group(3), 16))
        last = m.end()
      }
      sb.append(s, last, s.length); sb.toString
    }
    private def collapse(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length)
      var inWs = true
      s.foreach { c =>
        if (Character.isWhitespace(c) || c == ' ') { if (!inWs) sb.append(' '); inWs = true }
        else { sb.append(c); inWs = false }
      }
      if (sb.length > 0 && sb.charAt(sb.length - 1) == ' ') sb.setLength(sb.length - 1)
      sb.toString
    }
    def extract(html: String): String =
      collapse(decode(AnyTag.matcher(
        ScriptStyleComment.matcher(html).replaceAll(" ")).replaceAll(" ")))
  }

  test("optimized scanner ≡ literal F3 regex pipeline (fixtures + adversarial)") {
    val adversarial = Seq(
      "", "plain", "a  b\t\nc", "&amp;&lt;&gt;&quot;&apos;&nbsp;",
      "&AMP; &Amp; &amp", "&#65;&#x41;&#X41;", "&#; &#x; &#xg; &#65",
      "x&#65", "unclosed <script>var x=1; end", "unclosed <!-- comment end",
      "<ScRiPt a=b>x</sCrIpT>after", "<style>s</style><script>j</script>t",
      "<scripty>not a block</scripty>", "<script/>selfclose</script>post",
      "<scr<script>ipt>nested</script>tail>", "<!-- <script> -->visible",
      "<script><!--x--></script>y", "<a<b>c>d", "tag< open forever",
      "a<b>&am<i>p;</i>", "&#9;tab&#10;nl&#160;nbsp", "<>empty<>",
      "<p>&#x1F600;</p> emoji", "deep " + ("<i>" * 200) + "x" + ("</i>" * 200),
      "<script>" + ("a" * 5000) + "</script>done",
      "<SCRIPT\nsrc='x'\n>body\n</SCRIPT >oops</script>fin")
    adversarial.foreach { h =>
      assert(Html.extractTextStr(h) == F3Reference.extract(h), s"diverged on: $h")
    }
    // every fixture page, two universes
    Seq(300L, 41L).foreach { n =>
      val uni = graft.crawl.FixtureGen.Universe(n)
      (0L until n).foreach { p =>
        val h = new String(uni.pageRow(p).html, java.nio.charset.StandardCharsets.UTF_8)
        assert(Html.extractTextStr(h) == F3Reference.extract(h), s"diverged on fixture page $p")
      }
    }
    // pseudo-random tag soup (deterministic seed)
    val rnd = new scala.util.Random(0xF3)
    val atoms = Seq("<p>", "</p>", "a", " ", "&amp;", "&", "#", ";", "<script>", "</script>",
      "<!--", "-->", "<style>", "</style>", "<", ">", "&#65;", "&#x", "1", "\n", "\"", "x=", "<a href=q>")
    (1 to 500).foreach { _ =>
      val h = Seq.fill(rnd.nextInt(40))(atoms(rnd.nextInt(atoms.length))).mkString
      assert(Html.extractTextStr(h) == F3Reference.extract(h), s"diverged on soup: $h")
    }
  }

  test("parse_page fused UDF ≡ separate text/links extraction") {
    val uni = graft.crawl.FixtureGen.Universe(100)
    (0L until 100L).foreach { p =>
      val row = uni.pageRow(p)
      val (text, links) = Html.extractAll(row.html, uni.canonUrl(p))
      assert(text == Html.extractText(row.html))
      assert(links.toSeq == Html.extractLinks(row.html, uni.canonUrl(p)).toSeq)
    }
  }

  test("fixture pages: stored text equals frozen extractor output") {
    val uni = graft.crawl.FixtureGen.Universe(200)
    (0L until 200L).foreach { p =>
      val row = uni.pageRow(p)
      assert(Html.extractText(row.html) == row.text)
    }
  }

  test("fixture outlinks resolve into the universe or the 404/off-scheme classes") {
    val uni = graft.crawl.FixtureGen.Universe(500)
    val links = Html.extractLinks(uni.pageRow(7L).html, uni.canonUrl(7L))
    assert(links.length == uni.nOutlinks(7L))
  }

  test("robots: group selection — specific UA group beats *") {
    val rules = Robots.parse(
      """User-agent: *
        |Disallow: /
        |User-agent: crawlerspark
        |Disallow: /private
        |Allow: /private/ok""".stripMargin)
    assert(Robots.allows(rules, "crawlerspark", "/anything"))
    assert(!Robots.allows(rules, "crawlerspark", "/private/x"))
    assert(Robots.allows(rules, "crawlerspark", "/private/ok"))
    assert(!Robots.allows(rules, "otherbot", "/anything"))
  }

  test("robots: longest match wins; tie → allow; empty rules → allow") {
    val rules = Robots.parse("User-agent: *\nDisallow: /a\nAllow: /a/b")
    assert(!Robots.allows(rules, "x", "/a/c"))
    assert(Robots.allows(rules, "x", "/a/b/c"))
    assert(Robots.allows(Array.empty[RobotRule], "x", "/a"))
  }

  test("robots: wildcards and $ anchor") {
    val rules = Robots.parse("User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*x")
    assert(!Robots.allows(rules, "x", "/doc/file.pdf"))
    assert(Robots.allows(rules, "x", "/doc/file.pdfx"))
    assert(!Robots.allows(rules, "x", "/tmp123x"))
  }

  test("robots: pathological star patterns complete in milliseconds") {
    // exponential-backtracking killer: many stars, near-matching long path
    val rules = Robots.parse("User-agent: *\nDisallow: /*a*a*a*a*a*a*a*a*a*a$")
    val path = "/" + ("ab" * 2000) + "c" // forces full backtracking search
    val t0 = System.nanoTime()
    val verdict = Robots.allows(rules, "x", path)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(verdict, "path does not end in 'a' so the anchored pattern must not match")
    assert(ms < 200.0, s"pathological robots match took $ms ms — backtracking blowup")
    // and the stars still match correctly
    assert(!Robots.allows(rules, "x", "/" + ("xa" * 10)))
    assert(!Robots.allows(Robots.parse("User-agent: *\nDisallow: /*mid*end"), "x", "/a/mid/b/end/c"))
  }

  test("robots: missing/empty body allows everything") {
    assert(Robots.allows(Robots.parse(""), "x", "/"))
    assert(Robots.allows(Robots.parse("User-agent: *\nDisallow:"), "x", "/any"))
  }

  test("robots: crawl-delay — group selection, fractions, max-of-group, junk ignored") {
    // exact-UA group beats *; fractional seconds round UP to ms
    val body =
      """User-agent: crawlerspark
        |Crawl-delay: 2.5
        |Disallow: /x
        |
        |User-agent: *
        |Crawl-delay: 9""".stripMargin
    assert(Robots.crawlDelayMs(body, "crawlerspark") == Some(2500L))
    assert(Robots.crawlDelayMs(body, "otherbot") == Some(9000L))
    // self-contradictory file → conservative max within the selected tier
    assert(Robots.crawlDelayMs(
      "User-agent: *\nCrawl-delay: 3\nCrawl-delay: 1", "x") == Some(3000L))
    // directive before any UA line binds to the implicit * group; key is
    // case-insensitive; inline comments stripped
    assert(Robots.crawlDelayMs("CRAWL-DELAY: 4 # be nice", "x") == Some(4000L))
    // junk / negative / absent → None (Google-style ignore, never a throw)
    assert(Robots.crawlDelayMs("User-agent: *\nCrawl-delay: soon", "x").isEmpty)
    assert(Robots.crawlDelayMs("User-agent: *\nCrawl-delay: -2", "x").isEmpty)
    assert(Robots.crawlDelayMs("User-agent: *\nDisallow: /a", "x").isEmpty)
    assert(Robots.crawlDelayMs(null, "x").isEmpty)
    // a delay line CLOSES its group like a rule line does: the next UA
    // line starts a fresh group that does not inherit the delay
    val two = "User-agent: a\nCrawl-delay: 5\nUser-agent: b\nDisallow: /q"
    assert(Robots.crawlDelayMs(two, "a") == Some(5000L))
    assert(Robots.crawlDelayMs(two, "b").isEmpty)
  }

  test("robots_parse_ua UDF ≡ Robots.parse + crawlDelayMs + sitemaps") {
    // the one-scan UDF feeds the crawl's acquisition paths and the robots
    // oracle queries (q20 rules, q48 delay, q49 sitemaps) — pin its
    // struct-field plumbing (array-of-rule tuples, nullable delay, sitemap
    // array) to the Scala facet triple
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val bodies = Seq(
      "User-agent: crawlerspark\nCrawl-delay: 2.5\nDisallow: /x\n\nUser-agent: *\nCrawl-delay: 9\nAllow: /x/ok",
      "User-agent: *\nDisallow: /private\nSitemap: https://x.com/s.xml\nSitemap: /relative/no",
      "Disallow: /implicit-star\nCrawl-delay: soon\nsitemap: http://y.com/a.xml",
      "", null: String)
    val ua = "crawlerspark"
    val got = bodies.toDF("robots_body")
      .withColumn("p", graft.functions.CrawlUdfs.robots_parse_ua(col("robots_body"), lit(ua)))
      .select(col("robots_body"), col("p._1").as("rules"), col("p._2").as("delay"),
        col("p._3").as("maps"))
      .collect()
    assert(got.length == bodies.length)
    got.foreach { r =>
      val body = r.getString(0)
      val rules = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => RobotRule(x.getString(0), x.getBoolean(1), x.getString(2)))
      assert(rules == Robots.parse(body).toSeq, s"rules facet diverged: $r")
      assert(Option(r.get(2)) == Robots.crawlDelayMs(body, ua), s"delay facet diverged: $r")
      assert(r.getSeq[String](3) == Robots.sitemaps(body).toSeq, s"sitemaps facet diverged: $r")
    }
  }

  test("robots: Sitemap directive is group-independent; relative/non-http ignored") {
    val body =
      """User-agent: a
        |Sitemap: https://x.com/sm1.xml
        |Disallow: /p
        |User-agent: b
        |sitemap: http://x.com/sm2.xml # mixed case key, comment
        |Sitemap: /relative/ignored.xml
        |Sitemap: ftp://x.com/no.xml""".stripMargin
    assert(Robots.sitemaps(body).toSeq ==
      Seq("https://x.com/sm1.xml", "http://x.com/sm2.xml"))
    assert(Robots.sitemaps(null).isEmpty)
    assert(Robots.sitemaps("User-agent: *\nDisallow:").isEmpty)
  }

  test("sitemap XML: <loc> extraction — order, trim, entities, junk tolerance") {
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        | <url><loc>https://h.com/a?x=1&amp;y=2</loc><priority>0.8</priority></url>
        | <url><loc>
        |   https://h.com/b </loc></url>
        | <url><loc>mailto:nope@h.com</loc></url>
        | <url><loc>https://h.com/unterminated""".stripMargin
    assert(Html.extractSitemapLocs(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq ==
      Seq("https://h.com/a?x=1&y=2", "https://h.com/b"))
    assert(Html.extractSitemapLocs(null).isEmpty)
    // a sitemap INDEX parses identically (locs are child sitemap urls)
    val idx = "<sitemapindex><sitemap><loc>https://h.com/sm-0.xml</loc></sitemap></sitemapindex>"
    assert(Html.extractSitemapLocs(idx.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq ==
      Seq("https://h.com/sm-0.xml"))
  }
}
