package graft.operators

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.{SparkSpec, TimedHost}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The reference's ENTIRE per-company flow (app.py:94-271) composed from
  * the engine's own operators and run LIVE over loopback sockets:
  *
  *   homepage fetch (S-3, WebFetch) → link scan (S-4, explode) →
  *   link selection (P-2..P-4, F-6/F-8, T-1..T-3, reference keywords) →
  *   subpage fetch (app.py:197-201) → text concat →
  *   extraction (F-1 founded / F-2 email / F-3 sentence-near-"about us")
  *   → completeness status (A-3).
  *
  * Everything except the browser render (JS/cookie-popup, O-10 — out of
  * engine scope) is the real thing: real HTTP, real HTML, the same
  * operators the oracle-checked queries use. */
class WebCrawlPipelineSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def home =
    s"""<html><body><h1>Acme Corp</h1>
       |<p>We build industrial widgets for the world.</p>
       |<a href="/about-us">About Us</a>
       |<a href="/products">Products</a>
       |<a href="https://elsewhere.example/x">Partner site</a>
       |<a href="/company/leadership">Leadership</a>
       |</body></html>""".stripMargin

  private val aboutPage =
    """<html><body><h2>About us</h2>
      |<p>Acme was Founded in 1987 and is all about quality.
      |Contact: info@acme-widgets.example.</p>
      |</body></html>""".stripMargin

  private val leadershipPage =
    """<html><body><p>Our leadership team has decades of experience.</p>
      |</body></html>""".stripMargin

  /** A homepage whose cookie banner carries its own link. */
  private val consentPage =
    """<html><body>
      |<div class="cookie-banner">We use cookies! <a href="/cookie-policy">Cookie policy</a></div>
      |<h1>Acme Corp</h1>
      |<a href="/about-us">About Us</a>
      |</body></html>""".stripMargin

  private val robotsTxt =
    """# crawl policy
      |User-agent: archiver
      |Disallow: /
      |
      |User-agent: *
      |Disallow: /company/""".stripMargin

  private def sitemapXml =
    s"""<?xml version="1.0"?><urlset>
       |<url><loc>$base/about-us</loc></url>
       |<url><loc>$base/company/leadership</loc></url>
       |<url><loc>$base/search?q=a&amp;page=2</loc></url>
       |</urlset>""".stripMargin

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) =>
      ex.getRequestURI.getPath match {
        case "/"                   => respond(ex, 200, home)
        case "/robots.txt"         => respond(ex, 200, robotsTxt)
        case "/sitemap.xml"        => respond(ex, 200, sitemapXml)
        case "/about-us"           => respond(ex, 200, aboutPage)
        case "/consent"            => respond(ex, 200, consentPage)
        case "/company/leadership" => respond(ex, 200, leadershipPage)
        case _                     => respond(ex, 404, "nope")
      })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  test("homepage → link selection → subpage fetch → extraction, live end-to-end") {
    import spark.implicits._
    import WebFetch._

    // 1. homepage fetch (the reference's page.goto + inner_text)
    val homeFetch = fetchMap(Seq(FetchIn(0L, s"$base/")).toDS()).cache()
    val homeRow = homeFetch.collect().head
    homeRow.status shouldEqual Some(200)
    homeRow.text.get should include("We build industrial widgets")

    // 2. link scan (S-4): explode the anchor list into a candidate frame
    val candidates = homeFetch.toDF()
      .select(lit("acme").as("company"), col("url").as("website"),
        explode(col("links")).as("l"))
      .select(col("company"), col("website"),
        col("l.href").as("href"), col("l.anchor").as("anchor_text"))

    // 3. reference link selection: "Products" scores 0 (dropped),
    // the off-domain partner link is dropped (P-3), about/leadership
    // match the reference keyword list
    val selected = LinkSelection.selectLinks(candidates, k = 3)
    val urls = selected.select("full_url").as[String].collect().sorted
    urls shouldEqual Array(s"$base/about-us", s"$base/company/leadership")

    // 4. subpage fetch (app.py:197-201), then one text blob per company:
    // homepage + subpages in URL order (deterministic concat)
    val subFetch = fetchMap(
      selected.select(monotonically_increasing_id().as("id"),
        col("full_url").as("url")).as[FetchIn])

    // deterministic order: sort_array over (url, text) structs
    val blob = homeFetch.toDF().unionByName(subFetch.toDF())
      .agg(array_join(transform(sort_array(collect_list(
        struct(col("url"), col("text")))), s => s.getField("text")), " ").as("t"))

    // 5. extraction + completeness, the F-1/F-2/F-3/A-3 operators
    val lead = blob.select(
      Extraction.extractFounded(col("t")).as("founded"),
      Extraction.extractEmail(col("t")).as("email"),
      Extraction.sentenceNear(col("t"), "about us").as("about"),
      col("t"))
      .withColumn("n_found", Extraction.completeness(
        Seq(col("founded"), col("email"), col("about"))))
      .withColumn("status", Extraction.status(col("n_found"), full = 3))
      .collect().head

    lead.getAs[String]("founded") shouldEqual "Founded in 1987"
    lead.getAs[String]("email") shouldEqual "info@acme-widgets.example"
    lead.getAs[String]("about").toLowerCase should include("about us")
    lead.getAs[String]("status") shouldEqual "Full"
  }

  test("robots.txt gates the fetch: live fetch → parse → prefix filter") {
    import spark.implicits._
    import WebFetch._
    // 1. fetch the policy in RAW mode (robots.txt is not a page — no
    // tag stripping), parse it with the pure-column RFC 9309 fold (the
    // non-* archiver group must not leak)
    val rules = fetchMap(Seq(FetchIn(0L, s"$base/robots.txt")).toDS(),
        rawText = true).toDF()
      .select(RobotsTxt.disallowRules(col("text")).as("rules"))
    rules.collect().head.getSeq[String](0) shouldEqual Seq("/company/")

    // 2. apply the X-133 prefix gate to the frontier of selected links
    val frontier = Seq(
      (1L, "/about-us"), (2L, "/company/leadership"), (3L, "/products")
    ).toDF("id", "path")
    val gated = frontier.crossJoin(rules.select(explode(col("rules")).as("rule")))
      .withColumn("hit",
        substring(col("path"), lit(1),
          org.apache.spark.sql.functions.length(col("rule"))) === col("rule"))
      .groupBy("id", "path").agg(max(col("hit")).as("blocked"))
    gated.filter(!col("blocked")).select("path").as[String].collect().sorted shouldEqual
      Array("/about-us", "/products")
    gated.filter(col("blocked")).select("path").as[String].collect() shouldEqual
      Array("/company/leadership")
  }

  test("sitemap.xml is the other frontier source: raw fetch → locUrls → robots gate") {
    import spark.implicits._
    import WebFetch._
    // raw mode: innerText would strip the <loc> tags a sitemap is made of
    val urls = fetchMap(Seq(FetchIn(0L, s"$base/sitemap.xml")).toDS(),
        rawText = true).toDF()
      .select(explode(Sitemaps.locUrls(col("text"))).as("url"))
      .as[String].collect().toSeq
    urls shouldEqual Seq(s"$base/about-us", s"$base/company/leadership",
      s"$base/search?q=a&page=2")
    // robots gate over the sitemap frontier: /company/ is disallowed
    val gated = urls.toDF("url")
      .crossJoin(Seq("/company/").toDF("rule"))
      .withColumn("path", regexp_replace(col("url"), "^https?://[^/]+", ""))
      .withColumn("hit", substring(col("path"), lit(1),
        org.apache.spark.sql.functions.length(col("rule"))) === col("rule"))
      .groupBy("url").agg(max(col("hit")).as("blocked"))
    gated.filter(!col("blocked")).count() shouldEqual 2L
  }

  test("a dead subpage degrades the lead, never the job (swallow-and-skip)") {
    import spark.implicits._
    import WebFetch._
    val rows = fetchMap(Seq(
      FetchIn(0L, s"$base/about-us"),
      FetchIn(1L, s"$base/missing"),
      FetchIn(2L, "http://127.0.0.1:1/dead")).toDS())
      .collect().sortBy(_.id)
    rows(0).status shouldEqual Some(200)
    rows(1).status shouldEqual Some(404)
    rows(1).text shouldEqual None
    rows(2).status shouldEqual None   // transport failure → row survives
  }

  test("fetchMap and graft-web parse a page alike: a cookie banner's links never reach link selection") {
    import spark.implicits._
    import WebFetch._
    val url = s"$base/consent"
    val viaMap = fetchMap(Seq(FetchIn(0L, url)).toDS()).collect().head
    val viaSource = spark.read.format("graft-web").option("urls", url).load()
      .collect().head
    val mapLinks = viaMap.links.get.map(l => (l.href, l.anchor))
    val sourceLinks = viaSource.getSeq[Row](viaSource.fieldIndex("links"))
      .map(r => (r.getString(0), r.getString(1)))
    mapLinks shouldEqual sourceLinks
    mapLinks shouldEqual Seq(("/about-us", "About Us"))
    viaMap.text shouldEqual Some(viaSource.getAs[String]("text"))
    viaMap.text.get should not include "cookies"
  }

  test("fetchMap keeps hosts in flight: one request per host at a time, rows in input order") {
    import spark.implicits._
    import WebFetch._
    val hosts = Seq.fill(3)(new TimedHost(150))
    try {
      val urls = for (p <- Seq("a", "b"); h <- hosts) yield s"${h.base}/site/$p"
      // the same URL under two ids is fetched, and returned, twice
      val in = (urls :+ urls.head).zipWithIndex.map { case (u, i) => FetchIn(10L + i, u) }
      val out = fetchMap(in.toDS().coalesce(1), timeoutMs = 5000).collect()
      out.map(r => (r.id, r.url)).toSeq shouldEqual in.map(r => (r.id, r.url))
      out.foreach { r =>
        r.status shouldEqual Some(200)
        r.text.get should include("page /site/")
      }
      val logs = hosts.map(_.entries)
      logs.map(_.map(_._1)) shouldEqual Seq(
        Seq("/site/a", "/site/b", "/site/a"), Seq("/site/a", "/site/b"),
        Seq("/site/a", "/site/b"))
      // same host: each request ends before the next one starts
      for (l <- logs) l.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 <= b._2, s"overlap on one host: $a $b")
        case _ =>
      }
      // different hosts: some pair of requests is in flight together
      val all = logs.zipWithIndex.flatMap { case (l, h) => l.map(e => (h, e._2, e._3)) }
      assert(all.exists { case (h1, s1, e1) =>
        all.exists { case (h2, s2, e2) => h1 != h2 && s1 < e2 && s2 < e1 } },
        "no two hosts were ever in flight at once")
    } finally hosts.foreach(_.stop())
  }

  test("fetchMap raw mode returns robots.txt and sitemap.xml bodies verbatim") {
    import spark.implicits._
    import WebFetch._
    val out = fetchMap(Seq(FetchIn(0L, s"$base/robots.txt"), FetchIn(1L, s"$base/sitemap.xml"),
        FetchIn(2L, s"$base/missing"), FetchIn(3L, "http://127.0.0.1:1/dead")).toDS(),
      rawText = true).collect().sortBy(_.id)
    out.map(r => (r.status, r.text, r.links)).toSeq shouldEqual Seq(
      (Some(200), Some(robotsTxt), None), (Some(200), Some(sitemapXml), None),
      (Some(404), None, None), (None, None, None))
  }

  test("fetchMap rejects a non-positive timeoutMs up front") {
    import spark.implicits._
    import WebFetch._
    for (t <- Seq(0L, -1L)) withClue(s"timeoutMs=$t: ") {
      val e = intercept[IllegalArgumentException](
        fetchMap(Seq(FetchIn(0L, s"$base/")).toDS(), timeoutMs = t))
      e.getMessage should include("timeoutMs")
    }
  }
}
