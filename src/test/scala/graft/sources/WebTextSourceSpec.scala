package graft.sources

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.{DripServer, SparkSpec, TimedHost}
import org.apache.spark.sql.Row

/** The S-3 DataSourceV2 exercised END-TO-END over a real socket: a JDK
  * loopback HttpServer serves HTML and the full
  * `spark.read.format("graft-web")` path — TableProvider resolution via
  * META-INF/services, partition planning, the executor-side fetch, the
  * inner-text and anchor extraction — runs with zero egress (the
  * LiveHttpEnricherSpec discipline applied to the source). */
class WebTextSourceSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll
    with org.scalatest.BeforeAndAfterEach {

  private var server: HttpServer = _
  private var base: String = _

  private val page =
    """<html><head><title>T</title>
      |<style>body { color: red; }</style>
      |<script>var hidden = "should not appear";</script>
      |</head><body>
      |<h1>Acme &amp; Sons</h1>
      |<p>We make   widgets.</p>
      |<div>Since 1999</div>
      |<!-- a comment -->
      |<a href="/about">About &quot;us&quot;</a>
      |<a class="x" href="https://other.example/team">Our <b>team</b></a>
      |</body></html>""".stripMargin

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/page", (ex: HttpExchange) => respond(ex, 200, page))
    server.createContext("/gone", (ex: HttpExchange) => respond(ex, 404, "nope"))
    // a page whose whole visible DOM is JS-materialized: raw HTML holds
    // no text and no anchors
    server.createContext("/js", (ex: HttpExchange) => respond(ex, 200,
      """<html><body><div id="app"></div>
        |<script>
        |  var h = ['<h1>Welcome to Acme</h1><p>Rendered by JS</p>',
        |           '<', 'a href="/js-added">JS Link<', '/a>'].join('');
        |  document.getElementById('app').innerHTML = h;
        |</script></body></html>""".stripMargin))
    // the deterministic loopback RENDERER: answers the
    // RenderServiceFetcher JSON contract with what a browser pool
    // would produce for the requested target (keyed on the url param)
    server.createContext("/render", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val target = q.split("&").collectFirst {
        case kv if kv.startsWith("url=") =>
          java.net.URLDecoder.decode(kv.drop(4), "UTF-8")
      }.getOrElse("")
      val json =
        if (target.endsWith("/js"))
          """{"status": 200,
            |  "text": "Welcome to Acme\nRendered by JS",
            |  "links": [{"href": "/js-added", "anchor": "JS Link"}]}""".stripMargin
        else if (target.endsWith("/gone")) """{"status": 404}"""
        else """{"status": 200, "text": "", "links": []}"""
      respond(ex, 200, json)
    })
    server.createContext("/render-500",
      (ex: HttpExchange) => respond(ex, 500, "renderer down"))
    server.createContext("/render-garbage",
      (ex: HttpExchange) => respond(ex, 200, "this is not json {"))
    // a renderer that claims 200 but failed to render: JSON nulls where
    // the contract requires text/links — must surface as the error
    // row, never as a success row whose text is "" or "null"
    server.createContext("/render-nulls",
      (ex: HttpExchange) => respond(ex, 200,
        """{"status": 200, "text": null, "links": null}"""))
    server.createContext("/render-missing",
      (ex: HttpExchange) => respond(ex, 200, """{"status": 200}"""))
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  // robots results live per JVM for an hour: a loopback port the OS
  // hands out again within that hour must not inherit an earlier
  // test's rules
  override def beforeEach(): Unit = {
    WebTextSource.RobotsCache.clear()
    super.beforeEach()
  }

  /** A fresh logging loopback host for the governance tests: every
    * request's (path, nanoTime) is recorded, robots.txt body (or
    * status) is per-server. Each call = a DISTINCT authority (own
    * port), so host-keyed state can't leak between tests. */
  private def loggingServer(robotsStatus: Int, robotsBody: String)
      : (HttpServer, String, java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]) = {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", (ex: HttpExchange) => {
      val p = ex.getRequestURI.getPath
      log.add((p, System.nanoTime()))
      if (p == "/robots.txt") respond(ex, robotsStatus, robotsBody)
      else respond(ex, 200, s"<html><body><p>page $p</p></body></html>")
    })
    s.start()
    (s, s"http://127.0.0.1:${s.getAddress.getPort}", log)
  }

  test("live robots gate: a disallowed path is NEVER fetched; Allow carve-out is (r13)") {
    val (s, b, log) = loggingServer(200,
      "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n")
    try {
      val rows = spark.read.format("graft-web")
        .option("urls", s"$b/site/a,$b/private/x,$b/private/pub/y")
        .option("respectRobots", "true")
        .option("timeoutMs", "5000")
        .load().collect().map(r => r.getString(0) -> r).toMap
      rows(s"$b/site/a").getInt(1) shouldEqual 200
      rows(s"$b/private/pub/y").getInt(1) shouldEqual 200
      val blocked = rows(s"$b/private/x")
      blocked.getInt(1) shouldEqual WebTextSource.RobotsBlockedStatus
      assert(blocked.isNullAt(2) && blocked.isNullAt(3))
      // the server-side proof: the disallowed path never arrived, and
      // robots.txt was consulted exactly once for the host
      val paths = log.toArray.map(_.asInstanceOf[(String, Long)]._1).toSeq
      paths should not contain "/private/x"
      paths.count(_ == "/robots.txt") shouldEqual 1
      paths should contain allOf ("/site/a", "/private/pub/y")
    } finally s.stop(0)
  }

  test("unreachable robots (5xx) = full disallow: no page on the host is fetched (r13)") {
    val (s, b, log) = loggingServer(500, "boom")
    try {
      val rows = spark.read.format("graft-web")
        .option("urls", s"$b/site/a,$b/site/c")
        .option("respectRobots", "true")
        .option("timeoutMs", "5000")
        .load().collect()
      rows.foreach { r =>
        r.getInt(1) shouldEqual WebTextSource.RobotsBlockedStatus
        assert(r.isNullAt(2) && r.isNullAt(3))
      }
      val paths = log.toArray.map(_.asInstanceOf[(String, Long)]._1).toSeq
      paths shouldEqual Seq("/robots.txt") // one attempt, nothing else
    } finally s.stop(0)
  }

  test("politeness spaces same-host requests and host-grouping serializes them (r13)") {
    val (s, b, log) = loggingServer(404, "") // 4xx robots = allow all
    try {
      val gapMs = 400L
      val df = spark.read.format("graft-web")
        .option("urls", s"$b/site/1,$b/site/2,$b/site/3")
        .option("politenessMs", gapMs.toString)
        .option("timeoutMs", "5000")
        .load()
      // one host → host-grouped planning puts every URL in ONE task
      df.rdd.getNumPartitions shouldEqual 1
      df.collect().map(_.getInt(1)).toSeq shouldEqual Seq(200, 200, 200)
      val times = log.toArray.map(_.asInstanceOf[(String, Long)])
        .filter(_._1.startsWith("/site/")).map(_._2).sorted.toSeq
      times should have size 3
      // consecutive same-host requests are spaced by >= politenessMs
      // (small slack for sleep/clock granularity)
      times.sliding(2).foreach { case Seq(a, c) =>
        (c - a) / 1000000L should be >= (gapMs - 50)
      }
    } finally s.stop(0)
  }

  test("governed planning groups by host: a host never spans two partitions (r13)") {
    val (s1, b1, _) = loggingServer(404, "")
    val (s2, b2, _) = loggingServer(404, "")
    try {
      val df = spark.read.format("graft-web")
        .option("urls", s"$b1/site/1,$b2/site/1,$b1/site/2,$b2/site/2")
        .option("politenessMs", "1")
        .option("numPartitions", "2")
        .load()
      df.rdd.getNumPartitions shouldEqual 2
      val hostsPerPartition = df.select("url").rdd
        .mapPartitions(it => Iterator.single(
          it.map(r => java.net.URI.create(r.getString(0)).getAuthority).toSet))
        .collect()
      hostsPerPartition.foreach(_.size shouldEqual 1)
      hostsPerPartition.flatMap(_.toSeq).toSet.size shouldEqual 2
    } finally { s1.stop(0); s2.stop(0) }
  }

  test("host chains: hosts overlap, one host never does, robots first, rows in URL order") {
    for (governed <- Seq(true, false)) withClue(s"governed=$governed: ") {
      val hosts = Seq.fill(3)(new TimedHost(150))
      try {
        val urls = for (p <- Seq("a", "b"); h <- hosts) yield s"${h.base}/site/$p"
        val rows = spark.read.format("graft-web")
          .option("urls", urls.mkString(","))
          .option("respectRobots", governed.toString)
          .option("numPartitions", "1")
          .option("timeoutMs", "5000")
          .load().collect()
        rows.map(_.getString(0)).toSeq shouldEqual urls
        rows.foreach(_.getInt(1) shouldEqual 200)
        val logs = hosts.map(_.entries)
        for (l <- logs) {
          l.map(_._1).count(_ != "/robots.txt") shouldEqual 2
          l.map(_._1).count(_ == "/robots.txt") shouldEqual (if (governed) 1 else 0)
          // same host: each request ends before the next one starts
          l.sliding(2).foreach {
            case Seq(a, b) => assert(a._3 <= b._2, s"overlap on one host: $a $b")
            case _ =>
          }
          if (governed) l.head._1 shouldEqual "/robots.txt"
        }
        // different hosts: some pair of requests is in flight together
        val all = logs.zipWithIndex.flatMap { case (l, h) => l.map(e => (h, e._2, e._3)) }
        assert(all.exists { case (h1, s1, e1) =>
          all.exists { case (h2, s2, e2) => h1 != h2 && s1 < e2 && s2 < e1 } },
          "no two hosts were ever in flight at once")
      } finally hosts.foreach(_.stop())
    }
  }

  test("Crawl-delay spaces same-host requests without politenessMs, capped at timeoutMs") {
    val h = new TimedHost(20, "User-agent: *\nCrawl-delay: 0.3\n")
    try {
      spark.read.format("graft-web")
        .option("urls", (1 to 3).map(i => s"${h.base}/site/$i").mkString(","))
        .option("respectRobots", "true")
        .option("timeoutMs", "5000")
        .load().collect().map(_.getInt(1)).toSeq shouldEqual Seq(200, 200, 200)
      val starts = h.entries.filter(_._1.startsWith("/site/")).map(_._2)
      starts should have size 3
      starts.sliding(2).foreach { case Seq(a, b) =>
        (b - a) / 1000000L should be >= 250L
      }
    } finally h.stop()
    // a hostile delay waits out timeoutMs, not the hour it asks for
    val slow = new TimedHost(0, "User-agent: *\nCrawl-delay: 3600\n")
    try {
      val t0 = System.nanoTime()
      spark.read.format("graft-web")
        .option("urls", s"${slow.base}/site/1,${slow.base}/site/2")
        .option("respectRobots", "true")
        .option("timeoutMs", "300")
        .load().collect().map(_.getInt(1)).toSeq shouldEqual Seq(200, 200)
      (System.nanoTime() - t0) / 1000000L should be < 30000L
      val starts = slow.entries.filter(_._1.startsWith("/site/")).map(_._2)
      (starts(1) - starts(0)) / 1000000L should be >= 250L
    } finally slow.stop()
  }

  test("close() stops every host chain: no request starts after it, no thread outlives it") {
    val a = new TimedHost(150)
    val b = new TimedHost(1500)
    try {
      // a: 150 ms answers, then a 600 ms gap; b: its first request is
      // still on the wire when close() runs
      val urls = (1 to 3).flatMap(i => Seq(s"${a.base}/site/$i", s"${b.base}/site/$i")).toArray
      val reader = new WebTextReader(urls, 5000L, politenessMs = 600L)
      reader.next() shouldBe true
      reader.get().getString(0) shouldEqual urls(0)
      reader.close()
      val closedAt = System.nanoTime()
      reader.liveThreads shouldEqual 0
      Thread.sleep(1000)
      for (h <- Seq(a, b)) {
        h.arrivals.map(_._1) shouldEqual Seq("/site/1")
        h.arrivals.foreach(e => assert(e._2 < closedAt, s"request after close(): $e"))
      }
    } finally { a.stop(); b.stop() }
  }

  test("an interrupt in next() cancels the chains and propagates") {
    val h = new TimedHost(600)
    try {
      val reader = new WebTextReader((1 to 3).map(i => s"${h.base}/site/$i").toArray, 5000L)
      val caught = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() => try reader.next() catch { case e: Throwable => caught.set(e) })
      t.start()
      Thread.sleep(200)
      t.interrupt()
      t.join(5000)
      caught.get() shouldBe an[InterruptedException]
      // no close() yet: the interrupt alone stops the chain, so /site/2
      // (due at ~600 ms) never arrives
      Thread.sleep(800)
      h.arrivals.map(_._1) shouldEqual Seq("/site/1")
      reader.liveThreads shouldEqual 0
      reader.close()
    } finally h.stop()
  }

  private def robotsFetches(h: TimedHost): Int = h.entries.count(_._1 == "/robots.txt")

  private def governedRead(urls: Seq[String], timeoutMs: Long = 5000L): Seq[Row] =
    spark.read.format("graft-web")
      .option("urls", urls.mkString(","))
      .option("respectRobots", "true")
      .option("timeoutMs", timeoutMs.toString)
      .load().collect().toSeq

  test("robots cache: two reads of one host in one JVM fetch robots.txt once, rules still applied") {
    val h = new TimedHost(20)
    try {
      for (read <- Seq("first", "second")) withClue(s"$read read: ") {
        governedRead(Seq(s"${h.base}/site/a", s"${h.base}/private/x"))
          .map(_.getInt(1)) shouldEqual Seq(200, WebTextSource.RobotsBlockedStatus)
      }
      robotsFetches(h) shouldEqual 1
      h.entries.map(_._1) should not contain "/private/x"
      h.entries.count(_._1 == "/site/a") shouldEqual 2
    } finally h.stop()
  }

  test("robots cache: a cached Crawl-delay still spaces the second read's page starts") {
    val h = new TimedHost(20, "User-agent: *\nCrawl-delay: 0.3\n")
    try {
      governedRead(Seq(s"${h.base}/first/1")).map(_.getInt(1)) shouldEqual Seq(200)
      governedRead((1 to 3).map(i => s"${h.base}/second/$i"))
        .map(_.getInt(1)) shouldEqual Seq(200, 200, 200)
      robotsFetches(h) shouldEqual 1
      val starts = h.entries.filter(_._1.startsWith("/second/")).map(_._2)
      starts should have size 3
      starts.sliding(2).foreach { case Seq(a, b) =>
        (b - a) / 1000000L should be >= 250L
      }
    } finally h.stop()
  }

  test("robots cache: an entry past its TTL is fetched again") {
    val h = new TimedHost(0)
    val clock = new java.util.concurrent.atomic.AtomicLong(1000000L)
    val realNow = WebTextSource.RobotsCache.now
    WebTextSource.RobotsCache.now = () => clock.get()
    try {
      governedRead(Seq(s"${h.base}/site/1"))
      clock.addAndGet(WebTextSource.RobotsTtlMs - 1)
      governedRead(Seq(s"${h.base}/site/2"))
      robotsFetches(h) shouldEqual 1
      clock.addAndGet(2)
      governedRead(Seq(s"${h.base}/site/3"))
      robotsFetches(h) shouldEqual 2
    } finally {
      WebTextSource.RobotsCache.now = realNow
      h.stop()
    }
  }

  test("robots cache: a 5xx robots.txt is not cached, so a recovered host is crawled on the next read") {
    val robotsStatus = new java.util.concurrent.atomic.AtomicInteger(503)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", (ex: HttpExchange) => {
      val p = ex.getRequestURI.getPath
      log.add(p)
      if (p == "/robots.txt") respond(ex, robotsStatus.get(), "User-agent: *\nDisallow:\n")
      else respond(ex, 200, s"<html><body><p>page $p</p></body></html>")
    })
    s.start()
    val b = s"http://127.0.0.1:${s.getAddress.getPort}"
    try {
      governedRead(Seq(s"$b/site/a", s"$b/site/b")).map(_.getInt(1)) shouldEqual
        Seq(WebTextSource.RobotsBlockedStatus, WebTextSource.RobotsBlockedStatus)
      log.toArray.toSeq shouldEqual Seq("/robots.txt") // one attempt per read
      robotsStatus.set(200)
      governedRead(Seq(s"$b/site/a", s"$b/site/b")).map(_.getInt(1)) shouldEqual Seq(200, 200)
      log.toArray.toSeq shouldEqual Seq("/robots.txt", "/robots.txt", "/site/a", "/site/b")
    } finally s.stop(0)
  }

  test("robots cache: http and https on one authority keep separate entries") {
    // the http origin's rules allow /site/; its https twin is no TLS
    // server, so its robots.txt is unreachable: the https URL must come
    // back robots-blocked, never fetched under the http origin's rules
    val h = new TimedHost(0)
    try {
      governedRead(Seq(s"${h.base}/site/a")).map(_.getInt(1)) shouldEqual Seq(200)
      val auth = h.base.stripPrefix("http://")
      governedRead(Seq(s"https://$auth/site/a"), timeoutMs = 1000L)
        .map(_.getInt(1)) shouldEqual Seq(WebTextSource.RobotsBlockedStatus)
      WebTextSource.RobotsCache.get(("http", auth)) shouldBe defined
      WebTextSource.RobotsCache.get(("https", auth)) shouldBe empty
    } finally h.stop()
  }

  test("robots cache: never holds more than its cap, expired and oldest entries go first") {
    import WebTextSource.{Robots, RobotsCache, RobotsCacheCap, RobotsTtlMs}
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    val realNow = RobotsCache.now
    RobotsCache.now = () => clock.get()
    try {
      val r = Robots(Seq.empty, 0L)
      RobotsCache.put(("http", "stale.example"), r)
      clock.set(RobotsTtlMs)
      RobotsCache.put(("http", "fresh.example"), r)
      // the expired entry is dropped by the put, with room to spare
      RobotsCache.size shouldEqual 1
      val hosts = (0 until RobotsCacheCap + 10).map(i => ("http", s"h$i.example"))
      hosts.foreach(RobotsCache.put(_, r))
      RobotsCache.size shouldEqual RobotsCacheCap
      RobotsCache.get(("http", "fresh.example")) shouldBe empty
      hosts.take(10).foreach(RobotsCache.get(_) shouldBe empty)
      hosts.drop(10).foreach(RobotsCache.get(_) shouldBe Some(r))
    } finally RobotsCache.now = realNow
  }

  test("JdkFetcher bounds the whole exchange: a body dripped past timeoutMs fails in time") {
    val drip = new DripServer
    try {
      val t0 = System.nanoTime()
      an[java.util.concurrent.TimeoutException] should be thrownBy
        WebTextSource.JdkFetcher.get(s"${drip.base}/drip", 500L)
      (System.nanoTime() - t0) / 1000000L should be < 2500L
    } finally drip.stop()
  }

  test("innerText: script/style/comments dropped, blocks break lines, entities decoded") {
    val t = WebTextSource.innerText(page)
    t should include("Acme & Sons")
    t should include("We make widgets.")   // whitespace collapsed
    t should include("Since 1999")
    t should not include "hidden"
    t should not include "color: red"
    t should not include "a comment"
    t.linesIterator.toSeq.head shouldEqual "T"
  }

  test("extractLinks: href + cleaned anchor text per <a>") {
    WebTextSource.extractLinks(page) shouldEqual Seq(
      "/about" -> "About \"us\"",
      "https://other.example/team" -> "Our team")
  }

  test("extractLinks: single-quoted, unquoted, and quote-containing hrefs") {
    val html =
      """<a href='/sq'>single</a>
        |<a href=/unquoted>bare</a>
        |<a href="/it's">apostrophe inside double quotes</a>""".stripMargin
    WebTextSource.extractLinks(html).map(_._1) shouldEqual
      Seq("/sq", "/unquoted", "/it's")
  }

  test("end-to-end read over a real socket: ok page, http error, dead host") {
    // a port with no listener → connect refused → transport-error row
    val dead = "http://127.0.0.1:1/x"
    val rows = spark.read.format("graft-web")
      .option("urls", s"$base/page,$base/gone,$dead")
      .option("timeoutMs", "5000")
      .load()
      .collect().map(r => r.getString(0) -> r).toMap

    val ok = rows(s"$base/page")
    ok.getInt(1) shouldEqual 200
    ok.getString(2) should include("Acme & Sons")
    ok.getSeq[Row](3).map(r => (r.getString(0), r.getString(1))) shouldEqual
      Seq(("/about", "About \"us\""), ("https://other.example/team", "Our team"))

    val gone = rows(s"$base/gone")
    gone.getInt(1) shouldEqual 404
    assert(gone.isNullAt(2) && gone.isNullAt(3))

    val err = rows(dead)
    assert(err.isNullAt(1) && err.isNullAt(2) && err.isNullAt(3))
  }

  test("a non-positive timeoutMs is rejected up front, not turned into error rows") {
    for (t <- Seq("0", "-1")) withClue(s"timeoutMs=$t: ") {
      val e = intercept[IllegalArgumentException](spark.read.format("graft-web")
        .option("urls", s"$base/page").option("timeoutMs", t).load().collect())
      e.getMessage should include("timeoutMs")
    }
  }

  test("partition planning: numPartitions honored, round-robin URL spread") {
    val urls = (1 to 6).map(i => s"$base/page?i=$i").mkString(",")
    val df = spark.read.format("graft-web")
      .option("urls", urls).option("numPartitions", "3").load()
    df.rdd.getNumPartitions shouldEqual 3
    df.count() shouldEqual 6L
  }

  test("fetched text flows into the existing extraction pipeline") {
    // the point of the source: its output is a documents-shaped frame
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-web")
      .option("urls", s"$base/page").load()
      .select(col("url"), col("text"),
        explode(col("links")).as("link"))
      .select(col("url"), col("link.href"), col("link.anchor"))
    df.count() shouldEqual 2L
  }

  test("render-service protocol end-to-end: JS-materialized text arrives through the seam") {
    // /js materializes ALL its visible text and one anchor via
    // JavaScript — the plain-HTTP path structurally CANNOT see them
    val plain = spark.read.format("graft-web")
      .option("urls", s"$base/js").option("timeoutMs", "5000")
      .load().collect().head
    plain.getInt(1) shouldEqual 200
    plain.getString(2) should not include "Rendered by JS"
    plain.getSeq[Row](3) shouldBe empty

    // the same URL through the render-service protocol: the loopback
    // renderer answers RenderServiceFetcher's JSON contract with the
    // rendered DOM's text + anchors (what a Playwright sidecar would
    // produce for app.py:121,141 semantics)
    val rendered = spark.read.format("graft-web")
      .option("urls", s"$base/js").option("timeoutMs", "5000")
      .option("renderService", s"$base/render")
      .load().collect().head
    rendered.getInt(1) shouldEqual 200
    rendered.getString(2) should include("Rendered by JS")
    rendered.getString(2) should include("Welcome to Acme")
    rendered.getSeq[Row](3).map(r => (r.getString(0), r.getString(1))) shouldEqual
      Seq(("/js-added", "JS Link"))

    // renderer reports the TARGET's status (a rendered 404 is a 404)
    val rendered404 = spark.read.format("graft-web")
      .option("urls", s"$base/gone").option("timeoutMs", "5000")
      .option("renderService", s"$base/render")
      .load().collect().head
    rendered404.getInt(1) shouldEqual 404
    assert(rendered404.isNullAt(2) && rendered404.isNullAt(3))
  }

  test("a sick render service degrades like a dead host: swallow-and-skip null row") {
    // /render-* answer 500 / malformed JSON / JSON-null / missing
    // required fields — all are transport failures at the seam, never
    // task failures and never poisoned success rows (a {"text": null}
    // response once came back as the literal 4-char text "null")
    for (path <- Seq("render-500", "render-garbage", "render-nulls", "render-missing")) {
      val row = spark.read.format("graft-web")
        .option("urls", s"$base/page").option("timeoutMs", "5000")
        .option("renderService", s"$base/$path")
        .load().collect().head
      assert(row.isNullAt(1) && row.isNullAt(2) && row.isNullAt(3),
        s"$path must yield the error row")
    }
  }

  test("escaped entities decode once, like browser inner_text (&amp;lt; stays &lt;)") {
    // a code sample showing literal markup: the page SOURCE says
    // &amp;lt;div&amp;gt;, a browser renders &lt;div&gt; — decoding
    // &amp; before &lt; would double-decode to <div>
    WebTextSource.innerText("<p>use &amp;lt;div&amp;gt; here</p>") shouldEqual
      "use &lt;div&gt; here"
    WebTextSource.innerText("<p>a &amp; b &lt; c</p>") shouldEqual "a & b < c"
  }

  test("O-10 analog: consent overlays are stripped before text extraction") {
    // the reference clicks the popup away (app.py:127-136) before
    // inner_text; the static analog must yield the SAME text
    val page =
      """<html><body>
        |<div id="cookie-banner" class="modal">We use cookies!
        |  <div><button>Accept all cookies</button></div>
        |</div>
        |<p>Real content about the company.</p>
        |<section class="GdprConsent"><p>consent details</p></section>
        |<p>Founded in 1999.</p>
        |</body></html>""".stripMargin
    val t = WebTextSource.innerText(page)
    t should include("Real content about the company.")
    t should include("Founded in 1999.")
    t should not include "cookies"
    t should not include "consent details"
  }

  test("O-10 analog: nested same-name containers drop exactly the overlay subtree") {
    val page =
      """<div class='consent-wall'><div><div>layers of popup</div></div></div>
        |<div>keep me</div>""".stripMargin
    val t = WebTextSource.innerText(page)
    t shouldEqual "keep me"
  }

  test("O-10 analog: links inside a dismissed banner vanish with it") {
    val page =
      """<div id="gdpr"><a href="/cookie-policy">policy</a></div>
        |<a href="/about">About Us</a>""".stripMargin
    val clean = WebTextSource.stripConsentOverlays(page)
    val links = WebTextSource.extractLinks(clean)
    links.map(_._1) shouldEqual Seq("/about")
  }

  test("O-10 analog: a page ABOUT cookies is not blanked (container scoping)") {
    // body/p never start a skip; only overlay containers with a
    // marked id/class do — and a marked BUTTON (not a container) stays
    val page =
      """<body class="cookie-policy-page"><p>Our cookie policy explained.</p>
        |<button class="cookie-accept">ok</button></body>""".stripMargin
    val t = WebTextSource.innerText(page)
    t should include("Our cookie policy explained.")
    t should include("ok")
  }

  test("O-10 analog: an unbalanced overlay drops to end-of-document, not a crash") {
    val page = """<p>before</p><div class="consent">never closed <p>swallowed</p>"""
    WebTextSource.innerText(page) shouldEqual "before"
  }

  test("O-10 analog: marker matches word-split class tokens, not substrings (r12)") {
    // a footer whose class merely LINKS to the consent policy, and the
    // fallback content shown WITHOUT cookies, are real content — the
    // unanchored substring form dropped both wholesale
    val page =
      """<footer class="site-footer consent-links"><a href="/privacy">privacy</a> contact us</footer>
        |<div class="no-cookie-fallback">enable cookies to log in</div>
        |<div class="cookie-banner">We use cookies!</div>""".stripMargin
    val t = WebTextSource.innerText(page)
    t should include("contact us")
    t should include("enable cookies to log in")
    t should not include "We use cookies!"
  }

  test("O-10 analog: a huge unclosed 'overlay' falls back to no-strip (r12 bound)") {
    // real-world unbalanced markup: one stray banner div must not
    // discard the rest of a large page — past max(len/2, 32 KB) of
    // would-be-dropped tail the overlay is restored instead
    val body = "word " * 20000 // ~100 KB of real content
    val page = s"""<p>intro</p><div class="cookie-banner">never closed <p>$body</p>"""
    val t = WebTextSource.innerText(page)
    t should include("intro")
    t should include("word word word")
    // the small, properly-closed variant still drops (existing fixture
    // behavior is unchanged below the bound)
    WebTextSource.innerText(
      """<p>before</p><div class="cookie-banner">tiny popup</div>""") shouldEqual "before"
  }
}
