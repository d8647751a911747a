package graft.operators

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec

/** The JDK transport, recording every call's future: serialized into
  * tasks at file scope (an inner class would drag the suite along), the
  * futures land in one JVM-wide queue the spec reads back. */
private class RecordingTransport extends HttpEnricher.Transport {
  def post(url: String, headers: Map[String, String], body: String,
      timeoutMs: Long): (Int, String) =
    HttpEnricher.JdkTransport.post(url, headers, body, timeoutMs)
  override def postAsync(url: String, headers: Map[String, String], body: String,
      timeoutMs: Long): java.util.concurrent.CompletableFuture[(Int, String)] = {
    val f = HttpEnricher.JdkTransport.postAsync(url, headers, body, timeoutMs)
    RecordingTransport.calls.add(f)
    f
  }
}

private object RecordingTransport {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[
    java.util.concurrent.CompletableFuture[(Int, String)]]()
}

/** HttpEnricher against a LIVE endpoint — a JDK loopback HttpServer, so
  * the REAL java.net.http transport (connection, request write,
  * timeout, status handling) is exercised end-to-end with zero egress.
  * The stubbed-transport tests in HttpEnricherSpec pin failure
  * semantics; this spec pins that the default JdkTransport actually
  * speaks the protocol those stubs assume. */
class LiveHttpEnricherSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _
  private val lastBody = new AtomicReference[String]("")
  private val lastAuth = new AtomicReference[String]("")

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def chatJson(content: String): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.putArray("choices").addObject()
      .putObject("message").put("content", content)
    m.writeValueAsString(root)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ok", (ex: HttpExchange) => {
      lastBody.set(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      lastAuth.set(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
      respond(ex, 200, chatJson("live: enriched"))
    })
    server.createContext("/slow", (ex: HttpExchange) => {
      Thread.sleep(5000) // longer than the test timeout below
      respond(ex, 200, chatJson("too late"))
    })
    server.createContext("/err", (ex: HttpExchange) => respond(ex, 500, "boom"))
    server.createContext("/badjson", (ex: HttpExchange) => respond(ex, 200, "not json"))
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  test("happy path over a real socket: auth header, JSON body, content extraction") {
    val e = new HttpEnricher(s"$base/ok", apiKey = "sk-test", model = "m1")
    e.enrich("Acme", "https://acme.example", "about \"Acme\"\nline2") shouldEqual
      Some("live: enriched")
    lastAuth.get() shouldEqual "Bearer sk-test"
    // the request body is real JSON carrying the prompt (quotes/newlines intact)
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lastBody.get())
    root.path("model").asText() shouldEqual "m1"
    root.path("messages").path(0).path("content").asText() should include("about \"Acme\"")
  }

  test("a hung endpoint times out to None, not an exception") {
    val e = new HttpEnricher(s"$base/slow", "", "m1", timeoutMs = 300)
    e.enrich("Acme", "w", "about") shouldEqual None
  }

  test("non-200 and malformed-JSON responses both yield None") {
    new HttpEnricher(s"$base/err", "", "m1").enrich("A", "w", "about") shouldEqual None
    new HttpEnricher(s"$base/badjson", "", "m1").enrich("A", "w", "about") shouldEqual None
  }

  test("a connection-refused endpoint yields None (no listener at all)") {
    // an ephemeral port we bound and released — nothing listens there
    val dead = {
      val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      val p = s.getAddress.getPort; s.stop(0); p
    }
    new HttpEnricher(s"http://127.0.0.1:$dead/x", "", "m1", timeoutMs = 1000)
      .enrich("A", "w", "about") shouldEqual None
  }

  test("a body dripped past timeoutMs gives None within the deadline, not when the drip ends") {
    val drip = new graft.DripServer
    try {
      val t0 = System.nanoTime()
      new HttpEnricher(s"${drip.base}/v1", "", "m1", timeoutMs = 500)
        .enrich("Acme", "w", "about") shouldEqual None
      (System.nanoTime() - t0) / 1000000L should be < 2500L
    } finally drip.stop()
  }

  /** A loopback LLM on its own thread pool, so calls can overlap: each
    * answers `content` after `latencyMs(prompt)`, a prompt holding
    * "boom" gets a 500, and the largest number of calls in flight at
    * once is kept. */
  private final class ConcurrentLlm(latencyMs: String => Long, content: String = "enriched") {
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    private val pool = java.util.concurrent.Executors.newCachedThreadPool()
    private val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.setExecutor(pool)
    s.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), (a: Int, b: Int) => math.max(a, b))
      try Thread.sleep(latencyMs(body))
      catch { case _: InterruptedException => }
      inFlight.decrementAndGet()
      try {
        if (body.contains("boom")) respond(ex, 500, "boom")
        else respond(ex, 200, chatJson(content))
      } catch { case _: java.io.IOException => } // the caller gave up
    })
    s.start()
    val url = s"http://127.0.0.1:${s.getAddress.getPort}/v1"
    def stop(): Unit = { s.stop(0); pool.shutdownNow() }
  }

  private def companies(n: Int, failing: Int = -1): Seq[Enrichment.EnrichIn] =
    (0 until n).map(i => Enrichment.EnrichIn(i.toLong,
      if (i == failing) "boom" else s"c$i", s"https://c$i.example", s"about c$i"))

  test("enrichMap keeps a task's calls in flight, rows in input order, a failed call contained") {
    import spark.implicits._
    // later rows answer sooner, so completion order is the reverse of
    // input order
    val llm = new ConcurrentLlm(body =>
      "about c(\\d+)".r.findFirstMatchIn(body).map(m => 300L - 20L * m.group(1).toLong)
        .getOrElse(150L))
    try {
      val in = companies(8, failing = 5)
      val out = Enrichment.enrichMap(in.toDS().coalesce(1),
        new HttpEnricher(llm.url, "", "m1", timeoutMs = 5000)).collect()
      out.map(_.doc_id).toSeq shouldEqual in.map(_.doc_id)
      out.map(r => Option(r.raw_json)).toSeq shouldEqual
        (0 until 8).map(i => if (i == 5) None else Some("enriched"))
      llm.maxInFlight.get() should (be > 1 and be <= Enrichment.MaxInFlight)
    } finally llm.stop()
  }

  test("enrichMap never has more than MaxInFlight calls of a task in flight") {
    import spark.implicits._
    val llm = new ConcurrentLlm(_ => 100L)
    try {
      val n = 3 * Enrichment.MaxInFlight
      val out = Enrichment.enrichMap(companies(n).toDS().coalesce(1),
        new HttpEnricher(llm.url, "", "m1", timeoutMs = 5000)).collect()
      out.count(_.raw_json == "enriched") shouldEqual n
      llm.maxInFlight.get() should (be > 1 and be <= Enrichment.MaxInFlight)
    } finally llm.stop()
  }

  test("a task interrupt cancels the calls still pending") {
    import spark.implicits._
    val llm = new ConcurrentLlm(_ => 20000L)
    RecordingTransport.calls.clear()
    val sc = spark.sparkContext
    val failure = new AtomicReference[Throwable]()
    val job = new Thread(() => {
      sc.setJobGroup("enrich-interrupt", "enrich-interrupt", interruptOnCancel = true)
      try Enrichment.enrichMap(companies(8).toDS().coalesce(1),
        new HttpEnricher(llm.url, "", "m1", timeoutMs = 60000,
          transport = new RecordingTransport)).collect()
      catch { case e: Throwable => failure.set(e) }
      finally sc.clearJobGroup()
    })
    try {
      job.start()
      val deadline = System.nanoTime() + 10000L * 1000000L
      while (llm.inFlight.get() < 8 && System.nanoTime() < deadline) Thread.sleep(20)
      llm.inFlight.get() shouldEqual 8
      sc.cancelJobGroup("enrich-interrupt")
      job.join(5000)
      job.isAlive shouldBe false
      failure.get() should not be null
      // the job fails as soon as the cancel is processed; the killed
      // task cancels its calls on its own thread, well inside the 20 s
      // the endpoint would take to answer. A JDK exchange cancelled from
      // a derived stage fails that stage with the client's own
      // CancellationException, so either form counts.
      def cancelled(f: java.util.concurrent.CompletableFuture[(Int, String)]): Boolean =
        f.isDone && scala.util.Try(f.getNow(null)).failed.toOption.exists {
          case _: java.util.concurrent.CancellationException => true
          case e => e.getCause.isInstanceOf[java.util.concurrent.CancellationException]
        }
      val calls = RecordingTransport.calls.toArray.toSeq
        .map(_.asInstanceOf[java.util.concurrent.CompletableFuture[(Int, String)]])
      calls should have size 8
      val cancelBy = System.nanoTime() + 5000L * 1000000L
      while (!calls.forall(cancelled) && System.nanoTime() < cancelBy) Thread.sleep(20)
      calls.foreach(f => assert(cancelled(f), s"call still pending or not cancelled: $f"))
    } finally llm.stop()
  }

  test("distributed: executors call the live endpoint through enrichMap") {
    import spark.implicits._
    val in = Seq(
      Enrichment.EnrichIn(1L, "Acme", "https://a.example", "about acme"),
      Enrichment.EnrichIn(2L, "Globex", "https://g.example", ""), // skip rule: no call
      Enrichment.EnrichIn(3L, "Initech", "https://i.example", "about initech")
    ).toDS().repartition(3)
    val out = Enrichment.enrichMap(in, new HttpEnricher(s"$base/ok", "", "m1"))
      .collect().sortBy(_.doc_id)
    out.map(r => Option(r.raw_json)).toSeq shouldEqual
      Seq(Some("live: enriched"), None, Some("live: enriched"))
  }

  test("leadSight keeps a task's calls in flight, rows in doc_id order, a failed call contained") {
    import spark.implicits._
    // later rows answer sooner (300 ms down to 160 ms), so completion
    // order is the reverse of input order; row 5 gets a 500
    val llm = new ConcurrentLlm(body =>
      "https://c(\\d+)\\.example".r.findFirstMatchIn(body)
        .map(m => 300L - 20L * m.group(1).toLong).getOrElse(150L),
      content = """{"executive_brief":"brief"}""")
    try {
      val docs = (0 until 8).map(i => (i.toLong, if (i == 5) "boom" else s"c$i",
        s"https://c$i.example", s"Founded in 199$i. Learn about us here. mail: ceo@c$i.io"))
        .toDF("doc_id", "company", "website", "text").coalesce(1)
      val out = Pipelines.leadSight(docs,
        new HttpEnricher(llm.url, "", "m1", timeoutMs = 5000)).collect()
      out.map(_.getAs[Long]("doc_id")).toSeq shouldEqual (0L until 8L)
      out.foreach { r =>
        val i = r.getAs[Long]("doc_id")
        r.getAs[String]("Founded Info") shouldEqual s"Founded in 199$i"
        r.getAs[String]("About Us") shouldEqual "Learn about us here"
        r.getAs[String]("Email") shouldEqual s"ceo@c$i.io"
        if (i == 5) Enrichment.FlattenKeys.foreach(k => r.getAs[String](k) shouldEqual null)
        else r.getAs[String]("executive_brief") shouldEqual "brief"
      }
      llm.maxInFlight.get() should (be > 1 and be <= Enrichment.MaxInFlight)
    } finally llm.stop()
  }
}
