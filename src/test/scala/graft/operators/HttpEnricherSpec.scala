package graft.operators

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger

/** Serializable stub transport for the distributed-map test: defined at
  * file scope so it captures no spec internals (an inner class would
  * drag the non-serializable suite into the task closure). */
private class CannedTransport(goodBody: String) extends HttpEnricher.Transport {
  def post(url: String, headers: Map[String, String], body: String,
      timeoutMs: Long): (Int, String) =
    if (body.contains("boom")) throw new java.io.IOException("connect reset")
    else (200, goodBody)
}

/** O-11 failure semantics (llm_utils.py:137-163) pinned against a
  * stubbed transport — no network in any test. */
class HttpEnricherSpec extends SparkSpec {
  import HttpEnricher.Transport

  private val goodBody =
    """{"choices":[{"message":{"role":"assistant","content":"{\"leadership\":\"acme team\"}"}}]}"""

  private def stub(f: String => (Int, String)): Transport = new Transport {
    def post(url: String, headers: Map[String, String], body: String,
        timeoutMs: Long): (Int, String) = f(body)
  }

  test("successful call returns choices[0].message.content verbatim") {
    val e = new HttpEnricher("http://unit.test", "key", "m", transport = stub(_ => (200, goodBody)))
    e.enrich("acme", "https://a.com", "about") shouldEqual
      Some("""{"leadership":"acme team"}""")
  }

  test("timeout / transport error → None (row survives, never the task)") {
    val e = new HttpEnricher("http://unit.test", "key", "m", transport = stub(_ =>
      throw new java.net.http.HttpTimeoutException("request timed out")))
    e.enrich("acme", "https://a.com", "about") shouldEqual None
  }

  test("non-200 status → None") {
    val e = new HttpEnricher("http://unit.test", "key", "m",
      transport = stub(_ => (500, """{"error":"overloaded"}""")))
    e.enrich("acme", "https://a.com", "about") shouldEqual None
  }

  test("response without choices[0].message.content → None") {
    val e = new HttpEnricher("http://unit.test", "key", "m",
      transport = stub(_ => (200, """{"choices":[]}""")))
    e.enrich("acme", "https://a.com", "about") shouldEqual None
    val e2 = new HttpEnricher("http://unit.test", "key", "m",
      transport = stub(_ => (200, "not json {")))
    e2.enrich("acme", "https://a.com", "about") shouldEqual None
  }

  test("null-skip inputs never reach the transport (same rule as the mock)") {
    val calls = new AtomicInteger(0)
    val e = new HttpEnricher("http://unit.test", "key", "m",
      transport = stub { _ => calls.incrementAndGet(); (200, goodBody) })
    e.enrich(null, "w", "about") shouldEqual None
    e.enrich("acme", "w", null) shouldEqual None
    e.enrich("acme", "w", "") shouldEqual None
    calls.get() shouldEqual 0
  }

  test("request body is valid JSON even when the prompt holds quotes/newlines") {
    val seen = new java.util.concurrent.atomic.AtomicReference[String]()
    val e = new HttpEnricher("http://unit.test", "key", "model-x",
      transport = stub { b => seen.set(b); (200, goodBody) })
    e.enrich("""ac"me""", "https://a.com", "line1\nline2") shouldEqual
      Some("""{"leadership":"acme team"}""")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(seen.get())
    node.path("model").asText() shouldEqual "model-x"
    node.path("messages").path(0).path("content").asText() should include("line1\nline2")
    node.path("messages").path(0).path("content").asText() should include("""ac"me""")
  }

  test("HttpEnricher serializes into a distributed enrichMap (per-executor seam)") {
    import spark.implicits._
    val e = new HttpEnricher("http://unit.test", "key", "m",
      transport = new CannedTransport(goodBody))
    val in = Seq(
      Enrichment.EnrichIn(1, "acme", "w", "fine"),
      Enrichment.EnrichIn(2, "boom", "w", "boom trigger"),
      Enrichment.EnrichIn(3, "gamma", "w", "")).toDS().repartition(3)
    val out = Enrichment.flatten(Enrichment.enrichMap(in, e).toDF())
      .orderBy("doc_id").collect()
    out(0).getAs[String]("leadership") shouldEqual "acme team"
    out(1).getAs[String]("leadership") shouldEqual null // transport failure → null row
    out(2).getAs[String]("leadership") shouldEqual null // null-skip (empty about)
  }

  test("Enrichers.fromConf: mock by default, HTTP only when a url is configured") {
    Enrichers.fromConf(spark) shouldBe MockEnricher
    withSQLConf("spark.graft.enricher.url" -> "http://cfg.test",
        "spark.graft.enricher.timeoutMs" -> "1234") {
      Enrichers.fromConf(spark) shouldBe a[HttpEnricher]
    }
    Enrichers.fromConf(spark) shouldBe MockEnricher // gate restored
  }

  test("HttpEnricher rejects a non-positive timeoutMs up front") {
    for (t <- Seq(0L, -1L)) withClue(s"timeoutMs=$t: ") {
      val e = intercept[IllegalArgumentException](
        new HttpEnricher("http://unit.test", "", "m", timeoutMs = t,
          transport = stub(_ => (200, goodBody))))
      e.getMessage should include("timeoutMs")
    }
  }

  test("Enrichers.fromConf rejects a non-positive spark.graft.enricher.timeoutMs") {
    for (t <- Seq("0", "-1")) withClue(s"timeoutMs=$t: ") {
      withSQLConf("spark.graft.enricher.url" -> "http://cfg.test",
          "spark.graft.enricher.timeoutMs" -> t) {
        val e = intercept[IllegalArgumentException](Enrichers.fromConf(spark))
        e.getMessage should include("spark.graft.enricher.timeoutMs")
      }
    }
    Enrichers.fromConf(spark) shouldBe MockEnricher // gate restored
  }
}
