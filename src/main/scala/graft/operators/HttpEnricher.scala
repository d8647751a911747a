package graft.operators

import java.util.concurrent.CompletableFuture

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** O-11 completed for real users: the reference's LLM call
  * (/root/reference/llm_utils.py:137-163) is an HTTP POST of a
  * chat-completions-style JSON body with a 60 s timeout, returning the
  * first choice's message content — and `None` on ANY failure
  * (timeout, transport error, non-200 status, missing content), so a
  * failed enrichment never fails the row or the task (the reference's
  * swallow-and-continue posture, app.py:258-269; the null-skip rows
  * then flow through [[Enrichment.flatten]] as all-null enrichment
  * columns with the base row surviving).
  *
  * Distribution posture: the enricher object is serialized once per
  * task; the HTTP client is `@transient lazy`, so each executor JVM
  * builds exactly one client on first use. [[HttpEnricher.enrichAsync]]
  * sends without blocking, so [[Enrichment.enrichMap]] (and
  * [[Pipelines.leadSight]], through the same window) keeps up to
  * [[Enrichment.MaxInFlight]] = 16 calls of a task in flight (the
  * reference's strictly sequential loop, app.py:289-300, kept only its
  * order, which the map keeps too). Each call is bounded by
  * `timeoutMs` on the whole exchange, body included.
  * NEVER on the verify path: [[Enrichers.fromConf]] returns the
  * deterministic [[MockEnricher]] unless an endpoint is explicitly
  * configured, so oracle runs do no I/O.
  */
object HttpEnricher {

  /** The transport seam: post a JSON body, return (status, body);
    * throw on transport failure (connect error, timeout). Separated
    * from the enricher so failure semantics are unit-testable without
    * a network. `postAsync` is the same call as a future; by default it
    * runs `post` on the calling thread and returns it completed, so a
    * stub transport needs only `post`. */
  trait Transport extends Serializable {
    def post(url: String, headers: Map[String, String], body: String,
        timeoutMs: Long): (Int, String)

    def postAsync(url: String, headers: Map[String, String], body: String,
        timeoutMs: Long): CompletableFuture[(Int, String)] =
      try CompletableFuture.completedFuture(post(url, headers, body, timeoutMs))
      catch { case NonFatal(e) => CompletableFuture.failedFuture(e) }
  }

  /** JDK built-in client (java.net.http, no extra dependency), via the
    * engine-wide [[graft.Net]] seam (one non-redirecting API instance
    * per executor JVM). `postAsync` is the one send: the whole exchange
    * is bounded by `timeoutMs` ([[graft.Net.exchange]]), and cancelling
    * its future cancels the exchange. */
  object JdkTransport extends Transport {
    def post(url: String, headers: Map[String, String], body: String,
        timeoutMs: Long): (Int, String) =
      graft.Net.await(postAsync(url, headers, body, timeoutMs))

    override def postAsync(url: String, headers: Map[String, String], body: String,
        timeoutMs: Long): CompletableFuture[(Int, String)] = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
      headers.foreach { case (k, v) => b.header(k, v) }
      graft.Net.exchange(graft.Net.api,
        b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(), timeoutMs)
    }
  }

  @transient private lazy val mapper = new ObjectMapper()

  /** Chat-completions-style request body (llm_utils.py:140-148), built
    * with a real JSON serializer — prompt text with quotes/newlines
    * must not produce a malformed request. */
  private[operators] def requestBody(model: String, prompt: String): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("model", model)
    val msg = root.putArray("messages").addObject()
    msg.put("role", "user")
    msg.put("content", prompt)
    m.writeValueAsString(root)
  }

  /** `choices[0].message.content`, or throw — the reference wraps the
    * same path access in try/except → None (llm_utils.py:155-163). */
  private[operators] def extractContent(responseBody: String): String = {
    val c = mapper.readTree(responseBody)
      .path("choices").path(0).path("message").path("content")
    require(c.isTextual, "response carries no choices[0].message.content")
    c.asText()
  }
}

/** The real [[Enricher]]: POSTs the rendered prompt, 60 s default
  * timeout, null-on-any-failure. Same input skip rule as the mock
  * (no usable about-text → no call at all). */
class HttpEnricher(
    url: String,
    apiKey: String,
    model: String,
    timeoutMs: Long = 60000L,
    transport: HttpEnricher.Transport = HttpEnricher.JdkTransport)
  extends Enricher {

  // fail fast: a non-positive timeout fails every call into a null row
  require(timeoutMs > 0, s"HttpEnricher timeoutMs must be positive, got $timeoutMs")

  def enrich(company: String, website: String, about: String): Option[String] =
    graft.Net.await(enrichAsync(company, website, about))

  /** The call in flight: completes with the content, or None on any
    * failure; only cancelling it, which cancels the exchange, completes
    * it exceptionally. */
  override def enrichAsync(company: String, website: String,
      about: String): CompletableFuture[Option[String]] =
    if (company == null || about == null || about.isEmpty)
      CompletableFuture.completedFuture(None)
    else {
      val sent =
        try transport.postAsync(
          url,
          if (apiKey.nonEmpty) Map("Authorization" -> s"Bearer $apiKey") else Map.empty,
          HttpEnricher.requestBody(model, Enrichment.prompt(company, website, about)),
          timeoutMs)
        catch { case NonFatal(e) => CompletableFuture.failedFuture[(Int, String)](e) }
      graft.Net.linked(sent)(_.handle[Option[String]] { (resp: (Int, String), err: Throwable) =>
        if (err != null) None
        else scala.util.Try {
          require(resp._1 == 200, s"status ${resp._1}")
          HttpEnricher.extractContent(resp._2)
        }.toOption
      })
    }
}

/** The config gate keeping I/O off the verify path: queries resolve
  * their enricher here, and only an explicit `spark.graft.enricher.url`
  * switches the deterministic mock for the HTTP client. */
object Enrichers {
  def fromConf(spark: SparkSession): Enricher =
    spark.conf.getOption("spark.graft.enricher.url") match {
      case Some(url) =>
        val timeoutMs = spark.conf.get("spark.graft.enricher.timeoutMs", "60000").toLong
        require(timeoutMs > 0, s"spark.graft.enricher.timeoutMs must be positive, got $timeoutMs")
        new HttpEnricher(url, spark.conf.get("spark.graft.enricher.apiKey", ""),
          spark.conf.get("spark.graft.enricher.model", "default"), timeoutMs)
      case None => MockEnricher
    }
}
