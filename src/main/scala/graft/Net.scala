package graft

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{CompletableFuture, ExecutionException, TimeUnit}

/** The engine's JDK HTTP clients, one of each kind per executor JVM,
  * shared by every network seam (the one GET, `WebTextSource.JdkFetcher`,
  * behind both the `graft-web` reader and `WebFetch.fetchMap`; the POST
  * enricher transport in `graft.operators.HttpEnricher`). Construction
  * is centralized so timeout/proxy/TLS configuration changes cannot
  * silently diverge between the GET and POST paths; the two instances
  * stay separate because their redirect policies are intentionally
  * different. `@transient lazy`: object references serialize to tasks,
  * each client is built on first use in each JVM. */
private[graft] object Net {
  private def build(redirect: HttpClient.Redirect): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .followRedirects(redirect)
      .build()

  /** Browser-like page fetching: follows redirects (NORMAL — https
    * downgrade excluded), as a navigation would. */
  @transient lazy val fetching: HttpClient = build(HttpClient.Redirect.NORMAL)

  /** API calls: never auto-redirects (a redirected POST body is a
    * semantic change the caller must see, not a transparent retry). */
  @transient lazy val api: HttpClient = build(HttpClient.Redirect.NEVER)

  /** `stage` applied to `src`, where the result completing exceptionally
    * (cancelled, or its deadline passed) cancels `src` too. The JDK
    * client's own futures cancel their exchange, but a stage derived
    * from one is not itself cancelable, so the link is made here. */
  def linked[A, B](src: CompletableFuture[A])(
      stage: CompletableFuture[A] => CompletableFuture[B]): CompletableFuture[B] = {
    val out = stage(src)
    out.whenComplete((_: B, e: Throwable) => if (e != null) src.cancel(true))
    out
  }

  /** One request on `client` as (status, body), the WHOLE exchange
    * bounded by `timeoutMs`: `HttpRequest.timeout` only bounds the wait
    * for response headers, so a host that sends 200 and then drips its
    * body would otherwise hold the caller for as long as it drips. The
    * deadline fails the future with a `TimeoutException` and cancels the
    * exchange, as cancelling the future does. */
  def exchange(client: HttpClient, req: HttpRequest,
      timeoutMs: Long): CompletableFuture[(Int, String)] =
    linked(client.sendAsync(req, HttpResponse.BodyHandlers.ofString()))(
      _.thenApply[(Int, String)](r => (r.statusCode(), r.body())))
      .orTimeout(timeoutMs, TimeUnit.MILLISECONDS)

  /** `fut`'s value on the calling thread. An interrupt cancels `fut` and
    * is rethrown; a failure is rethrown unwrapped, so callers see the
    * same exception a blocking call would have thrown. */
  def await[T](fut: CompletableFuture[T]): T =
    try fut.get()
    catch {
      case ie: InterruptedException => fut.cancel(true); throw ie
      case e: ExecutionException => throw Option(e.getCause).getOrElse(e)
    }
}
