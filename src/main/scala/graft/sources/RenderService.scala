package graft.sources

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Standalone render-service PROCESS (r12 item #5 — S-3's last mile):
  * the [[WebTextSource.RenderServiceFetcher]] JSON protocol served from
  * its own JVM over real HTTP, so the contract and its error posture
  * are proven across a process boundary (RenderServiceITSpec launches
  * this main via ProcessBuilder), not just against an in-test loopback
  * handler.
  *
  * Protocol (the reference's rendered-page semantics, app.py:121,141,
  * carried across the seam): `GET /render?url=<percent-encoded>` →
  * 200 + `{"status": int, "text": str, "links": [{"href","anchor"}]}`.
  * A target that answers non-200 yields `{"status": <code>}` (no
  * text/links); a target transport failure yields HTTP 502 from the
  * service — both of which RenderServiceFetcher turns into the
  * reader's swallow-and-skip error row. `GET /healthz` → 200 "ok".
  *
  * Rendering seam: this container ships no browser, so [[render]] is
  * the STRUCTURAL renderer — [[WebTextSource.HttpPageFetcher]]: consent
  * overlays stripped (the popup-click analog), inner text + anchors of
  * what remains. A production
  * deployment replaces ONLY [[render]] with a Playwright/Chromium
  * pool call (page.goto → click consent → inner_text + anchors);
  * every other line — the HTTP surface, the JSON contract, the error
  * posture the engine is tested against — ships as is. Deploy notes:
  * OPERATIONS.md §render-service.
  *
  * Usage: runMain graft.sources.RenderService [port]   (0 = ephemeral;
  * prints `RENDER_SERVICE_READY port=<n>` on stdout when accepting).
  */
object RenderService {

  /** The one function a real browser pool replaces. */
  def render(url: String, timeoutMs: Long): WebTextSource.FetchedPage =
    WebTextSource.HttpPageFetcher.fetchPage(url, timeoutMs)

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private[sources] def toJson(p: WebTextSource.FetchedPage): String =
    if (p.status == 200) {
      val links = p.links.map { case (href, anchor) =>
        def f(v: String) = if (v == null) "null" else "\"" + jsonEscape(v) + "\""
        s"""{"href": ${f(href)}, "anchor": ${f(anchor)}}"""
      }.mkString("[", ", ", "]")
      s"""{"status": 200, "text": "${jsonEscape(p.text)}", "links": $links}"""
    } else s"""{"status": ${p.status}}"""

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Start the service on `port` (0 = ephemeral). Exposed separately
    * from main so a spec can also drive the handler in-process. */
  def start(port: Int, timeoutMs: Long = 10000L): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/healthz", (ex: HttpExchange) => respond(ex, 200, """{"ok": true}"""))
    server.createContext("/render", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val target = q.split("&").collectFirst {
        case kv if kv.startsWith("url=") =>
          java.net.URLDecoder.decode(kv.drop(4), "UTF-8")
      }
      target match {
        case None => respond(ex, 400, """{"error": "missing url param"}""")
        case Some(url) =>
          try respond(ex, 200, toJson(render(url, timeoutMs)))
          catch { case e: Throwable =>
            // target transport failure = a failed render: non-200 from
            // the SERVICE, which the fetcher turns into the error row
            respond(ex, 502, s"""{"error": "${jsonEscape(String.valueOf(e.getMessage))}"}""")
          }
      }
    })
    // serve requests on a small pool so one slow target doesn't wedge
    // the service (a browser pool has the same concurrency posture)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(0)
    val server = start(port)
    // the READY line is the launch contract: a supervisor (or the IT
    // spec) parses the chosen ephemeral port from it
    println(s"RENDER_SERVICE_READY port=${server.getAddress.getPort}")
    System.out.flush()
    // park forever; the supervisor stops the process
    new java.util.concurrent.CountDownLatch(1).await()
  }
}
