package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A loopback host that answers each request after `latencyMs` on a
  * multi-threaded executor, so the server itself would let requests
  * overlap. `started` logs (path, start) on arrival; `log` adds
  * (path, start, end) once the answer is ready, before it is sent, so
  * an entry is in place before the client can see the response.
  * `/robots.txt` answers `robotsBody`, every other path a small page. */
final class TimedHost(latencyMs: Long,
    robotsBody: String = "User-agent: *\nDisallow: /private/\n") {
  val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  private val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  s.setExecutor(pool)
  s.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val p = ex.getRequestURI.getPath
    started.add((p, t0))
    Thread.sleep(latencyMs)
    log.add((p, t0, System.nanoTime()))
    val body = (if (p == "/robots.txt") robotsBody
      else s"<html><body><p>page $p</p></body></html>").getBytes("UTF-8")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  })
  s.start()
  val base = s"http://127.0.0.1:${s.getAddress.getPort}"
  def entries: Seq[(String, Long, Long)] =
    log.toArray.map(_.asInstanceOf[(String, Long, Long)]).toSeq.sortBy(_._2)
  def arrivals: Seq[(String, Long)] =
    started.toArray.map(_.asInstanceOf[(String, Long)]).toSeq.sortBy(_._2)
  def stop(): Unit = { s.stop(0); pool.shutdownNow() }
}
