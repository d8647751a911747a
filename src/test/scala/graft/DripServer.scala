package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A loopback endpoint that answers 200 at once and then drips its
  * `bytes`-byte body, one byte every `everyMs`: the slow-loris shape a
  * time-to-headers timeout (`HttpRequest.timeout`) does not bound. Any
  * path, any method; the request body is read and ignored. */
final class DripServer(bytes: Int = 20, everyMs: Long = 250L) {
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  private val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  s.setExecutor(pool)
  s.createContext("/", (ex: HttpExchange) =>
    try {
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(200, bytes.toLong)
      val out = ex.getResponseBody
      for (i <- 0 until bytes) {
        if (i > 0) Thread.sleep(everyMs)
        out.write('x')
        out.flush()
      }
    } catch {
      case _: java.io.IOException | _: InterruptedException => // the client gave up
    } finally ex.close())
  s.start()

  val base: String = s"http://127.0.0.1:${s.getAddress.getPort}"

  def stop(): Unit = { s.stop(0); pool.shutdownNow() }
}
