package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/**
 * The JDK `HttpServer` lifecycle shared by [[RestServer]],
 * [[RetrievalServer]] and [[PlanServer]]: one context, handled on a fixed
 * pool of one thread per core (at least two, so one slow request never
 * holds up every other). Handlers block on Spark jobs, and Spark schedules
 * jobs from concurrent threads of one session, so concurrent clients
 * overlap their jobs instead of queueing behind the JDK's single
 * dispatcher thread (what `setExecutor(null)` gives).
 *
 * Pool threads are daemons named `graft-http-<server>-<n>`; [[stop]] closes
 * the listener, lets in-flight handlers finish (bounded by [[StopGrace]],
 * then interrupted), and returns once the pool has terminated.
 */
private[graft] final class HttpEndpoint(port: Int, context: String,
                                        handler: HttpExchange => Unit) {
  private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Bind and serve; returns the bound port (an ephemeral one for `port = 0`). */
  def start(): Int = synchronized {
    val id = HttpEndpoint.ids.incrementAndGet()
    val threads = new AtomicInteger(0)
    val factory: ThreadFactory = r => {
      val t = new Thread(r, s"graft-http-$id-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext(context, ex => handler(ex))
    pool = Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors), factory)
    s.setExecutor(pool)
    s.start()
    server = s
    s.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0)
      pool.shutdown()
      if (!pool.awaitTermination(HttpEndpoint.StopGrace, TimeUnit.SECONDS)) {
        pool.shutdownNow()
        pool.awaitTermination(HttpEndpoint.StopGrace, TimeUnit.SECONDS)
      }
      server = null
      pool = null
    }
  }
}

private[graft] object HttpEndpoint {
  private val ids = new AtomicInteger(0)

  /** Seconds [[HttpEndpoint.stop]] waits for in-flight handlers before
    * interrupting them. */
  private val StopGrace = 10L

  /** `k=v&k2=v2` → map, values URL-decoded; pairs without `=` are dropped. */
  def parseQuery(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
