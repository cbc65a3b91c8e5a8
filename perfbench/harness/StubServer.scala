package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Loopback tile server for the pipeline workloads.
  *
  * Serves `/l/{z}/{x}/{y}.pbf` (label tiles) and `/i/{z}/{x}/{y}.jpg`
  * (imagery) from bytes generated before it starts, on an ephemeral port
  * bound to the loopback interface. A fixed per-request delay is applied
  * by scheduling the response on a timer, never by a sleeping thread, so
  * the server runs on `threads` threads: the JDK dispatcher plus a pool
  * of `threads - 1` (at least one) that answers and times the responses.
  * It counts requests, body bytes and in-flight requests (time-weighted
  * mean and peak) for the `sources.*` metrics.
  */
final class StubServer(labels: (Int, Int) => Array[Byte], image: (Int, Int) => Array[Byte],
    delayMs: Int, threads: Int) {
  private val pool = new ScheduledThreadPoolExecutor(math.max(1, threads - 1))
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 512)

  private val requests = new AtomicLong()
  private val bytes = new AtomicLong()
  private var inflight = 0
  private var peak = 0
  private var area = 0.0 // integral of inflight over time, request-seconds
  private var last = System.nanoTime()

  private def move(d: Int): Unit = synchronized {
    val now = System.nanoTime()
    area += inflight * (now - last) / 1e9
    last = now
    inflight += d
    peak = math.max(peak, inflight)
  }

  private def respond(ex: HttpExchange, body: Array[Byte]): Unit =
    try {
      if (body == null) ex.sendResponseHeaders(404, -1)
      else {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        bytes.addAndGet(body.length.toLong)
      }
    } finally { ex.close(); move(-1) }

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    requests.incrementAndGet()
    move(1)
    val body = ex.getRequestURI.getPath.split('/') match {
      case Array("", kind, _, x, yExt) =>
        val y = yExt.takeWhile(_ != '.').toInt
        if (kind == "l") labels(x.toInt, y) else image(x.toInt, y)
      case _ => null
    }
    if (delayMs <= 0) respond(ex, body)
    else pool.schedule((() => respond(ex, body)): Runnable, delayMs.toLong, TimeUnit.MILLISECONDS)
  })
  server.start()

  val port: Int = server.getAddress.getPort
  def labelUrl: String = s"http://127.0.0.1:$port/l/{z}/{x}/{y}.pbf"
  def imageUrl: String = s"http://127.0.0.1:$port/i/{z}/{x}/{y}.jpg"

  /** Counters since the previous call: (requests, body bytes, in-flight
    * request-seconds, in-flight peak). Request-seconds divided by the
    * interval's wall time is the mean number of requests in flight. */
  def take(): (Long, Long, Double, Int) = synchronized {
    move(0)
    val out = (requests.getAndSet(0), bytes.getAndSet(0), area, peak)
    area = 0.0
    peak = inflight
    out
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
