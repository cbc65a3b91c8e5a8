package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec

import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{Executors, TimeUnit}

/** The fetch pass's prefetch window: [[TileSources.prefetched]] is a FIFO
  * that runs at most `window` starts ahead of its consumer, and
  * [[TileSources.fetch]] keeps [[TileSources.FetchWindow]] tiles' label
  * requests in flight on one partition. */
class FetchWindowSpec extends SparkSpec {

  /** Runs `prefetched` over `0 until n`, consuming it fully; returns the
    * output order, the starts seen before the first element came out, and
    * the largest count of started-but-unconsumed elements. */
  private def drive(n: Int, window: Int): (Seq[Int], Int, Int) = {
    var started = 0
    var consumed = 0
    var maxAhead = 0
    val it = TileSources.prefetched(Iterator.range(0, n), window) { a =>
      started += 1
      maxAhead = math.max(maxAhead, started - consumed)
      a * 10
    }
    it.hasNext // fills the window
    val startsBeforeFirst = started
    val out = it.map { case (a, b) =>
      assert(b == a * 10, s"element $a paired with another's start")
      consumed += 1
      a
    }.toList
    (out, startsBeforeFirst, maxAhead)
  }

  test("prefetched is a FIFO that starts min(window, n) up front and stays within the window") {
    for (window <- Seq(1, 4, TileSources.FetchWindow); n <- Seq(0, 1, 3, 4, 17, 200)) {
      val (order, startsBeforeFirst, maxAhead) = drive(n, window)
      assert(order == (0 until n), s"window=$window n=$n: output order")
      assert(startsBeforeFirst == math.min(window, n), s"window=$window n=$n: starts before first")
      assert(maxAhead <= window, s"window=$window n=$n: $maxAhead started but unconsumed")
      if (n >= window) assert(maxAhead == window, s"window=$window n=$n: window never filled")
    }
  }

  test("fetch keeps 64 label requests in flight on one partition against a slow server") {
    val delayMs = 200L
    val nTiles = 128
    val body = Mvt.encode(Seq(Mvt.EncFeature("Point", Seq(Seq((2048L, 2048L))),
      Map("building" -> "yes"), id = Some(1L))))
    val timer = Executors.newSingleThreadScheduledExecutor()
    val lock = new Object
    var inflight = 0
    var peak = 0
    val server = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 2 * nTiles)
    // replies go out on a timer, so no handler thread sleeps and every
    // request the client has started is counted as soon as it arrives
    server.createContext("/", (ex: HttpExchange) => {
      lock.synchronized { inflight += 1; peak = math.max(peak, inflight) }
      timer.schedule(new Runnable {
        override def run(): Unit = {
          lock.synchronized { inflight -= 1 }
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
          ex.close()
        }
      }, delayMs, TimeUnit.MILLISECONDS)
    })
    server.start()
    try {
      val s = spark
      import s.implicits._
      val tiles = (0 until nTiles).map(x => (20, x, 7)).toDF("z", "x", "y").coalesce(1)
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/{z}/{x}/{y}.pbf"
      val fetched = TileSources.fetch(tiles, Some(url), None).collect()
      assert(fetched.map(_.x).toSeq == (0 until nTiles), "one partition leaves in input order")
      assert(fetched.forall(_.features.map(_.geomType) == Seq("Point")))
      assert(lock.synchronized(peak) == 64, "peak concurrent label requests")
    } finally {
      server.stop(0)
      timer.shutdownNow()
    }
  }
}
