package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback HTTP server for the REST workload: serves the page and key
  * envelopes written under `dir` from memory, with `threads` handler
  * threads, and counts what it serves.
  *
  * The JVM must run with `-Dsun.net.httpserver.nodelay=true`. Without
  * TCP_NODELAY the JDK server stalls each response by about 40 ms
  * (Nagle's algorithm against delayed ACKs), and the workload then
  * measures the fixture instead of the program. */
final class FixtureServer(dir: java.nio.file.Path, threads: Int) {
  private val files = new ConcurrentHashMap[String, Array[Byte]]()
  java.nio.file.Files.list(dir).forEach { p =>
    files.put(p.getFileName.toString, java.nio.file.Files.readAllBytes(p))
  }

  val pageRequests = new AtomicLong
  val keyRequests = new AtomicLong
  val notFound = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  def resetCounters(): Unit = {
    pageRequests.set(0); keyRequests.set(0); notFound.set(0); inflightMax.set(0)
  }

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getByName("127.0.0.1"), 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, (x, y) => math.max(x, y))
    try {
      val name = ex.getRequestURI.getPath.stripPrefix("/")
      if (name.startsWith("page_")) pageRequests.incrementAndGet()
      else keyRequests.incrementAndGet()
      val body = files.get(name)
      if (body == null) {
        notFound.incrementAndGet()
        ex.sendResponseHeaders(404, -1)
      } else {
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      }
    } finally {
      ex.close()
      inflight.decrementAndGet()
    }
  })
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
