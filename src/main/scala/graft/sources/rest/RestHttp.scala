package graft.sources.rest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap

/** Live-HTTP transport for `graft-rest` (opt-in via an `http(s)://` path),
  * mirroring the reference's API client exactly:
  *
  *   - bounded retry with a fixed delay (`extract.py` task decorators:
  *     `retries=3, retry_delay_seconds=10`; the in-worker second-chance
  *     retry after "Max retries exceeded" at `extract.py:276-284`) — a
  *     non-200 status or connection failure is retried up to `maxRetries`
  *     times before the partition fails;
  *   - a thread-safe, 1-second-window rate limiter (`RateLimiter` at
  *     `extract.py:44-71`): at most `rateLimit` requests are admitted per
  *     window, later acquirers sleep until the window turns. One limiter
  *     instance is shared per (endpoint, rate) per JVM — on a cluster
  *     that is per EXECUTOR, the same scope as the reference's limiter
  *     (shared by one process's thread pool), so the aggregate rate is
  *     `rateLimit × executors` and the option should be sized accordingly.
  *
  * Scale shape: pagination DISCOVERY (the driver's cursor walk) and
  * record PARSING (one partition per contiguous run of pages) both fetch
  * through this one code path, so politeness contracts hold everywhere;
  * the fetch is byte-level and stateless, so a partition retry after a
  * task failure re-GETs only its own run of pages (idempotent replay,
  * like the parquet side).
  */
object RestHttp {

  /** Thread-safe fixed-window rate limiter (reference `RateLimiter`,
    * `extract.py:44-71`): `acquire()` admits at most `rate` calls per
    * 1-second window; when the window's budget is spent, the caller
    * sleeps until the window turns and the counter resets. */
  final class RateLimiter(rate: Int) {
    require(rate > 0, s"rate must be positive, got $rate")
    private[this] var made = 0
    private[this] var windowStart = System.nanoTime()

    def acquire(): Unit = synchronized {
      val now = System.nanoTime()
      if (now - windowStart >= 1000000000L) {
        made = 0
        windowStart = now
      }
      if (made >= rate) {
        val sleepNs = 1000000000L - (now - windowStart)
        if (sleepNs > 0)
          Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
        made = 0
        windowStart = System.nanoTime()
      }
      made += 1
    }
  }

  // one limiter per (endpoint base, rate) per JVM: executor threads
  // fetching different pages of the same API share a budget, exactly like
  // the reference's ThreadPoolExecutor workers sharing one RateLimiter
  private val limiters = new ConcurrentHashMap[(String, Int), RateLimiter]()

  private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30))
    .build()

  def isHttp(dir: String): Boolean =
    dir.startsWith("http://") || dir.startsWith("https://")

  /** GET `url` with the page contract's retry + rate-limit semantics.
    * Every attempt (including retries) pays a limiter acquire — a
    * retrying client must not exceed the endpoint's budget. */
  def fetch(url: String, conf: RestConf): Array[Byte] =
    fetchOpt(url, conf).getOrElse(throw new java.io.IOException(
      s"graft-rest: GET $url returned 404"))

  /** Like [[fetch]], but a 404 is a definitive no-match (`None`, no
    * retry) — the per-key lookup contract, where an unknown key is data,
    * not an outage. Transient statuses and IO failures still retry and
    * ultimately raise. */
  def fetchOpt(url: String, conf: RestConf): Option[Array[Byte]] = {
    val limiter =
      if (conf.rateLimit > 0)
        limiters.computeIfAbsent((conf.dir, conf.rateLimit),
          { case (_, r) => new RateLimiter(r) })
      else null
    var attempt = 0
    var lastErr: String = null
    while (attempt <= conf.maxRetries) {
      if (attempt > 0) Thread.sleep(conf.retryDelayMs)
      if (limiter != null) limiter.acquire()
      try {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(url)).GET()
            .timeout(Duration.ofSeconds(90)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        if (resp.statusCode() == 200) return Some(resp.body())
        if (resp.statusCode() == 404) return None
        lastErr = s"status ${resp.statusCode()}"
      } catch {
        case e: java.io.IOException => lastErr = e.toString
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"graft-rest: GET $url failed after ${conf.maxRetries + 1} attempts ($lastErr)")
  }
}
