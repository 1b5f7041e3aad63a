package graft.runtime

/** Deterministic token bucket: `ratePerSecond` sustained, `burst`
  * capacity. Driver-side — it paces connector HTTP/JDBC calls, so a
  * single bucket governs the whole stream exactly like the reference's
  * Polly rate-limit policy on the REST pull (RestApiSource.cs:444-447). */
final class TokenBucket(
    ratePerSecond: Double,
    burst: Int,
    clock: () => Long = System.nanoTime) {

  require(ratePerSecond > 0 && burst > 0)
  private var tokens: Double = burst.toDouble
  private var last: Long = clock()

  def tryAcquire(): Boolean = synchronized {
    val now = clock()
    tokens = math.min(burst.toDouble, tokens + (now - last) / 1e9 * ratePerSecond)
    last = now
    if (tokens >= 1.0) { tokens -= 1.0; true } else false
  }

  /** Block until a token is available. */
  def acquire(sleep: Long => Unit = Thread.sleep): Unit = {
    while (!tryAcquire()) {
      val waitMillis = math.max(1L, math.ceil(1000.0 / ratePerSecond).toLong)
      sleep(waitMillis)
    }
  }
}
