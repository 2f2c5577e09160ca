package graft.cache

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.slf4j.LoggerFactory

/** The logged reason for every cache fallback: a read served from the
  * store instead of the cache or a peer, or a fill that left a miss in
  * place. One WARN per fallback class at most every [[IntervalMs]], with
  * the path, the cache generation (-1 when none was resolved), the cause
  * and how many fallbacks of that class went unlogged since the last
  * line. The exact totals stay in [[CacheMetrics]]
  * (`corruption_fallbacks`, `peer_fallbacks`, ...); the log says why. */
private[cache] object FallbackLog {
  private val log = LoggerFactory.getLogger("graft.cache.fallback")
  val IntervalMs = 10000L

  private final class Window {
    val lastMs = new AtomicLong(Long.MinValue)
    val held = new AtomicLong
  }
  private val windows = new ConcurrentHashMap[String, Window]

  def warn(kind: String, path: String, generation: Int, cause: Throwable): Unit = {
    val w = windows.computeIfAbsent(kind, _ => new Window)
    val now = System.currentTimeMillis()
    val last = w.lastMs.get
    if ((last != Long.MinValue && now - last < IntervalMs) ||
        !w.lastMs.compareAndSet(last, now)) {
      w.held.incrementAndGet()
      return
    }
    val held = w.held.getAndSet(0)
    log.warn(s"$kind fallback: path=$path generation=$generation cause=$cause" +
      (if (held > 0) s" ($held more since the last $kind line)" else ""))
  }
}
