package graft.cache

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap

/** Executor-local cache metrics, names following the reference's
  * docs/metrics.rst counters (hit/miss/eviction/invalidation and
  * MB-from-cache vs MB-from-source client stats).
  *
  * Every counter additionally mirrors its bumps into a tag-keyed shadow
  * when the bumping thread runs under a [[MetricsTag]] — per-query
  * attribution, so metric contracts (c08/c11/c12) read only their own
  * execution's traffic and need no serial lane in the concurrent harness.
  * The shadow map is per-metrics-instance (per CacheManager), bounded by
  * the number of live tags; [[dropTag]] reclaims a tag when its reader is
  * done.
  */
final class CacheMetrics {

  private val taggedStore =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]

  /** AtomicLong-shaped counter (same call-site API) that also bills the
    * current [[MetricsTag]], if any. */
  final class Counter private[CacheMetrics] (val name: String) {
    private val global = new AtomicLong
    private def bump(n: Long): Unit = MetricsTag.current.foreach { t =>
      taggedStore.computeIfAbsent(t, _ => new ConcurrentHashMap)
        .computeIfAbsent(name, _ => new AtomicLong)
        .addAndGet(n)
    }
    def incrementAndGet(): Long = { bump(1L); global.incrementAndGet() }
    def addAndGet(n: Long): Long = { bump(n); global.addAndGet(n) }
    def get: Long = global.get
    def set(n: Long): Unit = global.set(n)
  }

  val cachedRequests = new Counter("cached_requests")
  val remoteRequests = new Counter("remote_requests")
  val nonlocalRequests = new Counter("nonlocal_requests")
  val bytesFromCache = new Counter("bytes_from_cache")
  val bytesFromRemote = new Counter("bytes_from_remote")
  val extraReadBytes = new Counter("extra_read_bytes")
  val evictions = new Counter("evictions")
  val invalidations = new Counter("invalidations")
  val warmupBytes = new Counter("warmup_bytes")
  val corruptionFallbacks = new Counter("corruption_fallbacks")
  val bytesFromPeers = new Counter("bytes_from_peers")
  val bytesToPeers = new Counter("bytes_to_peers")
  val peerFallbacks = new Counter("peer_fallbacks")
  val vectoredRanges = new Counter("vectored_ranges")

  /** Latency of each store GET of a miss, and of each cache fill. Not
    * tag-attributed and not cleared by [[reset]]; the hit path has no
    * timer. */
  val remoteFetch = new com.codahale.metrics.Timer
  val cacheFill = new com.codahale.metrics.Timer

  private def all: Seq[Counter] = Seq(cachedRequests, remoteRequests,
    nonlocalRequests, bytesFromCache, bytesFromRemote, extraReadBytes,
    evictions, invalidations, warmupBytes, corruptionFallbacks,
    bytesFromPeers, bytesToPeers, peerFallbacks, vectoredRanges)

  /** Server-side hit rate: cached / (cached + remote) block requests
    * (reference BookKeeper.java:213-229). */
  def hitRate: Double = {
    val c = cachedRequests.get + nonlocalRequests.get
    val t = c + remoteRequests.get
    if (t == 0) 0.0 else c.toDouble / t
  }

  def snapshot: ListMap[String, Long] =
    ListMap(all.map(c => c.name -> c.get): _*)

  /** Counters attributed to `tag` (zeros when the tag never ran). */
  def taggedSnapshot(tag: String): Map[String, Long] = {
    val m = taggedStore.get(tag)
    if (m == null) Map.empty.withDefaultValue(0L)
    else {
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k -> v.get }.toMap.withDefaultValue(0L)
    }
  }

  def dropTag(tag: String): Unit = taggedStore.remove(tag)

  def reset(): Unit = { all.foreach(_.set(0)); taggedStore.clear() }
}
