package graft.cache

import com.codahale.metrics.{Gauge, MetricRegistry}

/** Dropwizard metrics surface for the cache, pluggable into Spark's
  * MetricsSystem (so every configured sink — JMX, Graphite, Prometheus
  * servlet, CSV — sees cache health with zero extra wiring).
  *
  * Metric names mirror the reference's registry line-for-line
  * (docs/metrics.rst, BookKeeperMetrics.java:1-319) under the
  * `graft.bookkeeper` source: gauge.cache_size_mb, gauge.cache_hit_rate,
  * count.cache_eviction, count.nonlocal_request, ... so dashboards
  * written against the reference translate 1:1.
  *
  * Counters are exported as gauges reading the live atomics — the cache
  * already counts; re-counting into Dropwizard Counter objects would
  * double the bookkeeping and risk drift.
  */
final class CacheMetricsSource(val manager: CacheManager) {
  val sourceName: String = "graft.bookkeeper"
  val metricRegistry: MetricRegistry = new MetricRegistry

  private def m = manager.metrics
  private def gauge[T](name: String)(f: => T): Unit =
    metricRegistry.register(name, new Gauge[T] { override def getValue: T = f })

  // health (docs/metrics.rst "Health Metrics")
  gauge("gauge.live_workers")(Membership.members.size)

  // cache (docs/metrics.rst "Cache Metrics")
  gauge("gauge.cache_size_mb")(manager.totalWeightKB / 1024)
  gauge("gauge.available_cache_size_mb")(
    if (manager.budgetKB > 0)
      math.max(0L, manager.budgetKB - manager.totalWeightKB) / 1024
    else CacheManager.diskUsableBytes(manager.cacheDir) >> 20)
  gauge("gauge.cache_hit_rate")(m.hitRate)
  gauge("gauge.cache_miss_rate")(1.0 - m.hitRate)
  gauge("count.cache_eviction")(m.evictions.get)
  gauge("count.cache_invalidation")(m.invalidations.get)
  gauge("count.total_request")(
    m.cachedRequests.get + m.remoteRequests.get + m.nonlocalRequests.get)
  gauge("count.cache_request")(m.cachedRequests.get)
  gauge("count.nonlocal_request")(m.nonlocalRequests.get)
  gauge("count.remote_request")(m.remoteRequests.get)
  // the reference's async-warmup names: there is no async request here
  // (a miss fills read-through), and those fills are the downloaded MB
  gauge("count.total_async_request")(0L)
  gauge("count.async_downloaded_mb")(m.warmupBytes.get >> 20)

  // client-side stats (docs/metrics.rst "Client side Metrics")
  gauge("count.cached_read_mb")(m.bytesFromCache.get >> 20)
  gauge("count.direct_read_mb")(m.bytesFromRemote.get >> 20)
  gauge("count.extra_read_mb")(m.extraReadBytes.get >> 20)
  gauge("count.nonlocal_read_mb")(m.bytesFromPeers.get >> 20)
  gauge("count.corruption_fallback")(m.corruptionFallbacks.get)
  gauge("count.peer_fallback")(m.peerFallbacks.get)

  // latency distributions of the miss path (none on the hit path)
  metricRegistry.register("timer.remote_fetch", m.remoteFetch)
  metricRegistry.register("timer.cache_fill", m.cacheFill)
}
