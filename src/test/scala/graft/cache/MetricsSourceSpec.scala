package graft.cache

import com.codahale.metrics.Gauge
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The Dropwizard metrics surface must expose the reference's metric
  * names (docs/metrics.rst) with the reference's hit-rate formula
  * (BookKeeper.java:213-229), and register into a live Spark
  * MetricsSystem. */
class MetricsSourceSpec extends AnyFunSuite with CacheFixture {

  private def gaugeValue[T](src: CacheMetricsSource, name: String): T =
    src.metricRegistry.getGauges.get(name).asInstanceOf[Gauge[T]].getValue

  test("registry exposes the reference metric names") {
    val src = new CacheMetricsSource(manager)
    val names = src.metricRegistry.getGauges.keySet().asScala
    val expected = Set(
      "gauge.live_workers",
      "gauge.cache_size_mb", "gauge.available_cache_size_mb",
      "gauge.cache_hit_rate", "gauge.cache_miss_rate",
      "count.cache_eviction", "count.cache_invalidation",
      "count.total_request", "count.cache_request",
      "count.nonlocal_request", "count.remote_request",
      "count.total_async_request", "count.async_downloaded_mb",
      "count.cached_read_mb", "count.direct_read_mb",
      "count.extra_read_mb", "count.nonlocal_read_mb",
      "count.corruption_fallback", "count.peer_fallback")
    assert(expected.subsetOf(names.toSet),
      s"missing: ${expected -- names.toSet}")
    assert(src.sourceName == "graft.bookkeeper")
  }

  test("hit/miss rates and request counts follow the reference formula") {
    val src = new CacheMetricsSource(manager)
    val content = TestFiles.alphabetContent(1, 100)
    val f = TestFiles.write(tmp, "data/metrics.bin", content)
    // cold read: all remote requests
    val s1 = openCaching(f); readAll(s1, 0, 1000); s1.close()
    assert(gaugeValue[Long](src, "count.remote_request") == 10)
    assert(gaugeValue[Double](src, "gauge.cache_hit_rate") == 0.0)
    // warm re-read: all cached requests -> hit rate = 10 / 20
    val s2 = openCaching(f); readAll(s2, 0, 1000); s2.close()
    assert(gaugeValue[Long](src, "count.cache_request") == 10)
    assert(gaugeValue[Long](src, "count.total_request") == 20)
    assert(gaugeValue[Double](src, "gauge.cache_hit_rate") == 0.5)
    assert(gaugeValue[Double](src, "gauge.cache_miss_rate") == 0.5)
    assert(gaugeValue[Long](src, "gauge.cache_size_mb") ==
      manager.totalWeightKB / 1024)
  }

  test("miss-path timers: one remote_fetch per GET, one cache_fill per fill, none on a hit") {
    val src = new CacheMetricsSource(manager)
    val timers = src.metricRegistry.getTimers
    assert(timers.keySet().asScala == Set("timer.remote_fetch", "timer.cache_fill"))
    def counts = (timers.get("timer.remote_fetch").getCount,
      timers.get("timer.cache_fill").getCount)
    val f = TestFiles.write(tmp, "data/timers.bin", TestFiles.alphabetContent(1, 100))
    // blocks 0-9 and 12-21 of a file above the cap: two GETs, two fills
    val s1 = openCaching(f); readAll(s1, 0, 1000); readAll(s1, 1200, 1000); s1.close()
    assert(counts == ((2L, 2L)))
    val s2 = openCaching(f); readAll(s2, 0, 1000); s2.close()
    assert(counts == ((2L, 2L)))
  }

  test("source registers into a live Spark MetricsSystem") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val src = manager.metricsSource
      assert(src.isDefined, "SparkEnv is live, registration must succeed")
      // idempotent: same manager returns the same source
      assert(manager.metricsSource.get eq src.get)
    } finally {
      spark.stop()
    }
  }
}
