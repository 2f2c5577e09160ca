package graft.cache

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import scala.jdk.CollectionConverters._

/** Packaged metric reporters (reference BookKeeperMetrics.java ships
  * JMX/StatsD/Ganglia wiring): GraftSession.withJmxMetrics must surface
  * the cache gauges as live JMX MBeans with zero further configuration. */
class MetricsSinkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var cacheDir: String = _

  override def beforeAll(): Unit = {
    cacheDir = java.nio.file.Files.createTempDirectory("graft-jmx").toString
    org.apache.hadoop.fs.FileSystem.closeAll()
    CacheManager.resetForTest()
    spark = GraftSession.withJmxMetrics(
      GraftSession.builder(master = "local[2]", shufflePartitions = 2,
        cacheDir = Some(cacheDir))).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    CacheManager.resetForTest()
  }

  test("withJmxMetrics exposes cache gauges as JMX MBeans") {
    // a cached scan registers the graft.bookkeeper source and moves bytes
    spark.read.parquet("graft:///root/testdata/sf0.001/nation.parquet")
      .count()
    val server = java.lang.management.ManagementFactory.getPlatformMBeanServer
    val names = server.queryNames(null, null).asScala
      .map(_.toString).filter(_.contains("graft.bookkeeper"))
    assert(names.nonEmpty, "no graft.bookkeeper MBeans registered")
    val hitRate = names.find(_.contains("cache_hit_rate"))
    assert(hitRate.isDefined, s"cache_hit_rate gauge missing in:\n${names.mkString("\n")}")
    val v = server.getAttribute(
      new javax.management.ObjectName(hitRate.get), "Value")
    assert(v.isInstanceOf[java.lang.Double], s"gauge value $v")
  }

  test("csvMetricsConf carries the periodic CSV sink properties") {
    val opts = GraftSession.csvMetricsConf("/tmp/graft-csv", 5)
    assert(opts("spark.metrics.conf.*.sink.csv.class")
      == "org.apache.spark.metrics.sink.CsvSink")
    assert(opts("spark.metrics.conf.*.sink.csv.directory") == "/tmp/graft-csv")
    assert(opts("spark.metrics.conf.*.sink.csv.period") == "5")
    assert(GraftSession.jmxMetricsConf.values
      .exists(_.endsWith("JmxSink")))
  }

  test("statsdMetricsConf carries the UDP StatsD sink properties") {
    val opts = GraftSession.statsdMetricsConf("10.0.0.9", 9125, 5)
    assert(opts("spark.metrics.conf.*.sink.statsd.class")
      == "org.apache.spark.metrics.sink.StatsdSink")
    assert(opts("spark.metrics.conf.*.sink.statsd.host") == "10.0.0.9")
    assert(opts("spark.metrics.conf.*.sink.statsd.port") == "9125")
    assert(opts("spark.metrics.conf.*.sink.statsd.period") == "5")
    // the sink class must actually exist on this Spark's classpath
    assert(Class.forName("org.apache.spark.metrics.sink.StatsdSink") != null)
  }

  test("statsdMetricsConf passes the metric-name prefix through") {
    val opts = GraftSession.statsdMetricsConf(prefix = "prod.graft")
    assert(opts("spark.metrics.conf.*.sink.statsd.prefix") == "prod.graft")
  }

  test("gangliaMetricsConf carries the Ganglia reporter properties") {
    // reference BookKeeperMetrics ships a GangliaReporter; Spark's sink
    // class is in the separately-deployed spark-ganglia-lgpl jar, so only
    // the conf shape is assertable here (the class is absent by design)
    val opts = GraftSession.gangliaMetricsConf("239.2.11.71", 8649, 10)
    assert(opts("spark.metrics.conf.*.sink.ganglia.class")
      == "org.apache.spark.metrics.sink.GangliaSink")
    assert(opts("spark.metrics.conf.*.sink.ganglia.host") == "239.2.11.71")
    assert(opts("spark.metrics.conf.*.sink.ganglia.port") == "8649")
    assert(opts("spark.metrics.conf.*.sink.ganglia.mode") == "multicast")
  }
}
