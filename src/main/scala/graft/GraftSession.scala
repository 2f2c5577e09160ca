package graft

import org.apache.spark.sql.SparkSession

/** Session factory wiring the caching filesystem + scale-appropriate SQL
  * defaults. `graft://` paths then read through the executor-local block
  * cache on any Spark scan (see graft.cache.GraftFileSystem).
  */
object GraftSession {

  def builder(master: String = "local[*]",
      shufflePartitions: Int = 32,
      cacheDir: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Static conf, default 100: with ~80 distinct plan shapes per session
      // (and far more on a long-lived cluster), Janino-compiled classes
      // evict mid-session and every re-run pays full recompile + fresh JIT
      // (measured: q31 warm 5.0s under eviction vs 1.3s compiled-cached).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Runtime bloom filters: semi-join-reduce big-big shuffle joins
      // behind selective dim filters (the q44 shape). Spark's size
      // thresholds (creation side <10MB, application side >10GB) keep
      // the rule dormant at test scale; RuntimeFilterSpec drops them to
      // prove injection works and preserves results.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graft.impl", "graft.cache.GraftFileSystem")
      .config("spark.hadoop.graft.underlying.scheme", "file")
      // Parquet's Hadoop vectored-IO path: the reader hands the footer's
      // column-chunk ranges to PositionedReadable.readVectored in one
      // call instead of seek+read per chunk. CachingInputStream overrides
      // it (ranges run the chain planner and fill inline, in order);
      // here it exercises the same code path VectoredReadSpec pins.
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "true")
    cacheDir.foreach(d => b.config("spark.hadoop.graft.cache.dir", d))
    b
  }

  /** Out-of-the-box metric sink wiring (reference parity:
    * BookKeeperMetrics.java ships JMX/StatsD/Ganglia reporters configured
    * from rubix.metrics.* keys). The cache already registers a Dropwizard
    * source (`graft.bookkeeper`, CacheMetricsSource) with Spark's
    * MetricsSystem; these helpers turn on the matching SINKS with one
    * call instead of hand-writing spark.metrics.conf.* properties:
    *
    *   GraftSession.withJmxMetrics(GraftSession.builder(...))
    *     — every gauge under `graft.bookkeeper` appears as a JMX MBean
    *       (`metrics:name=...graft.bookkeeper...`), the reference's
    *       default reporter.
    *   GraftSession.withCsvMetrics(b, dir, periodSec)
    *     — periodic CSV dumps, the drop-in for StatsD/Ganglia-style
    *       shipping where no JMX scraper exists.
    *
    * Spark reads metrics properties once at SparkContext start, so these
    * must be applied to the builder BEFORE getOrCreate(). */
  def jmxMetricsConf: Map[String, String] = Map(
    "spark.metrics.conf.*.sink.jmx.class" ->
      "org.apache.spark.metrics.sink.JmxSink")

  def csvMetricsConf(dir: String, periodSec: Int = 10): Map[String, String] =
    Map(
      "spark.metrics.conf.*.sink.csv.class" ->
        "org.apache.spark.metrics.sink.CsvSink",
      "spark.metrics.conf.*.sink.csv.directory" -> dir,
      "spark.metrics.conf.*.sink.csv.period" -> periodSec.toString,
      "spark.metrics.conf.*.sink.csv.unit" -> "seconds")

  private def applyConf(b: SparkSession.Builder,
      conf: Map[String, String]): SparkSession.Builder = {
    conf.foreach { case (k, v) => b.config(k, v) }
    b
  }

  def withJmxMetrics(b: SparkSession.Builder): SparkSession.Builder =
    applyConf(b, jmxMetricsConf)

  def withCsvMetrics(b: SparkSession.Builder, dir: String,
      periodSec: Int = 10): SparkSession.Builder =
    applyConf(b, csvMetricsConf(dir, periodSec))

  /** StatsD sink (reference parity: BookKeeperMetrics' StatsDReporter,
    * rubix.metrics.statsd.* keys → Spark's built-in StatsdSink). Same
    * one-call contract as the JMX/CSV helpers: apply before
    * getOrCreate(). */
  def statsdMetricsConf(host: String = "127.0.0.1", port: Int = 8125,
      periodSec: Int = 10, prefix: String = "graft"): Map[String, String] =
    Map(
      "spark.metrics.conf.*.sink.statsd.class" ->
        "org.apache.spark.metrics.sink.StatsdSink",
      "spark.metrics.conf.*.sink.statsd.host" -> host,
      "spark.metrics.conf.*.sink.statsd.port" -> port.toString,
      "spark.metrics.conf.*.sink.statsd.period" -> periodSec.toString,
      "spark.metrics.conf.*.sink.statsd.unit" -> "seconds",
      "spark.metrics.conf.*.sink.statsd.prefix" -> prefix)

  def withStatsdMetrics(b: SparkSession.Builder, host: String = "127.0.0.1",
      port: Int = 8125, periodSec: Int = 10,
      prefix: String = "graft"): SparkSession.Builder =
    applyConf(b, statsdMetricsConf(host, port, periodSec, prefix))

  /** Ganglia sink (reference parity: BookKeeperMetrics' GangliaReporter,
    * rubix.metrics.ganglia.* keys). Spark's GangliaSink lives in the
    * separately-shipped spark-ganglia-lgpl package (LGPL licensing keeps
    * it out of the core distribution), so — unlike the JMX/CSV/StatsD
    * helpers — this wiring only takes effect on clusters that deploy
    * that jar; on this container the class is absent and the conf is
    * inert. Same one-call, apply-before-getOrCreate contract. */
  def gangliaMetricsConf(host: String, port: Int = 8649,
      periodSec: Int = 10, mode: String = "multicast",
      ttl: Int = 1): Map[String, String] =
    Map(
      "spark.metrics.conf.*.sink.ganglia.class" ->
        "org.apache.spark.metrics.sink.GangliaSink",
      "spark.metrics.conf.*.sink.ganglia.host" -> host,
      "spark.metrics.conf.*.sink.ganglia.port" -> port.toString,
      "spark.metrics.conf.*.sink.ganglia.period" -> periodSec.toString,
      "spark.metrics.conf.*.sink.ganglia.unit" -> "seconds",
      "spark.metrics.conf.*.sink.ganglia.mode" -> mode,
      "spark.metrics.conf.*.sink.ganglia.ttl" -> ttl.toString)

  def withGangliaMetrics(b: SparkSession.Builder, host: String,
      port: Int = 8649, periodSec: Int = 10): SparkSession.Builder =
    applyConf(b, gangliaMetricsConf(host, port, periodSec))
}
