package graft.cache

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Cache hits show on Spark's own surface: bytes a `graft://` scan is
  * served from the local cache count in the task input metrics, as store
  * reads do. */
class InputMetricsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var tmp: String = _
  private val WarmTag = "graft.test.warm-scan"

  override def beforeAll(): Unit = {
    tmp = java.nio.file.Files.createTempDirectory("graft-input").toString
    org.apache.hadoop.fs.FileSystem.closeAll()
    CacheManager.resetForTest()
    spark = GraftSession.builder(master = "local[4]", shufflePartitions = 4,
      cacheDir = Some(s"$tmp/cache")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, 50000).repartition(4)
      .selectExpr("id", "id * 7 % 1000 AS v", "concat('row-', id) AS s")
      .write.parquet(s"$tmp/table")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.hadoop.fs.FileSystem.closeAll()
    CacheManager.resetForTest()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("a warm scan's task input bytes equal the bytes the cache served") {
    val sc = spark.sparkContext
    val scan = spark.read.parquet(s"graft://$tmp/table")
    scan.foreach(_ => ()) // cold: fills the cache
    val mgr = CacheManager.current.get
    val cached0 = mgr.metrics.bytesFromCache.get
    val remote0 = mgr.metrics.bytesFromRemote.get

    // the listener bus is asynchronous: events of the cold scan may still
    // be queued when the listener is added, so only the warm scan's job,
    // tagged by a local property, is counted and awaited
    val input = new AtomicLong
    val ended = new CountDownLatch(1)
    val warmJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val warmStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(WarmTag) != null) {
          e.stageIds.foreach(warmStages.add)
          warmJobs.add(e.jobId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && warmStages.contains(e.stageId))
          input.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (warmJobs.contains(e.jobId)) ended.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(WarmTag, "1")
      try scan.foreach(_ => ()) finally sc.setLocalProperty(WarmTag, null)
      assert(ended.await(30, TimeUnit.SECONDS), "the warm scan's job never ended")
    } finally sc.removeSparkListener(listener)

    assert(mgr.metrics.bytesFromRemote.get == remote0, "the warm scan must not read the store")
    val served = mgr.metrics.bytesFromCache.get - cached0
    assert(served > 0)
    assert(input.get == served,
      s"task input bytes ${input.get}, bytes served from the cache $served")
  }
}
