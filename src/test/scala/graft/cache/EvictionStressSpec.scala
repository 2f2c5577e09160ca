package graft.cache

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Eviction under real Spark scans: with a cache budget smaller than the
  * data, repeated scans must stay correct, the cache weight must respect
  * the budget, and evictions must actually delete files (BASELINE.md
  * "eviction correctness" gate, reference CacheRemoval.robot analog). */
class EvictionStressSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var cacheDir: String = _
  private val sfDir = "/root/testdata/sf0.1" // lineitem+orders+part > 5MB

  override def beforeAll(): Unit = {
    cacheDir = java.nio.file.Files.createTempDirectory("graft-evict").toString
    org.apache.hadoop.fs.FileSystem.closeAll()
    CacheManager.resetForTest()
    spark = GraftSession.builder(master = "local[4]", shufflePartitions = 4,
        cacheDir = Some(cacheDir))
      .config("spark.hadoop.graft.cache.max.size.mb", "2")
      .config("spark.hadoop.graft.cache.block.size", "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.hadoop.fs.FileSystem.closeAll()
    CacheManager.resetForTest()
  }

  test("scans larger than the budget stay correct and within budget") {
    // full-row aggregations force real data-block reads (a bare count()
    // is answered from footer metadata and caches almost nothing)
    val tables = Seq("lineitem", "orders", "part", "customer")
    def agg(prefix: String, t: String): String =
      spark.read.parquet(s"$prefix$sfDir/$t.parquet")
        .selectExpr("sum(hash(*)) AS h").collect().head.toString
    def scanAll(): Seq[String] = tables.map(t => agg("graft://", t))
    val expected = tables.map(t => agg("", t))
    // several passes: each evicts earlier tables
    (1 to 3).foreach { _ =>
      assert(scanAll() == expected, "results must be exact under eviction")
    }
    val mgr = CacheManager.current.get
    assert(mgr.metrics.evictions.get > 0,
      "scanning >2MB through a 2MB cache must evict")
    assert(mgr.totalWeightKB <= 2 * 1024,
      s"weight ${mgr.totalWeightKB}KB exceeds 2MB budget")
    // on-disk usage is bounded too (sparse files count real blocks)
    val du = {
      def sz(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
        else f.length()
      sz(new java.io.File(cacheDir))
    }
    assert(du <= (8L << 20), s"cache dir ${du} bytes looks unbounded")
  }
}
