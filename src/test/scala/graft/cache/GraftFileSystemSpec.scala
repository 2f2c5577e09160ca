package graft.cache

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** End-to-end: Spark parquet scans through graft:// hit the block cache.
  * Mirrors SURVEY §7 phase 4's "minimum slice" acceptance: run the same
  * aggregation twice; the second run reads ~zero bytes from the source.
  */
class GraftFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var cacheDir: String = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    cacheDir = java.nio.file.Files.createTempDirectory("graft-fs-spec").toString
    org.apache.hadoop.fs.FileSystem.closeAll()
    CacheManager.resetForTest()
    spark = GraftSession.builder(master = "local[4]", shufflePartitions = 4,
      cacheDir = Some(cacheDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    CacheManager.resetForTest()
  }

  test("graft:// scan equals direct scan, warm run serves from cache") {
    val direct = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").sum("l_quantity")
      .collect().map(_.toString).sorted

    val cold = spark.read.parquet(s"graft://$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").sum("l_quantity")
      .collect().map(_.toString).sorted
    assert(cold.sameElements(direct), "cached scan must be byte-equivalent")

    val mgr = CacheManager.current.get
    val remoteAfterCold = mgr.metrics.bytesFromRemote.get
    assert(remoteAfterCold > 0, "cold run must read from source")
    assert(mgr.metrics.warmupBytes.get > 0, "cold run must warm the cache")

    val warm = spark.read.parquet(s"graft://$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").sum("l_quantity")
      .collect().map(_.toString).sorted
    assert(warm.sameElements(direct))
    val remoteDelta = mgr.metrics.bytesFromRemote.get - remoteAfterCold
    assert(remoteDelta == 0,
      s"warm run must not touch the source (delta=$remoteDelta)")
    assert(mgr.metrics.hitRate > 0.4, s"hit rate ${mgr.metrics.hitRate}")
  }

  test("skip-cache pattern bypasses caching") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("graft:///"),
      spark.sessionState.newHadoopConf())
      .asInstanceOf[GraftFileSystem]
    assert(fs.admitted(new org.apache.hadoop.fs.Path("graft:///a/b.parquet")))
    val conf2 = spark.sessionState.newHadoopConf()
    conf2.set(CacheConfig.SkipPatternKey, ".*\\.csv")
    val fs2 = new GraftFileSystem()
    fs2.initialize(java.net.URI.create("graft:///"), conf2)
    assert(!fs2.admitted(new org.apache.hadoop.fs.Path("graft:///a/b.csv")))
    assert(fs2.admitted(new org.apache.hadoop.fs.Path("graft:///a/b.parquet")))
  }

  test("writes delegate through graft:// (sink parity)") {
    val out = s"graft://$cacheDir/out-sink"
    spark.range(0, 100).toDF("id").write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).count()
    assert(back == 100)
  }

  test("overwrite through graft:// invalidates eagerly (no TTL stale reads)") {
    // raw-byte file so the content is fully under our control
    val dataDir = java.nio.file.Files.createTempDirectory("graft-mut").toString
    val p = java.nio.file.Paths.get(dataDir, "mut.bin")
    java.nio.file.Files.write(p, Array.fill[Byte](4096)('a'))

    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("graft:///"), spark.sessionState.newHadoopConf())
    val gp = new org.apache.hadoop.fs.Path(s"graft://$p")

    def readFirst(n: Int): Array[Byte] = {
      val in = fs.open(gp)
      try { val b = new Array[Byte](n); in.readFully(0, b); b }
      finally in.close()
    }
    assert(readFirst(16).forall(_ == 'a'), "warm the cache with the original bytes")

    // overwrite THROUGH the caching FS: same length, same-second mtime is
    // possible — only eager invalidation makes the next read correct
    val outStream = fs.create(gp, true)
    try outStream.write(Array.fill[Byte](4096)('b')) finally outStream.close()

    assert(readFirst(16).forall(_ == 'b'),
      "read-after-overwrite must see new bytes, not TTL-stale cache")

    // delete through the FS drops the cache entry too
    assert(fs.delete(gp, false))
    assert(CacheManager.current.get.metadataFor("file:" + p).isEmpty ||
      CacheManager.current.get.metadataFor("file:" + p).exists(_.isDeleted),
      "delete must invalidate the cache entry")
  }

  test("open on a missing graft:// path throws FileNotFoundException") {
    // Spark keys spark.sql.files.ignoreMissingFiles and its missing-file
    // error on this exact type
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("graft:///"), spark.sessionState.newHadoopConf())
    intercept[java.io.FileNotFoundException] {
      fs.open(new org.apache.hadoop.fs.Path(s"graft://$cacheDir/no-such-file.bin"))
    }
  }

  test("projection-width admission refuses narrow scans at the FS layer") {
    import org.apache.spark.sql.types._
    // A per-scan FS instance (the fs.graft.impl.disable.cache deployment)
    // is initialized with the scan's own conf, which carries Spark's
    // pushed parquet projection — admission must key on its width
    // (reference minColumnsSelected, CacheUtil.java:385-388).
    def fsWith(minCols: Int, schema: Option[StructType]): GraftFileSystem = {
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sessionState.newHadoopConf())
      conf.setInt(CacheConfig.MinColumnsKey, minCols)
      schema.foreach(s =>
        conf.set("org.apache.spark.sql.parquet.row.requested_schema", s.json))
      val f = new GraftFileSystem
      f.initialize(java.net.URI.create("graft:///"), conf)
      f
    }
    val p = new org.apache.hadoop.fs.Path(s"graft://$sfDir/lineitem.parquet")
    val narrow = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType)))
    val wide = StructType((1 to 5).map(i => StructField(s"c$i", LongType)))
    assert(!fsWith(3, Some(narrow)).admitted(p),
      "2-col projection below floor 3 must bypass the cache")
    assert(fsWith(3, Some(wide)).admitted(p), "5-col projection is admitted")
    assert(fsWith(3, None).admitted(p),
      "unknown projection width stays admitted (no column hint = no gate)")
    assert(fsWith(0, Some(narrow)).admitted(p), "floor 0 disables the gate")
  }
}
