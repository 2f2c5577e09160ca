package graft.cache

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Local inner store that counts its metadata requests (HEAD = status,
  * LIST = listStatus) and stream opens. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    CountingLocalFs.heads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet(); super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val heads, lists, opens = new AtomicInteger
  def reset(): Unit = Seq(heads, lists, opens).foreach(_.set(0))
}

/** Local inner store whose status lookups made by the `held` thread stop
  * after fetching the status, until `release` opens: a HEAD in flight. */
class GatedLocalFs extends RawLocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    val st = super.getFileStatus(f)
    if (Thread.currentThread eq GatedLocalFs.held) {
      GatedLocalFs.entered.countDown()
      GatedLocalFs.release.await(30, TimeUnit.SECONDS)
    }
    st
  }
}

object GatedLocalFs {
  @volatile var held: Thread = _
  val entered, release = new CountDownLatch(1)
}

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

  /** A graft:// file system under authority `authority` whose store is
    * `impl`, registered as scheme `scheme`. Hadoop caches it per
    * authority, so Spark scans of `graft://<authority>/...` use it too. */
  private def graftOver(authority: String, scheme: String,
      impl: Class[_ <: FileSystem]): FileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("graft.underlying.scheme", scheme)
    conf.set(s"fs.$scheme.impl", impl.getName)
    FileSystem.get(java.net.URI.create(s"graft://$authority/"), conf)
  }

  private def sessionFs: FileSystem = FileSystem.get(
    java.net.URI.create("graft:///"), spark.sessionState.newHadoopConf())

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def tmpDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  test("a cache-hit parquet read sends no HEAD or LIST to the store") {
    val dir = tmpDir("graft-hot").resolve("t").toString
    spark.range(0, 1000).toDF("id").coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    graftOver("counted", "countfs", classOf[CountingLocalFs])
    def sumIds(): Long = spark.read.parquet(s"graft://counted${part.getPath}")
      .selectExpr("sum(id)").head.getLong(0)

    CountingLocalFs.reset()
    assert(sumIds() == 499500L)
    assert(CountingLocalFs.opens.get > 0, "scan tasks read through the counting store")
    CountingLocalFs.reset()
    assert(sumIds() == 499500L)
    assert(CountingLocalFs.heads.get == 0, "second read: no HEAD")
    assert(CountingLocalFs.lists.get == 0, "second read: no LIST")
  }

  test("a directory read lists the store every time and sees a file added directly") {
    val dir = tmpDir("graft-dir").resolve("t")
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir.toString)
    graftOver("counted", "countfs", classOf[CountingLocalFs])
    def rows(): Long = spark.read.parquet(s"graft://counted$dir").count()

    assert(rows() == 100L)
    CountingLocalFs.reset()
    assert(rows() == 100L)
    assert(CountingLocalFs.lists.get == 1, "directory listings are never cached")
    // a second part file, written straight into the directory
    val part = dir.toFile.listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, dir.resolve("part-copy.parquet"))
    CountingLocalFs.reset()
    assert(rows() == 200L, "the new file shows up at the next listing")
    assert(CountingLocalFs.lists.get == 1)
  }

  test("a missing path goes to the store on every lookup") {
    val fs = graftOver("counted", "countfs", classOf[CountingLocalFs])
    val local = tmpDir("graft-missing").resolve("absent.bin")
    val p = new Path(s"graft://counted$local")
    CountingLocalFs.reset()
    intercept[java.io.FileNotFoundException](fs.getFileStatus(p))
    intercept[java.io.FileNotFoundException](fs.getFileStatus(p))
    intercept[java.io.FileNotFoundException](fs.listStatus(p))
    intercept[java.io.FileNotFoundException](fs.open(p))
    assert(CountingLocalFs.heads.get == 3 && CountingLocalFs.lists.get == 1,
      "negative lookups are never cached")
    java.nio.file.Files.write(local, Array[Byte](1, 2, 3))
    assert(fs.getFileStatus(p).getLen == 3L)
  }

  test("a child of a directory deleted through graft:// is gone") {
    val fs = sessionFs
    val d = tmpDir("graft-del").resolve("d")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve("child.bin"), Array.fill[Byte](4096)('c'))
    val child = new Path(s"graft://$d/child.bin")
    assert(readAll(fs, child).sameElements(Array.fill[Byte](4096)('c')))

    assert(fs.delete(new Path(s"graft://$d"), true))
    assert(!fs.exists(child))
    intercept[java.io.FileNotFoundException](fs.open(child))
    val mgr = CacheManager.current.get
    assert(mgr.metadataFor(s"file:$d/child.bin").forall(_.isDeleted),
      "the child's cached blocks are dropped with its directory")
  }

  test("a child of a directory renamed through graft:// moves with it") {
    val fs = sessionFs
    val root = tmpDir("graft-ren")
    val (from, to) = (root.resolve("from"), root.resolve("to"))
    java.nio.file.Files.createDirectories(from)
    java.nio.file.Files.write(from.resolve("child.bin"), Array.fill[Byte](4096)('r'))
    val oldChild = new Path(s"graft://$from/child.bin")
    val newChild = new Path(s"graft://$to/child.bin")
    assert(readAll(fs, oldChild).length == 4096)

    assert(fs.rename(new Path(s"graft://$from"), new Path(s"graft://$to")))
    assert(!fs.exists(oldChild))
    intercept[java.io.FileNotFoundException](fs.open(oldChild))
    assert(fs.exists(newChild))
    assert(readAll(fs, newChild).sameElements(Array.fill[Byte](4096)('r')))
  }

  test("a status fetched across an overwrite through graft:// is not kept") {
    val fs = graftOver("gated", "gatedfs", classOf[GatedLocalFs])
    val local = tmpDir("graft-race").resolve("race.bin")
    java.nio.file.Files.write(local, Array.fill[Byte](4096)('a'))
    val p = new Path(s"graft://gated$local")

    // the reader's HEAD returns the pre-write status after the write closed
    val reader = new Thread(() => fs.open(p).close())
    GatedLocalFs.held = reader
    reader.start()
    try {
      assert(GatedLocalFs.entered.await(30, TimeUnit.SECONDS), "reader HEAD in flight")
      val out = fs.create(p, true)
      try out.write(Array.fill[Byte](8192)('b')) finally out.close()
    } finally {
      GatedLocalFs.release.countDown()
      reader.join(30000)
      GatedLocalFs.held = null
    }
    val after = readAll(fs, p)
    assert(after.length == 8192 && after.forall(_ == 'b'),
      s"next open must read the new bytes (got ${after.length})")
  }
}
