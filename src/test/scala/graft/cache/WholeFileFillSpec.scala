package graft.cache

import java.io.{File, IOException, RandomAccessFile}
import java.net.URI
import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.scalatest.funsuite.AnyFunSuite

/** Object-store-like read stream over a local file: `beforeGet` runs once
  * per positioned read (one ranged GET) with its offset, before any byte
  * moves, so a test can hold, gate or fail single block GETs. */
final class HookedFileStream(file: File, beforeGet: Long => Unit)
    extends FSInputStream {
  private val raf = new RandomAccessFile(file, "r")
  private var pos = 0L

  override def readFully(position: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    beforeGet(position)
    raf.synchronized {
      raf.seek(position)
      raf.readFully(buf, off, len)
    }
  }
  override def read(position: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    beforeGet(position)
    raf.synchronized { raf.seek(position); raf.read(buf, off, len) }
  }
  override def read(): Int = raf.synchronized {
    raf.seek(pos); val b = raf.read(); if (b >= 0) pos += 1; b
  }
  override def seek(p: Long): Unit = pos = p
  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def close(): Unit = raf.close()
}

/** Local store that, like S3A, sends a HEAD (a status lookup) from every
  * `open`, unless `openFile` hands it the file's status. */
class StatusAwareLocalFs extends RawLocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    StatusAwareLocalFs.heads.incrementAndGet(); super.getFileStatus(f)
  }
  override protected def openFileWithOptions(path: Path,
      parameters: OpenFileParameters): CompletableFuture[FSDataInputStream] =
    if (parameters.getStatus == null) super.openFileWithOptions(path, parameters)
    else CompletableFuture.completedFuture(
      new FSDataInputStream(new HookedFileStream(pathToFile(path), _ => ())))
}

object StatusAwareLocalFs { val heads = new AtomicInteger }

/** Local store whose block GETs stop while `holding` is set, until
  * `release` opens. */
class HeldGetLocalFs extends RawLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    new FSDataInputStream(new HookedFileStream(pathToFile(f), _ =>
      if (HeldGetLocalFs.holding) {
        HeldGetLocalFs.entered.countDown()
        HeldGetLocalFs.release.await(30, TimeUnit.SECONDS)
      }))
}

object HeldGetLocalFs {
  @volatile var holding = false
  val entered, release = new CountDownLatch(1)
}

/** The miss path: a miss in a file no longer than `maxReadRequestSize`
  * (1000 bytes here, blocks of 100) fetches every uncached block of the
  * file, each contiguous run of blocks with one GET. */
class WholeFileFillSpec extends AnyFunSuite with CacheFixture {

  private def stream(f: String, mgr: CacheManager, policy: CacheConfig)(
      open: () => FSDataInputStream): CachingInputStream = {
    val st = localFs.getFileStatus(new Path(f))
    new CachingInputStream(open, "file:" + f, st.getLen,
      st.getModificationTime, mgr, policy)
  }

  private def hooked(f: String)(beforeGet: Long => Unit): () => FSDataInputStream =
    () => new FSDataInputStream(new HookedFileStream(new File(f), beforeGet))

  test("a one-byte read of a small file caches every block; a later read opens nothing") {
    val content = TestFiles.alphabetContent(1, 100).take(500) // 5 blocks
    val f = TestFiles.write(tmp, "c/small.bin", content)
    val opens = new AtomicInteger
    val gets = new AtomicInteger
    def counted() = stream(f, manager, conf) { () =>
      opens.incrementAndGet()
      hooked(f)(_ => gets.incrementAndGet())()
    }
    val s1 = counted()
    assert(readAll(s1, 250, 1).sameElements(content.slice(250, 251)))
    s1.close()
    assert(gets.get == 1, "the file's five blocks are one GET")
    assert(manager.metadataFor("file:" + f).get.allCached(0, 5),
      "the miss fetched the file's other blocks")
    assert(manager.metrics.remoteRequests.get == 1,
      "only the requested block counts as a request")
    assert(manager.metrics.extraReadBytes.get == 499)
    opens.set(0)
    val s2 = counted()
    assert(readAll(s2, 400, 100).sameElements(content.slice(400, 500)))
    s2.close()
    assert(opens.get == 0, "a read of cached blocks opens no inner stream")
  }

  test("a miss in a file above the cap fetches only its capped groups") {
    val content = TestFiles.alphabetContent(1, 100) // 26 blocks, cap 10
    val f = TestFiles.write(tmp, "c/large.bin", content)
    val opens = new AtomicInteger
    val gets = new AtomicInteger
    val s = stream(f, manager, conf) { () =>
      opens.incrementAndGet()
      hooked(f)(_ => gets.incrementAndGet())()
    }
    try assert(readAll(s, 150, 1500).sameElements(content.slice(150, 1650)))
    finally s.close()
    assert(gets.get == 2, "blocks 1-10 and 11-16 are one GET each")
    assert(opens.get == 1)
    val m = manager.metadataFor("file:" + f).get
    assert(m.allCached(1, 17) && !m.isBlockCached(0) && !m.isBlockCached(17),
      "a file above the cap is not widened")
  }

  test("a cold read through graft:// sends no HEAD beyond the status lookup") {
    val content = TestFiles.alphabetContent(1, 100).take(300)
    val f = TestFiles.write(tmp, "c/head.bin", content)
    val c = new Configuration()
    c.set("fs.graft.impl", classOf[GraftFileSystem].getName)
    c.setBoolean("fs.graft.impl.disable.cache", true)
    c.set("graft.underlying.scheme", "statusfs")
    c.set("fs.statusfs.impl", classOf[StatusAwareLocalFs].getName)
    c.setBoolean("fs.statusfs.impl.disable.cache", true)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    val fs = FileSystem.get(URI.create("graft:///"), c)
    try {
      StatusAwareLocalFs.heads.set(0)
      val in = fs.open(new Path(s"graft://$f"))
      val got = new Array[Byte](300)
      try in.readFully(0, got) finally in.close()
      assert(got.sameElements(content))
      assert(StatusAwareLocalFs.heads.get == 1,
        s"${StatusAwareLocalFs.heads.get} HEADs: inner streams must open with the known status")
    } finally {
      fs.close()
      CacheManager.resetForTest()
    }
  }

  test("a widened block whose GET fails stays a miss; the read is byte-exact") {
    val content = TestFiles.alphabetContent(1, 100).take(400)
    // block 2 cached, so the miss on block 0 fetches blocks 0-1 with one
    // GET and block 3 with a GET of its own, which fails
    def withBlock2Cached(mgr: CacheManager, f: String): Unit = {
      val st = localFs.getFileStatus(new Path(f))
      val gen = mgr.getCacheStatus("file:" + f, 400, st.getModificationTime, 0, 4).generation
      mgr.fill("file:" + f, 400, st.getModificationTime, gen, 200,
        content.slice(200, 300), 100)
    }
    def failBlock3(f: String) = hooked(f) { at =>
      if (at == 300) throw new IOException("GET of block 3 failed")
    }
    val f = TestFiles.write(tmp, "c/flaky.bin", content)
    val relaxedConf = mkConf(strict = false)
    val relaxed = new CacheManager(relaxedConf)
    withBlock2Cached(relaxed, f)
    val s = stream(f, relaxed, relaxedConf)(failBlock3(f))
    try assert(readAll(s, 0, 1).sameElements(content.take(1)))
    finally s.close()
    val m = relaxed.metadataFor("file:" + f).get
    assert(m.allCached(0, 3), "block 1 was fetched with the miss on block 0")
    assert(!m.isBlockCached(3), "the failed block stays a miss")
    val again = stream(f, relaxed, relaxedConf)(() => localFs.open(new Path(f)))
    try assert(readAll(again, 0, 400).sameElements(content))
    finally again.close()

    // strict mode fails the read instead
    val g = TestFiles.write(tmp, "c/flaky-strict.bin", content)
    withBlock2Cached(manager, g)
    val strict = stream(g, manager, conf)(failBlock3(g))
    try intercept[IOException](readAll(strict, 0, 1))
    finally strict.close()
  }

  test("a rewrite through graft:// while block GETs are in flight: the next read sees it") {
    val old = TestFiles.alphabetContent(1, 100).take(300)
    val fresh = old.reverse
    val f = TestFiles.write(tmp, "c/rewrite.bin", old)
    val c = new Configuration()
    c.set("fs.graft.impl", classOf[GraftFileSystem].getName)
    c.setBoolean("fs.graft.impl.disable.cache", true)
    c.set("graft.underlying.scheme", "heldfs")
    c.set("fs.heldfs.impl", classOf[HeldGetLocalFs].getName)
    c.setBoolean("fs.heldfs.impl.disable.cache", true)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    val fs = FileSystem.get(URI.create("graft:///"), c)
    val gp = new Path(s"graft://$f")
    def read(): Array[Byte] = {
      val in = fs.open(gp)
      val b = new Array[Byte](300)
      try in.readFully(0, b) finally in.close()
      b
    }
    HeldGetLocalFs.holding = true
    val reader = new Thread(() => try read() catch { case _: Exception => })
    try {
      reader.start()
      assert(HeldGetLocalFs.entered.await(30, TimeUnit.SECONDS), "block GET in flight")
      val out = fs.create(gp, true)
      try out.write(fresh) finally out.close()
    } finally {
      HeldGetLocalFs.holding = false
      HeldGetLocalFs.release.countDown()
      reader.join(30000)
    }
    try {
      assert(read().sameElements(fresh), "a GET of the old version was cached")
      assert(read().sameElements(fresh))
    } finally {
      fs.close()
      CacheManager.resetForTest()
    }
  }
}
