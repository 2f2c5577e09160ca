package graft.cache

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic test content mirroring the reference's DataGen
  * (rubix-common DataGen.java:38-57): 'a'..'z' each repeated
  * `sizeMultiplier` times. */
object TestFiles {
  def alphabetContent(jump: Int, sizeMultiplier: Int): Array[Byte] = {
    val sb = new StringBuilder
    var c = 'a'
    while (c <= 'z') {
      sb.append(c.toString * sizeMultiplier)
      c = (c + jump).toChar
    }
    sb.toString.getBytes("ASCII")
  }

  def write(dir: String, name: String, content: Array[Byte]): String = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, content)
    p.toString
  }
}

trait CacheFixture extends BeforeAndAfterEach { self: AnyFunSuite =>
  var tmp: String = _
  var cacheDir: String = _
  var conf: CacheConfig = _
  var manager: CacheManager = _
  val localFs: FileSystem = FileSystem.getLocal(new Configuration())

  def mkConf(maxMB: Long = 0L, strict: Boolean = true,
      dummy: Boolean = false): CacheConfig = {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setLong(CacheConfig.MaxSizeKey, maxMB)
    c.setBoolean(CacheConfig.StrictKey, strict)
    c.setBoolean(CacheConfig.DummyKey, dummy)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    CacheConfig.from(c)
  }

  override def beforeEach(): Unit = {
    tmp = Files.createTempDirectory("graft-test").toString
    cacheDir = s"$tmp/cache"
    CacheManager.resetForTest()
    conf = mkConf()
    manager = new CacheManager(conf)
  }

  override def afterEach(): Unit = {
    manager.clear()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** A stream over `file` through `mgr` (default: the fixture's manager)
    * under the read policy of `policy` (default: the fixture's conf). */
  def openCaching(file: String, mgr: CacheManager = null,
      policy: CacheConfig = null): CachingInputStream = {
    val m = if (mgr == null) manager else mgr
    val st = localFs.getFileStatus(new Path(file))
    new CachingInputStream(() => localFs.open(new Path(file)),
      "file:" + file, st.getLen, st.getModificationTime, m,
      if (policy == null) conf else policy)
  }

  def readAll(s: CachingInputStream, pos: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    s.seek(pos)
    var off = 0
    while (off < len) {
      val n = s.read(buf, off, len - off)
      assert(n > 0, s"short read at $pos+$off")
      off += n
    }
    buf
  }
}

class CachingInputStreamSpec extends AnyFunSuite with CacheFixture {
  val content: Array[Byte] = TestFiles.alphabetContent(1, 100) // 2600 bytes, 26 blocks

  test("read-through warmup then cached re-read is byte-exact") {
    val f = TestFiles.write(tmp, "data/alpha.bin", content)
    val s1 = openCaching(f)
    // cold read spanning partial blocks
    val got = readAll(s1, 150, 500)
    assert(got.sameElements(content.slice(150, 650)))
    s1.close()
    val m = manager.metadataFor("file:" + f).get
    // blocks 1..6 fully cached (150..650 spans blocks 1-6)
    assert(m.allCached(1, 7))
    val remoteBefore = manager.metrics.bytesFromRemote.get

    val s2 = openCaching(f)
    val got2 = readAll(s2, 150, 500)
    s2.close()
    assert(got2.sameElements(content.slice(150, 650)))
    assert(manager.metrics.bytesFromRemote.get == remoteBefore,
      "warm read must not touch the source")
    assert(manager.metrics.bytesFromCache.get >= 500)
  }

  test("whole-file read warms every block incl. partial tail") {
    val odd = content ++ "tail".getBytes("ASCII") // 2604 bytes -> partial last block
    val f = TestFiles.write(tmp, "data/odd.bin", odd)
    val s = openCaching(f)
    val got = readAll(s, 0, odd.length)
    s.close()
    assert(got.sameElements(odd))
    val m = manager.metadataFor("file:" + f).get
    assert(m.allCached(0, BlockMath.blockCount(odd.length, 100)))
    // second full read from cache only
    val before = manager.metrics.bytesFromRemote.get
    val s2 = openCaching(f)
    assert(readAll(s2, 0, odd.length).sameElements(odd))
    s2.close()
    assert(manager.metrics.bytesFromRemote.get == before)
  }

  test("mixed plan: cached + remote chains in one read") {
    val f = TestFiles.write(tmp, "data/mix.bin", content)
    val s1 = openCaching(f)
    readAll(s1, 300, 100) // warm block 3 exactly
    s1.close()
    val s2 = openCaching(f)
    val got = readAll(s2, 250, 300) // blocks 2(miss),3(hit),4,5(miss)
    s2.close()
    assert(got.sameElements(content.slice(250, 550)))
    val m = manager.metadataFor("file:" + f).get
    assert(m.allCached(2, 6))
  }

  test("affix over-read is accounted") {
    val f = TestFiles.write(tmp, "data/affix.bin", content)
    val s = openCaching(f)
    readAll(s, 150, 100) // spans blocks 1-2 partially: 200 backend vs 100 actual
    s.close()
    assert(manager.metrics.extraReadBytes.get == 100)
  }

  test("corrupted cache file falls back to direct and invalidates") {
    val relaxedConf = mkConf(strict = false)
    val relaxed = new CacheManager(relaxedConf)
    val f = TestFiles.write(tmp, "data/corrupt.bin", content)
    val s1 = openCaching(f, relaxed, relaxedConf)
    readAll(s1, 0, 1000)
    s1.close()
    val m = relaxed.metadataFor("file:" + f).get
    // truncate the cached data file to force a read failure
    val raf = new java.io.RandomAccessFile(m.dataFile, "rw")
    raf.setLength(10)
    raf.close()
    val s2 = openCaching(f, relaxed, relaxedConf)
    val got = readAll(s2, 0, 1000)
    s2.close()
    assert(got.sameElements(content.slice(0, 1000)),
      "fallback read must still be byte-exact")
    assert(relaxed.metrics.corruptionFallbacks.get >= 1)
    assert(relaxed.metrics.invalidations.get >= 1)
  }

  test("remote x_mdfile and x cache side by side; an mdfile without its data file is not adopted") {
    val other = content.reverse
    val a = TestFiles.write(tmp, "d/x_mdfile", content)
    val b = TestFiles.write(tmp, "d/x", other)
    val sa = openCaching(a)
    assert(readAll(sa, 0, content.length).sameElements(content))
    sa.close()
    // caching x persists x's mdfile, which must not land on x_mdfile's data
    val sb = openCaching(b)
    assert(readAll(sb, 0, 300).sameElements(other.slice(0, 300)))
    sb.close()
    val sa2 = openCaching(a)
    assert(readAll(sa2, 0, 10).sameElements(content.slice(0, 10)),
      "x_mdfile's cached bytes were overwritten by x's mdfile")
    sa2.close()
    val sb2 = openCaching(b)
    assert(readAll(sb2, 0, 300).sameElements(other.slice(0, 300)))
    sb2.close()

    // x's data file goes missing under its current name (left under an
    // older name, or lost between the two unlinks of a crash) while its
    // mdfile still marks blocks 0-2 cached. After a restart, the miss on
    // block 5 re-creates the data file sparse; restored bits would then
    // serve blocks 0-2 as zeros.
    val data = CacheFileLayout.dataFile(cacheDir, "file:" + b, 1)
    assert(data.renameTo(new java.io.File(data.getParent, "x_g1")))
    val restarted = new CacheManager(conf)
    val s = openCaching(b, restarted)
    assert(readAll(s, 500, 100).sameElements(other.slice(500, 600)))
    assert(readAll(s, 0, 300).sameElements(other.slice(0, 300)),
      "a bitmap restored over a missing data file served a hole")
    s.close()
  }

  test("dummy mode: stats move, no data stored") {
    val dummyConf = mkConf(dummy = true)
    val dummyMgr = new CacheManager(dummyConf)
    val f = TestFiles.write(tmp, "data/dummy.bin", content)
    val s = openCaching(f, dummyMgr, dummyConf)
    val got = readAll(s, 0, 500)
    s.close()
    assert(got.sameElements(content.slice(0, 500)))
    val m = dummyMgr.metadataFor("file:" + f).get
    assert(m.cachedBlockCount == 5, "metadata should track shadow state")
    assert(!m.dataFile.exists(), "dummy mode must not store data")
  }

  test("eof + seek semantics") {
    val f = TestFiles.write(tmp, "data/eof.bin", content)
    val s = openCaching(f)
    s.seek(content.length)
    assert(s.read() == -1)
    s.seek(content.length - 3)
    val buf = new Array[Byte](10)
    assert(s.read(buf, 0, 10) == 3, "read past EOF returns remaining bytes")
    intercept[java.io.EOFException](s.seek(content.length + 1))
    s.close()
  }
}

class CacheManagerSpec extends AnyFunSuite with CacheFixture {
  val content: Array[Byte] = TestFiles.alphabetContent(1, 100)

  test("status transitions LOCAL -> CACHED") {
    val f = TestFiles.write(tmp, "m/a.bin", content)
    val p = "file:" + f
    val st1 = manager.getCacheStatus(p, 2600, 1L, 0, 5)
    assert(st1.blocks.forall(_ == BlockState.Local))
    assert(manager.setAllCached(p, 2600, 1L, st1.generation, 1, 3))
    val st2 = manager.getCacheStatus(p, 2600, 1L, 0, 5)
    assert(st2.blocks == IndexedSeq(BlockState.Local, BlockState.Cached,
      BlockState.Cached, BlockState.Local, BlockState.Local))
  }

  test("stale mtime invalidates and bumps generation") {
    val p = "file:" + TestFiles.write(tmp, "m/b.bin", content)
    val st1 = manager.getCacheStatus(p, 2600, 1000L, 0, 3)
    manager.setAllCached(p, 2600, 1000L, st1.generation, 0, 3)
    val st2 = manager.getCacheStatus(p, 2600, 2000L, 0, 3) // mtime changed
    assert(st2.generation == st1.generation + 1)
    assert(st2.blocks.forall(_ == BlockState.Local), "stale cache must reset")
    assert(manager.metrics.invalidations.get == 1)
    // setAllCached against the old generation must be rejected
    assert(!manager.setAllCached(p, 2600, 2000L, st1.generation, 0, 3))
  }

  test("weighted eviction deletes files and respects budget") {
    // 1 MB budget; each fully-cached 2600-byte file weighs ~3 KB
    val small = new CacheManager(mkConf(maxMB = 1L))
    val files = (1 to 600).map { i =>
      val f = TestFiles.write(tmp, s"m/ev$i.bin", content)
      val p = "file:" + f
      val st = small.getCacheStatus(p, 2600, 1L, 0, 26)
      // simulate the data file so eviction has something to delete
      val m = small.metadataFor(p).get
      m.ensureDataFile()
      small.setAllCached(p, 2600, 1L, st.generation, 0, 26)
      p
    }
    assert(small.metrics.evictions.get > 0, "budget overflow must evict")
    assert(small.totalWeightKB <= 1024, "cache weight must respect budget")
    // evicted entries' files are gone
    val alive = files.count(p =>
      CacheFileLayout.findLatestGeneration(cacheDir, p) > 0 &&
        CacheFileLayout.dataFile(cacheDir, p, 1).exists())
    assert(alive < files.size)
  }

  test("generation re-adopted from disk after manager restart") {
    val p = "file:" + TestFiles.write(tmp, "m/g.bin", content)
    val st = manager.getCacheStatus(p, 2600, 1L, 0, 26)
    manager.metadataFor(p).get.ensureDataFile()
    manager.setAllCached(p, 2600, 1L, st.generation, 0, 26)
    manager.invalidate(p)
    val st2 = manager.getCacheStatus(p, 2600, 1L, 0, 3)
    assert(st2.generation == 2)
    manager.metadataFor(p).get.ensureDataFile()
    manager.setAllCached(p, 2600, 1L, 2, 0, 26)
    // "restart": a fresh manager over the same cache dir
    val reborn = new CacheManager(conf)
    val st3 = reborn.getCacheStatus(p, 2600, 1L, 0, 26)
    assert(st3.generation == 2, "generation must be rediscovered from disk")
    assert(st3.blocks.forall(_ == BlockState.Cached),
      "mdfile must be re-adopted after restart")
  }

  test("a restart under another block size restores no bitmap") {
    val bytes = content.take(250)
    val f = TestFiles.write(tmp, "m/bs.bin", bytes)
    val capped = mkConf().copy(maxReadRequestSize = 100) // no whole-file fill
    val s1 = openCaching(f, new CacheManager(capped), capped)
    assert(readAll(s1, 200, 50).sameElements(bytes.drop(200))) // block 2 of 3
    s1.close()
    // "restart" at 50-byte blocks: a bitmap of the same byte length, in
    // which bit 2 would name bytes 100-150
    val halved = capped.copy(blockSize = 50)
    val s2 = openCaching(f, new CacheManager(halved), halved)
    assert(readAll(s2, 0, 250).sameElements(bytes))
    s2.close()
  }
}
