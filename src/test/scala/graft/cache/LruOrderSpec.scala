package graft.cache

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The eviction order on a deterministic trace: whole files, least
  * recently used first (reference BookKeeper.java:629-746). An eviction
  * completes inside the read that causes it: the victim's files are gone
  * and its generation is bumped when that read returns, and the cache
  * weight is within the budget after every read. */
class LruOrderSpec extends AnyFunSuite with CacheFixture {
  private val content = TestFiles.alphabetContent(1, 100) // 2600 B, 26 blocks

  test("reading A, B, A, C under a two-file budget evicts B during C's read") {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setInt(CacheConfig.DiskFullnessKey, 50)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    // 11 KB usable at 50% fullness: a 5 KB budget
    val cc = CacheConfig.from(c)
    val mgr = new CacheManager(cc, usableDiskBytes = 11L << 10)
    try {
      val Seq(a, b, cf) = Seq("A", "B", "C").map(n =>
        TestFiles.write(tmp, s"lru/$n.bin", content))
      def key(f: String) = "file:" + f
      def read(f: String): Unit = {
        val s = openCaching(f, mgr, cc)
        try assert(readAll(s, 0, content.length).sameElements(content))
        finally s.close()
        assert(mgr.totalWeightKB <= mgr.budgetKB,
          s"${mgr.totalWeightKB} KB cached over a ${mgr.budgetKB} KB budget after reading $f")
      }

      read(a)
      val w = mgr.metadataFor(key(a)).get.weightKB
      assert(2 * w <= mgr.budgetKB && mgr.budgetKB < 3 * w,
        s"the budget must fit two ${w} KB files, not three: ${mgr.budgetKB} KB")
      read(b)
      val genB = mgr.metadataFor(key(b)).get.generation
      read(a)
      assert(mgr.metrics.evictions.get == 0)
      read(cf)

      assert(mgr.metrics.evictions.get == 1)
      assert(mgr.metadataFor(key(b)).isEmpty, "B, the least recently used, is evicted")
      assert(!CacheFileLayout.dataFile(cacheDir, key(b), genB).exists())
      assert(!CacheFileLayout.mdFile(cacheDir, key(b), genB).exists())
      assert(mgr.metadataFor(key(a)).exists(_.cachedBlockCount == 26))
      assert(mgr.metadataFor(key(cf)).exists(_.cachedBlockCount == 26))

      val st = localFs.getFileStatus(new Path(b))
      val reload = mgr.getCacheStatus(key(b), st.getLen, st.getModificationTime, 0, 26)
      assert(reload.generation == genB + 1)
      assert(reload.blocks.forall(_ == BlockState.Local), "B's reload starts cold")
    } finally mgr.clear()
  }

  test("a file heavier than the whole budget is evicted alone") {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 1024)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setInt(CacheConfig.DiskFullnessKey, 50)
    c.setInt(CacheConfig.MaxReadRequestKey, 64 << 10)
    // 17.5 KB usable at 50% fullness: an 8 KB budget
    val cc = CacheConfig.from(c)
    val mgr = new CacheManager(cc, usableDiskBytes = 17920L)
    try {
      assert(mgr.budgetKB == 8)
      def file(n: String, kb: Int) = TestFiles.write(tmp, s"heavy/$n.bin",
        Array.tabulate[Byte](kb << 10)(i => (i * 7 + kb).toByte))
      def read(f: String): Unit = {
        val len = new java.io.File(f).length.toInt
        val s = openCaching(f, mgr, cc)
        try readAll(s, 0, len) finally s.close()
      }
      val small = Seq(file("A", 3), file("B", 3))
      small.foreach(read)
      // one GET fills the whole 10 KB file, so one charge weighs it
      read(file("D", 10))
      assert(mgr.metrics.evictions.get == 1)
      assert(mgr.metadataFor("file:" + tmp + "/heavy/D.bin").isEmpty)
      assert(small.forall(f => mgr.metadataFor("file:" + f).exists(_.cachedBlockCount == 3)),
        "the files under the budget stay cached")
      assert(mgr.totalWeightKB == 6)
    } finally mgr.clear()
  }
}
