package graft.cache

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The cache budget is one LRU over every file: the owned LRU charges a
  * file its weight inside the call that fills it and then evicts least
  * recently used files, that file last, until the whole budget holds. A
  * file heavier than a quarter of the budget but within it must therefore
  * stay cached. (A budget split into per-segment quarters evicted such a
  * file on the very charge that weighed it, so it was fetched and filled
  * on every read and never served from the cache.) */
class SingleSegmentBudgetSpec extends AnyFunSuite with CacheFixture {
  private val block = 4096

  test("a file heavier than a quarter of the budget stays cached") {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, block)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setLong(CacheConfig.MaxSizeKey, 1L) // 1024 KB
    c.setInt(CacheConfig.MaxReadRequestKey, 1 << 20)
    c.setBoolean(CacheConfig.StrictKey, true)
    val cc = CacheConfig.from(c)
    val mgr = new CacheManager(cc)
    // 512 KB: between a quarter of the budget and the budget
    val content = Array.tabulate[Byte](128 * block)(i => (i * 31 + 7).toByte)
    val f = TestFiles.write(tmp, "data/half.bin", content)
    try {
      val s1 = openCaching(f, mgr, cc)
      assert(readAll(s1, 0, content.length).sameElements(content))
      s1.close()
      assert(mgr.metrics.evictions.get == 0,
        s"a ${content.length >> 10} KB file under a ${mgr.budgetKB} KB budget was evicted")
      assert(mgr.metadataFor("file:" + f).exists(_.cachedBlockCount == 128))

      val fromStore = mgr.metrics.bytesFromRemote.get
      val s2 = openCaching(f, mgr, cc)
      assert(readAll(s2, 0, content.length).sameElements(content))
      s2.close()
      assert(mgr.metrics.bytesFromRemote.get == fromStore,
        "the second read must be served from the cache")
    } finally mgr.clear()
  }
}
