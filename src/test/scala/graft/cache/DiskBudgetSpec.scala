package graft.cache

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Disk-usage-based cache sizing (reference BookKeeper.java:656-670):
  * budget = min(95% × usable disk × fullness%, explicit maxMB). The
  * integration case injects a tiny simulated volume and proves the
  * weigher actually enforces the derived budget — files evicted and
  * deleted from disk once the budget is exceeded. */
class DiskBudgetSpec extends AnyFunSuite with CacheFixture {

  private def confWith(maxMB: Long, fullnessPct: Int): CacheConfig = {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setLong(CacheConfig.MaxSizeKey, maxMB)
    c.setInt(CacheConfig.DiskFullnessKey, fullnessPct)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    CacheConfig.from(c)
  }

  test("budget formula: min of disk-derived and explicit, 0 when unset") {
    // disk only: 95% of 100 MB × 50% = 47.5 MB -> 48640 KB
    val diskOnly = CacheManager.effectiveBudgetKB(
      confWith(0, 50), 100L << 20)
    assert(diskOnly == ((100L << 20) * 0.95 * 0.5).toLong / 1024)
    // explicit smaller than disk-derived -> explicit wins
    assert(CacheManager.effectiveBudgetKB(confWith(10, 50), 100L << 20)
      == 10 * 1024)
    // disk-derived smaller than explicit -> disk wins
    val both = CacheManager.effectiveBudgetKB(confWith(1024, 10), 100L << 20)
    assert(both == ((100L << 20) * 0.95 * 0.1).toLong / 1024)
    // neither set -> unbounded
    assert(CacheManager.effectiveBudgetKB(confWith(0, 0), 100L << 20) == 0L)
  }

  test("disk-derived budget is enforced by the weigher: evicts and deletes") {
    // simulated 4 MB volume at 50% fullness -> ~1.9 MB budget (1945 KB)
    val mgr = new CacheManager(confWith(0, 50), usableDiskBytes = 4L << 20)
    assert(mgr.budgetKB == ((4L << 20) * 0.95 * 0.5).toLong / 1024)

    // warm 30 files × 100 KB = 3000 KB of cache weight > 1945 KB budget
    val content = new Array[Byte](100 * 1024)
    (0 until 30).foreach { i =>
      val f = TestFiles.write(tmp, s"data/budget$i.bin", content)
      val s = openCaching(f, mgr, mkConf(strict = false))
      readAll(s, 0, content.length)
      s.close()
    }
    assert(mgr.metrics.evictions.get > 0, "budget overflow must evict")
    assert(mgr.totalWeightKB <= mgr.budgetKB,
      s"weigher overshoot: ${mgr.totalWeightKB} KB > ${mgr.budgetKB} KB budget")
    // evicted entries must have their data files deleted from disk
    val dataFiles = {
      val d = new java.io.File(cacheDir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      if (d.exists())
        walk(d).filter(f => CacheFileLayout.DataName.matches(f.getName))
      else Nil
    }
    assert(dataFiles.nonEmpty, "surviving entries keep data files on disk")
    val onDiskKB = dataFiles.map(_.length() / 1024).sum
    assert(onDiskKB <= mgr.budgetKB + 110,
      s"deleted entries must not linger on disk: $onDiskKB KB")
    mgr.clear()
  }
}
