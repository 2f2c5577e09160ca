package graft.cache

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** One cache manager per cache directory list per JVM: the first conf
  * that names a directory fixes its layout (block size, budget), and
  * every caching file system over that directory, whatever its per-scan
  * read policy, reads through that one manager. Two managers over one
  * directory each seed the same generations from disk and each keep
  * their own LRU and budget: one adopts a bitmap persisted under another
  * block size, whose bits name other byte ranges, and together they hold
  * more than the budget. */
class OneManagerPerDirSpec extends AnyFunSuite with CacheFixture {

  /** An uncached (per-scan style) `graft://authority/` instance over
    * `$tmp/shared`, with `settings` on top. */
  private def graftFs(authority: String, settings: (String, String)*): GraftFileSystem = {
    val c = new Configuration()
    c.set("fs.graft.impl", classOf[GraftFileSystem].getName)
    c.setBoolean("fs.graft.impl.disable.cache", true)
    c.set(CacheConfig.CacheDirKey, s"$tmp/shared")
    settings.foreach { case (k, v) => c.set(k, v) }
    FileSystem.get(URI.create(s"graft://$authority/"), c).asInstanceOf[GraftFileSystem]
  }

  private def read(fs: FileSystem, f: String, at: Long, len: Int): Array[Byte] = {
    val in = fs.open(new Path(s"${fs.getUri}$f"))
    val buf = new Array[Byte](len)
    try in.readFully(at, buf) finally in.close()
    buf
  }

  override def afterEach(): Unit =
    try CacheManager.resetForTest() finally super.afterEach()

  test("bytes stay exact across per-scan block sizes over one directory") {
    val content = Array.tabulate[Byte](250)(i => (i + 1).toByte) // no zero byte
    val f = TestFiles.write(tmp, "data/sizes.bin", content)
    // no whole-file fill: a miss fetches its own blocks only
    val cap = CacheConfig.MaxReadRequestKey -> "100"
    val a = graftFs("", cap, CacheConfig.BlockSizeKey -> "100")
    val b = graftFs("", cap, CacheConfig.BlockSizeKey -> "50")
    try {
      // caches bytes 200-250: block 2 at 100-byte blocks
      assert(read(a, f, 200, 50).sameElements(content.slice(200, 250)))
      // at 50-byte blocks, bit 2 of the same 1-byte bitmap is bytes 100-150
      val got = read(b, f, 0, 250)
      assert(got.sameElements(content),
        s"${got.count(_ == 0)} zero bytes served from the cache")
      assert(b.cacheManager eq a.cacheManager)
    } finally { a.close(); b.close() }
  }

  test("a plain, a per-scan admission-floor and a second-authority " +
      "instance share one manager and one budget") {
    val block = 256 * 1024
    val files = (0 until 3).map(i => TestFiles.write(tmp, s"data/f$i.bin",
      Array.tabulate[Byte](2 * block)(j => (j * 31 + i).toByte)))
    // 1 MB budget; each file weighs 512 KB once read
    val layout = Seq(CacheConfig.BlockSizeKey -> block.toString,
      CacheConfig.MaxSizeKey -> "1")
    val plain = graftFs("", layout: _*)
    val floor = graftFs("", layout :+ (CacheConfig.MinColumnsKey -> "5"): _*)
    // the same directory, spelled another way
    val second = graftFs("bucket2",
      layout :+ (CacheConfig.CacheDirKey -> s"$tmp/data/../shared"): _*)
    try {
      Seq(plain, floor, second).zip(files).foreach { case (fs, f) =>
        val len = 2 * block
        assert(read(fs, f, 0, len).sameElements(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))))
      }
      val managers = Seq(plain, floor, second).map(_.cacheManager)
      val heldKB = managers.distinct.map(_.totalWeightKB).sum
      assert(heldKB <= managers.head.budgetKB,
        s"${managers.distinct.size} managers hold $heldKB KB over one " +
          s"directory under a ${managers.head.budgetKB} KB budget")
      assert(managers.forall(_ eq managers.head))
    } finally { plain.close(); floor.close(); second.close() }
  }
}
