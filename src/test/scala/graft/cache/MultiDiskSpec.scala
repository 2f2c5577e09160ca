package graft.cache

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Multi-disk cache layout (reference CacheUtil.java:299-310: a file's
  * disk is chosen by hashing its remote path): `graft.cache.dir` takes a
  * comma-separated list; every block of one file lands on one stable
  * disk, reads stay byte-exact, and multiple disks actually share the
  * load. */
class MultiDiskSpec extends AnyFunSuite with CacheFixture {
  val content: Array[Byte] = TestFiles.alphabetContent(1, 100)

  test("files spread across disks; mapping stable; reads byte-exact") {
    val dirs = Seq(s"$tmp/diskA", s"$tmp/diskB")
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, dirs.mkString(","))
    c.setBoolean(CacheConfig.StrictKey, true)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    val mgr = new CacheManager(CacheConfig.from(c))

    // 32 files, not 8: the disk choice is murmur3(path) % 2 and the
    // fixture tmp dir varies per run, so with 8 files the all-on-one-disk
    // probability is 2/2^8 ~ 0.8% per run — a measured flake. 32 files
    // puts it at 2/2^32.
    val files = (0 until 32).map { i =>
      TestFiles.write(tmp, s"data/md$i.bin", content)
    }
    files.foreach { f =>
      val s = openCaching(f, mgr)
      assert(readAll(s, 0, content.length).sameElements(content))
      s.close()
    }
    def dataFiles(d: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val root = new java.io.File(d)
      if (root.exists())
        walk(root).filter(f => CacheFileLayout.DataName.matches(f.getName))
      else Nil
    }
    val perDisk = dirs.map(d => dataFiles(d).size)
    assert(perDisk.sum == 32,
      s"every file cached exactly once: $perDisk; " +
        s"files=${dirs.flatMap(dataFiles).map(_.getPath).mkString(", ")}")
    assert(perDisk.forall(_ > 0), s"both disks must carry load: $perDisk")

    // mapping is stable: re-reading after metadata reset finds the files
    mgr.clear()
    val mgr2 = new CacheManager(CacheConfig.from(c))
    files.foreach { f =>
      val s = openCaching(f, mgr2)
      assert(readAll(s, 50, 200).sameElements(content.slice(50, 250)))
      s.close()
    }
    mgr2.clear()
  }

  test("a directory list is sized per volume and makes no comma-named path") {
    val list = s"$tmp/diskA,$tmp/diskB"
    val c = new Configuration()
    c.set(CacheConfig.CacheDirKey, list)
    val mgr = new CacheManager(CacheConfig.from(c))
    try {
      // unbounded: the gauge reports the directories' free space
      val free = new CacheMetricsSource(mgr).metricRegistry.getGauges
        .get("gauge.available_cache_size_mb").getValue.asInstanceOf[Long]
      assert(free > 0)
      val root = Paths.get(tmp)
      val walk = Files.walk(root)
      val commas =
        try walk.iterator.asScala.map(root.relativize(_).toString)
          .filter(_.contains(",")).toList
        finally walk.close()
      assert(commas.isEmpty, s"paths named after the list: $commas")
      // both directories sit on one volume, which counts once
      assert(CacheManager.diskUsableBytes(list) <
        CacheManager.diskUsableBytes(s"$tmp/diskA") * 3 / 2)
    } finally mgr.clear()
  }
}
