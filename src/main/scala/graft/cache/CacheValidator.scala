package graft.cache

import java.io.File
import java.nio.file.Files

/** Self-validation, mirroring the reference's two production validators:
  *
  *  - [[validateCaching]]: drive a synthetic file through the full cache
  *    path and check byte-exact reads + cache-state transitions
  *    (rubix-bookkeeper validation/CachingValidator.java:39-186, run every
  *    30 min in production).
  *  - [[validateFiles]]: walk the cache directory checking data/mdfile
  *    consistency (validation/FileValidator*.java).
  *
  * Both are pure library calls here; a deployment schedules them on each
  * executor and reports the boolean via CacheCoordinator.heartbeat.
  */
object CacheValidator {

  /** Synthetic end-to-end check through a private manager+file. */
  def validateCaching(conf: CacheConfig): Boolean = {
    val dir = Files.createTempDirectory("graft-validate").toFile
    try {
      val data = (0 until 26).flatMap(i =>
        Array.fill(100)(('a' + i).toByte)).toArray
      val f = new File(dir, "validation.bin")
      Files.write(f.toPath, data)
      val mgr = new CacheManager(conf.copy(cacheDir = dir.getPath + "/cache"))
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        new org.apache.hadoop.conf.Configuration())
      def open() = new CachingInputStream(
        () => fs.open(new org.apache.hadoop.fs.Path(f.getPath)),
        "file:" + f.getPath, data.length.toLong, 1L, mgr, conf)
      // cold read-through
      val s1 = open()
      val buf = new Array[Byte](500)
      s1.seek(150); s1.read(buf, 0, 500); s1.close()
      if (!buf.sameElements(data.slice(150, 650))) return false
      // state must have transitioned
      val m = mgr.metadataFor("file:" + f.getPath)
      if (!m.exists(_.cachedBlockCount > 0)) return false
      // warm read must be byte-exact and not touch the source
      val before = mgr.metrics.bytesFromRemote.get
      val s2 = open()
      s2.seek(150); s2.read(buf, 0, 500); s2.close()
      buf.sameElements(data.slice(150, 650)) &&
        mgr.metrics.bytesFromRemote.get == before
    } catch {
      case _: Exception => false
    } finally {
      def rm(f: File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  final case class FileReport(dataFiles: Int, mdFiles: Int,
      orphanData: Seq[String], orphanMd: Seq[String], oversized: Seq[String])

  /** Disk-consistency walk: every data file needs its mdfile and vice
    * versa; mdfiles must have a plausible size for their data file. */
  def validateFiles(conf: CacheConfig): FileReport = {
    val all = scala.collection.mutable.ArrayBuffer.empty[File]
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else all += f
    }
    // cacheDir may be a comma-separated multi-disk list. Another JVM's
    // private `.jvm-*` directory is not this layout; the `.lock` file
    // matches neither name pattern below.
    CacheConfig.dirs(conf.cacheDir)
      .flatMap(d => Option(new File(d).listFiles()).toSeq.flatten)
      .filterNot(_.getName.startsWith(CacheDirOwner.PrivatePrefix))
      .foreach(walk)
    val md = all.filter(f => CacheFileLayout.MdName.matches(f.getName))
    val data = all.filter(f => CacheFileLayout.DataName.matches(f.getName))
    def genKey(f: File) = f.getName match {
      case CacheFileLayout.MdName(base, g) =>
        new File(f.getParentFile, CacheFileLayout.dataName(base, g.toInt)).getPath
    }
    val dataSet = data.map(_.getPath).toSet
    val mdSet = md.map(genKey).toSet
    val orphanData = data.filterNot(f => mdSet.contains(f.getPath))
      .map(_.getPath).toSeq
    val orphanMd = md.filterNot(f => dataSet.contains(genKey(f)))
      .map(_.getPath).toSeq
    val oversized = md.filter { f =>
      val d = new File(genKey(f))
      d.exists() &&
        f.length() != FileMetadata.HeaderLen + BlockBitmap.byteLength(
          BlockMath.blockCount(d.length(), conf.blockSize))
    }.map(_.getPath).toSeq
    FileReport(data.size, md.size, orphanData, orphanMd, oversized)
  }

  def filesConsistent(conf: CacheConfig): Boolean = {
    val r = validateFiles(conf)
    r.orphanMd.isEmpty && r.oversized.isEmpty
    // orphan data (no mdfile yet) is legal mid-warmup; not an error
  }
}
