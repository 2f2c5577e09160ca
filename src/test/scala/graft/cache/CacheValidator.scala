package graft.cache

import java.io.File

/** The tests' disk-consistency oracle (the reference's
  * validation/FileValidator*.java): walk a cache directory and check that
  * data files and mdfiles pair up and that each mdfile has the size its
  * data file implies. */
object CacheValidator {

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
