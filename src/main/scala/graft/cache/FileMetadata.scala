package graft.cache

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, StandardCopyOption}

/** Mutable per-file cache state: block bitmap + accounting, backed by an
  * mdfile on disk (reference: rubix-bookkeeper FileMetadata.java).
  *
  * Thread-safety: all mutation goes through `synchronized` on this object;
  * the manager additionally stripes access per path. The reference uses
  * Striped.lock(20000) (FileMetadata.java:58) for the same reason —
  * concurrent tasks warm disjoint ranges of one file.
  */
final class FileMetadata(
    val remotePath: String,
    val fileLen: Long,
    val lastModified: Long,
    val generation: Int,
    blockSize: Int,
    cacheDir: String) {

  val blockCount: Long = BlockMath.blockCount(fileLen, blockSize)
  private val md = CacheFileLayout.mdFile(cacheDir, remotePath, generation)
  private var deleted = false

  /** True when this entry describes the remote file version
    * (`fileLen`, `mtime`): the one test behind status lookups,
    * `setAllCached`, peer serving and the mdfile restore. */
  def matches(fileLen: Long, mtime: Long): Boolean =
    this.fileLen == fileLen && lastModified == mtime

  /** Restore the persisted bitmap ONLY when its header proves it
    * describes THIS file version under THIS block size. Without the
    * version pin (r10 format), a fresh JVM adopted any same-generation
    * bitmap by length alone — so a remote file overwritten with equal
    * length but different content between JVMs was served from the stale
    * data file: the in-memory mtime-mismatch invalidation in
    * CacheManager.metadata only fires for entries already in the
    * manager's LRU, which a restart empties. (Found by c13: a repeated
    * scratch path made the previous JVM's cache poison the next run's
    * peer-read contract.) Without the block-size pin, a restart under
    * another `graft.cache.block.size` adopted a bitmap of the same byte
    * length whose bits name other byte ranges. Headerless, older-format
    * or mismatched mdfiles restore empty — the cache re-warms, which is
    * always safe. */
  private val bitmap: BlockBitmap = {
    val expected = FileMetadata.HeaderLen + BlockBitmap.byteLength(blockCount)
    if (md.exists() && md.length() == expected) {
      val bytes = Files.readAllBytes(md.toPath)
      val bb = java.nio.ByteBuffer.wrap(bytes, 0, FileMetadata.HeaderLen)
      if (bb.getInt == blockSize && matches(bb.getLong, bb.getLong))
        BlockBitmap.fromBytes(blockCount, java.util.Arrays.copyOfRange(
          bytes, FileMetadata.HeaderLen, bytes.length))
      else BlockBitmap.empty(blockCount)
    } else BlockBitmap.empty(blockCount)
  }

  def isBlockCached(b: Long): Boolean = synchronized {
    !deleted && bitmap.isSet(b)
  }

  def allCached(startBlock: Long, endBlock: Long): Boolean = synchronized {
    !deleted && bitmap.allSet(startBlock, endBlock)
  }

  /** Mark [startBlock, endBlock) cached; persist mdfile; returns the
    * count of NEWLY cached blocks (eviction weight itself always comes
    * from [[weightKB]] — callers only need the did-anything-change flag
    * to decide whether to re-charge the LRU entry). */
  def setBlocksCached(startBlock: Long, endBlock: Long): Long = synchronized {
    if (deleted) return 0L
    val newly = bitmap.set(startBlock, endBlock)
    if (newly > 0) persist()
    newly.toLong
  }

  def cachedBlockCount: Int = synchronized(bitmap.cardinality)

  /** Weight in KB of cached data, in whole blocks (the LRU budget's unit,
    * reference FileMetadata.getWeight:375-378). */
  def weightKB: Int = synchronized {
    math.max(1, (cachedBlockCount.toLong * blockSize / 1024).toInt)
  }

  private def persist(): Unit = {
    CacheFileLayout.ensureParent(md)
    val tmp = new File(md.getPath + ".tmp")
    val body = bitmap.toBytes
    val out = java.nio.ByteBuffer.allocate(FileMetadata.HeaderLen + body.length)
    out.putInt(blockSize).putLong(fileLen).putLong(lastModified).put(body)
    Files.write(tmp.toPath, out.array())
    Files.move(tmp.toPath, md.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def dataFile: File = CacheFileLayout.dataFile(cacheDir, remotePath, generation)

  /** Ensure the sparse data file exists with full logical length. A
    * retired instance must never re-create files its deletion already
    * unlinked (the r14 stress-gate corruption vector: a fresh sparse
    * file under a bitmap that still claims blocks cached). For the same
    * reason, bits only ever describe the data file they were written
    * into: a bitmap restored without its full-length data file (a crash
    * between the two unlinks, or a data file left under an older name)
    * is cleared, and the cleared mdfile persisted, before the file is
    * (re)created — its holes would otherwise read as cached zeros. */
  def ensureDataFile(): File = synchronized {
    if (deleted)
      throw new java.io.IOException(s"cache entry deleted for $remotePath")
    val f = dataFile
    if (!f.exists() || f.length() != fileLen) {
      if (bitmap.cardinality > 0) { bitmap.clear(); persist() }
      CacheFileLayout.ensureParent(f)
      val raf = new RandomAccessFile(f, "rw")
      try raf.setLength(fileLen) finally raf.close()
    }
    f
  }

  /** Delete data + md files (eviction, invalidation or clear). */
  def deleteFiles(): Unit = synchronized {
    deleted = true
    CacheFileLayout.deleteGenerations(cacheDir, remotePath, generation)
  }

  def isDeleted: Boolean = synchronized(deleted)
}

object FileMetadata {
  /** mdfile header: [blockSize: Int][fileLen: Long][lastModified: Long]
    * before the bitmap bytes — the layout and file-version pins the
    * restore path validates. The block size leads, so the high word of an
    * older-format file's leading length (0 below 4 GiB) never passes for
    * one. */
  val HeaderLen: Int = 20
}
