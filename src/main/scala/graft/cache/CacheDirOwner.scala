package graft.cache

import java.io.File
import java.nio.channels.{FileChannel, FileLock, OverlappingFileLockException}
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

/** One owner process per cache directory. Two executor JVMs on one host
  * that shared a directory would share generation files: one invalidates
  * an entry (unlinking the files the other has adopted), a restarted
  * process re-creates the same generation as a sparse file, and the other
  * then serves its holes as cached bytes. The in-JVM guards in
  * [[CacheManager]] cannot see another process; the reference avoids the
  * case by running one BookKeeper daemon per node.
  *
  * So each configured directory is claimed once per JVM, through an
  * exclusive lock on `<dir>/.lock` held for the JVM's life. Every
  * [[CacheManager]] of the JVM shares the claim, and a restarted owner
  * re-adopts the files its predecessor left. A JVM that finds the lock
  * taken caches under `<dir>/.jvm-<pid>` instead, locked the same way; a
  * leading dot never names a store authority, so that directory cannot
  * collide with the layout. The owner deletes each `.jvm-*` directory
  * whose lock it can take: its process is gone. */
private[cache] object CacheDirOwner {
  val LockName = ".lock"
  val PrivatePrefix = ".jvm-"

  /** canonical configured directory -> the directory this JVM caches in */
  private val claims = new ConcurrentHashMap[String, String]()
  /** every lock this JVM holds; referenced so none is ever released */
  private val held = ConcurrentHashMap.newKeySet[FileLock]()

  /** `cacheDir`, a comma-separated list, with each directory replaced by
    * the one this JVM caches in. */
  def claim(cacheDir: String): String =
    cacheDir.split(',').map(_.trim).filter(_.nonEmpty).map(d =>
      claims.computeIfAbsent(new File(d).getCanonicalPath, claimOne))
      .mkString(",")

  private def claimOne(dir: String): String = {
    val root = new File(dir)
    val pid = ProcessHandle.current().pid()
    // the directory itself, else a private one (JVMs in containers often
    // share a pid, so a taken private name moves on to the next)
    val (own, lock) = (Iterator.single(root) ++ Iterator.from(0).map(i =>
        new File(root, PrivatePrefix + pid + (if (i == 0) "" else s"-$i"))))
      .flatMap(d => tryLock(d).map(d -> _)).next()
    held.add(lock)
    if (own eq root) Option(root.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(PrivatePrefix))
      .foreach(d => tryLock(d).foreach { stale =>
        try deleteTree(d) finally stale.channel.close()
      })
    own.getPath
  }

  /** The exclusive lock on `dir`'s lock file, or None while another
    * process (or another claim of this JVM) holds it. */
  private def tryLock(dir: File): Option[FileLock] = {
    Files.createDirectories(dir.toPath)
    val ch = FileChannel.open(new File(dir, LockName).toPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock =
      try ch.tryLock()
      catch { case _: OverlappingFileLockException => null }
    if (lock == null) ch.close()
    Option(lock)
  }

  /** Delete `f` and everything under it; the lock file last, so a
    * process starting on the same name cannot lock it mid-delete. */
  private def deleteTree(f: File): Unit = {
    val (lock, rest) = Option(f.listFiles()).toSeq.flatten
      .partition(_.getName == LockName)
    rest.foreach(deleteTree)
    lock.foreach(_.delete())
    f.delete()
  }
}
