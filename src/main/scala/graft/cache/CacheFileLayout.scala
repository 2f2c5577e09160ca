package graft.cache

import java.io.File
import java.nio.file.{Files, Paths}

/** On-disk layout of cache entries (reference: rubix-spi
  * CacheUtil.java:162-182,258-310).
  *
  * A remote file `scheme://auth/a/b/name` is cached as
  * `<cacheDir>/<auth-or-local>/a/b/name_g<N>.data` with a sibling
  * `name_mdfile_g<N>` holding the block bitmap. `N` is the generation
  * number: it bumps on every invalidation so concurrent readers of an old
  * generation never observe a half-deleted entry (reference:
  * FileMetadata.java:125-182). Data names end in `.data` and mdfile names
  * in a digit, so no data file can share a name with an mdfile — without
  * the suffix, the data file of a remote `x_mdfile` was the mdfile of a
  * remote `x`.
  */
object CacheFileLayout {
  /** File names of the two kinds: (base name, generation). */
  private[cache] val DataName = """(.+)_g(\d{1,9})\.data""".r
  private[cache] val MdName = """(.+)_mdfile_g(\d{1,9})""".r

  /** Multi-disk spread: `cacheDir` may be a comma-separated list of
    * directories; a file's disk is chosen by murmur3 of its remote path
    * (reference: CacheUtil.java:299-310). Data and mdfile always land on
    * the same disk, and the mapping is stable across restarts. */
  private def diskFor(cacheDir: String, remotePath: String): String = {
    val dirs = CacheConfig.dirs(cacheDir)
    if (dirs.length <= 1) return if (dirs.isEmpty) cacheDir else dirs(0)
    val h = com.google.common.hash.Hashing.murmur3_128()
      .hashString(remotePath, java.nio.charset.StandardCharsets.UTF_8).asLong()
    dirs(((h % dirs.length) + dirs.length).toInt % dirs.length)
  }

  /** Tolerant (authority, path) split: object-store keys legally contain
    * characters that are invalid unescaped URI syntax (`%`, `+`, spaces),
    * so never round-trip a remote path through java.net.URI. Handles
    * `scheme://authority/path`, `scheme:/path`, and bare `/path`. */
  private def splitAuthorityPath(remotePath: String): (String, String) = {
    val netIdx = remotePath.indexOf("://")
    if (netIdx >= 0) {
      val rest = remotePath.substring(netIdx + 3)
      val slash = rest.indexOf('/')
      if (slash >= 0) (rest.substring(0, slash), rest.substring(slash))
      else (rest, "/")
    } else {
      val c = remotePath.indexOf(':')
      if (c >= 0 && remotePath.length > c + 1 && remotePath.charAt(c + 1) == '/')
        ("", remotePath.substring(c + 1))
      else ("", remotePath)
    }
  }

  /** Relative directory for a remote path: authority + parent dirs. */
  private def relDir(remotePath: String): String = {
    val (auth0, p) = splitAuthorityPath(remotePath)
    val auth = if (auth0.nonEmpty) auth0 else "local"
    val parent = Option(new File(p).getParent).getOrElse("/")
    auth + parent
  }

  private def baseName(remotePath: String): String =
    new File(splitAuthorityPath(remotePath)._2).getName

  private[cache] def dataName(base: String, generation: Int): String =
    s"${base}_g$generation.data"

  private def dir(cacheDir: String, remotePath: String): File =
    new File(diskFor(cacheDir, remotePath), relDir(remotePath))

  def dataFile(cacheDir: String, remotePath: String, generation: Int): File =
    new File(dir(cacheDir, remotePath), dataName(baseName(remotePath), generation))

  def mdFile(cacheDir: String, remotePath: String, generation: Int): File =
    new File(dir(cacheDir, remotePath), s"${baseName(remotePath)}_mdfile_g$generation")

  /** Highest generation for which a data file exists on disk, or 0.
    * Mirrors FileMetadata.findGenerationNumber: after a restart the cache
    * re-adopts the newest complete entry rather than redownloading.
    */
  def findLatestGeneration(cacheDir: String, remotePath: String): Int = {
    val base = baseName(remotePath)
    val gens = Option(dir(cacheDir, remotePath).list()).getOrElse(Array.empty[String])
      .collect { case DataName(`base`, g) => g.toInt }
    if (gens.isEmpty) 0 else gens.max
  }

  /** Delete data+md files for every generation <= `upTo` (invalidation). */
  def deleteGenerations(cacheDir: String, remotePath: String, upTo: Int): Int = {
    var deleted = 0
    var g = upTo
    while (g >= 1) {
      val d = dataFile(cacheDir, remotePath, g)
      val m = mdFile(cacheDir, remotePath, g)
      if (d.exists() && d.delete()) deleted += 1
      if (m.exists() && m.delete()) deleted += 1
      g -= 1
    }
    deleted
  }

  def ensureParent(f: File): Unit = {
    val p = f.getParentFile
    if (p != null && !p.exists()) Files.createDirectories(Paths.get(p.getPath))
  }
}
