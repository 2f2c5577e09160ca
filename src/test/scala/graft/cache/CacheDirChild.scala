package graft.cache

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Child-JVM entry point for [[CacheDirOwnerSpec]]: a second executor
  * process on the same host, caching one file under a cache directory the
  * parent JVM also names. Driven line by line over stdin so the parent
  * can interleave the two processes' steps deterministically.
  *
  * Protocol: args = [filePath, cacheDir, blockSize, maxReadRequestSize].
  * Each stdin line is one command; the child answers each with one
  * "OK" line (or "ERR <message>") on stdout:
  *  - `read <pos> <len>`: read the range through the cache;
  *  - `invalidate`: invalidate the file's cache entry;
  *  - `restart`: replace the manager with a fresh one, as a restarted
  *    executor would start.
  * Exits when stdin closes.
  */
object CacheDirChild {
  def main(args: Array[String]): Unit = {
    val file = args(0)
    val c = new Configuration()
    c.set(CacheConfig.CacheDirKey, args(1))
    c.setInt(CacheConfig.BlockSizeKey, args(2).toInt)
    c.setInt(CacheConfig.MaxReadRequestKey, args(3).toInt)
    c.setBoolean(CacheConfig.StrictKey, false)
    val conf = CacheConfig.from(c)
    var mgr = new CacheManager(conf)
    val fs = FileSystem.getLocal(new Configuration())
    val p = new Path(file)
    val st = fs.getFileStatus(p)
    val path = "file:" + file

    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null) {
      val reply =
        try {
          line.trim.split(' ') match {
            case Array("read", pos, len) =>
              val s = new CachingInputStream(() => fs.open(p), path,
                st.getLen, st.getModificationTime, mgr, conf)
              try s.readFully(pos.toLong, new Array[Byte](len.toInt))
              finally s.close()
            case Array("invalidate") => mgr.invalidate(path)
            case Array("restart") => mgr = new CacheManager(conf)
            case other => sys.error(s"unknown command ${other.mkString(" ")}")
          }
          "OK"
        } catch { case e: Exception => s"ERR $e" }
      println(reply)
      Console.out.flush()
      line = in.readLine()
    }
  }
}
