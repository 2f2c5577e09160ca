package graft.cache

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Child-JVM entry point for [[TwoProcessPeerSpec]]: hosts the OWNER side
  * of a peer-cache read in its own process — a private CacheManager warmed
  * with the target file plus a live PeerTransferServer — then parks until
  * stdin closes (or the parent kills it). The reference exercises this
  * split only in its multi-node RobotFramework suites
  * (rubix-tests/src/test/robotframework/multi-node/NonLocalRead.robot);
  * everything in-repo before r14 kept both ends in one JVM.
  *
  * Protocol: args = [filePath, cacheDir, blockSize]; prints exactly one
  * "PORT <n>" line on stdout once the file is fully warmed and the server
  * is accepting, then blocks on stdin.
  */
object PeerOwnerChild {
  def main(args: Array[String]): Unit = {
    val file = args(0)
    val cacheDir = args(1)
    val blockSize = args(2).toInt

    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, blockSize)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setBoolean(CacheConfig.StrictKey, true)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    val conf = CacheConfig.from(c)
    val mgr = new CacheManager(conf)

    val fs = FileSystem.getLocal(new Configuration())
    val p = new Path(file)
    val st = fs.getFileStatus(p)
    val cis = new CachingInputStream(() => fs.open(p), "file:" + file,
      st.getLen, st.getModificationTime, mgr, conf)
    try {
      val buf = new Array[Byte](64 * 1024)
      var pos = 0L
      while (pos < st.getLen) {
        val r = cis.read(buf, 0,
          math.min(buf.length.toLong, st.getLen - pos).toInt)
        require(r > 0, s"owner warmup stalled at $pos")
        pos += r
      }
    } finally cis.close()
    require(mgr.metadataFor("file:" + file)
        .exists(_.allCached(0, BlockMath.endBlock(0, st.getLen, blockSize))),
      "owner warmup left uncached blocks")

    val server = new PeerTransferServer(mgr)
    // single readiness line the parent waits for
    println(s"PORT ${server.port}")
    Console.out.flush()
    // park until the parent closes stdin or destroys the process
    while (System.in.read() != -1) ()
    server.close()
    mgr.clear()
  }
}
