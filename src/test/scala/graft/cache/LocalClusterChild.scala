package graft.cache

import java.net.URI
import java.nio.file.{Files, Paths}
import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{SparkConf, SparkContext}

/** Child-JVM driver for [[LocalClusterPluginSpec]]: a `local-cluster[2,1,1024]`
  * application whose only cluster wiring is `spark.plugins =
  * graft.cache.GraftPlugin`. It needs a JVM of its own because the test
  * JVM already holds a SparkContext, and one is allowed per JVM.
  *
  * Args: [file, cacheDir, executorClasspath]. Barrier stages put one task
  * on each executor:
  *  1. until both executors' member lists equal the driver's;
  *  2. each task reads, through `graft://`, the splits its node owns;
  *  3. each task reads the whole file through `graft://`;
  *  4. each task reports its cache counters.
  * Prints `DRIVER <members>`, one `EXEC <node> <members> <exact> <counters>`
  * line per executor and `OWNERS <owner of each split>`, then `DONE`.
  */
object LocalClusterChild {
  val BlockSize = 4096
  val SplitSize = 8192L

  def main(args: Array[String]): Unit = {
    val Array(file, cacheDir, executorClasspath) = args
    val settings = Map(
      "fs.graft.impl" -> classOf[GraftFileSystem].getName,
      CacheConfig.CacheDirKey -> cacheDir,
      CacheConfig.BlockSizeKey -> BlockSize.toString,
      CacheConfig.SplitSizeKey -> SplitSize.toString)
    val conf = new SparkConf()
      .setMaster("local-cluster[2,1,1024]")
      .setAppName("graft-local-cluster")
      .set("spark.plugins", classOf[GraftPlugin].getName)
      .set("spark.executor.extraClassPath", executorClasspath)
      .set("spark.ui.enabled", "false")
    settings.foreach { case (k, v) => conf.set(s"spark.hadoop.$k", v) }
    val sc = new SparkContext(conf)
    try run(sc, file, settings) finally sc.stop()
  }

  private def run(sc: SparkContext, file: String,
      settings: Map[String, String]): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    def waitFor(what: => String)(ok: => Boolean): Unit =
      while (!ok) {
        require(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(500)
      }
    waitFor("two executors")(sc.getExecutorMemoryStatus.size == 3)
    waitFor("two members on the driver")(Membership.members.size == 2)

    // views converge once each executor re-asks on a task start
    def views = onEachExecutor(sc)(() =>
      (ownership(settings).selfNode, Membership.members.toVector))
    var seen = views
    waitFor(s"executor views to match the driver's: $seen") {
      seen.forall(_._2 == Membership.members) || { seen = views; false }
    }
    println(s"DRIVER ${Membership.members.mkString(",")}")

    val key = new Path("file", null, file).toString
    val len = Files.size(Paths.get(file))
    val splits = 0L until len by SplitSize
    onEachExecutor(sc) { () =>
      val own = ownership(settings)
      withFile(settings, file) { in =>
        val buf = new Array[Byte](SplitSize.toInt)
        splits.filter(off => own.resolve(key, off).contains(own.selfNode))
          .foreach(off => in.readFully(off, buf, 0, math.min(SplitSize, len - off).toInt))
      }
    }
    val exact = onEachExecutor(sc) { () =>
      val got = new Array[Byte](len.toInt)
      withFile(settings, file)(_.readFully(0L, got))
      ownership(settings).selfNode -> got.sameElements(Files.readAllBytes(Paths.get(file)))
    }.toMap
    val counters = onEachExecutor(sc) { () =>
      val m = fs(settings).cacheManager.metrics
      (ownership(settings).selfNode, Seq(m.nonlocalRequests, m.bytesFromPeers,
        m.peerFallbacks, m.bytesToPeers).map(c => s"${c.name}=${c.get}").mkString(","))
    }
    counters.foreach { case (node, cs) =>
      println(s"EXEC $node ${seen.toMap.apply(node).mkString(",")} ${exact(node)} $cs")
    }
    println(s"OWNERS ${splits.map(Membership.owner(key, _, SplitSize).get).mkString(",")}")
    println("DONE")
  }

  /** `f` run once on each of the two executors, in one barrier stage. */
  private def onEachExecutor[T: ClassTag](sc: SparkContext)(f: () => T): Seq[T] =
    sc.parallelize(0 until 2, 2).barrier().mapPartitions(_ => Iterator(f())).collect().toSeq

  private def fs(settings: Map[String, String]): GraftFileSystem = {
    val c = new Configuration()
    settings.foreach { case (k, v) => c.set(k, v) }
    FileSystem.get(URI.create("graft:///"), c).asInstanceOf[GraftFileSystem]
  }

  /** The resolver the plugin installed on this executor's manager. */
  private def ownership(settings: Map[String, String]): SplitOwnership =
    fs(settings).cacheManager.ownership
      .getOrElse(throw new IllegalStateException("no ownership installed"))

  private def withFile[A](settings: Map[String, String], file: String)(
      f: org.apache.hadoop.fs.FSDataInputStream => A): A = {
    val in = fs(settings).open(new Path(s"graft://$file"))
    try f(in) finally in.close()
  }
}
