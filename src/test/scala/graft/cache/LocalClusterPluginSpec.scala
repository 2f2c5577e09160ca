package graft.cache

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftPlugin]] on a real cluster shape: `local-cluster[2,1,1024]`, two
  * executor JVMs under Spark's scheduler, with `spark.plugins` as the only
  * cluster wiring. The driver and both executors must agree on the two
  * peer addresses, and an executor reading a split it does not own must
  * get it from the owner's disk cache, exact, with no fallback.
  *
  * The application runs in a child JVM ([[LocalClusterChild]]). Its Spark
  * home is a private directory whose `jars` links to the directory of the
  * loaded spark-core jar, so the workers' scratch space stays inside this
  * test's temporary directory. The run is bounded; on timeout the child and
  * its executors are destroyed. */
class LocalClusterPluginSpec extends AnyFunSuite {
  private val TimeoutS = 300L

  test("local-cluster[2,1,1024]: spark.plugins alone wires membership and " +
      "peer reads between the two executors") {
    val tmp = Files.createTempDirectory("graft-local-cluster").toFile
    try {
      val data = new Array[Byte](64 * 1024 + 123) // 9 splits
      new scala.util.Random(13).nextBytes(data)
      val file = new File(tmp, "data.bin")
      Files.write(file.toPath, data)
      val jars = TwoProcessPeerSpec.loadedSparkJars
        .getOrElse(fail("spark-core was not loaded from a jar file"))
      val sparkHome = new File(tmp, "spark-home")
      sparkHome.mkdirs()
      Files.createSymbolicLink(new File(sparkHome, "jars").toPath, jars.toPath)

      val cp = TwoProcessPeerSpec.childClasspath
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val cmd = Seq(javaBin, "-Xmx512m") ++
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
        Seq("-cp", cp, "graft.cache.LocalClusterChild", file.getPath,
          new File(tmp, "cache").getPath, cp)
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_HOME", sparkHome.getPath)
      pb.environment().put("SPARK_SCALA_VERSION",
        scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
      pb.directory(tmp)
      pb.redirectErrorStream(true)
      val log = new File(tmp, "child.log")
      pb.redirectOutput(log)
      val proc = pb.start()
      val finished = proc.waitFor(TimeoutS, TimeUnit.SECONDS)
      if (!finished) {
        proc.descendants().forEach(p => { p.destroyForcibly(); () })
        proc.destroyForcibly()
        proc.waitFor()
      }
      val out = new String(Files.readAllBytes(log.toPath)).linesIterator.toVector
      def tail = out.takeRight(60).mkString("\n")
      assert(finished, s"no result within $TimeoutS s:\n$tail")
      assert(proc.exitValue == 0 && out.contains("DONE"), s"child failed:\n$tail")

      val driverView = out.collectFirst { case l if l.startsWith("DRIVER ") =>
        l.stripPrefix("DRIVER ").split(',').toSeq }.get
      val execs = out.filter(_.startsWith("EXEC ")).map(_.split(' ')).map { f =>
        val counters = f(4).split(',').map { kv =>
          val Array(k, v) = kv.split('='); k -> v.toLong }.toMap
        (f(1), f(2).split(',').toSeq, f(3).toBoolean, counters)
      }
      val owners = out.collectFirst { case l if l.startsWith("OWNERS ") =>
        l.stripPrefix("OWNERS ").split(',').toSeq }.get

      assert(driverView.size == 2, s"driver view $driverView")
      assert(execs.map(_._1).toSet == driverView.toSet,
        s"the executors' own addresses ${execs.map(_._1)} vs the driver's view")
      execs.foreach { case (node, view, exact, c) =>
        assert(view == driverView, s"$node sees $view, the driver $driverView")
        assert(exact, s"$node read wrong bytes")
        if (owners.exists(_ != node)) {
          assert(c("nonlocal_requests") > 0, s"$node: $c")
          assert(c("bytes_from_peers") > 0, s"$node: $c")
          assert(c("peer_fallbacks") == 0, s"$node: $c")
        }
        if (owners.contains(node))
          assert(c("bytes_to_peers") > 0, s"$node served no peer: $c")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }
}
