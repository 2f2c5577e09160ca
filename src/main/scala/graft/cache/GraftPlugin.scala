package graft.cache

import java.util.{Collections, Map => JMap}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorAdded,
  SparkListenerExecutorRemoved}

/** The one cluster wiring point of the cache, through Spark's public plugin
  * API: a deployment turns it on with
  *
  *   spark.plugins = graft.cache.GraftPlugin
  *
  * and gets the reference's split ownership (rubix-spi ClusterManager plus
  * the LocalDataTransferServer on every worker) with no other key.
  *
  *  - Each executor builds its JVM's [[CacheManager]] from the
  *    `spark.hadoop.*` conf, starts a [[PeerTransferServer]] and joins the
  *    driver with the server's port. The driver names the node `host:port`
  *    with the executor's host as the scheduler registered it, so the
  *    locality hint and the scheduler speak of one host. The executor
  *    installs the member list of the reply as its [[Membership]], and its
  *    own node id in its manager's [[CacheManager.ownership]]. A task start
  *    re-asks once the view is older than [[RefreshMs]].
  *  - The driver keeps the member set, answers joins, drops the member of
  *    every executor Spark removes, and holds the driver JVM's view, which
  *    [[CacheAffinity]] turns into scan locality.
  *
  * The peer server listens on every interface of the executor's host, like
  * the reference's LocalDataTransferServer, and authenticates no one.
  * (`PluginContext.hostname()` cannot name the interface: on an executor
  * it throws, its RPC environment being client-only.)
  *
  * Without the plugin nothing sets a member: every block is `Local` and
  * locality is `localhost`, the single-JVM behaviour.
  */
class GraftPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new GraftPlugin.DriverSide
  override def executorPlugin(): ExecutorPlugin = new GraftPlugin.ExecutorSide
}

object GraftPlugin {
  /** How old an executor's member list may get before the next task start
    * on it asks the driver again. */
  val RefreshMs = 5000L

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftPlugin])

  /** Driver side: the member set. A join is the pair (executor id, peer
    * port), plain Scala types so the RPC layer never needs the plugin's
    * classes to decode it; the reply is the pair (the joiner's node id,
    * null until the scheduler has registered its host; the member list).
    * As a listener it learns each executor's host and drops each executor
    * Spark removes. */
  final class DriverSide extends SparkListener with DriverPlugin {
    private val hosts = new java.util.HashMap[String, String]
    private val ports = new java.util.HashMap[String, Integer]
    /** Executors Spark removed: a late re-ask from one never re-adds it. */
    private val removed = new java.util.HashSet[String]

    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      sc.addSparkListener(this)
      Collections.emptyMap()
    }

    override def receive(message: AnyRef): AnyRef = message match {
      case (id: String, port: Int) => synchronized {
        if (!removed.contains(id)) {
          ports.put(id, port)
          publish()
        }
        (node(id).orNull, Membership.members.toArray)
      }
    }

    override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit = synchronized {
      hosts.put(e.executorId, e.executorInfo.executorHost)
      publish()
    }

    override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = synchronized {
      removed.add(e.executorId)
      hosts.remove(e.executorId)
      ports.remove(e.executorId)
      publish()
    }

    private def node(id: String): Option[String] =
      for (h <- Option(hosts.get(id)); p <- Option(ports.get(id))) yield s"$h:$p"

    private def publish(): Unit =
      Membership.set(ports.keySet.asScala.toSeq.flatMap(node))

    override def shutdown(): Unit = Membership.set(Nil)
  }

  /** Executor side: this JVM's manager, peer server and member list. */
  final class ExecutorSide extends ExecutorPlugin {
    private var ctx: PluginContext = _
    private var conf: CacheConfig = _
    private var manager: CacheManager = _
    private var server: PeerTransferServer = _
    private val askedAt = new AtomicLong

    override def init(ctx: PluginContext, extraConf: JMap[String, String]): Unit = {
      this.ctx = ctx
      val hadoopConf = new Configuration(false)
      ctx.conf().getAllWithPrefix("spark.hadoop.").foreach { case (k, v) =>
        hadoopConf.set(k, v)
      }
      conf = CacheConfig.from(hadoopConf)
      manager = CacheManager.getOrInit(conf)
      server = new PeerTransferServer(manager, bindHost = "")
      ask()
    }

    /** Join (or re-join) the driver and install the member list it sends
      * back, and this node's id once the driver knows it. A failed ask
      * keeps the current list; the next task start past [[RefreshMs]]
      * tries again. */
    private def ask(): Unit = {
      askedAt.set(System.currentTimeMillis())
      try {
        val (self, members) = ctx.ask((ctx.executorID(), server.port))
          .asInstanceOf[(String, Array[String])]
        Membership.set(members)
        if (self != null && manager.ownership.isEmpty)
          manager.ownership = Some(SplitOwnership.ring(self, conf.splitSize))
      } catch { case NonFatal(e) => log.warn(s"membership ask failed: $e") }
    }

    override def onTaskStart(): Unit = {
      val last = askedAt.get
      if (System.currentTimeMillis() - last > RefreshMs &&
          askedAt.compareAndSet(last, System.currentTimeMillis())) ask()
    }

    override def shutdown(): Unit = {
      if (server != null) server.close()
      Membership.set(Nil)
    }
  }
}
