package graft.cache

import java.util.TreeMap
import com.google.common.hash.Hashing
import java.nio.charset.StandardCharsets.UTF_8

/** Consistent-hash ring assigning ownership of 256 MB file splits to
  * cluster nodes (reference: rubix-spi ClusterManager.java:44-130, which
  * rings MetroHash over the worker set; we use murmur3_128 + virtual
  * nodes — same stability contract: adding/removing a node only remaps
  * ~1/n of the keyspace).
  *
  * Key = "path:splitStart:splitEnd" exactly like the reference
  * (CachingFileSystem.java:416-429), so ownership is stable across
  * schedulers and rounds.
  */
final class ConsistentHashRing(nodes: Seq[String], vnodes: Int = 64) {
  private val hf = Hashing.murmur3_128()
  private val ring = new TreeMap[Long, String]()
  nodes.distinct.foreach { n =>
    (0 until vnodes).foreach { v =>
      ring.put(hf.hashString(s"$n#$v", UTF_8).asLong(), n)
    }
  }

  def isEmpty: Boolean = ring.isEmpty

  def locateKey(key: String): Option[String] = {
    if (ring.isEmpty) return None
    val h = hf.hashString(key, UTF_8).asLong()
    val e = ring.ceilingEntry(h)
    Some(if (e != null) e.getValue else ring.firstEntry().getValue)
  }

  /** Owner of the split containing byte `offset` of `path`. */
  def locateSplit(path: String, offset: Long, splitSize: Long): Option[String] = {
    val s = (offset / splitSize) * splitSize
    locateKey(s"$path:$s:${s + splitSize}")
  }
}

/** This JVM's view of the cluster: the peer address (`host:port`) of
  * every executor's [[PeerTransferServer]], which is also that node's id
  * on the ring. [[GraftPlugin]] is its one writer: the driver side sets
  * the member set it keeps, each executor the list the driver last sent
  * it. Without the plugin the view stays empty: no split has an owner,
  * every block is `Local` and locality is `localhost`.
  */
object Membership {
  @volatile private var view = (Vector.empty[String], new ConsistentHashRing(Nil))

  def members: Seq[String] = view._1

  private[cache] def set(nodes: Seq[String]): Unit = {
    val sorted = nodes.toVector.distinct.sorted
    view = (sorted, new ConsistentHashRing(sorted))
  }

  /** The owner of the split holding byte `offset` of the file whose
    * cache key (the inner path string) is `path`: the one function both
    * the driver's locality hint ([[CacheAffinity]]) and the executors'
    * block routing ([[SplitOwnership.ring]]) ask, so a task placed on a
    * split's owner also reads that split as its own. */
  def owner(path: String, offset: Long, splitSize: Long): Option[String] =
    view._2.locateSplit(path, offset, splitSize)

  /** The host part of a `host:port` node id. */
  def host(node: String): String = {
    val i = node.lastIndexOf(':')
    if (i < 0) node else node.substring(0, i)
  }
}

/** Split-ownership resolver feeding getCacheStatus: which node owns the
  * split containing a byte offset, and who am I (reference
  * BookKeeper.java:321-341 ring consultation). */
final case class SplitOwnership(selfNode: String,
    resolve: (String, Long) => Option[String])

object SplitOwnership {
  /** `self`'s resolver over this JVM's [[Membership]]. */
  def ring(self: String, splitSize: Long): SplitOwnership =
    SplitOwnership(self, Membership.owner(_, _, splitSize))
}
