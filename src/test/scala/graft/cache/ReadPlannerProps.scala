package graft.cache

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based audit of the pure chain planner: for ANY request window,
  * file length, block size, and per-block cache state, the plan must (a)
  * cover every requested byte exactly once across all chains, (b) route
  * each block to the strategy its state demands, (c) keep remote groups
  * block-aligned and under the chunk cap, and (d) keep every chain's
  * ranges sorted and disjoint. These are the invariants corruption bugs
  * violate first (reference: TestCachingInputStream block-state cases). */
object ReadPlannerProps extends Properties("ReadPlanner") {

  private val owners = Seq("nodeA", "nodeB", "nodeC")

  private val scenario = for {
    blockSize <- Gen.oneOf(64, 100, 256, 1024)
    fileLen <- Gen.chooseNum(1L, 50000L)
    pos <- Gen.chooseNum(0L, math.max(0L, fileLen - 1))
    len <- Gen.chooseNum(1L, fileLen - pos).map(_.toInt)
    maxReq <- Gen.oneOf(blockSize, blockSize * 3, blockSize * 7, 1 << 20)
    states <- {
      val sb = BlockMath.startBlock(pos, blockSize)
      val eb = BlockMath.endBlock(pos, len.toLong, blockSize)
      Gen.listOfN((eb - sb).toInt, Gen.frequency(
        4 -> Gen.const(BlockState.Cached: BlockState),
        4 -> Gen.const(BlockState.Local: BlockState),
        2 -> Gen.oneOf(owners).map(o => BlockState.NonLocal(o): BlockState)))
    }
  } yield (pos, len, fileLen, blockSize, maxReq, states)

  private def planOf(s: (Long, Int, Long, Int, Int, List[BlockState])) = {
    val (pos, len, fileLen, blockSize, maxReq, states) = s
    val sb = BlockMath.startBlock(pos, blockSize)
    ReadPlanner.plan(pos, len, fileLen, blockSize, maxReq,
      CacheStatus(1, states.toIndexedSeq), sb)
  }

  property("destination coverage is exact and disjoint") = forAll(scenario) { s =>
    val (pos, len, _, _, _, _) = s
    val covered = new Array[Int](len)
    planOf(s).foreach(_.ranges.foreach { r =>
      var i = r.destOffset
      val end = r.destOffset + r.actualLen
      while (i < end) { covered(i) += 1; i += 1 }
    })
    Prop(covered.forall(_ == 1)) :| s"coverage counts: ${covered.distinct.toSeq}"
  }

  property("every block routes to the strategy its state demands") = forAll(scenario) { s =>
    val (pos, len, fileLen, blockSize, _, states) = s
    val sb = BlockMath.startBlock(pos, blockSize)
    planOf(s).forall {
      case CachedChain(rs) => rs.forall { r =>
        (BlockMath.startBlock(r.actualStart, blockSize) until
          BlockMath.endBlock(r.actualStart, r.actualLen.toLong, blockSize))
          .forall(b => states((b - sb).toInt) == BlockState.Cached)
      }
      case RemoteChain(rs) => rs.forall { r =>
        (BlockMath.startBlock(r.backendStart, blockSize) until
          BlockMath.endBlock(r.backendStart, r.backendLen, blockSize))
          .forall(b => states((b - sb).toInt) == BlockState.Local)
      }
      case NonLocalChain(owner, rs) => rs.forall { r =>
        (BlockMath.startBlock(r.actualStart, blockSize) until
          BlockMath.endBlock(r.actualStart, r.actualLen.toLong, blockSize))
          .forall(b => states((b - sb).toInt) == BlockState.NonLocal(owner))
      }
    }
  }

  property("remote groups are block-aligned and chunk-capped") = forAll(scenario) { s =>
    val (_, _, fileLen, blockSize, maxReq, _) = s
    planOf(s).forall {
      case RemoteChain(rs) =>
        val span = rs.last.backendEnd - rs.head.backendStart
        rs.head.backendStart % blockSize == 0 &&
          (rs.last.backendEnd % blockSize == 0 || rs.last.backendEnd == fileLen) &&
          (span <= maxReq || rs.size == 1)
      case _ => true
    }
  }

  property("chains keep ranges sorted, disjoint, and collated") = forAll(scenario) { s =>
    planOf(s).forall { c =>
      c.ranges.sliding(2).forall {
        case Vector(a, b) => a.actualEnd <= b.actualStart
        case _ => true
      }
    }
  }

  property("plan reads nothing outside the file") = forAll(scenario) { s =>
    val (_, _, fileLen, _, _, _) = s
    planOf(s).forall(_.ranges.forall(r =>
      r.backendStart >= 0 && r.backendEnd <= fileLen &&
        r.actualStart >= r.backendStart && r.actualEnd <= r.backendEnd))
  }
}
