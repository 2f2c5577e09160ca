package graft.cache

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property audit of [[ReadPlanner.widen]], the rule that turns a miss in
  * a small file into a fetch of the whole file: for any file length,
  * block size, cap, per-block cache state and requested block window, it
  * fetches exactly the file's `Local` blocks outside the request, never a
  * `Cached` or `NonLocal` block, and nothing when the file exceeds the
  * cap; every widened range is one whole block with an empty caller
  * window. */
object ReadPlannerWidenProps extends Properties("ReadPlanner.widen") {

  private val scenario = for {
    blockSize <- Gen.oneOf(64, 100, 256, 1024)
    fileLen <- Gen.chooseNum(1L, 20000L)
    cap <- Gen.oneOf(blockSize, 1000, 8192, 1 << 20)
    n = BlockMath.blockCount(fileLen, blockSize).toInt
    states <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.const(BlockState.Cached: BlockState),
      4 -> Gen.const(BlockState.Local: BlockState),
      2 -> Gen.oneOf("nodeA", "nodeB").map(o => BlockState.NonLocal(o): BlockState)))
    reqStart <- Gen.chooseNum(0L, n - 1L)
    reqEnd <- Gen.chooseNum(reqStart + 1, n.toLong)
  } yield (fileLen, blockSize, cap, states.toIndexedSeq, reqStart, reqEnd)

  property("fetches exactly the Local blocks beyond the request, within the cap") =
    forAll(scenario) { case (fileLen, blockSize, cap, states, reqStart, reqEnd) =>
      val got = ReadPlanner.widen(fileLen, blockSize, cap, states, reqStart, reqEnd)
      val blocks = got.map(r => BlockMath.startBlock(r.backendStart, blockSize))
      val want =
        if (fileLen > cap) Vector.empty
        else states.indices.map(_.toLong).filter(b =>
          (b < reqStart || b >= reqEnd) && states(b.toInt) == BlockState.Local).toVector
      Prop(blocks == want) :| s"widened $blocks, expected $want"
    }

  property("every widened range is one whole block with an empty caller window") =
    forAll(scenario) { case (fileLen, blockSize, cap, states, reqStart, reqEnd) =>
      ReadPlanner.widen(fileLen, blockSize, cap, states, reqStart, reqEnd).forall { r =>
        val b = BlockMath.startBlock(r.backendStart, blockSize)
        r.backendStart == BlockMath.blockStart(b, blockSize) &&
          r.backendEnd == BlockMath.blockEnd(b, blockSize, fileLen) &&
          r.actualLen == 0 && r.extraBytes == r.backendLen
      }
    }
}
