package graft.cache

import java.util.BitSet

/** 1-bit-per-block cache-state bitmap, persisted beside the cache data file
  * as an "mdfile" (reference: rubix-bookkeeper ByteBufferBitmap.java:20-59,
  * FileMetadata.java:96-97,218-245). On-disk format: fixed
  * ceil(blocks/8)-byte little-endian bit array — same contract as the
  * reference so sizing math carries over.
  */
final class BlockBitmap private (val blockCount: Long, bits: BitSet) {
  require(blockCount <= Int.MaxValue.toLong * 8, "bitmap too large")

  def isSet(block: Long): Boolean =
    block >= 0 && block < blockCount && bits.get(block.toInt)

  /** Set [startBlock, endBlock); returns number of newly-set bits. */
  def set(startBlock: Long, endBlock: Long): Int = {
    var newly = 0
    var b = math.max(0L, startBlock)
    val e = math.min(blockCount, endBlock)
    while (b < e) {
      if (!bits.get(b.toInt)) { bits.set(b.toInt); newly += 1 }
      b += 1
    }
    newly
  }

  def cardinality: Int = bits.cardinality()

  def clear(): Unit = bits.clear()

  /** True iff every block in [startBlock, endBlock) is set. */
  def allSet(startBlock: Long, endBlock: Long): Boolean = {
    var b = startBlock
    while (b < endBlock) { if (!isSet(b)) return false; b += 1 }
    true
  }

  def toBytes: Array[Byte] = {
    val n = BlockBitmap.byteLength(blockCount)
    java.util.Arrays.copyOf(bits.toByteArray, n)
  }
}

object BlockBitmap {
  def byteLength(blockCount: Long): Int = ((blockCount + 7) / 8).toInt

  def empty(blockCount: Long): BlockBitmap =
    new BlockBitmap(blockCount, new BitSet(math.max(1, blockCount.toInt)))

  def fromBytes(blockCount: Long, bytes: Array[Byte]): BlockBitmap = {
    require(bytes.length == byteLength(blockCount),
      s"mdfile length ${bytes.length} != expected ${byteLength(blockCount)} for $blockCount blocks")
    new BlockBitmap(blockCount, BitSet.valueOf(bytes))
  }
}
