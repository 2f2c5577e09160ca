package graft.cache

/** One planned read: a block-aligned backend range plus the sub-range the
  * caller actually asked for, and where it lands in the caller's buffer.
  *
  * Mirrors the reference's ReadRequest (rubix-core ReadRequest.java:23-54):
  * `backend*` is what we read from the source (aligned for warmup),
  * `actual*` is what the user gets.
  */
final case class ReadRange(
    backendStart: Long,
    backendEnd: Long,
    actualStart: Long,
    actualEnd: Long,
    destOffset: Int) {
  require(backendStart <= actualStart && actualEnd <= backendEnd &&
    actualStart <= actualEnd,
    s"invalid range backend=[$backendStart,$backendEnd) actual=[$actualStart,$actualEnd)")

  def actualLen: Int = (actualEnd - actualStart).toInt
  def backendLen: Long = backendEnd - backendStart
  /** Bytes read beyond what the caller asked for (warmup affix cost). */
  def extraBytes: Long = backendLen - actualLen
}

object ReadRange {

  /** Collate adjacent ranges into single backend reads, mirroring
    * ReadRequestChain.addReadRequest (rubix-core ReadRequestChain.java:71-90):
    * two ranges merge when the first's backendEnd equals the second's
    * backendStart. Input must be sorted by backendStart (planner order).
    */
  def collate(ranges: Seq[ReadRange]): Seq[Vector[ReadRange]] = {
    if (ranges.isEmpty) return Nil
    val out = Vector.newBuilder[Vector[ReadRange]]
    var group = Vector(ranges.head)
    for (r <- ranges.tail) {
      if (group.last.backendEnd == r.backendStart) group :+= r
      else { out += group; group = Vector(r) }
    }
    out += group
    out.result()
  }
}
