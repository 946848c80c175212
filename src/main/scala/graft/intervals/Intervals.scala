package graft.intervals

/** A half-open byte/row range `[start, end)` inside one base file.
  *
  * Reference semantics: `LongPairWritable` (elephant-twin
  * `com.twitter.elephanttwin/src/main/java/com/twitter/elephanttwin/io/LongPairWritable.java:24-104`)
  * — the unit of sparse indexing and split skipping.
  */
final case class Block(start: Long, end: Long) {
  require(start <= end, s"Block start must be <= end: [$start,$end)")
  def length: Long = end - start
  def overlaps(o: Block): Boolean = start < o.end && o.start < end
}

/** Sorted-interval algebra over posting lists (sorted, non-overlapping
  * `Block` lists), mirroring the reference's three load-bearing merge
  * algorithms:
  *
  *  - AND = sorted interval intersection
  *    (`retrieval/BlockIndexedFileInputFormat.java:600-640`)
  *  - OR = sorted interval union with a size cap so one giant range does
  *    not destroy parallelism (`BlockIndexedFileInputFormat.java:499-575`)
  *  - build-time coalescing of overlapping/adjacent ranges with a cap
  *    (`indexing/MapFileIndexingReducer.java:52-107`)
  *
  * All functions take and return *valid posting lists*: sorted by
  * `start`, non-overlapping, every block non-empty. These are pure,
  * driver-side/executor-side helpers — posting lists for one (file,
  * value) are small by construction (bounded by #row-groups per file),
  * so no distribution is needed at this level; distribution happens in
  * the DataFrame that holds one posting list per row.
  */
object IntervalOps {

  /** Is `blocks` a valid posting list? (sorted, non-overlapping, non-empty blocks) */
  def isValid(blocks: Seq[Block]): Boolean =
    blocks.forall(b => b.start < b.end) &&
      blocks.sliding(2).forall {
        case Seq(a, b) => a.end <= b.start
        case _         => true
      }

  /** Normalize an arbitrary bag of ranges into a valid posting list:
    * sort by start and merge everything that overlaps or touches.
    * (No cap — see [[coalesceCapped]] for the build-time capped variant.)
    */
  def normalize(blocks: Seq[Block]): Seq[Block] = {
    if (blocks.isEmpty) return Nil
    val sorted = blocks.filter(_.length > 0).sortBy(b => (b.start, b.end))
    if (sorted.isEmpty) return Nil
    val out = collection.mutable.ArrayBuffer[Block](sorted.head)
    sorted.tail.foreach { b =>
      val last = out.last
      if (b.start <= last.end) {
        if (b.end > last.end) out(out.length - 1) = Block(last.start, b.end)
      } else out += b
    }
    out.toSeq
  }

  /** Sorted-merge coalescing with a size cap: overlapping/adjacent ranges
    * are combined only while the combined range stays `<= cap`; an
    * over-cap combination keeps the ranges separate (split at the
    * boundary of the earlier range). Mirrors the reducer-side merge in
    * `MapFileIndexingReducer.java:75-105` (cap = dfs.block.size there).
    *
    * Input need not be valid; output blocks may touch (when the cap
    * forced a split) but never overlap.
    */
  def coalesceCapped(blocks: Seq[Block], cap: Long): Seq[Block] = {
    require(cap > 0, "cap must be positive")
    val merged = normalize(blocks)
    val out = collection.mutable.ArrayBuffer[Block]()
    merged.foreach { b =>
      var cur = b
      // split any single range larger than cap at cap-sized boundaries,
      // preserving the invariant that no emitted block exceeds cap
      // (parallelism floor: one task per <=cap bytes).
      while (cur.length > cap) {
        out += Block(cur.start, cur.start + cap)
        cur = Block(cur.start + cap, cur.end)
      }
      if (out.nonEmpty && out.last.end >= cur.start &&
          Block(out.last.start, cur.end max out.last.end).length <= cap) {
        val last = out.last
        out(out.length - 1) = Block(last.start, cur.end max last.end)
      } else if (cur.length > 0) out += cur
    }
    out.toSeq
  }

  /** AND of two posting lists = sorted interval intersection.
    * Single forward pass; emits `[max(starts), min(ends))` on overlap and
    * advances the side with the smaller end — the same merge-join-shaped
    * pass as `BlockIndexedFileInputFormat.java:600-640`.
    */
  def intersect(a: Seq[Block], b: Seq[Block]): Seq[Block] = {
    val out = collection.mutable.ArrayBuffer[Block]()
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      val s = x.start max y.start
      val e = x.end min y.end
      if (s < e) out += Block(s, e)
      if (x.end <= y.end) i += 1 else j += 1
    }
    out.toSeq
  }

  /** OR of two posting lists = sorted interval union with a size cap:
    * overlapping/touching ranges are coalesced unless the union would
    * exceed `cap`, in which case the combined range is emitted split at
    * its midpoint to preserve parallelism — the quirky-but-load-bearing
    * behavior of `BlockIndexedFileInputFormat.java:499-575, 535-546`.
    */
  def unionCapped(a: Seq[Block], b: Seq[Block], cap: Long): Seq[Block] = {
    require(cap > 0, "cap must be positive")
    // merge the two sorted lists, then single pass coalesce-with-midpoint-split
    val merged = (a ++ b).sortBy(x => (x.start, x.end))
    if (merged.isEmpty) return Nil
    val out = collection.mutable.ArrayBuffer[Block]()
    var cur = merged.head
    merged.tail.foreach { nxt =>
      if (nxt.start <= cur.end) { // overlap or touch → candidate union
        val union = Block(cur.start, cur.end max nxt.end)
        if (union.length <= cap) cur = union
        else {
          // over cap: split the union at its midpoint (reference :535-546)
          val mid = union.start + union.length / 2
          out += Block(union.start, mid)
          cur = Block(mid, union.end)
        }
      } else {
        out += cur
        cur = nxt
      }
    }
    out += cur
    out.toSeq
  }

  /** Plain uncapped union (Long.MaxValue cap). */
  def union(a: Seq[Block], b: Seq[Block]): Seq[Block] =
    normalize(a ++ b)

  /** Bin-pack a posting list into "splits" each no larger than
    * `maxSplit`, greedily packing adjacent ranges; mirrors
    * `computeSplits` (`BlockIndexedFileInputFormat.java:203-241`).
    * Returns groups of blocks; each group's total length <= maxSplit
    * (single blocks longer than maxSplit stay alone, as in the
    * reference where splitMaxSize = max(splitLen, conf)).
    */
  def binPack(blocks: Seq[Block], maxSplit: Long): Seq[Seq[Block]] = {
    require(maxSplit > 0, "maxSplit must be positive")
    val out = collection.mutable.ArrayBuffer[Vector[Block]]()
    var cur = Vector.empty[Block]
    var curLen = 0L
    blocks.foreach { b =>
      if (cur.nonEmpty && curLen + b.length > maxSplit) {
        out += cur; cur = Vector.empty; curLen = 0L
      }
      cur :+= b
      curLen += b.length
    }
    if (cur.nonEmpty) out += cur
    out.toSeq
  }
}
