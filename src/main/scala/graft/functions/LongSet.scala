package graft.functions

/** A set of longs by open addressing with linear probing: no boxing,
  * one table sized once for at most `capacity` keys (load ≤ 1/2, so a
  * probe always reaches an empty slot). The dedup kernels'
  * ([[NgramPolyHash]], [[LongArrayIntersectCount]]) per-row set. */
private[functions] final class LongSet(capacity: Int) {
  private val mask = {
    var size = 2
    while (size < 2 * capacity) size <<= 1
    size - 1
  }
  private val keys = new Array[Long](mask + 1)
  private val used = new Array[Boolean](mask + 1)

  /** The slot holding `x`, or the empty slot where it would go. */
  private def slot(x: Long): Int = {
    val h = x * 0x9E3779B97F4A7C15L
    var i = (h ^ (h >>> 32)).toInt & mask
    while (used(i) && keys(i) != x) i = (i + 1) & mask
    i
  }

  /** Adds `x`; true when it was not in the set yet. */
  def add(x: Long): Boolean = {
    val i = slot(x)
    if (used(i)) false else { used(i) = true; keys(i) = x; true }
  }

  def contains(x: Long): Boolean = used(slot(x))
}
