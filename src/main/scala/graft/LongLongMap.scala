package graft

/** Open-addressing Long→Long map (linear probing over a power-of-two
  * table kept at most half full, doubled as it fills): the driver's id
  * maps (the connected-components union-find, the local index's
  * dictionary and posting lookups) without a boxed key or an entry
  * object per id. At ~20 M entries a boxed java.util.HashMap cost ~40 s
  * of allocation and GC (measured) against ~2 s here, and a young
  * collection has a few arrays to copy instead of one object per id.
  * Keys may be any Long: a presence array marks the used slots, not a
  * sentinel key.
  */
private[graft] final class LongLongMap(expected: Int = 16) {
  // the table holds ≥ 2 × entries slots in an Int-indexed array: past
  // 2^29 entries `expected * 2` rounds up beyond 2^30 and overflows
  require(expected <= LongLongMap.MaxEntries,
    s"LongLongMap: $expected entries exceed the 2^29 table limit")
  private var mask = {
    var c = 16
    while (c < expected * 2) c <<= 1
    c - 1
  }
  private var ks = new Array[Long](mask + 1)
  private var vs = new Array[Long](mask + 1)
  private var used = new Array[Boolean](mask + 1)
  private var n = 0

  def size: Int = n

  private def slot(k: Long): Int = {
    // finalizer mix (xxhash-style) so consecutive ids spread
    var h = k * -7046029254386353131L
    h ^= (h >>> 32)
    var i = (h & mask).toInt
    while (used(i) && ks(i) != k) i = (i + 1) & mask
    i
  }

  /** The value of `k`, or `default` when `k` is absent. */
  def getOrElse(k: Long, default: Long): Long = {
    val i = slot(k)
    if (used(i)) vs(i) else default
  }

  def put(k: Long, v: Long): Unit = {
    var i = slot(k)
    if (!used(i)) {
      if ((n + 1) * 2 > mask + 1) { grow(); i = slot(k) }
      used(i) = true
      n += 1
    }
    ks(i) = k; vs(i) = v
  }

  /** Every key, in table order. */
  def keys: Array[Long] = {
    val out = new Array[Long](n)
    var j = 0
    var i = 0
    while (i <= mask) { if (used(i)) { out(j) = ks(i); j += 1 }; i += 1 }
    out
  }

  private def grow(): Unit = {
    require(n < LongLongMap.MaxEntries, "LongLongMap: entries exceed the 2^29 table limit")
    val (oks, ovs, oused) = (ks, vs, used)
    mask = mask * 2 + 1
    ks = new Array[Long](mask + 1)
    vs = new Array[Long](mask + 1)
    used = new Array[Boolean](mask + 1)
    var j = 0
    while (j < oks.length) {
      if (oused(j)) { val i = slot(oks(j)); ks(i) = oks(j); vs(i) = ovs(j); used(i) = true }
      j += 1
    }
  }
}

private[graft] object LongLongMap {
  val MaxEntries: Int = 1 << 29
}
