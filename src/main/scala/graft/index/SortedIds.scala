package graft.index

/** Sorted docId-list kernels for the facet/filter index (delta+VByte encoded
  * per (lang, key, value) — SURVEY §2.10 Q4/Q5: terms filters and year-range
  * filters become intersections of unions of these lists, applied inside the
  * WAND traversal instead of post-filtering, mirroring how the reference
  * pushes filters into the query (index_searcher.py:49-150).
  */
object SortedIds {

  /** Sort `ids` in place and delta+VByte encode them — the ONE encoder for
    * facet id blobs ([[decode]] is its inverse), called by the build's
    * facet writer; a format tweak must not need replaying across
    * hand-copies.
    */
  def sortAndEncode(ids: Array[Long]): Array[Byte] = {
    java.util.Arrays.sort(ids)
    val deltas = new Array[Long](ids.length)
    var prev = 0L
    var i = 0
    while (i < ids.length) { deltas(i) = ids(i) - prev; prev = ids(i); i += 1 }
    VByte.encode(deltas)
  }

  /** Decode a delta+VByte blob back to absolute sorted ids. */
  def decode(blob: Array[Byte], n: Int): Array[Long] = {
    val deltas = VByte.decode(blob, n)
    var prev = 0L
    var i = 0
    while (i < n) { prev += deltas(i); deltas(i) = prev; i += 1 }
    deltas
  }

  /** Union of k sorted arrays (OR within one filter key's values). */
  def unionAll(lists: Seq[Array[Long]]): Array[Long] = lists match {
    case Seq() => Array.emptyLongArray
    case Seq(one) =>
      // union semantics must not depend on list COUNT: the k-way merge
      // below dedups, so the single-list shortcut verifies sorted-unique
      // (the healthy-index invariant — zero-alloc fast path) and only pays
      // a dedup copy when a violation is actually present
      var i = 1
      var clean = true
      while (clean && i < one.length) { clean = one(i) > one(i - 1); i += 1 }
      if (clean) one
      else {
        val out = new Array[Long](one.length)
        java.lang.System.arraycopy(one, 0, out, 0, one.length)
        java.util.Arrays.sort(out)
        var n = 0; var j = 0
        while (j < out.length) {
          if (n == 0 || out(j) != out(n - 1)) { out(n) = out(j); n += 1 }
          j += 1
        }
        java.util.Arrays.copyOf(out, n)
      }
    case _ =>
      val total = lists.map(_.length).sum
      val merged = new Array[Long](total)
      var n = 0
      val heap = new java.util.PriorityQueue[(Array[Long], Int)](lists.size,
        (a: (Array[Long], Int), b: (Array[Long], Int)) =>
          java.lang.Long.compare(a._1(a._2), b._1(b._2)))
      lists.filter(_.nonEmpty).foreach(l => heap.add((l, 0)))
      var last = Long.MinValue
      while (!heap.isEmpty) {
        val (arr, i) = heap.poll()
        val v = arr(i)
        if (v != last) { merged(n) = v; n += 1; last = v }
        if (i + 1 < arr.length) heap.add((arr, i + 1))
      }
      java.util.Arrays.copyOf(merged, n)
  }

  /** Intersection of k sorted arrays (AND across filter keys), smallest
    * first so the accumulator only shrinks.
    */
  def intersectAll(lists: Array[Array[Long]]): Array[Long] = {
    if (lists.isEmpty) return Array.emptyLongArray
    val byLen = lists.sortBy(_.length)
    byLen.drop(1).foldLeft(byLen.head)(intersect2)
  }

  private def intersect2(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](math.min(a.length, b.length))
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { out(n) = a(i); n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    java.util.Arrays.copyOf(out, n)
  }
}
