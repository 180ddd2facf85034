package graft.geom

/** Static packed Sort-Tile-Recursive R-tree over envelopes.
  *
  * Built once from an envelope array, queried many times — the in-memory
  * index behind the prepared broadcast side of `GeoDataFrame.sjoin`
  * (decode-once + O(log n) candidate lookup instead of the nested-loop
  * join's O(n) exact-predicate evaluations per probe row). STR packing
  * (Leutenegger et al. 1997) bulk-loads a fully packed tree: sort by
  * center-x into vertical slices, sort each slice by center-y, cut runs of
  * `Fanout` into leaf nodes; upper levels group consecutive nodes, which
  * preserves the tiling locality.
  *
  * Layout is struct-of-arrays: one `Array[Double]` of `[minX,minY,maxX,
  * maxY]` records per level (level 0 = items in STR order), plus the item
  * index for each leaf slot. No node objects, so a broadcast copy is three
  * flat arrays and the query loop stays allocation-free until output.
  *
  * Items with an empty envelope are excluded — every predicate an sjoin
  * supports implies envelope interaction, and empties satisfy none of them
  * (see EmptyGeometrySpec).
  */
final class StrTree private (
    levels: Array[Array[Double]],
    leafItem: Array[Int]) extends Serializable {

  def isEmpty: Boolean = leafItem.length == 0
  def size: Int = leafItem.length

  /** Indices (into the build-time array) of items whose envelope intersects
    * the closed query box. Order follows the packed layout, not item order.
    */
  def query(q: Envelope): Array[Int] = {
    if (isEmpty || q.isEmpty) return Array.emptyIntArray
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    val top = levels.length - 1
    val topCount = levels(top).length / 4
    var i = 0
    while (i < topCount) {
      descend(top, i, q.minX, q.minY, q.maxX, q.maxY, out)
      i += 1
    }
    out.result()
  }

  /** Best-first nearest-neighbor search (branch-and-bound): returns the
    * indices of ALL items at the minimum exact distance (ties kept — the
    * geopandas `sjoin_nearest` contract) and that distance, restricted to
    * `exact(i) <= maxDist`. `exact` supplies the true geometry distance for
    * an item (NaN = skip the item, e.g. an `exclusive` self-match); the
    * envelope gap to a node box lower-bounds every exact distance inside
    * it, so subtrees that cannot beat the running best are never visited.
    * Returns `(empty, NaN)` when nothing qualifies.
    */
  def nearest(probe: Envelope, maxDist: Double, exact: Int => Double): (Array[Int], Double) = {
    if (isEmpty || probe.isEmpty) return (Array.emptyIntArray, Double.NaN)
    var best = maxDist
    val ties = new scala.collection.mutable.ArrayBuilder.ofInt
    var found = false
    bestFirst(probe, () => best) { item =>
      val d = exact(item)
      if (d <= best) { // NaN compares false
        if (d < best || !found) { ties.clear(); best = d; found = true }
        ties += item
      }
    }
    if (!found) (Array.emptyIntArray, Double.NaN)
    else {
      val out = ties.result()
      java.util.Arrays.sort(out)
      (out, best)
    }
  }

  /** k-nearest with the `rank() <= k` tie contract: item i is kept iff
    * fewer than k items are STRICTLY closer — all ties at the k-th
    * distance survive (the same semantics the window-rank formulation of
    * a nearest join produces). Two phases: classic branch-and-bound kNN
    * establishes the k-th-smallest distance T, then a range pass collects
    * every item with exact distance <= T and applies the rank filter.
    * Results sorted by (distance, index). `exact(i)` = NaN skips item i.
    */
  def kNearest(probe: Envelope, k: Int, maxDist: Double,
      exact: Int => Double): Array[(Int, Double)] = {
    if (isEmpty || probe.isEmpty || k <= 0) return Array.empty
    // phase 1: max-heap of the k smallest exact distances
    val heap = new java.util.PriorityQueue[java.lang.Double](
      k, java.util.Collections.reverseOrder[java.lang.Double]())
    def bound: Double = if (heap.size < k) maxDist else math.min(maxDist, heap.peek)
    bestFirst(probe, () => bound) { item =>
      val d = exact(item)
      if (d <= bound) { // NaN compares false
        heap.add(d)
        if (heap.size > k) heap.poll()
      }
    }
    if (heap.isEmpty) return Array.empty
    val t = heap.peek.doubleValue // k-th smallest found (or the overall max if < k items)
    // phase 2: exact distance <= t implies envelope gap <= t
    val hits = query(probe.expand(t)).flatMap { i =>
      val d = exact(i)
      if (d <= t) Some((i, d)) else None
    }.sortBy(x => (x._2, x._1))
    // rank filter: a run of equal distances survives iff the count of
    // strictly-closer items is < k
    val out = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    var j = 0
    while (j < hits.length) {
      var runEnd = j
      while (runEnd < hits.length && hits(runEnd)._2 == hits(j)._2) runEnd += 1
      if (j < k) out ++= hits.slice(j, runEnd)
      j = runEnd
    }
    out.toArray
  }

  /** Smallest `u` at which the items with `upper(i) <= u` weigh at least
    * `k` together, or +Inf when all items together weigh less. `upper(i)`
    * must be at least the envelope gap between the probe and item i (NaN
    * leaves the item out): the best-first walk then stops once the next
    * gap exceeds the running answer, since no farther item can lower it.
    * With weight = rows per cell and upper = the farthest box-to-box reach,
    * `u` bounds the probe's k-th nearest distance.
    */
  def weightedBound(probe: Envelope, k: Long, weight: Int => Long,
      upper: Int => Double): Double = {
    if (isEmpty || probe.isEmpty) return Double.PositiveInfinity
    // max-heap of the kept items (upper, weight): the fewest nearest-by-
    // upper items that still reach k, so the answer is its head
    val kept = new java.util.PriorityQueue[Array[Double]](
      11, (a: Array[Double], b: Array[Double]) => java.lang.Double.compare(b(0), a(0)))
    var total = 0L
    def bound: Double = if (total < k) Double.PositiveInfinity else kept.peek()(0)
    bestFirst(probe, () => bound) { item =>
      val u = upper(item)
      val w = weight(item)
      if (u < bound && w > 0) { // NaN compares false
        kept.add(Array(u, w.toDouble)); total += w
        while (total - kept.peek()(1).toLong >= k) total -= kept.poll()(1).toLong
      }
    }
    bound
  }

  // Best-first walk shared by the nearest searches: hands `visit` the leaf
  // items in ascending envelope-gap order while the gap stays <= bound(),
  // re-read after every step so a shrinking bound prunes the rest.
  private def bestFirst(probe: Envelope, bound: () => Double)(visit: Int => Unit): Unit = {
    val pq = new java.util.PriorityQueue[Array[Double]](
      11, (a: Array[Double], b: Array[Double]) => java.lang.Double.compare(a(0), b(0)))
    def push(level: Int, node: Int): Unit = {
      val lb = boxGap(probe, levels(level), node * 4)
      if (lb <= bound()) pq.add(Array(lb, level.toDouble, node.toDouble))
    }
    val top = levels.length - 1
    (0 until levels(top).length / 4).foreach(push(top, _))
    while (!pq.isEmpty && pq.peek()(0) <= bound()) {
      val e = pq.poll()
      val level = e(1).toInt; val node = e(2).toInt
      if (level == 0) visit(leafItem(node))
      else {
        val end = math.min((node + 1) * StrTree.Fanout, levels(level - 1).length / 4)
        (node * StrTree.Fanout until end).foreach(push(level - 1, _))
      }
    }
  }

  // gap between the probe envelope and the node box at offset o — a lower
  // bound for the distance of any geometry pair inside them. hypot, as in
  // the point-distance kernel: between two points the gap then equals the
  // exact distance bit for bit, so a tied item is never pruned by a bound
  // rounded one ulp above the running best (sqrt(dx*dx + dy*dy) can be)
  private def boxGap(p: Envelope, e: Array[Double], o: Int): Double = {
    val dx = math.max(0.0, math.max(e(o) - p.maxX, p.minX - e(o + 2)))
    val dy = math.max(0.0, math.max(e(o + 1) - p.maxY, p.minY - e(o + 3)))
    math.hypot(dx, dy)
  }

  private def descend(level: Int, node: Int, qMinX: Double, qMinY: Double,
      qMaxX: Double, qMaxY: Double,
      out: scala.collection.mutable.ArrayBuilder.ofInt): Unit = {
    val e = levels(level)
    val o = node * 4
    if (qMaxX < e(o) || qMinX > e(o + 2) || qMaxY < e(o + 1) || qMinY > e(o + 3)) return
    if (level == 0) {
      out += leafItem(node)
    } else {
      val childCount = levels(level - 1).length / 4
      var c = node * StrTree.Fanout
      val end = math.min(c + StrTree.Fanout, childCount)
      while (c < end) {
        descend(level - 1, c, qMinX, qMinY, qMaxX, qMaxY, out)
        c += 1
      }
    }
  }
}

object StrTree {
  val Fanout = 16

  val empty: StrTree = new StrTree(Array(Array.emptyDoubleArray), Array.emptyIntArray)

  /** Bulk-load from envelopes; `envs(i).isEmpty` items are skipped (their
    * index never appears in query results).
    */
  def build(envs: Array[Envelope]): StrTree = {
    val items = (0 until envs.length).filter(i => !envs(i).isEmpty).toArray
    val n = items.length
    if (n == 0) return empty

    // STR tiling of the leaf level: slices by center-x, runs by center-y
    val leafNodes = (n + Fanout - 1) / Fanout
    val slices = math.ceil(math.sqrt(leafNodes.toDouble)).toInt
    val sliceSize = ((n + slices - 1) / slices + Fanout - 1) / Fanout * Fanout
    val byCx = items.sortBy(i => envs(i).midX)
    val ordered = byCx.grouped(math.max(sliceSize, Fanout)).flatMap { slice =>
      slice.sortBy(i => envs(i).midY)
    }.toArray

    val level0 = new Array[Double](n * 4)
    var i = 0
    while (i < n) {
      val e = envs(ordered(i))
      level0(i * 4) = e.minX; level0(i * 4 + 1) = e.minY
      level0(i * 4 + 2) = e.maxX; level0(i * 4 + 3) = e.maxY
      i += 1
    }

    val levels = scala.collection.mutable.ArrayBuffer(level0)
    while (levels.last.length / 4 > 1) {
      val lower = levels.last
      val lowerCount = lower.length / 4
      val upperCount = (lowerCount + Fanout - 1) / Fanout
      val upper = new Array[Double](upperCount * 4)
      var u = 0
      while (u < upperCount) {
        var mnx = Double.PositiveInfinity; var mny = Double.PositiveInfinity
        var mxx = Double.NegativeInfinity; var mxy = Double.NegativeInfinity
        var c = u * Fanout
        val end = math.min(c + Fanout, lowerCount)
        while (c < end) {
          val o = c * 4
          if (lower(o) < mnx) mnx = lower(o)
          if (lower(o + 1) < mny) mny = lower(o + 1)
          if (lower(o + 2) > mxx) mxx = lower(o + 2)
          if (lower(o + 3) > mxy) mxy = lower(o + 3)
          c += 1
        }
        upper(u * 4) = mnx; upper(u * 4 + 1) = mny
        upper(u * 4 + 2) = mxx; upper(u * 4 + 3) = mxy
        u += 1
      }
      levels += upper
    }
    new StrTree(levels.toArray, ordered)
  }
}
