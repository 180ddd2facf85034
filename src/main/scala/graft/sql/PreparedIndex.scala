package graft.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}
import org.apache.spark.sql.GraftInterop.AbsType
import graft.geom.{Envelope, Geometry, Predicates, StrTree, Wkb}

/** The build side of an indexed broadcast spatial join.
  *
  * Shipped to executors as the compact WKB the rows already carry; the
  * decoded geometries, envelopes, and packed STR-tree are materialized
  * lazily ONCE per executor JVM (transient lazy vals) on first probe. This
  * replaces the BroadcastNestedLoopJoin plan — which re-decodes BOTH sides
  * of every (probe, build) pair and runs the exact predicate N_build times
  * per probe row — with one probe-side decode and O(log n + candidates)
  * work per row. Decode is 85% of the binary-predicate hot path
  * (PROFILE.md), so at 100 TB with a 10^4-row build side this is the
  * difference between 10^4 exact predicates per probe row and a handful.
  *
  * Rows with null or empty geometry never enter the tree: every supported
  * sjoin predicate implies envelope interaction and is false for empties
  * (EmptyGeometrySpec), matching the nested-loop plan where a null WKB
  * nulls out the predicate.
  */
final class PreparedSide(wkbs: Array[Array[Byte]]) extends Serializable {
  @transient lazy val geoms: Array[Geometry] =
    wkbs.map(b => if (b == null) null else Wkb.read(b))
  @transient lazy val envs: Array[Envelope] =
    wkbs.map(b => if (b == null) Envelope.empty else Wkb.envelopeOf(b))
  @transient lazy val tree: StrTree = StrTree.build(envs)
}

object PreparedSide {
  /** Exact-refinement kernel for an sjoin predicate name, probe side first —
    * the SAME kernel entry points the `st_*` Catalyst expressions call, so
    * the indexed and nested-loop plans agree bit-for-bit on edge cases
    * (multi-part decomposition, GEOS-faithful boundary rules, empties).
    */
  def kernel(predicate: String): (Geometry, Geometry) => Boolean = predicate match {
    case "intersects"        => Predicates.intersects
    case "contains"          => Predicates.contains
    case "contains_properly" => Predicates.containsProperly
    case "within"            => Predicates.within
    case "covers"            => Predicates.covers
    case "covered_by"        => Predicates.coveredBy
    case "touches"           => Predicates.touches
    case "crosses"           => Predicates.crosses
    case "overlaps"          => Predicates.overlaps
    case "equals"            => Predicates.geomEquals
    case other =>
      throw new IllegalArgumentException(s"unknown indexed sjoin predicate $other")
  }

  /** Shared candidate refinement: tree query + the dwithin envelope-gap
    * lower bound + lazy probe decode, invoking `emit(i)` for every build
    * index whose exact kernel passes (`probeFirst` puts the probe
    * geometry in the predicate's first argument slot). Returns the tree
    * candidate count (the metric feed).
    */
  def visitCandidates(side: PreparedSide, bytes: Array[Byte],
      predicate: String, kern: (Geometry, Geometry) => Boolean,
      distance: Double, probeFirst: Boolean, emit: Int => Unit): Int = {
    val probeEnv = Wkb.envelopeOf(bytes)
    val qEnv = if (predicate == "dwithin") probeEnv.expand(distance) else probeEnv
    val cand = side.tree.query(qEnv)
    var probe: Geometry = null
    val d2 = distance * distance
    var k = 0
    while (k < cand.length) {
      val i = cand(k)
      val ok =
        if (predicate == "dwithin") {
          val eb = side.envs(i)
          val dx = math.max(0.0, math.max(eb.minX - probeEnv.maxX, probeEnv.minX - eb.maxX))
          val dy = math.max(0.0, math.max(eb.minY - probeEnv.maxY, probeEnv.minY - eb.maxY))
          dx * dx + dy * dy <= d2 && {
            if (probe == null) probe = Wkb.read(bytes)
            Predicates.dWithin(probe, side.geoms(i), distance)
          }
        } else {
          if (probe == null) probe = Wkb.read(bytes)
          if (probeFirst) kern(probe, side.geoms(i))
          else kern(side.geoms(i), probe)
        }
      if (ok) emit(i)
      k += 1
    }
    cand.length
  }

  /** The build rows nearest to the probe WKB, as (index, exact distance):
    * every tie at the minimum distance for `k = 1` (the geopandas
    * `sjoin_nearest` keep-all-ties contract), else the `rank() <= k` set.
    * Empty when nothing lies within `maxDistance` or the probe is empty.
    * Branch-and-bound over the tree: subtrees whose envelope gap cannot
    * beat the running bound are never visited, and the probe is decoded
    * only if one exact distance is evaluated. `exclusive` skips
    * topologically-equal build geometries at distance 0 (shapely
    * `query_nearest(exclusive=True)`).
    */
  def nearest(side: PreparedSide, bytes: Array[Byte], k: Int, maxDistance: Double,
      exclusive: Boolean): Array[(Int, Double)] = {
    val probeEnv = Wkb.envelopeOf(bytes)
    if (probeEnv.isEmpty) return Array.empty
    var probe: Geometry = null
    val exact = { (i: Int) =>
      if (probe == null) probe = Wkb.read(bytes)
      val g = side.geoms(i)
      val d = graft.geom.Measures.distance(probe, g)
      if (exclusive && d == 0.0 && Predicates.geomEquals(probe, g)) Double.NaN else d
    }
    if (k == 1) {
      val (ties, best) = side.tree.nearest(probeEnv, maxDistance, exact)
      ties.map(i => (i, best))
    } else side.tree.kNearest(probeEnv, k, maxDistance, exact)
  }
}

/** Phase-1 summary of the right side of a two-phase kNN join: one entry
  * per non-empty grid cell with its key, its row count and the union of
  * its rows' envelopes. Exactness needs only that every right row sits in
  * exactly one entry whose envelope covers the row's. The STR-tree over
  * the cell envelopes is built lazily once per executor JVM.
  */
final class KnnCells(
    val keys: Array[Long],
    val counts: Array[Long],
    val envs: Array[Envelope]) extends Serializable {
  @transient lazy val tree: StrTree = StrTree.build(envs)
}

/** Catalyst expression: the cell keys a left row must visit to find its k
  * nearest right rows — `array<bigint>` feeding an `explode` and an
  * equi-join on the right rows' home cell.
  *
  * U is the smallest farthest-reach (envelope-to-envelope max-distance) at
  * which the cumulative row count of the cells reaches k, so at least k
  * right rows lie within U and the k-th nearest distance is at most U.
  * Every right row of rank <= k is therefore within U, and its cell's gap
  * to the probe is too: the cells with gap <= U hold all of them. With
  * fewer than k right rows U is infinite and every cell is visited. Under
  * `exclusive` the cells meeting the probe envelope (the only ones that
  * can hold a right geometry equal to the probe) do not count towards U.
  * Null or empty probes visit no cell.
  */
case class KnnCellProbe(
    child: Expression,
    k: Int,
    exclusive: Boolean,
    index: Broadcast[KnnCells])
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbsType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "st_knn_cells"

  def cells(bytes: Array[Byte]): ArrayData = {
    val side = index.value
    val probe = Wkb.envelopeOf(bytes)
    if (probe.isEmpty) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val u = side.tree.weightedBound(probe, k, side.counts(_), { i =>
      val e = side.envs(i)
      if (exclusive && e.intersects(probe)) Double.NaN else probe.maxDistance(e)
    })
    val hits =
      if (u.isInfinite) side.keys
      else {
        // slack for rounding in the exact distance kernels: extra cells
        // only add candidates, which the rank filter drops
        val reach = u * (1 + 1e-9)
        side.tree.query(probe.expand(reach))
          .filter(i => probe.minDistance(side.envs(i)) <= reach).map(side.keys(_))
      }
    UnsafeArrayData.fromPrimitiveArray(hits)
  }

  override def nullSafeEval(input: Any): Any =
    cells(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("knnCellProbe", this, classOf[KnnCellProbe].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.cells($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): KnnCellProbe =
    copy(child = newChild)
}
