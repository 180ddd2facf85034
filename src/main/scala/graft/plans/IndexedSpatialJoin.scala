package graft.plans

import graft.geom.Geometry
import graft.sql.{GraftScalar, PreparedSide}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, BinaryNode, HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.Decimal

/** Planner strategy: an inner / left-outer / right-outer join whose
  * condition is an `st_*` predicate (and no equi keys) with a build side
  * (the non-preserved side, for outer joins) that carries a `BROADCAST`
  * hint or is SMALL becomes an [[IndexedSpatialJoinExec]] instead of
  * Spark's BroadcastNestedLoopJoin. The nested-loop plan evaluates the
  * exact predicate — decoding BOTH geometries — for every (stream, build)
  * pair; the indexed plan collects the build side once, broadcasts it,
  * builds a packed STR-tree per executor, and per stream row pays one
  * envelope scan + an O(log M) tree walk + exact kernels on true
  * candidates only. Works for any `spark.sql(...)` text query (a
  * `/*+ BROADCAST(t) */` hint included) or raw DataFrame join; it is also
  * the plan of `GeoDataFrame.sjoin(strategy = "broadcast")`, and of the
  * broadcast nearest joins through [[NearestJoin]].
  *
  * Complements [[SpatialJoinRewrite]] (both sides large → grid equi-join,
  * optimizer rule): this strategy fires only when the rewrite declined —
  * one side below the broadcast threshold — and never on its output
  * (the rewritten condition carries anchor-cell equi keys, which the
  * equi-key guard rejects).
  */
object IndexedSpatialJoinStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case NearestJoin(left, right, lGeom, rGeom, k, maxDistance, exclusive, distance, joinType) =>
      IndexedSpatialJoinExec(planLater(left), planLater(right), lGeom, rGeom,
        NearestProbe(k, maxDistance, exclusive, distance), buildRight = true, joinType,
        residual = None) :: Nil
    case Join(left, right, joinType @ (Inner | LeftOuter | RightOuter), Some(cond), hint)
        if cond.deterministic =>
      val conjuncts = PlanPredicates.splitConjuncts(cond)
      // any equi key -> Spark's hash join on that key is the better frame
      if (PlanPredicates.hasEquiKey(conjuncts, left, right)) return Nil
      val sided = PlanPredicates.sided(left, right) _
      val kernels = PlanPredicates.Kernels
      // (expr over left, expr over right, predicate, distance, firstArgIsLeft)
      val spatial = conjuncts.collectFirst {
        case p @ GraftScalar(name, Seq(a, b)) if kernels.contains(name) && sided(a, b) =>
          (p: Expression, a, b, kernels(name), 0.0, true)
        case p @ GraftScalar(name, Seq(a, b)) if kernels.contains(name) && sided(b, a) =>
          (p: Expression, b, a, kernels(name), 0.0, false)
        case p @ GraftScalar("st_dwithin", Seq(a, b, d))
            if d.foldable && foldDouble(d).isDefined && sided(a, b) =>
          (p: Expression, a, b, "dwithin", foldDouble(d).get, true)
        case p @ GraftScalar("st_dwithin", Seq(a, b, d))
            if d.foldable && foldDouble(d).isDefined && sided(b, a) =>
          (p: Expression, b, a, "dwithin", foldDouble(d).get, false)
      }
      spatial match {
        case Some((spatialPred, lGeom, rGeom, pred, dist, firstIsLeft)) =>
          val residual = conjuncts.filterNot(_ eq spatialPred)
            .reduceOption(And)
          // outer joins must stream the preserved side: the build side is
          // forced to the non-preserved one. A BROADCAST hint picks the
          // build side before size does, as in Spark's own join selection.
          def hinted(h: Option[HintInfo]) = h.exists(_.strategy.contains(BROADCAST))
          val (canRight, canLeft) = (joinType != RightOuter, joinType != LeftOuter)
          val buildRight =
            if (canRight && hinted(hint.rightHint)) Some(true)
            else if (canLeft && hinted(hint.leftHint)) Some(false)
            else if (canRight && isSmall(right)) Some(true)
            else if (canLeft && isSmall(left)) Some(false)
            else None
          buildRight.toSeq.map(b => IndexedSpatialJoinExec(planLater(left), planLater(right),
            lGeom, rGeom, PredicateProbe(pred, dist, firstIsLeft), b, joinType, residual))
        case None => Nil
      }
    case _ => Nil
  }

  /** None when the foldable distance evaluates to null (or a
    * non-numeric): the predicate is then NULL-for-every-row under the
    * normal plan, so the strategy must DECLINE rather than join at
    * distance 0 — results may not depend on plan choice.
    */
  private def foldDouble(e: Expression): Option[Double] = e.eval(null) match {
    case d: java.lang.Double  => Some(d.doubleValue())
    case f: java.lang.Float   => Some(f.toDouble)
    case d: Decimal           => Some(d.toDouble)
    case n: java.lang.Number  => Some(n.doubleValue())
    case _                    => None
  }

  /** Small enough to broadcast without a hint: the parquet-encoded stats
    * must fit the broadcast threshold WITH the in-memory WKB expansion
    * factor applied (multiplying the threshold instead, as an earlier
    * version did, broadcast sides 8x too big). A threshold <= 0 disables
    * it. `GeoDataFrame.sjoin(strategy = "auto")` picks this join by the
    * same test.
    */
  def isSmall(p: LogicalPlan, threshold: Long = SQLConf.get.autoBroadcastJoinThreshold)
      : Boolean =
    threshold > 0 && p.stats.sizeInBytes * 8 < BigInt(threshold)
}

/** Nearest-neighbour join of `left` against a small `right` side
  * (`GeoDataFrame.sjoinNearestBroadcast` / `sjoinKnnBroadcast`), planned
  * as [[IndexedSpatialJoinExec]] in its nearest mode: each left row joins
  * its k nearest right rows with their exact distance in `distance` —
  * every tie at the k-th distance kept, at most `maxDistance` away
  * (inclusive); `exclusive` skips right geometries equal to the left one
  * at distance 0. `LeftOuter` keeps left rows without a neighbour, with a
  * null distance and null right columns. Output: the left columns, the
  * distance, the right columns.
  */
case class NearestJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    lGeom: Expression,
    rGeom: Expression,
    k: Int,
    maxDistance: Double,
    exclusive: Boolean,
    distance: Attribute,
    joinType: JoinType) extends BinaryNode {
  require(joinType == Inner || joinType == LeftOuter, s"NearestJoin: unsupported $joinType")

  override def output: Seq[Attribute] = joinType match {
    case LeftOuter => left.output ++ (distance +: right.output).map(_.withNullability(true))
    case _         => left.output ++ (distance +: right.output)
  }
  override def producedAttributes: AttributeSet = AttributeSet(distance)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): NearestJoin =
    copy(left = newLeft, right = newRight)
}

/** What [[IndexedSpatialJoinExec]]'s tree walk finds for one stream row. */
sealed trait TreeProbe extends Serializable

/** The build rows for which the sjoin `predicate` holds (`dwithin`: within
  * `distance`), with the arguments in the order the query wrote them.
  */
case class PredicateProbe(predicate: String, distance: Double, firstArgIsLeft: Boolean)
    extends TreeProbe

/** The build rows nearest the stream row ([[PreparedSide.nearest]]), each
  * emitted with its exact distance in `distance`, between the stream and
  * the build columns.
  */
case class NearestProbe(k: Int, maxDistance: Double, exclusive: Boolean, distance: Attribute)
    extends TreeProbe

/** Physical indexed spatial join. The build (small) side is collected and
  * broadcast ONCE as the rows plus a lazily-materialized
  * [[graft.sql.PreparedSide]] (decoded geometries + packed STR-tree, built
  * once per executor JVM); each stream row walks the tree for its
  * `probe`: the build rows passing an sjoin predicate (its envelope,
  * expanded by the distance for dwithin, then the exact kernel on the
  * surviving candidates only), or its nearest build rows. Residual
  * conjuncts are evaluated on the joined row, matching the nested-loop
  * plan's condition semantics. Output rows are UnsafeRows, so any
  * downstream exchange consumes them directly.
  */
case class IndexedSpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    lGeom: Expression,
    rGeom: Expression,
    probe: TreeProbe,
    buildRight: Boolean,
    joinType: JoinType,
    residual: Option[Expression]) extends SparkPlan {

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "buildRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "build side rows"),
    "candidateRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "tree candidate pairs tested"))

  override def children: Seq[SparkPlan] = Seq(left, right)
  // the stream side passes through unchanged (like
  // BroadcastNestedLoopJoinExec's streamed.outputPartitioning) — without
  // this the default UnknownPartitioning forces a re-shuffle the
  // replaced nested-loop plan never needed
  override def outputPartitioning
      : org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    if (buildRight) left.outputPartitioning else right.outputPartitioning
  // nearest mode streams the left side: its distance sits after it
  private def distance: Seq[Attribute] = probe match {
    case n: NearestProbe => Seq(n.distance)
    case _: PredicateProbe => Nil
  }
  override def output: Seq[Attribute] = joinType match {
    case LeftOuter  => left.output ++ (distance ++ right.output).map(_.withNullability(true))
    case RightOuter => left.output.map(_.withNullability(true)) ++ right.output
    case _          => left.output ++ distance ++ right.output
  }

  override protected def withNewChildrenInternal(children: IndexedSeq[SparkPlan]): SparkPlan =
    copy(left = children(0), right = children(1))

  override protected def doExecute(): RDD[InternalRow] = {
    val (buildPlan, streamPlan) = if (buildRight) (right, left) else (left, right)
    val buildGeom = BindReferences.bindReference(
      if (buildRight) rGeom else lGeom, buildPlan.output)
    val streamGeom = BindReferences.bindReference(
      if (buildRight) lGeom else rGeom, streamPlan.output)
    val buildSide = new SpatialBuildSide(buildPlan.executeCollect(), buildGeom)
    longMetric("buildRows") += buildSide.rows.length
    val bc = sparkContext.broadcast(buildSide)
    val numOutputRows = longMetric("numOutputRows")
    val candidateRows = longMetric("candidateRows")
    val treeProbe = probe
    val bRight = buildRight
    val resExpr = residual
    val outAttrs = output
    val outer = joinType != Inner
    val buildWidth = buildPlan.output.size
    streamPlan.execute().mapPartitions { iter =>
      val side = bc.value
      val prepared = side.prepared
      val rows = side.rows
      val joined = new JoinedRow
      val withDistance = new JoinedRow
      val distanceRow = new GenericInternalRow(1)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val resPred = resExpr.map(Predicate.create(_, outAttrs))
      resPred.foreach(_.initialize(0))
      // null-padded build side for preserved stream rows with no match
      val nullBuild: InternalRow = new GenericInternalRow(buildWidth)
      // matched build indices of one stream row, and their distances in
      // nearest mode (else null). JoinedRow is a view — rebuild at emit
      // time, so no row copies are buffered.
      val matches: (InternalRow, Array[Byte]) => (Array[Int], Array[Double]) =
        treeProbe match {
          case PredicateProbe(pred, dist, firstArgIsLeft) =>
            val kern: (Geometry, Geometry) => Boolean =
              if (pred == "dwithin") null else PreparedSide.kernel(pred)
            // does the probe (stream) geometry supply the predicate's FIRST arg?
            val probeFirst = firstArgIsLeft == bRight
            (streamRow, bytes) => {
              val matched = new scala.collection.mutable.ArrayBuilder.ofInt
              candidateRows += PreparedSide.visitCandidates(
                prepared, bytes, pred, kern, dist, probeFirst, { i =>
                  val j = if (bRight) joined(streamRow, rows(i)) else joined(rows(i), streamRow)
                  if (resPred.forall(_.eval(j))) matched += i
                })
              (matched.result(), null)
            }
          case NearestProbe(k, maxDistance, exclusive, _) =>
            (_, bytes) => {
              val hits = PreparedSide.nearest(prepared, bytes, k, maxDistance, exclusive)
              (hits.map(_._1), hits.map(_._2))
            }
        }
      val nearestMode = treeProbe.isInstanceOf[NearestProbe]
      def emit(streamRow: InternalRow, build: InternalRow): InternalRow = {
        val stream = if (nearestMode) withDistance(streamRow, distanceRow) else streamRow
        resultProj(if (bRight) joined(stream, build) else joined(build, stream))
      }
      iter.flatMap { streamRow =>
        val bytes = streamGeom.eval(streamRow).asInstanceOf[Array[Byte]]
        val (m, distances) =
          if (bytes == null) (Array.emptyIntArray, null) else matches(streamRow, bytes)
        if (m.length == 0) {
          if (outer) {
            numOutputRows += 1
            distanceRow.setNullAt(0)
            Iterator.single(emit(streamRow, nullBuild))
          } else Iterator.empty
        } else {
          numOutputRows += m.length
          m.indices.iterator.map { j =>
            if (distances != null) distanceRow.setDouble(0, distances(j))
            emit(streamRow, rows(m(j)))
          }
        }
      }
    }
  }
}

/** Broadcast payload of [[IndexedSpatialJoinExec]]: the collected build
  * rows plus the prepared index, materialized lazily so only the compact
  * rows ship over the wire and the decode + tree build run once per
  * executor JVM.
  */
final class SpatialBuildSide(
    val rows: Array[InternalRow],
    boundGeom: Expression) extends Serializable {
  @transient lazy val prepared: PreparedSide = new PreparedSide(
    rows.map(r => boundGeom.eval(r).asInstanceOf[Array[Byte]]))
}
