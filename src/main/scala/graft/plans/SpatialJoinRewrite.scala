package graft.plans

import graft.sql.GraftScalar
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

/** Catalyst optimizer rule: plan large spatial joins as grid equi-joins.
  *
  * An inner join whose condition is an `st_*` predicate over the two sides'
  * geometry columns has no equi keys, so Spark can only plan a broadcast
  * nested-loop or cartesian join — fine when one side is small, quadratic
  * disaster when both are large. This rule only matches and gates: it
  * picks the two geometry arguments (and the `st_dwithin` distance) and
  * hands the LOGICAL join to [[GridJoin]], the builder
  * `GeoDataFrame.sjoin(strategy = "grid")` uses too — both sides exploded
  * to the fixed-size grid cells their envelopes overlap, an equi-join on
  * the cell id, the original condition as the exact check, and each pair
  * kept only in its anchor cell. Works for any `spark.sql` text query or
  * DataFrame join — no wrapper API required. The rewritten join carries
  * the cell-id equality, so the equi-key decline below keeps the rule from
  * firing on its own output.
  *
  * Opt-in and gated:
  *  - `spark.graft.sjoin.grid.cellSize` must be set > 0 (the origin-anchored
  *    cell width, in data units — data-dependent, so never guessed);
  *  - both sides' size statistics must exceed the broadcast threshold
  *    (below it, Spark's own BroadcastNestedLoopJoin is the better plan).
  *
  * Registered with [[GraftExtensions]] / `graft.sql.functions.install`.
  */
object SpatialJoinRewrite extends Rule[LogicalPlan] {

  val CELL_SIZE_KEY = "spark.graft.sjoin.grid.cellSize"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // a malformed conf value must not fail EVERY query in the session
    // from inside an optimizer rule — warn once and stand down
    val raw = SQLConf.get.getConfString(CELL_SIZE_KEY, "0")
    val cellSize = raw.toDoubleOption.getOrElse {
      logWarning(s"ignoring malformed $CELL_SIZE_KEY='$raw' (not a number)")
      0.0
    }
    if (cellSize <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if cond.deterministic && isLarge(left) && isLarge(right) =>
        val sided = PlanPredicates.sided(left, right) _
        val supported = PlanPredicates.Kernels.contains _
        val conjuncts = PlanPredicates.splitConjuncts(cond)
        // any equi key -> Spark's hash join on that key is the better
        // frame (the same decline IndexedSpatialJoinStrategy applies):
        // exploding both sides by cells on TOP of an equality key only
        // multiplies the shuffle.
        // (left geometry, right geometry, optional dwithin distance pad)
        val spatial = if (PlanPredicates.hasEquiKey(conjuncts, left, right)) None
          else conjuncts.collectFirst {
            case GraftScalar(name, Seq(a, b)) if supported(name) && sided(a, b) =>
              (a, b, None)
            case GraftScalar(name, Seq(a, b)) if supported(name) && sided(b, a) =>
              (b, a, None)
            case GraftScalar("st_dwithin", Seq(a, b, d)) if d.foldable && sided(a, b) =>
              (a, b, Some(d))
            case GraftScalar("st_dwithin", Seq(a, b, d)) if d.foldable && sided(b, a) =>
              (b, a, Some(d))
          }
        spatial match {
          case None => j
          case Some((lGeom, rGeom, pad)) =>
            val cell = Literal(cellSize, DoubleType)
            // st_dwithin pads the left side's cells and the anchor by d
            def sized(fname: String, args: Expression*) =
              GraftScalar(fname + pad.fold("")(_ => "_pad"), args ++ pad)
            GridJoin(left, right,
              cellsL = sized("st_gridcells_sized", lGeom, cell),
              cellsR = GraftScalar("st_gridcells_sized", Seq(rGeom, cell)),
              cond = cond,
              emit = c => EqualTo(sized("st_gridcell_anchor_sized", lGeom, rGeom, cell), c),
              hint = hint)
        }
    }
  }

  /** Large = would not broadcast: stats above the broadcast threshold, or
    * broadcasting disabled entirely.
    */
  private def isLarge(p: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    threshold <= 0 || p.stats.sizeInBytes > threshold
  }
}

/** Join-condition analysis shared by [[SpatialJoinRewrite]] and
  * [[IndexedSpatialJoinStrategy]] — ONE definition so a later refinement
  * (e.g. stripping wrapper nodes) cannot drift between the rule and the
  * strategy.
  */
private[plans] object PlanPredicates {
  /** The `st_*` predicates both joins plan, by SQL name, with the
    * `PreparedSide.kernel` name each refines with. All imply envelope
    * overlap of the pair — the invariant the grid join and the tree walk
    * rely on. st_dwithin is handled apart, with distance-expanded
    * envelopes: dist <= d implies expand(env(a), d) overlaps env(b).
    */
  val Kernels: Map[String, String] = Map(
    "st_intersects"       -> "intersects",
    "st_contains"         -> "contains",
    "st_within"           -> "within",
    "st_covers"           -> "covers",
    "st_coveredby"        -> "covered_by",
    "st_containsproperly" -> "contains_properly",
    "st_touches"          -> "touches",
    "st_crosses"          -> "crosses",
    "st_overlaps"         -> "overlaps",
    "st_equals"           -> "equals")

  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** `a` reads columns of `left` only and `b` of `right` only. */
  def sided(left: LogicalPlan, right: LogicalPlan)(a: Expression, b: Expression): Boolean =
    a.references.nonEmpty && b.references.nonEmpty &&
      a.references.subsetOf(left.outputSet) &&
      b.references.subsetOf(right.outputSet)

  /** Some conjunct equates a `left` and a `right` expression: an equi key
    * Spark's hash join plans on.
    */
  def hasEquiKey(conjuncts: Seq[Expression], left: LogicalPlan, right: LogicalPlan): Boolean = {
    val s = sided(left, right) _
    conjuncts.exists {
      case EqualTo(a, b)       => s(a, b) || s(b, a)
      case EqualNullSafe(a, b) => s(a, b) || s(b, a)
      case _                   => false
    }
  }
}
