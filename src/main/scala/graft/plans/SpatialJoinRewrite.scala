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

  /** Predicates that imply envelope overlap of the pair — the invariant the
    * cell join relies on. st_dwithin is handled separately with
    * distance-expanded cells: padding one side's envelope by d restores the
    * invariant (dist <= d implies expand(env(a), d) overlaps env(b)).
    */
  private val SUPPORTED = Set("st_intersects", "st_contains", "st_within",
    "st_covers", "st_coveredby", "st_containsproperly", "st_touches",
    "st_crosses", "st_overlaps", "st_equals")

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
        def sided(a: Expression, b: Expression): Boolean =
          a.references.nonEmpty && b.references.nonEmpty &&
            a.references.subsetOf(left.outputSet) &&
            b.references.subsetOf(right.outputSet)
        val conjuncts = PlanPredicates.splitConjuncts(cond)
        // any equi key -> Spark's hash join on that key is the better
        // frame (the same decline IndexedSpatialJoinStrategy applies):
        // exploding both sides by cells on TOP of an equality key only
        // multiplies the shuffle
        val hasEquiKey = conjuncts.exists {
          case EqualTo(a, b)       => sided(a, b) || sided(b, a)
          case EqualNullSafe(a, b) => sided(a, b) || sided(b, a)
          case _                   => false
        }
        // (left geometry, right geometry, optional dwithin distance pad)
        val spatial = if (hasEquiKey) None else conjuncts.collectFirst {
          case GraftScalar(name, Seq(a, b)) if SUPPORTED(name) && sided(a, b) =>
            (a, b, None)
          case GraftScalar(name, Seq(a, b)) if SUPPORTED(name) && sided(b, a) =>
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

/** Conjunct splitter shared by the plans package — ONE definition so a
  * later refinement (e.g. stripping wrapper nodes) cannot drift between
  * the rule and the strategy.
  */
private[plans] object PlanPredicates {
  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }
}
