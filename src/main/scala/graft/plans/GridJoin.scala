package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.LongType

/** The one grid spatial-join builder, shared by `GeoDataFrame.sjoin`
  * (`strategy = "grid"` and its hot-cell legs), `sjoinDwithinSphere` and the
  * [[SpatialJoinRewrite]] SQL rule: each side explodes to the grid cells
  * its (padded) envelope overlaps, the sides equi-join on the cell id,
  * `cond` re-checks the exact predicate and `emit` keeps each pair only in
  * its anchor cell — exactly once, with no dedup pass. `keep` drops cells
  * on both sides before the join (the hot-cell legs split the cell space).
  * The result has the two children's columns. `cond` and `emit` may hold
  * unresolved attributes; the analyzer resolves them against the sides.
  */
object GridJoin {
  def apply(left: LogicalPlan, right: LogicalPlan, cellsL: Expression, cellsR: Expression,
      cond: Expression, emit: Expression => Expression,
      keep: Option[Expression => Expression] = None,
      hint: JoinHint = JoinHint.NONE): LogicalPlan = {
    def exploded(cells: Expression, child: LogicalPlan, name: String) = {
      val cell = AttributeReference(name, LongType)()
      val gen = Generate(Explode(cells), Nil, outer = false, None, Seq(cell), child)
      (cell, keep.fold[LogicalPlan](gen)(k => Filter(k(cell), gen)))
    }
    val (cellL, l) = exploded(cellsL, left, "_gcell_l")
    val (cellR, r) = exploded(cellsR, right, "_gcell_r")
    // `cond` ahead of the cell key: an equality in it (sjoin's onAttribute)
    // leads the join keys
    val joinCond = And(And(cond, EqualTo(cellL, cellR)), emit(cellL))
    Project(left.output ++ right.output, Join(l, r, Inner, Some(joinCond), hint))
  }
}
