package graft.plans

import graft.geom.Envelope
import graft.io.{SpatialFileScan, SpatialFileTable}
import graft.sql.GraftScalar
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalyst optimizer rule: declarative spatial filter pushdown for the
  * engine's spatial file-source connector ([[SpatialFileTable]] and
  * [[SpatialFileScan]]: shapefile, flatgeobuf, geopackage, spatialite,
  * filegdb).
  *
  * A plain `.filter(st_intersects(geometry, <literal mask>))` (or any
  * bbox-derivable spatial conjunct — st_intersectsbox / within / contains
  * / dwithin / a `st_distance < d` comparison) over one of these sources
  * now prunes at the source exactly like the explicit `bbox` option: the
  * rule folds the literal side's envelope at plan time and injects it into
  * the connector, which routes it through its native index (shapefile
  * header envelopes, FlatGeobuf packed Hilbert R-tree, GeoPackage and
  * SpatiaLite R*-trees, FileGDB block envelopes). This is the DSv2 analog
  * of the reference's DNF fragment pruning on parquet datasets (`dask_geopandas/io/arrow.py:90-96`) —
  * there the bbox prunes fragments via per-fragment metadata; here it
  * prunes files / feature runs / rowids via each format's own index.
  *
  * Semantics are unchanged: the envelope test is necessary for every
  * supported predicate, the connectors keep the row superset (file-level
  * prune + exact envelope residual task-side), and the original Filter
  * stays on top as the exact refinement. Conjuncts are intersected; an
  * empty intersection legitimately plans zero input partitions.
  *
  * Two plan shapes, one per registration route:
  *  - `spark.sql.extensions` (operator-optimization batch, pre-pushdown):
  *    `Filter` over [[DataSourceV2Relation]] — the bbox is injected as a
  *    scan option and V2ScanRelationPushDown builds the pruned scan.
  *  - `experimental.extraOptimizations` (post-pushdown): `Filter` over
  *    [[DataSourceV2ScanRelation]] — the built scan is rebuilt with the
  *    bbox via the scan's `withBbox` hook.
  * Both converge: the rewrite is skipped once the scan's bbox equals the
  * derived (intersected) envelope.
  */
object V2BboxPushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: DataSourceV2Relation) => rel.table match {
      case t: SpatialFileTable =>
        t.geometryColumn.flatMap(derive(cond, _, rel.outputSet)).flatMap { env =>
          val existing = parseBbox(rel.options.get("bbox"))
          val merged = inter(existing, env)
          if (existing.exists(sameEnv(_, merged))) None
          else {
            val m = new java.util.HashMap[String, String](rel.options.asCaseSensitiveMap())
            m.put("bbox", fmt(merged))
            Some(Filter(cond, rel.copy(options = new CaseInsensitiveStringMap(m))))
          }
        }.getOrElse(f)
      case _ => f
    }

    case f @ Filter(cond, sr: DataSourceV2ScanRelation) => sr.scan match {
      case s: SpatialFileScan =>
        s.geometryColumn.flatMap(derive(cond, _, sr.outputSet)).flatMap { env =>
          val existing = s.bbox.map { case (x0, y0, x1, y1) => Envelope(x0, y0, x1, y1) }
          val merged = inter(existing, env)
          if (existing.exists(sameEnv(_, merged))) None
          else Some(Filter(cond, sr.copy(scan = s.withBbox(fmt(merged)))))
        }.getOrElse(f)
      case _ => f
    }
  }

  // ---- bbox plumbing ------------------------------------------------------

  private def parseBbox(s: String): Option[Envelope] =
    Option(s).flatMap { v =>
      val a = v.split(",").map(_.trim)
      if (a.length == 4)
        try Some(Envelope(a(0).toDouble, a(1).toDouble, a(2).toDouble, a(3).toDouble))
        catch { case _: NumberFormatException => None }
      else None
    }

  private def inter(existing: Option[Envelope], e: Envelope): Envelope =
    existing match {
      case Some(b) => Envelope(math.max(b.minX, e.minX), math.max(b.minY, e.minY),
        math.min(b.maxX, e.maxX), math.min(b.maxY, e.maxY))
      case None => e
    }

  private def sameEnv(a: Envelope, b: Envelope): Boolean =
    a.minX == b.minX && a.minY == b.minY && a.maxX == b.maxX && a.maxY == b.maxY

  private def fmt(e: Envelope): String =
    s"${e.minX},${e.minY},${e.maxX},${e.maxY}"

  // ---- predicate -> envelope ---------------------------------------------

  /** Intersection of the envelopes implied by every bbox-derivable conjunct
    * referencing the relation's geometry attribute; None when no conjunct
    * qualifies.
    */
  private def derive(cond: Expression, geomCol: String,
      out: AttributeSet): Option[Envelope] = {
    def isGeom(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase(geomCol) && out.contains(a)
      case _                     => false
    }
    val envs = split(cond).flatMap(envOf(_, isGeom))
    if (envs.isEmpty) None
    else Some(envs.reduceLeft((a, b) => inter(Some(a), b)))
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case other     => Seq(other)
  }

  // predicates where geom-as-arg0 intersecting the other side's envelope is
  // a necessary condition
  private val fwd = Set("st_intersects", "st_within", "st_coveredby",
    "st_equals", "st_touches", "st_crosses", "st_overlaps")
  // same with geom as arg1
  private val rev = Set("st_intersects", "st_contains", "st_covers",
    "st_equals", "st_touches", "st_crosses", "st_overlaps")

  /** Envelope a single conjunct implies for the given geometry ATTRIBUTE
    * (exprId identity, not name) — the covering-column rewrite in
    * [[SpatialFilterPushdown]] reuses the same predicate->envelope table.
    */
  private[plans] def envForAttr(pred: Expression,
      geom: Attribute): Option[Envelope] =
    envOf(pred, {
      case ar: AttributeReference => ar.exprId == geom.exprId
      case _                      => false
    })

  private def envOf(pred: Expression,
      isGeom: Expression => Boolean): Option[Envelope] = pred match {
    case GraftScalar("st_intersectsbox", Seq(g, b0, b1, b2, b3)) if isGeom(g) =>
      for {
        x0 <- SpatialFilterPushdown.dLit(b0); y0 <- SpatialFilterPushdown.dLit(b1)
        x1 <- SpatialFilterPushdown.dLit(b2); y1 <- SpatialFilterPushdown.dLit(b3)
      } yield Envelope(x0, y0, x1, y1)

    case GraftScalar(n, Seq(g, other)) if fwd(n) && isGeom(g) =>
      SpatialFilterPushdown.foldEnvelope(other)
    case GraftScalar(n, Seq(other, g)) if rev(n) && isGeom(g) =>
      SpatialFilterPushdown.foldEnvelope(other)

    case GraftScalar("st_dwithin", Seq(g, other, d)) if isGeom(g) =>
      expanded(other, d)
    case GraftScalar("st_dwithin", Seq(other, g, d)) if isGeom(g) =>
      expanded(other, d)

    case LessThan(GraftScalar("st_distance", Seq(g, other)), d) if isGeom(g) =>
      expanded(other, d)
    case LessThan(GraftScalar("st_distance", Seq(other, g)), d) if isGeom(g) =>
      expanded(other, d)
    case LessThanOrEqual(GraftScalar("st_distance", Seq(g, other)), d) if isGeom(g) =>
      expanded(other, d)
    case LessThanOrEqual(GraftScalar("st_distance", Seq(other, g)), d) if isGeom(g) =>
      expanded(other, d)
    case GreaterThan(d, GraftScalar("st_distance", Seq(g, other))) if isGeom(g) =>
      expanded(other, d)
    case GreaterThan(d, GraftScalar("st_distance", Seq(other, g))) if isGeom(g) =>
      expanded(other, d)
    case GreaterThanOrEqual(d, GraftScalar("st_distance", Seq(g, other))) if isGeom(g) =>
      expanded(other, d)
    case GreaterThanOrEqual(d, GraftScalar("st_distance", Seq(other, g))) if isGeom(g) =>
      expanded(other, d)

    case _ => None
  }

  private def expanded(other: Expression, d: Expression): Option[Envelope] =
    (SpatialFilterPushdown.foldEnvelope(other), SpatialFilterPushdown.dLit(d)) match {
      case (Some(env), Some(dist)) if dist >= 0 => Some(env.expand(dist))
      case _                                    => None
    }
}
