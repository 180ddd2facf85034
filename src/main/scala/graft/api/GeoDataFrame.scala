package graft.api

import graft.geom.{Envelope, Geometry, GeometryCollection, Polygon, Wkb}
import graft.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, Metadata, MetadataBuilder}

/** Distributed geospatial table: a thin wrapper over DataFrame carrying
  *  - the active geometry column name (reference `GeoDataFrame` keeps it in
  *    meta — `dask_geopandas/expr.py:584-598`),
  *  - CRS as column metadata (reference `expr.py:222-257`),
  *  - optional driver-side spatial partition envelopes (reference
  *    `spatial_partitions`, `expr.py:122-142`).
  *
  * All relational behavior (select/filter/groupBy/join/...) stays on the
  * underlying DataFrame — exactly how the reference inherits the relational
  * core from dask.dataframe (`expr.py:80`). Only the spatial operators live
  * here, and each is expressed with declarative Spark ops so Catalyst can
  * push filters/prune columns.
  *
  * Scale note (100 TB): `spatialPartitions` is metadata-only pruning sugar;
  * the scalable layout path is `spatialShuffle` (range partition by SFC key)
  * which gives parquet min/max file skipping on the key, and the grid
  * `sjoin` strategy which is a plain shuffled equi-join — no driver-side
  * geometry state required.
  */
/** Footer-derived per-file bboxes of the scan a GeoDataFrame was read from
  * (GeoParquet "geo" metadata). `forDf` pins the exact DataFrame instance the
  * file list describes: every transform produces a new DataFrame, so stale
  * file pruning can never apply to derived plans — the identity check makes
  * propagation through `copy(...)` harmless.
  */
final case class FileSourceMeta(
    basePath: String,
    bboxes: Map[String, Envelope],
    forDf: DataFrame,
    // datasets whose on-disk schema differs from the in-plan schema (e.g.
    // geoarrow-encoded GeoParquet, decoded to WKB on read) re-plan through
    // this hook: it rebuilds the pruned scan AND re-applies the decode. The
    // default re-plan reads with the in-plan schema directly.
    rebuild: Option[Seq[String] => DataFrame] = None) {
  def validFor(df: DataFrame): Boolean = (forDf eq df) && bboxes.nonEmpty
}

/** A source-specific bbox re-plan hook: `.cx` can replace the whole scan
  * with a fresh read that only touches data intersecting the box (e.g. a
  * FlatGeobuf read through its packed R-tree). `replan` may DECLINE with
  * None when re-reading would not actually prune anything (e.g. every
  * feather footer bbox intersects the window) — cx then falls through to
  * the ordinary filter path on the existing scan. `forDf` identity-pins
  * the exact DataFrame the hook describes, like [[FileSourceMeta]]: any
  * transform produces a new DataFrame, so a stale hook can never re-plan
  * a derived frame.
  */
final case class BoxSourceMeta(forDf: DataFrame, replan: Envelope => Option[DataFrame]) {
  def validFor(df: DataFrame): Boolean = forDf eq df
}

final case class GeoDataFrame(
    df: DataFrame,
    geometryColumn: String = "geometry",
    spatialPartitions: Option[Array[Envelope]] = None,
    pointSource: Option[(String, String)] = None,
    fileSource: Option[FileSourceMeta] = None,
    // convex hulls per partition (reference calculate_spatial_partitions,
    // `expr.py:199-211`, stores hulls): tighter than envelopes for
    // diagonal/sparse partitions, so bbox pruning drops more. Always
    // index-aligned with spatialPartitions when present.
    spatialPartitionHulls: Option[Array[Geometry]] = None,
    // GeoParquet 1.1 covering: name of a per-row bbox struct column
    // (xmin/ymin/xmax/ymax) that mirrors the geometry. cx emits plain
    // range predicates on its fields — Catalyst pushes nested-field
    // filters into the parquet scan, so row groups prune on native
    // column min/max stats.
    coveringSource: Option[String] = None,
    // bbox re-plan hook for index-bearing single-file sources (FlatGeobuf
    // packed R-tree): cx swaps the scan for a pruned read. See
    // [[BoxSourceMeta]].
    boxSource: Option[BoxSourceMeta] = None) {

  def geom: Column = df(geometryColumn)

  // ----------------------------------------------------------------- CRS
  def crs: Option[String] = {
    val f = df.schema(geometryColumn)
    if (f.metadata.contains("crs")) Some(f.metadata.getString("crs")) else None
  }

  /** Metadata-only rewrite (reference set_crs, `expr.py:243-253`). */
  def setCrs(value: String): GeoDataFrame = setCrsFor(geometryColumn, value)

  /** set_crs on a NON-active geometry column (multi-geometry-column frames:
    * each column carries its own CRS, like geopandas).
    */
  def setCrsFor(column: String, value: String): GeoDataFrame = {
    require(df.columns.contains(column), s"no such column: $column")
    val meta: Metadata = new MetadataBuilder()
      .withMetadata(df.schema(column).metadata)
      .putString("crs", value).build()
    copy(df = df.withColumn(column, df(column).as(column, meta)))
  }

  /** CRS of an arbitrary geometry column (the active column's is [[crs]]). */
  def crsFor(column: String): Option[String] = {
    val f = df.schema(column)
    if (f.metadata.contains("crs")) Some(f.metadata.getString("crs")) else None
  }

  /** Actual reprojection (reference to_crs, `expr.py:255-257`); v1 supports
    * the EPSG:4326 <-> EPSG:3857 pair.
    */
  def toCrs(target: String): GeoDataFrame = {
    val from = crs.getOrElse("EPSG:4326")
    // fail fast at PLAN time: per-row evaluation would surface an
    // unsupported CRS as a mid-job task failure (at 100 TB: hours in)
    require(graft.sql.GraftDefs.crsServable(from),
      s"toCrs: this frame's CRS '$from' is not a supported source")
    require(graft.sql.GraftDefs.crsServable(target),
      s"toCrs: unsupported target CRS '$target'")
    val out = df.withColumn(geometryColumn, st_transform(geom, lit(from), lit(target)))
    // pointSource must not survive reprojection: the source x/y columns
    // still hold coordinates in the OLD crs, so a later cx would push
    // range predicates in the wrong units and drop valid rows
    copy(df = out, spatialPartitions = None, pointSource = None, fileSource = None,
      spatialPartitionHulls = None, coveringSource = None)
      .setCrs(target)
  }

  /** Switch the active geometry column (reference set_geometry,
    * `expr.py:584-598`): multiple geometry columns may coexist; spatial
    * operators act on the active one. The column must exist and be
    * geometry-typed (WKB binary).
    */
  /** Rename the active geometry column (reference rename_geometry,
    * `expr.py:618-638`). A pure rename: CRS metadata, partition envelopes
    * and the pointSource hint all stay valid.
    */
  def renameGeometry(newName: String): GeoDataFrame = {
    require(!df.columns.contains(newName),
      s"a column named $newName already exists")
    copy(df = df.withColumnRenamed(geometryColumn, newName), geometryColumn = newName)
  }

  def setGeometry(name: String): GeoDataFrame = {
    require(df.columns.contains(name), s"no such column: $name")
    require(df.schema(name).dataType == BinaryType,
      s"column $name is not a geometry (binary WKB) column")
    copy(geometryColumn = name, spatialPartitions = None, pointSource = None,
      spatialPartitionHulls = None, coveringSource = None)
  }

  // ------------------------------------------------------------ projection
  def select(cols: Column*): DataFrame = df.select(cols: _*)

  def withColumn(name: String, c: Column): GeoDataFrame = {
    // overwriting the active geometry invalidates the partition envelopes;
    // overwriting either pointSource column would leave cx pushing range
    // predicates against values that no longer generate the geometry
    val touchesGeom = name == geometryColumn
    val touchesSource = pointSource.exists { case (x, y) => name == x || name == y }
    val touchesCovering = coveringSource.contains(name)
    copy(df = df.withColumn(name, c),
      spatialPartitions = if (touchesGeom) None else spatialPartitions,
      spatialPartitionHulls = if (touchesGeom) None else spatialPartitionHulls,
      pointSource = if (touchesGeom || touchesSource) None else pointSource,
      coveringSource = if (touchesGeom || touchesCovering) None else coveringSource)
  }

  /** Dropping the geometry column demotes to a plain DataFrame (reference
    * `_expr.py:8-24`, `expr.py:833-849`).
    */
  def drop(colNames: String*): Either[DataFrame, GeoDataFrame] = {
    val out = df.drop(colNames: _*)
    if (colNames.contains(geometryColumn)) Left(out)
    else Right(copy(df = out,
      // dropping a source/covering column must drop its cx hint with it —
      // a stale hint would emit an unresolvable filter later
      pointSource = pointSource.filterNot { case (x, y) =>
        colNames.contains(x) || colNames.contains(y) },
      coveringSource = coveringSource.filterNot(colNames.contains)))
  }

  // -------------------------------------------------------------------- cx
  /** Bounding-box selection (reference `.cx`, `expr.py:391-402,1022-1077`):
    * partition-level pruning via spatialPartitions when known, then an exact
    * per-row intersects filter. The row filter also constrains the geometry
    * envelope columns, so after a spatialShuffle the parquet min/max stats
    * prune files too.
    */
  def cx(xmin: Double, ymin: Double, xmax: Double, ymax: Double): GeoDataFrame = {
    // index-bearing single-file sources (FlatGeobuf): swap the scan for a
    // read pruned through the file's spatial index, then recurse so the
    // exact residual filter below still applies to the candidates.
    boxSource match {
      case Some(bsrc) if bsrc.validFor(df) =>
        bsrc.replan(Envelope(xmin, ymin, xmax, ymax)) match {
          case Some(pruned) =>
            val rebuilt = copy(df = pruned,
              spatialPartitions = None, fileSource = None, boxSource = None,
              spatialPartitionHulls = None)
            return crs.map(rebuilt.setCrs).getOrElse(rebuilt).cx(xmin, ymin, xmax, ymax)
          case None => // source declined: nothing would prune
        }
      case _ =>
    }
    // file-level pruning from footer bboxes gathered at read time: re-plan
    // the scan over only the files whose extent intersects the box. Pure
    // driver metadata — zero jobs — and the pruned plan is a fresh parquet
    // scan, so pushdown/codegen/AQE all still apply downstream (unlike the
    // RDD-level partition pruning below, which is plan-opaque sugar).
    fileSource match {
      case Some(fsrc) if fsrc.validFor(df) =>
        val box = Envelope(xmin, ymin, xmax, ymax)
        val keep = fsrc.bboxes.collect { case (f, e) if e.intersects(box) => f }.toSeq
        if (keep.size < fsrc.bboxes.size) {
          val spark = df.sparkSession
          // explicit schema (we already have it) avoids a schema-inference
          // job and carries the column metadata (CRS) along verbatim
          val scanned =
            if (keep.isEmpty) df.limit(0)
            else fsrc.rebuild match {
              case Some(f) => f(keep)
              case None => spark.read.schema(df.schema)
                .option("basePath", fsrc.basePath).parquet(keep: _*)
            }
          val rebuilt = copy(df = scanned, spatialPartitions = None, fileSource = None,
            spatialPartitionHulls = None)
          return crs.map(rebuilt.setCrs).getOrElse(rebuilt).cx(xmin, ymin, xmax, ymax)
        }
      case _ =>
    }
    val pruned = prunePartitions(Envelope(xmin, ymin, xmax, ymax))
    // When the geometry was synthesized from coordinate columns
    // (points_from_xy), also emit plain range predicates on those source
    // columns: Catalyst pushes them into the parquet scan (row-group
    // min/max skipping + PushedFilters), which the opaque geometry filter
    // alone cannot reach. The exact geometry filter stays for correctness.
    val base0 = pointSource.filter { case (xc, yc) =>
      df.columns.contains(xc) && df.columns.contains(yc)
    } match {
      case Some((xc, yc)) =>
        pruned.df.filter(col(xc) >= xmin && col(xc) <= xmax &&
          col(yc) >= ymin && col(yc) <= ymax)
      case None => pruned.df
    }
    // covering bbox column (GeoParquet 1.1): envelope-intersects as four
    // nested-field range predicates — these reach the parquet scan
    // (PushedFilters on <bbox>.xmin.. fields), skipping row groups whose
    // bbox stats miss the query box. The isNull arm keeps the hint a pure
    // optimization: a foreign writer may leave bbox NULL on rows whose
    // geometry is not null — those must fall through to the exact filter,
    // not be dropped by three-valued logic.
    val base = coveringSource.filter(df.columns.contains) match {
      case Some(bc) =>
        base0.filter(col(bc).isNull ||
          (col(bc + ".xmax") >= xmin && col(bc + ".xmin") <= xmax &&
            col(bc + ".ymax") >= ymin && col(bc + ".ymin") <= ymax))
      case None => base0
    }
    val filtered = base.filter(
      st_intersectsBox(base(geometryColumn), lit(xmin), lit(ymin), lit(xmax), lit(ymax)))
    // partition metadata stays UNCHANGED and index-aligned: row filters keep
    // every physical partition in place (a filter never renumbers
    // spark_partition_id), and each partition's envelope/hull remains a
    // valid superset bound of its filtered content. Filtering the array to
    // the intersecting entries — as an earlier version did — breaks the
    // index alignment a chained cx's pruning relies on and silently drops
    // rows.
    copy(df = filtered, fileSource = None)
  }

  /** Drop whole Spark partitions whose recorded bound misses `box` — the
    * convex hull when calculated (tighter for diagonal/sparse partitions),
    * else the envelope. No-op when spatial partitions are unknown.
    */
  private def prunePartitions(box: Envelope): GeoDataFrame = {
    val keepIdx: Option[Array[Int]] = spatialPartitionHulls match {
      case Some(hulls) if hulls.nonEmpty =>
        val boxGeom = box.toPolygon
        Some(hulls.zipWithIndex.collect { case (h, i)
          // envelope test first: cheap reject before the exact hull test
          if h.envelope.intersects(box) && graft.geom.Predicates.intersects(h, boxGeom) => i })
      case _ => spatialPartitions.filter(_.nonEmpty).map(
        _.zipWithIndex.collect { case (e, i) if e.intersects(box) => i })
    }
    keepIdx match {
      case Some(keep) if keep.length < spatialPartitions.map(_.length).getOrElse(0) =>
        // filter on the physical partition id rather than an RDD round-trip:
        // the logical plan survives (scan pushdown, codegen, AQE all keep
        // working downstream — the old df.rdd/createDataFrame pair severed
        // it), and the indices line up because this filter and
        // calculateSpatialPartitions observe the same deterministic
        // partitioning with no exchange in between
        copy(df = df.filter(spark_partition_id().isInCollection(keep)))
      case _ => this
    }
  }

  // ------------------------------------------------------------------ clip
  /** Clip by a local (driver-side) mask geometry (reference
    * `clip.py:12-47`): spatial-partition pruning when bounds are known
    * (the reference clips `spatial_partitions` and schedules only
    * intersecting partitions, `clip.py:27-40`), then the cheap
    * envelope-intersects row filter, then exact intersection;
    * `keepGeomType` drops parts whose dimension changed.
    */
  def clip(mask: Geometry, keepGeomType: Boolean = false): GeoDataFrame = {
    val m = lit(Wkb.write(mask))
    val e = mask.envelope
    var out = prunePartitions(e).df
      .filter(st_intersectsBox(geom, lit(e.minX), lit(e.minY), lit(e.maxX), lit(e.maxY)))
      .filter(st_intersects(geom, m))
      .withColumn("_orig_type", st_geometryType(geom))
      .withColumn(geometryColumn, st_intersection(geom, m))
      .filter(not(st_isEmpty(col(geometryColumn))))
    out =
      if (keepGeomType)
        // keep only results of the input row's geometry type (reference
        // clip keep_geom_type semantics), then drop the helper column
        out.filter(st_geometryType(col(geometryColumn)) === col("_orig_type") ||
          st_geometryType(col(geometryColumn)) === concat(lit("Multi"), col("_orig_type")))
          .drop("_orig_type")
      else out.drop("_orig_type")
    withCrsOf(GeoDataFrame(out, geometryColumn, None))
  }

  /** Per-row rectangle clip (geopandas `clip_by_rect`, shapely
    * `clip_by_rect`): every row is KEPT — disjoint rows come back with an
    * empty geometry instead of being filtered out (that's [[clip]]'s
    * contract, not this one's). The envelope guard keeps the polygon
    * clipper off rows whose bbox already misses the rectangle.
    */
  def clipByRect(xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): GeoDataFrame = {
    val box = lit(Wkb.write(Polygon.box(xmin, ymin, xmax, ymax)))
    val empty = lit(Wkb.write(GeometryCollection(Array.empty)))
    val out = df.withColumn(geometryColumn,
      when(st_intersectsBox(geom, lit(xmin), lit(ymin), lit(xmax), lit(ymax)),
        st_intersection(geom, box)).otherwise(empty))
    withCrsOf(GeoDataFrame(out, geometryColumn, None))
  }

  // -------------------------------------------------------------- dissolve
  /** GROUP BY + geometric union of the geometry column (reference dissolve,
    * `expr.py:652-703`). Attribute aggregations are ordinary Spark agg
    * columns. Partial aggregation happens map-side via the
    * TypedImperativeAggregate.
    */
  def dissolve(by: Seq[String], aggs: Seq[Column] = Nil): GeoDataFrame = {
    val unionCol = st_unionAgg(geom).as(geometryColumn)
    val out =
      if (by.isEmpty) df.agg(unionCol, aggs: _*)
      else df.groupBy(by.map(df(_)): _*).agg(unionCol, aggs: _*)
    withCrsOf(GeoDataFrame(out, geometryColumn, None))
  }

  /** Re-attach this frame's CRS to a derived frame whose geometry column
    * was rebuilt (aliases/aggregates drop column metadata silently).
    */
  private def withCrsOf(g: GeoDataFrame): GeoDataFrame =
    crs.map(g.setCrs).getOrElse(g)

  // ---------------------------------------------------- coverage simplify
  /** Coverage-aware simplification (the PostGIS 3.4 `ST_CoverageSimplify`
    * window surface): simplify a polygonal coverage WITHOUT tearing it —
    * rings are cut into arcs at junctions, every arc (shared boundaries
    * included, deduped) is Douglas–Peucker'd once, and each polygon is
    * rebuilt from the shared simplified arcs, so neighbors keep
    * bit-identical common edges. Per-feature `st_simplify` opens slivers
    * and gaps exactly on those edges.
    *
    * `by` names the coverage window: rows sharing a `by` key form one
    * coverage and are processed in ONE task (a coverage is a topological
    * whole — this is the PostGIS window-partition semantics). At 100 TB
    * the key is an admin level / tile id and each group stays
    * task-sized; `by = Nil` treats the WHOLE table as one coverage and
    * is only for datasets that fit a task. Non-polygonal rows pass
    * through unchanged; null geometries stay null.
    */
  def coverageSimplify(tolerance: Double, by: Seq[String] = Nil): GeoDataFrame = {
    val schema = df.schema
    val geomIdx = schema.fieldIndex(geometryColumn)
    val out = coverageWindows(by, schema) { (_, rs) =>
      val geoms = rs.map { r =>
        val b = r.get(geomIdx).asInstanceOf[Array[Byte]]
        if (b == null) null else Wkb.read(b)
      }
      val present = geoms.zipWithIndex.filter(_._1 != null)
      val simplified = graft.geom.Coverage.simplifyCoverage(
        present.map(_._1), tolerance)
      val byPos = present.map(_._2).zip(simplified).toMap
      rs.iterator.zipWithIndex.map { case (r, i) =>
        val g = byPos.get(i).map(Wkb.write).orNull
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.updated(geomIdx, if (byPos.contains(i)) g else r.get(geomIdx)))
      }
    }
    withCrsOf(GeoDataFrame(out, geometryColumn))
  }

  /** Shared execution plan for the coverage family: shuffle on the `by`
    * columns (one Exchange), sort within partitions so each window is
    * CONTIGUOUS (Tungsten radix/spillable sort — never an RDD `groupBy`,
    * which shuffles Java-serialized full rows and materializes every
    * group of a partition at once), then stream each partition buffering
    * ONE window at a time. A window must still fit a task (a coverage is
    * a topological whole), so the buffer is guarded: crossing
    * `spark.graft.coverage.maxWindowRows` (default 5M) or
    * `.maxWindowBytes` (default 1 GiB of WKB) throws
    * [[CoverageWindowExceeded]] naming the key, instead of OOMing the
    * executor. `by = Nil` is a single window (repartition(1)) for
    * datasets that fit a task.
    */
  private def coverageWindows(by: Seq[String],
      outSchema: org.apache.spark.sql.types.StructType)(
      process: (Seq[Any], IndexedSeq[org.apache.spark.sql.Row]) =>
        Iterator[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import scala.collection.mutable
    val spark = df.sparkSession
    val conf = spark.conf
    val maxRows = conf.get("spark.graft.coverage.maxWindowRows", "5000000").toLong
    val maxBytes = conf.get("spark.graft.coverage.maxWindowBytes",
      (1L << 30).toString).toLong
    val keyIdxs = by.map(df.schema.fieldIndex).toArray
    val geomIdx = df.schema.fieldIndex(geometryColumn)
    val keyed =
      if (by.isEmpty) df.repartition(1)
      else df.repartition(by.map(df.col): _*)
        .sortWithinPartitions(by.map(df.col): _*)
    keyed.mapPartitions { it =>
      new Iterator[Row] {
        private var pending: Row = null
        private var current: Iterator[Row] = Iterator.empty
        private def keyOf(r: Row): Seq[Any] = keyIdxs.map(r.get).toSeq
        private def wkbLen(r: Row): Long = {
          val b = r.get(geomIdx).asInstanceOf[Array[Byte]]
          if (b == null) 0L else b.length.toLong
        }
        private def advance(): Unit = {
          while (!current.hasNext && (pending != null || it.hasNext)) {
            val first = if (pending != null) pending else it.next()
            pending = null
            val key = keyOf(first)
            val buf = mutable.ArrayBuffer[Row](first)
            var bytes = wkbLen(first)
            var more = true
            while (more && it.hasNext) {
              val r = it.next()
              if (keyOf(r) == key) {
                buf += r
                bytes += wkbLen(r)
                if (buf.length > maxRows || bytes > maxBytes)
                  throw new CoverageWindowExceeded(
                    s"coverage window ${by.zip(key).map { case (c, v) => s"$c=$v" }
                      .mkString("(", ",", ")")} exceeds the per-task budget " +
                    s"(rows>${maxRows} or wkbBytes>${maxBytes}); refine `by` or raise " +
                    "spark.graft.coverage.maxWindowRows/.maxWindowBytes")
              } else { pending = r; more = false }
            }
            current = process(key, buf.toIndexedSeq)
          }
        }
        def hasNext: Boolean = { advance(); current.hasNext }
        def next(): Row = { advance(); current.next() }
      }
    }(Encoders.row(outSchema))
  }

  /** Coverage validity witnesses (the PostGIS `ST_CoverageInvalidEdges`
    * role): one row per (by-key, offending member, reason) — empty output
    * means no witness found. Run this before [[coverageUnion]] /
    * [[coverageSimplify]] when coverage validity is not guaranteed by
    * construction; like GEOS's validator, absence of witnesses is not a
    * proof (seam vertex mismatches with no interior incursion need full
    * noding and are not reported).
    */
  def coverageInvalidWitnesses(by: Seq[String] = Nil): DataFrame = {
    val schema = df.schema
    val geomIdx = schema.fieldIndex(geometryColumn)
    val outSchema = org.apache.spark.sql.types.StructType(
      by.map(schema(_)) ++ Seq(
        org.apache.spark.sql.types.StructField("member",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("reason",
          org.apache.spark.sql.types.StringType)))
    coverageWindows(by, outSchema) { (key, rs) =>
      val geoms = rs.map { r =>
        val b = r.get(geomIdx).asInstanceOf[Array[Byte]]
        if (b == null) null else Wkb.read(b)
      }
      val present = geoms.zipWithIndex.filter(_._1 != null)
      graft.geom.Coverage.invalidWitnesses(present.map(_._1))
        .iterator.map { case (pi, reason) =>
          org.apache.spark.sql.Row.fromSeq(
            key ++ Seq(present(pi)._2, reason))
        }
    }
  }

  /** Coverage union (the PostGIS `ST_CoverageUnion` surface): dissolve an
    * edge-matched coverage by dropping interior boundaries — O(vertices),
    * no intersection tests — instead of the general overlay union that
    * [[dissolve]] runs. One output row per `by` key (one overall with
    * `by = Nil`); each coverage window is one task, like
    * [[coverageSimplify]]. Requires a VALID coverage (edge-matched,
    * non-overlapping) — like GEOS's CoverageUnion this does NOT validate;
    * overlapping or vertex-mismatched input yields a wrong union (use
    * [[dissolve]] when validity is unknown). Stitching still throws on
    * boundaries that cannot close at all.
    */
  def coverageUnion(by: Seq[String] = Nil): GeoDataFrame = {
    val schema = df.schema
    val geomIdx = schema.fieldIndex(geometryColumn)
    val outSchema = org.apache.spark.sql.types.StructType(
      by.map(schema(_)) :+ schema(geometryColumn))
    val out = coverageWindows(by, outSchema) { (key, rs) =>
      val geoms = rs.flatMap { r =>
        Option(r.get(geomIdx).asInstanceOf[Array[Byte]]).map(Wkb.read)
      }
      val u = graft.geom.Coverage.unionCoverage(geoms)
      Iterator.single(org.apache.spark.sql.Row.fromSeq(key :+ Wkb.write(u)))
    }
    withCrsOf(GeoDataFrame(out, geometryColumn))
  }

  // --------------------------------------------------------- missing values
  /** GeoSeries.isna for the active geometry (reference implements it
    * specifically for GeoSeries, `doc reference/geoseries.rst` "Missing
    * values"): true where the geometry is missing.
    */
  def isna(): Column = geom.isNull

  /** GeoSeries.notna: true where the active geometry is present. */
  def notna(): Column = geom.isNotNull

  /** GeoSeries.fillna: replace missing geometries with `value` —
    * geopandas' default fill is GEOMETRYCOLLECTION EMPTY. CRS metadata
    * survives (coalesce would otherwise strip the column metadata).
    */
  def fillna(value: Geometry = GeometryCollection(Array.empty)): GeoDataFrame =
    withCrsOf(withColumn(geometryColumn, coalesce(geom, lit(Wkb.write(value)))))

  // ------------------------------------------------------------ aggregates
  /** Geometric union of everything (reference union_all `expr.py:287-299`). */
  def unionAll(): Geometry = {
    val bytes = df.agg(st_unionAgg(geom)).head().getAs[Array[Byte]](0)
    Wkb.read(bytes)
  }

  /** Global bounds (reference total_bounds `expr.py:270-280`). */
  def totalBounds(): Envelope = {
    val r = df.agg(st_envelopeAgg(geom)).head().getStruct(0)
    if (r == null) Envelope.empty
    else Envelope(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  /** Estimate the UTM zone CRS of the data (geopandas `estimate_utm_crs`,
    * a geopandas-proper surface the reference lacks — same family as
    * [[sjoinKnn]]): the UTM zone containing the center of
    * `total_bounds`, EPSG:326xx north / EPSG:327xx south. A projected
    * frame's center routes back to lon/lat through the engine's own
    * st_transform dispatch (EPSG table, UTM codes, proj records all work).
    */
  def estimateUtmCrs(): String = {
    val b = totalBounds()
    require(!b.isEmpty, "estimateUtmCrs: no geometries")
    val sourceCrs = crs.getOrElse("EPSG:4326")
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.lit
    val row = spark.range(1).select(
      st_x(st_transform(st_point(lit(b.midX), lit(b.midY)),
        lit(sourceCrs), lit("EPSG:4326"))).as("lon"),
      st_y(st_transform(st_point(lit(b.midX), lit(b.midY)),
        lit(sourceCrs), lit("EPSG:4326"))).as("lat")).head()
    val lon = row.getDouble(0); val lat = row.getDouble(1)
    require(lon >= -180.0 && lon <= 180.0 && lat >= -90.0 && lat <= 90.0,
      s"estimateUtmCrs: center ($lon,$lat) is not a geographic coordinate")
    val zone = math.min(60, math.max(1, (math.floor((lon + 180.0) / 6.0) + 1).toInt))
    if (lat >= 0) f"EPSG:326$zone%02d" else f"EPSG:327$zone%02d"
  }

  // --------------------------------------------------------------- explode
  /** Multi-part -> one row per part (reference `expr.py:565-572,822-830`).
    * `indexParts` controls the `part_index` column (pandas' index_parts=True
    * adds the part level to the index; relationally that is a column).
    * `ignoreIndex` (reference ignore_index, `tests/test_core.py:369-391`)
    * resets the result to a plain range index, which drops part identity —
    * so it suppresses `part_index` regardless of `indexParts`. `column`
    * explodes a non-active geometry column (reference `explode(column=)`,
    * `tests/test_core.py:456-468`); default is the active one.
    */
  def explodeParts(
      column: Option[String] = None,
      indexParts: Boolean = true,
      ignoreIndex: Boolean = false): GeoDataFrame = {
    val target = column.getOrElse(geometryColumn)
    require(df.columns.contains(target), s"no such column: $target")
    val others = df.columns.filter(_ != target).map(df(_))
    val exploded = df.select(
      others :+ posexplode(st_dump(df(target))).as(Seq("part_index", target)): _*)
    val out =
      if (ignoreIndex || !indexParts) exploded.drop("part_index") else exploded
    // narrow op, partitions preserved; every part lies within its parent's
    // envelope/hull, so both bounds stay valid
    withCrsOf(GeoDataFrame(out, geometryColumn, spatialPartitions,
      spatialPartitionHulls = spatialPartitionHulls))
  }

  /** PostGIS-style subdivide: replace each geometry by its
    * envelope-bisection tiles of at most `maxVertices` vertices, one row
    * per tile (other columns duplicated). The pre-pass that makes giant
    * polygons grid-join- and broadcast-index-friendly: per-candidate
    * exact-kernel cost drops from O(total vertices) to O(maxVertices),
    * and tiles land in their own grid cells instead of one hot row
    * covering thousands of cells. Narrow op — partitions and spatial
    * bounds stay valid (every tile lies within its parent's envelope).
    */
  def subdivide(maxVertices: Int): GeoDataFrame = {
    val others = df.columns.filter(_ != geometryColumn).map(df(_))
    val out = df.select(others :+ explode(
      st_subdivide(df(geometryColumn), lit(maxVertices))).as(geometryColumn): _*)
    withCrsOf(GeoDataFrame(out, geometryColumn, spatialPartitions,
      spatialPartitionHulls = spatialPartitionHulls))
  }

  // ------------------------------------------------- spatial partitioning
  /** Eagerly compute each partition's spatial bound (reference
    * calculate_spatial_partitions, `expr.py:199-211` — the reference stores
    * per-partition convex hulls).
    *
    * `method = "envelope"` (default): 4 doubles per partition via the
    * allocation-free WKB envelope scan — same pruning power for
    * axis-aligned data, no hull cost.
    * `method = "hull"`: per-partition convex hulls in the same single
    * narrow job, matching the reference's fidelity — tighter bounds for
    * diagonal/sparse partitions, so bbox pruning drops partitions whose
    * envelope a query box hits but whose data it cannot. Memory per task
    * stays bounded: the vertex buffer collapses to its hull whenever it
    * exceeds a fixed size (hull-of-hull-points is exact), so worst case is
    * buffer + current hull, never all partition vertices.
    */
  def calculateSpatialPartitions(method: String = "envelope"): GeoDataFrame = {
    val gIdx = df.schema.fieldIndex(geometryColumn)
    method match {
      case "envelope" =>
        val parts = df.rdd.mapPartitionsWithIndex { (i, it) =>
          var env = Envelope.empty
          it.foreach { row =>
            if (!row.isNullAt(gIdx))
              env = env.union(Wkb.envelopeOf(row.getAs[Array[Byte]](gIdx)))
          }
          Iterator((i, env))
        }.collect().sortBy(_._1).map(_._2)
        copy(spatialPartitions = Some(parts), spatialPartitionHulls = None)
      case "hull" =>
        import graft.geom.{Constructive, MultiPoint, Point}
        val hulls = df.rdd.mapPartitionsWithIndex { (i, it) =>
          val buf = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
          def hullOfBuf(): Geometry =
            Constructive.convexHull(MultiPoint(buf.map { case (x, y) => Point(x, y) }.toArray))
          it.foreach { row =>
            if (!row.isNullAt(gIdx)) {
              Wkb.read(row.getAs[Array[Byte]](gIdx)).foreachCoord((x, y) => buf += ((x, y)))
              if (buf.length > 4096) {
                val h = hullOfBuf()
                buf.clear()
                h.foreachCoord((x, y) => buf += ((x, y)))
              }
            }
          }
          Iterator((i, hullOfBuf()))
        }.collect().sortBy(_._1).map(_._2)
        copy(spatialPartitions = Some(hulls.map(_.envelope)),
          spatialPartitionHulls = Some(hulls))
      case other =>
        throw new IllegalArgumentException(s"unknown spatial partition method: $other")
    }
  }

  /** SFC shuffle (reference spatial_shuffle, `expr.py:738-820`): compute the
    * curve key, range-partition on it (Spark samples ranges — the same
    * two-phase behavior as dask set_index), sort within partitions so
    * parquet row-group stats become selective, and optionally record the
    * resulting per-partition envelopes.
    */
  def spatialShuffle(
      by: String = "hilbert",
      level: Int = 16,
      numPartitions: Option[Int] = None,
      calculatePartitions: Boolean = true,
      bounds: Option[Envelope] = None): GeoDataFrame = {
    val b = bounds.getOrElse(totalBounds())
    val keyCol = by match {
      case "hilbert" => st_hilbert(geom, lit(level), lit(b.minX), lit(b.minY), lit(b.maxX), lit(b.maxY))
      case "morton"  => st_morton(geom, lit(level), lit(b.minX), lit(b.minY), lit(b.maxX), lit(b.maxY))
      case "geohash" => st_geohashLong(geom, lit(math.min(12, math.max(1, level / 5 + 1))))
      case "quadkey" =>
        // XYZ-tile z-order on lon/lat data: range partitions align to Web-
        // Mercator tile boundaries (quadkey prefixes nest), so a later MVT
        // writeTiles repartition is a near-noop and tile-pyramid reads
        // prune partitions by key prefix
        val z = math.min(22, math.max(1, level))
        val midLon = (st_xmin(geom) + st_xmax(geom)) / 2
        val midLat = (st_ymin(geom) + st_ymax(geom)) / 2
        st_quadkey(lit(z), st_tileX(midLon, lit(z)), st_tileY(midLat, lit(z)))
      case other     => throw new IllegalArgumentException(s"unknown curve $other")
    }
    val keyed = df.withColumn("_sfc_key", keyCol)
    val parted = numPartitions match {
      case Some(n) => keyed.repartitionByRange(n, col("_sfc_key"))
      case None    => keyed.repartitionByRange(col("_sfc_key"))
    }
    val sorted = parted.sortWithinPartitions(col("_sfc_key"))
    val out = GeoDataFrame(sorted, geometryColumn, None)
    if (calculatePartitions) out.calculateSpatialPartitions() else out
  }

  // ----------------------------------------------------------------- sjoin
  /** Spatial join (reference sjoin, `dask_geopandas/sjoin.py:14-122`; inner
    * only, like the reference `sjoin.py:53-54`).
    *
    * Strategies:
    *  - `"broadcast"`: a join with the right side hinted `BROADCAST`,
    *    which [[graft.plans.IndexedSpatialJoinStrategy]] plans as the
    *    indexed broadcast join (how="left" is its native left-outer join).
    *    Right for dimension-table-sized right sides.
    *  - `"grid"`: both sides large — the exactly-once grid equi-join that
    *    [[graft.plans.GridJoin]] builds (the SQL rule
    *    [[graft.plans.SpatialJoinRewrite]] emits the same plan), in place of
    *    the reference's partition-pair cartesian planning (`sjoin.py:83-90`).
    *    The grid comes from (in order): an explicit `cellSize`
    *    (origin-anchored fixed grid — ZERO eager scans, the 100 TB path),
    *    known `spatialPartitions` envelopes on both sides (driver metadata
    *    only), or one combined bounds job over both inputs.
    *  - `"auto"`: broadcast when the right side is small by the strategy's
    *    `isSmall` test, else grid.
    *
    * `oversized` (grid-with-cellSize only) controls rows whose envelope
    * spans more grid cells than the per-row explode budget (2^22):
    *  - `"fail"` (default): abort with guidance — scan-free and exact.
    *  - `"sentinel"`: route such rows through dedicated sentinel buckets —
    *    an outlier-huge geometry (a whole-domain polygon among points)
    *    meets every opposite row at its honest candidate cost instead of
    *    exploding or failing the job. Costs one extra cell per row on both
    *    sides, which is why it is opt-in.
    *
    * `hotCellBudget` (grid-with-cellSize only; 0 = off) mitigates HOT-CELL
    * SKEW — the converse failure mode of `oversized`: a real dataset puts
    * 30-50% of its rows in one urban cell, and the flat grid join then
    * refines |cellL| x |cellR| candidate pairs in that cell, quadratic
    * work AQE's skew-split cannot reduce (it splits the shuffle partition,
    * not the pair count). With a budget set, one cheap count pass (cell
    * ids only cross the shuffle, map-side combined) finds cells whose
    * candidate product nL*nR exceeds the budget; those cells re-grid at
    * `cellSize / hotCellSplit` and the join runs as a UNION of the
    * cold-cell coarse join and the hot-cell fine join, one `GridJoin` each
    * — exactly-once with no dedup shuffle (anchor argument per level, see
    * `GridIndex.fineCellsWithinHot`). Costs one extra counting scan and a
    * second scan of hot-overlapping rows, which is why it is opt-in; at
    * 100 TB the count pass is noise next to a quadratic hot cell.
    */
  def sjoin(
      right: GeoDataFrame,
      predicate: String = "intersects",
      strategy: String = "auto",
      gridLevel: Int = 6,
      cellSize: Option[Double] = None,
      rsuffix: String = "_right",
      distance: Double = 0.0,
      oversized: String = "fail",
      how: String = "inner",
      hotCellBudget: Long = 0L,
      hotCellSplit: Int = 8,
      // per-row fine-explode budget of the hot branch (sentinel mode
      // degrades rows past it to the coarse meet leg; fail mode throws).
      // Non-default values are a spec/testing hook — the default is the
      // kernel-wide explode guard.
      hotFineMaxCells: Long = graft.sql.GridIndex.MaxCellsPerRow.toLong,
      // geopandas sjoin on_attribute: pairs must ALSO match on these
      // columns (present on both sides; the right copy keeps its suffix in
      // the result). In the grid strategy Catalyst folds the equalities
      // into the shuffle keys next to the cell id, so attribute-partitioned
      // data co-locates better than by cell alone.
      onAttribute: Seq[String] = Nil): DataFrame = {
    require(Set("auto", "broadcast", "grid").contains(strategy),
      s"unknown sjoin strategy '$strategy' (auto | broadcast | grid)")
    require(Set("fail", "sentinel").contains(oversized),
      s"unknown oversized policy '$oversized' (fail | sentinel)")
    // left/right outer (geopandas sjoin how=, one notch past the
    // inner-only reference, sjoin.py:53-54). The broadcast join does
    // how="left" natively; otherwise the preserved side carries a row id
    // through the inner plan and is left-joined to the inner result's
    // other columns on it (`preserving`), so the inner join runs once.
    require(Set("inner", "left", "right").contains(how),
      s"unknown sjoin how '$how' (inner | left | right)")
    val useBroadcast = strategy == "broadcast" || strategy == "auto" && {
      val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      // cheap: leaf stats, no count; unknown stats are not small
      try graft.plans.IndexedSpatialJoinStrategy.isSmall(
        right.df.queryExecution.optimizedPlan, threshold)
      catch { case scala.util.control.NonFatal(_) => false }
    }
    val nativeOuter = useBroadcast && how == "left"

    val rowId = "_sjoin_row_id"
    // The id-stamped side feeds TWO plan branches (the inner join and the
    // preserved side of the left join below), and
    // monotonically_increasing_id is nondeterministic across recomputation:
    // a task retry or executor loss could assign DIFFERENT ids to the same
    // row in each branch, silently dropping or duplicating rows.
    // localCheckpoint() pins the stamped rows once so both branches read
    // identical ids — same pinning pattern as Dedup.simhashPairs.
    def preserved(side: DataFrame, preserve: Boolean): DataFrame =
      if (preserve) side.withColumn(rowId, monotonically_increasing_id()).localCheckpoint()
      else side
    val leftDf = preserved(df, how == "left" && !nativeOuter)
    // disambiguate column names like geopandas' suffixing
    val (rightSuffixed, rGeomName) = suffixed(right, rsuffix)
    val rightRenamed = preserved(rightSuffixed, how == "right")
    onAttribute.foreach { a =>
      require(df.columns.contains(a) && right.df.columns.contains(a),
        s"sjoin onAttribute '$a' must exist on both sides")
    }
    // right-side copies were just suffixed (every onAttribute column
    // clashes by definition)
    def attrEq: Column = onAttribute
      .map(a => leftDf(a) === rightRenamed(a + rsuffix))
      .foldLeft(lit(true))(_ && _)

    def pred(l: Column, r: Column): Column = predicate match {
      case "intersects"         => st_intersects(l, r)
      case "contains"           => st_contains(l, r)
      case "contains_properly"  => st_containsProperly(l, r)
      case "within"             => st_within(l, r)
      case "covers"             => st_covers(l, r)
      case "covered_by"         => st_coveredBy(l, r)
      case "touches"            => st_touches(l, r)
      case "crosses"            => st_crosses(l, r)
      case "overlaps"           => st_overlaps(l, r)
      // geopandas sjoin predicate="dwithin" with distance= (sjoin.py:53-58)
      case "dwithin"            => st_dwithin(l, r, lit(distance))
      case other                => throw new IllegalArgumentException(s"unknown predicate $other")
    }

    val inner =
      if (useBroadcast) {
        // without graft's planner strategy this would silently run as a
        // nested-loop join
        graft.sql.functions.install(df.sparkSession)
        leftDf.join(broadcast(rightRenamed),
          pred(leftDf(geometryColumn), rightRenamed(rGeomName)) && attrEq,
          if (nativeOuter) "left_outer" else "inner")
      } else {
        // cell kernels bind to their side; the refine and emit tests name the
        // geometries, resolved against the joined sides
        val (lg, rg) = (leftDf(geometryColumn), rightRenamed(rGeomName))
        val (lc, rc) = (col(geometryColumn), col(rGeomName))
        // dwithin pads the LEFT side's cells (and the anchor) by the
        // distance — that alone preserves the shared-cell invariant for
        // dist <= d pairs
        val pad = if (predicate == "dwithin") distance else 0.0
        val (cellsL, cellsR, anchor) = cellSize match {
          case Some(s) if oversized == "sentinel" =>
            // sentinel fallback: outlier-huge rows emit a sentinel bucket
            // instead of an unbounded cell explode; pairs meeting in a
            // sentinel bucket are emitted unconditionally (exactly-once by
            // bucket construction — see GridIndex sentinel docs)
            (st_gridCellsSizedSentinel(lg, lit(s), lit(pad), lit(true)),
              st_gridCellsSizedSentinel(rg, lit(s), lit(0.0), lit(false)),
              st_gridCellAnchorSizedPad(lc, rc, lit(s), lit(pad)))
          case Some(s) if predicate == "dwithin" =>
            // fixed origin-anchored grid: nothing to scan before planning
            (st_gridCellsSizedPad(lg, lit(s), lit(pad)), st_gridCellsSized(rg, lit(s)),
              st_gridCellAnchorSizedPad(lc, rc, lit(s), lit(pad)))
          case Some(s) =>
            (st_gridCellsSized(lg, lit(s)), st_gridCellsSized(rg, lit(s)),
              st_gridCellAnchorSized(lc, rc, lit(s)))
          case None =>
            require(predicate != "dwithin",
              "grid sjoin with predicate=dwithin needs an explicit cellSize")
            require(oversized == "fail",
              "oversized=\"sentinel\" needs an explicit cellSize (fixed grid)")
            val b = gridBoundsFromMetadataOr(right)
            val (x0, y0, x1, y1) = (lit(b.minX), lit(b.minY), lit(b.maxX), lit(b.maxY))
            (st_gridCells(lg, x0, y0, x1, y1, lit(gridLevel)),
              st_gridCells(rg, x0, y0, x1, y1, lit(gridLevel)),
              st_gridCellAnchor(lc, rc, x0, y0, x1, y1, lit(gridLevel)))
        }
        // hot-cell detection (opt-in): one counting pass over the exploded
        // cell ids — only (cell, count) partials cross the shuffle — finds
        // cells whose candidate product exceeds the budget. The hot set is
        // driver-bounded by construction (#hot <= (nL + nR) / sqrt(budget))
        // and additionally capped at 4096 with a loud warning: past that
        // the cellSize itself is wrong for the data.
        val hotCells: Array[Long] =
          if (hotCellBudget <= 0L) Array.empty[Long]
          else {
            require(cellSize.isDefined,
              "sjoin hotCellBudget needs an explicit cellSize (fixed grid)")
            require(hotCellSplit >= 2,
              s"hotCellSplit >= 2 expected (got $hotCellSplit)")
            val maxHot = 4096
            val nl = leftDf.select(explode(cellsL).as("_cell"))
              .groupBy(col("_cell")).agg(org.apache.spark.sql.functions.count(lit(1)).as("_nl"))
            val nr = rightRenamed.select(explode(cellsR).as("_cell"))
              .groupBy(col("_cell")).agg(org.apache.spark.sql.functions.count(lit(1)).as("_nr"))
            val hot = nl.join(nr, Seq("_cell"))
              .filter(col("_nl") * col("_nr") > lit(hotCellBudget))
              // sentinel buckets cannot subdivide; their pairs stay on the
              // coarse branch's unconditional sentinel emit
              .filter(col("_cell") =!= lit(graft.sql.GridIndex.OversizedLeftBucket) &&
                col("_cell") =!= lit(graft.sql.GridIndex.OversizedRightBucket))
              .orderBy((col("_nl") * col("_nr")).desc)
              .limit(maxHot + 1)
              .select(col("_cell")).collect().map(_.getLong(0))
            if (hot.length > maxHot)
              System.err.println(s"[sjoin] more than $maxHot hot cells — " +
                "splitting only the hottest; raise cellSize for this data")
            hot.take(maxHot).sorted
          }
        // Catalyst folds the attribute equalities into the join keys beside
        // the cell id, so they cull candidates before the geometry kernel
        val cond = pred(lc, rc) && attrEq
        val emit: Column => Column =
          if (oversized == "sentinel")
            cell => anchor === cell ||
              cell === lit(graft.sql.GridIndex.OversizedLeftBucket) ||
              cell === lit(graft.sql.GridIndex.OversizedRightBucket)
          else anchor === _
        if (hotCells.isEmpty) gridJoin(leftDf, rightRenamed, cellsL, cellsR, cond, emit)
        else {
          // two-level plan: cold cells join at the coarse grid (hot cells
          // kept out of both exploded sides — a pair anchored in a hot
          // cell can never satisfy `anchor === cell` here); hot cells
          // re-grid at cellSize/hotCellSplit and join in a SEPARATE plan
          // (separate key spaces, so coarse/fine id collisions cannot
          // create phantom meetings). Exactly-once across the union by the
          // per-level anchor argument (GridIndex.fineCellsWithinHot docs).
          val s = cellSize.get
          val hotLit = typedlit(hotCells)
          val cold = gridJoin(leftDf, rightRenamed, cellsL, cellsR, cond, emit,
            keep = Some(cell => !array_contains(hotLit, cell)))
          val maxFine = lit(hotFineMaxCells)
          // single-pass kernels either way: sentinel discards the buffer
          // and returns empty on exceed (the row pairs via the meet leg),
          // fail throws loudly inside the kernel
          def fineExplode(g: Column, pad: Double): Column =
            if (oversized == "sentinel")
              st_gridCellsSizedFineHotSent(g, lit(s), lit(hotCellSplit),
                lit(pad), hotLit, maxFine)
            else
              st_gridCellsSizedFineHotCap(g, lit(s), lit(hotCellSplit),
                lit(pad), hotLit, maxFine)
          val fine = gridJoin(leftDf, rightRenamed, fineExplode(lg, pad), fineExplode(rg, 0.0),
            cond, st_gridCellAnchorSizedFine(lc, rc, lit(s), lit(hotCellSplit), lit(pad)) === _)
          val twoLevel = cold.unionByName(fine)
          if (oversized != "sentinel") twoLevel
          else {
            // MEET leg: rows whose fine explode exceeds the budget emit
            // NOTHING in the fine leg; they pair here at the COARSE grid
            // instead, restricted to hot cells. Every row keeps its hot
            // coarse cells (reusing the coarse explode), the (lov || rov)
            // gate excludes normal-normal pairs (those met in the fine
            // leg), and `anchor === cell` keeps exactly the pairs whose
            // coarse anchor is hot — cold-anchored pairs already fired in
            // the cold branch. Net: fine-oversized rows degrade to their
            // honest coarse candidate set instead of failing the job.
            val lov = st_fineHotOversized(lc, lit(s), lit(hotCellSplit), lit(pad), hotLit, maxFine)
            val rov = st_fineHotOversized(rc, lit(s), lit(hotCellSplit), lit(0.0), hotLit, maxFine)
            val meet = gridJoin(leftDf, rightRenamed, cellsL, cellsR, (lov || rov) && cond,
              anchor === _, keep = Some(array_contains(hotLit, _)))
            twoLevel.unionByName(meet)
          }
        }
      }
    how match {
      case "left" if !nativeOuter => preserving(leftDf, inner, rowId).drop(rowId)
      case "right"                => preserving(rightRenamed, inner, rowId).drop(rowId)
      case _                      => inner
    }
  }

  /** [[graft.plans.GridJoin]] over DataFrames and Columns. */
  private def gridJoin(l: DataFrame, r: DataFrame, cellsL: Column, cellsR: Column,
      cond: Column, emit: Column => Column, keep: Option[Column => Column] = None): DataFrame = {
    import org.apache.spark.sql.GraftInterop.{column, expression, ofRows}
    def expr(c: Column) = expression(l.sparkSession, c)
    ofRows(l.sparkSession, graft.plans.GridJoin(l.queryExecution.analyzed,
      r.queryExecution.analyzed, expr(cellsL), expr(cellsR), expr(cond),
      cell => expr(emit(column(cell))), keep.map(k => cell => expr(k(column(cell))))))
  }

  /** The preserved-side rule of every outer join here (geopandas
    * how="left"/"right"): each row of `side` comes back with its rows of
    * `inner`, or once with `inner`'s other columns null. `side` is left-
    * joined to those columns on `key`, which must be unique and non-null
    * on `side`, so `inner` is computed once. Columns come out in `inner`'s
    * order.
    */
  private def preserving(side: DataFrame, inner: DataFrame, key: String): DataFrame = {
    val other = inner.columns.filterNot(side.columns.contains)
    side.join(inner.select((key +: other).map(col).toIndexedSeq: _*), Seq(key), "left")
      .select(inner.columns.map(col).toIndexedSeq: _*)
  }

  /** Geodesic proximity join: pairs of POINT rows within `meters` great-
    * circle meters on lon/lat data (the haversine sphere behind
    * `st_distancesphere`, R = 6371008.8). This is the join every
    * real-world "things within X km" workload wants — a planar-degree
    * dwithin is wrong off the equator (1 deg of longitude shrinks with
    * cos(lat); at 70N a 76 km neighbor sits 2 deg away).
    *
    * Plan (100 TB shape): one exactly-once [[graft.plans.GridJoin]] in
    * DEGREE space, with the left side's cells padded by a PER-ROW
    * latitude-aware radius: padLat = m / (pi*R/180) exactly (meridian
    * arcs are distance-true on the sphere), and padLon =
    * 2*asin(sin(m/2R) / cos(phi_worst)) where phi_worst is the row's
    * worst reachable latitude — the tight haversine bound, so any pair
    * within m provably shares the anchor cell. One shuffle, no
    * cross-join, exact haversine refinement. High-latitude rows fan out
    * to more cells (their lon reach is genuinely wider); rows reaching
    * past 89.99 deg or across the antimeridian are out of contract
    * (normalize longitudes first) — same envelope model as the planar
    * engine.
    */
  def sjoinDwithinSphere(
      right: GeoDataFrame,
      meters: Double,
      cellSizeDeg: Double = 0.0,
      rsuffix: String = "_right"): GeoDataFrame = {
    require(meters > 0, "sjoinDwithinSphere requires a positive radius")
    // DENSITY-ADAPTIVE cell (r19, guide §2 — derive partitioning from the
    // input, not a constant tuned at one scale): see
    // [[GeoDataFrame.sphereGrid]]. Costs one narrow stats ACTION (right
    // count + extent crossJoined with the left count — independent
    // subtrees, one job DAG; the catalog-stats analog, computed exactly
    // because fixtures carry no stats). Callers can still override via
    // cellSizeDeg (> 0 skips the stats job AND the pair-estimate
    // repartition below).
    val (cell, pairsEst) = if (cellSizeDeg > 0) (cellSizeDeg, -1.0) else {
      val g = right.df(right.geometryColumn)
      val cnt = org.apache.spark.sql.functions.count(lit(1))
      val st = right.df.agg(cnt.as("_nr"),
          min(st_xmin(g)), max(st_xmax(g)), min(st_ymin(g)), max(st_ymax(g)))
        .crossJoin(df.agg(cnt.as("_nl")))
        .head()
      val nR = st.getLong(0)
      val (area, maxAbsLat) =
        if (nR == 0L || st.isNullAt(1)) (0.0, 0.0)
        else ((st.getDouble(2) - st.getDouble(1)) * (st.getDouble(4) - st.getDouble(3)),
          math.max(math.abs(st.getDouble(3)), math.abs(st.getDouble(4))))
      GeoDataFrame.sphereGrid(meters, st.getLong(5), nR, area, maxAbsLat)
    }
    val (rightRenamed, rGeomName) = suffixed(right, rsuffix)
    // Parallelism floor (r19, guide §2 stragglers): when the right side is
    // dimension-sized the cell join broadcasts, so the explode -> join ->
    // haversine-verify pipeline inherits the LEFT SCAN's partitioning — a
    // small parquet input plans as ONE split and the entire verify (tens of
    // millions of pairs at sf1) runs in a single task, identical walls at 8
    // and 32 cores (measured: g91 at sf1 was 32.8 s on BOTH). Round-robin
    // the left up to the cluster's default parallelism first — but only
    // when the estimated pair volume warrants an exchange (>= 8M verify
    // pairs ≈ seconds of single-task work; below that the extra shuffle
    // costs more than it recovers — measured +0.3 s on g91's 1.4M-pair
    // sf0.1 shape). At scale the scan already has >= defaultParallelism
    // splits and this whole branch is a no-op.
    val leftBase = {
      val dp = df.sparkSession.sparkContext.defaultParallelism
      if (pairsEst >= 8e6 && df.rdd.getNumPartitions < dp) df.repartition(dp)
      else df
    }
    val joined = gridJoin(leftBase, rightRenamed,
      st_gridCellsSizedPad(df(geometryColumn), lit(cell),
        GeoDataFrame.spherePad(df(geometryColumn), meters)),
      st_gridCellsSized(rightRenamed(rGeomName), lit(cell)),
      st_dwithinSphere(col(geometryColumn), col(rGeomName), lit(meters)),
      st_gridCellAnchorSizedPad(col(geometryColumn), col(rGeomName),
        lit(cell), GeoDataFrame.spherePad(col(geometryColumn), meters)) === _)
    withCrsOf(GeoDataFrame(joined, geometryColumn))
  }

  /** Geodesic nearest-neighbor join: for each left POINT row, the k
    * nearest right points by GREAT-CIRCLE meters among candidates within
    * `maxMeters` (rank <= k keeps distance ties, geopandas-style). The
    * lon/lat twin of [[sjoinKnn]] with a finite `maxDistance`: candidates
    * come from the latitude-aware [[sjoinDwithinSphere]] grid join (one
    * shuffle, never all-pairs; a candidate set complete within
    * `maxMeters` makes the per-key rank exact), distances are
    * `st_distancesphere`. `how="left"` keeps radius-misses with null right
    * columns and null distance; `leftKey` must be unique and non-null on
    * the left (the [[sjoinKnn]] contract), and `distanceCol` replaces a
    * left column of the same name.
    */
  def sjoinNearestSphere(
      right: GeoDataFrame,
      leftKey: String,
      maxMeters: Double,
      rsuffix: String = "_right",
      distanceCol: String = "dist_m",
      how: String = "inner",
      k: Int = 1): DataFrame = {
    require(maxMeters > 0 && k >= 1, "sjoinNearestSphere: bad params")
    require(Set("inner", "left").contains(how),
      s"unknown sjoinNearestSphere how '$how' (inner | left)")
    val left = without(distanceCol)
    left.rankNearest(left.sjoinDwithinSphere(right, maxMeters, rsuffix = rsuffix).df,
      leftKey, left.suffixedName(right.geometryColumn, rsuffix), st_distanceSphere,
      distanceCol, k, exclusive = false, how)
  }

  /** k-nearest-neighbour join with both sides distributed (geopandas
    * `sjoin_nearest`, with or without `max_distance`; the dask-geopandas
    * version surveyed has no distributed counterpart). Each left row keeps
    * its k nearest right rows under the `rank() <= k` tie contract of
    * [[sjoinKnnBroadcast]]: every right row tied at the k-th distance is
    * kept. `maxDistance` is inclusive; rows with no right row within it
    * drop out under `how="inner"` and come back once under `how="left"`,
    * with null right columns and null distance, matching geopandas.
    * `exclusive = true` skips right geometries equal to the left one
    * (shapely `query_nearest(exclusive)`, the self-join idiom).
    *
    * The radius picks where the candidates come from; both sources finish
    * in the same `rank()` window on `leftKey` (WindowGroupLimit keeps only
    * rank <= k candidates below its exchange):
    *
    *  - Finite `maxDistance`: the grid `dwithin` [[sjoin]] at `cellSize`
    *    (padded fixed-origin cells, anchor-cell exactly-once emission).
    *    Nothing runs while the query is built, and the radius bounds the
    *    candidate volume (geopandas' docs recommend `max_distance` for
    *    speed).
    *  - Infinite `maxDistance` (the default), in the manner of REPOSE and
    *    Odyssey — prune globally with per-cell bounds, then answer
    *    locally — so the job count does not depend on how the data is
    *    spread:
    *     1. Driver: one aggregate buckets the right side into the
    *        fixed-origin `cellSize` grid, each row in the cell holding its
    *        envelope centre, and collects per non-empty cell the row count
    *        and the union of the rows' envelopes. Nothing else reaches the
    *        driver. Above [[GeoDataFrame.KnnMaxCells]] cells the summary is
    *        re-aggregated at 4× the cell size, so driver memory stays
    *        bounded.
    *     2. Executors: the summary ships as a broadcast STR-tree and
    *        [[graft.sql.KnnCellProbe]] sends each left row to every cell
    *        that can hold one of its k nearest right rows. An equi-join on
    *        the home cell brings those rows; with fewer than k right rows
    *        every left row gets all of them.
    *
    * `cellSize` shapes only the plan: the result is the same at any cell
    * size. Rows with a null or empty geometry find no neighbour, as in the
    * broadcast kNN join. `distanceCol` replaces a left column of the same
    * name.
    *
    * `leftKey` MUST be unique and non-null on the left (it is the index
    * analog of geopandas' per-row semantics): duplicate key values would
    * pool the candidate sets of distinct rows into one rank window and
    * keep only the pooled minimum, and a null key matches nothing, so under
    * `how="left"` its row comes back once, null-padded. Not `require`d —
    * verifying uniqueness would cost a count-distinct pass over the left
    * side; add a surrogate key (`monotonically_increasing_id`) when no
    * natural unique key exists.
    */
  def sjoinKnn(
      right: GeoDataFrame,
      leftKey: String,
      k: Int,
      cellSize: Double,
      rsuffix: String = "_right",
      distanceCol: String = "dist",
      exclusive: Boolean = false,
      maxDistance: Double = Double.PositiveInfinity,
      how: String = "inner"): DataFrame = {
    require(k >= 1, "sjoinKnn requires k >= 1")
    require(cellSize > 0, "sjoinKnn requires a positive cellSize")
    require(maxDistance > 0, "sjoinKnn requires a positive maxDistance")
    require(Set("inner", "left").contains(how),
      s"unknown sjoinKnn how '$how' (inner | left)")
    val left = without(distanceCol)
    val cands =
      if (maxDistance.isPosInfinity) left.knnCandidates(right, k, cellSize, rsuffix, exclusive)
      else left.sjoin(right, predicate = "dwithin", strategy = "grid",
        cellSize = Some(cellSize), rsuffix = rsuffix, distance = maxDistance)
    left.rankNearest(cands, leftKey, left.suffixedName(right.geometryColumn, rsuffix),
      st_distance, distanceCol, k, exclusive, how)
  }

  /** Candidate pairs of the unbounded [[sjoinKnn]]: each left row paired
    * with the right rows of every cell the summary says can hold one of its
    * k nearest.
    */
  private def knnCandidates(right: GeoDataFrame, k: Int, cellSize: Double,
      rsuffix: String, exclusive: Boolean): DataFrame = {
    val (rightRenamed, rGeomName) = suffixed(right, rsuffix)
    val rg = rightRenamed(rGeomName)
    val cellCol = freshCol("_knn_cell", df.columns, rightRenamed.columns)
    val located = rightRenamed.filter(st_xmin(rg).isNotNull) // drops null and empty
    // home cell: the grid cell holding the envelope centre, packed as
    // (ix << 32) | iy. Keys that collide far out merge into one summary
    // entry, which keeps the result exact (see graft.sql.KnnCells).
    def homed(cs: Double): DataFrame = {
      def ix(lo: Column, hi: Column) = floor((lo + hi) / 2 / cs)
      located.withColumn(cellCol, shiftleft(ix(st_xmin(rg), st_xmax(rg)), 32)
        .bitwiseOR(ix(st_ymin(rg), st_ymax(rg)).bitwiseAND(lit(0xffffffffL))))
    }
    def summarize(cs: Double) = homed(cs).groupBy(col(cellCol))
      .agg(org.apache.spark.sql.functions.count(lit(1)),
        min(st_xmin(rg)), min(st_ymin(rg)), max(st_xmax(rg)), max(st_ymax(rg)))
      .limit(GeoDataFrame.KnnMaxCells + 1).collect()
    var cs = cellSize
    var summary = summarize(cs)
    while (summary.length > GeoDataFrame.KnnMaxCells) { cs *= 4; summary = summarize(cs) }
    val cells = new graft.sql.KnnCells(summary.map(_.getLong(0)), summary.map(_.getLong(1)),
      summary.map(r => Envelope(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
    val probe = org.apache.spark.sql.GraftInterop.column(graft.sql.KnnCellProbe(
      org.apache.spark.sql.GraftInterop.expression(df(geometryColumn)), k, exclusive,
      df.sparkSession.sparkContext.broadcast(cells)))
    df.withColumn(cellCol, explode(probe)).join(homed(cs), Seq(cellCol)).drop(cellCol)
  }

  /** The nearest-neighbour core both distributed joins finish with: per
    * `leftKey`, keep the candidates of `rank() <= k` by `distance` (every
    * tie at the k-th distance survives), then under `how="left"` bring
    * back this frame's rows that kept none. geopandas/shapely
    * `exclusive=True`: a right geometry EQUAL to the left geometry is not
    * its own nearest neighbour — topological equality, gated on dist == 0
    * so the expensive check runs only on coincident candidates.
    */
  private def rankNearest(cands: DataFrame, leftKey: String, rGeomName: String,
      distance: (Column, Column) => Column, distanceCol: String, k: Int,
      exclusive: Boolean, how: String): DataFrame = {
    val measured = cands.withColumn(distanceCol,
      distance(col(geometryColumn), col(rGeomName)))
    val kept =
      if (exclusive)
        measured.filter(!(col(distanceCol) === 0.0 &&
          st_equals(col(geometryColumn), col(rGeomName))))
      else measured
    val rkCol = freshCol("_rk", kept.columns)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(leftKey)).orderBy(col(distanceCol))
    val nearest = kept.withColumn(rkCol, rank().over(w)).filter(col(rkCol) <= k).drop(rkCol)
    if (how == "left") preserving(df, nearest, leftKey) else nearest
  }

  /** This frame without column `c`, which a join output is about to
    * replace (the nearest joins' distance column).
    */
  private def without(c: String): GeoDataFrame =
    if (df.columns.contains(c)) GeoDataFrame(df.drop(c), geometryColumn) else this

  /** The right side with the columns it shares with this frame suffixed
    * (geopandas' `rsuffix`), and the name its geometry column ends up with.
    */
  private def suffixed(right: GeoDataFrame, rsuffix: String): (DataFrame, String) = {
    val renamed = right.df.columns.foldLeft(right.df) { (acc, c) =>
      if (df.columns.contains(c)) acc.withColumnRenamed(c, c + rsuffix) else acc
    }
    (renamed, suffixedName(right.geometryColumn, rsuffix))
  }

  private def suffixedName(c: String, rsuffix: String): String =
    if (df.columns.contains(c)) c + rsuffix else c

  /** Nearest-neighbor join against a SMALL right side (geopandas
    * `sjoin_nearest`, unbounded by default), planned as the indexed
    * broadcast join ([[graft.plans.NearestJoin]]): the right side is
    * collected, broadcast, and STR-tree-indexed once
    * ([[graft.sql.PreparedSide]]), and each left row finds its true
    * nearest right rows by branch-and-bound — no grid, no window exchange,
    * no `leftKey` uniqueness contract (the per-row minimum is computed per
    * row, so duplicate-key pooling cannot happen). Output: the left
    * columns, `distanceCol`, the right columns (suffixed like sjoin's).
    *
    * Semantics match [[sjoinKnn]] at k = 1: every tie at the minimum distance
    * is kept, `maxDistance` (optional here) is inclusive, `exclusive=true`
    * skips topologically-equal right geometries at distance 0, and
    * `how="left"` returns unmatched rows with null right columns and null
    * distance. 100 TB shape: the left side never shuffles at all — the
    * only exchange is the broadcast of the (small) right side.
    */
  def sjoinNearestBroadcast(
      right: GeoDataFrame,
      maxDistance: Double = Double.PositiveInfinity,
      rsuffix: String = "_right",
      distanceCol: String = "dist",
      how: String = "inner",
      exclusive: Boolean = false): DataFrame =
    knnBroadcast(right, 1, maxDistance, rsuffix, distanceCol, how, exclusive)

  /** k-nearest-neighbors join against a SMALL right side (an extension past
    * the geopandas surface — the operator its users reach for Sedona /
    * PostGIS KNN (`<->` LIMIT k) for): each left row joins its k nearest
    * right rows by branch-and-bound over the prepared STR-tree, with the
    * `rank() <= k` tie contract (every right row tied at the k-th distance
    * is kept, so results are deterministic under distance ties). Same
    * plumbing and guarantees as [[sjoinNearestBroadcast]]: optional
    * inclusive `maxDistance`, `exclusive` self-match skip, `how="left"`
    * null-padding, left side never shuffles.
    */
  def sjoinKnnBroadcast(
      right: GeoDataFrame,
      k: Int,
      maxDistance: Double = Double.PositiveInfinity,
      rsuffix: String = "_right",
      distanceCol: String = "dist",
      how: String = "inner",
      exclusive: Boolean = false): DataFrame = {
    require(k >= 1, "sjoinKnnBroadcast requires k >= 1")
    knnBroadcast(right, k, maxDistance, rsuffix, distanceCol, how, exclusive)
  }

  private def knnBroadcast(
      right: GeoDataFrame,
      k: Int,
      maxDistance: Double,
      rsuffix: String,
      distanceCol: String,
      how: String,
      exclusive: Boolean): DataFrame = {
    import org.apache.spark.sql.GraftInterop.{expression, ofRows}
    require(Set("inner", "left").contains(how),
      s"unknown nearest-join how '$how' (inner | left)")
    val spark = df.sparkSession
    // NearestJoin has no physical plan without graft's planner strategy
    graft.sql.functions.install(spark)
    val (rightRenamed, rGeomName) = suffixed(right, rsuffix)
    val left = without(distanceCol).df
    ofRows(spark, graft.plans.NearestJoin(left.queryExecution.analyzed,
      rightRenamed.queryExecution.analyzed,
      expression(spark, left(geometryColumn)), expression(spark, rightRenamed(rGeomName)),
      k, maxDistance, exclusive,
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        distanceCol, DoubleType, nullable = false)(),
      if (how == "left") org.apache.spark.sql.catalyst.plans.LeftOuter
      else org.apache.spark.sql.catalyst.plans.Inner))
  }

  /** DataFrame-level overlay (geopandas `overlay(df1, df2, how=...)`;
    * dask-geopandas does not distribute it — geopandas users drop to
    * single-node for this). `how` is one of:
    *  - `"intersection"`: one row per intersecting pair, geometry =
    *    pairwise intersection, both attribute sets (right suffixed).
    *  - `"difference"`: left rows with geometry minus the union of all
    *    intersecting right geometries (left rows with no intersection pass
    *    through unchanged), attributes = left's. Rows whose geometry is
    *    fully erased are DROPPED (geopandas overlay drops empty results);
    *    pass `dropEmpty = false` to keep them with empty geometries.
    *  - `"identity"` (intersection + left difference pieces), `"union"`
    *    (those + right difference pieces) and `"symmetric_difference"`
    *    (both sides' difference pieces): compositions of the two above —
    *    deliberately not fused, Spark unions the declarative plans for
    *    free. They follow geopandas' attribute model: intersection pieces
    *    carry BOTH sides' columns, left-only pieces carry the right side's
    *    columns as null and vice versa (`unionByName(allowMissingColumns)`),
    *    one geometry column named after this frame's. `rightKey` (the
    *    right frame's row-identity column) is required for the modes that
    *    build right-side difference pieces (union / symmetric_difference).
    *
    * CONTRACT: `leftKey` must be unique per left row (like
    * [[sjoinKnn]]'s leftKey) — the difference branch unions the
    * intersecting right geometries per key, so duplicate keys would pool
    * subtrahends across distinct rows and erase too much. Pass a surrogate
    * (`monotonically_increasing_id()` column) when no natural unique key
    * exists.
    *
    * Plan (100 TB): candidates from the grid sjoin (fixed cells, anchor
    * exactly-once); `difference` adds one hash exchange on the left key
    * where the bounded cascaded `StUnionAgg` folds intersecting right
    * parts — never all rights, only the candidates. Geometry kernels are
    * narrow expressions either way.
    */
  def overlay(
      right: GeoDataFrame,
      leftKey: String,
      how: String = "intersection",
      strategy: String = "auto",
      cellSize: Option[Double] = None,
      rsuffix: String = "_right",
      dropEmpty: Boolean = true,
      rightKey: Option[String] = None,
      // geopandas overlay keep_geom_type (default True there too): drop
      // intersection pieces of LOWER topological dimension than the input
      // row's geometry — two touching polygons produce a line piece that
      // geopandas discards
      keepGeomType: Boolean = true): DataFrame = {
    val rGeomName = suffixedName(right.geometryColumn, rsuffix)
    lazy val cands = sjoin(right, predicate = "intersects", strategy = strategy,
      cellSize = cellSize, rsuffix = rsuffix)
    def interDf: DataFrame = {
      val pieces = cands
        .withColumn("_ldim", st_dimension(col(geometryColumn)))
        .withColumn(geometryColumn,
          st_intersection(col(geometryColumn), col(rGeomName)))
        .filter(!st_isEmpty(col(geometryColumn)))
      val typed =
        if (keepGeomType)
          pieces.filter(st_dimension(col(geometryColumn)) === col("_ldim"))
        else pieces
      typed.drop(rGeomName, "_ldim")
    }
    def leftDiff: DataFrame = {
      val unioned = cands.groupBy(col(leftKey).as("_ok"))
        .agg(st_unionAgg(col(rGeomName)).as("_r"))
      val diffed = df.join(unioned, df(leftKey) === col("_ok"), "left")
        .withColumn(geometryColumn,
          when(col("_r").isNull, df(geometryColumn))
            .otherwise(st_difference(df(geometryColumn), col("_r"))))
        .drop("_ok", "_r")
      if (dropEmpty) diffed.filter(!st_isEmpty(col(geometryColumn))) else diffed
    }
    // right-side difference pieces, renamed into the left frame's column
    // model (right's geometry takes the left geometry name; clashing
    // attribute columns take rsuffix, matching the sjoin suffixing that
    // the intersection pieces carry)
    def rightDiffAligned: DataFrame = {
      val rk = rightKey.getOrElse(throw new IllegalArgumentException(
        s"overlay how=$how needs rightKey= (the right frame's row-identity column)"))
      val raw = right.overlay(this, rk, "difference", strategy, cellSize,
        rsuffix, dropEmpty)
      val geomAligned =
        if (right.geometryColumn == geometryColumn) raw
        else raw.withColumnRenamed(right.geometryColumn, geometryColumn)
      geomAligned.columns.foldLeft(geomAligned) { (acc, c) =>
        if (c != geometryColumn && df.columns.contains(c))
          acc.withColumnRenamed(c, c + rsuffix)
        else acc
      }
    }
    how match {
      case "intersection" => interDf
      case "difference"   => leftDiff
      case "identity" =>
        interDf.unionByName(leftDiff, allowMissingColumns = true)
      case "symmetric_difference" =>
        leftDiff.unionByName(rightDiffAligned, allowMissingColumns = true)
      case "union" =>
        interDf.unionByName(leftDiff, allowMissingColumns = true)
          .unionByName(rightDiffAligned, allowMissingColumns = true)
      case other => throw new IllegalArgumentException(
        s"overlay how=$other (supported: intersection, difference, " +
          "identity, union, symmetric_difference)")
    }
  }

  /** Grid bounds for the level-based grid sjoin: prefer driver-side
    * spatial-partition envelopes (metadata only, no job); otherwise ONE
    * combined bounds aggregation over both inputs — never two separate
    * eager scans.
    */
  private def gridBoundsFromMetadataOr(right: GeoDataFrame): Envelope =
    (boundsFromMetadata, right.boundsFromMetadata) match {
      case (Some(lb), Some(rb)) => lb.union(rb)
      case _ =>
        val both = df.select(geom.as("_g"))
          .union(right.df.select(right.geom.as("_g")))
        val r = both.agg(st_envelopeAgg(col("_g"))).head().getStruct(0)
        if (r == null) Envelope.empty
        else Envelope(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }

  /** Driver-side bounds without a job: spatial-partition envelopes when
    * computed, else GeoParquet footer bboxes carried from the read.
    */
  private def boundsFromMetadata: Option[Envelope] =
    spatialPartitions.filter(_.nonEmpty).map(_.reduce(_ union _))
      .orElse(fileSource.filter(_.validFor(df)).map(_.bboxes.values.reduce(_ union _)))

  /** Suffix-dispatched write — the reference's single `to_file` entry
    * point (`io/file.py:49-149`; pyogrio picks the OGR driver from the
    * path). `layer` names the feature table/class in catalog formats
    * (gpkg/gdb/sqlite/fgb); file formats without a catalog ignore it.
    * Mirrors [[readFile]]'s suffix table, so `readFile(path)` always
    * reads back what `toFile(path)` wrote — directory-of-parts formats
    * (shp/kml/gpx/mif/tab/dxf/geojson) write `path` as a directory that
    * the dispatcher re-reads by its contents' extension.
    */
  def toFile(path: String, layer: String = "layer1"): Unit = {
    val lower = path.toLowerCase
    if (lower.endsWith(".gpkg")) graft.io.GeoPackageIO.write(this, path, layer)
    else if (lower.endsWith(".gdb"))
      graft.io.FileGdbIO.write(df, path, geometryColumn, layer, crs)
    else if (lower.endsWith(".sqlite"))
      graft.io.SpatiaLiteIO.write(this, path, layer)
    else if (lower.endsWith(".fgb")) graft.io.FlatGeobufIO.write(this, path, layer)
    else if (lower.endsWith(".shp"))
      graft.io.ShapefileIO.write(df, path, geometryColumn, crs = crs)
    else if (lower.endsWith(".parquet")) graft.io.GeoParquetIO.write(this, path)
    else if (lower.endsWith(".feather") || lower.endsWith(".arrow"))
      graft.io.GeoFeatherIO.write(this, path)
    else if (lower.endsWith(".geojsonl") || lower.endsWith(".ndjson"))
      graft.io.GeoJsonIO.writeSeq(this, path)
    else if (lower.endsWith(".geojson")) graft.io.GeoJsonIO.write(this, path)
    else if (lower.endsWith(".kml")) graft.io.KmlIO.write(this, path)
    else if (lower.endsWith(".gml")) graft.io.GmlIO.write(this, path)
    else if (lower.endsWith(".gpx")) graft.io.GpxIO.write(this, path)
    else if (lower.endsWith(".mif")) graft.io.MapInfoIO.write(this, path)
    else if (lower.endsWith(".tab")) graft.io.TabIO.write(this, path)
    else if (lower.endsWith(".dxf"))
      graft.io.DxfIO.write(df, path, geometryColumn)
    else if (lower.endsWith(".topojson"))
      graft.io.TopoJsonIO.write(df, path, geometryColumn)
    else throw new IllegalArgumentException(
      s"to_file: unrecognized suffix on $path — supported: .gpkg, .gdb, " +
        ".sqlite, .fgb, .shp, .parquet, .feather/.arrow, .geojson(l), " +
        ".ndjson, .kml, .gml, .gpx, .mif, .tab, .dxf, .topojson")
  }

  /** Write as a single-file GeoPackage (the reference's
    * `to_file(..., driver="GPKG")` surface via pyogrio, `io/file.py`):
    * parallel task-side record encoding, driver-side sequential page
    * assembly — see [[graft.io.GeoPackageIO.write]] for the layout
    * contract and the distribution rationale.
    */
  def toGeoPackage(path: String, table: String, pageSize: Int = 4096): Unit =
    graft.io.GeoPackageIO.write(this, path, table, pageSize)

  /** Write as an ESRI File Geodatabase (`to_file(..., driver="OpenFileGDB")`
    * via pyogrio); CRS travels from this frame's metadata. See
    * [[graft.io.FileGdbIO.write]] for the single-writer contract.
    */
  def toFileGdb(path: String, layerName: String = "layer1"): Unit =
    graft.io.FileGdbIO.write(df, path, geometryColumn, layerName, crs)

  /** Write as a single FlatGeobuf file (the reference's
    * `to_file(..., driver="FlatGeobuf")` surface via pyogrio): features are
    * Hilbert-sorted and encoded task-side, the driver streams them into
    * magic | header | packed R-tree | features — see
    * [[graft.io.FlatGeobufIO.write]] for the layout contract.
    */
  def toFlatGeobuf(path: String, name: String = "layer", nodeSize: Int = 16,
      withIndex: Boolean = true): Unit =
    graft.io.FlatGeobufIO.write(this, path, name, nodeSize, withIndex)

  /** Distributed FlatGeobuf directory write — every task emits its own
    * complete indexed part file, so write bandwidth scales with the
    * cluster instead of funneling through the driver (the 100 TB path).
    * Pair with [[spatialShuffle]] first to make part extents disjoint;
    * directory reads then prune whole parts from their header envelopes.
    */
  def toFlatGeobufDir(dir: String, name: String = "layer", nodeSize: Int = 16,
      withIndex: Boolean = true): Unit =
    graft.io.FlatGeobufIO.writeDir(this, dir, name, nodeSize, withIndex)

  /** Write as a directory of KML documents, one per partition task-side
    * (the reference's `to_file(..., driver="KML")`); attributes become
    * ExtendedData strings — see [[graft.io.KmlIO.write]].
    */
  def toKml(path: String): Unit = graft.io.KmlIO.write(this, path)

  // --------------------------------------------------------------- persist
  /** Persist the underlying data while keeping the wrapper's spatial
    * partition metadata (reference persist, `expr.py:107-115` — dask
    * re-attaches `spatial_partitions` to the persisted collection).
    */
  def persist(level: org.apache.spark.storage.StorageLevel =
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): GeoDataFrame = {
    df.persist(level)
    this
  }

  def cache(): GeoDataFrame = persist()

  def unpersist(blocking: Boolean = false): GeoDataFrame = {
    df.unpersist(blocking)
    this
  }

  /** Collision-free internal scratch-column name: the base name unless a
    * user column already carries it, else the first `base1`, `base2`, …
    * free in every supplied schema — the same survival contract the
    * rsuffix renames give user attribute columns.
    */
  private def freshCol(base: String, schemas: Seq[String]*): String = {
    val taken = schemas.flatten.toSet
    if (!taken.contains(base)) base
    else Iterator.from(1).map(base + _).find(n => !taken.contains(n)).get
  }

  /** Density-based spatial clustering over POINT rows (the PostGIS
    * `ST_ClusterDBSCAN(geom, eps, minpoints) OVER ()` surface, classic
    * DBSCAN semantics): a row is CORE when at least `minPoints` input rows
    * (counting itself, like PostGIS) lie within `eps`; cores within `eps`
    * of each other share a cluster; a non-core row within `eps` of a core
    * is a BORDER member of that core's cluster; everything else is noise
    * (`cluster_id` null). Where PostGIS hands borders to an arbitrary
    * reachable cluster, this picks the MINIMUM candidate label so the
    * result is deterministic and differential-testable. Labels are the
    * minimum core row id of each cluster (dense ints are one
    * `dense_rank()` away if needed).
    *
    * Plan (100 TB shape) — the textbook distributed-DBSCAN quadratic
    * traps are all structurally avoided:
    *  - subcells of side eps/1.5 make same-cell rows within `eps` BY
    *    CONSTRUCTION (diagonal² = 2·(eps/1.5)² ≈ 0.89·eps², strict under
    *    any rounding), so INTRA-cell pairs — the densest, worst-case
    *    quadratic — are never generated: same-cell neighbor counts come
    *    from one `groupBy(cell).count()`, and same-cell core connectivity
    *    contracts to a star on the cell's minimum core id;
    *  - cross-cell candidates are a plain 24-neighbor-offset equi-join
    *    (each ordered pair meets exactly once, in the right row's home
    *    cell) carrying only (id, x, y) longs/doubles — geometry never
    *    shuffles;
    *  - cluster labels run through [[graft.ops.Dedup.connectedComponents]]
    *    (O(log diameter) rounds, capped-stats checkpoints) over the
    *    contracted edge set — O(points + cross-cell core pairs), never
    *    O(pairs²).
    * The residual cost is cross-cell pair verification between adjacent
    * dense cells — inherent to the exact ε-graph every DBSCAN definition
    * needs.
    *
    * Returns `(idCol, is_core, cluster_id)` — one row per input row.
    * `idCol` must be unique and castable to long; geometry must be POINTs.
    */
  def clusterDBSCAN(
      idCol: String,
      eps: Double,
      minPoints: Int,
      maxIter: Int = 30): DataFrame = {
    require(eps > 0, s"clusterDBSCAN needs eps > 0 (got $eps)")
    require(minPoints >= 1, s"clusterDBSCAN needs minPoints >= 1 (got $minPoints)")
    val s = eps / 1.5
    // one narrow projection, pinned: (id, x, y, home cell) feeds every
    // branch below (counts, candidates, flags, labels)
    // (r19 note: a sjoinDwithinSphere-style parallelism-floor repartition
    // of this checkpoint was tried and MEASURED flat at sf1 — 52.9 s ->
    // 52.2 s — because the wall there is the connectedComponents loop over
    // the eps-edge graph, whose mass grows ~quadratically with density at
    // fixed eps; the pair stage itself overlaps with it. Reverted: the
    // extra exchange+count buys nothing this operator can feel.)
    val pts = df.select(
        col(idCol).cast("long").as("id"),
        st_x(col(geometryColumn)).cast("double").as("_x"),
        st_y(col(geometryColumn)).cast("double").as("_y"))
      .withColumn("_cx", floor(col("_x") / s).cast("long"))
      .withColumn("_cy", floor(col("_y") / s).cast("long"))
      .localCheckpoint()
    // cross-cell candidates: the left row explodes to the 24 non-home
    // neighbor offsets (|d| <= 2 suffices: cells offset by 3 are at least
    // 2s = 1.33·eps apart), the right row stays home — each ordered pair
    // meets exactly once, and same-cell pairs are excluded by the missing
    // (0,0) offset
    val offs = for {
      dx <- -2 to 2; dy <- -2 to 2 if !(dx == 0 && dy == 0)
    } yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val lExpl = pts
      .withColumn("_o", explode(array(offs: _*)))
      .select(
        col("id").as("id_a"), col("_x").as("_xa"), col("_y").as("_ya"),
        (col("_cx") + col("_o.dx")).as("_jx"),
        (col("_cy") + col("_o.dy")).as("_jy"))
    val rHome = pts.select(
      col("id").as("id_b"), col("_x").as("_xb"), col("_y").as("_yb"),
      col("_cx").as("_jx"), col("_cy").as("_jy"))
    // lazy checkpoints (r19): each frame is pinned (computed once, lineage
    // cut), and its final map stage runs in its first consumer's action.
    // The shuffle stages below it still run while the query is built:
    // under AQE, taking the checkpoint's RDD materializes every query
    // stage (building the clustering of 40 points starts 12 jobs)
    val cross = lExpl.join(rHome, Seq("_jx", "_jy"))
      .filter(
        (col("_xa") - col("_xb")) * (col("_xa") - col("_xb")) +
          (col("_ya") - col("_yb")) * (col("_ya") - col("_yb")) <= lit(eps * eps))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(eager = false)
    // neighbor count INCLUDING self (PostGIS counting rule): same-cell
    // neighbors are (cell population - 1) for free, plus verified
    // cross-cell hits
    val cellCnt = pts.groupBy(col("_cx"), col("_cy"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("_cn"))
    val crossCnt = cross.groupBy(col("id_a")).agg(org.apache.spark.sql.functions.count(lit(1)).as("_xn"))
    val flags = pts.join(cellCnt, Seq("_cx", "_cy"))
      .join(crossCnt, col("id") === crossCnt("id_a"), "left")
      .select(col("id"), col("_cx"), col("_cy"),
        (col("_cn") + coalesce(col("_xn"), lit(0L)) >= minPoints).as("is_core"))
      .localCheckpoint(eager = false)
    val cores = flags.filter(col("is_core"))
    // same-cell cores are mutually within eps -> contract to a star on the
    // cell minimum (connectivity-equivalent to the intra-cell clique)
    val cellMin = cores.groupBy(col("_cx"), col("_cy")).agg(min(col("id")).as("_m"))
    val starEdges = cores.join(cellMin, Seq("_cx", "_cy"))
      .filter(col("id") =!= col("_m"))
      .select(col("id").as("id_a"), col("_m").as("id_b"))
    val coreIds = cores.select(col("id"))
    val crossCore = cross
      .join(coreIds.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .join(coreIds.withColumnRenamed("id", "id_b"), Seq("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // every id of the edges is a row of pts, so pts sizes the single-task
    // gate: the edges' own leaves are the lazy checkpoints above, whose
    // carried join estimates say nothing about the id count
    val labels = graft.ops.Dedup.components(starEdges.unionByName(crossCore), "id_a", "id_b",
      maxIter, graft.plans.ConnectedComponents.taskBudget(df.sparkSession.sparkContext), pts)._1
    // isolated cores (no core neighbor) label themselves
    val coreLab = cores.select(col("id"), col("_cx"), col("_cy"))
      .join(labels, col("id") === labels("doc_id"), "left")
      .select(col("id"), col("_cx"), col("_cy"),
        coalesce(labels("cluster_id"), col("id")).as("_lbl"))
      .localCheckpoint(eager = false)
    // border attach: all same-cell cores provably share ONE label (they
    // are mutually within eps, all core, hence one component) — min() just
    // reads it; cross-cell candidates take the min core-neighbor label.
    // least() skips nulls, so either side alone suffices; both null =
    // noise (cluster_id null), matching DBSCAN.
    val cellLab = coreLab.groupBy(col("_cx"), col("_cy")).agg(min(col("_lbl")).as("_cl"))
    val borders = flags.filter(!col("is_core"))
    val crossLab = cross
      .join(coreLab.select(col("id").as("id_b"), col("_lbl")), Seq("id_b"))
      .groupBy(col("id_a")).agg(min(col("_lbl")).as("_xl"))
    val borderAssign = borders.join(cellLab, Seq("_cx", "_cy"), "left")
      .join(crossLab, col("id") === crossLab("id_a"), "left")
      .select(col("id"), lit(false).as("is_core"),
        least(col("_cl"), col("_xl")).as("cluster_id"))
    coreLab.select(col("id"), lit(true).as("is_core"), col("_lbl").as("cluster_id"))
      .unionByName(borderAssign)
      .withColumnRenamed("id", idCol)
  }

  /** Distance-connectivity clustering over ARBITRARY geometries (the
    * PostGIS `ST_ClusterWithin(geom, distance)` surface, flattened to one
    * label per row instead of an array-of-collections aggregate): rows
    * whose geometries lie within `distance` of each other — directly or
    * through a chain — share a cluster. Labels are the minimum member id;
    * singletons label themselves. Unlike [[clusterDBSCAN]] there is no
    * density threshold and no noise.
    *
    * Plan: ε-pairs from the exactly-once padded-grid dwithin self-join
    * (geometry shuffles once, keyed by cell), then (id,id) longs through
    * [[graft.ops.Dedup.connectedComponents]].
    *
    * Returns the input rows plus a `cluster_id` column.
    */
  def clusterWithin(
      idCol: String,
      distance: Double,
      cellSize: Double,
      maxIter: Int = 30): DataFrame =
    clusterByPairs(idCol, "dwithin", distance, cellSize, maxIter)

  /** Intersection-connectivity clustering (PostGIS
    * `ST_ClusterIntersecting`): rows whose geometries intersect — directly
    * or through a chain — share a cluster. Same shape as [[clusterWithin]]
    * with the `intersects` predicate.
    */
  def clusterIntersecting(
      idCol: String,
      cellSize: Double,
      maxIter: Int = 30): DataFrame =
    clusterByPairs(idCol, "intersects", 0.0, cellSize, maxIter)

  private def clusterByPairs(
      idCol: String,
      predicate: String,
      distance: Double,
      cellSize: Double,
      maxIter: Int): DataFrame = {
    val a = GeoDataFrame(
      df.select(col(idCol).cast("long").as("_cl_a"), col(geometryColumn).as("_cl_ga")),
      "_cl_ga")
    val b = GeoDataFrame(
      df.select(col(idCol).cast("long").as("_cl_b"), col(geometryColumn).as("_cl_gb")),
      "_cl_gb")
    val pairs = a.sjoin(b, predicate = predicate, strategy = "grid",
        cellSize = Some(cellSize), distance = distance)
      .filter(col("_cl_a") < col("_cl_b"))
      .select(col("_cl_a").as("id_a"), col("_cl_b").as("id_b"))
    val labels = graft.ops.Dedup.connectedComponents(pairs, maxIter = maxIter)
    df.join(
        labels.select(col("doc_id").as("_cl_n"), col("cluster_id").as("_cl_lbl")),
        col(idCol).cast("long") === col("_cl_n"), "left")
      .withColumn("cluster_id", coalesce(col("_cl_lbl"), col(idCol).cast("long")))
      .drop("_cl_n", "_cl_lbl")
  }

  /** K-means clustering over POINT rows (the PostGIS
    * `ST_ClusterKMeans(geom, k) OVER ()` surface, made DETERMINISTIC where
    * PostGIS's is initialization-dependent): initial centroids are the `k`
    * rows with the smallest md5 bucket (stable across partitionings and
    * engines — cluster id j = the j-th such row, 0-based), each Lloyd
    * update averages per cluster and ROUNDS the centroid to `roundTo`
    * decimals before the next assignment (the e05 trick — last-ulp
    * summation differences can no longer flip a boundary assignment, so a
    * SQL oracle replays the exact iterations), assignment ties go to the
    * lower cluster id, and an emptied cluster keeps its previous centroid.
    *
    * 100 TB shape: centroids are k rows on the driver; each iteration is
    * ONE narrow pass (assignment = an `array_min` over k plan-literal
    * struct distances — no join) into a k-row partial/final hash agg; the
    * corpus never shuffles and is scanned `iters`+2 times total off the
    * pinned (id, x, y) projection.
    *
    * Returns `(idCol, cluster_id)` with the assignment under the final
    * centroids.
    */
  def clusterKMeans(
      idCol: String,
      k: Int,
      iters: Int = 2,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"clusterKMeans needs k >= 1 (got $k)")
    require(iters >= 0, s"clusterKMeans needs iters >= 0 (got $iters)")
    val pts = df.select(
        col(idCol).cast("long").as("id"),
        st_x(col(geometryColumn)).cast("double").as("_x"),
        st_y(col(geometryColumn)).cast("double").as("_y"))
      .localCheckpoint()
    def r(v: Double): Double =
      BigDecimal(v).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
    val hk = gr_md5Bucket(concat(lit("km:"), col("id").cast("string")),
      lit(1000000000))
    var cents: Array[(Double, Double)] = pts.withColumn("_h", hk)
      .orderBy(col("_h"), col("id")).limit(k)
      .select(col("_x"), col("_y")).collect()
      .map(row => (r(row.getDouble(0)), r(row.getDouble(1))))
    // assignment under the current centroid literals: array_min over
    // struct(dist2, cid) — struct ordering breaks distance ties on the
    // lower cluster id
    def assignCol(cs: Array[(Double, Double)]) = {
      val cands = cs.zipWithIndex.map { case ((cx, cy), j) =>
        struct(
          ((col("_x") - cx) * (col("_x") - cx) +
            (col("_y") - cy) * (col("_y") - cy)).as("d2"),
          lit(j).as("c"))
      }
      array_min(array(cands.toIndexedSeq: _*)).getField("c")
    }
    for (_ <- 1 to iters) {
      val next = pts.withColumn("_c", assignCol(cents))
        .groupBy(col("_c"))
        .agg(avg(col("_x")).as("mx"), avg(col("_y")).as("my"))
        .collect().map(row => row.getInt(0) -> (r(row.getDouble(1)), r(row.getDouble(2))))
        .toMap
      cents = cents.zipWithIndex.map { case (prev, j) => next.getOrElse(j, prev) }
    }
    pts.select(col("id").as(idCol), assignCol(cents).as("cluster_id"))
  }

  def count(): Long = df.count()
}

/** Thrown when one coverage window (one `by` key) exceeds the per-task
  * materialization budget — the actionable alternative to an executor
  * OOM. Refine the `by` key (e.g. add a tile id) or raise
  * `spark.graft.coverage.maxWindowRows` / `.maxWindowBytes`.
  */
class CoverageWindowExceeded(msg: String) extends RuntimeException(msg)

object GeoDataFrame {
  /** Most grid cells a [[GeoDataFrame.sjoinKnn]] cell summary may hold on
    * the driver; above it the summary is re-aggregated at 4× the cell size.
    * A fixed bound, not a setting: the result does not depend on it.
    */
  private[graft] val KnnMaxCells = 65536

  private val SphereR = 6371008.8
  private val SphereMPerDegLat = math.Pi * SphereR / 180.0

  /** Cell size (degrees) and expected verify pairs of a
    * [[GeoDataFrame.sjoinDwithinSphere]] of `nL` left rows against `nR`
    * right rows whose envelopes span `area` square degrees up to
    * |latitude| `maxAbsLat`.
    *
    * The cost model has two opposing terms: left explode fan-out grows as
    * (2·pad/cell + 1)² while verify pairs per exploded row grow as
    * nRight·cell²/area. A FIXED cell is only right at one density —
    * 4·padLat measured best on the sf0.1 fixture (2·padLat emitted 40%
    * fewer pairs but 2.2× the exploded rows and a ~2× worse wall), but at
    * sf1's 10× right-side density the same cell made the verify term
    * explode (52 s: ~135 M haversine pairs). The cell therefore targets a
    * bounded candidate count per exploded row: sqrt(45·area/nR), clamped
    * to [padLat/2, 4·padLat] — at sf0.1 density this clamps to the
    * measured-best 4·padLat, at 10× density it shrinks ~3× (3.3× fewer
    * pairs), and the padLat/2 floor caps the fan-out so pairs stay ~linear
    * in the left side as density grows.
    *
    * Expected verify pairs = nL·nR·(2·pad + cell)²/area, the square being
    * the cells a left row's [[spherePad]] reaches on both axes, with the
    * pad taken at the extent's highest latitude (the worst case; away from
    * the equator the longitude pad exceeds padLat, by 2× at 60°). A
    * degenerate extent puts every pair in one cell.
    */
  private[api] def sphereGrid(meters: Double, nL: Long, nR: Long, area: Double,
      maxAbsLat: Double): (Double, Double) = {
    val padLat = meters / SphereMPerDegLat
    val c0 =
      if (nR > 0L && area > 0.0) math.sqrt(45.0 * area / nR)
      else padLat * 4.0 // empty/degenerate extent: density is undefined
    val c = math.max(math.min(c0, padLat * 4.0), math.max(padLat * 0.5, 1e-9))
    val est =
      if (area > 0.0) nL.toDouble * nR.toDouble *
        math.pow(2.0 * sphereLonPad(meters, maxAbsLat) + c, 2) / area
      else nL.toDouble * nR.toDouble
    (c, est)
  }

  /** Longitude pad (degrees) covering `meters` around a point at
    * |latitude| `absLat`: the half-width, at the pole-ward edge of the
    * latitude pad, of a `meters` circle; at least the latitude pad.
    * [[spherePad]] is the per-row twin.
    */
  private def sphereLonPad(meters: Double, absLat: Double): Double = {
    val padLat = meters / SphereMPerDegLat
    val latWorst = math.min(89.99, absLat + padLat)
    math.max(padLat, 2.0 * 180.0 / math.Pi * math.asin(math.min(1.0,
      math.sin(meters / (2.0 * SphereR)) / math.cos(math.toRadians(latWorst)))))
  }

  /** Per-row grid pad, on both axes, of a
    * [[GeoDataFrame.sjoinDwithinSphere]] left geometry: [[sphereLonPad]]
    * at the geometry's highest |latitude|. */
  private[api] def spherePad(g: Column, meters: Double): Column = {
    val padLat = meters / SphereMPerDegLat
    val latWorst = least(lit(89.99),
      greatest(abs(st_ymin(g)), abs(st_ymax(g))) + lit(padLat))
    greatest(lit(padLat), lit(2.0 * 180.0 / math.Pi) * asin(least(lit(1.0),
      lit(math.sin(meters / (2.0 * SphereR))) / cos(radians(latWorst)))))
  }

  /** points_from_xy (reference `dask_geopandas/expr.py:881-894`). */
  def pointsFromXY(df: DataFrame, x: String, y: String,
      geometryColumn: String = "geometry"): GeoDataFrame =
    GeoDataFrame(df.withColumn(geometryColumn, st_point(col(x), col(y))), geometryColumn,
      None, Some((x, y)))

  /** from_wkt (reference `expr.py:897-919`). */
  def fromWkt(df: DataFrame, wktCol: String, geometryColumn: String = "geometry"): GeoDataFrame =
    GeoDataFrame(df.withColumn(geometryColumn, st_geomFromWKT(col(wktCol))), geometryColumn)

  /** from_wkb (reference `expr.py:922-944`). */
  def fromWkb(df: DataFrame, wkbCol: String, geometryColumn: String = "geometry"): GeoDataFrame =
    GeoDataFrame(df.withColumn(geometryColumn, st_geomFromWKB(col(wkbCol))), geometryColumn)

  /** read_file substitute (reference `io/file.py:49-149`): ingest a CSV
    * dataset whose geometry travels as a WKT (`format = "wkt"`) or
    * hex-encoded WKB (`format = "wkb_hex"`) text column. OGR drivers are
    * out of scope for this build (no native lib available); delimited text
    * with WKT/WKB covers the interchange capability, and the scan is a
    * plain distributed Spark CSV read (splittable, schema-inferred), so it
    * scales like any other source.
    */
  def fromCsv(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      geomTextCol: String,
      format: String = "wkt",
      header: Boolean = true,
      inferSchema: Boolean = true,
      geometryColumn: String = "geometry",
      crs: Option[String] = None): GeoDataFrame = {
    graft.sql.functions.install(spark)
    val df = spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .csv(path)
    val parsed = format match {
      case "wkt"             => st_geomFromWKT(col(geomTextCol))
      case "wkb" | "wkb_hex" => st_geomFromWKB(unhex(col(geomTextCol)))
      case other => throw new IllegalArgumentException(
        s"unknown geometry text format $other (wkt | wkb_hex)")
    }
    val g = GeoDataFrame(df.withColumn(geometryColumn, parsed), geometryColumn)
    crs.map(g.setCrs).getOrElse(g)
  }

  /** Shapefile ingestion (reference `read_file` on .shp, `io/file.py:49-149`):
    * record-range chunked distributed reads of the .shp/.shx/.dbf trio;
    * `chunkSize` is the reference's `chunksize`.
    */
  def readShapefile(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      chunkSize: Int = 65536,
      geometryColumn: String = "geometry",
      crs: Option[String] = None): GeoDataFrame = {
    graft.sql.functions.install(spark)
    val g0 = GeoDataFrame(
      graft.io.ShapefileIO.read(spark, path, chunkSize, geometryColumn), geometryColumn)
    // explicit crs= wins; else the dataset's .prj sidecar (WKT1 reduced to
    // an EPSG code / proj record), the same auto-detection pyogrio gives
    // the reference
    val detected = crs.orElse(graft.io.ShapefileIO.readPrjCrs(
      spark.sessionState.newHadoopConf(), path))
    val g = detected.map(g0.setCrs).getOrElse(g0)
    // cx re-plans as a header-envelope-pruned read: whole files outside
    // the window never schedule a task (the win for spatialShuffle'd
    // directory layouts; shapefiles carry no per-record index, so
    // surviving files scan with the exact residual). Pinned to the final
    // df like every BoxSourceMeta hook.
    g.copy(boxSource = Some(BoxSourceMeta(g.df, box => Some(
      graft.io.ShapefileIO.read(spark, path, chunkSize, geometryColumn,
        Some((box.minX, box.minY, box.maxX, box.maxY)))))))
  }

  /** GeoPackage ingestion (reference `read_file` on .gpkg): SQLite b-tree
    * subtree-partitioned read; the geometry column comes from
    * gpkg_geometry_columns and the CRS resolves through
    * gpkg_spatial_ref_sys (EPSG rows only; undefined/custom srs -> no CRS).
    * Fails at read time when the table has no registered geometry column —
    * use `GeoPackageIO.read` directly for plain attribute tables.
    */
  /** FlatGeobuf ingestion (reference `read_file` on .fgb via pyogrio,
    * `io/file.py:32-46`): index-chunked distributed read; `bbox` prunes
    * through the file's packed Hilbert R-tree on the driver with an exact
    * envelope residual task-side; `columns` prunes attribute decoding.
    * CRS comes from the header's Crs table (EPSG rows).
    */
  def readFlatGeobuf(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      chunkSize: Int = 65536,
      bbox: Option[(Double, Double, Double, Double)] = None,
      columns: Option[Seq[String]] = None,
      geometryColumn: String = "geometry"): GeoDataFrame = {
    graft.sql.functions.install(spark)
    val meta = graft.io.FlatGeobufIO.readMeta(spark, path)
    val scanned =
      graft.io.FlatGeobufIO.read(spark, path, chunkSize, geometryColumn, bbox, columns)
    val g0 = GeoDataFrame(scanned, geometryColumn)
    val g = meta.crs.map(g0.setCrs).getOrElse(g0)
    // .cx on this frame re-plans through the file's packed R-tree (only
    // when this read wasn't itself already a bbox read — the hook would
    // widen a narrower window otherwise). Install AFTER setCrs: the hook is
    // identity-pinned to the frame's final df (cx re-applies CRS on the
    // re-planned scan itself).
    val hook =
      if (bbox.isEmpty && meta.nodeSize > 0)
        // index-chunked candidate reads strictly dominate a full scan —
        // never decline
        Some(BoxSourceMeta(g.df, box => Some(graft.io.FlatGeobufIO.read(
          spark, path, chunkSize, geometryColumn,
          Some((box.minX, box.minY, box.maxX, box.maxY)), columns))))
      else None
    g.copy(boxSource = hook)
  }

  /** Multi-layer suffix-dispatched write — `to_file(layer=)` repeated
    * into ONE dataset for the catalog formats (OGR semantics: several
    * feature classes per gpkg/gdb/sqlite file). Single-layer formats
    * are rejected by suffix — write them one [[GeoDataFrame.toFile]]
    * per file.
    */
  def writeLayers(path: String, layers: Seq[(String, GeoDataFrame)]): Unit = {
    require(layers.nonEmpty, "to_file: at least one layer required")
    val lower = path.toLowerCase
    if (lower.endsWith(".gpkg"))
      graft.io.GeoPackageIO.writeLayers(layers, path)
    else if (lower.endsWith(".sqlite"))
      graft.io.SpatiaLiteIO.writeLayers(layers, path)
    else if (lower.endsWith(".gdb")) {
      // gdb feature classes carry independent spatial references — each
      // layer's own CRS flows through crsPerLayer. Heterogeneous
      // geometry-column NAMES normalize to one (the writer's shape field
      // is "SHAPE" on disk regardless); a clashing non-geometry column
      // of the same name is refused rather than silently overwritten.
      val geomCols = layers.map(_._2.geometryColumn).distinct
      val (geomCol, dfs) =
        if (geomCols.size == 1) (geomCols.head, layers.map { case (n, g) => n -> g.df })
        else {
          val common = "geometry"
          (common, layers.map { case (n, g) =>
            if (g.geometryColumn == common) n -> g.df
            else {
              require(!g.df.columns.contains(common),
                s"to_file(.gdb): layer '$n' has a non-geometry column named " +
                  s"'$common' clashing with the normalized geometry name — " +
                  "rename it first")
              n -> g.df.withColumnRenamed(g.geometryColumn, common)
            }
          })
        }
      graft.io.FileGdbIO.writeLayers(dfs, path, geomCol,
        crs = None,
        crsPerLayer = layers.collect {
          case (n, g) if g.crs.isDefined => n -> g.crs.get }.toMap)
    } else throw new IllegalArgumentException(
      s"to_file: multi-layer write needs a catalog format " +
        s"(.gpkg, .gdb, .sqlite) — got $path")
  }

  /** Extension-dispatched ingestion — the reference's single `read_file`
    * entry point (`io/file.py:49-149`, pyogrio picks the OGR driver from
    * the path). Dispatches on suffix: `.shp` → [[readShapefile]], `.gpkg`
    * → [[readGeoPackage]] (`layer` selects the feature table; defaults to
    * the file's single registered layer), `.fgb` → [[readFlatGeobuf]],
    * `.geojsonl`/`.ndjson` → newline-delimited GeoJSON, `.arrow`/feather →
    * [[graft.io.GeoFeatherIO.read]]. A directory dispatches on the
    * extensions of the files inside it (one format per directory).
    */
  def readFile(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      layer: Option[String] = None,
      chunkSize: Int = 65536,
      geometryColumn: String = "geometry"): GeoDataFrame = {
    val bare = path.stripSuffix("/")
    val p = new org.apache.hadoop.fs.Path(bare)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // ONE metadata round-trip for the whole dispatch (the exists/status
    // pair otherwise repeats per branch — metadata RPCs on HDFS/S3A)
    val isDir = fs.exists(p) && fs.getFileStatus(p).isDirectory
    // a .gdb DIRECTORY is one dataset (ESRI File Geodatabase), not a
    // directory of per-task files — dispatch before the extension scan;
    // cx re-plans through the bbox read (block-envelope chunk prune +
    // exact residual)
    // WARC / WET (Common Crawl's wire format — the corpus-ingestion front
    // door, not a geo format): record table via [[graft.io.WarcIO]]. The
    // wrapper is the relational core only — records carry no geometry, so
    // spatial operators fail on the (absent) geometry column exactly as
    // they would on any non-spatial table.
    val warcSuffixes = Seq(".warc", ".wet", ".warc.gz", ".wet.gz")
    val isWarc =
      if (isDir) fs.listStatus(p).exists(f =>
        warcSuffixes.exists(sx => f.getPath.getName.toLowerCase.endsWith(sx)))
      else warcSuffixes.exists(sx => bare.toLowerCase.endsWith(sx))
    if (isWarc)
      return GeoDataFrame(graft.io.WarcIO.read(spark, bare), geometryColumn)
    if (bare.toLowerCase.endsWith(".gdb") && isDir) {
      val g = graft.io.FileGdbIO.read(spark, bare, layer, chunkSize, geometryColumn)
      return g.copy(boxSource = Some(BoxSourceMeta(g.df, box => Some(
        graft.io.FileGdbIO.read(spark, bare, layer, chunkSize, geometryColumn,
          Some((box.minX, box.minY, box.maxX, box.maxY))).df))))
    }
    val lower: String =
      if (isDir && (bare.toLowerCase.endsWith(".geojsonl") ||
            bare.toLowerCase.endsWith(".ndjson") ||
            bare.toLowerCase.endsWith(".parquet"))) {
        // a Spark sink DIRECTORY whose own suffix names the format (what
        // toFile(".geojsonl"/".parquet") writes — text parts carry .txt):
        // the underlying readers take files and directories alike
        bare.toLowerCase
      } else if (isDir) {
        val exts = fs.listStatus(p).map(_.getPath.getName.toLowerCase)
          .flatMap(n => n.split('.').lastOption.filter(_ => n.contains('.')))
          .toSet
        val known = exts.intersect(
          Set("shp", "fgb", "arrow", "geojsonl", "ndjson", "kml", "geojson", "gml", "gpx", "topojson", "mif", "tab", "dxf", "parquet"))
        require(known.size == 1,
          s"read_file: directory $bare holds ${if (known.isEmpty) "no" else "multiple"} " +
            s"recognized formats (${exts.mkString(", ")}) — pass an explicit file or " +
            "use the format-specific reader")
        "." + known.head
      } else bare.toLowerCase
    if (lower.endsWith(".kmz")) {
      // KMZ = zipped KML (Google Earth's default container): the doc.kml
      // inside is the dataset; other entries are icons/overlays we skip
      val dir = graft.io.ZipArchive.extract(spark, bare)
      val kfs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val kmls = kfs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath).filter(_.getName.toLowerCase.endsWith(".kml"))
      require(kmls.nonEmpty, s"read_file: no .kml entry inside $bare")
      val doc = kmls.find(_.getName.equalsIgnoreCase("doc.kml")).getOrElse(kmls.minBy(_.getName))
      graft.io.KmlIO.read(spark, doc.toString, geometryColumn)
    } else if (lower.endsWith(".zip")) {
      // zipped dataset (geopandas read_file("data.zip") parity): extract
      // once into the content-addressed scratch dir, then re-dispatch —
      // a sole extracted file (zipped .gpkg/.fgb/...) dispatches as that
      // file, a multi-file set (the shapefile trio) as a directory
      val dir = graft.io.ZipArchive.extract(spark, bare)
      // zipped File Geodatabase: entry basenames flatten, so the catalog
      // lands at <dir>/a00000001.gdbtable — dispatch the dir as a .gdb
      val zfs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      if (zfs.exists(new org.apache.hadoop.fs.Path(dir, "a00000001.gdbtable")))
        return graft.io.FileGdbIO.read(spark, dir, layer, chunkSize, geometryColumn)
      readFile(spark, graft.io.ZipArchive.soleFile(spark, dir).getOrElse(dir),
        layer, chunkSize, geometryColumn)
    } else if (lower.endsWith(".shp"))
      readShapefile(spark, bare, chunkSize, geometryColumn)
    else if (lower.endsWith(".arrow") || lower.endsWith(".feather"))
      graft.io.GeoFeatherIO.read(spark, bare)
    else if (lower.endsWith(".parquet"))
      // GeoParquet (footer geo metadata; plain parquet reads too, with
      // the geometry column resolved from the footer when present)
      graft.io.GeoParquetIO.read(spark, bare)
    else if (lower.endsWith(".gpkg")) {
      val table = layer.getOrElse {
        val tables = graft.io.GeoPackageIO.featureMeta(spark, path).keys.toSeq.sorted
        require(tables.size == 1,
          s"gpkg has ${tables.size} feature tables (${tables.mkString(", ")}) — pass layer=")
        tables.head
      }
      readGeoPackage(spark, path, table)
    } else if (lower.endsWith(".sqlite")) {
      // SpatiaLite database: layer selects the feature table; defaults to
      // the file's single geometry_columns entry
      val table = layer.getOrElse {
        val tables = graft.io.SpatiaLiteIO.geometryColumns(spark, bare).keys.toSeq.sorted
        require(tables.size == 1,
          s"spatialite has ${tables.size} feature tables (${tables.mkString(", ")}) — pass layer=")
        tables.head
      }
      val g = graft.io.SpatiaLiteIO.read(spark, bare, table,
        geometryColumn = geometryColumn)
      // cx re-plans through the idx_ R*-tree when the file carries one
      if (graft.io.SpatiaLiteIO.hasRtree(spark, bare, table))
        g.copy(boxSource = Some(BoxSourceMeta(g.df, box => Some(
          graft.io.SpatiaLiteIO.read(spark, bare, table,
            Some((box.minX, box.minY, box.maxX, box.maxY)),
            geometryColumn).df))))
      else g
    } else if (lower.endsWith(".fgb"))
      readFlatGeobuf(spark, bare, chunkSize, geometryColumn = geometryColumn)
    else if (lower.endsWith(".geojsonl") || lower.endsWith(".ndjson"))
      graft.io.GeoJsonIO.readSeq(spark, bare, geometryColumn)
    else if (lower.endsWith(".geojson"))
      graft.io.GeoJsonIO.read(spark, bare, geometryColumn)
    else if (lower.endsWith(".kml"))
      graft.io.KmlIO.read(spark, bare, geometryColumn)
    else if (lower.endsWith(".gml"))
      graft.io.GmlIO.read(spark, bare, geometryColumn)
    else if (lower.endsWith(".gpx"))
      graft.io.GpxIO.read(spark, bare, geometryColumn)
    else if (lower.endsWith(".topojson"))
      graft.io.TopoJsonIO.read(spark, bare, geometryColumn)
    else if (lower.endsWith(".mif"))
      graft.io.MapInfoIO.read(spark, bare, geometryColumn)
    else if (lower.endsWith(".tab"))
      graft.io.TabIO.read(spark, bare, geometryColumn)
    else if (lower.endsWith(".dxf"))
      graft.io.DxfIO.read(spark, bare, geometryColumn)
    else if (lower.endsWith(".pbf")) {
      // OSM planet dumps: layer selects points | lines (GDAL OSM-driver
      // naming); default is the node points layer
      layer.getOrElse("points") match {
        case "points" =>
          val n = graft.io.OsmPbfIO.readNodes(spark, bare)
          GeoDataFrame(
            n.withColumnRenamed("geometry", geometryColumn), geometryColumn)
              .setCrs("EPSG:4326")
        case "lines" =>
          val lines = graft.io.OsmPbfIO.wayLines(
            graft.io.OsmPbfIO.readWays(spark, bare),
            graft.io.OsmPbfIO.readNodes(spark, bare))
          GeoDataFrame(
            lines.withColumnRenamed("geometry", geometryColumn), geometryColumn)
              .setCrs("EPSG:4326")
        case "polygons" =>
          val polys = graft.io.OsmPbfIO.wayPolygons(
            graft.io.OsmPbfIO.readWays(spark, bare),
            graft.io.OsmPbfIO.readNodes(spark, bare))
          GeoDataFrame(
            polys.withColumnRenamed("geometry", geometryColumn), geometryColumn)
              .setCrs("EPSG:4326")
        case other => throw new IllegalArgumentException(
          s"osm.pbf layer '$other' not supported (points | lines | polygons; " +
            "relations via OsmPbfIO.readRelations)")
      }
    } else
      throw new IllegalArgumentException(
        s"read_file: cannot infer a driver from '$path' — " +
          "supported suffixes: .shp, .gpkg, .fgb, .kml, .gml, .gpx, .topojson, .mif, .tab, .dxf, .osm.pbf, .geojson, .geojsonl/.ndjson")
  }

  def readGeoPackage(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      table: String): GeoDataFrame = {
    graft.sql.functions.install(spark)
    val (geomCol, crs) = graft.io.GeoPackageIO.featureMeta(spark, path).getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' has no gpkg_geometry_columns entry — " +
          "read plain tables with GeoPackageIO.read"))
    val g0 = GeoDataFrame(graft.io.GeoPackageIO.read(spark, path, table), geomCol)
    val g = crs.map(g0.setCrs).getOrElse(g0)
    // cx re-plans through the file's SQLite R*-tree when one is present
    // (every OGR-written gpkg carries one); hook pinned to the final df
    if (graft.io.GeoPackageIO.hasRtree(spark, path, table))
      g.copy(boxSource = Some(BoxSourceMeta(g.df, box => Some(
        graft.io.GeoPackageIO.read(spark, path, table,
          Some((box.minX, box.minY, box.maxX, box.maxY)))))))
    else g
  }
}
