package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** DataSource V2 connector for GeoPackage feature tables (pure-JVM SQLite
  * b-tree reader):
  *
  * {{{
  *   spark.read.format("geopackage")
  *     .option("table", "roads")
  *     .option("bbox", "x0,y0,x1,y1")   // optional: R*-tree-pruned read
  *     .load("/data/file.gpkg")
  *   spark.sql("CREATE TEMPORARY VIEW roads USING geopackage " +
  *     "OPTIONS (path '/data/file.gpkg', table 'roads')")
  * }}}
  *
  * Partitioning mirrors `GeoPackageIO.read`: without `bbox`, one input
  * partition per b-tree subtree root (each task walks its subtree
  * sequentially); with `bbox`, candidate rowids from the R*-tree are
  * chunked into sorted point-lookup partitions and the exact
  * envelope-intersects residual runs task-side. SQLite records decode as
  * a unit, so column pruning trims row width but not record parsing.
  * `COUNT(*)` answers from OGR's `gpkg_ogr_contents` when the file has it.
  */
class GeoPackageDataSource extends SpatialFileProvider(SqliteFormat.GeoPackage)

/** A `rowids == null` chunk walks each subtree in `subtreeRoots`
  * (consecutive same-level b-tree subtrees, grouped so task count stays
  * bounded); else it point-looks-up each rowid under `tableRoot`.
  */
private[io] final case class SqliteChunk(tableRoot: Long,
    rowids: Array[Long], subtreeRoots: Array[Long])

/** A feature table of a SQLite file, named by its metadata dialect:
  * "geopackage" (`gpkg_geometry_columns`, `rtree_<t>_<g>_node`, GP blobs)
  * or "spatialite" (`geometry_columns`, `idx_<t>_<g>_node`, SpatiaLite
  * blobs; a table missing from `geometry_columns` fails at planning rather
  * than surface undecoded blobs). Option: `table` (required).
  */
private[io] final case class SqliteFormat(name: String) extends SpatialFileFormat {
  type Chunk = SqliteChunk
  private def spatialite: Boolean = name == "spatialite"

  private def table(o: SpatialFileOptions): String = {
    val t = o.get("table").getOrElse("")
    require(t.nonEmpty, s"$name: the 'table' option is required")
    t
  }
  override def label(o: SpatialFileOptions): String = o.path + "#" + table(o)

  // the DDL columns in order, the geometry forced to BinaryType
  def schema(o: SpatialFileOptions): StructType = withTable(o) { (src, master, m) =>
    val geomCol = geomColOf(src, master, o, strict = false)
    StructType(GeoPackageIO.forceGeomBinary(GeoPackageIO.parseColumns(m.sql), geomCol)
      .map(c => StructField(c.name, c.sparkType)))
  }

  // memoized (bounded) so optimizer fixed-point iterations don't reopen
  // the file or re-walk a real SpatiaLite file's ~6000-row spatial_ref_sys
  def geometryColumn(o: SpatialFileOptions): Option[String] = {
    val key = name + "#" + o.path + "#" + table(o)
    val hit = SqliteFormat.geomColMemo.get(key)
    if (hit != null) hit
    else {
      val v = try withTable(o)((src, master, _) => geomColOf(src, master, o, strict = false))
        catch { case _: Exception => None }
      if (SqliteFormat.geomColMemo.size < 1024) SqliteFormat.geomColMemo.put(key, v)
      v
    }
  }

  // the geometry column per the dialect's metadata. `strict` (reads)
  // refuses a SpatiaLite table missing from geometry_columns, or with
  // several geometry columns, by name instead of surfacing raw blobs
  private def geomColOf(src: GeoPackageIO.PageSource, master: Seq[GeoPackageIO.Master],
      o: SpatialFileOptions, strict: Boolean): Option[String] = {
    val t = table(o)
    if (!spatialite)
      GeoPackageIO.resolveCI(GeoPackageIO.featureMetaFrom(src, master), t).map(_._2._1)
    else {
      if (strict)
        SpatiaLiteIO.requireSingleGeom(SpatiaLiteIO.geometryColumnRows(src, master), t, o.path)
      val g = GeoPackageIO.resolveCI(SpatiaLiteIO.geometryColumnsFrom(src, master), t)
      require(!strict || g.isDefined, s"spatialite: table '$t' not in geometry_columns of ${o.path}")
      g.map(_._2._1)
    }
  }

  private def withTable[T](o: SpatialFileOptions)(
      f: (GeoPackageIO.PageSource, Seq[GeoPackageIO.Master], GeoPackageIO.Master) => T): T = {
    val src = GeoPackageIO.openSource(
      SparkSession.active.sessionState.newHadoopConf(), o.path)
    try {
      val master = GeoPackageIO.readMaster(src)
      val m = GeoPackageIO.findMaster(master, table(o)).getOrElse(
        throw new IllegalArgumentException(s"no table '${table(o)}' in ${o.path} " +
          s"(tables: ${master.map(_.name).mkString(", ")})"))
      f(src, master, m)
    } finally src.close()
  }

  def planChunks(o: SpatialFileOptions,
      bbox: Option[(Double, Double, Double, Double)]): Seq[Chunk] =
    withTable(o) { (src, master, m) =>
      require(m.rootPage > 0, s"table '${table(o)}' is virtual — not readable")
      val parallelism = SparkSession.active.sparkContext.defaultParallelism
      val rtreeNode = (t: String, g: String) =>
        if (spatialite) s"idx_${t}_${g}_node" else s"rtree_${t}_${g}_node"
      val candidates: Option[Array[Long]] = (bbox, geomColOf(src, master, o, strict = true)) match {
        case (Some((qx0, qy0, qx1, qy1)), Some(g)) =>
          GeoPackageIO.findMaster(master, rtreeNode(m.name, g)).filter(_.rootPage > 0)
            .map(node => GeoPackageIO.rtreeCandidates(src, node.rootPage,
              qx0, qy0, qx1, qy1).sorted)
        case _ => None
      }
      candidates match {
        case Some(ids) =>
          ids.grouped(math.max(256, ids.length / math.max(1, parallelism)))
            .map(SqliteChunk(m.rootPage, _, null)).toSeq
        case None =>
          GeoPackageIO.groupedSubtreeRoots(src, m.rootPage, 0, target = parallelism * 4)
            .map(g => SqliteChunk(m.rootPage, null, g.toArray))
      }
    }

  // COUNT(*) answers from OGR's gpkg_ogr_contents feature-count table
  // when the file carries one (this repo's writer emits it; OGR maintains
  // it via triggers) — a few page reads, no feature b-tree walk.
  // SpatiaLite keeps no maintained count.
  override def metadataCount(o: SpatialFileOptions): Option[Long] =
    if (spatialite) None
    else try {
      val src = GeoPackageIO.openSource(
        SparkSession.active.sessionState.newHadoopConf(), o.path)
      try {
        GeoPackageIO.readMaster(src).find(_.name == "gpkg_ogr_contents").flatMap { m =>
          var found: Option[Long] = None
          GeoPackageIO.walk(src, m.rootPage, 0) { (_, payload) =>
            val vals = GeoPackageIO.decodeRecord(payload)
            if (vals.length >= 2 && String.valueOf(vals(0)).equalsIgnoreCase(table(o)))
              vals(1) match {
                case c: java.lang.Long if c >= 0L => found = Some(c)
                case _ => ()
              }
          }
          found
        }
      } finally src.close()
    } catch { case _: Exception => None }

  // SQLite records decode as a unit: `want` is not needed
  def reader(o: SpatialFileOptions,
      want: Array[Boolean]): (Configuration, Chunk) => Iterator[Row] = {
    val (cols, geomIdx) = withTable(o) { (src, master, m) =>
      val geomCol = geomColOf(src, master, o, strict = true)
      val cols = GeoPackageIO.forceGeomBinary(GeoPackageIO.parseColumns(m.sql), geomCol).toArray
      (cols, geomCol.map(g => cols.indexWhere(_.name.equalsIgnoreCase(g))).getOrElse(-1))
    }
    val (path, t, sl) = (o.path, table(o), spatialite)
    (conf, ch) => {
      val decode: Array[Byte] => Array[Byte] =
        if (sl) SpatiaLiteIO.slToWkb else GeoPackageIO.gpbToWkb
      // the chunk's rows materialize up-front: one sequential subtree walk
      // or sorted lookup run per task, the same shape as the RDD path
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      val src = GeoPackageIO.openSource(conf, path)
      try {
        if (ch.rowids == null) ch.subtreeRoots.foreach { root =>
          GeoPackageIO.walk(src, root, 0) { (rowid, payload) =>
            out += GeoPackageIO.materializeRow(cols, geomIdx, t, rowid, payload, decode)
          }
        }
        else ch.rowids.foreach { rid =>
          GeoPackageIO.btreeLookup(src, ch.tableRoot, rid).foreach { payload =>
            out += GeoPackageIO.materializeRow(cols, geomIdx, t, rid, payload, decode)
          }
        }
      } finally src.close()
      out.iterator
    }
  }
}

private[io] object SqliteFormat {
  val GeoPackage: SqliteFormat = SqliteFormat("geopackage")
  val SpatiaLite: SqliteFormat = SqliteFormat("spatialite")

  private val geomColMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()
}
