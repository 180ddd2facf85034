package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** DataSource V2 connector for ESRI shapefiles: the pure-JVM
  * .shp/.shx/.dbf reader behind `ShapefileIO.read` surfaced as a
  * first-class Spark format —
  *
  * {{{
  *   spark.read.format("shapefile").load("/data/file.shp")  // or a dir
  *   spark.sql("CREATE TEMPORARY VIEW roads USING shapefile " +
  *     "OPTIONS (path '/data/file.shp')")
  * }}}
  *
  * Planning reads no data: record counts come from .shx file sizes, one
  * input partition per `chunkSize` record range (the same scale plan as
  * `ShapefileIO.read`). Column pruning reaches the decode: unwanted
  * dBASE attributes skip their per-field parse (the fixed-width record
  * is one positioned read either way), and when the geometry column is
  * pruned — e.g. `COUNT(*)` or attribute-only projections — the .shp
  * shape decode is skipped entirely.
  *
  * The `bbox` option ("x0,y0,x1,y1") prunes whole files on the 100-byte
  * .shp header envelope at planning time and applies the exact
  * envelope-intersects residual task-side (shapefiles carry no per-
  * record spatial index, so within a surviving file every record is
  * scanned — the file-level prune is what matters for directory
  * datasets laid out by `spatialShuffle` + `ShapefileIO.write`).
  *
  * Options: `bbox`, `geometryColumn` (default "geometry"), `chunkSize`
  * (records per partition, default 65536).
  */
class ShapefileDataSource extends SpatialFileProvider(ShapefileFormat)

private[io] object ShapefileFormat extends SpatialFileFormat {
  type Chunk = ShapefileIO.Chunk
  val name = "shapefile"
  override def chunked: Boolean = true

  // the .dbf attributes in file order, then the geometry
  def schema(o: SpatialFileOptions): StructType =
    ShapefileIO.schemaOf(SparkSession.active, o.path, o.geometryColumn)

  def geometryColumn(o: SpatialFileOptions): Option[String] = Some(o.geometryColumn)

  def planChunks(o: SpatialFileOptions,
      bbox: Option[(Double, Double, Double, Double)]): Seq[Chunk] =
    ShapefileIO.planChunks(SparkSession.active.sessionState.newHadoopConf(),
      o.path, o.chunkSize, bbox)

  // COUNT(*) answers from .shx FILE SIZES alone — (len - 100) / 8 records
  // per file, zero data reads. Any malformed .shx (shorter than its
  // header, or a ragged record area) declines instead of corrupting the
  // count.
  override def metadataCount(o: SpatialFileOptions): Option[Long] =
    try {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val lens = ShapefileIO.shpFiles(conf, o.path).map { shp =>
        shp.getFileSystem(conf).getFileStatus(ShapefileIO.sibling(shp, "shx")).getLen
      }
      if (lens.nonEmpty && lens.forall(l => l >= 100L && (l - 100L) % 8L == 0L))
        Some(lens.map(l => (l - 100L) / 8L).sum)
      else None
    } catch { case _: Exception => None }

  def reader(o: SpatialFileOptions,
      want: Array[Boolean]): (Configuration, Chunk) => Iterator[Row] = {
    val attrTypes = schema(o).fields.init.map(_.dataType)
    val (wantAttr, wantGeom) = (want.init, want.last)
    // readChunk returns only the wanted columns: spread them to file width
    val at = want.indices.filter(want).toArray
    (conf, ch) => ShapefileIO.readChunk(conf, ch, attrTypes, wantAttr, wantGeom).map { r =>
      val vals = new Array[Any](want.length)
      var k = 0
      while (k < at.length) { vals(at(k)) = r.get(k); k += 1 }
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
    }
  }
}
