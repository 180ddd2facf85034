package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** DataSource V2 connector for FlatGeobuf v3: the pure-JVM reader behind
  * `FlatGeobufIO.read` surfaced as a first-class Spark format —
  *
  * {{{
  *   spark.read.format("flatgeobuf")
  *     .option("bbox", "x0,y0,x1,y1")   // optional: R-tree-pruned read
  *     .load("/data/file.fgb")          // file OR writeDir directory
  *   spark.sql("CREATE TEMPORARY VIEW roads USING flatgeobuf " +
  *     "OPTIONS (path '/data/file.fgb')")
  * }}}
  *
  * Column pruning is honored at the source (unused FlatBuffers property
  * columns are never decoded); the `bbox` option prunes whole part files
  * on their header envelope, narrows surviving files to candidate feature
  * runs through the packed Hilbert R-tree, and applies the exact
  * envelope-intersects residual task-side. One Spark input partition per
  * candidate run — the same scale plan as `FlatGeobufIO.read`. The format
  * is also writable (`df.write.format("flatgeobuf")`, [[FgbWriteBuilder]]).
  *
  * Options: `bbox` (4 comma-separated doubles), `geometryColumn`
  * (default "geometry"), `chunkSize` (features per partition, default
  * 65536).
  */
class FlatGeobufDataSource extends SpatialFileProvider(FlatGeobufFormat)

private[io] object FlatGeobufFormat extends SpatialFileFormat {
  type Chunk = FlatGeobufIO.FgbChunk
  val name = "flatgeobuf"
  override def chunked: Boolean = true

  // the property columns in header order, then the geometry
  def schema(o: SpatialFileOptions): StructType =
    FlatGeobufIO.schemaOf(FlatGeobufIO.readMeta(SparkSession.active, o.path),
      o.geometryColumn, None)

  def geometryColumn(o: SpatialFileOptions): Option[String] = Some(o.geometryColumn)

  def planChunks(o: SpatialFileOptions,
      bbox: Option[(Double, Double, Double, Double)]): Seq[Chunk] = {
    val spark = SparkSession.active
    val fs = new Path(o.path).getFileSystem(spark.sessionState.newHadoopConf())
    FlatGeobufIO.fgbFiles(fs, o.path).flatMap { f =>
      val m = FlatGeobufIO.readMeta(spark, f)
      val filePruned = (bbox, m.envelope) match {
        case (Some((qx0, qy0, qx1, qy1)), Some((fx0, fy0, fx1, fy1))) =>
          !(fx0 <= qx1 && fx1 >= qx0 && fy0 <= qy1 && fy1 >= qy0)
        case _ => false
      }
      if (filePruned) Nil else FlatGeobufIO.planChunks(fs, f, m, o.chunkSize, bbox)
    }
  }

  // COUNT(*) answers from the FGB header's features_count — a few-KB
  // header read per file, no feature data. features_count = 0 is the
  // spec's "unknown" sentinel, so any zero (or a missing header) declines.
  override def metadataCount(o: SpatialFileOptions): Option[Long] =
    try {
      val spark = SparkSession.active
      val fs = new Path(o.path).getFileSystem(spark.sessionState.newHadoopConf())
      val counts = FlatGeobufIO.fgbFiles(fs, o.path)
        .map(f => FlatGeobufIO.readMeta(spark, f).featuresCount)
      if (counts.nonEmpty && counts.forall(_ > 0L)) Some(counts.sum) else None
    } catch { case _: Exception => None }

  def reader(o: SpatialFileOptions,
      want: Array[Boolean]): (Configuration, Chunk) => Iterator[Row] = {
    val meta = FlatGeobufIO.readMeta(SparkSession.active, o.path)
    val (cols, gt) = (meta.columns, meta.geometryType)
    val wantProps = want.init
    val outIdx = cols.indices.toArray
    (conf, ch) => FlatGeobufIO.readChunk(conf, ch, cols, wantProps, outIdx,
      cols.length + 1, gt, None)
  }

  override def writer
      : Option[(LogicalWriteInfo, java.util.Map[String, String]) => WriteBuilder] =
    Some(new FgbWriteBuilder(_, _))
}
