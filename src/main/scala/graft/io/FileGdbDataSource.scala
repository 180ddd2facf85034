package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** DataSource V2 connector for ESRI File Geodatabase layers (pure-JVM
  * OpenFileGDB reader, [[FileGdbIO]]):
  *
  * {{{
  *   spark.read.format("filegdb")
  *     .option("layer", "roads")        // optional for single-layer gdbs
  *     .option("bbox", "x0,y0,x1,y1")   // optional window
  *     .load("/data/file.gdb")
  *   spark.sql("CREATE TEMPORARY VIEW roads USING filegdb " +
  *     "OPTIONS (path '/data/file.gdb', layer 'roads')")
  * }}}
  *
  * Partitioning mirrors `FileGdbIO.read`: `chunkSize` rows per input
  * partition, each task seeking its own `.gdbtablx` slice and streaming
  * its rows sequentially. Column pruning is BYTE-LEVEL — unwanted field
  * values advance the row cursor by their width without materializing,
  * and the geometry decode is bypassed entirely on attribute-only scans.
  * `COUNT(*)` answers from the `.gdbtable` header's valid-row count (one
  * 40-byte read, zero feature reads). `bbox` applies the exact envelope
  * residual task-side; with `spark.graft.gdb.pruneOnExtent=true` a
  * disjoint descriptor extent additionally prunes the whole layer to
  * zero tasks (opt-in: a stale third-party extent must not silently
  * drop rows). `V2BboxPushdown` derives the bbox from plain `st_*`
  * filters.
  */
class FileGdbDataSource extends SpatialFileProvider(FileGdbFormat)

private[io] object FileGdbFormat extends SpatialFileFormat {
  /** (first row slot, slots, .gdbtablx offset width) */
  type Chunk = (Int, Int, Int)
  val name = "filegdb"
  override def chunked: Boolean = true

  private def layer(o: SpatialFileOptions): Option[String] = o.get("layer").filter(_.nonEmpty)
  override def label(o: SpatialFileOptions): String = o.path + layer(o).map("#" + _).getOrElse("")

  /** (table path, TableMeta) for the selected layer — the driver-side
    * metadata unit every planning step needs. Memoized (bounded) keyed by
    * path#layer and guarded by the table file's mtime+length, so the
    * optimizer's fixed-point iterations and the plan/count/factory steps
    * of one query don't re-read the catalog + field section, while a
    * rewritten gdb still refreshes.
    */
  private val metaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long, FileGdbIO.TableMeta)]()
  private[io] def metaFor(o: SpatialFileOptions): (String, FileGdbIO.TableMeta) = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val key = o.path + "#" + layer(o).getOrElse("")
    val hit = metaMemo.get(key)
    def stamp(tablePath: String): Long = {
      val tp = new org.apache.hadoop.fs.Path(tablePath)
      val st = tp.getFileSystem(conf).getFileStatus(tp)
      st.getModificationTime * 31 + st.getLen
    }
    // a vanished cached table file (the gdb was regenerated and the
    // layer moved to a different internal file number) means STALE, not
    // an error — fall through to a fresh resolveLayer
    val fresh = hit != null && (try stamp(hit._1) == hit._2
      catch { case _: java.io.IOException => false })
    if (fresh) (hit._1, hit._3)
    else {
      val (tablePath, _) = FileGdbIO.resolveLayer(conf, o.path, layer(o))
      val meta = FileGdbIO.tableMetaOf(conf, tablePath)
      // refresh existing keys even when the memo is full — a saturated
      // guard that skips puts would pin stale entries forever
      if (metaMemo.size < 1024 || metaMemo.containsKey(key))
        metaMemo.put(key, (tablePath, stamp(tablePath), meta))
      (tablePath, meta)
    }
  }

  private def tablxOf(tablePath: String): String =
    tablePath.stripSuffix(".gdbtable") + ".gdbtablx"

  // the layer's fields in file order, the geometry named "geometry"
  def schema(o: SpatialFileOptions): StructType =
    FileGdbIO.sparkSchemaOf(metaFor(o)._2, "geometry")

  def geometryColumn(o: SpatialFileOptions): Option[String] =
    if (metaFor(o)._2.geom.isDefined) Some("geometry") else None

  def planChunks(o: SpatialFileOptions,
      bbox: Option[(Double, Double, Double, Double)]): Seq[Chunk] = {
    val spark = SparkSession.active
    val (tablePath, meta) = metaFor(o)
    if (FileGdbIO.pruneOnExtent(spark) && !FileGdbIO.extentIntersects(meta, bbox)) Nil
    else {
      val conf = spark.sessionState.newHadoopConf()
      val (slots, width) = FileGdbIO.tablxHeaderOf(conf, tablxOf(tablePath))
      val all = (0 until slots by o.chunkSize).map(s => (s, math.min(o.chunkSize, slots - s)))
      // chunk-prune through the block-envelope index (.gspx sidecar or the
      // lazily memoized pass), exactly like the RDD path
      val envIdx = bbox.flatMap(_ => Option(FileGdbIO.envIndexFor(spark, conf,
        tablePath, tablxOf(tablePath), slots, width, meta)))
      val kept = (bbox, envIdx) match {
        case (Some((qx0, qy0, qx1, qy1)), Some(ei)) =>
          all.filter { case (s0, n) => FileGdbIO.chunkIntersectsEnv(ei, s0, n, qx0, qy0, qx1, qy1) }
        case _ => all
      }
      kept.map { case (s, n) => (s, n, width) }
    }
  }

  // the .gdbtable header's valid-row count — one 40-byte read, no tablx
  // walk, no feature reads
  override def metadataCount(o: SpatialFileOptions): Option[Long] =
    try Some(metaFor(o)._2.nRows.toLong)
    catch { case _: Exception => None }

  def reader(o: SpatialFileOptions,
      want: Array[Boolean]): (Configuration, Chunk) => Iterator[Row] = {
    val (tablePath, meta) = metaFor(o)
    val tablx = tablxOf(tablePath)
    (conf, ch) => FileGdbIO.readChunkRows(conf, tablePath, tablx, ch._1, ch._2, ch._3,
      meta.fields, meta.geom, want = want).iterator
  }
}
