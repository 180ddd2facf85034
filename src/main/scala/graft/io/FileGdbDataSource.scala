package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
class FileGdbDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "filegdb"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FileGdbDataSource.schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GdbTable(schema, properties)
}

object FileGdbDataSource {
  def pathOf(options: java.util.Map[String, String]): String =
    V2Options.pathOf(options, "filegdb")
  def layerOf(options: java.util.Map[String, String]): Option[String] =
    Option(options.get("layer")).filter(_.nonEmpty)
  def bboxOf(options: java.util.Map[String, String])
      : Option[(Double, Double, Double, Double)] =
    V2Options.bboxOf(options, "filegdb")
  def chunkSizeOf(options: java.util.Map[String, String]): Int = {
    val c = Option(options.get("chunkSize")).map(_.toInt).getOrElse(65536)
    require(c > 0, s"filegdb: chunkSize must be positive (got $c) — a " +
      "negative step would plan zero partitions and return an empty result")
    c
  }

  /** (table path, TableMeta) for the selected layer — the driver-side
    * metadata unit every planning step needs. Memoized (bounded) keyed by
    * path#layer and guarded by the table file's mtime+length, so the
    * optimizer's fixed-point iterations and the plan/count/factory steps
    * of one query don't re-read the catalog + field section, while a
    * rewritten gdb still refreshes.
    */
  private val metaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long, FileGdbIO.TableMeta)]()
  private[io] def metaFor(options: java.util.Map[String, String])
      : (String, FileGdbIO.TableMeta) = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val key = pathOf(options) + "#" + layerOf(options).getOrElse("")
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
      val (tablePath, _) =
        FileGdbIO.resolveLayer(conf, pathOf(options), layerOf(options))
      val meta = FileGdbIO.tableMetaOf(conf, tablePath)
      // refresh existing keys even when the memo is full — a saturated
      // guard that skips puts would pin stale entries forever
      if (metaMemo.size < 1024 || metaMemo.containsKey(key))
        metaMemo.put(key, (tablePath, stamp(tablePath), meta))
      (tablePath, meta)
    }
  }

  private[io] def schemaFor(options: java.util.Map[String, String]): StructType =
    FileGdbIO.sparkSchemaOf(metaFor(options)._2, "geometry")
}

private[graft] class GdbTable(tableSchema: StructType,
    props: java.util.Map[String, String]) extends Table with SupportsRead {
  private[graft] def graftGeomCol: Option[String] = {
    val (_, meta) = FileGdbDataSource.metaFor(props)
    if (meta.geom.isDefined) Some("geometry") else None
  }
  override def name(): String =
    "filegdb:" + FileGdbDataSource.pathOf(props) +
      FileGdbDataSource.layerOf(props).map("#" + _).getOrElse("")
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](props)
    merged.putAll(options)
    new GdbScanBuilder(tableSchema, merged)
  }
}

private[graft] class GdbScanBuilder(fullSchema: StructType,
    options: java.util.Map[String, String])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with MetadataCountPushdown {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override protected def countOptions: java.util.Map[String, String] = options
  override protected def countSourceName: String = "filegdb"
  override protected def buildDataScan(): Scan =
    new GdbScan(fullSchema, required, options)

  // COUNT(*) from the .gdbtable header's valid-row count — one 40-byte
  // read, no tablx walk, no feature reads
  override protected lazy val metadataCount: Option[Long] =
    try Some(FileGdbDataSource.metaFor(options)._2.nRows.toLong)
    catch { case _: Exception => None }

  override def build(): Scan = buildScan()
}

private[graft] class GdbScan(fullSchema: StructType, required: StructType,
    options: java.util.Map[String, String]) extends Scan with Batch {

  private val bbox = FileGdbDataSource.bboxOf(options)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    "filegdb " + FileGdbDataSource.pathOf(options) +
      bbox.map(b => s" bbox=$b").getOrElse("")

  // V2BboxPushdown hooks (see ShapefileDataSource)
  private[graft] lazy val graftGeomCol: Option[String] = {
    val (_, meta) = FileGdbDataSource.metaFor(options)
    if (meta.geom.isDefined) Some("geometry") else None
  }
  private[graft] def graftBbox: Option[(Double, Double, Double, Double)] = bbox
  private[graft] def graftWithBbox(b: String): Scan = {
    val m = new java.util.HashMap[String, String](options)
    m.put("bbox", b)
    new GdbScan(fullSchema, required, m)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (tablePath, meta) = FileGdbDataSource.metaFor(options)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val tablxPath = tablePath.stripSuffix(".gdbtable") + ".gdbtablx"
    if (FileGdbIO.pruneOnExtent(SparkSession.active) &&
        !FileGdbIO.extentIntersects(meta, bbox)) return Array.empty
    val (slots, width) = FileGdbIO.tablxHeaderOf(conf, tablxPath)
    val chunk = FileGdbDataSource.chunkSizeOf(options)
    // chunk-prune through the block-envelope index (.gspx sidecar or the
    // lazily memoized pass), exactly like the RDD path
    val envIdx: Array[Double] =
      if (bbox.isDefined && meta.geom.isDefined)
        FileGdbIO.envIndexFor(SparkSession.active, conf, tablePath,
          tablxPath, slots, width, meta)
      else null
    val all = (0 until slots by chunk)
      .map(s => (s, math.min(chunk, slots - s)))
    val kept = (bbox, Option(envIdx)) match {
      case (Some((qx0, qy0, qx1, qy1)), Some(ei)) =>
        all.filter { case (s0, n) =>
          FileGdbIO.chunkIntersectsEnv(ei, s0, n, qx0, qy0, qx1, qy1) }
      case _ => all
    }
    kept.map { case (s, n) => GdbPartition(s, n, width): InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (tablePath, meta) = FileGdbDataSource.metaFor(options)
    val spark = SparkSession.active
    val tablxPath = tablePath.stripSuffix(".gdbtable") + ".gdbtablx"
    // byte-level decode mask + reorder computed against the FILE's
    // schema, not the (possibly user-supplied, shorter or reordered)
    // fullSchema — rows come back in file-field order, so both must map
    // required names into FILE positions
    val fileSchema = FileGdbIO.sparkSchemaOf(meta, "geometry")
    val fileNames = fileSchema.fieldNames
    required.fieldNames.foreach { n =>
      require(fileNames.contains(n),
        s"filegdb: column '$n' not in the layer (have: ${fileNames.mkString(", ")})")
    }
    val wantedNames = required.fieldNames.toSet
    val want = fileNames.map(wantedNames.contains)
    val geomIdx = meta.fields.indexWhere(_.ftype == 7)
    // the residual needs the geometry bytes even when the projection
    // pruned the column — decode it, drop it at reorder time
    if (bbox.isDefined && geomIdx >= 0) want(geomIdx) = true
    val reorder = required.fieldNames.map(n => fileSchema.fieldIndex(n))
    GdbReaderFactory(
      new GeoParquetIO.SerializableConf(spark.sessionState.newHadoopConf()),
      tablePath, tablxPath, meta, want, bbox, geomIdx, reorder, required)
  }
}

private[io] final case class GdbPartition(start: Int, n: Int, width: Int)
  extends InputPartition

private[io] final case class GdbReaderFactory(
    sconf: GeoParquetIO.SerializableConf,
    tablePath: String,
    tablxPath: String,
    meta: FileGdbIO.TableMeta,
    want: Array[Boolean],
    bbox: Option[(Double, Double, Double, Double)],
    geomIdx: Int,
    reorder: Array[Int],
    required: StructType) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GdbPartition]
    val rows = FileGdbIO.readChunkRows(sconf.value, tablePath, tablxPath,
      p.start, p.n, p.width, meta.fields, meta.geom, want = want)
    val residual: org.apache.spark.sql.Row => Boolean = bbox match {
      case Some((qx0, qy0, qx1, qy1)) if geomIdx >= 0 => { r =>
        val wkb = r.get(geomIdx).asInstanceOf[Array[Byte]]
        wkb != null && {
          val e = graft.geom.Wkb.envelopeOf(wkb)
          !e.isEmpty && e.minX <= qx1 && e.maxX >= qx0 &&
            e.minY <= qy1 && e.maxY >= qy0
        }
      }
      case _ => _ => true
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(required)
    val it = rows.iterator.filter(residual)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val r = it.next()
          val vals = reorder.map(i => r.get(i))
          current = toCatalyst(org.apache.spark.sql.Row.fromSeq(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(vals)))
            .asInstanceOf[InternalRow]
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
