package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** One spatial file format under the generic DataSource V2 connector
  * (shapefile, flatgeobuf, geopackage, spatialite, filegdb). The
  * connector owns everything the formats share: the Table, option
  * parsing, column pruning, the metadata `COUNT(*)` pushdown, the `bbox`
  * hooks of [[graft.plans.V2BboxPushdown]], the exact envelope residual,
  * the reorder by name into the required schema and the conversion to
  * Catalyst rows. A format supplies only what it alone knows:
  *
  *  - `schema`: the file's columns in file order. It is the schema `load`
  *    infers and the order of the values in every row `reader` returns.
  *    A user-supplied schema maps onto it by column name.
  *  - `geometryColumn`: the column the `bbox` applies to; None turns off
  *    bbox pushdown and the residual.
  *  - `planChunks(o, bbox)`: the chunks one scan reads, planned without
  *    feature reads. With a bbox the chunks may cover rows
  *    outside it (the connector drops those) but never omit a row whose
  *    envelope meets it.
  *  - `metadataCount`: the exact row count from file metadata, or None to
  *    decline. Asked only for an ungrouped `COUNT(*)` with no bbox.
  *  - `reader(o, want)`: built at planning, run in tasks: one chunk's
  *    rows in file order, one value per `schema` column. `want` marks the
  *    columns the scan needs; an unwanted column may hold anything, and a
  *    format may skip its decode.
  *
  * `chunked` formats take the `chunkSize` option; `writer` is Some for a
  * format that can also be written through `df.write.format(name)`.
  */
private[graft] trait SpatialFileFormat extends Serializable {
  /** One task's unit of work. */
  type Chunk <: Serializable

  /** The registered short name: table names, scan descriptions, errors. */
  def name: String
  /** What one load reads, after the format name: the path, or path#table. */
  def label(o: SpatialFileOptions): String = o.path
  def chunked: Boolean = false
  def schema(o: SpatialFileOptions): StructType
  def geometryColumn(o: SpatialFileOptions): Option[String]
  def planChunks(o: SpatialFileOptions,
      bbox: Option[(Double, Double, Double, Double)]): Seq[Chunk]
  def metadataCount(o: SpatialFileOptions): Option[Long] = None
  def reader(o: SpatialFileOptions,
      want: Array[Boolean]): (Configuration, Chunk) => Iterator[Row]
  def writer: Option[(LogicalWriteInfo, java.util.Map[String, String]) => WriteBuilder] = None
}

/** The options every spatial file source parses one way: `path`
  * (required), `bbox` ("x0,y0,x1,y1"), `geometryColumn` (default
  * "geometry") and, for chunked formats, `chunkSize` (rows per input
  * partition, default 65536, positive). `get` reads the format's own
  * options (`table`, `layer`).
  */
private[graft] final class SpatialFileOptions(format: SpatialFileFormat,
    map: java.util.Map[String, String]) {
  def get(key: String): Option[String] = Option(map.get(key))

  val path: String = get("path").getOrElse("")
  require(path.nonEmpty, s"${format.name}: a single 'path' is required")

  val bbox: Option[(Double, Double, Double, Double)] = get("bbox").map { s =>
    val a = s.split(",").map(_.trim.toDouble)
    require(a.length == 4, s"${format.name}: bbox needs 4 numbers, got '$s'")
    (a(0), a(1), a(2), a(3))
  }

  def geometryColumn: String = get("geometryColumn").getOrElse("geometry")

  val chunkSize: Int =
    if (!format.chunked) 0
    else {
      val c = get("chunkSize").map(_.toInt).getOrElse(65536)
      require(c > 0, s"${format.name}: chunkSize must be positive (got $c) — a " +
        "negative step would plan zero partitions and return an empty result")
      c
    }

  def withBbox(b: String): SpatialFileOptions = {
    val m = new java.util.HashMap[String, String](map)
    m.put("bbox", b)
    new SpatialFileOptions(format, m)
  }
}

/** The registration of one format: `spark.read.format(format.name)` and
  * `USING <name>` resolve here (META-INF/services lists each subclass).
  */
abstract class SpatialFileProvider(format: SpatialFileFormat)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema(new SpatialFileOptions(format, options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SpatialFileTable(format, schema, properties)
}

private[graft] final class SpatialFileTable(format: SpatialFileFormat,
    tableSchema: StructType, props: java.util.Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  private val opts = new SpatialFileOptions(format, props)

  private[graft] def geometryColumn: Option[String] = format.geometryColumn(opts)
  override def name(): String = s"${format.name}:${format.label(opts)}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    if (format.writer.isEmpty) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  // table properties carry the load-time options (path); scan and write
  // options may add more and win on conflict
  private def merged(options: java.util.Map[String, String]) = {
    val m = new java.util.HashMap[String, String](props)
    m.putAll(options)
    m
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SpatialFileScanBuilder(format,
      new SpatialFileOptions(format, merged(options)), tableSchema)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    format.writer.getOrElse(throw new UnsupportedOperationException(
      s"${format.name} is read-only"))(info, merged(info.options))
}

/** Column pruning, plus `COUNT(*)` from file metadata: an ungrouped
  * single `CountStar` over a scan with no bbox window (a windowed read
  * returns a subset) plans as [[MetadataCountScan]] when the format knows
  * the count.
  */
private[graft] final class SpatialFileScanBuilder(format: SpatialFileFormat,
    opts: SpatialFileOptions, fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var countPushed = false
  private lazy val metadataCount: Option[Long] =
    if (opts.bbox.isEmpty) format.metadataCount(opts) else None

  private def canPushCount(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar] &&
      metadataCount.isDefined

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def supportCompletePushDown(agg: Aggregation): Boolean = canPushCount(agg)
  override def pushAggregation(agg: Aggregation): Boolean = {
    countPushed = canPushCount(agg)
    countPushed
  }
  override def build(): Scan =
    if (countPushed) MetadataCountScan(metadataCount.get, format.name)
    else new SpatialFileScan(format, opts, required)
}

private[graft] final class SpatialFileScan(format: SpatialFileFormat,
    opts: SpatialFileOptions, required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${format.name} ${format.label(opts)}" + bbox.map(b => s" bbox=$b").getOrElse("")

  // V2BboxPushdown hooks: a plain spatial Filter above the scan narrows it
  // to the filter's envelope (no `bbox` option needed from the user)
  private[graft] lazy val geometryColumn: Option[String] = format.geometryColumn(opts)
  private[graft] def bbox: Option[(Double, Double, Double, Double)] = opts.bbox
  private[graft] def withBbox(b: String): Scan =
    new SpatialFileScan(format, opts.withBbox(b), required)

  override def planInputPartitions(): Array[InputPartition] =
    format.planChunks(opts, bbox).map(ChunkPartition(_): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    // required columns map by NAME onto the file's columns: a user schema
    // may be shorter or reordered than the file
    val names = format.schema(opts).fieldNames
    required.fieldNames.foreach { n =>
      require(names.contains(n), s"${format.name}: column '$n' not in " +
        s"${format.label(opts)} (have: ${names.mkString(", ")})")
    }
    val geomIdx = geometryColumn.filter(_ => bbox.isDefined)
      .map(g => names.indexWhere(_.equalsIgnoreCase(g))).getOrElse(-1)
    val want = names.map(required.fieldNames.contains)
    // the residual needs the geometry even when the projection pruned it
    if (geomIdx >= 0) want(geomIdx) = true
    SpatialFileReaderFactory(
      new GeoParquetIO.SerializableConf(SparkSession.active.sessionState.newHadoopConf()),
      format.reader(opts, want), if (geomIdx >= 0) bbox else None, geomIdx,
      required.fieldNames.map(n => names.indexOf(n)), required)
  }
}

private[io] final case class ChunkPartition(chunk: Serializable) extends InputPartition

/** Reads one chunk, keeps the rows whose geometry envelope meets `bbox`,
  * and emits the `reorder`ed file columns as the required schema.
  */
private[io] final case class SpatialFileReaderFactory(
    sconf: GeoParquetIO.SerializableConf,
    read: (Configuration, Nothing) => Iterator[Row],
    bbox: Option[(Double, Double, Double, Double)],
    geomIdx: Int,
    reorder: Array[Int],
    required: StructType) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = read.asInstanceOf[(Configuration, Serializable) => Iterator[Row]](
      sconf.value, partition.asInstanceOf[ChunkPartition].chunk)
    val kept = bbox match {
      case Some((qx0, qy0, qx1, qy1)) => rows.filter { r =>
        val wkb = r.get(geomIdx).asInstanceOf[Array[Byte]]
        wkb != null && {
          val e = graft.geom.Wkb.envelopeOf(wkb)
          !e.isEmpty && e.minX <= qx1 && e.maxX >= qx0 && e.minY <= qy1 && e.maxY >= qy0
        }
      }
      case None => rows
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(required)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = kept.hasNext && {
        val r = kept.next()
        current = toCatalyst(Row.fromSeq(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(reorder.map(i => r.get(i))))).asInstanceOf[InternalRow]
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** The scan a pushed-down `COUNT(*)` plans as: one partition, one row,
  * no feature reads.
  */
private[graft] final case class MetadataCountScan(count: Long, source: String)
    extends Scan with Batch {
  override def readSchema(): StructType =
    new StructType().add("count", LongType, nullable = false)
  override def toBatch: Batch = this
  override def description(): String = s"$source metadata count(*) = $count"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ChunkPartition(java.lang.Long.valueOf(count)))
  override def createReaderFactory(): PartitionReaderFactory = CountReaderFactory(count)
}

private[io] final case class CountReaderFactory(count: Long) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done && { done = true; true }
      override def get(): InternalRow = InternalRow(count)
      override def close(): Unit = ()
    }
}
