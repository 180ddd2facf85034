package graft.io

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** DataSource V2 write path for FlatGeobuf: `df.write.format("flatgeobuf")
  * .mode("append"|"overwrite").save(dir)` produces the same layout as
  * `FlatGeobufIO.writeDir` — one indexed .fgb part per task, readable as a
  * directory dataset by both the connector and `FlatGeobufIO.read`.
  *
  * Features stream through a task-local spill file (only the 40-byte
  * envelope metadata stays in memory), so task memory is bounded
  * regardless of partition size. Parts are written to a dot-prefixed
  * in-progress name PRIVATE to the attempt (taskId-suffixed, so two
  * concurrent speculative attempts never share a temp file) and renamed
  * on task commit; the final name is deterministic in (queryId,
  * partitionId), so a retried or speculative attempt simply re-renames
  * over its predecessor — last-wins idempotent. Unlike `writeDir`, rows are written in arrival order: for
  * best bbox pruning, pre-order with `spatialShuffle` or a
  * `sortWithinPartitions(st_hilbert(...))`.
  *
  * Options: `geometryColumn` (default "geometry"), `name` (layer name),
  * `nodeSize` (R-tree fanout, default 16), `withIndex` (default true).
  */
private[io] class FgbWriteBuilder(info: LogicalWriteInfo,
    props: java.util.Map[String, String]) extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new FgbWrite(info, props, doTruncate)
}

private[io] class FgbWrite(info: LogicalWriteInfo,
    props: java.util.Map[String, String], doTruncate: Boolean) extends Write {
  override def toBatch: BatchWrite = new FgbBatchWrite(
    info.schema(), info.queryId(), props, doTruncate)
}

private[io] class FgbBatchWrite(schema: StructType, queryId: String,
    props: java.util.Map[String, String], doTruncate: Boolean) extends BatchWrite {

  private val opts = new SpatialFileOptions(FlatGeobufFormat, props)
  private val dir = opts.path
  private val geomCol = opts.geometryColumn
  private val layer = Option(props.get("name")).getOrElse("layer")
  private val nodeSize = Option(props.get("nodeSize")).map(_.toInt).getOrElse(16)
  private val withIndex = Option(props.get("withIndex")).forall(_.toBoolean)

  require(schema.fieldNames.contains(geomCol),
    s"flatgeobuf write: no '$geomCol' column in ${schema.fieldNames.mkString(", ")}")

  // CRS rides on the geometry column's metadata (GeoDataFrame.setCrs), so
  // it survives the DataFrame-level write API without a GeoDataFrame in hand
  private def epsg: Option[Int] = {
    val m = schema(schema.fieldIndex(geomCol)).metadata
    if (m.contains("crs")) {
      val c = m.getString("crs")
      if (c.toUpperCase.startsWith("EPSG:")) c.drop(5).toIntOption else None
    } else None
  }

  private def cols: Array[FlatGeobufIO.FgbColumn] = {
    val geomIdx = schema.fieldIndex(geomCol)
    schema.fields.zipWithIndex.filter(_._2 != geomIdx)
      .map { case (f, _) => FlatGeobufIO.FgbColumn(f.name, FlatGeobufIO.ctypeOf(f.dataType, f.name)) }
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (doTruncate) fs.delete(root, true)
    fs.mkdirs(root)
    val geomIdx = schema.fieldIndex(geomCol)
    val attrIdxs = schema.fields.indices.filter(_ != geomIdx).toArray
    FgbWriterFactory(new GeoParquetIO.SerializableConf(conf), dir, queryId,
      schema, geomIdx, attrIdxs, cols, layer, nodeSize, withIndex, epsg)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // an entirely-empty result still needs a readable dataset: one
    // header-only part, like writeDir's empty-frame path
    if (!messages.exists(_.asInstanceOf[FgbCommit].wrote)) {
      val spark = org.apache.spark.sql.SparkSession.active
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      val out = new java.io.BufferedOutputStream(
        fs.create(new Path(dir, s"part-$queryId-empty.fgb"), true), 1 << 20)
      try FlatGeobufIO.assembleFile(out, Iterator.empty, layer, cols,
        nodeSize, withIndex, epsg, FlatGeobufIO.GtUnknown)
      finally out.close()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[io] final case class FgbCommit(wrote: Boolean) extends WriterCommitMessage

private[io] final case class FgbWriterFactory(
    sconf: GeoParquetIO.SerializableConf,
    dir: String,
    queryId: String,
    schema: StructType,
    geomIdx: Int,
    attrIdxs: Array[Int],
    cols: Array[FlatGeobufIO.FgbColumn],
    layer: String,
    nodeSize: Int,
    withIndex: Boolean,
    epsg: Option[Int]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
      private val enc = FlatGeobufIO.rowEncoder(cols, attrIdxs, geomIdx)
      private val spill = java.io.File.createTempFile("fgb_dsv2_spill", ".bin")
      private val spillOut = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(spill), 1 << 20)
      private val meta = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Int)]
      private var headerGt = -1

      override def write(record: InternalRow): Unit = {
        val row = toScala(record).asInstanceOf[org.apache.spark.sql.Row]
        if (headerGt < 0)
          headerGt = FlatGeobufIO.fgbTypeOf(
            graft.geom.Wkb.read(row.get(geomIdx).asInstanceOf[Array[Byte]]))
        val (env, bytes) = enc(row)
        spillOut.write(bytes)
        meta += ((env, bytes.length))
      }

      override def commit(): WriterCommitMessage = {
        spillOut.close()
        if (meta.isEmpty) { spill.delete(); return FgbCommit(false) }
        val in = new java.io.BufferedInputStream(
          new java.io.FileInputStream(spill), 1 << 20)
        try {
          val features = meta.iterator.map { case (env, len) =>
            val b = new Array[Byte](len)
            var off = 0
            while (off < len) {
              val n = in.read(b, off, len - off)
              require(n >= 0, "fgb write: truncated spill file")
              off += n
            }
            (env, b)
          }
          val fs = new Path(dir).getFileSystem(sconf.value)
          // taskId in the temp name: two SPECULATIVE attempts of this
          // partition run concurrently, and a shared temp path would let
          // them interleave writes into one file and publish a corrupt
          // part at rename. Each attempt writes a private temp; the rename
          // to the deterministic final name stays last-wins idempotent.
          val tmp = new Path(dir,
            f".part-$queryId%s-$partitionId%05d-$taskId%d.fgb.inprogress")
          val fin = new Path(dir, f"part-$queryId%s-$partitionId%05d.fgb")
          val out = new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 20)
          try FlatGeobufIO.assembleFile(out, features, layer, cols, nodeSize,
            withIndex, epsg, headerGt)
          finally out.close()
          fs.delete(fin, false)
          require(fs.rename(tmp, fin), s"fgb write: rename $tmp -> $fin failed")
          FgbCommit(true)
        } finally { in.close(); spill.delete() }
      }

      override def abort(): Unit = {
        try spillOut.close() catch { case _: Throwable => () }
        spill.delete()
        // drop this attempt's private temp file if commit never renamed it
        try {
          val fs = new Path(dir).getFileSystem(sconf.value)
          fs.delete(new Path(dir,
            f".part-$queryId%s-$partitionId%05d-$taskId%d.fgb.inprogress"), false)
        } catch { case _: Throwable => () }
      }

      override def close(): Unit = ()
    }
}
