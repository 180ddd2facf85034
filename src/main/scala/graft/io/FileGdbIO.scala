package graft.io

import graft.api.GeoDataFrame
import graft.geom.{Envelope, Geometry, LineString, MultiLineString, MultiPoint,
  MultiPolygon, Point, Polygon, Wkb}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.ByteOrder

/** ESRI File Geodatabase (OpenFileGDB) read/write — the `.gdb` directory
  * of `a%08x.gdbtable`/`.gdbtablx` pairs (the reference reads it through
  * pyogrio's OpenFileGDB driver, `dask_geopandas/io/file.py:49-149`).
  *
  * Format profile, from the public reverse-engineered FGDB spec
  * (rouault/dump_gdbtable wiki), FGDB 10 layout:
  *  - `a00000001.gdbtable` — GDB_SystemCatalog: one row per table; the
  *    row's ObjectID IS the table's file number (`a%08x`). Rows whose
  *    name starts with `GDB_` are system tables; the rest are layers.
  *  - `.gdbtable` — 40-byte header (magic 3, row count, int64 file size,
  *    int64 field-section offset), a field-description section (version,
  *    geometry type byte, field list: UTF-16 name/alias, type code, per-
  *    type width/flag data; the geometry field carries the SRS text and
  *    the coordinate quantization origin/scale/tolerance), then rows:
  *    int32 length, null bitmap (one bit per nullable field, LSB first),
  *    values in field order. ObjectID occupies no row bytes — it is the
  *    row's position in `.gdbtablx`.
  *  - `.gdbtablx` — 16-byte header (magic, 1024-row block count, row
  *    count, entry width = 5) then one 5-byte little-endian offset per
  *    row (0 = deleted/absent), padded to whole 1024-entry blocks.
  *  - geometry blobs — shape-type varuint (1 point / 8 multipoint /
  *    3 polyline / 5 polygon), then quantized integer coordinates:
  *    `i = round((v - origin) * scale)`, points as `varuint(i)+1`,
  *    multi-part shapes as point/part counts + varuint bbox + FGDB
  *    signed varints (bit 6 of the first byte is the sign) of
  *    consecutive-integer deltas, x/y interleaved per point.
  *
  * Field type codes: 0 int16, 1 int32, 2 float32, 3 float64, 4 string
  * (varuint byte length + UTF-8), 5 datetime (float64 days since
  * 1899-12-30), 6 objectid, 7 geometry, 8 binary, 10/11 UUID (16 bytes).
  *
  * VALIDATION CAVEAT (stated, not hidden — same contract as [[TabIO]]):
  * no GDAL/ESRI-produced `.gdb` exists in this build environment, so
  * byte-level interop is validated only against this library's own
  * writer; the header/tablx/row/varint layouts follow the published spec
  * precisely, while the field-descriptor TAIL after the tolerances
  * (extent doubles + grid-size list) follows the spec's field order
  * without byte-level cross-validation.
  *
  * Scale shape: reads are record-chunked like [[ShapefileIO]] — the
  * driver reads only the catalog + one field section + one tablx header;
  * each task seeks its own `.gdbtablx` slice for offsets and reads its
  * rows from `.gdbtable`. Writes coalesce to ONE task (the format has a
  * global catalog and a single data file per table — a parallel-write
  * pipeline should target GeoParquet; FileGDB is interchange egress,
  * like TAB/MIF here).
  */
object FileGdbIO {

  private val T_INT16 = 0; private val T_INT32 = 1
  private val T_FLOAT32 = 2; private val T_FLOAT64 = 3
  private val T_STRING = 4; private val T_DATETIME = 5
  private val T_OID = 6; private val T_GEOMETRY = 7
  private val T_BINARY = 8; private val T_UUID = 10; private val T_UUID2 = 11
  private val T_XML = 12

  /** Days from 1899-12-30 (the FGDB datetime epoch) to 1970-01-01. */
  private val EpochDays = 25569.0

  private[io] final case class GdbField(name: String, ftype: Int, nullable: Boolean)

  /** Geometry quantization + SRS carried by the geometry field;
    * `extent` is the descriptor's layer envelope (all-zero when unset).
    */
  private[io] final case class GeomMeta(srs: String, xOrigin: Double,
    yOrigin: Double, xyScale: Double, zOrigin: Double = 0.0,
    zScale: Double = 1.0, extent: Envelope = Envelope.empty)

  private[io] final case class TableMeta(nRows: Int, fields: IndexedSeq[GdbField],
    geom: Option[GeomMeta])

  // ------------------------------------------------------------- binary IO

  private final class Cur(val b: Array[Byte], var p: Int) {
    def u8(): Int = { val v = b(p) & 0xff; p += 1; v }
    def i16(): Int = { val v = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8); p += 2; v.toShort.toInt }
    def i32(): Int = {
      val v = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
        ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
      p += 4; v
    }
    def i64(): Long = { val lo = i32().toLong & 0xffffffffL; val hi = i32().toLong; (hi << 32) | lo }
    def f32(): Float = java.lang.Float.intBitsToFloat(i32())
    def f64(): Double = java.lang.Double.longBitsToDouble(i64())
    def varuint(): Long = {
      var v = 0L; var shift = 0; var more = true
      while (more) {
        val c = u8()
        v |= (c & 0x7fL) << shift
        shift += 7; more = (c & 0x80) != 0
      }
      v
    }
    /** FGDB signed varint: first byte = [cont|sign|6 payload bits]. */
    def svarint(): Long = {
      val c0 = u8()
      val neg = (c0 & 0x40) != 0
      var v = (c0 & 0x3fL); var shift = 6; var more = (c0 & 0x80) != 0
      while (more) {
        val c = u8()
        v |= (c & 0x7fL) << shift
        shift += 7; more = (c & 0x80) != 0
      }
      if (neg) -v else v
    }
    def bytes(n: Int): Array[Byte] = { val a = java.util.Arrays.copyOfRange(b, p, p + n); p += n; a }
    def utf16(nchars: Int): String = new String(bytes(nchars * 2), "UTF-16LE")
    def utf8(n: Int): String = new String(bytes(n), "UTF-8")
  }

  private final class Buf {
    private val out = new java.io.ByteArrayOutputStream()
    def size: Int = out.size
    def toBytes: Array[Byte] = out.toByteArray
    def u8(v: Int): Unit = out.write(v & 0xff)
    def i16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def i32(v: Int): Unit = { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }
    def i64(v: Long): Unit = { i32(v.toInt); i32((v >> 32).toInt) }
    def f64(v: Double): Unit = i64(java.lang.Double.doubleToLongBits(v))
    def f32(v: Float): Unit = i32(java.lang.Float.floatToIntBits(v))
    def varuint(v0: Long): Unit = {
      require(v0 >= 0, s"varuint of negative $v0")
      var v = v0
      do { val c = (v & 0x7f).toInt; v >>>= 7; u8(if (v != 0) c | 0x80 else c) }
      while (v != 0)
    }
    def svarint(v0: Long): Unit = {
      val neg = v0 < 0
      var v = if (neg) -v0 else v0
      val c0 = ((v & 0x3f).toInt | (if (neg) 0x40 else 0))
      v >>>= 6
      u8(if (v != 0) c0 | 0x80 else c0)
      while (v != 0) { val c = (v & 0x7f).toInt; v >>>= 7; u8(if (v != 0) c | 0x80 else c) }
    }
    def bytes(a: Array[Byte]): Unit = out.write(a, 0, a.length)
    def utf16(s: String): Unit = bytes(s.getBytes("UTF-16LE"))
  }

  // --------------------------------------------------------------- parsing

  /** Parse a `.gdbtable` header + field-description section. */
  private def parseTable(bytes: Array[Byte]): TableMeta = {
    val c = new Cur(bytes, 0)
    require(c.i32() == 3, "gdb: bad .gdbtable magic")
    val nRows = c.i32()
    c.p = 32
    val fieldOff = c.i64()
    c.p = fieldOff.toInt
    /* section length */ c.i32()
    val version = c.i32()
    require((version & 0xff) == 4, s"gdb: unsupported layer version $version")
    /* geometry type byte + 3 flag bytes */ c.u8(); c.u8(); c.u8(); c.u8()
    val nFields = c.i16()
    val fields = IndexedSeq.newBuilder[GdbField]
    var geom: Option[GeomMeta] = None
    var k = 0
    while (k < nFields) {
      val name = c.utf16(c.u8())
      /* alias */ c.utf16(c.u8())
      val ftype = c.u8()
      var nullable = true
      // flag bit 0 = nullable, bit 2 = a default value follows (one
      // length byte + that many value bytes) — skipping it is mandatory
      // or the rest of the section parses as garbage
      def flagAndDefault(): Unit = {
        val flag = c.u8()
        nullable = (flag & 1) != 0
        if ((flag & 4) != 0) { val dl = c.u8(); c.p += dl }
      }
      ftype match {
        case T_OID => c.u8(); c.u8(); nullable = false
        case T_INT16 | T_INT32 | T_FLOAT32 | T_FLOAT64 | T_DATETIME =>
          c.u8(); flagAndDefault()
        case T_STRING =>
          c.i32(); flagAndDefault()
        case T_XML =>
          // XML descriptors carry a 1-byte width slot, NOT the string
          // int32 max-length (GDAL FileGDBTable semantics)
          c.u8(); flagAndDefault()
        case T_BINARY | T_UUID | T_UUID2 =>
          c.u8(); flagAndDefault()
        case T_GEOMETRY =>
          c.u8(); nullable = (c.u8() & 1) != 0
          val srs = c.utf16(c.i16())
          // bit1 = has_m, bit2 = has_z (GDAL OpenFileGDB semantics);
          // m/z origin+scale+tolerance ride only when flagged
          val gflags = c.u8()
          val hasM = (gflags & 2) != 0; val hasZ = (gflags & 4) != 0
          val xo = c.f64(); val yo = c.f64(); val sc = c.f64()
          if (hasM) { c.f64(); c.f64() }
          var zo = 0.0; var zs = 1.0
          if (hasZ) { zo = c.f64(); zs = c.f64() }
          /* xytolerance */ c.f64()
          if (hasM) c.f64()
          if (hasZ) c.f64()
          val ex0 = c.f64(); val ey0 = c.f64()
          val ex1 = c.f64(); val ey1 = c.f64()
          val ext = if (ex0 == 0 && ey0 == 0 && ex1 == 0 && ey1 == 0)
            Envelope.empty else Envelope(ex0, ey0, ex1, ey1)
          val nGrids = c.i32()
          var g = 0; while (g < nGrids) { c.f64(); g += 1 }
          geom = Some(GeomMeta(srs, xo, yo, sc, zo,
            if (zs > 0) zs else 1.0, ext))
        case other => throw new IllegalArgumentException(
          s"gdb: unsupported field type $other for '$name'")
      }
      fields += GdbField(name, ftype, nullable)
      k += 1
    }
    val fs = fields.result()
    // the FGDB profile allows ONE shape field; a second means a corrupt
    // or out-of-profile table — fail loudly (silently taking the first
    // would mis-assign geometry decode offsets for every row)
    require(fs.count(_.ftype == T_GEOMETRY) <= 1,
      s"gdb: table declares ${fs.count(_.ftype == T_GEOMETRY)} geometry " +
        s"fields (${fs.filter(_.ftype == T_GEOMETRY).map(_.name).mkString(", ")}) " +
        "— only one shape field is supported")
    TableMeta(nRows, fs, geom)
  }

  private def sparkTypeOf(f: GdbField): DataType = f.ftype match {
    case T_INT16 => ShortType
    case T_INT32 => IntegerType
    case T_FLOAT32 => FloatType
    case T_FLOAT64 => DoubleType
    case T_STRING | T_XML | T_UUID | T_UUID2 => StringType
    case T_DATETIME => TimestampType
    case T_OID => LongType
    case T_BINARY | T_GEOMETRY => BinaryType
  }

  /** Parse one row blob (after its int32 length) into field values.
    * `want` (null = all) masks decode per field: unwanted values advance
    * the cursor by their width without materializing anything — in
    * particular the geometry decode is bypassed on attribute-only scans.
    */
  private def parseRow(blob: Array[Byte], oid: Long,
      fields: IndexedSeq[GdbField], geom: Option[GeomMeta],
      want: Array[Boolean] = null): Row = {
    val c = new Cur(blob, 0)
    val nNullable = fields.count(_.nullable)
    val bitmap = c.bytes((nNullable + 7) / 8)
    var nullIdx = 0
    val vals = fields.zipWithIndex.map { case (f, fi) =>
      val isNull = f.nullable && {
        val bit = (bitmap(nullIdx / 8) >> (nullIdx % 8) & 1) != 0
        nullIdx += 1; bit
      }
      val wanted = want == null || want(fi)
      if (isNull) null
      else if (!wanted) {
        f.ftype match {
          case T_OID => ()
          case T_INT16 => c.p += 2
          case T_INT32 | T_FLOAT32 => c.p += 4
          case T_FLOAT64 | T_DATETIME => c.p += 8
          case T_STRING | T_XML | T_BINARY | T_GEOMETRY =>
            // `c.p += c.varuint()` would read the OLD p before varuint()
            // advances past the length bytes — evaluate the length first
            val l = c.varuint().toInt
            c.p += l
          case T_UUID | T_UUID2 => c.p += 16
        }
        null
      } else f.ftype match {
        case T_OID => oid
        case T_INT16 => c.i16().toShort
        case T_INT32 => c.i32()
        case T_FLOAT32 => c.f32()
        case T_FLOAT64 => c.f64()
        case T_DATETIME =>
          val days = c.f64()
          new java.sql.Timestamp(((days - EpochDays) * 86400000.0).round)
        case T_STRING | T_XML => c.utf8(c.varuint().toInt)
        case T_BINARY => c.bytes(c.varuint().toInt)
        case T_UUID | T_UUID2 =>
          // Windows mixed-endian GUID layout (as GDAL decodes it):
          // data1 int32 LE, data2/data3 int16 LE, data4 8 bytes as-is
          val raw = c.bytes(16)
          val bb = java.nio.ByteBuffer.wrap(raw)
            .order(ByteOrder.LITTLE_ENDIAN)
          val d1 = bb.getInt() & 0xffffffffL
          val d2 = bb.getShort() & 0xffffL
          val d3 = bb.getShort() & 0xffffL
          val hi = (d1 << 32) | (d2 << 16) | d3
          var lo = 0L
          var bi = 8
          while (bi < 16) { lo = (lo << 8) | (raw(bi) & 0xffL); bi += 1 }
          new java.util.UUID(hi, lo).toString
        case T_GEOMETRY =>
          val g = decodeShape(c.bytes(c.varuint().toInt), geom.get)
          if (g == null) null else Wkb.write(g)
      }
    }
    Row.fromSeq(vals)
  }

  // ------------------------------------------------------- geometry codec

  /** Base shape classes by FGDB/shapefile type number: concrete Z/M
    * variants map to their XY class; the general types (50-54) carry
    * their Z/M presence in the type varuint's high bits instead.
    */
  private def baseClassOf(t: Int): Int = t match {
    case 1 | 9 | 11 | 21 | 52 => 1 // point / pointZ(M) / pointM
    case 8 | 18 | 20 | 28 | 54 => 8 // multipoint family
    case 3 | 10 | 13 | 23 | 50 => 3 // polyline family
    case 5 | 15 | 19 | 25 | 51 => 5 // polygon family
    case other => other
  }

  private def decodeShape(blob: Array[Byte], m: GeomMeta): Geometry = {
    if (blob.isEmpty) return null
    val c = new Cur(blob, 0)
    val tv = c.varuint()
    val rawType = (tv & 0xff).toInt
    // general types flag Z/M in the varuint's high bits (GDAL semantics);
    // concrete typed variants imply them from the type number
    val hasZ = (tv & 0x80000000L) != 0 ||
      Set(9, 10, 11, 13, 15, 18, 19, 20).contains(rawType)
    val hasM = (tv & 0x40000000L) != 0 ||
      Set(11, 13, 15, 18, 21, 23, 25, 28).contains(rawType)
    // the curves bit changes the stream layout (a curve-segment block
    // follows the points) — decoding the point stream as-if-straight
    // would yield silently wrong coordinates, so fail loudly by name
    require((tv & 0x20000000L) == 0,
      s"gdb: shape type $rawType carries true-curve segments " +
        "(bit 0x20000000) — curves are not supported; densify the " +
        "feature class first")
    val stype = baseClassOf(rawType)
    @inline def ix(v: Long): Double = (v - 1).toDouble / m.xyScale + m.xOrigin
    @inline def iy(v: Long): Double = (v - 1).toDouble / m.xyScale + m.yOrigin
    @inline def iz(v: Long): Double = (v - 1).toDouble / m.zScale + m.zOrigin
    stype match {
      case 0 => null // null shape
      case 1 =>
        // a zero x-varuint marks the empty point (values are offset by +1)
        val vx = c.varuint()
        if (vx == 0) Point.empty
        else {
          val p = Point(ix(vx), iy(c.varuint()))
          if (hasZ) Point(p.x, p.y, iz(c.varuint())) else p
        }
      case 8 | 3 | 5 =>
        val nPts = c.varuint().toInt
        if (nPts == 0) return (stype: @unchecked) match {
          case 8 => MultiPoint(Array.empty)
          case 3 => LineString(Array.empty[Double])
          case 5 => Polygon(Array.empty[Array[Double]])
        }
        val nParts = if (stype == 8) 1 else c.varuint().toInt
        // bbox (planning metadata; coordinates re-derive it)
        c.varuint(); c.varuint(); c.varuint(); c.varuint()
        val counts = new Array[Int](nParts)
        var i = 0; var seen = 0
        while (i < nParts - 1) { counts(i) = c.varuint().toInt; seen += counts(i); i += 1 }
        counts(nParts - 1) = nPts - seen
        val parts = Array.tabulate(nParts)(p => new Array[Double](counts(p) * 2))
        var xi = 0L; var yi = 0L
        var p = 0
        while (p < nParts) {
          var j = 0
          while (j < counts(p)) {
            xi += c.svarint(); yi += c.svarint()
            parts(p)(2 * j) = xi.toDouble / m.xyScale + m.xOrigin
            parts(p)(2 * j + 1) = yi.toDouble / m.xyScale + m.yOrigin
            j += 1
          }
          p += 1
        }
        // the z block follows all xy deltas (one cumulative delta per
        // point, part order); m follows z and is dropped — the geometry
        // model carries z on points/linestrings only, like the rest of
        // this engine (polygon z is dropped the same way WKB ingest does)
        val zs: Array[Double] =
          if (!hasZ) null
          else {
            val out = new Array[Double](nPts)
            var zi = 0L
            var q = 0
            while (q < nPts) { zi += c.svarint(); out(q) = zi.toDouble / m.zScale + m.zOrigin; q += 1 }
            out
          }
        stype match {
          case 8 =>
            val pts = parts(0)
            MultiPoint(Array.tabulate(nPts)(q =>
              if (zs != null) Point(pts(2 * q), pts(2 * q + 1), zs(q))
              else Point(pts(2 * q), pts(2 * q + 1))))
          case 3 =>
            if (nParts == 1) LineString(parts(0), zs)
            else {
              var base = 0
              MultiLineString(parts.map { xy =>
                val n = xy.length / 2
                val pz = if (zs == null) null
                  else java.util.Arrays.copyOfRange(zs, base, base + n)
                base += n
                LineString(xy, pz)
              })
            }
          case 5 => ShapefileIO.assemblePolygons(parts)
        }
      case other => throw new IllegalArgumentException(
        s"gdb: unsupported shape type $other (point/multipoint/polyline/" +
          "polygon families incl. Z/M are supported; curves/multipatch are not)")
    }
  }

  private def encodeShape(g: Geometry, m: GeomMeta): Array[Byte] = {
    val b = new Buf
    @inline def qx(x: Double): Long = (( x - m.xOrigin) * m.xyScale).round
    @inline def qy(y: Double): Long = ((y - m.yOrigin) * m.xyScale).round
    @inline def qz(z: Double): Long = ((z - m.zOrigin) * m.zScale).round
    // zs: one z per point across all parts, or null for an XY shape
    def multi(stype: Int, parts: Seq[Array[Double]], zs: Array[Double]): Unit = {
      val nPts = parts.map(_.length / 2).sum
      b.varuint(stype)
      b.varuint(nPts)
      if (nPts == 0) return
      if (baseClassOf(stype) != 8) b.varuint(parts.length)
      var xmin = Double.MaxValue; var ymin = Double.MaxValue
      var xmax = Double.MinValue; var ymax = Double.MinValue
      parts.foreach { a =>
        var i = 0
        while (i < a.length / 2) {
          xmin = math.min(xmin, a(2 * i)); xmax = math.max(xmax, a(2 * i))
          ymin = math.min(ymin, a(2 * i + 1)); ymax = math.max(ymax, a(2 * i + 1))
          i += 1
        }
      }
      b.varuint(qx(xmin)); b.varuint(qy(ymin))
      b.varuint(((xmax - xmin) * m.xyScale).round)
      b.varuint(((ymax - ymin) * m.xyScale).round)
      (0 until parts.length - 1).foreach(i => b.varuint(parts(i).length / 2))
      var xi = 0L; var yi = 0L
      parts.foreach { a =>
        var i = 0
        while (i < a.length / 2) {
          val nx = qx(a(2 * i)); val ny = qy(a(2 * i + 1))
          b.svarint(nx - xi); b.svarint(ny - yi)
          xi = nx; yi = ny
          i += 1
        }
      }
      if (zs != null) {
        var zi = 0L
        zs.foreach { z => val nz = qz(z); b.svarint(nz - zi); zi = nz }
      }
    }
    def zsOf(lines: Seq[LineString]): Array[Double] =
      if (lines.forall(_.zs == null)) null
      else lines.toArray.flatMap(l =>
        if (l.zs != null) l.zs else new Array[Double](l.xy.length / 2))
    g match {
      case p: Point =>
        if (p.isEmpty) { b.varuint(1); b.varuint(0); b.varuint(0) }
        else if (p.z.isNaN) {
          b.varuint(1); b.varuint(qx(p.x) + 1); b.varuint(qy(p.y) + 1)
        } else {
          b.varuint(11) // pointZ (classic ESRI shape-type code)
          b.varuint(qx(p.x) + 1); b.varuint(qy(p.y) + 1); b.varuint(qz(p.z) + 1)
        }
      case mp: MultiPoint =>
        val anyZ = mp.pts.exists(!_.z.isNaN)
        multi(if (anyZ) 18 else 8, // multipointZ
          Seq(mp.pts.flatMap(p => Array(p.x, p.y))),
          if (anyZ) mp.pts.map(p => if (p.z.isNaN) 0.0 else p.z) else null)
      case l: LineString =>
        multi(if (l.zs != null) 13 else 3, Seq(l.xy), l.zs) // 13 = polylineZ
      case ml: MultiLineString =>
        val zs = zsOf(ml.lines.toSeq)
        multi(if (zs != null) 13 else 3, ml.lines.map(_.xy).toSeq, zs)
      case p: Polygon => multi(5, ShapefileIO.windPolygon(p), null)
      case mp: MultiPolygon =>
        multi(5, mp.polys.toSeq.flatMap(ShapefileIO.windPolygon), null)
      case other => throw new IllegalArgumentException(
        s"gdb: cannot encode ${other.getClass.getSimpleName}")
    }
    b.toBytes
  }

  // ------------------------------------------------------------------ read

  private def fileFor(dir: Path, idx: Long): Path =
    new Path(dir, f"a$idx%08x.gdbtable")

  /** Table names in the catalog, keyed by file number (catalog row id). */
  private[io] def catalog(conf: org.apache.hadoop.conf.Configuration,
      gdbDir: String): Seq[(Long, String)] = {
    val dir = new Path(gdbDir)
    val rows = readTableLocal(conf, fileFor(dir, 1).toString)
    rows.flatMap { r =>
      val oid = r.getLong(0)
      Option(r.get(1)).map(n => oid -> n.toString)
    }
  }

  private def xmlEsc(s: String): String = s.flatMap {
    case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
    case '\'' => "&apos;"; case '"' => "&quot;"; case c => c.toString
  }

  /** Enumerate layers the way GDAL's OpenFileGDB driver does: from the
    * GDB_Items table's (file 4) Definition XML — root element
    * `DEFeatureClassInfo` / `DETableInfo`, `<Name>` child — with names
    * mapped to file numbers through the catalog. This is the
    * interchange-facing discovery route: a written gdb whose layers do
    * NOT surface here would be invisible to GDAL-family readers even
    * when this library's own catalog route finds them (no GDAL in this
    * container — this is the closest in-container stand-in for an
    * external OpenFileGDB read). Returns (name, tablePath,
    * isFeatureClass); fails loudly on a pre-v10 gdb with no GDB_Items.
    */
  private[io] def layersFromItems(conf: org.apache.hadoop.conf.Configuration,
      gdbDir: String): Seq[(String, String, Boolean)] = {
    val dir = new Path(gdbDir)
    val itemsPath = fileFor(dir, 4)
    require(itemsPath.getFileSystem(conf).exists(itemsPath),
      s"gdb: $gdbDir has no GDB_Items table (file 4) — layer discovery " +
        "via Items needs a v10 geodatabase")
    val meta = parseTable(readFully(conf, itemsPath))
    val defIdx = meta.fields.indexWhere(_.name.equalsIgnoreCase("Definition"))
    require(defIdx >= 0, s"gdb: GDB_Items in $gdbDir has no Definition field")
    // secure XML parse: GDB_Items content is external input — no DTDs,
    // no external entities
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    dbf.setXIncludeAware(false)
    dbf.setExpandEntityReferences(false)
    // one builder, reset between rows — real gdbs register MANY items
    // (domains, folders, relationships), not just layers
    val db = dbf.newDocumentBuilder()
    val cat = catalog(conf, gdbDir)
    readTableLocal(conf, itemsPath.toString).flatMap { r =>
      Option(r.get(defIdx)).map(_.toString).filter(_.nonEmpty).flatMap { xml =>
        db.reset()
        val doc = try db.parse(
          new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
        catch { case e: org.xml.sax.SAXException =>
          throw new IllegalArgumentException(
            s"gdb: malformed GDB_Items Definition XML in $gdbDir: " +
              e.getMessage, e)
        }
        val tag = doc.getDocumentElement.getNodeName
        val isFc = tag == "DEFeatureClassInfo"
        if (!isFc && tag != "DETableInfo") None
        else {
          // the dataset name is the Definition ROOT's direct <Name> child;
          // a descendant scan (getElementsByTagName) would pick up nested
          // <Name> elements ArcGIS writes first in document order (field
          // definitions, controller memberships) and resolve the item to
          // the wrong table (r16 ADVICE #2)
          val kids = doc.getDocumentElement.getChildNodes
          var name: String = null
          var ki = 0
          while (ki < kids.getLength && name == null) {
            val c = kids.item(ki)
            if (c.getNodeType == org.w3c.dom.Node.ELEMENT_NODE &&
              c.getNodeName == "Name") name = c.getTextContent
            ki += 1
          }
          require(name != null,
            s"gdb: $tag item without a direct <Name> child in $gdbDir")
          val fileNo = cat.find(_._2.equalsIgnoreCase(name)).map(_._1)
            .getOrElse(throw new IllegalArgumentException(
              s"gdb: GDB_Items registers '$name' but the catalog has no " +
                s"such table (have: ${cat.map(_._2).mkString(", ")})"))
          Some((name, fileFor(dir, fileNo).toString, isFc))
        }
      }
    }
  }

  /** Public layer listing. `viaItems = true` (default where file 4
    * exists) discovers layers through [[layersFromItems]] — the
    * GDAL-compatible route; otherwise falls back to catalog-name
    * filtering (pre-v10 or minimal gdbs). Returns (name,
    * isFeatureClass).
    */
  def listLayers(spark: SparkSession, path: String): Seq[(String, Boolean)] = {
    val conf = spark.sessionState.newHadoopConf()
    val itemsPath = fileFor(new Path(path), 4)
    if (itemsPath.getFileSystem(conf).exists(itemsPath))
      layersFromItems(conf, path).map { case (n, _, fc) => (n, fc) }
    else
      // pre-v10 fallback: feature-class-ness comes from the table's own
      // field section (a geometry field present), matching what the
      // Items route reports. A missing/truncated table file must not
      // abort the LISTING — the catalog says the layer exists, so it is
      // listed with the pre-v10 common-case default (feature class) and
      // the defect surfaces when the layer is actually read. Only
      // IO/format failures take that path; anything else is a real bug
      // and propagates.
      catalog(conf, path).collect {
        case (no, n) if !n.toUpperCase.startsWith("GDB_") =>
          val fc =
            try tableMetaOf(conf, fileFor(new Path(path), no).toString)
              .geom.isDefined
            catch {
              // logged, not silent (r16 ADVICE #4): a corrupt table listed
              // under the feature-class default should be visible at
              // LISTING time, not only when the layer is read
              case e @ (_: java.io.IOException | _: IllegalArgumentException) =>
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"gdb: could not classify layer '$n' in $path " +
                    s"(listing it as a feature class; reading it will " +
                    s"surface the defect): ${e.getMessage}")
                true
            }
          (n, fc)
      }
  }

  /** Whole-table single-process read (catalog-sized tables only). */
  private def readTableLocal(conf: org.apache.hadoop.conf.Configuration,
      tablePath: String): Seq[Row] = {
    val bytes = readFully(conf, new Path(tablePath))
    val meta = parseTable(bytes)
    val tablx = readFully(conf,
      new Path(tablePath.stripSuffix(".gdbtable") + ".gdbtablx"))
    val tc = new Cur(tablx, 0)
    require(tc.i32() == 3, "gdb: bad .gdbtablx magic")
    val blocks1 = tc.i32(); val nRows = tc.i32(); val width = tc.i32()
    require(blocks1.toLong * 1024 >= nRows,
      s"gdb: sparse .gdbtablx ($blocks1 blocks for $nRows rows) is not " +
        "supported — compact the geodatabase first")
    (0 until nRows).flatMap { i =>
      tc.p = 16 + i * width
      var off = 0L; var k = 0
      while (k < width) { off |= (tc.b(tc.p + k) & 0xffL) << (8 * k); k += 1 }
      if (off == 0) None
      else {
        val rc = new Cur(bytes, off.toInt)
        val len = rc.i32()
        Some(parseRow(rc.bytes(len), i + 1L, meta.fields, meta.geom))
      }
    }
  }

  private def readFully(conf: org.apache.hadoop.conf.Configuration,
      p: Path): Array[Byte] = {
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen.toInt
    val out = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, out) finally in.close()
    out
  }

  /** Distributed read of one layer. The driver touches only the catalog,
    * the layer's field section, and the 16-byte tablx header; each task
    * reads its own tablx slice + rows (`chunkSize` rows per task).
    */
  /** Resolve the layer selector to (table path, layer name) through the
    * catalog (case-insensitive; `None` requires a single-layer gdb).
    */
  private[io] def resolveLayer(conf: org.apache.hadoop.conf.Configuration,
      path: String, layer: Option[String]): (String, String) = {
    val dir = new Path(path)
    val layers = catalog(conf, path).filterNot(_._2.toUpperCase.startsWith("GDB_"))
    val (fileNo, name) = layer match {
      case Some(l) => layers.find(_._2.equalsIgnoreCase(l)).getOrElse(
        throw new IllegalArgumentException(
          s"gdb: no layer '$l' in $path (have: ${layers.map(_._2).mkString(", ")})"))
      case None =>
        require(layers.size == 1,
          s"gdb has ${layers.size} layers (${layers.map(_._2).mkString(", ")}) — pass layer=")
        layers.head
    }
    (fileFor(dir, fileNo).toString, name)
  }

  /** Driver-side table metadata: the 40-byte header, then the field
    * section wherever the header points (third-party writers may relocate
    * it past the rows — never assume it sits at offset 40).
    */
  private[io] def tableMetaOf(conf: org.apache.hadoop.conf.Configuration,
      tablePath: String): TableMeta = {
    val tp = new Path(tablePath)
    val fs = tp.getFileSystem(conf)
    val fileLen = fs.getFileStatus(tp).getLen
    val in = fs.open(tp)
    try {
      val hdr = new Array[Byte](40)
      in.readFully(0, hdr)
      val hc = new Cur(hdr, 32)
      val fieldOff = hc.i64()
      require(fieldOff >= 40 && fieldOff < fileLen,
        s"gdb: field-section offset $fieldOff out of range in $tablePath")
      val secLenB = new Array[Byte](4)
      in.readFully(fieldOff, secLenB)
      val secLen = new Cur(secLenB, 0).i32()
      require(secLen > 0 && fieldOff + 4 + secLen <= fileLen,
        s"gdb: field-section length $secLen out of range in $tablePath")
      val sec = new Array[Byte](secLen)
      in.readFully(fieldOff + 4, sec)
      // splice header + section into the layout parseTable expects
      val synth = new Buf
      synth.bytes(hdr)
      synth.i32(secLen); synth.bytes(sec)
      val patched = synth.toBytes
      // point the spliced header's field offset at the spliced section
      val off = new Buf; off.i64(40L)
      System.arraycopy(off.toBytes, 0, patched, 32, 8)
      parseTable(patched)
    } finally in.close()
  }

  /** `.gdbtablx` header → (row slots incl. deleted, offset entry width).
    * Refuses sparse tablx files loudly: they omit absent 1024-row blocks
    * and record them in a trailer bitmap this reader does not consume —
    * reading one as dense would silently attribute rows to wrong OIDs.
    */
  private[io] def tablxHeaderOf(conf: org.apache.hadoop.conf.Configuration,
      tablxPath: String): (Int, Int) = {
    val tp = new Path(tablxPath)
    val th = new Array[Byte](16)
    val tin = tp.getFileSystem(conf).open(tp)
    try tin.readFully(0, th) finally tin.close()
    val thc = new Cur(th, 0)
    require(thc.i32() == 3, "gdb: bad .gdbtablx magic")
    val nBlocks = thc.i32(); val slots = thc.i32(); val width = thc.i32()
    require(nBlocks.toLong * 1024 >= slots,
      s"gdb: sparse .gdbtablx ($nBlocks blocks for $slots row slots) is " +
        "not supported — compact the geodatabase first")
    (slots, width)
  }

  private[io] def sparkSchemaOf(meta: TableMeta,
      geometryColumn: String): StructType =
    StructType(meta.fields.map { f =>
      val n = if (f.ftype == T_GEOMETRY) geometryColumn else f.name
      StructField(n, sparkTypeOf(f), nullable = f.ftype != T_OID)
    })

  /** Read one chunk of rows task-side. Live offsets ascend in every known
    * writer's layout, so the chunk reads as one seek + a buffered
    * sequential stream (2 positioned reads PER ROW was the exact syscall
    * pathology the r13 FlatGeobuf soak measured at 17x; same fix here);
    * non-ascending offsets (heavily edited gdbs) fall back to positioned
    * reads per row. `want` masks per-field decode (null =
    * all): unwanted values are SKIPPED at the byte level — variable-width
    * fields advance by their length only, and the geometry decode is
    * bypassed entirely on attribute-only scans.
    */
  private[io] def readChunkRows(conf: org.apache.hadoop.conf.Configuration,
      tablePath: String, tablxPath: String, start: Int, n: Int, width: Int,
      fields: IndexedSeq[GdbField], geom: Option[GeomMeta],
      want: Array[Boolean] = null): scala.collection.mutable.ArrayBuffer[Row] = {
    val tp = new Path(tablePath)
    val tfs = tp.getFileSystem(conf)
    val idx = new Array[Byte](n * width)
    val ixIn = tfs.open(new Path(tablxPath))
    try ixIn.readFully(16L + start.toLong * width, idx) finally ixIn.close()
    val offs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var off = 0L; var k = 0
      while (k < width) { off |= (idx(i * width + k) & 0xffL) << (8 * k); k += 1 }
      offs(i) = off
      i += 1
    }
    val ascending = {
      var last = 0L; var asc = true
      offs.foreach { o => if (o != 0) { if (o < last) asc = false; last = o } }
      asc
    }
    val dataIn = tfs.open(tp)
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    try {
      val firstOff = offs.find(_ != 0)
      val seq = if (ascending && firstOff.isDefined) {
        dataIn.seek(firstOff.get)
        new java.io.DataInputStream(
          new java.io.BufferedInputStream(dataIn, 1 << 16))
      } else null
      // logical stream position, tracked here — the underlying
      // stream's getPos reflects BufferedInputStream readahead
      var pos = firstOff.getOrElse(0L)
      var j = 0
      while (j < n) {
        val off = offs(j)
        if (off != 0) {
          if (seq != null) {
            // skip any gap (deleted rows leave holes)
            var gap = off - pos
            while (gap > 0) { val s = seq.skip(gap); require(s > 0, "gdb: truncated table"); gap -= s }
            val len = {
              val b0 = seq.read(); val b1 = seq.read()
              val b2 = seq.read(); val b3 = seq.read()
              require(b3 >= 0, "gdb: truncated row length")
              (b0 & 0xff) | ((b1 & 0xff) << 8) | ((b2 & 0xff) << 16) | ((b3 & 0xff) << 24)
            }
            val blob = new Array[Byte](len)
            seq.readFully(blob)
            pos = off + 4 + len
            out += parseRow(blob, start + j + 1L, fields, geom, want)
          } else {
            val lenB = new Array[Byte](4)
            dataIn.readFully(off, lenB)
            val len = (lenB(0) & 0xff) | ((lenB(1) & 0xff) << 8) |
              ((lenB(2) & 0xff) << 16) | ((lenB(3) & 0xff) << 24)
            val blob = new Array[Byte](len)
            dataIn.readFully(off + 4, blob)
            out += parseRow(blob, start + j + 1L, fields, geom, want)
          }
        }
        j += 1
      }
    } catch {
      case e: java.io.EOFException =>
        // corrupt/truncated table: name the file instead of surfacing a
        // bare EOFException from a task
        throw new IllegalArgumentException(
          s"gdb: truncated .gdbtable at $tablePath (row bytes past EOF)", e)
    } finally dataIn.close()
    out
  }

  // ------------------------------------------- chunk-envelope index

  /** Rows per envelope block in the `.gspx` sidecar / lazy index. */
  private[io] val EnvBlockRows = 4096

  private[io] def envSidecarPath(tablePath: String): String =
    tablePath.stripSuffix(".gdbtable") + ".gspx"

  /** envIndex mode for windowed reads: `auto` (default — consume the
    * `.gspx` sidecar this library's writer stamps; for third-party gdbs
    * without one, compute block envelopes ONCE per file identity with a
    * distributed geometry-bounds pass and memoize in-JVM), `sidecar`
    * (sidecar only, never compute), `off`.
    */
  private[io] def envIndexMode(spark: SparkSession): String =
    spark.conf.get("spark.graft.gdb.envIndex", "auto")

  private val envIdxMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** Per-block ([[EnvBlockRows]] rows) geometry envelopes
    * (minX,minY,maxX,maxY per block; NaN-filled = no geometry in block),
    * or null when unavailable. This is the FileGDB answer to the gpkg
    * R*-tree / fgb packed index: the profile's `.spx` grid b-tree is not
    * parsed, but a windowed read of a big layer no longer scans every
    * chunk — candidate chunks come from block envelopes, the exact
    * per-row residual stays task-side (a stale sidecar older than the
    * table is ignored, so pruning can never drop rows).
    */
  private[io] def envIndexFor(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration, tablePath: String,
      tablxPath: String, slots: Int, width: Int,
      meta: TableMeta): Array[Double] = {
    val mode = envIndexMode(spark)
    if (mode == "off" || meta.geom.isEmpty || slots == 0) return null
    val tp = new Path(tablePath)
    val fs = tp.getFileSystem(conf)
    val st = fs.getFileStatus(tp)
    // identity covers BOTH files: a re-pointed .gdbtablx (edited offsets)
    // changes which content sits in a row slot, staling block envelopes
    // just as surely as a rewritten .gdbtable
    val stx = fs.getFileStatus(new Path(tablxPath))
    val key = tablePath + "#" + st.getModificationTime + "#" + st.getLen +
      "#" + stx.getModificationTime + "#" + stx.getLen
    val hit = envIdxMemo.get(key)
    if (hit != null) return hit
    val nBlocks = (slots + EnvBlockRows - 1) / EnvBlockRows
    val newest = math.max(st.getModificationTime, stx.getModificationTime)
    val sidecar = new Path(envSidecarPath(tablePath))
    val fromSidecar: Array[Double] =
      if (!fs.exists(sidecar)) null
      else {
        val bytes = readFully(conf, sidecar)
        val c = new Cur(bytes, 0)
        if (bytes.length < 16 || c.i32() != 0x58505347) null // "GSPX" LE
        else {
          val ver = c.i32(); val blockRows = c.i32(); val n = c.i32()
          val hdrLen = if (ver == 2) 48 else 16
          // payload-length check: a truncated sidecar (partial dir copy)
          // must fall back to the computed index, not AIOOBE at plan time
          val structOk = (ver == 1 || ver == 2) &&
            blockRows == EnvBlockRows && n == nBlocks &&
            bytes.length >= hdrLen + nBlocks * 32
          val fresh = structOk && {
            if (ver == 2)
              // identity equality with the exact data files the sidecar
              // was built from (this writer stamps them since r16)
              c.i64() == st.getModificationTime && c.i64() == st.getLen &&
                c.i64() == stx.getModificationTime && c.i64() == stx.getLen
            else
              // v1 carries no identity: require the sidecar STRICTLY
              // newer than the newest data file — equal mtimes can hide
              // a same-tick table edit on coarse-mtime filesystems, and
              // stale envelopes could silently prune live rows
              fs.getFileStatus(sidecar).getModificationTime > newest
          }
          if (!fresh) null
          else {
            c.p = hdrLen
            val arr = new Array[Double](nBlocks * 4)
            var i = 0
            while (i < arr.length) { arr(i) = c.f64(); i += 1 }
            arr
          }
        }
      }
    val idx =
      if (fromSidecar != null) fromSidecar
      else if (mode == "sidecar") null
      else computeEnvIndex(spark, conf, tablePath, tablxPath, slots, width, meta)
    if (idx != null) {
      // a rewritten table mints a new mtime/len key — drop superseded
      // entries for the same path so the memo can't fill with corpses;
      // if it still saturates (256 distinct live files) reset rather
      // than silently stop caching (which would rerun the distributed
      // build on EVERY windowed read thereafter)
      val it = envIdxMemo.keySet.iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k != key && k.startsWith(tablePath + "#")) it.remove()
      }
      if (envIdxMemo.size >= 256) envIdxMemo.clear()
      envIdxMemo.put(key, idx)
    }
    idx
  }

  /** One distributed geometry-bounds pass (byte-masked decode: only the
    * shape field materializes) — the once-per-file cost that makes every
    * later windowed read of a third-party gdb chunk-pruned. 16 blocks
    * (64k rows) per task.
    */
  private def computeEnvIndex(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration, tablePath: String,
      tablxPath: String, slots: Int, width: Int,
      meta: TableMeta): Array[Double] = {
    val nBlocks = (slots + EnvBlockRows - 1) / EnvBlockRows
    val gi = meta.fields.indexWhere(_.ftype == T_GEOMETRY)
    if (gi < 0) return null
    val want = meta.fields.indices.map(_ == gi).toArray
    val sconf = new GeoParquetIO.SerializableConf(conf)
    val taskBlocks = (0 until nBlocks).grouped(16).toSeq
    val fieldsB = meta.fields; val geomB = meta.geom
    val slotsB = slots; val widthB = width
    val tpB = tablePath; val txB = tablxPath; val giB = gi
    val parts = spark.sparkContext
      .parallelize(taskBlocks, math.max(1, taskBlocks.size))
      .flatMap { blocks =>
        blocks.iterator.map { b =>
          val start = b * EnvBlockRows
          val n = math.min(EnvBlockRows, slotsB - start)
          val rows = readChunkRows(sconf.value, tpB, txB, start, n, widthB,
            fieldsB, geomB, want = want)
          val acc = Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
          rows.foreach { r =>
            val w = r.get(giB).asInstanceOf[Array[Byte]]
            if (w != null) {
              val e = graft.geom.Wkb.envelopeOf(w)
              if (!e.isEmpty) {
                if (acc(0).isNaN || e.minX < acc(0)) acc(0) = e.minX
                if (acc(1).isNaN || e.minY < acc(1)) acc(1) = e.minY
                if (acc(2).isNaN || e.maxX > acc(2)) acc(2) = e.maxX
                if (acc(3).isNaN || e.maxY > acc(3)) acc(3) = e.maxY
              }
            }
          }
          (b, acc)
        }
      }.collect()
    val arr = Array.fill(nBlocks * 4)(Double.NaN)
    parts.foreach { case (b, e) => System.arraycopy(e, 0, arr, b * 4, 4) }
    arr
  }

  /** Does any [[EnvBlockRows]] block overlapping rows [start, start+n)
    * intersect the query window? NaN blocks (no geometry) never match —
    * safe, because the bbox residual drops null/empty geometries anyway.
    */
  private[io] def chunkIntersectsEnv(envIdx: Array[Double], start: Int,
      n: Int, qx0: Double, qy0: Double, qx1: Double, qy1: Double): Boolean = {
    var b = start / EnvBlockRows
    val bEnd = (start + n - 1) / EnvBlockRows
    while (b <= bEnd) {
      val o = b * 4
      if (o + 3 >= envIdx.length) return true // defensive: unindexed tail
      if (!envIdx(o).isNaN &&
          envIdx(o) <= qx1 && envIdx(o + 2) >= qx0 &&
          envIdx(o + 1) <= qy1 && envIdx(o + 3) >= qy0) return true
      b += 1
    }
    false
  }

  /** Opt-in for whole-layer pruning on the descriptor extent: a
    * third-party writer that appended features without refreshing the
    * layer envelope would make extent pruning silently DROP rows, so by
    * default a bbox read scans everything and relies on the exact
    * per-row residual (always correct). Files written by this library
    * maintain the extent; set spark.graft.gdb.pruneOnExtent=true to
    * skip disjoint layers with zero tasks.
    */
  private[io] def pruneOnExtent(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.gdb.pruneOnExtent", "false").toBoolean

  /** Does the query window intersect the layer's descriptor extent? An
    * empty/unset extent never prunes.
    */
  private[io] def extentIntersects(meta: TableMeta,
      bbox: Option[(Double, Double, Double, Double)]): Boolean =
    !bbox.exists { case (qx0, qy0, qx1, qy1) =>
      meta.geom.exists { g =>
        !g.extent.isEmpty && !(g.extent.minX <= qx1 && g.extent.maxX >= qx0 &&
          g.extent.minY <= qy1 && g.extent.maxY >= qy0)
      }
    }

  def read(spark: SparkSession, path: String, layer: Option[String] = None,
      chunkSize: Int = 65536,
      geometryColumn: String = "geometry",
      bbox: Option[(Double, Double, Double, Double)] = None): GeoDataFrame = {
    graft.sql.functions.install(spark)
    val conf = spark.sessionState.newHadoopConf()
    val (tablePath, name) = resolveLayer(conf, path, layer)
    val meta = tableMetaOf(conf, tablePath)
    val tablxPath = tablePath.stripSuffix(".gdbtable") + ".gdbtablx"
    val (slots, width) = tablxHeaderOf(conf, tablxPath)
    val schema = sparkSchemaOf(meta, geometryColumn)
    val sconf = new GeoParquetIO.SerializableConf(conf)
    val fieldsB = meta.fields
    val geomB = meta.geom
    // bbox: chunks prune through the block-envelope index (the .gspx
    // sidecar stamped at write, or one lazily computed pass for
    // third-party gdbs — envIndexFor); with spark.graft.gdb.pruneOnExtent
    // the descriptor's layer extent additionally prunes the WHOLE layer.
    // Rows always apply the exact envelope-intersects residual task-side,
    // so pruning off is merely slower, never wrong.
    val geomFieldIdx = meta.fields.indexWhere(_.ftype == T_GEOMETRY)
    val envIdx: Array[Double] =
      if (bbox.isDefined && geomFieldIdx >= 0)
        envIndexFor(spark, conf, tablePath, tablxPath, slots, width, meta)
      else null
    val chunks =
      if (pruneOnExtent(spark) && !extentIntersects(meta, bbox)) Seq.empty
      else {
        val all = (0 until slots by chunkSize)
          .map(s => (s, math.min(chunkSize, slots - s)))
        (bbox, Option(envIdx)) match {
          case (Some((qx0, qy0, qx1, qy1)), Some(ei)) =>
            all.filter { case (s0, n) =>
              chunkIntersectsEnv(ei, s0, n, qx0, qy0, qx1, qy1) }
          case _ => all
        }
      }
    val tablePathB = tablePath; val tablxPathB = tablxPath; val widthB = width
    val rows = spark.sparkContext
      .parallelize(chunks, math.max(1, chunks.size))
      .flatMap { case (start, n) =>
        readChunkRows(sconf.value, tablePathB, tablxPathB, start, n, widthB,
          fieldsB, geomB)
      }
    val filtered = (bbox, geomFieldIdx) match {
      case (Some((qx0, qy0, qx1, qy1)), gi) if gi >= 0 => rows.filter { r =>
        val w = r.get(gi).asInstanceOf[Array[Byte]]
        w != null && {
          val e = graft.geom.Wkb.envelopeOf(w)
          !e.isEmpty && e.minX <= qx1 && e.maxX >= qx0 &&
            e.minY <= qy1 && e.maxY >= qy0
        }
      }
      case _ => rows
    }
    val df = spark.createDataFrame(filtered, schema)
    val crs = meta.geom.map(_.srs).filter(_.nonEmpty).flatMap { s =>
      if (s.startsWith("{")) graft.sql.WktCrs.parseProjJson(s)
      else if (s.contains("[")) graft.sql.WktCrs.parse(s)
      else Some(s)
    }
    val g = GeoDataFrame(df, geometryColumn)
    crs.map(g.setCrs).getOrElse(g)
  }

  // ----------------------------------------------------------------- write

  /** Write `df` as a one-layer `.gdb`. Coalesced to ONE task (global
    * catalog + single data file per table — see scaladoc); the task
    * builds both tables in memory, so this is an interchange egress for
    * results that fit a task, not a bulk sink.
    *
    * ==Coordinate quantization contract==
    * Like every FileGDB writer, coordinates are stored quantized:
    * `q = round((v − origin) · xyScale)` with decode `q / xyScale +
    * origin` (the ESRI spatial-domain scheme). This library snaps each
    * layer's origin to `floor(min corner) − 1` — an integer-valued,
    * hence exactly representable, double — so the guaranteed roundtrip
    * bound is
    *
    *   |decode(v) − v| ≤ 0.5 / xyScale + 2 ulp(v − origin)
    *
    * i.e. ~5e-10 at the default `xyScale = 1e9` for coordinates within
    * ~1e6 of the origin. Values that are themselves exact doubles on a
    * grid coarser than `1/xyScale` (integers, 2-decimal fixed-point…)
    * roundtrip BIT-EXACTLY when `v − origin` stays below 2^53/xyScale.
    * Consumers filtering roundtripped coordinates at exact boundary
    * values should still widen predicates off the data grid by more
    * than `1/xyScale` (see `FileGdbQuantizationSpec`, which measures
    * the realized error and exercises exact-boundary coordinates).
    * Attribute doubles are stored as raw IEEE-754 bits — no
    * quantization.
    */
  def write(df: DataFrame, path: String, geomCol: String = "geometry",
      layerName: String = "layer1", crs: Option[String] = None,
      xyScale: Double = 1e9): Unit = {
    val schema = df.schema
    val geomIdx = schema.fieldIndex(geomCol)
    val spark = df.sparkSession
    val conf = new GeoParquetIO.SerializableConf(spark.sessionState.newHadoopConf())
    val srsText = crs.map(c => graft.sql.WktCrs.toWkt(c).getOrElse(c)).getOrElse("")
    val lname = layerName
    val rdd = df.coalesce(1).queryExecution.toRdd
    if (rdd.getNumPartitions == 0) {
      // a plan with zero partitions never runs a task — write the valid
      // empty one-layer gdb from the driver instead of silently nothing
      writeGdb(conf.value, path, lname, schema, geomIdx,
        IndexedSeq.empty, srsText, xyScale)
      return
    }
    rdd.mapPartitions { it =>
        val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
          .encoderFor(schema)
        val de = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(enc)
          .resolveAndBind().createDeserializer()
        val rows = it.map(ir => de(ir.copy())).toIndexedSeq
        writeGdb(conf.value, path, lname, schema, geomIdx, rows, srsText, xyScale)
        Iterator.empty
      }.count()
  }

  private def gdbFieldOf(f: StructField, geomIdx: Int, idx: Int): GdbField =
    if (idx == geomIdx) GdbField("SHAPE", T_GEOMETRY, nullable = true)
    else f.dataType match {
      case ShortType => GdbField(f.name, T_INT16, nullable = true)
      case IntegerType | LongType | BooleanType => GdbField(f.name, T_INT32, nullable = true)
      case FloatType => GdbField(f.name, T_FLOAT32, nullable = true)
      case DoubleType => GdbField(f.name, T_FLOAT64, nullable = true)
      case StringType => GdbField(f.name, T_STRING, nullable = true)
      case TimestampType => GdbField(f.name, T_DATETIME, nullable = true)
      case BinaryType => GdbField(f.name, T_BINARY, nullable = true)
      case other => throw new IllegalArgumentException(
        s"gdb: unsupported column type $other for '${f.name}'")
    }

  private def writeGdb(conf: org.apache.hadoop.conf.Configuration,
      path: String, layerName: String, schema: StructType, geomIdx: Int,
      rows: IndexedSeq[Row], srsText: String, xyScale: Double): Unit =
    writeGdbTables(conf, path,
      Seq((layerName, schema, geomIdx, () => rows, srsText)), xyScale)

  /** Write `layers` as files 5..N+4 plus the v10 system skeleton and the
    * catalog (file 1; row oid == table file number). Each layer carries
    * its OWN srs text (gdb feature classes have independent spatial
    * references) and its quantization origin derives from its own
    * extent.
    */
  private def writeGdbTables(conf: org.apache.hadoop.conf.Configuration,
      path: String,
      layers: Seq[(String, StructType, Int, () => IndexedSeq[Row], String)],
      xyScale: Double): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    layers.zipWithIndex.foreach { case ((_, schema, geomIdx, rowsF, srsText), li) =>
      // rows materialize HERE, one layer at a time — eager thunks would
      // hold every layer's row set on the driver simultaneously
      val rows = rowsF()
      // quantized coordinates are non-negative offsets from the origin,
      // so the origin must sit at/below the data's min corner (ESRI
      // derives it from the layer's spatial domain the same way; a fixed
      // -400 would corrupt any dataset extending further west/south)
      var minX = -400.0; var minY = -400.0
      rows.foreach { r =>
        val w = r.get(geomIdx).asInstanceOf[Array[Byte]]
        if (w != null) {
          val e = Wkb.envelopeOf(w)
          if (!e.isEmpty) {
            minX = math.min(minX, math.floor(e.minX) - 1.0)
            minY = math.min(minY, math.floor(e.minY) - 1.0)
          }
        }
      }
      val m = GeomMeta(srsText, minX, minY, xyScale, -100000.0, 1e4)
      // layer fields: OBJECTID + the DataFrame columns (geometry -> SHAPE)
      val layerFields = GdbField("OBJECTID", T_OID, nullable = false) +:
        schema.fields.zipWithIndex.map { case (f, i) => gdbFieldOf(f, geomIdx, i) }.toIndexedSeq
      val geomType = 4 // descriptor byte; actual shapes carry their own type
      val layerRows: IndexedSeq[IndexedSeq[Any]] = rows.map { r =>
        null +: (0 until schema.length).map(r.get)
      }
      writeTable(fs, fileFor(dir, li + 5), layerFields, geomType,
        Some(m), layerRows)
    }
    // v10 system skeleton at the standard file numbers: GDB_DBTune (2)
    // and GDB_SpatialRefs (3) empty, GDB_Items (4) registering each
    // feature class. GDAL's OpenFileGDB (the reference's pyogrio read
    // path) enumerates layers from GDB_Items' Definition XML and maps
    // Name -> file number through the catalog — without it a written
    // .gdb is readable only by this library. Item-type GUIDs are the
    // published Esri identifiers for "Feature Class" and "Table".
    writeTable(fs, fileFor(dir, 2),
      IndexedSeq(GdbField("OBJECTID", T_OID, nullable = false),
        GdbField("Keyword", T_STRING, nullable = true),
        GdbField("ParameterName", T_STRING, nullable = true),
        GdbField("ConfigString", T_STRING, nullable = true)),
      0, None, IndexedSeq.empty)
    writeTable(fs, fileFor(dir, 3),
      IndexedSeq(GdbField("OBJECTID", T_OID, nullable = false),
        GdbField("SRTEXT", T_STRING, nullable = true)),
      0, None, IndexedSeq.empty)
    val itemFields = IndexedSeq(
      GdbField("OBJECTID", T_OID, nullable = false),
      GdbField("UUID", T_STRING, nullable = true),
      GdbField("Type", T_STRING, nullable = true),
      GdbField("Name", T_STRING, nullable = true),
      GdbField("PhysicalName", T_STRING, nullable = true),
      GdbField("Path", T_STRING, nullable = true),
      GdbField("Definition", T_XML, nullable = true),
      GdbField("Documentation", T_XML, nullable = true))
    val itemRows = layers.map { case (name, _, geomIdx, _, _) =>
      val isFc = geomIdx >= 0
      val tag = if (isFc) "DEFeatureClassInfo" else "DETableInfo"
      // XML-escape the layer name before splicing it into the Definition
      // document — a name like "a&b" would otherwise produce malformed
      // XML and break the OpenFileGDB-family layer discovery this
      // skeleton exists for
      val xn = xmlEsc(name)
      IndexedSeq[Any](null,
        "{" + java.util.UUID.nameUUIDFromBytes(
          ("graft:" + name).getBytes("UTF-8")).toString.toUpperCase + "}",
        if (isFc) "{70737809-852C-4A03-9E22-2CECEA5B9BFA}"
        else "{CD06BC3B-789D-4C51-AAFA-A467912B8965}",
        name, name.toUpperCase, "\\" + name,
        s"<$tag xmlns:xsi='http://www.w3.org/2001/XMLSchema-instance' " +
          "xsi:type='typens:" + tag + "'>" +
          s"<CatalogPath>\\$xn</CatalogPath><Name>$xn</Name>" +
          (if (isFc) "<ShapeFieldName>SHAPE</ShapeFieldName>" else "") +
          s"</$tag>",
        null)
    }
    writeTable(fs, fileFor(dir, 4), itemFields, 0, None, itemRows.toIndexedSeq)
    val catFields = IndexedSeq(
      GdbField("OBJECTID", T_OID, nullable = false),
      GdbField("Name", T_STRING, nullable = true),
      GdbField("FileFormat", T_INT32, nullable = true))
    val catRows =
      IndexedSeq[Any](null, "GDB_SystemCatalog", 0) +:
      IndexedSeq[Any](null, "GDB_DBTune", 0) +:
      IndexedSeq[Any](null, "GDB_SpatialRefs", 0) +:
      IndexedSeq[Any](null, "GDB_Items", 0) +:
      layers.map { case (name, _, _, _, _) => IndexedSeq[Any](null, name, 0) }
    writeTable(fs, fileFor(dir, 1), catFields, 0, None, catRows.toIndexedSeq)
  }

  /** Multi-layer write (the `to_file(layer=)` shape for a geodatabase
    * holding several feature classes). Rows stream to the DRIVER
    * partition-at-a-time and the driver writes the files — the same
    * single-writer contract as the GeoPackage writer (one catalog, one
    * data file per table has no parallel layout; shard across .gdb
    * datasets to scale out).
    */
  def writeLayers(layers: Seq[(String, DataFrame)], path: String,
      geomCol: String = "geometry", crs: Option[String] = None,
      xyScale: Double = 1e9,
      crsPerLayer: Map[String, String] = Map.empty): Unit = {
    require(layers.nonEmpty, "gdb: writeLayers needs at least one layer")
    require(layers.map(_._1.toLowerCase).distinct.size == layers.size,
      "gdb: duplicate layer names")
    val spark = layers.head._2.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val srsText = crs.map(c => graft.sql.WktCrs.toWkt(c).getOrElse(c)).getOrElse("")
    val resolved = layers.map { case (name, df) =>
      val schema = df.schema
      val gi = schema.fieldIndex(geomCol)
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(schema)
      val de = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(enc)
        .resolveAndBind().createDeserializer()
      // deserialization DEFERRED: writeGdbTables calls the thunk per
      // layer, so driver peak memory is the largest single layer, not
      // the sum of all layers
      val rows = () => df.queryExecution.toRdd.toLocalIterator
        .map(ir => de(ir.copy())).toIndexedSeq
      val srs = crsPerLayer.get(name)
        .map(c => graft.sql.WktCrs.toWkt(c).getOrElse(c))
        .getOrElse(srsText)
      (name, schema, gi, rows, srs)
    }
    writeGdbTables(conf, path, resolved, xyScale)
  }

  private def writeTable(fs: org.apache.hadoop.fs.FileSystem, table: Path,
      fields: IndexedSeq[GdbField], geomType: Int, geom: Option[GeomMeta],
      rows: IndexedSeq[IndexedSeq[Any]]): Unit = {
    // rows first (the field section carries the layer extent); per-row
    // envelopes feed the .gspx block index alongside
    var ext = Envelope.empty
    val rowEnvs = new Array[Envelope](rows.length)
    var rowI = -1
    val rowBlobs = rows.map { vals =>
      rowI += 1
      val b = new Buf
      val nNullable = fields.count(_.nullable)
      val bitmap = new Array[Byte]((nNullable + 7) / 8)
      var nullIdx = 0
      val payload = new Buf
      fields.zipWithIndex.foreach { case (f, i) =>
        val v = vals(i)
        if (f.nullable) {
          if (v == null) bitmap(nullIdx / 8) = (bitmap(nullIdx / 8) | (1 << (nullIdx % 8))).toByte
          nullIdx += 1
        }
        if (v != null) f.ftype match {
          case T_OID => ()
          case T_INT16 => payload.i16(v.asInstanceOf[Short].toInt)
          case T_INT32 => payload.i32(v match {
            case b: Boolean => if (b) 1 else 0
            case n: Int => n
            case n: Long =>
              require(n >= Int.MinValue && n <= Int.MaxValue,
                s"gdb: $n overflows int32 field '${f.name}'")
              n.toInt
          })
          case T_FLOAT32 => payload.f32(v.asInstanceOf[Float])
          case T_FLOAT64 => payload.f64(v.asInstanceOf[Double])
          case T_DATETIME => payload.f64(
            v.asInstanceOf[java.sql.Timestamp].getTime / 86400000.0 + EpochDays)
          case T_STRING | T_XML =>
            val bs = v.toString.getBytes("UTF-8")
            payload.varuint(bs.length); payload.bytes(bs)
          case T_BINARY =>
            val bs = v.asInstanceOf[Array[Byte]]
            payload.varuint(bs.length); payload.bytes(bs)
          case T_GEOMETRY =>
            val g = Wkb.read(v.asInstanceOf[Array[Byte]])
            val e = g.envelope
            if (!e.isEmpty) {
              rowEnvs(rowI) = e
              ext = if (ext.isEmpty) e else Envelope(
                math.min(ext.minX, e.minX), math.min(ext.minY, e.minY),
                math.max(ext.maxX, e.maxX), math.max(ext.maxY, e.maxY))
            }
            val bs = encodeShape(g, geom.get)
            payload.varuint(bs.length); payload.bytes(bs)
        }
      }
      b.bytes(bitmap); b.bytes(payload.toBytes)
      b.toBytes
    }

    // field-description section
    val sec = new Buf
    sec.i32(4) // layer version (FGDB 10)
    sec.u8(geomType); sec.u8(0); sec.u8(0); sec.u8(0)
    sec.i16(fields.length)
    fields.foreach { f =>
      sec.u8(f.name.length); sec.utf16(f.name)
      sec.u8(0) // no alias
      sec.u8(f.ftype)
      f.ftype match {
        case T_OID => sec.u8(4); sec.u8(2)
        case T_INT16 => sec.u8(2); sec.u8(1)
        case T_INT32 => sec.u8(4); sec.u8(1)
        case T_FLOAT32 => sec.u8(4); sec.u8(1)
        case T_FLOAT64 => sec.u8(8); sec.u8(1)
        case T_DATETIME => sec.u8(8); sec.u8(1)
        case T_STRING => sec.i32(65536); sec.u8(1)
        case T_XML => sec.u8(0); sec.u8(1)
        case T_BINARY => sec.u8(0); sec.u8(1)
        case T_GEOMETRY =>
          val m = geom.get
          sec.u8(0); sec.u8(7)
          sec.i16(m.srs.length); sec.utf16(m.srs)
          sec.u8(5) // nullable + has_z (bit1 = has_m, bit2 = has_z):
          // z metadata is always declared; XY shapes simply carry no z
          // payload (the per-shape type number governs the blob)
          sec.f64(m.xOrigin); sec.f64(m.yOrigin); sec.f64(m.xyScale)
          sec.f64(m.zOrigin); sec.f64(m.zScale)
          sec.f64(2.0 / m.xyScale) // xytolerance
          sec.f64(2.0 / m.zScale) // ztolerance
          if (ext.isEmpty) { sec.f64(0); sec.f64(0); sec.f64(0); sec.f64(0) }
          else { sec.f64(ext.minX); sec.f64(ext.minY); sec.f64(ext.maxX); sec.f64(ext.maxY) }
          sec.i32(1); sec.f64(1000.0)
      }
    }
    val secBytes = sec.toBytes

    // assemble .gdbtable: header(40) + [i32 secLen][section] + rows
    val file = new Buf
    file.i32(3); file.i32(rows.length)
    file.i32(4); file.i32(0); file.i32(0); file.i32(0)
    val dataStart = 40 + 4 + secBytes.length
    val totalLen = dataStart + rowBlobs.map(_.length + 4).sum
    file.i64(totalLen); file.i64(40)
    file.i32(secBytes.length); file.bytes(secBytes)
    val offsets = new Array[Long](rows.length)
    var off = dataStart.toLong
    rowBlobs.zipWithIndex.foreach { case (blob, i) =>
      offsets(i) = off
      file.i32(blob.length); file.bytes(blob)
      off += blob.length + 4
    }
    val out = fs.create(table, true)
    try out.write(file.toBytes) finally out.close()

    // .gdbtablx: 5-byte offsets padded to 1024-entry blocks
    val tablx = new Buf
    val nBlocks = math.max(1, (rows.length + 1023) / 1024)
    tablx.i32(3); tablx.i32(nBlocks); tablx.i32(rows.length); tablx.i32(5)
    (0 until nBlocks * 1024).foreach { i =>
      val v = if (i < rows.length) offsets(i) else 0L
      var k = 0
      while (k < 5) { tablx.u8(((v >> (8 * k)) & 0xff).toInt); k += 1 }
    }
    // dense-file trailer: no sparse bitmap
    tablx.i32(0); tablx.i32(nBlocks); tablx.i32(nBlocks); tablx.i32(0)
    val xout = fs.create(new Path(
      table.toString.stripSuffix(".gdbtable") + ".gdbtablx"), true)
    try xout.write(tablx.toBytes) finally xout.close()

    // .gspx block-envelope sidecar (this library's chunk-prune index for
    // windowed reads — see envIndexFor; ESRI/OGR readers enumerate files
    // through the catalog and ignore it)
    if (geom.isDefined) {
      val nEnvBlocks = (rows.length + EnvBlockRows - 1) / EnvBlockRows
      // v2 header embeds the just-written data files' (mtime, length)
      // identity: the reader validates by identity equality instead of
      // mtime ordering, so a same-tick table edit that changes either
      // file's length is caught (v1's ordering check was blind to the
      // whole tick). Honest limit: an in-place edit that preserves BOTH
      // files' lengths within the same mtime tick is still undetectable
      // without hashing file content at plan time — the same limit as
      // every mtime+length stamp in this codebase (metaMemo, envIdxMemo)
      val tSt = fs.getFileStatus(table)
      val xSt = fs.getFileStatus(new Path(
        table.toString.stripSuffix(".gdbtable") + ".gdbtablx"))
      val sx = new Buf
      sx.i32(0x58505347) // "GSPX" LE
      sx.i32(2); sx.i32(EnvBlockRows); sx.i32(nEnvBlocks)
      sx.i64(tSt.getModificationTime); sx.i64(tSt.getLen)
      sx.i64(xSt.getModificationTime); sx.i64(xSt.getLen)
      var b = 0
      while (b < nEnvBlocks) {
        var mnx = Double.NaN; var mny = Double.NaN
        var mxx = Double.NaN; var mxy = Double.NaN
        var i = b * EnvBlockRows
        val end = math.min(rows.length, i + EnvBlockRows)
        while (i < end) {
          val e = rowEnvs(i)
          if (e != null) {
            if (mnx.isNaN || e.minX < mnx) mnx = e.minX
            if (mny.isNaN || e.minY < mny) mny = e.minY
            if (mxx.isNaN || e.maxX > mxx) mxx = e.maxX
            if (mxy.isNaN || e.maxY > mxy) mxy = e.maxY
          }
          i += 1
        }
        sx.f64(mnx); sx.f64(mny); sx.f64(mxx); sx.f64(mxy)
        b += 1
      }
      val sout = fs.create(new Path(envSidecarPath(table.toString)), true)
      try sout.write(sx.toBytes) finally sout.close()
    }
  }
}
