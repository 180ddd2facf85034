package graft.geom

import java.nio.{ByteBuffer, ByteOrder}

/** ISO/OGC WKB codec (reads EWKB dialect too).
  *
  * Matches the interchange encoding the reference uses for geometry columns
  * (reference `dask_geopandas/expr.py:922-944` from_wkb / to_wkb and the
  * Arrow interchange at `backends.py:71-78`, which encode shapely ISO WKB).
  * Writes little-endian ISO WKB (Z types = base + 1000); reads either byte
  * order, ISO Z/M/ZM codes and the EWKB Z/SRID flag bits.
  */
object Wkb {
  private final val Z_FLAG = 0x80000000
  private final val M_FLAG = 0x40000000
  private final val SRID_FLAG = 0x20000000

  def read(bytes: Array[Byte]): Geometry = read(ByteBuffer.wrap(bytes))

  private def read(buf: ByteBuffer): Geometry = {
    val order = buf.get()
    buf.order(if (order == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var t = buf.getInt()
    var hasZ = false
    var hasM = false
    if ((t & SRID_FLAG) != 0) { buf.getInt(); t &= ~SRID_FLAG } // skip SRID
    if ((t & Z_FLAG) != 0) { hasZ = true; t &= ~Z_FLAG }
    if ((t & M_FLAG) != 0) { hasM = true; t &= ~M_FLAG }
    val dimCode = (t & 0xffff) / 1000
    if (dimCode == 1 || dimCode == 3) hasZ = true
    if (dimCode == 2 || dimCode == 3) hasM = true
    val base = (t & 0xffff) % 1000

    base match {
      case 1 =>
        val x = buf.getDouble(); val y = buf.getDouble()
        val z = if (hasZ) buf.getDouble() else Double.NaN
        if (hasM) buf.getDouble()
        Point(x, y, z)
      case 2 =>
        val (xy, zs) = readCoords(buf, hasZ, hasM)
        LineString(xy, zs)
      case 3 =>
        val nRings = buf.getInt()
        val rings = new Array[Array[Double]](nRings)
        var i = 0
        while (i < nRings) { rings(i) = readCoords(buf, hasZ, hasM)._1; i += 1 }
        Polygon(rings)
      case 4 =>
        MultiPoint(Array.fill(buf.getInt())(read(buf).asInstanceOf[Point]))
      case 5 =>
        MultiLineString(Array.fill(buf.getInt())(read(buf).asInstanceOf[LineString]))
      case 6 =>
        MultiPolygon(Array.fill(buf.getInt())(read(buf).asInstanceOf[Polygon]))
      case 7 =>
        GeometryCollection(Array.fill(buf.getInt())(read(buf)))
      case other =>
        throw new IllegalArgumentException(s"unsupported WKB geometry type $other")
    }
  }

  private def readCoords(buf: ByteBuffer, hasZ: Boolean, hasM: Boolean): (Array[Double], Array[Double]) = {
    val n = buf.getInt()
    val xy = new Array[Double](2 * n)
    val zs = if (hasZ) new Array[Double](n) else null
    var i = 0
    while (i < n) {
      xy(2 * i) = buf.getDouble(); xy(2 * i + 1) = buf.getDouble()
      if (hasZ) zs(i) = buf.getDouble()
      if (hasM) buf.getDouble()
      i += 1
    }
    (xy, zs)
  }

  /** Envelope straight from the WKB bytes — no Geometry, no coordinate
    * arrays. The envelope-consuming expressions (bbox filters, grid-cell
    * assignment, bounds aggregation) are decode-dominated (~84% of
    * st_intersects wall time is `read`, see PROFILE.md, round 6); scanning
    * min/max in place removes every allocation from those paths. Matches
    * `read(bytes).envelope` exactly: polygon envelopes come from the
    * exterior ring only (hole coords are skipped, as `Polygon.envelope`
    * ignores them), empty points (NaN) contribute nothing.
    */
  def envelopeOf(bytes: Array[Byte]): Envelope = {
    val buf = ByteBuffer.wrap(bytes)
    val acc = Array(Double.PositiveInfinity, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NegativeInfinity)
    envScan(buf, acc)
    if (acc(0) > acc(2)) Envelope.empty else Envelope(acc(0), acc(1), acc(2), acc(3))
  }

  private def envScan(buf: ByteBuffer, acc: Array[Double]): Unit = {
    val order = buf.get()
    buf.order(if (order == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var t = buf.getInt()
    var hasZ = false
    var hasM = false
    if ((t & SRID_FLAG) != 0) { buf.getInt(); t &= ~SRID_FLAG }
    if ((t & Z_FLAG) != 0) { hasZ = true; t &= ~Z_FLAG }
    if ((t & M_FLAG) != 0) { hasM = true; t &= ~M_FLAG }
    val dimCode = (t & 0xffff) / 1000
    if (dimCode == 1 || dimCode == 3) hasZ = true
    if (dimCode == 2 || dimCode == 3) hasM = true
    val extra = (if (hasZ) 8 else 0) + (if (hasM) 8 else 0)

    def scanPoints(n: Int, gather: Boolean): Unit = {
      var i = 0
      while (i < n) {
        if (gather) {
          val x = buf.getDouble(); val y = buf.getDouble()
          // NaN (empty point) fails every comparison and contributes nothing
          if (x < acc(0)) acc(0) = x
          if (x > acc(2)) acc(2) = x
          if (y < acc(1)) acc(1) = y
          if (y > acc(3)) acc(3) = y
          if (extra > 0) buf.position(buf.position() + extra)
        } else buf.position(buf.position() + 16 + extra)
        i += 1
      }
    }

    (t & 0xffff) % 1000 match {
      case 1 => scanPoints(1, gather = true)
      case 2 => scanPoints(buf.getInt(), gather = true)
      case 3 =>
        val nRings = buf.getInt()
        var r = 0
        while (r < nRings) {
          // Polygon.envelope = exterior ring only; skip over hole coords
          scanPoints(buf.getInt(), gather = r == 0)
          r += 1
        }
      case 4 | 5 | 6 | 7 =>
        val n = buf.getInt()
        var i = 0
        while (i < n) { envScan(buf, acc); i += 1 }
      case other =>
        throw new IllegalArgumentException(s"unsupported WKB geometry type $other")
    }
  }

  def write(g: Geometry): Array[Byte] = {
    val buf = ByteBuffer.allocate(sizeOf(g)).order(ByteOrder.LITTLE_ENDIAN)
    writeTo(g, buf)
    buf.array()
  }

  private def typeCode(g: Geometry): Int = {
    val base = g match {
      case _: Point              => 1
      case _: LineString         => 2
      case _: Polygon            => 3
      case _: MultiPoint         => 4
      case _: MultiLineString    => 5
      case _: MultiPolygon       => 6
      case _: GeometryCollection => 7
    }
    if (g.hasZ) base + 1000 else base
  }

  private def sizeOf(g: Geometry): Int = g match {
    case p: Point => 5 + (if (p.hasZ) 24 else 16)
    case l: LineString =>
      5 + 4 + l.size * (if (l.hasZ) 24 else 16)
    case p: Polygon =>
      5 + 4 + p.rings.map(r => 4 + r.length * 8).sum
    case c: GeometryCollectionLike =>
      5 + 4 + c.children.map(ch => sizeOf(ch)).sum
  }

  private def writeTo(g: Geometry, buf: ByteBuffer): Unit = {
    buf.put(1.toByte)
    buf.putInt(typeCode(g))
    g match {
      case p: Point =>
        if (p.isEmpty) { buf.putDouble(Double.NaN); buf.putDouble(Double.NaN) }
        else { buf.putDouble(p.x); buf.putDouble(p.y) }
        if (p.hasZ) buf.putDouble(p.z)
      case l: LineString =>
        buf.putInt(l.size)
        var i = 0
        while (i < l.size) {
          buf.putDouble(l.x(i)); buf.putDouble(l.y(i))
          if (l.hasZ) buf.putDouble(l.zs(i))
          i += 1
        }
      case p: Polygon =>
        buf.putInt(p.rings.length)
        p.rings.foreach { r =>
          buf.putInt(r.length / 2)
          var i = 0
          while (i < r.length) { buf.putDouble(r(i)); i += 1 }
        }
      case c: GeometryCollectionLike =>
        buf.putInt(c.children.length)
        c.children.foreach(ch => writeTo(ch, buf))
    }
  }
}
