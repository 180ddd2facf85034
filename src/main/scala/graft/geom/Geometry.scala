package graft.geom

/** Planar geometry model.
  *
  * Re-expresses the data model of the reference (dask-geopandas, which
  * delegates to geopandas/shapely GEOS geometries — see reference
  * `dask_geopandas/backends.py:28-68` for the dtype registration and
  * `dask_geopandas/expr.py:947-1013` for the operator surface) as a
  * dependency-free Scala ADT. Coordinates are packed `Array[Double]`
  * (x0,y0,x1,y1,...) per ring/line; an optional parallel `z` array carries
  * the third dimension (XYZ geometries appear in the reference tests,
  * `tests/test_core.py:966-976`).
  *
  * Designed for Spark executors: immutable, allocation-light, no JTS/GEOS
  * dependency (none is available in the build), values serialized as WKB
  * inside BinaryType columns.
  */
sealed trait Geometry extends Serializable {
  def geometryType: String

  /** topological dimension: 0 point, 1 curve, 2 surface; -1 for empty collection */
  def topoDim: Int
  def isEmpty: Boolean
  def envelope: Envelope
  def numGeometries: Int = 1
  def geometryN(i: Int): Geometry = { require(i == 0); this }
  def hasZ: Boolean = false

  /** All coordinates, packed xy. */
  def foreachCoord(f: (Double, Double) => Unit): Unit
  def numPoints: Int = { var n = 0; foreachCoord((_, _) => n += 1); n }

  /** Structural transform of every coordinate (affine etc.). Z preserved. */
  def mapCoords(f: (Double, Double) => (Double, Double)): Geometry

  override def toString: String = Wkt.write(this)
}

object Geometry {
  /** Flatten nested collections into their atomic parts. */
  def parts(g: Geometry): Seq[Geometry] = g match {
    case GeometryCollection(gs) => gs.toIndexedSeq.flatMap(parts)
    case MultiPoint(ps)         => ps.toIndexedSeq
    case MultiLineString(ls)    => ls.toIndexedSeq
    case MultiPolygon(ps)       => ps.toIndexedSeq
    case other                  => Seq(other)
  }

  /** Build the narrowest multi/collection type holding `gs`. */
  def collect(gs: Seq[Geometry]): Geometry = {
    val flat = gs.flatMap(parts).filterNot(_.isEmpty)
    if (flat.isEmpty) GeometryCollection(Array.empty)
    else if (flat.forall(_.isInstanceOf[Point]))
      MultiPoint(flat.map(_.asInstanceOf[Point]).toArray)
    else if (flat.forall(_.isInstanceOf[LineString]))
      MultiLineString(flat.map(_.asInstanceOf[LineString]).toArray)
    else if (flat.forall(_.isInstanceOf[Polygon]))
      MultiPolygon(flat.map(_.asInstanceOf[Polygon]).toArray)
    else GeometryCollection(flat.toArray)
  }
}

final case class Point(x: Double, y: Double, z: Double = Double.NaN) extends Geometry {
  def geometryType = "Point"
  def topoDim = 0
  def isEmpty: Boolean = x.isNaN && y.isNaN
  override def hasZ: Boolean = !z.isNaN
  def envelope: Envelope = if (isEmpty) Envelope.empty else Envelope(x, y, x, y)
  def foreachCoord(f: (Double, Double) => Unit): Unit = if (!isEmpty) f(x, y)
  def mapCoords(f: (Double, Double) => (Double, Double)): Geometry =
    if (isEmpty) this else { val (nx, ny) = f(x, y); Point(nx, ny, z) }
}

object Point { val empty: Point = Point(Double.NaN, Double.NaN) }

/** Packed (x,y) coordinate sequence; `zs` optional parallel Z values. */
final case class LineString(xy: Array[Double], zs: Array[Double] = null) extends Geometry {
  require(xy.length % 2 == 0, "xy must be pairs")
  def geometryType = "LineString"
  def topoDim = 1
  def isEmpty: Boolean = xy.length == 0
  override def hasZ: Boolean = zs != null
  def size: Int = xy.length / 2
  def x(i: Int): Double = xy(2 * i)
  def y(i: Int): Double = xy(2 * i + 1)
  def isClosed: Boolean = size > 0 && x(0) == x(size - 1) && y(0) == y(size - 1)
  def isRing: Boolean = isClosed && size >= 4
  lazy val envelope: Envelope = Envelope.ofPacked(xy)
  def foreachCoord(f: (Double, Double) => Unit): Unit = {
    var i = 0
    while (i < xy.length) { f(xy(i), xy(i + 1)); i += 2 }
  }
  def mapCoords(f: (Double, Double) => (Double, Double)): Geometry = {
    val out = new Array[Double](xy.length)
    var i = 0
    while (i < xy.length) {
      val (nx, ny) = f(xy(i), xy(i + 1)); out(i) = nx; out(i + 1) = ny; i += 2
    }
    LineString(out, zs)
  }
}

/** rings(0) = exterior shell; rings(1..) = holes. Rings are closed packed xy. */
final case class Polygon(rings: Array[Array[Double]]) extends Geometry {
  def geometryType = "Polygon"
  def topoDim = 2
  def isEmpty: Boolean = rings.length == 0 || rings(0).length == 0
  def shell: Array[Double] = rings(0)
  def numHoles: Int = math.max(0, rings.length - 1)
  lazy val envelope: Envelope =
    if (isEmpty) Envelope.empty else Envelope.ofPacked(rings(0))
  def foreachCoord(f: (Double, Double) => Unit): Unit = {
    var r = 0
    while (r < rings.length) {
      val ring = rings(r); var i = 0
      while (i < ring.length) { f(ring(i), ring(i + 1)); i += 2 }
      r += 1
    }
  }
  def mapCoords(f: (Double, Double) => (Double, Double)): Geometry =
    Polygon(rings.map { ring =>
      val out = new Array[Double](ring.length)
      var i = 0
      while (i < ring.length) {
        val (nx, ny) = f(ring(i), ring(i + 1)); out(i) = nx; out(i + 1) = ny; i += 2
      }
      out
    })
}

object Polygon {
  def apply(shell: Array[Double]): Polygon = Polygon(Array(shell))
  /** Axis-aligned rectangle, CCW, closed. */
  def box(minX: Double, minY: Double, maxX: Double, maxY: Double): Polygon =
    Polygon(Array(Array(minX, minY, maxX, minY, maxX, maxY, minX, maxY, minX, minY)))
}

sealed trait GeometryCollectionLike extends Geometry {
  def children: Array[_ <: Geometry]
  override def numGeometries: Int = children.length
  override def geometryN(i: Int): Geometry = children(i)
  def isEmpty: Boolean = children.forall(_.isEmpty)
  override def hasZ: Boolean = children.exists(_.hasZ)
  lazy val envelope: Envelope =
    children.foldLeft(Envelope.empty)((e, g) => e.union(g.envelope))
  def foreachCoord(f: (Double, Double) => Unit): Unit = children.foreach(_.foreachCoord(f))
}

final case class MultiPoint(pts: Array[Point]) extends GeometryCollectionLike {
  def geometryType = "MultiPoint"
  def topoDim = 0
  def children: Array[Point] = pts
  def mapCoords(f: (Double, Double) => (Double, Double)): Geometry =
    MultiPoint(pts.map(_.mapCoords(f).asInstanceOf[Point]))
}

final case class MultiLineString(lines: Array[LineString]) extends GeometryCollectionLike {
  def geometryType = "MultiLineString"
  def topoDim = 1
  def children: Array[LineString] = lines
  def mapCoords(f: (Double, Double) => (Double, Double)): Geometry =
    MultiLineString(lines.map(_.mapCoords(f).asInstanceOf[LineString]))
}

final case class MultiPolygon(polys: Array[Polygon]) extends GeometryCollectionLike {
  def geometryType = "MultiPolygon"
  def topoDim = 2
  def children: Array[Polygon] = polys
  def mapCoords(f: (Double, Double) => (Double, Double)): Geometry =
    MultiPolygon(polys.map(_.mapCoords(f).asInstanceOf[Polygon]))
}

final case class GeometryCollection(geoms: Array[Geometry]) extends GeometryCollectionLike {
  def geometryType = "GeometryCollection"
  def topoDim: Int = if (geoms.isEmpty) -1 else geoms.map(_.topoDim).max
  def children: Array[Geometry] = geoms
  def mapCoords(f: (Double, Double) => (Double, Double)): Geometry =
    GeometryCollection(geoms.map(_.mapCoords(f)))
}

/** Axis-aligned bounding box. Empty = inverted infinities. */
final case class Envelope(minX: Double, minY: Double, maxX: Double, maxY: Double) {
  def isEmpty: Boolean = minX > maxX || minY > maxY
  def width: Double = math.max(0, maxX - minX)
  def height: Double = math.max(0, maxY - minY)
  def area: Double = width * height
  def midX: Double = (minX + maxX) / 2
  def midY: Double = (minY + maxY) / 2
  def union(o: Envelope): Envelope =
    if (isEmpty) o
    else if (o.isEmpty) this
    else Envelope(math.min(minX, o.minX), math.min(minY, o.minY),
      math.max(maxX, o.maxX), math.max(maxY, o.maxY))
  def intersection(o: Envelope): Envelope =
    Envelope(math.max(minX, o.minX), math.max(minY, o.minY),
      math.min(maxX, o.maxX), math.min(maxY, o.maxY))
  def intersects(o: Envelope): Boolean =
    !isEmpty && !o.isEmpty &&
      minX <= o.maxX && o.minX <= maxX && minY <= o.maxY && o.minY <= maxY
  def contains(x: Double, y: Double): Boolean =
    x >= minX && x <= maxX && y >= minY && y <= maxY
  def containsEnv(o: Envelope): Boolean =
    !isEmpty && !o.isEmpty &&
      o.minX >= minX && o.maxX <= maxX && o.minY >= minY && o.maxY <= maxY
  def expand(d: Double): Envelope = Envelope(minX - d, minY - d, maxX + d, maxY + d)
  /** Gap between the boxes (0 when they meet): a lower bound on the
    * distance between any geometries inside them.
    */
  def minDistance(o: Envelope): Double = math.hypot(
    math.max(0.0, math.max(o.minX - maxX, minX - o.maxX)),
    math.max(0.0, math.max(o.minY - maxY, minY - o.maxY)))
  /** Farthest corner-to-corner reach between the boxes: an upper bound on
    * the distance between any geometries inside them.
    */
  def maxDistance(o: Envelope): Double = math.hypot(
    math.max(maxX - o.minX, o.maxX - minX), math.max(maxY - o.minY, o.maxY - minY))
  def toPolygon: Geometry =
    if (isEmpty) Polygon(Array.empty[Array[Double]])
    else if (minX == maxX && minY == maxY) Point(minX, minY)
    else if (minX == maxX || minY == maxY) LineString(Array(minX, minY, maxX, maxY))
    else Polygon.box(minX, minY, maxX, maxY)
}

object Envelope {
  val empty: Envelope =
    Envelope(Double.PositiveInfinity, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NegativeInfinity)
  def ofPacked(xy: Array[Double]): Envelope = {
    if (xy.length == 0) return empty
    var mnx = Double.PositiveInfinity; var mny = Double.PositiveInfinity
    var mxx = Double.NegativeInfinity; var mxy = Double.NegativeInfinity
    var i = 0
    while (i < xy.length) {
      val x = xy(i); val y = xy(i + 1)
      if (x < mnx) mnx = x; if (x > mxx) mxx = x
      if (y < mny) mny = y; if (y > mxy) mxy = y
      i += 2
    }
    Envelope(mnx, mny, mxx, mxy)
  }
}
