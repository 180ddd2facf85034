package graft.api

import graft.sql.TestSpark
import graft.sql.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Geodesic proximity join (`sjoinDwithinSphere`): haversine-meter
  * semantics on lon/lat, latitude-aware grid padding (the case a planar
  * degree-pad join gets wrong), and exact agreement with the brute-force
  * cross join.
  */
class SjoinSphereSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def haversine(lon1: Double, lat1: Double,
      lon2: Double, lat2: Double): Double = {
    val r = 6371008.8
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = p2 - p1; val dl = math.toRadians(lon2 - lon1)
    val h = math.sin(dp / 2) * math.sin(dp / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
    2.0 * r * math.asin(math.min(1.0, math.sqrt(h)))
  }

  test("high-latitude pairs within meters are found; equator controls are not") {
    // at 70N, 2 deg of longitude is ~76 km -> inside a 80 km radius;
    // the same 2 deg at the equator is ~222 km -> outside
    val left = GeoDataFrame(Seq(
      (1L, 10.0, 70.0), (2L, 10.0, 0.0), (3L, -120.0, 85.0)
    ).toDF("lid", "lon", "lat")
      .select($"lid", st_point($"lon", $"lat").as("geometry")), "geometry")
    val right = GeoDataFrame(Seq(
      (101L, 12.0, 70.0),   // ~76 km from left 1
      (102L, 12.0, 0.0),    // ~222 km from left 2
      (103L, -112.0, 85.0), // 8 deg lon at 85N ~ 78 km from left 3
      (104L, 10.0, 69.3)    // ~78 km due south of left 1
    ).toDF("rid", "lon", "lat")
      .select($"rid", st_point($"lon", $"lat").as("geometry")), "geometry")
    val got = left.sjoinDwithinSphere(right, 80000.0).df
      .select($"lid", $"rid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 101L), (1L, 104L), (3L, 103L)), got)
  }

  test("sjoinNearestSphere: nearest by meters, ties kept, how=left pads misses") {
    val left = GeoDataFrame(Seq(
      (1L, 0.0, 60.0),   // two right points equidistant north/south
      (2L, 90.0, 10.0)   // nothing within radius
    ).toDF("lid", "lon", "lat")
      .select($"lid", st_point($"lon", $"lat").as("geometry")), "geometry")
    val right = GeoDataFrame(Seq(
      (11L, 0.4, 60.2), (12L, 0.4, 60.2), (13L, 0.0, 62.0)
    ).toDF("rid", "lon", "lat")
      .select($"rid", st_point($"lon", $"lat").as("geometry")), "geometry")
    val got = left.sjoinNearestSphere(right, "lid", 200000.0, how = "left")
      .select($"lid", $"rid").as[(Long, Option[Long])].collect().sorted.toSeq
    // 11 and 12 are coincident -> an exact distance tie, both kept by rank;
    // 13 is farther and dropped; lid 2 has nothing in radius -> null pad
    assert(got == Seq((1L, Some(11L)), (1L, Some(12L)), (2L, None)), got)
  }

  test("agrees with the brute-force cross join on a random cloud (incl. 60-80N)") {
    val rnd = new scala.util.Random(7)
    val ls = (0 until 300).map(i =>
      (i.toLong, rnd.nextDouble() * 40 - 20, 55 + rnd.nextDouble() * 25))
    val rs = (0 until 200).map(i =>
      (1000L + i, rnd.nextDouble() * 40 - 20, 55 + rnd.nextDouble() * 25))
    val d = 150000.0
    val want = (for {
      (li, llon, llat) <- ls
      (ri, rlon, rlat) <- rs
      if haversine(llon, llat, rlon, rlat) <= d
    } yield (li, ri)).sorted
    val left = GeoDataFrame(ls.toDF("lid", "lon", "lat")
      .select($"lid", st_point($"lon", $"lat").as("geometry")), "geometry")
    val right = GeoDataFrame(rs.toDF("rid", "lon", "lat")
      .select($"rid", st_point($"lon", $"lat").as("geometry")), "geometry")
    val got = left.sjoinDwithinSphere(right, d).df
      .select($"lid", $"rid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == want && got.nonEmpty, s"got ${got.size} vs want ${want.size}")
    // exactly-once: no duplicate pairs from the cell fan-out
    assert(got.distinct == got)
    // crs propagates
    assert(left.setCrs("EPSG:4326").sjoinDwithinSphere(right, d).crs
      .contains("EPSG:4326"))
  }

  test("cell size is a pure performance knob: overrides match the adaptive default") {
    val rnd = new scala.util.Random(11)
    val ls = (0 until 150).map(i =>
      (i.toLong, rnd.nextDouble() * 30 - 10, 40 + rnd.nextDouble() * 30))
    val rs = (0 until 120).map(i =>
      (1000L + i, rnd.nextDouble() * 30 - 10, 40 + rnd.nextDouble() * 30))
    val d = 200000.0
    val padLat = d / (math.Pi * 6371008.8 / 180.0)
    val left = GeoDataFrame(ls.toDF("lid", "lon", "lat")
      .select($"lid", st_point($"lon", $"lat").as("geometry")), "geometry")
    val right = GeoDataFrame(rs.toDF("rid", "lon", "lat")
      .select($"rid", st_point($"lon", $"lat").as("geometry")), "geometry")
    def pairs(cell: Double): Seq[(Long, Long)] =
      left.sjoinDwithinSphere(right, d, cellSizeDeg = cell).df
        .select($"lid", $"rid").as[(Long, Long)].collect().sorted.toSeq
    val adaptive = pairs(0.0) // density-adaptive default (r19)
    assert(adaptive.nonEmpty)
    assert(pairs(padLat * 0.5) == adaptive)
    assert(pairs(padLat * 4.0) == adaptive)
  }

  test("pair estimate at 60-70N covers the grid join's verify pairs (longitude pad)") {
    // the estimate gates the parallelism floor below; the grid pads a left
    // row on both axes by its longitude pad, ~2.4x the latitude pad at
    // 65N, so a window of (2*padLat + cell)^2 undercounts the verify pairs
    // about twofold
    val rnd = new scala.util.Random(31)
    def pts(n: Int, id0: Long) = (0 until n).map(i =>
      (id0 + i, 10.0 + rnd.nextDouble() * 10, 60.0 + rnd.nextDouble() * 10))
    val (ls, rs) = (pts(600, 0L), pts(400, 1000L))
    val d = 20000.0
    def gdf(rows: Seq[(Long, Double, Double)]) = GeoDataFrame(rows.toDF("id", "lon", "lat")
      .select($"id", st_point($"lon", $"lat").as("geometry")), "geometry")
    val (left, right) = (gdf(ls), gdf(rs))
    val (lons, lats) = (rs.map(_._2), rs.map(_._3))
    val (cell, est) = GeoDataFrame.sphereGrid(d, ls.size, rs.size,
      (lons.max - lons.min) * (lats.max - lats.min), lats.map(math.abs).max)
    // the verify pairs of the plan sjoinDwithinSphere builds: padded left
    // cells equi-joined with right cells, before the haversine filter
    val l = left.df.withColumn("_cell", explode(st_gridCellsSizedPad($"geometry", lit(cell),
      GeoDataFrame.spherePad($"geometry", d))))
    val r = right.df.withColumnRenamed("geometry", "rg").withColumnRenamed("id", "rid")
      .withColumn("_cell", explode(st_gridCellsSized($"rg", lit(cell))))
    val actual = l.join(r, Seq("_cell")).count()
    assert(actual > 1000L, s"$actual verify pairs")
    assert(est >= actual && est <= 2.0 * actual, s"estimate $est vs $actual verify pairs")
  }

  test("dense input triggers the parallelism-floor repartition without changing results") {
    // 500x500 points inside a 0.5 deg box with a 150 km radius: estimated
    // pairs ~11M >= the 8M gate, and the single-partition left (coalesce(1))
    // sits below defaultParallelism -> the round-robin repartition branch
    // runs. Every pair is within radius, so the exact expected set is the
    // full cross product.
    val n = 500
    val rnd = new scala.util.Random(23)
    val ls = (0 until n).map(i =>
      (i.toLong, 10.0 + rnd.nextDouble() * 0.5, 45.0 + rnd.nextDouble() * 0.5))
    val rs = (0 until n).map(i =>
      (10000L + i, 10.0 + rnd.nextDouble() * 0.5, 45.0 + rnd.nextDouble() * 0.5))
    val left = GeoDataFrame(ls.toDF("lid", "lon", "lat")
      .select($"lid", st_point($"lon", $"lat").as("geometry"))
      .coalesce(1), "geometry")
    val right = GeoDataFrame(rs.toDF("rid", "lon", "lat")
      .select($"rid", st_point($"lon", $"lat").as("geometry")), "geometry")
    val joined = left.sjoinDwithinSphere(right, 150000.0).df
    assert(joined.count() == n.toLong * n) // all pairs in radius, exactly once
    // and the join output parallelism is no longer pinned to the 1-split scan
    assert(joined.rdd.getNumPartitions > 1)
  }
}
