package graft.api

import graft.geom.{Envelope, Wkt}
import graft.sql.TestSpark
import graft.sql.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeoDataFrameSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def points(n: Int) = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until n).map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
    GeoDataFrame.pointsFromXY(rows.toDF("id", "x", "y"), "x", "y")
  }

  test("isna/notna/fillna on the active geometry (GeoSeries missing values)") {
    val df = Seq((1L, "POINT (1 2)"), (2L, null), (3L, "POINT (3 4)"))
      .toDF("id", "wkt")
      .withColumn("geometry",
        when($"wkt".isNotNull, st_geomFromWKT($"wkt")).otherwise(lit(null)))
      .drop("wkt")
    val g = GeoDataFrame(df)
    assert(g.df.filter(g.isna()).select($"id").as[Long].collect().toSeq == Seq(2L))
    assert(g.df.filter(g.notna()).count() == 2)
    // default fill = GEOMETRYCOLLECTION EMPTY (geopandas' default)
    val filled = g.fillna()
    assert(filled.df.filter(filled.isna()).count() == 0)
    val wkts = filled.df.orderBy($"id")
      .select(expr("st_astext(geometry)")).as[String].collect()
    assert(wkts(1) == "GEOMETRYCOLLECTION EMPTY")
    // CRS metadata survives the fill (coalesce would strip it)
    val withCrs = GeoDataFrame(df).setCrs("EPSG:3857").fillna()
    assert(withCrs.crs.contains("EPSG:3857"))
    // explicit fill value
    val filled2 = g.fillna(graft.geom.Point(9.0, 9.0))
    assert(filled2.df.orderBy($"id").select(expr("st_astext(geometry)"))
      .as[String].collect()(1) == "POINT (9 9)")
  }

  test("cx bbox filter matches manual range filter") {
    val g = points(500)
    val got = g.cx(10, 20, 40, 60).df.select($"id").as[Long].collect().sorted
    val want = g.df.filter($"x" >= 10 && $"x" <= 40 && $"y" >= 20 && $"y" <= 60)
      .select($"id").as[Long].collect().sorted
    assert(got.sameElements(want))
  }

  test("calculateSpatialPartitions + pruned cx") {
    val g = points(300).spatialShuffle(by = "hilbert", level = 10, numPartitions = Some(4))
    assert(g.spatialPartitions.isDefined && g.spatialPartitions.get.length == 4)
    // after hilbert shuffle, a small bbox should hit fewer partitions
    val hit = g.spatialPartitions.get.count(_.intersects(Envelope(0, 0, 20, 20)))
    assert(hit < 4)
    val got = g.cx(0, 0, 20, 20).df.count()
    val want = points(300).df.filter($"x" <= 20 && $"y" <= 20).count()
    assert(got == want)
    // pruning must keep the logical plan alive (spark_partition_id filter,
    // not an RDD round-trip): no LogicalRDD barrier in the analyzed plan
    val analyzed = g.cx(0, 0, 20, 20).df.queryExecution.analyzed.toString
    assert(!analyzed.contains("LogicalRDD"), analyzed)
  }

  test("hull spatial partitions prune diagonal data that envelopes cannot") {
    // points along the diagonal y = x, range-partitioned by id: each
    // partition's envelope is a square, but its hull is a thin segment
    val rows = (0 until 200).map(i => (i.toLong, i / 2.0, i / 2.0))
    val diag0 = GeoDataFrame.pointsFromXY(
      rows.toDF("id", "x", "y").repartitionByRange(4, $"id"), "x", "y")

    val env = diag0.calculateSpatialPartitions() // default envelope method
    assert(env.spatialPartitions.get.length == 4 && env.spatialPartitionHulls.isEmpty)
    val hull = diag0.calculateSpatialPartitions(method = "hull")
    assert(hull.spatialPartitionHulls.get.length == 4)
    // hull envelopes agree with the envelope method's bounds
    hull.spatialPartitions.get.zip(env.spatialPartitions.get).foreach { case (a, b) =>
      assert(math.abs(a.minX - b.minX) < 1e-9 && math.abs(a.maxY - b.maxY) < 1e-9)
    }

    // an off-diagonal box inside some partition's envelope: the envelope
    // keeps the partition, the hull rejects it
    val box = Envelope(36, 26, 48, 34)
    val envHits = env.spatialPartitions.get.count(_.intersects(box))
    assert(envHits > 0, "box must hit at least one envelope for the test to bite")
    val boxGeom = box.toPolygon
    val hullHits = hull.spatialPartitionHulls.get.count(h =>
      h.envelope.intersects(box) && graft.geom.Predicates.intersects(h, boxGeom))
    assert(hullHits < envHits, s"hulls should prune tighter: $hullHits vs $envHits")
    // and the pruned cx is still correct (no diagonal point is in the box)
    assert(hull.cx(36, 26, 48, 34).df.count() == 0)
    // an on-diagonal box returns the right rows through hull pruning
    val got = hull.cx(10, 10, 30, 30).df.count()
    assert(got == rows.count { case (_, x, y) => x >= 10 && x <= 30 && y >= 10 && y <= 30 })
  }

  test("chained cx keeps partition metadata aligned (no silent row loss)") {
    val g = points(300).spatialShuffle(by = "hilbert", level = 10, numPartitions = Some(4))
    // first cx prunes some partitions; the second must still see correct
    // rows — filtering the metadata array (old behavior) misaligned it
    // against spark_partition_id and returned 0 rows here
    val got = g.cx(0, 0, 60, 60).cx(20, 20, 60, 60).df.count()
    val want = points(300).df
      .filter($"x" >= 20 && $"x" <= 60 && $"y" >= 20 && $"y" <= 60).count()
    assert(got == want)
  }

  test("dissolve unions per group") {
    val df = Seq((1, 0.0, 0.0), (1, 1.0, 1.0), (2, 5.0, 5.0), (2, 5.0, 5.0))
      .toDF("k", "x", "y")
    val g = GeoDataFrame.pointsFromXY(df, "x", "y")
    val got = g.dissolve(Seq("k"), Seq(count(lit(1)).as("n")))
      .df.select($"k", st_numGeometries($"geometry").as("m"), $"n")
      .orderBy($"k").collect()
    assert(got(0).getInt(1) == 2 && got(0).getLong(2) == 2)
    assert(got(1).getInt(1) == 1 && got(1).getLong(2) == 2)
  }

  test("totalBounds and unionAll") {
    val g = GeoDataFrame.pointsFromXY(
      Seq((0.0, 1.0), (10.0, 5.0), (-3.0, 8.0)).toDF("x", "y"), "x", "y")
    val b = g.totalBounds()
    assert(b == Envelope(-3, 1, 10, 8))
    assert(g.unionAll().numGeometries == 3)
  }

  test("sjoin broadcast == sjoin grid (points in polygons)") {
    val pts = points(400)
    val polys = GeoDataFrame(
      Seq(
        (10L, "POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))"),
        (20L, "POLYGON ((50 50, 100 50, 100 100, 50 100, 50 50))"),
        (30L, "POLYGON ((25 25, 75 25, 75 75, 25 75, 25 25))"))
        .toDF("zone", "wkt").withColumn("geometry", st_geomFromWKT($"wkt")).drop("wkt"))
    def pairs(strategy: String) =
      pts.sjoin(polys, predicate = "within", strategy = strategy)
        .select($"id", $"zone").as[(Long, Long)].collect().sorted.toSeq
    val b = pairs("broadcast")
    val g = pairs("grid")
    assert(b == g)
    assert(b.nonEmpty)
    // oracle: manual check on a sample
    val sample = pts.df.select($"id", $"x", $"y").as[(Long, Double, Double)].collect()
    val zones = Seq((10L, (0.0, 0.0, 50.0, 50.0)), (20L, (50.0, 50.0, 100.0, 100.0)),
      (30L, (25.0, 25.0, 75.0, 75.0)))
    val manual = (for {
      (id, x, y) <- sample
      (z, (x0, y0, x1, y1)) <- zones
      if x > x0 && x < x1 && y > y0 && y < y1 // strict: within excludes boundary
    } yield (id, z)).sorted.toSeq
    assert(b == manual)
  }

  test("grid sjoin correct with broadcast disabled (the 100 TB shuffle path)") {
    // at real scale neither side fits in a broadcast: the cell equi-join
    // must degrade to a shuffled join and still produce identical pairs
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pts = points(300)
      val polys = GeoDataFrame(
        Seq((10L, "POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))"),
          (20L, "POLYGON ((50 50, 100 50, 100 100, 50 100, 50 50))"))
          .toDF("zone", "wkt").withColumn("geometry", st_geomFromWKT($"wkt")).drop("wkt"))
      val gridDf = pts.sjoin(polys, predicate = "within", strategy = "grid")
      val plan = gridDf.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(1500))
      val g = gridDf.select($"id", $"zone").as[(Long, Long)].collect().sorted.toSeq
      val b = pts.sjoin(polys, predicate = "within", strategy = "broadcast")
        .select($"id", $"zone").as[(Long, Long)].collect().sorted.toSeq
      assert(g == b && g.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sjoin how=left/right: unmatched rows survive with nulls, both strategies") {
    val pts = points(200) // coords in [0,100)
    val polys = GeoDataFrame(
      Seq(
        (10L, "POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))"),
        (99L, "POLYGON ((500 500, 510 500, 510 510, 500 510, 500 500))")) // matches nothing
        .toDF("zone", "wkt").withColumn("geometry", st_geomFromWKT($"wkt")).drop("wkt"))
    def left(strategy: String) =
      pts.sjoin(polys, predicate = "within", strategy = strategy, how = "left",
        cellSize = if (strategy == "grid") Some(25.0) else None)
        .select($"id", $"zone").as[(Long, Option[Long])].collect().sorted.toSeq
    val lb = left("broadcast")
    val lg = left("grid")
    assert(lb == lg)
    // every left id exactly once (points hit at most one disjoint zone here)
    assert(lb.map(_._1) == (0L until 200L).toSeq)
    val matched = lb.filter(_._2.isDefined)
    assert(matched.nonEmpty && matched.forall(_._2.contains(10L)))
    assert(lb.exists(_._2.isEmpty), "some point must fall outside zone 10")
    // how=right: all right rows survive; zone 99 comes back with null left
    val rb = pts.sjoin(polys, predicate = "within", strategy = "broadcast", how = "right")
      .select($"id", $"zone").as[(Option[Long], Long)].collect().toSeq
    val rg = pts.sjoin(polys, predicate = "within", strategy = "grid",
        cellSize = Some(25.0), how = "right")
      .select($"id", $"zone").as[(Option[Long], Long)].collect().toSeq
    assert(rb.sorted == rg.sorted)
    assert(rb.filter(_._2 == 99L) == Seq((None, 99L)), rb.filter(_._2 == 99L).toString)
    assert(rb.count(_._2 == 10L) == matched.size)
  }

  test("sjoin how=left all-unmatched edge: right side empty of matches") {
    val pts = points(50)
    val farPolys = GeoDataFrame(
      Seq((1L, "POLYGON ((900 900, 910 900, 910 910, 900 910, 900 900))"))
        .toDF("zone", "wkt").withColumn("geometry", st_geomFromWKT($"wkt")).drop("wkt"))
    Seq("broadcast", "grid").foreach { strategy =>
      val got = pts.sjoin(farPolys, predicate = "intersects", strategy = strategy,
          how = "left", cellSize = if (strategy == "grid") Some(25.0) else None)
        .select($"id", $"zone").as[(Long, Option[Long])].collect().sorted.toSeq
      assert(got == (0L until 50L).map(i => (i, None: Option[Long])), s"$strategy: $got")
    }
  }

  test("sjoin outer: row-id side is pinned (checkpointed) so inner and anti branches share ids") {
    // monotonically_increasing_id is nondeterministic under recomputation;
    // the id-stamped side feeds both the inner join and the left-anti probe.
    // The plan must read a pinned (localCheckpoint -> LogicalRDD) snapshot —
    // a live Project(monotonically_increasing_id) feeding two branches is a
    // task-retry wrong-answer hazard at cluster scale.
    val pts = points(100)
    val polys = GeoDataFrame(
      Seq((10L, "POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))"))
        .toDF("zone", "wkt").withColumn("geometry", st_geomFromWKT($"wkt")).drop("wkt"))
    Seq("broadcast", "grid").foreach { strategy =>
      val out = pts.sjoin(polys, predicate = "within", strategy = strategy, how = "left",
        cellSize = if (strategy == "grid") Some(25.0) else None)
      val analyzed = out.queryExecution.analyzed.toString
      assert(!analyzed.contains("monotonically_increasing_id"),
        s"$strategy: unpinned monotonically_increasing_id in outer-sjoin plan:\n" +
          analyzed.take(2000))
      // and the result is still exactly the left rows
      val ids = out.select($"id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until 100L).toSeq, s"$strategy lost/duplicated rows")
    }
  }

  test("sjoinNearest: per-left minimum, radius drop, ties kept") {
    val left = GeoDataFrame(Seq(
      (1L, 0.0, 0.0),   // nearest = A (d=1) and B (d=1): exact tie, keep both
      (2L, 10.0, 0.0),  // nearest = C (d=2)
      (3L, 50.0, 50.0)  // nothing within radius -> dropped
    ).toDF("lid", "x", "y").withColumn("geometry", st_point($"x", $"y")))
    val right = GeoDataFrame(Seq(
      (100L, 1.0, 0.0),  // A
      (200L, 0.0, 1.0),  // B
      (300L, 10.0, 2.0), // C
      (400L, 10.0, 3.0)  // farther than C from lid=2
    ).toDF("rid", "rx", "ry").withColumn("geometry", st_point($"rx", $"ry")))
    val out = left.sjoinKnn(right, leftKey = "lid", k = 1, maxDistance = 5.0, cellSize = 4.0)
      .select($"lid", $"rid", $"dist").as[(Long, Long, Double)].collect().sorted.toSeq
    assert(out == Seq((1L, 100L, 1.0), (1L, 200L, 1.0), (2L, 300L, 2.0)))
  }

  test("sjoinNearest how=left null-pads no-neighbor rows; exclusive skips equal geometry") {
    val left = GeoDataFrame(Seq(
      (1L, 0.0, 0.0),   // coincides with right 100; next-nearest is 200 at d=1
      (2L, 50.0, 50.0)  // nothing within radius
    ).toDF("lid", "x", "y").withColumn("geometry", st_point($"x", $"y")))
    val right = GeoDataFrame(Seq(
      (100L, 0.0, 0.0), // equal geometry to lid=1
      (200L, 1.0, 0.0)
    ).toDF("rid", "rx", "ry").withColumn("geometry", st_point($"rx", $"ry")))
    val outer = left.sjoinKnn(right, leftKey = "lid", k = 1, maxDistance = 5.0,
        cellSize = 4.0, how = "left")
      .select($"lid", $"rid", $"dist")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    assert(outer == Seq((1L, Some(100L), Some(0.0)), (2L, None, None)))
    val excl = left.sjoinKnn(right, leftKey = "lid", k = 1, maxDistance = 5.0,
        cellSize = 4.0, how = "left", exclusive = true)
      .select($"lid", $"rid", $"dist")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    // with the coincident right row excluded, lid=1 falls through to 200
    assert(excl == Seq((1L, Some(200L), Some(1.0)), (2L, None, None)))
  }

  test("overlay keepGeomType drops the line piece of touching polygons") {
    // squares sharing edge x=10: intersection is LINESTRING (10 0, 10 10)
    val left = GeoDataFrame(Seq((1L, 0.0, 0.0, 10.0, 10.0))
      .toDF("lid", "x0", "y0", "x1", "y1")
      .withColumn("geometry", st_makeEnvelope($"x0", $"y0", $"x1", $"y1"))
      .select($"lid", $"geometry"))
    val right = GeoDataFrame(Seq((10L, 10.0, 0.0, 20.0, 10.0))
      .toDF("rid", "x0", "y0", "x1", "y1")
      .withColumn("geometry", st_makeEnvelope($"x0", $"y0", $"x1", $"y1"))
      .select($"rid", $"geometry"))
    val kept = left.overlay(right, leftKey = "lid", how = "intersection",
      strategy = "broadcast")
    assert(kept.count() == 0, "keep_geom_type default must drop the line piece")
    val raw = left.overlay(right, leftKey = "lid", how = "intersection",
      strategy = "broadcast", keepGeomType = false)
    val wkts = raw.select(st_asText($"geometry")).as[String].collect().toSeq
    assert(wkts == Seq("LINESTRING (10 0, 10 10)"), wkts.toString)
  }

  test("sjoin onAttribute: equality culls pairs on both strategies; st_pointN") {
    val left = GeoDataFrame(Seq(
      (1L, 1.0, 1.0, "a"), (2L, 1.5, 1.5, "b"))
      .toDF("lid", "x", "y", "cat")
      .withColumn("geometry", st_point($"x", $"y")))
    val right = GeoDataFrame(Seq(
      (10L, "a"), (20L, "b"))
      .toDF("rid", "cat")
      .withColumn("geometry", st_makeEnvelope(lit(0.0), lit(0.0), lit(5.0), lit(5.0))))
    // both points fall in both squares; the attribute restricts to same-cat
    for (strat <- Seq("broadcast", "grid")) {
      val out = left.sjoin(right, predicate = "within", strategy = strat,
          cellSize = Some(10.0), onAttribute = Seq("cat"))
        .select($"lid", $"rid").as[(Long, Long)].collect().sorted.toSeq
      assert(out == Seq((1L, 10L), (2L, 20L)), s"strategy=$strat: $out")
    }
    val pts = Seq(("LINESTRING (0 0, 1 1, 2 0)", 1, "POINT (1 1)"),
        ("LINESTRING (0 0, 1 1, 2 0)", -1, "POINT (2 0)"))
      .toDF("wkt", "i", "want")
      .select(st_asText(st_pointN(st_geomFromWKT($"wkt"), $"i")).as("got"), $"want")
      .as[(String, String)].collect().toSeq
    pts.foreach { case (got, want) => assert(got == want) }
    val off = Seq(("LINESTRING (0 0, 1 1)", 5)).toDF("wkt", "i")
      .select(st_pointN(st_geomFromWKT($"wkt"), $"i")).collect().head
    assert(off.isNullAt(0)) // off-range = null like shapely get_point
  }

  test("clipByRect: rows kept, disjoint rows become empty, crs survives") {
    val g = GeoDataFrame(Seq(
      (1L, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"), // straddles
      (2L, "POINT (2 2)"),                             // inside
      (3L, "POLYGON ((50 50, 60 50, 60 60, 50 60, 50 50))")) // disjoint
      .toDF("id", "wkt")
      .withColumn("geometry", st_geomFromWKT($"wkt")).drop("wkt"))
      .setCrs("EPSG:4326")
    val out = g.clipByRect(-1.0, -1.0, 4.0, 4.0)
    assert(out.crs.contains("EPSG:4326"))
    val got = out.df
      .select($"id", st_area($"geometry").as("a"), st_isEmpty($"geometry").as("e"))
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 16.0, false), (2L, 0.0, false), (3L, 0.0, true)))
  }

  test("sjoinKnn: outliers at 1/5/85 match in one pass; k > |right| returns all") {
    val left = GeoDataFrame(Seq(
      (1L, 0.0, 0.0),    // right A at d=1, inside its own cell
      (2L, 10.0, 0.0),   // right B at d=5, two cells away
      (3L, 100.0, 0.0)   // right B at d=85, far outside every cell
    ).toDF("lid", "x", "y").withColumn("geometry", st_point($"x", $"y")))
    val right = GeoDataFrame(Seq(
      (100L, 1.0, 0.0), (200L, 15.0, 0.0)
    ).toDF("rid", "rx", "ry").withColumn("geometry", st_point($"rx", $"ry")))
    def knn(k: Int) = left.sjoinKnn(right, leftKey = "lid", k = k, cellSize = 4.0)
      .select($"lid", $"rid", $"dist").as[(Long, Long, Double)]
      .collect().sorted.toSeq
    val out = knn(1)
    assert(out == Seq((1L, 100L, 1.0), (2L, 200L, 5.0), (3L, 200L, 85.0)))
    // every left row must appear exactly once (keys are unique here)
    assert(out.map(_._1) == Seq(1L, 2L, 3L))
    // k = 3 > |right| = 2: every left row gets both right rows
    assert(knn(3) == Seq((1L, 100L, 1.0), (1L, 200L, 15.0), (2L, 100L, 9.0),
      (2L, 200L, 5.0), (3L, 100L, 99.0), (3L, 200L, 85.0)))
  }

  test("overlay intersection/difference incl. multipolygon subtrahend and no-hit passthrough") {
    // square A [0,10]^2 straddles two disjoint strips; square B hits none
    val left = GeoDataFrame(Seq(
      (1L, 0.0, 0.0, 10.0, 10.0),
      (2L, 100.0, 0.0, 110.0, 10.0)
    ).toDF("lid", "x0", "y0", "x1", "y1")
      .withColumn("geometry", st_makeEnvelope($"x0", $"y0", $"x1", $"y1"))
      .select($"lid", $"geometry"))
    val right = GeoDataFrame(Seq(
      (10L, -50.0, 4.0), (20L, 6.0, 60.0) // strips x in [-50,4] and [6,60]
    ).toDF("rid", "bx0", "bx1")
      .withColumn("geometry", st_makeEnvelope($"bx0", lit(-50.0), $"bx1", lit(50.0)))
      .select($"rid", $"geometry"))
    val inter = left.overlay(right, leftKey = "lid", how = "intersection",
        strategy = "grid", cellSize = Some(25.0))
      .select($"lid", $"rid", st_area($"geometry").as("a"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    // A ∩ strip1 = [0,4]x[0,10] = 40; A ∩ strip2 = [6,10]x[0,10] = 40
    assert(inter == Seq((1L, 10L, 40.0), (1L, 20L, 40.0)), inter.toString)
    val diff = left.overlay(right, leftKey = "lid", how = "difference",
        strategy = "grid", cellSize = Some(25.0))
      .select($"lid", st_area($"geometry").as("a"))
      .as[(Long, Double)].collect().sorted.toSeq
    // A minus BOTH strips (a 2-part multipolygon subtrahend) leaves the
    // middle band [4,6]x[0,10] = 20; B passes through untouched (area 100)
    assert(diff == Seq((1L, 20.0), (2L, 100.0)), diff.toString)
    // fully-erased rows: dropped by default (geopandas), kept on request
    val wide = GeoDataFrame(Seq((9L, -60.0, -60.0, 200.0, 70.0))
      .toDF("rid", "x0", "y0", "x1", "y1")
      .withColumn("geometry", st_makeEnvelope($"x0", $"y0", $"x1", $"y1"))
      .select($"rid", $"geometry"))
    val erased = left.overlay(wide, leftKey = "lid", how = "difference",
      strategy = "grid", cellSize = Some(200.0))
    assert(erased.select($"lid").as[Long].collect().isEmpty)
    val kept = left.overlay(wide, leftKey = "lid", how = "difference",
      strategy = "grid", cellSize = Some(200.0), dropEmpty = false)
    assert(kept.select($"lid").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("overlay union/symmetric_difference/identity: piece set + null-side attributes") {
    val left = GeoDataFrame(Seq((1L, 0.0, 0.0, 10.0, 10.0))
      .toDF("lid", "x0", "y0", "x1", "y1")
      .withColumn("geometry", st_makeEnvelope($"x0", $"y0", $"x1", $"y1"))
      .select($"lid", $"geometry"))
    val right = GeoDataFrame(Seq((10L, 6.0, -5.0, 20.0, 15.0))
      .toDF("rid", "bx0", "by0", "bx1", "by1")
      .withColumn("geometry", st_makeEnvelope($"bx0", $"by0", $"bx1", $"by1"))
      .select($"rid", $"geometry"))
    def pieces(how: String) =
      left.overlay(right, leftKey = "lid", how = how, strategy = "grid",
          cellSize = Some(25.0), rightKey = Some("rid"))
        .select($"lid", $"rid", st_area($"geometry").as("a"))
        .as[(Option[Long], Option[Long], Double)].collect().sortBy(_._3).toSeq
    // inter = [6,10]x[0,10] (40); left-only = [0,6]x[0,10] (60);
    // right-only = right minus left = 280 - 40 = 240
    assert(pieces("union") == Seq(
      (Some(1L), Some(10L), 40.0), (Some(1L), None, 60.0), (None, Some(10L), 240.0)))
    assert(pieces("symmetric_difference") == Seq(
      (Some(1L), None, 60.0), (None, Some(10L), 240.0)))
    assert(pieces("identity") == Seq(
      (Some(1L), Some(10L), 40.0), (Some(1L), None, 60.0)))
    // union of piece areas tiles the union of inputs: 100 + 280 - 40
    assert(pieces("union").map(_._3).sum == 340.0)
    // rightKey is required for right-side modes, with a clear error
    val err = intercept[IllegalArgumentException] {
      left.overlay(right, leftKey = "lid", how = "union",
        strategy = "grid", cellSize = Some(25.0))
    }
    assert(err.getMessage.contains("rightKey"))
  }

  test("sjoin dwithin + how=left on both strategies (padded grid cells)") {
    val pts = GeoDataFrame(Seq((1L, 0.0, 0.0), (2L, 50.0, 0.0), (3L, 500.0, 500.0))
      .toDF("id", "x", "y").withColumn("geometry", st_point($"x", $"y"))
      .select($"id", $"geometry"))
    val sites = GeoDataFrame(Seq((10L, 3.0, 4.0), (20L, 47.0, 4.0))
      .toDF("site", "sx", "sy").withColumn("geometry", st_point($"sx", $"sy"))
      .select($"site", $"geometry"))
    Seq("broadcast", "grid").foreach { strategy =>
      val out = pts.sjoin(sites, predicate = "dwithin", distance = 6.0,
          strategy = strategy, how = "left",
          cellSize = if (strategy == "grid") Some(10.0) else None)
        .select($"id", $"site").as[(Long, Option[Long])].collect().toSet
      // pt1 within 5 of site10 (3-4-5), pt2 within 5 of site20, pt3 nothing
      assert(out == Set((1L, Some(10L)), (2L, Some(20L)), (3L, None)),
        s"$strategy: $out")
    }
  }

  test("estimateUtmCrs: geographic, southern hemisphere, projected input") {
    def frameAt(lon: Double, lat: Double, crsOpt: Option[String] = None) = {
      val g = GeoDataFrame(Seq((1L, lon - 0.5, lat - 0.5), (2L, lon + 0.5, lat + 0.5))
        .toDF("id", "x", "y").withColumn("geometry", st_point($"x", $"y"))
        .select($"id", $"geometry"))
      crsOpt.map(g.setCrs).getOrElse(g)
    }
    assert(frameAt(13.4, 52.5).estimateUtmCrs() == "EPSG:32633")  // Berlin
    assert(frameAt(145.0, -37.8).estimateUtmCrs() == "EPSG:32755") // Melbourne
    assert(frameAt(-74.0, 40.7, Some("EPSG:4326")).estimateUtmCrs() == "EPSG:32618") // NYC
    // projected input: Berlin in web mercator routes back through lon/lat
    val berlin3857 = GeoDataFrame(Seq((1L, 1491592.0, 6893740.0))
      .toDF("id", "x", "y").withColumn("geometry", st_point($"x", $"y"))
      .select($"id", $"geometry")).setCrs("EPSG:3857")
    assert(berlin3857.estimateUtmCrs() == "EPSG:32633")
  }

  test("grid sjoin oversized=sentinel routes whole-domain rows instead of failing") {
    // one polygon spanning ~3000x3000 cells (> the 2^22 per-row explode
    // budget) among small ones; points on the left
    val pts = GeoDataFrame(Seq((1L, 5.0, 5.0), (2L, 2500.0, 2500.0), (3L, -100.0, -100.0))
      .toDF("pid", "px", "py").withColumn("geometry", st_point($"px", $"py"))
      .select($"pid", $"geometry"))
    val polys = GeoDataFrame(Seq(
      (10L, 0.0, 0.0, 3000.0, 3000.0),  // whole-domain outlier
      (20L, 4.0, 4.0, 6.0, 6.0)         // normal
    ).toDF("rid", "x0", "y0", "x1", "y1")
      .withColumn("geometry", st_makeEnvelope($"x0", $"y0", $"x1", $"y1"))
      .select($"rid", $"geometry"))
    // default fail policy aborts with guidance
    val ex = intercept[Exception] {
      pts.sjoin(polys, predicate = "intersects", strategy = "grid",
        cellSize = Some(1.0)).count()
    }
    assert(ex.getMessage != null)
    // sentinel policy completes and matches the broadcast ground truth
    val got = pts.sjoin(polys, predicate = "intersects", strategy = "grid",
        cellSize = Some(1.0), oversized = "sentinel")
      .select($"pid", $"rid").as[(Long, Long)].collect().sorted.toSeq
    val want = pts.sjoin(polys, predicate = "intersects", strategy = "broadcast")
      .select($"pid", $"rid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == want, s"got $got want $want")
    // exactly-once: no pair emitted twice
    assert(got.distinct == got)
    // oversized LEFT rows too (polygon on the left, dwithin padding path)
    val got2 = polys.sjoin(pts, predicate = "intersects", strategy = "grid",
        cellSize = Some(1.0), oversized = "sentinel")
      .select($"rid", $"pid").as[(Long, Long)].collect().sorted.toSeq
    val want2 = polys.sjoin(pts, predicate = "intersects", strategy = "broadcast")
      .select($"rid", $"pid").as[(Long, Long)].collect().sorted.toSeq
    assert(got2 == want2, s"got $got2 want $want2")
  }

  test("randomized: grid sjoin equals broadcast ground truth on mixed geometry") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 3) {
      val pts = (0 until 60).map { i =>
        (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100)
      }
      val boxes = (0 until 25).map { i =>
        val x0 = rnd.nextDouble() * 90; val y0 = rnd.nextDouble() * 90
        (100L + i, x0, y0, x0 + 1 + rnd.nextDouble() * 15, y0 + 1 + rnd.nextDouble() * 15)
      }
      val l = GeoDataFrame(pts.toDF("pid", "px", "py")
        .withColumn("geometry", st_point($"px", $"py")).select($"pid", $"geometry"))
      val r = GeoDataFrame(boxes.toDF("rid", "x0", "y0", "x1", "y1")
        .withColumn("geometry", st_makeEnvelope($"x0", $"y0", $"x1", $"y1"))
        .select($"rid", $"geometry"))
      for (cell <- Seq(7.0, 33.0)) {
        val grid = l.sjoin(r, predicate = "intersects", strategy = "grid",
            cellSize = Some(cell))
          .select($"pid", $"rid").as[(Long, Long)].collect().sorted.toSeq
        val bcast = l.sjoin(r, predicate = "intersects", strategy = "broadcast")
          .select($"pid", $"rid").as[(Long, Long)].collect().sorted.toSeq
        assert(grid == bcast, s"trial $trial cell $cell: ${grid.size} vs ${bcast.size}")
        assert(grid.distinct == grid, s"trial $trial cell $cell: duplicate pairs")
      }
    }
  }

  test("clip to mask") {
    val g = points(200)
    val mask = Wkt.read("POLYGON ((0 0, 30 0, 30 30, 0 30, 0 0))")
    val got = g.clip(mask).df.count()
    val want = g.df.filter($"x" <= 30 && $"y" <= 30).count()
    assert(got == want)
  }

  test("explodeParts") {
    val df = Seq((1, "MULTIPOINT ((1 1), (2 2))"), (2, "POINT (5 5)")).toDF("id", "wkt")
    val g = GeoDataFrame.fromWkt(df, "wkt").drop("wkt").toOption.get
    val rows = g.explodeParts().df
      .select($"id", $"part_index", st_x($"geometry").as("x"))
      .orderBy($"id", $"part_index").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1, 0))
  }

  test("explodeParts indexParts / ignoreIndex flags") {
    val df = Seq((1, "MULTIPOINT ((1 1), (2 2))"), (2, "POINT (5 5)")).toDF("id", "wkt")
    val g = GeoDataFrame.fromWkt(df, "wkt").drop("wkt").toOption.get
    // index_parts=False: rows explode but no part column appears
    val noParts = g.explodeParts(indexParts = false).df
    assert(noParts.count() == 3)
    assert(!noParts.columns.contains("part_index"))
    // ignore_index=True wins over index_parts=True: plain range index
    val ignored = g.explodeParts(indexParts = true, ignoreIndex = true).df
    assert(ignored.count() == 3)
    assert(!ignored.columns.contains("part_index"))
    // default keeps part_index (g12 behavior unchanged)
    assert(g.explodeParts().df.columns.contains("part_index"))
  }

  test("cx after toCrs filters in the new crs (stale pointSource dropped)") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300).map(i =>
      (i.toLong, rnd.nextDouble() * 40 - 20, rnd.nextDouble() * 40 - 20))
    val g = GeoDataFrame.pointsFromXY(rows.toDF("id", "x", "y"), "x", "y")
      .setCrs("EPSG:4326").toCrs("EPSG:3857")
    // box in mercator meters: xmin=1e6 pushed onto the stale lon column
    // (degrees, |lon| <= 20) would drop every row
    val got = g.cx(1e6, -3e6, 3e6, 3e6).df.count()
    val want = rows.count { case (_, lon, lat) =>
      val (mx, my) = graft.sql.Crs.lonLatToMercator(lon, lat)
      mx >= 1e6 && mx <= 3e6 && my >= -3e6 && my <= 3e6
    }
    assert(want > 0)
    assert(got == want)
  }

  test("withColumn over geometry or source columns clears stale metadata") {
    val g = points(50).calculateSpatialPartitions()
    assert(g.spatialPartitions.isDefined)
    // unrelated column keeps everything
    val plus = g.withColumn("extra", lit(1))
    assert(plus.spatialPartitions.isDefined)
    // overwriting the geometry drops envelopes and pointSource
    val moved = g.withColumn("geometry", st_translate(col("geometry"), lit(1000.0), lit(0.0)))
    assert(moved.spatialPartitions.isEmpty)
    assert(moved.pointSource.isEmpty)
    // overwriting a pointSource column drops the pushdown hint
    val gx = GeoDataFrame.pointsFromXY(points(20).df.select("id", "x", "y"), "x", "y")
    assert(gx.pointSource.isDefined)
    assert(gx.withColumn("x", col("x") * 2).pointSource.isEmpty)
  }

  test("clip/dissolve/explodeParts preserve CRS; dropped source column clears cx hint") {
    val g = points(50).setCrs("EPSG:3857")
    assert(g.clip(Wkt.read("POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))")).crs
      .contains("EPSG:3857"))
    assert(g.dissolve(Seq("id")).crs.contains("EPSG:3857"))
    assert(g.explodeParts().crs.contains("EPSG:3857"))
    // dropping a pointSource column must not leave cx emitting a filter on
    // a column that no longer exists
    val dropped = g.drop("x").toOption.get
    assert(dropped.cx(0, 0, 50, 50).df.count() >= 0) // resolves, no AnalysisException
  }

  test("renameGeometry keeps crs and metadata valid") {
    val g = points(20).setCrs("EPSG:4326").calculateSpatialPartitions()
    val renamed = g.renameGeometry("geom2")
    assert(renamed.geometryColumn == "geom2")
    assert(renamed.df.columns.contains("geom2") && !renamed.df.columns.contains("geometry"))
    assert(renamed.crs.contains("EPSG:4326"))
    assert(renamed.spatialPartitions.isDefined)
    assert(renamed.pointSource.isDefined)
    // rename collision rejected
    intercept[IllegalArgumentException](g.renameGeometry("x"))
    // spatial ops still work on the renamed column
    assert(renamed.cx(10, 10, 60, 60).df.count() ==
      g.cx(10, 10, 60, 60).df.count())
  }

  test("setGeometry switches the active geometry column") {
    val g = points(50).withColumn("buffered", st_buffer(col("geometry"), lit(2.0), lit(8)))
    val onPoints = GeoDataFrame(g.df).totalBounds()
    val onBuffers = GeoDataFrame(g.df).setGeometry("buffered").totalBounds()
    // buffered extents must be strictly wider in every direction
    assert(onBuffers.minX < onPoints.minX && onBuffers.maxX > onPoints.maxX)
    assert(onBuffers.minY < onPoints.minY && onBuffers.maxY > onPoints.maxY)
    intercept[IllegalArgumentException](GeoDataFrame(g.df).setGeometry("nope"))
    intercept[IllegalArgumentException](GeoDataFrame(g.df).setGeometry("x"))
  }

  test("crs set / toCrs roundtrip") {
    val g = points(10).setCrs("EPSG:4326")
    assert(g.crs.contains("EPSG:4326"))
    // scale coords into valid lon/lat range first
    val small = GeoDataFrame(
      g.df.withColumn("geometry", st_point($"x" / 10, $"y" / 10))).setCrs("EPSG:4326")
    val merc = small.toCrs("EPSG:3857")
    assert(merc.crs.contains("EPSG:3857"))
    val back = merc.toCrs("EPSG:4326")
    val orig = small.df.select(st_x($"geometry")).as[Double].collect().sorted
    val round = back.df.select(st_x($"geometry")).as[Double].collect().sorted
    orig.zip(round).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("persist keeps spatial partitions and storage level") {
    val g = points(300).spatialShuffle(by = "hilbert", level = 10, numPartitions = Some(4))
    assert(g.spatialPartitions.isDefined)
    val p = g.persist()
    assert(p.spatialPartitions.isDefined && p.spatialPartitions.get.length == 4)
    assert(p.df.storageLevel.useMemory, "expected a cached storage level")
    assert(p.df.count() == 300)
    // pruning still works on the persisted frame
    val e = p.spatialPartitions.get.head
    val sub = p.cx(e.minX, e.minY, e.maxX, e.maxY)
    assert(sub.df.count() > 0)
    p.unpersist()
    assert(!p.df.storageLevel.useMemory)
  }

  test("fromCsv ingests WKT and hex-WKB geometry columns") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv").toFile
    dir.deleteOnExit()
    val pts = points(50)
    // WKT roundtrip
    val wktPath = dir.getAbsolutePath + "/wkt"
    pts.df.select($"id", st_asText($"geometry").as("wkt"))
      .write.mode("overwrite").option("header", "true").csv(wktPath)
    val backWkt = GeoDataFrame.fromCsv(spark, wktPath, "wkt", format = "wkt",
      crs = Some("EPSG:4326"))
    assert(backWkt.crs.contains("EPSG:4326"))
    assert(backWkt.df.count() == 50)
    val sumX = pts.df.agg(sum($"x")).head().getDouble(0)
    val backSumX = backWkt.df.agg(sum(st_x($"geometry"))).head().getDouble(0)
    assert(math.abs(sumX - backSumX) < 1e-9)
    // hex-WKB roundtrip
    val wkbPath = dir.getAbsolutePath + "/wkb"
    pts.df.select($"id", hex(st_asBinary($"geometry")).as("wkb"))
      .write.mode("overwrite").option("header", "true").csv(wkbPath)
    val backWkb = GeoDataFrame.fromCsv(spark, wkbPath, "wkb", format = "wkb_hex")
    assert(backWkb.df.count() == 50)
    val backSumX2 = backWkb.df.agg(sum(st_x($"geometry"))).head().getDouble(0)
    assert(math.abs(sumX - backSumX2) < 1e-9)
  }

  test("spatialShuffle by quadkey: sorted disjoint ranges of valid tile keys") {
    val g = points(500).spatialShuffle(by = "quadkey", level = 8,
      numPartitions = Some(4), calculatePartitions = false)
    val keys = g.df.select($"_sfc_key".cast("string")).as[String]
      .mapPartitions(it => Iterator(it.toSeq)).collect().filter(_.nonEmpty)
    keys.foreach(ks => assert(ks == ks.sorted))
    val ranges = keys.map(ks => (ks.head, ks.last)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
    // every key is z base-4 digits (lexicographic order == z-order)
    keys.flatten.foreach(k =>
      assert(k.length == 8 && k.forall(c => c >= '0' && c <= '3')))
  }

  test("spatialShuffle produces sorted non-overlapping-ish key ranges") {
    val g = points(1000).spatialShuffle(by = "morton", level = 12, numPartitions = Some(8),
      calculatePartitions = false)
    val keys = g.df.select($"_sfc_key").as[Long]
      .mapPartitions(it => Iterator(it.toSeq)).collect().filter(_.nonEmpty)
    // within-partition sorted
    keys.foreach(ks => assert(ks == ks.sorted))
    // cross-partition ranges disjoint
    val ranges = keys.map(ks => (ks.head, ks.last)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
  }
}
