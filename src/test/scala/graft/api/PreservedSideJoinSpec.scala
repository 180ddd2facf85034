package graft.api

import graft.sql.TestSpark
import graft.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Outer joins keep one rule: the preserved side is left-joined to the
  * inner result on a key unique on that side. Every path that preserves a
  * side — grid `sjoin` how="left"/"right", the bounded and unbounded
  * `sjoinKnn` how="left" — must return exactly the rows of the indexed
  * broadcast join, which preserves the left side natively, and plan no
  * anti-join and no union.
  */
class PreservedSideJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Boxes, points and segments on a 50-unit lattice (the shapes of
    * `SpatialJoinRewriteSpec`), many on the 100-unit cell borders, plus
    * rows that match nothing, a null and an empty geometry, and an
    * attribute `grp` for `onAttribute`. With `duplicates`, every seventh
    * row appears twice.
    */
  private def lattice(idCol: String, shift: Double, duplicates: Boolean = false): DataFrame = {
    val rnd = new scala.util.Random(23 + shift.toInt)
    def box(x: Double, y: Double, w: Double) =
      s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + w}, $x ${y + w}, $x $y))"
    val boxes = for (i <- 0 until 6; j <- 0 until 6) yield box(50.0 * i + shift, 50.0 * j, 50.0)
    val small = (0 until 30).map(_ => box(rnd.nextInt(30) * 10.0, rnd.nextInt(30) * 10.0, 10.0))
    val points = (0 until 120).map(_ => s"POINT(${rnd.nextInt(60) * 5.0} ${rnd.nextInt(60) * 5.0})")
    val lines = (0 until 40).map { _ =>
      val (x, y) = (rnd.nextInt(30) * 10.0, rnd.nextInt(30) * 10.0)
      s"LINESTRING($x $y, ${x + 60 + shift} ${y + 35})"
    }
    val far = Seq(s"POINT(${5000 + shift} 5000)", "POLYGON((-900 -900, -890 -900, -890 -890, -900 -900))")
    val rows = (boxes ++ small ++ points ++ lines ++ far ++ Seq(null, "POINT EMPTY"))
      .zipWithIndex.map { case (w, i) => (i.toLong, i % 3L, w) }
    (rows ++ rows.filter(r => duplicates && r._1 % 7 == 0)).toDF(idCol, "grp", "wkt")
      .select(col(idCol), col("grp"), st_geomFromWKT(col("wkt")).as("geometry"))
  }

  private def pairs(df: DataFrame, l: String, r: String): Seq[(Option[Long], Option[Long])] =
    df.select(col(l), col(r)).as[(Option[Long], Option[Long])].collect().toSeq.sorted

  private def hasNoAntiOrUnion(df: DataFrame): Unit = {
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("LeftAnti") && !p.contains("Union"), p)
  }

  test("grid sjoin how=left/right return the broadcast how=left rows") {
    // duplicate left rows: each copy is preserved and matched on its own
    val left = GeoDataFrame(lattice("id", 0.0, duplicates = true))
    val right = GeoDataFrame(lattice("rid", 25.0))
    val cases = Seq(("intersects", "intersects", Nil), ("within", "contains", Nil),
      ("dwithin", "dwithin", Nil), ("intersects", "intersects", Seq("grp")),
      ("dwithin", "dwithin", Seq("grp")))
    for ((predicate, swapped, attrs) <- cases) {
      def join(a: GeoDataFrame, b: GeoDataFrame, pred: String, strategy: String, how: String) =
        a.sjoin(b, predicate = pred, strategy = strategy, cellSize = Some(100.0),
          distance = 25.0, how = how, onAttribute = attrs)
      val gridLeft = join(left, right, predicate, "grid", "left")
      val bcastLeft = join(left, right, predicate, "broadcast", "left")
      val want = pairs(bcastLeft, "id", "rid")
      assert(want.exists(_._2.isEmpty) && want.exists(_._2.nonEmpty))
      assert(pairs(gridLeft, "id", "rid") == want, s"left $predicate $attrs")
      assert(gridLeft.columns.toSeq == bcastLeft.columns.toSeq)
      hasNoAntiOrUnion(gridLeft)
      // how="right" preserves the right side: the broadcast join with the
      // sides swapped preserves the same rows
      val gridRight = join(left, right, predicate, "grid", "right")
      val wantRight = pairs(join(right, left, swapped, "broadcast", "left"), "id", "rid")
      assert(pairs(gridRight, "id", "rid") == wantRight, s"right $predicate $attrs")
      hasNoAntiOrUnion(gridRight)
    }
  }

  /** Integer-lattice points (ties at the k-th distance), two right points
    * tied at exactly the radius of a lone left point (3-4-5 offsets), a
    * few segments, a far point, a null and an empty geometry. The left
    * frame carries a `dist` column of its own.
    */
  private def knnSides(): (GeoDataFrame, GeoDataFrame) = {
    val rnd = new scala.util.Random(5)
    def pts(n: Int) = (0 until n).map(_ => s"POINT (${rnd.nextInt(30)} ${rnd.nextInt(30)})")
    val segs = (0 until 6).map { _ =>
      val (x, y) = (rnd.nextInt(30), rnd.nextInt(30))
      s"LINESTRING ($x $y, ${x + 4} ${y + 3})"
    }
    def side(key: String, wkts: Seq[String]) = GeoDataFrame(
      wkts.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF(key, "wkt")
        .select(col(key), st_geomFromWKT(col("wkt")).as("geometry")))
    val left = side("lid", pts(90) ++ segs ++ Seq("POINT (-100 -100)", "POINT (500 500)",
      null, "POINT EMPTY"))
    val right = side("rid", pts(60) ++ Seq("POINT (-97 -96)", "POINT (-100 -105)", null,
      "POINT EMPTY"))
    (GeoDataFrame(left.df.withColumn("dist", col("lid") * 1.5)), right)
  }

  private def nearest(df: DataFrame): Seq[(Long, Option[Long], Option[Double])] =
    df.select(col("lid"), col("rid"), round(col("dist"), 9))
      .as[(Long, Option[Long], Option[Double])].collect().toSeq.sorted

  test("nearest how=left: bounded, unbounded and broadcast kNN agree") {
    val (left, right) = knnSides()
    for (k <- Seq(1, 3); exclusive <- Seq(false, true); cellSize <- Seq(3.0, 16.0)) {
      val bounded = left.sjoinKnn(right, leftKey = "lid", k = k, cellSize = cellSize,
        exclusive = exclusive, maxDistance = 5.0, how = "left")
      val boundedWant = nearest(left.sjoinKnnBroadcast(right, k, maxDistance = 5.0,
        how = "left", exclusive = exclusive))
      val ctx = s"k=$k exclusive=$exclusive cellSize=$cellSize"
      // (-100 -100) meets two right rows tied at exactly the radius
      assert(boundedWant.count(r => r._1 == 96L && r._3.contains(5.0)) == 2, ctx)
      assert(boundedWant.exists(_._2.isEmpty), ctx)
      assert(nearest(bounded) == boundedWant, s"bounded $ctx")
      assert(bounded.columns.count(_ == "dist") == 1, ctx)
      val unbounded = left.sjoinKnn(right, leftKey = "lid", k = k, cellSize = cellSize,
        exclusive = exclusive, how = "left")
      assert(nearest(unbounded) == nearest(left.sjoinKnnBroadcast(right, k, how = "left",
        exclusive = exclusive)), s"unbounded $ctx")
      for (df <- Seq(bounded, unbounded)) hasNoAntiOrUnion(df)
    }
    hasNoAntiOrUnion(left.sjoinKnnBroadcast(right, 3, maxDistance = 5.0, how = "left"))
  }

  test("a null leftKey comes back once, null-padded, on the rank paths") {
    val (left, right) = knnSides()
    val keyless = GeoDataFrame(left.df.withColumn("lid",
      when(col("lid") === 0L, lit(null)).otherwise(col("lid"))))
    for (maxDistance <- Seq(5.0, Double.PositiveInfinity)) {
      val out = keyless.sjoinKnn(right, leftKey = "lid", k = 3, cellSize = 4.0,
          maxDistance = maxDistance, how = "left")
        .filter(col("lid").isNull).select(col("rid"), col("dist"))
        .as[(Option[Long], Option[Double])].collect().toSeq
      assert(out == Seq((None, None)), s"maxDistance=$maxDistance")
    }
  }

  test("sjoinNearestSphere how=left replaces the left distance column") {
    val left = GeoDataFrame(Seq((1L, 0.0, 60.0, 7.0), (2L, 90.0, 10.0, 8.0))
      .toDF("lid", "lon", "lat", "dist_m")
      .select($"lid", $"dist_m", st_point($"lon", $"lat").as("geometry")))
    val right = GeoDataFrame(Seq((11L, 0.0, 61.0)).toDF("rid", "lon", "lat")
      .select($"rid", st_point($"lon", $"lat").as("geometry")))
    val out = left.sjoinNearestSphere(right, "lid", 200000.0, how = "left")
    assert(out.columns.count(_ == "dist_m") == 1)
    hasNoAntiOrUnion(out)
    val got = out.select($"lid", $"rid", $"dist_m")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    // one degree of latitude on the 6371008.8 m sphere
    assert(got.map(g => (g._1, g._2)) == Seq((1L, Some(11L)), (2L, None)))
    assert(math.abs(got.head._3.get - 111195.08) < 0.01 && got(1)._3.isEmpty, got)
  }
}
