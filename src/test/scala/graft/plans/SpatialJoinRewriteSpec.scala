package graft.plans

import graft.sql.TestSpark
import graft.sql.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The grid-join rewrite must (a) only fire when opted in and both sides
  * are large, (b) produce an equi-join plan (no nested-loop / cartesian),
  * and (c) return exactly the rows of the un-rewritten join.
  */
class SpatialJoinRewriteSpec extends AnyFunSuite {
  // independent session: conf changes here must not leak into other suites
  lazy val spark = TestSpark.spark.newSession()

  private def fixtures() = {
    import spark.implicits._
    graft.sql.functions.install(spark)
    val rnd = new scala.util.Random(11)
    val pts = (0 until 2000).map(i => (i.toLong, rnd.nextDouble() * 1000, rnd.nextDouble() * 1000))
      .toDF("id", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y")))
    val boxes = (0 until 50).map { k =>
      val x0 = (k % 10) * 100.0; val y0 = (k / 10) * 200.0
      (k.toLong, x0, y0)
    }.toDF("rid", "x0", "y0")
      .withColumn("bgeom", st_makeEnvelope(col("x0"), col("y0"),
        col("x0") + 150.0, col("y0") + 250.0))
    (pts, boxes)
  }

  test("rewrite fires under conf, plans an equi-join, and preserves results") {
    val (pts, boxes) = fixtures()
    pts.createOrReplaceTempView("pts")
    boxes.createOrReplaceTempView("boxes")
    val sql = "SELECT id, rid FROM pts JOIN boxes ON st_within(geometry, bgeom)"

    // baseline: no rewrite (conf unset) — broadcast NLJ
    spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
    val baseline = spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(baseline.nonEmpty)

    // opt in; force "both sides large" by disabling broadcast
    spark.conf.set(SpatialJoinRewrite.CELL_SIZE_KEY, "100.0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rewritten = spark.sql(sql)
      val optimized = rewritten.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("st_gridcells_sized"), optimized)
      val physical = rewritten.queryExecution.executedPlan.toString()
      assert(!physical.contains("BroadcastNestedLoopJoin") &&
        !physical.contains("CartesianProduct"), physical)
      assert(physical.contains("Join"), physical)
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.sameElements(baseline),
        s"rewritten join returned ${got.length} rows vs ${baseline.length}")
    } finally {
      spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("st_dwithin join rewrites to a padded-cell equi-join with same rows") {
    val (pts, boxes) = fixtures()
    // point-vs-point distance join: both sides "large" once broadcast is off
    val l = pts.select(col("id").as("id_a"), col("geometry").as("ga"))
    val r = pts.select(col("id").as("id_b"), col("geometry").as("gb"))
    val cond = st_dwithin(col("ga"), col("gb"), lit(25.0)) && col("id_a") < col("id_b")

    spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
    val baseline = l.join(r, cond).select("id_a", "id_b")
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    assert(baseline.nonEmpty)

    spark.conf.set(SpatialJoinRewrite.CELL_SIZE_KEY, "100.0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rewritten = l.join(r, cond).select("id_a", "id_b")
      val optimized = rewritten.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("st_gridcells_sized_pad"), optimized)
      val physical = rewritten.queryExecution.executedPlan.toString()
      assert(!physical.contains("BroadcastNestedLoopJoin") &&
        !physical.contains("CartesianProduct"), physical)
      val got = rewritten.collect().map(x => (x.getLong(0), x.getLong(1))).sorted
      assert(got.length == baseline.length, s"${got.length} vs ${baseline.length}")
      assert(got.sameElements(baseline))
    } finally {
      spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  /** Boxes, points and segments on a 50-unit lattice: equal, edge-sharing,
    * overlapping, nested, crossing and boundary-touching pairs, many of
    * them on the 100-unit cell borders, so every predicate has matches.
    */
  private def mixedShapes(idCol: String, geomCol: String, shift: Double) = {
    import spark.implicits._
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
    (boxes ++ small ++ points ++ lines).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF(idCol, "wkt")
      .select(col(idCol), st_geomFromWKT(col("wkt")).as(geomCol))
  }

  test("sjoin predicates: SQL rewrite, grid and broadcast agree") {
    import graft.api.GeoDataFrame
    val (pts, _) = fixtures()
    val l = mixedShapes("id", "geometry", 0.0)
    val r = mixedShapes("rid", "geometry", 25.0)
    val cases = Seq("intersects" -> "st_intersects", "contains" -> "st_contains",
      "contains_properly" -> "st_containsproperly", "within" -> "st_within",
      "covers" -> "st_covers", "covered_by" -> "st_coveredby",
      "touches" -> "st_touches", "crosses" -> "st_crosses",
      "overlaps" -> "st_overlaps", "dwithin" -> "st_dwithin")
    // the dwithin point cloud of the original test stays as a second input
    val inputs = Seq((l, r, cases),
      (pts.select(col("id"), col("geometry")),
        pts.select(col("id").as("rid"), col("geometry")), Seq("dwithin" -> "st_dwithin")))
    for ((ldf, rdf, preds) <- inputs; (predicate, fn) <- preds) {
      def sjoin(strategy: String) =
        GeoDataFrame(ldf).sjoin(GeoDataFrame(rdf), predicate = predicate,
            strategy = strategy, cellSize = Some(100.0), distance = 25.0)
          .select(col("id"), col("rid"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val b = sjoin("broadcast")
      val g = sjoin("grid")
      ldf.createOrReplaceTempView("sl")
      rdf.withColumnRenamed("geometry", "rgeom").createOrReplaceTempView("sr")
      val on = if (predicate == "dwithin") s"$fn(geometry, rgeom, 25.0)" else s"$fn(geometry, rgeom)"
      spark.conf.set(SpatialJoinRewrite.CELL_SIZE_KEY, "100.0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sql = try {
        val q = spark.sql(s"SELECT id, rid FROM sl JOIN sr ON $on")
        assert(q.queryExecution.optimizedPlan.toString.contains("st_gridcells_sized"), predicate)
        q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      } finally {
        spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      assert(b.nonEmpty, predicate)
      assert(g == b, s"$predicate: grid ${g.length} rows vs broadcast ${b.length}")
      assert(sql == b, s"$predicate: SQL rewrite ${sql.length} rows vs broadcast ${b.length}")
    }
  }

  test("the rule leaves its own output unchanged") {
    val (pts, boxes) = fixtures()
    pts.createOrReplaceTempView("pts")
    boxes.createOrReplaceTempView("boxes")
    spark.conf.set(SpatialJoinRewrite.CELL_SIZE_KEY, "100.0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the rule reads its conf from the active session
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    try {
      for (sql <- Seq("SELECT id, rid FROM pts JOIN boxes ON st_within(geometry, bgeom)",
          "SELECT a.id, b.id FROM pts a JOIN pts b ON st_dwithin(a.geometry, b.geometry, 25.0)")) {
        val qe = spark.sql(sql).queryExecution
        val once = SpatialJoinRewrite(qe.analyzed)
        assert(once.toString.contains("st_gridcells_sized"), once)
        val twice = SpatialJoinRewrite(once)
        assert(twice == once, s"second application changed the plan:\n$twice")
        assert(SpatialJoinRewrite(qe.optimizedPlan) == qe.optimizedPlan)
      }
    } finally {
      active match {
        case Some(a) => org.apache.spark.sql.SparkSession.setActiveSession(a)
        case None    => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
      spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("no rewrite when a side is broadcast-sized") {
    val (pts, boxes) = fixtures()
    spark.conf.set(SpatialJoinRewrite.CELL_SIZE_KEY, "100.0")
    try {
      // default broadcast threshold: the 50-row boxes side is tiny
      val joined = pts.join(boxes, st_within(col("geometry"), col("bgeom")))
      val optimized = joined.queryExecution.optimizedPlan.toString()
      assert(!optimized.contains("st_gridcells_sized"), optimized)
    } finally spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
  }

  test("overlapping-boxes self join: anchor cell emits each pair once") {
    import spark.implicits._
    graft.sql.functions.install(spark)
    // boxes of width 120 on a 100-cell grid: every envelope spans >=2 cells,
    // so duplicate suppression actually matters
    val boxes = (0 until 300).map { k =>
      val x0 = (k % 20) * 60.0; val y0 = (k / 20) * 60.0
      (k.toLong, x0, y0)
    }.toDF("bid", "bx", "by")
      .withColumn("g", st_makeEnvelope(col("bx"), col("by"),
        col("bx") + 120.0, col("by") + 120.0))
    val l = boxes.select(col("bid").as("id_a"), col("g").as("ga"))
    val r = boxes.select(col("bid").as("id_b"), col("g").as("gb"))
    val cond = st_intersects(col("ga"), col("gb")) && col("id_a") < col("id_b")

    spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
    val baseline = l.join(r, cond).select("id_a", "id_b")
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    spark.conf.set(SpatialJoinRewrite.CELL_SIZE_KEY, "100.0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val got = l.join(r, cond).select("id_a", "id_b")
        .collect().map(x => (x.getLong(0), x.getLong(1))).sorted
      assert(got.length == baseline.length, s"${got.length} vs ${baseline.length}")
      assert(got.sameElements(baseline))
    } finally {
      spark.conf.unset(SpatialJoinRewrite.CELL_SIZE_KEY)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
