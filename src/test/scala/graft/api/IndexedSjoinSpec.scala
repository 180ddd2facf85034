package graft.api

import graft.sql.TestSpark
import graft.sql.functions.{st_contains, st_containsProperly, st_coveredBy, st_covers,
  st_crosses, st_dwithin, st_intersects, st_overlaps, st_touches, st_within}
import org.apache.spark.sql.{Column, DataFrame, GraftInterop, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential: the indexed broadcast sjoin and nearest joins
  * (`IndexedSpatialJoinExec`: a prepared STR-tree build side) must produce
  * exactly the rows of the nested-loop plan, for every predicate, how=,
  * onAttribute, and the null/empty-geometry edge cases.
  */
class IndexedSjoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val stPred: Map[String, (Column, Column) => Column] = Map(
    "intersects" -> st_intersects, "contains" -> st_contains, "within" -> st_within,
    "covers" -> st_covers, "covered_by" -> st_coveredBy,
    "contains_properly" -> st_containsProperly, "touches" -> st_touches,
    "crosses" -> st_crosses, "overlaps" -> st_overlaps)

  /** The nested-loop reference: a plain join of the two frames (right
    * geometry suffixed as sjoin does) with no hint, run with broadcasting
    * off, which the indexed strategy declines. `f` must run its actions
    * inside.
    */
  private def nestedLoop[T](l: GeoDataFrame, r: GeoDataFrame,
      cond: (Column, Column) => Column, how: String = "inner")(f: DataFrame => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rr = r.df.withColumnRenamed("geometry", "geometry_right")
      val df = l.df.join(rr, cond(l.df("geometry"), rr("geometry_right")), how)
      assert(!plan(df).contains("IndexedSpatialJoin"), plan(df))
      f(df)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  // deterministic mixed-geometry sides: points, boxes, lines, an empty
  // geometry and a null on each side
  private lazy val leftG: GeoDataFrame = {
    val rnd = new scala.util.Random(11)
    val wkts = (0 until 300).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
      i % 5 match {
        case 0 | 1 | 2 => s"POINT ($x $y)"
        case 3 => s"LINESTRING ($x $y, ${x + 3} ${y + 2})"
        case 4 => s"POLYGON (($x $y, ${x + 4} $y, ${x + 4} ${y + 4}, $x ${y + 4}, $x $y))"
      }
    } :+ "POINT EMPTY"
    val df = wkts.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("lid", "wkt")
      .union(Seq((9999L, null.asInstanceOf[String])).toDF("lid", "wkt"))
    GeoDataFrame.fromWkt(df, "wkt")
  }

  private lazy val rightG: GeoDataFrame = {
    val rnd = new scala.util.Random(23)
    val wkts = (0 until 40).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
      val s = 2 + rnd.nextDouble() * 10
      if (i % 4 == 3) s"LINESTRING ($x $y, ${x + s} $y, ${x + s} ${y + s})"
      else s"POLYGON (($x $y, ${x + s} $y, ${x + s} ${y + s}, $x ${y + s}, $x $y))"
    } :+ "POLYGON EMPTY"
    val df = wkts.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("rid", "wkt")
      .union(Seq((8888L, null.asInstanceOf[String])).toDF("rid", "wkt"))
    GeoDataFrame.fromWkt(df, "wkt")
  }

  private def pairs(df: DataFrame): Seq[(Any, Any)] =
    df.select(col("lid"), col("rid")).collect()
      .map(r => (r.get(0), r.get(1))).toSeq
      .sortBy(t => (String.valueOf(t._1), String.valueOf(t._2)))

  for (pred <- Seq("intersects", "contains", "within", "covers", "covered_by",
      "contains_properly", "touches", "crosses", "overlaps")) {
    test(s"indexed == nested-loop for predicate=$pred") {
      val got = pairs(leftG.sjoin(rightG, predicate = pred, strategy = "broadcast"))
      val want = nestedLoop(leftG, rightG, stPred(pred))(pairs)
      assert(got == want, s"pred=$pred got=${got.size} want=${want.size}")
      if (pred == "intersects" || pred == "within") assert(got.nonEmpty)
    }
  }

  test("indexed == nested-loop for dwithin (envelope-expanded probe)") {
    for (d <- Seq(0.0, 1.5, 25.0)) {
      val got = pairs(leftG.sjoin(rightG, predicate = "dwithin", strategy = "broadcast",
        distance = d))
      val want = nestedLoop(leftG, rightG, st_dwithin(_, _, lit(d)))(pairs)
      assert(got == want, s"d=$d")
      if (d > 0) assert(got.nonEmpty)
    }
  }

  test("how=left and how=right match the nested-loop plan") {
    for (how <- Seq("left", "right")) {
      val got = pairs(leftG.sjoin(rightG, predicate = "intersects", strategy = "broadcast",
        how = how))
      val want = nestedLoop(leftG, rightG, st_intersects, how)(pairs)
      assert(got == want, s"how=$how")
      // unmatched rows present with null other side
      if (how == "left") assert(got.exists(_._2 == null))
      if (how == "right") assert(got.exists(_._1 == null))
    }
  }

  test("onAttribute equality refines candidates identically") {
    val l2 = GeoDataFrame(leftG.df.withColumn("cat", (col("lid") % 3).cast("long")))
    val r2 = GeoDataFrame(rightG.df.withColumn("cat", (col("rid") % 3).cast("long")))
    val got = pairs(l2.sjoin(r2, predicate = "intersects", strategy = "broadcast",
      onAttribute = Seq("cat")))
    val r2Cat = GeoDataFrame(r2.df.withColumnRenamed("cat", "cat_right"))
    val want = nestedLoop(l2, r2Cat,
      (a, b) => st_intersects(a, b) && col("cat") === col("cat_right"))(pairs)
    assert(got == want && got.nonEmpty)
    // strictly fewer pairs than without the attribute filter
    val unfiltered = pairs(l2.sjoin(r2, predicate = "intersects", strategy = "broadcast"))
    assert(got.size < unfiltered.size)
  }

  test("empty right side produces no inner rows; left-outer keeps all left") {
    val emptyRight = GeoDataFrame(rightG.df.filter(col("rid") < 0))
    val inner = leftG.sjoin(emptyRight, predicate = "intersects", strategy = "broadcast")
    assert(inner.count() == 0)
    val left = leftG.sjoin(emptyRight, predicate = "intersects", strategy = "broadcast",
      how = "left")
    assert(left.count() == leftG.df.count())
  }

  test("sjoinNearestBroadcast matches brute-force nearest incl. ties") {
    // brute force with the same kernel: cross product via the nested-loop
    // join at a huge dwithin radius, then min-rank per left row
    val want = bruteForceKnn(1)

    val got = leftG.sjoinNearestBroadcast(rightG)
      .select(col("lid"), col("rid"), round(col("dist"), 9).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(got == want && got.nonEmpty)
  }

  test("sjoinNearestBroadcast maxDistance bound and how=left") {
    val d = 5.0
    val inner = leftG.sjoinNearestBroadcast(rightG, maxDistance = d)
    assert(inner.filter(col("dist") > d).count() == 0)
    val left = leftG.sjoinNearestBroadcast(rightG, maxDistance = d, how = "left")
    // every left row survives; unmatched ones carry null rid AND null dist
    val nLeft = leftG.df.count()
    assert(left.select(col("lid")).distinct().count() == nLeft)
    val unmatched = left.filter(col("rid").isNull)
    assert(unmatched.count() > 0)
    assert(unmatched.filter(col("dist").isNotNull).count() == 0)
    // matched part equals the inner result
    val a = left.filter(col("rid").isNotNull).select(col("lid"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val b = inner.select(col("lid"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(a == b)
  }

  /** (lid, rid, distance) of the rank() <= k nearest right rows per left
    * row, from the nested-loop cross product.
    */
  private def bruteForceKnn(k: Int): Seq[(Long, Long, Double)] =
    nestedLoop(leftG, rightG, st_dwithin(_, _, lit(1e9))) { joined =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lid")).orderBy(col("d"))
      joined.withColumn("d",
          graft.sql.functions.st_distance(col("geometry"), col("geometry_right")))
        .withColumn("_rk", rank().over(w)).filter(col("_rk") <= k)
        .select(col("lid"), col("rid"), round(col("d"), 9).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    }

  test("sjoinKnnBroadcast matches brute-force rank()<=k") {
    for (k <- Seq(1, 3, 5)) {
      val want = bruteForceKnn(k)
      val got = leftG.sjoinKnnBroadcast(rightG, k)
        .select(col("lid"), col("rid"), round(col("dist"), 9).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      assert(got == want, s"k=$k got=${got.size} want=${want.size}")
      assert(got.nonEmpty)
    }
  }

  test("sjoinKnnBroadcast respects maxDistance and how=left") {
    val k = 3; val d = 8.0
    val inner = leftG.sjoinKnnBroadcast(rightG, k, maxDistance = d)
    assert(inner.filter(col("dist") > d).count() == 0)
    val left = leftG.sjoinKnnBroadcast(rightG, k, maxDistance = d, how = "left")
    assert(left.select(col("lid")).distinct().count() == leftG.df.count())
    assert(left.filter(col("rid").isNull).count() > 0)
  }

  test("grid sjoinNearest(k=) and sjoinKnn(k=) agree with broadcast kNN") {
    // point-only left side with a unique left key (the leftKey contract)
    val lpts = GeoDataFrame(leftG.df.filter(col("lid") % 5 < 3 && col("lid") < 9000 &&
      col("geometry").isNotNull && !graft.sql.functions.st_isEmpty(col("geometry"))))
    val k = 3
    val truth = lpts.sjoinKnnBroadcast(rightG, k)
      .select(col("lid"), col("rid"), round(col("dist"), 9).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val viaKnn = lpts.sjoinKnn(rightG, leftKey = "lid", k = k, cellSize = 10.0)
      .select(col("lid"), col("rid"), round(col("dist"), 9).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(viaKnn == truth && truth.nonEmpty)
    // bounded grid version at a radius covering everything
    val viaGrid = lpts.sjoinKnn(rightG, leftKey = "lid", maxDistance = 500.0,
        cellSize = 250.0, k = k)
      .select(col("lid"), col("rid"), round(col("dist"), 9).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(viaGrid == truth)
  }

  test("sjoinNearestBroadcast exclusive drops the coincident self-match") {
    // right side = a copy of some left points: nearest of each is itself at
    // distance 0 unless exclusive
    val self = GeoDataFrame(
      leftG.df.filter(col("lid") < 50 && col("lid") % 5 < 3) // points only
        .select(col("lid").as("rid2"), col("geometry")))
    val incl = leftG.sjoinNearestBroadcast(self)
      .filter(col("lid") === col("rid2") && col("dist") === 0.0)
    assert(incl.count() > 0)
    val excl = leftG.sjoinNearestBroadcast(self, exclusive = true)
      .filter(col("lid") === col("rid2") && col("dist") === 0.0)
    assert(excl.count() == 0)
  }

  test("user columns named like internal scratch columns survive") {
    // a user frame already carrying _sjoin_prep_idx / _sjoin_nn / _cand_n
    // must come through every indexed/nearest path with its values intact
    // (the implementation must pick collision-free internal names)
    val lu = GeoDataFrame(leftG.df.filter(col("lid") < 100 && col("lid") % 5 < 3)
      .withColumn("_sjoin_nn", col("lid") * 2)
      .withColumn("_cand_n", col("lid") + 7))
    val ru = GeoDataFrame(rightG.df.filter(col("rid") < 100)
      .select(col("rid"), col("geometry"))
      .withColumn("_sjoin_prep_idx", col("rid") * 3))
    val bj = lu.sjoin(ru, predicate = "intersects", strategy = "broadcast")
    assert(bj.columns.count(_ == "_sjoin_nn") == 1)
    assert(bj.columns.count(_ == "_sjoin_prep_idx") == 1)
    bj.select(col("lid"), col("_sjoin_nn"), col("rid"), col("_sjoin_prep_idx"))
      .collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(0) * 2)
        assert(r.getLong(3) == r.getLong(2) * 3)
      }
    val nb = lu.sjoinNearestBroadcast(ru)
    nb.select(col("lid"), col("_sjoin_nn"), col("_cand_n"), col("rid"),
        col("_sjoin_prep_idx")).collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * 2 && r.getLong(2) == r.getLong(0) + 7)
      assert(r.getLong(4) == r.getLong(3) * 3)
    }
    val kb = lu.sjoinKnnBroadcast(ru, 2)
    assert(kb.filter(col("_sjoin_nn") =!= col("lid") * 2).count() == 0)
    // grid path: sjoinKnn drops ONLY its own scratch column, not the
    // user's _cand_n
    val gn = lu.sjoinKnn(ru, "lid", k = 1, maxDistance = 30.0, cellSize = 30.0)
    assert(gn.columns.count(_ == "_cand_n") == 1)
    assert(gn.filter(col("_cand_n") =!= col("lid") + 7).count() == 0)
  }

  test("indexed plan is an IndexedSpatialJoin (no nested loop)") {
    val p = plan(leftG.sjoin(rightG, predicate = "intersects", strategy = "broadcast"))
    assert(p.contains("IndexedSpatialJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("strategy=broadcast plans the indexed join with broadcasting off: the hint wins") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = leftG.sjoin(rightG, predicate = "intersects", strategy = "broadcast")
      assert(plan(df).contains("IndexedSpatialJoin"), plan(df))
      // auto picks the grid when broadcasting is off
      val auto = leftG.sjoin(rightG, predicate = "intersects", cellSize = Some(10.0))
      assert(!plan(auto).contains("IndexedSpatialJoin"), plan(auto))
      assert(pairs(df) == pairs(auto) && pairs(df).nonEmpty)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("broadcast how=left is one left-outer IndexedSpatialJoin, no checkpoint or anti-join") {
    val df = leftG.sjoin(rightG, predicate = "intersects", strategy = "broadcast", how = "left")
    val p = plan(df)
    assert("IndexedSpatialJoin".r.findAllIn(p).size == 1, p)
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("LeftAnti") && !p.contains("ExistingRDD"), p)
    val logical = df.queryExecution.analyzed.toString
    assert(!logical.contains("LogicalRDD"), logical)
  }

  test("broadcast nearest joins plan IndexedSpatialJoin, no hash join or local relation") {
    for (df <- Seq(leftG.sjoinNearestBroadcast(rightG), leftG.sjoinKnnBroadcast(rightG, 3),
        leftG.sjoinNearestBroadcast(rightG, maxDistance = 5.0, how = "left"))) {
      val p = plan(df)
      assert(p.contains("IndexedSpatialJoin"), p)
      // the collected right side used to come back as an index-stamped
      // local relation, broadcast for a hash join on the exploded index
      assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange") &&
        !p.contains("Generate"), p)
    }
  }

  test("column names and order of every broadcast and nearest entry point") {
    val l = GeoDataFrame(leftG.df.select(col("lid"), col("geometry"), col("lid") % 3 as "cat"))
    val r = GeoDataFrame(rightG.df.select(col("rid"), col("geometry"), col("rid") % 3 as "cat"))
    val leftCols = Seq("lid", "geometry", "cat")
    val rightCols = Seq("rid", "geometry_right", "cat_right")
    assert(l.df.columns.toSeq == leftCols && r.df.columns.toSeq == Seq("rid", "geometry", "cat"))
    for (how <- Seq("inner", "left", "right"))
      assert(l.sjoin(r, strategy = "broadcast", how = how).columns.toSeq ==
        leftCols ++ rightCols, how)
    assert(l.sjoin(r, strategy = "broadcast", onAttribute = Seq("cat")).columns.toSeq ==
      leftCols ++ rightCols)
    for (how <- Seq("inner", "left")) {
      assert(l.sjoinNearestBroadcast(r, how = how).columns.toSeq ==
        leftCols ++ Seq("dist") ++ rightCols, how)
      assert(l.sjoinKnnBroadcast(r, 2, distanceCol = "d", how = how).columns.toSeq ==
        leftCols ++ Seq("d") ++ rightCols, how)
    }
    // the distance column is non-null for inner, nullable for how=left
    assert(!l.sjoinNearestBroadcast(r).schema("dist").nullable)
    assert(l.sjoinNearestBroadcast(r, how = "left").schema("dist").nullable)
  }

  test("a new session gets the indexed plan without an explicit install") {
    // one fresh session per entry point: each must install by itself
    val entryPoints: Seq[(GeoDataFrame, GeoDataFrame) => DataFrame] = Seq(
      _.sjoin(_, strategy = "broadcast"), _.sjoinNearestBroadcast(_), _.sjoinKnnBroadcast(_, 2))
    for (join <- entryPoints) {
      val s2: SparkSession = spark.newSession()
      assert(!s2.experimental.extraStrategies.contains(graft.plans.IndexedSpatialJoinStrategy))
      def frame(df: DataFrame) = GeoDataFrame(s2.createDataFrame(df.rdd, df.schema))
      val df = join(frame(leftG.df), frame(rightG.df))
      assert(df.sparkSession eq s2)
      assert(plan(df).contains("IndexedSpatialJoin"), plan(df))
      assert(pairs(df) == pairs(join(leftG, rightG)) && pairs(df).nonEmpty)
    }
  }

  /** Jobs started while `f` runs, late job-end events included. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftInterop.drainListeners(sc)
    sc.addSparkListener(listener)
    try { f; GraftInterop.drainListeners(sc) } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  /** (jobs while the query is built, jobs of one noop write of it) */
  private def buildAndRunJobs(query: => DataFrame): (Int, Int) = {
    var df: DataFrame = null
    val build = jobsOf { df = query }
    (build, jobsOf(df.write.format("noop").mode("overwrite").save()))
  }

  // Shapes of the benchmark's broadcast queries: g03 (points within a few
  // polygons) and g74 (unbounded nearest), both sorted. The build side is
  // collected inside the query instead of while it is built, and no job
  // broadcasts rows the driver already holds: none while built, 3 in the
  // query (build-side collect, sort map stage, result). The
  // collect-then-broadcast path ran 1 + 3 (its query's first job
  // broadcast the collected rows).
  test("a g03-shaped sjoin and a g74-shaped nearest join run one job fewer") {
    // file scans, as the benchmark reads: collecting a local relation
    // runs no job
    val dir = java.nio.file.Files.createTempDirectory("indexed-sjoin-jobs").toString
    leftG.df.filter(col("lid") % 5 < 3).write.parquet(s"$dir/pts")
    rightG.df.filter(col("rid") % 4 =!= 3).write.parquet(s"$dir/polys")
    val pts = GeoDataFrame(spark.read.parquet(s"$dir/pts"))
    val polys = GeoDataFrame(spark.read.parquet(s"$dir/polys"))
    val g03 = buildAndRunJobs(pts.sjoin(polys, predicate = "within", strategy = "broadcast")
      .select(col("lid"), col("rid")).orderBy(col("lid"), col("rid")))
    val g74 = buildAndRunJobs(pts.sjoinNearestBroadcast(polys)
      .select(col("lid"), col("rid"), round(col("dist"), 4).as("dist"))
      .orderBy(col("lid"), col("rid")))
    assert(g03 == ((0, 3)), s"g03-shaped (build, run) jobs: $g03")
    assert(g74 == ((0, 3)), s"g74-shaped (build, run) jobs: $g74")
  }
}
