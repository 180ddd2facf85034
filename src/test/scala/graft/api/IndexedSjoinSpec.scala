package graft.api

import graft.sql.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential: the indexed broadcast sjoin (prepared STR-tree side +
  * integer BroadcastHashJoin) must produce exactly the rows of the
  * nested-loop plan it replaces, for every predicate, how=, onAttribute,
  * and the null/empty-geometry edge cases.
  */
class IndexedSjoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withIndex[T](on: Boolean)(f: => T): T = {
    spark.conf.set("spark.graft.sjoin.broadcast.index", on.toString)
    try f finally spark.conf.unset("spark.graft.sjoin.broadcast.index")
  }

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
      val got = withIndex(true) {
        pairs(leftG.sjoin(rightG, predicate = pred, strategy = "broadcast"))
      }
      val want = withIndex(false) {
        pairs(leftG.sjoin(rightG, predicate = pred, strategy = "broadcast"))
      }
      assert(got == want, s"pred=$pred got=${got.size} want=${want.size}")
      if (pred == "intersects" || pred == "within") assert(got.nonEmpty)
    }
  }

  test("indexed == nested-loop for dwithin (envelope-expanded probe)") {
    for (d <- Seq(0.0, 1.5, 25.0)) {
      val got = withIndex(true) {
        pairs(leftG.sjoin(rightG, predicate = "dwithin", strategy = "broadcast", distance = d))
      }
      val want = withIndex(false) {
        pairs(leftG.sjoin(rightG, predicate = "dwithin", strategy = "broadcast", distance = d))
      }
      assert(got == want, s"d=$d")
      if (d > 0) assert(got.nonEmpty)
    }
  }

  test("how=left and how=right match the nested-loop plan") {
    for (how <- Seq("left", "right")) {
      val got = withIndex(true) {
        pairs(leftG.sjoin(rightG, predicate = "intersects", strategy = "broadcast", how = how))
      }
      val want = withIndex(false) {
        pairs(leftG.sjoin(rightG, predicate = "intersects", strategy = "broadcast", how = how))
      }
      assert(got == want, s"how=$how")
      // unmatched rows present with null other side
      if (how == "left") assert(got.exists(_._2 == null))
      if (how == "right") assert(got.exists(_._1 == null))
    }
  }

  test("onAttribute equality refines candidates identically") {
    val l2 = GeoDataFrame(leftG.df.withColumn("cat", (col("lid") % 3).cast("long")))
    val r2 = GeoDataFrame(rightG.df.withColumn("cat", (col("rid") % 3).cast("long")))
    val got = withIndex(true) {
      pairs(l2.sjoin(r2, predicate = "intersects", strategy = "broadcast",
        onAttribute = Seq("cat")))
    }
    val want = withIndex(false) {
      pairs(l2.sjoin(r2, predicate = "intersects", strategy = "broadcast",
        onAttribute = Seq("cat")))
    }
    assert(got == want && got.nonEmpty)
    // strictly fewer pairs than without the attribute filter
    val unfiltered = withIndex(true) {
      pairs(l2.sjoin(r2, predicate = "intersects", strategy = "broadcast"))
    }
    assert(got.size < unfiltered.size)
  }

  test("empty right side produces no inner rows; left-outer keeps all left") {
    val emptyRight = GeoDataFrame(rightG.df.filter(col("rid") < 0))
    val inner = withIndex(true) {
      leftG.sjoin(emptyRight, predicate = "intersects", strategy = "broadcast")
    }
    assert(inner.count() == 0)
    val left = withIndex(true) {
      leftG.sjoin(emptyRight, predicate = "intersects", strategy = "broadcast", how = "left")
    }
    assert(left.count() == leftG.df.count())
  }

  test("sjoinNearestBroadcast matches brute-force nearest incl. ties") {
    // brute force with the same kernel: cross product via the nested-loop
    // sjoin at a huge dwithin radius, then min-rank per left row
    val joined = withIndex(false) {
      leftG.sjoin(rightG, predicate = "dwithin", strategy = "broadcast", distance = 1e9)
    }.withColumn("d", graft.sql.functions.st_distance(col("geometry"), col("geometry_right")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lid")).orderBy(col("d"))
    val want = joined.withColumn("_rk", rank().over(w)).filter(col("_rk") === 1)
      .select(col("lid"), col("rid"), round(col("d"), 9).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

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

  test("sjoinKnnBroadcast matches brute-force rank()<=k") {
    val joined = withIndex(false) {
      leftG.sjoin(rightG, predicate = "dwithin", strategy = "broadcast", distance = 1e9)
    }.withColumn("d", graft.sql.functions.st_distance(col("geometry"), col("geometry_right")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lid")).orderBy(col("d"))
    for (k <- Seq(1, 3, 5)) {
      val want = joined.withColumn("_rk", rank().over(w)).filter(col("_rk") <= k)
        .select(col("lid"), col("rid"), round(col("d"), 9).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
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
    val viaGrid = lpts.sjoinNearest(rightG, leftKey = "lid", maxDistance = 500.0,
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
    // grid path: sjoinNearest drops ONLY its own scratch column, not the
    // user's _cand_n
    val gn = lu.sjoinNearest(ru, "lid", maxDistance = 30.0, cellSize = 30.0)
    assert(gn.columns.count(_ == "_cand_n") == 1)
    assert(gn.filter(col("_cand_n") =!= col("lid") + 7).count() == 0)
  }

  test("indexed plan is a BroadcastHashJoin (no nested loop)") {
    val plan = withIndex(true) {
      leftG.sjoin(rightG, predicate = "intersects", strategy = "broadcast")
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
