package graft.plans

import graft.sql.TestSpark
import graft.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The planner strategy must turn ANY inner join on an st_* predicate with
  * a small side — spark.sql text or raw DataFrame joins, no GeoDataFrame
  * API — into IndexedSpatialJoinExec, producing exactly the nested-loop
  * plan's rows.
  */
class IndexedSpatialJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `f` with broadcasting off: a join with no hint then falls to
    * Spark's nested-loop plans, the reference the indexed plan must match.
    */
  private def nestedLoop[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private lazy val pts: DataFrame = {
    val rnd = new scala.util.Random(5)
    (0 until 400).map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("pid", "x", "y")
      .withColumn("g", st_point(col("x"), col("y")))
  }

  private lazy val boxes: DataFrame = {
    val rnd = new scala.util.Random(6)
    (0 until 30).map { i =>
      val x = rnd.nextDouble() * 90; val y = rnd.nextDouble() * 90
      (i.toLong, s"POLYGON (($x $y, ${x + 10} $y, ${x + 10} ${y + 10}, $x ${y + 10}, $x $y))")
    }.toDF("bid", "wkt").withColumn("bg", st_geomFromWKT(col("wkt"))).drop("wkt")
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("pid"), col("bid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("raw DataFrame join on st_within plans as IndexedSpatialJoin") {
    val j = pts.join(boxes, st_within(col("g"), col("bg")))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedSpatialJoin"), plan)
    val got = rows(pts.join(boxes, st_within(col("g"), col("bg"))))
    val want = nestedLoop { rows(pts.join(boxes, st_within(col("g"), col("bg")))) }
    assert(got == want && got.nonEmpty)
  }

  test("spark.sql text query gets the indexed plan") {
    pts.createOrReplaceTempView("pts_isj")
    boxes.createOrReplaceTempView("boxes_isj")
    val q = "SELECT pid, bid FROM pts_isj JOIN boxes_isj ON st_intersects(g, bg)"
    val got = {
      val df = spark.sql(q)
      assert(df.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    val want = nestedLoop {
      spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    assert(got == want && got.nonEmpty)
  }

  test("a BROADCAST hint plans the indexed join with broadcasting off") {
    pts.createOrReplaceTempView("pts_isj")
    boxes.createOrReplaceTempView("boxes_isj")
    val on = "FROM pts_isj JOIN boxes_isj ON st_within(g, bg)"
    nestedLoop {
      // the reference every spec here compares with: no hint, not indexed
      val plain = spark.sql(s"SELECT pid, bid $on")
      assert(!plain.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
      for (hinted <- Seq(spark.sql(s"SELECT /*+ BROADCAST(boxes_isj) */ pid, bid $on"),
          pts.join(broadcast(boxes), st_within(col("g"), col("bg"))),
          // a hint on the stream side builds that side
          broadcast(boxes).join(pts, st_contains(col("bg"), col("g"))))) {
        val plan = hinted.queryExecution.executedPlan.toString
        assert(plan.contains("IndexedSpatialJoin"), plan)
        assert(rows(hinted) == rows(plain) && rows(plain).nonEmpty)
      }
      // a left outer join cannot build its preserved side: the hint on it
      // is ignored, as Spark's own join selection ignores it
      val ignored = broadcast(pts).join(boxes, st_within(col("g"), col("bg")), "left")
      assert(!ignored.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
    }
  }

  test("swapped argument order (small side first arg) stays correct") {
    // st_contains(bg, g): first arg is the RIGHT side of the join below
    val q = () => pts.join(boxes, st_contains(col("bg"), col("g")))
    val got = {
      val df = q()
      assert(df.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
      rows(df)
    }
    assert(got == nestedLoop { rows(q()) } && got.nonEmpty)
    // and the asymmetric predicate agrees with the within formulation
    assert(got == rows(pts.join(boxes, st_within(col("g"), col("bg")))))
  }

  test("small LEFT side builds left (stream = the large right side)") {
    // threshold between the two sides' stats: boxes (30 rows) qualifies,
    // pts (400 rows) does not -> buildRight = false
    val ptsStats = pts.queryExecution.optimizedPlan.stats.sizeInBytes
    val boxStats = boxes.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(boxStats < ptsStats)
    val threshold = (boxStats * 8 + ptsStats * 8) / 2
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    try {
      val q = () => boxes.join(pts, st_contains(col("bg"), col("g")))
        .select(col("pid"), col("bid"))
      val got = {
        val df = q()
        assert(df.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
        rows(df)
      }
      assert(got == nestedLoop { rows(q()) } && got.nonEmpty)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("residual conjuncts apply (extra filter in the join condition)") {
    val cond = st_within(col("g"), col("bg")) && (col("pid") % 2 === 0) && (col("bid") < 20)
    val got = {
      val df = pts.join(boxes, cond)
      assert(df.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
      rows(df)
    }
    val want = nestedLoop { rows(pts.join(boxes, cond)) }
    assert(got == want && got.nonEmpty)
    assert(got.forall { case (p, b) => p % 2 == 0 && b < 20 })
  }

  test("dwithin joins take the indexed plan with expanded probes") {
    val cond = st_dwithin(col("g"), col("bg"), lit(3.5))
    val got = {
      val df = pts.join(boxes, cond)
      assert(df.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
      rows(df)
    }
    assert(got == nestedLoop { rows(pts.join(boxes, cond)) } && got.nonEmpty)
  }

  test("LEFT OUTER st_* joins take the indexed plan and null-pad") {
    val q = () => pts.join(boxes, st_within(col("g"), col("bg")), "left")
      .select(col("pid"), col("bid"))
    val got = {
      val df = q()
      assert(df.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
      df.collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq.sorted
    }
    val want = nestedLoop {
      q().collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq.sorted
    }
    assert(got == want && got.nonEmpty)
    // all 400 pts preserved; at least one unmatched null-padded row
    assert(got.map(_._1).distinct.size == 400)
    assert(got.exists(_._2 == -1L))
  }

  test("RIGHT OUTER with a small left side builds left and null-pads") {
    val ptsStats = pts.queryExecution.optimizedPlan.stats.sizeInBytes
    val boxStats = boxes.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = (boxStats * 8 + ptsStats * 8) / 2
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    try {
      // small boxes LEFT, large pts RIGHT, right outer -> build left
      val q = () => boxes.join(pts, st_contains(col("bg"), col("g")), "right")
        .select(col("pid"), col("bid"))
      val got = {
        val df = q()
        assert(df.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"))
        df.collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq.sorted
      }
      val want = nestedLoop {
        q().collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq.sorted
      }
      assert(got == want && got.nonEmpty)
      assert(got.map(_._1).distinct.size == 400)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("every supported predicate plans indexed and matches the nested-loop rows") {
    // geometry mix engineered so EACH predicate has at least one true pair:
    // aligned 10x10 tiles (touches via shared edges, equals/covers/coveredby
    // via exact copies), small interior boxes (contains/containsproperly),
    // 30x30 super-boxes (within), half-offset boxes (overlaps), and lines
    // exiting a super-box (crosses)
    def tile(x: Double, y: Double, s: Double) =
      s"POLYGON (($x $y, ${x + s} $y, ${x + s} ${y + s}, $x ${y + s}, $x $y))"
    val leftRows =
      (0 until 200).map(i => (i.toLong, tile((i % 20) * 10.0, (i / 20) * 10.0, 10.0))) ++
      (0 until 10).map(i => (200L + i, s"LINESTRING (${25 + i} 25, ${40 + i} 40)"))
    val rightRows =
      (0 until 5).map(i => (i.toLong, tile(i * 10.0, 0.0, 10.0))) ++          // exact tile copies
      (0 until 5).map(i => (5L + i, tile(i * 10.0, 10.0, 10.0))) ++           // copies one row up (touch row 0 tiles)
      (0 until 5).map(i => (10L + i, tile(i * 10.0 + 5.0, 5.0, 10.0))) ++     // half-offset (overlaps)
      (0 until 5).map(i => (15L + i, tile(i * 10.0 + 3.0, 3.0, 2.0))) ++      // small interior boxes
      Seq((20L, tile(0.0, 0.0, 30.0)), (21L, tile(30.0, 30.0, 30.0)))         // super-boxes (within, crosses)
    val lg = leftRows.toDF("pid", "wkt").withColumn("g", st_geomFromWKT(col("wkt"))).drop("wkt")
    val rg = rightRows.toDF("bid", "wkt").withColumn("bg", st_geomFromWKT(col("wkt"))).drop("wkt")
    val preds: Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column)] = Seq(
      "st_intersects" -> st_intersects _, "st_contains" -> st_contains _,
      "st_within" -> st_within _, "st_covers" -> st_covers _,
      "st_coveredby" -> st_coveredBy _, "st_containsproperly" -> st_containsProperly _,
      "st_touches" -> st_touches _, "st_crosses" -> st_crosses _,
      "st_overlaps" -> st_overlaps _, "st_equals" -> st_equals _)
    for ((name, p) <- preds) {
      val got = {
        val df = lg.join(rg, p(col("g"), col("bg")))
        assert(df.queryExecution.executedPlan.toString.contains("IndexedSpatialJoin"),
          s"$name did not plan indexed")
        rows(df)
      }
      val want = nestedLoop { rows(lg.join(rg, p(col("g"), col("bg")))) }
      assert(got == want, s"$name mismatch: got ${got.size}, want ${want.size}")
      assert(got.nonEmpty, s"$name produced no rows — fixture does not exercise it")
    }
  }

  test("equi-key joins are left to Spark's hash join") {
    val withK = boxes.withColumn("k", col("bid") % 5)
    val ptsK = pts.withColumn("k", col("pid") % 5)
    val cond = ptsK("k") === withK("k") && st_within(ptsK("g"), withK("bg"))
    val df = ptsK.join(withK, cond)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("IndexedSpatialJoin"), plan)
    // results still correct via Spark's own plan
    assert(df.count() > 0)
  }

  test("grid-rewritten large joins are untouched (anchor equi keys)") {
    // with the grid rewrite active and both sides 'large' relative to a
    // tiny broadcast threshold, the rewrite produces an equi-join that the
    // strategy must not intercept
    spark.conf.set("spark.graft.sjoin.grid.cellSize", "20.0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val df = pts.join(boxes, st_within(col("g"), col("bg")))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("IndexedSpatialJoin"), plan)
      val want = {
        spark.conf.unset("spark.graft.sjoin.grid.cellSize")
        try nestedLoop(rows(pts.join(boxes, st_within(col("g"), col("bg")))))
        finally spark.conf.set("spark.graft.sjoin.grid.cellSize", "20.0")
      }
      assert(rows(df) == want)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.sjoin.grid.cellSize")
    }
  }
}
