package graft.api

import graft.sql.TestSpark
import graft.sql.functions._
import org.apache.spark.sql.{DataFrame, GraftInterop}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential specs for the two-phase kNN join: `sjoinKnn` must return
  * exactly the rows of the broadcast kNN join (`sjoinKnnBroadcast`, the
  * STR-tree branch-and-bound with the same `rank() <= k` tie contract)
  * whatever the geometry types, ties, cell size or data density.
  */
class KnnJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def wkts(rows: Seq[(Long, String)], key: String): GeoDataFrame =
    GeoDataFrame.fromWkt(rows.toDF(key, "wkt"), "wkt")

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("lid"), col("rid"), round(col("dist"), 9))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  private def assertMatchesBroadcast(left: GeoDataFrame, right: GeoDataFrame,
      k: Int, cellSize: Double, exclusive: Boolean = false): Seq[(Long, Long, Double)] = {
    val want = rows(left.sjoinKnnBroadcast(right, k, exclusive = exclusive))
    val got = rows(left.sjoinKnn(right, leftKey = "lid", k = k, cellSize = cellSize,
      exclusive = exclusive))
    assert(got == want, s"k=$k cellSize=$cellSize got=${got.size} want=${want.size}")
    got
  }

  private def randPoints(n: Int, seed: Int, key: String, extent: Double = 100.0) = {
    val rnd = new scala.util.Random(seed)
    wkts((0 until n).map(i =>
      (i.toLong, s"POINT (${rnd.nextDouble() * extent} ${rnd.nextDouble() * extent})")), key)
  }

  test("ties at the k-th distance straddling a cell border are all kept") {
    // left on the x = 10 border of 10-unit cells; right rows tied at 4 on
    // both sides of it
    val left = wkts(Seq((1L, "POINT (10 5)")), "lid")
    val right = wkts(Seq((1L, "POINT (10 4)"), (2L, "POINT (6 5)"), (3L, "POINT (14 5)"),
      (4L, "POINT (10 9)"), (5L, "POINT (30 30)")), "rid")
    val got = assertMatchesBroadcast(left, right, 2, 10.0)
    assert(got.map(_._2) == Seq(1L, 2L, 3L, 4L))
    // integer lattices put many ties exactly on cell borders
    val rnd = new scala.util.Random(3)
    def lattice(n: Int, key: String) = wkts((0 until n).map(i =>
      (i.toLong, s"POINT (${rnd.nextInt(40)} ${rnd.nextInt(40)})")), key)
    val l = lattice(150, "lid"); val r = lattice(120, "rid")
    for (k <- Seq(1, 2, 3)) assertMatchesBroadcast(l, r, k, 5.0)
  }

  test("exclusive skips right rows coincident with the left row") {
    val left = randPoints(120, 5, "lid")
    val copies = left.df.filter(col("lid") < 20)
      .select((col("lid") * 10).as("rid"), col("geometry"))
    val self = GeoDataFrame(copies
      .union(copies.select((col("rid") + 1).as("rid"), col("geometry")))
      .union(copies.select((col("rid") + 2).as("rid"), col("geometry")))
      .union(randPoints(80, 6, "rid").df.select((col("rid") + 100000).as("rid"),
        col("geometry"))))
    for (k <- Seq(1, 2, 3, 4)) {
      val got = assertMatchesBroadcast(left, self, k, 8.0, exclusive = true)
      assert(!got.exists(_._3 == 0.0))
    }
    // without exclusive the three copies are each row's nearest, at 0
    val incl = assertMatchesBroadcast(left, self, 1, 8.0)
    assert(incl.count(_._3 == 0.0) == 60)
  }

  test("polygon left rows and polygon right rows") {
    val rnd = new scala.util.Random(9)
    def polys(n: Int, key: String) = wkts((0 until n).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
      val s = 1 + rnd.nextDouble() * 12
      (i.toLong, if (i % 3 == 2) s"POLYGON (($x $y, ${x + s} $y, $x ${y + s}, $x $y))"
        else s"POLYGON (($x $y, ${x + s} $y, ${x + s} ${y + s}, $x ${y + s}, $x $y))")
    }, key)
    val l = polys(150, "lid"); val r = polys(90, "rid")
    for (k <- Seq(1, 3)) assert(assertMatchesBroadcast(l, r, k, 10.0).nonEmpty)
  }

  test("k above the right side returns every right row, ranked") {
    val left = randPoints(40, 11, "lid")
    val right = randPoints(5, 12, "rid")
    val got = assertMatchesBroadcast(left, right, 8, 10.0)
    assert(got.size == 40 * 5)
  }

  test("null or empty left geometry drops out, as in the broadcast inner join") {
    val left = wkts(Seq((1L, "POINT (1 1)"), (2L, "POINT EMPTY"),
      (3L, null), (4L, "POINT (50 50)")), "lid")
    val right = wkts(Seq((1L, "POINT (2 2)"), (2L, "POINT EMPTY"), (3L, null),
      (4L, "POINT (60 60)")), "rid")
    val got = assertMatchesBroadcast(left, right, 1, 10.0)
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 1L), (4L, 4L)))
  }

  test("cell size, coarsening and join strategy never change the result") {
    val left = randPoints(200, 13, "lid", extent = 1000.0)
    val right = randPoints(300, 14, "rid", extent = 1000.0)
    for (cs <- Seq(4.0, 40.0, 400.0)) assertMatchesBroadcast(left, right, 3, cs)
    // broadcast joins disabled: the cell equi-join runs sort-merge
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try assertMatchesBroadcast(left, right, 3, 40.0) finally spark.conf.unset(key)
    // 70k right points at cell size 1 over a 1000 x 1000 square fill more
    // home cells than the driver summary may hold, so it is re-aggregated
    val big = GeoDataFrame(spark.range(70000).toDF("rid")
      .withColumn("x", (abs(xxhash64(col("rid"), lit(1))) % 1000000L) / 1000.0)
      .withColumn("y", (abs(xxhash64(col("rid"), lit(2))) % 1000000L) / 1000.0)
      .withColumn("geometry", st_point(col("x"), col("y"))))
    val homeCells = big.df.select(floor(col("x")), floor(col("y"))).distinct().count()
    assert(homeCells > GeoDataFrame.KnnMaxCells)
    assertMatchesBroadcast(left, big, 3, 1.0)
  }

  test("adversarial density: exact, and the same job count as uniform data") {
    // left uniform over [0,100]^2; right x drawn as -ln(u)*12 (capped at
    // 100), so the x > 40 half holds only a few percent of the right rows
    def u(id: org.apache.spark.sql.Column, salt: Int) =
      (abs(xxhash64(id, lit(salt))) % 1000000L).cast("double") / 1e6
    val left = GeoDataFrame(spark.range(2000).toDF("lid")
      .withColumn("geometry", st_point(u(col("lid"), 1) * 100.0, u(col("lid"), 2) * 100.0)))
    def right(decayed: Boolean) = GeoDataFrame(spark.range(2000).toDF("rid")
      .withColumn("x", if (decayed) least(lit(100.0), -log(u(col("rid"), 3) + lit(1e-9)) * 12.0)
        else u(col("rid"), 3) * 100.0)
      .withColumn("geometry", st_point(col("x"), u(col("rid"), 4) * 100.0)))
    val sc = spark.sparkContext
    def jobsOf(f: => Unit): Int = {
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
    val counts = Seq(false, true).map { decayed =>
      val r = right(decayed)
      assertMatchesBroadcast(left, r, 3, 2.0)
      jobsOf(left.sjoinKnn(r, leftKey = "lid", k = 3, cellSize = 2.0).collect())
    }
    assert(counts.head == counts(1), s"uniform ${counts.head} vs decayed ${counts(1)} jobs")
  }
}
