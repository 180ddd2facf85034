package graft.io

import graft.geom.{Point, Wkb}
import graft.sql.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 route (`spark.read.format("shapefile")`) must agree
  * with ShapefileIO.read, honor column pruning down to the decode (incl.
  * skipping the .shp geometry decode when the geometry column is
  * pruned), and resolve from plain SQL.
  */
class ShapefileDataSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("shpdsv2").toString
    val rows = (0 until 400).map { i =>
      (i.toLong, s"n_$i", i * 0.25, Wkb.write(Point(i % 20 * 5.0, i / 20 * 5.0)))
    }
    ShapefileIO.write(
      rows.toDF("id", "nm", "score", "geometry").repartition(3), dir)
    dir
  }

  test("format read agrees with ShapefileIO.read") {
    val v2 = spark.read.format("shapefile").load(path)
    assert(v2.schema.fieldNames.toSeq == Seq("id", "nm", "score", "geometry"))
    def dump(df: org.apache.spark.sql.DataFrame) = df
      .select($"id", $"nm", $"score", expr("st_astext(geometry)").as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted
    val got = dump(v2)
    assert(got == dump(ShapefileIO.read(spark, path)) && got.size == 400)
  }

  test("column pruning reaches the decode; geometry pruned for attribute-only scans") {
    val pruned = spark.read.format("shapefile").load(path).select($"id", $"score")
    val scanSchema = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.schema.fieldNames.toSeq).head
    assert(scanSchema == Seq("id", "score"), scanSchema)
    assert(pruned.as[(Long, Double)].collect().sorted.toSeq.take(2) ==
      Seq((0L, 0.0), (1L, 0.25)))
    // pure count: no columns at all survive pruning
    assert(spark.read.format("shapefile").load(path).count() == 400)
  }

  test("count(*) answers from .shx metadata: plan carries the pushed count scan") {
    val df = spark.read.format("shapefile").load(path)
    val counted = df.groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("metadata count(*)"), plan)
    assert(counted.collect().head.getLong(0) == 400L)
    assert(df.count() == 400L) // Dataset.count() rides the same pushdown
    // a filter above the scan must NOT take the metadata shortcut
    val filtered = df.filter($"id" < 10).groupBy().count()
    assert(!filtered.queryExecution.executedPlan.toString.contains("metadata count(*)"))
    assert(filtered.collect().head.getLong(0) == 10L)
    // a bbox-windowed read returns a subset — metadata count must not apply
    val windowed = spark.read.format("shapefile")
      .option("bbox", "0,0,20,20").load(path).groupBy().count()
    assert(!windowed.queryExecution.executedPlan.toString.contains("metadata count(*)"))
    // a malformed .shx (ragged record area) declines the pushdown instead
    // of corrupting the count — the real scan still answers correctly
    val bad = java.nio.file.Files.createTempDirectory("shpbadshx").toString
    for (f <- new java.io.File(path).listFiles())
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(bad, f.getName))
    val shx = new java.io.File(bad).listFiles().find(_.getName.endsWith(".shx")).get
    java.nio.file.Files.write(shx.toPath,
      java.nio.file.Files.readAllBytes(shx.toPath).dropRight(3))
    val degraded = spark.read.format("shapefile").load(bad).groupBy().count()
    assert(!degraded.queryExecution.executedPlan.toString.contains("metadata count(*)"))
  }

  test("bbox option: file-header prune + exact residual, works with pruned columns") {
    // second file far away -> pruned entirely on its header envelope
    val dir2 = java.nio.file.Files.createTempDirectory("shpdsv2b").toString
    val near = (0 until 100).map(i => (i.toLong, Wkb.write(graft.geom.Point(i % 10 * 1.0, i / 10 * 1.0))))
    val far = (100 until 200).map(i => (i.toLong, Wkb.write(graft.geom.Point(1000.0 + i, 1000.0))))
    ShapefileIO.write(near.toDF("id", "geometry").coalesce(1), dir2 + "/a")
    ShapefileIO.write(far.toDF("id", "geometry").coalesce(1), dir2 + "/b")
    // merge parts into one directory
    val merged = java.nio.file.Files.createTempDirectory("shpdsv2m").toString
    for ((sub, tag) <- Seq(("a", "n"), ("b", "f")); f <- new java.io.File(dir2, sub).listFiles())
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(merged, tag + f.getName))
    val q = spark.read.format("shapefile").option("bbox", "0,0,4.5,4.5").load(merged)
    val ids = q.select($"id").as[Long].collect().sorted.toSeq
    // residual keeps points with x<=4.5 and y<=4.5 from the near file only
    val want = near.collect { case (id, w) =>
      val pt = Wkb.read(w).asInstanceOf[graft.geom.Point]
      if (pt.x <= 4.5 && pt.y <= 4.5) Some(id) else None
    }.flatten
    assert(ids == want.sorted && ids.nonEmpty)
    // only the near file's partitions survive planning
    val parts = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.size
    assert(parts == 1, s"expected 1 surviving partition, got $parts")
  }

  test("SQL resolution via the registered short name (USING shapefile)") {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW shp_ds_spec
      USING shapefile OPTIONS (path '$path')""")
    val n = spark.sql(
      "SELECT count(*) FROM shp_ds_spec WHERE st_x(geometry) < 50").collect()(0).getLong(0)
    // x in {0,5,...,95}; x < 50 -> 10 of 20 columns of the grid
    assert(n == 200)
  }

  test("a user schema maps onto the .dbf columns by name, not position") {
    val dir = java.nio.file.Files.createTempDirectory("shpdsv2swap").toString
    ShapefileIO.write((0 until 50).map(i => (s"a_$i", s"b_$i", Wkb.write(Point(i, i))))
      .toDF("a", "b", "geometry").coalesce(1), dir)
    val df = spark.read.schema("b string, a string, geometry binary")
      .format("shapefile").load(dir)
    val got = df.select($"a", $"b").as[(String, String)].collect().sorted.toSeq
    assert(got == (0 until 50).map(i => (s"a_$i", s"b_$i")).sorted)
    // the geometry is pruned and a column reads alone, still by name
    assert(df.select($"b").as[String].collect().sorted.toSeq ==
      (0 until 50).map(i => s"b_$i").sorted)
    // a column the file lacks fails when the scan is planned, naming it
    val e = intercept[Exception] {
      spark.read.schema("a string, zz string, geometry binary")
        .format("shapefile").load(dir).collect()
    }
    assert(e.getMessage.contains("column 'zz' not in"), e.getMessage)
  }

  test("chunkSize must be positive: -1 fails instead of reading no rows") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("shapefile").option("chunkSize", "-1").load(path).collect()
    }
    assert(e.getMessage.contains("shapefile: chunkSize must be positive (got -1)"),
      e.getMessage)
  }
}
