package graft.io

import graft.geom.{Point, Wkb}
import graft.sql.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 route (`spark.read.format("flatgeobuf")`) must agree
  * with FlatGeobufIO.read on data, honor column pruning at the source,
  * prune with the bbox option through the R-tree, and resolve from SQL.
  */
class FlatGeobufDataSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val path: String = {
    val f = java.io.File.createTempFile("fgbdsv2", ".fgb")
    f.deleteOnExit()
    val rows = (0 until 500).map { i =>
      (i.toLong, s"name_$i", i * 1.5,
        Wkb.write(Point(i % 50 * 10.0, i / 50 * 10.0)))
    }
    val gdf = graft.api.GeoDataFrame(
      rows.toDF("id", "nm", "score", "geometry"), "geometry")
    FlatGeobufIO.write(gdf, f.getAbsolutePath, name = "pts", nodeSize = 16)
    f.getAbsolutePath
  }

  test("format read agrees with FlatGeobufIO.read") {
    val v2 = spark.read.format("flatgeobuf").load(path)
    assert(v2.schema.fieldNames.toSeq == Seq("id", "nm", "score", "geometry"))
    val want = FlatGeobufIO.read(spark, path)
      .select($"id", $"nm", $"score", expr("st_astext(geometry)").as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted
    val got = v2
      .select($"id", $"nm", $"score", expr("st_astext(geometry)").as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted
    assert(got == want && got.size == 500)
  }

  test("count(*) answers from the header's features_count, zero feature reads") {
    val df = spark.read.format("flatgeobuf").load(path)
    val counted = df.groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("metadata count(*)"), plan)
    assert(counted.collect().head.getLong(0) == 500L)
    assert(df.count() == 500L)
    // filters and bbox windows disable the metadata shortcut
    val filtered = df.filter($"score" > 600).groupBy().count()
    assert(!filtered.queryExecution.executedPlan.toString.contains("metadata count(*)"))
    assert(filtered.collect().head.getLong(0) == 99L)
    val windowed = spark.read.format("flatgeobuf")
      .option("bbox", "0,0,100,40").load(path).groupBy().count()
    assert(!windowed.queryExecution.executedPlan.toString.contains("metadata count(*)"))
  }

  test("column pruning reaches the scan (ReadSchema excludes unused columns)") {
    val pruned = spark.read.format("flatgeobuf").load(path).select($"id", $"score")
    val scanSchema = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.schema.fieldNames.toSeq).head
    assert(scanSchema == Seq("id", "score"), scanSchema)
    assert(pruned.count() == 500)
    // no geometry column required at all (pure aggregate)
    val n = spark.read.format("flatgeobuf").load(path).selectExpr("count(id)").collect()(0).getLong(0)
    assert(n == 500)
  }

  test("bbox option prunes through the R-tree and applies the exact residual") {
    val v2 = spark.read.format("flatgeobuf")
      .option("bbox", "0,0,95,45").load(path)
    // grid points at (10i, 10j): x in 0..90, y in 0..40 qualify
    val want = FlatGeobufIO.read(spark, path, bbox = Some((0.0, 0.0, 95.0, 45.0)))
      .select($"id").as[Long].collect().sorted.toSeq
    val got = v2.select($"id").as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty && got.size < 500)
    // fully-outside window: zero partitions worth of data
    assert(spark.read.format("flatgeobuf").option("bbox", "1e6,1e6,2e6,2e6")
      .load(path).count() == 0)
  }

  test("DSv2 write: df.write.format(flatgeobuf) roundtrips incl. CRS and bbox pruning") {
    val dir = java.nio.file.Files.createTempDirectory("fgbdsv2w").toString
    val rows = (0 until 300).map { i =>
      (i.toLong, s"v_$i", Wkb.write(Point(i % 30 * 7.0, i / 30 * 7.0)))
    }
    val df = graft.api.GeoDataFrame(rows.toDF("id", "v", "geometry"), "geometry")
      .setCrs("EPSG:3857").df.repartition(4)
    df.write.format("flatgeobuf").mode("overwrite").save(dir)

    // parts written by distinct tasks, all indexed
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".fgb"))
    assert(parts.length > 1)
    val meta = FlatGeobufIO.readMeta(spark, dir)
    assert(meta.crs.contains("EPSG:3857"))

    val back = spark.read.format("flatgeobuf").load(dir)
    val got = back.select($"id", $"v", expr("st_astext(geometry)").as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    val want = df.select($"id", $"v", expr("st_astext(geometry)").as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(got == want && got.size == 300)

    // bbox-pruned read over the written parts
    val n = spark.read.format("flatgeobuf").option("bbox", "0,0,100,35").load(dir).count()
    val wantN = rows.count { case (_, _, w) =>
      val p = Wkb.read(w).asInstanceOf[Point]; p.x <= 100 && p.y <= 35
    }
    assert(n == wantN && n > 0 && n < 300)

    // overwrite replaces, append adds
    df.limit(10).write.format("flatgeobuf").mode("overwrite").save(dir)
    assert(spark.read.format("flatgeobuf").load(dir).count() == 10)
    df.limit(5).write.format("flatgeobuf").mode("append").save(dir)
    assert(spark.read.format("flatgeobuf").load(dir).count() == 15)

    // empty frame still produces a readable dataset
    val dir2 = java.nio.file.Files.createTempDirectory("fgbdsv2e").toString
    df.filter($"id" < 0).write.format("flatgeobuf").mode("overwrite").save(dir2)
    assert(spark.read.format("flatgeobuf").load(dir2).count() == 0)
  }

  test("SQL resolution via the registered short name (USING flatgeobuf)") {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW fgb_ds_spec
      USING flatgeobuf OPTIONS (path '$path')""")
    val n = spark.sql("SELECT count(*) AS n FROM fgb_ds_spec").collect()(0).getLong(0)
    assert(n == 500)
    val x = spark.sql(
      "SELECT id, st_x(geometry) AS x FROM fgb_ds_spec WHERE id = 7")
      .collect()(0)
    assert(x.getLong(0) == 7L && x.getDouble(1) == 70.0)
  }

  test("chunkSize must be positive: -1 fails instead of reading no rows") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("flatgeobuf").option("chunkSize", "-1").load(path).collect()
    }
    assert(e.getMessage.contains("flatgeobuf: chunkSize must be positive (got -1)"),
      e.getMessage)
  }
}
