package graft.io

import graft.sql.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fifth DSv2 connector: SpatiaLite as the SQLite format's spatialite
  * dialect (SqliteFormat.SpatiaLite), against the committed
  * sqlite3-written fixture.
  */
class SpatiaLiteDataSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixture = "fixtures/supplier_pts.sqlite"

  test("format read agrees with SpatiaLiteIO.read") {
    graft.sql.functions.install(spark)
    val v2 = spark.read.format("spatialite").option("table", "supplier_pts")
      .load(fixture)
    val got = v2.select($"pk", expr("st_astext(geom)").as("w"))
      .as[(Long, String)].collect().sortBy(_._1)
    val want = SpatiaLiteIO.read(spark, fixture, "supplier_pts").df
      .select($"pk", expr("st_astext(geometry)").as("w"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq && got.length == 500)
  }

  test("column pruning + bbox through the idx_ R*-tree; SQL USING route") {
    val pruned = spark.read.format("spatialite").option("table", "supplier_pts")
      .load(fixture).select($"pk", $"s_name")
    val scanSchema = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.schema.fieldNames.toSeq).head
    assert(scanSchema == Seq("pk", "s_name"), scanSchema)
    assert(pruned.count() == 500)

    val got = spark.read.format("spatialite").option("table", "supplier_pts")
      .option("bbox", "0,0,200,300").load(fixture)
      .select($"pk").as[Long].collect().sorted
    val want = (0 until 500).filter { i =>
      i % 50 != 49 && {
        val x = i * 3.25 - 100.0; val y = (i % 100) * 7.5
        x >= 0 && x <= 200 && y >= 0 && y <= 300
      }
    }.map(_ + 1L)
    assert(got.toSeq == want)

    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW sl_ds_spec
      USING spatialite OPTIONS (path '$fixture', table 'supplier_pts')""")
    assert(spark.sql("SELECT count(*) FROM sl_ds_spec").collect()(0).getLong(0) == 500)
  }

  test("declarative st_ filter pushes the bbox into the scan") {
    graft.sql.functions.install(spark)
    val filtered = spark.read.format("spatialite").option("table", "supplier_pts")
      .load(fixture)
      .filter(expr("st_intersectsbox(geom, 0.0, 0.0, 200.0, 300.0)"))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("bbox="), plan)
    assert(filtered.count() == 10)
  }
}
