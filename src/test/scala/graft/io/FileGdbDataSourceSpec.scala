package graft.io

import graft.sql.TestSpark
import graft.sql.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FileGdbDataSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val path: String = {
    val d = java.nio.file.Files.createTempDirectory("gdbdsv2").toString + "/ds.gdb"
    val src = (0 until 400).map(i => (i.toLong, s"name_$i", i * 0.5))
      .toDF("id", "nm", "score")
      .withColumn("geometry",
        st_point(($"id" % 20).cast("double") * 5.0,
          ($"id" / 20).cast("double") * 5.0))
    FileGdbIO.write(src, d, layerName = "pts")
    d
  }

  test("format read agrees with FileGdbIO.read") {
    val v2 = spark.read.format("filegdb").load(path)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"id".cast("long"), $"nm", $"score",
        expr("st_astext(geometry)").as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted
    val want = canon(FileGdbIO.read(spark, path).df)
    val got = canon(v2)
    assert(got == want && got.size == 400)
  }

  test("column pruning reaches the scan; chunked partitions") {
    val pruned = spark.read.format("filegdb")
      .option("chunkSize", "128").load(path)
      .select($"id", $"nm")
    val scanSchema = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.schema.fieldNames.toSeq).head
    assert(scanSchema == Seq("id", "nm"), scanSchema)
    assert(pruned.rdd.getNumPartitions == (400 + 127) / 128)
    assert(pruned.count() == 400)
    // attribute-only scan returns correct values with the geometry
    // decode bypassed at the byte level
    assert(pruned.filter($"id" === 21).head().getString(1) == "name_21")
  }

  test("count(*) answers from the .gdbtable header row count") {
    val df = spark.read.format("filegdb").load(path)
    val counted = df.groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("metadata count(*)"), plan)
    assert(counted.collect().head.getLong(0) == 400L)
    // a filter disables the metadata shortcut and still counts correctly
    val filtered = df.filter($"score" < 10).groupBy().count()
    assert(!filtered.queryExecution.executedPlan.toString.contains("metadata count(*)"))
    assert(filtered.collect().head.getLong(0) == 20L)
  }

  test("bbox option + declarative pushdown from a plain st_ filter") {
    // window x in [0,42], y in [0,27]: ids with (id%20)*5 <= 42 and
    // (id/20)*5 <= 27 -> id%20 in 0..8, id/20 in 0..5 -> 9*6 = 54 rows
    val got = spark.read.format("filegdb").option("bbox", "0,0,42,27")
      .load(path).select($"id".cast("long")).as[Long].collect().sorted
    assert(got.length == 54)
    // disjoint window: residual-only by default (0 rows); with the
    // opt-in extent trust the plan drops to zero input partitions
    val none = spark.read.format("filegdb").option("bbox", "9999,9999,10000,10000")
      .load(path)
    assert(none.count() == 0)
    spark.conf.set("spark.graft.gdb.pruneOnExtent", "true")
    try {
      val zero = spark.read.format("filegdb").option("bbox", "9999,9999,10000,10000")
        .load(path)
      assert(zero.queryExecution.executedPlan.execute().getNumPartitions == 0)
    } finally spark.conf.unset("spark.graft.gdb.pruneOnExtent")
    // plain declarative filter routes through V2BboxPushdown: the scan
    // description carries the derived bbox
    val filtered = spark.read.format("filegdb").load(path)
      .filter(expr("st_intersectsbox(geometry, 0.0, 0.0, 42.0, 27.0)"))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("bbox="), plan)
    assert(filtered.count() == 54)
  }

  test("SQL: CREATE TEMPORARY VIEW USING filegdb") {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gdb_ds_spec
      USING filegdb OPTIONS (path '$path', layer 'pts')""")
    assert(spark.sql("SELECT count(*) FROM gdb_ds_spec").collect()(0).getLong(0) == 400)
    val r = spark.sql(
      "SELECT nm, st_x(geometry) AS x FROM gdb_ds_spec WHERE id = 21").collect()(0)
    assert(r.getString(0) == "name_21" && r.getDouble(1) == 5.0)
  }

  test("unknown layer names the available layers") {
    val e = intercept[Exception] {
      spark.read.format("filegdb").option("layer", "nope").load(path).collect()
    }
    assert(e.getMessage.contains("pts"))
  }

  test("chunkSize must be positive: -1 fails instead of reading no rows") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("filegdb").option("chunkSize", "-1").load(path).collect()
    }
    assert(e.getMessage.contains("filegdb: chunkSize must be positive (got -1)"),
      e.getMessage)
  }
}
