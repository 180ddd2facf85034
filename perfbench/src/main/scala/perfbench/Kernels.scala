package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.GeoDataFrame
import graft.geom._
import graft.io.{FlatGeobufIO, GeoParquetIO}
import graft.sql.TextKernel

/** Kernel and codec microbenchmarks for the traced run: the public
  * functions of graft.geom, graft.sql.TextKernel and graft.io, timed on a
  * seeded sample of the workload's own inputs with the engine's synthetic
  * geometry mapping (customer point, supplier square).
  */
object Kernels {
  private val Reps = 5
  private val Warm = 3
  private val spans = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()

  private def span[T](name: String)(body: => T): T = {
    val t0 = Harness.nowNs
    val out = body
    spans += Map("name" -> name, "start_ns" -> t0, "end_ns" -> Harness.nowNs)
    out
  }

  /** Median over `Reps` timed loops (after `Warm` untimed ones) of the mean
    * nanoseconds per call of `op` over `inputs`.
    */
  private def nsPerOp[A](name: String, inputs: Array[A])(op: A => Any): Double = span(name) {
    // results feed a counter that is printed if ever negative, so the JIT
    // cannot drop the calls as dead code
    var sink = 0
    def loop(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < inputs.length) { if (op(inputs(i)) == null) sink += 1; i += 1 }
      (System.nanoTime() - t0).toDouble / inputs.length
    }
    (1 to Warm).foreach(_ => loop())
    val xs = (1 to Reps).map(_ => loop()).sorted
    if (sink < 0) println(sink)
    xs(Reps / 2)
  }

  private def seconds(name: String)(op: () => Unit): Double = span(name) {
    op()
    val xs = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); op(); (System.nanoTime() - t0) / 1e9
    }.sorted
    xs(1)
  }

  /** Metrics by name, and one span per timed kernel or codec call site. */
  def run(spark: SparkSession, data: String, work: String,
      seed: Long): (Map[String, Double], Seq[Map[String, Any]]) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.PassKey, "kernels")
    val customers = spark.read.parquet(s"$data/customer.parquet")
    val pts: Array[Geometry] = customers.sample(false, 0.5, seed).limit(4000)
      .select(col("c_acctbal"), (col("c_custkey") % 1000).cast("double")).collect()
      .map(r => Point(r.getDouble(0), r.getDouble(1)))
    val squares: Array[Geometry] = spark.read.parquet(s"$data/supplier.parquet")
      .sample(false, 0.5, seed).limit(1000)
      .select(col("s_acctbal"), (col("s_suppkey") % 100).cast("double") * 10.0,
        (col("s_suppkey") % 10).cast("double") + 1.0).collect()
      .map { r =>
        val (x, y, h) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
        Polygon.box(x - h, y - h, x + h, y + h)
      }
    val docs: Array[String] = spark.read.parquet(s"$data/documents.parquet")
      .sample(false, 0.5, seed).limit(1000).select(col("text")).collect().map(_.getString(0))

    val geoms = pts ++ squares
    val wkts = geoms.map(Wkt.write)
    val wkbs = geoms.map(Wkb.write)
    val envs = squares.map(_.envelope)
    val tree = StrTree.build(envs)
    val pairs = pts.indices.map(i => (pts(i), squares(i % squares.length))).toArray
    val sigs = docs.map(TextKernel.minhash(_, 64, 4, 42))

    val gdf = GeoDataFrame(customers
      .withColumn("geometry", graft.sql.functions.st_point(col("c_acctbal"),
        (col("c_custkey") % 1000).cast("double")))
      .select(col("c_custkey"), col("c_acctbal"), col("geometry")), "geometry")
      .setCrs("EPSG:4326")
    val rows = customers.count().toDouble
    val gpq = s"$work/customer.parquet"
    val fgb = s"$work/customer.fgb"
    val gpqWrite = seconds("io.geoparquet_write")(() => GeoParquetIO.write(gdf, gpq))
    val gpqRead = seconds("io.geoparquet_read")(() => Harness.force(GeoParquetIO.read(spark, gpq).df))
    val fgbWrite = seconds("io.flatgeobuf_write")(() => FlatGeobufIO.write(gdf, fgb))
    val fgbRead = seconds("io.flatgeobuf_read")(() => Harness.force(FlatGeobufIO.read(spark, fgb)))
    val gpqBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(gpq))
      .filter(p => p.toString.endsWith(".parquet")).mapToLong(p => p.toFile.length).sum

    val metrics = Map(
      "geom.wkt_write_ns" -> nsPerOp("geom.wkt_write", geoms)(Wkt.write),
      "geom.wkt_read_ns" -> nsPerOp("geom.wkt_read", wkts)(Wkt.read),
      "geom.wkb_write_ns" -> nsPerOp("geom.wkb_write", geoms)(Wkb.write),
      "geom.wkb_read_ns" -> nsPerOp("geom.wkb_read", wkbs)(Wkb.read),
      "geom.strtree_build_ns" -> nsPerOp("geom.strtree_build", Array.fill(20)(envs))(StrTree.build),
      "geom.strtree_query_ns" -> nsPerOp("geom.strtree_query", pts)(p => tree.query(p.envelope.expand(50.0))),
      "geom.strtree_knn_ns" -> nsPerOp("geom.strtree_knn", pts)(p =>
        tree.kNearest(p.envelope, 3, Double.PositiveInfinity,
          i => Measures.distance(p, squares(i)))),
      "geom.distance_ns" -> nsPerOp("geom.distance", pairs)(p => Measures.distance(p._1, p._2)),
      "text.minhash_ns" -> nsPerOp("text.minhash", docs)(TextKernel.minhash(_, 64, 4, 42)),
      "text.bandkeys_ns" -> nsPerOp("text.bandkeys", sigs)(TextKernel.bandKeys(_, 16)),
      "text.simhash_ns" -> nsPerOp("text.simhash", docs)(TextKernel.simhash64),
      "text.shingles_ns" -> nsPerOp("text.shingles", docs)(TextKernel.charShingles(_, 4)),
      "io.geoparquet_write_s" -> gpqWrite,
      "io.geoparquet_read_s" -> gpqRead,
      "io.flatgeobuf_write_s" -> fgbWrite,
      "io.flatgeobuf_read_s" -> fgbRead,
      "io.bytes_per_row" -> gpqBytes / rows)
    (metrics, spans.toSeq)
  }
}
