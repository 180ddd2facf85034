package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump formatted physical plans for headline queries — the .explain audit
  * for pushdown / broadcast / codegen / shuffle count. Run:
  * `sbt "runMain graft.tools.Plans [query ...]"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // SPARK_GRAFT_AQE=false shows static ReuseExchange decisions that AQE
      // would otherwise only apply at runtime (as stage reuse)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sql.functions.install(spark)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("g01_bbox_filter", "q01_pricing_summary", "g03_sjoin_pip",
        "g15_sjoin_grid", "t05_minhash_pairs", "e01_cosine_topk", "q02_revenue_by_nation")
    // SPARK_GRAFT_PLAN_OUT=<dir>,<suffix>: write one
    // <dir>/<query>_<suffix>.txt per query in FORMATTED mode (the r18
    // optimization-round plan artifacts) instead of stdout SimpleMode.
    // Expression and plan ids are replaced by a placeholder there, so two
    // dumps of the same plan diff clean whatever ran before them.
    val out = sys.env.get("SPARK_GRAFT_PLAN_OUT").map { s =>
      val Array(dir, suffix) = s.split(",", 2); (dir, suffix)
    }
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        out match {
          case Some((dir, suffix)) =>
            val txt = df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$dir/${n}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"$n written")
          case None =>
            println(s"\n========== $n ==========")
            println(df.queryExecution.explainString(
              org.apache.spark.sql.execution.SimpleMode))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
