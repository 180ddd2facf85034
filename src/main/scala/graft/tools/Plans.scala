package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{GraftInterop, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SimpleMode}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump formatted physical plans for headline queries — the .explain audit
  * for pushdown / broadcast / codegen / shuffle count. Run:
  * `sbt "runMain graft.tools.Plans [query ...]"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the core count shapes adaptive plans (coalescing, SmallSort's gate)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
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
    // Each query runs first (a noop write, as the benchmark forces it) and
    // the dump is that write's final adaptive plan (isFinalPlan=true), the
    // one AQE re-planned from runtime sizes. Expression and plan ids are
    // replaced by a placeholder there, so two dumps of the same plan diff
    // clean whatever ran before them.
    val out = sys.env.get("SPARK_GRAFT_PLAN_OUT").map { s =>
      val Array(dir, suffix) = s.split(",", 2)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      (dir, suffix)
    }
    val lastRun = new AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastRun.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    val failed = names.filterNot { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        out match {
          case Some((dir, suffix)) =>
            df.write.format("noop").mode("overwrite").save()
            GraftInterop.drainListeners(spark.sparkContext)
            val txt = lastRun.get.explainString(FormattedMode)
              .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$dir/${n}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"$n written")
          case None =>
            println(s"\n========== $n ==========")
            println(df.queryExecution.explainString(SimpleMode))
        }
        true
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $n failed: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] ${failed.size} of ${names.size} failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
