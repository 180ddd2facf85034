package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → `<outDir>/<q>`
  * parquet, plus oracle_sql.json with the oracle of every query it ran, for
  * the DuckDB compare (`tools/compare_oracle.py`). Runs in `graft.Bench`'s
  * session plus `SPARK_GRAFT_EXTRA_CONF="k=v,..."` (`Bench.toolSessionBuilder`,
  * as `graft.tools.Profile`); every query runs, then the dump exits 1 naming
  * those that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query,query,...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names (local dev loop only —
    // the driver always runs the full registry)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        // a typo'd filter silently matching nothing would exit 0 with no
        // outputs and leave a stale compare loop pointing at old parquet
        System.err.println(s"unknown query names: ${unknown.mkString(", ")}")
        sys.exit(2)
      }
    }
    val spark = Bench.toolSessionBuilder()
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val qs = SparkEntry.queries.toSeq.filter(q => only.forall(_.contains(q._1)))
    // a query that throws leaves no output behind: its directory goes first,
    // so the compare finds it missing instead of comparing a stale one
    val failed = graft.tools.Profile.pass(qs, "verify") { (name, fn) =>
      val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      out.getFileSystem(spark.sessionState.newHadoopConf()).delete(out, true)
      fn(spark, sfDir).coalesce(1).write.parquet(out.toString)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ran = qs.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter(q => ran(q._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // oracle-validity probe: t05/t10's all-pairs DuckDB oracles match the
    // bounded minhash default (cap 128) only while every LSH bucket at this
    // SF stays within the cap. A testdata regeneration that crosses it must
    // fail HERE, loudly, not as an inscrutable hash mismatch downstream.
    val minhashNames = Set("t05_minhash_pairs", "t10_dedup_clusters")
    if (only.forall(n => (n & minhashNames).nonEmpty)) {
      try {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val maxBucket = graft.ops.Dedup.maxLshBucket(docs, "doc_id", "text")
        if (maxBucket > 128) {
          System.err.println(s"[verify] FATAL: max minhash LSH bucket at this SF is " +
            s"$maxBucket > cap 128 — the t05/t10 all-pairs oracles no longer match " +
            "the bounded default; regenerate oracles or raise the cap")
          spark.stop()
          sys.exit(3)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] bucket probe failed: ${e.getMessage}")
      }
    }
    // same contract for semanticDedup: e07's recall floor is measured
    // against the EXACT within-cluster pair set, which the bounded default
    // (maxCluster 1024) reproduces only while every multi-probe cluster at
    // this SF stays within the cap.
    if (only.forall(_.contains("e07_semantic_dedup"))) {
      try {
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(org.apache.spark.sql.functions.col("vec_id") % 4 === 0)
        val maxC = graft.ops.Dedup.maxSemClusterSize(
          emb, "vec_id", "embedding", nlist = 8, nprobe = 3)
        if (maxC > 1024) {
          System.err.println(s"[verify] FATAL: max semanticDedup cluster at this SF " +
            s"is $maxC > cap 1024 — e07's exact-pair interpretation no longer holds; " +
            "regenerate oracles or raise the cap")
          spark.stop()
          sys.exit(3)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] sem-cluster probe failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${qs.size} failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
