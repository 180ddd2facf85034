package graft.streaming

import graft.SparkEntry
import graft.sql.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guard for runStream's no-data micro-batch default (r19 safety fix).
  *
  * For an append-mode windowed aggregation the trailing NO-DATA batch is
  * load-bearing: the watermark only advances after the last data batch,
  * so windows it closes are emitted by that extra empty batch. If a
  * future stream is wrapped with default args, the default MUST run that
  * batch (noDataBatch = true) or its finalized windows silently vanish —
  * which is exactly what the declared streams' explicit
  * `noDataBatch = false` opt-out trades away (safe for their sinks:
  * complete re-emits the snapshot, update emits only on state change,
  * the append stream t59 is stateless).
  */
class RunStreamSafetySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def windowedAppendCounts(noData: Option[Boolean]): Long = {
    val dir = java.nio.file.Files.createTempDirectory("runstream_spec_")
    try {
      import spark.implicits._
      // event times 0..9 s; 5 s windows; 1 s watermark delay. After the
      // single data batch the watermark is 9-1=8 s, so window [0,5) is
      // closed and only the finalize batch can emit it.
      (0 to 9).map(i => (i.toLong, s"e$i"))
        .toDF("sec", "tag")
        .withColumn("ets", timestamp_seconds(col("sec")))
        .coalesce(1).write.mode("overwrite").parquet(dir.toString + "/in")
      val sinkName = "runstream_spec_" + System.nanoTime()
      val st = spark.readStream
        .schema(spark.read.parquet(dir.toString + "/in").schema)
        .parquet(dir.toString + "/in")
      val agg = st.withWatermark("ets", "1 second")
        .groupBy(window(col("ets"), "5 seconds"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("append").format("memory")
        .queryName(sinkName)
      noData match {
        case Some(v) => SparkEntry.runStream(spark, noDataBatch = v) { agg.start() }
        case None    => SparkEntry.runStream(spark) { agg.start() }
      }
      spark.table(sinkName).count()
    } finally {
      val fs = dir.toFile.listFiles()
      if (fs != null) fs.foreach { f =>
        val cs = f.listFiles(); if (cs != null) cs.foreach(_.delete()); f.delete()
      }
      dir.toFile.delete()
    }
  }

  test("default args finalize append-mode windows (safe default)") {
    assert(windowedAppendCounts(None) >= 1L)
  }

  test("explicit noDataBatch = false is the only way to skip finalization") {
    assert(windowedAppendCounts(Some(false)) == 0L)
    assert(windowedAppendCounts(Some(true)) >= 1L)
  }

  test("progress artifact records the entry count and the retention cap") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (entries <- Seq(Seq.empty[String], Seq("{\"batchId\": 0}", "{\"batchId\": 1}"))) {
      val art = mapper.readTree(SparkEntry.progressArtifact(entries, 100))
      assert(art.get("entries").asInt == entries.size && art.get("cap").asInt == 100)
      assert(art.get("progress").size == entries.size)
    }
  }
}
