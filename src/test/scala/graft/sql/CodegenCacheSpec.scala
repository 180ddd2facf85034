package graft.sql

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** `functions.install` sizes Spark's codegen cache. The size is read once
  * per JVM, when `CodeGenerator` first initializes, and the forked test JVM
  * is shared by every suite, so each case runs [[CodegenCacheProbe]] in a
  * fresh child JVM on this JVM's classpath.
  */
class CodegenCacheSpec extends AnyFunSuite {

  /** Runs the probe in a child JVM; returns its conf value and the compile
    * count of each of its two rounds. */
  private def probe(args: String*): (String, Long, Long) = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    // the child gets this JVM's module opens and -D settings, but its own heap
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
    val cmd = Seq(java, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), CodegenCacheProbe.getClass.getName
        .stripSuffix("$")) ++ args
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    val line = out.linesIterator.find(_.startsWith(CodegenCacheProbe.Tag))
      .getOrElse(fail(s"no result line in:\n$out"))
    val Array(conf, r1, r2) = line.stripPrefix(CodegenCacheProbe.Tag).trim.split(' ')
    (conf, r1.toLong, r2.toLong)
  }

  test("install sizes the codegen cache: a second round of 160 projections compiles nothing") {
    val (conf, first, second) = probe()
    assert(first >= CodegenCacheProbe.Projections, s"first round compiled $first")
    assert(second == 0L, s"second round recompiled $second classes")
    assert(conf == functions.CodegenCacheEntries.toString)
  }

  test("an explicit spark.sql.codegen.cache.maxEntries in the SparkConf is left unchanged") {
    val (conf, first, second) = probe("64")
    assert(conf == "64")
    assert(first >= CodegenCacheProbe.Projections, s"first round compiled $first")
    // 160 distinct classes through a 64-entry LRU: every one is evicted
    // before the second round asks for it again
    assert(second >= CodegenCacheProbe.Projections, s"second round compiled $second")
  }
}

/** Child-JVM side of [[CodegenCacheSpec]]: starts a session (with
  * `spark.sql.codegen.cache.maxEntries` = the optional first argument in
  * its SparkConf), installs the engine, then generates the same
  * [[Projections]] distinct projections twice and prints the session's
  * cache size and the Janino compiles of each round.
  */
object CodegenCacheProbe {
  val Tag = "CODEGEN_CACHE"
  val Projections = 160

  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
    args.headOption.foreach(n => builder.config("spark.sql.codegen.cache.maxEntries", n))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    functions.install(spark)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def round(): Long = {
      val before = compiles.getCount
      (1 to Projections).foreach { i =>
        UnsafeProjection.create(Seq(Add(BoundReference(0, LongType, false), Literal(i.toLong))))
      }
      compiles.getCount - before
    }
    val first = round()
    val second = round()
    val conf = spark.sessionState.conf.getConfString("spark.sql.codegen.cache.maxEntries")
    println(s"$Tag $conf $first $second")
    spark.stop()
  }
}
