package graft.tools

import java.io.ByteArrayOutputStream

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.sql.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile]]: the query resolver names each query it is given or
  * reports the name, a query that throws fails its pass without stopping
  * it, and a warm `jobs` pass repeats its job and task counts exactly.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private lazy val queries = SparkEntry.queries
  private def names(names: String*) = Profile.resolve(names, queries).map(_.map(_._1))

  test("every query id resolves as a prefix to exactly its own query") {
    val keys = queries.keys.toSeq.sorted
    val ids = keys.map(_.takeWhile(_ != '_'))
    assert(ids.distinct.size == keys.size)
    for ((id, key) <- ids.zip(keys)) assert(names(id) == Right(Seq(key)), id)
    // an id that prefixes longer ids still picks its own query
    assert(keys.exists(_.startsWith("g110_")))
    assert(names("g11") == Right(keys.filter(_.startsWith("g11_"))))
  }

  test("full names and unique partial names resolve, in the order given") {
    val keys = queries.keys.toSeq.sorted.reverse
    assert(names(keys: _*) == Right(keys))
    assert(names("t05_minhash", "g15_sjoin_g") == Right(Seq("t05_minhash_pairs", "g15_sjoin_grid")))
  }

  test("unknown names and ambiguous prefixes are reported, not first-matched") {
    val Left(errors) = names("t05", "zz99", "t0", "g15_sjoin_grid", "g1")
    assert(errors.size == 3, errors)
    assert(errors(0) == "unknown query: zz99")
    assert(errors(1).startsWith("ambiguous query: t0 matches t01_"), errors(1))
    assert(errors(2).startsWith("ambiguous query: g1 matches "), errors(2))
  }

  test("SPARK_GRAFT_EXTRA_CONF parses to its pairs in order, skipping entries without =") {
    assert(graft.Bench.extraConf("") == Nil)
    assert(graft.Bench.extraConf("spark.sql.adaptive.enabled=false,junk,,k=a=b") ==
      Seq("spark.sql.adaptive.enabled" -> "false", "k" -> "a=b"))
  }

  test("a query that throws is returned as failed and the others still run") {
    val ran = ArrayBuffer.empty[String]
    val failed = Profile.pass(Seq("a" -> 1, "b" -> 2, "c" -> 3)) { (name, q) =>
      ran += name
      if (q == 2) throw new IllegalStateException("boom")
    }
    assert(failed == Seq("b") && ran == Seq("a", "b", "c"))

    // on a session: one query throws while it is built, one while it runs
    val qs: Seq[(String, Profile.Query)] = Seq(
      ("built", (_, _) => throw new IllegalStateException("no table")),
      ("ok", (s, _) => s.range(10).toDF("id")),
      ("runs", (s, _) => s.range(1).select(raise_error(lit("boom")))))
    val out = new ByteArrayOutputStream()
    val timeFailed = Console.withOut(out)(Profile.time(spark, dir, qs, 2))
    assert(timeFailed == Seq("built", "runs"))
    assert(out.toString("UTF-8").trim.matches(
      "\\{\"sf\":\"" + dir + "\",\"iters\":2,\"queries\":\\{\"ok\":\\d+\\.\\d{3}\\}\\}"), out)
    val planFailed = Console.withOut(new ByteArrayOutputStream())(Profile.plan(spark, dir, qs))
    assert(planFailed == Seq("built"))
    val (jobsFailed, passes) =
      Console.withOut(new ByteArrayOutputStream())(Profile.jobs(spark, dir, qs, 1))
    assert(jobsFailed == Seq("built", "runs") && passes.size == 1)
  }

  test("time builds and runs each query once untimed before its timed runs") {
    var builds = 0
    val qs: Seq[(String, Profile.Query)] =
      Seq(("counted", (s, _) => { builds += 1; s.range(3).toDF("id") }))
    val failed = Console.withOut(new ByteArrayOutputStream())(Profile.time(spark, dir, qs, 1))
    assert(failed.isEmpty && builds == 2, builds)
  }

  test("two warm jobs passes over a g15 and a t02 query agree on job and task counts") {
    val Right(qs) = Profile.resolve(Seq("g15", "t02"), queries)
    val (failed, passes) =
      Console.withOut(new ByteArrayOutputStream())(Profile.jobs(spark, dir, qs, 2))
    assert(failed.isEmpty)
    def counts(js: Seq[Profile.Job]) = js.filter(_.query.nonEmpty).groupBy(_.query)
      .map { case (q, qjs) => q -> ((qjs.size, qjs.map(_.tasks).sum)) }
    val Seq(first, second) = passes.map(counts)
    assert(first.keySet == Set("g15_sjoin_grid", "t02_exact_dedup"), first)
    assert(first.values.forall { case (jobs, tasks) => jobs > 0 && tasks >= jobs }, first)
    assert(first == second)
  }
}
