package graft.geom

import org.scalatest.funsuite.AnyFunSuite

class StrTreeSpec extends AnyFunSuite {

  private def randEnv(rnd: scala.util.Random): Envelope = {
    val x = rnd.nextDouble() * 1000
    val y = rnd.nextDouble() * 1000
    Envelope(x, y, x + rnd.nextDouble() * 50, y + rnd.nextDouble() * 50)
  }

  test("query matches brute-force envelope scan on random data") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(0, 1, 5, 16, 17, 100, 1000, 5000)) {
      val envs = Array.fill(n)(randEnv(rnd))
      val tree = StrTree.build(envs)
      assert(tree.size == n)
      for (_ <- 0 until 20) {
        val q = randEnv(rnd).expand(rnd.nextDouble() * 30)
        val got = tree.query(q).sorted.toSeq
        val want = envs.indices.filter(i => envs(i).intersects(q))
        assert(got == want, s"n=$n query=$q")
      }
    }
  }

  test("empty envelopes are excluded; empty query matches nothing") {
    val rnd = new scala.util.Random(7)
    val envs = Array.tabulate(200)(i => if (i % 3 == 0) Envelope.empty else randEnv(rnd))
    val tree = StrTree.build(envs)
    assert(tree.size == envs.count(!_.isEmpty))
    val got = tree.query(Envelope(0, 0, 1000, 1000)).sorted.toSeq
    assert(got == envs.indices.filter(i => !envs(i).isEmpty))
    assert(got.forall(_ % 3 != 0))
    assert(tree.query(Envelope.empty).isEmpty)
  }

  test("touching boundaries count (closed-interval semantics)") {
    val tree = StrTree.build(Array(Envelope(0, 0, 10, 10)))
    assert(tree.query(Envelope(10, 10, 20, 20)).toSeq == Seq(0))
    assert(tree.query(Envelope(10.0001, 10.0001, 20, 20)).isEmpty)
  }

  test("nearest matches brute force over envelope-center distances") {
    val rnd = new scala.util.Random(99)
    for (n <- Seq(1, 16, 100, 2000)) {
      val envs = Array.fill(n)(randEnv(rnd))
      val tree = StrTree.build(envs)
      // exact distance: probe-point to envelope center (any consistent
      // metric >= the envelope gap works for the bound contract)
      for (_ <- 0 until 20) {
        val px = rnd.nextDouble() * 1000; val py = rnd.nextDouble() * 1000
        val probe = Envelope(px, py, px, py)
        def exact(i: Int): Double =
          math.hypot(envs(i).midX - px, envs(i).midY - py)
        val (ties, best) = tree.nearest(probe, Double.PositiveInfinity, exact)
        val wantBest = (0 until n).map(exact).min
        assert(math.abs(best - wantBest) < 1e-12)
        val wantTies = (0 until n).filter(i => exact(i) == wantBest)
        assert(ties.toSeq == wantTies)
      }
      // bounded: maxDist below the minimum finds nothing
      val (e, d) = tree.nearest(Envelope(5000, 5000, 5000, 5000), 1.0,
        i => math.hypot(envs(i).midX - 5000, envs(i).midY - 5000))
      assert(e.isEmpty && d.isNaN)
    }
  }

  test("kNearest matches brute-force rank()<=k incl. tie runs") {
    val rnd = new scala.util.Random(123)
    for (n <- Seq(1, 10, 300, 2000); k <- Seq(1, 3, 7)) {
      val envs = Array.fill(n)(randEnv(rnd))
      val tree = StrTree.build(envs)
      for (_ <- 0 until 10) {
        val px = rnd.nextDouble() * 1000; val py = rnd.nextDouble() * 1000
        val probe = Envelope(px, py, px, py)
        // quantize UPWARD so tie runs appear while exact stays >= the
        // envelope-gap lower bound (the branch-and-bound contract)
        def exact(i: Int): Double =
          math.ceil(math.hypot(envs(i).midX - px, envs(i).midY - py) / 50.0) * 50.0
        val got = tree.kNearest(probe, k, Double.PositiveInfinity, exact).toSeq
        val all = (0 until n).map(i => (i, exact(i))).sortBy(t => (t._2, t._1))
        val want = all.filter { case (_, d) => all.count(_._2 < d) < k }
        assert(got == want, s"n=$n k=$k")
        // k=1 agrees with nearest()
        if (k == 1) {
          val (ties, best) = tree.nearest(probe, Double.PositiveInfinity, exact)
          assert(got.map(_._1) == ties.toSeq && got.forall(_._2 == best))
        }
      }
    }
  }

  test("kNearest honors maxDist and NaN exclusion") {
    val envs = Array(Envelope(0, 0, 1, 1), Envelope(5, 5, 6, 6), Envelope(20, 20, 21, 21))
    val tree = StrTree.build(envs)
    // exact >= envelope gap (0, ~7.07, ~28.28): the bound contract
    def exact(i: Int): Double = Seq(1.0, 7.2, 28.3)(i)
    assert(tree.kNearest(Envelope(0, 0, 0, 0), 3, 10.0, exact).toSeq ==
      Seq((0, 1.0), (1, 7.2)))
    def exactSkip(i: Int): Double = if (i == 0) Double.NaN else exact(i)
    assert(tree.kNearest(Envelope(0, 0, 0, 0), 1, 100.0, exactSkip).toSeq ==
      Seq((1, 7.2)))
  }

  test("nearest skips NaN (excluded) items") {
    val envs = Array(Envelope(0, 0, 1, 1), Envelope(10, 10, 11, 11))
    val tree = StrTree.build(envs)
    // item 0 excluded: nearest must fall through to item 1
    val (ties, best) = tree.nearest(Envelope(0, 0, 0, 0), Double.PositiveInfinity,
      i => if (i == 0) Double.NaN else 15.0)
    assert(ties.toSeq == Seq(1) && best == 15.0)
  }

  test("nearest keeps identical tied points when sqrt rounds above hypot") {
    // a probe/point pair whose sqrt(dx*dx + dy*dy) is one ulp above the
    // hypot the distance kernel returns: a gap computed that way pruned
    // the second and third copies after the first set the running best
    val rnd = new scala.util.Random(17)
    val (dx, dy) = Iterator.continually((rnd.nextDouble() * 10, rnd.nextDouble() * 10))
      .find { case (a, b) => math.sqrt(a * a + b * b) > math.hypot(a, b) }.get
    val tree = StrTree.build(Array.fill(3)(Envelope(dx, dy, dx, dy)))
    val (ties, best) = tree.nearest(Envelope(0, 0, 0, 0), Double.PositiveInfinity,
      _ => Measures.distance(Point(0, 0), Point(dx, dy)))
    assert(ties.toSeq == Seq(0, 1, 2) && best == math.hypot(dx, dy))
  }

  test("weightedBound matches the brute-force cumulative-weight bound") {
    val rnd = new scala.util.Random(5)
    for (n <- Seq(0, 1, 17, 300)) {
      val envs = Array.fill(n)(randEnv(rnd))
      val weights = Array.fill(n)(rnd.nextInt(4).toLong) // zero weights too
      val tree = StrTree.build(envs)
      for (_ <- 0 until 20; k <- Seq(1L, 3L, 50L)) {
        val p = randEnv(rnd)
        // NaN leaves every fifth item out
        def upper(i: Int) = if (i % 5 == 0) Double.NaN else p.maxDistance(envs(i))
        val sorted = envs.indices.filterNot(_ % 5 == 0).map(i => (upper(i), weights(i)))
          .sortBy(_._1)
        val cum = sorted.scanLeft(0L)(_ + _._2).tail
        val want = sorted.zip(cum).find(_._2 >= k).map(_._1._1)
          .getOrElse(Double.PositiveInfinity)
        assert(tree.weightedBound(p, k, weights(_), upper) == want, s"n=$n k=$k")
      }
    }
  }

  test("identical/degenerate point envelopes") {
    val envs = Array.fill(100)(Envelope(5, 5, 5, 5))
    val tree = StrTree.build(envs)
    assert(tree.query(Envelope(5, 5, 5, 5)).length == 100)
    assert(tree.query(Envelope(5.1, 5.1, 6, 6)).isEmpty)
  }
}
