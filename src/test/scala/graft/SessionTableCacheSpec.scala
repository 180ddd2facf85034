package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

class SessionTableCacheSpec extends AnyFunSuite {
  private final class Sess(val id: Int) { @volatile var stopped = false }

  // only the session under test loads slowly, so its misses overlap
  private def newCache(slow: Sess) = new SessionTableCache[Sess, String](_.stopped,
    (s, p) => { if (s eq slow) Thread.sleep(5); s"${s.id}:$p" })

  // 8 threads released together, each missing on its own path; get()
  // rethrows an IllegalStateException("Recursive update") from any thread
  // and times out on a deadlock
  private def concurrentMisses(cache: SessionTableCache[Sess, String], live: Sess): Unit = {
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val futures = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = { start.await(); cache(live, s"/t/$i") }
        })
      }
      start.countDown()
      assert(futures.map(_.get(30, TimeUnit.SECONDS)) == (0 until 8).map(i => s"${live.id}:/t/$i"))
    } finally pool.shutdownNow()
  }

  test("concurrent misses beside a stopped session's entries: no recursive update, no hang") {
    for (_ <- 0 until 20) {
      val live = new Sess(1)
      val cache = newCache(live)
      val dead = new Sess(0)
      (0 until 16).foreach(i => cache(dead, s"/old/$i"))
      dead.stopped = true
      concurrentMisses(cache, live)
      assert(cache.size == 8) // the stopped session's entries are swept
      // past the 256-entry bound every miss clears the map, concurrently
      val full = newCache(live)
      val other = new Sess(2)
      (0 to 256).foreach(i => full(other, s"/other/$i"))
      assert(full.size == 257)
      concurrentMisses(full, live)
      assert(full(live, "/t/3") == "1:/t/3")
    }
  }
}
