package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** `ExtensionQueries.memoizedFixture` under concurrent first use: one
  * build, and every caller gets the complete artifact. */
class MemoizedFixtureSpec extends AnyFunSuite {

  test("8 concurrent callers on one path: one build, complete artifact " +
      "for all") {
    val root = Files.createTempDirectory("graft_fixture_race")
    val path = root.resolve("artifact").toString
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          val got = ExtensionQueries.memoizedFixture(path) { tmp =>
            builds.incrementAndGet()
            Files.createDirectories(Paths.get(tmp))
            Files.write(Paths.get(tmp, "part-0"), "a".getBytes("UTF-8"))
            Thread.sleep(200)
            Files.write(Paths.get(tmp, "part-1"), "b".getBytes("UTF-8"))
          }
          // what the caller reads right after the call returns
          (got, Files.exists(Paths.get(got, "part-0")) &&
            Files.exists(Paths.get(got, "part-1")))
        })
      }
      start.countDown()
      val seen = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds")
      assert(seen.forall { case (p, complete) => p == path && complete },
        seen)
      assert(Files.exists(Paths.get(path + ".complete")))
    } finally pool.shutdownNow()
  }
}
