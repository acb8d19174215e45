package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Artifact.memoized]]: one build per (process, name, dir) under
  * concurrent first use, and a rebuild whenever the handle, the target
  * or its completion marker is missing. */
class ArtifactSpec extends AnyFunSuite {

  /** A name no other test (or earlier run of this one) has used. */
  private def fresh(): (String, String) = {
    val name = "spec_" + java.util.UUID.randomUUID().toString.take(8)
    (name, Files.createTempDirectory("graft_artifact_sf").toString)
  }

  private def writeParts(p: String): String = {
    Files.createDirectories(Paths.get(p))
    Files.write(Paths.get(p, "part-0"), "a".getBytes("UTF-8"))
    p
  }

  test("8 concurrent callers on one path: one build, complete artifact " +
      "for all") {
    val (name, dir) = fresh()
    val path = Artifact.path(name, dir)
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          val got = Artifact.memoized(name, dir) { tmp =>
            builds.incrementAndGet()
            Files.createDirectories(Paths.get(tmp))
            Files.write(Paths.get(tmp, "part-0"), "a".getBytes("UTF-8"))
            Thread.sleep(200)
            Files.write(Paths.get(tmp, "part-1"), "b".getBytes("UTF-8"))
            tmp
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

  test("a second call returns the same handle and builds moves once") {
    val (name, dir) = fresh()
    val before = Artifact.builds
    val first = Artifact.memoized(name, dir)(p => new Object -> writeParts(p))
    val second = Artifact.memoized(name, dir)(p => new Object -> writeParts(p))
    assert(second eq first)
    assert(Artifact.builds == before + 1)
  }

  test("deleting the target makes the next call rebuild") {
    val (name, dir) = fresh()
    val n = new AtomicInteger
    def call() = Artifact.memoized(name, dir) { p =>
      n.incrementAndGet(); writeParts(p)
    }
    val p = call()
    Files.delete(Paths.get(p, "part-0"))
    Files.delete(Paths.get(p))
    assert(call() == p)
    assert(n.get == 2)
    assert(Files.exists(Paths.get(p, "part-0")))
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    val (name, dir) = fresh()
    val path = Artifact.path(name, dir)
    val err = intercept[IllegalStateException] {
      Artifact.memoized(name, dir) { p =>
        writeParts(p)
        throw new IllegalStateException("build failed half way")
      }
    }
    assert(err.getMessage == "build failed half way")
    assert(!Files.exists(Paths.get(path + ".complete")))
    val n = new AtomicInteger
    assert(Artifact.memoized(name, dir) { p =>
      n.incrementAndGet(); writeParts(p)
    } == path)
    assert(n.get == 1)
    assert(Files.exists(Paths.get(path + ".complete")))
  }

  test("a complete artifact on disk with no handle in the process is " +
      "rebuilt") {
    val (name, dir) = fresh()
    val path = Artifact.path(name, dir)
    // what an earlier process with the same pid left behind
    writeParts(path)
    Files.write(Paths.get(path, "stale"), "old".getBytes("UTF-8"))
    Files.write(Paths.get(path + ".complete"), Array.empty[Byte])
    val n = new AtomicInteger
    Artifact.memoized(name, dir) { p => n.incrementAndGet(); writeParts(p) }
    assert(n.get == 1)
    assert(!Files.exists(Paths.get(path, "stale")))
    assert(Files.exists(Paths.get(path, "part-0")))
  }

  test("a marker that cannot be written fails the call, and the next " +
      "call rebuilds") {
    val (name, dir) = fresh()
    val path = Artifact.path(name, dir)
    val before = Artifact.builds
    intercept[java.io.IOException] {
      Artifact.memoized(name, dir) { p =>
        writeParts(p)
        // the marker's path is taken by a non-empty directory
        Files.createDirectories(Paths.get(p + ".complete", "x"))
        p
      }
    }
    assert(Artifact.builds == before)
    val n = new AtomicInteger
    assert(Artifact.memoized(name, dir) { p =>
      n.incrementAndGet(); writeParts(p)
    } == path)
    assert(n.get == 1)
    assert(Files.isRegularFile(Paths.get(path + ".complete")))
    assert(Artifact.builds == before + 1)
  }
}
