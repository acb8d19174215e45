package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Artifact.memoized]]: one build per (process, name, dir) under
  * concurrent first use, a rebuild whenever the handle, the target or
  * its completion marker is missing, and no artifact left on disk once
  * the process exits. */
class ArtifactSpec extends AnyFunSuite {

  /** A name no other test (or earlier run of this one) has used, and
    * an sf dir name (only its text goes into the path). */
  private def fresh(): (String, String) = {
    val name = "spec_" + java.util.UUID.randomUUID().toString.take(8)
    (name, s"/graft_artifact_sf/$name")
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
    // a complete artifact this process holds no handle for
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

  test("a process that memoizes an artifact and exits leaves no " +
      "directory behind") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val proc = new ProcessBuilder(java.toString, "-Xmx64m", "-cp",
      System.getProperty("java.class.path"),
      "graft.queries.ArtifactExitProbe")
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor(60, TimeUnit.SECONDS) && proc.exitValue == 0, out)
    val Array(root, path, built) = out.trim.linesIterator.toSeq.last
      .split('\t')
    assert(built == "true", out)
    assert(Paths.get(path).startsWith(Paths.get(root)), out)
    assert(!Files.exists(Paths.get(root)), s"$root outlived its process")
  }
}

/** The process the exit test forks: memoizes one artifact, prints the
  * artifact root, its path and whether its files exist, and exits. */
object ArtifactExitProbe {
  def main(args: Array[String]): Unit = {
    val p = Artifact.memoized("exit_probe", "/graft_exit_sf") { p =>
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, "part-0"), "a".getBytes("UTF-8"))
      p
    }
    println(s"${Artifact.root}\t$p\t${Files.exists(Paths.get(p, "part-0"))}")
  }
}
