package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** The one owner of the sweep's on-disk artifacts: written indexes,
  * export round trips and source fixtures that a query builds and then
  * reads. Every artifact path lies under [[root]], one directory per
  * process in `java.io.tmpdir`, which a JVM shutdown hook deletes, so a
  * process that exits normally leaves nothing behind.
  *
  * An artifact is built once per (process, name, sf dir) and rebuilt if
  * its files vanish, so repeat invocations (Bench reps, Verify, a warm
  * driver session) time the probe, not the build, and a reaped /tmp
  * heals itself. Its handle (a path, or an index whose path, centroids
  * or codebooks ride along) is valid only while the handle is in this
  * process's map AND both `<path>` and the sibling marker
  * `<path>.complete` exist; the marker sits beside the artifact, so glob
  * readers of `<path>/...` never see it. Otherwise, under a per-path
  * lock, any leftover target and marker are deleted, `build(path)` runs
  * in place, the marker is written and [[builds]] moves. Same-path
  * callers wait on the lock, so none reads a partial artifact; the
  * per-process root keeps concurrent processes apart. A build that
  * throws, or whose marker cannot be written, leaves no handle, so the
  * next call rebuilds.
  *
  * Bench reads [[builds]] around each rep: a rep during which it moved
  * built something, and is billed to `fixtures`, not to the query. */
object Artifact {
  private val handles = new ConcurrentHashMap[String, AnyRef]()
  private val locks = new ConcurrentHashMap[String, Object]()
  private val completed = new AtomicLong

  /** Completed builds in this process. */
  def builds: Long = completed.get

  /** This process's artifact directory, made on first use and deleted
    * by a shutdown hook. */
  lazy val root: Path = {
    val r = Files.createTempDirectory(
      s"graft_${ProcessHandle.current().pid()}_")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(r), "graft-artifact-cleanup"))
    r
  }

  /** The path of artifact `name` for sf dir `dir`, under [[root]]. */
  def path(name: String, dir: String): String =
    root.resolve(name + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString

  def memoized[A](name: String, dir: String)(build: String => A): A = {
    val p = path(name, dir)
    val target = Paths.get(p)
    val marker = Paths.get(p + ".complete")
    locks.computeIfAbsent(p, _ => new Object).synchronized {
      val handle = handles.get(p)
      if (handle != null && Files.exists(target) && Files.exists(marker))
        handle.asInstanceOf[A]
      else {
        handles.remove(p)
        deleteRecursively(marker)
        deleteRecursively(target)
        val built = build(p)
        Files.write(marker, Array.empty[Byte])
        handles.put(p, built.asInstanceOf[AnyRef])
        completed.incrementAndGet()
        built
      }
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => try Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () })
      finally walk.close()
    }
}
