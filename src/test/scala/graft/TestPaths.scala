package graft

import java.nio.file.{Files, Path}

/** Scratch paths for specs. All lie under [[queries.Artifact.root]],
  * which a shutdown hook deletes when the test JVM exits, so a test run
  * leaves nothing behind in `java.io.tmpdir`. */
object TestPaths {

  def root: Path = queries.Artifact.root

  /** A new empty directory under [[root]]. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** A new empty file under [[root]]. */
  def file(prefix: String, suffix: String): Path =
    Files.createTempFile(root, prefix, suffix)
}
