package graft.operators

import graft.SparkFunSuite
import graft.sources.DeltaSnapshot

/** Delta checkpoint replay (round 14): checkpoint-seeded snapshots
  * agree with full-JSON replay on a complete log, survive vacuumed
  * logs where JSON-only replay MUST fail, and fail loud on
  * unreplayable logs. */
class DeltaSnapshotSpec extends SparkFunSuite {

  private def freshDir(tag: String): String =
    graft.TestPaths.dir(s"graft_delta_$tag").toString

  private val want = Seq(
    ("c0.parquet", 1000L, "checkpoint"),
    ("c1.parquet", 2001L, "log"),
    ("c2.parquet", 1002L, "checkpoint"),
    ("c3.parquet", 1003L, "checkpoint"),
    ("c4.parquet", 1004L, "checkpoint"),
    ("c5.parquet", 1005L, "checkpoint"),
    ("d7.parquet", 1207L, "log"))

  test("checkpoint-seeded snapshot: live set = checkpoint adds " +
      "minus later removes, plus the JSON tail; re-adds resurrect " +
      "with the new size; tombstones in the checkpoint are not live") {
    val dir = freshDir("full")
    DeltaSnapshot.writeFixture(spark, dir, vacuumed = false)
    val got = DeltaSnapshot.liveFiles(spark, dir)
      .orderBy("path").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == want)
  }

  test("AGREEMENT: on a complete log, JSON-only replay computes the " +
      "same live set (modulo provenance)") {
    val dir = freshDir("agree")
    DeltaSnapshot.writeFixture(spark, dir, vacuumed = false)
    val a = DeltaSnapshot.liveFiles(spark, dir)
      .select("path", "size").orderBy("path").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val b = DeltaSnapshot.liveFilesJsonOnly(spark, dir)
      .select("path", "size").orderBy("path").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("VACUUMED log (pre-checkpoint JSON deleted): the checkpoint " +
      "path still replays; JSON-only replay fails loud") {
    val dir = freshDir("vac")
    DeltaSnapshot.writeFixture(spark, dir, vacuumed = true)
    val got = DeltaSnapshot.liveFiles(spark, dir)
      .orderBy("path").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == want)
    val e = intercept[IllegalArgumentException] {
      DeltaSnapshot.liveFilesJsonOnly(spark, dir)
    }
    assert(e.getMessage.contains("version 0"))
  }

  test("a vacuumed log whose _last_checkpoint is missing fails loud " +
      "(expired JSON cannot be replayed)") {
    val dir = freshDir("nolc")
    DeltaSnapshot.writeFixture(spark, dir, vacuumed = true)
    new java.io.File(s"$dir/_delta_log/_last_checkpoint").delete()
    // the checkpoint parquet itself still exists, but without the
    // pointer the protocol offers no seed — decline, don't guess
    val e = intercept[IllegalArgumentException] {
      DeltaSnapshot.liveFiles(spark, dir)
    }
    assert(e.getMessage.contains("no checkpoint"))
  }

  test("a commit GAP in the post-checkpoint tail fails loud") {
    val dir = freshDir("gap")
    DeltaSnapshot.writeFixture(spark, dir, vacuumed = true)
    new java.io.File(
      s"$dir/_delta_log/${"0" * 18}11.json").delete()
    val e = intercept[IllegalArgumentException] {
      DeltaSnapshot.liveFiles(spark, dir)
    }
    assert(e.getMessage.contains("gap"))
  }

  test("multi-part checkpoints are declined loud, not misread") {
    val dir = freshDir("parts")
    DeltaSnapshot.writeFixture(spark, dir, vacuumed = true)
    java.nio.file.Files.write(
      new java.io.File(s"$dir/_delta_log/_last_checkpoint").toPath,
      """{"version":10,"size":7,"parts":2}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaSnapshot.liveFiles(spark, dir)
    }
    assert(e.getMessage.contains("multi-part"))
  }
}
