package graft.config

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The scale-aware pin switch (round 18): `spark.graft.pin.reliable`
  * routes every engine pin through a RELIABLE `Dataset.checkpoint`
  * (survives executor loss) instead of `localCheckpoint`. The contract
  * under test: identical results either way, and the reliable path
  * actually writes to the checkpoint directory. */
class PinSpec extends SparkFunSuite {

  test("reliable pins produce identical results and hit the " +
      "checkpoint dir") {
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map(i =>
      (i, s"alpha beta gamma delta ${i % 7} tail ${i % 3}"))
      .toDF("doc_id", "text")

    def run(): Seq[String] =
      graft.operators.Dedup.simhashNearDup(docs, "text", "doc_id")
        .orderBy($"a", $"b").collect().map(_.toString).toSeq

    val local = run()

    withReliablePins { ckDir =>
      val rel = run()
      assert(rel == local,
        "reliable pins must not change operator results")
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable pin must write checkpoint files")
    }
  }

  test("pinLazy defers materialization until first use, both modes") {
    val s = spark
    import s.implicits._
    import graft.config.Pin._
    val base = (0L until 50L).toDF("v")
    assert(base.pinLazy().agg(sum($"v")).head().getLong(0) == 1225L)
    withReliablePins { _ =>
      assert(base.pinLazy().agg(sum($"v")).head().getLong(0) == 1225L)
    }
  }

  /** Runs `f` with reliable pins on and a fresh checkpoint dir (passed to
    * `f`), then restores the session's pin mode and checkpoint dir, so
    * each test runs the same alone or in any order. */
  private def withReliablePins(f: String => Unit): Unit = {
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_pin_spec").toString
    sc.setCheckpointDir(ckDir)
    spark.conf.set("spark.graft.pin.reliable", "true")
    try f(ckDir)
    finally {
      spark.conf.set("spark.graft.pin.reliable", "false")
      sc.setCheckpointDir(prevDir.orNull)
    }
  }
}
