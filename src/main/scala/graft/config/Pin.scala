package graft.config

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset}

/** Scale-aware lineage pin (round 18).
  *
  * The engine pins intermediate relations (`.pin()` /
  * `.pinLazy()`) to (a) truncate lineage so iterative loops and
  * multi-consumer plans don't re-run corpus-scale extraction, and
  * (b) stop a global output sort's range-sample pass from executing a
  * kernel pipeline twice. On `local[n]` and for audit-sized results the
  * right mechanism is `localCheckpoint`: executor-local storage, no
  * stable-storage round trip.
  *
  * FAULT TOLERANCE AT CLUSTER SCALE: `localCheckpoint` materializes to
  * executor-local block storage and CUTS the lineage — if an executor
  * is lost, its pinned partitions are unrecoverable and the job fails
  * (Spark recomputes from lineage, which no longer exists). That is an
  * acceptable trade for audit-sized intermediates on a benchmark box,
  * and the wrong one for corpus-scale pins (e.g. a full edge relation)
  * on a preemptible cluster. Deployments therefore flip ONE switch:
  *
  *   spark.graft.pin.reliable = true   (default false)
  *
  * and every pin routes through `Dataset.checkpoint` to the cluster's
  * checkpoint directory (`SparkContext.setCheckpointDir` must point at
  * HDFS/object storage — Spark itself fails loudly if unset), which
  * survives executor loss. The flag is read per call, so a session can
  * scope it around a fragile stage. Semantics are unchanged either
  * way: both forms materialize the same rows and truncate lineage;
  * `unpersist()` on the result remains valid. Reliable checkpoint
  * FILES, however, are deleted only when the application sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
  * false; then the ContextCleaner removes them once the pinned relation
  * is garbage-collected). Without it they stay in the checkpoint
  * directory for the application's lifetime and beyond — iterative
  * operators that pin per iteration write O(iterations × data).
  *
  * The first pin on a SparkContext logs the mode it chose, and the
  * first reliable pin without `cleanCheckpoints` warns once that
  * checkpoint files will accumulate.
  */
object Pin {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** (SparkContext, mode) pairs already logged. */
  private val logged = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, java.util.Set[Boolean]]())

  private def reliable(df: Dataset[_]): Boolean = {
    val on =
      df.sparkSession.conf.get("spark.graft.pin.reliable", "false").toBoolean
    val sc = df.sparkSession.sparkContext
    if (logged.computeIfAbsent(sc, _ => java.util.concurrent
        .ConcurrentHashMap.newKeySet[Boolean]()).add(on)) {
      log.info(s"graft pins use ${if (on) "reliable checkpoints in " +
        sc.getCheckpointDir.getOrElse("<unset checkpoint dir>")
        else "local checkpoints"} (spark.graft.pin.reliable=$on)")
      if (on && !sc.getConf.getBoolean(
          "spark.cleaner.referenceTracking.cleanCheckpoints", false))
        log.warn("spark.graft.pin.reliable=true without " +
          "spark.cleaner.referenceTracking.cleanCheckpoints=true: " +
          "checkpoint files will accumulate in " +
          sc.getCheckpointDir.getOrElse("the checkpoint directory") +
          " until it is cleaned by hand")
    }
    on
  }

  implicit final class PinOps(private val df: DataFrame) extends AnyVal {
    /** Eager pin: materialize now, truncate lineage. */
    def pin(): DataFrame =
      if (reliable(df)) df.checkpoint() else df.localCheckpoint()

    /** Lazy pin: truncate lineage, materialize on first use — for
      * sites where the pin (not eagerness) is the goal, e.g. when a
      * following driver collect is the natural materialization job. */
    def pinLazy(): DataFrame =
      if (reliable(df)) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
  }
}
