package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains share (`Bench`, `Verify`,
  * `tools.QueryProfile`, `tools.ScaleProbe`, `tools.PipelineDemo`), so a
  * profile or probe measures the configuration the bench measured.
  * `tools.EntrySmoke` deliberately builds a bare session instead: it
  * copies the driver's session, which carries none of these settings. */
object GraftSession {
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Partition-discovery strategy (round 17, guide §6): above this
      // many paths Spark LISTS DIRECTORIES WITH A DISTRIBUTED JOB —
      // right for object stores (S3/GCS list calls parallelize), wrong
      // for a local filesystem, where the 256-bucket digest index paid
      // a 0.6 s 256-task listing job per probe vs ~20 ms driver-side
      // (measured with the per-job profiler). Local default: driver-side
      // listing; on a cluster against an object store set
      // SPARK_GRAFT_LIST_PARALLEL_THRESHOLD back to the Spark default
      // (32) or lower. Parameterized so the scale-dependent value is a
      // deployment choice, not a constant tuned to this box.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "4096"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
