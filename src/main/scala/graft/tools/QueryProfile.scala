package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Profiles named SparkEntry queries on the bench's session
  * ([[graft.GraftSession]]), headless: the drill-down behind a `Bench`
  * row. Per query, one untimed warm run (JIT, parquet footers, memoized
  * fixtures), then one timed run that prints
  *   - every job of the run with its wall time, stage and task counts and
  *     input / shuffle-read / shuffle-write bytes (gaps between jobs are
  *     driver-side time);
  *   - the construct / plan / execute split in ms: building the DataFrame
  *     (including any driver collects it makes), analysis + optimization +
  *     physical planning, and the noop write `Bench` times (which plans
  *     the write command again);
  *   - the shuffle exchanges (reused ones excluded) and whole-stage
  *     codegen stages of the write's final adaptive plan.
  * With `planDir`, the formatted final plan goes to `<planDir>/<name>.txt`.
  *
  * Usage: `runMain graft.tools.QueryProfile <names,csv> [sfDir] [planDir]`
  * (`sfDir` defaults to `SPARK_GRAFT_SF_DIR`, as in `Bench`).
  */
object QueryProfile {

  /** Local property that tags the timed run's jobs. */
  private val Tag = "graft.profile"

  private final class Job(val start: Long, val desc: String) {
    var end = -1L
    var stages = 0
    var tasks = 0
    var inputB = 0L
    var shufRB = 0L
    var shufWB = 0L
  }

  /** Jobs started under [[Tag]], in start order, and the query executions
    * that finish while `recording`. Read only after a listener drain. */
  private final class Recorder
      extends SparkListener with QueryExecutionListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val executions = mutable.ArrayBuffer.empty[QueryExecution]
    private val stageJob = mutable.HashMap.empty[Int, Job]
    @volatile var recording = false

    def reset(): Unit = synchronized {
      jobs.clear(); executions.clear(); stageJob.clear()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(Tag) != null)) {
        val j = new Job(e.time, props.flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).foreach { j =>
          val m = e.stageInfo.taskMetrics
          j.stages += 1
          j.tasks += e.stageInfo.numTasks
          j.inputB += m.inputMetrics.bytesRead
          j.shufRB += m.shuffleReadMetrics.totalBytesRead
          j.shufWB += m.shuffleWriteMetrics.bytesWritten
        }
      }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      if (recording) synchronized(executions += qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Nodes of an executed plan, looking through adaptive wrappers and
    * query stages into the final plan; a reused exchange is a leaf. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("sfDir: pass it or set SPARK_GRAFT_SF_DIR"))
    val planDir = args.lift(2)
    val spark = graft.GraftSession.local("graft-query-profile")
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    names.foreach { name =>
      try {
        val fn = graft.SparkEntry.queries(name)
        noop(fn(spark, sfDir))
        ListenerBridge.drain(sc)
        rec.reset()
        sc.setLocalProperty(Tag, name)
        val (tCons, tPlan, tExec) = try {
          var t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val tCons = ms(t0)
          t0 = System.nanoTime()
          df.queryExecution.executedPlan
          val tPlan = ms(t0)
          ListenerBridge.drain(sc)
          rec.recording = true
          t0 = System.nanoTime()
          noop(df)
          (tCons, tPlan, ms(t0))
        } finally sc.setLocalProperty(Tag, null)
        ListenerBridge.drain(sc)
        rec.recording = false

        val (jobs, executions) =
          rec.synchronized((rec.jobs.toSeq, rec.executions.toSeq))
        println(f"[profile] $name total ${tCons + tPlan + tExec}%.1f ms: " +
          f"construct=$tCons%.1f plan=$tPlan%.1f exec=$tExec%.1f " +
          s"(${jobs.size} jobs)")
        var acc = 0L
        jobs.foreach { case (id, j) =>
          val dur = if (j.end >= 0) j.end - j.start else 0L
          acc += dur
          println(f"[profile]   job $id%-5d ${dur / 1e3}%7.3f s  " +
            f"stages=${j.stages}%-3d tasks=${j.tasks}%-5d " +
            f"in=${j.inputB >> 10}%8dKiB sr=${j.shufRB >> 10}%6dKiB " +
            f"sw=${j.shufWB >> 10}%6dKiB  ${j.desc.take(60)}")
        }
        println(f"[profile]   sum of job walls ${acc / 1e3}%.3f s " +
          "(gaps = driver-side time)")
        val all = executions.flatMap(qe => nodes(qe.executedPlan))
        println(s"[profile] $name final plan: " +
          s"${all.count(_.isInstanceOf[ShuffleExchangeLike])} shuffle " +
          s"exchanges, ${all.count(_.isInstanceOf[WholeStageCodegenExec])}" +
          " codegen stages")
        planDir.foreach { d =>
          val text =
            executions.map(_.explainString(FormattedMode)).mkString("\n")
          Files.write(Paths.get(d, s"$name.txt"),
            text.getBytes(StandardCharsets.UTF_8))
          println(s"[profile] $name plan written to $d/$name.txt")
        }
      } catch { case t: Throwable =>
        rec.recording = false
        System.err.println(s"[profile] $name FAILED: $t")
      }
    }
    spark.stop()
  }
}
