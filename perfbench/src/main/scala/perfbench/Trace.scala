package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are nanoseconds on the epoch clock, so
  * spans timed with `System.nanoTime` and spans reported by Spark's
  * listeners (epoch milliseconds) share one axis. */
final case class Span(id: Int, var parent: Int, name: String, start: Long,
    var end: Long)

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val nanoToEpoch =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Epoch-clock nanoseconds for a `System.nanoTime` reading. */
  def epoch(nano: Long): Long = nano + nanoToEpoch

  def add(parent: Int, name: String, start: Long, end: Long): Int =
    synchronized {
      val id = buf.size
      buf += Span(id, parent, name, start, end)
      id
    }

  def update(id: Int)(f: Span => Unit): Unit = synchronized(f(buf(id)))

  def size: Int = synchronized(buf.size)

  def write(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id,parent,name,start_ns,end_ns\n")
      buf.foreach(s => w.write(s"${s.id},${s.parent},${s.name},${s.start},${s.end}\n"))
    } finally w.close()
  }
}

/** Work Spark did for one traced operation (a pass, micro-batch or query). */
final class OpStats {
  var jobs, stages, tasks, busyMs, gcMs, shuffleBytes, exchanges = 0L
  var planningMs = 0.0
}

/** Listener-side tracing: spans for jobs and stages, per-operation work
  * counters from task metrics, and exchange counts and planning time from
  * each executed plan.
  *
  * A job belongs to the operation named by the local property
  * [[ExecTrace.OpKey]] (set by the harness around a traced operation), or,
  * in a streaming query, to its micro-batch; `tracedBatch` picks the
  * micro-batches that are traced, so a run can interleave traced and
  * untraced batches and measure the tracing overhead. */
final class ExecTrace(spans: Spans, tracedBatch: Long => Boolean)
    extends SparkListener with QueryExecutionListener {
  private val ops = mutable.LinkedHashMap.empty[String, OpStats]
  private val opParent = mutable.HashMap.empty[String, Int]
  private val jobOp = mutable.HashMap.empty[Int, String]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val pendingPlans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]

  /** Registers operation `key` with its span, before its jobs run. */
  def beginOp(key: String, span: Int): Unit = synchronized {
    ops.getOrElseUpdate(key, new OpStats)
    opParent(key) = span
  }

  def stats: Map[String, OpStats] = synchronized(ops.toMap)

  private def opOf(props: java.util.Properties): Option[String] =
    if (props == null) None
    else Option(props.getProperty(ExecTrace.OpKey)).orElse(
      Option(props.getProperty("streaming.sql.batchId")).map(_.toLong)
        .filter(tracedBatch).map(b => s"batch-$b"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { key =>
      val st = ops.getOrElseUpdate(key, new OpStats)
      st.jobs += 1
      jobOp(e.jobId) = key
      jobSpan(e.jobId) = spans.add(opParent.getOrElse(key, -1), "spark.job",
        e.time * 1000000L, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(id => spans.update(id)(_.end = e.time * 1000000L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      for (job <- stageJob.get(info.stageId); key <- jobOp.get(job)) {
        ops(key).stages += 1
        spans.add(jobSpan(job), "spark.stage",
          info.submissionTime.getOrElse(0L) * 1000000L,
          info.completionTime.getOrElse(0L) * 1000000L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); key <- jobOp.get(job)) {
      val st = ops(key)
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.busyMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Adds a streaming micro-batch's span and re-parents its jobs. */
  def batchSpan(batchId: Long, startNs: Long, endNs: Long,
      planningMs: Double): Unit = synchronized {
    val key = s"batch-$batchId"
    val id = spans.add(-1, "stream.batch", startNs, endNs)
    opParent(key) = id
    val st = ops.getOrElseUpdate(key, new OpStats)
    st.planningMs += planningMs
    jobOp.foreach { case (job, k) =>
      if (k == key) spans.update(jobSpan(job))(_.parent = id)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    pendingPlans.add((ExecTrace.exchanges(qe.executedPlan).toLong, planning))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Credits the plans executed since the last call to operation `key`;
    * call after the listener bus has drained. */
  def creditPlans(key: Option[String]): Unit = synchronized {
    var p = pendingPlans.poll()
    while (p != null) {
      key.flatMap(ops.get).foreach { st =>
        st.exchanges += p._1
        st.planningMs += p._2
      }
      p = pendingPlans.poll()
    }
  }
}

object ExecTrace {
  val OpKey = "perfbench.op"

  /** Shuffle exchanges in an executed plan, reused exchanges excluded. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike =>
      1 + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
