package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, HigherOrderFunction, JsonToStructs, JsonTuple, RLike, RegExpExtractBase, RegExpReplace, RuntimeReplaceable, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.ObjectType

import graft.config.Pin._

/** Where the engine's kernels run, decided from the plan by one
  * predicate (`kernelOp`: "this operator evaluates a kernel") instead
  * of per-query hand placement. A kernel is an expression class under
  * `graft.plans`, a `ScalaUDF`, a built-in parser (the regexp, JSON and
  * XPath families), a higher-order function (`aggregate`, `transform`,
  * …) or a typed object operator (`MapPartitions`, `MapElements`, …);
  * an aggregate counts when its grouping keys or aggregate-function
  * inputs hold one (partial aggregation runs below its exchange).
  *
  * '''Spread''' (this optimizer rule). A file scan runs one task per
  * parquet row group until the first shuffle, so a table of fewer row
  * groups than cores runs every per-row kernel above it (shingles, media
  * decode, quantized folds) on a fraction of the cores; the bundled
  * testdata is ONE row group per table. The rule puts
  * `Repartition(defaultParallelism)` beneath the lowest kernel operator,
  * directly above the file scans (or their union) when only narrow
  * operators and the streamed sides of broadcast joins (the side the
  * planner would choose) lie in between: the shuffle moves the raw rows
  * once and buys parallel kernel work. It fires only on scans opened by
  * [[graft.queries.Q.t]], which records the table's footer row-group
  * count on the scan ([[RowGroupsKey]]), and only when their total is
  * below `defaultParallelism`. A many-file corpus is already parallel,
  * and bare `spark.read` scans, cached relations and streaming plans are
  * left alone, as are built-in-only projections and the build sides of
  * broadcast joins (an exchange would cost more than it saves).
  *
  * '''Sort guard''' ([[guardSort]], applied to every query by
  * [[graft.Queries.all]]). A global sort plans `Exchange
  * rangepartitioning`, which runs its child twice: once for the
  * range-boundary sample, once for the partitioning. When a kernel runs
  * in the sort's own stage (no exchange-inducing operator in between),
  * the sample pass re-runs the whole kernel; behind an exchange, AQE's
  * sample reads the materialized shuffle instead. The guard returns the
  * same sort over a lazily pinned child, so the sort's sample job is the
  * pin's materialization and the kernel runs once (0.54-0.88× per query,
  * interleaved A/B at sf0.1, when these guards were placed by hand). A
  * pin is a `Dataset.localCheckpoint` call, so this half cannot live in
  * the optimizer.
  */
object KernelPlacement extends Rule[LogicalPlan] with JoinSelectionHelper {

  /** Scan option under which [[graft.queries.Q.t]] records the table's
    * parquet row-group total; a scan without it is never spread. */
  val RowGroupsKey = "graft.rowGroups"

  /** Installs the rule on `session`, once (SNIPPETS [1]'s pattern). */
  def setup(session: SparkSession): Unit = {
    val cur = session.experimental.extraOptimizations
    if (!cur.contains(KernelPlacement))
      session.experimental.extraOptimizations = cur :+ KernelPlacement
  }

  /** Row groups across the parquet files under `path`, from their
    * footers (hidden and `_`-prefixed files skipped, as Spark does). */
  def rowGroups(path: String, conf: Configuration): Int = {
    val p = new Path(path)
    val files = p.getFileSystem(conf).listFiles(p, true)
    var n = 0
    while (files.hasNext) {
      val st = files.next()
      if (!st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try n += r.getRowGroups.size finally r.close()
      }
    }
    n
  }

  private def isKernel(e: Expression): Boolean = e match {
    case _: ScalaUDF | _: RLike | _: RegExpReplace | _: RegExpExtractBase |
        _: GetJsonObject | _: JsonToStructs | _: JsonTuple |
        _: HigherOrderFunction => true
    case i: Invoke => i.targetObject.dataType match {
      case ObjectType(c) => c.getName.startsWith(XPathPackage)
      case _ => false
    }
    case r: RuntimeReplaceable => r.replacement.exists(isKernel)
    case _ => e.getClass.getName.startsWith("graft.plans.")
  }

  /** `xpath*` functions become `Invoke`s of evaluators from here. */
  private val XPathPackage = "org.apache.spark.sql.catalyst.expressions.xml."

  private def objectOp(p: LogicalPlan): Boolean = p match {
    case _: MapPartitions | _: MapElements | _: TypedFilter |
        _: AppendColumns | _: AppendColumnsWithObject => true
    case _ => false
  }

  /** Operators that run in their child's stage. */
  private def narrow(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: Generate | _: Union | _: SubqueryAlias |
        _: Expand | _: Sample | _: DeserializeToObject |
        _: SerializeFromObject => true
    case _ => objectOp(p)
  }

  /** The one predicate: does `p` run a kernel in its input's stage? */
  private def kernelOp(p: LogicalPlan): Boolean = p match {
    case a: Aggregate =>
      a.groupingExpressions.exists(_.exists(isKernel)) ||
        a.aggregateExpressions.exists(_.exists {
          case ae: AggregateExpression =>
            ae.aggregateFunction.children.exists(_.exists(isKernel))
          case _ => false
        })
    case _ => objectOp(p) ||
      narrow(p) && p.expressions.exists(_.exists(isKernel))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else place(plan, built = false)

  /** `built`: `p`'s stage builds a broadcast relation, which the planner
    * has already bounded by `autoBroadcastJoinThreshold`; its kernels
    * are left unspread. */
  private def place(p: LogicalPlan, built: Boolean): LogicalPlan = {
    val same = inStage(p)
    p.mapChildren { c =>
      val small = if (same.exists(_ eq c)) built
        else p.isInstanceOf[Join] && same.nonEmpty
      if (!kernelOp(p) || c.exists(kernelOp)) place(c, small)
      else if (small) c
      else scanGroups(c).filter(_ < parallelism(c)).fold(c)(_ => spread(c))
    }
  }

  /** Children of `p` that run in `p`'s own stage: all of a narrow
    * operator's, the streamed side of a broadcast join's. */
  private def inStage(p: LogicalPlan): Seq[LogicalPlan] = p match {
    case j: Join => getBroadcastBuildSide(j, hintOnly = false, conf) match {
      case Some(BuildRight) => Seq(j.left)
      case Some(BuildLeft) => Seq(j.right)
      case None => Nil
    }
    case _ if narrow(p) => p.children
    case _ => Nil
  }

  /** Row-group total of the [[graft.queries.Q.t]] scans that run in
    * `c`'s stage, when every leaf there is one. */
  private def scanGroups(c: LogicalPlan): Option[Int] = c match {
    case LogicalRelation(r: HadoopFsRelation, _, _, false, _) =>
      r.options.collectFirst {
        case (k, v) if k.equalsIgnoreCase(RowGroupsKey) => v.toInt
      }
    case _ if inStage(c).nonEmpty =>
      inStage(c).foldLeft(Option(0))((acc, ch) =>
        acc.flatMap(a => scanGroups(ch).map(a + _)))
    case _ => None
  }

  private def parallelism(c: LogicalPlan): Int =
    c.collectFirst { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
      r.sparkSession.sparkContext.defaultParallelism
    }.get

  /** Round-robin `c`. A broadcast join is spread on its streamed side,
    * and an object-typed output cannot be shuffled, so the exchange then
    * goes beneath the deserializer. */
  private def spread(c: LogicalPlan): LogicalPlan = c match {
    case j: Join =>
      val streamed = inStage(j)
      j.mapChildren(ch => if (streamed.exists(_ eq ch)) spread(ch) else ch)
    case _ if c.output.exists(_.dataType.isInstanceOf[ObjectType]) =>
      c.mapChildren(spread)
    case _ => Repartition(parallelism(c), shuffle = true, c)
  }

  /** Does a kernel run in the same stage as `p`'s output? */
  private def kernelInStage(p: LogicalPlan): Boolean =
    narrow(p) && kernelOp(p) || inStage(p).exists(kernelInStage)

  /** `df` itself, or — when its root is a global sort over a kernel in
    * the sort's own stage — the same sort over the lazily pinned child. */
  def guardSort(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case s: Sort if s.global && kernelInStage(s.child) && !s.isStreaming =>
        // a checkpoint keeps its input's attributes, so `order` still binds
        PlanBridge.dataFrame(df, s.copy(child = PlanBridge
          .dataFrame(df, s.child).pinLazy().queryExecution.analyzed))
      case _ => df
    }
}
