package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.functions.{TextFunctions => TF}
import graft.queries.Q

/** [[KernelPlacement]]: the spread rule fires only on few-row-group
  * `Q.t` scans under a kernel, and the sort guard pins only a sort whose
  * own stage runs a kernel. Session: local[4]. */
class KernelPlacementSpec extends SparkFunSuite {

  private def spreads(p: LogicalPlan): Int =
    p.collect { case r: Repartition if r.shuffle => r }.size

  private def spreads(df: DataFrame): Int =
    spreads(df.queryExecution.optimizedPlan)

  private def docs = Q.t(spark, sfDir, "documents")

  /** `Q.t`-readable table `<dir>/<name>.parquet` written as `files`
    * files of one row group each. */
  private def table(name: String, files: Int): String = {
    val dir = graft.TestPaths.dir("graft_kp").toString
    spark.range(0, 400, 1, files).selectExpr("id", "cast(id as string) s")
      .write.parquet(s"$dir/$name.parquet")
    dir
  }

  private def lengthUdf = udf((s: String) => s.length)

  test("a one-row-group Q.t scan under a graft.plans kernel gets exactly " +
      "one RoundRobin exchange") {
    val df = docs.select(col("doc_id"),
      TF.wordShingleHashes(col("text"), 3).as("sh"))
    assert(spreads(df) == 1, df.queryExecution.optimizedPlan)
    val physical = df.queryExecution.executedPlan.toString
    assert("RoundRobinPartitioning\\(4\\)".r.findAllIn(physical).size == 1,
      physical)
    assert(df.count() == docs.count())
  }

  test("a projection of built-ins only gets none") {
    val df = docs.select(col("doc_id"), upper(col("text")).as("u"),
      length(col("text")).as("n")).filter(col("n") > 3)
    assert(spreads(df) == 0, df.queryExecution.optimizedPlan)
  }

  test("a kernel above a broadcast join spreads the streamed side; the " +
      "JSON and XPath parsers count as kernels") {
    val small = broadcast(docs.select(col("doc_id").as("k")).limit(5))
    val joined = docs.join(small, col("doc_id") === col("k"))
      .select(col("doc_id"), TF.wordShingleHashes(col("text"), 3).as("sh"))
    val plan = joined.queryExecution.optimizedPlan
    assert(spreads(plan) == 1, plan)
    assert(plan.collectFirst { case j: org.apache.spark.sql.catalyst.plans
      .logical.Join => spreads(j.left) }.contains(1), plan)
    // a kernel on the broadcast (build) side is not spread
    val built = docs.join(broadcast(docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("k"), TF.wordShingleHashes(col("text"), 3)
        .as("sh"))), col("doc_id") === col("k"))
    assert(spreads(built) == 0, built.queryExecution.optimizedPlan)
    for (parse <- Seq(get_json_object(col("text"), "$.a"),
        expr("xpath_string(text, '//a')")))
      assert(spreads(docs.select(parse.as("p"))) == 1)
  }

  test("a table with >= 4 row groups gets none; the same rows in one " +
      "row group get one") {
    val many = table("t", files = 4)
    assert(KernelPlacement.rowGroups(s"$many/t.parquet",
      spark.sparkContext.hadoopConfiguration) == 4)
    val one = table("t", files = 1)
    def q(dir: String) = Q.t(spark, dir, "t")
      .select(col("id"), lengthUdf(col("s")).as("n"))
    assert(spreads(q(many)) == 0, q(many).queryExecution.optimizedPlan)
    assert(spreads(q(one)) == 1, q(one).queryExecution.optimizedPlan)
  }

  test("a bare spark.read scan gets none") {
    KernelPlacement.setup(spark)
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), TF.wordShingleHashes(col("text"), 3).as("sh"))
    assert(spreads(df) == 0, df.queryExecution.optimizedPlan)
  }

  test("AvroTransform.apply over a one-partition cached input and " +
      "decodeStream get none") {
    import graft.avro.{AvroTransform, Fixtures, WireFormat}
    val s = spark
    import s.implicits._
    KernelPlacement.setup(spark)
    val (provider, id) = Fixtures.registry()
    val wire = WireFormat.frame(id, Fixtures.encodeFullName("a", "b"))
    val in = Seq(("TransformTest", wire)).toDF("topic", "value")
      .coalesce(1).cache()
    val out = AvroTransform(in, Fixtures.cfg(), provider)
    assert(spreads(out) == 0, out.queryExecution.optimizedPlan)
    assert(out.count() == 1)
    in.unpersist()

    implicit val sqlCtx = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, Array[Byte])]
    val stream = graft.streaming.StreamingPipelines.decodeStream(
      input.toDF().toDF("topic", "value"), Fixtures.cfg(), provider)
    val plan = stream.queryExecution.analyzed
    assert(plan.isStreaming && (KernelPlacement(plan) eq plan))
  }

  test("running the rule again adds nothing") {
    val union = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text")))
    for (df <- Seq(
        docs.select(col("doc_id"),
          TF.wordShingleHashes(col("text"), 3).as("sh")),
        union.select(col("doc_id"), lengthUdf(col("text")).as("n")))) {
      val once = df.queryExecution.optimizedPlan
      assert(spreads(once) >= 1, once)
      val twice = KernelPlacement(once)
      assert(twice fastEquals once, s"$once\n---\n$twice")
    }
  }

  test("kernel followed by orderBy: the guard runs the kernel once per " +
      "row, the bare sort twice") {
    val n = docs.count()
    val runs = spark.sparkContext.longAccumulator("kernel runs")
    val counted = udf { (s: String) => runs.add(1); s.length }
    def sorted = docs.select(col("doc_id"), counted(col("text")).as("n"))
      .orderBy(col("doc_id"))

    val guarded = KernelPlacement.guardSort(sorted)
    assert(guarded.queryExecution.analyzed.collect {
      case r: LogicalRDD => r }.size == 1, guarded.queryExecution.analyzed)
    val rows = guarded.collect()
    assert(runs.value == n, s"kernel ran ${runs.value} times for $n rows")
    runs.reset()
    assert(sorted.collect().toSeq == rows.toSeq)
    assert(runs.value > n, "the unguarded sort should re-run the kernel")
  }

  test("with an aggregate between kernel and sort, no pin is added") {
    val df = docs.select(lengthUdf(col("text")).as("n"))
      .groupBy("n").count().orderBy("n")
    assert(KernelPlacement.guardSort(df) eq df)
  }

  test("Queries.all guards a kernel query's output sort") {
    val plan = graft.Queries.all("text_pii_redact")(spark, sfDir)
      .queryExecution.analyzed
    assert(plan.collect { case r: LogicalRDD => r }.size == 1, plan)
  }
}
