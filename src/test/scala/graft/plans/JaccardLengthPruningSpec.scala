package graft.plans

import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkFunSuite}
import graft.functions.{TextFunctions => TF}

class JaccardLengthPruningSpec extends SparkFunSuite {

  // parquet-backed so ConvertToLocalRelation cannot fold the filter away
  // at plan time (a literal LocalRelation would be evaluated eagerly and
  // the optimized plan would show no Filter at all)
  private lazy val pairs = {
    val s = spark
    import s.implicits._
    val path = s"${graft.TestPaths.root}/graft_jacprune_fixture"
    Seq(
      (1L, Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L)), // j = 1.0
      (2L, Seq(1L, 2L, 3L, 4L), Seq(1L, 2L)),         // sizes 4:2 → pruned
      (3L, Seq(1L, 2L, 3L), Seq(1L, 2L, 4L)))         // j = 0.5
      .toDF("id", "a", "b")
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  test("length guard appears in the optimized plan and preserves results") {
    GraftFunctions.registerOptimizations(spark)
    val out = pairs.filter(TF.jaccardSorted(col("a"), col("b")) >= 0.8)
    val opt = out.queryExecution.optimizedPlan.toString
    // guard = (size(a) >= t*size(b)) AND (size(b) >= t*size(a)): 4 reads
    assert("size\\(".r.findAllIn(opt).length == 4, s"plan:\n$opt")
    assert(out.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("rule is idempotent across the optimizer fix-point") {
    GraftFunctions.registerOptimizations(spark)
    GraftFunctions.registerOptimizations(spark) // double registration no-op
    val out = pairs.filter(TF.jaccardSorted(col("a"), col("b")) >= 0.5)
    val opt = out.queryExecution.optimizedPlan.toString
    assert("size\\(".r.findAllIn(opt).length == 4, s"plan:\n$opt")
    // row 2: j = |{1,2}| / |{1,2,3,4}| = 0.5, exactly at the threshold —
    // and exactly at the guard's size-ratio bound (2/4), so it survives
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("filters without a jaccard threshold are untouched") {
    GraftFunctions.registerOptimizations(spark)
    val out = pairs.filter(size(col("a")) > 2)
    val opt = out.queryExecution.optimizedPlan.toString
    assert("size\\(".r.findAllIn(opt).length == 1, s"plan:\n$opt")
  }
}
