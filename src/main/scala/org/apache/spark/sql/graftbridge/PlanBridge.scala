package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Spark keeps `Dataset.ofRows` `private[sql]`; a plan rewrite that must
  * act through the Dataset API (a pin is `Dataset.localCheckpoint`)
  * needs a DataFrame over a sub-plan of an existing one. */
object PlanBridge {
  /** A DataFrame over `plan`, in `like`'s session. */
  def dataFrame(like: DataFrame, plan: LogicalPlan): DataFrame =
    like match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        org.apache.spark.sql.classic.Dataset.ofRows(d.sparkSession, plan)
    }

  /** A child of `spark` whose SQL conf starts as a copy of `spark`'s
    * current one, runtime settings included (`newSession` would start
    * from the SparkContext's conf); setting it leaves `spark` as it is. */
  def childSession(spark: SparkSession): SparkSession = spark match {
    case s: org.apache.spark.sql.classic.SparkSession => s.cloneSession()
  }
}
