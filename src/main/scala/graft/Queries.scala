package graft

import graft.plans.KernelPlacement
import graft.queries._

/** Aggregation of every driver-checkable query family (SparkEntry contract).
  * Each family lives in `graft.queries.*`; keys are globally unique.
  * Every query passes through [[graft.plans.KernelPlacement.guardSort]]. */
object Queries {
  val all: Map[String, Q.QueryFn] =
    (AvroQueries.all ++ AnalyticsQueries.all ++ ExtensionQueries.all ++
      TpchFinishQueries.all).map { case (name, fn) =>
        name -> ((s, dir) => KernelPlacement.guardSort(fn(s, dir)))
      }

  val oracles: Map[String, String] =
    AvroQueries.oracles ++ AnalyticsQueries.oracles ++
      ExtensionQueries.oracles ++ TpchFinishQueries.oracles

  require(oracles.keySet.subsetOf(all.keySet),
    s"oracle without query: ${oracles.keySet -- all.keySet}")
}
