package graft.plans

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.graft.DriverRowsExec

/** Broadcasts a driver-held `LocalRelation` without a Spark job: the
  * `LocalTableScan` under each broadcast exchange becomes a
  * [[DriverRowsExec]], which hands the exchange the rows it holds.
  * Without it every broadcast of a small driver-made relation (a
  * MutableGraph delta's hidden ids and patches, a collected write
  * batch) costs one job per query that reads it. Runs as an adaptive
  * query-stage preparation rule, after the exchanges are planned. */
object DriverBroadcast extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case b @ BroadcastExchangeExec(_, s: LocalTableScanExec) => b.withNewChildren(Seq(DriverRowsExec(s)))
  }
}
