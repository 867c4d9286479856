package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan,
  Project, Repartition, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.internal.SQLConf

/** Plans a small driver-held `LocalRelation` as ONE partition when an
  * `Aggregate`, a global `Sort` or a `Window` reads it, directly or
  * through `Project`/`Filter` only: `Repartition(1, shuffle = false)`
  * goes right above the relation.
  *
  * A `LocalTableScan` has min(rows, cores) partitions, so each of those
  * operators above it plans an exchange, and AQE runs every exchange as
  * its own job: an endgame result (GraphAlgos.run) of a few thousand
  * rows, aggregated and ordered, took 3-4 jobs. A
  * single-partition child already satisfies their required
  * distributions, so the query runs as one job with no exchange.
  *
  * The gate is the relation's `sizeInBytes` against
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`: at that size AQE
  * would coalesce the exchange's output to one partition anyway, so
  * parallelism downstream does not change. Plain collects and LIMITs
  * (no such operator; they stay job-free), joins (not a pass-through
  * node) and empty relations are left alone. The rewritten relation is
  * no longer a direct or Project/Filter child, so the rule is
  * idempotent under the fixed-point batch it runs in.
  */
object SinglePartitionLocal extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val budget = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case a: Aggregate => a.withNewChildren(Seq(pin(a.child, budget)))
      case s: Sort if s.global => s.withNewChildren(Seq(pin(s.child, budget)))
      case w: Window => w.withNewChildren(Seq(pin(w.child, budget)))
    }
  }

  /** `p` with `Repartition(1)` above the small, non-empty, batch
    * `LocalRelation` it reads through `Project`/`Filter`; `p` itself
    * when there is none. */
  private def pin(p: LogicalPlan, budget: Long): LogicalPlan = p match {
    case _: Project | _: Filter => p.withNewChildren(Seq(pin(p.children.head, budget)))
    case r: LocalRelation
        if r.data.nonEmpty && !r.isStreaming && r.stats.sizeInBytes <= budget =>
      Repartition(1, shuffle = false, r)
    case _ => p
  }
}
