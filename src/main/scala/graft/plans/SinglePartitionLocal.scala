package graft.plans

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, MutableProjection,
  NamedExpression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete,
  DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit,
  LocalRelation, LogicalPlan, Offset, Project, Repartition, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.aggregate.SortBasedAggregationIterator
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.graft.FrameBridge
import org.apache.spark.sql.internal.SQLConf

/** The optimizer rule for small driver-held relations: a batch
  * `LocalRelation` whose `sizeInBytes` fits
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` is either
  * evaluated away on the driver or planned as ONE partition.
  *
  * '''Fold.''' A Project, Filter, Aggregate, global Sort, Limit or
  * Offset over such a relation is evaluated during optimization and
  * replaced by a `LocalRelation` of its result, bottom-up, so a whole
  * chain of them (an endgame result's `WITH … count(*) … ORDER BY …
  * LIMIT` tail) plans as a `LocalTableScan` and collects with no Spark
  * job. Evaluation uses Catalyst's own evaluators: [[ConvertToLocalRelation]]
  * for Project and Filter; [[RowOrdering]] for Sort; and the
  * aggregate functions' buffers through [[SortBasedAggregationIterator]]
  * in Complete mode, fed one group after another in the order the
  * groups first appear, with grouping keys normalized as the physical
  * planner normalizes them (-0.0 and 0.0 in one group, every NaN in
  * one). A node with a nondeterministic or unevaluable expression
  * (a Python UDF, a subquery), a DISTINCT aggregate or a grouping key
  * that is not binary-stable is not folded, nor is a node whose
  * evaluation throws: it keeps its plan, and the error (an ANSI
  * overflow, say) is raised when the query runs, as without the rule.
  *
  * '''Pin.''' An `Aggregate`, a global `Sort` or a `Window` that is not
  * folded and reads such a non-empty relation directly or through
  * `Project`/`Filter` only gets `Repartition(1, shuffle = false)` right
  * above the relation. A `LocalTableScan` has min(rows, cores)
  * partitions, so each of those operators would plan an exchange, which
  * AQE runs as its own job; a single-partition child satisfies their
  * required distributions, so the query runs as one job with no
  * exchange.
  *
  * The gate is the one for both: at that size AQE would coalesce an
  * exchange's output to one partition anyway, so neither changes the
  * parallelism downstream. Joins, windows, generators and expands are
  * never folded. A folded result is a plain relation and the pinned
  * relation is no longer a direct or Project/Filter child, so the rule
  * is idempotent under the fixed-point batch it runs in.
  */
object SinglePartitionLocal extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val budget = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case p if p.children.size == 1 => p.children.head match {
        case r: LocalRelation if !r.isStreaming && r.stats.sizeInBytes <= budget && evaluable(p) =>
          fold(p, r).getOrElse(pinned(p, budget))
        case _ => pinned(p, budget)
      }
    }
  }

  /** `p`'s result, computed on the driver from `r`'s rows; None when
    * the evaluation throws. */
  private def fold(p: LogicalPlan, r: LocalRelation): Option[LocalRelation] =
    try p match {
      case a: Aggregate => Some(aggregate(a, r))
      case s: Sort => Some(r.copy(data = r.data.sorted(RowOrdering.create(s.order, r.output))))
      case l: LocalLimit => Some(r.copy(data = r.data.take(limit(l.limitExpr))))
      case l: GlobalLimit => Some(r.copy(data = r.data.take(limit(l.limitExpr))))
      case o: Offset => Some(r.copy(data = r.data.drop(limit(o.offsetExpr))))
      case _ => Some(ConvertToLocalRelation(p)).collect { case l: LocalRelation => l }
    } catch { case NonFatal(_) => None }

  private def limit(e: Expression): Int = e.eval().asInstanceOf[Int]

  /** Whether [[fold]] may evaluate `p`: a node kind it knows, whose
    * expressions are deterministic and evaluable on the driver. */
  private def evaluable(p: LogicalPlan): Boolean = (p match {
    case a: Aggregate =>
      a.groupingExpressions.forall(e => UnsafeRowUtils.isBinaryStable(e.dataType)) &&
        !a.aggregateExpressions.exists(_.exists {
          case ae: AggregateExpression => ae.isDistinct
          case _ => false
        })
    case s: Sort => s.global
    case l: LocalLimit => l.limitExpr.foldable
    case l: GlobalLimit => l.limitExpr.foldable
    case o: Offset => o.offsetExpr.foldable
    case _: Project | _: Filter => true
    case _ => false
  }) && p.expressions.forall(e => e.deterministic && !e.exists {
    case _: Attribute | _: SortOrder | _: AggregateExpression => false
    case _: DeclarativeAggregate | _: ImperativeAggregate => false
    case x => x.isInstanceOf[Unevaluable]
  })

  /** `a` over `r`'s rows, as the physical planner runs it in Complete
    * mode ([[PhysicalAggregation]], normalized grouping keys), with the
    * rows of each group handed to the iterator together. */
  private def aggregate(a: Aggregate, r: LocalRelation): LocalRelation = {
    val PhysicalAggregation(grouping, aggs, results, _) = a: @unchecked
    val keys = grouping.map { e =>
      FrameBridge.normalizedKey(e) match {
        case n: NamedExpression => n
        case other => Alias(other, e.name)(exprId = e.exprId)
      }
    }
    val key = UnsafeProjection.create(keys, r.output)
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
    r.data.foreach(row => groups.getOrElseUpdate(key(row).copy(), mutable.ArrayBuffer.empty) += row)
    val complete = aggs.map(_.copy(mode = Complete))
    val it = new SortBasedAggregationIterator(0, keys, r.output, groups.valuesIterator.flatten,
      complete, complete.map(_.resultAttribute), 0, results,
      (e: Seq[Expression], s: Seq[Attribute]) => MutableProjection.create(e, s),
      new SQLMetric("sum", 0L))
    val rows =
      if (r.data.isEmpty && keys.isEmpty) Seq(it.outputForEmptyGroupingKeyWithoutInput())
      else it.map(_.copy()).toSeq
    LocalRelation(a.output, rows)
  }

  /** `p` with its input pinned to one partition, when `p` is an
    * `Aggregate`, a global `Sort` or a `Window`; `p` itself otherwise. */
  private def pinned(p: LogicalPlan, budget: Long): LogicalPlan = p match {
    case _: Aggregate | _: Window => p.withNewChildren(Seq(pin(p.children.head, budget)))
    case s: Sort if s.global => p.withNewChildren(Seq(pin(s.child, budget)))
    case _ => p
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
