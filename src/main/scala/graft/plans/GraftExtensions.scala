package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.cypher.Cypher
import graft.graph.{GraphStore, PropertyGraph, TpchGraph}
import graft.types.{AgMap, AgValue}

/** Spark SQL surface parity with the reference's query entry point:
  * `SELECT * FROM cypher('graph', 'MATCH ... RETURN ...'[, params])`
  * (reference: the cypher() SRF, sql/age_query.sql:49-54 — there a
  * post-parse-analyze hook swaps the function RTE for a subquery,
  * cypher_analyze.c:83/383; here a registered Catalyst table function
  * returns the planned Cypher subtree, which the analyzer/optimizer
  * then treat as any other subquery — joins, filters, and column
  * pruning compose over it).
  *
  * Graph names resolve through [[GraphRegistry]]; a name that is a
  * directory path loads a persisted GraphStore graph, and a directory
  * of raw TPC-H parquet builds the overlay graph. The third argument is
  * an agtype text map of query parameters.
  *
  * The extensions also inject [[SinglePartitionLocal]], which
  * evaluates a small driver-held result's projections, filters,
  * aggregates, sorts, limits and offsets on the driver (a CALL's
  * `WITH … count(*) … ORDER BY … LIMIT` tail then collects with no Spark
  * job) and runs a window over one as a single exchange-free job, and
  * [[DriverBroadcast]], which broadcasts driver-held relations without
  * a job.
  *
  * Install via `spark.sql.extensions=graft.plans.GraftExtensions` or
  * `builder.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectTableFunction((
      FunctionIdentifier("cypher"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "cypher"),
      (args: Seq[Expression]) => GraftExtensions.plan(args)))
    e.injectOptimizerRule(_ => SinglePartitionLocal)
    e.injectQueryStagePrepRule(_ => DriverBroadcast)
  }
}

object GraftExtensions {
  private def strLit(e: Expression): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"cypher() arguments must be string literals, got $other")
  }

  /** Build the logical plan for cypher(graph, query[, params]). */
  def plan(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      s"cypher() takes (graph, query[, params]), got ${args.size} arguments")
    val spark = SparkSession.active
    val params: Map[String, AgValue] = args.drop(2).headOption match {
      case Some(p) => AgValue.parse(strLit(p)) match {
        case AgMap(entries) => entries.toMap
        case other => throw new IllegalArgumentException(
          s"cypher() params must be an agtype map, got ${other.typeName}")
      }
      case None => Map.empty
    }
    val g = GraphRegistry.resolve(spark, strLit(args(0)))
    Cypher.query(spark, g, strLit(args(1)), params).queryExecution.analyzed
  }
}

/** Session-shared registry of named graphs for the SQL entry point. */
object GraphRegistry {
  private val graphs = scala.collection.concurrent.TrieMap.empty[String, PropertyGraph]

  def register(name: String, g: PropertyGraph): Unit = graphs.put(name, g)
  def drop(name: String): Unit = graphs.remove(name)

  def resolve(spark: SparkSession, name: String): PropertyGraph =
    graphs.getOrElse(name, {
      val dir = new java.io.File(name)
      if (new java.io.File(dir, "manifest.json").isFile ||
          new java.io.File(dir, "catalog.json").isFile)
        GraphStore.load(spark, name)
      else if (new java.io.File(dir, "nation.parquet").exists())
        TpchGraph(spark, name)
      else
        throw new IllegalArgumentException(
          s"unknown graph '$name' (registered: ${graphs.keys.toSeq.sorted.mkString(", ")})")
    })
}

