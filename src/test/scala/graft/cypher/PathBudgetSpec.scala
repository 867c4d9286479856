package graft.cypher

import org.apache.spark.sql.catalyst.plans.logical.Aggregate

import graft.{SparkEntry, SparkJobs, SparkTestBase}
import graft.graph.TpchGraph

/** Job and plan budgets of the graded path-function queries at sf0.001.
  * Plan-time jobs are those the planner runs while building the frame;
  * exec jobs are those its collect runs. Budgets only tighten. */
class PathBudgetSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("path-function queries hold their job budgets; one aggregate materializes every path") {
    val budgets = Seq("cy_vle_path_nodes" -> 9, "cy_sp_path_nodes" -> 18, "cy_path_fns" -> 6,
      "cy_edge_fns" -> 4, "cy_vle_edgepred" -> 7)
    for ((name, execBudget) <- budgets) {
      SparkEntry.queries(name)(spark, dir).collect() // builds the store and its caches
      var df: org.apache.spark.sql.DataFrame = null
      val planJobs = SparkJobs.count(spark) { df = SparkEntry.queries(name)(spark, dir) }
      val execJobs = SparkJobs.count(spark) { df.collect() }
      info(s"$name: plan=$planJobs exec=$execJobs")
      assert(planJobs === 0, name)
      assert(execJobs <= execBudget, s"$name: $execJobs exec jobs")
    }
    val g = TpchGraph.storeBacked(spark, dir)
    def aggregates(ret: String): Int = Cypher.query(spark, g,
      s"MATCH p = (c:Customer)-[:FROM_NATION]->(n:Nation), q = (n)-[:IN_REGION]->(r:Region) RETURN $ret")
      .queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size
    val added = aggregates("nodes(p) AS a, relationships(p) AS b, nodes(q) AS c") - aggregates("p, q")
    info(s"aggregates added by materialization: $added")
    assert(added === 1)
  }
}
