package graft.graph

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkTestBase
import graft.cypher.Cypher

/** The differential spec of the write path: seeded random sequences of
  * small write statements run on two stores, one through the driver-held
  * delta and one forced through the copy-on-write arm (its delta
  * threshold at 0). After every statement both must return the same rows
  * or fail alike, and hold the same rows per label under the same
  * schemas; a commit of each must load back the same. The delta store's
  * threshold is small, so its deltas fold, and mid-sequence two wide
  * rows outgrow a smaller one.
  *
  * Ids are compared as per-label sets: both arms allocate the same ids,
  * but a batch's rows may take them in a different order (the numbering
  * follows each arm's partition order). Rows compare without their ids,
  * and an edge shows its endpoints by their property rows. */
class DifferentialWriteSpec extends SparkTestBase {

  private val keys = Seq("1", "2", "2.0", "null", "-0.0", "0.0", "toFloat('NaN')", "'x'", "{a: 1}",
    "[1, 2]")
  private val values = Seq("1", "2.5", "'s'", "[1, 2]", "null", "true", "{b: 'c'}")

  private def statement(r: Random): String = {
    def k = keys(r.nextInt(keys.size))
    def v = values(r.nextInt(values.size))
    r.nextInt(18) match {
      case 0 => s"CREATE (:A {k: $k, v: $v})"
      case 1 => s"CREATE (:B {k: $k})"
      case 2 => s"CREATE (:A {k: $k})-[:R {w: $v}]->(:B {k: $k})"
      case 3 => s"MATCH (a:A), (b:B) WHERE a.k = $k AND b.k = $k CREATE (a)-[:R {w: $v}]->(b)"
      case 4 => s"MERGE (n:A {k: $k}) ON CREATE SET n.c = $v ON MATCH SET n.m = $v"
      case 5 => s"MERGE (n:B {k: $k}) ON MATCH SET n.v = $v RETURN n.k AS k, n.v AS v"
      case 6 => s"MATCH (a:A {k: $k}), (b:B {k: $k}) MERGE (a)-[r:R {w: $v}]->(b) " +
        s"ON CREATE SET r.c = $v ON MATCH SET r.m = $v"
      case 7 => s"MERGE (a:A {k: $k})-[r:R]->(b:B {k: $k}) ON CREATE SET a.p = $v"
      case 8 => s"MATCH (n:A) WHERE n.k = $k SET n.v = $v"
      case 9 => s"MATCH (n:A) SET n.v = $v"
      case 10 => s"MATCH (n:A {k: $k}) REMOVE n.v"
      case 11 => s"MATCH (n:B {k: $k}) DELETE n"
      case 12 => s"MATCH (n:A {k: $k}) DETACH DELETE n"
      case 13 => s"MATCH ()-[r:R]->() WHERE r.w = $v DELETE r"
      case 14 => s"MATCH (n:B) WHERE n.k = $k SET n.k = $k"
      case 15 => s"MATCH (n:A) WHERE n.k = $k RETURN n.v AS v, n.c AS c, n.m AS m"
      case 16 => s"UNWIND [$k, $k] AS x MERGE (n:A {k: x}) ON CREATE SET n.u = $v"
      case _ => s"MATCH (n:A) WHERE n.k = $k SET n.v = null, n.q = $v"
    }
  }

  private def rendered(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  private def outcome(m: MutableGraph, q: String): Either[String, Seq[String]] =
    try Right(rendered(Cypher.execute(spark, m, q).collect()))
    catch {
      case e: Exception =>
        // expression ids and nested nullability differ between the
        // stores' plans
        Left(s"${e.getClass.getSimpleName}: " +
          e.getMessage.takeWhile(_ != '\n').replaceAll("#\\d+", "").replace(" NOT NULL", ""))
    }

  /** Per label: schema, id set, and rows without ids (edges with their
    * endpoints' property rows). */
  private def state(g: PropertyGraph): Map[String, (Seq[String], Seq[Long], Seq[String])] = {
    def props(df: DataFrame, drop: Set[String]) = df.columns.filterNot(drop).toSeq
    val vRows = g.vertexLabels.flatMap { l =>
      val ps = props(l.df, Set("id"))
      l.df.select("id", ps.map(c => s"`$c`"): _*).collect()
        .map(r => r.getLong(0) -> s"${l.name}${r.toSeq.tail}")
    }.toMap
    def schema(df: DataFrame) = df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}").toSeq
    val v = g.vertexLabels.map { l =>
      val rows = l.df.select("id").collect().map(_.getLong(0)).toSeq
      l.name -> ((schema(l.df), rows.sorted, rows.map(vRows).sorted))
    }
    val e = g.edgeLabels.map { l =>
      val ps = props(l.df, Set("id", "start_id", "end_id"))
      val rows = l.df.select("id", "start_id" +: "end_id" +: ps.map(c => s"`$c`"): _*).collect()
      l.name -> ((schema(l.df), rows.map(_.getLong(0)).toSeq.sorted,
        rows.map(r => s"${vRows.get(r.getLong(1))}->${vRows.get(r.getLong(2))}${r.toSeq.drop(3)}").toSeq.sorted))
    }
    (v ++ e).toMap
  }

  private def sameState(a: Map[String, (Seq[String], Seq[Long], Seq[String])],
      b: Map[String, (Seq[String], Seq[Long], Seq[String])], at: String): Unit = {
    assert(a.keySet === b.keySet, at)
    for (l <- a.keys) assert(a(l) === b(l), s"$at: label $l")
  }

  private def fresh(name: String, threshold: Long): MutableGraph = {
    val m = new MutableGraph(name, spark)
    m.deltaThreshold = Some(threshold)
    Cypher.execute(spark, m, "CREATE (:A {k: 1, v: 1})-[:R {w: 1}]->(:B {k: 1})")
    Cypher.execute(spark, m, "CREATE (:A {k: 2, v: 'two'})")
    m.addUniqueVertexConstraint("b_k", "B", Seq("k"))
    m
  }

  for (seed <- 1 to 4) test(s"delta and copy-on-write arms agree: seed $seed") {
    val r = new Random(seed)
    val delta = fresh(s"dw_delta_$seed", 400L)
    val cow = fresh(s"dw_cow_$seed", 0L)
    def both(q: String, at: String): Unit = {
      assert(outcome(delta, q) === outcome(cow, q), at)
      sameState(state(delta.snapshot), state(cow.snapshot), at)
    }
    for (i <- 1 to 12) {
      if (i == 7) {
        // mid-sequence, a 100-byte threshold: two wide rows outgrow it
        val folds = delta.folds
        delta.deltaThreshold = Some(100L)
        for (q <- Seq("CREATE (:A {k: 'f1', v: [1, 2, 3], w: {a: 'b'}})",
            "CREATE (:A {k: 'f2', v: [4], w: {a: 'c'}})")) both(q, s"seed $seed, fold: $q")
        assert(delta.folds > folds, "no fold ran")
        delta.deltaThreshold = Some(400L)
      }
      val q = statement(r)
      both(q, s"seed $seed, statement $i: $q")
    }
    val (dDir, cDir) = (Files.createTempDirectory("graft-dw-d").toString,
      Files.createTempDirectory("graft-dw-c").toString)
    GraphStore.commit(delta, dDir)
    GraphStore.commit(cow, cDir)
    val loaded = state(GraphStore.loadVersion(spark, dDir))
    sameState(loaded, state(GraphStore.loadVersion(spark, cDir)), "committed")
    sameState(loaded, state(delta.snapshot), "loaded")
  }
}
