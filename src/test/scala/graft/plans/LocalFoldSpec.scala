package graft.plans

import scala.util.Try

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FrameBridge
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.cypher.Cypher
import graft.graph.TpchGraph
import graft.types.AgVariant

/** Differential check of [[SinglePartitionLocal]]'s fold against the
  * conservative path: each query's analyzed plan also runs in a clone
  * of the session whose advisory partition size is 1 byte, where no
  * relation fits the rule's gate, so Spark plans and runs it as it would
  * without the rule. Both must give the same rows (ties of a sort
  * compared as multisets, arrays as multisets), or fail with the same
  * error condition. Inputs are seeded scalacheck relations with nulls,
  * NaN, ±0.0, infinities, Long extremes, decimals, strings, Cypher
  * variant structs, maps, and empty ones. */
class LocalFoldSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val conservative: SparkSession = {
    val s = FrameBridge.cloneSession(spark)
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    s
  }

  private val schema = StructType(Seq(
    StructField("g", LongType), StructField("d", DoubleType), StructField("l", LongType),
    StructField("n", LongType), StructField("m", DecimalType(10, 2)), StructField("s", StringType),
    StructField("st", AgVariant.schema), StructField("mp", MapType(StringType, LongType))))

  private def nullable[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 6 -> g)

  private val genDouble: Gen[Double] = Gen.frequency(
    2 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity),
    // halves: every sum of them is exact in any order, so partial sums
    // over partitions cannot round differently from the driver's
    6 -> Gen.chooseNum(-40, 40).map(_ * 0.5))

  private val genRow: Gen[Row] = for {
    g <- nullable(Gen.chooseNum(0L, 3L))
    d <- nullable(genDouble)
    l <- nullable(Gen.frequency(1 -> Gen.oneOf(Long.MaxValue, Long.MinValue, 0L),
      3 -> Gen.chooseNum(-5L, 5L)))
    n <- nullable(Gen.chooseNum(-1000L, 1000L))
    m <- nullable(Gen.frequency(1 -> Gen.oneOf(BigDecimal("99999999.99"), BigDecimal("-99999999.99")),
      4 -> Gen.chooseNum(-5000L, 5000L).map(BigDecimal(_, 2))).map(_.bigDecimal))
    s <- nullable(Gen.oneOf("", "a", "b", "B", "é", "zz"))
    tag <- Gen.oneOf(AgVariant.TagNum, AgVariant.TagString)
    sf <- nullable(genDouble)
    ss <- nullable(Gen.oneOf("x", "y"))
    mp <- nullable(Gen.mapOf(Gen.zip(Gen.oneOf("p", "q"), Gen.chooseNum(0L, 3L))))
  } yield Row(g, d, l, n, m, s,
    Row(tag.toByte, if (tag == AgVariant.TagNum) sf else null,
      if (tag == AgVariant.TagString) ss else null, null, null, null, null),
    mp match { case x: Map[_, _] => x; case _ => null })

  private def relation(seed: Long): DataFrame = {
    val rows = Gen.chooseNum(0, 24).flatMap(Gen.listOfN(_, genRow))
      .pureApply(Gen.Parameters.default, Seed(seed))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** A query shape: the frame, its sort keys when ordered (rows of one
    * key compare as a multiset), whether a LIMIT or OFFSET may cut a run
    * of ties, and whether the rule folds it. */
  private case class Shape(run: DataFrame => DataFrame, keys: Seq[String] = Nil,
      cut: Boolean = false, folds: Boolean = true)

  private val aggs: Seq[Column] = Seq(count(lit(1)), count($"d"), sum($"d"), avg($"d"), min($"d"),
    max($"d"), sum($"n"), avg($"n"), min($"l"), max($"l"), sum($"m"), avg($"m"), min($"s"),
    max($"s"), min($"st"), max($"st"), collect_list($"s"), collect_list($"d"), collect_list($"mp"))

  private val shapes: Seq[(String, Shape)] = Seq(
    "grouped aggregates" -> Shape(_.groupBy($"g").agg(aggs.head, aggs.tail: _*)),
    "global aggregates" -> Shape(_.agg(aggs.head, aggs.tail: _*)),
    "grouped by a double" -> Shape(_.groupBy($"d").agg(count(lit(1)), sum($"n"), collect_list($"l"))),
    "grouped by a variant struct" -> Shape(_.groupBy($"st").agg(count(lit(1)), max($"s"))),
    "grouped by a string and a long" -> Shape(_.groupBy($"s", $"l").agg(count(lit(1)), sum($"m"))),
    "distinct" -> Shape(_.select($"g", $"d").distinct()),
    "count distinct" -> Shape(_.groupBy($"g").agg(countDistinct($"d"), count(lit(1))), folds = false),
    "having" -> Shape(_.groupBy($"g").agg(count(lit(1)).as("c"), sum($"d").as("sd"))
      .filter($"c" > 1 || isnan($"sd"))),
    "order by with nulls and NaN" -> Shape(_.orderBy($"d".asc_nulls_first, $"l".desc_nulls_last),
      keys = Seq("d", "l")),
    "order by an aggregate" -> Shape(_.groupBy($"s").agg(count(lit(1)).as("c"), max($"d").as("x"))
      .orderBy($"c".desc, $"x".asc_nulls_last), keys = Seq("c", "x")),
    "order by, limit" -> Shape(_.orderBy($"d".desc_nulls_last).limit(3), keys = Seq("d"), cut = true),
    "order by, offset, limit" -> Shape(_.orderBy($"l", $"n".desc).offset(2).limit(4),
      keys = Seq("l", "n"), cut = true),
    "aggregate, order by, limit" -> Shape(_.groupBy($"g").agg(sum($"n").as("t"))
      .orderBy($"t".desc_nulls_first).limit(2), keys = Seq("t"), cut = true),
    "limit" -> Shape(_.limit(5)),
    "offset" -> Shape(_.offset(3)),
    "filter and project" -> Shape(_.filter($"d" > 0.0).select($"g", $"n" * 2, upper($"s"))))

  /** A value in a form that compares exactly: floats by their bits
    * (NaN canonical), arrays and maps as multisets. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToIntBits(f)}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).sorted.mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case x => s"${x.getClass.getSimpleName}:$x"
  }

  /** A sort key value as the sort compares it: -0.0 ties with 0.0. */
  private def key(v: Any): String = v match {
    case d: Double if d == 0.0 => canon(0.0)
    case x => canon(x)
  }

  /** Rows split into runs of equal sort keys (one run when unordered);
    * each run is a multiset, and the runs a LIMIT or OFFSET may cut
    * (the first and the last) keep only their keys and size. */
  private def runs(rows: Array[Row], cols: Seq[String], shape: Shape): Seq[(Seq[String], Seq[String])] = {
    val all = rows.toSeq.map { r =>
      (shape.keys.map(k => key(r.get(cols.indexOf(k)))), canon(r))
    }
    val grouped = if (shape.keys.isEmpty) Seq(all) else
      all.foldLeft(Vector.empty[Vector[(Seq[String], String)]]) {
        case (acc, x) if acc.nonEmpty && acc.last.head._1 == x._1 => acc.init :+ (acc.last :+ x)
        case (acc, x) => acc :+ Vector(x)
      }
    grouped.zipWithIndex.map { case (run, i) =>
      val edge = shape.cut && (i == 0 || i == grouped.size - 1)
      (run.headOption.map(_._1).getOrElse(Nil),
        if (edge) Seq(s"${run.size} rows") else run.map(_._2).sorted)
    }
  }

  /** The innermost error condition in `e`'s causes, the one a task
    * failure wraps on the conservative path. */
  private def condition(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.reverse.collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.getOrElse(e.getClass.getName)

  private def compare(name: String, df: DataFrame, shape: Shape): Unit = {
    val other = FrameBridge.rebind(conservative, df)
    val cols = df.columns.toSeq
    (Try(df.collect()), Try(other.collect())) match {
      case (scala.util.Success(a), scala.util.Success(b)) =>
        assert(runs(a, cols, shape) === runs(b, cols, shape), name)
      case (scala.util.Failure(a), scala.util.Failure(b)) =>
        assert(condition(a) === condition(b), name)
      case (a, b) => fail(s"$name: folded $a, conservative $b")
    }
  }

  test("folded results equal the conservative path's on generated relations") {
    for (seed <- 1L to 24L; (name, shape) <- shapes) {
      val input = relation(seed)
      val df = shape.run(input)
      val empty = input.queryExecution.optimizedPlan match {
        case l: LocalRelation => l.data.isEmpty
        case _ => false
      }
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] === (shape.folds || empty),
        s"$name, seed $seed: ${df.queryExecution.optimizedPlan}")
      compare(s"$name, seed $seed", df, shape)
    }
  }

  test("an ANSI sum overflow raises at collect on both paths, never at explain") {
    val df = Seq(Long.MaxValue, 1L, Long.MaxValue).toDF("l").groupBy(lit(1)).agg(sum($"l"))
    val other = FrameBridge.rebind(conservative, df)
    df.explain("extended")
    other.explain("extended")
    assert(!df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val (a, b) = (intercept[Exception](df.collect()), intercept[Exception](other.collect()))
    assert(condition(a) === "ARITHMETIC_OVERFLOW")
    assert(condition(b) === "ARITHMETIC_OVERFLOW")
  }

  test("the analytics benchmark's CALL tails fold to the conservative path's rows") {
    val tpch = TpchGraph(spark, "/root/testdata/sf0.001")
    def firstId(label: String): Long =
      Cypher.query(spark, tpch, s"MATCH (v:$label) RETURN id(v) AS id ORDER BY id LIMIT 1")
        .collect().head.getLong(0)
    val (region, customer) = (firstId("Region"), firstId("Customer"))
    val tails = Seq(
      "CALL pagerank() YIELD id, rank WITH id / 281474976710656 AS label_id, rank " +
        "RETURN label_id, count(*) AS n, round(sum(rank), 4) AS total, " +
        "round(max(rank), 6) AS top ORDER BY label_id",
      "CALL connected_components() YIELD id, component WITH component, count(*) AS sz " +
        "RETURN count(*) AS n_components, max(sz) AS largest",
      s"CALL sssp($region) YIELD id, dist RETURN dist, count(*) AS n",
      "CALL hits(4) YIELD id, hub, auth RETURN id, round(auth, 6) AS auth, " +
        "round(hub, 8) AS hub ORDER BY auth DESC, id LIMIT 5",
      s"CALL ppr($customer, 0.15, 4) YIELD id, rank " +
        "RETURN id, round(rank, 8) AS rank ORDER BY rank DESC, id LIMIT 5",
      "CALL label_propagation(3) YIELD id, community WITH community, count(*) AS sz " +
        "RETURN sz, count(*) AS n_communities ORDER BY sz DESC LIMIT 10",
      "CALL jaccard_similarity(64, 0.5) YIELD id_a, id_b, common, jaccard " +
        "RETURN count(*) AS n_pairs, sum(common) AS sum_common, " +
        "round(min(jaccard), 6) AS min_j, round(max(jaccard), 6) AS max_j",
      "CALL random_walks(4) YIELD walker, dest WITH dest / 281474976710656 AS label_id " +
        "RETURN label_id, count(*) AS n ORDER BY label_id")
    for (q <- tails) {
      val df = Cypher.query(spark, tpch, q)
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], q)
      // every ORDER BY here is on unique keys, so the order compares too
      val a = df.collect().toSeq.map(canon)
      val b = FrameBridge.rebind(conservative, df).collect().toSeq.map(canon)
      assert(a.nonEmpty && (if (q.contains("ORDER BY")) a === b else a.sorted === b.sorted), q)
    }
  }
}
