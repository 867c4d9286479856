package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FrameBridge
import org.apache.spark.sql.types._

import graft.graph.{DfUtils, PropertyGraph}
import graft.types._
import Ast._
import Columns._

/** Clause-chain resolver: walks clauses left-to-right building one
  * DataFrame per clause — the Spark-native analogue of the reference's
  * transform pipeline (reference: transform_cypher_clause dispatcher,
  * src/backend/parser/cypher_clause.c:519-595; MATCH join machinery
  * :3833-5632). MATCH becomes equi-joins on long id columns, label
  * selection becomes per-label scans (partition-pruning analogue), and
  * Catalyst handles join strategy / pushdown / pruning from there.
  */
final class Planner(
    spark: SparkSession,
    graphOf: () => PropertyGraph,
    params: Map[String, AgValue] = Map.empty,
    maxVleDepth: Int = 15,
    store: Option[graft.graph.MutableGraph] = None) {

  /** Re-snapshot per clause so later clauses see earlier writes
    * (clause-chain write visibility — the analogue of PG's
    * CommandCounterIncrement between clauses). */
  private def graph: PropertyGraph = graphOf()

  // duplicate map keys resolve last-wins, like agtype objects
  // (reference: uniqueify_agtype_object, agtype.h:485-490)
  spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")

  private val exprc = new ExprCompiler(params)
  private var anonCounter = 0
  private def fresh(): String = { anonCounter += 1; s"@a$anonCounter" }

  def plan(q: Query): DataFrame = q match {
    case ExplainQuery(inner, analyze, verbose) =>
      // plan display passthrough (reference: build_explain_query,
      // cypher_analyze.c:280). ANALYZE executes the query and reports
      // each physical operator's actual SQLMetrics (rows out, timings,
      // spill/shuffle sizes) — the Spark analogue of EXPLAIN ANALYZE's
      // per-node actual rows/time.
      import spark.implicits._
      // procedure gates (driver endgame vs distributed) and edge-scan
      // predicate pushes are journaled while the inner query PLANS —
      // clear the journal first so the decision lines below belong to
      // exactly this query
      graft.graph.GraphAlgos.clearPathDecisions(spark)
      val df = plan(inner)
      val base =
        if (analyze) analyzedPlanText(df)
        else {
          val mode =
            if (verbose) org.apache.spark.sql.execution.ExtendedMode
            else org.apache.spark.sql.execution.FormattedMode
          df.queryExecution.explainString(mode).split("\n").toSeq
        }
      // surface which regime each CALL procedure took and the measured
      // gate values — at bench scale an endgame's LocalTableScan says
      // nothing about the distributed plan that WOULD run at scale — and
      // which predicates reached an edge scan
      val decisions = graft.graph.GraphAlgos.recentPathDecisions(spark)
      val decLines =
        if (decisions.isEmpty) Seq.empty[String]
        else "" +: "== Procedure Path Decisions ==" +: decisions.map("- " + _)
      (base ++ decLines).toDF("plan")
    case SingleQuery(clauses) =>
      val out = planClauses(unitScope, clauses).df
      clauses.last match {
        case _: ReturnClause => decodeVariants(out)
        case _ =>
          // terminal updating clause returns no rows
          // (CYPHER_CLAUSE_FLAG_TERMINAL, cypher_nodes.h:370-378)
          spark.emptyDataFrame
      }
    case UnionQuery(parts, alls) =>
      // type-checked targetlist union (reference: transform_cypher_union,
      // cypher_clause.c:665). Branches whose column types disagree on
      // scalar class are harmonized through the variant encoding first
      // (agtype columns are untyped: RETURN 1 UNION RETURN 'x' is legal),
      // then the mixed UNION/UNION ALL chain applies left-associatively.
      val dfs = harmonizeUnion(parts.map(p => planClauses(unitScope, p.clauses).df))
      var acc = dfs.head
      for ((df, allFlag) <- dfs.tail.zip(alls)) {
        acc = acc.unionByName(df)
        if (!allFlag) acc = unionDistinct(acc)
      }
      decodeVariants(acc)
  }

  /** EXPLAIN ANALYZE body: run the physical plan to completion, then
    * render the operator tree with each node's actual SQLMetric values
    * (rows produced, per-operator timings, shuffle/spill bytes) — the
    * analogue of the reference's executed-plan instrumentation
    * (cypher_analyze.c:280 wraps the query in EXPLAIN ANALYZE; here the
    * instrumentation is Spark's own metric machinery). */
  private def analyzedPlanText(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val qe = df.queryExecution
    val t0 = System.nanoTime()
    val plan0 = qe.executedPlan
    // executing the SAME plan instance populates its metrics (an action
    // like df.count() would plan a new tree and leave this one cold)
    val nRows = plan0.execute().count()
    val wallMs = (System.nanoTime() - t0) / 1e6
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def fmt(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq
        .filter { case (_, m) => !m.isZero }
        .sortBy(_._1)
        .map { case (k, m) => s"${m.name.getOrElse(k)}: ${m.value}" }
      out += ("  " * depth) + "- " + p.nodeName +
        (if (ms.nonEmpty) ms.mkString(" (", ", ", ")") else "")
      p match {
        case a: AdaptiveSparkPlanExec => fmt(a.executedPlan, depth + 1)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          fmt(s.plan, depth + 1)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          fmt(r.child, depth + 1)
        case _ => p.children.foreach(fmt(_, depth + 1))
      }
    }
    fmt(plan0, 0)
    out += f"Rows out: $nRows"
    out += f"Execution time: $wallMs%.1f ms"
    out.toSeq
  }

  /** Variant-encode any column whose type differs across union branches
    * (when every branch's type is scalar-encodable); leaves other
    * mismatches for Spark's coercion / error. */
  private def harmonizeUnion(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    val names = dfs.head.columns.toSeq
    def typesOf(n: String): Seq[DataType] =
      dfs.flatMap(df => df.schema.fields.find(_.name == n).map(_.dataType))
    // scalars-only mismatch → variant (keeps numeric dedup semantics);
    // any container in a mismatched column → each branch renders its
    // agtype text (containers never equal scalars, so text dedup is safe)
    val needVariant = names.filter { n =>
      val ts = typesOf(n)
      ts.distinct.size > 1 && ts.forall(AgVariant.scalar)
    }.toSet
    val needText = names.filter { n =>
      val ts = typesOf(n).filterNot(_ == NullType)
      ts.distinct.size > 1 && !needVariant(n) && ts.forall {
        case _: ArrayType | _: MapType => true
        // entity branches (RETURN n UNION RETURN 1, or two different
        // label schemas) render agtype entity text — entities never
        // compare equal to scalars, so text dedup is exact
        case st: StructType => AgVariant.isEntityStruct(st) || AgVariant.isVariant(st)
        case t => AgVariant.scalar(t)
      }
    }.toSet
    if (needVariant.isEmpty && needText.isEmpty) dfs
    else dfs.map { df =>
      df.select(names.map { n =>
        val dt = df.schema(n).dataType
        if (needVariant(n)) AgVariant.encode(qcol(n), dt).as(n)
        else if (needText(n)) AgVariant.printedNative(qcol(n), dt).as(n)
        else qcol(n)
      }: _*)
    }
  }

  /** UNION-distinct honoring agtype value equality: variant numerics
    * compare by value (1 = 1.0 dedupe to one row, the integer form
    * preferred — reference: cypher_union.sql:73-77), so the dedup key is
    * the comparison key (tag, f, s, b) and the surviving representative
    * prefers a set integer slot. */
  private def unionDistinct(df: DataFrame): DataFrame = {
    val variantCols =
      df.schema.fields.filter(f => AgVariant.isVariant(f.dataType)).map(_.name).toSet
    if (variantCols.isEmpty) df.distinct()
    else {
      val keys = df.columns.map { n =>
        if (variantCols(n))
          struct(qcol(n).getField("tag"), qcol(n).getField("f"),
            qcol(n).getField("s"), qcol(n).getField("b"),
            qcol(n).getField("c")).as(s"__k_$n")
        else qcol(n).as(s"__k_$n")
      }
      val aggs = df.columns.map { n =>
        if (variantCols(n))
          coalesce(min(when(qcol(n).getField("i").isNotNull, qcol(n))),
            min(qcol(n))).as(n)
        else min(qcol(n)).as(n)
      }
      df.groupBy(keys.toSeq: _*).agg(aggs.head, aggs.tail.toSeq: _*)
        .select(df.columns.map(qcol).toSeq: _*)
    }
  }

  /** Final RETURN materialization: project mixed-type (variant-encoded)
    * columns through their text decoder so clients see scalar values, the
    * way agtype output serializes the scalar rather than its internal
    * representation (reference: agtype_out, agtype.c:418). Intermediate
    * clauses keep the tagged encoding — only the query result decodes. */
  private def decodeVariants(df: DataFrame): DataFrame = {
    def decodable(dt: DataType): Boolean = dt match {
      case d if AgVariant.isVariant(d) => true
      case ArrayType(et, _) => AgVariant.isVariant(et)
      case MapType(_, vt, _) => AgVariant.isVariant(vt)
      case _: DecimalType => true
      case _ => false
    }
    val hasVariant = df.schema.exists(f => decodable(f.dataType))
    if (!hasVariant) df
    else df.select(df.schema.fields.map { f =>
      f.dataType match {
        case d if AgVariant.isVariant(d) =>
          AgVariant.printed(qcol(f.name)).as(f.name)
        case ArrayType(et, _) if AgVariant.isVariant(et) =>
          AgVariant.printedArray(qcol(f.name)).as(f.name)
        case MapType(_, vt, _) if AgVariant.isVariant(vt) =>
          AgVariant.printedMap(qcol(f.name)).as(f.name)
        // a bare numeric result prints with its annotation like any
        // agtype numeric (reference: agtype_out numeric branch)
        case _: DecimalType =>
          AgVariant.printed(AgVariant.ofNumeric(qcol(f.name))).as(f.name)
        case _ => qcol(f.name)
      }
    }.toSeq: _*)
  }

  /** The one-row scope a query starts from: a LocalRelation, so what a
    * clause computes from it alone folds on the driver, and a join with
    * it broadcasts without a job. */
  private def unitScope: Scope =
    Scope(FrameBridge.localFrame(spark,
      StructType(Seq(StructField("@unit", IntegerType, nullable = false))), Seq(InternalRow(1))),
      Vector.empty)

  private def isUnit(s: Scope): Boolean = s.bindings.isEmpty

  private def planClauses(start: Scope, clauses: Seq[Clause]): Scope =
    clauses.foldLeft(start) { (scope, clause) =>
      clause match {
        case m: MatchClause => planMatch(scope, m)
        case r: ReturnClause =>
          project(scope, r.items, r.star, r.distinct, r.orderBy, r.skip, r.limit,
            where = None, isReturn = true)
        case w: WithClause =>
          project(scope, w.items, w.star, w.distinct, w.orderBy, w.skip, w.limit,
            where = w.where, isReturn = false)
        case UnwindClause(listE, alias) => planUnwind(scope, listE, alias)
        case cc: CallClause => planCall(scope, cc)
        case sq: SubqueryCallClause => planSubqueryCall(scope, sq)
        case c: CreateClause => planCreate(scope, c)
        case sc: SetClause => planSet(scope, sc)
        case d: DeleteClause => planDelete(scope, d)
        case mg: MergeClause => planMerge(scope, mg)
      }
    }

  // ---- scans ------------------------------------------------------------

  private def literalOnly(e: Expr): Boolean = e match {
    case _: Lit | _: Param => true
    case ListLit(items) => items.forall(literalOnly)
    case MapLit(es) => es.forall { case (_, v) => literalOnly(v) }
    case Neg(x) => literalOnly(x)
    case _ => false
  }

  /** `base`, a vertex or edge frame, renamed to variable `v`'s columns,
    * and the property names of `v`'s binding. */
  private def entityFrame(base: DataFrame, v: String, isEdge: Boolean): (DataFrame, Seq[String]) = {
    val ends = if (isEdge) Seq("start_id" -> startCol(v), "end_id" -> endCol(v)) else Nil
    val fixed = Seq("id" -> idCol(v), "label" -> labelCol(v)) ++ ends
    val raw = base.columns.toSeq.filterNot(c => fixed.exists(_._1 == c))
    val props = raw.map(graft.graph.PropName.dec)
    (base.select(fixed.map { case (c, to) => col(c).as(to) } ++
      raw.zip(props).map { case (c, k) => graft.graph.PropName.qcol(c).as(propCol(v, k)) }: _*),
      props)
  }

  /** Bind `v` to the vertex, or edge, whose id is `id`: one join of the
    * vertex (edge) frame, of the caller's join type. A typed path's id
    * array holds only edges of `relTypes`, so the edge frame keeps those
    * labels: the other labels' scans fold away and the aligned schema
    * stays. */
  private def joinEntity(df: DataFrame, id: Column, v: String, isEdge: Boolean,
      relTypes: Set[String], joinType: String): (DataFrame, Binding) = {
    val base =
      if (!isEdge) graph.allVertices
      else if (relTypes.isEmpty) graph.allEdges
      else graph.allEdges.filter(col("label").isin(relTypes.toSeq: _*))
    val (ents, props) = entityFrame(base, v, isEdge)
    (df.join(ents, id === col(idCol(v)), joinType),
      if (isEdge) EdgeB(v, props) else NodeB(v, props))
  }

  /** Scan a vertex label set as var-namespaced columns, pushing literal
    * property constraints into the scan (reference: property constraint
    * quals, cypher_clause.c:5573-5600). Returns (df, binding, residual
    * non-literal prop constraints).
    */
  private def scanNode(n: NodePattern, v: String): (DataFrame, NodeB, Seq[(String, Expr)]) = {
    val (renamed, props) = entityFrame(graph.verticesOf(n.labels), v, isEdge = false)
    val (litCons, residual) = n.props.map(_.entries).getOrElse(Nil)
      .partition { case (_, e) => literalOnly(e) }
    val filtered = litCons.foldLeft(renamed) { case (df, (k, e)) =>
      if (props.contains(k)) df.filter(litPropEq(df, propCol(v, k), evalLit(e)))
      else df.filter(lit(false))
    }
    // seed pushdown (see planMatch): single-variable WHERE conjuncts on
    // this node apply at the scan — compiled against a one-binding
    // scope; anything that scope can't compile stays a post-join filter
    val pushed = seedPreds.getOrElse(v, Nil).foldLeft(filtered) { (df, e) =>
      try df.filter(exprc.compile(e, Scope(df, Vector(NodeB(v, props)))))
      catch { case _: Exception => df }
    }
    (pushed, NodeB(v, props), residual.toSeq)
  }

  /** Null-safe key equality for MERGE/pattern key joins, dispatching
    * mixed-type (variant) columns through the per-value comparison when
    * exactly one side is variant-encoded. */
  private def nullSafeKeyEq(l: Column, lt: DataType, r: Column, rt: DataType): Column = {
    val lVar = AgVariant.isVariant(lt)
    val rVar = AgVariant.isVariant(rt)
    if (lVar && rVar) l <=> r
    else if (!lVar && !rVar) {
      // cross-class key vs column (a string key probing a boolean
      // property, a list key probing a scalar): agtype equality is
      // total — mismatched classes simply never match; Spark's implicit
      // cast would instead throw or fail analysis
      if (lt != rt && AgVariant.encodable(lt) && AgVariant.encodable(rt))
        (l.isNull && r.isNull) || coalesce(
          AgVariant.cypherCmp("=", AgVariant.encode(l, lt), AgVariant.encode(r, rt)),
          lit(false))
      // same-type map keys: maps have no <=> — compare canonical forms
      else if (!groupableType(lt)) groupableKey(l, lt) <=> groupableKey(r, rt)
      else l <=> r
    } else {
      val (vc, sc, sdt) = if (lVar) (l, r, rt) else (r, l, lt)
      if (!AgVariant.scalar(sdt)) lit(false)
      else (vc.isNull && sc.isNull) ||
        coalesce(AgVariant.cypherCmp("=", vc, AgVariant.encode(sc, sdt)), lit(false))
    }
  }

  /** Literal property-constraint predicate, dispatching mixed-type
    * (variant) columns through the per-value comparison — a raw
    * struct-vs-scalar equality would not even analyze. */
  private def litPropEq(df: DataFrame, c: String, av: AgValue): Column = {
    val dt = df.schema(c).dataType
    if (!AgVariant.isVariant(dt)) {
      // container literal vs typed column: cast the literal's (possibly
      // empty/untyped) form to the column type so `{map: {}}` and
      // `{arr: []}` pattern quals analyze
      (av, dt) match {
        case (m: AgMap, _: MapType) if m.entries.isEmpty =>
          return size(map_entries(col(c))) === 0
        case (a: AgArray, _: ArrayType) if a.items.isEmpty =>
          return size(col(c)) === 0
        // struct-encoded map column (a mixed-value map property): agtype
        // map equality is key/value-set equality — compare canonical
        // texts (null struct fields are absent keys)
        case (m: AgMap, st: StructType) if !AgVariant.isEntityStruct(st) =>
          def canon0(x: AgValue): AgValue = x match {
            case AgMap(mm) => AgValue.map(mm.toSeq
              .sortBy { case (k, _) => (k.length, k) }
              .map { case (k, y) => (k, canon0(y)) }: _*)
            case AgArray(xs) => AgArray(xs.map(canon0))
            case y => y
          }
          return AgVariant.printedNative(col(c), st) <=>
            lit(AgValue.print(canon0(m)))
        case (_: AgMap | _: AgArray, _) =>
          return col(c) === exprc.agLit(av).cast(dt)
        case _ => return col(c) === exprc.agLit(av)
      }
    }
    val encoded = av match {
      case AgInt(_) => AgVariant.encode(exprc.agLit(av), LongType)
      case AgFloat(_) => AgVariant.encode(exprc.agLit(av), DoubleType)
      case AgString(_) => AgVariant.encode(exprc.agLit(av), StringType)
      case AgBool(_) => AgVariant.encode(exprc.agLit(av), BooleanType)
      // container literal vs variant column: canonical-text equality
      // (map keys sorted in agtype order, like the stored form)
      case _ =>
        def canon(x: AgValue): AgValue = x match {
          case AgMap(m) => AgValue.map(m.toSeq
            .sortBy { case (k, _) => (k.length, k) }
            .map { case (k, y) => (k, canon(y)) }: _*)
          case AgArray(xs) => AgArray(xs.map(canon))
          case y => y
        }
        return AgVariant.cypherCmp("=", col(c),
          AgVariant.ofContainer(
            if (av.isInstanceOf[AgMap]) AgVariant.TagMap else AgVariant.TagArray,
            lit(AgValue.print(canon(av)))))
    }
    AgVariant.cypherCmp("=", col(c), encoded)
  }

  private def scanEdge(r: RelPattern, v: String,
      pathPreds: Seq[(String, Expr, Boolean)] = Nil): (DataFrame, EdgeB, Seq[(String, Expr)]) = {
    val base = graph.edgesOf(r.types)
    val oriented = r.direction match {
      case DirOut | DirIn => base // roles assigned at join time
      case DirBoth =>
        // reversed copy excludes self-loops: the reference's undirected
        // join qual is an OR of the two orientations, which a self-loop
        // edge satisfies once, not twice (regress cypher_vle.out golden
        // counts — 7092 undirected paths, not 2^selfloops more)
        val revCols = base.columns.toSeq.map {
          case "start_id" => col("end_id").as("start_id")
          case "end_id" => col("start_id").as("end_id")
          case c => graft.graph.PropName.qcol(c)
        }
        base.unionByName(
          base.filter(col("start_id") =!= col("end_id")).select(revCols: _*))
    }
    val (renamed, props) = entityFrame(oriented, v, isEdge = true)
    val (litCons, residual) = r.props.map(_.entries).getOrElse(Nil)
      .partition { case (_, e) => literalOnly(e) }
    val filtered = litCons.foldLeft(renamed) { case (df, (k, e)) =>
      if (props.contains(k)) df.filter(litPropEq(df, propCol(v, k), evalLit(e)))
      else df.filter(lit(false))
    }
    // named-path all()/none()-body predicates push into this edge's scan
    // (see planMatch's edge predicate pushdown); props/id/label
    // references compile orientation-independently, anything else throws
    // at compile time and is skipped (left to the post-join
    // re-application)
    val pushed = pathPreds.foldLeft(filtered) { case (df, t @ (x, pr, keepTrue)) =>
      try {
        val c = exprc.compile(substVar(pr, x, v),
          Scope(df, Vector(EdgeB(v, props))))
        val f = df.filter(if (keepTrue) c else c <=> lit(false))
        edgePredApplied.add(t)
        f
      } catch { case _: Exception => edgePredSkipped.add(t); df }
    }
    (pushed, EdgeB(v, props), residual.toSeq)
  }

  private def evalLit(e: Expr): AgValue = e match {
    case Lit(v) => v
    case Neg(Lit(AgInt(i))) => AgInt(-i)
    case Neg(Lit(AgFloat(f))) => AgFloat(-f)
    case Param(p) => params.getOrElse(p, throw new IllegalArgumentException(s"missing $$$p"))
    case ListLit(items) => AgArray(items.map(evalLit).toVector)
    case MapLit(es) => AgValue.map(es.map { case (k, x) => k -> evalLit(x) }: _*)
    case _ => throw new IllegalArgumentException("not a literal")
  }

  /** Bounded variable-length expansion: union over k in [lo..hi] of
    * k-step edge-chain joins with intra-chain edge uniqueness — the
    * relational re-expression of the reference's DFS SRF
    * (reference: age_vle, src/backend/utils/adt/age_vle.c:1928; semantics
    * + cost model :20-64; edge-isomorphism only, vertices may repeat).
    * Emits (v@ids array<long>, v@hops, v@start, v@end).
    */
  private def vleDf(r: RelPattern, v: String, seed: Option[DataFrame],
      revSeed: Option[DataFrame] = None,
      edgePreds: Seq[(String, Expr, Boolean)] = Nil,
      wantInterior: Boolean = false): DataFrame = {
    val (lo0, hi0) = r.varLength.get
    val lo = math.max(lo0.getOrElse(1), 0)
    val unbounded = hi0.isEmpty
    val hi = math.min(hi0.getOrElse(maxVleDepth), maxVleDepth)
    require(lo <= hi || unbounded, s"invalid VLE bounds *$lo..$hi")
    val base0 = vleEdgeBase(r, edgePreds)
    val base = r.direction match {
      case DirOut => base0
      case DirIn => base0.select(col("id"), col("end_id").as("start_id"), col("start_id").as("end_id"))
      case DirBoth => base0.unionByName(
        // self-loops traverse once undirected (see scanEdge)
        base0.filter(col("start_id") =!= col("end_id"))
          .select(col("id"), col("end_id").as("start_id"), col("start_id").as("end_id")))
    }
    def chain(k: Int): DataFrame = {
      val steps = (1 to k).map { i =>
        base.select(col("id").as(s"e$i"), col("start_id").as(s"s$i"), col("end_id").as(s"t$i"))
      }
      var df = steps.head
      for (i <- 2 to k) df = df.join(steps(i - 1), col(s"t${i - 1}") === col(s"s$i"))
      // intra-chain edge uniqueness (edge-isomorphism)
      val uniq = (for { i <- 1 to k; j <- (i + 1) to k } yield col(s"e$i") =!= col(s"e$j"))
        .foldLeft(lit(true))(_ && _)
      if (!wantInterior) df.filter(uniq).select(
        array((1 to k).map(i => col(s"e$i")): _*).as(idsCol(v)),
        lit(k.toLong).as(hopsCol(v)),
        col("s1").as(startCol(v)),
        col(s"t$k").as(endCol(v)))
      else df.filter(uniq).select(
        array((1 to k).map(i => col(s"e$i")): _*).as(idsCol(v)),
        lit(k.toLong).as(hopsCol(v)),
        col("s1").as(startCol(v)),
        col(s"t$k").as(endCol(v)),
        (if (k == 1) array().cast("array<long>")
         else array((1 until k).map(i => col(s"t$i")): _*)).as(nintCol(v)))
    }
    // zero-length: every vertex reaches itself with no edges (type
    // filters constrain traversed edges only, so none apply at k=0)
    def withInt(cols: Seq[Column]): Seq[Column] =
      if (wantInterior) cols :+ array().cast("array<long>").as(nintCol(v))
      else cols
    def withInt2(cols: Seq[Column], ic: Column): Seq[Column] =
      if (wantInterior) cols :+ ic else cols
    val zero =
      if (lo == 0) Seq(graph.allVertices.select(withInt(Seq(
        array().cast("array<long>").as(idsCol(v)), lit(0L).as(hopsCol(v)),
        col("id").as(startCol(v)), col("id").as(endCol(v)))): _*))
      else Nil
    val body =
      if (unbounded) (seed, revSeed) match {
        case (None, Some(rs)) =>
          // source side unconstrained but the DESTINATION is selective:
          // iterate from the destination over flipped edges, then swap
          // endpoints back and restore path order. At scale this is the
          // difference between expanding a labeled neighborhood and
          // expanding from every vertex in the graph.
          val flipped = base.select(col("id"),
            col("end_id").as("start_id"), col("start_id").as("end_id"))
          val rev = vleIterative(flipped, v, Some(rs), wantInterior)
          Seq(rev.select(withInt2(Seq(
            reverse(col(idsCol(v))).as(idsCol(v)), col(hopsCol(v)),
            col(endCol(v)).as(startCol(v)), col(startCol(v)).as(endCol(v))),
            reverse(col(nintCol(v))).as(nintCol(v))): _*))
        case _ => Seq(vleIterative(base, v, seed, wantInterior))
      }
      else (math.max(lo, 1) to hi).map(chain)
    (zero ++ body).reduce(_ unionByName _)
      .filter(col(hopsCol(v)) >= lo || lit(lo == 0))
  }

  /** Unbounded `*` expansion: iterate frontiers until no edge-unique
    * continuation remains (edge-isomorphic paths are finite — a path
    * can use each edge once, so termination is guaranteed; worst case is
    * the reference's own O(E!) bound, age_vle.c:44-56). `seed` restricts
    * starting vertices — essential because persisted frontiers block
    * Catalyst from pushing the downstream endpoint join inward. */
  private def vleIterative(
      base: DataFrame, v: String, seed: Option[DataFrame],
      wantInterior: Boolean = false): DataFrame = {
    // each level is pinned (graft.graph.Pins): the next level's join
    // reads a materialized-RDD leaf, not the whole previous lineage, so
    // every frontier is O(1) plan nodes — without the leaf the union's
    // plan (and every explain/event-log string of it) grows
    // superlinearly with depth, and a depth-11 expansion OOMed the
    // driver building the plan string. The pin counts the level in its
    // own job; the paths read the levels lazily and hold their pins
    // until the paths are dropped.
    val pins = new graft.graph.Pins(spark)
    val e = base.select(col("id").as("__eid"), col("start_id").as("__s"),
      col("end_id").as("__t"))
    val first = seed match {
      case Some(s) => e.join(s.select(col("id").as("__seed")).distinct(),
        col("__s") === col("__seed"), "left_semi")
      case None => e
    }
    def withInt(cols: Seq[Column], ic: => Column): Seq[Column] =
      if (wantInterior) cols :+ ic.as(nintCol(v)) else cols
    var (frontier, n) = pins.pin(first.select(withInt(Seq(
      array(col("__eid")).as(idsCol(v)), lit(1L).as(hopsCol(v)),
      col("__s").as(startCol(v)), col("__t").as(endCol(v))),
      array().cast("array<long>")): _*))
    var acc = Vector(frontier)
    var k = 1
    while (n > 0 && k < 1000) { // pathological-explosion hard stop
      // the previous endpoint becomes an interior node of the extension
      val (next, m) = pins.pin(frontier.join(e, col(endCol(v)) === col("__s") &&
          !array_contains(col(idsCol(v)), col("__eid")))
        .select(withInt(Seq(
          concat(col(idsCol(v)), array(col("__eid"))).as(idsCol(v)),
          (col(hopsCol(v)) + 1).as(hopsCol(v)),
          col(startCol(v)), col("__t").as(endCol(v))),
          concat(col(nintCol(v)), array(col(endCol(v))))): _*))
      if (m > 0) acc :+= next else pins.release(next)
      frontier = next; n = m
      k += 1
    }
    pins.handOff(acc.reduce(_ unionByName _))
  }

  /** Edge frame for variable-length traversal with the pattern's
    * property constraints applied to EVERY traversed edge (reference:
    * age_vle's edge-property containment filter; constraints must be
    * literals — each traversed edge is filtered before chaining). */
  private def vleEdgeBase(
      r: RelPattern, pushed: Seq[(String, Expr, Boolean)] = Nil): DataFrame = {
    val base = graph.edgesOf(r.types)
    val props = base.schema.fieldNames.toSeq
      .filterNot(c => Set("id", "label", "start_id", "end_id")(c))
    val filtered = r.props.map(_.entries).getOrElse(Nil).foldLeft(base) {
      case (df, (k, e)) =>
        require(literalOnly(e),
          "variable-length edge property constraints must be literal")
        if (props.contains(k)) df.filter(col(k) === exprc.agLit(evalLit(e)))
        else df.filter(lit(false))
    }
    // pushed all()-body predicates (see planMatch's edge predicate
    // pushdown) evaluate over the edge's STORED orientation — before any
    // direction flip — via a one-binding scope; a body the single-edge
    // scope can't compile is skipped (left to the post-join filter)
    val withPreds =
      if (pushed.isEmpty) filtered
      else {
        val ev = fresh()
        val (renamed, decoded) = entityFrame(filtered, ev, isEdge = true)
        val out = pushed.foldLeft(renamed) { case (df, t @ (x, pr, keepTrue)) =>
          try {
            val c = exprc.compile(substVar(pr, x, ev),
              Scope(df, Vector(EdgeB(ev, decoded))))
            val f = df.filter(if (keepTrue) c else c <=> lit(false))
            graft.graph.GraphAlgos.recordPath(spark,
              s"edge push: $x: $pr ${if (keepTrue) "IS TRUE" else "IS FALSE"}")
            edgePredApplied.add(t)
            f
          } catch { case _: Exception => edgePredSkipped.add(t); df }
        }
        out.select(col(idCol(ev)).as("id"), col(startCol(ev)).as("start_id"),
          col(endCol(ev)).as("end_id"), col(labelCol(ev)).as("label"))
      }
    withPreds.select("id", "start_id", "end_id")
  }

  // ---- MATCH ------------------------------------------------------------

  private final case class PatternPlan(
      df: DataFrame,
      bindings: Vector[Binding],
      edgeUniq: Vector[Either[String, String]], // Left=single edge idCol, Right=vle idsCol
      residualProps: Vector[(String, (String, Expr))]) // (varName, (key, expr))

  /** Plan one path pattern into a standalone DataFrame with fresh
    * var-namespaced columns. Anonymous, unlabeled, propertyless nodes are
    * never scanned — edge endpoint columns stand in for them (safe under
    * referential integrity of the edge tables). The same elision applies
    * to nodes whose variable is in `outerBound` (bound by the enclosing
    * scope or an earlier pattern of the same MATCH): the caller joins on
    * the id, so re-scanning every vertex label to re-derive the entity is
    * pure waste — the pattern frame just exposes the edge endpoint AS the
    * variable's id column. Critical for correlated subqueries, where
    * `(n)<-[:R]-(m)` would otherwise union-scan all labels per pattern.
    */
  private def planPath(p: PathPattern, outerBound: Set[String] = Set.empty): PatternPlan = {
    if (p.shortest.isDefined) return planShortestPath(p)
    var df: DataFrame = null
    var bindings = Vector.empty[Binding]
    var edgeUniq = Vector.empty[Either[String, String]]
    var residual = Vector.empty[(String, (String, Expr))]
    var boundHere = Map.empty[String, Binding]
    // head var whose id column becomes known after the first edge join
    var pendingHeadAlias: Option[String] = None

    def needScan(n: NodePattern): Boolean =
      n.variable.isDefined || n.labels.nonEmpty || n.props.nonEmpty

    def boundElidable(n: NodePattern): Boolean =
      n.variable.exists(outerBound) && n.labels.isEmpty && n.props.isEmpty

    // returns the column holding this node's id, or null if phantom
    def addNode(n: NodePattern, incoming: Option[Column]): String = {
      val vOpt = n.variable
      vOpt.flatMap(boundHere.get) match {
        case Some(b: NodeB) =>
          // repeated var in same pattern (cycle): constrain endpoint
          incoming.foreach(in => df = df.filter(in === col(idCol(b.name))))
          idCol(b.name)
        case _ =>
          if (boundElidable(n) && incoming.isDefined) {
            // outer-bound node: expose the endpoint as its id column and
            // let the caller's shared-var join do the matching
            val v = vOpt.get
            df = df.withColumn(idCol(v), incoming.get)
            val b = NodeB(v, Nil)
            bindings :+= b; boundHere += v -> b
            idCol(v)
          } else if (!needScan(n)) {
            null // phantom node: caller tracks it via the edge endpoint col
          } else {
            val v = vOpt.getOrElse(fresh())
            val (ndf, b, res) = scanNode(n, v)
            residual ++= res.map(r => v -> r)
            df =
              if (df == null) ndf
              else incoming match {
                case Some(in) => df.join(ndf, in === col(idCol(v)))
                case None => df.crossJoin(ndf)
              }
            if (n.variable.isDefined) { bindings :+= b; boundHere += v -> b }
            idCol(v)
          }
      }
    }

    // all()/none() conjuncts keyed to this pattern's named path apply to
    // EVERY edge scan of the pattern (single-hop and var-length alike —
    // the path's relationships() spans them all)
    val pathEdgePreds: Seq[(String, Expr, Boolean)] =
      p.variable.toSeq.flatMap(pv => edgeSeedPreds.getOrElse(pv, Nil))

    // head elision only when the first hop is a plain edge — a
    // variable-length first hop needs the scanned frame as its frontier
    // seed, and a single-node pattern has no endpoint column to reuse
    val headElide = boundElidable(p.head) &&
      p.tail.headOption.exists(_._1.varLength.isEmpty)
    var prevIdCol: String =
      if (headElide) { pendingHeadAlias = p.head.variable; null }
      else addNode(p.head, None)
    var pathNodeCols = Vector(Option(prevIdCol))
    var pathEdgeParts = Vector.empty[Column] // array-typed pieces to concat
    // a named path's nodes() includes VLE INTERIOR vertices (reference:
    // the path SRF materializes every visited vertex) — each hop
    // contributes its interior id array between its endpoint entries;
    // tracked only when the pattern binds a path variable, so un-named
    // traversals never pay the extra frontier column
    val wantNids = p.variable.isDefined
    // per hop: (interior id array, zero-length condition). A 0-hop VLE
    // contributes no edge and its endpoints are the SAME node — the
    // trailing endpoint entry is suppressed so the node appears once.
    var pathHopInteriors = Vector.empty[(Option[Column], Option[Column])]
    // static edge-label fact for relationships(p) pruning: the union of
    // hop types when EVERY hop is explicitly typed, else unrestricted
    var pathRelTypes: Option[Set[String]] = Some(Set.empty)
    for ((rel, node) <- p.tail) {
      pathRelTypes = pathRelTypes.flatMap(s =>
        if (rel.types.nonEmpty) Some(s ++ rel.types) else None)
      val v = rel.variable.getOrElse(fresh())
      // reusing an edge variable within one pattern is an error
      // (reference: "duplicate edge variable within a clause",
      // transform_match_path)
      require(!boundHere.contains(v),
        s"duplicate edge variable '$v' within a clause")
      if (rel.varLength.isDefined) {
        // a bare-variable head's scan is the whole vertex set — seeding
        // from it constrains nothing; prefer reverse expansion from a
        // labeled destination instead
        val headUnconstrained = pathEdgeParts.isEmpty &&
          p.head.labels.isEmpty && p.head.props.isEmpty
        val seed =
          if (df != null && prevIdCol != null && !headUnconstrained)
            Some(df.select(col(prevIdCol).as("id")).distinct())
          else None
        val revSeed =
          if (seed.isEmpty && node.labels.nonEmpty)
            Some(graph.verticesOf(node.labels).select(col("id")))
          else None
        val edf = vleDf(rel, v, seed, revSeed,
          edgeSeedPreds.getOrElse(v, Nil) ++ pathEdgePreds, wantNids)
        val (srcC, dstC) = (col(startCol(v)), col(endCol(v)))
        df =
          if (df == null) edf
          else if (prevIdCol == null) df.crossJoin(edf)
          else df.join(edf, col(prevIdCol) === srcC)
        if (rel.variable.isDefined) bindings :+= VleB(v)
        edgeUniq :+= Right(idsCol(v))
        pathEdgeParts :+= col(idsCol(v))
        pathHopInteriors :+=
          ((if (wantNids) Some(col(nintCol(v))) else None,
            Some(size(col(idsCol(v))) === 0)))
        val nIdCol = addNode(node, Some(dstC))
        prevIdCol = if (nIdCol == null) endCol(v) else nIdCol
        pathNodeCols :+= Some(prevIdCol)
      } else {
        val (edf0, eb, res) = scanEdge(rel, v, pathEdgePreds)
        residual ++= res.map(r => v -> r)
        // role mapping: for DirIn the edge's end_id faces the previous node
        val (srcName, dstName) = rel.direction match {
          case DirIn => (endCol(v), startCol(v))
          case _ => (startCol(v), endCol(v))
        }
        df =
          if (df == null) edf0
          else if (prevIdCol == null) df.crossJoin(edf0)
          else df.join(edf0, col(prevIdCol) === col(srcName))
        if (rel.variable.isDefined) { bindings :+= eb; boundHere += v -> eb }
        edgeUniq :+= Left(idCol(v))
        pathEdgeParts :+= array(col(idCol(v)))
        pathHopInteriors :+= ((None, None)) // single hop: adjacent endpoints
        // outer-bound head: now that the first edge is planned, its src
        // endpoint IS the head's id column
        pendingHeadAlias.foreach { hv =>
          df = df.withColumn(idCol(hv), col(srcName))
          val hb = NodeB(hv, Nil)
          bindings :+= hb; boundHere += hv -> hb
          pendingHeadAlias = None
          if (pathNodeCols.head.isEmpty && pathNodeCols.size == 1)
            pathNodeCols = Vector(Some(idCol(hv)))
        }
        if (pathNodeCols.head.isEmpty && pathNodeCols.size == 1)
          pathNodeCols = Vector(Some(srcName)) // phantom head: edge src col
        val nIdCol = addNode(node, Some(col(dstName)))
        prevIdCol = if (nIdCol == null) dstName else nIdCol
        pathNodeCols :+= Some(prevIdCol)
      }
    }
    if (df == null) {
      // single phantom node pattern `()` — scan all vertices anonymously
      val v = fresh()
      val (ndf, _, _) = scanNode(NodePattern(Some(v), Nil, None), v)
      df = ndf
      pathNodeCols = Vector(Some(idCol(v)))
    }
    // named path: p@ids (edges), p@nids (known node ids; VLE interior
    // vertices are not materialized), p@hops
    p.variable.foreach { pv =>
      val ids =
        if (pathEdgeParts.isEmpty) array().cast("array<long>")
        else if (pathEdgeParts.size == 1) pathEdgeParts.head
        else concat(pathEdgeParts: _*)
      // node ids in path order: each hop's interior array (VLE hops
      // only) slots between its endpoint entries
      val nodePieces: Seq[Column] = {
        def nArr(o: Option[String]): Seq[Column] = o.toSeq.map(c => array(col(c)))
        nArr(pathNodeCols.head) ++
          pathHopInteriors.zip(pathNodeCols.tail).flatMap {
            case ((interior, zeroCond), n) =>
              interior.toSeq ++ n.toSeq.map { c =>
                zeroCond.fold(array(col(c)))(z =>
                  when(z, array().cast("array<long>")).otherwise(array(col(c))))
              }
          }
      }
      val nids =
        if (nodePieces.isEmpty) array().cast("array<long>")
        else if (nodePieces.size == 1) nodePieces.head
        else concat(nodePieces: _*)
      df = df.withColumn(idsCol(pv), ids)
        .withColumn(nidsCol(pv), nids)
        .withColumn(hopsCol(pv), size(col(idsCol(pv))).cast("long"))
      // interior arrays are consumed into nids; they are not part of any
      // binding's column set
      val nintCols = df.columns.filter(_.endsWith("@nint"))
      if (nintCols.nonEmpty) df = df.drop(nintCols.toSeq: _*)
      bindings :+= PathB(pv, pathRelTypes.getOrElse(Set.empty))
    }
    PatternPlan(df, bindings, edgeUniq, residual)
  }

  /** shortestpath((a)-[:T*..k]->(b)) / allshortestpaths(...) — BFS via
    * graft.traversal.Bfs (reference: age_shortest_path age_vle.c:3877,
    * age_all_shortest_paths :3892). The path variable binds like a VLE
    * variable: edge-id array + hop count.
    */
  private def planShortestPath(p: PathPattern): PatternPlan = {
    require(p.tail.size == 1, "shortestpath requires a single relationship pattern")
    val (rel, bNode) = p.tail.head
    val aNode = p.head
    val av = aNode.variable.getOrElse(fresh())
    val bv = bNode.variable.getOrElse(fresh())
    val (adf, ab, aRes) = scanNode(aNode, av)
    val (bdf, bb, bRes) = scanNode(bNode, bv)
    val (lo0, hi0) = rel.varLength.getOrElse((Some(1), Some(maxVleDepth)))
    // the reference's shortest-path BFS has NO minimum-hop parameter —
    // its implicit minimum is 0, and start == end answers with ONE
    // zero-length path (regress age_shortest_path.out "zero-length
    // path, start == end; path_count = 1"; self-loops never shorten a
    // path to a different vertex, age_vle.c:3169-3174). An explicit
    // lower bound (*1.., *2..) still filters.
    val lo = math.max(lo0.getOrElse(0), 0)
    val maxD = math.min(hi0.getOrElse(maxVleDepth), maxVleDepth)
    val base0 = vleEdgeBase(rel)
    val oriented = rel.direction match {
      case DirOut => base0
      case DirIn =>
        base0.select(col("id"), col("end_id").as("start_id"), col("start_id").as("end_id"))
      case DirBoth => base0.unionByName(
        // self-loops traverse once undirected (see scanEdge)
        base0.filter(col("start_id") =!= col("end_id"))
          .select(col("id"), col("end_id").as("start_id"), col("start_id").as("end_id")))
    }
    val wantAll = p.shortest.contains("allshortestpaths")
    val srcIds = adf.select(col(idCol(av)).as("id"))
    val tgtIds = bdf.select(col(idCol(bv)).as("id"))
    // Strategy: shallow depth over a SMALL edge set → one-shot chain
    // enumeration (no per-level jobs). Deep bounds or a large edge set →
    // iterative frontier BFS, whose per-level visited-set pruning avoids
    // the O(E!/(E-k)!) path blow-up of raw enumeration on dense graphs
    // (the reference's own cost bound, age_vle.c:44-56). Size read from
    // Catalyst stats — no extra job.
    val edgesSmall = oriented.queryExecution.optimizedPlan.stats.sizeInBytes <
      (256L << 20)
    // a NAMED shortestpath is a REAL path (reference: sp_run_bfs builds a
    // vertex+edge AGTV_PATH, age_vle.c:2983-3266, materializers
    // :3877/:3892) — BFS carries the visited-vertex array only then
    val wantNids = p.variable.isDefined
    val bfsPaths = (if (maxD <= 6 && edgesSmall)
        graft.traversal.Bfs.shortestPathsBounded(
          oriented, srcIds, tgtIds, maxD, wantAll, withNodes = wantNids)
      else graft.traversal.Bfs.shortestPaths(
        oriented, srcIds, tgtIds, maxD, wantAll, withNodes = wantNids))
      .filter(col("hops") >= lo)
    // start == end pairs: the BFS reports only proper walks (sources
    // start visited; simple-path filter drops cycles back to the
    // source), so the zero-length answer — which IS the minimal path
    // for an identical endpoint pair — unions in here when the lower
    // bound admits it
    val paths =
      if (lo > 0) bfsPaths
      else bfsPaths.unionByName(
        srcIds.join(tgtIds.select(col("id").as("__t")), col("id") === col("__t"))
          .select(col("id").as("src_id") +: col("id").as("dst_id") +:
            array().cast("array<long>").as("edge_ids") +: lit(0L).as("hops") +:
            (if (wantNids) Seq(array(col("id")).as("node_ids")) else Nil): _*))
    // NOT pinned: both a persist and a persist+leaf-swap of the path
    // frame measured SLOWER than the per-consumer recompute they saved
    // (the pin materializes every column eagerly and blocks the
    // endpoint joins' pruning/pushdown into the chain enumeration;
    // sp_path_nodes 5.3 s lazy vs 6.5 s pinned at sf0.1) — the
    // duplicate-subtree cost is already bounded by the incremental
    // chain build in shortestPathsBounded.
    val pv = p.variable.orElse(rel.variable).getOrElse(fresh())
    val pdf = paths.select(
      col("edge_ids").as(idsCol(pv)) +: col("hops").as(hopsCol(pv)) +:
        col("src_id").as(startCol(pv)) +: col("dst_id").as(endCol(pv)) +:
        (if (wantNids) Seq(col("node_ids").as(nidsCol(pv))) else Nil): _*)
    var df = adf.join(pdf, col(idCol(av)) === col(startCol(pv)))
      .join(bdf, col(endCol(pv)) === col(idCol(bv)))
    var bindings = Vector.empty[Binding]
    if (aNode.variable.isDefined) bindings :+= ab
    if (bNode.variable.isDefined) bindings :+= bb
    if (p.variable.isDefined) {
      // nodes(p)/relationships(p)/RETURN p flow through the same PathB
      // machinery as plain named paths; a relationship variable alongside
      // the path binds the edge-array view of the same traversal
      rel.variable.filter(_ != pv).foreach { rv =>
        df = df.withColumn(idsCol(rv), col(idsCol(pv)))
          .withColumn(hopsCol(rv), col(hopsCol(pv)))
          .withColumn(startCol(rv), col(startCol(pv)))
          .withColumn(endCol(rv), col(endCol(pv)))
        bindings :+= VleB(rv)
      }
      // start/end were join scaffolding; PathB owns ids/nids/hops only
      df = df.drop(startCol(pv), endCol(pv))
      bindings :+= PathB(pv, rel.types.toSet)
    } else if (rel.variable.isDefined) bindings :+= VleB(pv)
    PatternPlan(df, bindings, Vector(Right(idsCol(pv))),
      Vector() ++ aRes.map(r => av -> r) ++ bRes.map(r => bv -> r))
  }

  /** Join two frames on shared variable ids (same canonical column
    * names on both sides). Right-side copies of shared columns are
    * renamed, used in the join condition, then dropped.
    */
  private def joinOnSharedVars(
      left: DataFrame, leftBindings: Vector[Binding],
      right: DataFrame, rightBindings: Vector[Binding],
      joinType: String, extraCond: Option[Column] = None): (DataFrame, Vector[Binding]) = {
    val leftNames = leftBindings.map(_.name).toSet
    val shared = rightBindings.filter(b => leftNames(b.name))
    val shCols = shared.flatMap {
      case NodeB(v, _) => Seq(idCol(v))
      case EdgeB(v, _) => Seq(idCol(v))
      case VleB(v) => Seq(idsCol(v))
      case PathB(v, _) => Seq(idsCol(v))
      case ValueB(v) => Seq(v)
    }
    // drop ALL right-side columns belonging to shared vars except the id
    // used for the join condition (renamed)
    val scopeShim = Scope(left, leftBindings)
    val sharedAllCols = shared.flatMap(b => scopeShim.colsOf(b))
    val renames = shCols.map(c => c -> s"__r#$c").toMap
    var r = right
    for (c <- sharedAllCols)
      r = if (renames.contains(c)) r.withColumnRenamed(c, renames(c)) else r.drop(c)
    val cond0 = shCols.map(c => col(c) === col(renames(c)))
      .foldLeft(lit(true))(_ && _)
    val cond = extraCond.map(cond0 && _).getOrElse(cond0)
    val joined =
      if (shared.isEmpty && extraCond.isEmpty && joinType == "inner") left.crossJoin(r)
      else left.join(r, cond, joinType)
    val out = joined.drop(renames.values.toSeq: _*)
    val newBindings = leftBindings ++ rightBindings.filterNot(b => leftNames(b.name))
    (out, newBindings)
  }

  private def planMatch(scope: Scope, m: MatchClause): Scope = {
    // plan every path, then fold them together on shared vars; each
    // pattern may elide scans for vars bound by the scope or an earlier
    // pattern (the fold joins on those ids anyway)
    var bound = scope.bindings.collect { case NodeB(v, _) => v }.toSet
    // SEED PUSHDOWN: a WHERE conjunct that references exactly one node
    // variable of THIS match (none bound by the incoming scope) filters
    // that variable's SCAN, before pattern expansion. Catalyst cannot
    // do this through the traversal operators — VLE and shortestpath
    // materialize per-level frontiers eagerly, so a source-only
    // predicate left above them means BFS runs from EVERY label row and
    // the filter discards the work afterwards (measured: the cyclic
    // sp_cyclic stress seeds 16 of 15k sources; unpushed it pays the
    // all-sources frontier). Conjuncts are RE-applied by applyFilters
    // below — predicates are pure, so the push is row-reduction only,
    // and any conjunct the single-node scope can't compile is skipped
    // (left to the post-join filter), never an error.
    // OPTIONAL MATCH pushes too: its WHERE is applied on the INNER side
    // (applyFilters below runs on the decorrelated inner join, and only
    // then do survivors left-join back), so a conjunct on a pattern-own
    // variable filters the pattern side of the left-outer join without
    // changing which outer rows survive — outer rows whose matches all
    // fail the predicate get their nulls either way. Conjuncts on SCOPE
    // variables are excluded by the scopeNames guard (pushing one would
    // drop outer rows, which left-outer semantics must keep).
    val scopeNames = scope.bindings.map(_.name).toSet
    seedPreds =
      m.where.map(splitAnd).getOrElse(Nil)
        .filter(pushableSeedPred)
        .flatMap { c =>
          val vs = exprVars(c)
          if (vs.size == 1 && !scopeNames(vs.head)) Some(vs.head -> c) else None
        }
        .groupMap(_._1)(_._2)
    // EDGE PREDICATE PUSHDOWN: `all(x IN r WHERE p(x))` over a
    // var-length relationship of THIS match (or `all(x IN
    // relationships(pth) WHERE p(x))` over a named path of this match)
    // filters the traversal's edge frame BEFORE expansion. all() keeps a
    // path iff EVERY edge satisfies p — under 3VL a path containing a
    // false-or-null edge is dropped either way, so pre-filtering the
    // edge scan to p IS TRUE enumerates exactly the surviving path set
    // while pruning dead branches DURING expansion instead of
    // materializing every path's entity array and discarding it after
    // (the edge-side twin of the seed pushdown above; zero-length paths
    // are unaffected — all() over [] is true and the k=0 arm scans
    // vertices, not edges). none() pushes symmetrically: a surviving
    // path has p IS FALSE on every edge (a true OR null edge body kills
    // the path either way), so its scan filter keeps `p <=> false`.
    // any()/single() are NOT edge-local and never push. Conjuncts are
    // still re-applied by applyFilters below, so the push is
    // row-reduction only. Excluded: shortestpath patterns (pre-filtering
    // changes WHICH path is shortest — post-filter semantics are kept
    // there) and predicates referencing anything beyond the lambda
    // variable.
    // Mixed bodies push PARTIALLY (r13 verdict #7): all(x, p AND q) with
    // only p pushable still pushes p — an edge failing p fails the whole
    // conjunction, so pruning it is row-reduction only, and applyFilters
    // re-applies the FULL body post-join. none() splits on OR dually: a
    // surviving path needs the whole disjunction IS FALSE on every edge,
    // hence each pushable disjunct IS FALSE individually.
    // conjunct object -> its pushed tuple, for conjuncts whose body
    // pushed WHOLE (every part pushable): if every offered edge scan
    // then applies the tuple, the post-join re-application is
    // redundant — in WHERE position a false and a null all()/none()
    // both drop the row, exactly what excluding the edge from the scan
    // already did — and skipping it avoids materializing the path's
    // edge entities just to re-check (measured: the re-apply was the
    // dominant cost of cy_vle_edgepred at sf0.1). Identity-keyed:
    // applyFilters re-splits the same WHERE tree, so conjunct objects
    // are shared.
    val fullyPushedConjuncts =
      new java.util.IdentityHashMap[Expr, (String, Expr, Boolean)]()
    edgePredApplied.clear()
    edgePredSkipped.clear()
    edgeSeedPreds =
      m.where.map(splitAnd).getOrElse(Nil)
        .flatMap {
          case conj @ PredicateFn(kind @ ("all" | "none"), x, listE, pred) =>
            val keepTrue = kind == "all"
            val parts = if (keepTrue) splitAnd(pred) else splitOr(pred)
            val pushable = parts.filter(pushableEdgePred(x, _))
            if (pushable.isEmpty) None
            else {
              val sub = pushable.reduce((a, b) =>
                BinOp(if (keepTrue) "AND" else "OR", a, b))
              listE match {
                case Var(r) if !scopeNames(r) =>
                  val t = (x, sub, keepTrue)
                  if (pushable.size == parts.size)
                    fullyPushedConjuncts.put(conj, t)
                  Some(r -> t)
                case FuncCall(fn, Seq(Var(pth)), _)
                    if fn.equalsIgnoreCase("relationships") && !scopeNames(pth) =>
                  val t = (x, sub, keepTrue)
                  if (pushable.size == parts.size)
                    fullyPushedConjuncts.put(conj, t)
                  Some(pth -> t)
                case _ => None
              }
            }
          case _ => None
        }
        .groupMap(_._1)(_._2)
    val plans =
      try m.patterns.map { pat =>
        val pl = planPath(pat, bound)
        bound ++= pl.bindings.collect { case NodeB(v, _) => v }
        pl
      } finally { seedPreds = Map.empty; edgeSeedPreds = Map.empty }
    // snapshot NOW (a nested planMatch inside applyFilters clears the
    // instance sets): conjuncts whose whole body reached every offered
    // edge scan skip the post-join re-apply below
    val elidedConjuncts =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Expr, java.lang.Boolean]())
    fullyPushedConjuncts.forEach { (conj, t) =>
      if (edgePredApplied.contains(t) && !edgePredSkipped.contains(t)) {
        elidedConjuncts.add(conj)
        graft.graph.GraphAlgos.recordPath(spark, s"edge push: post-join re-apply elided: $conj")
      }
    }
    var (pdf, pbind) = (plans.head.df, plans.head.bindings)
    for (pl <- plans.tail) {
      val (d, b) = joinOnSharedVars(pdf, pbind, pl.df, pl.bindings, "inner")
      pdf = d; pbind = b
    }
    // edge uniqueness across the whole MATCH (reference:
    // prevent_duplicate_edges, cypher_clause.c:4713-4768)
    val uniqCols = plans.flatMap(_.edgeUniq)
    val uniqCond = (for {
      i <- uniqCols.indices; j <- (i + 1) until uniqCols.size
    } yield (uniqCols(i), uniqCols(j)) match {
      case (Left(a), Left(b)) => col(a) =!= col(b)
      case (Left(a), Right(b)) => !array_contains(col(b), col(a))
      case (Right(a), Left(b)) => !array_contains(col(a), col(b))
      case (Right(a), Right(b)) => size(array_intersect(col(a), col(b))) === 0
    }).foldLeft(lit(true))(_ && _)
    if (uniqCols.size > 1) pdf = pdf.filter(uniqCond)

    // residual props + WHERE, applied to a (scope × pattern) frame
    val residuals = plans.flatMap(_.residualProps)
    def applyFilters(start: Scope): Scope = {
      var merged = start
      for ((v, (k, e)) <- residuals) {
        val c = exprc.compile(BinOp("=", Prop(Var(v), k), e), merged)
        merged = merged.withDf(merged.df.filter(c))
      }
      // WHERE: split into conjuncts; EXISTS-pattern conjuncts become
      // semi/anti joins, the rest a filter
      m.where.foreach { w =>
        val conjuncts = splitAnd(w)
        for (c <- conjuncts) c match {
          case ExistsPattern(pat) =>
            val sub = planPath(pat,
              merged.bindings.collect { case NodeB(v, _) => v }.toSet)
            val (d, _) = joinOnSharedVars(merged.df, merged.bindings, sub.df, sub.bindings, "left_semi")
            merged = merged.withDf(d)
          case Not(ExistsPattern(pat)) =>
            val sub = planPath(pat,
              merged.bindings.collect { case NodeB(v, _) => v }.toSet)
            val (d, _) = joinOnSharedVars(merged.df, merged.bindings, sub.df, sub.bindings, "left_anti")
            merged = merged.withDf(d)
          case ExistsSubquery(cs) =>
            // whole conjunct is EXISTS — semi join, no flag column needed
            val (outer, rid) = withRid(merged, Some(clauseVars(cs)))
            val inner = planCorrelated(dedupByRid(outer, rid), cs, rid)
            merged = merged.withDf(
              outer.df.join(inner.df.select(col(rid)), Seq(rid), "left_semi").drop(rid))
          case Not(ExistsSubquery(cs)) =>
            val (outer, rid) = withRid(merged, Some(clauseVars(cs)))
            val inner = planCorrelated(dedupByRid(outer, rid), cs, rid)
            merged = merged.withDf(
              outer.df.join(inner.df.select(col(rid)), Seq(rid), "left_anti").drop(rid))
          case other if elidedConjuncts.contains(other) =>
            // fully pushed into every edge scan of its traversal —
            // pre-filtering already enumerated exactly the surviving
            // path set (see the push site's argument), so the re-apply
            // would only re-materialize edge entities to re-check it
            ()
          case other => merged = filterBy(merged, other)
        }
      }
      merged
    }

    if (!m.optional) {
      val (d, b) =
        if (isUnit(scope)) (pdf, pbind)
        else joinOnSharedVars(scope.df, scope.bindings, pdf, pbind, "inner")
      applyFilters(scope.rebind(d, b))
    } else {
      // OPTIONAL MATCH: the WHERE belongs to the optional side — rows of
      // the incoming scope survive with nulls when no candidate match
      // passes it. Decorrelate via the correlation key: inner-join the
      // pattern + filters over one row per key, then left-join the
      // survivors back (dedup is required — a duplicated outer row must
      // not double its twin's match set).
      val (outer, rid) = withRid(scope, Some(clauseVars(Seq(m))))
      val (d, b) = joinOnSharedVars(
        dedupByRid(outer, rid).df, outer.bindings, pdf, pbind, "inner")
      val filtered = applyFilters(scope.rebind(d, b))
      val outerNames = outer.bindings.map(_.name).toSet
      val patternOnly = filtered.bindings.filterNot(x => outerNames(x.name))
      val rightCols = qcol(rid) +: patternOnly.flatMap(x => filtered.colsOf(x)).map(qcol)
      val res = outer.df.join(filtered.df.select(rightCols: _*), Seq(rid), "left_outer")
        .drop(rid)
      scope.rebind(res, scope.bindings ++ patternOnly)
    }
  }

  private def splitAnd(e: Expr): Seq[Expr] = e match {
    case BinOp("AND", l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def splitOr(e: Expr): Seq[Expr] = e match {
    case BinOp("OR", l, r) => splitOr(l) ++ splitOr(r)
    case other => Seq(other)
  }

  /** Single-variable WHERE conjuncts pending application at their
    * variable's scan (see planMatch's seed pushdown). Set only for the
    * duration of one match's pattern planning — planning is
    * single-threaded per Planner instance. */
  private var seedPreds: Map[String, Seq[Expr]] = Map.empty

  /** Per-edge `all()`/`none()` conjuncts pending application at their
    * traversal's edge frame (see planMatch's edge predicate pushdown),
    * keyed by the VLE relationship variable or the named path variable;
    * values are (lambdaVar, predicate, keepTrue) — keepTrue for all()
    * (edge survives iff body IS TRUE), false for none() (edge survives
    * iff body IS FALSE). Same single-match lifetime as seedPreds. */
  private var edgeSeedPreds: Map[String, Seq[(String, Expr, Boolean)]] = Map.empty

  /** Identity sets of [[edgeSeedPreds]] tuples the edge scans actually
    * applied / skipped (scanEdge and vleEdgeBase compile each pushed
    * body in a one-binding scope and silently skip bodies that scope
    * can't compile). planMatch snapshots them right after pattern
    * planning to decide which WHERE conjuncts may skip the post-join
    * re-application — a conjunct whose all()/none() body pushed WHOLE
    * and was applied by every offered scan (applied, never skipped) is
    * row-identical pre-filtered, and the re-apply would force an
    * edge-entity materialization of the full path frame just to
    * re-check it. Cleared per planMatch; a nested planMatch (EXISTS
    * subquery) clearing them after the snapshot only costs a missed
    * elision, never a missed filter. */
  private val edgePredApplied =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[(String, Expr, Boolean), java.lang.Boolean]())
  private val edgePredSkipped =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[(String, Expr, Boolean), java.lang.Boolean]())

  /** An all()-body eligible to filter edge scans: deterministic and
    * subquery-free (same bar as seed predicates), references ONLY the
    * lambda variable, and nothing inside rebinds the lambda name (the
    * push substitutes it for the scan's own variable, which a shadowing
    * inner binder would corrupt). */
  private def pushableEdgePred(x: String, pred: Expr): Boolean = {
    var shadows = false
    Ast.transformExpr(pred) {
      case e @ PredicateFn(_, v, _, _) if v == x => shadows = true; Some(e)
      case e @ ListComprehension(v, _, _, _) if v == x => shadows = true; Some(e)
      case e @ Reduce(a, _, v, _, _) if a == x || v == x =>
        shadows = true; Some(e)
      case _ => None
    }
    !shadows && pushableSeedPred(pred) && (exprVars(pred) - x).isEmpty
  }

  private def substVar(e: Expr, from: String, to: String): Expr =
    Ast.transformExpr(e) {
      case Var(`from`) => Some(Var(to))
      case _ => None
    }

  /** Conservatively pushable: no subquery forms (their clause bodies
    * are invisible to exprVars and they need the decorrelation
    * machinery), no pattern predicates, and no nondeterministic
    * functions (re-applying rand() twice would change results). */
  private def pushableSeedPred(e: Expr): Boolean = {
    var ok = true
    Ast.transformExpr(e) {
      case x @ (_: ExistsPattern | _: ExistsSubquery | _: CountSubquery) =>
        ok = false; Some(x)
      case f @ FuncCall(n, _, _) if n.equalsIgnoreCase("rand") =>
        ok = false; Some(f)
      case _ => None
    }
    ok
  }
  // Runtime-raising constructs (strict `::` casts, `/`/`%` divide-by-
  // zero under ANSI) are deliberately NOT excluded from the push: quals
  // may raise on non-matching scan rows in this engine with or without
  // seed pushdown — Catalyst pushes the identical post-join conjunct
  // below a plain inner join to the same scan (pinned in VleGoldenSpec
  // "strict predicates follow the scan-eval contract"), and the
  // reference pushes quals into scans the same way. Excluding them here
  // would make traversal patterns the one shape with laxer errors while
  // forfeiting the seeded-frontier win; the junk-tolerant forms are the
  // try-style conversions (toInteger &c), which are null-safe and push.

  // ---- subqueries (EXISTS { } / COUNT { } / CALL { }) --------------------
  // Decorrelation via a synthetic row id: the per-row subquery becomes a
  // join keyed on the id — the Spark analogue of the reference's sublink
  // transforms (reference: transform_cypher_sub_pattern/_sub_query,
  // cypher_clause.c:4333/4389; subquery_stmt grammar cypher_gram.y:656-726).

  /** Append a passthrough item for `rid` to every projection barrier so
    * the correlation key survives WITH/RETURN inside the subquery (for
    * aggregating projections it becomes a group key — exactly per-outer-row
    * semantics). Star projections pick it up via the bindings. */
  private def threadRid(clauses: Seq[Clause], rid: String): Seq[Clause] = clauses.map {
    case w: WithClause if !w.star => w.copy(items = w.items :+ ReturnItem(Var(rid), None))
    case r: ReturnClause if !r.star => r.copy(items = r.items :+ ReturnItem(Var(rid), None))
    case other => other
  }

  /** The correlation column of the subquery currently being planned, if
    * any. Projections consult it so SKIP/LIMIT inside a correlated
    * subquery (`CALL { … RETURN x LIMIT 1 }`, `EXISTS { … LIMIT n }`)
    * apply per outer row, not once globally. */
  private var correlKey: Option[String] = None

  private def planCorrelated(outer: Scope, cs: Seq[Clause], rid: String): Scope = {
    val saved = correlKey
    correlKey = Some(rid)
    try planClauses(outer, threadRid(cs, rid)) finally correlKey = saved
  }

  private def withRid(scope: Scope, refVars: Option[Set[String]] = None): (Scope, String) = {
    val rid = fresh()
    // Correlation key = the content of the outer bindings the subquery
    // can actually read (struct of their columns) — or the whole row when
    // the caller cannot name them. Deterministic under re-evaluation and
    // executor retry (unlike monotonically_increasing_id, which would
    // need an unrecoverable localCheckpoint to pin), and outer rows that
    // agree on the key share one subquery evaluation, joined back —
    // classic dedup-decorrelation, fully declarative so Catalyst and AQE
    // still see through it. Narrowing to the referenced bindings keeps
    // the shuffle key small at scale AND collapses more duplicates (25
    // distinct nations, not 25k distinct outer rows). Maps aren't
    // groupable/joinable in Spark, so map-typed key columns canonicalize
    // to sorted entry arrays (array<struct> groups and joins fine) —
    // content-equal maps still collapse to one evaluation, and nothing
    // ever needs a pinned synthetic id.
    // ENTITY bindings key by id alone: within one frame every sibling
    // column of a NodeB/EdgeB (label, start/end, properties) comes from
    // the same scan row, so it is functionally dependent on the id —
    // equal ids ⇒ equal columns (null OPTIONAL-MATCH rows included:
    // all-null either way). The grouping is therefore IDENTICAL to
    // keying on the full column set, but the correlation key shrinks
    // from a wide entity struct to one long per entity (§2.3: 8-byte
    // keys through the dedup, flags-distinct and join-back exchanges).
    // Container bindings keep their full columns (a VLE/path's arrays
    // ARE its identity; zero-length ids=[] does not determine the
    // endpoints). So does an entity a SET/REMOVE earlier in the
    // statement rewrote: `MATCH (n),(m) SET n.x = m.v` leaves one id
    // with a different n.x per row, and keying by id alone would let
    // one row's subquery answer stand for the others.
    def idKeyed(b: Binding): Boolean = b match {
      case _: NodeB | _: EdgeB => !scope.rewritten(b.name)
      case _ => false
    }
    def keyColsOf(b: Binding): Seq[String] =
      if (idKeyed(b)) Seq(Columns.idCol(b.name)) else scope.colsOf(b)
    val keyCols: Seq[String] = refVars match {
      case Some(vs) =>
        scope.bindings.filter(b => vs(b.name)).flatMap(keyColsOf)
      case None =>
        // whole row, entity bindings narrowed to their id — columns not
        // owned by any binding (planner temps) stay in the key
        val dependent: Set[String] = scope.bindings.filter(idKeyed)
          .flatMap(b => scope.colsOf(b).filterNot(_ == Columns.idCol(b.name))).toSet
        scope.df.columns.toSeq.filterNot(dependent)
    }
    // an empty key (uncorrelated subquery) gets a constant: one
    // evaluation, cross-joined back to every outer row
    val key =
      if (keyCols.isEmpty) struct(lit(1).as("__const"))
      else struct(keyCols.map(c =>
        groupableKey(col(c), scope.df.schema(c).dataType).as(c)): _*)
    val df = scope.df.withColumn(rid, key)
    (scope.rebind(df, scope.bindings :+ ValueB(rid)), rid)
  }

  /** distinct() that keeps each group's first original values. It groups
    * on companions (maps canonicalized, which Spark set operations
    * reject), so the normalization Spark applies to floating-point
    * grouping keys (-0.0 as 0.0) never reaches the values a MERGE stores
    * — as it cannot for a one-row input, whose grouping the optimizer
    * drops. */
  private def distinctCanon(df: DataFrame): DataFrame = {
    val canon = df.schema.fields.toSeq.map(f => (f, s"__canon#${f.name}"))
    canon.foldLeft(df) { case (d, (f, c)) => d.withColumn(c, groupableKey(qcol(f.name), f.dataType)) }
      .dropDuplicates(canon.map(_._2)).drop(canon.map(_._2): _*)
  }

  /** A groupable/joinable canonical form of `c`: maps become their
    * entries sorted by key (unique keys → deterministic order), applied
    * recursively through arrays/structs. Identity for already-groupable
    * types. */
  private def groupableKey(c: Column, dt: DataType): Column = dt match {
    case _ if groupableType(dt) => c
    case MapType(_, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        e.getField("key").as("key"),
        groupableKey(e.getField("value"), vt).as("value"))))
    case ArrayType(et, _) => transform(c, x => groupableKey(x, et))
    case st: StructType => struct(st.fields.map(f =>
      groupableKey(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case _ => c
  }

  /** Every variable name mentioned anywhere in `cs` — expressions,
    * pattern variables, nested subqueries. Deliberately an
    * over-approximation: the correlation key must cover every outer
    * binding the subquery could read; a superset only widens the key. */
  private def clauseVars(cs: Seq[Clause]): Set[String] = cs.flatMap {
    case MatchClause(pats, _, where) =>
      pats.flatMap(patternVars) ++ where.toSeq.flatMap(exprVars)
    case WithClause(items, _, ob, sk, lim, wh, _) =>
      items.flatMap(i => exprVars(i.expr)) ++ ob.flatMap(s => exprVars(s.expr)) ++
        (sk.toSeq ++ lim.toSeq ++ wh.toSeq).flatMap(exprVars)
    case ReturnClause(items, _, ob, sk, lim, _) =>
      items.flatMap(i => exprVars(i.expr)) ++ ob.flatMap(s => exprVars(s.expr)) ++
        (sk.toSeq ++ lim.toSeq).flatMap(exprVars)
    case UnwindClause(l, _) => exprVars(l)
    case CallClause(_, args, _, where) =>
      args.flatMap(exprVars) ++ where.toSeq.flatMap(exprVars)
    case SubqueryCallClause(inner, branches) =>
      clauseVars(inner) ++ branches.flatMap(b => clauseVars(b._1))
    case CreateClause(pats) => pats.flatMap(patternVars)
    case SetClause(items) =>
      items.flatMap(i => exprVars(i.target) ++ exprVars(i.value))
    case DeleteClause(es, _) => es.flatMap(exprVars)
    case MergeClause(p, oc, om) => patternVars(p) ++
      (oc ++ om).flatMap(i => exprVars(i.target) ++ exprVars(i.value))
  }.toSet

  private def patternVars(p: PathPattern): Set[String] = {
    val nodes = p.head +: p.tail.map(_._2)
    val rels = p.tail.map(_._1)
    (p.variable.toSeq ++
      nodes.flatMap(n => n.variable.toSeq ++
        n.props.toSeq.flatMap(_.entries.flatMap(e => exprVars(e._2)))) ++
      rels.flatMap(r => r.variable.toSeq ++
        r.props.toSeq.flatMap(_.entries.flatMap(e => exprVars(e._2))))).toSet
  }

  private def exprVars(e: Expr): Set[String] = {
    var out = Set.empty[String]
    Ast.transformExpr(e) {
      case v @ Var(n) => out += n; Some(v)
      case s @ ExistsSubquery(cs) => out ++= clauseVars(cs); Some(s)
      case s @ CountSubquery(cs) => out ++= clauseVars(cs); Some(s)
      case s @ ExistsPattern(p) => out ++= patternVars(p); Some(s)
      case _ => None
    }
    out
  }

  private def groupableType(dt: DataType): Boolean = dt match {
    case _: MapType => false
    case s: StructType => s.forall(f => groupableType(f.dataType))
    case a: ArrayType => groupableType(a.elementType)
    case _ => true
  }

  /** One row per correlation key: evaluating the subquery over duplicate
    * outer rows would double-count in COUNT{}/CALL{}; for EXISTS it is
    * pure wasted work. */
  private def dedupByRid(outer: Scope, rid: String): Scope =
    outer.withDf(outer.df.dropDuplicates(Seq(rid)))

  private def hasUpdatingClause(cs: Seq[Clause]): Boolean = cs.exists {
    case _: CreateClause | _: MergeClause | _: SetClause | _: DeleteClause => true
    case SubqueryCallClause(inner, branches) =>
      hasUpdatingClause(inner) || branches.exists(b => hasUpdatingClause(b._1))
    case _ => false
  }

  /** EXISTS { … } as a per-row boolean column. */
  private def subqueryFlag(scope: Scope, cs: Seq[Clause]): (Scope, String) = {
    val (outer, rid) = withRid(scope, Some(clauseVars(cs)))
    val flag = fresh()
    val inner = planCorrelated(dedupByRid(outer, rid), cs, rid)
    val flags = inner.df.select(col(rid)).distinct().withColumn(flag, lit(true))
    val joined = outer.df.join(flags, Seq(rid), "left_outer")
      .withColumn(flag, coalesce(col(flag), lit(false))).drop(rid)
    (scope.rebind(joined, scope.bindings :+ ValueB(flag)), flag)
  }

  /** COUNT { … } as a per-row long column. */
  private def subqueryCount(scope: Scope, cs: Seq[Clause]): (Scope, String) = {
    val (outer, rid) = withRid(scope, Some(clauseVars(cs)))
    val cnt = fresh()
    val inner = planCorrelated(dedupByRid(outer, rid), cs, rid)
    val counts = inner.df.groupBy(col(rid)).agg(count(lit(1)).as(cnt))
    val joined = outer.df.join(counts, Seq(rid), "left_outer")
      .withColumn(cnt, coalesce(col(cnt), lit(0L))).drop(rid)
    (scope.rebind(joined, scope.bindings :+ ValueB(cnt)), cnt)
  }

  /** The accessor step of one projection or filter: EXISTS{}/COUNT{}
    * subqueries, startNode()/endNode() and nodes()/relationships() inside
    * `exprs` become columns of the returned scope, which the returned
    * expressions read. */
  private def materializeAccessors(scope: Scope, exprs: Seq[Expr]): (Scope, Seq[Expr]) = {
    val (s1, e1) = materializeSubqueries(scope, exprs)
    val (s2, e2) = materializeEndpointFns(s1, e1)
    materializePathFns(s2, e2)
  }

  /** `scope`'s rows where `w` holds, without the columns its accessors
    * added. */
  private def filterBy(scope: Scope, w: Expr): Scope = {
    val (s, Seq(c)) = materializeAccessors(scope, Seq(w))
    scope.withDf(s.df.filter(exprc.compile(c, s)).select(scope.df.columns.toSeq.map(qcol): _*))
  }

  /** Replace EXISTS{}/COUNT{} nodes inside `exprs` with Var references to
    * computed columns. */
  private def materializeSubqueries(scope0: Scope, exprs: Seq[Expr]): (Scope, Seq[Expr]) = {
    var subs = Vector.empty[Expr]
    exprs.foreach(e => Ast.transformExpr(e) {
      case s @ (_: ExistsSubquery | _: CountSubquery | _: ExistsPattern) =>
        subs :+= s; Some(s)
      case _ => None
    })
    var scope = scope0
    var mapping = Map.empty[Expr, Expr]
    for (s <- subs.distinct) {
      val (s2, v) = s match {
        case ExistsSubquery(cs) => subqueryFlag(scope, cs)
        case CountSubquery(cs) => subqueryCount(scope, cs)
        // bare pattern in a general boolean context (e.g. under OR):
        // same decorrelation as EXISTS { MATCH pattern }
        case ExistsPattern(pat) =>
          subqueryFlag(scope, Seq(MatchClause(Seq(pat), optional = false, None)))
        case _ => throw new IllegalStateException("unreachable")
      }
      scope = s2; mapping += (s -> Var(v))
    }
    (scope, exprs.map(e => Ast.transformExpr(e)(mapping.get)))
  }

  /** startNode(e)/endNode(e) need the vertex row, not just the endpoint
    * id — bind each through the id join and substitute a Var reference
    * (reference: age_start_node/age_end_node, agtype.c; the label is
    * recoverable from the id but the properties need the vertex scan). */
  private def materializeEndpointFns(scope0: Scope, exprs: Seq[Expr]): (Scope, Seq[Expr]) = {
    var scope = scope0
    var mapping = Map.empty[Expr, Expr]
    def endpoint(fn: String, ev: String): Option[String] = scope0.get(ev) match {
      case Some(_: EdgeB) if fn == "startnode" => Some(startCol(ev))
      case Some(_: EdgeB) if fn == "endnode" => Some(endCol(ev))
      case _ => None
    }
    exprs.foreach(e => Ast.transformExpr(e) {
      // id(startNode(e)) is the endpoint column itself and
      // label(startNode(e)) is recoverable from the id's top 16 bits
      // (GET_LABEL_ID, reference: graphid.h:59-60) — neither needs the
      // vertex join. Whole-subtree precedence keeps the inner call away
      // from the join case below.
      case fn @ FuncCall(outer @ ("label" | "id"), Seq(FuncCall(name, Seq(Var(ev)), _)), _)
          if endpoint(name, ev).isDefined && !mapping.contains(fn) =>
        val c = col(endpoint(name, ev).get)
        val tmp = fresh()
        val v =
          if (outer == "id") c
          else {
            // mirror GraphId.labelId: unsigned shift + 16-bit mask so
            // label ids >= 0x8000 (sign bit of the packed gid) resolve
            val lid = shiftrightunsigned(c, GraphId.EntryIdBits)
              .bitwiseAND(lit(0xffffL)).cast(IntegerType)
            graph.vertexLabels.foldLeft(lit(null).cast(StringType): Column) {
              (acc, vl) => when(lid === vl.labelId, lit(vl.name)).otherwise(acc)
            }
          }
        scope = scope.rebind(scope.df.withColumn(tmp, v), scope.bindings :+ ValueB(tmp))
        mapping += (fn -> Var(tmp))
        Some(fn)
      case fn @ FuncCall(name, Seq(Var(ev)), _)
          if endpoint(name, ev).isDefined && !mapping.contains(fn) =>
        val (df, b) = joinEntity(scope.df, col(endpoint(name, ev).get), fresh(),
          isEdge = false, Set.empty, "left_outer")
        scope = scope.rebind(df, scope.bindings :+ b)
        mapping += (fn -> Var(b.name))
        Some(fn)
      case _ => None
    })
    (scope, exprs.map(e => Ast.transformExpr(e)(mapping.get)))
  }

  import Planner.IdArray

  /** The id array `fn`(`pv`) reads. VLE and shortestpath bindings carry
    * edge ids only, so nodes() needs a named path. */
  private def pathIds(scope: Scope, fn: String, pv: String): Option[IdArray] =
    (fn, scope.get(pv)) match {
      case ("nodes", Some(_: PathB)) => Some(IdArray(nidsCol(pv), isEdge = false, Set.empty))
      case ("relationships", Some(PathB(_, t))) => Some(IdArray(idsCol(pv), isEdge = true, t))
      case ("relationships", Some(_: VleB)) => Some(IdArray(idsCol(pv), isEdge = true, Set.empty))
      case _ => None
    }

  /** nodes(p) / relationships(p) in projection or filter position
    * materialize the full entity arrays in path order — every request of
    * `exprs`, over any number of path bindings, in ONE pass (reference:
    * one path builder, _agtype_build_path, agtype.c:2081).
    *
    * The outer frame — often a BFS/VLE enumeration whose lineage would
    * re-run per consumer — is read once: the requested id arrays zip into
    * one posexplode, each slot binds its entity through the id join, and
    * one aggregate per row assembles every array. The group key is the
    * whole row's content (withRid), so every original column rides
    * through as first() of a per-group constant, and a group is m
    * identical rows × the longest array's slots: m = rows / max(longest,
    * 1) restores the duplicates, and array_distinct collapses their
    * copies of each (pos, entity) slot. */
  private def materializePathFns(scope0: Scope, exprs0: Seq[Expr]): (Scope, Seq[Expr]) = {
    var scope = scope0
    // a bare var-length relationship binding IS the traversed edge list
    // (reference: the VLE variable binds [edge, ...] — cypher_vle.out
    // `-[e*]->` returns edge arrays), but the frame carries only its id
    // array; in HOF list position rewrite `r` to relationships(r)
    // (all(x IN r ...), [x IN r | ...], reduce over r)
    def isVleVar(n: String): Boolean = scope0.get(n).exists(_.isInstanceOf[VleB])
    def relsOf(n: String): Expr = FuncCall("relationships", Seq(Var(n)), distinct = false)
    def bareVle(e: Expr): Expr = Ast.transformExpr(e) {
      case PredicateFn(k, x, Var(r), w) if isVleVar(r) =>
        Some(PredicateFn(k, x, relsOf(r), bareVle(w)))
      case ListComprehension(x, Var(r), w, pj) if isVleVar(r) =>
        Some(ListComprehension(x, relsOf(r), w.map(bareVle), pj.map(bareVle)))
      case Reduce(a, init, x, Var(r), body) if isVleVar(r) =>
        Some(Reduce(a, bareVle(init), x, relsOf(r), bareVle(body)))
      case _ => None
    }
    val exprs = exprs0.map(bareVle)
    var mapping = Map.empty[Expr, Expr]
    val wanted = scala.collection.mutable.LinkedHashMap.empty[Expr, IdArray]
    exprs.foreach(e => Ast.transformExpr(e) {
      // size(nodes(p)) / size(relationships(p)) only need the id array's
      // length, already in the frame. Whole-subtree precedence keeps the
      // inner call away from the materializing case below.
      case fn @ FuncCall("size" | "length", Seq(FuncCall(pf, Seq(Var(pv)), _)), _)
          if pathIds(scope0, pf, pv).isDefined =>
        val ids = pathIds(scope0, pf, pv).get.ids
        if (!scope.has(ids)) scope = scope.rebind(scope.df, scope.bindings :+ ValueB(ids))
        mapping += (fn -> FuncCall("size", Seq(Var(ids)), distinct = false))
        Some(fn)
      case fn @ FuncCall(pf, Seq(Var(pv)), _) if pathIds(scope0, pf, pv).isDefined =>
        wanted(fn) = pathIds(scope0, pf, pv).get
        Some(fn)
      case _ => None
    })
    if (wanted.nonEmpty) {
      val reqs = wanted.values.toVector
      val (outer, rid) = withRid(scope, None)
      val orig = outer.df.columns.toSeq.filterNot(_ == rid)
      // arrays_zip is null when any input is, so each array coalesces to
      // []: a null OPTIONAL path must not blank a matched path's array
      val arrs = reqs.map(_ => fresh())
      val posC = fresh(); val slotC = fresh()
      val zipped = outer.df.select(col("*") +: reqs.zip(arrs).map { case (r, a) =>
        coalesce(col(r.ids), array().cast(ArrayType(LongType))).as(a) }: _*)
      var df = zipped.select(col(rid) +: orig.map(qcol) :+
        posexplode_outer(arrays_zip(arrs.map(col): _*)).as(Seq(posC, slotC)): _*)
      val slots = reqs.zip(arrs).map { case (r, a) =>
        val (joined, b) = joinEntity(df, col(slotC).getField(a), fresh(), r.isEdge, r.relTypes, "left")
        df = joined
        when(col(idCol(b.name)).isNotNull, struct(col(posC), exprc.entityStruct(b).as("e")))
      }
      val cnt = fresh()
      val outs = reqs.map(_ => fresh())
      val perRow = df.groupBy(col(rid)).agg(count(lit(1)).as(cnt),
        orig.map(c => first(qcol(c)).as(c)) ++ slots.zip(outs).map { case (s, o) =>
          transform(sort_array(array_distinct(collect_list(s))), x => x.getField("e")).as(o)
        }: _*)
      val longest = greatest(lit(1) +: reqs.map(r => size(col(r.ids))): _*)
      // each array's nullness is its source's own: a null path gives
      // null, a matched zero-length one [] (all(x IN null WHERE …) is
      // null under 3VL and the row drops — reference regress
      // predicate_functions.out)
      val restored = perRow
        .withColumn(cnt, explode(sequence(lit(1L), (col(cnt) / longest).cast(LongType))))
        .drop(rid, cnt)
        .withColumns(reqs.zip(outs).map { case (r, o) => o -> when(col(r.ids).isNotNull, col(o)) }.toMap)
      scope = scope.rebind(restored, scope.bindings ++ outs.map(ValueB(_)))
      mapping ++= wanted.keys.zip(outs.map(Var(_)))
    }
    (scope, exprs.map(e => Ast.transformExpr(e)(mapping.get)))
  }

  /** CALL { subquery }: lateral per-row execution. A trailing RETURN adds
    * its columns to the outer scope (rows multiply / drop like an inner
    * lateral join); a terminal updating subquery leaves the scope as-is
    * (writes applied eagerly). */
  private def planSubqueryCall(scope: Scope, sq: SubqueryCallClause): Scope = {
    if (sq.branches.nonEmpty) return planSubqueryCallUnion(scope, sq)
    val returning = sq.clauses.last match {
      case _: ReturnClause => true
      case _ => false
    }
    if (isUnit(scope)) {
      val inner = planClauses(unitScope, sq.clauses)
      return if (returning) inner else scope
    }
    val (outer, rid) = withRid(scope, Some(clauseVars(sq.clauses)))
    // updating subqueries are side-effecting PER ROW: two identical outer
    // rows must create two nodes, so the dedup-decorrelation only applies
    // to pure (read-only) bodies
    val mutating = hasUpdatingClause(sq.clauses)
    val innerScope = if (mutating) outer else dedupByRid(outer, rid)
    val inner = planCorrelated(innerScope, sq.clauses, rid)
    if (!returning) return scope
    val outerNames = scope.bindings.map(_.name).toSet
    val newBs = inner.bindings.filterNot(b => outerNames(b.name) || b.name == rid)
    for (b <- newBs)
      require(!outerNames(b.name), s"CALL subquery returns ${b.name} already in scope")
    val innerCols = col(rid) +: newBs.flatMap(b => inner.colsOf(b)).map(qcol)
    // An all-aggregate trailing RETURN yields exactly ONE row per outer
    // row even when the correlated match is empty (count()=0 over zero
    // rows) — the rid group simply doesn't exist in the aggregated inner
    // frame, so an inner join would wrongly drop the outer row. Left-join
    // and fill the empty-group identities (count→0, sum→0, collect→[]);
    // min/max/avg stay null. With any non-aggregate item the subquery
    // legitimately returns zero rows and the inner join stands.
    val lastItems = sq.clauses.last match {
      case r: ReturnClause if !r.star => r.items
      case _ => Nil
    }
    val allAgg = lastItems.nonEmpty &&
      lastItems.forall(i => exprc.containsAggregate(i.expr))
    val joined =
      if (!allAgg)
        outer.df.join(inner.df.select(innerCols: _*), Seq(rid), "inner").drop(rid)
      else {
        var j = outer.df.join(inner.df.select(innerCols: _*), Seq(rid), "left_outer")
        for (item <- lastItems) {
          val name = item.alias.getOrElse(defaultName(item.expr))
          if (j.columns.contains(name)) {
            val dt = j.schema(name).dataType
            item.expr match {
              case FuncCall("count", _, _) | CountStar(_) =>
                j = j.withColumn(name, coalesce(col(name), lit(0L).cast(dt)))
              case FuncCall("sum", _, _) if dt.isInstanceOf[NumericType] =>
                j = j.withColumn(name, coalesce(col(name), lit(0).cast(dt)))
              case FuncCall("collect", _, _) =>
                j = j.withColumn(name, coalesce(col(name), array().cast(dt)))
              case _ => ()
            }
          }
        }
        j.drop(rid)
      }
    scope.rebind(joined, scope.bindings ++ newBs)
  }

  /** CALL { A UNION [ALL] B ... }: every arm must end in RETURN with the
    * same column names; arms plan against the same correlation frame and
    * union left-associatively (reference: subquery_stmt grammar,
    * cypher_gram.y:656-726). */
  private def planSubqueryCallUnion(scope: Scope, sq: SubqueryCallClause): Scope = {
    val arms = sq.clauses +: sq.branches.map(_._1)
    require(arms.forall(_.last.isInstanceOf[ReturnClause]),
      "every UNION arm of a CALL subquery must end in RETURN")
    require(!arms.exists(hasUpdatingClause),
      "updating clauses are not supported in CALL subquery UNION arms")
    if (isUnit(scope)) {
      val dfs = arms.map(a => planClauses(unitScope, a))
      var acc = dfs.head.df
      for ((df, (_, allFlag)) <- dfs.tail.zip(sq.branches)) {
        acc = acc.unionByName(df.df)
        if (!allFlag) acc = acc.distinct()
      }
      return scope.rebind(acc, dfs.head.bindings)
    }
    val allVars = Some(arms.flatMap(clauseVars).toSet)
    val (outer, rid) = withRid(scope, allVars)
    val innerScope = dedupByRid(outer, rid)
    val outerNames = scope.bindings.map(_.name).toSet
    val inners = arms.map(a => planCorrelated(innerScope, a, rid))
    val newBs = inners.head.bindings
      .filterNot(b => outerNames(b.name) || b.name == rid)
    val frames = inners.map { in =>
      val bs = in.bindings.filterNot(b => outerNames(b.name) || b.name == rid)
      require(bs.map(_.name) == newBs.map(_.name),
        s"CALL subquery UNION arms return different columns: " +
          s"${bs.map(_.name)} vs ${newBs.map(_.name)}")
      in.df.select((col(rid) +: bs.flatMap(b => in.colsOf(b)).map(qcol)): _*)
    }
    var acc = frames.head
    for ((f, (_, allFlag)) <- frames.tail.zip(sq.branches)) {
      acc = acc.unionByName(f)
      if (!allFlag) acc = acc.distinct()
    }
    val joined = outer.df.join(acc, Seq(rid), "inner").drop(rid)
    scope.rebind(joined, scope.bindings ++ newBs)
  }

  // ---- CALL -------------------------------------------------------------

  private def planCall(scope: Scope, c: CallClause): Scope = {
    // CALL of a plain scalar function is a one-row source whose column
    // carries the function's name (reference: cypher_call.sql:41-69 —
    // CALL sqrt(64) YIELD sqrt; YIELDing any other name errors)
    if (!Procedures.known(c.name)) {
      val fname = c.name.toLowerCase
      val call = FuncCall(fname, c.args, distinct = false)
      val unit = unitScope
      val valueCol = exprc.compile(call, unit)
      val proc = unit.df.select(valueCol.as(fname))
      val yields: Seq[(String, Option[String])] =
        if (c.yields.nonEmpty) c.yields else Seq((fname, None))
      for ((cn, _) <- yields)
        require(cn == fname,
          s"function call $fname yields column $fname, not $cn")
      val selected = proc.select(
        yields.map { case (cn, al) => col(cn).as(al.getOrElse(cn)) }: _*)
      val df = if (isUnit(scope)) selected else scope.df.crossJoin(selected)
      var out = scope.rebind(df,
        scope.bindings ++ yields.map { case (cn, al) => ValueB(al.getOrElse(cn)) })
      c.where.foreach(w => out = out.withDf(out.df.filter(exprc.compile(w, out))))
      return out
    }
    val proc = Procedures(c.name, spark, graph, c.args.map(evalLit))
    val yields: Seq[(String, Option[String])] =
      if (c.yields.nonEmpty) c.yields
      else proc.columns.toSeq.map(cn => (cn, None: Option[String]))
    for ((cn, _) <- yields)
      require(proc.columns.contains(cn),
        s"procedure ${c.name} has no column $cn (has: ${proc.columns.mkString(", ")})")
    val selected = proc.select(yields.map { case (cn, al) => col(cn).as(al.getOrElse(cn)) }: _*)
    val df = if (isUnit(scope)) selected else scope.df.crossJoin(selected)
    var out = scope.rebind(df, scope.bindings ++ yields.map { case (cn, al) => ValueB(al.getOrElse(cn)) })
    c.where.foreach(w => out = out.withDf(out.df.filter(exprc.compile(w, out))))
    out
  }

  // ---- UNWIND -----------------------------------------------------------

  private def planUnwind(scope: Scope, listE: Expr, alias: String): Scope = {
    // UNWIND nodes(p) / relationships(p) rebinds the alias as a full
    // entity: explode the id array and bind each id through the id join
    // (paths carry ids; the entity row needs the scan)
    listE match {
      // a bare var-length relationship binding unwinds as its edge
      // entities, exactly like relationships(r) (reference: the VLE
      // variable binds the traversed edge list)
      case Var(pv) if scope.get(pv).exists(_.isInstanceOf[VleB]) =>
        return planUnwind(scope,
          FuncCall("relationships", Seq(Var(pv)), distinct = false), alias)
      case FuncCall("nodes", Seq(Var(pv)), _)
          if scope.get(pv).exists(_.isInstanceOf[VleB]) =>
        throw new IllegalArgumentException(
          s"nodes($pv): expects a named path (p = (...)), not a variable-length relationship binding")
      case FuncCall(fn, Seq(Var(pv)), _) if pathIds(scope, fn, pv).isDefined =>
        val arr = pathIds(scope, fn, pv).get
        val uw = fresh()
        val (df, b) = joinEntity(scope.df.withColumn(uw, explode(col(arr.ids))), col(uw), alias,
          arr.isEdge, arr.relTypes, "inner")
        return scope.rebind(df.drop(uw), scope.bindings :+ b)
      case _ => ()
    }
    val listC0 = exprc.compile(listE, scope)
    // Cypher UNWIND: null/empty list eliminates the row (explode, not
    // explode_outer) — reference: age_unnest, agtype.c:13042. A literal
    // null types as VOID and needs an array cast for explode to resolve.
    val listC = scope.df.select(listC0).schema.head.dataType match {
      case NullType => lit(null).cast(ArrayType(NullType))
      case _ => listC0
    }
    val df = scope.df.withColumn(alias, explode(listC))
    scope.rebind(df, scope.bindings :+ ValueB(alias))
  }

  // ---- WITH / RETURN ----------------------------------------------------

  private def defaultName(e: Expr): String = e match {
    case Var(v) => v
    case Prop(t, k) => s"${defaultName(t)}.$k"
    case FuncCall(n, args, _) => s"$n(${args.map(defaultName).mkString(", ")})"
    case CountStar(_) => "count(*)"
    case Lit(v) => AgValue.print(v)
    case _ => e.toString.take(60)
  }

  private def project(
      scope: Scope,
      items0: Seq[ReturnItem],
      star: Boolean,
      distinct: Boolean,
      orderBy: Seq[SortItem],
      skip: Option[Expr],
      limit: Option[Expr],
      where: Option[Expr],
      isReturn: Boolean): Scope = {

    val starItems =
      if (star) scope.bindings.map(b => ReturnItem(Var(b.name), None))
      else Vector.empty
    val (scope1, rewritten) = materializeAccessors(scope, items0.map(_.expr))
    val items0q = items0.zip(rewritten).map { case (it, e) => it.copy(expr = e) }
    val items = starItems ++ items0q
    require(items.nonEmpty, "empty projection")

    val named: Seq[(String, ReturnItem)] = {
      val named0 = items.map { it => (it.alias.getOrElse(defaultName(it.expr)), it) }
      // duplicate unaliased items are legal (the reference names output
      // columns in the SQL AS list) — suffix repeats so the projection
      // stays unambiguous
      val seen = scala.collection.mutable.Map.empty[String, Int]
      named0.map { case (n, it) =>
        val k = seen.getOrElse(n, 0); seen(n) = k + 1
        (if (k == 0) n else s"$n#$k", it)
      }
    }

    val hasAgg = items.exists(it => exprc.containsAggregate(it.expr))

    // passthrough entity bindings: plain Var of node/edge/vle in WITH (or
    // group key position) keeps its namespaced columns; an alias renames
    // the whole binding (`WITH p AS node` — node stays a full entity)
    def passthrough(it: ReturnItem): Option[Binding] = it.expr match {
      case Var(v) =>
        scope.get(v) match {
          case Some(b: NodeB) => Some(b)
          case Some(b: EdgeB) => Some(b)
          case Some(b: VleB) => Some(b)
          case Some(b: PathB) => Some(b)
          case _ => None
        }
      case _ => None
    }

    def renamed(b: Binding, a: String): Binding = b match {
      case NodeB(_, ps) => NodeB(a, ps)
      case EdgeB(_, ps) => EdgeB(a, ps)
      case VleB(_) => VleB(a)
      case p: PathB => p.copy(name = a)
      case ValueB(_) => ValueB(a)
    }

    var outBindings = Vector.empty[Binding]
    var groupCols = Vector.empty[Column]
    var aggCols = Vector.empty[Column]
    var plainCols = Vector.empty[Column]

    for ((name, it) <- named) {
      passthrough(it) match {
        case Some(b0) =>
          val b = if (b0.name == name) b0 else renamed(b0, name)
          // colsOf is shape-based: zip source columns with the renamed
          // binding's column names
          val cols = scope.colsOf(b0).zip(scope.colsOf(b))
            .map { case (s, d) => if (s == d) col(s) else col(s).as(d) }
          if (hasAgg) groupCols ++= cols else plainCols ++= cols
          outBindings :+= b
        case None =>
          val c = exprc.compile(it.expr, scope1).as(name)
          if (hasAgg) {
            if (exprc.containsAggregate(it.expr)) aggCols :+= c else groupCols :+= c
          } else plainCols :+= c
          outBindings :+= ValueB(name)
      }
    }

    // ORDER BY may reference pre-projection variables (`RETURN p.name AS
    // name ORDER BY p.age`) — Postgres resolves the sort against both
    // the targetlist and the FROM scope. Carry such sort expressions
    // through as hidden columns (non-aggregating, non-DISTINCT
    // projections only; with implicit grouping or DISTINCT the input
    // rows are gone, matching Cypher's own restriction).
    val byAst = named.map { case (n, it) => (it.expr, n) }.toMap
    def freeVars(e: Expr): Set[String] = {
      var s = Set.empty[String]
      Ast.transformExpr(e) { case v @ Var(n) => s += n; Some(v); case _ => None }
      s
    }
    val outNames = outBindings.map(_.name).toSet
    var hiddenSorts = Map.empty[Int, String]
    if (!hasAgg && !distinct) {
      for ((s, i) <- orderBy.zipWithIndex) {
        if (!byAst.contains(s.expr) && !freeVars(s.expr).subsetOf(outNames)) {
          val cn = s"__sort#$i"
          plainCols :+= exprc.compile(s.expr, scope1).as(cn)
          hiddenSorts += i -> cn
        }
      }
    }

    var df =
      if (hasAgg) {
        if (groupCols.isEmpty) scope1.df.agg(aggCols.head, aggCols.tail: _*)
        else scope1.df.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
      } else scope1.df.select(plainCols: _*)

    if (distinct) df = df.distinct()

    // `WITH n AS k` carries n's rewritten columns under k
    val rewrittenOut = named.collect { case (name, it)
      if passthrough(it).exists(b => scope.rewritten(b.name)) => name }.toSet
    var out = Scope(df, outBindings, scope.rewritten ++ rewrittenOut)
    // WITH … WHERE sees the projected values; subqueries there correlate
    // against the projected frame, and endpoint/path accessors (incl.
    // HOFs over a passed-through VLE binding) materialize like any other
    // filter position
    where.foreach(w => out = filterBy(out, w))

    // sort items resolve: output aliases first (by AST equality),
    // hidden pre-projection columns next, output-scope compile last
    val sortCols = orderBy.zipWithIndex.map { case (s, i) =>
      val c0 = hiddenSorts.get(i).map(qcol)
        // an output alias resolves by name only when the column exists —
        // entity/path passthroughs materialize AFTER the sort, so fall
        // through to a compiled sort key for them
        .orElse(byAst.get(s.expr).filter(out.df.columns.contains).map(qcol))
        .getOrElse(s.expr match {
          // ORDER BY a path: element-wise orderability = the alternating
          // [n0, r0, n1, …] id sequence (entities compare by id)
          case Var(pv) if out.get(pv).exists(_.isInstanceOf[PathB]) =>
            val (nids, ids) = (col(nidsCol(pv)), col(idsCol(pv)))
            concat(
              flatten(zip_with(slice(nids, lit(1), size(ids)), ids,
                (n, r) => array(n, r))),
              slice(nids, size(nids), lit(1)))
          case _ => exprc.compile(s.expr, out)
        })
      // variant-typed sort keys order by the agtype orderability key, so
      // same-rank containers sort element-wise like the reference
      // (compare_agtype_containers_orderability), not by struct/text form
      val c = out.df.select(c0).schema.head.dataType match {
        case dt if containsVariant(dt) => graft.functions.AgOrderKey.key(c0)
        case _ => c0
      }
      if (s.ascending) c.asc_nulls_last else c.desc_nulls_first
    }
    if (orderBy.nonEmpty)
      out = out.withDf(out.df.orderBy(sortCols: _*))

    // Inside a correlated subquery SKIP/LIMIT are per outer row (the rid
    // column): a lateral top-k, not a global one. Expressed as a
    // row_number() window partitioned by the rid so each outer row keeps
    // its own first k rows in the query's sort order.
    val perRowKey =
      if (skip.isEmpty && limit.isEmpty) None
      else correlKey.filter(k => out.bindings.exists(_.name == k))
    perRowKey match {
      case Some(k) =>
        import org.apache.spark.sql.expressions.Window
        val rn = fresh()
        var df2 = out.df
        val ord =
          if (sortCols.nonEmpty) sortCols
          else
            // no ORDER BY: "any k rows" semantics — sort by full row
            // content (maps canonicalized) so the choice is
            // deterministic under executor retry with no pinning; rows
            // tying on every column are interchangeable anyway
            Seq(struct(df2.columns.map(c =>
              groupableKey(col(c), df2.schema(c).dataType)).toSeq: _*).asc)
        df2 = df2.withColumn(rn, row_number().over(
          Window.partitionBy(col(k)).orderBy(ord: _*)))
        val lo = skip.map(evalIntLit).getOrElse(0)
        if (lo > 0) df2 = df2.filter(col(rn) > lo)
        limit.foreach(e => df2 = df2.filter(col(rn) <= lo + evalIntLit(e)))
        out = out.withDf(df2.drop(rn))
      case None =>
        skip.foreach(e => out = out.withDf(out.df.offset(evalIntLit(e))))
        limit.foreach(e => out = out.withDf(out.df.limit(evalIntLit(e))))
    }
    if (hiddenSorts.nonEmpty)
      out = out.withDf(out.df.drop(hiddenSorts.values.toSeq: _*))

    if (isReturn) {
      // final output: materialize entity bindings as structs with their
      // public column names
      // an unmatched OPTIONAL entity or path is a NULL value, not a
      // struct of nulls (id is never null for a real entity)
      val finalCols = out.bindings.map {
        case b @ (_: NodeB | _: EdgeB) =>
          when(col(idCol(b.name)).isNotNull, exprc.entityStruct(b)).as(b.name)
        case VleB(v) => col(idsCol(v)).as(v)
        case PathB(v, _) => when(col(nidsCol(v)).isNotNull, struct(
          col(nidsCol(v)).as("nodes"), col(idsCol(v)).as("relationships"))).as(v)
        case ValueB(n) => qcol(n)
      }
      out = out.rebind(out.df.select(finalCols: _*), out.bindings.map(b => ValueB(b.name)))
    }
    out
  }

  // ---- mutating clauses (CREATE / SET / REMOVE / DELETE / MERGE) ------
  // Executed eagerly at plan time against the MutableGraph store — the
  // Spark analogue of the reference's CustomScan write executors
  // (reference: cypher_create.c:61-266, cypher_set.c:59-922,
  // cypher_delete.c:70-196, cypher_merge.c:105-1501), which cost the rows
  // a clause writes. A clause's batch is collected once when the store's
  // delta can hold it (MutableGraph.localBatch, DfUtils.withRowNumCount):
  // a statement then costs the jobs of its own MATCH plus at most one
  // more, and what it derives from the collected rows (numbered rows,
  // missing MERGE keys, ON CREATE / ON MATCH updates) is a projection or
  // filter over a LocalRelation, which the optimizer folds with no job.

  private def st: graft.graph.MutableGraph = store.getOrElse(
    throw new UnsupportedOperationException(
      "mutating clauses require a MutableGraph (use Cypher.execute)"))

  /** Append dense 1-based row numbers to `df0` and count its rows: one
    * collect when the store's delta can hold the rows, else one job over
    * the pinned partitions (graph.DfUtils.withRowNumCount). */
  private def withRowNumCount(df0: DataFrame, out: String): (DataFrame, Long) =
    DfUtils.withRowNumCount(df0, out, st.batchThreshold)

  private def gid(labelId: Int, entry: Column): Column =
    lit(labelId.toLong * (1L << graft.types.GraphId.EntryIdBits)) + entry

  private def planCreate(scope0: Scope, c: CreateClause): Scope = {
    var scope = scope0
    for (path <- c.patterns) {
      // assign variables to every element up front (anonymous get fresh)
      val nodeVars: Seq[(NodePattern, String)] =
        (path.head +: path.tail.map(_._2)).map(n => n -> n.variable.getOrElse(fresh()))
      val edgeVars: Seq[String] =
        path.tail.map(_._1).map(r => r.variable.getOrElse(fresh()))

      // create unbound nodes
      for ((n, v) <- nodeVars if !scope.has(v)) {
        require(n.labels.size <= 1, "CREATE supports at most one label per node")
        val label = n.labels.headOption.getOrElse("_ag_label_vertex")
        val labelId = st.vertexLabelId(label)
        val base = st.vertexMaxEntry(label)
        val propEntries = n.props.map(_.entries).getOrElse(Nil)
        // property values are computed before the pin, so a
        // nondeterministic one (rand()) is the same in scope and store
        var df = scope.df.withColumn(labelCol(v), lit(label))
        for ((k, e) <- propEntries)
          df = df.withColumn(propCol(v, k), exprc.compile(e, scope))
        val (numbered, cnt) = withRowNumCount(df, "__rn")
        df = numbered.withColumn(idCol(v), gid(labelId, lit(base) + col("__rn"))).drop("__rn")
        val propNames = propEntries.map(_._1)
        st.appendVertices(label,
          df.select(col(idCol(v)).as("id") +: propNames.map(k => col(propCol(v, k)).as(graft.graph.PropName.enc(k))): _*),
          base + cnt)
        scope = scope.rebind(df, scope.bindings :+ NodeB(v, propNames))
      }

      // create edges along the path
      var prevVar = nodeVars.head._2
      for (((rel, n), i) <- path.tail.zipWithIndex) {
        val nv = nodeVars(i + 1)._2
        val ev = edgeVars(i)
        require(rel.types.size == 1, "CREATE edge requires exactly one type")
        require(rel.varLength.isEmpty, "CREATE cannot use variable-length edges")
        require(rel.direction != DirBoth, "CREATE requires a directed edge")
        val label = rel.types.head
        val labelId = st.edgeLabelId(label)
        val base = st.edgeMaxEntry(label)
        val (sVar, eVar) = rel.direction match {
          case DirIn => (nv, prevVar)
          case _ => (prevVar, nv)
        }
        val propEntries = rel.props.map(_.entries).getOrElse(Nil)
        var df = scope.df
          .withColumn(labelCol(ev), lit(label))
          .withColumn(startCol(ev), col(idCol(sVar)))
          .withColumn(endCol(ev), col(idCol(eVar)))
        for ((k, e) <- propEntries)
          df = df.withColumn(propCol(ev, k), exprc.compile(e, scope))
        val (numbered, cnt) = withRowNumCount(df, "__rn")
        df = numbered.withColumn(idCol(ev), gid(labelId, lit(base) + col("__rn"))).drop("__rn")
        val propNames = propEntries.map(_._1)
        st.appendEdges(label,
          df.select(Seq(col(idCol(ev)).as("id"), col(startCol(ev)).as("start_id"),
            col(endCol(ev)).as("end_id")) ++
            propNames.map(k => col(propCol(ev, k)).as(graft.graph.PropName.enc(k))): _*),
          base + cnt)
        scope = scope.rebind(df, scope.bindings :+ EdgeB(ev, propNames))
        prevVar = nv
      }

      // named path over the created elements (reference: MERGE p=()-[:e]-()
      // RETURN p, cypher_merge.out; CREATE p=... binds identically)
      path.variable.foreach { pv =>
        val ids =
          if (edgeVars.isEmpty) array().cast("array<long>")
          else array(edgeVars.map(v => col(idCol(v))): _*)
        val nids = array(nodeVars.map { case (_, v) => col(idCol(v)) }: _*)
        val df = scope.df.withColumn(idsCol(pv), ids)
          .withColumn(nidsCol(pv), nids)
          .withColumn(hopsCol(pv), size(col(idsCol(pv))).cast("long"))
        scope = scope.rebind(df, scope.bindings :+ PathB(pv, hopRelTypes(path.tail)))
      }
    }
    scope
  }

  /** Union of a pattern's hop types when EVERY hop is explicitly typed
    * (empty = unrestricted) — the PathB.relTypes static fact. */
  private def hopRelTypes(hops: Seq[(Ast.RelPattern, Ast.NodePattern)]): Set[String] =
    if (hops.nonEmpty && hops.forall(_._1.types.nonEmpty))
      hops.flatMap(_._1.types).toSet
    else Set.empty

  private def planSet(scope0: Scope, sc: SetClause): Scope = {
    var cur = scope0
    // Deferred store writes: simple `SET v.k = expr` items (including
    // the per-key expansions of `SET v = {map}` / `SET v += map-expr`)
    // accumulate per entity variable and flush as ONE multi-property
    // write per variable (MutableGraph.setVertexProperties) — one patch
    // per touched label instead of one per property, and unique
    // constraints validate the END-OF-STATEMENT state, matching the
    // reference: cypher_set.c applies every item to the tuple and the
    // heap update fires constraints once (the per-key eager form
    // wrongly rejected multi-key updates that pass only transiently
    // through a conflicting combination). Value expressions still
    // evaluate sequentially against the scope, so
    // `SET n.a = 1, n.b = n.a` sees the new `a`.
    val pending =
      scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, Vector[String])]
    def defer(v: String, isEdge: Boolean, k: String): Unit = {
      val (e, ks) = pending.getOrElse(v, (isEdge, Vector.empty[String]))
      pending(v) = (e, ks.filterNot(_ == k) :+ k)
    }
    def flush(): Unit = {
      for ((v, (isEdge, ks)) <- pending) {
        // value columns ride positionally in `ks` order under synthetic
        // names — raw property keys may contain chars col() would
        // misparse, and a key named "id" must not collide
        val updates = cur.df
          .select(col(idCol(v)).as("id") +: ks.zipWithIndex.map {
            case (k, i) => qcol(propCol(v, k)).as(s"__v$i")
          }: _*)
        if (isEdge) st.setEdgeProperties(ks, updates)
        else st.setVertexProperties(ks, updates)
      }
      pending.clear()
    }
    def handle(item: SetItem): Unit = item match {
      // SET/REMOVE through a projected entity VALUE (nodes(p)[0],
      // a subquery-returned vertex): the struct's id addresses the
      // store write, and the in-scope struct is rebuilt with the new
      // property so the RETURN shows the updated entity (reference:
      // cypher_set.out "WITH nodes(p) AS ns ... SET ns[0].k")
      case SetItem(Prop(Var(v), k), valueE, op)
          if cur.get(v).exists(_.isInstanceOf[ValueB]) &&
            cur.df.schema.fields.exists(f => f.name == v &&
              (f.dataType match {
                case st: org.apache.spark.sql.types.StructType =>
                  AgVariant.isEntityStruct(st)
                case _ => false
              })) =>
        flush() // value-addressed writes stay eager; order vs deferred sets
        val st0 = cur.df.schema(v).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        val isEdge = st0.fieldNames.contains("start_id")
        val valC = exprc.compile(valueE, cur)
        op match {
          case "=" | "+=" =>
            val updates = cur.df
              .select(qcol(v).getField("id").as("id"), valC.as("__newval"))
            if (isEdge) st.setEdgeProperty(k, updates)
            else st.setVertexProperty(k, updates)
            cur = cur.withDf(cur.df.withColumn(v,
              qcol(v).dropFields("properties.__empty")
                .withField(s"properties.`$k`", valC)))
          case "remove" =>
            val ids = cur.df.select(qcol(v).getField("id").as("id"))
            if (isEdge) st.removeEdgeProperty(k, ids)
            else st.removeVertexProperty(k, ids)
            if (st0.fields.find(_.name == "properties").exists(
                _.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]))
              cur = cur.withDf(cur.df.withColumn(v,
                qcol(v).withField(s"properties.`$k`",
                  lit(null))))
        }
      case SetItem(Prop(Var(v), k), valueE, op) =>
        val b = cur.get(v).getOrElse(
          throw new IllegalArgumentException(s"unbound variable $v in SET"))
        op match {
          case "=" | "+=" =>
            val valC = exprc.compile(valueE, cur)
            val isEdge = b match {
              case _: NodeB => false
              case _: EdgeB => true
              case _ => throw new IllegalArgumentException(s"$v is not an entity")
            }
            defer(v, isEdge, k)
            val df2 = cur.df.withColumn(propCol(v, k), valC)
            cur = Scope(df2, cur.bindings.map {
              case NodeB(n, props) if n == v => NodeB(n, (props :+ k).distinct)
              case EdgeB(n, props) if n == v => EdgeB(n, (props :+ k).distinct)
              case x => x
            }, cur.rewritten + v)
          case "remove" =>
            val isEdge = b match {
              case _: NodeB => false
              case _: EdgeB => true
              case _ => throw new IllegalArgumentException(s"$v is not an entity")
            }
            if (cur.df.schema.fieldNames.contains(propCol(v, k))) {
              // remove == set-to-null in this engine (removeProp does
              // exactly that), so it joins the same deferred batch —
              // `SET n = {map}` clearing untouched keys is one write
              val dt = cur.df.schema(propCol(v, k)).dataType
              defer(v, isEdge, k)
              cur = cur.copy(df = cur.df.withColumn(propCol(v, k), lit(null).cast(dt)),
                rewritten = cur.rewritten + v)
            } else {
              // property unknown to the scope (no matched label carries
              // it): keep the eager store-side remove, which is a no-op
              // per label unless the column exists (the reference's
              // REMOVE tolerates keys the entity never had)
              flush()
              val ids = cur.df.select(col(idCol(v)).as("id"))
              if (isEdge) st.removeEdgeProperty(k, ids)
              else st.removeVertexProperty(k, ids)
            }
        }
      case SetItem(Var(v), MapLit(entries), op) if op == "+=" || op == "=" =>
        // SET n += {..} expands to per-key sets; SET n = {..} REPLACES
        // the property map, clearing keys not in the literal (reference:
        // cypher_set.c update semantics for whole-properties assignment)
        if (op == "=") {
          val keys = entries.map(_._1).toSet
          val existing = cur.get(v) match {
            case Some(NodeB(_, props)) => props
            case Some(EdgeB(_, props)) => props
            case _ => Nil
          }
          for (k <- existing if !keys(k))
            handle(SetItem(Prop(Var(v), k), Lit(AgNull), "remove"))
        }
        // in-line (not recursive) so every expanded key joins the same
        // deferred batch — `SET n = {a:.., b:..}` is one store write
        for ((k, e) <- entries)
          handle(SetItem(Prop(Var(v), k), e, "="))
      case SetItem(Var(v), srcE, op) if op == "+=" || op == "=" =>
        // SET n = <map-valued expression> — properties(m), another
        // entity, a map variable (reference: cypher_set.out "SET at =
        // properties(pn)" / "SET at = pn"). The key set comes from the
        // expression's static type (struct fields / entity props) or,
        // for a runtime map, from one distinct-keys probe; then the
        // MapLit expansion above applies with `.k` access expressions.
        val c = exprc.compile(srcE, cur)
        val dt = cur.df.select(c).schema.head.dataType
        val keys: Seq[String] = dt match {
          case st: StructType if AgVariant.isEntityStruct(st) =>
            st.fields.find(_.name == "properties").get.dataType match {
              case pst: StructType => pst.fieldNames.toSeq.filterNot(_ == "__empty")
              case _: MapType =>
                Planner.runtimeMapKeys(cur.df, map_keys(c.getField("properties")))
              case _ => Nil
            }
          case st: StructType if !AgVariant.isVariant(st) => st.fieldNames.toSeq
          case _: MapType =>
            Planner.runtimeMapKeys(cur.df, map_keys(c))
          case other => throw new IllegalArgumentException(
            s"SET $v = … expects a map, got ${other.simpleString}")
        }
        val entries = keys.map(k => (k, Prop(srcE, k): Expr))
        handle(SetItem(Var(v), MapLit(entries), op))
      case other =>
        throw new UnsupportedOperationException(s"unsupported SET target: $other")
    }
    sc.items.foreach(handle)
    flush()
    cur
  }

  private def planDelete(scope: Scope, d: DeleteClause): Scope = {
    val targets = d.exprs.map {
      case Var(v) => scope.get(v).getOrElse(
        throw new IllegalArgumentException(s"unbound variable $v in DELETE"))
      case other => throw new IllegalArgumentException(s"DELETE expects variables, got $other")
    }
    // edges first, then vertices (DETACH also removes incident edges)
    val edgeIds = targets.collect { case EdgeB(v, _) => scope.df.select(col(idCol(v)).as("id")) }
    if (edgeIds.nonEmpty) st.deleteEdges(edgeIds.reduce(_ unionByName _))
    val nodeIds = targets.collect { case NodeB(v, _) => scope.df.select(col(idCol(v)).as("id")) }
    if (nodeIds.nonEmpty) st.deleteVertices(nodeIds.reduce(_ unionByName _), d.detach)
    scope
  }

  /** MERGE: per-input-row match-or-create with ON CREATE / ON MATCH SET.
    * Distinct-key creation reproduces the reference's row-at-a-time
    * visibility (a row creating (k=5) makes later rows with k=5 match) —
    * reference: exec_cypher_merge, cypher_merge.c:640.
    */
  private def planMerge(scope0: Scope, m0: MergeClause): Scope = {
    // a named path (MERGE p = ...) needs every element var-bound in the
    // post-merge scope: pre-name anonymous elements, then assemble the
    // PathB from their id columns (reference: MERGE p=()-[:e]-()
    // RETURN p, cypher_merge.out)
    val m =
      if (m0.pattern.variable.isEmpty) m0
      else {
        val p = m0.pattern
        m0.copy(pattern = p.copy(
          head = p.head.copy(variable = Some(p.head.variable.getOrElse(fresh()))),
          tail = p.tail.map { case (r, n) =>
            (r.copy(variable = Some(r.variable.getOrElse(fresh()))),
              n.copy(variable = Some(n.variable.getOrElse(fresh()))))
          }))
      }
    val merged = planMergeDispatch(scope0, m)
    m.pattern.variable match {
      case None => merged
      case Some(pv) =>
        val nodeVs = (m.pattern.head +: m.pattern.tail.map(_._2)).map(_.variable.get)
        val edgeVs = m.pattern.tail.map(_._1.variable.get)
        val ids =
          if (edgeVs.isEmpty) array().cast("array<long>")
          else array(edgeVs.map(v => col(idCol(v))): _*)
        val df = merged.df.withColumn(idsCol(pv), ids)
          .withColumn(nidsCol(pv), array(nodeVs.map(v => col(idCol(v))): _*))
          .withColumn(hopsCol(pv), size(col(idsCol(pv))).cast("long"))
        merged.rebind(df, merged.bindings :+ PathB(pv, hopRelTypes(m.pattern.tail)))
    }
  }

  private def planMergeDispatch(scope0: Scope, m: MergeClause): Scope = m.pattern match {
    case PathPattern(_, node, Seq(), None) => mergeNode(scope0, node, m)
    case PathPattern(_, a, Seq((rel, b)), None)
        if a.variable.exists(scope0.has) && b.variable.exists(scope0.has) =>
      mergeEdge(scope0, a.variable.get, rel, b.variable.get, m)
    case p @ PathPattern(_, _, tail, None) if tail.nonEmpty => mergePattern(scope0, p, m)
    case _ => throw new UnsupportedOperationException(
      "MERGE does not support shortestpath patterns")
  }

  /** General path MERGE with any number of hops and any endpoint
    * binding state: match the WHOLE pattern per input row; rows with no
    * match create the entire pattern (one instance per distinct key
    * combination - Cypher merges the pattern as a unit, so an existing
    * sub-path alone does not prevent creation). Re-probing against the
    * post-write snapshot reproduces the reference's row-at-a-time
    * visibility (reference: exec_cypher_merge, cypher_merge.c:640;
    * path check :248).
    */
  private def mergePattern(scope0: Scope, p: PathPattern, m: MergeClause): Scope = {
    val nodes: Seq[NodePattern] = p.head +: p.tail.map(_._2)
    val rels: Seq[RelPattern] = p.tail.map(_._1)
    rels.foreach { r =>
      require(r.types.size == 1, "MERGE edge requires exactly one type")
      // undirected rels are legal: the probe (planPath) matches either
      // orientation; creation is left-to-right like the reference
      // (cypher_merge.out test 23: MERGE ()-[:e]-() creates start→end)
      require(r.varLength.isEmpty, "MERGE cannot use variable-length edges")
    }
    val nodeVars = nodes.map(_.variable.getOrElse(fresh()))
    val relVars = rels.map(_.variable.getOrElse(fresh()))
    val boundN = nodeVars.map(scope0.has)
    nodes.zip(boundN).foreach { case (n, b) =>
      if (b) require(n.labels.isEmpty && n.props.isEmpty,
        s"MERGE: bound variable ${n.variable.get} cannot take labels/properties")
    }
    def labelOf(n: NodePattern): String = {
      require(n.labels.size <= 1, "MERGE supports at most one label per node")
      n.labels.headOption.getOrElse("_ag_label_vertex")
    }
    // register labels up front so probe scans see (possibly empty) frames
    rels.foreach(r => st.edgeLabelId(r.types.head))
    nodes.zip(boundN).foreach { case (n, b) => if (!b) st.vertexLabelId(labelOf(n)) }

    // evaluate key expressions once per input row
    val nodeKeys: Seq[Seq[(String, Expr)]] = nodes.zip(boundN).map {
      case (n, b) => if (b) Nil else n.props.map(_.entries).getOrElse(Nil)
    }
    val relKeys: Seq[Seq[(String, Expr)]] = rels.map(_.props.map(_.entries).getOrElse(Nil))
    var keyed = scope0.df
    for ((ks, i) <- nodeKeys.zipWithIndex; (k, e) <- ks)
      keyed = keyed.withColumn(s"__kn$i#$k", exprc.compile(e, scope0))
    for ((ks, i) <- relKeys.zipWithIndex; (k, e) <- ks)
      keyed = keyed.withColumn(s"__kr$i#$k", exprc.compile(e, scope0))
    val keyCols: Seq[String] =
      nodeKeys.zipWithIndex.flatMap { case (ks, i) => ks.map(k => s"__kn$i#${k._1}") } ++
        relKeys.zipWithIndex.flatMap { case (ks, i) => ks.map(k => s"__kr$i#${k._1}") } ++
        nodeVars.zip(boundN).collect { case (v, true) => idCol(v) }

    // probe pattern: every element gets its variable, props stripped
    // (prop constraints become null-safe key equality in the join)
    def stripped: PathPattern = PathPattern(None,
      nodes.head.copy(variable = Some(nodeVars.head), props = None,
        labels = if (boundN.head) Nil else nodes.head.labels),
      rels.indices.map { i =>
        (rels(i).copy(variable = Some(relVars(i)), props = None),
          nodes(i + 1).copy(variable = Some(nodeVars(i + 1)), props = None,
            labels = if (boundN(i + 1)) Nil else nodes(i + 1).labels))
      }, None)
    def probe(joinType: String): (DataFrame, Vector[Binding]) = {
      val pl = planPath(stripped)
      val propConds =
        nodeKeys.zipWithIndex.flatMap { case (ks, i) => ks.map { case (k, _) =>
          val v = nodeVars(i)
          if (pl.df.schema.fieldNames.contains(propCol(v, k)))
            nullSafeKeyEq(col(s"__kn$i#$k"), keyed.schema(s"__kn$i#$k").dataType,
              pl.df(propCol(v, k)), pl.df.schema(propCol(v, k)).dataType)
          else col(s"__kn$i#$k").isNull } } ++
        relKeys.zipWithIndex.flatMap { case (ks, i) => ks.map { case (k, _) =>
          val v = relVars(i)
          if (pl.df.schema.fieldNames.contains(propCol(v, k)))
            nullSafeKeyEq(col(s"__kr$i#$k"), keyed.schema(s"__kr$i#$k").dataType,
              pl.df(propCol(v, k)), pl.df.schema(propCol(v, k)).dataType)
          else col(s"__kr$i#$k").isNull } }
      val extra = propConds.foldLeft(lit(true))(_ && _)
      joinOnSharedVars(keyed, scope0.bindings, pl.df, pl.bindings, joinType, Some(extra))
    }

    val markerIdCol = idCol(relVars.head)
    val (probe1, probeBindings) = probe("left_outer")
    val probed = collectedProbe(probe1)
    val (missing, nMissing) = withRowNumCount(distinctCanon(probed.filter(col(markerIdCol).isNull)
      .select(lit(1).as("__one") +: keyCols.map(qcol): _*)), "__rn")
    val firstRelLabel = rels.head.types.head
    val firstRelBase = st.edgeMaxEntry(firstRelLabel)

    if (nMissing > 0) {
      // one whole-pattern instance per distinct key combination; labels
      // shared by several pattern elements get disjoint id ranges
      var created = missing
      var vBase = Map.empty[String, Long] // label -> next unallocated base
      // a node variable repeated within the pattern is ONE entity
      // (reference: MERGE p=()-[:B]->(x:C)-[:E]->(x:C)… creates a
      // single x, cypher_merge.out:921) — later positions reuse the
      // first position's allocation
      var varFirstPos = Map.empty[String, Int]
      val nodeAlloc = nodes.indices.flatMap { i =>
        if (boundN(i)) None else {
          val nv = nodeVars(i)
          varFirstPos.get(nv) match {
            case Some(j) if nodes(i).variable.isDefined =>
              created = created.withColumn(s"__idn$i", col(s"__idn$j"))
              None
            case _ =>
              if (nodes(i).variable.isDefined) varFirstPos += nv -> i
              val l = labelOf(nodes(i))
              val base = vBase.getOrElse(l, st.vertexMaxEntry(l))
              vBase += l -> (base + nMissing)
              created = created.withColumn(s"__idn$i",
                gid(st.vertexLabelId(l), lit(base) + col("__rn")))
              Some((i, l, base))
          }
        }
      }
      var eBase = Map.empty[String, Long]
      val relAlloc = rels.indices.map { i =>
        val l = rels(i).types.head
        val base = eBase.getOrElse(l, st.edgeMaxEntry(l))
        eBase += l -> (base + nMissing)
        created = created.withColumn(s"__idr$i",
          gid(st.edgeLabelId(l), lit(base) + col("__rn")))
        (i, l, base)
      }
      for ((i, l, base) <- nodeAlloc)
        st.appendVertices(l, created.select(col(s"__idn$i").as("id") +:
          nodeKeys(i).map(k => qcol(s"__kn$i#${k._1}").as(graft.graph.PropName.enc(k._1))): _*), base + nMissing)
      def nodeIdExpr(i: Int): Column =
        if (boundN(i)) qcol(idCol(nodeVars(i))) else col(s"__idn$i")
      for ((i, l, base) <- relAlloc) {
        val (sC, tC) = rels(i).direction match {
          case DirIn => (nodeIdExpr(i + 1), nodeIdExpr(i))
          case _ => (nodeIdExpr(i), nodeIdExpr(i + 1))
        }
        st.appendEdges(l, created.select(
          Seq(col(s"__idr$i").as("id"), sC.as("start_id"), tC.as("end_id")) ++
            relKeys(i).map(k => qcol(s"__kr$i#${k._1}").as(graft.graph.PropName.enc(k._1))): _*), base + nMissing)
      }
    }

    // re-probe against the post-write snapshot: every row now matches
    // (creating rows bind exactly their created instance - same keys);
    // with nothing created every row matched the first probe already
    val createdLo = gid(st.edgeLabelId(firstRelLabel), lit(firstRelBase + 1))
    val (probe2, outBindings) = if (nMissing > 0) probe("inner") else (probed, probeBindings)
    val out = probe2
      .withColumn("__created#m",
        if (nMissing > 0) qcol(markerIdCol) >= createdLo else lit(false))
      .drop(keyCols.filter(_.startsWith("__k")): _*)
    var scope = scope0.rebind(out, outBindings)
    scope = applyOnSetAll(scope, m.onCreate, col("__created#m"))
    scope = applyOnSetAll(scope, m.onMatch, !col("__created#m"))
    scope.withDf(scope.df.drop("__created#m"))
  }
  /** A MERGE probe (the input rows left-joined with their matches),
    * collected once when the store's delta can hold it: the missing keys,
    * and the result rows when none are missing, then derive from the
    * collected rows without another job. */
  private def collectedProbe(probe: DataFrame): DataFrame = st.localBatch(probe).getOrElse(probe)

  /** [[collectedProbe]] of `left` left-outer-joined with `right` on
    * `cond`. When `left` is driver-held already (keys computed over the
    * unit scope), the matches are collected through an inner join, which
    * broadcasts `left` from the driver, and the unmatched input rows are
    * added on the driver: a left outer join must broadcast `right`,
    * which costs a job of its own. */
  private def collectedProbe(left: DataFrame, right: DataFrame, cond: Column): DataFrame = {
    val outer = left.join(right, cond, "left_outer")
    val local =
      if (DfUtils.driverHeld(left).isDefined)
        st.localBatch(left).flatMap { l =>
          val (in, _) = DfUtils.withRowNumCount(l, "__in", st.batchThreshold)
          st.localBatch(in.join(right, cond, "inner")).map { hits =>
            val hit = DfUtils.localRows(hits.select("__in")).map(_.getLong(0)).toSet
            val at = in.schema.fieldIndex("__in")
            val missed = FrameBridge.localFrame(spark, in.schema,
              DfUtils.localRows(in).filterNot(r => hit(r.getLong(at))))
              .select(in.columns.map(qcol).toSeq ++
                right.schema.fields.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
            FrameBridge.localFrame(spark, FrameBridge.nullable(hits.schema),
              DfUtils.localRows(hits) ++ DfUtils.localRows(missed)).drop("__in")
          }
        }
      else st.localBatch(outer)
    local.getOrElse(outer)
  }

  /** Route ON CREATE / ON MATCH items to their target variables. */
  private def applyOnSetAll(scope0: Scope, items: Seq[SetItem], cond: Column): Scope = {
    var cur = scope0
    for ((v, its) <- items.groupBy {
      case SetItem(Prop(Var(v), _), _, _) => v
      case other => throw new UnsupportedOperationException(
        s"unsupported ON CREATE/ON MATCH SET item: $other")
    }.toSeq.sortBy(_._1)) cur = applyOnSet(cur, v, its, cond)
    cur
  }

  private def mergeNode(scope0: Scope, n: NodePattern, m: MergeClause): Scope = {
    val v = n.variable.getOrElse(fresh())
    require(!scope0.has(v), s"MERGE variable $v already bound")
    require(n.labels.size <= 1, "MERGE supports at most one label")
    val label = n.labels.headOption.getOrElse("_ag_label_vertex")
    val labelId = st.vertexLabelId(label)
    val propEntries = n.props.map(_.entries).getOrElse(Nil)
    val keyNames = propEntries.map(_._1)

    // evaluate key expressions once per input row
    var keyed = scope0.df
    for ((k, e) <- propEntries)
      keyed = keyed.withColumn(s"__key#$k", exprc.compile(e, scope0))

    def existing(): DataFrame = {
      val (df, _, _) = scanNode(NodePattern(Some(v), n.labels, None), v)
      df
    }
    def matchCond(right: DataFrame): Column =
      keyNames.map { k =>
        // a label created in this statement may not have the prop column yet
        if (right.schema.fieldNames.contains(propCol(v, k)))
          nullSafeKeyEq(col(s"__key#$k"), keyed.schema(s"__key#$k").dataType,
            right(propCol(v, k)), right.schema(propCol(v, k)).dataType)
        else col(s"__key#$k").isNull
      }.foldLeft(lit(true))(_ && _)

    // find missing key combinations and create them
    val ex1 = existing()
    val probe = collectedProbe(keyed, ex1, matchCond(ex1))
    val (missingKeys, nMissing) = withRowNumCount(distinctCanon(probe.filter(col(idCol(v)).isNull)
      .select(keyNames.map(k => col(s"__key#$k")): _*)), "__rn")
    if (nMissing > 0) {
      val base = st.vertexMaxEntry(label)
      val created = missingKeys
        .withColumn("id", gid(labelId, lit(base) + col("__rn"))).drop("__rn")
      st.appendVertices(label,
        created.select(col("id") +: keyNames.map(k => col(s"__key#$k").as(graft.graph.PropName.enc(k))): _*),
        base + nMissing)
    }

    // re-probe against the post-write snapshot; every row now matches
    // (with nothing created, every row matched the first probe)
    val createdLo = gid(labelId, lit(st.vertexMaxEntry(label) - nMissing + 1))
    var out = (if (nMissing > 0) { val ex2 = existing(); keyed.join(ex2, matchCond(ex2), "inner") }
      else probe)
      .withColumn(s"__created#$v",
        if (nMissing > 0) col(idCol(v)) >= createdLo else lit(false))
      .drop(keyNames.map(k => s"__key#$k"): _*)
    var scope = scope0.rebind(out, scope0.bindings :+
      NodeB(v, graph.vertexLabel(label).propColumns.map(f => graft.graph.PropName.dec(f.name))))
    scope = applyOnSet(scope, v, m.onCreate, col(s"__created#$v"))
    scope = applyOnSet(scope, v, m.onMatch, !col(s"__created#$v"))
    scope.withDf(scope.df.drop(s"__created#$v"))
  }

  private def mergeEdge(
      scope0: Scope, aVar: String, rel: RelPattern, bVar: String, m: MergeClause): Scope = {
    val ev = rel.variable.getOrElse(fresh())
    require(rel.types.size == 1, "MERGE edge requires exactly one type")
    val label = rel.types.head
    val labelId = st.edgeLabelId(label)
    val (sVar, eVar) = rel.direction match {
      case DirIn => (bVar, aVar)
      case _ => (aVar, bVar)
    }
    val propEntries = rel.props.map(_.entries).getOrElse(Nil)
    val keyNames = propEntries.map(_._1)
    var keyed = scope0.df
    for ((k, e) <- propEntries)
      keyed = keyed.withColumn(s"__key#$k", exprc.compile(e, scope0))

    def existing(): DataFrame = {
      val (df, _, _) = scanEdge(RelPattern(Some(ev), rel.types, None, DirOut, None), ev)
      df
    }
    def matchCond(right: DataFrame): Column = {
      val fwd = col(idCol(sVar)) === right(startCol(ev)) &&
        col(idCol(eVar)) === right(endCol(ev))
      // undirected: an existing edge in EITHER orientation matches
      // (creation below stays left-to-right like the reference)
      val orient =
        if (rel.direction == DirBoth)
          fwd || (col(idCol(sVar)) === right(endCol(ev)) &&
            col(idCol(eVar)) === right(startCol(ev)))
        else fwd
      (Seq(orient) ++
        keyNames.map { k =>
          if (right.schema.fieldNames.contains(propCol(ev, k)))
            nullSafeKeyEq(col(s"__key#$k"), keyed.schema(s"__key#$k").dataType,
              right(propCol(ev, k)), right.schema(propCol(ev, k)).dataType)
          else col(s"__key#$k").isNull
        }).reduce(_ && _)
    }

    val ex1 = existing()
    val probe = collectedProbe(keyed, ex1, matchCond(ex1))
    val (missing, nMissing) = withRowNumCount(distinctCanon(probe.filter(col(idCol(ev)).isNull)
      .select(col(idCol(sVar)).as("start_id") +: col(idCol(eVar)).as("end_id") +:
        keyNames.map(k => col(s"__key#$k")): _*)), "__rn")
    if (nMissing > 0) {
      val base = st.edgeMaxEntry(label)
      val created = missing
        .withColumn("id", gid(labelId, lit(base) + col("__rn"))).drop("__rn")
      st.appendEdges(label,
        created.select(Seq(col("id"), col("start_id"), col("end_id")) ++
          keyNames.map(k => col(s"__key#$k").as(graft.graph.PropName.enc(k))): _*),
        base + nMissing)
    }
    val createdLo = gid(labelId, lit(st.edgeMaxEntry(label) - nMissing + 1))
    val out = (if (nMissing > 0) { val ex2 = existing(); keyed.join(ex2, matchCond(ex2), "inner") }
      else probe)
      .withColumn(s"__created#$ev",
        if (nMissing > 0) col(idCol(ev)) >= createdLo else lit(false))
      .drop(keyNames.map(k => s"__key#$k"): _*)
    var scope = scope0.rebind(out, scope0.bindings :+
      EdgeB(ev, graph.edgeLabel(label).propColumns.map(_.name)))
    scope = applyOnSet(scope, ev, m.onCreate, col(s"__created#$ev"))
    scope = applyOnSet(scope, ev, m.onMatch, !col(s"__created#$ev"))
    scope.withDf(scope.df.drop(s"__created#$ev"))
  }

  /** Apply ON CREATE / ON MATCH SET items to the subset of rows where
    * `cond` holds. Like planSet, the items batch into ONE multi-property
    * store write per variable (setVertexProperties /
    * setEdgeProperties) — one patch per touched label regardless of how
    * many properties the clause sets, and unique constraints validate
    * the END-OF-STATEMENT state (reference: cypher_merge.c applies the
    * whole ON-SET list to the tuple before the heap update fires
    * constraints once). Value expressions still evaluate sequentially
    * against the scope, so `ON CREATE SET n.a = 1, n.b = n.a` sees the
    * new `a`. */
  private def applyOnSet(scope0: Scope, v: String, items: Seq[SetItem], cond: Column): Scope = {
    if (items.isEmpty) return scope0
    var cur = scope0
    var keys = Vector.empty[String]
    for (item <- items) item match {
      case SetItem(Prop(Var(`v`), k), valueE, "=") =>
        val valC = exprc.compile(valueE, cur)
        val existing0 =
          if (cur.df.schema.fieldNames.contains(propCol(v, k))) qcol(propCol(v, k))
          else lit(null)
        keys = keys.filterNot(_ == k) :+ k
        cur = Scope(
          cur.df.withColumn(propCol(v, k), when(cond, valC).otherwise(existing0)),
          cur.bindings.map {
            case NodeB(n, props) if n == v => NodeB(n, (props :+ k).distinct)
            case EdgeB(n, props) if n == v => EdgeB(n, (props :+ k).distinct)
            case x => x
          }, cur.rewritten + v)
      case other => throw new UnsupportedOperationException(
        s"unsupported ON CREATE/ON MATCH SET item: $other")
    }
    // one store write for every key, restricted to the created/matched
    // rows; value columns ride positionally under synthetic names (raw
    // keys may contain chars col() would misparse)
    val isNode = cur.get(v).exists(_.isInstanceOf[NodeB])
    val updates = cur.df.filter(cond)
      .select(col(idCol(v)).as("id") +: keys.zipWithIndex.map {
        case (k, i) => qcol(propCol(v, k)).as(s"__v$i")
      }: _*)
    if (isNode) st.setVertexProperties(keys, updates)
    else st.setEdgeProperties(keys, updates)
    cur
  }

  private def containsVariant(dt: DataType): Boolean = dt match {
    case d if AgVariant.isVariant(d) => true
    case ArrayType(et, _) => containsVariant(et)
    case MapType(_, vt, _) => containsVariant(vt)
    case _ => false
  }

  private def qcol(n: String): Column =
    if (n.exists(c => c == '.' || c == '`')) col(s"`${n.replace("`", "``")}`") else col(n)

  private def evalIntLit(e: Expr): Int = evalLit(e) match {
    case AgInt(i) => i.toInt
    case other => throw new IllegalArgumentException(s"expected integer, got $other")
  }
}

/** Public facade: parse + plan a Cypher query against a graph —
  * the analogue of `cypher(graph, $$...$$)` (reference:
  * sql/age_query.sql:49-54).
  */
object Planner {
  /** The id-array column a nodes()/relationships() call reads, whether it
    * holds edges, and the edge labels it can hold. */
  private[cypher] final case class IdArray(ids: String, isEdge: Boolean, relTypes: Set[String])

  /** Hard cap on the distinct-key probe behind `SET n = <runtime map>`.
    * Each key becomes a typed property column, so key cardinality IS
    * schema width — a pathological map (e.g. user-id-keyed) must fail
    * fast with a clear error instead of collecting an unbounded key set
    * to the driver and then planning a million-column frame. */
  val MaxRuntimeMapKeys = 10000

  /** Distinct keys of a runtime map column, driver-collected (bounded:
    * keys, not rows) with the cardinality guard above. */
  private[cypher] def runtimeMapKeys(
      df: DataFrame, keysArr: Column, cap: Int = MaxRuntimeMapKeys): Seq[String] = {
    val ks = df.select(explode(keysArr).as("__k")).distinct()
      .limit(cap + 1).collect().map(_.getString(0)).toSeq
    if (ks.size > cap) throw new IllegalArgumentException(
      s"SET from a runtime map with more than $cap distinct keys is not supported " +
        "(every key becomes a typed property column); restructure the data as a " +
        "single map-typed property instead")
    ks
  }
}

object Cypher {
  /** Read-only query against an immutable graph snapshot. */
  def query(
      spark: SparkSession,
      graph: PropertyGraph,
      cypher: String,
      params: Map[String, AgValue] = Map.empty): DataFrame = {
    val ast = Parser.parse(cypher)
    new Planner(spark, () => graph, params).plan(ast)
  }

  /** Read-write execution against a mutable graph store. Mutating
    * clauses apply eagerly; later clauses in the same query see earlier
    * writes. Returns the final RETURN rows (empty for terminal
    * updating clauses). */
  def execute(
      spark: SparkSession,
      store: graft.graph.MutableGraph,
      cypher: String,
      params: Map[String, AgValue] = Map.empty): DataFrame = {
    val ast = Parser.parse(cypher)
    new Planner(spark, () => store.snapshot, params, store = Some(store)).plan(ast)
  }
}
