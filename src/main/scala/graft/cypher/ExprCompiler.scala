package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Interop
import graft.types._
import Ast._

/** Compiles Cypher expression AST to Catalyst `Column`s — the analogue of
  * the reference's transform_cypher_expr
  * (reference: src/backend/parser/cypher_expr.c:122, function-name
  * resolution :2007-2260). Everything stays inside whole-stage codegen:
  * built-in `org.apache.spark.sql.functions` only, no UDFs.
  */
final class ExprCompiler(params: Map[String, AgValue]) {
  import Columns._

  val aggregateNames: Set[String] = Set(
    "count", "sum", "avg", "min", "max", "collect", "stdev", "stdevp",
    "percentilecont", "percentiledisc")

  def containsAggregate(e: Expr): Boolean = e match {
    case FuncCall(n, args, _) =>
      aggregateNames(n) || args.exists(containsAggregate)
    case _: CountStar => true
    case BinOp(_, l, r) => containsAggregate(l) || containsAggregate(r)
    case Neg(x) => containsAggregate(x)
    case Not(x) => containsAggregate(x)
    case IsNull(x, _) => containsAggregate(x)
    case StringPred(_, l, r) => containsAggregate(l) || containsAggregate(r)
    case Prop(t, _) => containsAggregate(t)
    case Index(t, i) => containsAggregate(t) || containsAggregate(i)
    case Slice(t, f, u) =>
      containsAggregate(t) || f.exists(containsAggregate) || u.exists(containsAggregate)
    case CaseExpr(op, whens, other) =>
      op.exists(containsAggregate) ||
        whens.exists { case (c, v) => containsAggregate(c) || containsAggregate(v) } ||
        other.exists(containsAggregate)
    case ListLit(items) => items.exists(containsAggregate)
    case MapLit(es) => es.exists { case (_, v) => containsAggregate(v) }
    case TypeCast(x, _) => containsAggregate(x)
    case _ => false
  }

  def agLit(v: AgValue): Column = v match {
    case AgNull => lit(null)
    case AgInt(i) => lit(i)
    case AgFloat(f) => lit(f)
    case AgNumeric(n) => lit(n.bigDecimal)
    case AgString(s) => lit(s)
    case AgBool(b) => lit(b)
    // homogeneous primitive arrays become ONE Literal node: a
    // CreateArray with N literal children makes every analyzer and
    // optimizer pass walk N expressions — a 15k-element parameter
    // (UNWIND $big_list) costs ~1s of driver time per statement in
    // tree walks alone, and parameters are unbounded at scale
    case AgArray(items) if items.nonEmpty && items.forall(_.isInstanceOf[AgString]) =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          items.map(_.asInstanceOf[AgString].v),
          ArrayType(StringType, containsNull = false)))
    case AgArray(items) if items.nonEmpty && items.forall(_.isInstanceOf[AgInt]) =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          items.map(_.asInstanceOf[AgInt].v),
          ArrayType(LongType, containsNull = false)))
    case AgArray(items) if items.nonEmpty && items.forall(_.isInstanceOf[AgFloat]) =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          items.map(_.asInstanceOf[AgFloat].v),
          ArrayType(DoubleType, containsNull = false)))
    case AgArray(items) => array(items.map(agLit): _*)
    case AgMap(m) =>
      map(m.toSeq.flatMap { case (k, x) => Seq(lit(k), agLit(x)) }: _*)
    case other => throw new IllegalArgumentException(s"cannot use ${other.typeName} as literal")
  }

  private def dtypeOf(scope: Scope, c: Column): Option[DataType] =
    try Some(scope.df.select(c).schema.head.dataType)
    catch { case _: Throwable => None }

  /** Element types for in-flight lambda variables (HOF bodies compile
    * eagerly, so stack discipline suffices). Lets `x.prop` inside
    * `all(x IN nodes(p) WHERE …)` route through the entity struct. */
  private var lambdaTypes: Map[String, DataType] = Map.empty
  private def withLambdaType[A](v: String, listType: Option[DataType])(f: => A): A = {
    val saved = lambdaTypes
    listType.foreach {
      case ArrayType(et, _) => lambdaTypes += v -> et
      case _ => ()
    }
    try f finally lambdaTypes = saved
  }

  /** Register exact lambda-variable types (e.g. a reduce accumulator —
    * its type is the initializer's, not an element type). */
  private def withLambdaRaw[A](m: Map[String, DataType])(f: => A): A = {
    val saved = lambdaTypes
    lambdaTypes ++= m
    try f finally lambdaTypes = saved
  }

  /** Compile with lambda variables bound (for HOF bodies). */
  def compile(e: Expr, scope: Scope, lambdas: Map[String, Column] = Map.empty): Column = e match {
    case Lit(v) => agLit(v)
    case Param(name) =>
      agLit(params.getOrElse(name, throw new IllegalArgumentException(s"missing parameter $$$name")))
    case Var(v) if lambdas.contains(v) => lambdas(v)
    case Var(v) =>
      scope.get(v) match {
        case Some(ValueB(n)) => col(n)
        // unmatched OPTIONAL entities are NULL values, not null structs
        case Some(b @ (_: NodeB | _: EdgeB)) => when(col(idCol(b.name)).isNotNull, entityStruct(b))
        case Some(VleB(n)) => col(idsCol(n))
        case Some(PathB(n, _)) => col(idsCol(n))
        case None => throw new IllegalArgumentException(s"unbound variable $v")
      }
    case Prop(Var(v), key) if lambdas.contains(v) =>
      val c = lambdas(v)
      lambdaTypes.get(v) match {
        case Some(st: StructType) if AgVariant.isVariant(st) =>
          variantAccess(c, lit(key))
        case Some(st: StructType) if st.fieldNames.contains("properties") =>
          propField(c, st, key)
        case Some(st: StructType) =>
          if (st.fieldNames.contains(key)) c.getField(key) else lit(null)
        case Some(_: MapType) => try_element_at(c, lit(key))
        case _ => c.getField(key) // defer to the analyzer
      }
    case Prop(Var(v), key) if !lambdas.contains(v) =>
      scope.get(v) match {
        case Some(NodeB(n, props)) =>
          if (props.contains(key)) col(propCol(n, key)) else lit(null)
        case Some(EdgeB(n, props)) =>
          if (props.contains(key)) col(propCol(n, key)) else lit(null)
        case Some(ValueB(n)) => dynamicAccess(scope, col(n), key)
        case _ => throw new IllegalArgumentException(s"unbound variable $v")
      }
    case Prop(target, key) =>
      dynamicAccess(scope, compile(target, scope, lambdas), key)
    case BinOp(op, l, r) => binOp(op, l, r, scope, lambdas)
    case Neg(x) => -compile(x, scope, lambdas)
    case Not(x) => !compile(x, scope, lambdas)
    case IsNull(x, negated) =>
      val c = compile(x, scope, lambdas)
      if (negated) c.isNotNull else c.isNull
    case StringPred(kind, l, r) =>
      val (lc0, rc0) = (compile(l, scope, lambdas), compile(r, scope, lambdas))
      // string predicates on a variant operand apply to its string slot
      // and are null for non-strings (reference: agtype.c:5094-5196
      // returns agtype-null on non-string input)
      def strOf(c: Column): Column = dtypeOf(scope, c) match {
        case Some(d) if AgVariant.isVariant(d) =>
          when(c.getField("tag") === AgVariant.TagString, c.getField("s"))
        case _ => c
      }
      val (lc, rc) = (strOf(lc0), strOf(rc0))
      // a statically non-string operand makes the predicate null, like
      // the reference (agtype.c:5094-5196 return agtype-null on
      // non-string input) — NOT Spark's cast-and-compare
      def nonString(c: Column): Boolean = dtypeOf(scope, c) match {
        case Some(StringType | NullType) => false
        case Some(d) if AgVariant.isVariant(d) => false
        case Some(_) => true
        case None => false
      }
      if (nonString(lc0) || nonString(rc0)) lit(null).cast(BooleanType)
      else kind match {
        case "startsWith" => lc.startsWith(rc)
        case "endsWith" => lc.endsWith(rc)
        case "contains" => lc.contains(rc)
        case "regex" => regexp_like(lc, rc)
      }
    case CountStar(_) => count(lit(1))
    case fc: FuncCall => funcCall(fc, scope, lambdas)
    case ListLit(items) =>
      // agtype lists are fully heterogeneous and recursive (reference:
      // AGTV_ARRAY, agtype.h:307-324). Same-typed elements stay a
      // native Spark array; mixed types encode each element as a
      // variant struct — scalars keep int/float fidelity via the i
      // slot, containers/entities serialize canonical agtype text into
      // the c slot — and the final RETURN renders agtype text.
      val cols = items.map(compile(_, scope, lambdas))
      val dts = cols.map(c => dtypeOf(scope, c).getOrElse(NullType))
      val distinctTs = dts.filterNot(_ == NullType).distinct
      val entitySts = distinctTs.collect {
        case st: StructType if graft.types.AgVariant.isEntityStruct(st) => st
      }
      if (distinctTs.size <= 1) array(cols: _*)
      else if (entitySts.size == distinctTs.size)
        // [n, r] across labels: widen every element to the union of
        // the property schemas (a vertex list is a heterogeneous
        // agtype array in the reference — AGTV_ARRAY of AGTV_VERTEX)
        unifiedEntityArray(cols.zip(dts.map(_.asInstanceOf[StructType])))
      else if (distinctTs.forall(graft.types.AgVariant.encodable))
        array(cols.zip(dts).map { case (c, dt) =>
          graft.types.AgVariant.encode(c, dt) }: _*)
      else array(cols: _*) // not agtype-encodable: let analysis error
    case MapLit(entries) if entries.isEmpty =>
      // {} — pin the value type so size()/keys()/isEmpty resolve
      typedlit(Map.empty[String, String])
    case MapLit(entries) =>
      // same rule for map values: {a: 1, b: 'x'} becomes
      // map<string, variant> (reference: AGTV_OBJECT is heterogeneous)
      val vals = entries.map { case (_, v) => compile(v, scope, lambdas) }
      val dts = vals.map(c => dtypeOf(scope, c).getOrElse(NullType))
      val distinctTs = dts.filterNot(_ == NullType).distinct
      if (distinctTs.size > 1 && !distinctTs.forall(graft.types.AgVariant.scalar))
        // container values mixed with other types can't share one map
        // value type OR a variant slot — keys are static literals, so a
        // struct keeps each value's own type ({a: 1, b: {c: 2}}.b.c
        // resolves through getField; reference: nested AGTV_OBJECT)
        struct(entries.map(_._1).zip(vals).map {
          case (k, v) => v.as(k) }: _*)
      else {
        val encoded =
          if (distinctTs.size <= 1) vals
          else vals.zip(dts).map { case (c, dt) => graft.types.AgVariant.encode(c, dt) }
        map(entries.map(_._1).zip(encoded).flatMap {
          case (k, v) => Seq(lit(k), v) }: _*)
      }
    case Index(t, i) =>
      val tc = compile(t, scope, lambdas)
      val ic = compile(i, scope, lambdas)
      dtypeOf(scope, tc) match {
        case Some(st: StructType) if graft.types.AgVariant.isVariant(st) =>
          variantAccess(tc, ic)
        case Some(_: MapType) => try_element_at(tc, ic)
        // struct-encoded map: a literal string key resolves statically
        case Some(st: StructType) => i match {
          case Lit(AgString(k)) =>
            if (st.fieldNames.contains(k)) tc.getField(k) else lit(null)
          case _ => throw new IllegalArgumentException("use .key on structs")
        }
        case _ =>
          // Cypher list index is 0-based, negative from end. get() is
          // 0-based with null out-of-bounds AND codegens — the TryEval-
          // wrapped element_at over a non-foldable array child fails
          // Janino compilation (silent interpreted fallback) in this
          // Spark build.
          listAt(tc, ic)
      }
    case Slice(t, fromE, toE) =>
      val tc = compile(t, scope, lambdas)
      dtypeOf(scope, tc) match {
        case Some(_: ArrayType) | Some(NullType) | None => ()
        case Some(d) if graft.types.AgVariant.isVariant(d) => ()
        case Some(_) =>
          // reference: "slice must access a list" (expr.out:503-507)
          throw new IllegalArgumentException("slice must access a list")
      }
      val n = size(tc)
      def norm(c: Column): Column = when(c < 0, c + n).otherwise(c)
      val lo = norm(fromE.map(compile(_, scope, lambdas)).getOrElse(lit(0)))
      val hi = norm(toE.map(compile(_, scope, lambdas)).getOrElse(n))
      slice(tc, lo + 1, greatest(hi - lo, lit(0)))
    case CaseExpr(operand, whens, otherwise) =>
      val branches = operand match {
        case Some(op) =>
          val opc = compile(op, scope, lambdas)
          whens.map { case (c, v) => (opc === compile(c, scope, lambdas), compile(v, scope, lambdas)) }
        case None =>
          whens.map { case (c, v) =>
            val cc = compile(c, scope, lambdas)
            // a null condition is "not true" (3-valued logic); a bare
            // null literal types as VOID and needs the boolean cast
            val ccB = dtypeOf(scope, cc) match {
              case Some(NullType) => lit(null).cast(BooleanType)
              case _ => cc
            }
            (ccB, compile(v, scope, lambdas))
          }
      }
      // agtype CASE arms may disagree on type ('x' vs [1] vs {a: 1}) —
      // harmonize mixed arms through the variant encoding like a
      // heterogeneous list element (reference: CASE yields agtype,
      // cypher_expr.c transform_cypher_case)
      val otherC = otherwise.map(o => compile(o, scope, lambdas))
      val armCols = branches.map(_._2) ++ otherC
      val armDts = armCols.map(c => dtypeOf(scope, c).getOrElse(NullType))
      val distinctArmTs = armDts.filterNot(_ == NullType).distinct
      val conv: (Column, DataType) => Column =
        if (distinctArmTs.size > 1 &&
            distinctArmTs.forall(graft.types.AgVariant.encodable))
          (c, dt) => graft.types.AgVariant.encode(c, dt)
        else (c, _) => c
      val armed = branches.map(_._1).zip(armCols.zip(armDts).map {
        case (c, dt) => conv(c, dt) })
      val start = when(armed.head._1, armed.head._2)
      val chained = armed.tail.foldLeft(start) { case (acc, (c, v)) => acc.when(c, v) }
      otherC match {
        case Some(o) => chained.otherwise(conv(o, armDts.last))
        case None => chained
      }
    case ListComprehension(v, listE, whereE, projE) =>
      val listC = compile(listE, scope, lambdas)
      // literal-null list: the comprehension is null (agtype semantics,
      // same family as reduce over null — age_reduce.sql:86); an
      // untyped NULL would not even resolve against transform/filter
      if (dtypeOf(scope, listC).contains(NullType)) lit(null)
      else
      withLambdaType(v, dtypeOf(scope, listC)) {
        val filtered = whereE match {
          case Some(w) => filter(listC, x => compile(w, scope, lambdas + (v -> x)))
          case None => listC
        }
        projE match {
          case Some(p) => transform(filtered, x => compile(p, scope, lambdas + (v -> x)))
          case None => filtered
        }
      }
    case PredicateFn(kind, v, listE, whereE) =>
      val listDt = dtypeOf(scope, compile(listE, scope, lambdas))
      // literal-null list input: all four return null (reference:
      // predicate_functions.sql:103-120); an untyped NULL would not
      // even resolve against forall/exists
      if (listDt.contains(NullType)) lit(null).cast(BooleanType)
      else {
      val listC = compile(listE, scope, lambdas)
      withLambdaType(v, listDt) {
        def pred(x: Column) = compile(whereE, scope, lambdas + (v -> x))
        kind match {
          case "all" => forall(listC, pred)
          case "any" => exists(listC, pred)
          case "none" => !exists(listC, pred)
          case "single" =>
            // 3-valued: two definite trues dominate (false); otherwise
            // any null predicate means the answer is unknown (null); only
            // a clean count decides (reference: predicate_functions.sql:
            // 157-190 — single([null,5]) is null, single([null,5,6]) is
            // false, single([null,null]) is null)
            val t = size(filter(listC, x => coalesce(pred(x), lit(false))))
            val n = size(filter(listC, x => pred(x).isNull))
            when(t >= 2, lit(false))
              .when(n > 0, lit(null).cast(BooleanType))
              .otherwise(t === 1)
        }
      }
      }
    case Reduce(acc, initE, v, listE, bodyE) =>
      val listC = compile(listE, scope, lambdas)
      val initC = compile(initE, scope, lambdas)
      // NULL list returns NULL regardless of the seed (reference:
      // age_reduce.sql:86 `reduce(s = 0, x IN null | s + x)` → null)
      if (dtypeOf(scope, listC).contains(NullType)) lit(null)
      else {
      // register the accumulator's static type too, so operators inside
      // the fold body dispatch on it (string accumulator + string
      // element concatenates instead of failing numeric addition)
      val accT = dtypeOf(scope, initC)
      withLambdaType(v, dtypeOf(scope, listC)) {
        withLambdaRaw(accT.map(acc -> _).toMap) {
          aggregate(listC, initC,
            (a, x) => compile(bodyE, scope, lambdas + (acc -> a, v -> x)))
        }
      }
      }
    case TypeCast(x, tpe) =>
      val c0 = compile(x, scope, lambdas)
      val srcDt = dtypeOf(scope, c0)
      // a variant input dispatches per-slot: the value's own class
      // decides the cast path, like the reference's per-value typecasts
      val isVar = srcDt.exists(graft.types.AgVariant.isVariant)
      def varSlot(slot: String): Column = c0.getField(slot)
      tpe.toLowerCase match {
        case "int" | "integer" =>
          // float input rounds half-to-even like the reference's dtoi8
          // (agtype_typecast_int, agtype.c:5518-5521); other inputs cast
          // strictly (string via int8in is a strict integer parse)
          srcDt match {
            case Some(DoubleType | FloatType) => bround(c0).cast(LongType)
            // numeric input rounds half away from zero (numeric_int8)
            case Some(_: DecimalType) => round(c0, 0).cast(LongType)
            case _ if isVar =>
              coalesce(varSlot("i"),
                when(varSlot("n").isNotNull, round(varSlot("n"), 0).cast(LongType)),
                when(varSlot("f").isNotNull, bround(varSlot("f")).cast(LongType)),
                varSlot("s").cast(LongType))
            case _ => c0.cast(LongType)
          }
        case "float" =>
          if (isVar) coalesce(varSlot("f"), varSlot("s").cast(DoubleType))
          else c0.cast(DoubleType)
        case "numeric" =>
          if (isVar) coalesce(varSlot("n"),
            varSlot("i").cast(DecimalType(38, 18)),
            varSlot("f").cast(DecimalType(38, 18)),
            varSlot("s").cast(DecimalType(38, 18)))
          else c0.cast(DecimalType(38, 18))
        case "string" | "pg_text" =>
          // numeric input renders numeric_out-style ('2.5', natural
          // scale, no '::numeric' annotation — the annotation is
          // agtype_out-only, reference string conversion)
          if (isVar) graft.types.AgVariant.castText(c0)
          else srcDt match {
            case Some(_: DecimalType) => graft.types.AgVariant.decText(c0)
            case _ => c0.cast(StringType)
          }
        case "bool" | "boolean" =>
          if (isVar) coalesce(varSlot("b"), varSlot("s").cast(BooleanType))
          else c0.cast(BooleanType)
        // pgvector ::vector — '[1,2,3]' strings or numeric lists become
        // array<double> (reference: regress/sql/pgvector.sql casts)
        case "vector" => Interop.asVector(c0, srcDt)
        // ::halfvec quantizes each element through IEEE binary16 exactly
        // like pgvector's half storage (pgvector.out: [1.22,2.22,3.33]
        // ::halfvec = [1.2197266,...]); values are then held widened as
        // float64 (documented deviation: dense float64 carrier, no
        // 2-byte storage)
        case "halfvec" =>
          graft.functions.VectorExpressions.halfQuantize(Interop.asVector(c0, srcDt))
        // ::sparsevec keeps dense array<double> values (documented
        // deviation: the {i:v}/n sparse carrier is a storage format, not
        // a value change — pgvector.out sparsevec rows hold the same
        // elements)
        case "sparsevec" => Interop.asVector(c0, srcDt)
        // PG-typed casts the reference grammar admits (float8in accepts
        // the NaN/inf spellings case-insensitively; regress expr.sql
        // ::pg_float8 corpus)
        case "pg_float8" =>
          val base = if (isVar) coalesce(varSlot("f"), varSlot("s")) else c0
          srcDt match {
            case Some(StringType) | None if !isVar => float8in(base)
            case _ if isVar => float8in(base.cast(StringType))
            case _ => base.cast(DoubleType)
          }
        case "pg_bigint" | "pg_int8" =>
          if (isVar) coalesce(varSlot("i"), varSlot("s").cast(LongType))
          else c0.cast(LongType)
        // entity typecasts (reference: agtype_typecast_vertex/edge/path,
        // agtype.c:5694/5774/5867; regress/sql/agtype_typecast.sql):
        // an object with the entity's shape becomes the entity — our
        // encoding re-structs the fields into the canonical entity
        // layout, so id()/label()/properties() and entity printing work
        // on the result.
        case "vertex" => srcDt match {
          case Some(NullType) => lit(null)
          case Some(st: StructType)
              if Seq("id", "label", "properties").forall(st.fieldNames.contains) =>
            when(c0.isNull, lit(null)).otherwise(struct(
              c0.getField("id").cast(LongType).as("id"),
              c0.getField("label").cast(StringType).as("label"),
              c0.getField("properties").as("properties")))
          case _ => throw new IllegalArgumentException(
            "vertex typecast requires an object with id, label and properties")
        }
        case "edge" => srcDt match {
          case Some(NullType) => lit(null)
          case Some(st: StructType)
              if Seq("id", "label", "start_id", "end_id", "properties")
                .forall(st.fieldNames.contains) =>
            when(c0.isNull, lit(null)).otherwise(struct(
              c0.getField("id").cast(LongType).as("id"),
              c0.getField("label").cast(StringType).as("label"),
              c0.getField("start_id").cast(LongType).as("start_id"),
              c0.getField("end_id").cast(LongType).as("end_id"),
              c0.getField("properties").as("properties")))
          case _ => throw new IllegalArgumentException(
            "edge typecast requires an object with id, label, start_id, end_id and properties")
        }
        case "path" => srcDt match {
          case Some(NullType) => lit(null)
          // an alternating [v, e, v, ...] array becomes this engine's
          // path form: (nodes, relationships) id arrays
          case Some(ArrayType(st: StructType, _))
              if graft.types.AgVariant.isEntityStruct(st) =>
            val isEdge: Column => Column =
              if (st.fieldNames.contains("start_id"))
                x => x.getField("start_id").isNotNull
              else _ => lit(false)
            when(c0.isNull, lit(null)).otherwise(struct(
              transform(filter(c0, x => !isEdge(x)), _.getField("id"))
                .as("nodes"),
              transform(filter(c0, x => isEdge(x)), _.getField("id"))
                .as("relationships")))
          case _ => throw new IllegalArgumentException(
            "path typecast requires an array of vertices and edges")
        }
        case other => throw new IllegalArgumentException(s"unsupported cast ::$other")
      }
    case MapProjection(targetE, items) =>
      // plain-map target (incl. null): result is map<string, variant> —
      // `.*` copies the map's entries minus statically named keys
      // (explicit entries win regardless of position), a null map
      // projects to the empty object (reference: map_projection.out)
      val targetDtEarly = targetE match {
        case Var(v) if !lambdas.contains(v) && scope.get(v).exists(_.isInstanceOf[ValueB]) =>
          dtypeOf(scope, compile(targetE, scope, lambdas))
        case _: MapLit => dtypeOf(scope, compile(targetE, scope, lambdas))
        case _ => None
      }
      targetDtEarly match {
        case Some(mt: MapType) =>
          return mapProjectionOverMap(compile(targetE, scope, lambdas),
            mt.valueType, items, scope, lambdas)
        case Some(NullType) =>
          return emptyVariantMap
        case _ => ()
      }
      // entity target: keys are static so the result is a
      // heterogeneous-friendly struct (documented deviation: agtype
      // objects are maps; our columns are natively typed, so
      // named-struct is the faithful encoding)
      val entityProps: Option[(String, Seq[String])] = targetE match {
        case Var(v) if !lambdas.contains(v) => scope.get(v) match {
          case Some(NodeB(n, props)) => Some((n, props))
          case Some(EdgeB(n, props)) => Some((n, props))
          case _ => None
        }
        case _ => None
      }
      def propValue(key: String): Column = entityProps match {
        case Some((n, props)) =>
          if (props.contains(key)) col(propCol(n, key)) else lit(null)
        case None => dynamicAccess(scope, compile(targetE, scope, lambdas), key)
      }
      var entries = Vector.empty[(String, Column)]
      def put(k: String, c: Column): Unit =
        entries = entries.filterNot(_._1 == k) :+ (k -> c)
      items.foreach {
        case ProjAll => entityProps match {
          case Some((n, props)) => props.foreach(p => put(p, col(propCol(n, p))))
          case None => throw new IllegalArgumentException(
            ".* projection requires an entity variable")
        }
        case ProjProp(k) => put(k, propValue(k))
        case ProjVar(x) => put(x, compile(Var(x), scope, lambdas))
        case ProjKeyVal(k, e2) => put(k, compile(e2, scope, lambdas))
      }
      if (entries.isEmpty) struct(lit(true).as("__empty"))
      else struct(entries.map { case (k, c) => c.as(k) }: _*)
    case ExistsPattern(_) =>
      throw new IllegalArgumentException(
        "EXISTS pattern is only supported as a top-level WHERE conjunct")
    case _: ExistsSubquery | _: CountSubquery =>
      throw new IllegalStateException(
        "subquery expression not materialized by the planner")
  }

  private val variantEntryType: DataType = StructType(Seq(
    StructField("key", StringType), StructField("value", AgVariant.schema)))

  private def emptyVariantMap: Column =
    map_from_entries(array().cast(ArrayType(variantEntryType)))

  /** agtype object key order: length first, then lexicographic
    * (reference: deterministic key sort, agtype.h:326-347). */
  private def entryCmp(l: Column, r: Column): Column = {
    val (lk, rk) = (l.getField("key"), r.getField("key"))
    when(length(lk) < length(rk), -1).when(length(lk) > length(rk), 1)
      .when(lk < rk, -1).when(lk > rk, 1).otherwise(0)
  }

  /** Map projection over a plain (non-entity) map column. */
  private def mapProjectionOverMap(m: Column, valT: DataType,
      items: Seq[MapProjItem], scope: Scope,
      lambdas: Map[String, Column]): Column = {
    def encVal(c: Column, dt: DataType): Column =
      if (AgVariant.isVariant(dt)) c else AgVariant.encode(c, dt)
    val mVal: Column => Column = c => encVal(c, valT)
    var explicitE = Vector.empty[(String, Column)]
    var hasAll = false
    def put(k: String, c: Column): Unit =
      explicitE = explicitE.filterNot(_._1 == k) :+ (k -> c)
    items.foreach {
      case ProjAll => hasAll = true
      case ProjProp(k) => put(k, mVal(try_element_at(m, lit(k))))
      case ProjVar(x) =>
        val c = compile(Var(x), scope, lambdas)
        put(x, encVal(c, dtypeOf(scope, c).getOrElse(StringType)))
      case ProjKeyVal(k, e2) =>
        val c = compile(e2, scope, lambdas)
        put(k, encVal(c, dtypeOf(scope, c).getOrElse(StringType)))
    }
    val explicitArr =
      if (explicitE.isEmpty) array().cast(ArrayType(variantEntryType))
      else array(explicitE.map { case (k, c) =>
        struct(lit(k).as("key"), c.as("value")) }: _*)
    val dynamicArr =
      if (!hasAll) array().cast(ArrayType(variantEntryType))
      else {
        val ents = transform(map_entries(m), e =>
          struct(e.getField("key").as("key"), mVal(e.getField("value")).as("value")))
        if (explicitE.isEmpty) ents
        else filter(ents, e => !e.getField("key").isin(explicitE.map(_._1): _*))
      }
    val sorted = array_sort(concat(dynamicArr, explicitArr), entryCmp)
    when(m.isNull, emptyVariantMap).otherwise(map_from_entries(sorted))
  }

  /** `.key` on a dynamically typed column (map/struct/variant). When the
    * type is unknown (e.g. a lambda variable), defer to the analyzer's
    * extract-value resolution, which handles structs and maps alike;
    * entity structs route through their properties field. */
  /** 0-based list element access, negative from the end, null out of
    * bounds — via get() (codegen-clean, unlike try_element_at on
    * arrays). */
  private def listAt(arr: Column, idx0: Column): Column = {
    val idx = when(idx0 >= 0, idx0).otherwise(size(arr) + idx0).cast(IntegerType)
    get(arr, idx)
  }

  /** `.key` routed through an entity struct's properties container —
    * struct-typed (per-label) or map-typed (a `::vertex`/`::edge` cast
    * built from a map literal). */
  private def propField(c: Column, st: StructType, key: String): Column =
    st("properties").dataType match {
      case pt: StructType =>
        if (pt.fieldNames.contains(key)) c.getField("properties").getField(key)
        else lit(null)
      case _: MapType => try_element_at(c.getField("properties"), lit(key))
      case _ => lit(null)
    }

  /** Member access into a variant value: container/entity tags decode
    * their canonical text through the native AgTextGet expression (the
    * AGTV recursion's access operator); scalar tags yield null. */
  private def variantAccess(c: Column, key: Column): Column =
    when(c.getField("tag") < lit(AgVariant.TagString),
      graft.functions.AgTextGet.get(c.getField("c"), key))

  private def dynamicAccess(scope: Scope, c: Column, key: String): Column =
    dtypeOf(scope, c) match {
      case Some(st: StructType) if AgVariant.isVariant(st) =>
        variantAccess(c, lit(key))
      case Some(_: MapType) => try_element_at(c, lit(key))
      case Some(st: StructType) if st.fieldNames.contains("properties") =>
        propField(c, st, key)
      case Some(st: StructType) =>
        if (st.fieldNames.contains(key)) c.getField(key) else lit(null)
      case Some(VariantType) => try_variant_get(c, s"$$.$key", "string")
      case None => c.getField(key)
      case _ => try_element_at(c, lit(key))
    }

  private def binOp(op: String, l: Expr, r: Expr, scope: Scope, lambdas: Map[String, Column]): Column = {
    val lc = compile(l, scope, lambdas)
    val rc = compile(r, scope, lambdas)
    // lambda-bound variables (HOF element / reduce accumulator) don't
    // resolve against scope.df — fall back to their registered static
    // type so ops like string + string dispatch correctly inside lambdas
    def dt(c: Column) = dtypeOf(scope, c)
    def dtE(e: Expr, c: Column): Option[DataType] =
      dtypeOf(scope, c).orElse(e match {
        case Var(v) => lambdaTypes.get(v)
        case _ => None
      })
    val (lSdt, rSdt) = (dtE(l, lc), dtE(r, rc))
    // Mixed-type (variant) operand: encode the other side and dispatch
    // per-value — comparisons are 3-valued across types, arithmetic
    // follows agtype dispatch (reference: agtype_ops.c:145-1290).
    def asVariant(c: Column, d: Option[DataType]): Option[Column] = d match {
      case Some(x) if AgVariant.isVariant(x) => Some(c)
      case Some(x) if AgVariant.encodable(x) => Some(AgVariant.encode(c, x))
      case _ => None
    }
    val (ldt, rdt) = (dt(lc), dt(rc))
    // comparisons where either side is a container HOLDING variant
    // elements (heterogeneous list/map) go through the container-slot
    // compare: encode both sides to canonical agtype text and compare
    // element-wise — [2, 'a'] = [2.0, 'a'] is value-equality like the
    // reference's container compare, not struct-slot equality.
    // Arithmetic stays native (list concat needs the typed arrays).
    def deepVar(d: DataType): Boolean = d match {
      case x if AgVariant.isVariant(x) => true
      case ArrayType(et, _) => deepVar(et)
      case MapType(_, vt, _) => deepVar(vt)
      case _ => false
    }
    if (Set("=", "<>", "<", "<=", ">", ">=")(op) &&
        (ldt.exists(d => deepVar(d) && !AgVariant.isVariant(d)) ||
         rdt.exists(d => deepVar(d) && !AgVariant.isVariant(d)))) {
      (asVariant(lc, ldt), asVariant(rc, rdt)) match {
        case (Some(lv), Some(rv)) => return AgVariant.cypherCmp(op, lv, rv)
        case _ => ()
      }
    }
    if (ldt.exists(AgVariant.isVariant) || rdt.exists(AgVariant.isVariant)) {
      (asVariant(lc, ldt), asVariant(rc, rdt)) match {
        case (Some(lv), Some(rv)) => op match {
          case "=" | "<>" | "<" | "<=" | ">" | ">=" =>
            return AgVariant.cypherCmp(op, lv, rv)
          case "+" | "-" | "*" | "/" | "%" | "^" =>
            return AgVariant.arith(op, lv, rv)
          case _ => () // boolean/containment ops fall through
        }
        case _ => ()
      }
    }
    op match {
      case "+" =>
        (lSdt, rSdt) match {
          case (Some(StringType), _) | (_, Some(StringType)) => concat(lc, rc)
          case (Some(la: ArrayType), Some(ra: ArrayType)) =>
            listConcat(lc, la, rc, ra)
          case (Some(la: ArrayType), Some(rd)) =>
            listConcat(lc, la, array(rc), ArrayType(rd))
          case (Some(ld), Some(ra: ArrayType)) =>
            listConcat(array(lc), ArrayType(ld), rc, ra)
          case (Some(_: ArrayType), _) => concat(lc, array(rc))
          case (_, Some(_: ArrayType)) => concat(array(lc), rc)
          case _ => lc + rc
        }
      case "-" => lc - rc
      case "*" => lc * rc
      case "/" =>
        // Cypher int/int is integer division; Spark's / is always double.
        // `div` is integral division (exact for the full long range,
        // unlike double-divide + cast which loses precision past 2^53).
        (lSdt, rSdt) match {
          case (Some(LongType | IntegerType), Some(LongType | IntegerType)) =>
            call_function("div", lc, rc)
          // exact-numeric division keeps the slot's 18-digit fractional
          // scale (Spark's decimal divide would land on scale 6)
          case (Some(_: DecimalType), Some(_: DecimalType | LongType | IntegerType)) |
              (Some(LongType | IntegerType), Some(_: DecimalType)) =>
            graft.functions.NumericDivide.div(
              lc.cast(AgVariant.NumericType), rc.cast(AgVariant.NumericType))
          case _ => lc / rc
        }
      case "%" => lc % rc
      case "^" => pow(lc, rc)
      // pgvector distance operators (reference: regress/sql/pgvector.sql;
      // <-> l2, <#> NEGATIVE inner product, <=> cosine distance, <+> l1)
      case "<->" | "<#>" | "<=>" | "<+>" =>
        val va = Interop.asVector(lc, lSdt)
        val vb = Interop.asVector(rc, rSdt)
        op match {
          case "<->" => Interop.l2Distance(va, vb)
          case "<#>" => -Interop.innerProduct(va, vb)
          case "<=>" => Interop.cosineDistance(va, vb)
          case "<+>" => Interop.l1Distance(va, vb)
        }
      // comparisons: when the static types are scalars of DIFFERENT type
      // classes, Spark's implicit cast would yield null-drops (1 <> 'x'
      // casts 'x' to a null bigint) — the reference instead applies its
      // cross-type TOTAL order (agtype_eq/ne are total, agtype_ops.c:
      // 1054/1117; ordering by sort priority string < bool < numeric).
      // The class ranks are static, so the cross-type result folds to a
      // constant guarded only by operand nullness.
      case "=" | "<>" | "<" | "<=" | ">" | ">=" =>
        // a statically-null operand makes any comparison null (3VL) —
        // folding here also avoids type errors like `{a:1} = null`
        if (lSdt.contains(NullType) || rSdt.contains(NullType))
          return lit(null).cast(BooleanType)
        val crossClass = for {
          lk <- lSdt.flatMap(typeClassRank)
          rk <- rSdt.flatMap(typeClassRank)
          if lk != rk
        } yield (lk, rk)
        crossClass match {
          case Some((lk, rk)) =>
            val const = op match {
              case "=" => false
              case "<>" => true
              case "<" | "<=" => lk < rk
              case ">" | ">=" => lk > rk
            }
            when(lc.isNull || rc.isNull, lit(null).cast(BooleanType))
              .otherwise(lit(const))
          case None =>
            // maps have no Spark ordering: compare the canonical
            // sorted-entries form (object equality is key/value-set
            // equality in the reference, agtype_util.c object compare)
            def canonMap(c: Column): Column = array_sort(map_entries(c))
            val (lCmp, rCmp) = (lSdt, rSdt) match {
              case (Some(_: MapType), Some(_: MapType)) if op == "=" || op == "<>" =>
                (canonMap(lc), canonMap(rc))
              case _ => (lc, rc)
            }
            op match {
              case "=" => lCmp === rCmp
              case "<>" => lCmp =!= rCmp
              case "<" => lCmp < rCmp
              case "<=" => lCmp <= rCmp
              case ">" => lCmp > rCmp
              case ">=" => lCmp >= rCmp
            }
        }
      case "AND" => lc && rc
      case "OR" => lc || rc
      case "XOR" => lc =!= rc
      case "IN" =>
        r match {
          // literal lists expand to an OR chain of `=` comparisons: each
          // gets the cross-type total-order semantics, mixed-type lists
          // analyze (array() could not unify long and string), and the
          // OR propagates Cypher's null rules (false OR null = null,
          // true OR null = true)
          case ListLit(items) if items.isEmpty => lit(false)
          case ListLit(items) =>
            items.map(it => binOp("=", l, it, scope, lambdas)).reduce(_ || _)
          // `x IN null` is null (expr.out:217-242); a scalar object
          // errors (expr.out:368-372 "object of IN must be a list")
          case Lit(AgNull) => lit(null).cast(BooleanType)
          case _ =>
            (dt(lc), dt(rc)) match {
              case (_, Some(NullType)) => lit(null).cast(BooleanType)
              case (_, Some(StringType | BooleanType | LongType |
                  IntegerType | DoubleType | FloatType)) =>
                throw new IllegalArgumentException("object of IN must be a list")
              // class-mismatched needle vs uniformly-typed array: total
              // order says no element can equal it
              case (Some(lk), Some(ArrayType(et, _)))
                  if typeClassRank(lk).isDefined && typeClassRank(et).isDefined &&
                    typeClassRank(lk) != typeClassRank(et) =>
                when(lc.isNull || rc.isNull, lit(null).cast(BooleanType))
                  .otherwise(lit(false))
              case _ => array_contains(rc, lc)
            }
        }
      // ---- agtype containment / existence / concat operators
      // (reference: agtype_ops.c:1472-1761, sql/agtype_operators.sql) ----
      case "||" =>
        (dt(lc), dt(rc)) match {
          case (Some(_: MapType), Some(_: MapType)) => map_concat(lc, rc)
          case (Some(la: ArrayType), Some(ra: ArrayType)) =>
            listConcat(lc, la, rc, ra)
          case (Some(la: ArrayType), Some(rd)) if rd != NullType =>
            listConcat(lc, la, array(rc), ArrayType(rd))
          case (Some(ld), Some(ra: ArrayType)) if ld != NullType =>
            listConcat(array(lc), ArrayType(ld), rc, ra)
          case (Some(_: ArrayType), _) => concat(lc, array(rc))
          case (_, Some(_: ArrayType)) => concat(array(lc), rc)
          case _ => concat(lc, rc)
        }
      case "@>" => deepContains(lc, rc, dt(lc), dt(rc))
      case "<@" => deepContains(rc, lc, dt(rc), dt(lc))
      case "@>>" => containsOp(scope, lc, rc)
      case "<<@" => containsOp(scope, rc, lc)
      case "?" =>
        dt(lc) match {
          case Some(_: MapType) => map_contains_key(lc, rc)
          case Some(st: StructType) => array_contains(structKeys(st), rc)
          case Some(_: ArrayType) => array_contains(lc, rc)
          case _ => lc === rc
        }
      case "?|" =>
        dt(lc) match {
          case Some(_: MapType) => exists(rc, k => map_contains_key(lc, k))
          case Some(st: StructType) =>
            exists(rc, k => array_contains(structKeys(st), k))
          case Some(_: ArrayType) => exists(rc, k => array_contains(lc, k))
          case _ => array_contains(rc, lc)
        }
      case "?&" =>
        dt(lc) match {
          case Some(_: MapType) => forall(rc, k => map_contains_key(lc, k))
          case Some(st: StructType) =>
            forall(rc, k => array_contains(structKeys(st), k))
          case Some(_: ArrayType) => forall(rc, k => array_contains(lc, k))
          case _ => forall(rc, k => k === lc)
        }
      case "#>" | "#>>" =>
        val path = r match {
          case ListLit(items) => items
          case _ => throw new IllegalArgumentException(s"$op requires a literal path list")
        }
        var cur = lc
        for (p <- path) {
          val pc = compile(p, scope, lambdas)
          cur = dtypeOf(scope, cur) match {
            case Some(_: ArrayType) => listAt(cur, pc)
            case _ => try_element_at(cur, pc)
          }
        }
        if (op == "#>>") cur.cast(StringType) else cur
      case "->" | "->>" =>
        // Cypher-callable aliases of the accessors the reference keeps
        // SQL-side, outside its Cypher grammar (agtype.c:4329-4467:
        // agtype_object_field[_text] / agtype_array_element[_text]):
        // object -> text key, array -> 0-based int index (negative
        // counts from the end), ->> returns the text form. A statically
        // type-mismatched access — array -> text key, object -> int —
        // is null like jsonb (jsonb_operators.out:905-1010).
        val cur = (dtypeOf(scope, lc), r) match {
          case (Some(_: ArrayType), Lit(AgString(_))) => lit(null)
          case (Some(_: MapType), Lit(AgInt(_))) => lit(null)
          case (Some(st: StructType), Lit(AgInt(_)))
              if !graft.types.AgVariant.isVariant(st) => lit(null)
          case (Some(st: StructType), _) if graft.types.AgVariant.isVariant(st) =>
            variantAccess(lc, rc)
          case (Some(_: MapType), _) => try_element_at(lc, rc)
          case (Some(st: StructType), Lit(AgString(k))) =>
            if (st.fieldNames.contains(k)) lc.getField(k) else lit(null)
          case _ => listAt(lc, rc)
        }
        if (op == "->>") cur.cast(StringType) else cur
      case other => throw new IllegalArgumentException(s"unknown operator $other")
    }
  }

  /** float8in semantics: the NaN / [+-]inf[inity] spellings parse
    * case-insensitively; everything else is a strict double parse. */
  private def float8in(c: Column): Column = {
    val t = lower(trim(c))
    when(t === "nan", lit(Double.NaN))
      .when(t.isin("inf", "infinity", "+inf", "+infinity"),
        lit(Double.PositiveInfinity))
      .when(t.isin("-inf", "-infinity"), lit(Double.NegativeInfinity))
      .otherwise(c.cast(DoubleType))
  }

  /** Concat two list operands, harmonizing element types through the
    * variant encoding when they differ — agtype lists are untyped, so
    * `['s', 1] + [true, null]` is legal (reference: expr.out:152-156).
    * Falls back to a plain concat (Spark coercion / error) when either
    * element type is not variant-carryable. */
  private def listConcat(lc: Column, la: ArrayType, rc: Column, ra: ArrayType): Column = {
    val (le, re) = (la.elementType, ra.elementType)
    val harmonizable = le != re && le != NullType && re != NullType &&
      (AgVariant.isVariant(le) || AgVariant.isVariant(re) ||
        (graft.types.AgVariant.encodable(le) && graft.types.AgVariant.encodable(re)))
    if (!harmonizable) concat(lc, rc)
    else {
      def conv(c: Column, et: DataType): Column =
        if (AgVariant.isVariant(et)) c
        else transform(c, e => AgVariant.encode(e, et))
      concat(conv(lc, le), conv(rc, re))
    }
  }

  /** Numeric view of an aggregate argument: variant columns contribute
    * their shared numeric slot (null for non-numerics, which the
    * numeric aggregates then skip like SQL nulls); other columns pass
    * through. */
  private def numArg(c: Column, scope: Scope): Column = dtypeOf(scope, c) match {
    case Some(d) if AgVariant.isVariant(d) => c.getField("f")
    case _ => c
  }

  /** agtype sort-priority class of a static scalar type (matches
    * AgVariant's tags: string=5 < bool=6 < numeric=7); None for
    * containers/null/variant, which keep their own comparison paths. */
  /** Static agtype orderability rank of a Spark type (AgValue
    * .sortPriority): edge=1 < vertex=2 < object=3 < array=4 < string=5
    * < bool=6 < number=7. None for variant (rank is per-row). */
  private def typeClassRank(dt: DataType): Option[Int] = dt match {
    case StringType => Some(5)
    case BooleanType => Some(6)
    case LongType | IntegerType | DoubleType | FloatType | _: DecimalType => Some(7)
    case _: ArrayType => Some(4)
    case _: MapType => Some(3)
    case st: StructType if AgVariant.isVariant(st) => None
    case st: StructType if AgVariant.isEntityStruct(st) =>
      Some(if (st.fieldNames.contains("start_id")) 1 else 2)
    case st: StructType if AgVariant.isPathStruct(st) => Some(0)
    case _: StructType => Some(3)
    case _ => None
  }

  /** `hay @> needle` — DEEP containment, the jsonb-style recursion of the
    * reference (agtype_deep_contains, agtype_util.c; ops agtype_ops.c:
    * 1472/1562): object entries are contained RECURSIVELY (`{a:{b:1,c:2}}
    * @> {a:{b:1}}` is true), array elements of the needle must each be
    * contained in SOME hay element (recursively), a raw scalar is
    * contained in an array holding it, scalars compare by equality.
    * The recursion is compiled over the STATIC column types — each level
    * becomes a forall/exists HOF, so arbitrary (schema-bounded) nesting
    * costs no UDF. Struct-typed columns (per-label vertex properties)
    * bridge to map needles/hays level by level: the struct's fields are
    * static, so a map-keyed lookup compiles to a when-chain over the
    * field names — `properties(v) @> {k: val}` works against typed
    * property columns. Scalar leaves of different type classes are not
    * contained (the reference's total-order equality, never an error);
    * variant-vs-native leaves compare through cypherCmp. */
  private def deepContains(
      h: Column, n: Column, hd: Option[DataType], nd: Option[DataType]): Column =
    (hd, nd) match {
      case (Some(MapType(_, hv, _)), Some(MapType(_, nv, _))) =>
        forall(map_entries(n), e =>
          deepContains(try_element_at(h, e.getField("key")), e.getField("value"),
            Some(hv), Some(nv)))
      case (Some(hs: StructType), Some(ns: StructType))
          if !AgVariant.isVariant(hs) && !AgVariant.isVariant(ns) =>
        ns.fields.map { f =>
          if (hs.fieldNames.contains(f.name))
            deepContains(h.getField(f.name), n.getField(f.name),
              Some(hs(f.name).dataType), Some(f.dataType))
          else lit(false)
        }.foldLeft(lit(true))(_ && _)
      // struct hay vs map needle: every needle entry must name a struct
      // field (when-chain over the static field set) whose value contains
      // the entry's value
      case (Some(hs: StructType), Some(MapType(_, nv, _))) if !AgVariant.isVariant(hs) =>
        forall(map_entries(n), e => {
          val (k, v) = (e.getField("key"), e.getField("value"))
          hs.fields.foldLeft(lit(false)) { (acc, f) =>
            when(k === lit(f.name),
              deepContains(h.getField(f.name), v, Some(f.dataType), Some(nv)))
              .otherwise(acc)
          }
        })
      // map hay vs struct needle: each static needle field looks up its
      // key in the hay map
      case (Some(MapType(_, hv, _)), Some(ns: StructType)) if !AgVariant.isVariant(ns) =>
        ns.fields.map { f =>
          deepContains(try_element_at(h, lit(f.name)), n.getField(f.name),
            Some(hv), Some(f.dataType))
        }.foldLeft(lit(true))(_ && _)
      case (Some(ArrayType(he, _)), Some(ArrayType(ne, _))) =>
        forall(n, x => exists(h, y => deepContains(y, x, Some(he), Some(ne))))
      case (Some(ArrayType(he, _)), _) =>
        exists(h, y => deepContains(y, n, Some(he), nd))
      // variant leaf on either side: total-order equality via cypherCmp
      case (Some(hd0), Some(nd0))
          if AgVariant.isVariant(nd0) && AgVariant.scalar(hd0) =>
        variantLeafEq(AgVariant.encode(h, hd0), n)
      case (Some(hd0), Some(nd0))
          if AgVariant.isVariant(hd0) && AgVariant.scalar(nd0) =>
        variantLeafEq(h, AgVariant.encode(n, nd0))
      // statically class-mismatched scalars are never contained (and
      // never an ANSI cast error)
      case (Some(hd0), Some(nd0))
          if typeClassRank(hd0).isDefined && typeClassRank(nd0).isDefined &&
            typeClassRank(hd0) != typeClassRank(nd0) =>
        lit(false)
      case _ => h <=> n
    }

  /** Null-safe variant equality for containment leaves: both-null is
    * contained, otherwise cypherCmp's total-order `=` (null → false). */
  private def variantLeafEq(a: Column, b: Column): Column =
    when(a.isNull && b.isNull, lit(true))
      .otherwise(coalesce(AgVariant.cypherCmp("=", a, b), lit(false)))

  /** The static field-name set of a struct as an array column — the key
    * domain for `?`-family existence over typed property structs. */
  private def structKeys(st: StructType): Column =
    array(st.fieldNames.map(lit).toSeq: _*)

  /** `hay @>> needle` — TOP-LEVEL containment (no descent into nested
    * containers; reference: agtype_ops.c:1602/1519): maps need every
    * needle entry present with an equal value; arrays every needle
    * element present; scalars equality. */
  private def containsOp(scope: Scope, hay: Column, needle: Column): Column =
    (dtypeOf(scope, hay), dtypeOf(scope, needle)) match {
      case (Some(MapType(_, _, _)), Some(MapType(_, nv, _))) =>
        forall(map_entries(needle),
          e => shallowEq(try_element_at(hay, e.getField("key")), e.getField("value"), nv))
      // typed-property struct bridges, as in deepContains but shallow
      case (Some(hs: StructType), Some(MapType(_, nv, _))) if !AgVariant.isVariant(hs) =>
        forall(map_entries(needle), e => {
          val (k, v) = (e.getField("key"), e.getField("value"))
          hs.fields.foldLeft(lit(false)) { (acc, f) =>
            val fv =
              if (typeClassRank(f.dataType) != typeClassRank(nv) &&
                typeClassRank(f.dataType).isDefined && typeClassRank(nv).isDefined)
                lit(false)
              else shallowEq(hay.getField(f.name), v, nv)
            when(k === lit(f.name), fv).otherwise(acc)
          }
        })
      case (Some(hs: StructType), Some(ns: StructType))
          if !AgVariant.isVariant(hs) && !AgVariant.isVariant(ns) =>
        ns.fields.map { f =>
          if (hs.fieldNames.contains(f.name))
            shallowEq(hay.getField(f.name), needle.getField(f.name), f.dataType)
          else lit(false)
        }.foldLeft(lit(true))(_ && _)
      case (Some(MapType(_, hv, _)), Some(ns: StructType)) if !AgVariant.isVariant(ns) =>
        ns.fields.map { f =>
          shallowEq(try_element_at(hay, lit(f.name)), needle.getField(f.name), f.dataType)
        }.foldLeft(lit(true))(_ && _)
      case (Some(_: ArrayType), Some(ArrayType(ne, _))) =>
        forall(needle, x => exists(hay, y => shallowEq(y, x, ne)))
      case (Some(_: ArrayType), nd) =>
        exists(hay, y => shallowEq(y, needle, nd.getOrElse(NullType)))
      case (hd, _) => shallowEq(hay, needle, hd.getOrElse(NullType))
    }

  /** Value equality for the shallow containment comparisons. Spark
    * cannot order/compare MAP-bearing types, so a map-typed value
    * compares as mutual deep containment — exact for maps with scalar
    * values; for pathological map-of-duplicate-element-arrays this is
    * slightly weaker than equality (documented). */
  private def shallowEq(a: Column, b: Column, dt: DataType): Column =
    if (comparableType(dt)) a <=> b
    else deepContains(a, b, Some(dt), Some(dt)) && deepContains(b, a, Some(dt), Some(dt))

  private def comparableType(dt: DataType): Boolean = dt match {
    case _: MapType => false
    case s: StructType => s.forall(f => comparableType(f.dataType))
    case a: ArrayType => comparableType(a.elementType)
    case _ => true
  }

  /** Array of entity structs whose property schemas differ: every
    * element widens to the union of the property fields (missing keys
    * null). All-vertex or all-edge only; a same-named property with
    * conflicting types across labels stays an error. */
  private def unifiedEntityArray(elems: Seq[(Column, StructType)]): Column = {
    // vertices and edges may share one list (reference: a path is such
    // an AGTV_ARRAY); vertex elements carry null start_id/end_id and
    // printing dispatches per-row on start_id nullness
    val anyEdge = elems.exists(_._2.fieldNames.contains("start_id"))
    // a `::vertex`/`::edge` cast built from a map literal carries
    // MAP-typed properties; when any element does, unify every props
    // container as map<string, variant> instead of a merged struct
    if (elems.exists(!_._2("properties").dataType.isInstanceOf[StructType]))
      return unifiedEntityArrayMapProps(elems, anyEdge)
    def propsOf(st: StructType): StructType =
      st("properties").dataType.asInstanceOf[StructType]
    // union of property fields, first-seen order, placeholder dropped
    val keys = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    for ((_, st) <- elems; f <- propsOf(st).fields if f.name != "__empty")
      keys.getOrElseUpdate(f.name, f.dataType)
    val keySeq = keys.toSeq
    val propsSt =
      if (keySeq.isEmpty) StructType(Seq(StructField("__empty", BooleanType)))
      else StructType(keySeq.map { case (k, dt) => StructField(k, dt) })
    val idFields = Seq(StructField("id", LongType), StructField("label", StringType)) ++
      (if (anyEdge) Seq(StructField("start_id", LongType), StructField("end_id", LongType))
       else Nil)
    val target = StructType(idFields :+ StructField("properties", propsSt))
    val widened = elems.map { case (c, st) =>
      val pst = propsOf(st)
      val isEdgeElem = st.fieldNames.contains("start_id")
      val props =
        if (keySeq.isEmpty) struct(lit(true).as("__empty"))
        else struct(keySeq.map { case (k, dt) =>
          (if (pst.fieldNames.contains(k)) c.getField("properties").getField(k)
           else lit(null).cast(dt)).as(k) }: _*)
      val base = struct(
        (Seq(c.getField("id").as("id"), c.getField("label").as("label")) ++
          (if (anyEdge && isEdgeElem)
            Seq(c.getField("start_id").as("start_id"),
              c.getField("end_id").as("end_id"))
          else if (anyEdge)
            Seq(lit(null).cast(LongType).as("start_id"),
              lit(null).cast(LongType).as("end_id"))
          else Nil) :+
          props.as("properties")): _*)
      when(c.isNull, lit(null).cast(target)).otherwise(base)
    }
    array(widened: _*)
  }

  /** [[unifiedEntityArray]] when properties cannot merge into one
    * struct: every element's properties become map<string, variant>
    * (null-valued struct fields are absent keys, like entity props). */
  private def unifiedEntityArrayMapProps(
      elems: Seq[(Column, StructType)], anyEdge: Boolean): Column = {
    val varMap = MapType(StringType, AgVariant.schema)
    def propsAsMap(c: Column, st: StructType): Column =
      st("properties").dataType match {
        case pst: StructType =>
          val fs = pst.fields.filter(_.name != "__empty")
          if (fs.isEmpty) map().cast(varMap)
          else map_filter(
            map(fs.flatMap(f => Seq(lit(f.name),
              AgVariant.encode(c.getField("properties").getField(f.name),
                f.dataType))): _*),
            (_, v) => v.isNotNull)
        case mt: MapType =>
          if (AgVariant.isVariant(mt.valueType)) c.getField("properties")
          else if (mt.valueType == NullType) map().cast(varMap)
          else transform_values(c.getField("properties"),
            (_, v) => AgVariant.encode(v, mt.valueType))
        case _ => map().cast(varMap)
      }
    val idFields = Seq(StructField("id", LongType), StructField("label", StringType)) ++
      (if (anyEdge) Seq(StructField("start_id", LongType), StructField("end_id", LongType))
       else Nil)
    val target = StructType(idFields :+ StructField("properties", varMap))
    val widened = elems.map { case (c, st) =>
      val isEdgeElem = st.fieldNames.contains("start_id")
      val base = struct(
        (Seq(c.getField("id").cast(LongType).as("id"),
          c.getField("label").cast(StringType).as("label")) ++
          (if (anyEdge && isEdgeElem)
            Seq(c.getField("start_id").cast(LongType).as("start_id"),
              c.getField("end_id").cast(LongType).as("end_id"))
          else if (anyEdge)
            Seq(lit(null).cast(LongType).as("start_id"),
              lit(null).cast(LongType).as("end_id"))
          else Nil) :+
          propsAsMap(c, st).as("properties")): _*)
      when(c.isNull, lit(null).cast(target)).otherwise(base)
    }
    array(widened: _*)
  }

  /** A bound vertex or edge as its entity struct: id, label, the edge's
    * endpoints and the properties. */
  def entityStruct(b: Binding): Column = {
    val (v, props, ends) = b match {
      case NodeB(v, ps) => (v, ps, Nil)
      case EdgeB(v, ps) =>
        (v, ps, Seq(col(startCol(v)).as("start_id"), col(endCol(v)).as("end_id")))
      case other => throw new IllegalArgumentException(s"not an entity binding: $other")
    }
    val propsStruct =
      if (props.isEmpty) struct(lit(true).as("__empty"))
      else struct(props.map(p => col(propCol(v, p)).as(p)): _*)
    struct((Seq(col(idCol(v)).as("id"), col(labelCol(v)).as("label")) ++ ends :+
      propsStruct.as("properties")): _*)
  }

  import Columns._

  /** properties() of a struct-valued entity; identity otherwise (a bare
    * map's properties are itself — reference age_properties accepts
    * objects). */
  private def propsOf(c: Column, scope: Scope): Column =
    dtypeOf(scope, c) match {
      case Some(st: StructType) if AgVariant.isEntityStruct(st) =>
        c.getField("properties")
      case _ => c
    }

  private def funcCall(fc: FuncCall, scope: Scope, lambdas: Map[String, Column]): Column = {
    val FuncCall(name0, args, distinct) = fc
    // reference-spelled age_* names resolve to the bare function
    // (cypher_expr.c:2007/2260 prefixes age_ on lookup)
    val name = if (name0.startsWith("age_")) name0.drop(4) else name0
    def a(i: Int): Column = compile(args(i), scope, lambdas)
    def entityCol(suffix: String => String): Column =
      entityField(suffix, null)
    /** Entity accessor: bound node/edge variables read the planner's flat
      * columns; struct-valued entities (a `::vertex`/`::edge` cast
      * result, a projected entity) read the struct field named
      * `field`. */
    def entityField(suffix: String => String, field: String): Column =
      args.head match {
        case Var(v) if !lambdas.contains(v) &&
            !scope.get(v).exists(_.isInstanceOf[ValueB]) =>
          col(suffix(v))
        // null-propagating like every agtype accessor (id(null) is null)
        case Lit(AgNull) => lit(null)
        case other =>
          val c = a(0)
          dtypeOf(scope, c).orElse(other match {
            case Var(v) => lambdaTypes.get(v)
            case _ => None
          }) match {
            case Some(st: StructType)
                if field != null && st.fieldNames.contains(field) =>
              c.getField(field)
            case _ if field == null =>
              throw new IllegalArgumentException(s"$name() expects an entity variable")
            case _ =>
              throw new IllegalArgumentException(s"$name() expects an entity")
          }
      }
    name match {
      // ---- aggregates (reference: sql/age_aggregate.sql) ----
      case "count" =>
        val c = args.head match {
          case Var(v) => scope.get(v) match {
            case Some(_: NodeB) | Some(_: EdgeB) => col(idCol(v))
            case _ => a(0)
          }
          case _ => a(0)
        }
        if (distinct) count_distinct(c) else count(c)
      case "sum" =>
        val c = a(0)
        dtypeOf(scope, c) match {
          case Some(d) if AgVariant.isVariant(d) =>
            // agtype sum over a mixed column: int-only groups stay
            // integer, any float promotes the whole group to float; a
            // non-numeric value in the group is an error (reference:
            // agtype sum transfns, agtype.c:11344)
            val nVals = count(when(c.isNotNull, 1))
            val nNum = count(when(c.getField("tag") === AgVariant.TagNum, 1))
            val nInt = count(c.getField("i"))
            when(nVals =!= nNum,
              raise_error(lit("sum() over non-numeric agtype values"))
                .cast(AgVariant.schema))
              .when(nNum === 0, lit(null).cast(AgVariant.schema))
              .when(nInt === nNum, AgVariant.ofLong(sum(c.getField("i"))))
              .otherwise(AgVariant.ofDouble(sum(c.getField("f"))))
          case _ => if (distinct) sum_distinct(c) else sum(c)
        }
      case "avg" => avg(numArg(a(0), scope)) // avg always yields float
      case "min" | "max" =>
        val c = a(0)
        val byKey = dtypeOf(scope, c) match {
          // variant min/max follow agtype orderability (containers
          // element-wise), not raw struct order
          case Some(d) if AgVariant.isVariant(d) =>
            Some(graft.functions.AgOrderKey.key(c))
          case _ => None
        }
        (name, byKey) match {
          case ("min", Some(k)) => min_by(c, k)
          case ("max", Some(k)) => max_by(c, k)
          case ("min", None) => min(c)
          case _ => max(c)
        }
      case "collect" =>
        if (distinct) collect_set(a(0)) else collect_list(a(0))
      // stDev/stDevP return 0.0 (not null) for empty/single-value groups
      // (reference: age_stdev corpus, expr.out 'should return 0')
      case "stdev" => coalesce(stddev_samp(numArg(a(0), scope)), lit(0.0))
      case "stdevp" => coalesce(stddev_pop(numArg(a(0), scope)), lit(0.0))
      case "percentilecont" => percentile(numArg(a(0), scope), a(1))
      case "percentiledisc" =>
        // exact discrete percentile: the element at rank ceil(p*n) of the
        // sorted group (reference: ordered-set agg, sql/age_aggregate.sql
        // :151-192). O(group) memory — groups are per-key aggregates.
        val sorted = sort_array(collect_list(a(0)))
        listAt(sorted,
          greatest(ceil(a(1) * size(sorted)).cast(IntegerType), lit(1)) - 1)
      // ---- interop (reference: agtype_to_json / vertex_to_json,
      // agtype.c:2811-2847, 3685) ----
      case "tojson" => to_json(a(0))
      case "fromjson" =>
        throw new IllegalArgumentException(
          "fromJson needs a target schema; use get_json_object-style access")
      // ---- entity accessors (reference: agtype.c:5943-12937) ----
      case "id" => entityField(idCol, "id")
      case "start_id" => entityField(startCol, "start_id")
      case "end_id" => entityField(endCol, "end_id")
      case "label" | "type" => entityField(labelCol, "label")
      // labels(v) is a LIST (AGE vertices carry exactly one label —
      // reference: age_labels, agtype.c:12708)
      case "labels" => array(entityField(labelCol, "label"))
      case "properties" => args.head match {
        case Var(v) if !lambdas.contains(v) => scope.get(v) match {
          case Some(b @ (_: NodeB | _: EdgeB)) => entityStruct(b).getField("properties")
          case _ => propsOf(a(0), scope)
        }
        case _ => propsOf(a(0), scope)
      }
      case "keys" =>
        def generic: Column = dtypeOf(scope, a(0)) match {
          // struct-encoded map literal: field names are the keys
          case Some(st: StructType) if !st.fieldNames.contains("properties") =>
            array(st.fieldNames.map(lit(_)): _*)
          case _ => map_keys(a(0))
        }
        args.head match {
          case Var(v) => scope.get(v) match {
            case Some(NodeB(n, props)) => presentKeys(n, props)
            case Some(EdgeB(n, props)) => presentKeys(n, props)
            case _ => generic
          }
          case _ => generic
        }
      case "nodes" => args.head match {
        case Var(v) => scope.get(v) match {
          case Some(PathB(n, _)) => col(nidsCol(n))
          case _ => throw new IllegalArgumentException("nodes() expects a named path")
        }
        case Lit(AgNull) => lit(null) // null-propagating accessor
        case _ => throw new IllegalArgumentException("nodes() expects a named path")
      }
      case "relationships" if args.headOption.contains(Lit(AgNull)) => lit(null)
      case "relationships" => args.head match {
        case Var(v) => scope.get(v) match {
          case Some(PathB(n, _)) => col(idsCol(n))
          case Some(VleB(n)) => col(idsCol(n))
          case _ => throw new IllegalArgumentException("relationships() expects a path")
        }
        case _ => throw new IllegalArgumentException("relationships() expects a path")
      }
      case "exists" => a(0).isNotNull
      case "isempty" => dtypeOf(scope, a(0)) match {
        case Some(StringType) => length(a(0)) === 0
        // entities are not lists/maps/strings — the reference's
        // age_isEmpty errors on AGTV_VERTEX/EDGE/PATH (agtype.c)
        case Some(st: StructType) if graft.types.AgVariant.isEntityStruct(st) =>
          throw new IllegalArgumentException(
            "isEmpty() unsupported argument: vertex/edge")
        // struct-encoded map literal: key set is static
        case Some(st: StructType) => lit(st.isEmpty)
        case _ => size(a(0)) === 0
      }
      case "size" | "length" =>
        dtypeOf(scope, a(0)) match {
          case Some(StringType) => length(a(0))
          case _ => size(a(0))
        }
      case "head" | "last" | "tail" if dtypeOf(scope, a(0)).contains(NullType) =>
        lit(null) // null list propagates (expr.out head/last null rows)
      case "head" => listAt(a(0), lit(0))
      case "last" => listAt(a(0), lit(-1))
      case "tail" => slice(a(0), lit(2), greatest(size(a(0)) - 1, lit(0)))
      case "range" =>
        // inverted boundaries yield [] (Cypher), not Spark's
        // illegal-sequence error; step 0 errors in both
        val step = (if (args.size > 2) a(2) else lit(1L)).cast(LongType)
        val lo = a(0).cast(LongType)
        val hi = a(1).cast(LongType)
        when((step > 0 && lo > hi) || (step < 0 && lo < hi),
          array().cast(ArrayType(LongType)))
          .otherwise(sequence(lo, hi, step))
      case "coalesce" => coalesce(args.map(compile(_, scope, lambdas)): _*)
      // ---- conversions (reference: agtype.c:6741-8234) ----
      case "tointeger" =>
        // strings parse as floats first then truncate toward zero
        // (reference: toInteger("1.2") = 1, invalid strings -> null,
        // expr.out toInteger corpus); numerics truncate directly.
        // try_cast: conversion functions yield null on bad input, they
        // never error (unlike :: typecasts, which keep strict casts)
        dtypeOf(scope, a(0)) match {
          case Some(StringType) =>
            a(0).try_cast(DoubleType).try_cast(LongType)
          case _ => a(0).try_cast(LongType)
        }
      case "tofloat" => a(0).try_cast(DoubleType)
      case "tostring" =>
        // numeric_out-style for numerics: natural scale, no '::numeric'
        dtypeOf(scope, a(0)) match {
          case Some(d) if AgVariant.isVariant(d) => AgVariant.castText(a(0))
          case Some(_: DecimalType) => AgVariant.decText(a(0))
          case _ => a(0).cast(StringType)
        }
      case "toboolean" => a(0).try_cast(BooleanType)
      case "tobooleanlist" | "tofloatlist" | "tointegerlist" | "tostringlist" =>
        // elementwise conversion; unconvertible elements become null,
        // the empty list returns SQL null (reference: expr.sql
        // toBooleanList/toFloatList/toIntegerList/toStringList corpora)
        val elemT = dtypeOf(scope, a(0)) match {
          case Some(ArrayType(et, _)) => et
          case _ => StringType
        }
        // variant elements (heterogeneous list) decode to their text
        // form first; the string conversion rules then apply per element
        val variantElems = AgVariant.isVariant(elemT)
        // container elements are never convertible: every element maps
        // to null like toBooleanList([["A","B"]]) = [null, null]
        // (expr.out to*List corpora)
        elemT match {
          case _: ArrayType | _: MapType | _: StructType if !variantElems =>
            val nullT = name.toLowerCase match {
              case "tobooleanlist" => BooleanType
              case "tofloatlist" => DoubleType
              case "tointegerlist" => LongType
              case _: Any => StringType
            }
            return when(size(a(0)) === 0, lit(null))
              .otherwise(transform(a(0), _ => lit(null).cast(nullT)))
          case _ => ()
        }
        val conv: Column => Column = x0 => {
          val x = if (variantElems) AgVariant.printed(x0) else x0
          name.toLowerCase match {
            case "tobooleanlist" => x.try_cast(BooleanType)
            case "tofloatlist" => x.try_cast(DoubleType)
            case "tointegerlist" => elemT match {
              case StringType => x.try_cast(DoubleType).try_cast(LongType)
              case _ if variantElems => x.try_cast(DoubleType).try_cast(LongType)
              case _ => x.try_cast(LongType)
            }
            case _ => x.cast(StringType)
          }
        }
        when(size(a(0)) === 0, lit(null)).otherwise(transform(a(0), conv))
      // ---- strings (reference: agtype.c:8234-9547) ----
      case "toupper" => upper(a(0))
      case "tolower" => lower(a(0))
      case "trim" => trim(a(0))
      case "ltrim" => ltrim(a(0))
      case "rtrim" => rtrim(a(0))
      case "reverse" => reverse(a(0))
      case "left" => substring(a(0), lit(1), a(1))
      case "right" => a(0).substr(length(a(0)) - a(1) + 1, a(1))
      case "substring" =>
        // Cypher substring is 0-indexed (reference: age_substring)
        if (args.size > 2) a(0).substr(a(1) + 1, a(2))
        else a(0).substr(a(1) + 1, length(a(0)))
      case "split" => args(1) match {
        // empty delimiter splits between characters — no leading/trailing
        // empty element (reference: split('a,b','') = ['a',',','b'])
        case Lit(AgString("")) => split(a(0), "(?<=.)(?=.)")
        case Lit(AgString(s)) => split(a(0), java.util.regex.Pattern.quote(s))
        case Lit(AgNull) => lit(null).cast(ArrayType(StringType))
        case _ => throw new IllegalArgumentException("split delimiter must be a literal")
      }
      case "replace" if args.exists(_ == Lit(AgNull)) =>
        lit(null).cast(StringType) // any null argument yields null
      case "replace" => args(1) match {
        case Lit(AgString(_)) => regexp_replace(a(0), args(1) match {
          case Lit(AgString(s)) => java.util.regex.Pattern.quote(s)
          case _ => ""
        }, args(2) match {
          case Lit(AgString(s)) => java.util.regex.Matcher.quoteReplacement(s)
          case _ => ""
        })
        case _ => throw new IllegalArgumentException("replace arguments must be literals")
      }
      // ---- math (reference: agtype.c:9849-10924) ----
      case "abs" => abs(a(0))
      case "ceil" => ceil(a(0)).cast(DoubleType)
      case "floor" => floor(a(0)).cast(DoubleType)
      case "round" =>
        // round always yields float (reference: round(0) = 0.0, expr.out)
        (if (args.size > 1) round(a(0), args(1) match {
          case Lit(AgInt(i)) => i.toInt
          case _ => 0
        })
        else round(a(0), 0)).cast(DoubleType)
      case "sqrt" =>
        // out-of-domain yields null, not NaN (reference: sqrt(-1) is
        // null, expr.out sqrt corpus)
        when(a(0) < 0, lit(null).cast(DoubleType)).otherwise(sqrt(a(0)))
      case "sign" => signum(a(0)).cast(LongType)
      case "exp" => exp(a(0))
      case "log" => log(a(0))
      case "log10" => log10(a(0))
      case "sin" => sin(a(0)); case "cos" => cos(a(0)); case "tan" => tan(a(0))
      case "cot" => lit(1.0) / tan(a(0))
      // arc functions: |x| > 1 is out of domain -> null, not NaN
      // (reference: asin(1.1)/acos(1.1) are null, expr.out)
      case "asin" =>
        when(abs(a(0)) > 1, lit(null).cast(DoubleType)).otherwise(asin(a(0)))
      case "acos" =>
        when(abs(a(0)) > 1, lit(null).cast(DoubleType)).otherwise(acos(a(0)))
      case "atan" => atan(a(0))
      case "atan2" => atan2(a(0), a(1))
      case "degrees" => degrees(a(0)); case "radians" => radians(a(0))
      case "pi" => lit(math.Pi)
      case "e" => lit(math.E)
      case "rand" => rand()
      case "timestamp" => (unix_micros(current_timestamp()) / 1000).cast(LongType)
      // startNode/endNode over bound edge vars rewrite in the planner
      // (materializeEndpointFns); a literal null reaches here and
      // propagates like every accessor
      case "startnode" | "endnode" if args.headOption.contains(Lit(AgNull)) =>
        lit(null)
      // SQL-surface constructors (reference: agtype_build_map/_list,
      // agtype.c) — keys are scalar literals and stringify; values mix
      // like any container literal
      case "agtype_build_list" => compile(ListLit(args), scope, lambdas)
      case "agtype_build_map" =>
        if (args.size % 2 != 0)
          throw new IllegalArgumentException(
            "agtype_build_map requires an even number of arguments")
        val entries = args.grouped(2).map {
          case Seq(k, v) =>
            val key = k match {
              case Lit(AgString(s)) => s
              case Lit(AgInt(i)) => i.toString
              case Lit(AgFloat(f)) => AgValue.print(AgFloat(f))
              case Lit(AgBool(b)) => b.toString
              case Lit(AgNull) => throw new IllegalArgumentException(
                "agtype_build_map: key value must not be null")
              case other => throw new IllegalArgumentException(
                s"agtype_build_map: key must be a scalar literal, got $other")
            }
            (key, v)
        }.toVector
        compile(MapLit(entries), scope, lambdas)
      // ---- extension interop: pg_trgm / fuzzystrmatch / pgvector
      // functions callable from Cypher like the reference's agtype
      // bridge (regress/sql/pg_trgm.sql, fuzzystrmatch.sql,
      // pgvector.sql; semantics re-derived from the published
      // algorithms in graft.functions.Interop) ----
      case "show_trgm" => Interop.showTrgm(interopText(a(0), scope))
      case "similarity" =>
        Interop.similarity(interopText(a(0), scope), interopText(a(1), scope))
      case "word_similarity" =>
        Interop.wordSimilarity(interopText(a(0), scope), interopText(a(1), scope))
      case "soundex" => soundex(interopText(a(0), scope))
      case "metaphone" =>
        graft.functions.PhoneticColumns.metaphone(
          interopText(a(0), scope), a(1).cast(IntegerType))
      case "dmetaphone" =>
        graft.functions.PhoneticColumns.dmetaphone(interopText(a(0), scope))
      case "dmetaphone_alt" =>
        graft.functions.PhoneticColumns.dmetaphoneAlt(interopText(a(0), scope))
      case "levenshtein" => // engine integers are int64
        levenshtein(interopText(a(0), scope), interopText(a(1), scope))
          .cast(LongType)
      case "difference" =>
        Interop.difference(interopText(a(0), scope), interopText(a(1), scope))
      case "l2_distance" => Interop.l2Distance(interopVec(a(0), scope), interopVec(a(1), scope))
      case "l1_distance" => Interop.l1Distance(interopVec(a(0), scope), interopVec(a(1), scope))
      case "inner_product" => Interop.innerProduct(interopVec(a(0), scope), interopVec(a(1), scope))
      case "cosine_distance" => Interop.cosineDistance(interopVec(a(0), scope), interopVec(a(1), scope))
      case "vector_dims" => size(interopVec(a(0), scope)).cast(LongType)
      case "vector_norm" => Interop.vectorNorm(interopVec(a(0), scope))
      case "l2_normalize" => Interop.l2Normalize(interopVec(a(0), scope))
      case "subvector" => Interop.subvector(interopVec(a(0), scope),
        a(1).cast(IntegerType), a(2).cast(IntegerType))
      case "binary_quantize" => Interop.binaryQuantize(interopVec(a(0), scope))
      case other => throw new IllegalArgumentException(s"unknown function $other()")
    }
  }

  /** Interop string coercion: variant inputs read the string slot. */
  private def interopText(c: Column, scope: Scope): Column =
    dtypeOf(scope, c) match {
      case Some(d) if AgVariant.isVariant(d) => c.getField("s")
      case _ => c.cast(StringType)
    }

  /** Interop vector coercion: '[1,2,3]' strings or numeric lists. */
  private def interopVec(c: Column, scope: Scope): Column =
    Interop.asVector(c, dtypeOf(scope, c))

  private def presentKeys(v: String, props: Seq[String]): Column =
    array_compact(array(props.map(p =>
      when(col(propCol(v, p)).isNotNull, lit(p))): _*))
}
