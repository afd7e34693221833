package graft.gql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.{Direction => GDir, PathSemantics, PropertyGraph}
import Ast._

class GqlCompileException(msg: String) extends RuntimeException(msg)

/** Context-free scalar functions — ONE table shared by the query
  * compiler and the simple-form DML evaluator (GraphLiteSpark.rawColumn),
  * which previously duplicated these case-by-case and drifted. Args
  * arrive pre-compiled by the caller (so each side keeps its own column
  * resolution); `rawArgs` only feeds shapes that need a literal (the
  * ROUND scale).
  */
private[graft] object ScalarFns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import Ast.{Expr, NumLit}

  /** The reference's `%` OPERATOR is EUCLIDEAN (f64::rem_euclid,
    * executor.rs:5193-5197): the result lies in [0, |divisor|)
    * regardless of operand signs. Spark/SQL `%` is truncated (sign
    * follows the dividend), so -7 % 3 would be -1 instead of the
    * reference's 2. `((l % r) + |r|) % |r|` matches rem_euclid for every
    * sign combination; modulo-by-zero still errors (ANSI), like the
    * reference's RuntimeError.
    *
    * The MOD() FUNCTION is different: ModFunction
    * (mathematical_functions.rs:763, `dividend % divisor` on f64) is
    * Rust's truncated remainder — MOD(-7, 3) = -1 there. So MOD() maps
    * to Spark's native `%` below and only the operator uses euclidMod.
    */
  def euclidMod(l: Column, r: Column): Column = ((l % r) + abs(r)) % abs(r)

  val names: Set[String] = Set(
    "UPPER", "LOWER", "TRIM", "SUBSTRING", "REPLACE", "REVERSE",
    "LENGTH", "CHAR_LENGTH",
    "ABS", "CEIL", "CEILING", "FLOOR", "SQRT", "POWER", "POW",
    "LOG", "LOG10", "EXP", "SIN", "COS", "TAN", "PI", "SIGN", "MOD",
    "ROUND", "NULLIF", "COALESCE")

  def apply(name: String, args0: Seq[Column], rawArgs: Seq[Expr],
      kindOf: Expr => Option[String] = _ => None): Column = {
    // a missing argument must be a NAMED error like the reference's
    // InvalidArgumentCount (function_trait.rs validate_argument_count),
    // not an IndexOutOfBounds crash out of the dispatch below
    def a(i: Int): Column =
      if (i >= args0.size) throw new GqlCompileException(
        s"$name expects at least ${i + 1} arguments, got ${args0.size}")
      else args0(i)
    // the string functions' convert-to-string arm
    // (string_functions.rs:52-66): NUMBER renders through Rust's f64
    // Display, which DROPS the trailing ".0" of integral values —
    // Value::Number(-11.0) renders "-11" where Spark's cast gives
    // "-11.0" (found by ValueFunctionDifferentialFuzzSpec; applied only
    // when the static kind is NUMBER — strings must not detour through
    // a numeric cast, which ANSI would fail on non-numeric text).
    // Integral values format through "%.0f" — like Rust Display it
    // prints full positional digits (no scientific notation above 9e18)
    // and keeps the sign of -0.0 ("-0"). Accepted divergence: above
    // ~1e22 a double's exact decimal expansion (what %.0f prints)
    // can differ from Rust's shortest round-trip digits in the
    // sub-ULP tail (1e23 → "99999999999999991611392" vs "1" + 23
    // zeros); NaN/±Infinity fall through to Spark's cast.
    // Non-convertible kinds (lists, datetimes, entities) take the `_`
    // arm: NULL for UPPER/LOWER/REVERSE/SUBSTRING; TRIM's
    // value_to_string instead yields "" (rs:285-287) — `onBad` selects.
    def s(i: Int, onBad: => Column = lit(null).cast("string")): Column = {
      val c = a(i) // named arity error before any rawArgs access
      (if (i < rawArgs.size) kindOf(rawArgs(i)) else None) match {
        case Some("NUMBER") =>
          val d = c.cast("double")
          when(!isnan(d) && abs(d) =!= lit(Double.PositiveInfinity) &&
              d === floor(d), format_string("%.0f", d))
            .otherwise(c.cast("string"))
        case Some("LIST") | Some("DATETIME") | Some("NODE") |
            Some("EDGE") | Some("PATH") => onBad
        case _ => c
      }
    }
    name match {
      // string (string_functions.rs)
      case "UPPER" => upper(s(0))
      case "LOWER" => lower(s(0))
      case "TRIM" =>
        // reference TRIM forms (string_functions.rs:198-265): TRIM(s);
        // TRIM(mode, s) when arg0 is a LEADING/TRAILING/BOTH literal;
        // TRIM(s, char); TRIM(mode, chars, s). Mode forms trim the
        // " \t\n\r" set. The 2-arg char form goes through
        // extract_trim_char (string_functions.rs:292-303), which keeps
        // only the FIRST character of the literal and maps an empty
        // string to a space; only the 3-arg form trims the full set.
        def modeOf(e: Expr): Option[String] = e match {
          case Ast.StrLit(m)
              if Set("LEADING", "TRAILING", "BOTH")(m.toUpperCase) =>
            Some(m.toUpperCase)
          case _ => None
        }
        def litChars(e: Expr): String = e match {
          case Ast.StrLit(c) => c
          case other => throw new GqlCompileException(
            s"TRIM characters must be a string literal, got $other")
        }
        def trimBy(mode: String, chars: String, s: Column): Column =
          mode match {
            case "LEADING" => ltrim(s, chars)
            case "TRAILING" => rtrim(s, chars)
            case _ => rtrim(ltrim(s, chars), chars)
          }
        def firstChar(chars: String): String =
          if (chars.isEmpty) " " else chars.substring(0, 1)
        val ws = " \t\n\r"
        args0.size match {
          case 1 => trim(s(0, lit("")))
          case 2 => modeOf(rawArgs(0)) match {
            case Some(mode) => trimBy(mode, ws, s(1, lit("")))
            case None =>
              trimBy("BOTH", firstChar(litChars(rawArgs(1))), s(0, lit("")))
          }
          case _ =>
            trimBy(modeOf(rawArgs(0)).getOrElse("BOTH"),
              litChars(rawArgs(1)), s(2, lit("")))
        }
      case "SUBSTRING" =>
        // the reference clamps start <= 0 to the FIRST character and a
        // length <= 0 to the empty string (string_functions.rs:364-392);
        // Spark's substr instead counts a negative start from the END of
        // the string — clamp both so the semantics match
        val start = greatest(a(1), lit(1))
        if (args0.size == 3) s(0).substr(start, greatest(a(2), lit(0)))
        else s(0).substr(start, lit(Int.MaxValue))
      case "REPLACE" =>
        // unlike UPPER's null arm, REPLACE's to_string ERRORS on
        // non-convertible arguments (string_functions.rs:498-517)
        Seq("First", "Search", "Replacement").zipWithIndex.foreach {
          case (pos, i) =>
            // arity-guarded: a missing argument falls through to s(i)'s
            // named error below, never an index crash here
            if (i < rawArgs.size &&
                Seq("LIST", "DATETIME", "NODE", "EDGE", "PATH")
                  .exists(kindOf(rawArgs(i)).contains))
              throw new GqlCompileException(
                s"$pos argument must be convertible to string")
        }
        replace(s(0), s(1), s(2))
      case "REVERSE" => reverse(s(0))
      case "LENGTH" | "CHAR_LENGTH" => length(a(0)).cast("long")
      // math (mathematical_functions.rs, numeric_functions.rs)
      case "ABS" => abs(a(0))
      case "CEIL" | "CEILING" => ceil(a(0))
      case "FLOOR" => floor(a(0))
      // domain violations ERROR the statement in the reference
      // (mathematical_functions.rs: SQRT<0 rs:216, LOG/LOG10<=0
      // rs:339/394, POWER->NaN/Inf rs:283, EXP->Inf rs:451) — Spark
      // would instead return NaN/NULL/Infinity. raise_error keeps the
      // happy path codegen'd; the branch only fires on the bad row.
      case "SQRT" =>
        when(a(0) < 0, raise_error(
          lit("SQRT of negative number is undefined")).cast("double"))
          .otherwise(sqrt(a(0)))
      case "POWER" | "POW" =>
        val r = pow(a(0), a(1))
        when(isnan(r) || r === lit(Double.PositiveInfinity) ||
            r === lit(Double.NegativeInfinity),
          raise_error(concat_ws("", lit("POWER("), a(0).cast("string"),
            lit(", "), a(1).cast("string"),
            lit(") results in invalid value"))).cast("double"))
          .otherwise(r)
      case "LOG" =>
        when(a(0) <= 0, raise_error(
          lit("LOG of zero or negative number is undefined")).cast("double"))
          .otherwise(log(a(0)))
      case "LOG10" =>
        when(a(0) <= 0, raise_error(
          lit("LOG10 of zero or negative number is undefined")).cast("double"))
          .otherwise(log10(a(0)))
      case "EXP" =>
        val r = exp(a(0))
        when(r === lit(Double.PositiveInfinity),
          raise_error(concat_ws("", lit("EXP("), a(0).cast("string"),
            lit(") results in overflow"))).cast("double"))
          .otherwise(r)
      case "SIN" => sin(a(0))
      case "COS" => cos(a(0))
      case "TAN" => tan(a(0))
      case "PI" => lit(math.Pi)
      case "SIGN" => signum(a(0))
      case "MOD" => a(0) % a(1) // truncated, mathematical_functions.rs:763
      case "ROUND" if args0.size == 2 => rawArgs(1) match {
        case NumLit(x, true) => round(a(0), x.toInt)
        case other => throw new GqlCompileException(
          s"ROUND scale must be an integer literal, got $other")
      }
      case "ROUND" => round(a(0))
      // null (null_functions.rs)
      case "NULLIF" =>
        // the reference compares through typed Value equality
        // (null_functions.rs:53) — cross-kind operands are never equal,
        // so NULLIF(1, '1') returns 1 where Spark's nullif would
        // PromoteStrings-coerce them equal (the SAME/ALL_DIFFERENT rule)
        val (c0, c1) = (a(0), a(1)) // named arity error first
        (kindOf(rawArgs(0)), kindOf(rawArgs(1))) match {
          case (Some(k0), Some(k1))
              if k0 != k1 && k0 != "NULL" && k1 != "NULL" => c0
          case _ => nullif(c0, c1)
        }
      case "COALESCE" => coalesce(args0: _*)
      case other => throw new GqlCompileException(
        s"not a shared scalar function: $other")
    }
  }

  /** Spark column type → reference value-kind name (STRING / NUMBER /
    * BOOLEAN / LIST / DATETIME / NULL). Shared by the query compiler's
    * [[Compiler.staticKind]] schema lookups and the DML evaluator's
    * schema-derived kindOf, so both surfaces classify property columns
    * identically.
    */
  private[graft] def dtKind(
      dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some("STRING")
      case _: NumericType => Some("NUMBER")
      case BooleanType => Some("BOOLEAN")
      case _: ArrayType => Some("LIST")
      case TimestampType | TimestampNTZType | DateType => Some("DATETIME")
      case _: StructType => Some("DATETIME") // only zoned (tz, ts) structs
      case NullType => Some("NULL")
      case _ => None
    }
  }
}

/** Compiles the GQL AST straight to DataFrame transformations.
  *
  * This replaces the reference's logical/physical planner + interpreter
  * (plan/operators/logical.rs, physical.rs, exec/executor.rs): we emit a
  * declarative Catalyst
  * plan and let Spark do predicate pushdown, join selection, partial
  * aggregation and codegen (SURVEY.md §4.1 — most reference rewrites are
  * Catalyst built-ins).
  *
  * Binding model: node variable `a` occupies columns `a_id`, `a_<prop>`;
  * edge variable `e` occupies `e_eid`, `e_<prop>`; WITH/UNWIND aliases are
  * plain columns. Entity identity (executor.rs:7865-7894) is the id
  * column — `RETURN a` yields `a_id`, so DISTINCT and set ops are
  * identity-based exactly like the reference.
  */
final class Compiler(graph: PropertyGraph,
    params: Map[String, Any] = Map.empty,
    /** Opt-in bug-compat number mode (reference value.rs:449-453: all
      * arithmetic runs in f64) — arithmetic operands cast to double, so
      * results compare bit-for-bit with the reference's engine. Off by
      * default: native Spark numeric semantics (int ops stay integral).
      */
    f64Numbers: Boolean = false,
    /** Session-level scalar-subquery memo (cache/subquery_cache.rs):
      * `(cache, epoch)` — when present, uncorrelated scalar subqueries
      * evaluate eagerly through the cache and inline as literals, so two
      * outer queries sharing `(MATCH … RETURN max(x))` cost one job.
      */
    subqueries: Option[(graft.cache.SubqueryCache, Long)] = None,
    /** Session time zone (SESSION SET TIME ZONE — session/models.rs:
      * 277-285). Naive timestamps belong to this zone: EXTRACT_TIMEZONE
      * on a non-struct value reports it (name + DST-correct offset at the
      * instant) instead of pinned UTC/0. Component extraction (hour, day,
      * …) picks the zone up from spark.sql.session.timeZone, which the
      * session pins during analysis (GqlSession.withTz).
      */
    sessionTz: String = "UTC",
    /** An executing compile: a seeded first hop may run one bounded job
      * to collect its adjacency ([[seededAdjacency]]). Plan-only
      * compiles (EXPLAIN) leave it off and stay job-free.
      */
    lookups: Boolean = false) {

  sealed trait Binding
  /** A node variable constrained to ALL of `labels` (multi-label pattern
    * `(a:L1:L2)` = intersection of the per-label tables; labels.head is
    * the carrier table for identity/props).
    */
  case class NodeBinding(labels: Seq[String]) extends Binding {
    def primary: String = labels.head
  }
  object NodeBinding {
    def one(label: String): NodeBinding = NodeBinding(Seq(label))
  }
  /** A label-less node variable `(n)` — the union of every label table,
    * with the label carried per-row in `<v>_label` (identity stays the
    * (label, id) pair, matching executor.rs:7865-7894).
    */
  case object UnionNode extends Binding
  /** An edge variable. `types` lists every edge type the hop's oriented
    * union can bind per-row (multi-type patterns `[t:A|B]` and type-less
    * `[t]` produce >1); the per-row type rides in `<v>_label`. `primary`
    * is only a representative for single-type shortcuts.
    */
  case class EdgeBinding(types: Seq[String]) extends Binding {
    def primary: String = types.head
  }
  case object ValueBinding extends Binding

  private case class Ctx(bindings: Map[String, Binding]) {
    def nodeLabel(v: String): Option[String] = bindings.get(v) match {
      case Some(b: NodeBinding) => Some(b.primary)
      case _ => None
    }
    def isNodeLike(v: String): Boolean = bindings.get(v) match {
      case Some(_: NodeBinding) | Some(UnionNode) => true
      case _ => false
    }
  }

  private var freshId = 0
  private def fresh(prefix: String): String = { freshId += 1; s"__$prefix$freshId" }

  private lazy val singleRow: DataFrame =
    graph.nodeTables.values.headOption
      .map(_.sparkSession)
      // an empty graph still evaluates standalone RETURN/LET queries —
      // borrow the active session for the one-row seed
      .orElse(Some(org.apache.spark.sql.SparkSession.active))
      .map(_.range(1).toDF(fresh("one"))).get

  /** Property references per variable across the whole query — lets the
    * pattern compiler skip joining a node table whose properties are never
    * read (the edge's dst column already carries the identity, and the
    * edge type guarantees label membership). At scale that elides a full
    * shuffle join per unreferenced pattern node.
    */
  private var usedProps: Map[String, Set[String]] = Map.empty

  /** Names (WITH/LET aliases) currently bound to a named-tz (tz, ts)
    * struct value. The Column-based compiler resolves value kinds from
    * expression shape ([[ZonedShape]]); without this set, a zoned value
    * carried through `WITH z AS zz` would silently take the naive branch
    * in EXTRACT_TIMEZONE / LOCAL_DATETIME (zone 'UTC', offset 0) instead
    * of its real zone.
    */
  private var zonedVals: Set[String] = Set.empty

  /** WITH/LET aliases whose defining expression had a statically known
    * value kind (see [[staticKind]]) — lets TYPE()/SIZE() dispatch on
    * values carried through `WITH d.tags AS arr`
    * (utility_functions_test.rs exercises exactly that shape).
    */
  private var aliasKinds: Map[String, String] = Map.empty

  /** Aliases holding `collect(nodeVar)` results (an array of node ids)
    * with the collected variable's labels — UNWIND re-expands them into
    * full node bindings (`WITH collect(p) AS ps UNWIND ps AS product …
    * REMOVE product.flag`, match_with_tests.rs:1709-1852).
    */
  private var collectedEntities: Map[String, Seq[String]] = Map.empty

  private def collectProps(e: Expr, acc: scala.collection.mutable.Map[String, Set[String]]): Unit = e match {
    case Prop(v, p) => acc(v) = acc.getOrElse(v, Set.empty) + p
    case ExistsPattern(paths) =>
      paths.foreach { pp =>
        (pp.start +: pp.hops.map(_._2)).foreach { np =>
          np.props.foreach { case (_, pe) => collectProps(pe, acc) }
          np.variable.foreach { v =>
            val keys = np.props.map(_._1).toSet
            if (keys.nonEmpty) acc(v) = acc.getOrElse(v, Set.empty) ++ keys
          }
        }
        pp.hops.map(_._1).foreach(_.props.foreach { case (_, pe) =>
          collectProps(pe, acc) })
      }
    case Fn(_, args, _) => args.foreach(collectProps(_, acc))
    case Bin(_, l, r) => collectProps(l, acc); collectProps(r, acc)
    case Not(x) => collectProps(x, acc)
    case Neg(x) => collectProps(x, acc)
    case IsNull(x, _) => collectProps(x, acc)
    case IsTruth(x, _, _) => collectProps(x, acc)
    case InList(x, items, _) => collectProps(x, acc); items.foreach(collectProps(_, acc))
    case StringPred(_, l, r, _) => collectProps(l, acc); collectProps(r, acc)
    case CaseExpr(s, ws, o) =>
      s.foreach(collectProps(_, acc))
      ws.foreach { case (c, v) => collectProps(c, acc); collectProps(v, acc) }
      o.foreach(collectProps(_, acc))
    case Cast(x, _) => collectProps(x, acc)
    case Index(x, i) => collectProps(x, acc); collectProps(i, acc)
    case FieldAccess(x, _) => collectProps(x, acc)
    case ListLit(items) => items.foreach(collectProps(_, acc))
    case IsSrcDst(n, e, _, _) => collectProps(n, acc); collectProps(e, acc)
    case IsNormalized(x, _) => collectProps(x, acc)
    case IsDirected(x, _) => collectProps(x, acc)
    case IsLabeled(x, _, _) => collectProps(x, acc)
    case Subquery(q) => collectQueryExprProps(q, acc)
    case QuantifiedCmp(_, _, l, q) =>
      collectProps(l, acc); collectQueryExprProps(q, acc)
    case _ => ()
  }

  private def collectQueryExprProps(qe: QueryExpr,
      acc: scala.collection.mutable.Map[String, Set[String]]): Unit = qe match {
    case SetOpQuery(_, _, l, r) =>
      collectQueryExprProps(l, acc); collectQueryExprProps(r, acc)
    case OrderedQuery(inner, _, _, _) => collectQueryExprProps(inner, acc)
    case q: Query => collectQueryProps(q, acc)
  }

  /** Compile a query expression: a pipeline query or a set operation
    * between two (ast.rs:208-228). Set-op alignment is positional with the
    * left side's column names, SQL-style; UNION dedups, UNION ALL keeps
    * duplicates, INTERSECT/EXCEPT get their ALL variants via Spark's
    * intersectAll/exceptAll.
    */
  def compile(q: QueryExpr): DataFrame = q match {
    case s: SetOpQuery =>
      val (d, hidden) = compileSetOp(s)
      if (hidden.isEmpty) d else d.drop(hidden: _*)
    case OrderedQuery(inner, orderBy, skip, limit) =>
      applyTail(compile(inner), orderBy, skip, limit)
    case q: Query => compileQuery(q)
  }

  /** Compile a set-op operand keeping hidden entity-identity columns.
    *
    * Within one query, DISTINCT and grouping on a bare entity variable
    * dedup by the (type, eid) / (label, id) PAIR — ids are only unique
    * within one type. A set operation BETWEEN queries compares final
    * projections, where `RETURN t` is just the eid column, so the same
    * two edges would compare equal by value. To keep the identity
    * semantics across query boundaries, every bare entity item in an
    * operand's final projection also emits a hidden `__sid<i>` column
    * holding its label/type (a literal for single-type bindings, the
    * per-row label column for union bindings; NULL for value items —
    * set-op comparisons are null-safe, so a NULL id is inert). The
    * columns participate in the UNION dedup / INTERSECT / EXCEPT
    * comparison and are dropped at the outermost level. Operands whose
    * shapes don't line up (one side aggregates or stars where the other
    * binds an entity) drop the unmatched hidden columns and fall back to
    * value comparison for that item, matching the previous behavior.
    */
  private def compileSetOp(q: QueryExpr): (DataFrame, Seq[String]) = q match {
    case SetOpQuery(op, all, l, r) =>
      val (ld0, lh) = compileSetOp(l)
      val (rd0, rh) = compileSetOp(r)
      val common = lh.toSet intersect rh.toSet
      val ld = ld0.drop(lh.filterNot(common): _*)
      val rd = rd0.drop(rh.filterNot(common): _*)
      val visL = ld.columns.filterNot(common)
      val visR = rd.columns.filterNot(common)
      if (visL.length != visR.length)
        throw new GqlCompileException(
          s"$op sides have ${visL.length} vs ${visR.length} columns")
      val hidden = lh.filter(common)
      // align positionally (columns are already ordered visible-then-
      // hidden on both sides, and the hidden names match by item index);
      // col()-based reordering would mis-parse dotted output names like
      // `a.name` as field access
      val ra = rd.toDF((visL ++ hidden).toIndexedSeq: _*)
      val la = ld
      val out = op match {
        case "UNION" => if (all) la.unionAll(ra) else la.unionAll(ra).distinct()
        case "INTERSECT" => if (all) la.intersectAll(ra) else la.intersect(ra)
        case "EXCEPT" => if (all) la.exceptAll(ra) else la.except(ra)
        case other => throw new GqlCompileException(s"unknown set op $other")
      }
      (out, hidden)
    case OrderedQuery(inner, orderBy, skip, limit) =>
      val (d, hidden) = compileSetOp(inner)
      (applyTail(d, orderBy, skip, limit), hidden)
    case q0: Query =>
      val (q1, hidden) = withSetOpIds(q0)
      (compileQuery(q1), hidden)
  }

  /** Append hidden `__SETOP_ID` items for each bare-variable item in the
    * final projection — see [[compileSetOp]]. Skips explicit GROUP BY
    * and `RETURN *` shapes (their identity keys are managed elsewhere /
    * out of scope), returning the query unchanged.
    */
  private def withSetOpIds(q: Query): (Query, Seq[String]) = {
    val last = q.segments.last
    if (last.projection.isEmpty || last.groupBy.nonEmpty ||
        last.projection.exists(_.expr.isInstanceOf[Star]))
      return (q, Seq.empty)
    val hidden = last.projection.zipWithIndex.collect {
      case (ReturnItem(Ident(v), _), i) =>
        (ReturnItem(Fn("__SETOP_ID", Seq(Ident(v))), Some(s"__sid$i")),
          s"__sid$i")
    }
    if (hidden.isEmpty) (q, Seq.empty)
    else (q.copy(segments = q.segments.init :+ last.copy(
      projection = last.projection ++ hidden.map(_._1))), hidden.map(_._2))
  }

  /** Tail ORDER BY / SKIP / LIMIT over a compiled (projected) result —
    * sort keys resolve against output column names or 1-based positions.
    */
  private def applyTail(d0: DataFrame, orderBy: Seq[SortItem],
      skip: Option[Long], limit: Option[Long]): DataFrame = {
    var d = d0
    if (orderBy.nonEmpty) {
      val sortCols = orderBy.map { s =>
        val c = s.expr match {
          case NumLit(v, true) if v >= 1 && v <= d.columns.length =>
            outCol(d.columns(v.toInt - 1))
          case Ident(n) if d.columns.contains(n) => col(n)
          // an un-aliased property projection names its column `v.p`
          case Prop(v, pr) if d.columns.contains(s"$v.$pr") =>
            outCol(s"$v.$pr")
          case Prop(_, pr) if d.columns.contains(pr) => col(pr)
          case other => throw new GqlCompileException(
            s"set-op ORDER BY must name an output column or position, got $other")
        }
        if (s.ascending) c.asc_nulls_last else c.desc_nulls_first
      }
      d = d.orderBy(sortCols: _*)
    }
    skip.foreach(n => d = d.offset(n.toInt))
    limit.foreach(n => d = d.limit(n.toInt))
    d
  }

  /** Compile a MutationPipeline's read part (ast.rs:140-180): all
    * segments run in WITH mode (entities keep their `<v>_id` columns and
    * bindings), and the properties the final mutation clause reads are
    * appended to the last projection. Returns the binding table plus the
    * final variable bindings for the session's mutation step.
    */
  def compileMutationPipeline(q: Query,
      mutationExprs: Seq[Expr]): (DataFrame, Map[String, Binding]) = {
    val acc = scala.collection.mutable.Map[String, Set[String]]()
    collectQueryProps(q, acc)
    mutationExprs.foreach(collectProps(_, acc))
    usedProps = acc.toMap

    val propRefs = scala.collection.mutable.LinkedHashSet[(String, String)]()
    def refs(e: Expr): Unit = e match {
      case Prop(v, p) => propRefs += ((v, p))
      case Bin(_, l, r) => refs(l); refs(r)
      case Not(x) => refs(x); case Neg(x) => refs(x)
      case IsNull(x, _) => refs(x); case IsTruth(x, _, _) => refs(x)
      case InList(x, items, _) => refs(x); items.foreach(refs)
      case StringPred(_, l, r, _) => refs(l); refs(r)
      case CaseExpr(s, ws, o) =>
        s.foreach(refs); ws.foreach { case (c, v) => refs(c); refs(v) }
        o.foreach(refs)
      case Cast(x, _) => refs(x); case Index(x, i) => refs(x); refs(i)
      case FieldAccess(x, _) => refs(x)
      case Fn(_, args, _) => args.foreach(refs)
      case _ => ()
    }
    mutationExprs.foreach(refs)
    // `v.id` needs no extra item: the identity column `v_id` always
    // travels with an entity binding's Star expansion, and a duplicate
    // projection would make the reference ambiguous (pipeline INSERT of
    // `{user_id: u.id}` hit exactly that). The same holds for `e.eid` on
    // edge variables — their expansion always carries `<e>_eid`, so skip
    // it for every variable the patterns bind as an edge.
    val edgeVars: Set[String] = q.segments.flatMap(s =>
      (s.matches ++ s.optionalMatches).flatMap(_.hops.flatMap(_._1.variable))
    ).toSet
    val extraItems = propRefs.toSeq.collect {
      case (v, pr) if pr != "id" && !(pr == "eid" && edgeVars.contains(v)) =>
        ReturnItem(Prop(v, pr), Some(s"${v}_$pr"))
    }
    val last = q.segments.last
    val segs = q.segments.init :+ last.copy(
      projection = last.projection ++ extraItems)

    var df: Option[DataFrame] = None
    var bindings = Map.empty[String, Binding]
    segs.foreach { seg =>
      val (d2, b2) = compileSegment(seg, df, bindings, isFinal = false)
      df = Some(d2)
      bindings = b2
    }
    (df.get, bindings)
  }

  /** Compile an expression against a binding table produced by
    * [[compileMutationPipeline]] (session mutation support).
    */
  def columnFor(e: Expr, bindings: Map[String, Binding]): Column =
    compileExpr(e, Ctx(bindings))

  private def collectQueryProps(q: Query,
      acc: scala.collection.mutable.Map[String, Set[String]]): Unit =
    q.segments.foreach { seg =>
      seg.where.foreach(collectProps(_, acc))
      seg.postWhere.foreach(collectProps(_, acc))
      seg.having.foreach(collectProps(_, acc))
      seg.steps.foreach {
        case StUnwind(e, _) => collectProps(e, acc)
        case StLet(defs) => defs.foreach { case (_, e) => collectProps(e, acc) }
        case StFilter(e) => collectProps(e, acc)
      }
      seg.projection.foreach(it => collectProps(it.expr, acc))
      seg.groupBy.foreach(collectProps(_, acc))
      seg.orderBy.foreach(s => collectProps(s.expr, acc))
      (seg.matches ++ seg.optionalMatches).foreach { p =>
        (p.start +: p.hops.map(_._2)).foreach { np =>
          np.props.foreach { case (_, e) => collectProps(e, acc) }
          np.variable.foreach { v =>
            val keys = np.props.map(_._1).toSet
            if (keys.nonEmpty) acc(v) = acc.getOrElse(v, Set.empty) ++ keys
          }
        }
        p.hops.map(_._1).foreach(_.props.foreach { case (_, e) =>
          collectProps(e, acc) })
      }
    }

  /** Compile with a seeded working table (NEXT binding-table passing,
    * executor.rs:8559-8641: YIELD forwards the previous statement's
    * columns as the next statement's incoming binding table — all rows,
    * not a scalar snapshot). Each seed column is a value binding; the
    * first segment's MATCH patterns join onto the seeded rows.
    */
  def compileSeeded(q: QueryExpr, seed: DataFrame): DataFrame = q match {
    case SetOpQuery(op, all, l, r) =>
      val ld = compileSeeded(l, seed)
      val rd = compileSeeded(r, seed)
      if (ld.columns.length != rd.columns.length)
        throw new GqlCompileException(
          s"$op sides have ${ld.columns.length} vs ${rd.columns.length} columns")
      val ra = rd.toDF(ld.columns.toIndexedSeq: _*)
      op match {
        case "UNION" => if (all) ld.unionAll(ra) else ld.unionAll(ra).distinct()
        case "INTERSECT" => if (all) ld.intersectAll(ra) else ld.intersect(ra)
        case "EXCEPT" => if (all) ld.exceptAll(ra) else ld.except(ra)
        case other => throw new GqlCompileException(s"unknown set op $other")
      }
    case OrderedQuery(inner, orderBy, skip, limit) =>
      applyTail(compileSeeded(inner, seed), orderBy, skip, limit)
    case q: Query =>
      compileQuery(q, Some(seed),
        seed.columns.map(_ -> (ValueBinding: Binding)).toMap)
  }

  def compileQuery(q: Query): DataFrame =
    compileQuery(q, None, Map.empty)

  private def compileQuery(q: Query, seed: Option[DataFrame],
      seedBindings: Map[String, Binding]): DataFrame = {
    val acc = scala.collection.mutable.Map[String, Set[String]]()
    q.segments.foreach { seg =>
      seg.where.foreach(collectProps(_, acc))
      seg.postWhere.foreach(collectProps(_, acc))
      seg.having.foreach(collectProps(_, acc))
      seg.steps.foreach {
        case StUnwind(e, _) => collectProps(e, acc)
        case StLet(defs) => defs.foreach { case (_, e) => collectProps(e, acc) }
        case StFilter(e) => collectProps(e, acc)
      }
      seg.projection.foreach(it => collectProps(it.expr, acc))
      seg.groupBy.foreach(collectProps(_, acc))
      seg.orderBy.foreach(s => collectProps(s.expr, acc))
      (seg.matches ++ seg.optionalMatches).foreach { p =>
        (p.start +: p.hops.map(_._2)).foreach { np =>
          np.props.foreach { case (_, e) => collectProps(e, acc) }
          // inline prop maps filter on the variable's columns — count as use
          np.variable.foreach { v =>
            val keys = np.props.map(_._1).toSet
            if (keys.nonEmpty) acc(v) = acc.getOrElse(v, Set.empty) ++ keys
          }
        }
        p.hops.map(_._1).foreach(_.props.foreach { case (_, e) =>
          collectProps(e, acc) })
      }
    }
    usedProps = acc.toMap

    var df: Option[DataFrame] = seed
    var bindings = seedBindings
    q.segments.zipWithIndex.foreach { case (seg, i) =>
      val (d2, b2) = compileSegment(seg, df, bindings,
        isFinal = i == q.segments.size - 1)
      df = Some(d2)
      bindings = b2
    }
    df.get
  }

  /** Compile MATCH patterns + WHERE into a binding table (used by
    * MATCH…INSERT). Returns the DataFrame (columns `<var>_id`, props)
    * plus each variable's node label.
    */
  def compileBinding(matches: Seq[PathPattern],
      where: Option[Expr]): (DataFrame, Map[String, String]) = {
    // prop collection so scans/hops behave as in full queries
    val acc = scala.collection.mutable.Map[String, Set[String]]()
    where.foreach(collectProps(_, acc))
    matches.foreach { p =>
      (p.start +: p.hops.map(_._2)).foreach { np =>
        np.props.foreach { case (_, e) => collectProps(e, acc) }
        np.variable.foreach { v =>
          val keys = np.props.map(_._1).toSet
          if (keys.nonEmpty) acc(v) = acc.getOrElse(v, Set.empty) ++ keys
        }
      }
    }
    usedProps = acc.toMap
    var df: Option[DataFrame] = None
    var ctx = Ctx(Map.empty)
    matches.foreach { path =>
      val (d2, c2) = compilePath(path, df, ctx)
      df = Some(d2); ctx = c2
    }
    var out = df.getOrElse(throw new GqlCompileException("empty MATCH"))
    where.foreach { w =>
      splitAnd(w).foreach {
        case ExistsPattern(paths) => out = existsJoin(out, paths, ctx, "left_semi")
        case Not(ExistsPattern(paths)) => out = existsJoin(out, paths, ctx, "left_anti")
        case other if containsExists(other) || containsSubquery(other) =>
          val (d2, e2) =
            if (containsExists(other)) materializeExists(out, other, ctx)
            else (out, other)
          val (d3, Seq(e3)) =
            if (containsSubquery(e2)) materializeScalars(d2, Seq(e2), ctx)
            else (d2, Seq(e2))
          out = d3.filter(compileExpr(e3, ctx))
        case other => out = out.filter(compileExpr(other, ctx))
      }
    }
    val labels = ctx.bindings.collect { case (v, b: NodeBinding) => v -> b.primary }
    (out, labels)
  }

  // ------------------------------------------------------------------
  // segment
  // ------------------------------------------------------------------
  private def compileSegment(seg: Segment, prev: Option[DataFrame],
      prevBindings: Map[String, Binding],
      isFinal: Boolean): (DataFrame, Map[String, Binding]) =
    // save/restore curFrame around the WHOLE segment: subquery and
    // EXISTS compilation re-enters this method, and without the scope a
    // nested segment's last frame assignment would leak into the outer
    // segment's remaining compile batches (ADVICE r16)
    withFrame(curFrame)(compileSegment0(seg, prev, prevBindings, isFinal))

  private def compileSegment0(seg: Segment, prev: Option[DataFrame],
      prevBindings: Map[String, Binding], isFinal: Boolean): (DataFrame, Map[String, Binding]) = {
    var ctx = Ctx(prevBindings)
    var df = prev

    // Node variables carried through WITH keep only their id column; if
    // this or a later segment reads their properties, re-join the node
    // table once up front (label known from the binding).
    prevBindings.foreach {
      case (v, b: NodeBinding) if df.isDefined =>
        val needed = usedProps.getOrElse(v, Set.empty)
        val missing0 = needed.filterNot(pr => df.get.columns.contains(s"${v}_$pr"))
        if (missing0.nonEmpty) {
          graph.nodeTables.get(b.primary).foreach { t =>
            val renamed = t.columns.foldLeft(t)((acc, c) =>
              acc.withColumnRenamed(c, if (c == "id") s"${v}_id" else s"${v}_$c"))
            val (dA, rA) = alignIdTypes(df.get, renamed, s"${v}_id")
            df = Some(dA.join(rA, s"${v}_id"))
          }
          // multi-label intersection: props merged from the OTHER label
          // tables (scanNodeMulti semantics) — each still-missing prop
          // re-attaches from the first remaining label that has it
          var missing = needed.filterNot(pr =>
            df.get.columns.contains(s"${v}_$pr"))
          b.labels.tail.foreach { l =>
            if (missing.nonEmpty) graph.nodeTables.get(l).foreach { t =>
              val cols = missing.filter(t.columns.contains).toSeq.sorted
              if (cols.nonEmpty) {
                val side = t.select(col("id").as(s"${v}_id") +:
                  cols.map(c => col(c).as(s"${v}_$c")): _*)
                val (dA, sA) = alignIdTypes(df.get, side, s"${v}_id")
                df = Some(dA.join(sA, Seq(s"${v}_id")))
                missing --= cols
              }
            }
          }
        }
      case (v, UnionNode) if df.isDefined =>
        // a union var carries (id, label) through WITH; re-join missing
        // props from the all-labels union scan on the identity pair
        val needed = usedProps.getOrElse(v, Set.empty)
        val missing = needed.filterNot(pr => df.get.columns.contains(s"${v}_$pr"))
        if (missing.nonEmpty) {
          val all = scanAllLabels(v, Seq.empty, ctx)
          val side = all.select((Seq(col(s"${v}_id"), col(s"${v}_label")) ++
            missing.toSeq.sorted.map(pr => col(s"${v}_$pr"))): _*)
          val (dA, sA) = alignIdTypes(df.get, side, s"${v}_id")
          df = Some(dA.join(sA, Seq(s"${v}_id", s"${v}_label")))
        }
      case _ => ()
    }

    // MATCH patterns
    seg.matches.foreach { path =>
      val (d2, c2) = compilePath(path, df, ctx)
      df = Some(d2); ctx = c2
    }
    // OPTIONAL MATCH: compile standalone, left-join on shared columns
    seg.optionalMatches.foreach { path =>
      val (optDf, c2) = compilePath(path, None, Ctx(Map.empty))
      val base = df.getOrElse(throw new GqlCompileException(
        "OPTIONAL MATCH requires a preceding MATCH"))
      val shared = base.columns.toSet.intersect(optDf.columns.toSet).toSeq
      if (shared.isEmpty)
        throw new GqlCompileException("OPTIONAL MATCH must share a variable")
      df = Some(base.join(optDf, shared, "left_outer"))
      ctx = Ctx(ctx.bindings ++ c2.bindings)
    }
    // WHERE (pre-projection). EXISTS / NOT EXISTS pattern predicates at
    // top-level conjuncts become semi/anti joins (the reference's subquery
    // unnesting, logical_optimizer.rs:283-516); EXISTS in any other
    // boolean position becomes a marker-join boolean column; everything
    // else filters.
    def applyWhere(w: Expr): Unit = {
      var base = df.getOrElse(throw new GqlCompileException("WHERE without input"))
      curFrame = Some(base)
      splitAnd(w).foreach {
        case ExistsPattern(paths) => base = existsJoin(base, paths, ctx, "left_semi")
        case Not(ExistsPattern(paths)) => base = existsJoin(base, paths, ctx, "left_anti")
        case other if containsExists(other) || containsSubquery(other) =>
          val (d2, e2) =
            if (containsExists(other)) materializeExists(base, other, ctx)
            else (base, other)
          val (d3, Seq(e3)) =
            if (containsSubquery(e2)) materializeScalars(d2, Seq(e2), ctx)
            else (d2, Seq(e2))
          base = d3.filter(compileExpr(e3, ctx))
        case other => base = base.filter(compileExpr(other, ctx))
      }
      df = Some(base)
    }
    seg.where.foreach(applyWhere)

    // linear steps: UNWIND / FOR / LET / FILTER, in statement order
    seg.steps.foreach {
      case StUnwind(e, as) =>
        val in = df.getOrElse(singleRow)
        e match {
          // UNWIND of a collected node list re-binds full entities: the
          // exploded element is the node id; referenced properties
          // re-attach from the label table by id (one broadcast-able
          // equi-join — the label dimension is the small side at scale)
          case Ident(v) if collectedEntities.contains(v) =>
            val labels = collectedEntities(v)
            var d = in.withColumn(s"${as}_id", explode(col(v)))
            // "id" is already bound by the explode — re-selecting it from
            // a label table would duplicate `<as>_id` (ambiguous ref).
            // A multi-label binding is the INTERSECTION of its label
            // tables with merged properties (scanNodeMulti), so each
            // referenced property re-attaches from the first label table
            // that has it — labels.head first, same carrier precedence.
            var remaining = usedProps.getOrElse(as, Set.empty).filter(_ != "id")
            labels.foreach { l =>
              val cols = graph.nodeTables.get(l).toSeq.flatMap(t =>
                remaining.filter(t.columns.contains).toSeq.sorted)
              if (cols.nonEmpty) {
                val t = graph.nodeTables(l)
                val sel = t.select(col("id").as(fresh("uwid")) +:
                  cols.map(p => col(p).as(s"${as}_$p")): _*)
                val key = sel.columns.head
                d = d.join(sel, d(s"${as}_id") === sel(key), "left").drop(key)
                remaining --= cols
              }
            }
            df = Some(d)
            ctx = Ctx(ctx.bindings + (as -> NodeBinding(labels)))
          case _ =>
            curFrame = Some(in)
            df = Some(in.withColumn(as, explode(compileExpr(e, ctx))))
            ctx = Ctx(ctx.bindings + (as -> ValueBinding))
        }
        aliasKinds -= as // element kind of the unwound list is dynamic
        collectedEntities -= as // a rebound name is no longer a node list
      case StLet(defs) =>
        var in = df.getOrElse(singleRow)
        defs.foreach { case (v, e) =>
          curFrame = Some(in)
          in = in.withColumn(v, compileExpr(e, ctx))
          aliasKinds = staticKind(e, ctx) match {
            case Some(k) => aliasKinds + (v -> k)
            case None => aliasKinds - v
          }
          ctx = Ctx(ctx.bindings + (v -> ValueBinding))
          collectedEntities -= v // LET shadows any collected-node alias
          zonedVals = e match {
            case ZonedShape() => zonedVals + v
            case _ => zonedVals - v
          }
        }
        df = Some(in)
      case StFilter(e) => applyWhere(e)
    }

    // standalone RETURN (no MATCH): evaluate over one synthetic row
    var base = df.getOrElse(singleRow)

    // scalar subqueries / quantified comparisons in RETURN, GROUP BY or
    // ORDER BY positions materialize as columns on the pre-projection
    // frame; the expressions below then reference plain columns
    val seg1: Segment =
      if (!(seg.projection.exists(it => containsSubquery(it.expr)) ||
            seg.groupBy.exists(containsSubquery) ||
            seg.orderBy.exists(s => containsSubquery(s.expr)))) seg
      else {
        val exprs = seg.projection.map(_.expr) ++ seg.groupBy ++
          seg.orderBy.map(_.expr)
        val (d2, rewritten) = materializeScalars(base, exprs, ctx)
        base = d2
        val (pe, rest) = rewritten.splitAt(seg.projection.size)
        val (ge, oe) = rest.splitAt(seg.groupBy.size)
        seg.copy(
          projection = seg.projection.zip(pe).map { case (it, e2) =>
            it.copy(expr = e2) },
          groupBy = ge,
          orderBy = seg.orderBy.zip(oe).map { case (s, e2) =>
            s.copy(expr = e2) })
      }

    curFrame = Some(base)

    // ---- projection (+ implicit/explicit grouping) ----
    // RETURN * expands to every bound variable (entities as ids), sorted;
    // a Star may also appear alongside explicit items (mutation pipelines
    // append the properties the final SET reads)
    val expanded0: Seq[ReturnItem] = seg1.projection.flatMap {
      case ReturnItem(Star(), _) =>
        ctx.bindings.toSeq.sortBy(_._1).filterNot(_._1.startsWith("__")).map {
          case (v, _) => ReturnItem(Ident(v), None)
        }
      case other => Seq(other)
    }
    // a label-less (union) var carried through WITH projects its per-row
    // label alongside the id — identity is the (label, id) pair, and the
    // next segment's hops re-constrain on the label column
    val expanded: Seq[ReturnItem] = expanded0.flatMap {
      case it @ ReturnItem(Ident(v), None)
          if !isFinal && ctx.bindings.get(v).contains(UnionNode) =>
        Seq(it, ReturnItem(Prop(v, "label"), Some(s"${v}_label")))
      // a multi-type edge var likewise carries its per-row matched type:
      // TYPE(), IS :Type, and per-type DML partitioning read it later.
      // Ident("<v>_label") addresses the physical column directly —
      // Prop(v, "label") is a user-level property access and folds to
      // NULL under the dynamic-property rule
      case it @ ReturnItem(Ident(v), al)
          if !isFinal && ctx.bindings.get(v).exists {
            case eb: EdgeBinding => eb.types.size > 1
            case _ => false
          } =>
        Seq(it, ReturnItem(Ident(s"${v}_label"),
          Some(s"${al.getOrElse(v)}_label")))
      case other => Seq(other)
    }
    val items = expanded.zipWithIndex.map { case (it, i) =>
      (it, itemName(it, i, ctx, isFinal))
    }
    val itemMap: Map[Expr, String] = items.map { case (it, n) => it.expr -> n }.toMap

    val hasAgg = items.exists { case (it, _) => containsAgg(it.expr) } ||
      seg1.groupBy.nonEmpty || seg1.having.exists(containsAgg)

    // DISTINCT over a bare entity var whose identity is a (label, id)
    // pair dedups on BOTH columns: ids are only unique within one
    // label/type, so eid-only dedup would merge distinct edges. The
    // label rides as a hidden column through the dedup, then drops.
    val distinctIdCols: Seq[(String, String)] =
      if (!seg1.distinct) Seq.empty
      else items.zipWithIndex.collect {
        case ((ReturnItem(Ident(v), _), _), i)
            if pairIdentityLabel(v, ctx).isDefined &&
              !items.exists { case (it2, _) =>
                it2.expr == Ident(s"${v}_label") ||
                  // Prop(v,"label") only carries the physical label for
                  // union NODE vars; for edges it is an absent property
                  // (NULL) and must not suppress the hidden column
                  (ctx.bindings.get(v).contains(UnionNode) &&
                    it2.expr == Prop(v, "label")) } =>
          (pairIdentityLabel(v, ctx).get, s"__did$i")
      }.distinct

    // hidden aggregates needed by HAVING / ORDER BY but not projected
    val hiddenAggs = scala.collection.mutable.LinkedHashMap[Expr, String]()

    var aggPairKeyNames: Seq[String] = Seq.empty
    var out: DataFrame =
      if (!hasAgg) {
        val cols = items.map { case (it, n) => compileExpr(it.expr, ctx).as(n) }
        base.select(cols ++ distinctIdCols.map { case (src, n) =>
          col(src).as(n) }: _*)
      } else {
        val keyExprs0: Seq[Expr] =
          if (seg1.groupBy.nonEmpty) seg1.groupBy
          else items.collect { case (it, _) if !containsAgg(it.expr) => it.expr }
        // an entity key whose identity is a (label, id) pair — union node
        // vars and multi-type edge vars — must group on the per-row label
        // too: ids are only unique within one label/type. The implicit
        // key list already carries the label via the projection expansion;
        // an explicit GROUP BY v needs it appended here.
        val appendedKeys: Seq[(String, Expr)] = keyExprs0.collect {
          case Ident(v) if ctx.bindings.get(v).contains(UnionNode) &&
              !keyExprs0.contains(Prop(v, "label")) =>
            v -> Prop(v, "label")
          case Ident(v)
              if ctx.bindings.get(v).exists {
                case eb: EdgeBinding => eb.types.size > 1
                case _ => false
              } && !keyExprs0.contains(Ident(s"${v}_label")) =>
            v -> Ident(s"${v}_label")
        }
        val keyExprs: Seq[Expr] = keyExprs0 ++ appendedKeys.map(_._2)
        val keyCols = keyExprs.zipWithIndex.map { case (e, i) =>
          compileExpr(e, ctx).as(itemMap.getOrElse(e, s"__k$i"))
        }
        // pair-identity label keys survive into a trailing DISTINCT so
        // it dedups per (label, id) like the grouping did — but only for
        // entity vars actually IN the projection: a grouped-but-not-
        // returned var's label must not block dedup of equal result rows
        aggPairKeyNames = appendedKeys.zipWithIndex.collect {
          case ((v, e), i)
              if items.exists { case (it, _) => it.expr == Ident(v) } =>
            itemMap.getOrElse(e, s"__k${keyExprs0.size + i}")
        }.filterNot(n => items.exists(_._2 == n))
        // aggregate columns from items (non-key items must contain aggs)
        val aggCols = items.collect {
          case (it, n) if containsAgg(it.expr) =>
            compileAggExpr(it.expr, ctx).as(n)
        }
        def registerHidden(e: Expr): Unit = aggSubtrees(e).foreach { a =>
          if (!itemMap.contains(a) && !hiddenAggs.contains(a))
            hiddenAggs(a) = fresh("agg")
        }
        seg1.having.foreach(registerHidden)
        seg1.orderBy.foreach(s => registerHidden(s.expr))
        val hiddenCols = hiddenAggs.map { case (e, n) =>
          compileAggExpr(e, ctx).as(n)
        }.toSeq

        val allAgg = aggCols ++ hiddenCols
        val grouped =
          if (allAgg.isEmpty) base.groupBy(keyCols: _*).agg(count(lit(1)).as(fresh("cnt")))
          else base.groupBy(keyCols: _*).agg(allAgg.head, allAgg.tail: _*)

        val postCtx = PostCtx(itemMap ++ hiddenAggs, ctx)
        var g = grouped
        seg1.having.foreach(h => g = g.filter(compilePost(h, postCtx)))
        g
      }

    val postCtx = PostCtx(itemMap ++ hiddenAggs, ctx)

    // WITH … WHERE (post-projection filter) — frame pinned to the
    // post-projection output, not the stale pre-projection base
    seg1.postWhere.foreach { w =>
      curFrame = Some(out)
      out = out.filter(compilePost(w, postCtx))
    }

    if (seg1.distinct) {
      val keep = items.map { case (_, n) => outCol(n) }
      val hiddenIds =
        if (hasAgg) aggPairKeyNames else distinctIdCols.map(_._2)
      out =
        if (hiddenIds.isEmpty) out.select(keep: _*).distinct()
        else out.select(keep ++ hiddenIds.map(outCol): _*)
          .distinct().select(keep: _*)
    }

    // ORDER BY resolved against output columns / hidden aggs.
    // Nulls ordering matches the reference, not Spark's default:
    // compare_values(nulls_first=false) sorts NULL as GREATER and DESC
    // reverses AFTER the comparison (executor.rs:6689, 6728-6739), so
    // ASC puts nulls last and DESC puts nulls first — Spark's asc/desc
    // defaults are the exact opposite on both directions.
    if (seg1.orderBy.nonEmpty) {
      curFrame = Some(out) // ORDER BY expressions evaluate against `out`
      val sortCols = seg1.orderBy.map { s =>
        val c = s.expr match {
          case NumLit(v, true) if v >= 1 && v <= items.size =>
            outCol(items(v.toInt - 1)._2) // ORDER BY <position>
          case e => compilePost(e, postCtx)
        }
        if (s.ascending) c.asc_nulls_last else c.desc_nulls_first
      }
      out = out.orderBy(sortCols: _*)
    }
    // drop hidden agg columns, keep declared items in order
    out = out.select(items.map { case (_, n) => outCol(n) }: _*)

    seg1.skip.foreach(n => out = out.offset(n.toInt))
    seg1.limit.foreach(n => out = out.limit(n.toInt))

    // next-segment bindings: bare node/edge vars stay entities — whether
    // kept under their own name or re-aliased (`WITH a AS node` keeps
    // `node` an entity; with_clause_property_access_bug.rs test 4 relies
    // on node passthrough + later property access)
    val nextBindings: Map[String, Binding] = items.map {
      case (ReturnItem(Ident(v), alias), _)
          if !isFinal && ctx.bindings.get(v).exists(b =>
            b.isInstanceOf[NodeBinding] || b.isInstanceOf[EdgeBinding]) =>
        alias.getOrElse(v) -> ctx.bindings(v)
      case (ReturnItem(Ident(v), None), _)
          if !isFinal && ctx.bindings.get(v).contains(UnionNode) =>
        v -> UnionNode
      case (_, n) => n -> ValueBinding
    }.toMap
    // zoned values surviving this projection: an item whose expression is
    // zoned (directly or via a zoned alias) keeps its output name zoned
    // for the next segment; everything else is naive again
    // static value kinds surviving this projection (resolved against the
    // PRE-projection ctx/aliasKinds — the defining expressions reference
    // the previous segment's bindings)
    val nextKinds = items.flatMap { case (it, n) =>
      staticKind(it.expr, ctx).map(n -> _)
    }.toMap
    zonedVals = items.collect {
      case (ReturnItem(ZonedShape(), _), n) => n
    }.toSet
    aliasKinds = nextKinds
    collectedEntities = items.collect {
      case (ReturnItem(Fn("COLLECT", Seq(Ident(v)), _), _), n)
          if ctx.bindings.get(v).exists(_.isInstanceOf[NodeBinding]) =>
        n -> ctx.bindings(v).asInstanceOf[NodeBinding].labels
    }.toMap
    (out, nextBindings)
  }

  private def itemName(it: ReturnItem, i: Int, ctx: Ctx, isFinal: Boolean): String =
    it.alias.map { al =>
      it.expr match {
        // an entity var re-aliased in a WITH segment stays an entity:
        // its column keeps the `<alias>_id`/`<alias>_eid` shape the
        // binding layer addresses entities by
        case Ident(v) if !isFinal &&
            ctx.bindings.get(v).exists(_.isInstanceOf[NodeBinding]) => s"${al}_id"
        case Ident(v) if !isFinal &&
            ctx.bindings.get(v).exists(_.isInstanceOf[EdgeBinding]) => s"${al}_eid"
        case _ => al
      }
    }.getOrElse(it.expr match {
      // a bare node/edge var carried through WITH keeps its id column
      // name so later segments can keep treating it as an entity
      case Ident(v) if !isFinal &&
          (ctx.bindings.get(v).exists(_.isInstanceOf[NodeBinding]) ||
            ctx.bindings.get(v).contains(UnionNode)) => s"${v}_id"
      case Ident(v) if !isFinal &&
          ctx.bindings.get(v).exists(_.isInstanceOf[EdgeBinding]) => s"${v}_eid"
      case Ident(v) => v
      // final-projection naming parity (executor.rs:2031-2042): an
      // un-aliased property access keeps its source text as the column
      // name (`RETURN p.name` → column `p.name`). Intermediate WITH
      // segments keep the bare property name: their columns are resolved
      // by later segments, and the reference's dotted WITH variables are
      // unreferenceable from the next statement anyway — documented
      // superset divergence (ROADMAP).
      case Prop(v, p) => if (isFinal) s"$v.$p" else p
      case CountStar() => "count"
      case Fn(n, _, _) => n.toLowerCase
      case _ => s"col_$i"
    })

  /** Reference an output column by its item name: dotted names from
    * un-aliased property projections must be backtick-quoted or Spark
    * parses the dot as struct-field access.
    */
  private def outCol(n: String): Column =
    if (n.contains(".")) col(s"`$n`") else col(n)

  private def splitAnd(e: Expr): Seq[Expr] = e match {
    case Bin("AND", l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Compile an EXISTS pattern standalone (outer labels injected into
    * shared unlabeled vars); returns the inner DataFrame and the shared
    * join columns against `base`.
    */
  private def existsInner(base: DataFrame, paths: Seq[PathPattern],
      ctx: Ctx): (DataFrame, Seq[String], Ctx) = {
    def inject(np: NodePattern): NodePattern =
      if (np.labels.isEmpty)
        np.variable.flatMap(ctx.nodeLabel)
          .map(l => np.copy(labels = Seq(l))).getOrElse(np)
      else np
    val rewritten = paths.map(p => p.copy(start = inject(p.start),
      hops = p.hops.map { case (e2, n2) => (e2, inject(n2)) }))
    var inner: Option[DataFrame] = None
    var innerCtx = Ctx(Map.empty)
    rewritten.foreach { pp =>
      val (d, c) = compilePath(pp, inner, innerCtx)
      inner = Some(d); innerCtx = c
    }
    val innerDf = inner.getOrElse(throw new GqlCompileException("empty EXISTS"))
    val shared = minimalSharedKey(
      base.columns.toSet.intersect(innerDf.columns.toSet).toSeq.sorted, ctx)
    if (shared.isEmpty)
      throw new GqlCompileException("EXISTS pattern must share a variable")
    (innerDf, shared, innerCtx)
  }

  /** Reduce a shared-column join set to entity IDENTITY keys: for every
    * entity variable bound in `ctx` whose identity column is present,
    * its other `${v}_*` property columns are functionally dependent on
    * the identity (entity bindings re-attach properties from the label
    * table by id), so keeping them only widens the shuffle/group-by key
    * — round-13 diagnosis: gql13's correlated-ALL unnesting grouped 18M
    * joined rows by SEVEN part columns (strings included) and
    * sort-merge-joined back on that wide key, 4 s/task at the 30× tier;
    * keyed on `p_id` alone the same unnesting broadcasts. `${v}_label`
    * stays when present (union-scan identity is (label, id)); value
    * aliases are never pruned — only statically-known entity bindings.
    */
  private def minimalSharedKey(shared: Seq[String], ctx: Ctx): Seq[String] = {
    var keepSet = shared.toSet
    val allVars = ctx.bindings.keySet
    // `${v}_prop` naming is ambiguous across prefix-related variable
    // names: with bindings `p` and `p_two`, the column `p_two_id` parses
    // as either p.two_id or p_two's identity. A column is owned by v
    // only when no OTHER binding name is a longer (or whole-name) match
    // — otherwise pruning for `p` would strip `p_two`'s identity (or a
    // value alias like `p_total`) out of the correlation key and the
    // subquery would silently decorrelate on that variable.
    def ownedBy(c: String, v: String): Boolean =
      c.startsWith(s"${v}_") && !allVars.exists(v2 => v2 != v &&
        v2.length > v.length && (c == v2 || c.startsWith(s"${v2}_")))
    ctx.bindings.foreach { case (v, b) =>
      val idCol = b match {
        case _: EdgeBinding => Some(s"${v}_eid")
        case _: NodeBinding | UnionNode => Some(s"${v}_id")
        case _ => None // value alias: never pruned
      }
      idCol.filter(keepSet).foreach { id =>
        val keep = Set(id, s"${v}_label")
        keepSet = keepSet.filterNot(c => ownedBy(c, v) && !keep(c))
      }
    }
    shared.filter(keepSet)
  }

  /** Upper bound on the distinct correlation-key tuples of `shared`: a
    * per-key aggregate emits AT MOST one row per outer entity, so
    * identity keys bound to node labels multiply their (cached) label
    * row counts. Any key that isn't a statically-bound node identity —
    * edge identities, value aliases, unresolvable columns — makes the
    * bound unknown (Long.MaxValue → the caller must NOT force a
    * broadcast and defers to AQE). `${v}_label` columns only refine an
    * id already counted, so they don't contribute a factor.
    */
  private def correlationKeyBound(shared: Seq[String], ctx: Ctx): Long = {
    var bound = 1L
    shared.foreach { c =>
      val refiningLabel = c.endsWith("_label") &&
        shared.contains(c.stripSuffix("_label") + "_id")
      if (!refiningLabel) {
        val factor: Long = ctx.bindings.collectFirst {
          case (v, b) if c == s"${v}_id" => b
        } match {
          case Some(NodeBinding(labels)) =>
            math.max(1L, graph.nodeCount(labels.head))
          case Some(UnionNode) =>
            graph.nodeTables.keysIterator
              .map(l => math.max(1L, graph.nodeCount(l)))
              .foldLeft(0L)((a, n) => if (Long.MaxValue - a < n) return Long.MaxValue else a + n)
          case _ => return Long.MaxValue
        }
        bound =
          try Math.multiplyExact(bound, factor)
          catch { case _: ArithmeticException => return Long.MaxValue }
      }
    }
    bound
  }

  /** EXISTS at a top-level WHERE conjunct — semi/anti join. */
  private def existsJoin(base: DataFrame, paths: Seq[PathPattern],
      ctx: Ctx, joinType: String): DataFrame = {
    val (innerDf, shared, _) = existsInner(base, paths, ctx)
    base.join(innerDf.select(shared.map(col): _*).distinct(), shared, joinType)
  }

  private def containsExists(e: Expr): Boolean = e match {
    case ExistsPattern(_) => true
    case Bin(_, l, r) => containsExists(l) || containsExists(r)
    case Not(x) => containsExists(x)
    case Neg(x) => containsExists(x)
    case IsNull(x, _) => containsExists(x)
    case IsTruth(x, _, _) => containsExists(x)
    case InList(x, items, _) => containsExists(x) || items.exists(containsExists)
    case StringPred(_, l, r, _) => containsExists(l) || containsExists(r)
    case CaseExpr(s, ws, o) => s.exists(containsExists) ||
      ws.exists { case (c, v) => containsExists(c) || containsExists(v) } ||
      o.exists(containsExists)
    case Cast(x, _) => containsExists(x)
    case Index(x, i) => containsExists(x) || containsExists(i)
    case FieldAccess(x, _) => containsExists(x)
    case Fn(_, args, _) => args.exists(containsExists)
    case _ => false
  }

  /** EXISTS in an arbitrary boolean position (under OR/NOT/CASE/…): each
    * EXISTS subtree becomes a boolean marker column — a left-outer join
    * against the distinct inner key set with a TRUE flag, coalesced to
    * FALSE — and the subtree is replaced by a reference to that column.
    * This is the relational equivalent of the reference's row-at-a-time
    * pattern-predicate evaluation (executor.rs:9351-9394), kept as joins
    * so it stays distributed.
    */
  private def materializeExists(base: DataFrame, e: Expr,
      ctx: Ctx): (DataFrame, Expr) = {
    var df = base
    def rewrite(x: Expr): Expr = x match {
      case ExistsPattern(paths) =>
        val name = fresh("exists")
        val (innerDf, shared, _) = existsInner(df, paths, ctx)
        val marked = innerDf.select(shared.map(col): _*).distinct()
          .withColumn(name, lit(true))
        df = df.join(marked, shared, "left_outer")
          .withColumn(name, coalesce(col(name), lit(false)))
        Ident(name)
      case Bin(op, l, r) => Bin(op, rewrite(l), rewrite(r))
      case Not(y) => Not(rewrite(y))
      case Neg(y) => Neg(rewrite(y))
      case IsNull(y, n) => IsNull(rewrite(y), n)
      case IsTruth(y, t, n) => IsTruth(rewrite(y), t, n)
      case InList(y, items, n) => InList(rewrite(y), items.map(rewrite), n)
      case StringPred(op, l, r, n) => StringPred(op, rewrite(l), rewrite(r), n)
      case CaseExpr(s, ws, o) => CaseExpr(s.map(rewrite),
        ws.map { case (c, v) => (rewrite(c), rewrite(v)) }, o.map(rewrite))
      case Cast(y, t) => Cast(rewrite(y), t)
      case Index(y, i) => Index(rewrite(y), rewrite(i))
      case FieldAccess(y, f) => FieldAccess(rewrite(y), f)
      case Fn(n, args, d) => Fn(n, args.map(rewrite), d)
      case other => other
    }
    val e2 = rewrite(e)
    (df, e2)
  }

  private def containsSubquery(e: Expr): Boolean = e match {
    case Subquery(_) | QuantifiedCmp(_, _, _, _) => true
    case Bin(_, l, r) => containsSubquery(l) || containsSubquery(r)
    case Not(x) => containsSubquery(x)
    case Neg(x) => containsSubquery(x)
    case IsNull(x, _) => containsSubquery(x)
    case IsTruth(x, _, _) => containsSubquery(x)
    case InList(x, items, _) => containsSubquery(x) || items.exists(containsSubquery)
    case StringPred(_, l, r, _) => containsSubquery(l) || containsSubquery(r)
    case CaseExpr(s, ws, o) => s.exists(containsSubquery) ||
      ws.exists { case (c, v) => containsSubquery(c) || containsSubquery(v) } ||
      o.exists(containsSubquery)
    case Cast(x, _) => containsSubquery(x)
    case Index(x, i) => containsSubquery(x) || containsSubquery(i)
    case FieldAccess(x, _) => containsSubquery(x)
    case Fn(_, args, _) => args.exists(containsSubquery)
    case _ => false
  }

  /** A subquery is correlated when it is a single-segment query whose
    * pattern re-uses a node variable bound in the outer scope — the same
    * shared-variable convention EXISTS patterns use.
    */
  private def correlatedSeg(q: QueryExpr, ctx: Ctx): Option[Segment] = q match {
    case qq: Query if qq.segments.size == 1 =>
      val seg = qq.segments.head
      val vars = (seg.matches ++ seg.optionalMatches).flatMap { p =>
        (p.start +: p.hops.map(_._2)).flatMap(_.variable)
      }
      if (vars.exists(v => ctx.isNodeLike(v))) Some(seg) else None
    case _ => None
  }

  /** A correlated subquery of ANY pipeline shape (multi-segment WITH,
    * OPTIONAL MATCH, UNWIND/LET/FILTER, grouped intermediates): its first
    * segment references a node variable bound in the outer scope.
    */
  private def correlatedQuery(q: QueryExpr, ctx: Ctx): Option[Query] = q match {
    case qq: Query =>
      val seg = qq.segments.head
      val vars = (seg.matches ++ seg.optionalMatches).flatMap { p =>
        (p.start +: p.hops.map(_._2)).flatMap(_.variable)
      }
      if (vars.exists(v => ctx.isNodeLike(v))) Some(qq) else None
    case _ => None
  }

  /** True when the single-segment fast path (existsInner + one group-by)
    * can compile this correlated segment.
    */
  private def simpleCorrelatedShape(seg: Segment): Boolean =
    seg.optionalMatches.isEmpty && seg.steps.isEmpty &&
      seg.groupBy.isEmpty && seg.having.isEmpty &&
      seg.postWhere.isEmpty && !seg.distinct && seg.orderBy.isEmpty &&
      seg.skip.isEmpty && seg.limit.isEmpty

  /** Compile a correlated subquery pipeline of general shape
    * (executor.rs:4587-4810 evaluates arbitrary nested queries per outer
    * row; we unnest relationally instead). The outer-shared node
    * variables are label-injected into the first segment and carried
    * through every WITH projection, so the result frame keeps their
    * `<v>_id` identity columns for the group-by + left-outer-join
    * unnesting the caller applies.
    *
    * Returns (frame, value column, whether the final segment already
    * aggregated per shared key, optional per-key rank column). A final
    * ORDER BY / SKIP / LIMIT / DISTINCT is per-key top-k: the sort
    * expressions are injected as hidden projection items, and after the
    * pipeline compiles, `row_number()` over the shared identity
    * partition applies the skip/limit bounds — one extra window shuffle
    * on the keys the caller joins on anyway, no per-row re-execution.
    * The rank column (when ordering was requested) lets the scalar
    * caller take the FIRST row per key deterministically (`min_by`),
    * matching the reference's first-row scalar semantics
    * (executor.rs:8502-8527). Non-final segments still reject these
    * clauses honestly — a mid-pipeline per-key sort/limit has no
    * relational unnesting.
    */
  private def compileCorrelatedPipeline(qq: Query, ctx: Ctx):
      (DataFrame, String, Boolean, Option[String]) = {
    qq.segments.init.foreach { seg =>
      if (seg.orderBy.nonEmpty || seg.skip.nonEmpty || seg.limit.nonEmpty ||
          seg.distinct)
        throw new GqlCompileException(
          "correlated subquery: ORDER BY / SKIP / LIMIT / DISTINCT are " +
            "only supported on the final RETURN (value sets are per " +
            "outer row)")
    }
    val last = qq.segments.last
    if (last.projection.size != 1)
      throw new GqlCompileException(
        "correlated subquery must return exactly one column")
    val lastAggregated =
      containsAgg(last.projection.head.expr) || last.groupBy.nonEmpty
    // an aggregated final segment yields ONE row per key: ORDER BY and
    // LIMIT >= 1 are no-ops (always stripped below); a positive SKIP
    // would null the value — reject rather than guess
    if (lastAggregated && last.skip.exists(_ > 0))
      throw new GqlCompileException(
        "correlated subquery: SKIP on an aggregated result is not supported")
    val topK = !lastAggregated && (last.orderBy.nonEmpty ||
      last.skip.nonEmpty || last.limit.nonEmpty || last.distinct)
    val sortNames = last.orderBy.map(_ => fresh("ord"))

    val first = qq.segments.head
    val firstVars = (first.matches ++ first.optionalMatches).flatMap { p =>
      (p.start +: p.hops.map(_._2)).flatMap(_.variable)
    }
    val shared = firstVars.filter(ctx.isNodeLike).distinct
    def inject(np: NodePattern): NodePattern =
      if (np.labels.isEmpty && np.variable.exists(shared.contains))
        np.variable.flatMap(ctx.nodeLabel)
          .map(l => np.copy(labels = Seq(l))).getOrElse(np)
      else np
    def injectPath(p: PathPattern): PathPattern = p.copy(
      start = inject(p.start),
      hops = p.hops.map { case (e2, n2) => (e2, inject(n2)) })
    val firstInj = first.copy(matches = first.matches.map(injectPath),
      optionalMatches = first.optionalMatches.map(injectPath))

    // carry the shared identity vars through every projection (and any
    // explicit GROUP BY, so grouped intermediates stay per outer key)
    def carry(seg: Segment): Segment = {
      val missing = shared.filterNot(v => seg.projection.exists {
        case ReturnItem(Ident(`v`), None) => true
        case _ => false
      })
      seg.copy(
        projection = seg.projection ++ missing.map(v => ReturnItem(Ident(v), None)),
        groupBy =
          if (seg.groupBy.isEmpty) seg.groupBy
          else seg.groupBy ++ shared.filterNot(v =>
            seg.groupBy.contains(Ident(v))).map(Ident(_)))
    }
    val valueName = fresh("cval")
    val withFirst = firstInj +: qq.segments.tail
    val lastInj = withFirst.last
    // hidden sort items: the ORDER BY expressions must survive the final
    // projection so the post-compile window can rank on them
    val sortItems = sortNames.zip(last.orderBy).map { case (n, s) =>
      ReturnItem(s.expr, Some(n))
    }
    val lastCarried = carry(lastInj.copy(
      orderBy = Seq.empty, skip = None, limit = None, distinct = false,
      projection = lastInj.projection.head.copy(alias = Some(valueName)) +:
        sortItems))
    val segs = withFirst.init.map(carry) :+ lastCarried

    var df: Option[DataFrame] = None
    var bindings = Map.empty[String, Binding]
    // the nested segments reset [[zonedVals]] per projection — restore
    // the outer set so zoned aliases survive a mid-statement subquery
    val savedZoned = zonedVals
    try {
      segs.foreach { seg =>
        val (d2, b2) = compileSegment(seg, df, bindings, isFinal = false)
        df = Some(d2)
        bindings = b2
      }
    } finally zonedVals = savedZoned

    var result = df.get
    var ordName: Option[String] = None
    if (topK) {
      // per-key top-k over the carried identity columns — the window
      // shuffles on the same keys the caller's unnesting join uses
      val keyCols = shared.flatMap(v =>
        Seq(s"${v}_id", s"${v}_eid", v).find(result.columns.contains)).map(col)
      if (last.distinct) result = result.distinct()
      if (last.orderBy.nonEmpty || last.skip.nonEmpty || last.limit.nonEmpty) {
        // LIMIT without ORDER BY is an arbitrary subset — rank on the
        // value itself so the choice is at least deterministic
        val sortCols =
          if (last.orderBy.isEmpty) Seq(col(valueName).asc_nulls_last)
          else sortNames.zip(last.orderBy).map { case (n, s) =>
            if (s.ascending) col(n).asc_nulls_last else col(n).desc_nulls_first
          }
        val rn = fresh("crank")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols: _*).orderBy(sortCols: _*)
        result = result.withColumn(rn, row_number().over(w))
        val lo = last.skip.getOrElse(0L)
        last.limit.foreach(n => result = result.filter(col(rn) <= lit(lo + n)))
        if (lo > 0) result = result.filter(col(rn) > lit(lo))
        if (last.orderBy.nonEmpty) ordName = Some(rn)
        else result = result.drop(rn)
      }
      if (sortNames.nonEmpty) result = result.drop(sortNames: _*)
    }
    (result, valueName, lastAggregated, ordName)
  }

  /** Compile a nested query expression without clobbering the outer
    * query's property-usage map (compileQuery recomputes it) or its
    * zoned-alias set (every projection the nested compile runs resets
    * [[zonedVals]]; an outer WITH alias holding a zoned value must stay
    * zoned after the subquery).
    */
  private def compileNested(q: QueryExpr): DataFrame = {
    val (savedProps, savedZoned) = (usedProps, zonedVals)
    try compile(q) finally { usedProps = savedProps; zonedVals = savedZoned }
  }

  /** Materialize scalar subqueries and quantified comparisons inside
    * `exprs` as columns on `base`; returns the augmented frame plus the
    * rewritten expressions (each subquery subtree replaced by a column
    * reference). Relational unnesting, kept distributed:
    *
    *  - Uncorrelated scalar subquery: first row, first column (DECLARE
    *    parity, executor.rs:8502-8527) — `limit(1).agg(first(..))` always
    *    yields exactly one row (null on empty), broadcast cross-joined.
    *  - Correlated (shares a bound node variable with the outer scope,
    *    like EXISTS): group-by on the shared identity columns + left
    *    outer join — the reference's subquery unnesting
    *    (logical_optimizer.rs:283-516). A top-level COUNT coalesces to 0
    *    for outer rows with no inner match.
    *  - Quantified comparison `x op ALL|ANY|SOME (sub)` (ast.rs:1326-1334;
    *    unimplemented in the reference's executor, executor.rs:4508-4517):
    *    min/max/count aggregates broadcast onto the outer frame, plus a
    *    distinct-value membership join for =/<>, with full SQL 3VL
    *    (empty set, outer null, and null-element cases).
    *
    * Identical subquery subtrees share one materialized column.
    */
  private def materializeScalars(base: DataFrame, exprs: Seq[Expr],
      ctx: Ctx): (DataFrame, Seq[Expr]) = {
    var df = base
    val cache = scala.collection.mutable.Map.empty[Expr, String]
    val nullB = lit(null).cast("boolean")

    def scalarColumn(q: QueryExpr): String = cache.getOrElseUpdate(Subquery(q), {
      val name = fresh("subq")
      correlatedQuery(q, ctx) match {
        case Some(qq) if qq.segments.size == 1 &&
            simpleCorrelatedShape(qq.segments.head) =>
          val seg = qq.segments.head
          if (seg.projection.size != 1)
            throw new GqlCompileException(
              "scalar subquery must return exactly one column")
          val (innerDf0, shared, innerCtx) = existsInner(df, seg.matches, ctx)
          val innerDf = seg.where.fold(innerDf0)(w =>
            innerDf0.filter(compileExpr(w, innerCtx)))
          val item = seg.projection.head.expr
          val aggCol =
            if (containsAgg(item)) compileAggExpr(item, innerCtx)
            else first(compileExpr(item, innerCtx))
          val perKey = innerDf.groupBy(shared.map(col): _*).agg(aggCol.as(name))
          df = df.join(perKey, shared, "left_outer")
          val countTop = item match {
            case CountStar() | Fn("COUNT", _, _) => true
            case _ => false
          }
          if (countTop) df = df.withColumn(name, coalesce(col(name), lit(0L)))
        case Some(qq) =>
          // general pipeline shape: WITH segments / OPTIONAL MATCH /
          // UNWIND / LET / grouped intermediates
          if (qq.segments.last.groupBy.nonEmpty)
            throw new GqlCompileException(
              "correlated scalar subquery must not GROUP its final RETURN " +
                "(one value per outer row)")
          val (innerDf, valueName, aggregated, ordName) =
            compileCorrelatedPipeline(qq, ctx)
          val shared = minimalSharedKey(df.columns.toSet
            .intersect(innerDf.columns.toSet).toSeq.sorted, ctx)
          if (shared.isEmpty)
            throw new GqlCompileException(
              "correlated subquery must share a variable with the outer query")
          val perKey =
            if (aggregated)
              // select down to key + value: with the minimal identity
              // key, leftover same-named property columns on the inner
              // side would otherwise collide after the join (they are
              // identity-determined, so this is row-preserving)
              innerDf.withColumnRenamed(valueName, name)
                .select((shared :+ name).map(col): _*)
            else ordName match {
              // ordered sub: the scalar is the FIRST row per key
              // (executor.rs:8502-8527 first-row semantics) — min_by on
              // the window rank keeps it deterministic
              case Some(o) => innerDf.groupBy(shared.map(col): _*)
                .agg(min_by(col(valueName), col(o)).as(name))
              case None => innerDf.groupBy(shared.map(col): _*)
                .agg(first(col(valueName)).as(name))
            }
          // ≤ one row per outer entity: broadcast when the entity-count
          // bound fits (AQE mis-sizes this join from the partial-agg
          // shuffle — see PropertyGraph.broadcastIfBoundedRows)
          df = df.join(graph.broadcastIfBoundedRows(
            correlationKeyBound(shared, ctx), perKey), shared, "left_outer")
          val countTop = qq.segments.last.projection.head.expr match {
            case CountStar() | Fn("COUNT", _, _) => true
            case _ => false
          }
          if (countTop) df = df.withColumn(name, coalesce(col(name), lit(0L)))
        case None =>
          val inner = compileNested(q)
          val c1 = inner.columns.headOption.getOrElse(
            throw new GqlCompileException("scalar subquery returns no columns"))
          subqueries match {
            case Some((sc, epoch)) if !Ast.nonDeterministic(q) && {
              import org.apache.spark.sql.types._
              inner.schema(c1).dataType match {
                case _: StructType | _: ArrayType | _: MapType => false
                case _ => true
              }
            } =>
              // eager + memoized: the scalar is a single driver value, so
              // inline it as a literal — the outer plan loses the
              // crossJoin subtree entirely, and the next statement
              // sharing this subquery AST skips the job (structural
              // case-class equality = the reference's expression hash).
              // The key carries the session parameter bindings and the
              // f64 flag (reference SubqueryCacheKey includes parameter
              // values) — a $param-dependent subquery re-evaluates when
              // the binding changes; NOW()-style subqueries skip the
              // memo entirely (nonDeterministic guard above).
              // Plan-only flows stay job-free: GqlSession.explain
              // compiles WITHOUT the cache (subqueries = None), so only
              // an EXECUTED statement ever reaches this collect — the
              // r17 watch item about EXPLAIN triggering execution is a
              // non-path by construction (pinned in CacheSpec).
              val (v, dt) = sc.getOrCompute((q, params, f64Numbers), epoch) {
                val row = inner.select(outCol(c1)).limit(1).collect().headOption
                (row.map(_.get(0)).orNull, inner.schema(c1).dataType)
              }
              df = df.withColumn(name, lit(v).cast(dt))
            case _ => // no cache, or struct/array scalar: keep the lazy plan
              df = df.crossJoin(broadcast(
                inner.limit(1).agg(first(outCol(c1)).as(name))))
          }
      }
      name
    })

    def quantColumn(qc: QuantifiedCmp): String = cache.getOrElseUpdate(qc, {
      val QuantifiedCmp(op, quant0, l, q) = qc
      val quant = if (quant0 == "SOME") "ANY" else quant0
      val name = fresh("quant")
      val Seq(cntN, valN, mnN, mxN, ndvN, xN) =
        Seq("qcnt", "qval", "qmin", "qmax", "qndv", "qx").map(fresh)

      // `marker()` is the distinct-value membership join (for = ANY /
      // <> ALL); bound per correlation branch below. No broadcast hint —
      // AQE picks the strategy from the distinct set's actual size.
      var marker: () => Column = null

      // Correlated: per-outer-key aggregates via group-by on the
      // shared identity columns + left outer join — the same
      // distributed unnesting the correlated scalar path uses
      // (logical_optimizer.rs:283-516). An outer row with no inner
      // match sees the empty set (cnt = 0), matching the semantics of
      // re-running the subquery per row. General pipeline shapes (WITH
      // segments, OPTIONAL MATCH, UNWIND/LET, grouped intermediates)
      // compile through compileCorrelatedPipeline to per-row value
      // frames first.
      val correlated: Option[(DataFrame, Seq[String], Column)] =
        correlatedQuery(q, ctx) match {
          case Some(qq) if qq.segments.size == 1 &&
              simpleCorrelatedShape(qq.segments.head) =>
            val seg = qq.segments.head
            if (seg.projection.size != 1)
              throw new GqlCompileException(
                "quantified subquery must return exactly one column")
            val item = seg.projection.head.expr
            if (containsAgg(item))
              throw new GqlCompileException(
                "quantified subquery must return a plain value, not an aggregate")
            val (innerDf0, shared, innerCtx) = existsInner(df, seg.matches, ctx)
            val innerDf = seg.where.fold(innerDf0)(w =>
              innerDf0.filter(compileExpr(w, innerCtx)))
            Some((innerDf, shared, compileExpr(item, innerCtx)))
          case Some(qq) =>
            val (innerDf, valueName, aggregated, _) =
              compileCorrelatedPipeline(qq, ctx)
            if (aggregated)
              throw new GqlCompileException(
                "quantified subquery must return a plain value, not an aggregate")
            val shared = minimalSharedKey(df.columns.toSet
              .intersect(innerDf.columns.toSet).toSeq.sorted, ctx)
            if (shared.isEmpty)
              throw new GqlCompileException(
                "correlated subquery must share a variable with the outer query")
            Some((innerDf, shared, col(valueName)))
          case None => None
        }
      correlated match {
        case Some((innerDf, shared, v)) =>
          val aggs = innerDf.groupBy(shared.map(col): _*).agg(
            count(lit(1)).as(cntN), count(v).as(valN),
            min(v).as(mnN), max(v).as(mxN), countDistinct(v).as(ndvN))
          // ≤ one row per outer entity: broadcast when the entity-count
          // bound fits (round-14: AQE left this as a sort-merge join at
          // the 100× tier because the PARTIAL-agg shuffle crossed the
          // threshold while the final aggregate was dimension-sized)
          df = df.join(graph.broadcastIfBoundedRows(
            correlationKeyBound(shared, ctx), aggs), shared, "left_outer")
            .withColumn(cntN, coalesce(col(cntN), lit(0L)))
            .withColumn(valN, coalesce(col(valN), lit(0L)))
            .withColumn(xN, compileExpr(l, ctx))
          marker = () => {
            val mk = fresh("qmk")
            val vN = fresh("qv")
            val keyAlias = shared.map(s => s -> fresh("qk"))
            val vals0 = innerDf.select((shared.map(col) :+ v.as(vN)): _*)
              .na.drop(Seq(vN)).distinct()
            val vals = keyAlias.foldLeft(vals0) { case (d2, (s, a)) =>
              d2.withColumnRenamed(s, a)
            }.withColumn(mk, lit(true))
            val cond = (keyAlias.map { case (s, a) => col(s) === col(a) } :+
              (col(xN) === col(vN))).reduce(_ && _)
            df = df.join(vals, cond, "left_outer")
              .drop((vN +: keyAlias.map(_._2)): _*)
            coalesce(col(mk), lit(false))
          }
        case None =>
          val inner = compileNested(q)
          val vcol = outCol(inner.columns.head)
          val aggs = inner.agg(count(lit(1)).as(cntN), count(vcol).as(valN),
            min(vcol).as(mnN), max(vcol).as(mxN), countDistinct(vcol).as(ndvN))
          df = df.crossJoin(broadcast(aggs)).withColumn(xN, compileExpr(l, ctx))
          marker = () => {
            val mk = fresh("qmk")
            val vN = fresh("qv")
            val vals = inner.select(vcol.as(vN)).na.drop().distinct()
              .withColumn(mk, lit(true))
            df = df.join(vals, col(xN) === col(vN), "left_outer").drop(vN)
            coalesce(col(mk), lit(false))
          }
      }
      val (x, cnt, nonNull) = (col(xN), col(cntN), col(valN))
      val (mn, mx, ndv) = (col(mnN), col(mxN), col(ndvN))
      val hasNull = cnt > nonNull

      val result: Column = (quant, op) match {
        case ("ANY", "=") =>
          val mk = marker()
          when(cnt === 0, lit(false)).when(x.isNull, nullB)
            .when(mk, lit(true))
            .when(hasNull, nullB).otherwise(lit(false))
        case ("ANY", "<>") =>
          when(cnt === 0, lit(false)).when(x.isNull, nullB)
            .when(ndv >= 2, lit(true))
            .when(ndv === 1 && x =!= mn, lit(true))
            .when(hasNull, nullB)
            .when(ndv === 1, lit(false)) // x equals the single value
            .otherwise(nullB)            // unreachable guard
        case ("ALL", "=") =>
          when(cnt === 0, lit(true)).when(x.isNull, nullB)
            .when(ndv >= 2, lit(false))
            .when(ndv === 1 && x =!= mn, lit(false))
            .when(ndv === 1 && !hasNull, lit(true))
            .otherwise(nullB) // single value + nulls, or all-null set
        case ("ALL", "<>") =>
          val mk = marker()
          when(cnt === 0, lit(true)).when(x.isNull, nullB)
            .when(mk, lit(false))
            .when(hasNull, nullB).otherwise(lit(true))
        case (qn, o) =>
          val bound: Column = (qn, o) match {
            case ("ANY", ">") | ("ANY", ">=") => mn
            case ("ANY", "<") | ("ANY", "<=") => mx
            case ("ALL", ">") | ("ALL", ">=") => mx
            case ("ALL", "<") | ("ALL", "<=") => mn
            case _ => throw new GqlCompileException(
              s"unsupported quantified comparison: $o $qn")
          }
          val cmp: Column = o match {
            case ">" => x > bound
            case ">=" => x >= bound
            case "<" => x < bound
            case "<=" => x <= bound
            case other => throw new GqlCompileException(
              s"unsupported quantified comparison: $other $qn")
          }
          if (qn == "ANY")
            when(cnt === 0, lit(false)).when(x.isNull, nullB)
              .when(cmp, lit(true))
              .when(!cmp && hasNull, nullB)
              .when(!cmp, lit(false))
              .otherwise(nullB) // bound null: every element null
          else
            when(cnt === 0, lit(true)).when(x.isNull, nullB)
              .when(cmp && hasNull, nullB)
              .when(cmp, lit(true))
              .when(!cmp, lit(false))
              .otherwise(nullB)
      }
      df = df.withColumn(name, result)
      name
    })

    def rewrite(x: Expr): Expr = x match {
      case Subquery(q) => Ident(scalarColumn(q))
      case qc: QuantifiedCmp => Ident(quantColumn(qc))
      case Bin(op, l, r) => Bin(op, rewrite(l), rewrite(r))
      case Not(y) => Not(rewrite(y))
      case Neg(y) => Neg(rewrite(y))
      case IsNull(y, n) => IsNull(rewrite(y), n)
      case IsTruth(y, t, n) => IsTruth(rewrite(y), t, n)
      case InList(y, items, n) => InList(rewrite(y), items.map(rewrite), n)
      case StringPred(op, l, r, n) => StringPred(op, rewrite(l), rewrite(r), n)
      case CaseExpr(s, ws, o) => CaseExpr(s.map(rewrite),
        ws.map { case (c, v) => (rewrite(c), rewrite(v)) }, o.map(rewrite))
      case Cast(y, t) => Cast(rewrite(y), t)
      case Index(y, i) => Index(rewrite(y), rewrite(i))
      case FieldAccess(y, f) => FieldAccess(rewrite(y), f)
      case Fn(n, args, d) => Fn(n, args.map(rewrite), d)
      case other => other
    }
    val out = exprs.map(rewrite)
    (df, out)
  }

  // ------------------------------------------------------------------
  // patterns
  // ------------------------------------------------------------------
  /** Anchor selection (the planner's join-order seed — the reference
    * builds patterns left-to-right, executor.rs pattern matching; we pick
    * the more selective end): when the pattern's first element is an
    * unconstrained scan but its last element carries inline props or is
    * already bound, compile the path reversed so the selective element
    * anchors the join chain. Every hop join stays an equi-join, so
    * results are identical; what changes is the size of the intermediate
    * bindings — at scale the difference between starting from 10 rows vs
    * 10^9.
    */
  private def shouldReverse(p: PathPattern, ctx: Ctx): Boolean = {
    if (p.hops.isEmpty || p.hops.exists(_._1.quantifier.isDefined)) return false
    val startBound = p.start.variable.exists(ctx.bindings.contains)
    val last = p.hops.last._2
    val lastBound = last.variable.exists(ctx.bindings.contains)
    // Estimated seed cardinality of each end: a bound variable or an
    // inline `id` (an identity) anchors at ~1 row; otherwise the label's
    // ANALYZE rowcount (memoized on the graph), cut 10× per inline
    // property predicate. Unknown labels (label-less ends) estimate as
    // the whole node space. Reversing is worthwhile only with clear
    // margin (2×) — ties keep source order, so a start anchored at one
    // row stays the start without counting the other end — and either
    // orientation returns identical rows (equi-join chain).
    def estimate(np: NodePattern, bound: Boolean): Double = {
      if (bound || np.props.exists(_._1 == "id")) return 1.0
      // a label-less end would need every label's count to estimate —
      // treat it as maximally unselective instead of paying those jobs
      val base = np.labels.headOption
        .filter(graph.nodeTables.contains)
        .map(l => graph.nodeCount(l).toDouble)
        .getOrElse(Double.MaxValue)
      base * math.pow(0.1, np.props.size)
    }
    val start = estimate(p.start, startBound)
    start > 1.0 && estimate(last, lastBound) * 2.0 < start
  }

  private def reversePath(p: PathPattern): PathPattern = {
    val nodes = (p.start +: p.hops.map(_._2)).reverse
    val edges = p.hops.map(_._1).reverse.map(e => e.copy(direction = e.direction match {
      case Out => In
      case In => Out
      case Undirected => Undirected
    }))
    PathPattern(nodes.head, edges.zip(nodes.tail),
      p.assignment, p.semantics)
  }

  private def compilePath(path0: PathPattern, dfIn: Option[DataFrame],
      ctxIn: Ctx): (DataFrame, Ctx) = {
    val hasQuant = path0.hops.exists(_._1.quantifier.isDefined)
    // a path variable over a chain with quantified segments (and more
    // than one hop) concatenates per-segment node-id arrays
    val mixedPathVar = hasQuant && path0.hops.size > 1 && path0.assignment.isDefined
    // a revisit rule (TRAIL/ACYCLIC/SIMPLE) over a mixed rigid+quantified
    // chain: each quantified segment exposes its per-path node-id (and,
    // for TRAIL, edge-id) array, and the rule is enforced globally on the
    // concatenated arrays — per-segment pruning still applies inside the
    // iterative traversal (executor.rs:6623-6641 revisit rules span the
    // whole path, not one segment)
    val mixedSem =
      path0.semantics.exists(_ != "WALK") && hasQuant && path0.hops.size > 1
    // reversal would invert the node order a path variable records
    val path1 =
      if (path0.assignment.isEmpty && shouldReverse(path0, ctxIn))
        reversePath(path0)
      else path0
    // fixed-length revisit rules and path arrays reference every chain
    // element — name the anonymous ones
    val needNames = mixedPathVar || mixedSem ||
      (!hasQuant && (path1.assignment.isDefined ||
        path1.semantics.exists(_ != "WALK")))
    val path = if (!needNames) path1 else path1.copy(
      start = path1.start.copy(variable =
        Some(path1.start.variable.getOrElse(fresh("n")))),
      hops = path1.hops.map { case (e, n) =>
        // quantified edges stay anonymous (varLengthHop binds no edge
        // var; only node ids enter the path array)
        (if (e.quantifier.isDefined) e
         else e.copy(variable = Some(e.variable.getOrElse(fresh("e")))),
          n.copy(variable = Some(n.variable.getOrElse(fresh("n")))))
      })
    val sem = path.semantics match {
      case Some("TRAIL") => PathSemantics.Trail
      case Some("SIMPLE") => PathSemantics.Simple
      case Some("ACYCLIC") => PathSemantics.Acyclic
      case _ => PathSemantics.Walk
    }
    val quantPathVar =
      if (hasQuant && !mixedPathVar) path.assignment else None
    var ctx = ctxIn
    var df = dfIn

    // label inference (node without label takes the adjacent edge's
    // endpoint; a node with neither label nor adjacent typed edge scans
    // the union of all labels)
    def inferStart(np: NodePattern, firstEdge: Option[EdgePattern]): Option[Seq[String]] =
      (if (np.labels.nonEmpty) Some(np.labels) else None)
        .orElse(np.variable.flatMap(ctx.nodeLabel).map(Seq(_)))
        .orElse(firstEdge.flatMap(e =>
          e.types.headOption.filter(graph.edgeTables.contains).map { t =>
            val et = graph.edgeType(t)
            Seq(if (e.direction == In) et.dstLabel else et.srcLabel)
          }))

    // start node
    val startVar = path.start.variable.getOrElse(fresh("n"))
    // a path reversed to anchor at its seeded end keeps its join plan:
    // the end-keyed read is the mirror layout's (MirrorSwap)
    val adjacency =
      if (path1 ne path0) None else seededAdjacency(path, startVar, ctx, df)
    // Constraint-free start elision (mirror of the dst-node elision in
    // hop): an anonymous-or-never-read start with no labels, props, or
    // prior frame, followed by a rigid first hop, needs no node-table
    // scan — the edge's src column IS the start identity and the edge
    // type guarantees its label. `()-[t:T]->()` then plans as a single
    // edge-table scan; at scale that elides a full node scan + join per
    // pattern (the same referential-integrity invariant the dst elision
    // already relies on: every edge endpoint exists).
    var startElided = false
    val firstEdgeRigid =
      path.hops.headOption.exists(_._1.quantifier.isEmpty)
    adjacency.foreach { a =>
      // a seeded start is elided by the same invariant: its adjacency
      // rows carry its id, and their type guarantees its label
      startElided = true
      ctx = Ctx(ctx.bindings + (startVar -> NodeBinding(Seq(a.label))))
    }
    if (adjacency.isEmpty && !ctx.bindings.contains(startVar) && df.isEmpty &&
        firstEdgeRigid &&
        path.start.props.isEmpty && path.start.labels.isEmpty &&
        usedProps.getOrElse(startVar, Set.empty).isEmpty) {
      val e0 = path.hops.head._1
      val knownTypes = (if (e0.types.nonEmpty) e0.types else graph.edgeLabels)
        .filter(graph.edgeTables.contains)
      val startLabels = knownTypes.flatMap { t =>
        val et = graph.edgeType(t)
        e0.direction match {
          case In => Seq(et.dstLabel)
          case Undirected => Seq(et.srcLabel, et.dstLabel)
          case _ => Seq(et.srcLabel)
        }
      }.distinct
      if (knownTypes.nonEmpty) {
        startElided = true
        ctx = Ctx(ctx.bindings + (startVar ->
          (if (startLabels.size == 1) NodeBinding(startLabels) else UnionNode)))
      }
    }
    if (startElided) {
      () // first hop consumes the elision below
    } else if (ctx.bindings.contains(startVar)) {
      // already bound: apply inline props as filters
      path.start.props.foreach { case (k, v) =>
        df = df.map(propFilter(_, s"${startVar}_$k", v, ctx))
      }
    } else {
      // A comma-separated pattern list cross-joins each new start scan
      // onto the accumulated frame. A plain CartesianProduct MULTIPLIES
      // partition counts (5 small scans of 32 partitions → 32^5 tasks);
      // broadcasting a small scan keeps the left side's partitioning
      // (BroadcastNestedLoopJoin), which is also the right plan for
      // small-dim × big-fact cross joins at scale.
      inferStart(path.start, path.hops.headOption.map(_._1)) match {
        case Some(labels) =>
          val scan = scanNodeMulti(labels, startVar, path.start.props, ctx)
          // counted only to size a cross join's broadcast
          lazy val rows = labels.filter(graph.nodeTables.contains)
            .map(graph.nodeCount).sum
          df = Some(df.fold(scan)(
            _.crossJoin(graph.broadcastIfSmallRows(rows, scan))))
          ctx = Ctx(ctx.bindings + (startVar -> NodeBinding(labels)))
        case None =>
          val scan = scanAllLabels(startVar, path.start.props, ctx)
          lazy val rows = graph.nodeTables.keys.map(graph.nodeCount).sum
          df = Some(df.fold(scan)(
            _.crossJoin(graph.broadcastIfSmallRows(rows, scan))))
          ctx = Ctx(ctx.bindings + (startVar -> UnionNode))
      }
    }

    var prevVar = startVar
    val nodeVarsB = Vector.newBuilder[String]
    nodeVarsB += startVar
    // mixed mode: each quantified hop records its full per-path node-id
    // array under a scratch column, stitched into the path variable below
    val hopArrays = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    // mixed-chain TRAIL additionally records each quantified segment's
    // edge-id array for the global edge-distinctness check
    val hopEdgeArrays = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    path.hops.zipWithIndex.foreach { case ((edge, node), i) =>
      val hopPathVar =
        if ((mixedPathVar || mixedSem) && edge.quantifier.isDefined) {
          val a = fresh("patharr"); hopArrays += (i -> a); Some(a)
        } else quantPathVar
      val hopEdgeArr =
        if (mixedSem && sem == PathSemantics.Trail && edge.quantifier.isDefined) {
          val a = fresh("edgearr"); hopEdgeArrays += (i -> a); Some(a)
        } else None
      val (d2, c2, nv) =
        hop(df.getOrElse(singleRow), ctx, prevVar, edge, node, sem,
          hopPathVar, hopEdgeArr, elidedStart = startElided && i == 0,
          adjacency = if (i == 0) adjacency else None)
      df = Some(d2); ctx = c2; prevVar = nv; nodeVarsB += nv
    }
    quantPathVar.foreach(pv =>
      ctx = Ctx(ctx.bindings + (pv -> ValueBinding)))
    if (needNames) {
      val nvs = nodeVarsB.result()
      // stitch: start id, then per hop either the rigid target id or
      // the quantified segment's array minus its first element (the
      // segment's start — already covered by the previous element)
      def stitchedNodes: Column = concat(
        (array(col(s"${nvs.head}_id")) +:
          path.hops.zipWithIndex.map { case (_, i) =>
            hopArrays.get(i) match {
              case Some(a) =>
                org.apache.spark.sql.functions.slice(
                  col(a), lit(2), size(col(a)) - 1)
              case None => array(col(s"${nvs(i + 1)}_id"))
            }
          }): _*)
      // fixed-length revisit rules (executor.rs:6623-6641): ACYCLIC/
      // SIMPLE — all node ids pairwise distinct; TRAIL — all edge ids
      // pairwise distinct. Pure-rigid chains use scalar pairwise
      // comparisons (cheapest); mixed chains enforce globally on the
      // concatenated per-segment arrays (per-segment pruning already
      // happened inside the traversal loop).
      path.semantics.foreach {
        case "ACYCLIC" | "SIMPLE" if mixedSem =>
          val arr = stitchedNodes
          df = Some(df.get.filter(size(arr) === size(array_distinct(arr))))
        case "TRAIL" if mixedSem =>
          val segs: Seq[Column] = path.hops.zipWithIndex.map {
            case ((e, _), i) => hopEdgeArrays.get(i) match {
              case Some(a) => col(a)
              case None => array(col(s"${e.variable.get}_eid"))
            }
          }
          val arr = concat(segs: _*)
          df = Some(df.get.filter(size(arr) === size(array_distinct(arr))))
        case "ACYCLIC" | "SIMPLE" =>
          nvs.map(v => col(s"${v}_id")).combinations(2).foreach {
            case Seq(x, y) => df = Some(df.get.filter(x =!= y))
          }
        case "TRAIL" =>
          path.hops.flatMap(_._1.variable).map(v => col(s"${v}_eid"))
            .combinations(2).foreach {
              case Seq(x, y) => df = Some(df.get.filter(x =!= y))
            }
        case _ => ()
      }
      path.assignment.foreach { pv =>
        if (mixedPathVar) df = Some(df.get.withColumn(pv, stitchedNodes))
        else df = Some(df.get.withColumn(pv,
          array(nvs.map(v => col(s"${v}_id")): _*)))
        ctx = Ctx(ctx.bindings + (pv -> ValueBinding))
      }
      val scratch = (hopArrays.values ++ hopEdgeArrays.values).toSeq
      if (scratch.nonEmpty) df = Some(df.get.drop(scratch: _*))
    }
    (df.get, ctx)
  }

  /** Empty scan for a label the graph doesn't have. The reference's
    * schemaless model grows labels dynamically via INSERT, so a pattern
    * over a missing label matches NOTHING rather than erroring
    * (pattern_tests.rs "patterns with no matches"; a fresh session may
    * query a label before the first INSERT creates it). Schema: the id
    * column plus every property the query reads off this variable —
    * string-typed nulls; with 0 rows only analysis ever sees the types.
    */
  private def emptyScan(v: String, extraProps: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = org.apache.spark.sql.SparkSession.active
    // "id" is already the explicit long id column below — a query that
    // mentions `v.id` puts "id" in usedProps, and keeping it in the prop
    // list duplicated `<v>_id` (DdlCatalogFuzzSpec seed 20260817:
    // MATCH (n:Nope) RETURN n.id over a label-less graph → Spark
    // AMBIGUOUS_REFERENCE instead of the empty result)
    val propCols = (usedProps.getOrElse(v, Set.empty) ++ extraProps)
      .toSeq.distinct.sorted.filterNot(_ == "id")
    val schema = StructType(
      StructField(s"${v}_id", LongType) +:
        propCols.map(p => StructField(s"${v}_$p", StringType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Inline pattern property filter `{k: v}`. A name NO row carries reads
    * as NULL under the dynamic-property model (same rule compileExpr's
    * Prop case applies), and `NULL = v` is never true — so an absent
    * column matches nothing instead of failing analysis.
    */
  private def propFilter(d: DataFrame, colName: String, value: Expr,
      ctx: Ctx): DataFrame =
    if (d.columns.contains(colName))
      d.filter(col(colName) === compileExpr(value, ctx))
    else d.limit(0)

  private def scanNode(label: String, v: String,
      props: Seq[(String, Expr)], ctx: Ctx): DataFrame = {
    val t = graph.nodeTables.getOrElse(label,
      return emptyScan(v, props.map(_._1)))
    var d = t.columns.foldLeft(t)((acc, c) =>
      acc.withColumnRenamed(c, if (c == "id") s"${v}_id" else s"${v}_$c"))
    props.foreach { case (k, lit) =>
      d = propFilter(d, s"${v}_$k", lit, ctx)
    }
    d
  }

  /** Align the id-key types of two join sides before an equi-join.
    * After a string-widening INSERT one label table can be StringType
    * while another is still LongType; Spark's PromoteStrings would
    * coerce String-vs-Long to Double, which silently corrupts ids above
    * 2^53 — the same hazard PropertyGraph's hop joins and
    * GraphMutations.insertNodes already guard. Casting the non-string
    * side to string is exact for both.
    */
  private def alignIdTypes(left: DataFrame, right: DataFrame,
      key: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.StringType
    (left.schema(key).dataType, right.schema(key).dataType) match {
      case (a, b) if a == b => (left, right)
      case (StringType, _) =>
        (left, right.withColumn(key, col(key).cast(StringType)))
      case (_, StringType) =>
        (left.withColumn(key, col(key).cast(StringType)), right)
      case _ => (left, right) // numeric/numeric: Spark's widening is exact
    }
  }

  /** Multi-label scan `(a:L1:L2)` — intersection semantics: the carrier
    * (first) label provides identity and its properties; each further
    * label constrains membership, joining in any property columns the
    * carrier doesn't already have (so props of every label are readable,
    * like the reference's label-set nodes).
    */
  private def scanNodeMulti(labels: Seq[String], v: String,
      props: Seq[(String, Expr)], ctx: Ctx): DataFrame = {
    // any missing label in the intersection empties the whole match
    if (labels.exists(l => !graph.nodeTables.contains(l)))
      return emptyScan(v, props.map(_._1))
    var d = scanNode(labels.head, v, Seq.empty, ctx)
    labels.tail.foreach { l =>
      val t = graph.nodeTables.getOrElse(l,
        throw new GqlCompileException(s"unknown node label: $l"))
      val extra = t.columns.filterNot(c =>
        c == "id" || d.columns.contains(s"${v}_$c"))
      val side = t.select((Seq(col("id").as(s"${v}_id")) ++
        extra.map(c => col(c).as(s"${v}_$c"))): _*)
      val (dA, sideA) = alignIdTypes(d, side, s"${v}_id")
      d = dA.join(sideA, s"${v}_id")
    }
    props.foreach { case (k, lit) =>
      d = propFilter(d, s"${v}_$k", lit, ctx)
    }
    d
  }

  /** Label-less scan `(n)` — union of every label table; the matched
    * label travels per-row in `<v>_label` so identity stays (label, id)
    * and downstream hops can re-constrain. Missing properties pad to
    * NULL (3VL filters then behave like the reference's dynamic rows).
    */
  private def scanAllLabels(v: String, props: Seq[(String, Expr)],
      ctx: Ctx): DataFrame = {
    // a zero-label graph (freshly CREATEd, nothing INSERTed) matches
    // nothing — same empty-result rule as an unknown label, not an error
    if (graph.nodeTables.isEmpty)
      return emptyScan(v, props.map(_._1))
        .withColumn(s"${v}_label", lit(null).cast("string"))
    val scans = graph.nodeTables.toSeq.sortBy(_._1).map { case (l, t) =>
      t.columns.foldLeft(t)((acc, c) =>
        acc.withColumnRenamed(c, if (c == "id") s"${v}_id" else s"${v}_$c"))
        .withColumn(s"${v}_label", lit(l))
    }
    var d =
      try graft.graph.SchemaReconcile.union(scans,
        s"node labels ${graph.nodeTables.keys.toSeq.sorted.mkString("|")}")
      catch { case ex: IllegalArgumentException =>
        throw new GqlCompileException(ex.getMessage)
      }
    props.foreach { case (k, lit) =>
      d = propFilter(d, s"${v}_$k", lit, ctx)
    }
    d
  }

  /** The first hop of a path, collected: the rows of edge type `t`
    * whose start endpoint is the seed, and their other endpoints `keys`
    * (values of type `keyType`). */
  private case class Adjacency(t: String, label: String, edges: DataFrame,
      keys: Seq[Any], keyType: org.apache.spark.sql.types.DataType)

  /** A seeded first hop as a key lookup — the reference's adjacency-list
    * read (`adjacency_out`/`adjacency_in`). Applies to an executing
    * compile of a path whose start (as written)
    *  - is matched only by `{id: K}`, K a literal or a `$param`,
    *  - has no prior binding and nothing else of it is read, and
    *  - has the label of the endpoint of a single rigid edge type.
    * Its node scan is elided (every edge endpoint exists, as the start
    * and destination elisions assume), and ONE job collects the edge
    * rows whose endpoint is K — a bucket-pruned read on a layout keyed
    * on that endpoint. The hop then joins those driver-held rows, and
    * reads the destination only through [[graft.graph.KeyIn]] on their
    * other endpoints. None (today's join plan) past [[KeyIn.Limit]]
    * rows.
    */
  private def seededAdjacency(path: PathPattern, startVar: String, ctx: Ctx,
      df: Option[DataFrame]): Option[Adjacency] = {
    import graft.graph.KeyIn
    val start = path.start
    val seed = start.props match {
      case Seq(("id", v @ (_: NumLit | _: StrLit | _: Param))) => Some(v)
      case _ => None
    }
    for {
      v <- seed
      if lookups && df.isEmpty && !ctx.bindings.contains(startVar)
      if usedProps.getOrElse(startVar, Set.empty).subsetOf(Set("id"))
      (e0, _) <- path.hops.headOption
      if e0.quantifier.isEmpty && e0.types.size == 1 && e0.direction != Undirected
      t = e0.types.head
      (et, edges) <- graph.edgeTables.get(t)
      (from, to, label) =
        if (e0.direction == Out) ("src", "dst", et.srcLabel)
        else ("dst", "src", et.dstLabel)
      if start.labels.isEmpty || start.labels == Seq(label)
      nodes <- graph.nodeTables.get(label)
      if nodes.columns.contains("id") && edges.columns.contains(from) &&
        edges.columns.contains(to)
      if nodes.schema("id").dataType == edges.schema(from).dataType
      hit = edges.filter(col(from) === compileExpr(v, ctx))
      rows <- KeyIn.collectAtMost(hit, KeyIn.Limit)
    } yield {
      import scala.jdk.CollectionConverters._
      val i = hit.schema.fieldIndex(to)
      Adjacency(t, label,
        hit.sparkSession.createDataFrame(rows.toSeq.asJava, hit.schema),
        rows.toSeq.map(_.get(i)), hit.schema(to).dataType)
    }
  }

  /** One hop: join edge table (oriented), then bind/join the target node.
    * With `adjacency`, the first hop's edges are its collected rows. */
  private def hop(df: DataFrame, ctxIn: Ctx, fromVar: String,
      edge: EdgePattern, node: NodePattern,
      sem: PathSemantics = PathSemantics.Walk,
      pathVar: Option[String] = None,
      edgeArrVar: Option[String] = None,
      elidedStart: Boolean = false,
      adjacency: Option[Adjacency] = None): (DataFrame, Ctx, String) = {
    var ctx = ctxIn
    if (edge.quantifier.isDefined)
      return varLengthHop(df, ctx, fromVar, edge, node, sem, pathVar, edgeArrVar)

    // unknown edge types match nothing (pattern_tests.rs: a multi-type
    // union keeps its known members; a fully-unknown type yields the
    // empty result, not an error — edge labels appear via INSERT)
    val eTypes =
      (if (edge.types.nonEmpty) edge.types
       else graph.edgeLabels).filter(graph.edgeTables.contains)
    val eVar = edge.variable.getOrElse(fresh("e"))
    if (ctx.bindings.contains(eVar))
      throw new GqlCompileException(s"edge variable $eVar already bound")
    val nVar = node.variable.getOrElse(fresh("n"))
    if (eTypes.isEmpty)
      return emptyHop(df, ctx, edge, node, eVar, nVar, pathVar)

    // Valid (type, orientation) combos. Each orientation of each edge type
    // implies endpoint labels (EdgeType src/dst); an orientation whose
    // labels contradict the pattern's labels (or already-bound variables)
    // can never match — per-label id spaces make the guard mandatory, not
    // an optimization. Multi-label vars match on ANY of their labels;
    // union (label-less) vars match every orientation, with the per-row
    // label re-checked in the join condition.
    val fromLabels: Seq[String] = ctx.bindings.get(fromVar) match {
      case Some(b: NodeBinding) => b.labels
      case _ => Seq.empty // UnionNode or unbound: all orientations allowed
    }
    val fromUnion = ctx.bindings.get(fromVar).contains(UnionNode)
    val toLabels: Seq[String] =
      if (node.labels.nonEmpty) node.labels
      else ctx.bindings.get(nVar) match {
        case Some(b: NodeBinding) => b.labels
        case _ => Seq.empty
      }
    val toUnion = ctx.bindings.get(nVar).contains(UnionNode)
    val orientations: Seq[Direction] = edge.direction match {
      case Undirected => Seq(Out, In)
      case d => Seq(d)
    }
    val combos = for {
      t <- eTypes
      o <- orientations
      et = graph.edgeType(t)
      startLabel = if (o == Out) et.srcLabel else et.dstLabel
      endLabel = if (o == Out) et.dstLabel else et.srcLabel
      if fromLabels.isEmpty || fromLabels.contains(startLabel)
      if toLabels.isEmpty || toLabels.contains(endLabel)
    } yield (t, o)
    if (combos.isEmpty)
      throw new GqlCompileException(
        s"pattern can never match: no orientation of [${eTypes.mkString("|")}] " +
          s"connects ${fromLabels.mkString("|")} to ${toLabels.mkString("|")}")
    val endLabels = combos.map { case (t, o) =>
      val et = graph.edgeType(t)
      if (o == Out) et.dstLabel else et.srcLabel
    }.distinct

    // edge table: union of valid oriented combos. For named edge vars the
    // raw (pre-orientation) endpoints survive as <eVar>_src/<eVar>_dst —
    // IS SOURCE/DESTINATION OF and SOURCE()/DESTINATION() read them;
    // Catalyst prunes them when unused. When an endpoint var is
    // label-less (UnionNode), the combo's endpoint label rides along so
    // the join can match ids within the right label's id space only.
    val named = edge.variable.isDefined
    val srcCol = fresh("src"); val dstCol = fresh("dst")
    val fromLabelCol = fresh("fromLabel"); val endLabelCol = fresh("endLabel")
    val needEnd = toUnion || endLabels.size > 1
    // the oriented union is built once per (combos, flags) shape and
    // cached on the graph — repeated hops over the same edge pattern
    // reuse the lineage; only the per-call column renames differ
    def orient(t: String, o: Direction): DataFrame = {
      val raw = adjacency.filter(_.t == t).fold(graph.edgeTables(t)._2)(_.edges)
      val et = graph.edgeType(t)
      var base = raw.withColumn("__label", lit(t))
      if (named) base = base.withColumn("__esrc", col("src"))
        .withColumn("__edst", col("dst"))
      if (fromUnion) base = base.withColumn("__fromLabel",
        lit(if (o == Out) et.srcLabel else et.dstLabel))
      if (needEnd) base = base.withColumn("__endLabel",
        lit(if (o == Out) et.dstLabel else et.srcLabel))
      o match {
        case In => base.withColumnRenamed("dst", "__src").withColumnRenamed("src", "__dst")
        case _ => base.withColumnRenamed("src", "__src").withColumnRenamed("dst", "__dst")
      }
    }
    val cacheKey = "orient:" + combos.map { case (t, o) => s"$t/$o" }
      .mkString(",") + s":$named:$fromUnion:$needEnd"
    def oriented: DataFrame =
      // common-supertype reconciliation: the same property name may be
      // bigint on one edge type and string on another — see SchemaReconcile
      try graft.graph.SchemaReconcile.union(
        combos.map { case (t, o) => orient(t, o) },
        s"edge types ${combos.map(_._1).distinct.mkString("|")}")
      catch { case ex: IllegalArgumentException =>
        throw new GqlCompileException(ex.getMessage)
      }
    var e = (if (adjacency.isDefined) oriented else graph.cachedPlan(cacheKey)(oriented))
      .withColumnRenamed("__src", srcCol).withColumnRenamed("__dst", dstCol)
      .withColumnRenamed("__fromLabel", fromLabelCol)
      .withColumnRenamed("__endLabel", endLabelCol)
    // prefix edge prop columns
    val keep = e.columns.filterNot(c =>
      c == srcCol || c == dstCol || c == "__label" || c == "__esrc" ||
        c == "__edst" || c == fromLabelCol || c == endLabelCol)
    e = keep.foldLeft(e)((acc, c) =>
      acc.withColumnRenamed(c, if (c == "eid") s"${eVar}_eid" else s"${eVar}_$c"))
      .withColumnRenamed("__label", s"${eVar}_label")
    if (named) e = e.withColumnRenamed("__esrc", s"${eVar}_src")
      .withColumnRenamed("__edst", s"${eVar}_dst")
    var joined =
      if (elidedStart) {
        // constraint-free start: no node-table scan to join — the edge's
        // src column IS the start identity, and the oriented union's
        // per-row start label becomes the UnionNode binding's label
        val j = e.withColumnRenamed(srcCol, s"${fromVar}_id")
        if (fromUnion) j.withColumnRenamed(fromLabelCol, s"${fromVar}_label")
        else j
      } else {
        val joinCond =
          if (fromUnion)
            col(s"${fromVar}_id") === col(srcCol) &&
              col(s"${fromVar}_label") === col(fromLabelCol)
          else col(s"${fromVar}_id") === col(srcCol)
        val j = df.join(e, joinCond)
        if (fromUnion) j.drop(fromLabelCol) else j
      }
    edge.props.foreach { case (k, v) =>
      joined = propFilter(joined, s"${eVar}_$k", v, ctx)
    }
    ctx = Ctx(ctx.bindings + (eVar -> EdgeBinding(combos.map(_._1).distinct)))

    // target node
    if (ctx.bindings.contains(nVar)) {
      var out = joined.filter(
        if (toUnion)
          col(dstCol) === col(s"${nVar}_id") &&
            col(s"${nVar}_label") === col(endLabelCol)
        else col(dstCol) === col(s"${nVar}_id"))
        .drop(srcCol, dstCol, endLabelCol)
      node.props.foreach { case (k, v) =>
        out = propFilter(out, s"${nVar}_$k", v, ctx)
      }
      (out, ctx, nVar)
    } else if (endLabels.size > 1) {
      // several possible target labels (e.g. label-less target over mixed
      // edge types): bind as a union var, label carried per-row
      if (node.props.nonEmpty || usedProps.getOrElse(nVar, Set.empty).nonEmpty)
        throw new GqlCompileException(
          s"ambiguous target label for $nVar (${endLabels.mkString(", ")}) — " +
            "add a label to read its properties")
      ctx = Ctx(ctx.bindings + (nVar -> UnionNode))
      (joined.withColumnRenamed(dstCol, s"${nVar}_id")
        .withColumnRenamed(endLabelCol, s"${nVar}_label")
        .drop(srcCol), ctx, nVar)
    } else {
      val label = endLabels.head
      ctx = Ctx(ctx.bindings + (nVar -> NodeBinding(
        if (node.labels.nonEmpty) node.labels else Seq(label))))
      if (node.props.isEmpty && usedProps.getOrElse(nVar, Set.empty).isEmpty &&
          node.labels.size <= 1) {
        // no property of nVar is ever read: the edge's dst column IS the
        // node identity and the edge type guarantees the label — elide
        // the node-table join entirely
        (joined.withColumnRenamed(dstCol, s"${nVar}_id")
          .drop(srcCol, endLabelCol), ctx, nVar)
      } else {
        val labels = if (node.labels.nonEmpty) node.labels else Seq(label)
        val scan = scanNodeMulti(labels, nVar, node.props, ctx)
        val id = s"${nVar}_id"
        val out = (adjacency match {
          // the collected edges are broadcast, and the label is read only
          // where their other endpoints are: KeyIn prunes it to their
          // buckets (BucketPrune) and row groups (parquet)
          case Some(a) =>
            val n = if (scan.schema(id).dataType != a.keyType) scan
              else scan.filter(graft.graph.KeyIn.column(scan, id, a.keys, a.keyType))
            broadcast(joined).join(n, col(dstCol) === col(id))
          case None =>
            joined.join(graph.broadcastIfSmall(labels.head, scan), col(dstCol) === col(id))
        }).drop(srcCol, dstCol, endLabelCol)
        (out, ctx, nVar)
      }
    }
  }

  /** Zero-row hop result for an edge pattern whose types don't exist in
    * the graph: 0 rows of the shape a real hop would produce, so the
    * rest of the query (projections, aggregates over the empty set)
    * compiles and runs unchanged.
    */
  private def emptyHop(df: DataFrame, ctxIn: Ctx,
      edge: EdgePattern, node: NodePattern, eVar: String, nVar: String,
      pathVar: Option[String],
      edgeArrVar: Option[String] = None): (DataFrame, Ctx, String) = {
    var ctx = ctxIn
    var out = df.limit(0)
      .withColumn(s"${eVar}_eid", lit(null).cast("long"))
      .withColumn(s"${eVar}_label", lit(null).cast("string"))
    if (edge.variable.isDefined)
      out = out.withColumn(s"${eVar}_src", lit(null).cast("long"))
        .withColumn(s"${eVar}_dst", lit(null).cast("long"))
    (usedProps.getOrElse(eVar, Set.empty) ++ edge.props.map(_._1))
      .toSeq.distinct.sorted.foreach { p =>
        if (!out.columns.contains(s"${eVar}_$p"))
          out = out.withColumn(s"${eVar}_$p", lit(null).cast("string"))
      }
    ctx = Ctx(ctx.bindings +
      (eVar -> EdgeBinding(
        if (edge.types.isEmpty) Seq("__missing") else edge.types.distinct)))
    if (!ctx.bindings.contains(nVar)) {
      out = out.withColumn(s"${nVar}_id", lit(null).cast("long"))
      if (node.labels.isEmpty) {
        out = out.withColumn(s"${nVar}_label", lit(null).cast("string"))
        ctx = Ctx(ctx.bindings + (nVar -> UnionNode))
      } else {
        (usedProps.getOrElse(nVar, Set.empty) ++ node.props.map(_._1))
          .toSeq.distinct.sorted.foreach { p =>
            if (!out.columns.contains(s"${nVar}_$p"))
              out = out.withColumn(s"${nVar}_$p", lit(null).cast("string"))
          }
        ctx = Ctx(ctx.bindings + (nVar -> NodeBinding(node.labels)))
      }
    }
    (pathVar ++ edgeArrVar).foreach { pv =>
      out = out.withColumn(pv, lit(null).cast("array<long>"))
    }
    (out, ctx, nVar)
  }

  /** Variable-length hop via PropertyGraph.paths (semantics per the
    * pattern's WALK/TRAIL/SIMPLE/ACYCLIC prefix, default WALK; cap 10 —
    * parity with executor.rs:6505-6510). Edge variables are not bindable
    * across a quantified edge; a path variable binds the node-id array
    * (one row PER PATH, not per endpoint pair).
    */
  private def varLengthHop(df: DataFrame, ctxIn: Ctx, fromVar: String,
      edge: EdgePattern, node: NodePattern,
      sem: PathSemantics, pathVar: Option[String],
      edgeArrVar: Option[String] = None): (DataFrame, Ctx, String) = {
    var ctx = ctxIn
    if (edge.variable.isDefined)
      throw new GqlCompileException("edge variable not supported on quantified edges")
    val t = edge.types.headOption.getOrElse(
      throw new GqlCompileException("quantified edge requires a type"))
    // a quantified hop over a type the graph doesn't have matches nothing
    if (!graph.edgeTables.contains(t))
      return emptyHop(df, ctx, edge, node, fresh("e"),
        node.variable.getOrElse(fresh("n")), pathVar, edgeArrVar)
    val (lo, hi) = edge.quantifier.get
    val dir = edge.direction match {
      case Out => GDir.Out
      case In => GDir.In
      case Undirected => GDir.Both
    }
    // a label-less (union) start var must be restricted to the edge
    // type's start-label id space before the traversal
    val et0 = graph.edgeType(t)
    val startLabels = dir match {
      case GDir.Out => Seq(et0.srcLabel)
      case GDir.In => Seq(et0.dstLabel)
      case GDir.Both => Seq(et0.srcLabel, et0.dstLabel).distinct
    }
    val dfR =
      if (ctx.bindings.get(fromVar).contains(UnionNode))
        df.filter(col(s"${fromVar}_label").isin(startLabels.map(x => x: Any): _*))
      else df
    val start = dfR.select(col(s"${fromVar}_id").as("start_id")).distinct()
    val reach0 = graph.paths(start, t, lo, hi, sem, dir,
      keepEdges = edgeArrVar.isDefined)
    // path variable: one output row PER PATH, node-id array attached.
    // Without one, STILL one row per path (ISO-GQL / executor.rs
    // :6394-6510 enumeration semantics) — collapsing to distinct
    // endpoint pairs would turn enumeration into reachability and
    // under-count branching DAGs (e.g. diamond A→{B,C}→E must yield
    // two rows, not one). edgeArrVar additionally attaches the per-path
    // edge-id array (mixed-chain TRAIL enforcement).
    val reachCols = Seq(col("start_id"), col("end_id")) ++
      pathVar.map(pv => col("path").as(pv)) ++
      edgeArrVar.map(ea => col("epath").as(ea))
    val reach = reach0.select(reachCols: _*)
    val nVar = node.variable.getOrElse(fresh("n"))
    val joined = dfR.join(reach, col(s"${fromVar}_id") === col("start_id"))
    if (ctx.bindings.contains(nVar)) {
      (joined.filter(col("end_id") === col(s"${nVar}_id"))
        .drop("start_id", "end_id"), ctx, nVar)
    } else if (node.props.isEmpty && usedProps.getOrElse(nVar, Set.empty).isEmpty) {
      val label = node.labels.headOption.getOrElse(graph.edgeType(t).dstLabel)
      ctx = Ctx(ctx.bindings + (nVar -> NodeBinding.one(label)))
      (joined.withColumnRenamed("end_id", s"${nVar}_id").drop("start_id"), ctx, nVar)
    } else {
      val label = node.labels.headOption.getOrElse(graph.edgeType(t).dstLabel)
      val n = graph.broadcastIfSmall(label, scanNode(label, nVar, node.props, ctx))
      val out = joined.join(n, col("end_id") === col(s"${nVar}_id"))
        .drop("start_id", "end_id")
      ctx = Ctx(ctx.bindings + (nVar -> NodeBinding.one(label)))
      (out, ctx, nVar)
    }
  }

  // ------------------------------------------------------------------
  // expressions
  // ------------------------------------------------------------------
  private val aggNames = Set("COUNT", "SUM", "AVG", "AVERAGE", "MIN", "MAX", "COLLECT")

  private def containsAgg(e: Expr): Boolean = e match {
    case CountStar() => true
    case Fn(n, args, _) =>
      aggNames.contains(n) || args.exists(containsAgg)
    case Bin(_, l, r) => containsAgg(l) || containsAgg(r)
    case Not(x) => containsAgg(x)
    case Neg(x) => containsAgg(x)
    case IsNull(x, _) => containsAgg(x)
    case IsTruth(x, _, _) => containsAgg(x)
    case InList(x, items, _) => containsAgg(x) || items.exists(containsAgg)
    case StringPred(_, l, r, _) => containsAgg(l) || containsAgg(r)
    case CaseExpr(s, ws, o) => s.exists(containsAgg) ||
      ws.exists { case (c, v) => containsAgg(c) || containsAgg(v) } ||
      o.exists(containsAgg)
    case Cast(x, _) => containsAgg(x)
    case Index(x, i) => containsAgg(x) || containsAgg(i)
    case FieldAccess(x, _) => containsAgg(x)
    case _ => false
  }

  private def aggSubtrees(e: Expr): Seq[Expr] = e match {
    case CountStar() => Seq(e)
    case Fn(n, _, _) if aggNames.contains(n) => Seq(e)
    case Fn(_, args, _) => args.flatMap(aggSubtrees)
    case Bin(_, l, r) => aggSubtrees(l) ++ aggSubtrees(r)
    case Not(x) => aggSubtrees(x)
    case Neg(x) => aggSubtrees(x)
    case IsNull(x, _) => aggSubtrees(x)
    case IsTruth(x, _, _) => aggSubtrees(x)
    case InList(x, items, _) => aggSubtrees(x) ++ items.flatMap(aggSubtrees)
    case StringPred(_, l, r, _) => aggSubtrees(l) ++ aggSubtrees(r)
    case CaseExpr(s, ws, o) => s.toSeq.flatMap(aggSubtrees) ++
      ws.flatMap { case (c, v) => aggSubtrees(c) ++ aggSubtrees(v) } ++
      o.toSeq.flatMap(aggSubtrees)
    case Cast(x, _) => aggSubtrees(x)
    case Index(x, i) => aggSubtrees(x) ++ aggSubtrees(i)
    case FieldAccess(x, _) => aggSubtrees(x)
    case _ => Seq.empty
  }

  /** Compile an expression that may contain aggregate calls (agg context). */
  /** The physical per-row label column for variables whose identity is a
    * (label, id) pair — label-less node vars and multi-type edge vars.
    * Ids are only unique within one label/type, so identity-sensitive
    * operations (DISTINCT, COUNT(DISTINCT), grouping) must pair it in.
    */
  private def pairIdentityLabel(v: String, ctx: Ctx): Option[String] =
    ctx.bindings.get(v) match {
      case Some(UnionNode) => Some(s"${v}_label")
      case Some(eb: EdgeBinding) if eb.types.size > 1 => Some(s"${v}_label")
      case _ => None
    }

  private def compileAggExpr(e: Expr, ctx: Ctx): Column = e match {
    case CountStar() => count(lit(1))
    case Fn("COUNT", Seq(Ident(v)), true)
        if pairIdentityLabel(v, ctx).isDefined =>
      countDistinct(compileExpr(Ident(v), ctx),
        col(pairIdentityLabel(v, ctx).get))
    case Fn("COUNT", Seq(a), true) => countDistinct(compileExpr(a, ctx))
    case Fn("COUNT", Seq(a), false) => count(compileExpr(a, ctx))
    case Fn("SUM", Seq(a), d) =>
      val c = compileExpr(a, ctx); if (d) sum_distinct(c) else sum(c)
    case Fn("AVG" | "AVERAGE", Seq(a), _) => avg(compileExpr(a, ctx))
    case Fn("MIN", Seq(a), _) => min(compileExpr(a, ctx))
    case Fn("MAX", Seq(a), _) => max(compileExpr(a, ctx))
    case Fn("COLLECT", Seq(Ident(v)), true)
        if pairIdentityLabel(v, ctx).isDefined =>
      // dedup on the (label, id) pair, then project back to ids: two
      // distinct edges sharing an eid across types BOTH appear
      transform(
        collect_set(struct(col(pairIdentityLabel(v, ctx).get).as("l"),
          compileExpr(Ident(v), ctx).as("i"))),
        x => x.getField("i"))
    case Fn("COLLECT", Seq(a), d) =>
      if (d) collect_set(compileExpr(a, ctx)) else collect_list(compileExpr(a, ctx))
    case Bin(op, l, r) => binOp(op, compileAggExpr(l, ctx), compileAggExpr(r, ctx))
    case Neg(x) => -compileAggExpr(x, ctx)
    case Cast(x, t) => compileAggExpr(x, ctx).cast(sparkType(t))
    case other => compileExpr(other, ctx)
  }

  /** Post-aggregation / post-projection resolution: aliases and
    * pre-registered aggregate columns.
    */
  private case class PostCtx(exprCols: Map[Expr, String], ctx: Ctx)
  private def compilePost(e: Expr, pc: PostCtx): Column =
    pc.exprCols.get(e) match {
      case Some(n) => outCol(n)
      case None => e match {
        case Ident(v) => col(v)
        case Bin(op, l, r) => binOp(op, compilePost(l, pc), compilePost(r, pc))
        case Not(x) => !compilePost(x, pc)
        case Neg(x) => -compilePost(x, pc)
        case IsNull(x, neg) =>
          val c = compilePost(x, pc); if (neg) c.isNotNull else c.isNull
        case IsTruth(x, truth, neg) =>
          val c = isTruth(compilePost(x, pc), truth)
          if (neg) !c else c
        case InList(x, items, neg) =>
          val c = compilePost(x, pc).isin(items.map(litValue): _*)
          if (neg) !c else c
        case StringPred(op, l, r, neg) =>
          val c = stringPred(op, compilePost(l, pc), r, x => compilePost(x, pc))
          if (neg) !c else c
        case CaseExpr(s, ws, o) => caseExpr(s, ws, o, x => compilePost(x, pc))
        case Cast(x, t) => compilePost(x, pc).cast(sparkType(t))
        case n: NumLit => numLit(n)
        case StrLit(s) => lit(s)
        case BoolLit(b) => lit(b)
        case NullLit() => lit(null)
        case other => compileExpr(other, pc.ctx)
      }
    }

  /** A numeric constant, bound by reference: queries that differ only in
    * a number share one generated class (see graft.plans.RefLiteral).
    */
  private def numLit(n: NumLit): Column =
    graft.plans.RefLiteral.lit(if (n.isInt) n.v.toLong else n.v.toDouble)

  def compileExpr(e: Expr, ctx: Ctx): Column = e match {
    case NullLit() => lit(null)
    case BoolLit(b) => lit(b)
    case n: NumLit => numLit(n)
    case StrLit(s) => lit(s)
    case ListLit(items) => array(items.map(compileExpr(_, ctx)): _*)
    case Ident(v) => ctx.bindings.get(v) match {
      case Some(NodeBinding(_)) | Some(UnionNode) => col(s"${v}_id")
      case Some(EdgeBinding(_)) => col(s"${v}_eid")
      case _ => col(v)
    }
    case Param(name) => params.get(name) match {
      case Some(v) => graft.plans.RefLiteral.lit(v)
      case None => throw new GqlCompileException(
        s"unknown session parameter $$$name")
    }
    // dynamic-property semantics (reference Value model): accessing a
    // property NO row of the variable's label carries yields NULL, not
    // an unresolved-column error — properties appear per-INSERT, so a
    // never-written name is simply absent, like a written-then-missing
    // one. Only statically-known entity bindings resolve this way;
    // aliases keep strict column resolution.
    case Prop(v, p) => ctx.bindings.get(v) match {
      case Some(nb: NodeBinding)
          if !nb.labels.exists(l => graph.nodeTables.get(l)
            .exists(_.columns.contains(p))) && p != "id" =>
        lit(null).cast("string")
      case Some(eb: EdgeBinding)
          if !eb.types.exists(t => graph.edgeTables.get(t)
            .exists(_._2.columns.contains(p))) &&
            p != "eid" && p != "id" =>
        // includes `t.label`: the per-row type is internal machinery
        // (reached via TYPE(t)); as a *property* it is absent → NULL.
        // The WITH expansion and GROUP BY keys address the physical
        // column via Ident("<v>_label") instead.
        lit(null).cast("string")
      case Some(UnionNode)
          if !graph.nodeTables.values.exists(_.columns.contains(p)) &&
            p != "id" && p != "label" =>
        lit(null).cast("string")
      case _ => col(s"${v}_$p")
    }
    case CountStar() =>
      throw new GqlCompileException("count(*) outside aggregation context")
    // internal: set-op entity identity (see compileSetOp) — the
    // label/type that pairs with the projected id to form the identity.
    // The entity KIND prefixes the label: a node label and an edge type
    // may share a name, and node #1 of label X must never compare equal
    // to edge #1 of type X
    case Fn("__SETOP_ID", Seq(Ident(v)), _) => ctx.bindings.get(v) match {
      case Some(UnionNode) => concat(lit("n:"), col(s"${v}_label"))
      case Some(NodeBinding(ls)) => lit(s"n:${ls.head}")
      case Some(eb: EdgeBinding) =>
        if (eb.types.size > 1) concat(lit("e:"), col(s"${v}_label"))
        else lit(s"e:${eb.types.head}")
      case _ => lit(null).cast("string") // value item: inert under
                                         // null-safe set-op comparison
    }
    case Fn(n, args, d) if aggNames.contains(n) =>
      throw new GqlCompileException(s"aggregate $n outside aggregation context")
    case Fn(name, args, _) => scalarFn(name, args, ctx)
    case Bin(op @ ("=" | "<>"), l, r) =>
      endpointCompare(op, l, r, ctx).getOrElse(
        binOp(op, compileExpr(l, ctx), compileExpr(r, ctx)))
    case Bin(op, l, r) => binOp(op, compileExpr(l, ctx), compileExpr(r, ctx))
    case Not(x) => !compileExpr(x, ctx)
    case Neg(x) => -compileExpr(x, ctx)
    case IsNull(x, neg) =>
      val c = compileExpr(x, ctx); if (neg) c.isNotNull else c.isNull
    case IsTruth(x, truth, neg) =>
      val c = isTruth(compileExpr(x, ctx), truth)
      if (neg) !c else c
    case InList(x, items, neg) =>
      val c = compileExpr(x, ctx).isin(items.map(litValue): _*)
      if (neg) !c else c
    case StringPred(op, l, r, neg) =>
      val c = stringPred(op, compileExpr(l, ctx), r, x => compileExpr(x, ctx))
      if (neg) !c else c
    case CaseExpr(s, ws, o) => caseExpr(s, ws, o, x => compileExpr(x, ctx))
    case Cast(x, t) => compileExpr(x, ctx).cast(sparkType(t))
    case Index(x, StrLit(k)) => // map-key access: PROPERTIES(v)['key']
      compileExpr(x, ctx).getField(k)
    case Index(x, i) =>
      element_at(compileExpr(x, ctx), compileExpr(i, ctx).cast("int") + 1)
    case FieldAccess(x, f) => // f(x).y — map-key / struct-field extraction
      compileExpr(x, ctx).getField(f)
    // IS predicates beyond NULL/TRUTH (ast.rs:1598-1611). The reference
    // stubs DIRECTED/SOURCE/DESTINATION to false (executor.rs:8808-8821);
    // we implement the real topology tests — documented divergence.
    case IsSrcDst(n, e, dest, neg) =>
      val (nv, ev) = (n, e) match {
        case (Ident(a), Ident(b)) => (a, b)
        case _ => throw new GqlCompileException(
          "IS SOURCE/DESTINATION OF expects node and edge variables")
      }
      if (!ctx.isNodeLike(nv))
        throw new GqlCompileException(s"$nv is not a node variable")
      if (!ctx.bindings.get(ev).exists(_.isInstanceOf[EdgeBinding]))
        throw new GqlCompileException(s"$ev is not an edge variable")
      val c = endpointTest(nv, ev, dest, ctx)
      if (neg) !c else c
    case IsDirected(x, neg) =>
      x match {
        case Ident(v) if ctx.bindings.get(v).exists(_.isInstanceOf[EdgeBinding]) =>
          lit(!neg) // every edge in this model is directed
        case _ => throw new GqlCompileException("IS DIRECTED expects an edge variable")
      }
    case IsNormalized(x, neg) =>
      // reference semantics (executor.rs:8871-8881): strings count as
      // normalized, non-strings don't. The subject's type is static per
      // schema, so this resolves at compile time (also avoids Spark
      // 4.1.2's broken `typeof` codegen).
      lit(isStringTyped(x, ctx) != neg)
    case IsLabeled(x, label, neg) =>
      x match {
        case Ident(v) => ctx.bindings.get(v) match {
          case Some(NodeBinding(ls)) => lit(ls.contains(label) != neg)
          case Some(UnionNode) =>
            val c = col(s"${v}_label") === lit(label)
            if (neg) !c else c
          case Some(eb: EdgeBinding) if eb.types.size == 1 =>
            lit((eb.primary == label) != neg)
          case Some(_: EdgeBinding) =>
            // multi-type union: the matched type travels per-row
            val c = col(s"${v}_label") === lit(label)
            if (neg) !c else c
          case _ => throw new GqlCompileException(s"IS :$label expects a node/edge variable")
        }
        case _ => throw new GqlCompileException(s"IS :$label expects a variable")
      }
    case ExistsPattern(_) =>
      throw new GqlCompileException(
        "EXISTS patterns are supported only in WHERE / FILTER positions")
    case Subquery(_) =>
      throw new GqlCompileException(
        "scalar subqueries are not supported in this position " +
          "(supported: WHERE / FILTER, RETURN / WITH items, GROUP BY, " +
          "ORDER BY, DECLARE initializers)")
    case QuantifiedCmp(_, _, _, _) =>
      throw new GqlCompileException(
        "quantified comparisons are not supported in this position " +
          "(supported: WHERE / FILTER, RETURN / WITH items)")
  }

  /** Genuine-endpoint test shared by IS SOURCE/DESTINATION OF and
    * SOURCE()/DESTINATION() equality: ids live in per-label id spaces, so
    * a bare id equality would call any numeric collision an endpoint.
    * The edge's per-row type (`<ev>_label`) determines the endpoint label
    * (EdgeType src/dst), which must be among the node variable's labels
    * (per-row `<nv>_label` for union vars). Constant labels fold at
    * Catalyst's optimizer, so the single-type case costs nothing.
    */
  private def endpointTest(nv: String, ev: String, dest: Boolean,
      ctx: Ctx): Column = {
    val endpointLabel = {
      val pairs = graph.edgeLabels.map { t =>
        val et = graph.edgeType(t)
        t -> (if (dest) et.dstLabel else et.srcLabel)
      }
      pairs.tail.foldLeft(
        when(col(s"${ev}_label") === lit(pairs.head._1), lit(pairs.head._2))) {
        case (acc, (t, l)) => acc.when(col(s"${ev}_label") === lit(t), lit(l))
      }
    }
    val labelOk = ctx.bindings(nv) match {
      case NodeBinding(ls) => endpointLabel.isin(ls.map(x => x: Any): _*)
      case UnionNode => endpointLabel === col(s"${nv}_label")
      case _ => lit(false)
    }
    labelOk && (col(s"${nv}_id") === col(s"${ev}_${if (dest) "dst" else "src"}"))
  }

  /** `SOURCE(e) = n` / `DESTINATION(e) = n` (either operand order): node
    * identity is the (label, id) pair, so these comparisons take the same
    * endpoint guard as IS SOURCE/DESTINATION OF instead of a raw id
    * equality. Returns None when the shape doesn't match.
    */
  private def endpointCompare(op: String, l: Expr, r: Expr,
      ctx: Ctx): Option[Column] = {
    def nodeVar(e: Expr): Option[String] = e match {
      case Ident(v) if ctx.isNodeLike(v) => Some(v)
      case _ => None
    }
    def endpointFn(e: Expr): Option[(String, Boolean)] = e match {
      case Fn(n @ ("SOURCE" | "DESTINATION"), Seq(Ident(ev)), _)
          if ctx.bindings.get(ev).exists(_.isInstanceOf[EdgeBinding]) =>
        Some((ev, n == "DESTINATION"))
      case _ => None
    }
    val matched = (endpointFn(l), nodeVar(r)) match {
      case (Some((ev, dest)), Some(nv)) => Some((nv, ev, dest))
      case _ => (endpointFn(r), nodeVar(l)) match {
        case (Some((ev, dest)), Some(nv)) => Some((nv, ev, dest))
        case _ => None
      }
    }
    matched.map { case (nv, ev, dest) =>
      val c = endpointTest(nv, ev, dest, ctx)
      if (op == "<>") !c else c
    }
  }

  /** Static string-typedness of an expression (for IS NORMALIZED). */
  private def isStringTyped(e: Expr, ctx: Ctx): Boolean = e match {
    case StrLit(_) => true
    case NumLit(_, _) | BoolLit(_) | NullLit() | ListLit(_) => false
    case Prop(v, p) => ctx.bindings.get(v) match {
      case Some(NodeBinding(ls)) => ls.exists(l =>
        graph.nodeTables.get(l).exists(_.schema.fields.exists(f =>
          f.name.equalsIgnoreCase(p) &&
            f.dataType == org.apache.spark.sql.types.StringType)))
      case Some(eb: EdgeBinding) =>
        eb.types.exists(t =>
          graph.edgeTables.get(t).exists(_._2.schema.fields.exists(f =>
            f.name.equalsIgnoreCase(p) &&
              f.dataType == org.apache.spark.sql.types.StringType)))
      case _ => false
    }
    case Ident(_) => false // entities/ids are not strings
    case Fn(n, _, _) => Set("UPPER", "LOWER", "TRIM", "SUBSTRING",
      "REPLACE", "REVERSE")(n)
    case Bin("||", _, _) => true
    case Cast(_, t) => Set("STRING", "VARCHAR", "TEXT")(t.toUpperCase)
    case CaseExpr(_, ws, o) =>
      (ws.map(_._2) ++ o.toSeq).forall(isStringTyped(_, ctx))
    case _ => false
  }

  private def caseExpr(subject: Option[Expr], whens: Seq[(Expr, Expr)],
      otherwise: Option[Expr], comp: Expr => Column): Column = {
    val base = subject match {
      case Some(s) =>
        val sc = comp(s)
        whens.foldLeft(Option.empty[Column]) { case (acc, (c, v)) =>
          val w = acc match {
            case None => when(sc === comp(c), comp(v))
            case Some(a) => a.when(sc === comp(c), comp(v))
          }
          Some(w)
        }
      case None =>
        whens.foldLeft(Option.empty[Column]) { case (acc, (c, v)) =>
          val w = acc match {
            case None => when(comp(c), comp(v))
            case Some(a) => a.when(comp(c), comp(v))
          }
          Some(w)
        }
    }
    otherwise.fold(base.get)(o => base.get.otherwise(comp(o)))
  }

  /** IS TRUE/FALSE/UNKNOWN — null-safe truth tests (ISO 3VL). */
  private def isTruth(c: Column, truth: String): Column = truth match {
    case "TRUE" => c <=> lit(true)
    case "FALSE" => c <=> lit(false)
    case _ => c.isNull // UNKNOWN
  }

  private def binOp(op: String, l0: Column, r0: Column): Column = {
    // f64 mode: every arithmetic input goes through double first
    val arith = Set("+", "-", "*", "/", "%")
    val (l, r) =
      if (f64Numbers && arith(op)) (l0.cast("double"), r0.cast("double"))
      else (l0, r0)
    op match {
    case "+" => l + r
    case "-" => l - r
    case "*" => l * r
    case "/" => l / r
    case "%" => ScalarFns.euclidMod(l, r) // reference rem_euclid semantics
    case "||" => concat(l, r)
    case "=" => l === r
    case "<>" => l =!= r
    case "<" => l < r
    case "<=" => l <= r
    case ">" => l > r
    case ">=" => l >= r
    case "AND" => l && r
    case "OR" => l || r
    case "XOR" => l =!= r
    case other => throw new GqlCompileException(s"unknown operator $other")
    }
  }

  private def stringPred(op: String, l: Column, r: Expr,
      comp: Expr => Column): Column = op match {
    case "STARTS WITH" => l.startsWith(comp(r))
    case "ENDS WITH" => l.endsWith(comp(r))
    case "CONTAINS" => l.contains(comp(r))
    // Spark's like() takes a literal pattern (the only form the
    // reference grammar allows as well — executor.rs:5461-5573)
    case "LIKE" => r match {
      case StrLit(s) => l.like(s)
      case _ => throw new GqlCompileException("LIKE requires a literal pattern")
    }
  }

  private def litValue(e: Expr): Any = e match {
    case NumLit(v, true) => v.toLong
    case NumLit(v, false) => v.toDouble
    case StrLit(s) => s
    case BoolLit(b) => b
    case NullLit() => null
    case other => throw new GqlCompileException(s"IN list requires literals, got $other")
  }

  private val DecimalPS = """DECIMAL\((\d+),(\d+)\)""".r
  private val DecimalP = """DECIMAL\((\d+)\)""".r
  private val StringN = """(?:STRING|VARCHAR|TEXT)\(\d+\)""".r
  private val FloatP = """FLOAT\((\d+)\)""".r
  private val BytesN = """BYTES\(\d+\)""".r
  private val DurationP = """DURATION(?:\(\d+\))?""".r

  private def sparkType(t: String): String = t.toUpperCase match {
    case "STRING" | "VARCHAR" | "TEXT" => "string"
    case StringN() => "string" // length is a DDL constraint, not a runtime type
    case "INTEGER" | "INT" | "BIGINT" | "SMALLINT" => "long"
    case "FLOAT" | "DOUBLE" | "REAL" | "FLOAT64" => "double"
    // FLOAT(p): p<=24 is single precision, else double (ast.rs:837-841)
    case FloatP(p) => if (p.toInt <= 24) "float" else "double"
    case "FLOAT32" => "float"
    case "BOOLEAN" | "BOOL" => "boolean"
    case "DATE" => "date"
    case "TIMESTAMP" | "DATETIME" => "timestamp"
    // DECIMAL(p,s) → exact DecimalType(p,s) (reference ast.rs:826-830)
    case DecimalPS(p, sc) => s"decimal($p,$sc)"
    case DecimalP(p) => s"decimal($p,0)"
    case "DECIMAL" => "decimal(38,18)"
    // BYTES(n) → binary (length is a DDL constraint, ast.rs:814-878)
    case "BYTES" | "BINARY" => "binary"
    case BytesN() => "binary"
    // DURATION(p) → day-time interval; sub-second precision p is a DDL
    // constraint (Spark's DayTimeIntervalType is fixed micros)
    case DurationP() => "interval day to second"
    // honest errors where Spark's type system genuinely cannot follow
    case "INT128" | "INT256" =>
      throw new GqlCompileException(
        s"$t exceeds Spark's 64-bit integer range — use DECIMAL(38,0) " +
          "(exact to 38 digits) instead")
    case "RECORD" =>
      throw new GqlCompileException(
        "CAST to RECORD is not supported — construct struct values with " +
          "named fields instead (RECORD fields are not expressible in a " +
          "cast target)")
    case other => throw new GqlCompileException(s"unsupported cast target $other")
  }

  /** AST shapes that compile to a named-tz (tz, ts) struct — the typed-
    * value dispatch EXTRACT_TIMEZONE/LOCAL_DATETIME need (the compiler is
    * Column-based, so value kinds are resolved from expression shape).
    */
  private object ZonedShape {
    def unapply(e: Expr): Boolean = e match {
      case Fn("AT_TIME_ZONE" | "TIMEZONE" | "ZONED_DATETIME" | "CONVERT_TZ",
        _, _) => true
      // date arithmetic preserves the operand's zone (convert_from_utc,
      // temporal_functions.rs:798-803) — the shape propagates
      case Fn("DATE_ADD" | "DATE_SUB", args, _)
          if args.nonEmpty && unapply(args(0)) => true
      // an alias whose defining expression was zoned (tracked across
      // WITH re-aliasing and LET in [[zonedVals]])
      case Ident(v) => zonedVals.contains(v)
      case CaseExpr(_, whens, otherwise) =>
        whens.exists { case (_, v) => unapply(v) } || otherwise.exists(unapply)
      case _ => false
    }
  }

  /** Best-effort static value kind, resolved from AST shape — the
    * dispatch TYPE() and SIZE() need (reference TypeFunction /
    * SizeFunction, graph_functions.rs:207-225 & 618-637, are dynamically
    * typed; the Column-based compiler recovers the kind from literals,
    * pattern bindings, the property schema, function families, and
    * WITH/LET alias tracking in [[aliasKinds]]). Kind names are the
    * reference's: STRING / NUMBER / BOOLEAN / NULL / LIST / NODE / EDGE /
    * DATETIME / PATH. None = not statically determinable.
    */
  private def staticKind(e: Expr, ctx: Ctx): Option[String] = e match {
    case StrLit(_) => Some("STRING")
    case NumLit(_, _) => Some("NUMBER")
    case BoolLit(_) => Some("BOOLEAN")
    case NullLit() => Some("NULL")
    case ListLit(_) => Some("LIST")
    case ZonedShape() => Some("DATETIME")
    case Ident(v) => ctx.bindings.get(v) match {
      case Some(_: NodeBinding) | Some(UnionNode) => Some("NODE")
      case Some(_: EdgeBinding) => Some("EDGE")
      case _ => aliasKinds.get(v)
    }
    case Prop(v, p) => ctx.bindings.get(v) match {
      case Some(nb: NodeBinding) =>
        graph.nodeTables.get(nb.primary)
          .flatMap(t => t.schema.find(_.name == p)).flatMap(f => dtKind(f.dataType))
      case Some(eb: EdgeBinding) =>
        // static only when every matched type agrees on the kind
        eb.types.flatMap(t => graph.edgeTables.get(t)
          .flatMap(_._2.schema.find(_.name == p))
          .flatMap(f => dtKind(f.dataType))).distinct match {
          case Seq(k) => Some(k)
          case _ => None
        }
      case _ => None // UnionNode props can differ per label
    }
    case Neg(_) => Some("NUMBER")
    case Bin("+" | "-" | "*" | "/" | "%", _, _) => Some("NUMBER")
    case Bin("||", l, r) => staticKind(l, ctx).orElse(staticKind(r, ctx))
    case Bin(_, _, _) => Some("BOOLEAN")
    case Not(_) | IsNull(_, _) | IsTruth(_, _, _) | InList(_, _, _) |
        StringPred(_, _, _, _) | QuantifiedCmp(_, _, _, _) |
        ExistsPattern(_) | IsSrcDst(_, _, _, _) => Some("BOOLEAN")
    case CaseExpr(_, whens, otherwise) =>
      (whens.map(_._2) ++ otherwise).flatMap(staticKind(_, ctx))
        .find(_ != "NULL")
    case Cast(_, t) => t.toUpperCase.takeWhile(_.isLetter) match {
      case "STRING" | "VARCHAR" | "CHAR" => Some("STRING")
      case "INT" | "INTEGER" | "BIGINT" | "SMALLINT" | "DOUBLE" | "FLOAT" |
          "DECIMAL" | "NUMERIC" | "REAL" => Some("NUMBER")
      case "BOOL" | "BOOLEAN" => Some("BOOLEAN")
      case "DATE" | "TIMESTAMP" | "DATETIME" => Some("DATETIME")
      case _ => None
    }
    case CountStar() => Some("NUMBER")
    case Fn(name, fargs, _) => name.toUpperCase match {
      case "LABELS" => Some("LIST")
      case "UPPER" | "LOWER" | "TRIM" | "LTRIM" | "RTRIM" | "SUBSTRING" |
          "REPLACE" | "TO_JSON" | "TO_STRING" | "GET_TIMEZONE_NAME" |
          "GET_TIMEZONE_ABBREVIATION" | "TYPE" => Some("STRING")
      case "ABS" | "CEIL" | "CEILING" | "FLOOR" | "SQRT" | "POWER" | "POW" |
          "LOG" | "LOG10" | "EXP" | "SIN" | "COS" | "TAN" | "PI" | "SIGN" |
          "MOD" | "ROUND" | "LENGTH" | "CHAR_LENGTH" | "SIZE" |
          "LIST_LENGTH" | "COUNT" | "SUM" | "AVG" | "ID" | "EXTRACT" |
          "DURATION_NUMERIC" | "GET_TIMEZONE_OFFSET" | "HOUR" | "MINUTE" |
          "SECOND" => Some("NUMBER")
      case "COLLECT" | "LIST_APPEND" | "LIST_PREPEND" | "LIST_REVERSE" |
          "LIST_SLICE" | "KEYS" | "SPLIT" => Some("LIST")
      case "PATH" => Some("PATH")
      case "LIST_CONTAINS" | "ALL_DIFFERENT" | "SAME" | "PROPERTY_EXISTS" =>
        Some("BOOLEAN")
      case "NOW" | "CURRENT_TIMESTAMP" | "LOCAL_DATETIME" | "DATETIME" |
          "CURRENT_DATE" | "CURRENT_TIME" | "TO_TIMESTAMP" |
          "DATE_TRUNC" => Some("DATETIME")
      case "REVERSE" | "MIN" | "MAX" | "COALESCE" | "NULLIF" =>
        fargs.headOption.flatMap(staticKind(_, ctx))
      case _ => None
    }
    case _ => None
  }

  /** Kind of an already-compiled column, when its Catalyst expression is
    * resolved (property refs on concrete frames are; computed columns
    * usually are not — those return None). The dtype-based last resort
    * behind [[staticKind]] for list-extend dispatch. */
  /** The frame the expression currently being compiled will evaluate
    * against — maintained by the segment compiler at each compileExpr
    * batch so [[colKind]] can analyze a single-column projection when
    * the column's own expression is unresolved (plain col() refs).
    * Explicitly SCOPED: [[compileSegment]] saves and restores it around
    * its whole body, so a nested segment compile (scalar subqueries,
    * EXISTS branches — they re-enter compileSegment) cannot leave its
    * inner frame behind for the outer batch's colKind to misread a
    * same-named column against. */
  private var curFrame: Option[DataFrame] = None

  /** Run `body` with [[curFrame]] pinned to `f`, restoring the previous
    * frame afterwards — the explicit-scoping discipline for every
    * compileExpr batch that may reach [[colKind]]. */
  private def withFrame[T](f: Option[DataFrame])(body: => T): T = {
    val saved = curFrame
    curFrame = f
    try body finally curFrame = saved
  }

  /** SAME/ALL_DIFFERENT equality through the reference's TYPED
    * comparables (value_to_comparable, special_functions.rs:243-258):
    * the ComparableValue enum never equates values of different kinds,
    * so SAME(1, '1') is false — where a raw Spark `===` would
    * PromoteStrings-coerce and either equate them or ANSI-fail on
    * non-numeric text (found by ValueFunctionDifferentialFuzzSpec).
    * Statically cross-kind pairs compile to a constant; same/unknown
    * kinds keep column equality (NUMBER covers long vs double like the
    * reference's uniform f64). NULL arguments keep SQL 3VL — the
    * reference ERRORS there (no Null arm in value_to_comparable), a
    * documented divergence: a per-row abort has no Column analog and
    * the reference never exercises that path.
    */
  private def comparableEq(x: Ast.Expr, y: Ast.Expr, ctx: Ctx): Column =
    (staticKind(x, ctx), staticKind(y, ctx)) match {
      case (Some(a), Some(b))
          if a != b && a != "NULL" && b != "NULL" => lit(false)
      case _ => compileExpr(x, ctx) === compileExpr(y, ctx)
    }

  private def colKind(c: Column): Option[String] =
    // analyze a one-column projection against the current frame — the
    // only reliable way to type a ColumnNode-backed Column (its raw
    // Catalyst expression is a ColumnNodeExpression wrapper that claims
    // resolved=true with a bogus NullType). Driver-side analysis of a
    // single select; runs only on the staticKind-None fallback path.
    curFrame.flatMap(f =>
      scala.util.Try(f.select(c).schema.head.dataType).toOption)
      .flatMap(dtKind(_))

  /** Spark column type → reference value-kind name (for [[staticKind]]'s
    * property-schema lookups). Delegates to the [[ScalarFns]] table so the
    * DML evaluator's schema-derived kindOf classifies identically. */
  private def dtKind(dt: org.apache.spark.sql.types.DataType): Option[String] =
    ScalarFns.dtKind(dt)

  /** Render a naive timestamp (a UTC instant — reference DateTime<Utc>,
    * value.rs:151) as its wall clock in the session time zone, the
    * explicit analog of extracting under SESSION SET TIME ZONE. Identity
    * for UTC sessions; zoned structs and already-localized values keep
    * their own zone. Explicit from_utc_timestamp keeps the semantics
    * independent of spark.sql.session.timeZone (pinned UTC), so parquet
    * TIMESTAMP_NTZ columns and LTZ literals extract identically.
    */
  private def sessionLocal(e: Expr, c: Column): Column =
    if (sessionTz == "UTC") c
    else e match {
      case ZonedShape() => c
      case Fn("LOCAL_DATETIME", _, _) => c
      case _ => from_utc_timestamp(c, sessionTz)
    }

  /** Scalar function registry — mirrors functions/mod.rs:39-256; each maps
    * to org.apache.spark.sql.functions (codegen'd, no UDFs).
    */
  private def scalarFn(name: String, args: Seq[Expr], ctx: Ctx): Column =
    // an arity miss anywhere in the dispatch below (args(i) in a
    // pattern, a(i) in a builder) must surface as the reference's
    // named InvalidArgumentCount error, never an IndexOutOfBounds
    // crash — compilation is driver-side, so the only way a dispatch
    // indexes past the list is a caller passing too few arguments
    try scalarFn0(name, args, ctx)
    catch {
      case _: IndexOutOfBoundsException =>
        throw new GqlCompileException(
          s"$name: wrong number of arguments (${args.size})")
    }

  private def scalarFn0(name: String, args: Seq[Expr], ctx: Ctx): Column = {
    def a(i: Int): Column = compileExpr(args(i), ctx)
    def varName(i: Int): String = args(i) match {
      case Ident(v) => v
      case other => throw new GqlCompileException(s"$name expects a variable, got $other")
    }
    // the context-free string/math/null families live in the shared
    // [[ScalarFns]] table (same table the DML evaluator uses)
    if (ScalarFns.names(name))
      return ScalarFns(name, args.map(compileExpr(_, ctx)), args,
        kindOf = e => staticKind(e, ctx))
    name match {
      // JSON rendering (beyond ref — arrays/paths as engine-stable text)
      case "TO_JSON" => to_json(a(0))
      // PATH[n0, e0, n1, …] constructor (executor.rs:4899-4951): even
      // indices are nodes, odd are edges; our path representation is the
      // node-id array (matching pattern-bound path variables)
      case "PATH" =>
        val nodes = args.zipWithIndex.collect {
          case (e, i) if i % 2 == 0 => compileExpr(e, ctx).cast("long")
        }
        array(nodes: _*)
      // list (list_functions.rs)
      case "LIST_CONTAINS" =>
        // reference equality is total Value equality (list_functions.rs
        // :37-40 `item == element_arg`): Null == Null is TRUE, and a
        // no-match over a list containing nulls is FALSE — Spark's
        // array_contains returns NULL for both. A statically-null
        // needle compiles to the null-scan alone (array_contains
        // rejects NullType at analysis, even in a dead branch).
        if (staticKind(args(1), ctx).contains("NULL"))
          exists(a(0), x => x.isNull)
        else
          when(a(1).isNull, exists(a(0), x => x.isNull))
            .otherwise(coalesce(array_contains(a(0), a(1)), lit(false)))
      // LIST_LENGTH is list-only (list_functions.rs:273-318, errors on
      // non-lists). SIZE additionally accepts strings (byte length —
      // Rust s.len(), graph_functions.rs:629) and returns 0 for NULL
      // (graph_functions.rs:632), so it dispatches on the static kind.
      case "LIST_LENGTH" => size(a(0)).cast("long")
      case "SIZE" => staticKind(args(0), ctx) match {
        case Some("NULL") => lit(0L)
        case Some("STRING") =>
          val c = a(0)
          when(c.isNull, lit(0L)).otherwise(octet_length(c).cast("long"))
        case _ =>
          val c = a(0)
          when(c.isNull, lit(0L)).otherwise(size(c).cast("long"))
      }
      // a LIST second argument EXTENDS rather than nests
      // (list_functions.rs:158-167 matches on Value::List and extends).
      // When the AST gives no static kind (e.g. an alias whose defining
      // expression lost its kind), fall back to the compiled column's
      // resolved dataType — the same dtype evidence staticKind reads
      // from table schemas — so a runtime list still extends.
      case "LIST_APPEND" =>
        staticKind(args(1), ctx).orElse(colKind(a(1))) match {
          case Some("LIST") => concat(a(0), a(1))
          case _ => concat(a(0), array(a(1)))
        }
      case "LIST_PREPEND" =>
        staticKind(args(1), ctx).orElse(colKind(a(1))) match {
          case Some("LIST") => concat(a(1), a(0))
          case _ => concat(array(a(1)), a(0))
        }
      case "LIST_REVERSE" => reverse(a(0))
      case "LIST_SLICE" =>
        // reference (list_functions.rs:95-141): 0-based start, EXCLUSIVE
        // end, end clamps to len. BOTH indices cast `as usize`, so a
        // negative index wraps huge: for START that means start >= len
        // -> EMPTY list; for END the min(end, len) clamp lands on len,
        // so a NEGATIVE end slices to the end of the list
        // (LIST_SLICE([10,20,30], 1, -1) = [20,30]). end <= start after
        // the clamp is empty. Spark's slice instead errors on start
        // 0/negative lengths and counts negative starts from the END —
        // guard them.
        val s = a(1).cast("int")
        val e0 = a(2).cast("int")
        val e = when(e0 < 0, size(a(0))).otherwise(e0)
        when(s < 0 || e <= s, slice(a(0), lit(1), lit(0)))
          .otherwise(slice(a(0), s + 1, e - s))
      // temporal (temporal_functions.rs subset)
      case "DURATION" => args(0) match {
        // ISO-8601 duration literal -> Spark day-time interval. Y/M parts
        // use the reference's fixed approximations (temporal_functions.rs
        // parse_iso_duration: 1 year = 365 days, 1 month = 30 days —
        // function_expression_insert_test.rs inserts duration('P30Y')), so
        // P30Y lands as 10950 days. Divergence, documented: the reference
        // collapses the result to SECONDS as a float Number; we keep a
        // typed interval, which adds/compares against timestamps natively.
        case StrLit(iso) =>
          val re = """P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?""".r
          iso match {
            case re(yy, mo, dd, hh, mm, ss) =>
              val days = Option(yy).map(_.toLong * 365L).getOrElse(0L) +
                Option(mo).map(_.toLong * 30L).getOrElse(0L) +
                Option(dd).map(_.toLong).getOrElse(0L)
              val parts = Seq(
                if (days > 0L) Some(s"$days days") else None,
                Option(hh).map(x => s"$x hours"),
                Option(mm).map(x => s"$x minutes"),
                Option(ss).map(x => s"$x seconds")).flatten
              if (parts.isEmpty && !iso.exists(_.isDigit))
                throw new GqlCompileException(s"empty duration: $iso")
              expr(s"INTERVAL '${(if (parts.isEmpty) Seq("0 seconds")
                else parts).mkString(" ")}'")
            case _ =>
              throw new GqlCompileException(s"unsupported ISO-8601 duration: $iso")
          }
        case other =>
          throw new GqlCompileException("DURATION expects a string literal")
      }
      case "DATETIME" => args(0) match {
        // reference parity (temporal_functions.rs parse_iso_datetime +
        // transactional_set_test.rs): a date-only literal is an ERROR —
        // every accepted format carries a time component; a SET whose
        // datetime fails must fail the whole statement, not warn
        case StrLit(sv)
            if !sv.contains('T') && !sv.contains(':') =>
          throw new GqlCompileException(
            s"Failed to evaluate datetime('$sv'): expected an ISO 8601 " +
              "datetime with a time component")
        case _ => to_timestamp(a(0))
      }
      case "NOW" => current_timestamp()
      case "CURRENT_DATE" => current_date()
      case "CURRENT_TIME" => date_format(current_timestamp(), "HH:mm:ss")
      // DATE_ADD/DATE_SUB(datetime, n, unit) (temporal_functions.rs:
      // 663-938): always 3-arg in the reference (validate_argument_count
      // (3)). Duration units shift the instant; MONTH/YEAR are calendar
      // steps with the reference's keep-on-invalid quirk (RefDateArith).
      // Component math runs in the session zone, the same convention as
      // EXTRACT's sessionLocal.
      case "DATE_ADD" | "DATE_SUB" =>
        if (args.size != 3) throw new GqlCompileException(
          s"$name expects 3 arguments (datetime, interval, unit)")
        val unit = args(2) match {
          case StrLit(u) => u.toUpperCase
          case other => throw new GqlCompileException(
            s"$name unit must be a string literal, got $other")
        }
        if (!Set("SECOND", "SECONDS", "MINUTE", "MINUTES", "HOUR", "HOURS",
            "DAY", "DAYS", "WEEK", "WEEKS", "MONTH", "MONTHS",
            "YEAR", "YEARS")(unit))
          throw new GqlCompileException(s"Unsupported $name unit: '$unit'. " +
            "Supported units: SECOND, MINUTE, HOUR, DAY, WEEK, MONTH, YEAR")
        graft.functions.TemporalFunctions.register(
          org.apache.spark.sql.SparkSession.active)
        val fname =
          if (name == "DATE_SUB") graft.functions.TemporalFunctions.SubName
          else graft.functions.TemporalFunctions.AddName
        val calendarUnit = unit.startsWith("MONTH") || unit.startsWith("YEAR")
        args(0) match {
          case ZonedShape() =>
            // zoned values keep their zone (convert_from_utc,
            // temporal_functions.rs:62-73): duration units shift the UTC
            // instant directly (chrono's local + Duration IS an instant
            // shift, no DST ambiguity); MONTH/YEAR step the LOCAL
            // calendar in the value's zone (add_duration_dst_aware's
            // with_month/with_year on the zone-local components).
            // Deliberate divergence: the reference's DATE_SUB only has a
            // naive arm and ERRORS on zoned values (temporal_functions
            // .rs:855-861 falls to the type-error arm) — we apply the
            // same zone-preserving arithmetic both directions, like the
            // outer-join case where the repo ships correct over a
            // reference gap
            val tz = a(0).getField("tz").cast("string")
            val ts = a(0).getField("ts")
            val newTs =
              if (!calendarUnit)
                call_function(fname, ts, a(1).cast("long"), lit(unit))
              else to_utc_timestamp(
                call_function(fname, from_utc_timestamp(ts, tz),
                  a(1).cast("long"), lit(unit)), tz)
            struct(tz.as("tz"), newTs.as("ts"))
          case _ =>
            // duration units (SECOND..WEEK) are chrono Duration adds on
            // the INSTANT (temporal_functions.rs:756-768; DateTime +
            // Duration shifts the UTC timestamp, so +1 DAY is always
            // 86,400 s even across a DST transition) — no session-zone
            // round-trip, which would turn the shift wall-clock-
            // preserving (23/25 h days). Only MONTH/YEAR calendar steps
            // read local components, which under the repo's session-
            // local component convention (sessionLocal/EXTRACT) run in
            // the session zone.
            val needShift = calendarUnit && sessionTz != "UTC" &&
              (args(0) match {
                case Fn("LOCAL_DATETIME", _, _) => false
                case _ => true
              })
            val tsIn =
              if (needShift)
                from_utc_timestamp(a(0).cast("timestamp"), sessionTz)
              else a(0).cast("timestamp")
            val res = call_function(fname, tsIn, a(1).cast("long"), lit(unit))
            if (needShift) to_utc_timestamp(res, sessionTz) else res
        }
      case "EXTRACT_YEAR" | "YEAR" =>
        year(sessionLocal(args(0), a(0))).cast("long")
      case "EXTRACT_MONTH" | "MONTH" =>
        month(sessionLocal(args(0), a(0))).cast("long")
      case "EXTRACT_DAY" | "DAY" =>
        dayofmonth(sessionLocal(args(0), a(0))).cast("long")
      case "HOUR" => hour(sessionLocal(args(0), a(0))).cast("long")
      case "MINUTE" => minute(sessionLocal(args(0), a(0))).cast("long")
      case "SECOND" => second(sessionLocal(args(0), a(0))).cast("long")
      // EXTRACT(field, ts) (temporal_functions.rs:502)
      case "EXTRACT" =>
        val field = args(0) match {
          case Ident(f) => f.toUpperCase
          case StrLit(f) => f.toUpperCase
          case other => throw new GqlCompileException(
            s"EXTRACT expects a field name, got $other")
        }
        // the reference's EXTRACT also accepts the timezone fields
        // (temporal_functions.rs:593-650) — same logic as
        // EXTRACT_TIMEZONE, unconverted (TIMEZONE_HOUR is fractional
        // for half-hour zones, TIMEZONE is a string)
        if (Set("TIMEZONE", "TIMEZONE_HOUR", "TIMEZONE_MINUTE")(field))
          return scalarFn("EXTRACT_TIMEZONE", args, ctx)
        val ts = sessionLocal(args(1), a(1))
        (field match {
          case "YEAR" => year(ts)
          case "MONTH" => month(ts)
          case "DAY" => dayofmonth(ts)
          case "HOUR" => hour(ts)
          case "MINUTE" => minute(ts)
          case "SECOND" => second(ts)
          // reference DOW counts days FROM SUNDAY, 0-6
          // (num_days_from_sunday, temporal_functions.rs:579); Spark's
          // dayofweek is 1-7 with Sunday=1
          case "DOW" | "DAYOFWEEK" => dayofweek(ts) - lit(1)
          case "DOY" | "DAYOFYEAR" => dayofyear(ts)
          // ISO week, matching the reference's iso_week().week()
          case "WEEK" => weekofyear(ts)
          case "QUARTER" => quarter(ts)
          // EPOCH is the UTC instant's unix seconds regardless of zone
          // (datetime.timestamp(), temporal_functions.rs:589) — no
          // sessionLocal shift
          case "EPOCH" => unix_timestamp(a(1))
          case other => throw new GqlCompileException(s"EXTRACT field $other")
        }).cast("long")
      // DURATION_NUMERIC(n, 'MINUTES') -> seconds (temporal_functions
      // .rs:348: returns the scalar second count, not an interval)
      case "DURATION_NUMERIC" =>
        val unit = args(1) match {
          case StrLit(u) => u.toUpperCase
          case other => throw new GqlCompileException(
            s"DURATION_NUMERIC expects a unit string, got $other")
        }
        val mult = unit match {
          case "SECOND" | "SECONDS" | "S" => 1L
          case "MINUTE" | "MINUTES" | "M" | "MIN" => 60L
          case "HOUR" | "HOURS" | "H" => 3600L
          case "DAY" | "DAYS" | "D" => 86400L
          case "WEEK" | "WEEKS" | "W" => 604800L
          // the reference's fixed approximations (parse_numeric_duration:
          // 30-day months, 365-day years)
          case "MONTH" | "MONTHS" => 2592000L
          case "YEAR" | "YEARS" | "Y" => 31536000L
          case other => throw new GqlCompileException(s"unknown unit $other")
        }
        // reference: negative durations error, and the seconds total is
        // truncated to a whole i64 before returning as a float Number
        // (parse_numeric_duration, temporal_functions.rs:1168-1197)
        when(a(0) < 0, raise_error(
          lit("Duration cannot be negative")).cast("double"))
          .otherwise((a(0).cast("double") * lit(mult.toDouble))
            .cast("long").cast("double"))
      // TIME_WINDOW(ts, '<n unit>') -> tumbling window start the row
      // falls in (temporal_functions.rs:938)
      case "TIME_WINDOW" =>
        val widthSecs = args(1) match {
          case StrLit(w) =>
            val re = """(\d+)\s*(\w+)""".r
            w.trim match {
              case re(n, u) =>
                val unit = u.toUpperCase match {
                  case "SECOND" | "SECONDS" => 1L
                  case "MINUTE" | "MINUTES" => 60L
                  case "HOUR" | "HOURS" => 3600L
                  case "DAY" | "DAYS" => 86400L
                  case other => throw new GqlCompileException(s"window unit $other")
                }
                n.toLong * unit
              case _ => throw new GqlCompileException(s"bad window width: $w")
            }
          case other => throw new GqlCompileException(
            s"TIME_WINDOW expects a width string, got $other")
        }
        timestamp_seconds(
          floor(unix_timestamp(a(0)) / widthSecs) * widthSecs)
      // timezone functions (timezone_functions.rs). Timestamps are
      // session-UTC; applying a NAMED zone produces the named-tz value —
      // a (tz: string, ts: timestamp) struct preserving both the zone
      // name and the UTC instant (DateTimeWithNamedTz, value.rs:154;
      // constructed at timezone_functions.rs:118). Wall-clock rendering
      // and offsets derive from it on demand, DST-correct per instant;
      // `.tz` / `.ts` field access works anywhere structs do.
      case "AT_TIME_ZONE" =>
        struct(lit(canonicalZone(strArg(args(1)))).as("tz"), a(0).as("ts"))
      case "TIMEZONE" => // reversed args
        struct(lit(canonicalZone(strArg(args(0)))).as("tz"), a(1).as("ts"))
      case "ZONED_DATETIME" => // explicit constructor (value.rs:154)
        struct(lit(canonicalZone(strArg(args(1)))).as("tz"), a(0).as("ts"))
      case "LOCAL_DATETIME" => // zoned → naive wall clock in its zone
        args.head match {
          case ZonedShape() =>
            from_utc_timestamp(a(0).getField("ts"),
              a(0).getField("tz").cast("string"))
          // naive values render in the SESSION zone (UTC default)
          case _ => sessionLocal(args.head, a(0))
        }
      case "CONVERT_TZ" =>
        struct(lit(canonicalZone(strArg(args(2)))).as("tz"),
          to_utc_timestamp(a(0), strArg(args(1))).as("ts"))
      // bi-temporal values (reference TemporalValue, value.rs:19-24):
      // TEMPORAL_VALUE(v, valid_from [, valid_to [, tx_time]]) builds the
      // (value, valid_from, valid_to, tx_time) struct; VALID_AT /
      // TEMPORAL_CURRENT are the is_valid_at / is_current predicates.
      // Field access (tv.value, tv.valid_from, …) rides the existing
      // struct FieldAccess path.
      case "TEMPORAL_VALUE" =>
        graft.functions.Bitemporal.temporalValue(a(0), a(1),
          if (args.size > 2) a(2) else lit(null),
          if (args.size > 3) a(3) else current_timestamp())
      case "VALID_AT" =>
        graft.functions.Bitemporal.isValidAt(a(0), a(1))
      case "TEMPORAL_CURRENT" =>
        graft.functions.Bitemporal.isCurrent(a(0))
      case "GET_TIMEZONE_OFFSET" =>
        (unix_timestamp(from_utc_timestamp(a(1), strArg(args(0)))) -
          unix_timestamp(a(1))).cast("long")
      // EXTRACT_TIMEZONE(unit, value) (timezone_functions.rs:380-460):
      // on a named-tz struct the zone name and DST-correct offset at the
      // value's instant come from the struct; plain session timestamps
      // are naive-UTC (the reference's Value::DateTime branch), so their
      // components are constants
      case "EXTRACT_TIMEZONE" =>
        if (args.size != 2)
          throw new GqlCompileException("EXTRACT_TIMEZONE expects (unit, ts)")
        val unit = strArg(args(0)).toUpperCase
        args(1) match {
          case ZonedShape() =>
            val z = a(1)
            // reference offset arithmetic (timezone_functions.rs:447-485):
            // HOUR = total offset seconds / 3600.0 (5.5 for +05:30),
            // MINUTE = the sub-hour component in minutes
            lazy val offSecs =
              (unix_timestamp(from_utc_timestamp(z.getField("ts"),
                z.getField("tz").cast("string"))) -
                unix_timestamp(z.getField("ts"))).cast("double")
            unit match {
              case "TIMEZONE" => z.getField("tz")
              case "TIMEZONE_HOUR" => offSecs / lit(3600.0)
              case "TIMEZONE_MINUTE" => (offSecs % 3600.0) / lit(60.0)
              case other => throw new GqlCompileException(
                s"EXTRACT_TIMEZONE unit $other")
            }
          case _ =>
            // naive values belong to the SESSION time zone (UTC unless
            // SESSION SET TIME ZONE changed it) — report its name and its
            // DST-correct offset at each row's instant
            lazy val sessSecs =
              (unix_timestamp(from_utc_timestamp(a(1), sessionTz)) -
                unix_timestamp(a(1))).cast("double")
            unit match {
              case "TIMEZONE" => lit(sessionTz)
              case "TIMEZONE_HOUR" =>
                if (sessionTz == "UTC") lit(0.0) else sessSecs / lit(3600.0)
              case "TIMEZONE_MINUTE" =>
                if (sessionTz == "UTC") lit(0.0)
                else (sessSecs % 3600.0) / lit(60.0)
              case other => throw new GqlCompileException(
                s"EXTRACT_TIMEZONE unit $other")
            }
        }
      // GET_TIMEZONE_NAME / _ABBREVIATION (timezone_functions.rs:508-645):
      // literal zone strings resolve at compile time through the same
      // abbreviation → canonical-zone table as the reference
      case "GET_TIMEZONE_NAME" => lit(canonicalZone(strArg(args(0))))
      case "GET_TIMEZONE_ABBREVIATION" => lit(zoneAbbrev(strArg(args(0))))
      // graph (graph_functions.rs)
      case "ID" => ctx.bindings.get(varName(0)) match {
        case Some(NodeBinding(_)) | Some(UnionNode) => col(s"${varName(0)}_id")
        case Some(EdgeBinding(_)) => col(s"${varName(0)}_eid")
        case _ => throw new GqlCompileException(s"ID() expects a node/edge variable")
      }
      case "LABELS" => ctx.bindings.get(varName(0)) match {
        case Some(NodeBinding(ls)) => array(ls.map(lit): _*)
        case Some(UnionNode) => array(col(s"${varName(0)}_label"))
        case _ => throw new GqlCompileException("LABELS() expects a node variable")
      }
      // TYPE(e) on an edge variable returns the relationship type name
      // (Cypher-standard; documented divergence — the reference's
      // TypeFunction returns the kind string "EDGE" even for edges,
      // graph_functions.rs:217). On any other value TYPE returns the
      // reference's value-kind string (graph_functions.rs:207-225:
      // STRING/NUMBER/BOOLEAN/NULL/LIST/NODE/DATETIME/PATH), resolved
      // statically from shape + schema, with a runtime null check.
      case "TYPE" => args(0) match {
        // entity vars can be null at runtime (unmatched OPTIONAL MATCH):
        // the reference's TypeFunction sees Value::Null → "NULL"
        case Ident(v) if ctx.bindings.get(v).exists(_.isInstanceOf[EdgeBinding]) =>
          // single-type binds fold statically (the per-row label column
          // does not survive WITH for them); multi-type reads the
          // carried per-row type
          val eb = ctx.bindings(v).asInstanceOf[EdgeBinding]
          val ty = if (eb.types.size == 1) lit(eb.primary)
                   else col(s"${v}_label")
          when(col(s"${v}_eid").isNull, lit("NULL")).otherwise(ty)
        case Ident(v) if ctx.isNodeLike(v) =>
          when(col(s"${v}_id").isNull, lit("NULL")).otherwise(lit("NODE"))
        case e0 => staticKind(e0, ctx) match {
          case Some("NULL") => lit("NULL")
          case Some(k) =>
            val c = compileExpr(e0, ctx)
            when(c.isNull, lit("NULL")).otherwise(lit(k))
          case None => throw new GqlCompileException(
            s"TYPE(): cannot determine the value kind of $e0")
        }
      }
      // special (special_functions.rs:29-178)
      case "ALL_DIFFERENT" =>
        // reference: >=1 argument; a single argument is trivially all-
        // different (the seen-set loop finds no duplicate,
        // special_functions.rs:70-86)
        if (args.isEmpty) throw new GqlCompileException(
          "ALL_DIFFERENT expects at least 1 argument")
        if (args.size == 1) lit(true)
        else args.combinations(2).map { case Seq(x, y) =>
          !comparableEq(x, y, ctx)
        }.reduce(_ && _)
      case "SAME" =>
        // reference: exactly 2 (special_functions.rs:140-145)
        if (args.size != 2) throw new GqlCompileException(
          s"SAME expects 2 arguments, got ${args.size}")
        comparableEq(args(0), args(1), ctx)
      case "PROPERTY_EXISTS" =>
        val v = varName(0)
        val propName = args(1) match {
          case StrLit(s0) => s0
          case other => throw new GqlCompileException(
            s"PROPERTY_EXISTS expects a literal property name, got $other")
        }
        ctx.bindings.get(v) match {
          case Some(NodeBinding(ls)) =>
            lit(ls.exists(l => graph.nodeTables.get(l)
              .exists(_.columns.contains(propName))))
          case _ => throw new GqlCompileException(
            "PROPERTY_EXISTS expects a node variable")
        }
      case "INFERRED_LABELS" => ctx.bindings.get(varName(0)) match {
        case Some(NodeBinding(ls)) => array(ls.map(lit): _*)
        case Some(UnionNode) => array(col(s"${varName(0)}_label"))
        case _ => throw new GqlCompileException(
          "INFERRED_LABELS() expects a node variable")
      }
      case "KEYS" => ctx.bindings.get(varName(0)) match {
        case Some(NodeBinding(ls)) =>
          val cols = ls.flatMap(l =>
            graph.nodeTables.get(l).map(_.columns.toSeq).getOrElse(Seq("id")))
            .distinct.sorted
          array(cols.map(lit): _*)
        case _ => throw new GqlCompileException("KEYS() expects a node variable")
      }
      // PROPERTIES(v) -> map<string,string> of the variable's properties
      // (graph_functions.rs properties accessor); values string-cast so the
      // map has one value type
      case "PROPERTIES" =>
        val v = varName(0)
        ctx.bindings.get(v) match {
          case Some(NodeBinding(ls)) =>
            val props = ls.flatMap(l =>
              graph.nodeTables.get(l).map(_.columns.toSeq).getOrElse(Seq.empty))
              .distinct.filterNot(_ == "id").sorted
            map(props.flatMap(p =>
              Seq(lit(p), col(s"${v}_$p").cast("string"))): _*)
          case Some(eb: EdgeBinding) =>
            val props = eb.types.flatMap(t => graph.edgeTables.get(t)
              .map(_._2.columns.toSeq).getOrElse(Seq.empty)).distinct
              .filterNot(c => c == "src" || c == "dst" || c == "eid").sorted
            map(props.flatMap(p =>
              Seq(lit(p), col(s"${v}_$p").cast("string"))): _*)
          case _ => throw new GqlCompileException(
            "PROPERTIES() expects a node/edge variable")
        }
      // SOURCE(e)/DESTINATION(e): endpoint node ids of a bound edge
      case "SOURCE" | "DESTINATION" =>
        val v = varName(0)
        if (!ctx.bindings.get(v).exists(_.isInstanceOf[EdgeBinding]))
          throw new GqlCompileException(s"$name() expects an edge variable")
        col(s"${v}_${if (name == "SOURCE") "src" else "dst"}")
      case other =>
        throw new GqlCompileException(s"unknown function $other")
    }
  }

  /** Abbreviation → canonical zone (timezone_functions.rs:26-44). */
  private val tzAbbrevCanonical = Map(
    "UTC" -> "UTC", "GMT" -> "UTC",
    "EST" -> "America/New_York", "EDT" -> "America/New_York",
    "CST" -> "America/Chicago", "CDT" -> "America/Chicago",
    "MST" -> "America/Denver", "MDT" -> "America/Denver",
    "PST" -> "America/Los_Angeles", "PDT" -> "America/Los_Angeles",
    "BST" -> "Europe/London", "CET" -> "Europe/Paris",
    "CEST" -> "Europe/Paris", "JST" -> "Asia/Tokyo",
    "IST" -> "Asia/Kolkata", "AEST" -> "Australia/Sydney",
    "AEDT" -> "Australia/Sydney")

  private def canonicalZone(s: String): String = {
    val c = tzAbbrevCanonical.getOrElse(s.toUpperCase, s)
    try java.time.ZoneId.of(c).getId
    catch {
      case _: Exception =>
        try java.time.ZoneOffset.of(s).getId // fixed offsets (+05:30)
        catch { case _: Exception =>
          throw new GqlCompileException(s"invalid timezone: $s") }
    }
  }

  /** Zone abbreviation table (timezone_functions.rs:614-640). */
  private def zoneAbbrev(s: String): String = canonicalZone(s) match {
    case "UTC" | "Z" => "UTC"
    case "America/New_York" => "EST/EDT"
    case "America/Chicago" => "CST/CDT"
    case "America/Denver" => "MST/MDT"
    case "America/Los_Angeles" => "PST/PDT"
    case "Europe/London" => "GMT/BST"
    case "Europe/Paris" => "CET/CEST"
    case "Asia/Tokyo" => "JST"
    case "Asia/Shanghai" => "CST"
    case "Asia/Kolkata" => "IST"
    case off if off.startsWith("+") || off.startsWith("-") => off
    case canonical =>
      val parts = canonical.split('/')
      if (parts.length >= 2) parts.last else canonical
  }

  private def intLit(e: Expr): Int = e match {
    case NumLit(v, true) => v.toInt
    case other => throw new GqlCompileException(s"expected integer literal, got $other")
  }

  private def strArg(e: Expr): String = e match {
    case StrLit(s) => s
    case Ident(s) => s
    case other => throw new GqlCompileException(s"expected string literal, got $other")
  }
}
