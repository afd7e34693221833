package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.{ExpressionColumns => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, NumericType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Read-side partition pruning for the bucketed clustered layout.
  *
  * [[graft.graph.GraphCatalog]] persists bucketed datasets as range
  * partition directories (`__ixb=K/`, key ranges fixed by boundaries
  * stored in the index options). The write side already exploits that:
  * DML maintenance rewrites only touched buckets. This rule is the READ
  * side: a query predicate on the clustered key (`id = 42`,
  * `id <= 'c'`, `id IN (…)`) implies a bucket-id set through those same
  * boundaries, but Spark cannot infer it — the key→bucket mapping lives
  * in the catalog, not the plan. The rule injects the implied
  * `__ixb IN (…)` conjunct directly above the parquet relation;
  * FileSourceStrategy then turns it into a partition filter, so a point
  * lookup on a 100K-file label lists and reads ONE bucket directory
  * instead of all N — the read-path half of the 100 TB maintenance
  * story (the reference serves point lookups from its in-memory label
  * index, graph_cache.rs:16-38; a warehouse-scale scan needs the
  * pruning to live in the layout instead).
  *
  * Correctness: the injected conjunct is IMPLIED by the original
  * predicate, never replaces it — every surviving row still passes the
  * full filter, so a superset bucket estimate only costs performance.
  * The driver-side bucket assignment is the one the layout is written
  * with ([[BucketOf]] evaluates the same `Spec.ofDouble`/`ofString`):
  * numeric keys compare in the double domain (primitive `<=` keeps
  * Spark's -0.0 == 0.0 and sends NaN, like NULL, to the last bucket),
  * string keys compare as UTF8String binary order (Spark's default
  * string ordering — Java's UTF-16 compareTo would diverge above the
  * BMP). Registered specs are installed at graph load and invalidated
  * on save/drop; a relation only matches when its live partition schema
  * still carries `__ixb`, so a de-bucketed rewrite can never be pruned
  * with stale boundaries.
  */
object BucketPrune extends Rule[LogicalPlan] with PredicateHelper {

  /** Must match GraphCatalog.BucketCol (not imported to keep this
    * package free of a graph-package dependency cycle). */
  val BucketCol = "__ixb"

  /** Pruning spec for one dataset directory: the clustered lead key and
    * the persisted range boundaries (numeric XOR string). Buckets are
    * `0 .. bounds.size` — value v lands in the first i with
    * v <= bounds(i), else the last bucket (which also holds NULLs).
    */
  final case class Spec(keyCol: String, numBounds: Array[Double],
      strBounds: Array[UTF8String], stringKey: Boolean) {
    def buckets: Int =
      (if (stringKey) strBounds.length else numBounds.length) + 1
    def last: Int = buckets - 1

    /** Whether `o` maps keys to the same buckets. */
    def sameLayout(o: Spec): Boolean =
      keyCol == o.keyCol && stringKey == o.stringKey &&
        java.util.Arrays.equals(numBounds, o.numBounds) &&
        java.util.Arrays.equals(strBounds.asInstanceOf[Array[AnyRef]],
          o.strBounds.asInstanceOf[Array[AnyRef]])

    /** Bucket of a numeric key in the double domain (NaN: the last). */
    def ofDouble(d: Double): Int = {
      val i = numBounds.indexWhere(b => d <= b)
      if (i < 0) numBounds.length else i
    }

    /** Bucket of a string key in UTF8 binary order. */
    def ofString(u: UTF8String): Int = {
      val i = strBounds.indexWhere(b => u.compareTo(b) <= 0)
      if (i < 0) strBounds.length else i
    }
  }

  // canonical dataset-dir path -> spec; populated by GraphCatalog.loadGraph
  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, Spec]

  /** Pruning toggle for A/B measurement (Evidence's `@-BucketPrune`
    * items, at any data tier) and spec tests. */
  @volatile var enabled: Boolean = true

  def register(dir: String, spec: Spec): Unit =
    registry.put(canonical(dir), spec)

  /** Drop every registered spec under `dir` (a graph or schema path) —
    * called when a save or drop changes what lives there; the next load
    * re-registers from the then-current index options.
    */
  def invalidateUnder(dir: String): Unit = {
    val c = canonical(dir)
    registry.keys.filter(k => k == c || k.startsWith(c + "/"))
      .foreach(registry.remove)
  }

  private[graft] def registeredCount: Int = registry.size

  private[plans] def registryEmpty: Boolean = registry.isEmpty

  /** Spec registered for a dataset directory, if any — shared with
    * [[BucketDynamicPrune]] (relations inside joins) and with
    * [[graft.graph.PropertyGraph]]'s var-length path loop (per-level
    * frontier-driven pruning of a bucketed edge table). */
  private[graft] def specForPath(p: String): Option[Spec] =
    registry.get(canonical(p))

  private def canonical(p: String): String = {
    val noScheme = if (p.startsWith("file:")) p.stripPrefix("file:") else p
    java.nio.file.Paths.get(noScheme).toAbsolutePath.normalize.toString
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || registry.isEmpty) plan
    else plan transform {
      case f @ Filter(cond, rel: LogicalRelation) =>
        tryPrune(cond, rel).getOrElse(f)
    }

  private def tryPrune(cond: Expression,
      rel: LogicalRelation): Option[Filter] = for {
    fsRel <- rel.relation match {
      case h: HadoopFsRelation => Some(h); case _ => None
    }
    if fsRel.partitionSchema.fieldNames.contains(BucketCol)
    ixb <- rel.output.find(_.name == BucketCol)
    // idempotence inside the fixed-point batch: never stack a second
    // bucket conjunct on a filter that already constrains __ixb
    if !cond.references.contains(ixb)
    root <- fsRel.location.rootPaths.headOption
    spec <- registry.get(canonical(root.toUri.getPath))
    key <- rel.output.find(_.name == spec.keyCol)
    // the registered key kind must match the live column type — a
    // re-typed rewrite must never prune with boundaries of the old type
    if spec.stringKey == (key.dataType == StringType)
    if spec.stringKey || key.dataType.isInstanceOf[NumericType]
    ids <- bucketSet(cond, key, spec)
    if ids.size < spec.buckets
  } yield Filter(And(cond, inPred(ixb, ids)), rel)

  private def inPred(ixb: Attribute, ids: Set[Int]): Expression =
    // an unsatisfiable predicate (ids empty — e.g. `key = NULL`) keeps a
    // well-formed IN that matches no partition
    // well-formed IN that matches no partition. Bucket ids bind by
    // reference, so queries pruned to different buckets share code
    In(ixb, (if (ids.isEmpty) Seq(-1) else ids.toSeq.sorted)
      .map(i => new RefLiteral(i, IntegerType)))

  /** [[bucketSet]] for sibling rules ([[MirrorSwap]] asks whether a
    * predicate is servable under a given layout's key before swapping
    * relations). */
  private[plans] def bucketSetFor(cond: Expression, key: Attribute,
      spec: Spec): Option[Set[Int]] = bucketSet(cond, key, spec)

  /** Intersection of the bucket sets implied by the conjuncts of `cond`
    * that constrain `key` against literals; None when no conjunct does.
    */
  private def bucketSet(cond: Expression, key: Attribute,
      spec: Spec): Option[Set[Int]] = {
    val sets = splitConjunctivePredicates(cond)
      .flatMap(c => conjunctSet(c, key, spec))
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** Strip a numeric-to-numeric cast off the key reference: the
    * optimizer may compare `CAST(id AS BIGINT) = 5L`; the layout's own
    * comparison runs in the double domain, so the widening is
    * order-preserving either way. String keys never unwrap.
    */
  private def asKey(e: Expression, key: Attribute,
      spec: Spec): Option[Attribute] = e match {
    case a: AttributeReference if a.semanticEquals(key) => Some(a)
    case c: Cast if !spec.stringKey &&
        c.dataType.isInstanceOf[NumericType] &&
        c.child.dataType.isInstanceOf[NumericType] =>
      asKey(c.child, key, spec)
    case _ => None
  }

  private def conjunctSet(c: Expression, key: Attribute,
      spec: Spec): Option[Set[Int]] = {
    def isKey(e: Expression) = asKey(e, key, spec).isDefined
    def all = (0 to spec.last).toSet
    // an uninterpretable literal (bucketOf → None) must yield NO
    // constraint for the whole conjunct, never an empty set — an empty
    // set prunes every bucket, which is only correct when the predicate
    // itself is unsatisfiable (`key = NULL`)
    def eqSet(v: Any): Option[Set[Int]] =
      if (v == null) Some(Set.empty)
      else bucketOf(v, spec).map(Set(_))
    def listSet(vs: Iterable[Any]): Option[Set[Int]] =
      vs.filter(_ != null).foldLeft(Option(Set.empty[Int])) { (acc, v) =>
        for { a <- acc; b <- bucketOf(v, spec) } yield a + b
      }
    c match {
      case EqualTo(l, Literal(v, _)) if isKey(l) => eqSet(v)
      case EqualTo(Literal(v, _), r) if isKey(r) => eqSet(v)
      case EqualNullSafe(l, Literal(v, _)) if isKey(l) =>
        if (v == null) Some(Set(spec.last)) else eqSet(v)
      case EqualNullSafe(Literal(v, _), r) if isKey(r) =>
        if (v == null) Some(Set(spec.last)) else eqSet(v)
      case In(l, list) if isKey(l) && list.forall(_.isInstanceOf[Literal]) =>
        listSet(list.map { case Literal(v, _) => v })
      // a key set (literal, or graft's reference-bound KeyIn)
      case InSet(l, hset) if isKey(l) =>
        listSet(hset)
      // a bucket set of this layout: the save's touched-bucket filter
      case InSet(BucketOf(l, s), ids) if isKey(l) && s.sameLayout(spec) =>
        Some(ids.collect { case i: Int => i })
      // range forms: rows with NULL (or NaN) keys cannot satisfy the
      // original comparison, so dropping their bucket is safe even
      // though the last bucket is where they live
      case LessThan(l, Literal(v, _)) if isKey(l) && v != null =>
        bucketOf(v, spec).map(b => all.filter(_ <= b))
      case LessThanOrEqual(l, Literal(v, _)) if isKey(l) && v != null =>
        bucketOf(v, spec).map(b => all.filter(_ <= b))
      case GreaterThan(l, Literal(v, _)) if isKey(l) && v != null =>
        bucketOf(v, spec).map(b => all.filter(_ >= b))
      case GreaterThanOrEqual(l, Literal(v, _)) if isKey(l) && v != null =>
        bucketOf(v, spec).map(b => all.filter(_ >= b))
      // literal-first spellings flip the direction
      case LessThan(Literal(v, _), r) if isKey(r) && v != null =>
        bucketOf(v, spec).map(b => all.filter(_ >= b))
      case LessThanOrEqual(Literal(v, _), r) if isKey(r) && v != null =>
        bucketOf(v, spec).map(b => all.filter(_ >= b))
      case GreaterThan(Literal(v, _), r) if isKey(r) && v != null =>
        bucketOf(v, spec).map(b => all.filter(_ <= b))
      case GreaterThanOrEqual(Literal(v, _), r) if isKey(r) && v != null =>
        bucketOf(v, spec).map(b => all.filter(_ <= b))
      case IsNull(l) if isKey(l) => Some(Set(spec.last))
      // a disjunction constrains the key only when BOTH arms do — the
      // implied set is the union. Arms recurse through bucketSet, so
      // nested conjunctions work: `(k > 5 AND k <= 9) OR k IS NULL`
      // maps to range-buckets ∪ {last}
      case Or(a, b) =>
        for {
          sa <- bucketSet(a, key, spec)
          sb <- bucketSet(b, key, spec)
        } yield sa ++ sb
      case _ => None
    }
  }

  /** Bucket id of a literal value under `spec`, None when the literal's
    * type cannot be mapped onto the boundary domain (never guess).
    */
  private[plans] def bucketOf(v: Any, spec: Spec): Option[Int] =
    if (spec.stringKey) v match {
      case u8: UTF8String => Some(spec.ofString(u8))
      case s: String => Some(spec.ofString(UTF8String.fromString(s)))
      case _ => None
    } else v match {
      case n: java.lang.Number => Some(spec.ofDouble(n.doubleValue()))
      case dec: org.apache.spark.sql.types.Decimal => Some(spec.ofDouble(dec.toDouble))
      case b: Boolean => Some(spec.ofDouble(if (b) 1.0 else 0.0))
      case _ => None
    }
}

/** The bucket id of a key under a layout `spec` — the per-row form of
  * [[BucketPrune]]'s driver-side mapping, and the function
  * [[graft.graph.GraphCatalog]] writes and rewrites layouts with
  * (numbers compare as doubles, strings in UTF8 binary order, NULL and
  * NaN in the last bucket). The boundaries are read from the
  * spec by reference, so the generated code is one per key type, and
  * [[BucketPrune]] reads `BucketOf(key) ∈ ids` on a relation of the
  * same layout as the `__ixb` partition filter of `ids`.
  */
final case class BucketOf(child: Expression, spec: BucketPrune.Spec)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  def of(v: Any): Int =
    if (v == null) spec.last else BucketPrune.bucketOf(v, spec).getOrElse(spec.last)

  override def eval(input: InternalRow): Any = of(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bucketOf", this, classOf[BucketOf].getName)
    val c = child.genCode(ctx)
    val v = child.dataType match {
      case StringType => s"$self.spec().ofString(${c.value})"
      case _: DecimalType => s"$self.spec().ofDouble(${c.value}.toDouble())"
      case _: NumericType => s"$self.spec().ofDouble((double) ${c.value})"
      case _ => s"$self.of(${c.value})"
    }
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = ${c.isNull} ? ${spec.last} : $v;""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketOf =
    copy(child = newChild)
  override def toString: String = s"bucket_of($child)"
  override def sql: String = s"bucket_of(${child.sql})"
}

object BucketOf {
  def column(c: org.apache.spark.sql.Column, spec: BucketPrune.Spec): org.apache.spark.sql.Column =
    ExpressionUtils.column(BucketOf(ExpressionUtils.expression(c), spec))
}
