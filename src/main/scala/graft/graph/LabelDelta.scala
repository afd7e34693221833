package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, InSet, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.{ExpressionColumns => ExpressionUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `NOT (child IN keys)` over a driver-held key set bound by reference:
  * the generated code reads the set from the references array, so the
  * same filter over a different set reuses the compiled class. A NULL
  * child keeps its row (no key is NULL). The optimizer does not look
  * inside it, which keeps a view's plan the same whether the set is
  * empty or not.
  *
  * Two filters are equal only when they are the same filter (`id`):
  * Catalyst merges a union's child constraints into one shared
  * constraint when they are equal and into an OR when they differ, so
  * identity by set contents (or by set object) would make a view's
  * optimized plan depend on which hides happen to be empty.
  */
final case class KeyNotIn(child: Expression, keys: java.util.Set[Any], id: Long)
    extends UnaryExpression with Predicate {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v == null || !keys.contains(v)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("keys", keys, "java.util.Set")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = ${c.isNull} || !$set.contains(${c.value});""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): KeyNotIn =
    copy(child = newChild)
  override def hashCode: Int = 31 * child.hashCode + id.hashCode
  override def equals(o: Any): Boolean = o match {
    case k: KeyNotIn => k.id == id && k.child == child
    case _ => false
  }
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${keys.size} keys")
  override def sql: String = s"(${child.sql} NOT IN <${keys.size} keys>)"
}

object KeyNotIn {
  private val ids = new java.util.concurrent.atomic.AtomicLong
  /** A new filter on column `c`. */
  def column(c: String, keys: java.util.Set[Any]): Column =
    ExpressionUtils.column(KeyNotIn(ExpressionUtils.expression(col(c)), keys,
      ids.incrementAndGet()))
}

/** `child ∈ keys` over a driver-held key set bound by reference — the
  * member test of [[KeyNotIn]]. It is an `InSet`, so Catalyst and the
  * data sources read it as one: parquet pushes it down, and
  * [[graft.plans.BucketPrune]] maps it, on a clustered key, to the
  * `__ixb` partition filter of the keys' buckets. Its generated code
  * reads the set from the references array (never Spark's inlined
  * switch form), so the same filter over a different set reuses the
  * compiled class. Identity is `id`, as for [[KeyNotIn]].
  *
  * `keys` holds Catalyst internal values of `child`'s type, no NULL.
  */
final class KeyIn(child: Expression, keys: Set[Any], val id: Long)
    extends InSet(child, keys) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("keys", hset, "scala.collection.immutable.Set")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $set.contains($c);")
  }
  override def withNewChildInternal(newChild: Expression): KeyIn =
    new KeyIn(newChild, hset, id)
  override def hashCode: Int = 31 * child.hashCode + id.hashCode
  override def equals(o: Any): Boolean = o match {
    case k: KeyIn => k.id == id && k.child == child
    case _ => false
  }
  override def toString: String = s"$child IN <${hset.size} keys>"
  override def simpleString(maxFields: Int): String = toString
  override def sql: String = s"(${child.sql} IN <${hset.size} keys>)"
}

object KeyIn {
  private val ids = new java.util.concurrent.atomic.AtomicLong

  /** `e ∈ keys` (internal values of `e`'s type). */
  def apply(e: Expression, keys: Iterable[Any]): KeyIn =
    new KeyIn(e, keys.iterator.filter(_ != null).toSet, ids.incrementAndGet())

  /** Column `c` of `df` among `keys`, external values of type `dt`
    * (what a collected row holds), converted to `c`'s type. */
  def column(df: DataFrame, c: String, keys: Iterable[Any], dt: DataType): Column = {
    val s = new java.util.HashSet[Any]()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    keys.foreach(k => if (k != null) s.add(toCatalyst(k)))
    member(df, c, InlineKeys(s, dt))
  }

  /** Column `c` of `df` among the driver-held `keys`. */
  private[graph] def member(df: DataFrame, c: String, keys: InlineKeys): Column = {
    import scala.jdk.CollectionConverters._
    ExpressionUtils.column(KeyIn(ExpressionUtils.expression(col(c)),
      keys.as(df.schema(c).dataType).set.asScala))
  }

  /** Column `c`'s bucket under `spec` among `ids`: read by
    * [[graft.plans.BucketPrune]] as the `__ixb` partition filter of
    * `ids` on a relation of that layout. */
  def buckets(c: Column, spec: graft.plans.BucketPrune.Spec, ids: Set[Int]): Column =
    ExpressionUtils.column(KeyIn(ExpressionUtils.expression(
      graft.plans.BucketOf.column(c, spec)), ids))

  /** The most keys a lookup holds on the driver ([[Keys.InlineLimit]]). */
  def Limit: Int = Keys.InlineLimit

  /** `df`'s rows when it has at most `limit` of them, from ONE job
    * whose tasks each return at most `limit + 1` rows; None when it has
    * more.
    */
  def collectAtMost(df: DataFrame, limit: Int): Option[Array[Row]] = {
    val n = limit + 1
    val rows = df.rdd.mapPartitions(_.take(n)).collect()
    if (rows.length > limit) None else Some(rows)
  }
}

/** The keys that hide rows of one column of a label view. */
private[graph] sealed trait Keys {
  def count: Long
}
/** Held by the driver, in Catalyst's internal value form of type `dt`. */
private[graph] final case class InlineKeys(set: java.util.Set[Any], dt: DataType)
    extends Keys {
  def count: Long = set.size.toLong

  /** These keys as values of type `target` — what a column of that type
    * holds for them. A key the type cannot represent (an out-of-range
    * number, a non-numeric string for a numeric column) matches no row
    * of it, so it is left out.
    */
  def as(target: DataType): InlineKeys =
    if (target == dt || set.isEmpty) this
    else {
      import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
      val tz = Option(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      val out = new java.util.HashSet[Any]()
      set.forEach { v =>
        val c = Cast(Literal(v, dt), target, tz, EvalMode.TRY).eval()
        if (c != null) out.add(c)
      }
      InlineKeys(out, target)
    }
}
/** A one-column `__k` frame over a checkpoint, with its exact count. */
private[graph] final case class FrameKeys(df: DataFrame, count: Long) extends Keys

private[graph] object Keys {
  val none: Keys = InlineKeys(java.util.Collections.emptySet[Any](), NullType)

  /** The most keys a driver-held set holds. A set costs ~50-60 B per
    * boxed key on the driver, and it is serialized into the task binary
    * of every stage that reads the view (~10 B per key), so it stays in
    * the kilobytes; a larger set is a checkpoint the view anti-joins.
    */
  val InlineLimit = 4096

  def inline(n: Long): Boolean = n <= InlineLimit

  /** The `__k` column of a frame of keys as type `dt` (NULL where the
    * type cannot represent a key, which matches no row). */
  private def typed(k: DataFrame, dt: DataType, as: String): DataFrame =
    k.select(col("__k").try_cast(dt).as(as))

  /** Rows of `df` whose `c` is NOT among `keys`. A frame of keys joins
    * as an anti-join, broadcast by its exact count — the hint sits on
    * the join input only.
    */
  def hide(df: DataFrame, c: String, keys: Keys): DataFrame = keys match {
    case k: InlineKeys =>
      df.filter(KeyNotIn.column(c, k.as(df.schema(c).dataType).set))
    case FrameKeys(k, n) =>
      val side = PropertyGraph.broadcastIfBoundedRows(n,
        typed(k, df.schema(c).dataType, s"__h_$c"))
      df.join(side, df(c) === side(s"__h_$c"), "left_anti")
  }

  /** Rows of `df` whose `c` IS among `keys`: a driver-held set filters
    * through [[KeyIn]], which bucket pruning and parquet see into. */
  def pick(df: DataFrame, c: String, keys: Keys): DataFrame = keys match {
    case k: InlineKeys => df.filter(KeyIn.member(df, c, k))
    case FrameKeys(k, n) =>
      val side = PropertyGraph.broadcastIfBoundedRows(n,
        typed(k, df.schema(c).dataType, s"__h_$c"))
      df.join(side, df(c) === side(s"__h_$c"), "left_semi")
  }

  /** `keys` as a one-column `__k` frame of type `dt` (no job for the
    * driver-held form).
    */
  def frame(spark: SparkSession, keys: Keys, dt: DataType): DataFrame = keys match {
    case FrameKeys(k, _) => typed(k, dt, "__k")
    case k: InlineKeys =>
      import scala.jdk.CollectionConverters._
      val rows = k.as(dt).set.asScala.toSeq.map(v =>
        Row(CatalystTypeConverters.convertToScala(v, dt)))
      spark.createDataFrame(rows.asJava, StructType(Seq(StructField("__k", dt))))
  }

  /** Union of two key sets, as type `dt`: driver-held while the count
    * allows it, otherwise one materialized frame (never a growing union).
    */
  def union(spark: SparkSession, a: Keys, b: Keys, dt: DataType): Keys = (a, b) match {
    case (_, k) if k.count == 0 => a
    case (k, _) if k.count == 0 => b
    case (x: InlineKeys, y: InlineKeys) if inline(x.count + y.count) =>
      val s = new java.util.HashSet[Any](x.as(dt).set); s.addAll(y.as(dt).set)
      InlineKeys(s, dt)
    case _ =>
      val (df, n) = PropertyGraph.materializedCount(
        frame(spark, a, dt).union(frame(spark, b, dt)).distinct())
      FrameKeys(df, n)
  }
}

/** The state of one label that DML touched since it was loaded or
  * built: its view is `base ⊖ tomb ⊕ delta`.
  *
  *  - `base` is the frame as loaded or built; its scan keeps literal
  *    predicates, so parquet pushdown and bucket pruning still apply.
  *  - `store` is ONE checkpoint holding the current versions of every
  *    inserted or updated row (the delta, `__ghost = false`) and the
  *    pre-images of the base rows they supersede or that were deleted
  *    (ghosts, `__ghost = true`). It is re-materialized by each statement
  *    that restates the label, never grown as a union.
  *  - `tomb` hides base rows: by identity key (exactly the ghosts' keys)
  *    and, for edges, by endpoint (`src` / `dst` of nodes a DETACH DELETE
  *    removed, which costs no job on the edge label).
  *  - `drop` hides delta rows the same way by endpoint, until the next
  *    restatement of the label applies it.
  *
  * Every hide is present even when empty and filters by reference
  * ([[KeyNotIn]]), so the view's plan — and the code generated for it —
  * is the same after one statement or after twenty. A save rewrites
  * the buckets of the store's rows and of the endpoint-hidden base rows.
  */
private[graph] final case class LabelDelta(
    base: DataFrame,
    key: String,
    store: DataFrame,
    ghosts: Long,
    tomb: Map[String, Keys],
    drop: Map[String, Keys]) {
  import LabelDelta._

  def isEdge: Boolean = key == "eid"
  def tombCols: Seq[String] = if (isEdge) Seq("eid", "src", "dst") else Seq(key)
  def dropCols: Seq[String] = if (isEdge) Seq("src", "dst") else Seq.empty

  def visibleBase: DataFrame =
    tombCols.foldLeft(base)((d, c) => Keys.hide(d, c, tomb.getOrElse(c, Keys.none)))
  def visibleDelta: DataFrame =
    dropCols.foldLeft(store.filter(!col(Ghost)).drop(Ghost))((d, c) =>
      Keys.hide(d, c, drop.getOrElse(c, Keys.none)))
  def ghostRows: DataFrame = store.filter(col(Ghost)).drop(Ghost)

  /** The label as the graph reads it. */
  def view: DataFrame =
    SchemaReconcile.union(Seq(visibleBase, visibleDelta), s"the view of $key-keyed rows")

  /** Hide base and delta rows whose `c` is among `keys` (a DETACH DELETE
    * on an incident edge label).
    */
  def hideEndpoint(c: String, keys: Keys): LabelDelta = {
    val spark = base.sparkSession
    val dt = base.schema(c).dataType
    copy(tomb = tomb + (c -> Keys.union(spark, tomb.getOrElse(c, Keys.none), keys, dt)),
      drop = drop + (c -> Keys.union(spark, drop.getOrElse(c, Keys.none), keys, dt)))
  }

  /** The next state from a statement's tagged rows (see [[restate]]). */
  def restated(o: Outcome): LabelDelta =
    copy(store = o.store, ghosts = o.ghosts,
      tomb = tomb + (key -> o.ghostKeys.getOrElse(
        FrameKeys(o.store.filter(col(Ghost)).select(col(key).as("__k")), o.ghosts))),
      drop = Map.empty)
}

private[graph] object LabelDelta {
  val Ghost = "__ghost"
  val Tag = "__tag"
  /** Tag bits of a restatement row. */
  val Keep = 1     // stored in the new checkpoint
  val IsGhost = 2  // stored as a ghost (a base pre-image)
  val Hit = 4      // affected by the statement: counted, key collected
  val New = 8      // inserted by the statement: counted

  /** A fresh state over `df` (nothing hidden, empty store). */
  def fresh(df: DataFrame, key: String): LabelDelta = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField(Ghost, BooleanType, nullable = false))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    LabelDelta(df, key, empty, 0L, Map.empty, Map.empty)
  }

  /** What one restatement job found. `ghostKeys` is None when the keys
    * outgrew the driver-held form, `hitKeys` also when they were not
    * asked for.
    */
  final case class Outcome(store: DataFrame, ghosts: Long,
      ghostKeys: Option[InlineKeys], hits: Long, hitKeys: Option[InlineKeys],
      added: Long)

  /** Counts and bounded key sets gathered by a restatement job (a key
    * set is dropped — null — once it outgrows [[Keys.InlineLimit]]; the
    * hit keys are gathered only when `collectHits`).
    */
  private final class RestateState(collectHits: Boolean) extends Serializable {
    private def cap: Int = Keys.InlineLimit
    var hits, added, ghosts = 0L
    var hitKeys: java.util.HashSet[Any] =
      if (collectHits) new java.util.HashSet[Any]() else null
    var ghostKeys: java.util.HashSet[Any] = new java.util.HashSet[Any]()
    def isZero: Boolean = hits == 0 && added == 0 && ghosts == 0 &&
      ghostKeys != null && ghostKeys.isEmpty &&
      (!collectHits || (hitKeys != null && hitKeys.isEmpty))
    private def addKey(s: java.util.HashSet[Any], k: Any): java.util.HashSet[Any] =
      if (s == null || s.size >= cap) null
      else { if (k != null) s.add(k); s }
    def add(t: Int, k: Any): Unit = {
      if ((t & Hit) != 0) { hits += 1; hitKeys = addKey(hitKeys, k) }
      if ((t & New) != 0) added += 1
      if ((t & IsGhost) != 0) { ghosts += 1; ghostKeys = addKey(ghostKeys, k) }
    }
    private def mergeKeys(a: java.util.HashSet[Any],
        b: java.util.HashSet[Any]): java.util.HashSet[Any] =
      if (a == null || b == null || a.size.toLong + b.size > cap) null
      else { a.addAll(b); a }
    def merge(o: RestateState): Unit = {
      hits += o.hits; added += o.added; ghosts += o.ghosts
      hitKeys = mergeKeys(hitKeys, o.hitKeys)
      ghostKeys = mergeKeys(ghostKeys, o.ghostKeys)
    }
  }

  /** [[RestateState]] as an accumulator. It is updated in the job's
    * result stage, where Spark applies each task's update exactly once.
    */
  private final class RestateAcc(collectHits: Boolean)
      extends org.apache.spark.util.AccumulatorV2[(Int, Any), RestateState] {
    private var st = new RestateState(collectHits)
    override def isZero: Boolean = st.isZero
    override def copy(): RestateAcc = {
      val c = new RestateAcc(collectHits); c.st.merge(st); c
    }
    override def reset(): Unit = st = new RestateState(collectHits)
    override def add(v: (Int, Any)): Unit = st.add(v._1, v._2)
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[(Int, Any), RestateState]): Unit =
      st.merge(o.value)
    override def value: RestateState = st
  }

  /** Run one statement against a label in ONE job. `tagged` carries the
    * label's columns plus an int `__tag` (bits above): the rows to store
    * (delta rows and ghosts) and the rows the statement hit. The rows
    * marked [[Keep]] are local-checkpointed — in one partition while the
    * schema × rows model fits a file split — and the job's accumulator
    * returns the hit count, the inserted count, the ghost keys and, with
    * `hitKeys`, the hit keys (each driver-held while few enough).
    */
  def restate(tagged: DataFrame, key: String, hitKeys: Boolean = false): Outcome = {
    val spark = tagged.sparkSession
    val schema = tagged.schema
    val tagIdx = schema.fieldIndex(Tag)
    val keyIdx = schema.fieldIndex(key)
    val keyType = schema(key).dataType
    val cols = schema.fields.indices.filter(_ != tagIdx).toArray
    val types = schema.fields.map(_.dataType)
    val outSchema = StructType(cols.map(schema.fields(_)) :+
      StructField(Ghost, BooleanType, nullable = false))
    val acc = new RestateAcc(hitKeys)
    spark.sparkContext.register(acc)
    val plan = tagged.queryExecution.analyzed
    val rows = interpreted(spark)(_.sessionState.executePlan(plan).toRdd).mapPartitions { it =>
      it.flatMap { r =>
        val t = r.getInt(tagIdx)
        val k = if (r.isNullAt(keyIdx)) null else r.get(keyIdx, keyType) match {
          case s: UTF8String => s.clone()
          case v => v
        }
        acc.add((t, k))
        if ((t & Keep) == 0) None
        else {
          val c = r.copy()
          val out = new GenericInternalRow(cols.length + 1)
          var i = 0
          while (i < cols.length) {
            val j = cols(i)
            out.update(i, if (c.isNullAt(j)) null else c.get(j, types(j)))
            i += 1
          }
          out.setBoolean(cols.length, (t & IsGhost) != 0)
          Some(out: InternalRow)
        }
      }
    }
    rows.localCheckpoint()
    val kept = interpreted(spark)(_ => rows.count())
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    val parts =
      if (PropertyGraph.boundedBytes(kept, outSchema) <= split) rows.coalesce(1) else rows
    val external = parts.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(outSchema)
      it.map(r => toRow(r).asInstanceOf[Row])
    }
    val store = spark.createDataFrame(external, outSchema)
    val a = acc.value
    Outcome(store, a.ghosts,
      Option(a.ghostKeys).map(InlineKeys(_, keyType)), a.hits,
      Option(a.hitKeys).map(InlineKeys(_, keyType)), a.added)
  }

  /** Plan and run `body` without code generation, in a session that
    * mirrors `spark`'s settings ([[org.apache.spark.sql.graft.Sessions]]):
    * the shared session's conf is not touched. A statement's job
    * touches a handful of rows — its hits and a small delta — so
    * compiling its plan costs more than the compiled code saves, and each
    * class it compiled would take a slot in Spark's codegen cache
    * (100 entries by default) that the read path's classes need to stay
    * compiled across statements.
    */
  private def interpreted[A](spark: SparkSession)(
      body: org.apache.spark.sql.classic.SparkSession => A): A =
    org.apache.spark.sql.graft.Sessions.withoutCodegen(spark)(body)

  def tag(df: DataFrame, bits: Int): DataFrame = df.withColumn(Tag, lit(bits))
  def tag(df: DataFrame, hit: Column, onHit: Int, otherwise: Int): DataFrame =
    df.withColumn(Tag, when(coalesce(hit, lit(false)), lit(onHit)).otherwise(lit(otherwise)))
}
