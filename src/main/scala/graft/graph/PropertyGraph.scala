package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.BucketOf

/** Direction of an edge traversal — reference: ast.rs:347-353
  * (Outgoing / Incoming / Both / Undirected).
  */
sealed trait Direction
object Direction {
  case object Out extends Direction
  case object In extends Direction
  case object Both extends Direction
}

/** Variable-length path semantics — reference: ast.rs:275-308 and
  * executor.rs:6623-6641 (WALK allows any revisit; TRAIL forbids edge
  * revisit; SIMPLE and ACYCLIC both forbid any node revisit — the
  * reference's SimplePath checks `!path.contains(next)` where `path`
  * includes the start node, so even closing a cycle back to the start is
  * rejected; we match that, diverging from ISO GQL's first==last
  * exception the way the reference does).
  */
sealed trait PathSemantics
object PathSemantics {
  case object Walk extends PathSemantics
  case object Trail extends PathSemantics
  case object Acyclic extends PathSemantics
  case object Simple extends PathSemantics
}

/** Metadata for one edge table. */
final case class EdgeType(label: String, srcLabel: String, dstLabel: String)

/** A property graph as per-label columnar tables.
  *
  * The reference keeps one in-memory map of nodes/edges plus label indexes
  * (graph_cache.rs:16-38); the Spark-native analog is a *table per label*:
  * each label gets its own typed, prunable, independently-partitionable
  * DataFrame. Node tables carry `(id: long, <typed property columns>)`;
  * edge tables carry `(src: long, dst: long, eid: long, <props>)`.
  *
  * Per-label tables are the 100 TB design point: label predicates become
  * table selection (no scan-and-filter over a mixed bag), property
  * predicates push down to parquet, and src/dst stay 8-byte join keys.
  * Cross-label identity (for identity-based set ops, executor.rs:7865-7894)
  * is the (label, id) pair.
  *
  * View contract of a mutated label. A label that DML touched (through
  * [[GraphMutations]]) reads as `base ⊖ T ⊕ D` ([[LabelDelta]]):
  *  - `base` is the frame as loaded or built, untouched, so literal
  *    predicates still reach its scan (parquet pushdown, bucket pruning);
  *  - `T` hides base rows by identity key (and, for edges, by the
  *    endpoint of a DETACH-deleted node) — driver-held and bound by
  *    reference while its exact count is at most
  *    [[Keys.InlineLimit]], an anti-join against a checkpoint beyond it;
  *  - `D` is one checkpoint of the current versions of the inserted and
  *    updated rows, re-materialized by the statement that changes it.
  * The view's plan has the same shape after one statement or after
  * many: reads and DML reuse generated code and plan height is flat.
  * Each statement runs in one job that also counts its affected rows;
  * a save rewrites the buckets of `T ∪ D`. Nothing releases a
  * superseded checkpoint eagerly: an earlier graph version (a
  * transaction's rollback snapshot, a lazy result of an earlier query)
  * may still read it, so its blocks go when that version becomes
  * unreachable (ContextCleaner). Id-type widening and edge types
  * without an `eid` replace the label as a whole instead.
  */
final class PropertyGraph(
    val nodeTables: Map[String, DataFrame],
    val edgeTables: Map[String, (EdgeType, DataFrame)],
    /** Directory this graph was loaded from — its un-mutated tables still
      * lazily read that path, which makes incremental saves possible.
      */
    val origin: Option[String] = None,
    /** Dataset names (`nodes_X` / `edges_T`) whose lineage changed since
      * load. None = unknown provenance → a save rewrites everything;
      * Some(set) lets [[GraphCatalog.saveGraph]] rewrite only the changed
      * datasets and rename the rest in place — at 100 TB, a one-label
      * mutation then moves one label's files, not the whole graph.
      */
    val dirty: Option[Set[String]] = None) extends Serializable {

  def nodeLabels: Seq[String] = nodeTables.keys.toSeq.sorted
  def edgeLabels: Seq[String] = edgeTables.keys.toSeq.sorted

  /** ANALYZE-style per-label row counts, memoized per graph instance —
    * the planner statistic behind pattern anchor selection (the
    * reference's planner consults GraphCache sizes; here a parquet count
    * is metadata-cheap and paid once per label per graph version).
    * These are ESTIMATES: mutated graph copies inherit the parent's
    * numbers rather than re-counting derived lineages — join-order
    * choices tolerate staleness, and every orientation returns identical
    * rows anyway.
    */
  @transient private[graph] lazy val nodeCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  def nodeCount(label: String): Long =
    nodeCountCache.getOrElseUpdate(label, nodeTables(label).count())

  /** Memoized exact edge count per label — same contract as
    * [[nodeCount]]: paid at most once per label per graph instance.
    */
  @transient private[graph] lazy val edgeCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  def edgeCount(label: String): Long =
    edgeCountCache.getOrElseUpdate(label, edgeTables(label)._2.count())

  /** Sentinel for "statistics already prove this edge frame is larger
    * than the traversal's local-fast-path limit" — callers treat it as
    * an over-limit count and go straight to the distributed loop.
    */
  val EdgeCountBig: Long = Long.MaxValue

  /** Edge count for a traversal's local-fast-path gate WITHOUT paying a
    * per-call count job on large graphs. Order of evidence:
    *
    *  1. a memoized exact count (free);
    *  2. Catalyst statistics of the projected (src, dst) frame — when
    *     they already put the frame well past `limit` (4× slack absorbs
    *     parquet compression skewing bytes-per-row low), return
    *     [[EdgeCountBig]] with ZERO jobs run. At warehouse scale this
    *     is the common case: a seeded traversal over a 10^10-edge graph
    *     must not pay a full pass over the edge frame just to learn it
    *     cannot be collected to the driver;
    *  3. otherwise the frame is small-or-unknown (in-memory test graphs
    *     plan as LogicalRDDs whose default stats are the UNKNOWN
    *     sentinel, never "proven big") — the exact count is then cheap,
    *     runs once, and memoizes.
    *
    * The stats arm can only over-estimate toward the distributed path
    * (e.g. an edge table carrying megabyte binary properties inflates
    * the projected width estimate) — a wrong answer costs cluster-shaped
    * execution on a collectible graph, never a driver OOM.
    */
  def edgeCountOrBig(label: String, limit: Long): Long =
    edgeCountCache.get(label) match {
      case Some(n) => n
      case None =>
        val projected = edgeTables(label)._2.select(col("src"), col("dst"))
        if (statsProveRowsOver(projected, 4L * math.max(limit, 1L)))
          EdgeCountBig
        else edgeCount(label)
    }

  /** True only on affirmative statistics evidence that `df` has more
    * than `rows` rows: a CBO row count, or a KNOWN sizeInBytes (strictly
    * below the conf's unknown-stats default) at a conservative 24 B/row.
    * Unknown statistics return false — the caller falls back to exact
    * counting rather than guessing.
    */
  private def statsProveRowsOver(df: DataFrame, rows: Long): Boolean = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount match {
      case Some(rc) => rc > BigInt(rows)
      case None =>
        val unknown =
          BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
        st.sizeInBytes < unknown && st.sizeInBytes / 24 > BigInt(rows)
    }
  }

  /** Node tables whose ESTIMATED BYTES fit under this limit get an
    * explicit broadcast hint when joined against edge frames (~100 MB —
    * the point where a 1000-executor shuffle of the big side costs far
    * more than shipping the dim table). AQE would often decide the same
    * per-query, but only after planning a shuffle; the hint removes the
    * exchange from the plan outright.
    *
    * The gate is byte-based, not row-based: a 1M-row table of longs is
    * ~10 MB and safe to force, but the same row count with wide strings
    * or embedding vectors can exceed executor memory — those defer to
    * AQE's size-measured decision instead of a forced hint.
    */
  val broadcastByteLimit: Long = PropertyGraph.BroadcastByteLimit
  def broadcastIfSmall(label: String, df: DataFrame): DataFrame =
    broadcastIfSmallRows(nodeCount(label), df)

  /** Force-broadcast a DERIVED frame whose row count the CALLER can
    * bound (a per-entity aggregate: ≤ one row per entity) but whose
    * plan stats still reflect the big input it derives from. Catalyst
    * sizes an aggregate by its child, and AQE sizes the join by the
    * PARTIAL-agg shuffle (mappers × keys — round-14 finding: gql13's
    * dimension-keyed aggregate stayed a sort-merge join at the 100×
    * tier because that shuffle crossed the threshold while the final
    * aggregate was 20K rows). Row bound × schema-width model, saturated
    * like the stats gate; over the limit defers to AQE unchanged.
    */
  def broadcastIfBoundedRows(rowBound: Long, df: DataFrame): DataFrame =
    PropertyGraph.broadcastIfBoundedRows(rowBound, df)
  /** Same gate for a frame spanning several labels (union scans): the
    * caller supplies the summed row estimate.
    */
  def broadcastIfSmallRows(rowEstimate: Long, df: DataFrame): DataFrame = {
    // Two independent size estimates; force-broadcast only when BOTH are
    // under the limit, because each catches the other's blind spot:
    //  - Catalyst plan stats (file bytes for parquet scans) see the REAL
    //    width of variable-length data — a node table whose text column
    //    averages KBs blows past the schema model's flat 48 B/string;
    //  - the schema model bounds in-memory expansion of fixed-width data
    //    and still applies when stats are the unknown-default sentinel.
    // multiplyExact: deep nested schemas multiply width 128× per array
    // level, and a silent Long wrap would read as "tiny table" (the exact
    // OOM this gate prevents) — saturate instead.
    val schemaEst = PropertyGraph.boundedBytes(rowEstimate, df.schema)
    val planStats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val statsKnown = planStats >= 0 && planStats < BigInt(1L << 50)
    val under = schemaEst <= broadcastByteLimit &&
      (!statsKnown || planStats.toLong <= broadcastByteLimit)
    if (under) broadcast(df) else df
  }

  private[graph] def estimatedRowBytes(schema: org.apache.spark.sql.types.StructType): Long =
    PropertyGraph.estimatedRowBytes(schema)

  /** Compiled-plan cache, keyed by an operator-shape string — e.g. the
    * oriented edge-type unions a GQL hop compiles: repeated hops over
    * the same (edge types, orientations, flags) within a session reuse
    * one lineage instead of rebuilding it per hop. Lives on the graph
    * instance, so mutated copies (new instance) never see stale plans.
    */
  @transient private lazy val planCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def cachedPlan(key: String)(build: => DataFrame): DataFrame =
    planCache.getOrElseUpdate(key, build)

  /** Per-dataset mutation state since load (dataset name → its
    * [[LabelDelta]]): every label a DML statement touched reads as the
    * view `base ⊖ tomb ⊕ delta`, whose plan has the same shape after one
    * statement or after many, so reads and DML reuse generated code and
    * plan height never grows. A bucketed save rewrites exactly the
    * buckets of the delta's rows, its ghosts and the endpoint-hidden base
    * rows. Transient: a deserialized copy starts without it, which only
    * makes its next save a full rewrite.
    */
  @transient private[graph] var deltas: Map[String, LabelDelta] = Map.empty
  /** Datasets rewritten as a whole since load (id-type widening, edge
    * tables without an `eid`, labels that did not exist): a save writes
    * them in full.
    */
  @transient private[graph] var rebased: Set[String] = Set.empty
  /** The schema of each dataset as loaded — the file schema a
    * bucket-scoped save must keep.
    */
  @transient private[graph] var loadedSchemas: Map[String, org.apache.spark.sql.types.StructType] =
    Map.empty

  private[graph] def deltaFor(ds: String): Option[LabelDelta] =
    Option(deltas).flatMap(_.get(ds))

  /** The state a bucket-scoped save of `ds` reads: None once the dataset
    * was rewritten as a whole since load.
    */
  private[graph] def scopedDelta(ds: String): Option[LabelDelta] =
    if (Option(rebased).exists(_.contains(ds))) None else deltaFor(ds)

  /** Copy with mutated tables: `restated` gives the new state of each
    * dataset a statement restated (its table is that state's view),
    * `rewritten` the datasets whose table was replaced as a whole. Row
    * counts are inherited as estimates; nothing is released here, so an
    * earlier graph version (a transaction's rollback snapshot) stays
    * readable.
    */
  private[graph] def mutated(newNodes: Map[String, DataFrame],
      newEdges: Map[String, (EdgeType, DataFrame)],
      touched: Set[String],
      restated: Map[String, LabelDelta] = Map.empty,
      rewritten: Set[String] = Set.empty): PropertyGraph = {
    val g = new PropertyGraph(newNodes, newEdges, origin, dirty.map(_ ++ touched))
    g.nodeCountCache ++= nodeCountCache // inherit stats as estimates
    g.deltas = Option(deltas).getOrElse(Map.empty) -- rewritten ++ restated
    g.rebased = Option(rebased).getOrElse(Set.empty) ++ rewritten
    g.loadedSchemas = Option(loadedSchemas).getOrElse(Map.empty)
    g
  }

  /** NodeScan (logical.rs:94-99): scan one label, optional predicate.
    * Predicates/projections push to the parquet scan via Catalyst.
    */
  def nodeScan(label: String, pred: Option[Column] = None): DataFrame = {
    val df = nodeTables.getOrElse(label,
      throw new IllegalArgumentException(s"unknown node label: $label"))
    pred.fold(df)(df.filter)
  }

  /** EdgeScan (logical.rs:101-106). */
  def edgeScan(label: String, pred: Option[Column] = None): DataFrame = {
    val (_, df) = edgeTables.getOrElse(label,
      throw new IllegalArgumentException(s"unknown edge label: $label"))
    pred.fold(df)(df.filter)
  }

  def edgeType(label: String): EdgeType = edgeTables(label)._1

  /** Expand (logical.rs:108-117): one traversal hop from a binding table.
    *
    * `binding` must carry column `<from>_id`; the result adds `<to>_id`
    * plus the edge's property columns prefixed `<edgeVar>_`. Compiles to
    * at most two equi-joins (edge, then destination node when `dstProps`);
    * Spark picks broadcast vs shuffle join per side sizes (AQE).
    */
  def expand(
      binding: DataFrame,
      from: String,
      to: String,
      edgeVar: String,
      edgeLabel: String,
      direction: Direction = Direction.Out,
      edgePred: Option[Column] = None,
      dstProps: Boolean = false): DataFrame = {
    val (et, raw0) = edgeTables(edgeLabel)
    val raw = edgePred.fold(raw0)(raw0.filter)
    val e = direction match {
      case Direction.Out => raw
      case Direction.In  => raw.withColumnRenamed("src", "__s")
        .withColumnRenamed("dst", "src").withColumnRenamed("__s", "dst")
      case Direction.Both =>
        raw.unionByName(raw
          .withColumnRenamed("src", "__s")
          .withColumnRenamed("dst", "src").withColumnRenamed("__s", "dst"))
    }
    val props = e.columns.filterNot(c => c == "src" || c == "dst")
    val renamed = props.foldLeft(e)((d, c) => d.withColumnRenamed(c, s"${edgeVar}_$c"))
      .withColumnRenamed("src", s"${from}_id").withColumnRenamed("dst", s"${to}_id")
    // defensive id-type alignment: the insert path keeps edge endpoint
    // types equal to node id types, but a binding captured BEFORE a
    // string-widening insert can still carry Long ids — align through an
    // explicit string cast (exact for both sides) rather than letting
    // PromoteStrings coerce String vs Long to Double, which is lossy
    // above 2^53
    val fromId = s"${from}_id"
    import org.apache.spark.sql.types.StringType
    val (bAligned, eAligned) =
      (binding.schema(fromId).dataType, renamed.schema(fromId).dataType) match {
        case (a, b) if a == b => (binding, renamed)
        case (StringType, _) =>
          (binding, renamed.withColumn(fromId, col(fromId).cast(StringType)))
        case (_, StringType) =>
          (binding.withColumn(fromId, col(fromId).cast(StringType)), renamed)
        case _ => (binding, renamed) // numeric/numeric: Spark's widening is exact
      }
    val joined = bAligned.join(eAligned, fromId)
    if (!dstProps) joined
    else {
      val dstLabel = direction match {
        case Direction.In => et.srcLabel
        case _            => et.dstLabel
      }
      val n = nodeTables(dstLabel)
      val nRenamed = n.columns.foldLeft(n)((d, c) =>
        d.withColumnRenamed(c, if (c == "id") s"${to}_id" else s"${to}_$c"))
      val toId = s"${to}_id"
      val (jAligned, nAligned) =
        (joined.schema(toId).dataType, nRenamed.schema(toId).dataType) match {
          case (a, b) if a == b => (joined, nRenamed)
          case (StringType, _) =>
            (joined, nRenamed.withColumn(toId, col(toId).cast(StringType)))
          case (_, StringType) =>
            (joined.withColumn(toId, col(toId).cast(StringType)), nRenamed)
          case _ => (joined, nRenamed)
        }
      jAligned.join(broadcastIfSmall(dstLabel, nAligned), toId)
    }
  }

  /** Degree of each node for one edge label (adjacency-index analog,
    * graph_cache.rs:31-38). A single map-side-combinable aggregation.
    */
  def degrees(edgeLabel: String, direction: Direction = Direction.Out): DataFrame = {
    val (_, e) = edgeTables(edgeLabel)
    direction match {
      case Direction.Out => e.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
      case Direction.In  => e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("degree"))
      case Direction.Both => e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
    }
  }

  /** PathTraversal (logical.rs:119-126, exec executor.rs:6338-6664):
    * variable-length paths via bounded iterative joins.
    *
    * Returns `(start_id, end_id, depth, path: array<long>)` for every path
    * of depth in [minHops, maxHops] starting from `start` (a DataFrame with
    * column `start_id`). Semantics enforce the reference's revisit rules by
    * carrying the visited node (and, for TRAIL, edge) arrays through the
    * joins. maxHops is capped at 10 — parity with the reference's quantifier
    * cap (executor.rs:6505-6510).
    *
    * Scale note: this *enumerates* paths, which is exponential in dense
    * graphs by nature; for reachability/shortest-distance style questions
    * use [[bfs]], which keeps per-node state instead of per-path state.
    */
  def paths(
      start: DataFrame,
      edgeLabel: String,
      minHops: Int,
      maxHops: Int,
      semantics: PathSemantics = PathSemantics.Walk,
      direction: Direction = Direction.Out,
      keepEdges: Boolean = false): DataFrame = {
    require(minHops >= 0, "minHops must be >= 0")
    val cap = math.min(maxHops, 10)
    val (_, raw) = edgeTables(edgeLabel)
    val e0 = (direction match {
      case Direction.Out => raw
      case Direction.In  => raw.select(col("dst").as("src"), col("src").as("dst"),
        col("eid"))
      case Direction.Both => raw.select(col("src"), col("dst"), col("eid"))
        .unionAll(raw.select(col("dst").as("src"), col("src").as("dst"), col("eid")))
    }).select(col("src"), col("dst"), col("eid"))

    // Frontier-driven bucket pruning (r17 verdict #1; r19 extends it to
    // Direction.Both and to orientations served by the dual-keyed
    // MIRROR layout): over a persisted graph whose edge table is
    // range-bucketed on the oriented join key, each level's edge scan
    // need only read the bucket directories the CURRENT frontier's end
    // ids can join into — the warehouse analog of the reference's
    // adjacency-index fetch (graph_cache.rs:16-38, which keeps BOTH
    // adjacency_out and adjacency_in), applied per traversal level
    // instead of joining the full edge table `cap` times. Each pruned
    // BRANCH is one orientation over the physical layout clustered on
    // its join key: Out/In take the main table when its key matches
    // (else the mirror), Both takes main + mirror together. The mirror
    // (GraphCatalog `mirror = true`) persists the SAME rows
    // re-clustered on the other endpoint, so it may substitute only
    // while this dataset is CLEAN since load — an in-session mutation
    // diverges the in-memory frame from the persisted dual. Pruning
    // flips off at runtime if any branch's frontier saturates more
    // than half its buckets (an unseeded traversal), falling back to
    // the one-time full-edge checkpoint below.
    import org.apache.spark.sql.types.{NumericType, StringType}
    val endT = e0.schema("dst").dataType
    def typeOk(spec: graft.plans.BucketPrune.Spec): Boolean =
      (spec.stringKey == (endT == StringType)) &&
        (spec.stringKey || endT.isInstanceOf[NumericType])
    val edsClean = dirty.exists(d => !d.contains(s"edges_$edgeLabel"))
    val mainSpec = origin.flatMap { dir =>
      graft.plans.BucketPrune.specForPath(s"$dir/edges_$edgeLabel")
    }.filter(typeOk)
    val mirSpec = if (!edsClean) None else origin.flatMap { dir =>
      graft.plans.BucketPrune.specForPath(
        s"$dir/${GraphCatalog.MirrorPrefix}edges_$edgeLabel")
    }.filter(typeOk)
    def orient(f: DataFrame, key: String): DataFrame =
      if (key == "src") f.select(col("src"), col("dst"), col("eid"))
      else f.select(col("dst").as("src"), col("src").as("dst"), col("eid"))
    lazy val mirrorRaw = raw.sparkSession.read.parquet(
      s"${origin.get}/${GraphCatalog.MirrorPrefix}edges_$edgeLabel")
    def branchFor(key: String): Option[(graft.plans.BucketPrune.Spec, DataFrame)] =
      mainSpec.filter(_.keyCol == key).map(sp => (sp, orient(raw, key)))
        .orElse(mirSpec.filter(_.keyCol == key)
          .map(sp => (sp, orient(mirrorRaw, key))))
    var pruning: Option[Seq[(graft.plans.BucketPrune.Spec, DataFrame)]] =
      if (!graft.plans.BucketPrune.enabled) None
      else direction match {
        case Direction.Out  => branchFor("src").map(Seq(_))
        case Direction.In   => branchFor("dst").map(Seq(_))
        case Direction.Both =>
          for { a <- branchFor("src"); b <- branchFor("dst") } yield Seq(a, b)
      }
    val pruneTrace = Seq.newBuilder[(Set[Int], String)]

    // full-edge materialization for the unpruned loop — LAZY so a fully
    // pruned traversal never pays the O(|E|) checkpoint at all
    lazy val eFull = if (cap >= 2) e0.localCheckpoint(true) else e0

    /** This level's edge frame: the full checkpoint, or the union of
      * the pruned orientation branches restricted to the bucket
      * directories the frontier can reach. The range filter is IMPLIED
      * by the join (a row outside every frontier bucket cannot
      * equi-match), and [[graft.plans.BucketPrune]] rewrites it into an
      * `__ixb` partition filter on each branch's scan.
      */
    var levelIds: Set[Int] = Set.empty
    // per-branch bucket-id sets computed DURING the previous level's
    // materialization (set-accumulators riding the checkpoint job — one
    // job per level, not a checkpoint + a separate bucket-set collect;
    // r18 watch #2). None on the first level, where the start frame
    // pays one tiny aggregate job instead.
    var pendingIds: Option[Seq[Set[Int]]] = None
    def edgeFor(frontier: DataFrame): DataFrame = pruning match {
      case None => eFull
      case Some(branches) =>
        val specs = branches.map(_._1)
        val idSets = pendingIds.getOrElse {
          val aggs = specs.map(sp =>
            collect_set(BucketOf.column(col("end_id"), sp)))
          val row = frontier.agg(aggs.head, aggs.tail: _*).collect().head
          specs.indices.map(i => row.getSeq[Int](i).toSet)
        }
        pendingIds = None
        levelIds = idSets.reduce(_ ++ _)
        if (branches.zip(idSets).exists {
            case ((sp, _), ids) => ids.size * 2 > sp.buckets }) {
          pruning = None // saturated — full checkpoint serves the rest
          eFull
        } else branches.zip(idSets).map { case ((sp, f), ids) =>
          f.filter(KeyIn.buckets(col("src"), sp, ids))
        }.reduce(_ unionAll _)
    }

    var frontier = start.select(
      col("start_id"), col("start_id").as("end_id"),
      lit(0).as("depth"),
      array(col("start_id")).as("path"),
      array().cast("array<long>").as("epath"))
    var acc = if (minHops == 0) frontier else frontier.limit(0)
    var k = 1
    while (k <= cap) {
      val e = edgeFor(frontier)
      val step = frontier.join(e, frontier("end_id") === e("src"))
      val legal = semantics match {
        case PathSemantics.Walk  => step
        case PathSemantics.Trail => step.filter(!array_contains(col("epath"), col("eid")))
        // SIMPLE matches the reference (executor.rs:6632-6635): no vertex
        // revisit at all, start included — same constraint as ACYCLIC here.
        case PathSemantics.Acyclic | PathSemantics.Simple =>
          step.filter(!array_contains(col("path"), col("dst")))
      }
      frontier = legal.select(
        col("start_id"), col("dst").as("end_id"),
        (col("depth") + 1).as("depth"),
        concat(col("path"), array(col("dst"))).as("path"),
        concat(col("epath"), array(col("eid"))).as("epath"))
      if (pruning.isDefined) {
        // materialize the level: the union below reuses it instead of
        // re-running the join chain (stats reset via checkpointReset,
        // see Analytics scaladoc), and the NEXT level's per-branch
        // bucket-id sets ride this same job as set-accumulators over
        // the new end ids — one job per level, not two (r18 watch #2)
        val specs = pruning.get.map(_._1)
        val accs = specs.map { _ =>
          val a = new PropertyGraph.BucketSetAcc
          frontier.sparkSession.sparkContext.register(a)
          a
        }
        val tagged = specs.zip(accs).zipWithIndex.foldLeft(frontier) {
          case (f, ((sp, acc), i)) =>
            val rec = udf((b: Int) => { acc.add(b); b })
            f.withColumn(s"__bk$i", rec(BucketOf.column(col("end_id"), sp)))
        }
        val qe = tagged.queryExecution
        frontier = Analytics.checkpointReset(tagged)._1
          .drop(specs.indices.map(i => s"__bk$i"): _*)
        pendingIds = Some(accs.map(_.value))
        pruneTrace += ((levelIds, qe.executedPlan.toString))
      }
      if (k >= minHops) acc = acc.unionByName(frontier)
      k += 1
    }
    PropertyGraph.lastPathPrune = pruneTrace.result()
    // epath (the per-path edge-id array) is exposed on request so a mixed
    // rigid+quantified TRAIL chain can enforce edge-distinctness across
    // segment boundaries (executor.rs:6623-6641 revisit rules)
    if (keepEdges) acc.select("start_id", "end_id", "depth", "path", "epath")
    else acc.select("start_id", "end_id", "depth", "path")
  }

  /** Multi-source BFS distances (GraphIndexScan IsReachable/ShortestPath
    * analog, physical.rs:42-67) as iterative frontier joins with per-node —
    * not per-path — state, so it survives dense graphs at scale.
    *
    * `sources`: DataFrame with column `root_id` (one BFS per root).
    * Returns `(root_id, id, dist)` for nodes within `maxIter` hops.
    */
  def bfs(sources: DataFrame, edgeLabel: String, maxIter: Int,
      direction: Direction = Direction.Out,
      localEdgeLimit: Long = 2000000L): DataFrame = {
    val (_, raw) = edgeTables(edgeLabel)
    val e0 = (direction match {
      case Direction.Out => raw
      case Direction.In  => raw.select(col("dst").as("src"), col("src").as("dst"))
      case Direction.Both => raw.select("src", "dst")
        .unionAll(raw.select(col("dst").as("src"), col("src").as("dst")))
    }).select("src", "dst")
    // id-type-agnostic (reference parity: node ids are strings everywhere,
    // storage/types.rs:68-72, and GraphIndexScan ops don't care —
    // physical.rs:42-67): the frontier joins below work on whatever the
    // edge endpoint type is; roots cast to it up front so a Long root
    // against a string-id graph (or a string "5" against a Long graph)
    // still joins exactly instead of through a lossy numeric promotion
    val idType = e0.schema("src").dataType
    val sourcesT =
      if (sources.schema("root_id").dataType == idType) sources
      else sources.select(col("root_id").cast(idType).as("root_id"))
    PropertyGraph.lastBfsPrune = Seq.empty // local path leaves no trace
    // gate WITHOUT a per-call count job on large graphs: statistics that
    // already prove the frame over the limit skip straight to the
    // distributed loop (edgeCountOrBig); Both counts each edge twice
    val rawCount = edgeCountOrBig(edgeLabel, localEdgeLimit)
    val edgeCount =
      if (rawCount == EdgeCountBig) EdgeCountBig
      else if (direction == Direction.Both) 2L * rawCount
      else rawCount

    // Small-edge-set fast path (same gate family as
    // Analytics.connectedComponents): once the oriented edge list fits on
    // the driver (≤2M pairs ≈ 32 MB) and the root set is modest, an
    // in-memory adjacency BFS beats any number of per-level Spark jobs —
    // each level is a checkpoint job whose scheduling cost alone exceeds
    // the whole sequential traversal. Output volume is re-checked while
    // emitting: a dense expansion past 5M rows abandons the local result
    // and falls through to the distributed loop instead of straining the
    // driver heap.
    if (edgeCount <= localEdgeLimit) {
      val rootRows = sourcesT.select(col("root_id")).limit(1001).collect()
      if (rootRows.length <= 1000) {
        // keys are Any (Long or String per the graph's id type) — the
        // adjacency walk only needs hash equality, and the result frame
        // gets an explicit schema carrying the id type through
        val roots = rootRows.map(_.get(0)).distinct
        val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
        e0.collect().foreach { r =>
          adj.computeIfAbsent(r.get(0),
            _ => scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        var overflow = false
        var ri = 0
        while (ri < roots.length && !overflow) {
          val root = roots(ri)
          val dist = new java.util.HashMap[Any, Long]()
          var frontier = List(root)
          dist.put(root, 0L)
          out += org.apache.spark.sql.Row(root, root, 0L)
          var d = 1L
          while (d <= maxIter && frontier.nonEmpty && !overflow) {
            val next = scala.collection.mutable.ListBuffer.empty[Any]
            // cap checked per EMISSION, not per level: a dense level could
            // otherwise overshoot by up to the full node set of boxed
            // tuples on the driver heap before overflow triggered
            val it = frontier.iterator
            while (it.hasNext && !overflow) {
              val u = it.next()
              val ns = adj.get(u)
              if (ns != null) {
                var i = 0
                while (i < ns.length && !overflow) {
                  val v = ns(i)
                  if (!dist.containsKey(v)) {
                    dist.put(v, d)
                    out += org.apache.spark.sql.Row(root, v, d)
                    next += v
                    if (out.size > 5000000) overflow = true
                  }
                  i += 1
                }
              }
            }
            frontier = next.toList
            d += 1
          }
          ri += 1
        }
        if (!overflow) {
          val sess = sourcesT.sparkSession
          import org.apache.spark.sql.types.{LongType, StructField, StructType}
          import scala.jdk.CollectionConverters._
          return sess.createDataFrame(out.asJava, StructType(Seq(
            StructField("root_id", idType), StructField("node_id", idType),
            StructField("dist", LongType, nullable = false))))
        }
      }
    }

    // localCheckpoint executes the initial (non-AQE-coalesced) plan each
    // level, so size the shuffle to the edge frame up front: 1 partition
    // per ~100k edges, floor 8 — small graphs skip thousands of empty
    // tasks per level, big graphs keep the configured width. Run the loop
    // on a CLONED session (same SparkContext, own SQLConf) so queries
    // planned concurrently on the caller's session never see the loop's
    // shuffle width (same pattern as Analytics.connectedComponents).
    val sess = sources.sparkSession
    val width = math.max(8L, math.min(
      sess.conf.get("spark.sql.shuffle.partitions").toLong,
      edgeCount / 100000L + 1L))
    val work = sess.newSession()
    work.conf.set("spark.sql.shuffle.partitions", width.toString)
    // newSession() starts from SparkContext defaults — re-apply the
    // semantics-bearing caller settings (ANSI / session TZ / AQE)
    Seq("spark.sql.ansi.enabled", "spark.sql.session.timeZone",
      "spark.sql.adaptive.enabled").foreach { key =>
      sess.conf.getOption(key).foreach(work.conf.set(key, _))
    }
    // Frontier-driven bucket pruning (same machinery as [[paths]],
    // including the r19 Both/mirror branches): a SEEDED reachability
    // query over a bucketed persisted edge table reads only the
    // frontier's bucket directories per level instead of materializing
    // the full edge frame once — the warehouse analog of the
    // reference's adjacency-index BFS (graph_cache.rs:16-38,
    // physical.rs:42-67 FindNeighbors/IsReachable). Saturation (any
    // branch's frontier touching > half its buckets — the unseeded
    // whole-graph case) flips to the one-time full checkpoint below.
    import org.apache.spark.sql.types.{NumericType, StringType}
    def typeOk(spec: graft.plans.BucketPrune.Spec): Boolean =
      (spec.stringKey == (idType == StringType)) &&
        (spec.stringKey || idType.isInstanceOf[NumericType])
    val edsClean = dirty.exists(d => !d.contains(s"edges_$edgeLabel"))
    val mainSpec = origin.flatMap { dir =>
      graft.plans.BucketPrune.specForPath(s"$dir/edges_$edgeLabel")
    }.filter(typeOk)
    val mirSpec = if (!edsClean) None else origin.flatMap { dir =>
      graft.plans.BucketPrune.specForPath(
        s"$dir/${GraphCatalog.MirrorPrefix}edges_$edgeLabel")
    }.filter(typeOk)
    def orient(f: DataFrame, key: String): DataFrame =
      if (key == "src") f.select(col("src"), col("dst"))
      else f.select(col("dst").as("src"), col("src").as("dst"))
    lazy val mirrorRaw = raw.sparkSession.read.parquet(
      s"${origin.get}/${GraphCatalog.MirrorPrefix}edges_$edgeLabel")
    def branchFor(key: String): Option[(graft.plans.BucketPrune.Spec, DataFrame)] =
      mainSpec.filter(_.keyCol == key).map(sp => (sp, orient(raw, key)))
        .orElse(mirSpec.filter(_.keyCol == key)
          .map(sp => (sp, orient(mirrorRaw, key))))
    var pruning: Option[Seq[(graft.plans.BucketPrune.Spec, DataFrame)]] =
      if (!graft.plans.BucketPrune.enabled) None
      else direction match {
        case Direction.Out  => branchFor("src").map(Seq(_))
        case Direction.In   => branchFor("dst").map(Seq(_))
        case Direction.Both =>
          for { a <- branchFor("src"); b <- branchFor("dst") } yield Seq(a, b)
      }
    val bfsTrace = Seq.newBuilder[Set[Int]]
    // per-branch bucket-id sets computed DURING the previous level's
    // materialization (set-accumulators riding the checkpoint job — one
    // job per level; r18 watch #2); None at level 1, where the root
    // checkpoint pays one cheap cached-read aggregate instead
    var pendingIds: Option[Seq[Set[Int]]] = None

    // checkpoint the full edge frame at most ONCE, on the work session
    // the loop runs on (a derived edge frame would otherwise recompute
    // per level) — LAZY so a fully pruned traversal never pays the
    // O(|E|) materialization at all
    var eFullRef: Option[DataFrame] = None
    def eFull: DataFrame = eFullRef.getOrElse {
      val m = work.createDataFrame(e0.rdd, e0.schema).localCheckpoint(true)
      eFullRef = Some(m); m
    }

    /** This level's edge frame: the frontier's touched-bucket ranges
      * (pushed to the parquet scan; rewritten to an `__ixb` partition
      * filter by BucketPrune) or the full checkpoint. The frontier is
      * always a checkpointed frame here, so the bucket collect is a
      * cheap cached-read job.
      */
    def eFor(f: DataFrame): DataFrame = pruning match {
      case None => eFull
      case Some(branches) =>
        val specs = branches.map(_._1)
        val idSets = pendingIds.getOrElse {
          val aggs = specs.map(sp => collect_set(BucketOf.column(col("id"), sp)))
          val row = f.agg(aggs.head, aggs.tail: _*).collect().head
          specs.indices.map(i => row.getSeq[Int](i).toSet)
        }
        pendingIds = None
        bfsTrace += idSets.reduce(_ ++ _)
        if (branches.zip(idSets).exists {
            case ((sp, _), ids) => ids.size * 2 > sp.buckets }) {
          pruning = None
          eFull
        } else {
          val filtered = branches.zip(idSets).map { case ((sp, fr), ids) =>
            fr.filter(KeyIn.buckets(col("src"), sp, ids))
          }.reduce(_ unionAll _)
          work.createDataFrame(filtered.rdd, e0.schema)
        }
    }
    // one BFS per DISTINCT root — the local fast path dedups duplicate
    // root_ids, so the distributed loop must agree on duplicate inputs
    val src0 = sourcesT.select(col("root_id")).distinct()
      .select(col("root_id"), col("root_id").as("id"), lit(0L).as("dist"))
    var visited = work.createDataFrame(src0.rdd, src0.schema)
      .localCheckpoint(true)
    var frontier = visited
    var k = 1
    var done = false
    // Two BFS levels per materialization: the localCheckpoint job is the
    // dominant per-iteration cost (scheduling, not data), so halving the
    // checkpoint count nearly halves wall-clock; a 2-join lineage between
    // checkpoints stays linear, and Catalyst's exchange reuse shares the
    // level-1 subplan between the union's two branches.
    def expand(f: DataFrame, dist: Int, alsoVisited: Option[DataFrame]): DataFrame = {
      val e = eFor(f)
      var nx = f.join(e, f("id") === e("src"))
        .select(col("root_id"), col("dst").as("id"), lit(dist.toLong).as("dist"))
        .distinct()
        .join(visited.select(col("root_id").as("vr"), col("id").as("vi")),
          col("root_id") === col("vr") && col("id") === col("vi"), "left_anti")
      alsoVisited.foreach { av =>
        nx = nx.join(av.select(col("root_id").as("vr2"), col("id").as("vi2")),
          col("root_id") === col("vr2") && col("id") === col("vi2"), "left_anti")
      }
      nx
    }
    // superseded checkpoints are freed as soon as nothing references
    // their blocks: a level's `mat` backs the next level's frontier (one
    // extra iteration), an old `visited` is dead the moment the union
    // that consumed it materializes — so the loop holds at most edges +
    // one visited + two mats in the block manager, not one per level
    // handles for block cleanup; the stats-fresh wrappers (see
    // Analytics.checkpointReset) are what each level derives from, so
    // the per-level join-product stats never compound round over round
    var visitedCp: DataFrame = visited
    var prevMat: Option[DataFrame] = None
    while (k <= maxIter && !done) {
      // one level per materialization while pruning: the 2-step batch's
      // second expand would run its bucket collect against a LAZY f1
      // (re-executing the first join); with pruned per-level reads the
      // checkpoint is no longer the dominant cost, so simpler wins
      val steps =
        if (pruning.isDefined) 1 else math.min(2, maxIter - k + 1)
      val f1 = expand(frontier, k, None)
      val batch =
        if (steps == 2) f1.unionByName(expand(f1, k + 1, Some(f1)))
        else f1
      // while pruning, the NEXT level's per-branch bucket-id sets ride
      // the batch materialization job as set-accumulators (one job per
      // level instead of a checkpoint + a bucket-set collect)
      val (tagged, accs) = pruning match {
        case Some(branches) =>
          val specs = branches.map(_._1)
          val as = specs.map { _ =>
            val a = new PropertyGraph.BucketSetAcc
            work.sparkContext.register(a); a
          }
          (specs.zip(as).zipWithIndex.foldLeft(batch) {
            case (b, ((sp, a), i)) =>
              val rec = udf((x: Int) => { a.add(x); x })
              b.withColumn(s"__bk$i", rec(BucketOf.column(col("id"), sp)))
          }, as)
        case None =>
          (batch, Seq.empty[PropertyGraph.BucketSetAcc])
      }
      val (mat0, matCp) = Analytics.checkpointReset(tagged)
      val mat = if (accs.isEmpty) mat0
        else mat0.drop(accs.indices.map(i => s"__bk$i"): _*)
      if (accs.nonEmpty) pendingIds = Some(accs.map(_.value))
      if (mat.isEmpty) { done = true; Analytics.unpersistCheckpoint(matCp) }
      else {
        val (grown, grownCp) = Analytics.checkpointReset(
          visited.unionByName(mat))
        Analytics.unpersistCheckpoint(visitedCp)
        prevMat.foreach(Analytics.unpersistCheckpoint)
        prevMat = Some(matCp)
        visited = grown
        visitedCp = grownCp
        frontier =
          if (steps == 2) mat.filter(col("dist") === lit((k + 1).toLong))
          else mat
      }
      k += steps
    }
    eFullRef.foreach(Analytics.unpersistCheckpoint)
    prevMat.foreach(Analytics.unpersistCheckpoint)
    PropertyGraph.lastBfsPrune = bfsTrace.result()
    // re-bind onto the caller's session so results compose with its
    // frames; the final `visited` checkpoint stays alive — the returned
    // frame reads its blocks lazily
    val result = visited.withColumnRenamed("id", "node_id")
    sess.createDataFrame(result.rdd, result.schema)
  }
}

object PropertyGraph {
  /** Materialize a derived frame eagerly and RESET its plan statistics.
    *
    * `localCheckpoint` alone truncates lineage but INHERITS the origin
    * plan's statistics (Spark's LogicalRDD keeps originStats). Inside
    * mutation pipelines those are multiplicative size-only join
    * products — BigInts whose digit count compounds per statement — and
    * a derived frame carrying them re-inflates every stored table it is
    * joined back into (found by the DML differential fuzz freezing in
    * BigInteger multiplication during stats propagation). The bare re-wrap resets
    * stats to the unknown-default sentinel; forced broadcasts size
    * themselves from [[PropertyGraph!.broadcastIfSmallRows]]'s
    * schema × row-count model instead, and AQE re-measures joins from
    * real shuffle bytes at runtime.
    */
  def materialized(df: DataFrame): DataFrame = materializedCount(df)._1

  /** [[materialized]] plus the frame's row count, both from ONE job: the
    * executed plan's rows are marked for local checkpointing and the
    * count that fills the checkpoint is the count returned. A DML
    * statement that must report its affected rows materializes its delta
    * (edge INSERT rows, a DELETE's doomed ids) this way, so handing the
    * save a lineage-free delta costs no job beyond the count the
    * statement always ran — a `Dataset.count()` is itself one job more
    * under AQE (its final single-partition aggregate), so the statement
    * usually runs one job fewer than counting the lazy frame did.
    */
  def materializedCount(df: DataFrame): (DataFrame, Long) = {
    val rows = df.queryExecution.toRdd.map(_.copy())
    rows.localCheckpoint()
    val n = rows.count()
    val schema = df.schema
    val external = rows.mapPartitions { it =>
      val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(schema)
      it.map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row])
    }
    (df.sparkSession.createDataFrame(external, schema), n)
  }

  /** Byte budget of a forced broadcast (see [[PropertyGraph!.broadcastIfSmall]]). */
  val BroadcastByteLimit: Long = 100L << 20

  /** Conservative per-row width from the schema: exact for fixed-width
    * primitives, pessimistic for variable-length types (strings,
    * binary, arrays have no static size — assume wide rather than OOM
    * a forced broadcast). Catalyst's own defaultSize is optimistic the
    * other way (array<float> = 4 B), which is exactly the failure mode
    * this gate exists to prevent.
    */
  def estimatedRowBytes(schema: org.apache.spark.sql.types.StructType): Long = {
    import org.apache.spark.sql.types._
    def width(dt: DataType): Long = dt match {
      case BooleanType | ByteType => 1L
      case ShortType => 2L
      case IntegerType | FloatType | DateType => 4L
      case LongType | DoubleType | TimestampType | TimestampNTZType => 8L
      case _: DecimalType => 16L
      case StringType => 48L
      case BinaryType => 512L
      case ArrayType(et, _) => 128L * width(et)
      case MapType(kt, vt, _) => 16L * (width(kt) + width(vt))
      case StructType(fields) => fields.map(f => width(f.dataType)).sum
      case _ => 64L
    }
    math.max(8L, width(schema))
  }


  /** `rows` × [[estimatedRowBytes]], saturated: deep nested schemas
    * multiply width 128× per array level, and a silent Long wrap would
    * read as "tiny table" — the exact OOM the broadcast gate prevents.
    */
  def boundedBytes(rows: Long, schema: org.apache.spark.sql.types.StructType): Long =
    try Math.multiplyExact(rows, estimatedRowBytes(schema))
    catch { case _: ArithmeticException => Long.MaxValue }

  /** Force-broadcast a frame whose row count the caller knows or bounds
    * (see [[PropertyGraph!.broadcastIfBoundedRows]]) when the schema-width
    * model fits the byte budget; over it, AQE decides unchanged.
    */
  def broadcastIfBoundedRows(rowBound: Long, df: DataFrame): DataFrame =
    if (boundedBytes(rowBound, df.schema) <= BroadcastByteLimit) broadcast(df) else df

  /** Diagnostic trace of the LAST [[PropertyGraph.paths]] call's
    * frontier-driven bucket pruning: one `(bucketIds, executedPlan)`
    * pair per pruned level (empty when the edge table is not bucketed
    * or pruning saturated before the first level). Read by PlanAudit
    * and PathBucketPruneSpec to pin that each level's scan really
    * carried an `__ixb` partition filter; volatile single-slot — a
    * debugging/audit hook, not an API.
    */
  @volatile var lastPathPrune: Seq[(Set[Int], String)] = Seq.empty

  /** Same contract for the DISTRIBUTED [[PropertyGraph.bfs]] loop: the
    * bucket set each pruned level's edge scan was restricted to (empty
    * when the local fast path ran, the table is unbucketed, or pruning
    * saturated before the first level).
    */
  @volatile var lastBfsPrune: Seq[Set[Int]] = Seq.empty

  /** Set-accumulator of bucket ids (bounded — at most the layout's
    * bucket count by construction). Rides a traversal level's
    * materialization job so the NEXT level's pruned scan needs no
    * separate bucket-set collect (one job per level, r18 watch #2).
    * Task retries and speculative attempts only re-ADD members of the
    * true set — rows processed by any attempt are real frontier rows —
    * and the eager checkpoint completes every partition, so the final
    * value equals the frontier's exact bucket-id set.
    */
  private[graph] class BucketSetAcc
      extends org.apache.spark.util.AccumulatorV2[Int, Set[Int]] {
    private val s = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def isZero: Boolean = s.isEmpty
    override def copy(): BucketSetAcc = {
      val c = new BucketSetAcc; c.s.addAll(s); c
    }
    override def reset(): Unit = s.clear()
    override def add(v: Int): Unit = s.add(v)
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[Int, Set[Int]]): Unit =
      o.value.foreach(s.add(_))
    override def value: Set[Int] = {
      import scala.jdk.CollectionConverters._
      s.asScala.toSet
    }
  }
}
