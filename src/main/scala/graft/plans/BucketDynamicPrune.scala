package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, NumericType, StringType}

/** RUNTIME bucket pruning for joins against the bucketed clustered
  * layout — the dynamic companion of [[BucketPrune]].
  *
  * [[BucketPrune]] handles the static half: a LITERAL predicate on the
  * clustered key maps to an `__ixb` partition filter (and a seeded
  * expand's literal flows through the join condition via constraint
  * propagation, so the EDGE scan of `MATCH (a)-[e]->(b) WHERE a.id=K`
  * prunes statically). The destination side cannot: the dst keys are
  * runtime values (the matched edges' `dst` column), so its node scan
  * stays O(table) — measured directly by the bprune_hop probes, where
  * the dst scan was 4.5M of the hop's 4.6M rows read at the 30× tier.
  *
  * This rule closes that leg with Spark's own dynamic-partition-pruning
  * machinery: for an equi-join where one side scans a bucketed relation
  * ON its clustered key and the other side is selective, it injects
  *
  * {{{ Filter(DynamicPruningSubquery(__ixb, buildQuery = <other side>,
  *            buildKeys = bucketIdOf(<other side's join key>)), rel) }}}
  *
  * above the bucketed relation. Spark's PlanAdaptiveDynamicPruningFilters
  * then executes the build side once, collects the DISTINCT bucket ids
  * its join keys imply, and the scan lists only those `__ixb=K/`
  * directories — the warehouse-scale analog of the reference's
  * adjacency-index fetch (graph_cache.rs:16-38): look up the neighbor
  * ids, then read ONLY the storage that can hold them.
  *
  * Correctness: the injected filter keeps exactly the rows whose bucket
  * id appears among the build side's key buckets. A bucketed-side row
  * whose key is in NO build bucket cannot equi-match any build row
  * (same boundaries, same comparison domain as the layout's
  * [[BucketOf]]: numerics compare as
  * double, strings as UTF8 binary, NULL/NaN land in the last bucket —
  * and a NULL join key never equi-matches, so over-approximating NULL
  * to the last bucket only costs reads). Join types mirror Spark's own
  * DPP soundness: prune left for Inner/LeftSemi/RightOuter, right for
  * Inner/LeftOuter — sides whose non-matching rows cannot reach the
  * output.
  *
  * `onlyInBroadcast = false`: the build keys are bucket ids, never the
  * join's broadcast keys, so exchange reuse can't apply; the build side
  * runs as a standalone subquery. The SELECTIVITY GATE (a literal
  * filter somewhere in the build subtree) keeps that double-execution
  * confined to seeded/filtered shapes where the build side is small by
  * construction — an unfiltered build side would pay a full pass to
  * save part of another.
  */
object BucketDynamicPrune extends Rule[LogicalPlan] with PredicateHelper {

  /** Toggle for A/B measurement (Evidence's `@-BucketDynamicPrune`
    * items, at any data tier) and tests (BucketPrune.enabled gates
    * BOTH rules off — this one additionally on its own). */
  @volatile var enabled: Boolean = true

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || !BucketPrune.enabled || BucketPrune.registryEmpty ||
      !conf.dynamicPartitionPruningEnabled)
      plan
    else {
      lazy val ixbConsumed = MirrorSwap.ixbConsumedIn(plan)
      plan transform {
        case j @ Join(left, right, joinType, Some(cond), _) =>
          var newLeft = left
          var newRight = right
          splitConjunctivePredicates(cond).foreach {
            case EqualTo(l, r) =>
              // normalize: (leftSideKey, rightSideKey)
              val lr: Option[(Expression, Expression)] =
                if (l.references.subsetOf(left.outputSet) &&
                  r.references.subsetOf(right.outputSet)) Some((l, r))
                else if (r.references.subsetOf(left.outputSet) &&
                  l.references.subsetOf(right.outputSet)) Some((r, l))
                else None
              // build plans are the ORIGINAL opposite sides: building from
              // an already-injected side would nest pruning subqueries
              // (B's build executing A's subquery executing B...)
              lr.foreach { case (lk, rk) =>
                if (canPruneLeft(joinType) && hasSelectiveFilter(right))
                  newLeft = inject(newLeft, lk, right, rk, ixbConsumed)
                if (canPruneRight(joinType) && hasSelectiveFilter(left))
                  newRight = inject(newRight, rk, left, lk, ixbConsumed)
              }
            case _ =>
          }
          if (newLeft.eq(left) && newRight.eq(right)) j
          else j.copy(left = newLeft, right = newRight)
      }
    }

  private def canPruneLeft(jt: JoinType): Boolean = jt match {
    case Inner | LeftSemi | RightOuter => true
    case _ => false
  }

  private def canPruneRight(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter => true
    case _ => false
  }

  /** A literal-bearing deterministic Filter somewhere in the subtree —
    * the seeded/selective shapes where the build side is small enough
    * that running it twice (once as the pruning subquery) is a win —
    * or a side read wholly from driver-held rows (a seeded hop's
    * collected adjacency), which is small by construction.
    * IsNotNull-only filters don't count (every equi-join side has them).
    */
  private def hasSelectiveFilter(p: LogicalPlan): Boolean =
    p.collectLeaves().forall(_.isInstanceOf[LocalRelation]) || p.exists {
      case Filter(c, _) => splitConjunctivePredicates(c).exists {
        case _: IsNotNull => false
        // an injected pruning subquery carries boundary literals — it must
        // not make its own side look "selective" to the opposite direction
        case e if e.exists(_.isInstanceOf[DynamicPruning]) => false
        case e => e.deterministic && e.exists(_.isInstanceOf[Literal]) &&
          e.references.nonEmpty
      }
      case _ => false
    }

  /** Strip numeric-to-numeric casts and resolve one Project level of
    * aliasing: the compiler's scans rename relation columns
    * (`id AS o_id`), so at the join the key is an alias attribute —
    * follow it to the expression it stands for. */
  private def unwrap(e: Expression,
      aliases: Map[ExprId, Expression]): Option[AttributeReference] =
    e match {
      case a: AttributeReference =>
        aliases.get(a.exprId) match {
          case Some(inner) => unwrap(inner, Map.empty)
          case None => Some(a)
        }
      case Cast(c, dt, _, _) if dt.isInstanceOf[NumericType] &&
          c.dataType.isInstanceOf[NumericType] => unwrap(c, aliases)
      case Alias(c, _) => unwrap(c, aliases)
      case _ => None
    }

  /** Walk `side` down through Projects (tracking alias substitutions),
    * Filters and the first arm of a Union to the bucketed relation whose
    * clustered key the join key resolves to. A Union's output attributes
    * are its first arm's, so the key follows by position; the first arm
    * is the base of a mutated label's view (`base ⊖ tomb ⊕ delta`), the
    * others a bounded checkpoint left unpruned. */
  private def findTarget(side: LogicalPlan, sideKey: Expression):
      Option[LogicalRelation] = {
    def loop(p: LogicalPlan, key: Expression): Option[LogicalRelation] =
      p match {
        case org.apache.spark.sql.catalyst.plans.logical.Project(pl, child) =>
          val aliases = pl.collect {
            case a @ Alias(c, _) => a.exprId -> c
          }.toMap
          unwrap(key, aliases).flatMap(k => loop(child, k))
        case Filter(_, child) => loop(child, key)
        case u: Union => loop(u.children.head, key)
        case rel: LogicalRelation =>
          unwrap(key, Map.empty).filter(k =>
            rel.output.exists(_.semanticEquals(k)) && isTarget(rel, k))
            .map(_ => rel)
        case _ => None
      }
    loop(side, sideKey)
  }

  /** Wrap the bucketed relation under `side` (when its clustered key
    * resolves from `sideKey` through the side's alias chain) with the
    * dynamic `__ixb` filter built from `buildKey` over `buildPlan`.
    * No-ops when the side has no matching bucketed relation, the key
    * doesn't resolve, or a bucket filter (static or dynamic) is already
    * in place — the rule runs in a fixed-point batch, so idempotence is
    * load-bearing.
    *
    * When the key resolves to the NON-clustered endpoint of a relation
    * whose dual-keyed MIRROR layout (GraphCatalog `mirror = true`)
    * clusters on it — the seeded reverse/1-hop expand, the single most
    * common real graph query shape, and the reverse-keyed second scan of
    * an edge→edge chain — the scan is RE-POINTED at the mirror
    * ([[MirrorSwap]]'s restoring-Project technique) and the dynamic
    * filter lands on the mirror's `__ixb` instead: the runtime analog of
    * the reference's adjacency_in fetch (graph_cache.rs:16-38) for join-
    * seeded keys that no static rule can see. Correct under in-session
    * mutations by construction — only the relation LEAF swaps (the
    * mirror holds exactly the main relation's persisted rows, staged and
    * committed together by every save), while the mutation lineage above
    * the scan applies unchanged to either layout.
    */
  private def inject(side: LogicalPlan, sideKey: Expression,
      buildPlan: LogicalPlan, buildKey: Expression,
      ixbConsumed: => Set[ExprId]): LogicalPlan =
    findTarget(side, sideKey) match {
      case Some(target) =>
        // top-down wrap (NOT transformUp — bottom-up would rewrite the
        // leaf before its parent Filter's constrainsBucket guard runs,
        // stacking a fresh subquery every fixed-point iteration)
        def wrap(p: LogicalPlan): LogicalPlan = p match {
          case f @ Filter(c, rel: LogicalRelation) if rel eq target =>
            if (constrainsBucket(c, rel)) f
            else specFor(rel).map(spec =>
              Filter(And(c, dppFilter(rel, spec, buildPlan, buildKey)), rel))
              .getOrElse(f)
          case rel: LogicalRelation if rel eq target =>
            specFor(rel).map(spec =>
              Filter(dppFilter(rel, spec, buildPlan, buildKey), rel))
              .getOrElse(rel)
          case other => other.mapChildren(wrap)
        }
        wrap(side)
      case None =>
        findMirrorTarget(side, sideKey) match {
          case Some((target, key, mirPath, mirSpec))
              if !target.output.exists(a =>
                a.name == BucketPrune.BucketCol &&
                  ixbConsumed(a.exprId)) =>
            def wrap(p: LogicalPlan): LogicalPlan = p match {
              case f @ Filter(c, rel: LogicalRelation) if rel eq target =>
                if (constrainsBucket(c, rel)) f
                else swapAndInject(rel, Some(c), key, mirPath, mirSpec,
                  buildPlan, buildKey).getOrElse(f)
              case rel: LogicalRelation if rel eq target =>
                swapAndInject(rel, None, key, mirPath, mirSpec,
                  buildPlan, buildKey).getOrElse(rel)
              case other => other.mapChildren(wrap)
            }
            wrap(side)
          case _ => side
        }
    }

  /** [[findTarget]]'s mirror arm: walk to the relation the join key
    * resolves onto and return it when the key is NOT its clustered key
    * (findTarget already failed) but IS the registered clustered key of
    * its `.mirror_` dual. Never matches a mirror scan itself. */
  private def findMirrorTarget(side: LogicalPlan, sideKey: Expression):
      Option[(LogicalRelation, AttributeReference, String, BucketPrune.Spec)] = {
    def loop(p: LogicalPlan, key: Expression):
        Option[(LogicalRelation, AttributeReference, String, BucketPrune.Spec)] =
      p match {
        case org.apache.spark.sql.catalyst.plans.logical.Project(pl, child) =>
          val aliases = pl.collect {
            case a @ Alias(c, _) => a.exprId -> c
          }.toMap
          unwrap(key, aliases).flatMap(k => loop(child, k))
        case Filter(_, child) => loop(child, key)
        case u: Union => loop(u.children.head, key)
        case rel: LogicalRelation =>
          for {
            k <- unwrap(key, Map.empty)
            if rel.output.exists(_.semanticEquals(k))
            h <- rel.relation match {
              case h: HadoopFsRelation => Some(h); case _ => None
            }
            root <- h.location.rootPaths.headOption
            mainPath = root.toUri.getPath
            if !java.nio.file.Paths.get(mainPath).getFileName.toString
              .startsWith(GraftMirrorPrefix)
            mirPath = MirrorSwap.mirrorPathOf(mainPath)
            mirSpec <- BucketPrune.specForPath(mirPath)
            if mirSpec.keyCol == k.name
            if mirSpec.stringKey == (k.dataType == StringType)
            if mirSpec.stringKey || k.dataType.isInstanceOf[NumericType]
          } yield (rel, k, mirPath, mirSpec)
        case _ => None
      }
    loop(side, sideKey)
  }

  private val GraftMirrorPrefix = ".mirror_"

  /** Replace `rel` with its mirror relation (original filter re-bound,
    * original output attribute ids restored through an aliasing Project
    * — [[MirrorSwap.buildSwap]]'s construction) and inject the dynamic
    * `__ixb` filter on the MIRROR's partition column. Bails (no swap,
    * no filter) when the mirror is missing or its schema diverged. */
  private def swapAndInject(rel: LogicalRelation, cond: Option[Expression],
      key: AttributeReference, mirPath: String, mirSpec: BucketPrune.Spec,
      buildPlan: LogicalPlan, buildKey: Expression): Option[LogicalPlan] = for {
    spark <- org.apache.spark.sql.SparkSession.getActiveSession
    mirRel <- MirrorSwap.freshMirrorRelation(spark, mirPath)
    byName = mirRel.output.map(a => a.name -> a).toMap
    // every original column must exist in the mirror with the same type
    // — a mismatch means a stale mirror; bail
    if rel.output.forall(o =>
      byName.get(o.name).exists(_.dataType == o.dataType))
    ixb <- mirRel.output.find(_.name == BucketPrune.BucketCol)
  } yield {
    val dpp = DynamicPruningSubquery(
      pruningKey = ixb,
      buildQuery = buildPlan,
      buildKeys = Seq(bucketIdExpr(buildKey, mirSpec)),
      broadcastKeyIndices = Seq(0),
      onlyInBroadcast = false)
    val condM = cond.map(_.transform {
      case a: AttributeReference if rel.outputSet.contains(a) =>
        byName(a.name)
    })
    val filtered = Filter(condM.map(And(_, dpp)).getOrElse(dpp), mirRel)
    val proj = rel.output.map { o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId,
        qualifier = o.qualifier)
    }
    org.apache.spark.sql.catalyst.plans.logical.Project(proj, filtered)
  }

  private def isTarget(rel: LogicalRelation, key: AttributeReference): Boolean =
    specFor(rel).exists { spec =>
      key.name == spec.keyCol &&
        (spec.stringKey == (key.dataType == StringType)) &&
        (spec.stringKey || key.dataType.isInstanceOf[NumericType])
    }

  /** An existing `__ixb` constraint (static conjunct or an already
    * injected dynamic subquery) — don't stack a second one. */
  private def constrainsBucket(c: Expression, rel: LogicalRelation): Boolean =
    rel.output.find(_.name == BucketPrune.BucketCol)
      .exists(ixb => c.references.contains(ixb))

  private def specFor(rel: LogicalRelation): Option[BucketPrune.Spec] =
    rel.relation match {
      case h: HadoopFsRelation
          if h.partitionSchema.fieldNames.contains(BucketPrune.BucketCol) =>
        h.location.rootPaths.headOption
          .flatMap(r => BucketPrune.specForPath(r.toUri.getPath))
      case _ => None
    }

  private def dppFilter(rel: LogicalRelation, spec: BucketPrune.Spec,
      buildPlan: LogicalPlan, buildKey: Expression): Expression = {
    val ixb = rel.output.find(_.name == BucketPrune.BucketCol).get
    DynamicPruningSubquery(
      pruningKey = ixb,
      buildQuery = buildPlan,
      buildKeys = Seq(bucketIdExpr(buildKey, spec)),
      broadcastKeyIndices = Seq(0),
      onlyInBroadcast = false)
  }

  /** The layout's bucket function ([[BucketOf]]) as a Catalyst expression over an
    * arbitrary key expression: first boundary with key <= bound wins,
    * else (including NULL and NaN — all `<=` arms false/null) the last
    * bucket. Numeric keys compare in the double domain, exactly like
    * the layout's double boundary literals coerce the build-time
    * comparison; string keys compare natively (UTF8 binary order).
    */
  private[graft] def bucketIdExpr(key: Expression,
      spec: BucketPrune.Spec): Expression = {
    val cmpKey: Expression =
      if (spec.stringKey) key
      else if (key.dataType == DoubleType) key
      else Cast(key, DoubleType)
    val bounds: Seq[Expression] =
      if (spec.stringKey) spec.strBounds.toSeq.map(Literal(_, StringType))
      else spec.numBounds.toSeq.map(Literal(_, DoubleType))
    bounds.zipWithIndex.reverse
      .foldLeft(Literal(spec.last): Expression) { case (acc, (b, i)) =>
        If(LessThanOrEqual(cmpKey, b), Literal(i), acc)
      }
  }
}
