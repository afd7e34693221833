package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Serve a reverse-keyed edge predicate from the dual-keyed MIRROR
  * layout (GraphCatalog `mirror = true`).
  *
  * A bucketed edge table clusters on ONE endpoint; a point/range
  * predicate on the OTHER endpoint (the dst of a src-clustered label —
  * e.g. "who placed THIS order", the reverse of gql34's hop) cannot map
  * to an `__ixb` partition filter there, so the scan reads the whole
  * label. When the graph also persists the mirror
  * (`.mirror_edges_<label>/` — the same rows re-clustered on the other
  * endpoint; the reference keeps both adjacency orientations indexed,
  * graph_cache.rs:16-38), this rule REPLACES the scan with the mirror's
  * relation. [[BucketPrune]] then fires on the swapped filter in the
  * same fixed-point batch and injects the mirror's `__ixb` conjunct —
  * the reverse lookup becomes an O(touched buckets) read.
  *
  * Correctness: the mirror holds exactly the main layout's rows by the
  * save protocol (written from the same frame into the same version,
  * hard-linked together when clean, both invalidated by
  * [[BucketPrune.invalidateUnder]] when a save supersedes their version
  * and registered only at loadGraph), so swapping relations never
  * changes results — only which clustering serves the scan. The
  * original output attribute ids are preserved through an aliasing
  * Project, so upstream references bind unchanged. The `__ixb` column
  * itself is storage metadata (dropped by loadGraph before queries see
  * it); a filter already constraining it is never swapped.
  *
  * The swap fires only when the predicate implies a PROPER bucket
  * subset under the MIRROR's key and no subset under the main key —
  * when both layouts serve the predicate, the main table wins (no
  * reason to move), and when neither does, the scan stays put.
  */
object MirrorSwap extends Rule[LogicalPlan] with PredicateHelper {

  /** A/B toggle (Evidence's `@-MirrorSwap` items at any data tier,
    * specs). */
  @volatile var enabled: Boolean = true

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || BucketPrune.registryEmpty) plan
    else {
      lazy val ixbConsumed: Set[ExprId] = ixbConsumedIn(plan)
      plan transform {
        case f @ Filter(cond, rel: LogicalRelation)
            if !rel.output.exists(a =>
              a.name == BucketPrune.BucketCol && ixbConsumed(a.exprId)) =>
          trySwap(cond, rel).getOrElse(f)
      }
    }

  private def trySwap(cond: Expression,
      rel: LogicalRelation): Option[LogicalPlan] = for {
    fsRel <- rel.relation match {
      case h: HadoopFsRelation => Some(h); case _ => None
    }
    root <- fsRel.location.rootPaths.headOption
    mainPath = root.toUri.getPath
    // never re-swap a mirror scan, and never touch an already-pruned
    // filter (__ixb constrained = BucketPrune got there first)
    if !new java.io.File(mainPath).getName.startsWith(".mirror_")
    if !cond.references.exists(_.name == BucketPrune.BucketCol)
    mirrorPath = mirrorPathOf(mainPath)
    mirSpec <- BucketPrune.specForPath(mirrorPath)
    mirKey <- rel.output.find(_.name == mirSpec.keyCol)
    // live type must match the registered key kind (BucketPrune's gate)
    if mirSpec.stringKey ==
      (mirKey.dataType == org.apache.spark.sql.types.StringType)
    if mirSpec.stringKey ||
      mirKey.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    mirIds <- BucketPrune.bucketSetFor(cond, mirKey, mirSpec)
    if mirIds.size < mirSpec.buckets
    // the main layout must NOT already serve this predicate
    if !BucketPrune.specForPath(mainPath).exists { mainSpec =>
      rel.output.find(_.name == mainSpec.keyCol).exists { mk =>
        BucketPrune.bucketSetFor(cond, mk, mainSpec)
          .exists(_.size < mainSpec.buckets)
      }
    }
    spark <- SparkSession.getActiveSession
    swapped <- buildSwap(spark, cond, rel, mirrorPath)
  } yield swapped

  // canonical mirror path -> analyzed mirror LogicalRelation. Reading
  // the relation (parquet footers + Files.exists) inside an optimizer
  // rule that sits in a fixed-point batch would re-pay driver-side IO
  // per matching Filter per pass (ADVICE r19); after the first build
  // the swap is a map lookup. Invalidated by [[invalidateUnder]]
  // alongside BucketPrune's registry on every save/drop; each USE
  // re-instances the cached relation so two swapped scans in one plan
  // (a self-join) never share attribute ids.
  // cache entries carry a cheap freshness token (root-dir mtime, the
  // _SUCCESS marker's mtime, and the newest mtime among the first-level
  // `__ixb=*` bucket directories): invalidation normally arrives through
  // [[invalidateUnder]] from the catalog's write sites, but an
  // out-of-band overwrite of a warehouse path would otherwise serve a
  // relation whose file index lists dead files (r20 verdict "what's
  // wrong" #4). Replacing the part files inside one bucket directory
  // leaves the root and `_SUCCESS` untouched and bumps only that
  // bucket directory's mtime. One directory listing plus a stat per
  // entry per cache hit — still no parquet-footer IO in the
  // optimizer's fixed-point loop.
  private val relCache =
    scala.collection.concurrent.TrieMap
      .empty[String, ((Long, Long, Long), LogicalRelation)]

  private def freshnessToken(dir: String): (Long, Long, Long) = {
    def mtime(p: java.nio.file.Path): Long =
      try java.nio.file.Files.getLastModifiedTime(p).toMillis
      catch { case _: Exception => -1L }
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val buckets =
      try {
        val s = java.nio.file.Files.list(root)
        try s.iterator.asScala
          .filter(_.getFileName.toString.startsWith("__ixb="))
          .map(mtime).foldLeft(-1L)(math.max)
        finally s.close()
      } catch { case _: java.io.IOException => -1L }
    (mtime(root), mtime(root.resolve("_SUCCESS")), buckets)
  }

  /** Drop cached mirror relations under `dir` — called wherever
    * [[BucketPrune.invalidateUnder]] is (save/drop rewrites the files
    * the cached relation's file index lists). */
  def invalidateUnder(dir: String): Unit = {
    val c = java.nio.file.Paths.get(
      if (dir.startsWith("file:")) dir.stripPrefix("file:") else dir)
      .toAbsolutePath.normalize.toString
    relCache.keys.filter(k => k == c || k.startsWith(c + "/"))
      .foreach(relCache.remove)
  }

  /** exprIds of every __ixb attribute some plan node CONSUMES
    * (referenced in an expression, or exposed in the final output).
    * The restoring Project a mirror swap installs aliases the mirror's
    * __ixb under the main relation's attribute id, and the two layouts'
    * bucket ids differ — a consumer would silently read mirror ids
    * (ADVICE r19), so a consumed __ixb blocks any swap. Supported
    * readers (loadGraph) drop the column before queries see it, so this
    * never fires for catalog-loaded graphs. Shared with
    * [[BucketDynamicPrune]]'s mirror-aware join pruning.
    */
  private[plans] def ixbConsumedIn(plan: LogicalPlan): Set[ExprId] =
    (plan.collect {
      // leaves excluded: a LogicalRelation's `expressions` lists its
      // own output attrs, which would make every bucketed relation
      // self-report its __ixb as consumed
      case p if !p.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LeafNode] =>
        p.expressions.flatMap(_.collect {
          case a: AttributeReference if a.name == BucketPrune.BucketCol =>
            a.exprId
        })
    }.flatten ++ plan.output.collect {
      case a if a.name == BucketPrune.BucketCol => a.exprId
    }).toSet

  /** Canonical mirror dataset path of a main dataset path (the
    * GraphCatalog layout convention: `.mirror_<dataset>` sibling). */
  private[plans] def mirrorPathOf(mainPath: String): String = {
    val p = java.nio.file.Paths.get(mainPath)
    p.getParent.resolve(".mirror_" + p.getFileName).toString
  }

  /** The mirror relation for `mirrorPath`, served from [[relCache]] and
    * RE-INSTANCED per call (fresh attribute ids, so two swapped scans in
    * one plan never alias). None when the directory doesn't exist.
    * Shared with [[BucketDynamicPrune]]'s mirror-aware join pruning. */
  private[plans] def freshMirrorRelation(spark: SparkSession,
      mirrorPath: String): Option[LogicalRelation] = {
    val canon = java.nio.file.Paths.get(mirrorPath)
      .toAbsolutePath.normalize.toString
    val token = freshnessToken(mirrorPath)
    relCache.get(canon).filter { case (t, _) =>
      t == token || { relCache.remove(canon); false }
    }.map(_._2).orElse {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(mirrorPath)))
        None
      else {
        val built = spark.read.parquet(mirrorPath)
          .queryExecution.analyzed
          .collectFirst { case r: LogicalRelation => r }
        built.foreach(r => relCache.put(canon, (token, r)))
        built
      }
    }.map(_.newInstance())
  }

  /** The mirror relation with the original filter re-bound onto its
    * attributes, wrapped in a Project restoring the original output
    * attribute ids (so every upstream reference binds unchanged).
    */
  private def buildSwap(spark: SparkSession, cond: Expression,
      rel: LogicalRelation, mirrorPath: String): Option[LogicalPlan] = {
    val mirRel = freshMirrorRelation(spark, mirrorPath) match {
      case Some(r) => r
      case None => return None
    }
    val byName = mirRel.output.map(a => a.name -> a).toMap
    // every referenced/projected column must exist in the mirror with
    // the same type — a schema mismatch means a stale mirror; bail
    val ok = rel.output.forall(o =>
      byName.get(o.name).exists(_.dataType == o.dataType))
    if (!ok) return None
    val condM = cond.transform {
      case a: AttributeReference if rel.outputSet.contains(a) =>
        byName(a.name)
    }
    val proj = rel.output.map { o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId,
        qualifier = o.qualifier)
    }
    Some(Project(proj, Filter(condM, mirRel)))
  }
}
