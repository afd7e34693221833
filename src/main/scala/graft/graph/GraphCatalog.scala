package graft.graph

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Multi-graph catalog over a warehouse directory.
  *
  * Spark-native analog of the reference's `StorageManager` /
  * `MultiGraphManager` (storage/storage_manager.rs:42-64, get_graph:153,
  * save_graph:209): graphs live under `/<schema>/<graph>/` paths, persisted
  * as parquet. Each save writes an immutable VERSION directory
  * `<graph>/v<n>/` — `nodes_<label>/` and `edges_<label>/` datasets plus
  * a tiny `_meta` file recording edge endpoints — and commits it by one
  * atomic write of the `<graph>/_current` pointer. Readers keep the
  * version they loaded while a writer commits the next one (snapshot
  * isolation via immutable versions instead of the reference's WAL,
  * txn/wal.rs — documented divergence, SURVEY.md §7.3); versions no
  * pointer names are removed at the next catalog open.
  */
final class GraphCatalog(spark: SparkSession, warehouse: String) {

  private def graphDir(schema: String, name: String) = s"$warehouse/$schema/$name"

  /** Directory listing that CLOSES the underlying stream — `Files.list`
    * holds a directory handle until closed, and the iterator-only idiom
    * leaked one per call until GC (ADVICE r16); every listing in this
    * class goes through here.
    */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toSeq finally s.close()
  }

  /** Write a small catalog metadata file ATOMICALLY: content goes to a
    * same-directory `.tmp_` sibling first, then a single rename replaces
    * the target. `Files.writeString` in place would truncate-then-write —
    * a crash mid-write loses EVERY row of `_indexes` / `_security` / a
    * graph-type def (VERDICT r16 #1). The same write commits a graph
    * version through its `_current` pointer. Readers never see the
    * `.tmp_` name (all catalog listings skip "."-prefixed entries), and
    * stale temps from a crash are swept at catalog open.
    */
  private def writeAtomic(p: java.nio.file.Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".tmp_${p.getFileName}_${System.nanoTime}")
    Files.writeString(tmp, content)
    import java.nio.file.StandardCopyOption._
    try Files.move(tmp, p, ATOMIC_MOVE, REPLACE_EXISTING)
    catch { // non-POSIX fs: plain replace keeps correctness, loses atomicity
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, p, REPLACE_EXISTING)
    }
  }

  /** Sweep `.tmp_` leftovers of [[writeAtomic]] calls a crash interrupted
    * — run once at catalog open, over the warehouse root and the metadata
    * subdirectories that take atomic writes.
    */
  private def sweepTmp(): Unit =
    (Paths.get(warehouse) +:
      Seq("_procedures", "_graph_types").map(d => Paths.get(s"$warehouse/$d")))
      .filter(Files.isDirectory(_)).foreach { d =>
        listDir(d).filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.startsWith(".tmp_")).foreach(Files.delete(_))
      }

  // catalog open = recovery point: drop what no pointer names before
  // the first statement touches the warehouse — the counterpart of the
  // reference's WAL recovery pass (txn/recovery.rs), with nothing to
  // roll forward or back
  collectGarbage()
  sweepTmp()

  // install the read-side bucket-pruning optimizer rule once per session:
  // it turns key predicates over bucketed warehouse scans into `__ixb`
  // partition filters (specs registered per dataset at loadGraph)
  if (!spark.experimental.extraOptimizations.contains(graft.plans.BucketPrune))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.BucketPrune
  if (!spark.experimental.extraOptimizations
      .contains(graft.plans.BucketDynamicPrune))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.BucketDynamicPrune
  // MirrorSwap re-points reverse-keyed edge predicates at the dual
  // layout; runs in the same fixed-point batch, so BucketPrune then
  // injects the mirror's __ixb conjunct on the swapped scan
  if (!spark.experimental.extraOptimizations
      .contains(graft.plans.MirrorSwap))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.MirrorSwap

  def createSchema(schema: String): Unit =
    Files.createDirectories(Paths.get(s"$warehouse/$schema"))

  def listSchemas(): Seq[String] = {
    val p = Paths.get(warehouse)
    if (!Files.exists(p)) Seq.empty
    else listDir(p).filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      // "."-prefixed = temps/history; "_"-prefixed = catalog metadata
      // (_graph_types, _procedures) — neither is a user schema (found by
      // DdlCatalogFuzzSpec: CREATE GRAPH TYPE made _graph_types appear
      // in gql.list_schemas)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted
  }

  def listGraphs(schema: String): Seq[String] = {
    val p = Paths.get(s"$warehouse/$schema")
    if (!Files.exists(p)) Seq.empty
    else listDir(p).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).sorted
  }

  /** Save a graph version: a new version directory holding exactly
    * `g`'s datasets (so labels that no longer exist are dropped), then
    * one pointer write commits it. Saving back to the path `g` was
    * loaded from is safe while its tables, or any earlier frame, still
    * lazily read the loaded version: that version's files are never
    * touched.
    */
  def saveGraph(schema: String, name: String, g: PropertyGraph,
      force: Boolean = false): Unit = {
    // the save's jobs run under its own job group; the caller's group,
    // description and interrupt flag come back on every exit path
    val sc = spark.sparkContext
    val callerProps =
      GraphCatalog.JobProps.map(k => k -> sc.getLocalProperty(k))
    val group = s"graft-save-${GraphCatalog.saveIds.incrementAndGet()}"
    try saveGraphIn(schema, name, g, force, sc, group)
    finally callerProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** [[saveGraph]], then load the saved version warm: each dataset is
    * read with the schema it was written with (no schema-inference job)
    * and the saved graph's row-count estimates carry over, as they do
    * across a mutation.
    */
  def saveAndReload(schema: String, name: String, g: PropertyGraph,
      force: Boolean = false): PropertyGraph = {
    saveGraph(schema, name, g, force)
    val written = (g.nodeTables.map { case (l, df) => s"nodes_$l" -> df } ++
      g.edgeTables.map { case (l, (_, df)) => s"edges_$l" -> df })
      .map { case (ds, df) => ds -> GraphCatalog.writtenSchema(df.schema) }
    val r = loadGraph(schema, name, written)
    r.nodeCountCache ++= g.nodeCountCache
    r
  }

  private def saveGraphIn(schema: String, name: String, g: PropertyGraph,
      force: Boolean, sc: org.apache.spark.SparkContext,
      group: String): Unit = {
    val dir = graphDir(schema, name)
    // Incremental path: the graph was loaded from a version of this very
    // graph and tracked which datasets its mutations touched — rewrite
    // only those; clean datasets are hard-linked from that version (no
    // data copied or shuffled), so the new version is exactly the
    // session's graph even when another session committed in between.
    // At 100 TB a one-label mutation then costs one label's rewrite.
    // `force` (REINDEX) rewrites everything so new clustered layouts
    // apply to every dataset.
    val base = g.origin.filter(o => !force && g.dirty.isDefined &&
      Paths.get(o).getParent == Paths.get(dir) && Files.isDirectory(Paths.get(o)))
    val dirtySet: Set[String] =
      if (base.isDefined) g.dirty.get
      else g.nodeTables.keySet.map(l => s"nodes_$l") ++
        g.edgeTables.keySet.map(l => s"edges_$l")
    // per-stage wall clock of THIS save, published to
    // [[GraphCatalog.lastSaveStages]] — the warehouse-write board rows
    // (gql32/34/35 class) are parquet-rewrite-dominated, and a future
    // write-path regression should name its stage (version write vs
    // hard-link vs commit) instead of moving an opaque total (r17 #5)
    val stages = Seq.newBuilder[(String, Double)]
    val version = newVersion(dir)
    try {
      writeVersion(base, version.toString, g, dirtySet, sc, group, stages)
      val meta = g.edgeTables.map { case (label, (et, _)) =>
        s"$label\t${et.srcLabel}\t${et.dstLabel}"
      }.mkString("\n")
      base.map(b => Paths.get(s"$b/_meta"))
        .filter(m => Files.exists(m) && Files.readString(m) == meta) match {
        // unchanged edge metadata is linked like a clean dataset
        case Some(m) => Files.createLink(version.resolve("_meta"), m)
        case None => Files.writeString(version.resolve("_meta"), meta)
      }
    } catch {
      case e: Throwable =>
        // a failed save leaves no version behind (the next catalog open
        // would delete it too, but only then)
        awaitGroupTasks(sc, group)
        deleteRecursive(version)
        // nor, after a failed first save, an empty graph directory
        if (listDir(Paths.get(dir)).isEmpty) Files.delete(Paths.get(dir))
        throw e
    }
    val t0 = System.nanoTime()
    commit(schema, name, version)
    stages += (("commit", (System.nanoTime() - t0) / 1e9))
    GraphCatalog.lastSaveStages = stages.result()
  }

  /** A new, empty version directory under graph directory `dir`:
    * `v<n>` for the least n above every version there. The directory
    * create is atomic, so two concurrent saves never share one.
    */
  private def newVersion(dir: String): java.nio.file.Path = {
    val d = Files.createDirectories(Paths.get(dir))
    val top = listDir(d).flatMap(_.getFileName.toString.stripPrefix("v")
      .toIntOption).maxOption.getOrElse(0)
    Iterator.from(top + 1).map(n => d.resolve(s"v$n")).find { v =>
      try { Files.createDirectory(v); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }.get
  }

  /** Make `version` the current version of graph `schema/name`: ONE
    * atomic pointer write, so a crash leaves either the old or the new
    * version current. The superseded version stays on disk — every
    * frame still reading it keeps working — until the next catalog
    * open; its pruning specs are dropped now (its frames then run
    * unpruned, which is still correct), so they do not pile up one per
    * save.
    */
  private def commit(schema: String, name: String,
      version: java.nio.file.Path): Unit = {
    val prev = GraphCatalog.versionDir(warehouse, schema, name)
    writeAtomic(Paths.get(graphDir(schema, name), GraphCatalog.Current),
      version.getFileName.toString)
    prev.foreach { p =>
      graft.plans.BucketPrune.invalidateUnder(p)
      graft.plans.MirrorSwap.invalidateUnder(p)
    }
  }

  /** Wait (bounded) until no task of the save's job group still runs:
    * a cancelled job reports its end before its killed tasks stop, and a
    * task still running could write into the version directory after it
    * was deleted.
    */
  private def awaitGroupTasks(sc: org.apache.spark.SparkContext,
      group: String): Unit = {
    val st = sc.statusTracker
    val deadline = System.nanoTime() + 30L * 1000000000L
    def running: Boolean = st.getJobIdsForGroup(group).exists { j =>
      st.getJobInfo(j).exists(_.stageIds.exists(s =>
        st.getStageInfo(s).exists(_.numActiveTasks > 0)))
    }
    while (running && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** The write phase of a save: every dirty dataset written into
    * `version` (concurrently, see below), every clean one hard-linked
    * from `base`, the version an incremental save's graph was loaded
    * from.
    */
  private def writeVersion(base: Option[String], version: String,
      g: PropertyGraph, dirtySet: Set[String],
      sc: org.apache.spark.SparkContext, group: String,
      stages: scala.collection.mutable.Builder[(String, Double), Seq[(String, Double)]]): Unit = {
    def staged[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      stages += ((label, (System.nanoTime() - t0) / 1e9))
      r
    }
    val datasets: Seq[(String, DataFrame)] =
      g.nodeTables.toSeq.map { case (l, df) => (s"nodes_$l", df) } ++
        g.edgeTables.toSeq.map { case (l, (_, df)) => (s"edges_$l", df) }
    // two passes: dirty datasets are written, then clean datasets enter
    // the version as hard links (no data copy). Nothing in `base`
    // changes, so a crash anywhere mid-save leaves an unnamed version
    // the next catalog open deletes, and the old version current.
    // untyped all-NULL columns (SET x = NULL / REMOVE of a never-written
    // name) persist as string at the WRITE boundary only: Spark 4 can
    // round-trip NullType parquet, but external warehouse readers can't.
    // In-session the column stays NullType so a later typed assignment
    // adopts the value's type instead of string-coercing.
    def typed(df: DataFrame): DataFrame =
      df.schema.fields.foldLeft(df)((d, f) =>
        if (f.dataType == org.apache.spark.sql.types.NullType)
          d.withColumn(f.name,
            org.apache.spark.sql.functions.col(f.name).cast("string"))
        else d)
    // Dirty writes run as CONCURRENT Spark jobs (guide §2.6 — actions
    // are only sequential because the driver calls them sequentially):
    // every dirty write reads committed files and writes its own
    // disjoint subtree of the new version, so the main writes of
    // different datasets, and an edge dataset's main + mirror pair, are
    // pairwise independent. The serial chain left most of the box idle
    // through each write's commit/tail phase (measured r21: gql38's four
    // full writes summed 3.3 s serial with sub-second stages each). 2-3
    // jobs in flight back-fill each other's stragglers; FIFO scheduling
    // gives the earlier job resources first. Any failed write task fails
    // the save before its pointer is written.
    // The bucket-SCOPED attempt chain of an incremental save stays one
    // task per dataset (the mirror's scoped arm is gated on the main
    // outcome and shares the dataset's touched keys); the expensive
    // case — full main + full mirror on a force/initial save — splits
    // into two independent tasks.
    // Every job of the save runs in ONE job group, so the first failed
    // write cancels its peers' running jobs; each task names its step in
    // the job description.
    // interruptible: a cancelled peer must stop writing into the version
    // directory the failed save is about to delete
    def inGroup(desc: String): Unit =
      sc.setJobGroup(group, desc, interruptOnCancel = true)
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val writeTasks: Seq[() => Seq[(String, Double)]] =
      datasets.filter { case (ds, _) => dirtySet.contains(ds) }
        .flatMap { case (ds, df) =>
          val t = typed(df)
          val mirName = s"${GraphCatalog.MirrorPrefix}$ds"
          val hasMirror = mirrorOptSpec(ds, t).isDefined
          def mainFull(): Seq[(String, Double)] = {
            val t0 = System.nanoTime()
            inGroup(s"save $ds (full)")
            writeClustered(ds, t, s"$version/$ds")
            Seq((s"write:$ds:full", secs(t0)))
          }
          def mirrorFull(): Seq[(String, Double)] = {
            val t0 = System.nanoTime()
            inGroup(s"save $mirName (full)")
            writeMirror(ds, t, version)
            Seq((s"write:$mirName:full", secs(t0)))
          }
          // bucket-scoped path first: when the dataset has a bucketed
          // index with persisted boundaries AND the mutations recorded
          // their touched identity keys, rewrite only the touched range
          // buckets and hard-link the rest — O(touched buckets) instead
          // of O(table), the incremental-maintenance economics of
          // [[reclusterBuckets]] applied at the copy-on-write boundary.
          // Adjacency duality (opt-in `mirror = true`): the edge
          // dataset's dual-keyed mirror is written alongside it —
          // bucket-scoped when the main write was and the mirror's
          // preconditions hold, full otherwise; a no-op when the option
          // is off (a stale mirror then stays out of the new version)
          def scopedChain(): Seq[(String, Double)] = {
            val out = Seq.newBuilder[(String, Double)]
            /** One layout: the touched-bucket step (`buckets:<name>`,
              * recorded when the layout allows an attempt), then the
              * scoped write or, failing any precondition, the full one.
              * True when the write was bucket-scoped. */
            def attempt(name: String,
                layout: Option[GraphCatalog.ScopedLayout])(
                full: => Unit): Boolean = {
              inGroup(s"save $name (incremental)")
              val plan = (for (l <- layout; d <- g.scopedDelta(ds)) yield {
                val t0 = System.nanoTime()
                val p = touchedBuckets(l, ds, t, base.get, d, g)
                out += ((s"buckets:$name", secs(t0)))
                p.map(l -> _)
              }).flatten
              val t1 = System.nanoTime()
              plan match {
                case Some((l, (touched, bucketDirs))) =>
                  writeScoped(l, t, version, touched, bucketDirs)
                case None => full
              }
              val kind = if (plan.isDefined) "bucket_scoped" else "full"
              out += ((s"write:$name:$kind", secs(t1)))
              plan.isDefined
            }
            val mainScoped = attempt(ds, mainLayout(ds, t))(
              writeClustered(ds, t, s"$version/$ds"))
            if (hasMirror)
              attempt(mirName,
                if (mainScoped) mirrorLayout(ds, t) else None)(
                writeMirror(ds, t, version))
            out.result()
          }
          if (base.isDefined) Seq(() => scopedChain())
          else if (hasMirror) Seq(() => mainFull(), () => mirrorFull())
          else Seq(() => mainFull())
        }
    // 2-3 concurrent jobs is the guide's sweet spot (enough to fill the
    // tail, not enough to fight for executors)
    val par = math.max(1, math.min(writeTasks.size, 3))
    if (par <= 1) writeTasks.foreach(t => stages ++= t())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par,
        (r: Runnable) => {
          val th = new Thread(r, "graft-save-write"); th.setDaemon(true); th
        })
      try {
        val done = new java.util.concurrent.ExecutorCompletionService[
          (Int, Seq[(String, Double)])](pool)
        val futs = writeTasks.zipWithIndex.map { case (tk, i) =>
          done.submit(new java.util.concurrent.Callable[(Int, Seq[(String, Double)])] {
            def call(): (Int, Seq[(String, Double)]) = (i, tk())
          })
        }
        // writes are awaited in COMPLETION order, so the first failed
        // write fails the save (before the commit marker) at once: its
        // peers' running jobs, and any job they would start next, are
        // cancelled before the pool is torn down. Stage entries keep
        // task-submission order.
        val out = new Array[Seq[(String, Double)]](futs.size)
        try futs.indices.foreach { _ =>
          val (i, r) = done.take().get()
          out(i) = r
        } catch {
          case e: Throwable =>
            sc.cancelJobGroupAndFutureJobs(group)
            // the peers end once their cancelled jobs do; only then is
            // nothing left writing into the version directory
            futs.foreach(f => scala.util.Try(f.get()))
            throw (e match {
              case ee: java.util.concurrent.ExecutionException => ee.getCause
              case other => other
            })
        }
        out.foreach(stages ++= _)
      } finally pool.shutdownNow()
    }
    staged("link_clean") {
      for (b <- base; (ds, df) <- datasets) {
        if (!dirtySet.contains(ds)) {
          linkTree(Paths.get(s"$b/$ds"), Paths.get(s"$version/$ds"))
          // a clean edge dataset's mirror is clean too — link, don't
          // copy. Gated on the option still being ON: after
          // `SET OPTION mirror = false` the next save must DROP the 2×
          // storage even when the dataset itself never went dirty
          // (ADVICE r19 — the opt-out otherwise never reclaims space).
          val m = Paths.get(s"$b/${GraphCatalog.MirrorPrefix}$ds")
          if (Files.exists(m) && mirrorOptSpec(ds, df).isDefined)
            linkTree(m, Paths.get(s"$version/${GraphCatalog.MirrorPrefix}$ds"))
        }
      }
    }
  }

  /** Delete what no pointer names — run once at catalog open. In each
    * graph directory that holds a `_current` pointer, everything but the
    * pointer and the version it names goes: superseded versions, a
    * version a crash left unnamed, torn `.tmp_` pointers. A graph whose
    * first save never committed has no pointer; its versions and temps
    * go, and so does the directory once empty (the datasets of a
    * warehouse written before versioned saves sit directly in the graph
    * directory and stay). A version becomes current only through the
    * pointer, so nothing rolls forward or back.
    *
    * Superseded versions are never deleted while a catalog runs: frames
    * that still read them keep working. That needs the catalog's
    * single-writer discipline (snapshot semantics, SURVEY.md §7.3): an
    * open must not race a save in flight, or a read of a superseded
    * version, from another live session on the same warehouse — the
    * assumption the reference's WAL recovery makes at database open
    * (txn/recovery.rs).
    */
  private def collectGarbage(): Unit = {
    val root = Paths.get(warehouse)
    if (Files.isDirectory(root)) for {
      schemaDir <- listDir(root)
      schema = schemaDir.getFileName.toString
      // "_"/"." entries are catalog metadata, not schemas
      if Files.isDirectory(schemaDir) && !schema.startsWith("_") &&
        !schema.startsWith(".")
      graph <- listDir(schemaDir) if Files.isDirectory(graph)
    } {
      val keep: String => Boolean =
        GraphCatalog.versionDir(warehouse, schema,
          graph.getFileName.toString) match {
          case Some(v) =>
            Set(GraphCatalog.Current, Paths.get(v).getFileName.toString)
          case None => n => !n.startsWith("v") && !n.startsWith(".tmp_")
        }
      listDir(graph).filterNot(p => keep(p.getFileName.toString))
        .foreach(deleteRecursive)
      if (listDir(graph).isEmpty) Files.delete(graph)
    }
  }

  /** Mirror `src` under `dst` as hard links — a metadata operation, no
    * data copied, and `src` itself is left as it was.
    */
  private def linkTree(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit =
    if (!Files.isDirectory(src)) Files.createLink(dst, src)
    else {
      Files.createDirectories(dst)
      listDir(src).foreach(f => linkTree(f, dst.resolve(f.getFileName)))
    }

  private def persistedSpec(ixName: String, optKey: String, df: DataFrame,
      keyCol: String): Option[graft.plans.BucketPrune.Spec] =
    listIndexOptions(ixName).toMap.get(optKey).filter(_.nonEmpty)
      .map(specOf(keyCol, _, stringKeyed(df, keyCol))).filter(_.buckets > 1)

  /** The spec of a persisted `__bounds` option: the boundaries as raw
    * values. The layout is written, rewritten and pruned through it
    * ([[graft.plans.BucketOf]]), so a row's bucket is one function. */
  private def specOf(keyCol: String, raw: String,
      stringKey: Boolean): graft.plans.BucketPrune.Spec = {
    val parts = raw.split(",", -1).toSeq.filter(_.nonEmpty)
    if (stringKey) graft.plans.BucketPrune.Spec(keyCol, Array.empty[Double],
      parts.map(s => org.apache.spark.unsafe.types.UTF8String
        .fromString(java.net.URLDecoder.decode(s, "UTF-8"))).toArray,
      stringKey = true)
    else graft.plans.BucketPrune.Spec(keyCol, parts.map(_.toDouble).toArray,
      Array.empty[org.apache.spark.unsafe.types.UTF8String], stringKey = false)
  }

  /** The main `__ixb` layout of `ds`: its bucketed index's columns and
    * persisted `__bounds` (None before the first layout build). */
  private def mainLayout(ds: String,
      df: DataFrame): Option[GraphCatalog.ScopedLayout] =
    bucketedSpec(ds, df).flatMap { case (ixName, cols, _) =>
      persistedSpec(ixName, "__bounds", df, cols.head)
        .map(GraphCatalog.ScopedLayout(ds, cols.head, cols, _))
    }

  /** The mirror layout of edge dataset `ds` (see [[mirrorOptSpec]]),
    * keyed on the other endpoint under `__bounds_mirror`. */
  private def mirrorLayout(ds: String,
      df: DataFrame): Option[GraphCatalog.ScopedLayout] =
    mirrorOptSpec(ds, df).flatMap { case (ixName, mk, _) =>
      persistedSpec(ixName, "__bounds_mirror", df, mk).map(
        GraphCatalog.ScopedLayout(s"${GraphCatalog.MirrorPrefix}$ds", mk,
          Seq(mk), _))
    }

  /** The touched-bucket step of a bucket-scoped save, for one layout of
    * dirty dataset `ds`: Some((touched bucket ids, bucket directories of
    * the base version `baseDir`)) when the scoped write applies, None
    * when the caller must rewrite the layout in full.
    *
    * Applicable when (a) the layout's boundaries are already persisted,
    * (b) the base version is already in the bucketed `__ixb=K/`
    * layout, (c) the dataset's mutations since load are one
    * [[LabelDelta]] (no whole-table rewrite), (d) the schema is the one
    * recorded at load, and (e) the touched buckets are at most half the
    * layout. The touched buckets are `bucketOf(layout key)` over the
    * delta's checkpoint — the current version of every inserted or
    * updated row and the pre-image of every base row it superseded or
    * deleted — plus the base rows an endpoint hide removed (the hide's
    * values themselves when the layout is keyed on that endpoint,
    * otherwise a filtered read of the base). No join against the base
    * files: one job over a small checkpoint.
    *
    * This is the 100 TB maintenance story the bucketed layout exists
    * for: a DML touching one bucket of a 100K-file label costs one
    * bucket's rewrite plus link metadata, not an O(table) range shuffle.
    */
  private def touchedBuckets(layout: GraphCatalog.ScopedLayout, ds: String,
      df: DataFrame, baseDir: String, d: LabelDelta, g: PropertyGraph)
      : Option[(Set[Int], Seq[java.nio.file.Path])] = {
    import org.apache.spark.sql.functions.col
    val kc = layout.keyCol
    val oldPath = Paths.get(s"$baseDir/${layout.dirName}")
    if (!df.columns.contains(kc) || !d.store.columns.contains(kc) ||
        !Files.exists(oldPath)) return None
    val bucketDirs = listDir(oldPath)
      .filter(_.getFileName.toString.startsWith(s"$BucketCol="))
    if (bucketDirs.isEmpty) return None // base layout not bucketed yet
    // SCHEMA-CHANGE gate: hard-linked buckets keep their original file
    // schema, so a bucket-scoped save of a frame whose schema moved
    // (id-type widening, added/removed/retyped property columns) would
    // leave a MIXED-schema dataset — unreadable for type changes
    // (INT64 files beside BINARY files) and silently column-dropping
    // for additions (the reader samples one footer). Any drift from the
    // schema recorded at load falls back to the monolithic rewrite,
    // which rewrites every file under the new schema.
    def cols(s: org.apache.spark.sql.types.StructType) =
      s.map(f => (f.name, f.dataType)).toSet
    if (!g.loadedSchemas.get(ds).exists(s => cols(s) == cols(df.schema)))
      return None
    val keyType = df.schema(kc).dataType
    def vals(f: DataFrame, c: String) = f.select(col(c).cast(keyType).as("__v"))
    val hidden = d.tomb.toSeq.filter { case (c, k) => c != d.key && k.count > 0 }
      .map { case (c, k) =>
        if (c == kc) Keys.frame(spark, k, d.base.schema(c).dataType).toDF(c)
        else Keys.pick(d.base, c, k)
      }
    val touched = GraphCatalog.distinctInts(
      (vals(d.store, kc) +: hidden.map(vals(_, kc))).reduce(_ union _)
        .select(graft.plans.BucketOf.column(col("__v"), layout.spec)))
    // cost gate: when a mutation touched most of the buckets anyway,
    // the monolithic range-shuffle rewrite is cheaper than per-bucket
    // writes plus links — bucket-scoping is for the sparse-delta case
    if (touched.size * 2 > layout.spec.buckets) None
    else Some((touched, bucketDirs))
  }

  /** Write the touched buckets of one layout into `version` and
    * hard-link every other bucket directory of `bucketDirs`.
    */
  private def writeScoped(layout: GraphCatalog.ScopedLayout, df: DataFrame,
      version: String, touched: Set[Int],
      bucketDirs: Seq[java.nio.file.Path]): Unit = {
    import org.apache.spark.sql.functions.col
    val target = s"$version/${layout.dirName}"
    if (touched.isEmpty) // mutations matched no rows
      Files.createDirectories(Paths.get(target))
    else {
      // the touched buckets bind by reference (KeyIn), so saves that
      // touch different buckets share their generated code; BucketPrune
      // reads `BucketOf(key) ∈ touched` as the base layout's __ixb
      // partition filter, so rewriting one bucket READS one bucket
      // directory instead of scanning the whole table to produce it
      df.filter(KeyIn.buckets(col(layout.keyCol), layout.spec, touched))
        .withColumn(BucketCol, graft.plans.BucketOf.column(col(layout.keyCol), layout.spec))
        .repartition(col(BucketCol))
        .sortWithinPartitions((BucketCol +: layout.sortCols).map(col): _*)
        .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
        .parquet(target)
    }
    bucketDirs.foreach { d =>
      val k = d.getFileName.toString.stripPrefix(s"$BucketCol=").toInt
      if (!touched.contains(k))
        linkTree(d, Paths.get(s"$target/${d.getFileName}"))
    }
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) FileUtils.forceDelete(p.toFile)

  // ---- graph indexes (ast.rs:1707-1787 IndexStatement): the Spark-native
  // index is a CLUSTERED LAYOUT — the persisted dataset range-partitioned
  // and sorted on the indexed columns, so parquet min/max statistics
  // prune files and row groups for predicates on them (the data-clustering
  // analog of the reference's sled B-tree property indexes).

  private def indexFile = Paths.get(s"$warehouse/_indexes")

  private def readIndexes(): Seq[(String, String, Seq[String])] =
    if (!Files.exists(indexFile)) Seq.empty
    else Files.readString(indexFile).split("\n").filter(_.nonEmpty).toSeq
      .map { l =>
        val a = l.split("\t", 3)
        (a(0), a(1), a(2).split(",").toSeq.filter(_.nonEmpty))
      }

  private def writeIndexes(rows: Seq[(String, String, Seq[String])]): Unit =
    writeAtomic(indexFile,
      rows.map { case (n, t, cs) => s"$n\t$t\t${cs.mkString(",")}" }.mkString("\n"))

  def createIndex(name: String, table: String, columns: Seq[String]): Boolean = {
    val rows = readIndexes()
    if (rows.exists(_._1 == name)) false
    else { writeIndexes(rows :+ ((name, table, columns))); true }
  }

  def dropIndex(name: String): Boolean = {
    val rows = readIndexes()
    val kept = rows.filterNot(_._1 == name)
    val opts = readIndexOptions().filterNot(_._1 == name)
    writeIndexOptions(opts)
    if (kept.size == rows.size) false else { writeIndexes(kept); true }
  }

  def listIndexes(): Seq[(String, String, Seq[String])] = readIndexes()

  // ---- index options (ALTER INDEX … SET OPTION key = value,
  // ast.rs:1760-1765 AlterIndexOperation::SetOption): metadata strings
  // keyed by index name, persisted beside the index list

  private def indexOptionsFile = Paths.get(s"$warehouse/_index_options")

  private def readIndexOptions(): Seq[(String, String, String)] =
    if (!Files.exists(indexOptionsFile)) Seq.empty
    else Files.readString(indexOptionsFile).split("\n").filter(_.nonEmpty)
      .toSeq.map { l =>
        val a = l.split("\t", 3); (a(0), a(1), if (a.length > 2) a(2) else "")
      }

  private def writeIndexOptions(rows: Seq[(String, String, String)]): Unit =
    writeAtomic(indexOptionsFile,
      rows.map { case (n, k, v) => s"$n\t$k\t$v" }.mkString("\n"))

  def setIndexOption(name: String, key: String, value: String): Unit = {
    if (!readIndexes().exists(_._1 == name))
      throw new IllegalArgumentException(s"unknown index: $name")
    writeIndexOptions(readIndexOptions()
      .filterNot(r => r._1 == name && r._2 == key) :+ ((name, key, value)))
  }

  def listIndexOptions(name: String): Seq[(String, String)] =
    readIndexOptions().filter(_._1 == name).map(r => (r._2, r._3)).sorted

  /** Apply the clustered layout for `table` (e.g. "nodes_Account") if an
    * index covers it and the columns exist in the frame.
    */
  private def clustered(table: String, df: DataFrame): DataFrame =
    readIndexes().find(ix => ix._2 == table &&
        ix._3.nonEmpty && ix._3.forall(df.columns.contains)) match {
      case Some((_, _, cols)) =>
        import org.apache.spark.sql.functions.col
        df.repartitionByRange(cols.map(col): _*).sortWithinPartitions(cols.map(col): _*)
      case None => df
    }

  /** The bucket-partition column name of the bucketed clustered layout. */
  val BucketCol = "__ixb"

  /** Is the bucketed layout keyed on a string column? (The reference's
    * native id type is string — storage/types.rs:68-72 — so the
    * incremental-maintenance economics must not be numeric-only,
    * VERDICT r16 #2.)
    */
  private def stringKeyed(df: DataFrame, keyCol: String): Boolean =
    df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType

  /** Encode boundaries for the one-line `__bounds` index option:
    * numeric keys store plain doubles; string keys URL-encode each
    * boundary (UTF-8), so commas/whitespace/control characters in id
    * values round-trip.
    */
  private def encodeBounds(bounds: Seq[String], stringKey: Boolean): String =
    if (stringKey)
      bounds.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")
    else bounds.mkString(",")

  /** Stable bucket boundaries for a bucketed index: computed once from
    * the first layout build and persisted as an index option, so later
    * incremental rewrites assign the SAME ranges — shifting boundaries
    * would dirty every bucket. Numeric keys use approx quantiles;
    * string keys sample the column (the RangePartitioner design: a
    * seeded, size-capped sample sorted driver-side, quantile positions
    * picked from it — bounded driver memory at any table size).
    * Boundary QUALITY depends on the sample; bucket identity does not:
    * assignment always goes through [[graft.plans.BucketOf]], so a row
    * maps to the same bucket at build and at every later rewrite
    * regardless of how the boundaries were chosen.
    */
  private def bucketBounds(ixName: String, df: DataFrame, keyCol: String,
      buckets: Int, optKey: String = "__bounds"): graft.plans.BucketPrune.Spec = {
    import org.apache.spark.sql.functions.col
    val stringKey = stringKeyed(df, keyCol)
    listIndexOptions(ixName).toMap.get(optKey) match {
      case Some(s) if s.nonEmpty => specOf(keyCol, s, stringKey)
      // compute-and-persist runs under a lock with a re-check: the
      // concurrent version writes (main and mirror layouts persist
      // their boundary options independently, different datasets may
      // share the `_index_options` file) would otherwise race the
      // read-modify-write in setIndexOption and lose one side's
      // boundaries. Only the FIRST layout build of an index ever takes
      // this branch; later saves read the persisted option above.
      case _ => GraphCatalog.boundsLock.synchronized {
        listIndexOptions(ixName).toMap.get(optKey) match {
          case Some(s) if s.nonEmpty => specOf(keyCol, s, stringKey)
          case _ =>
            val raw: Seq[String] =
              if (stringKey) {
                val keyed = df.select(col(keyCol)).na.drop()
                val n = keyed.count()
                if (n == 0) Seq.empty
                else {
                  val cap = math.max(buckets * 200, 20000)
                  val frac = math.min(1.0, cap.toDouble / n.toDouble)
                  val sample = keyed.sample(withReplacement = false, frac,
                    seed = 42L).collect().map(_.getString(0)).sorted
                  if (sample.isEmpty) Seq.empty
                  else (1 until buckets)
                    .map(i =>
                      sample(((sample.length.toLong * i) / buckets).toInt))
                    .distinct
                }
              } else {
                val probs =
                  (1 until buckets).map(_.toDouble / buckets).toArray
                df.stat.approxQuantile(keyCol, probs, 0.01).toSeq
                  .map(_.toString)
              }
            setIndexOption(ixName, optKey, encodeBounds(raw, stringKey))
            specOf(keyCol, encodeBounds(raw, stringKey), stringKey)
        }
      }
    }
  }

  /** The bucketed layout spec for `table`, when opted in via
    * `ALTER INDEX <ix> SET OPTION buckets = N` and the lead key is
    * numeric or string: (index name, index columns, bucket count).
    */
  private def bucketedSpec(table: String,
      df: DataFrame): Option[(String, Seq[String], Int)] =
    // scan ALL indexes on the table for the one carrying a valid buckets
    // option — a table may hold several indexes and only the bucketed
    // one defines the __ixb layout (first-match would miss it, or pick a
    // non-bucketed sibling's key)
    readIndexes().iterator.filter(ix => ix._2 == table &&
        ix._3.nonEmpty && ix._3.forall(df.columns.contains)).flatMap {
      case (name, _, cols) =>
        val dt = df.schema(cols.head).dataType
        val keyOk = dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          dt == org.apache.spark.sql.types.StringType
        listIndexOptions(name).toMap.get("buckets")
          .flatMap(v => scala.util.Try(v.toInt).toOption)
          .filter(b => b > 1 && keyOk)
          .map(b => (name, cols, b))
    }.to(LazyList).headOption

  /** Mirror layout spec for an edge dataset — Some((index name, mirror
    * key, buckets)) when `ds` is an `edges_*` table whose bucketed index
    * leads on `src` or `dst` AND opted in via
    * `ALTER INDEX <ix> SET OPTION mirror = true`.
    *
    * The mirror is the warehouse analog of the reference's adjacency
    * DUALITY — graph_cache.rs:16-38 keeps every edge indexed by BOTH
    * endpoints (adjacency_out and adjacency_in) so traversals of either
    * orientation hit an index. A bucketed edge layout clusters on ONE
    * key, which leaves the other orientation (and undirected
    * traversals) reading the full label; the mirror persists the same
    * rows re-clustered on the OTHER endpoint under
    * `.mirror_edges_<label>/`, so [[PropertyGraph.paths]]/[[PropertyGraph.bfs]]
    * can prune each orientation branch independently. Opt-in because at
    * 100 TB doubling an edge label's storage is a deliberate
    * space-for-read-volume trade, not a default.
    */
  private def mirrorOptSpec(ds: String,
      df: DataFrame): Option[(String, String, Int)] =
    if (!ds.startsWith("edges_")) None
    else bucketedSpec(ds, df).flatMap { case (name, cols, b) =>
      val mkOpt = cols.head match {
        case "src" => Some("dst")
        case "dst" => Some("src")
        case _     => None
      }
      mkOpt.filter { mk =>
        val on = listIndexOptions(name).toMap.get("mirror")
          .exists(_.equalsIgnoreCase("true"))
        on && df.columns.contains(mk) && {
          val dt = df.schema(mk).dataType
          dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
            dt == org.apache.spark.sql.types.StringType
        }
      }.map(mk => (name, mk, b))
    }

  /** Write the mirror of an edge dataset into `versionDir` (no-op when
    * the dataset carries no `mirror = true` bucketed index): same rows,
    * clustered on the OTHER endpoint under its own persisted boundaries
    * (`__bounds_mirror` on the same index — stable across incremental
    * rewrites exactly like the main layout's).
    */
  private def writeMirror(ds: String, df: DataFrame,
      versionDir: String): Unit =
    mirrorOptSpec(ds, df).foreach { case (name, mk, b) =>
      import org.apache.spark.sql.functions.col
      val spec = bucketBounds(name, df, mk, b, "__bounds_mirror")
      df.withColumn(BucketCol, graft.plans.BucketOf.column(col(mk), spec))
        .repartition(col(BucketCol))
        .sortWithinPartitions(col(BucketCol), col(mk))
        .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
        .parquet(s"$versionDir/${GraphCatalog.MirrorPrefix}$ds")
    }

  /** Register a loaded edge dataset's MIRROR with the pruning rule (the
    * dual of [[registerPrune]]): keyed on the mirror directory, spec on
    * the OTHER endpoint with the `__bounds_mirror` boundaries. Absent
    * boundaries or a vanished mirror dir register nothing.
    */
  private def registerMirror(ds: String, df: DataFrame,
      graphDir: String): Unit =
    mirrorOptSpec(ds, df).foreach { case (name, mk, _) =>
      val mirDir = s"$graphDir/${GraphCatalog.MirrorPrefix}$ds"
      if (Files.exists(Paths.get(mirDir))) {
        val stringKey = stringKeyed(df, mk)
        listIndexOptions(name).toMap.get("__bounds_mirror")
          .filter(_.nonEmpty).foreach(raw =>
            graft.plans.BucketPrune.register(mirDir, specOf(mk, raw, stringKey)))
      }
    }

  /** Write `df` to `path` under the table's clustered layout.
    *
    * Default: one range shuffle + in-partition sort (the monolithic
    * rewrite — fine per label, O(table) at warehouse scale). With a
    * bucketed index (`buckets = N` option), the layout becomes
    * N range-bucket PARTITION DIRECTORIES (`__ixb=K/`), each internally
    * sorted on the index key: the 100 TB shape, where a re-layout is N
    * independent, resumable units and post-DML maintenance rewrites
    * only the buckets a mutation touched ([[reclusterBuckets]]) instead
    * of range-shuffling the whole table. Query results are
    * layout-invariant; per-file min/max stats prune inside buckets the
    * same way they prune the flat layout.
    */
  private def writeClustered(table: String, df: DataFrame,
      path: String): Unit = {
    import org.apache.spark.sql.functions.col
    bucketedSpec(table, df) match {
      case Some((name, cols, b)) =>
        val spec = bucketBounds(name, df, cols.head, b)
        // sort by (bucket, key...): the partitioned writer requires rows
        // ordered by its partition columns and would otherwise inject
        // its own sort on __ixb ALONE, destroying the key order inside
        // each bucket
        df.withColumn(BucketCol, graft.plans.BucketOf.column(col(cols.head), spec))
          .repartition(col(BucketCol))
          .sortWithinPartitions((BucketCol +: cols).map(col): _*)
          .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
          .parquet(path)
      case None =>
        clustered(table, df).write.mode(SaveMode.Overwrite).parquet(path)
    }
  }

  /** Rewrite ONLY the named range buckets of a bucketed table — the
    * incremental maintenance primitive: a DML delta maps to bucket ids
    * through the stored boundaries, and each unit re-sorts one bucket's
    * rows. Unit cost is O(bucket), not O(table); units are
    * independently schedulable and resumable, which is what a 100K-file
    * label needs. Commits a new graph version like a save: the named
    * buckets are written into it, everything else is hard-linked from
    * the current version, whose files any lazy reader keeps reading.
    */
  def reclusterBuckets(schema: String, name: String, table: String,
      bucketIds: Seq[Int]): Unit = {
    val cur = GraphCatalog.versionDir(warehouse, schema, name)
      .getOrElse(graphDir(schema, name))
    val src = Paths.get(s"$cur/$table")
    require(Files.exists(src), s"no such dataset: $src")
    // resolve the BUCKETED index (buckets option + persisted bounds),
    // not merely the first index on the table — with two indexes,
    // first-match could re-sort buckets on the WRONG key and silently
    // destroy the in-bucket order the layout exists for
    val df = spark.read.parquet(src.toString).drop(BucketCol)
    val layout = mainLayout(table, df).getOrElse(
      throw new IllegalArgumentException(s"no bucketed index on $table"))
    val rest = listDir(Paths.get(cur)).filterNot(_.getFileName.toString == table)
    val version = newVersion(graphDir(schema, name))
    try {
      writeScoped(layout, df, version.toString, bucketIds.toSet,
        listDir(src).filter(_.getFileName.toString.startsWith(s"$BucketCol=")))
      rest.foreach(p => linkTree(p, version.resolve(p.getFileName)))
    } catch {
      case e: Throwable => deleteRecursive(version); throw e
    }
    commit(schema, name, version)
  }

  /** Register a loaded bucketed dataset with the read-side pruning rule:
    * resolve its bucketed index, decode the persisted boundaries into
    * the spec the layout was written with, and key it on the dataset
    * directory the scan reads. Absent/typeless boundaries register nothing — pruning is an
    * optimization and must never guess.
    */
  private def registerPrune(ds: String, df: DataFrame, dsDir: String): Unit =
    bucketedSpec(ds, df).foreach { case (ixName, cols, _) =>
      val stringKey = stringKeyed(df, cols.head)
      val numericKey = df.schema(cols.head).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      listIndexOptions(ixName).toMap.get("__bounds").filter(_.nonEmpty)
        .foreach { raw =>
          if (stringKey || numericKey)
            graft.plans.BucketPrune.register(dsDir, specOf(cols.head, raw, stringKey))
        }
    }

  def loadGraph(schema: String, name: String): PropertyGraph =
    loadGraph(schema, name, Map.empty)

  /** Load with the file schema of the datasets in `known` given rather
    * than inferred (inference runs a Spark job per dataset).
    */
  private def loadGraph(schema: String, name: String,
      known: Map[String, org.apache.spark.sql.types.StructType]): PropertyGraph = {
    // the version the pointer names (a warehouse written before
    // versioned saves keeps its datasets in the graph directory itself)
    val dir = GraphCatalog.versionDir(warehouse, schema, name)
      .getOrElse(graphDir(schema, name))
    val p = Paths.get(dir)
    require(Files.exists(p), s"no such graph: $schema/$name")
    val entries = listDir(p).map(_.getFileName.toString)
    // a bucketed clustered layout surfaces its partition column on read —
    // it is storage metadata, not graph data. Before the drop, register
    // the dataset's pruning spec (lead key + persisted boundaries) so
    // key predicates over this scan prune to their bucket directories.
    def read(ds: String): DataFrame = known.get(ds)
      .fold(spark.read)(spark.read.schema(_)).parquet(s"$dir/$ds")
    def noBucket(ds: String, df: DataFrame): DataFrame =
      if (df.columns.contains(BucketCol)) {
        registerPrune(ds, df, s"$dir/$ds")
        df.drop(BucketCol)
      } else df
    val nodes = entries.filter(_.startsWith("nodes_")).map { e =>
      e.stripPrefix("nodes_") -> noBucket(e, read(e))
    }.toMap
    val meta = if (Files.exists(Paths.get(s"$dir/_meta")))
      Files.readString(Paths.get(s"$dir/_meta")).split("\n").filter(_.nonEmpty)
        .map { l => val Array(lbl, s, d) = l.split("\t"); lbl -> EdgeType(lbl, s, d) }
        .toMap
    else Map.empty[String, EdgeType]
    val edges = entries.filter(_.startsWith("edges_")).map { e =>
      val label = e.stripPrefix("edges_")
      val et = meta.getOrElse(label, EdgeType(label, "", ""))
      val df = noBucket(e, read(e))
      // dual-keyed mirror (mirror = true layouts): register its pruning
      // spec too, so traversals can prune the OTHER orientation's branch
      registerMirror(e, df, dir)
      label -> (et, df)
    }.toMap
    // loaded graphs know their origin version and start clean —
    // mutations mark the touched datasets so saves back to the same
    // graph go incremental
    val g = new PropertyGraph(nodes, edges, Some(dir), Some(Set.empty))
    g.loadedSchemas = nodes.map { case (l, df) => s"nodes_$l" -> df.schema } ++
      edges.map { case (l, (_, df)) => s"edges_$l" -> df.schema }
    g
  }

  def dropSchema(schema: String): Boolean = {
    val p = Paths.get(s"$warehouse/$schema")
    if (!Files.exists(p)) false
    else {
      deleteRecursive(p)
      graft.plans.BucketPrune.invalidateUnder(p.toString)
      graft.plans.MirrorSwap.invalidateUnder(p.toString)
      true
    }
  }

  def dropGraph(schema: String, name: String): Boolean = {
    val p = Paths.get(graphDir(schema, name))
    if (!Files.exists(p)) false
    else {
      deleteRecursive(p)
      graft.plans.BucketPrune.invalidateUnder(p.toString)
      graft.plans.MirrorSwap.invalidateUnder(p.toString)
      true
    }
  }

  // ---- security metadata (exec/schema_engine/operations/security analog):
  // users / roles / grants persisted as a TSV under the warehouse root.
  // Metadata-only, like the reference's catalog security tables — the
  // enforcement point is session creation / graph access in the embedding
  // application.

  private def securityFile = Paths.get(s"$warehouse/_security")

  private def readSecurity(): Seq[(String, String, String)] =
    if (!Files.exists(securityFile)) Seq.empty
    else Files.readString(securityFile).split("\n").filter(_.nonEmpty).toSeq
      .map { l => val a = l.split("\t", 3); (a(0), a(1), if (a.length > 2) a(2) else "") }

  private def writeSecurity(rows: Seq[(String, String, String)]): Unit =
    writeAtomic(securityFile,
      rows.map { case (k, n, t) => s"$k\t$n\t$t" }.mkString("\n"))

  def createPrincipal(kind: String, name: String): Boolean =
    createPrincipal(kind, name, None)

  /** Create a user/role; for users, `secret` is the password from
    * `CREATE USER … IDENTIFIED BY`, stored as a salted PBKDF2 credential
    * — never in the clear. (Reference hashes credentials in its security
    * provider, catalog/providers/security.rs; PBKDF2-HMAC-SHA256 stands
    * in for its argon2 — same catalog shape, a JDK-native memory-cheap
    * KDF instead, documented divergence.)
    */
  def createPrincipal(kind: String, name: String,
      secret: Option[String]): Boolean = {
    val rows = readSecurity()
    if (rows.exists(r => r._1 == kind && r._2 == name)) false
    else {
      val cred = secret.map(hashPassword(newSalt(), _)).getOrElse("")
      writeSecurity(rows :+ ((kind, name, cred))); true
    }
  }

  /** Rotate a user's password (reference `update_user` with a password
    * param, query_coordinator.rs:478). Always re-hashes with the current
    * KDF — rotating is also how a legacy SHA-256 credential migrates to
    * PBKDF2. Returns false for unknown users.
    */
  def setPassword(user: String, password: String): Boolean = {
    val rows = readSecurity()
    if (!rows.exists(r => r._1 == "USER" && r._2 == user)) false
    else {
      val cred = if (password.isEmpty) "" else hashPassword(newSalt(), password)
      writeSecurity(rows.map {
        case ("USER", `user`, _) => ("USER", user, cred)
        case r => r
      })
      true
    }
  }

  private def newSalt(): String = {
    val b = new Array[Byte](8)
    new java.security.SecureRandom().nextBytes(b)
    b.map("%02x".format(_)).mkString
  }

  /** Current KDF: PBKDF2-HmacSHA256, iteration count recorded in the
    * credential (`pbkdf2$<iters>$<salt>$<hex>`) so it can be raised
    * later without breaking stored credentials.
    */
  private val Pbkdf2Iterations = 120000

  private def hashPassword(salt: String, password: String): String =
    s"pbkdf2$$$Pbkdf2Iterations$$$salt$$" +
      pbkdf2Hex(password, salt, Pbkdf2Iterations)

  private def pbkdf2Hex(password: String, salt: String, iters: Int): String = {
    val spec = new javax.crypto.spec.PBEKeySpec(
      password.toCharArray, salt.getBytes("UTF-8"), iters, 256)
    val skf = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
    skf.generateSecret(spec).getEncoded.map("%02x".format(_)).mkString
  }

  private def legacySha256(salt: String, password: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val digest = md.digest(s"$salt:$password".getBytes("UTF-8"))
    salt + "$" + digest.map("%02x".format(_)).mkString
  }

  /** Password check for `gql.authenticate_user`
    * (system_procedures.rs:60-91): unknown users and wrong passwords are
    * both false; a user created without IDENTIFIED BY is passwordless and
    * authenticates only with an empty password. Both credential formats
    * verify — `pbkdf2$<iters>$<salt>$<hex>` (current; iterations read
    * from the credential itself) and the legacy `salt$sha256(salt:pw)`
    * (pre-PBKDF2 warehouses; migrates on the next [[setPassword]]).
    */
  def verifyPassword(user: String, password: String): Boolean =
    readSecurity().find(r => r._1 == "USER" && r._2 == user) match {
      case None => false
      case Some((_, _, "")) => password.isEmpty
      case Some((_, _, cred)) =>
        val recomputed = cred.split('$') match {
          case Array("pbkdf2", iters, salt, _) if iters.forall(_.isDigit) =>
            s"pbkdf2$$$iters$$$salt$$" + pbkdf2Hex(password, salt, iters.toInt)
          case _ => legacySha256(cred.takeWhile(_ != '$'), password)
        }
        java.security.MessageDigest.isEqual(
          recomputed.getBytes("UTF-8"), cred.getBytes("UTF-8"))
    }

  def dropPrincipal(kind: String, name: String): Boolean = {
    val rows = readSecurity()
    val kept = rows.filterNot(r =>
      (r._1 == kind && r._2 == name) || (r._1 == "GRANT" && (r._2 == name || r._3 == name)))
    if (kept.size == rows.size) false else { writeSecurity(kept); true }
  }

  /** Is `name` currently a registered catalog USER? Sampled by
    * [[graft.GqlSession]] at open time so the embedder/registered
    * distinction is pinned per session, not re-derived per statement.
    */
  def isRegisteredUser(name: String): Boolean =
    readSecurity().exists(r => r._1 == "USER" && r._2 == name)

  /** May `caller` administer security state (users/roles/grants/ACEs)?
    * A caller that was NOT a registered catalog user when its session
    * opened is the embedding application (catalog security is metadata
    * the embedder enforces — see the header note), so it passes: anyone
    * who can open an unregistered session already owns the warehouse
    * files. A caller registered at open time needs the `admin` role —
    * gating any single operation alone is bypassable (CREATE ROLE admin
    * + GRANT to self), so every security statement shares this one gate.
    * The open-time flag makes the gate fail CLOSED for a registered
    * session whose user is later dropped: dropping a user revokes, never
    * escalates, an open session's privileges (the grant rows went with
    * the user, so the admin check below is false).
    * (The reference admin-gates these at its coordinator,
    * query_coordinator.rs:478; this is the equivalent seam here.)
    */
  def isSecurityAdmin(caller: String, registeredAtOpen: Boolean): Boolean = {
    val rows = readSecurity()
    val registeredNow = rows.exists(r => r._1 == "USER" && r._2 == caller)
    if (!registeredAtOpen && !registeredNow) return true
    registeredNow && rows.exists(r =>
      r._1 == "GRANT" && r._2.equalsIgnoreCase("admin") && r._3 == caller)
  }

  /** May `caller` rotate `target`'s password? Self-rotation is always
    * allowed; anything else is [[isSecurityAdmin]].
    */
  def mayManageUsers(caller: String, target: String,
      registeredAtOpen: Boolean): Boolean =
    caller == target || isSecurityAdmin(caller, registeredAtOpen)

  def grantRole(role: String, user: String): Boolean = {
    val rows = readSecurity()
    if (!rows.exists(r => r._1 == "ROLE" && r._2 == role))
      throw new IllegalArgumentException(s"unknown role: $role")
    if (!rows.exists(r => r._1 == "USER" && r._2 == user))
      throw new IllegalArgumentException(s"unknown user: $user")
    if (rows.exists(r => r._1 == "GRANT" && r._2 == role && r._3 == user)) false
    else { writeSecurity(rows :+ (("GRANT", role, user))); true }
  }

  def revokeRole(role: String, user: String): Boolean = {
    val rows = readSecurity()
    val kept = rows.filterNot(r =>
      r._1 == "GRANT" && r._2 == role && r._3 == user)
    if (kept.size == rows.size) false else { writeSecurity(kept); true }
  }

  def listPrincipals(kind: String): Seq[String] =
    readSecurity().filter(_._1 == kind).map(_._2).sorted

  def listGrants(): Seq[(String, String)] =
    readSecurity().filter(_._1 == "GRANT").map(r => (r._2, r._3)).sorted

  // ---- graph access control entries (reference Ace/Permission,
  // catalog/providers/security.rs:219-260): rows ("ACE", "PERM|/s/g",
  // principal). Enforcement model: a graph with NO ACEs is open (the
  // embedded default — every pre-existing warehouse keeps working); once
  // any ACE exists for a path, only principals granted that permission
  // (directly or through a role) may use it.

  def grantAccess(perm: String, path: String, principal: String): Boolean = {
    val rows = readSecurity()
    if (!rows.exists(r => (r._1 == "USER" || r._1 == "ROLE") && r._2 == principal))
      throw new IllegalArgumentException(s"unknown principal: $principal")
    val key = s"$perm|$path"
    if (rows.exists(r => r._1 == "ACE" && r._2 == key && r._3 == principal)) false
    else { writeSecurity(rows :+ (("ACE", key, principal))); true }
  }

  def revokeAccess(perm: String, path: String, principal: String): Boolean = {
    val rows = readSecurity()
    val key = s"$perm|$path"
    val kept = rows.filterNot(r =>
      r._1 == "ACE" && r._2 == key && r._3 == principal)
    if (kept.size == rows.size) false else { writeSecurity(kept); true }
  }

  /** True when `user` holds ANY grant on `path` (or the path is
    * ungoverned). Gate for graph attach: a user granted only INSERT must
    * still be able to attach; the per-operation check happens at
    * statement time ([[checkAccess]]).
    */
  def checkAccessAny(user: String, path: String): Boolean = {
    val rows = readSecurity()
    val aces = rows.filter(r => r._1 == "ACE" && r._2.endsWith(s"|$path"))
    if (aces.isEmpty) return true
    val principals = user +: rows.collect {
      case ("GRANT", role, u) if u == user => role
    }
    aces.exists(a => principals.contains(a._3))
  }

  /** True when `user` may exercise `perm` on graph `path`: the path is
    * ungoverned (no ACEs), or an ACE for this permission (or ALL) names
    * the user or one of the user's roles.
    */
  def checkAccess(user: String, path: String, perm: String): Boolean = {
    val rows = readSecurity()
    val aces = rows.filter(r => r._1 == "ACE" && r._2.endsWith(s"|$path"))
    if (aces.isEmpty) return true
    val principals = user +: rows.collect {
      case ("GRANT", role, u) if u == user => role
    }
    aces.exists { a =>
      val p = a._2.takeWhile(_ != '|')
      (p == perm.toUpperCase || p == "ALL") && principals.contains(a._3)
    }
  }

  // ---- stored procedures (catalog procedures, ast.rs:625-644): GQL text
  // under warehouse/_procedures/<name>.gql, re-parsed at CALL time.

  def saveProcedure(name: String, body: String): Unit =
    writeAtomic(Paths.get(s"$warehouse/_procedures/$name.gql"), body)

  def dropProcedure(name: String): Boolean = {
    val f = Paths.get(s"$warehouse/_procedures/$name.gql")
    if (!Files.exists(f)) false else { Files.delete(f); true }
  }

  def loadProcedure(name: String): Option[String] = {
    val f = Paths.get(s"$warehouse/_procedures/$name.gql")
    if (Files.exists(f)) Some(Files.readString(f)) else None
  }

  def listProcedures(): Seq[String] = {
    val dir = Paths.get(s"$warehouse/_procedures")
    if (!Files.exists(dir)) Seq.empty
    else listDir(dir).map(_.getFileName.toString)
      .filter(_.endsWith(".gql")).map(_.stripSuffix(".gql")).sorted
  }

  // ---- graph types (schema/catalog/graph_type.rs analog): named node/
  // edge schemas under warehouse/_graph_types/<name>.def, plus a TSV of
  // graph-path → type bindings consulted at INSERT validation time.

  import GraphType.GraphTypeDef

  def saveGraphType(gt: GraphTypeDef): Boolean = {
    val dir = Paths.get(s"$warehouse/_graph_types")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${gt.name}.def")
    if (Files.exists(f)) false
    else { writeAtomic(f, GraphType.serialize(gt)); true }
  }

  def dropGraphType(name: String): Boolean = {
    val f = Paths.get(s"$warehouse/_graph_types/$name.def")
    if (!Files.exists(f)) false
    else {
      Files.delete(f)
      writeTypeBindings(readTypeBindings().filterNot(_._2 == name))
      true
    }
  }

  def loadGraphType(name: String): Option[GraphTypeDef] = {
    val f = Paths.get(s"$warehouse/_graph_types/$name.def")
    if (Files.exists(f)) Some(GraphType.deserialize(name, Files.readString(f)))
    else None
  }

  def listGraphTypes(): Seq[String] = {
    val dir = Paths.get(s"$warehouse/_graph_types")
    if (!Files.exists(dir)) Seq.empty
    else listDir(dir).map(_.getFileName.toString)
      .filter(_.endsWith(".def")).map(_.stripSuffix(".def")).sorted
  }

  /** Apply a schema change, retaining the prior definition in the hidden
    * history dir (GraphTypeVersion / previous_version chain analog —
    * schema/types.rs:12-27).
    */
  def alterGraphType(name: String,
      change: GraphType.GraphTypeDef => GraphType.GraphTypeDef): GraphType.GraphTypeDef = {
    val cur = loadGraphType(name).getOrElse(
      throw new IllegalArgumentException(s"unknown graph type: $name"))
    val next = change(cur)
    val hist = Paths.get(s"$warehouse/_graph_types/.history")
    Files.createDirectories(hist)
    val version = graphTypeVersionCount(name) + 1
    Files.move(Paths.get(s"$warehouse/_graph_types/$name.def"),
      hist.resolve(s"$name.v$version.def"))
    writeAtomic(Paths.get(s"$warehouse/_graph_types/$name.def"),
      GraphType.serialize(next))
    next
  }

  /** Number of superseded versions in the history. */
  def graphTypeVersionCount(name: String): Int = {
    val hist = Paths.get(s"$warehouse/_graph_types/.history")
    if (!Files.exists(hist)) 0
    else listDir(hist).map(_.getFileName.toString)
      .count(f => f.startsWith(s"$name.v") && f.endsWith(".def"))
  }

  private def typeBindingsFile = Paths.get(s"$warehouse/_graph_type_bindings")

  private def readTypeBindings(): Seq[(String, String)] =
    if (!Files.exists(typeBindingsFile)) Seq.empty
    else Files.readString(typeBindingsFile).split("\n").filter(_.nonEmpty)
      .toSeq.map { l => val a = l.split("\t", 2); (a(0), a(1)) }

  private def writeTypeBindings(rows: Seq[(String, String)]): Unit =
    writeAtomic(typeBindingsFile,
      rows.map { case (p, t) => s"$p\t$t" }.mkString("\n"))

  /** Bind `/schema/graph` to a graph type (CREATE GRAPH … TYPED t). */
  def bindGraphType(path: String, typeName: String): Unit = {
    if (loadGraphType(typeName).isEmpty)
      throw new IllegalArgumentException(s"unknown graph type: $typeName")
    writeTypeBindings(readTypeBindings().filterNot(_._1 == path) :+
      ((path, typeName)))
  }

  def graphTypeFor(path: String): Option[GraphTypeDef] =
    readTypeBindings().find(_._1 == path).flatMap(b => loadGraphType(b._2))

  /** FROM g1 UNION g2 — graph union (storage_manager.rs:400). */
  def unionGraphs(a: PropertyGraph, b: PropertyGraph): PropertyGraph = {
    def merge(x: Map[String, DataFrame], y: Map[String, DataFrame]) =
      (x.keySet ++ y.keySet).map { k =>
        (x.get(k), y.get(k)) match {
          case (Some(l), Some(r)) => k -> l.unionByName(r, allowMissingColumns = true).distinct()
          case (Some(l), None)    => k -> l
          case (None, Some(r))    => k -> r
          case _ => throw new IllegalStateException
        }
      }.toMap
    val edges = (a.edgeTables.keySet ++ b.edgeTables.keySet).map { k =>
      (a.edgeTables.get(k), b.edgeTables.get(k)) match {
        case (Some((et, l)), Some((_, r))) =>
          k -> (et, l.unionByName(r, allowMissingColumns = true).distinct())
        case (Some(v), None) => k -> v
        case (None, Some(v)) => k -> v
        case _ => throw new IllegalStateException
      }
    }.toMap
    new PropertyGraph(merge(a.nodeTables, b.nodeTables), edges)
  }
}

object GraphCatalog {
  /** Per-stage wall clock of the LAST [[GraphCatalog.saveGraph]] on this
    * JVM: `(label, seconds)` rows — per dirty dataset (and per mirror
    * layout) of an incremental save `buckets:<dataset>` for the
    * touched-bucket step when one was attempted, then
    * `write:<dataset>:<bucket_scoped|full>`; `link_clean` for the
    * hard-link pass, `commit` for the pointer write. Diagnostic
    * single-slot (same contract as PropertyGraph.lastPathPrune):
    * Evidence's stats line prints it so a warehouse-write regression
    * names its stage; BucketedIndexSpec and MirrorPruneSpec assert its
    * stage names.
    */
  @volatile var lastSaveStages: Seq[(String, Double)] = Seq.empty

  /** Name of the pointer file in a graph directory: it holds the name
    * of the graph's current version directory. */
  private[graph] val Current = "_current"

  /** The current version directory of graph `schema/name` in
    * `warehouse`, when a save has committed one. */
  private[graft] def versionDir(warehouse: String, schema: String,
      name: String): Option[String] = {
    val p = Paths.get(s"$warehouse/$schema/$name/$Current")
    if (!Files.exists(p)) None
    else Some(s"$warehouse/$schema/$name/${Files.readString(p).trim}")
  }

  /** One bucketed layout a dirty dataset persists in, as the
    * bucket-scoped save sees it: the dataset directory name, the
    * bucket key, the in-bucket sort columns and the persisted boundaries
    * (as the spec BucketPrune registers for it). The main layout and an
    * edge dataset's mirror differ only in these.
    */
  private[graph] final case class ScopedLayout(dirName: String,
      keyCol: String, sortCols: Seq[String],
      spec: graft.plans.BucketPrune.Spec)

  /** Source of per-save job-group ids (`graft-save-<n>`). */
  private[graph] val saveIds = new java.util.concurrent.atomic.AtomicLong

  /** The SparkContext local properties `setJobGroup` writes — saved
    * before a save takes its job group and restored after it. */
  private[graph] val JobProps = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel")

  /** Distinct values of a one-int-column frame in ONE job: each task
    * returns its partition's distinct set and the collect unions them.
    * For bucket ids, so at most (tasks × buckets) ints are collected
    * whatever the frame's row count.
    */
  /** The schema a frame is persisted with: untyped all-NULL columns
    * (NullType) are written as strings.
    */
  private[graph] def writtenSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{NullType, StringType, StructType}
    StructType(s.fields.map(f =>
      if (f.dataType == NullType) f.copy(dataType = StringType) else f))
  }

  private[graph] def distinctInts(df: DataFrame): Set[Int] =
    df.queryExecution.toRdd
      .mapPartitions(it => it.map(_.getInt(0)).toSet.iterator)
      .collect().toSet

  /** Serializes first-build boundary computation+persist across the
    * concurrent version-write tasks (see bucketBounds) — the
    * `_index_options` read-modify-write must not lose an update when
    * main and mirror layouts persist their boundaries in parallel.
    */
  private[graph] val boundsLock = new Object

  /** Directory-name prefix of an edge dataset's dual-keyed mirror layout
    * (see [[GraphCatalog!.mirrorOptSpec]]). Dot-prefixed so loadGraph's
    * `edges_*` dataset scan and external listings skip it — the mirror
    * is storage metadata, not a separate edge label.
    */
  val MirrorPrefix = ".mirror_"
}
