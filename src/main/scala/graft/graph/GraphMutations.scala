package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NullType, StringType}

/** DML over property graphs, copy-on-write (SURVEY.md §2.11 mapping of
  * the reference's write engine, exec/write_engine/operations/):
  * every mutation returns a NEW PropertyGraph; persisting a version is
  * `GraphCatalog.saveGraph` (the snapshot-isolation analog of the
  * reference's WAL+txn machinery — interactive multi-statement
  * transactions are documented out of scope, SURVEY.md §7.4.4).
  *
  * A statement on a label with an identity column (`id` of a node label,
  * `eid` of an edge type) restates that label's [[LabelDelta]] in ONE
  * job: the rows it hits are computed against the current view, the new
  * delta and the superseded base rows' pre-images are checkpointed, and
  * the job's accumulator returns the affected count and keys. The label
  * then reads as `base ⊖ tomb ⊕ delta` — the same plan shape after every
  * statement (DuckDB keeps updates as version data beside unchanged base
  * storage the same way). Labels without an identity column, and id-type
  * widening, replace the table as a whole.
  */
object GraphMutations {
  import LabelDelta.{Hit, IsGhost, Keep, New, tag}

  private def union(frames: Seq[DataFrame], what: => String): DataFrame =
    SchemaReconcile.union(frames, what)

  /** The mutation state of dataset `ds` (table `df`): the graph's, or a
    * fresh one over `df`; None when `df` has no identity column.
    */
  private def stateOf(g: PropertyGraph, ds: String, df: DataFrame): Option[LabelDelta] = {
    val key = if (ds.startsWith("nodes_")) "id" else "eid"
    if (!df.columns.contains(key)) None
    else Some(g.deltaFor(ds).getOrElse(LabelDelta.fresh(df, key)))
  }

  /** `g` with `restated` datasets reading their new views and
    * `rewritten` ones replaced as a whole. */
  private def commit(g: PropertyGraph, restated: Map[String, LabelDelta],
      rewritten: Map[String, DataFrame] = Map.empty,
      edgeTypes: Map[String, EdgeType] = Map.empty): PropertyGraph = {
    var nn = g.nodeTables
    var ne = g.edgeTables
    def put(ds: String, df: DataFrame): Unit =
      if (ds.startsWith("nodes_")) nn += ds.stripPrefix("nodes_") -> df
      else {
        val l = ds.stripPrefix("edges_")
        ne += l -> (edgeTypes.getOrElse(l, ne(l)._1), df)
      }
    restated.foreach { case (ds, d) => put(ds, d.view) }
    rewritten.foreach { case (ds, df) => put(ds, df) }
    g.mutated(nn, ne, restated.keySet ++ rewritten.keySet, restated, rewritten.keySet)
  }

  private def run(d: LabelDelta, tagged: DataFrame,
      hitKeys: Boolean = false): (LabelDelta, LabelDelta.Outcome) = {
    val o = LabelDelta.restate(tagged, d.key, hitKeys)
    (d.restated(o), o)
  }

  private def ghosts(d: LabelDelta): DataFrame = tag(d.ghostRows, Keep | IsGhost)

  /** `ids` (column `key`, any duplicates) as a distinct join side typed
    * like `df`'s key, broadcast by its exact count when known. */
  private def keySide(df: DataFrame, key: String, ids: DataFrame,
      n: Option[Long]): DataFrame = {
    val k = ids.select(col(key).cast(df.schema(key).dataType).as("__mk")).distinct()
    n.fold(k)(c => PropertyGraph.broadcastIfBoundedRows(c, k))
  }

  /** Whether assigning changed the type of a typed column. A SET is one
    * CASE over every row of the label, so the whole column takes the
    * new type (NULL-typed columns simply adopt it); a view cannot re-type
    * its base rows, so such a statement replaces the label as a whole.
    */
  private def retyped(before: DataFrame, after: DataFrame): Boolean =
    after.schema.fields.exists(f => before.columns.contains(f.name) && {
      val b = before.schema(f.name).dataType
      b != NullType && b != f.dataType
    })

  /** A retyping SET applied to the whole table, materialized so the
    * plan stays bounded. */
  private def wholeTable(g: PropertyGraph, ds: String, table: DataFrame,
      assigned: DataFrame, pred: Column): (PropertyGraph, Long) = {
    val n = table.filter(pred).count()
    (commit(g, Map.empty, Map(ds -> PropertyGraph.materialized(
      assigned.drop(LabelDelta.Tag)))), n)
  }

  // ---- the statement kinds, each one restatement job ----

  /** Hit = rows matching `pred` (TRUE only, 3VL); each assignment is
    * applied to them, the base ones leave a ghost. The hit base rows are
    * read once and forked: `__pre` marks the copy that stays the ghost
    * (the pre-image), which no assignment touches. */
  private def setBy(d: LabelDelta, pred: Column,
      assignments: Map[String, Column]): (LabelDelta, LabelDelta.Outcome) = {
    val hitBase = d.visibleBase.filter(pred)
      .withColumn("__pre", explode(array(lit(false), lit(true))))
    val live = union(Seq(hitBase, d.visibleDelta.withColumn("__pre", lit(false))),
      s"SET on ${d.key}-keyed rows")
    val assigned = applyAssigns(live, pred && !col("__pre"), assignments)
      .withColumn(LabelDelta.Tag,
        when(col("__pre"), lit(Keep | IsGhost)).otherwise(col(LabelDelta.Tag)))
      .drop("__pre")
    run(d, union(Seq(assigned, ghosts(d)), "SET"))
  }

  /** Hit = rows matching `pred` (TRUE only); they leave the view. With
    * `hitKeys` the job also returns their keys (a node DELETE's doomed
    * ids). */
  private def deleteBy(d: LabelDelta, pred: Column,
      hitKeys: Boolean = false): (LabelDelta, LabelDelta.Outcome) =
    run(d, union(Seq(tag(d.visibleDelta, pred, Hit, Keep),
      tag(d.visibleBase.filter(pred), Keep | IsGhost | Hit), ghosts(d)), "DELETE"),
      hitKeys)

  /** `ids` (column `key`) split over the view: (delta rows with `__mv`
    * true where their key is among `ids`, the base rows whose key is). */
  private def matchKeys(d: LabelDelta, ids: DataFrame,
      n: Option[Long]): (DataFrame, DataFrame) = {
    val vb = d.visibleBase
    val bs = keySide(vb, d.key, ids, n)
    val dv = d.visibleDelta
    val ds = keySide(dv, d.key, ids, n).withColumn("__mv", lit(true))
    (dv.join(ds, dv(d.key) === ds("__mk"), "left_outer").drop("__mk"),
      vb.join(bs, vb(d.key) === bs("__mk"), "left_semi"))
  }

  /** Hit = rows whose key is in `ids`; they leave the view. */
  private def deleteByKeys(d: LabelDelta, ids: DataFrame, n: Option[Long],
      hitKeys: Boolean = false): (LabelDelta, LabelDelta.Outcome) = {
    val (dTagged, hitBase) = matchKeys(d, ids, n)
    run(d, union(Seq(tag(dTagged, col("__mv"), Hit, Keep).drop("__mv"),
      tag(hitBase, Keep | IsGhost | Hit), ghosts(d)), "DELETE"), hitKeys)
  }

  /** `rows` join the delta. With `probe`, the hits are the view rows
    * already holding one of the rows' keys — read off the plan for a
    * literal INSERT, otherwise joined inside the same job. */
  private def insertInto(d: LabelDelta, rows: DataFrame,
      probe: Boolean): (LabelDelta, LabelDelta.Outcome) = {
    val dv = d.visibleDelta
    val parts =
      if (!probe) Seq(tag(dv, Keep))
      else localKeys(rows, d.key).filter(p => Keys.inline(p.count)) match {
        case Some(p) => Seq(
          tag(dv, KeyIn.member(dv, d.key, p), Keep | Hit, Keep),
          tag(Keys.pick(d.visibleBase, d.key, p), Hit))
        case None =>
          val (dTagged, hitBase) = matchKeys(d, rows.select(d.key), None)
          Seq(tag(dTagged, col("__mv"), Keep | Hit, Keep).drop("__mv"), tag(hitBase, Hit))
      }
    run(d, union(parts ++ Seq(tag(rows, Keep | New), ghosts(d)), "INSERT"))
  }

  /** The update rows of a SET-from: `(__uid, __new_<prop>…, __matched)`. */
  private def updateSide(updates: DataFrame, key: String,
      props: Seq[String]): DataFrame =
    props.foldLeft(updates.select((col(key) +: props.map(col)): _*))(
      (x, p) => x.withColumnRenamed(p, s"__new_$p"))
      .withColumn("__matched", lit(true)).withColumnRenamed(key, "__uid")

  /** `df` with the update rows `u` applied by key, tagged (matched rows
    * are hits). */
  private def assignFrom(df: DataFrame, key: String, u: DataFrame,
      props: Seq[String]): DataFrame = {
    var joined = df.join(u, df(key) === u("__uid"), "left_outer")
    props.foreach { p =>
      joined =
        if (joined.columns.contains(p) && joined.schema(p).dataType != NullType)
          joined.withColumn(p, when(col("__matched"), col(s"__new_$p")).otherwise(col(p)))
        else joined.withColumn(p, when(col("__matched"), col(s"__new_$p")))
    }
    tag(joined, col("__matched"), Keep | Hit, Keep)
      .drop("__matched", "__uid").drop(props.map(p => s"__new_$p"): _*)
  }

  /** Hit = rows whose key has an update row; `props` take the update's
    * values (including genuine NULLs — hence the match flag). A
    * retyping update replaces the table as a whole (see [[retyped]]). */
  private def setFrom(g: PropertyGraph, ds: String, table: DataFrame,
      updates: DataFrame, rows: Option[Long], props: Seq[String]): PropertyGraph = {
    val d = stateOf(g, ds, table).get
    val key = d.key
    // joined twice in the statement's job; broadcast by its exact count
    // when the caller knows it
    val u = rows.fold(updateSide(updates, key, props))(n =>
      PropertyGraph.broadcastIfBoundedRows(n, updateSide(updates, key, props)))
    val whole = assignFrom(table, key, u, props)
    if (retyped(table, whole))
      commit(g, Map.empty, Map(ds -> PropertyGraph.materialized(whole.drop(LabelDelta.Tag))))
    else {
      val vb = d.visibleBase
      val hitBase = vb.join(u.select(col("__uid")), vb(key) === u("__uid"), "left_semi")
      val live = union(Seq(hitBase, d.visibleDelta), s"SET on $key-keyed rows")
      commit(g, Map(ds -> run(d, union(Seq(assignFrom(live, key, u, props),
        tag(hitBase, Keep | IsGhost), ghosts(d)), "SET"))._1))
    }
  }

  /** Driver-held keys of `rows` when it is a local relation (a literal
    * INSERT): read off the plan, no job. */
  private def localKeys(rows: DataFrame, key: String): Option[InlineKeys] =
    rows.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val i = l.output.indexWhere(_.name == key)
        if (i < 0) None
        else {
          val dt = l.output(i).dataType
          val s = new java.util.HashSet[Any]()
          l.data.foreach(r => if (!r.isNullAt(i)) s.add(r.get(i, dt) match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
            case v => v
          }))
          Some(InlineKeys(s, dt))
        }
      case _ => None
    }

  /** INSERT nodes (write_engine/operations/insert.rs analog). Rows must
    * carry an `id` column; duplicate ids with existing rows are rejected
    * like the reference's duplicate-insert tests.
    *
    * Id-type invariant: when the union widens this label's `id` column to
    * StringType (reference parity — string node ids are idiomatic,
    * storage/types.rs:68-72), every incident edge table's src/dst widens
    * with it. Leaving the edges LongType would make the next hop join
    * compare String to Long, which Spark's PromoteStrings coerces to
    * Double — and 60-bit hash identities exceed Double's 2^53 exact-int
    * range, silently corrupting the join. Casting Long→String here uses
    * the same rendering as the eid `concat_ws` convention, so eids stay
    * stable. A widening replaces the label and those edge tables as a
    * whole (every row changed).
    */
  def insertNodes(g: PropertyGraph, label: String, rows: DataFrame,
      failOnDuplicate: Boolean = true): PropertyGraph = {
    val ds = s"nodes_$label"
    g.nodeTables.get(label) match {
      case None => commit(g, Map.empty, Map(ds -> rows))
      case Some(existing) =>
        val (idOld, idNew) = (existing.schema("id").dataType, rows.schema("id").dataType)
        val widened = SchemaReconcile.widerType(idOld, idNew)
          .exists(w => w != idOld)
        if (widened) {
          // a widening rewrites the label and runs no restatement job, so
          // duplicates are checked here — through string when the ids
          // differ in type (a string id arriving at a Long-id label): the
          // raw join would ANSI-cast 'u3' to BIGINT and throw before the
          // union gets a chance to widen the column
          if (failOnDuplicate && !rows.select(col("id").cast("string").as("id"))
              .join(existing.select(col("id").cast("string").as("id")), "id").isEmpty)
            throw new IllegalArgumentException(
              s"duplicate node id(s) on insert into $label")
          val updated = union(Seq(existing, rows), s"INSERT into node label $label")
          var rewritten = Map(ds -> updated)
          if (updated.schema("id").dataType == StringType)
            g.edgeTables.foreach { case (l, (et, e)) =>
              var out = e
              if (et.srcLabel == label && out.schema("src").dataType != StringType)
                out = out.withColumn("src", col("src").cast(StringType))
              if (et.dstLabel == label && out.schema("dst").dataType != StringType)
                out = out.withColumn("dst", col("dst").cast(StringType))
              if (!(out eq e)) rewritten += s"edges_$l" -> out
            }
          commit(g, Map.empty, rewritten)
        } else {
          val d = stateOf(g, ds, existing).get
          val (nd, o) = insertInto(d, rows, failOnDuplicate)
          if (o.hits > 0) {
            Analytics.unpersistCheckpoint(o.store)
            throw new IllegalArgumentException(
              s"duplicate node id(s) on insert into $label")
          }
          commit(g, Map(ds -> nd))
        }
    }
  }

  /** INSERT edges. Rows carry (src, dst, eid, props…).
    *
    * Endpoint alignment (see [[insertNodes]]'s id-type invariant): when an
    * endpoint label's node ids are StringType, the incoming rows' src/dst
    * cast to string before the union, so the edge table's endpoint type
    * always equals the node table's id type and hop joins stay exact
    * equi-joins on one type.
    */
  def insertEdges(g: PropertyGraph, label: String, et: EdgeType,
      rows: DataFrame): PropertyGraph = insertEdgesCounted(g, label, et, rows)._1

  /** [[insertEdges]] plus the number of rows inserted, counted by the
    * job that restates the edge type — `rows` may stay lazy (a MATCH,
    * an anti-join against the current edges): they are evaluated once,
    * inside that job.
    */
  def insertEdgesCounted(g: PropertyGraph, label: String, et: EdgeType,
      rows: DataFrame): (PropertyGraph, Long) = {
    def idIsString(lbl: String): Boolean =
      g.nodeTables.get(lbl).exists(_.schema("id").dataType == StringType)
    var aligned = rows
    if (idIsString(et.srcLabel) && aligned.schema("src").dataType != StringType)
      aligned = aligned.withColumn("src", col("src").cast(StringType))
    if (idIsString(et.dstLabel) && aligned.schema("dst").dataType != StringType)
      aligned = aligned.withColumn("dst", col("dst").cast(StringType))
    val ds = s"edges_$label"
    g.edgeTables.get(label) match {
      case None =>
        val (t, n) = PropertyGraph.materializedCount(aligned)
        (commit(g, Map.empty, Map(ds -> t), Map(label -> et)), n)
      case Some((_, existing)) => stateOf(g, ds, existing) match {
        case Some(d) =>
          // inserting a property under a different type widens the view's
          // column to the common supertype (dynamic-value parity; an
          // irreconcilable type errors in the union, before any row lands)
          val (nd, o) = insertInto(d, aligned, probe = false)
          (commit(g, Map(ds -> nd)), o.added)
        case None =>
          val (m, n) = PropertyGraph.materializedCount(aligned)
          val t = PropertyGraph.materialized(
            union(Seq(existing, m), s"INSERT into edge type $label"))
          (commit(g, Map.empty, Map(ds -> t)), n)
      }
    }
  }

  /** SET v:NewLabel (SetItem::Label, ast.rs:925-928): add `newLabel` to
    * the nodes of `label` whose ids are in `matchedIds` (one `id`
    * column — captured by the CALLER from the PRE-mutation graph, so a
    * statement that both rewrites a property and adds a label still
    * labels the rows the WHERE originally matched). In the
    * per-label-table model a node "having" a second label means its row
    * (same id + props) also lives in that label's table — the
    * multi-label intersection scan `(a:L1:L2)` then matches it by the
    * shared id. Ids already present under `newLabel` are left untouched
    * (re-running is idempotent).
    */
  def addNodeLabel(g: PropertyGraph, label: String, matchedIds: DataFrame,
      newLabel: String): PropertyGraph = {
    val rows = g.nodeTables(label).join(matchedIds.select("id"), Seq("id"))
    val ds = s"nodes_$newLabel"
    g.nodeTables.get(newLabel) match {
      case None => commit(g, Map.empty, Map(ds -> rows))
      case Some(existing) =>
        val fresh = rows.join(existing.select(col("id")), Seq("id"), "left_anti")
        commit(g, Map(ds -> insertInto(stateOf(g, ds, existing).get, fresh, probe = false)._1))
    }
  }

  /** REMOVE v:Label (RemoveItem::Label, ast.rs:943-948): drop
    * `rmLabel` from the nodes in `matchedIds` (captured pre-mutation,
    * see [[addNodeLabel]]) — in the per-label-table model, delete their
    * rows from that label's table (the rows under other labels,
    * including `label` itself when different, stay). Removing a label a
    * node never had is a no-op.
    */
  def removeNodeLabel(g: PropertyGraph, matchedIds: DataFrame,
      rmLabel: String): PropertyGraph = {
    val ds = s"nodes_$rmLabel"
    g.nodeTables.get(rmLabel) match {
      case None => g
      case Some(existing) =>
        commit(g, Map(ds -> deleteByKeys(stateOf(g, ds, existing).get,
          matchedIds.select("id"), None)._1))
    }
  }

  /** MATCH … SET (match_set.rs analog): for rows matching `pred`, assign
    * each property column its new expression; other rows unchanged.
    */
  def setNodeProps(g: PropertyGraph, label: String, pred: Column,
      assignments: Map[String, Column]): PropertyGraph =
    setNodePropsCounted(g, label, pred, assignments)._1

  /** [[setNodeProps]] plus the number of rows `pred` matched, from the
    * same job. */
  def setNodePropsCounted(g: PropertyGraph, label: String, pred: Column,
      assignments: Map[String, Column]): (PropertyGraph, Long) = {
    val ds = s"nodes_$label"
    val t = g.nodeTables(label)
    val whole = applyAssigns(t, pred, assignments)
    if (retyped(t, whole)) wholeTable(g, ds, t, whole, pred)
    else {
      val (nd, o) = setBy(stateOf(g, ds, t).get, pred, assignments)
      (commit(g, Map(ds -> nd)), o.hits)
    }
  }

  /** Apply every item of one SET atomically against the PRE-statement
    * row. Both the match predicate and each item's value expression are
    * materialized into temp columns BEFORE any target column is
    * overwritten: `pred` and the values are unresolved Column trees, so
    * folding them over a progressively mutated frame would re-evaluate
    * them against earlier items' writes — found by the DML differential
    * fuzz as `MATCH (n:L {s: 1}) SET n.s = 4, n.name = 'x'` silently
    * skipping the second item (after `s` became 4, the re-resolved
    * `{s: 1}` matched nothing). The reference applies all items of a
    * statement to the matched row snapshot (match_set.rs). The result
    * is tagged for a restatement: matched rows are hits.
    */
  private def applyAssigns(df: DataFrame, pred: Column,
      assignments: Map[String, Column]): DataFrame = {
    val items = assignments.toSeq
    val frozen = items.zipWithIndex.foldLeft(df.withColumn("__matched", pred)) {
      case (d, ((_, v), i)) => d.withColumn(s"__val_$i", v) }
    val assigned = items.zipWithIndex.foldLeft(frozen) {
      case (d, ((k, _), i)) => applyAssign(d, col("__matched"), k -> col(s"__val_$i")) }
    tag(assigned, col("__matched"), Keep | Hit, Keep)
      .drop("__matched").drop(items.indices.map(i => s"__val_$i"): _*)
  }

  /** One property assignment. A target column that is all-NULL with no
    * concrete type yet (NullType — from a prior SET x = NULL / REMOVE of
    * a never-written name) is REPLACED rather than coerced: mixing it
    * into a CaseWhen would force Spark's common-type widening (e.g.
    * NULL-string vs long → string) and later reads would get "42"
    * instead of 42. Every pre-existing value is NULL by construction, so
    * replacement loses nothing and the column adopts the new value type.
    */
  private def applyAssign(df: DataFrame, pred: Column,
      kv: (String, Column)): DataFrame = {
    val (k, v) = kv
    if (df.columns.contains(k) && df.schema(k).dataType != NullType)
      df.withColumn(k, when(pred, v).otherwise(col(k)))
    else df.withColumn(k, when(pred, v)) // new/untyped property: NULL elsewhere
  }

  /** MATCH … REMOVE (match_remove.rs analog): null out properties on
    * matching rows (per-label tables keep the column; value semantics
    * match the reference's property removal).
    */
  def removeNodeProps(g: PropertyGraph, label: String, pred: Column,
      props: Seq[String]): PropertyGraph =
    setNodeProps(g, label, pred, props.map(p => p -> lit(null)).toMap)

  /** DELETE [DETACH] nodes (delete.rs / match_delete.rs analog).
    * Without DETACH, deleting a node with incident edges is an error
    * (ISO GQL semantics the reference enforces); with DETACH, incident
    * edges go too.
    */
  def deleteNodes(g: PropertyGraph, label: String, pred: Column,
      detach: Boolean = false): PropertyGraph =
    deleteNodesCounted(g, label, pred, detach)._1

  /** [[deleteNodes]] plus the number of nodes deleted, counted by the
    * job that restates the label — the statement's only job when the
    * doomed ids stay driver-held.
    */
  def deleteNodesCounted(g: PropertyGraph, label: String, pred: Column,
      detach: Boolean): (PropertyGraph, Long) = {
    val ds = s"nodes_$label"
    val (nd, o) = deleteBy(stateOf(g, ds, g.nodeTables(label)).get, pred, hitKeys = true)
    val doomed = o.hitKeys.getOrElse {
      val (f, n) = PropertyGraph.materializedCount(
        g.nodeTables(label).filter(pred).select(col("id").as("__k")))
      FrameKeys(f, n)
    }
    (detached(g, label, ds -> nd, o.store, doomed, detach), o.hits)
  }

  /** DELETE the nodes whose ids make up `ids` — a
    * [[PropertyGraph.materializedCount]] result (one-column `id` frame,
    * its row count). The MutationPipeline path (executor.rs:7186)
    * computes the doomed set, this applies it.
    */
  def deleteNodesIn(g: PropertyGraph, label: String,
      ids: (DataFrame, Long), detach: Boolean): PropertyGraph = {
    val ds = s"nodes_$label"
    val (nd, o) = deleteByKeys(stateOf(g, ds, g.nodeTables(label)).get,
      ids._1, Some(ids._2), hitKeys = true)
    val doomed = o.hitKeys.getOrElse(
      FrameKeys(ids._1.select(col("id").as("__k")), ids._2))
    detached(g, label, ds -> nd, o.store, doomed, detach)
  }

  /** Apply a node DELETE's restated label to `g`, and its `doomed` ids
    * to the incident edge types: with DETACH they hide the edges by
    * endpoint (no job — the view filters base and delta rows by the
    * driver-held ids); without, any incident edge is an error.
    */
  private def detached(g: PropertyGraph, label: String,
      node: (String, LabelDelta), store: DataFrame, doomed: Keys,
      detach: Boolean): PropertyGraph = {
    val incident = if (doomed.count == 0) Map.empty[String, (EdgeType, DataFrame)]
      else g.edgeTables.filter { case (_, (et, _)) =>
        et.srcLabel == label || et.dstLabel == label }
    if (!detach) {
      val hasIncident = incident.exists { case (_, (et, e)) =>
        (et.srcLabel == label && !Keys.pick(e, "src", doomed).isEmpty) ||
          (et.dstLabel == label && !Keys.pick(e, "dst", doomed).isEmpty)
      }
      if (hasIncident) {
        Analytics.unpersistCheckpoint(store)
        throw new IllegalStateException(
          s"cannot DELETE $label nodes with incident edges — use DETACH DELETE")
      }
      return commit(g, Map(node))
    }
    var restated = Map(node)
    var rewritten = Map.empty[String, DataFrame]
    incident.foreach { case (l, (et, e)) =>
      val ends = Seq("src" -> et.srcLabel, "dst" -> et.dstLabel)
        .collect { case (c, `label`) => c }
      stateOf(g, s"edges_$l", e) match {
        case Some(d) =>
          restated += s"edges_$l" -> ends.foldLeft(d)((x, c) => x.hideEndpoint(c, doomed))
        case None =>
          rewritten += s"edges_$l" -> PropertyGraph.materialized(
            ends.foldLeft(e)((x, c) => Keys.hide(x, c, doomed)))
      }
    }
    commit(g, restated, rewritten)
  }

  /** DELETE edges matching a predicate. Only rows where `pred` evaluates
    * to TRUE are removed — under SQL 3VL, `!pred` is NULL (not TRUE) when
    * `pred` is NULL, so a plain `filter(!pred)` would silently drop
    * NULL-predicate rows too.
    */
  def deleteEdges(g: PropertyGraph, label: String, pred: Column): PropertyGraph =
    deleteEdgesCounted(g, label, pred)._1

  /** [[deleteEdges]] plus the number of edges deleted. */
  def deleteEdgesCounted(g: PropertyGraph, label: String,
      pred: Column): (PropertyGraph, Long) = {
    val ds = s"edges_$label"
    val e = g.edgeTables(label)._2
    stateOf(g, ds, e) match {
      case Some(d) =>
        val (nd, o) = deleteBy(d, pred)
        (commit(g, Map(ds -> nd)), o.hits)
      case None =>
        val n = e.filter(pred).count()
        (commit(g, Map.empty, Map(ds ->
          PropertyGraph.materialized(e.filter(!coalesce(pred, lit(false)))))), n)
    }
  }

  /** DELETE edges whose eids appear in `eids` (column `eid`). */
  def deleteEdgesIn(g: PropertyGraph, label: String, eids: DataFrame): PropertyGraph =
    deleteEdgesIn(g, label, eids, None)

  /** [[deleteEdgesIn]] of a [[PropertyGraph.materializedCount]] result
    * (one-column `eid` frame, its row count). */
  def deleteEdgesIn(g: PropertyGraph, label: String,
      eids: (DataFrame, Long)): PropertyGraph =
    deleteEdgesIn(g, label, eids._1, Some(eids._2))

  private def deleteEdgesIn(g: PropertyGraph, label: String, eids: DataFrame,
      n: Option[Long]): PropertyGraph = {
    val ds = s"edges_$label"
    commit(g, Map(ds -> deleteByKeys(stateOf(g, ds, g.edgeTables(label)._2).get,
      eids.select("eid"), n)._1))
  }

  /** SET properties from a computed updates table `(id, <prop>, …)` — the
    * MutationPipeline path: rows joined by id take the new values, others
    * keep theirs (including genuinely setting NULLs, which a coalesce
    * would lose — hence the match flag).
    */
  def setNodePropsFrom(g: PropertyGraph, label: String, updates: DataFrame,
      props: Seq[String]): PropertyGraph =
    setFrom(g, s"nodes_$label", g.nodeTables(label), updates, None, props)

  /** [[setNodePropsFrom]] of a [[PropertyGraph.materializedCount]] result
    * (the updates table, its row count). */
  def setNodePropsFrom(g: PropertyGraph, label: String,
      updates: (DataFrame, Long), props: Seq[String]): PropertyGraph =
    setFrom(g, s"nodes_$label", g.nodeTables(label), updates._1, Some(updates._2), props)

  /** MATCH … SET on edge properties. */
  def setEdgeProps(g: PropertyGraph, label: String, pred: Column,
      assignments: Map[String, Column]): PropertyGraph =
    setEdgePropsCounted(g, label, pred, assignments)._1

  /** [[setEdgeProps]] plus the number of edges `pred` matched. */
  def setEdgePropsCounted(g: PropertyGraph, label: String, pred: Column,
      assignments: Map[String, Column]): (PropertyGraph, Long) = {
    val ds = s"edges_$label"
    val e = g.edgeTables(label)._2
    val whole = applyAssigns(e, pred, assignments)
    stateOf(g, ds, e) match {
      case Some(d) if !retyped(e, whole) =>
        val (nd, o) = setBy(d, pred, assignments)
        (commit(g, Map(ds -> nd)), o.hits)
      case _ => wholeTable(g, ds, e, whole, pred)
    }
  }

  /** SET edge properties from a computed updates table `(eid, <prop>, …)`
    * — the MutationPipeline path for edge variables, mirroring
    * [[setNodePropsFrom]] with the edge identity key.
    */
  def setEdgePropsFrom(g: PropertyGraph, label: String, updates: DataFrame,
      props: Seq[String]): PropertyGraph =
    setFrom(g, s"edges_$label", g.edgeTables(label)._2, updates, None, props)

  /** [[setEdgePropsFrom]] of a [[PropertyGraph.materializedCount]] result. */
  def setEdgePropsFrom(g: PropertyGraph, label: String,
      updates: (DataFrame, Long), props: Seq[String]): PropertyGraph =
    setFrom(g, s"edges_$label", g.edgeTables(label)._2, updates._1, Some(updates._2), props)
}
