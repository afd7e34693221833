package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DML over property graphs, copy-on-write (SURVEY.md §2.11 mapping of
  * the reference's write engine, exec/write_engine/operations/):
  * every mutation returns a NEW PropertyGraph whose tables are derived
  * DataFrames; persisting a version is `GraphCatalog.saveGraph` (the
  * snapshot-isolation analog of the reference's WAL+txn machinery —
  * interactive multi-statement transactions are documented out of scope,
  * SURVEY.md §7.4.4).
  *
  * All operations are single narrow transformations or anti-joins — no
  * collect, no driver-side loops; they scale with the table, not the
  * mutation count.
  */
object GraphMutations {

  /** One-column `__k` frame of STRING-rendered identity keys — the
    * shape [[PropertyGraph.touchedKeys]] accumulates (string so frames
    * union across id-type widening) and
    * [[GraphCatalog.saveGraph]]'s bucket-scoped writes join back on.
    */
  private def keyFrame(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("string").as("__k"))

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
    * stable.
    */
  def insertNodes(g: PropertyGraph, label: String, rows: DataFrame,
      failOnDuplicate: Boolean = true): PropertyGraph = {
    val updated = g.nodeTables.get(label) match {
      case None => rows
      case Some(existing) =>
        if (failOnDuplicate) {
          // compare through string when the incoming id type differs from
          // the table's (a string id arriving at a Long-id label) — the
          // raw join would ANSI-cast 'u3' to BIGINT and throw before the
          // union gets a chance to widen the column
          val dups =
            if (rows.schema("id").dataType == existing.schema("id").dataType)
              rows.join(existing.select("id"), "id")
            else rows.select(col("id").cast("string").as("id"))
              .join(existing.select(col("id").cast("string").as("id")), "id")
          if (!dups.isEmpty)
            throw new IllegalArgumentException(
              s"duplicate node id(s) on insert into $label")
        }
        SchemaReconcile.union(Seq(existing, rows),
          s"INSERT into node label $label")
    }
    import org.apache.spark.sql.types.StringType
    var touched = Set(s"nodes_$label")
    val newEdges =
      if (updated.schema("id").dataType != StringType) g.edgeTables
      else g.edgeTables.map { case (l, (et, e)) =>
        var out = e
        if (et.srcLabel == label && out.schema("src").dataType != StringType)
          out = out.withColumn("src", col("src").cast(StringType))
        if (et.dstLabel == label && out.schema("dst").dataType != StringType)
          out = out.withColumn("dst", col("dst").cast(StringType))
        if (!(out eq e)) touched += s"edges_$l"
        l -> (et, out)
      }
    // inserted ids are the touched keys for this label; the edge tables
    // an id-widening cast rewrote get NO key frame (every row changed —
    // they poison to full rewrite, which is what that cast needs)
    g.mutated(g.nodeTables + (label -> updated), newEdges, touched,
      Map(s"nodes_$label" -> keyFrame(rows, "id")))
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
      rows: DataFrame): PropertyGraph = {
    import org.apache.spark.sql.types.StringType
    def idIsString(lbl: String): Boolean =
      g.nodeTables.get(lbl).exists(_.schema("id").dataType == StringType)
    var aligned = rows
    if (idIsString(et.srcLabel) && aligned.schema("src").dataType != StringType)
      aligned = aligned.withColumn("src", col("src").cast(StringType))
    if (idIsString(et.dstLabel) && aligned.schema("dst").dataType != StringType)
      aligned = aligned.withColumn("dst", col("dst").cast(StringType))
    val updated = g.edgeTables.get(label) match {
      case None => (et, aligned)
      case Some((t, existing)) =>
        // inserting a property under a different type widens the table
        // column to the common supertype (dynamic-value parity; an
        // irreconcilable type errors here, before any row lands)
        (t, SchemaReconcile.union(Seq(existing, aligned),
          s"INSERT into edge type $label"))
    }
    g.mutated(g.nodeTables, g.edgeTables + (label -> updated),
      Set(s"edges_$label"),
      if (aligned.columns.contains("eid"))
        Map(s"edges_$label" -> keyFrame(aligned, "eid"))
      else Map.empty)
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
    val updated = g.nodeTables.get(newLabel) match {
      case None => rows
      case Some(existing) =>
        SchemaReconcile.union(Seq(existing,
          rows.join(existing.select(col("id")), Seq("id"), "left_anti")),
          s"SET :$newLabel")
    }
    g.mutated(g.nodeTables + (newLabel -> updated), g.edgeTables,
      Set(s"nodes_$newLabel"),
      Map(s"nodes_$newLabel" -> keyFrame(matchedIds, "id")))
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
    g.nodeTables.get(rmLabel) match {
      case None => g
      case Some(existing) =>
        val updated =
          existing.join(matchedIds.select("id"), Seq("id"), "left_anti")
        g.mutated(g.nodeTables + (rmLabel -> updated), g.edgeTables,
          Set(s"nodes_$rmLabel"),
          Map(s"nodes_$rmLabel" -> keyFrame(matchedIds, "id")))
    }
  }

  /** MATCH … SET (match_set.rs analog): for rows matching `pred`, assign
    * each property column its new expression; other rows unchanged.
    */
  def setNodeProps(g: PropertyGraph, label: String, pred: Column,
      assignments: Map[String, Column]): PropertyGraph = {
    val t = g.nodeTables(label)
    val updated = applyAssigns(t, pred, assignments)
    g.mutated(g.nodeTables + (label -> updated), g.edgeTables,
      Set(s"nodes_$label"),
      Map(s"nodes_$label" -> assignedKeys(t, pred, assignments, "id")))
  }

  /** Touched keys of a MATCH … SET: the TRUE-arm of the match predicate,
    * the same rows applyAssigns rewrites (3VL: NULL-predicate rows keep
    * their values). An assignment to the identity column itself moves
    * the row to a new key — and, when the bucketed index leads on that
    * column, to another bucket — so the post-mutation key (the assigned
    * value, evaluated on the pre-statement row exactly as applyAssigns
    * does) is recorded beside the old one. With only the old key the
    * save would rewrite the source bucket and hard-link a stale target
    * bucket, losing the row.
    */
  private def assignedKeys(t: DataFrame, pred: Column,
      assignments: Map[String, Column], idCol: String): DataFrame = {
    val matched = t.filter(pred)
    val before = keyFrame(matched, idCol)
    assignments.get(idCol).fold(before)(v =>
      before.union(matched.select(v.cast("string").as("__k"))))
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
    * statement to the matched row snapshot (match_set.rs).
    */
  private def applyAssigns(df: DataFrame, pred: Column,
      assignments: Map[String, Column]): DataFrame = {
    val items = assignments.toSeq
    val frozen = items.zipWithIndex.foldLeft(df.withColumn("__matched", pred)) {
      case (d, ((_, v), i)) => d.withColumn(s"__val_$i", v) }
    val assigned = items.zipWithIndex.foldLeft(frozen) {
      case (d, ((k, _), i)) => applyAssign(d, col("__matched"), k -> col(s"__val_$i")) }
    assigned.drop("__matched").drop(items.indices.map(i => s"__val_$i"): _*)
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
    if (df.columns.contains(k) &&
        df.schema(k).dataType != org.apache.spark.sql.types.NullType)
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
    * edges go too — both via anti-joins, no driver iteration.
    */
  def deleteNodes(g: PropertyGraph, label: String, pred: Column,
      detach: Boolean = false): PropertyGraph =
    deleteNodesIn(g, label, PropertyGraph.materializedCount(
      g.nodeTables(label).filter(pred).select(col("id"))), detach)

  /** DELETE the nodes whose ids make up `ids` — a
    * [[PropertyGraph.materializedCount]] result (one-column `id` frame,
    * its row count), so the caller reads the statement's affected count
    * off the same job that materialized the set. The MutationPipeline
    * path (executor.rs:7186) computes the doomed set, this applies it.
    *
    * Materialized, the doomed set joins every later plan as a small
    * LogicalRDD leaf instead of re-running the MATCH that found it: the
    * node table, each detached edge table and their touched keys stay
    * free of earlier table versions, and no CacheManager entry outlives
    * the graph version that uses it.
    */
  def deleteNodesIn(g: PropertyGraph, label: String,
      ids: (DataFrame, Long), detach: Boolean): PropertyGraph = {
    val t = g.nodeTables(label)
    // the materialized frame carries fresh attribute ids, but `__doomed_id`
    // keeps every join below an explicit cross-frame equi-join no matter
    // what the caller passed. A materialized frame has no size statistics,
    // so the broadcast decision comes from its exact row count
    val doomed = g.broadcastIfBoundedRows(ids._2,
      ids._1.select(col("id").as("__doomed_id")))
    val incidentTables = g.edgeTables.filter { case (_, (et, _)) =>
      et.srcLabel == label || et.dstLabel == label
    }
    if (!detach) {
      val hasIncident = incidentTables.exists { case (_, (et, e)) =>
        val srcHit = et.srcLabel == label &&
          !e.join(doomed, e("src") === doomed("__doomed_id"), "left_semi").isEmpty
        val dstHit = et.dstLabel == label &&
          !e.join(doomed, e("dst") === doomed("__doomed_id"), "left_semi").isEmpty
        srcHit || dstHit
      }
      if (hasIncident)
        throw new IllegalStateException(
          s"cannot DELETE $label nodes with incident edges — use DETACH DELETE")
    }
    val newNodes = t.join(doomed, t("id") === doomed("__doomed_id"), "left_anti")
    val newEdges = g.edgeTables.map { case (l, (et, e)) =>
      var out = e
      if (detach && et.srcLabel == label)
        out = out.join(doomed, out("src") === doomed("__doomed_id"), "left_anti")
      if (detach && et.dstLabel == label)
        out = out.join(doomed, out("dst") === doomed("__doomed_id"), "left_anti")
      l -> (et, out)
    }
    val touchedEdges =
      if (detach) incidentTables.keySet.map(l => s"edges_$l")
      else Set.empty[String]
    // touched keys: the doomed node ids; per detached edge table, the
    // eids of the incident edges being removed (a semi-join of that
    // table's pre-delete version with the materialized doomed set — lazy,
    // evaluated once by a bucketed save)
    var keys = Map(s"nodes_$label" -> doomed.select(
      col("__doomed_id").cast("string").as("__k")))
    if (detach) incidentTables.foreach { case (l, (et, e)) =>
      if (e.columns.contains("eid")) {
        var parts = Seq.empty[DataFrame]
        if (et.srcLabel == label)
          parts :+= e.join(doomed, e("src") === doomed("__doomed_id"),
            "left_semi").select(col("eid"))
        if (et.dstLabel == label)
          parts :+= e.join(doomed, e("dst") === doomed("__doomed_id"),
            "left_semi").select(col("eid"))
        keys += s"edges_$l" -> keyFrame(parts.reduce(_ union _), "eid")
      }
    }
    g.mutated(g.nodeTables + (label -> newNodes), newEdges,
      touchedEdges + s"nodes_$label", keys)
  }

  /** DELETE edges matching a predicate. Only rows where `pred` evaluates
    * to TRUE are removed — under SQL 3VL, `!pred` is NULL (not TRUE) when
    * `pred` is NULL, so a plain `filter(!pred)` would silently drop
    * NULL-predicate rows too. Keep rows where pred is not TRUE.
    */
  def deleteEdges(g: PropertyGraph, label: String, pred: Column): PropertyGraph = {
    val (et, e) = g.edgeTables(label)
    val kept = e.filter(!coalesce(pred, lit(false)))
    g.mutated(g.nodeTables, g.edgeTables + (label -> (et, kept)),
      Set(s"edges_$label"),
      if (e.columns.contains("eid"))
        Map(s"edges_$label" ->
          keyFrame(e.filter(coalesce(pred, lit(false))), "eid"))
      else Map.empty)
  }

  /** DELETE edges whose eids appear in `eids` (column `eid`). */
  def deleteEdgesIn(g: PropertyGraph, label: String, eids: DataFrame): PropertyGraph = {
    val (et, e) = g.edgeTables(label)
    // aliased so the anti-join is an explicit cross-frame equi-join (the
    // eids usually derive from `e` itself)
    val doomed = eids.select(col("eid").as("__doomed_eid")).distinct()
    val kept = e.join(doomed, e("eid") === doomed("__doomed_eid"), "left_anti")
    g.mutated(g.nodeTables, g.edgeTables + (label -> (et, kept)),
      Set(s"edges_$label"),
      Map(s"edges_$label" ->
        doomed.select(col("__doomed_eid").cast("string").as("__k"))))
  }

  /** SET properties from a computed updates table `(id, <prop>, …)` — the
    * MutationPipeline path: rows joined by id take the new values, others
    * keep theirs (including genuinely setting NULLs, which a coalesce
    * would lose — hence the match flag).
    */
  def setNodePropsFrom(g: PropertyGraph, label: String, updates: DataFrame,
      props: Seq[String]): PropertyGraph = {
    val t = g.nodeTables(label)
    var u = props.foldLeft(updates.select((col("id") +:
      props.map(col)): _*))((d, p) => d.withColumnRenamed(p, s"__new_$p"))
    u = u.withColumn("__matched", lit(true)).withColumnRenamed("id", "__uid")
    var joined = t.join(u, t("id") === u("__uid"), "left_outer")
    props.foreach { p =>
      joined =
        if (joined.columns.contains(p) &&
            joined.schema(p).dataType != org.apache.spark.sql.types.NullType)
          joined.withColumn(p,
            when(col("__matched"), col(s"__new_$p")).otherwise(col(p)))
        else joined.withColumn(p, when(col("__matched"), col(s"__new_$p")))
    }
    val cleaned = joined.drop("__matched", "__uid")
      .drop(props.map(p => s"__new_$p"): _*)
    // the updates table is keyed by the PRE-mutation id; an update of the
    // id itself records no key frame, so the next save rewrites the
    // dataset in full (see assignedKeys for the hazard)
    g.mutated(g.nodeTables + (label -> cleaned), g.edgeTables,
      Set(s"nodes_$label"),
      if (props.contains("id")) Map.empty
      else Map(s"nodes_$label" -> keyFrame(updates, "id")))
  }

  /** MATCH … SET on edge properties. */
  def setEdgeProps(g: PropertyGraph, label: String, pred: Column,
      assignments: Map[String, Column]): PropertyGraph = {
    val (et, e) = g.edgeTables(label)
    val updated = applyAssigns(e, pred, assignments)
    g.mutated(g.nodeTables, g.edgeTables + (label -> (et, updated)),
      Set(s"edges_$label"),
      if (e.columns.contains("eid"))
        Map(s"edges_$label" -> assignedKeys(e, pred, assignments, "eid"))
      else Map.empty)
  }

  /** SET edge properties from a computed updates table `(eid, <prop>, …)`
    * — the MutationPipeline path for edge variables, mirroring
    * [[setNodePropsFrom]] with the edge identity key.
    */
  def setEdgePropsFrom(g: PropertyGraph, label: String, updates: DataFrame,
      props: Seq[String]): PropertyGraph = {
    val (et, e) = g.edgeTables(label)
    var u = props.foldLeft(updates.select((col("eid") +:
      props.map(col)): _*))((d, p) => d.withColumnRenamed(p, s"__new_$p"))
    u = u.withColumn("__matched", lit(true)).withColumnRenamed("eid", "__ueid")
    var joined = e.join(u, e("eid") === u("__ueid"), "left_outer")
    props.foreach { p =>
      joined =
        if (joined.columns.contains(p) &&
            joined.schema(p).dataType != org.apache.spark.sql.types.NullType)
          joined.withColumn(p,
            when(col("__matched"), col(s"__new_$p")).otherwise(col(p)))
        else joined.withColumn(p, when(col("__matched"), col(s"__new_$p")))
    }
    val cleaned = joined.drop("__matched", "__ueid")
      .drop(props.map(p => s"__new_$p"): _*)
    g.mutated(g.nodeTables, g.edgeTables + (label -> (et, cleaned)),
      Set(s"edges_$label"),
      if (props.contains("eid")) Map.empty // as in setNodePropsFrom
      else Map(s"edges_$label" -> keyFrame(updates, "eid")))
  }
}
