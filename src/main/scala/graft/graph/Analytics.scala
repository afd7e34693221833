package graft.graph

import org.apache.spark.graphx.{Edge, Graph => XGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics procedures over a PropertyGraph, backed by GraphX
  * (the Spark-native answer to the reference's GraphIndexScan operations —
  * physical.rs:42-67: FindNeighbors / ShortestPath / IsReachable /
  * PatternMatch — plus the analytics the reference roadmap lists).
  *
  * Exposed CALL-style (each returns a DataFrame), like the reference's
  * system procedures. Vertex ids are the per-label node ids; callers pick
  * one node label + one edge label so the id space is coherent (for
  * cross-label analytics, build a dedicated projection first).
  */
object Analytics {

  /** Free the block-manager blocks behind a localCheckpoint'd frame.
    * Dataset.unpersist only touches CacheManager entries, not checkpoint
    * RDDs — reach the LogicalRDD leaf and unpersist the checkpointed RDD
    * directly: the leaf's own RDD for a `localCheckpoint` result, or the
    * first persisted RDD below the row-conversion RDDs of a re-wrapped
    * frame ([[PropertyGraph.materialized]]). Only safe once every frame
    * derived from it has been materialized.
    */
  private[graph] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        var r: org.apache.spark.rdd.RDD[_] = lr.rdd
        while (r != null &&
            r.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
          r = r.dependencies.headOption.map(_.rdd).orNull
        if (r != null) r.unpersist(blocking = false)
      case _ => ()
    }

  /** Eager checkpoint that also RESETS leaf statistics — the in-loop
    * materialization primitive.
    *
    * Spark 4's localCheckpoint computes the checkpointed plan's stats
    * and rewrites them onto the new LogicalRDD leaf (ExistingRDD.scala
    * rewriteStatsAndConstraints). In an iterative loop those stats
    * COMPOUND: each round's join-product sizeInBytes builds on the
    * previous round's rewritten value, so the BigInteger's bit-length
    * multiplies by the per-round join fan-out (~30× here) every round —
    * by round ~4 the stats visitor spends MINUTES of driver CPU in
    * Toom-Cook multiplication (observed live at the 30× scale tier;
    * 10× converged one round earlier and never hit the cliff).
    * Re-wrapping the checkpointed RDD gives the next round a default-
    * stats leaf: static plan stats stay bounded, and AQE still makes
    * broadcast/skew decisions from RUNTIME shuffle sizes, which is the
    * only sizing that matters inside these loops.
    *
    * Returns (statsFreshFrame, checkpointHandle): derive from the first;
    * pass the second to [[unpersistCheckpoint]] when the round is dead
    * (the wrapper's LogicalRDD holds a derived row-converted RDD whose
    * unpersist would NOT free the checkpoint blocks).
    */
  private[graph] def checkpointReset(df: DataFrame): (DataFrame, DataFrame) = {
    val cp = df.localCheckpoint(true)
    (cp.sparkSession.createDataFrame(cp.rdd, cp.schema), cp)
  }

  /** GraphX vertex/edge RDDs for (nodes, edges) frames, keyed by Long.
    *
    * Long-id graphs key directly (no extra work, the historical path).
    * Any other id type — string ids are reference-idiomatic
    * (storage/types.rs:68-72) but GraphX VertexId is hard-wired to Long —
    * keys by a 64-bit surrogate (xxhash64 of the id's string rendering,
    * computed distributed, engine-stable), returned with the
    * `(id, __vid)` map so callers join results back to original ids. A
    * surrogate collision (birthday bound ~n²/2^65 — negligible but not
    * zero) aborts with a clear message instead of silently merging two
    * nodes into one vertex.
    */
  private def graphxRdds(nodes: DataFrame, edgesDf: DataFrame):
      (org.apache.spark.rdd.RDD[(Long, Long)],
       org.apache.spark.rdd.RDD[Edge[Long]], Option[DataFrame]) = {
    import org.apache.spark.sql.types.LongType
    val longKeyed = nodes.schema("id").dataType == LongType &&
      edgesDf.schema.fields.take(2).forall(_.dataType == LongType)
    if (longKeyed) {
      val vertices = nodes.rdd.map(r => (r.getLong(0), r.getLong(0)))
      val edges = edgesDf.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1L))
      (vertices, edges, None)
    } else {
      val idMap = nodes.distinct()
        .select(col("id"), xxhash64(col("id").cast("string")).as("__vid"))
        .cache()
      val c = idMap.agg(count(lit(1)), count_distinct(col("__vid"))).head()
      if (c.getLong(0) != c.getLong(1))
        throw new IllegalStateException(
          "surrogate vertex-id hash collision — analytics would merge " +
            "distinct nodes; re-key the graph")
      val eCols = edgesDf.columns
      val edges = edgesDf
        .select(xxhash64(col(eCols(0)).cast("string")).as("s"),
          xxhash64(col(eCols(1)).cast("string")).as("d"))
        .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1L))
      val vertices = idMap.select(col("__vid"))
        .rdd.map(r => (r.getLong(0), r.getLong(0)))
      (vertices, edges, Some(idMap))
    }
  }

  private def toGraphX(g: PropertyGraph, nodeLabel: String,
      edgeLabel: String): (XGraph[Long, Long], Option[DataFrame]) = {
    val (vertices, edges, idMap) = graphxRdds(
      g.nodeTables(nodeLabel).select(col("id")),
      g.edgeTables(edgeLabel)._2.select(col("src"), col("dst")))
    (XGraph(vertices, edges, defaultVertexAttr = -1L,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK), idMap)
  }

  /** Re-key a `__vid`-keyed result frame back to original ids (surrogate
    * graphs); Long-id graphs pass through with `__vid` renamed to `id`.
    *
    * The idMap cache is dropped here, before returning: it has already
    * served its eager consumers (the collision guard's head() and the
    * GraphX build), and leaving one cached frame per analytics call
    * accumulates in the CacheManager for the session's lifetime. If the
    * caller evaluates the returned plan later, the map recomputes — a
    * deterministic distinct+xxhash64 over node ids, cheap next to the
    * algorithm itself.
    */
  private def joinBack(res: DataFrame, idMap: Option[DataFrame]): DataFrame =
    idMap match {
      case None => res.withColumnRenamed("__vid", "id")
      case Some(m) =>
        val out = res.join(m, "__vid").select(
          (col("id") +: res.columns.filterNot(_ == "__vid").map(col)): _*)
        m.unpersist(blocking = false)
        out
    }

  /** PageRank (damping 0.85). Returns (id, rank rounded to 6). */
  def pageRank(spark: SparkSession, g: PropertyGraph, nodeLabel: String,
      edgeLabel: String, iterations: Int = 10): DataFrame = {
    import spark.implicits._
    val (gx, idMap) = toGraphX(g, nodeLabel, edgeLabel)
    joinBack(gx.staticPageRank(iterations).vertices
      .map { case (id, rank) => (id, math.rint(rank * 1e6) / 1e6) }
      .toDF("__vid", "rank"), idMap)
  }

  /** Connected components (undirected). Returns (id, component) where
    * component = smallest node id in the component.
    *
    * Implemented as DataFrame pointer-jumping (each round combines a
    * neighbor-min propagation with comp := comp(comp), halving label
    * distances): O(log diameter) rounds, NOT O(diameter) like naive
    * Pregel label propagation — a 600-hop chain converges in ~10 rounds
    * instead of 600 supersteps. This is the difference between minutes
    * and forever on high-diameter graphs at scale.
    */
  def connectedComponents(spark: SparkSession, g: PropertyGraph,
      nodeLabel: String, edgeLabel: String, maxRounds: Int = 20,
      localEdgeLimit: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, least, min => fmin}
    val vertices = g.nodeTables(nodeLabel).select(col("id"))
    val raw = g.edgeTables(edgeLabel)._2
    val directed = raw.select(col("src"), col("dst"))
    // no per-call count job on large graphs: statistics that already
    // prove the edge frame over the limit skip straight to the
    // distributed pointer-jumping loop (PropertyGraph.edgeCountOrBig)
    val edgeCount = g.edgeCountOrBig(edgeLabel, localEdgeLimit)

    // Small-edge-set fast path: once the edge list fits comfortably on the
    // driver (≤2M pairs ≈ 32 MB), a single collect + union-find with path
    // compression beats ANY number of distributed rounds — each pointer-
    // jumping round is a multi-join Spark job, and job scheduling alone
    // costs more than the whole sequential solve. The vertex set stays
    // distributed: only the edge-endpoint→label map (≤2·|E| entries) is
    // broadcast back, so a huge node table with a sparse edge set still
    // never funnels through the driver. Big graphs (>2M edges) take the
    // O(log diameter) pointer-jumping loop below — this is the same
    // contract-then-finish-small shape GraphFrames/GraphX AggregateMessages
    // CC implementations use for their final rounds.
    if (edgeCount <= localEdgeLimit) {
      // id-type-agnostic: keys are Any (Long or String per the graph),
      // ordered by the id type's natural order so union-by-min keeps the
      // oracle's label choice (smallest id — lexicographic for strings)
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      val idT = vertices.schema("id").dataType
      val lt: (Any, Any) => Boolean = idT match {
        case StringType => (a, b) =>
          a.asInstanceOf[String].compareTo(b.asInstanceOf[String]) < 0
        case _ => (a, b) =>
          a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
      }
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      directed.collect().foreach { row =>
        val a = row.get(0); val b = row.get(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        // union-by-min: the larger root points at the smaller, so every
        // root IS the component's minimum id (the oracle's label choice)
        if (ra != rb) {
          if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val labels =
        new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](parent.size)
      val it = parent.keySet().iterator()
      while (it.hasNext) {
        val k = it.next(); labels += org.apache.spark.sql.Row(k, find(k))
      }
      val mapDf = spark.createDataFrame(labels.asJava, StructType(Seq(
        StructField("mid", idT), StructField("mcomp", idT))))
      return vertices.join(broadcast(mapDf), col("id") === col("mid"), "left_outer")
        .select(col("id"), coalesce(col("mcomp"), col("id")).as("component"))
    }

    // materialize once: the edge table may be a derived frame (joins,
    // windows) that would otherwise recompute on every iteration
    val edges0 = directed
      .unionAll(raw.select(col("dst").as("src"), col("src").as("dst")))

    // The iterative joins materialize via localCheckpoint, which executes
    // the initial plan — AQE's shuffle coalescing never kicks in, so every
    // round would run the configured partition count regardless of data
    // size. Run the loop on a CLONED session (same SparkContext and block
    // manager, own SQLConf) with the shuffle sized to the edge frame
    // (1 partition per ~100k edges, floor 8): tiny graphs stop paying
    // thousands of empty tasks per round, huge graphs keep their
    // configured width, and queries planned concurrently on the caller's
    // session never see the loop's setting.
    val sess = vertices.sparkSession
    val width = math.max(8L, math.min(
      sess.conf.get("spark.sql.shuffle.partitions").toLong,
      edgeCount / 100000L + 1L))
    val work = sess.newSession()
    work.conf.set("spark.sql.shuffle.partitions", width.toString)
    // newSession() starts from SparkContext defaults, not the caller's
    // runtime conf — re-apply the semantics-bearing caller settings so
    // ANSI mode / session TZ / AQE behave identically inside the loop
    Seq("spark.sql.ansi.enabled", "spark.sql.session.timeZone",
      "spark.sql.adaptive.enabled").foreach { k =>
      sess.conf.getOption(k).foreach(work.conf.set(k, _))
    }
    val edges = work.createDataFrame(edges0.rdd, edges0.schema)
      .localCheckpoint(true)
    val comp0 = vertices.select(col("id"), col("id").as("comp"))
    var comp = work.createDataFrame(comp0.rdd, comp0.schema)
      .localCheckpoint(true)
    // the checkpointed frame whose blocks back `comp`'s current lineage
    var backing = comp
    // comp := min(comp, comp(comp)) — each application doubles the
    // pointer distance a label travels
    def pjump(c: DataFrame): DataFrame = {
      val j = c.select(col("id").as("jid"), col("comp").as("jcomp"))
      c.join(j, c("comp") === j("jid"))
        .select(c("id"), least(c("comp"), col("jcomp")).as("comp"))
    }
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      // neighbor-min: smallest component label among in-neighbors
      val nbrMin = edges.join(comp, edges("src") === comp("id"))
        .groupBy(col("dst").as("nid")).agg(fmin(col("comp")).as("ncomp"))
      val step1 = comp.join(nbrMin, comp("id") === nbrMin("nid"), "left_outer")
        .select(col("id"),
          least(col("comp"), org.apache.spark.sql.functions
            .coalesce(col("ncomp"), col("comp"))).as("comp"))
      // round 0 skips pointer jumps entirely — labels have traveled at
      // most one hop, so comp∘comp is nearly the identity and each jump
      // is a full self-join for ~no contraction. Later rounds take FOUR
      // jumps (~16× label-distance contraction per materialization): the
      // checkpoint (a whole Spark job) is the unit cost at scale, so
      // contract as much as possible per checkpoint while the lineage
      // between checkpoints stays a short join chain.
      val jumped =
        if (round == 0) step1 else pjump(pjump(pjump(pjump(step1))))
      // convergence probe folded into the round's materialization: the
      // previous label rides along as a change flag, so the probe is a
      // limit-1 scan of the already-checkpointed frame — not the separate
      // full-join job it used to be — and can afford to run every round
      val (step2, step2Cp) = checkpointReset(jumped
        .join(comp.select(col("id"), col("comp").as("__old")), "id")
        .select(col("id"), col("comp"),
          (col("comp") =!= col("__old")).as("__chg")))
      if (round >= 1) done = step2.filter(col("__chg")).isEmpty
      // the superseded round's checkpoint only backed this round's
      // lineage, which is now materialized — drop its blocks so a long
      // run holds at most one comp snapshot (plus edges) in the block
      // manager instead of one per round
      unpersistCheckpoint(backing)
      backing = step2Cp
      comp = step2.select(col("id"), col("comp"))
      round += 1
    }
    // the edge checkpoint is loop-only; the final comp checkpoint stays
    // alive — the returned frame reads its blocks lazily
    unpersistCheckpoint(edges)
    // re-bind onto the caller's session so results compose with its frames
    val result = comp.withColumnRenamed("comp", "component")
    sess.createDataFrame(result.rdd, result.schema)
  }

  /** Triangle count per vertex (undirected, deduped edges). */
  def triangleCount(spark: SparkSession, g: PropertyGraph,
      nodeLabel: String, edgeLabel: String): DataFrame = {
    import spark.implicits._
    val canonical = g.edgeTables(edgeLabel)._2
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val (vertices, edges, idMap) = graphxRdds(
      g.nodeTables(nodeLabel).select(col("id")), canonical)
    // the edge frame above IS pre-canonicalized (src < dst, deduped, no
    // self-loops) — run that variant directly: Graph.triangleCount()
    // re-canonicalizes into a NEW graph and outer-joins its counters
    // back against the original's differently-indexed vertices, which is
    // the "Joining two VertexPartitions with different indexes is slow"
    // path (an index-breaking shuffle join per call at scale)
    // surrogate hashing can invert the src<dst order the canonical frame
    // established — restore it on the Long keys (narrow map, no shuffle)
    val ordered = edges.map(e =>
      if (e.srcId < e.dstId) e else Edge(e.dstId, e.srcId, e.attr))
    joinBack(org.apache.spark.graphx.lib.TriangleCount
      .runPreCanonicalized(XGraph(vertices, ordered, defaultVertexAttr = -1L))
      .vertices
      .map { case (id, n) => (id, n.toLong) }
      .toDF("__vid", "n_triangles"), idMap)
  }

  /** Single-source shortest path lengths (hop counts) to all reachable
    * nodes — GraphX Pregel ShortestPaths (physical.rs:50-61 analog).
    * Landmarks take the graph's id type (Long or String — reference
    * parity, ids are strings in storage/types.rs).
    */
  def shortestPathLengths(spark: SparkSession, g: PropertyGraph,
      nodeLabel: String, edgeLabel: String, landmarks: Seq[Any]): DataFrame = {
    import spark.implicits._
    val (gx, idMap) = toGraphX(g, nodeLabel, edgeLabel)
    idMap match {
      case None =>
        org.apache.spark.graphx.lib.ShortestPaths
          .run(gx, landmarks.map(_.asInstanceOf[Number].longValue))
          .vertices
          .flatMap { case (id, m) => m.map { case (lm, d) => (id, lm, d.toLong) } }
          .toDF("id", "landmark", "dist")
      case Some(m) =>
        // resolve landmark surrogates through the id map (few landmarks —
        // a filtered collect), then re-key BOTH result columns at the end
        val lmStrs = landmarks.map(String.valueOf)
        val vidToLm = m.filter(col("id").cast("string").isin(lmStrs: _*))
          .select(col("__vid"), col("id"))
          .collect().map(r => r.getLong(0) -> r.get(1)).toMap
        val res = org.apache.spark.graphx.lib.ShortestPaths
          .run(gx, vidToLm.keys.toSeq)
          .vertices
          .flatMap { case (id, mm) =>
            mm.map { case (lm, d) => (id, lm, d.toLong) } }
          .toDF("__vid", "__lmvid", "dist")
        val lmDf = spark.createDataFrame(
          spark.sparkContext.parallelize(vidToLm.toSeq.map {
            case (v, lm) => org.apache.spark.sql.Row(v, lm) }),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__lmvid2",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("landmark",
              m.schema("id").dataType))))
        joinBack(res, idMap)
          .join(broadcast(lmDf), col("__lmvid") === col("__lmvid2"))
          .select(col("id"), col("landmark"), col("dist"))
    }
  }
}
