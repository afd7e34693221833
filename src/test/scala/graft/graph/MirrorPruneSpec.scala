package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}
import graft.plans.BucketPrune

/** The dual-keyed MIRROR layout (r18 verdict #1 → r19): an edge dataset
  * whose bucketed index carries `mirror = true` persists a second copy
  * clustered on the OTHER endpoint (`.mirror_edges_<label>/`), the
  * warehouse analog of the reference keeping BOTH adjacency_out and
  * adjacency_in indexed (graph_cache.rs:16-38). With it:
  *  - `Direction.Both` traversals prune BOTH orientation branches per
  *    level (previously hard-disabled — one clustered key served one
  *    orientation, so an undirected seeded traversal read O(|E|));
  *  - the orientation OPPOSITE the main clustered key (In over a
  *    src-clustered table) prunes through the mirror;
  *  - incremental saves maintain the mirror bucket-scoped, and a DIRTY
  *    dataset never substitutes the (stale) persisted mirror.
  */
class MirrorPruneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  /** 4000-node chain 1→2→…→4000, edges_nx bucketed 8-way on `src` WITH
    * the dst-keyed mirror. Edges carry a mutable `w` property so a DML
    * can touch one edge without a schema change (the bucket-scoped
    * gate's precondition).
    */
  private def chainFixture(): (GraphCatalog, PropertyGraph) = {
    import spark.implicits._
    val wh = tempDir("mirror").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i, i + 1, 0.0))
      .toDF("eid", "src", "dst", "w")
      .select(col("src"), col("dst"), col("eid"), col("w"))
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
    cat.createSchema("mp")
    cat.createIndex("mx_src", "edges_nx", Seq("src"))
    cat.setIndexOption("mx_src", "buckets", "8")
    cat.setIndexOption("mx_src", "mirror", "true")
    cat.saveGraph("mp", "chain", g, force = true)
    (cat, cat.loadGraph("mp", "chain"))
  }

  private def collectPaths(g: PropertyGraph, start: Seq[Long], lo: Int,
      hi: Int, sem: PathSemantics = PathSemantics.Walk,
      dir: Direction = Direction.Both): Set[(Long, Long, Long, Seq[Long])] = {
    import spark.implicits._
    g.paths(start.toDF("start_id"), "nx", lo, hi, sem, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue(),
        r.getSeq[Long](3).toList: Seq[Long])).toSet
  }

  test("save with mirror = true persists a dst-clustered mirror holding " +
      "the same rows") {
    val (cat, g) = chainFixture()
    val dir = s"${g.origin.get}/${GraphCatalog.MirrorPrefix}edges_nx"
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      s"no mirror dir at $dir")
    val mir = spark.read.parquet(dir)
    assert(mir.columns.contains("__ixb"), "mirror not bucketed")
    val a = mir.select("src", "dst", "eid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = g.edgeTables("nx")._2.select("src", "dst", "eid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "mirror rows diverge from the main layout")
  }

  test("seeded Both traversal prunes every level through main + mirror " +
      "and matches the unpruned run") {
    val (_, g) = chainFixture()
    val pruned = collectPaths(g, Seq(10L), 1, 4)
    val trace = PropertyGraph.lastPathPrune
    assert(trace.size == 4, s"expected 4 pruned levels, got ${trace.size}")
    trace.zipWithIndex.foreach { case ((ids, plan), lvl) =>
      assert(ids.nonEmpty && ids.size <= 2,
        s"level $lvl touched buckets $ids — a chain frontier fits " +
          "one bucket per orientation branch")
      assert(plan.contains(BucketPrune.BucketCol),
        s"level $lvl scan carries no __ixb partition filter:\n$plan")
    }
    BucketPrune.enabled = false
    try assert(collectPaths(g, Seq(10L), 1, 4) == pruned)
    finally BucketPrune.enabled = true
    assert(PropertyGraph.lastPathPrune.isEmpty)
    // sanity against the topology itself: depth-1 ends are the chain
    // neighbors of 10
    assert(pruned.filter(_._3 == 1L).map(_._2) == Set(9L, 11L))
  }

  test("In traversal over a src-clustered table prunes through the " +
      "mirror (previously skipped)") {
    val (_, g) = chainFixture()
    val got = collectPaths(g, Seq(20L), 1, 3, dir = Direction.In)
    assert(PropertyGraph.lastPathPrune.size == 3,
      s"mirror-served In traversal lost pruning: " +
        s"${PropertyGraph.lastPathPrune.map(_._1)}")
    assert(got.map(p => (p._2, p._3)) ==
      (1L to 3L).map(d => (20L - d, d)).toSet)
  }

  test("unseeded Both traversal saturates and falls back whole") {
    import spark.implicits._
    val (_, g) = chainFixture()
    val all = (1L to 4000L)
    val pruned = g.paths(all.toDF("start_id"), "nx", 1, 2,
        PathSemantics.Walk, Direction.Both)
      .agg(count(lit(1)), sum("end_id")).collect().head
    assert(PropertyGraph.lastPathPrune.isEmpty)
    BucketPrune.enabled = false
    try {
      val full = g.paths(all.toDF("start_id"), "nx", 1, 2,
          PathSemantics.Walk, Direction.Both)
        .agg(count(lit(1)), sum("end_id")).collect().head
      assert(pruned == full)
    } finally BucketPrune.enabled = true
  }

  test("distributed Both bfs prunes per level and agrees with local + " +
      "unpruned runs") {
    import spark.implicits._
    val (_, g) = chainFixture()
    def rows(limit: Long) =
      g.bfs(Seq(10L).toDF("root_id"), "nx", maxIter = 4,
          direction = Direction.Both, localEdgeLimit = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = rows(0L)
    val trace = PropertyGraph.lastBfsPrune
    assert(trace.nonEmpty && trace.forall(s => s.nonEmpty && s.size <= 2),
      s"expected ≤2-bucket levels, got $trace")
    // chain Both-BFS from 10: both directions, one node per side per level
    val expect = (0L to 4L).flatMap(d =>
      Set(10L - d, 10L + d).map(v => (10L, v, d))).toSet
    assert(dist == expect)
    assert(rows(2000000L) == dist) // local adjacency path agrees
    BucketPrune.enabled = false
    try assert(rows(0L) == dist)
    finally BucketPrune.enabled = true
  }

  test("a dirty edge dataset never substitutes the persisted mirror") {
    val (_, g) = chainFixture()
    // simulate an in-session mutation: same frames, dirty-marked dataset
    val dirtied = new PropertyGraph(g.nodeTables, g.edgeTables, g.origin,
      Some(Set("edges_nx")))
    val got = collectPaths(dirtied, Seq(10L), 1, 2)
    assert(PropertyGraph.lastPathPrune.isEmpty,
      "dirty dataset must not prune through the mirror")
    val clean = collectPaths(g, Seq(10L), 1, 2)
    assert(got == clean)
  }

  test("incremental edge DML maintains the mirror bucket-scoped and " +
      "traversals stay correct after reload") {
    import spark.implicits._
    val wh = tempDir("mirror-gls").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i, i + 1, 0.0))
      .toDF("eid", "src", "dst", "w")
      .select(col("src"), col("dst"), col("eid"), col("w"))
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
    val sess = gls.session("driver").useGraph(g)
    sess.execute("CREATE SCHEMA IF NOT EXISTS /mp")
    sess.execute("CREATE GRAPH INDEX mx_dml ON edges_nx (src)")
    sess.execute("ALTER INDEX mx_dml SET OPTION buckets = 8")
    sess.execute("ALTER INDEX mx_dml SET OPTION mirror = true")
    sess.saveGraphAs("/mp/chain", force = true)
    val cat = gls.catalog
    val before = collectPaths(cat.loadGraph("mp", "chain"), Seq(100L), 1, 3)
    val t = gls.session("driver").useGraph("/mp/chain")
    t.execute("MATCH (a:n {id: 5})-[r:nx]->(b:n) SET r.w = 1.0")
    t.saveGraphAs("/mp/chain") // incremental → bucket-scoped
    val stages = GraphCatalog.lastSaveStages.map(_._1)
    assert(stages.exists(_ == "write:edges_nx:bucket_scoped"),
      s"main layout not bucket-scoped: $stages")
    assert(stages.exists(
      _ == s"write:${GraphCatalog.MirrorPrefix}edges_nx:bucket_scoped"),
      s"mirror not bucket-scoped: $stages")
    val g1 = cat.loadGraph("mp", "chain")
    // mirror content still equals the main layout
    val dir = s"${g1.origin.get}/${GraphCatalog.MirrorPrefix}edges_nx"
    val mir = spark.read.parquet(dir).select("src", "dst", "eid", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val main = g1.edgeTables("nx")._2.select("src", "dst", "eid", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(mir == main, "mirror diverged from main after scoped save")
    assert(mir.exists(r => r._1 == 5L && r._4 == 1.0), "DML lost")
    // Both traversal over the re-loaded graph still prunes and matches
    val after = collectPaths(g1, Seq(100L), 1, 3)
    assert(PropertyGraph.lastPathPrune.size == 3)
    assert(after == before) // the w property does not change topology
  }

  test("GQL undirected var-length route reaches the two-branch pruned " +
      "loop (compiler wiring, gql37's shape)") {
    import spark.implicits._
    val wh = tempDir("mirror-gql").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i + 1, i)).toDF("src", "dst", "eid")
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("NX" -> (EdgeType("NX", "n", "n"), edges)))
    val sess = gls.session("driver").useGraph(g)
    sess.execute("CREATE SCHEMA IF NOT EXISTS /mbq")
    sess.execute("CREATE GRAPH INDEX mbq_src ON edges_NX (src)")
    sess.execute("ALTER INDEX mbq_src SET OPTION buckets = 8")
    sess.execute("ALTER INDEX mbq_src SET OPTION mirror = true")
    sess.saveGraphAs("/mbq/chain", force = true)
    val q = gls.session("driver").useGraph("/mbq/chain")
    val rows = q.gql("MATCH (a:n {id: 10})-[:NX*1..2]-(b:n) " +
        "RETURN count(b) AS c, min(b.id) AS lo, max(b.id) AS hi")
      .collect().head
    // undirected WALK from 10 over the chain: depth1 {9,11}, depth2
    // {8,10,10,12} — 6 paths, ends 8..12
    assert((rows.getLong(0), rows.getLong(1), rows.getLong(2)) ==
      (6L, 8L, 12L))
    // the compiled undirected hop must have run the TWO-BRANCH pruned
    // loop — a wiring regression (session handing paths() a graph
    // without origin, or the mirror spec not registering on load)
    // would pass on values but fail here
    val trace = PropertyGraph.lastPathPrune
    assert(trace.size == 2 &&
      trace.forall { case (ids, plan) =>
        ids.nonEmpty && ids.size <= 2 &&
          plan.linesIterator.count(l =>
            l.contains("PartitionFilters") && l.contains("__ixb")) >= 2
      },
      s"GQL undirected route lost two-branch pruning: ${trace.map(_._1)}")
  }

  test("pruned vs unpruned Both/In parity on random graphs (seeded " +
      "mini-fuzz)") {
    import spark.implicits._
    val seed = sys.env.getOrElse("GRAFT_MIRROR_FUZZ_SEED", "20260816").toLong
    val rnd = new scala.util.Random(seed)
    val wh = tempDir("mirrorf").toString
    val cat = new GraphCatalog(spark, wh)
    cat.createSchema("mf")
    for (c <- 1 to 5) {
      val n = 40 + rnd.nextInt(40)
      val nodes = (1L to n.toLong).toDF("id")
      val es = (1L to (n * 2).toLong).map { i =>
        (i, rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }
      val edges = es.toDF("eid", "src", "dst")
        .select(col("src"), col("dst"), col("eid"))
      val g0 = new PropertyGraph(Map("n" -> nodes),
        Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
      cat.createIndex(s"mf$c", "edges_nx", Seq("src"))
      cat.setIndexOption(s"mf$c", "buckets", "4")
      cat.setIndexOption(s"mf$c", "mirror", "true")
      cat.saveGraph("mf", s"g$c", g0, force = true)
      val g = cat.loadGraph("mf", s"g$c")
      val starts = Seq.fill(1 + rnd.nextInt(2))(rnd.nextInt(n).toLong + 1)
      val sem = Seq(PathSemantics.Walk, PathSemantics.Trail,
        PathSemantics.Acyclic)(rnd.nextInt(3))
      val dir = Seq(Direction.Both, Direction.In)(rnd.nextInt(2))
      val lo = rnd.nextInt(2)
      val hi = lo + 1 + rnd.nextInt(3)
      val a = collectPaths(g, starts.distinct, lo, hi, sem, dir)
      BucketPrune.enabled = false
      val b = try collectPaths(g, starts.distinct, lo, hi, sem, dir)
        finally { BucketPrune.enabled = true }
      assert(a == b, s"case $c diverged (sem=$sem dir=$dir lo=$lo hi=$hi " +
        s"starts=$starts seed=$seed)")
      cat.dropIndex(s"mf$c")
    }
  }
}
