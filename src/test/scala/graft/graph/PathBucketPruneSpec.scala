package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}
import graft.plans.BucketPrune

/** Frontier-driven bucket pruning through the var-length path loop
  * (r17 verdict #1): over a persisted graph whose edge table is
  * range-bucketed on the oriented join key, EACH level of
  * [[PropertyGraph.paths]] must read only the bucket directories the
  * current frontier can join into — pinned via the
  * [[PropertyGraph.lastPathPrune]] trace (bucket sets + executed
  * per-level plans carrying the `__ixb` partition filter) — while an
  * unseeded traversal saturates the gate and falls back to the
  * one-time full-edge checkpoint. Results must be identical with
  * pruning disabled, across all path semantics.
  */
class PathBucketPruneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  /** 4000-node chain 1→2→…→4000 persisted with edges_nx bucketed 8-way
    * on `src`: a seed's frontier advances one node per level, so every
    * level touches exactly one bucket of eight.
    */
  private def chainFixture(): PropertyGraph = {
    import spark.implicits._
    val wh = tempDir("pathbp").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i, i + 1)).toDF("eid", "src", "dst")
      .select(col("src"), col("dst"), col("eid"))
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
    cat.createSchema("pp")
    cat.createIndex("nx_src", "edges_nx", Seq("src"))
    cat.setIndexOption("nx_src", "buckets", "8")
    cat.saveGraph("pp", "chain", g, force = true)
    cat.loadGraph("pp", "chain")
  }

  private def collectPaths(g: PropertyGraph, start: Seq[Long], lo: Int,
      hi: Int, sem: PathSemantics = PathSemantics.Walk,
      dir: Direction = Direction.Out): Set[(Long, Long, Long, Seq[Long])] = {
    import spark.implicits._
    g.paths(start.toDF("start_id"), "nx", lo, hi, sem, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue(),
        r.getSeq[Long](3).toList: Seq[Long])).toSet
  }

  test("seeded traversal prunes every level to the frontier's buckets " +
      "and matches the unpruned run") {
    val g = chainFixture()
    val pruned = collectPaths(g, Seq(10L), 1, 4)
    val trace = PropertyGraph.lastPathPrune
    assert(trace.size == 4, s"expected 4 pruned levels, got ${trace.size}")
    trace.zipWithIndex.foreach { case ((ids, plan), lvl) =>
      assert(ids.size == 1,
        s"level $lvl touched buckets $ids — a chain frontier fits one")
      assert(plan.contains(BucketPrune.BucketCol),
        s"level $lvl scan carries no __ixb partition filter:\n$plan")
    }
    // the chain from 10: exactly one path per depth 1..4
    assert(pruned.map(p => (p._2, p._3)) ==
      (1L to 4L).map(d => (10L + d, d)).toSet)
    BucketPrune.enabled = false
    try assert(collectPaths(g, Seq(10L), 1, 4) == pruned)
    finally BucketPrune.enabled = true
    assert(PropertyGraph.lastPathPrune.isEmpty) // disabled → no trace
  }

  test("unseeded traversal saturates the gate and falls back whole") {
    import spark.implicits._
    val g = chainFixture()
    val all = (1L to 4000L)
    val pruned = g.paths(all.toDF("start_id"), "nx", 1, 2)
      .agg(count(lit(1)), sum("end_id")).collect().head
    // frontier covers all 8 buckets → pruning flips off before level 1
    assert(PropertyGraph.lastPathPrune.isEmpty)
    BucketPrune.enabled = false
    try {
      val full = g.paths(all.toDF("start_id"), "nx", 1, 2)
        .agg(count(lit(1)), sum("end_id")).collect().head
      assert(pruned == full)
    } finally BucketPrune.enabled = true
  }

  test("reverse (In) traversal over a src-clustered table skips pruning " +
      "but stays correct") {
    val g = chainFixture()
    val got = collectPaths(g, Seq(20L), 1, 3, dir = Direction.In)
    assert(PropertyGraph.lastPathPrune.isEmpty) // keyCol src != oriented dst
    assert(got.map(p => (p._2, p._3)) ==
      (1L to 3L).map(d => (20L - d, d)).toSet)
  }

  test("distributed bfs prunes each level to the frontier's buckets " +
      "and agrees with local + unpruned runs") {
    import spark.implicits._
    val g = chainFixture()
    def rows(limit: Long) =
      g.bfs(Seq(10L).toDF("root_id"), "nx", maxIter = 5,
          localEdgeLimit = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = rows(0L) // force the distributed loop
    val trace = PropertyGraph.lastBfsPrune
    assert(trace.nonEmpty && trace.forall(_.size == 1),
      s"expected 1-bucket levels, got $trace")
    assert(dist == (0L to 5L).map(d => (10L, 10L + d, d)).toSet)
    assert(rows(2000000L) == dist) // local adjacency path agrees
    graft.plans.BucketPrune.enabled = false
    try assert(rows(0L) == dist) // unpruned distributed loop agrees
    finally graft.plans.BucketPrune.enabled = true
    assert(PropertyGraph.lastBfsPrune.isEmpty)
  }

  test("unseeded distributed bfs saturates the bfs gate and falls back") {
    import spark.implicits._
    val g = chainFixture()
    val roots = (1L to 2000L).toDF("root_id")
    val n = g.bfs(roots, "nx", maxIter = 1, localEdgeLimit = 0L).count()
    // first-level frontier covers all 8 buckets → trace stops at the
    // saturating collect (recorded once, then the full checkpoint runs)
    assert(PropertyGraph.lastBfsPrune.size <= 1)
    graft.plans.BucketPrune.enabled = false
    try assert(g.bfs(roots, "nx", maxIter = 1, localEdgeLimit = 0L)
      .count() == n)
    finally graft.plans.BucketPrune.enabled = true
  }

  test("GQL var-length route reaches the pruned loop (compiler wiring, " +
      "gql36's shape)") {
    import spark.implicits._
    val wh = tempDir("pathbp-gql").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i + 1, i)).toDF("src", "dst", "eid")
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("NX" -> (EdgeType("NX", "n", "n"), edges)))
    val sess = gls.session("driver").useGraph(g)
    sess.execute("CREATE SCHEMA IF NOT EXISTS /pbq")
    sess.execute("CREATE GRAPH INDEX pbq_src ON edges_NX (src)")
    sess.execute("ALTER INDEX pbq_src SET OPTION buckets = 8")
    sess.saveGraphAs("/pbq/chain", force = true)
    val q = gls.session("driver").useGraph("/pbq/chain")
    val rows = q.gql("MATCH (a:n {id: 10})-[:NX*1..4]->(b:n) " +
        "RETURN count(b) AS c, min(b.id) AS lo, max(b.id) AS hi")
      .collect().head
    assert((rows.getLong(0), rows.getLong(1), rows.getLong(2)) ==
      (4L, 11L, 14L))
    // the compiled var-length hop must have run the PRUNED loop — a
    // silent wiring regression (e.g. the session handing paths() a
    // graph without its origin) would pass on values but fail here
    val trace = PropertyGraph.lastPathPrune
    assert(trace.size == 4 && trace.forall(_._1.size == 1),
      s"GQL route lost per-level pruning: ${trace.map(_._1)}")
  }

  test("pruned vs unpruned parity on random graphs across semantics " +
      "(seeded mini-fuzz)") {
    import spark.implicits._
    val seed = sys.env.getOrElse("GRAFT_PATHBP_FUZZ_SEED", "20260818").toLong
    val rnd = new scala.util.Random(seed)
    val wh = tempDir("pathbpf").toString
    val cat = new GraphCatalog(spark, wh)
    cat.createSchema("pf")
    for (c <- 1 to 6) {
      val n = 40 + rnd.nextInt(40)
      val nodes = (1L to n.toLong).toDF("id")
      // dense-ish random edges incl. cycles and parallel edges
      val es = (1L to (n * 2).toLong).map { i =>
        (i, rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }
      val edges = es.toDF("eid", "src", "dst")
        .select(col("src"), col("dst"), col("eid"))
      val g0 = new PropertyGraph(Map("n" -> nodes),
        Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
      cat.createIndex(s"nxf$c", "edges_nx", Seq("src"))
      cat.setIndexOption(s"nxf$c", "buckets", "4")
      cat.saveGraph("pf", s"g$c", g0, force = true)
      val g = cat.loadGraph("pf", s"g$c")
      val starts = Seq.fill(1 + rnd.nextInt(2))(rnd.nextInt(n).toLong + 1)
      val sem = Seq(PathSemantics.Walk, PathSemantics.Trail,
        PathSemantics.Acyclic)(rnd.nextInt(3))
      val lo = rnd.nextInt(2)
      val hi = lo + 1 + rnd.nextInt(3)
      val a = collectPaths(g, starts.distinct, lo, hi, sem)
      BucketPrune.enabled = false
      val b = try collectPaths(g, starts.distinct, lo, hi, sem)
        finally { BucketPrune.enabled = true }
      assert(a == b, s"case $c diverged (sem=$sem lo=$lo hi=$hi " +
        s"starts=$starts seed=$seed)")
      cat.dropIndex(s"nxf$c")
    }
  }
}
