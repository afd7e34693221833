package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for multi-source BFS (r18 — the bfs loop gained
  * the stats gate, per-level bucket pruning, and 1-vs-2-step batching
  * this round): random graphs (cycles, self-loops, parallel edges,
  * disconnected nodes), random directions and iteration caps, engine
  * vs a ~15-line model BFS — across the LOCAL adjacency path, the
  * DISTRIBUTED loop (localEdgeLimit = 0), and, for persisted bucketed
  * graphs, the distributed loop with per-level frontier pruning.
  *
  * Seed env-tunable via GRAFT_BFS_FUZZ_SEED, cases via GRAFT_BFS_FUZZ_N.
  */
class BfsDifferentialFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private val seed =
    sys.env.getOrElse("GRAFT_BFS_FUZZ_SEED", "20260820").toLong
  private val nCases =
    sys.env.getOrElse("GRAFT_BFS_FUZZ_N", "8").toInt

  /** Model: per-root BFS distances over an oriented adjacency map. */
  private def model(n: Int, edges: Seq[(Long, Long)], roots: Seq[Long],
      maxIter: Int, dir: Direction): Set[(Long, Long, Long)] = {
    val oriented: Seq[(Long, Long)] = dir match {
      case Direction.Out => edges
      case Direction.In => edges.map(_.swap)
      case Direction.Both => edges ++ edges.map(_.swap)
    }
    val adj = oriented.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    roots.distinct.flatMap { r =>
      val dist = scala.collection.mutable.Map(r -> 0L)
      var frontier = List(r)
      var d = 1L
      while (d <= maxIter && frontier.nonEmpty) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Seq.empty))
          .filterNot(dist.contains).distinct
        frontier.foreach(v => dist(v) = d)
        d += 1
      }
      dist.map { case (v, dd) => (r, v, dd) }
    }.toSet
  }

  test(s"bfs matches the model across local/distributed/pruned paths " +
      s"(seed=$seed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val wh = tempDir("bfsfuzz").toString
    val cat = new GraphCatalog(spark, wh)
    cat.createSchema("bf")
    for (c <- 1 to nCases) {
      val n = 15 + rnd.nextInt(25)
      val es: Seq[(Long, Long)] = (1 to n * 2).map { _ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }.distinct
      val g0 = new PropertyGraph(
        Map("n" -> (1L to n.toLong).toDF("id")),
        Map("E" -> (EdgeType("E", "n", "n"),
          es.zipWithIndex.map { case ((s, d), i) => (s, d, i.toLong) }
            .toDF("src", "dst", "eid"))))
      val dir = Seq(Direction.Out, Direction.In,
        Direction.Both)(rnd.nextInt(3))
      val maxIter = 1 + rnd.nextInt(5)
      val roots = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(n).toLong + 1)
      val want = model(n, es, roots, maxIter, dir)
      def got(g: PropertyGraph, limit: Long) =
        g.bfs(roots.distinct.toDF("root_id"), "E", maxIter, dir,
            localEdgeLimit = limit)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
      assert(got(g0, 2000000L) == want, s"case $c LOCAL diverged (dir=$dir)")
      assert(got(g0, 0L) == want, s"case $c DISTRIBUTED diverged (dir=$dir)")
      // persisted + bucketed on src: the pruned distributed loop (or its
      // In/Both skip arm) must agree too
      cat.createIndex(s"bf$c", "edges_E", Seq("src"))
      cat.setIndexOption(s"bf$c", "buckets", "4")
      cat.saveGraph("bf", s"g$c", g0, force = true)
      val lg = cat.loadGraph("bf", s"g$c")
      assert(got(lg, 0L) == want, s"case $c PRUNED diverged (dir=$dir)")
      cat.dropIndex(s"bf$c")
    }
  }
}
