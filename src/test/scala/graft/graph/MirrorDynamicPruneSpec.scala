package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}
import graft.plans.BucketDynamicPrune

/** Mirror-aware RUNTIME pruning (r19 verdict #1/#5): an equi-join whose
  * key resolves to the NON-clustered endpoint of a mirrored edge table
  * — a seeded reverse 1-hop, or the reverse-keyed second scan of an
  * edge→edge chain — must be served from the dual layout: the scan
  * re-points at `.mirror_edges_*` and a DynamicPruningSubquery keyed on
  * the seed frame lands on the mirror's `__ixb`, so the hop reads
  * O(seed buckets) instead of O(|E|). Static predicates stay
  * [[graft.plans.MirrorSwap]]'s job; this covers the join-seeded keys no
  * static rule can see.
  */
class MirrorDynamicPruneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  /** 4000-edge chain clustered on `src` with the dst-keyed mirror. */
  private def fixture(name: String, mirror: Boolean = true): PropertyGraph = {
    import spark.implicits._
    val wh = tempDir(s"mdpp-$name").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i, i + 1)).toDF("eid", "src", "dst")
      .select(col("src"), col("dst"), col("eid"))
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
    cat.createSchema("md")
    cat.createIndex(s"md_src_$name", "edges_nx", Seq("src"))
    cat.setIndexOption(s"md_src_$name", "buckets", "8")
    if (mirror) cat.setIndexOption(s"md_src_$name", "mirror", "true")
    cat.saveGraph("md", "chain", g, force = true)
    val loaded = cat.loadGraph("md", "chain")
    cat.dropIndex(s"md_src_$name")
    loaded
  }

  // the seed filter below is a MODULO predicate on purpose: a literal
  // IN-list would propagate through the join as a static dst constraint
  // (InferFiltersFromConstraints) and MirrorSwap + BucketPrune would
  // prune it STATICALLY — the right outcome for literals, but this spec
  // exercises the runtime path, whose seed values no static rule can map
  test("join-seeded reverse hop swaps to the mirror with a dynamic " +
      "__ixb subquery") {
    val g = fixture("seed")
    val e = g.edgeTables("nx")._2
    val n = g.nodeTables("n")
    val seeds = n.filter(pmod(col("id"), lit(997L)) === 0L)
      .select(col("id").as("seed_id")) // 997, 1994, 2991, 3988
    val q = seeds.join(e, col("seed_id") === col("dst"))
      .select("seed_id", "src", "eid")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(".mirror_edges_nx"),
      s"seeded reverse hop not re-pointed at the mirror:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"no dynamic pruning subquery on the swapped scan:\n$plan")
    val rows = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((997L, 996L, 996L), (1994L, 1993L, 1993L),
      (2991L, 2990L, 2990L), (3988L, 3987L, 3987L)))
    // A/B: identical rows with the rule off, and no mirror in the plan
    // (the modulo seed is invisible to the static rules)
    BucketDynamicPrune.enabled = false
    try {
      val q2 = seeds.join(e, col("seed_id") === col("dst"))
        .select("seed_id", "src", "eid")
      assert(!q2.queryExecution.executedPlan.toString
        .contains(".mirror_edges_nx"))
      assert(q2.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == rows)
    } finally BucketDynamicPrune.enabled = true
  }

  test("forward-keyed seeded hop (main layout serves it) does NOT swap") {
    val g = fixture("fwd")
    val e = g.edgeTables("nx")._2
    val n = g.nodeTables("n")
    val seeds = n.filter(pmod(col("id"), lit(997L)) === 0L)
      .select(col("id").as("seed_id"))
    val q = seeds.join(e, col("seed_id") === col("src"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains(".mirror_edges_nx"),
      s"main-served join must not move to the mirror:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"main-side DPP should still fire:\n$plan")
    assert(q.count() == 4L)
  }

  test("no mirror configured → no swap; unselective seed side → no swap") {
    val g = fixture("nom", mirror = false)
    val e = g.edgeTables("nx")._2
    val n = g.nodeTables("n")
    val seeds = n.filter(col("id") === 55L).select(col("id").as("seed_id"))
    val q = seeds.join(e, col("seed_id") === col("dst"))
    assert(!q.queryExecution.executedPlan.toString
      .contains(".mirror_edges_nx"))
    assert(q.count() == 1L)

    val g2 = fixture("unsel")
    val e2 = g2.edgeTables("nx")._2
    val all = g2.nodeTables("n").select(col("id").as("seed_id"))
    val q2 = all.join(e2, col("seed_id") === col("dst"))
    assert(!q2.queryExecution.executedPlan.toString
      .contains(".mirror_edges_nx"),
      "an unselective build side must not trigger the swap")
    assert(q2.count() == 3999L)
  }

  test("GQL edge→edge chain: the reverse-keyed second hop prunes " +
      "through the mirror at runtime") {
    import spark.implicits._
    val wh = tempDir("mdpp-gql").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i + 1, i)).toDF("src", "dst", "eid")
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("NX" -> (EdgeType("NX", "n", "n"), edges)))
    val sess = gls.session("driver").useGraph(g)
    sess.execute("CREATE SCHEMA IF NOT EXISTS /mdq")
    sess.execute("CREATE GRAPH INDEX mdq_src ON edges_NX (src)")
    sess.execute("ALTER INDEX mdq_src SET OPTION buckets = 8")
    sess.execute("ALTER INDEX mdq_src SET OPTION mirror = true")
    sess.saveGraphAs("/mdq/chain", force = true)
    val q = gls.session("driver").useGraph("/mdq/chain")
    // x --r1--> b <--r2-- a : r2's scan is keyed on its dst (= b), a
    // RUNTIME value from r1's match — only the mirror can prune it
    val df = q.gql("MATCH (x:n {id: 2000})-[r1:NX]->(b:n)<-[r2:NX]-(a:n) " +
      "RETURN count(*) AS c, min(a.id) AS a_min")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(".mirror_edges_NX"),
      s"chained reverse hop not served by the mirror:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"no dynamic pruning subquery in the chained plan:\n$plan")
    val row = df.collect().head
    // b = 2001; a --r2--> b means a = 2000 (the chain's only in-edge)
    assert((row.getLong(0), row.getLong(1)) == (1L, 2000L))
    // parity with the rule off
    BucketDynamicPrune.enabled = false
    try {
      val off = q.gql("MATCH (x:n {id: 2000})-[r1:NX]->(b:n)<-[r2:NX]-(a:n) " +
        "RETURN count(*) AS c, min(a.id) AS a_min").collect().head
      assert((off.getLong(0), off.getLong(1)) == (1L, 2000L))
    } finally BucketDynamicPrune.enabled = true
  }

  test("parity fuzz: random seeded reverse joins match the rule-off " +
      "answer on random graphs") {
    import spark.implicits._
    val seed = sys.env.getOrElse("GRAFT_MDPP_FUZZ_SEED", "20260816").toLong
    val rnd = new scala.util.Random(seed)
    val wh = tempDir("mdppf").toString
    val cat = new GraphCatalog(spark, wh)
    cat.createSchema("mdf")
    for (c <- 1 to 4) {
      val n = 60 + rnd.nextInt(60)
      val nodes = (1L to n.toLong).toDF("id")
      val es = (1L to (n * 2).toLong).map { i =>
        (i, rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }
      val edges = es.toDF("eid", "src", "dst")
        .select(col("src"), col("dst"), col("eid"))
      val g0 = new PropertyGraph(Map("n" -> nodes),
        Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
      cat.createIndex(s"mdf$c", "edges_nx", Seq("src"))
      cat.setIndexOption(s"mdf$c", "buckets", "4")
      cat.setIndexOption(s"mdf$c", "mirror", "true")
      cat.saveGraph("mdf", s"g$c", g0, force = true)
      val g = cat.loadGraph("mdf", s"g$c")
      val e = g.edgeTables("nx")._2
      // alternate literal seeds (static MirrorSwap path) and modulo
      // seeds (runtime DPP path) so both swap mechanisms get fuzzed
      val seedDesc = new StringBuilder
      val seeds = (if (c % 2 == 0) {
        val ids = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(n).toLong + 1)
        seedDesc ++= s"in:$ids"
        g.nodeTables("n").filter(col("id").isin(ids.map(x => x: Any): _*))
      } else {
        val m = 7L + rnd.nextInt(13)
        val r = rnd.nextInt(m.toInt).toLong
        seedDesc ++= s"mod:$m=$r"
        g.nodeTables("n").filter(pmod(col("id"), lit(m)) === r)
      }).select(col("id").as("seed_id"))
      def rows() = seeds.join(e, col("seed_id") === col("dst"))
        .select("seed_id", "src", "eid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val a = rows()
      BucketDynamicPrune.enabled = false
      val b = try rows() finally { BucketDynamicPrune.enabled = true }
      assert(a == b, s"case $c diverged (seed=$seed pred=$seedDesc)")
      cat.dropIndex(s"mdf$c")
    }
  }
}
