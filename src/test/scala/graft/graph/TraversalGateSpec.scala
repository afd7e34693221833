package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import graft.{SparkFixture, TempDirs}

/** The traversal local-fast-path gate must not pay a full count job per
  * call on large graphs (r17 watch item #1): statistics that already
  * prove the edge frame over the limit skip straight to the distributed
  * path with ZERO jobs, small frames count exactly ONCE (memoized), and
  * the gate's decision never changes traversal results. A seeded hop's
  * gate is its adjacency lookup: one bounded job collects the seed's
  * edges, and past the bound the hop keeps its join plan.
  */
class TraversalGateSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int =
    graft.obs.ExecStats.during(spark.sparkContext)(body)._2.jobs

  /** A chain graph persisted to parquet so the edge frame carries real
    * (file-size) Catalyst statistics — 3000 edges is tiny on disk but
    * far beyond a limit of 10, which is the shape the gate must decide
    * WITHOUT scanning: stats alone prove "too big for the driver".
    */
  private def parquetGraph(): (PropertyGraph, java.nio.file.Path) = {
    import spark.implicits._
    val dir = tempDir("gate")
    val n = 3000L
    (0L until n).toDF("id").write.parquet(s"$dir/nodes")
    (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst")
      .write.parquet(s"$dir/edges")
    val g = new PropertyGraph(
      Map("n" -> spark.read.parquet(s"$dir/nodes")),
      Map("E" -> (EdgeType("E", "n", "n"),
        spark.read.parquet(s"$dir/edges"))))
    (g, dir)
  }

  test("stats-proven-big edge frame gates with ZERO Spark jobs") {
    val (g, _) = parquetGraph()
    var got = 0L
    val jobs = jobsDuring { got = g.edgeCountOrBig("E", limit = 10L) }
    assert(got == g.EdgeCountBig)
    assert(jobs == 0,
      s"gate ran $jobs job(s) — large graphs must decide from stats alone")
    // and the exact-count memo was never populated (count() never ran)
    assert(g.edgeCountCache.isEmpty)
  }

  test("small / unknown-stats edge frame counts exactly once, memoized") {
    import spark.implicits._
    // in-memory frame: LogicalRDD default stats are the UNKNOWN
    // sentinel, so the gate falls back to an exact count
    val edges = (0L until 500L).map(i => (i, i + 1)).toDF("src", "dst")
    val g = new PropertyGraph(
      Map("n" -> (0L to 500L).toDF("id")),
      Map("E" -> (EdgeType("E", "n", "n"), edges)))
    val first = jobsDuring { assert(g.edgeCountOrBig("E", 2000000L) == 500L) }
    assert(first > 0) // the one-time exact count
    val second = jobsDuring { assert(g.edgeCountOrBig("E", 2000000L) == 500L) }
    assert(second == 0, "second gate call must serve from the memo")
  }

  test("gate decision never changes bfs / connectedComponents results") {
    import spark.implicits._
    val (g, _) = parquetGraph()
    val sources = Seq(0L, 1500L).toDF("root_id")
    // limit=10: stats-big → distributed loop; limit=2M: exact count →
    // local adjacency walk. Same rows either way.
    def bfsRows(limit: Long) =
      g.bfs(sources, "E", maxIter = 3, localEdgeLimit = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bfsRows(10L) == bfsRows(2000000L))
    def ccRows(limit: Long) =
      Analytics.connectedComponents(spark, g, "n", "E", localEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = ccRows(10L)
    assert(cc == ccRows(2000000L))
    assert(cc.forall(_._2 == 0L)) // one chain → one component labeled 0
  }

  // ---- seeded hops: `(s:L {id: K})-[:T]->(d)` as an adjacency lookup

  /** A persisted customer/orders/PLACED graph in the write benchmark's
    * layout (PLACED bucketed on src, orders on id); customer 1 placed
    * more orders than a lookup holds.
    */
  private lazy val shop: String = {
    import spark.implicits._
    val wh = tempDir("seeded").toString
    val hub = KeyIn.Limit + 50
    val customers = (1L to 300L).map(i => (i, s"c$i", i * 1.5))
      .toDF("id", "name", "acctbal")
    val orders = (1L to 600L + hub).map(i => (10000L + i, i * 2.0))
      .toDF("id", "totalprice")
    val placed = ((1L to 600L).map(i => (i % 299 + 2, 10000L + i, i, i % 7)) ++
      (601L to 600L + hub).map(i => (1L, 10000L + i, i, i % 7)))
      .toDF("src", "dst", "eid", "qty")
    val g = new PropertyGraph(Map("customer" -> customers, "orders" -> orders),
      Map("PLACED" -> (EdgeType("PLACED", "customer", "orders"), placed)))
    val w = graft.GraphLiteSpark.open(spark, wh).session("w").useGraph(g)
    Seq("sh_p" -> "edges_PLACED (src)", "sh_o" -> "nodes_orders (id)").foreach {
      case (ix, on) =>
        w.execute(s"CREATE GRAPH INDEX $ix ON $on")
        w.execute(s"ALTER INDEX $ix SET OPTION buckets = 4")
    }
    w.saveGraphAs("/shop/g", force = true)
    wh
  }

  /** Every node of a physical plan, through adaptive query stages. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case q: QueryStageExec => nodesOf(q.plan)
    case _ => p.children.flatMap(nodesOf)
  })

  private def shopSession(): graft.GqlSession =
    graft.GraphLiteSpark.open(spark, shop).session("s").useGraph("/shop/g")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Whether `df` reads none of the graph's edge tables (its first hop
    * joined collected rows instead). */
  private def looksUp(g: PropertyGraph, df: org.apache.spark.sql.DataFrame): Boolean = {
    val edges = g.edgeTables.values.toSeq
      .flatMap(_._2.queryExecution.analyzed.collectLeaves())
    !df.queryExecution.analyzed.collectLeaves().exists(l => edges.exists(_.sameResult(l)))
  }

  /** `q` through the session (an executing compile) and as a join plan
    * over the same graph: the rows, and whether the session looked up. */
  private def bothWays(s: graft.GqlSession, q: String): (Set[Seq[Any]], Set[Seq[Any]], Boolean) = {
    val df = s.gql(q)
    val plan = new graft.gql.Compiler(s.graph, s.parameters)
      .compile(graft.gql.Parser.parse(q))
    assert(!looksUp(s.graph, plan))
    (rows(df), rows(plan), looksUp(s.graph, df))
  }

  private val hopQ = (k: Any) => s"MATCH (c:customer {id: $k})-[p:PLACED]->(o:orders) " +
    "RETURN count(p) AS n, max(o.totalprice) AS mx"

  test("a seeded hop's lookup equals its join plan, clean and mutated, " +
      "-> and <-, with a $param seed, an edge predicate and absent ids") {
    val s = shopSession()
    s.setParameter("k", 7L)
    val queries = Seq(hopQ(2), hopQ(150), hopQ("$k"), hopQ(999999),
      "MATCH (o:orders {id: 10005})<-[p:PLACED]-(c:customer) " +
        "RETURN c.id AS c, c.acctbal AS b, p.eid AS e",
      "MATCH (c:customer {id: 3})-[p:PLACED {qty: 2}]->(o:orders) " +
        "RETURN o.id AS o, o.totalprice AS tp",
      "MATCH (c:customer {id: 4})-[p:PLACED]->(o) RETURN o.id AS o")
    def check(): Unit = queries.foreach { q =>
      val (got, want, lookedUp) = bothWays(s, q)
      assert(lookedUp, s"no lookup for $q")
      assert(got == want, s"$q: lookup $got != join plan $want")
    }
    check()
    s.execute("MATCH (c:customer {id: 2}) SET c.acctbal = 0.5")
    s.execute("INSERT (:orders {id: 900001, totalprice: 7.0})")
    s.execute("MATCH (c:customer {id: 2}), (o:orders {id: 900001}) " +
      "INSERT (c)-[:PLACED {qty: 2}]->(o)")
    s.execute("MATCH (o:orders {id: 10302}) DETACH DELETE o")
    check()
    assert(bothWays(s, hopQ(2))._1 == Set(Seq(3L, 1196.0)))
    // a DETACH-deleted seed has no edges left
    s.execute("MATCH (c:customer {id: 150}) DETACH DELETE c")
    val (got, want, _) = bothWays(s, hopQ(150))
    assert(got == Set(Seq(0L, null)) && got == want)
  }

  test("string ids, a start label off the edge type, and a seed with more " +
      "edges than a lookup holds keep today's answers") {
    import spark.implicits._
    val people = Seq(("p1", "ann"), ("p2", "bob"), ("p3", "cy")).toDF("id", "name")
    val knows = Seq(("p1", "p2", "k1"), ("p1", "p3", "k2"), ("p2", "p3", "k3"))
      .toDF("src", "dst", "eid")
    val g = new PropertyGraph(Map("P" -> people),
      Map("KNOWS" -> (EdgeType("KNOWS", "P", "P"), knows)))
    val t = graft.GraphLiteSpark.open(spark, tempDir("seeded-str").toString)
      .session("t").useGraph(g)
    val (got, want, lookedUp) =
      bothWays(t, "MATCH (a:P {id: 'p1'})-[:KNOWS]->(b:P) RETURN b.name AS n")
    assert(lookedUp && got == want && got == Set(Seq("bob"), Seq("cy")))
    // the start's label is not the edge type's source label: nothing to
    // elide, and the pattern fails to compile as before
    val s = shopSession()
    val off = "MATCH (o:orders {id: 10001})-[p:PLACED]->(x) RETURN count(*) AS n"
    intercept[graft.gql.GqlCompileException](s.gql(off))
    intercept[graft.gql.GqlCompileException](
      new graft.gql.Compiler(s.graph).compile(graft.gql.Parser.parse(off)))
    // customer 1 has more edges than a lookup holds: the join plan
    val (hub, hubPlan, hubLooked) = bothWays(s, hopQ(1))
    assert(!hubLooked && hub == hubPlan)
    assert(hub.head.head == KeyIn.Limit + 50L)
  }

  test("EXPLAIN of a seeded hop launches no job; a warm one runs at most " +
      "4 jobs and broadcasts no label") {
    val s = shopSession()
    // loading the graph infers its datasets' schemas, and the join plan
    // sizes the destination's broadcast by its label count, memoized
    // per graph
    s.graph.nodeCount("orders")
    assert(jobsDuring(s.explain(hopQ(5))) == 0)
    /** Jobs of a warm hop, and whether it broadcast the orders label. */
    def warm(k: Long): (Int, Boolean) = {
      s.gql(hopQ(k + 100)).collect()
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring { df = s.gql(hopQ(k)); df.collect() }
      (jobs, nodesOf(df.queryExecution.executedPlan).exists {
        case b: BroadcastExchangeExec => nodesOf(b.child).exists {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("nodes_orders"))
          case _ => false
        }
        case _ => false
      })
    }
    val (clean, cleanBroadcast) = warm(7)
    s.execute("MATCH (c:customer {id: 7}) SET c.acctbal = 1.0")
    s.execute("INSERT (:orders {id: 900002, totalprice: 3.0})")
    val (mutated, mutatedBroadcast) = warm(8)
    assert(clean <= 4 && mutated <= 4, s"jobs: clean $clean, mutated $mutated")
    assert(!cleanBroadcast && !mutatedBroadcast)
  }
}
