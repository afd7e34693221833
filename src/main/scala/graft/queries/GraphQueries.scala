package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Direction, PathSemantics, TpchGraph}

/** Graph operator battery over the TPC-H property-graph view
  * (graft.graph.TpchGraph). Each query exercises one graph operator from
  * SURVEY.md §2 (NodeScan, Expand in/out, multi-hop patterns, degrees,
  * variable-length paths, BFS/reachability, pattern-as-predicate,
  * identity-based set ops, UNWIND, graph introspection functions), with a
  * DuckDB SQL oracle phrased over the underlying relational tables.
  */
object GraphQueries {

  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- NodeScan with label + property predicate (logical.rs:94-99)
    "g01_node_scan" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      TpchGraph.build(s, d)
        .nodeScan("customer",
          Some($"acctbal" > 5000 && $"mktsegment" === "BUILDING"))
        .select($"id", $"name", $"acctbal")
        .orderBy($"id")
    }),

    // ---- Expand (1-hop out) with edge predicate (logical.rs:108-117)
    "g02_expand_out" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      val binding = g.nodeScan("customer", Some($"mktsegment" === "BUILDING"))
        .select($"id".as("c_id"))
      g.expand(binding, "c", "o", "t", "PLACED",
          edgePred = Some($"totalprice" > 200000))
        .select($"c_id", $"o_id", $"t_totalprice")
        .orderBy($"c_id", $"o_id")
    }),

    // ---- 2-hop expand chain + aggregation
    "g03_expand_2hop" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      val binding = g.nodeScan("customer")
        .select($"id".as("c_id"), $"mktsegment")
      val hop1 = g.expand(binding, "c", "o", "t", "PLACED")
      val hop2 = g.expand(hop1, "o", "p", "l", "CONTAINS")
      hop2.groupBy($"mktsegment")
        .agg(countDistinct($"p_id").as("nd_parts"), count(lit(1)).as("n"))
        .orderBy($"mktsegment")
    }),

    // ---- Expand (1-hop incoming; ast.rs:347-353 direction Incoming)
    "g04_expand_in" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      val binding = g.nodeScan("part").select($"id".as("p_id"))
      g.expand(binding, "p", "o", "l", "CONTAINS", direction = Direction.In)
        .groupBy($"p_id").agg(count(lit(1)).as("n"))
        .orderBy($"p_id")
    }),

    // ---- degree distribution (adjacency index analog)
    "g05_degree_hist" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      TpchGraph.build(s, d).degrees("PLACED", Direction.Out)
        .groupBy($"degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy($"degree")
    }),

    // ---- variable-length path 1..3 hops (executor.rs:6338-6664)
    "g06_varpath" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      val start = g.nodeScan("customer", Some($"id" % 100 === 0))
        .select($"id".as("start_id"))
      g.paths(start, "NEXT", 1, 3, PathSemantics.Walk)
        .select($"start_id", $"end_id", $"depth".cast("long").as("depth"))
        .orderBy($"start_id", $"depth", $"end_id")
    }),

    // ---- pattern-as-predicate -> chained semi-joins (executor.rs:9351-9394)
    "g07_pattern_pred" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      val econ = g.nodeScan("part", Some($"ptype" === "ECONOMY"))
        .select($"id".as("p_id"))
      val ordersWithEcon = g.edgeScan("CONTAINS")
        .join(econ, col("dst") === econ("p_id"), "left_semi")
        .select(col("src").as("o_id"))
      val custWithEcon = g.edgeScan("PLACED")
        .join(ordersWithEcon, col("dst") === col("o_id"), "left_semi")
        .select(col("src").as("c_id"))
      g.nodeScan("customer")
        .join(custWithEcon, col("id") === col("c_id"), "left_semi")
        .select($"id".as("c_id"), $"name")
        .orderBy($"c_id")
    }),

    // ---- multi-source BFS distances (ShortestPath analog, physical.rs:42-67)
    "g08_bfs" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      val heads = g.nodeScan("customer")
        .groupBy($"nationkey").agg(min($"id").as("root_id"))
        .select($"root_id")
      g.bfs(heads, "NEXT", 10)
        .select($"root_id", $"node_id", $"dist")
        .orderBy($"root_id", $"dist")
    }),

    // ---- graph introspection: id()/labels()/keys() (graph_functions.rs).
    // keys() output is a joined string, not array<string>: the driver's
    // pandas compare can't sort array cells (unhashable ndarray).
    "g09_graph_funcs" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      def describe(label: String): DataFrame = {
        val df = g.nodeScan(label)
        df.select($"id", lit(label).as("label"),
          lit(df.columns.sorted.mkString(",")).as("keys"))
      }
      describe("nation").unionByName(describe("region"))
        .orderBy($"label", $"id")
    }),

    // ---- identity-based set op (executor.rs:7736-7894): intersect node
    // identities from two scans, then rejoin properties
    "g10_identity_intersect" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      val a = g.nodeScan("customer", Some($"mktsegment" === "BUILDING")).select($"id")
      val b = g.nodeScan("customer", Some($"acctbal" > 5000)).select($"id")
      a.intersect(b)
        .join(g.nodeScan("customer"), "id")
        .select($"id", $"name")
        .orderBy($"id")
    }),

    // ---- UNWIND (explode; read_engine unwind_preprocessor.rs:29-116)
    "g11_unwind" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      TpchGraph.build(s, d).nodeScan("nation")
        .groupBy($"regionkey".as("rk"))
        .agg(sort_array(collect_list($"name")).as("names"))
        .select($"rk", explode($"names").as("name"))
        .orderBy($"rk", $"name")
    }),

    // ---- GraphX PageRank over the NEXT chain. Oracle-able: on a chain
    // every node has indegree <= 1, so the message sum has at most one
    // term — no summation-order nondeterminism — and GraphX's exact
    // iteration (rank_0 = 1.0; rank_k = 0.15 + (1.0-0.15) * msg) unrolls
    // into 5 window-lag steps in SQL with bit-identical double math.
    "g12_pagerank" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      graft.graph.Analytics.pageRank(s, g, "customer", "NEXT", 5)
        .orderBy($"id")
    }),

    // ---- GraphX connected components: NEXT chains = one component per
    // nation, labeled by its minimum custkey (GraphX convention)
    "g13_connected_components" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      graft.graph.Analytics.connectedComponents(s, g, "customer", "NEXT")
        .orderBy($"id")
    }),

    // ---- GraphX triangle count on same-region nation cliques:
    // a nation in a region of k nations closes C(k-1, 2) triangles
    "g14_triangles" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val g = TpchGraph.build(s, d)
      val nation = g.nodeScan("nation")
      val a = nation.select($"id".as("src"), $"regionkey")
      val b = nation.select($"id".as("dst"), $"regionkey".as("rk2"))
      val adj = a.join(b, $"regionkey" === $"rk2" && $"src" =!= $"dst")
        .select($"src", $"dst").withColumn("eid", $"src" * 100 + $"dst")
      val ag = new graft.graph.PropertyGraph(
        Map("nation" -> nation),
        Map("ADJ" -> (graft.graph.EdgeType("ADJ", "nation", "nation"), adj)))
      graft.graph.Analytics.triangleCount(s, ag, "nation", "ADJ")
        .orderBy($"id")
    }),

    // ---- CALL procedure surface (system_procedures.rs FindNeighbors →
    // GraphIndexScan): the session-API path the reference's clients use,
    // driver-gated against a window-function oracle over the NEXT chain
    "g16_call_neighbors" -> ((s: SparkSession, d: String) => {
      graft.GraphLiteSpark.open(s, graft.LocalSpark.warehouse).session("driver")
        .useGraph(TpchGraph.build(s, d))
        .call("gql.find_neighbors", Seq("NEXT", "1", "5"))
    })
  )

  val oracle: Map[String, String] = Map(
    "g01_node_scan" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal
        |FROM customer WHERE c_acctbal > 5000 AND c_mktsegment = 'BUILDING'
        |ORDER BY id""".stripMargin,
    "g02_expand_out" ->
      """SELECT o_custkey AS c_id, o_orderkey AS o_id, o_totalprice AS t_totalprice
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 200000
        |ORDER BY c_id, o_id""".stripMargin,
    "g03_expand_2hop" ->
      """SELECT c_mktsegment AS mktsegment, count(DISTINCT l_partkey) AS nd_parts,
        | count(*) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY mktsegment""".stripMargin,
    "g04_expand_in" ->
      """SELECT l_partkey AS p_id, count(*) AS n FROM lineitem
        |GROUP BY 1 ORDER BY p_id""".stripMargin,
    "g05_degree_hist" ->
      """SELECT degree, count(*) AS n_nodes FROM (
        | SELECT o_custkey, count(*) AS degree FROM orders GROUP BY 1) t
        |GROUP BY degree ORDER BY degree""".stripMargin,
    "g06_varpath" ->
      """WITH e AS (SELECT c_custkey AS src,
        |  lead(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS dst
        | FROM customer),
        |s AS (SELECT c_custkey AS start_id FROM customer WHERE c_custkey % 100 = 0)
        |SELECT start_id, e1.dst AS end_id, CAST(1 AS BIGINT) AS depth
        | FROM s JOIN e e1 ON e1.src = start_id WHERE e1.dst IS NOT NULL
        |UNION ALL
        |SELECT start_id, e2.dst, CAST(2 AS BIGINT)
        | FROM s JOIN e e1 ON e1.src = start_id JOIN e e2 ON e2.src = e1.dst
        | WHERE e2.dst IS NOT NULL
        |UNION ALL
        |SELECT start_id, e3.dst, CAST(3 AS BIGINT)
        | FROM s JOIN e e1 ON e1.src = start_id JOIN e e2 ON e2.src = e1.dst
        |  JOIN e e3 ON e3.src = e2.dst
        | WHERE e3.dst IS NOT NULL
        |ORDER BY start_id, depth, end_id""".stripMargin,
    "g07_pattern_pred" ->
      """SELECT c_custkey AS c_id, c_name AS name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE o.o_custkey = c_custkey AND p.p_type = 'ECONOMY')
        |ORDER BY c_id""".stripMargin,
    "g08_bfs" ->
      """SELECT root_id, c_custkey AS node_id, CAST(dist AS BIGINT) AS dist FROM (
        | SELECT c_custkey,
        |  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) - 1 AS dist,
        |  min(c_custkey) OVER (PARTITION BY c_nationkey) AS root_id
        | FROM customer) t
        |WHERE dist <= 10 ORDER BY root_id, dist""".stripMargin,
    "g09_graph_funcs" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, 'nation' AS label,
        | 'id,name,regionkey' AS keys FROM nation
        |UNION ALL
        |SELECT CAST(r_regionkey AS BIGINT), 'region', 'id,name' FROM region
        |ORDER BY label, id""".stripMargin,
    "g10_identity_intersect" ->
      """SELECT c_custkey AS id, c_name AS name FROM customer
        |WHERE c_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |ORDER BY id""".stripMargin,
    "g11_unwind" ->
      """SELECT rk, unnest(names) AS name FROM (
        | SELECT CAST(n_regionkey AS BIGINT) AS rk, list_sort(list(n_name)) AS names
        | FROM nation GROUP BY 1) t
        |ORDER BY rk, name""".stripMargin,
    // GraphX staticPageRank unrolled over the NEXT chains: rank_0 = 1.0,
    // rank_k = 0.15 + (1.0 - 0.15) * lag(rank_{k-1}) — (1.0 - 0.15) is
    // written as the runtime subtraction to match GraphX's double exactly;
    // the final n/sum(rank) factor mirrors GraphX's rank-sum normalization
    // (SPARK-18847), and round_even(x * 1e6) / 1e6 mirrors Scala's
    // math.rint(x * 1e6) / 1e6. The sum's accumulation-order difference is
    // ~1e-16 relative — far below the 6-decimal rounding granularity.
    "g12_pagerank" ->
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS pos
        | FROM customer),
        |r0 AS (SELECT id, nk, pos, 1.0::DOUBLE AS rank FROM c),
        |r1 AS (SELECT id, nk, pos, 0.15::DOUBLE + (1.0::DOUBLE - 0.15::DOUBLE) *
        |  COALESCE(lag(rank) OVER (PARTITION BY nk ORDER BY pos), 0.0::DOUBLE) AS rank FROM r0),
        |r2 AS (SELECT id, nk, pos, 0.15::DOUBLE + (1.0::DOUBLE - 0.15::DOUBLE) *
        |  COALESCE(lag(rank) OVER (PARTITION BY nk ORDER BY pos), 0.0::DOUBLE) AS rank FROM r1),
        |r3 AS (SELECT id, nk, pos, 0.15::DOUBLE + (1.0::DOUBLE - 0.15::DOUBLE) *
        |  COALESCE(lag(rank) OVER (PARTITION BY nk ORDER BY pos), 0.0::DOUBLE) AS rank FROM r2),
        |r4 AS (SELECT id, nk, pos, 0.15::DOUBLE + (1.0::DOUBLE - 0.15::DOUBLE) *
        |  COALESCE(lag(rank) OVER (PARTITION BY nk ORDER BY pos), 0.0::DOUBLE) AS rank FROM r3),
        |r5 AS (SELECT id, nk, pos, 0.15::DOUBLE + (1.0::DOUBLE - 0.15::DOUBLE) *
        |  COALESCE(lag(rank) OVER (PARTITION BY nk ORDER BY pos), 0.0::DOUBLE) AS rank FROM r4)
        |SELECT id, round_even(rank * ((SELECT count(*) FROM r5)::DOUBLE /
        |    (SELECT sum(rank) FROM r5)) * 1000000.0::DOUBLE, 0)
        |  / 1000000.0::DOUBLE AS rank
        |FROM r5 ORDER BY id""".stripMargin,
    "g13_connected_components" ->
      """SELECT c_custkey AS id,
        | min(c_custkey) OVER (PARTITION BY c_nationkey) AS component
        |FROM customer ORDER BY id""".stripMargin,
    "g14_triangles" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        | CAST(((c - 1) * (c - 2)) // 2 AS BIGINT) AS n_triangles
        |FROM (SELECT n_nationkey,
        |  count(*) OVER (PARTITION BY n_regionkey) AS c FROM nation) t
        |ORDER BY id""".stripMargin,
    // NEXT-chain neighbors of custkey 1: the next 5 custkeys within its
    // nation, dist = rank distance along the chain
    "g16_call_neighbors" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
        | FROM customer),
        |me AS (SELECT c_nationkey AS nk, rn AS myrn FROM c WHERE c_custkey = 1)
        |SELECT CAST(c.c_custkey AS BIGINT) AS neighbor_id,
        |       CAST(c.rn - me.myrn AS BIGINT) AS dist
        |FROM c JOIN me ON c.c_nationkey = me.nk
        |WHERE c.rn > me.myrn AND c.rn <= me.myrn + 5
        |ORDER BY dist, neighbor_id""".stripMargin
  )
}
