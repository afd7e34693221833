package perfbench

import scala.collection.mutable
import graft.{GqlSession, GraphLiteSpark, Tables}
import graft.graph.TpchGraph

/** Read-only GQL over the in-memory TPC-H graph: one client cycling
  * through eight query templates, parameters drawn from the seed. A cycle
  * runs each template once, so every run has the same template mix.
  */
final class GqlRead(ctx: Ctx) extends Workload(ctx) {
  import GqlRead._
  private var sess: GqlSession = _
  private val nCustomers = DataGen.sizes(ctx.sf).customer
  /** (template, GQL, reference SQL, engine answer) of every op, checked
    * after the cycles so the reference queries never run between ops.
    */
  private val answers = mutable.ArrayBuffer.empty[(String, String, String, Seq[Seq[Any]])]

  def setup(rep: Int): Map[String, Double] = {
    val s = ctx.newSession()
    val (_, tablesMs) = Main.time(Seq("customer", "orders", "lineitem", "part",
      "supplier", "nation", "region").foreach(t => Tables.load(s, ctx.dataDir, t)))
    val (_, graphMs) = Main.time {
      sess = GraphLiteSpark.open(s, ctx.scratch(s"warehouse-$rep")).session("bench")
        .useGraph(TpchGraph.build(s, ctx.dataDir))
      sess.gql(templates.find(_.name == "point_hop").get.instance(
        new scala.util.Random(rep), nCustomers)._1).collect()
    }
    Map("setup.tables_ms" -> tablesMs, "setup.graph_build_ms" -> graphMs)
  }

  def warmup(): Unit = {
    val r = new scala.util.Random(-1L)
    templates.foreach(t => sess.gql(t.instance(r, nCustomers)._1).collect())
  }

  def cycle(index: Int): Unit = templates.foreach { t =>
    val (q, sql) = t.instance(ctx.rnd, nCustomers)
    val parseMs = Gql.parseAlone(ctx.tracer, q)
    ctx.op(t.name)(Gql.query(ctx.tracer, sess, q, parseMs))
      .foreach(rows => answers += ((t.name, q, sql, Gql.norm(rows))))
  }

  override def finish(): Unit = {
    val tables = Seq("customer", "orders", "lineitem", "part", "nation", "region")
    val oracle = Gql.oracleSession(ctx.spark, ctx.dataDir, tables)
    tables.foreach(t => oracle.table(t).cache())
    val expected = mutable.Map.empty[String, Seq[Seq[Any]]]
    try answers.foreach { case (name, q, sql, got) =>
      val want = expected.getOrElseUpdate(sql, Gql.sql(oracle, sql))
      ctx.check(got == want, s"$name: engine $got != oracle $want for $q")
    } finally tables.foreach(t => oracle.table(t).unpersist(blocking = true))
  }
}

object GqlRead {
  /** A parameterised query and its plain-SQL reference over raw tables. */
  final case class Template(name: String,
      make: (scala.util.Random, Long) => (String, String)) {
    def instance(r: scala.util.Random, nCustomers: Long): (String, String) =
      make(r, nCustomers)
  }
  private def oneOf[A](r: scala.util.Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def cust(r: scala.util.Random, n: Long): Long = (r.nextDouble() * n).toLong

  val templates: Seq[Template] = Seq(
    Template("hop_agg", (r, _) => {
      val x = oneOf(r, Seq(-500, 0, 1000, 2500, 5000, 7500, 9000))
      (s"""MATCH (c:customer)-[:PLACED]->(o:orders) WHERE c.acctbal > $x
          |RETURN c.mktsegment AS seg, count(o) AS n, max(o.totalprice) AS mx
          |ORDER BY seg""".stripMargin,
        s"""SELECT c_mktsegment AS seg, count(*) AS n, max(o_totalprice) AS mx
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE c_acctbal > $x GROUP BY c_mktsegment ORDER BY seg""".stripMargin)
    }),
    Template("two_hop", (r, _) => {
      val (t, nk) = (oneOf(r, DataGen.PartTypes), r.nextInt(25))
      (s"""MATCH (c:customer)-[:PLACED]->(o:orders)-[l:CONTAINS]->(p:part)
          |WHERE p.ptype = '$t' AND c.nationkey = $nk
          |RETURN c.mktsegment AS seg, count(l) AS n, sum(l.quantity) AS qty
          |ORDER BY seg""".stripMargin,
        s"""SELECT c_mktsegment AS seg, count(*) AS n, sum(l_quantity) AS qty
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON p_partkey = l_partkey
           |WHERE p_type = '$t' AND c_nationkey = $nk
           |GROUP BY c_mktsegment ORDER BY seg""".stripMargin)
    }),
    Template("var_path", (r, n) => {
      val k = cust(r, n)
      (s"""MATCH (c:customer {id: $k})-[:NEXT*1..3]->(d:customer)
          |RETURN d.id AS id ORDER BY id""".stripMargin,
        s"""WITH e AS (SELECT c_custkey AS src, lead(c_custkey)
           |  OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS dst FROM customer)
           |SELECT DISTINCT id FROM (
           |  SELECT e1.dst AS id FROM e e1 WHERE e1.src = $k
           |  UNION ALL SELECT e2.dst FROM e e1 JOIN e e2 ON e2.src = e1.dst
           |   WHERE e1.src = $k
           |  UNION ALL SELECT e3.dst FROM e e1 JOIN e e2 ON e2.src = e1.dst
           |   JOIN e e3 ON e3.src = e2.dst WHERE e1.src = $k) t
           |WHERE id IS NOT NULL ORDER BY id""".stripMargin)
    }),
    Template("with_having", (r, n) => {
      val p = oneOf(r, DataGen.Priorities)
      // per-nation counts sit near orders / 125, so the bar splits nations
      val bar = (n * 10 / 125) + oneOf(r, Seq(-2, 0, 2)) * math.max(1L, n / 1500)
      (s"""MATCH (c:customer)-[:PLACED]->(o:orders) WHERE o.priority = '$p'
          |WITH c.nationkey AS nk, count(o) AS n WHERE n > $bar
          |RETURN nk, n ORDER BY nk""".stripMargin,
        s"""SELECT c_nationkey AS nk, count(*) AS n
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE o_orderpriority = '$p'
           |GROUP BY c_nationkey HAVING count(*) > $bar ORDER BY nk""".stripMargin)
    }),
    Template("not_exists", (r, _) => {
      val (nk, st) = (r.nextInt(25), oneOf(r, DataGen.Statuses))
      (s"""MATCH (c:customer) WHERE c.nationkey = $nk
          |  AND NOT EXISTS { (c)-[:PLACED]->(o:orders {status: '$st'}) }
          |RETURN count(c) AS n""".stripMargin,
        s"""SELECT count(*) AS n FROM customer WHERE c_nationkey = $nk
           |AND NOT EXISTS (SELECT 1 FROM orders
           |  WHERE o_custkey = c_custkey AND o_orderstatus = '$st')""".stripMargin)
    }),
    Template("point_hop", (r, n) => {
      val k = cust(r, n)
      (s"""MATCH (c:customer {id: $k})-[p:PLACED]->(o:orders)
          |RETURN count(p) AS n, max(o.totalprice) AS mx""".stripMargin,
        s"""SELECT count(*) AS n, max(o_totalprice) AS mx
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE c_custkey = $k""".stripMargin)
    }),
    Template("optional", (r, _) => {
      val (rk, seg) = (r.nextInt(5), oneOf(r, DataGen.Segments))
      (s"""MATCH (n:nation {regionkey: $rk})
          |OPTIONAL MATCH (n)<-[:IN_NATION]-(c:customer {mktsegment: '$seg'})
          |RETURN n.name AS nname, count(c) AS n_cust
          |GROUP BY n.name ORDER BY nname""".stripMargin,
        s"""SELECT n_name AS nname, count(c_custkey) AS n_cust
           |FROM nation LEFT JOIN customer
           |  ON c_nationkey = n_nationkey AND c_mktsegment = '$seg'
           |WHERE n_regionkey = $rk GROUP BY n_name ORDER BY nname""".stripMargin)
    }),
    Template("scalar_sub", (r, _) => {
      val (rk, st) = (r.nextInt(5), oneOf(r, DataGen.Statuses))
      (s"""MATCH (n:nation {regionkey: $rk})
          |RETURN n.name AS nname,
          |  (MATCH (n)<-[:IN_NATION]-(c:customer)-[:PLACED]->(o:orders {status: '$st'})
          |   RETURN count(o)) AS n_orders
          |ORDER BY nname""".stripMargin,
        s"""SELECT n_name AS nname, (SELECT count(*) FROM customer
           |  JOIN orders ON o_custkey = c_custkey
           |  WHERE c_nationkey = n_nationkey AND o_orderstatus = '$st') AS n_orders
           |FROM nation WHERE n_regionkey = $rk ORDER BY nname""".stripMargin)
    }))
}
