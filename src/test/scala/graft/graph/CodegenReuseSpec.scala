package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import graft.obs.ExecStats

/** Writes stop forcing recompiles: once each statement kind ran once, a
  * mutated label reads as a view of constant shape (`base ⊖ tomb ⊕
  * delta`) and query constants bind by reference, so reads with fresh
  * keys, reads after more DML and repeated DML all reuse the generated
  * classes already compiled — `ExecStats.codegenCompiles` reads 0.
  */
class CodegenReuseSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  /** Classes compiled while `body` ran. */
  private def compiles(body: => Unit): Long =
    ExecStats.during(spark.sparkContext)(body)._2.codegenCompiles

  /** A persisted customer/orders/PLACED graph with bucketed layouts (the
    * shape of the write benchmark), and a session over it. */
  private def session(): graft.GqlSession = {
    import spark.implicits._
    val wh = tempDir("codegen").toString
    val customers = (1L to 600L).map(i => (i, (i * 37 % 1000).toDouble))
      .toDF("id", "acctbal")
    val orders = (1L to 900L).map(i => (10000L + i, i * 1.5, "F"))
      .toDF("id", "totalprice", "status")
    val placed = (1L to 900L).map(i => (i % 600 + 1, 10000L + i, i, i * 1.5))
      .toDF("src", "dst", "eid", "totalprice")
    val g = new PropertyGraph(Map("customer" -> customers, "orders" -> orders),
      Map("PLACED" -> (EdgeType("PLACED", "customer", "orders"), placed)))
    val w = graft.GraphLiteSpark.open(spark, wh).session("w").useGraph(g)
    Seq("cg_c" -> "nodes_customer (id)", "cg_p" -> "edges_PLACED (src)",
      "cg_o" -> "nodes_orders (id)").foreach { case (ix, on) =>
      w.execute(s"CREATE GRAPH INDEX $ix ON $on")
      w.execute(s"ALTER INDEX $ix SET OPTION buckets = 4")
    }
    w.saveGraphAs("/cg/g", force = true)
    graft.GraphLiteSpark.open(spark, wh).session("u").useGraph("/cg/g")
  }

  test("reads with fresh keys, reads after SET / INSERT / MATCH…INSERT / " +
      "DETACH DELETE, and a second SET and INSERT compile no new class") {
    val s = session()
    def hop(c: Long) = s.gql(s"MATCH (c:customer {id: $c})-[p:PLACED]->" +
      "(o:orders) RETURN count(p) AS n, max(o.totalprice) AS mx").collect()
    def node(c: Long) = s.gql(
      s"MATCH (c:customer {id: $c}) RETURN c.acctbal AS b").collect()
    def order(o: Long) = s.gql(
      s"MATCH (o:orders {id: $o}) RETURN o.totalprice AS tp").collect()
    def reads(c: Long, o: Long): Unit = { hop(c); node(c); order(o) }
    var next = 900000L
    /** One statement of each kind, each followed by the reads. */
    def round(c: Long, v: Double): Unit = {
      s.execute(s"MATCH (c:customer {id: $c}) SET c.acctbal = $v")
      reads(c + 1, 10001L)
      val o = next; next += 1
      s.execute(s"INSERT (:orders {id: $o, totalprice: $v, status: 'O'})")
      reads(c + 2, o)
      s.execute(s"MATCH (c:customer {id: $c}), (o:orders {id: $o}) " +
        s"INSERT (c)-[:PLACED {totalprice: $v}]->(o)")
      reads(c + 3, o)
      s.execute(s"MATCH (o:orders {id: ${10000L + c}}) DETACH DELETE o")
      reads(c + 4, o)
    }
    reads(1, 10001L)
    round(10, 1.5) // warm-up: every statement kind once
    round(20, 2.5) // a label's first restatement leaves its view in its final shape
    val n = compiles {
      reads(101, 10101L)
      reads(202, 10202L)
      round(30, 3.5)
      round(40, 4.5)
    }
    assert(n == 0, s"$n classes compiled after the warm-up")
    // the statements took effect
    assert(node(30).map(_.getDouble(0)).toSeq == Seq(3.5))
    assert(order(10030L).isEmpty)
    assert(hop(40).head.getLong(0) ==
      s.gql("MATCH (c:customer {id: 40})-[p:PLACED]->(o:orders) " +
        "RETURN count(p) AS n").collect().head.getLong(0))
  }

  test("a mutated label's plan has the same size after 1 and after 15 " +
      "statements") {
    val s = session()
    def nodes(): Int = {
      var n = 0
      s.graph.nodeTables("customer").queryExecution.logical.foreach(_ => n += 1)
      n
    }
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 1.0")
    val after1 = nodes()
    (2 to 15).foreach { i =>
      if (i % 3 == 0) s.execute(s"INSERT (:customer {id: ${5000 + i}, acctbal: 2.0})")
      else s.execute(s"MATCH (c:customer {id: $i}) SET c.acctbal = $i.5")
    }
    assert(nodes() == after1)
    assert(s.gql("MATCH (c:customer) RETURN count(c) AS n").collect()
      .head.getLong(0) == 605L)
  }

  test("an incremental save that touches other buckets compiles no new " +
      "class") {
    val s = session()
    var next = 800000L
    /** SET the given customers, insert an order, save incrementally. */
    def saveAfter(ids: Seq[Long], v: Double): Unit = {
      ids.foreach(c => s.execute(s"MATCH (c:customer {id: $c}) SET c.acctbal = $v"))
      s.execute(s"INSERT (:orders {id: $next, totalprice: $v, status: 'O'})")
      next += 1
      s.saveGraphAs("/cg/g")
    }
    saveAfter(Seq(10L), 1.5) // warm-up: the first save of this shape
    saveAfter(Seq(460L), 2.5)
    val n = compiles(saveAfter(Seq(160L, 310L), 3.5)) // other buckets, and two of them
    assert(n == 0, s"$n classes compiled by the third save")
    assert(s.gql("MATCH (c:customer) WHERE c.id IN [10, 160, 460] " +
      "RETURN c.acctbal AS b ORDER BY b").collect().map(_.getDouble(0)).toSeq ==
      Seq(1.5, 2.5, 3.5))
  }
}

