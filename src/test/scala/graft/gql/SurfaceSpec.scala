package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Round-2 GQL surface: set operations, LET/FOR/FILTER, EXISTS in
  * arbitrary boolean positions, IS predicates, PROPERTIES/SOURCE/
  * DESTINATION, transactions, security DDL, stored procedures, CALL.
  * Expected values mirror the reference's set_operations_tests.rs /
  * simple_let_test.rs / role_management_tests.rs shapes on the fraud
  * fixture (test_fixture.rs:135-190).
  */
class SurfaceSpec extends AnyFunSuite with TempDirs {
  private def fresh() = gqlSession(SparkFixture.fraudGraph)
  private lazy val s = fresh()

  private def one(q: String): Any = s.gql(q).collect().head.get(0)
  private def count(q: String): Long = s.gql(q).count()

  // ---- set operations (set_operations_tests.rs:116-137) ----

  test("UNION dedups across branch results") {
    // balances <= 500 → ids 1..5; risk >= 4.5 → ids 45..50; disjoint
    val n = count("MATCH (a:Account) WHERE a.balance <= 500 RETURN a.name " +
      "UNION MATCH (a:Account) WHERE a.risk_score >= 4.5 RETURN a.name")
    assert(n == 11L)
    // overlapping branches dedup
    val n2 = count("MATCH (a:Account) WHERE a.balance <= 500 RETURN a.name " +
      "UNION MATCH (a:Account) WHERE a.balance <= 300 RETURN a.name")
    assert(n2 == 5L)
  }

  test("UNION ALL keeps duplicates") {
    val n = count("MATCH (a:Account) WHERE a.balance <= 500 RETURN a.name " +
      "UNION ALL MATCH (a:Account) WHERE a.balance <= 300 RETURN a.name")
    assert(n == 8L) // 5 + 3
  }

  test("INTERSECT and EXCEPT") {
    val n = count("MATCH (a:Account) WHERE a.balance <= 500 RETURN a.name " +
      "INTERSECT MATCH (a:Account) WHERE a.status = 'active' RETURN a.name")
    assert(n == 5L) // ids 1..5 all active (inactive = multiples of 10)
    val n2 = count("MATCH (a:Account) WHERE a.balance <= 1000 RETURN a.name " +
      "EXCEPT MATCH (a:Account) WHERE a.status = 'inactive' RETURN a.name")
    assert(n2 == 9L) // ids 1..10 minus id 10 (inactive)
  }

  test("parenthesized set-op group takes tail ORDER BY / LIMIT") {
    // un-parenthesized: ORDER/LIMIT bind to the rightmost branch
    // (reference-parity); the group form binds them to the whole result
    val rows = s.gql("(MATCH (a:Account) WHERE a.balance <= 300 RETURN a.name AS name " +
      "UNION MATCH (a:Account) WHERE a.risk_score >= 4.8 RETURN a.name AS name) " +
      "ORDER BY name DESC LIMIT 4").collect().map(_.getString(0))
    // branches: Account1..3 (balance) + Account48..50 (risk) → global
    // desc order interleaves the branches
    assert(rows.toSeq == Seq("Account50", "Account49", "Account48", "Account3"))
    // SKIP applies after the group sort too
    val n = s.gql("(MATCH (a:Account) RETURN a.id AS id " +
      "UNION ALL MATCH (m:Merchant) RETURN m.id AS id) ORDER BY id SKIP 60")
      .count()
    assert(n == 10L) // 50 + 20 rows, skip 60
  }

  test("grouped query expressions compose as set-op operands") {
    // (balance<=500 ∪ risk>=4.5) ∩ active — the group is a left operand
    val n = count("(MATCH (a:Account) WHERE a.balance <= 500 RETURN a.name " +
      "UNION MATCH (a:Account) WHERE a.risk_score >= 4.5 RETURN a.name) " +
      "INTERSECT MATCH (a:Account) WHERE a.status = 'active' RETURN a.name")
    assert(n == 10L) // ids 1..5 ∪ 45..50, minus inactive id 50
    // nested group, tail clauses on the OUTER group
    val rows = s.gql("((MATCH (a:Account) WHERE a.id <= 3 RETURN a.id AS id " +
      "UNION MATCH (a:Account) WHERE a.id >= 49 RETURN a.id AS id) " +
      "EXCEPT MATCH (a:Account) WHERE a.id = 2 RETURN a.id AS id) " +
      "ORDER BY id DESC LIMIT 3").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(50L, 49L, 3L))
  }

  // ---- LET / FOR / FILTER (simple_let_test.rs:19; parser.rs:760-835) ----

  test("LET binds values, standalone and over MATCH rows") {
    assert(one("LET x = 2 + 3 RETURN x") == 5L)
    assert(one("MATCH (a:Account) LET fee = a.balance * 0.01 " +
      "FILTER fee > 45 RETURN count(a) AS n") == 5L) // balance > 4500: ids 46..50
  }

  test("FOR iterates a list like UNWIND") {
    assert(count("FOR x IN [1, 2, 3] RETURN x") == 3L)
    assert(one("FOR x IN [1, 2, 3] RETURN sum(x) AS s") == 6L)
  }

  test("LET feeds FOR feeds FILTER in statement order") {
    val n = count("LET xs = [10, 20, 30, 40] FOR x IN xs FILTER x >= 25 RETURN x")
    assert(n == 2L)
  }

  // ---- EXISTS in arbitrary boolean positions ----

  test("EXISTS under OR (marker-join rewrite)") {
    // high-amount transactions exist for some accounts; OR catches the
    // inactive ones too — not expressible as a plain semi-join
    val n = one("MATCH (a:Account) WHERE a.status = 'inactive' " +
      "OR EXISTS ((a)-[:Transaction {amount: 79.0}]->(m:Merchant)) " +
      "RETURN count(a) AS n")
    // amount 79.0: i%30==29 → i=29,59,89 → src accounts 29, 9, 39; all
    // active; plus 5 inactive accounts
    assert(n == 8L)
  }

  test("NOT(EXISTS OR pred) via marker still matches semi-join complement") {
    val direct = one("MATCH (a:Account) WHERE EXISTS " +
      "((a)-[:Transaction {amount: 79.0}]->(m:Merchant)) RETURN count(a) AS n")
    val viaOr = one("MATCH (a:Account) WHERE EXISTS " +
      "((a)-[:Transaction {amount: 79.0}]->(m:Merchant)) OR FALSE " +
      "RETURN count(a) AS n")
    assert(direct == viaOr)
  }

  // ---- path variables + path-type prefixes (ast.rs:275-313) ----

  test("path variables bind the node-id array per path") {
    val t = gqlSession(SparkFixture.simpleGraph)
    // chain 1→2→3→4…: one row PER PATH, ordered by length
    val rows = t.gql("MATCH p = (a:TestNode {id: 1})-[:CONNECTS_TO*1..3]->" +
      "(b:TestNode) RETURN p ORDER BY SIZE(p)")
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(rows.toSeq == Seq(Seq(1L, 2L), Seq(1L, 2L, 3L), Seq(1L, 2L, 3L, 4L)))
    // rigid patterns record the chain too
    val fixed = t.gql("MATCH p = (a:TestNode {id: 1})-[:CONNECTS_TO]->" +
      "(b:TestNode)-[:CONNECTS_TO]->(c:TestNode) RETURN p")
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(fixed.toSeq == Seq(Seq(1L, 2L, 3L)))
  }

  test("postfix edge quantifiers: {n}, {n,m}, {n,}, ? " +
      "(executor.rs:6435 expansion)") {
    val t = gqlSession(SparkFixture.simpleGraph)
    // chain 1→2→3→…: {1,3} ≡ *1..3
    assert(t.gql("MATCH (a:TestNode {id: 1})-[:CONNECTS_TO]{1,3}->" +
      "(b:TestNode) RETURN b.id AS id ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
    // {2} = exactly two hops
    assert(t.gql("MATCH (a:TestNode {id: 1})-[:CONNECTS_TO]{2}->" +
      "(b:TestNode) RETURN b.id AS id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // {2,} = open upper bound, cap 10 (executor.rs:6505-6510)
    assert(t.gql("MATCH (a:TestNode {id: 1})-[:CONNECTS_TO]{2,}->" +
      "(b:TestNode) RETURN count(b) AS n").collect().head.getLong(0) >= 2L)
    // ? = {0,1}: zero hops keeps the start node itself as an endpoint
    val ids = t.gql("MATCH (a:TestNode {id: 1})-[:CONNECTS_TO]?->" +
      "(b:TestNode) RETURN b.id AS id ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("path variables span mixed rigid+quantified chains") {
    val t = gqlSession(SparkFixture.simpleGraph)
    // rigid then quantified: 1→2 fixed, then 1..2 more hops
    val rows = t.gql("MATCH p = (a:TestNode {id: 1})-[:CONNECTS_TO]->" +
      "(b:TestNode)-[:CONNECTS_TO*1..2]->(c:TestNode) RETURN p ORDER BY SIZE(p)")
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(rows.toSeq == Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L, 4L)))
    // quantified then rigid
    val rows2 = t.gql("MATCH p = (a:TestNode {id: 1})-[:CONNECTS_TO*1..2]->" +
      "(b:TestNode)-[:CONNECTS_TO]->(c:TestNode) RETURN p ORDER BY SIZE(p)")
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(rows2.toSeq == Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L, 4L)))
    // two quantified segments enumerate the cross product of paths
    val rows3 = t.gql("MATCH p = (a:TestNode {id: 1})-[:CONNECTS_TO*1..2]->" +
      "(b:TestNode)-[:CONNECTS_TO*1..2]->(c:TestNode) " +
      "RETURN p ORDER BY SIZE(p), p[SIZE(p) - 1]")
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(rows3.toSeq == Seq(
      Seq(1L, 2L, 3L),
      Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L),
      Seq(1L, 2L, 3L, 4L, 5L)))
    // the endpoint variables stay readable alongside the path array
    val ends = t.gql("MATCH p = (a:TestNode {id: 1})-[:CONNECTS_TO]->" +
      "(b:TestNode)-[:CONNECTS_TO*2..2]->(c:TestNode) RETURN c.id AS cid, SIZE(p) AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ends.toSeq == Seq((4L, 4L)))
  }

  test("PATH constructor builds the node-id array") {
    val t = fresh()
    val r = t.gql("RETURN TO_JSON(PATH[1, 100, 2, 200, 3]) AS p")
      .collect().head.getString(0)
    assert(r == "[1,2,3]") // even indices are nodes; odd are edge ids
  }

  test("path-type prefixes enforce revisit rules in GQL") {
    import org.apache.spark.sql.functions.col
    val sp = SparkFixture.spark
    import sp.implicits._
    // cycle 1→2→3→1 plus shortcut 1→3 (PathSemanticsSpec topology)
    val g = new graft.graph.PropertyGraph(
      Map("N" -> Seq(1L, 2L, 3L).toDF("id")),
      Map("E" -> (graft.graph.EdgeType("E", "N", "N"),
        Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 3L), (1L, 3L, 4L))
          .toDF("src", "dst", "eid"))))
    val t = gqlSession(g)
    def one0(q: String): Long = t.gql(q).collect().head.getLong(0)
    // WALK (default) may return to the start
    assert(one0("MATCH (a:N {id: 1})-[:E*1..3]->(b:N) WHERE b.id = 1 " +
      "RETURN count(b) AS c") > 0L)
    // ACYCLIC never revisits any node
    assert(one0("MATCH ACYCLIC (a:N {id: 1})-[:E*1..3]->(b:N) " +
      "WHERE b.id = 1 RETURN count(b) AS c") == 0L)
    // TRAIL revisits nodes but not edges: 1→3(e4)→1(e3)→2(e1)→3(e2)
    assert(one0("MATCH TRAIL (a:N {id: 1})-[:E*4..4]->(b:N) " +
      "WHERE b.id = 3 RETURN count(b) AS c") > 0L)
    // rigid patterns: the 2-hop loop 1→3→1 exists as a WALK…
    assert(one0("MATCH (a:N {id: 1})-[:E]->(x:N)-[:E]->(y:N) " +
      "WHERE y.id = 1 RETURN count(y) AS c") == 1L)
    // …but ACYCLIC rejects it
    assert(one0("MATCH ACYCLIC (a:N {id: 1})-[:E]->(x:N)-[:E]->(y:N) " +
      "WHERE y.id = 1 RETURN count(y) AS c") == 0L)
  }

  test("graph-free queries run without a session graph; patterns still " +
      "demand one (executor.rs:242-274)") {
    val t = graft.GraphLiteSpark.open(SparkFixture.spark, tempDir("nog").toString).session()
    assert(t.gql("RETURN 1 + 2 AS x").collect().head.getLong(0) == 3L)
    assert(t.execute("RETURN UPPER('ab') AS s").collect().head.getString(0) == "AB")
    val e = intercept[Exception](t.gql("MATCH (n:X) RETURN n"))
    assert(e.getMessage.contains("no current graph"))
    // a pattern EMBEDDED in an expression (EXISTS) demands a graph too —
    // usesGraph walks the whole tree, not just MATCH clauses
    val e2 = intercept[Exception](
      t.gql("RETURN EXISTS { (n:Account)-[:OWNS]->(m) } AS e"))
    assert(e2.getMessage.contains("no current graph"))
  }

  test("revisit rules span mixed rigid+quantified chains") {
    val sp = SparkFixture.spark
    import sp.implicits._
    // same topology as above: cycle 1→2→3→1 plus shortcut 1→3
    val g = new graft.graph.PropertyGraph(
      Map("N" -> Seq(1L, 2L, 3L).toDF("id")),
      Map("E" -> (graft.graph.EdgeType("E", "N", "N"),
        Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 3L), (1L, 3L, 4L))
          .toDF("src", "dst", "eid"))))
    val t = gqlSession(g)
    def one0(q: String): Long = t.gql(q).collect().head.getLong(0)
    // rigid 1→3 (edge 4) then two quantified hops closing back to 3
    // necessarily reuses edge 4 (3→1→3): a WALK sees it…
    assert(one0("MATCH (a:N {id: 1})-[:E]->(x:N)-[:E*2..2]->(b:N) " +
      "WHERE x.id = 3 AND b.id = 3 RETURN count(b) AS c") == 1L)
    // …TRAIL rejects the cross-segment edge reuse…
    assert(one0("MATCH TRAIL (a:N {id: 1})-[:E]->(x:N)-[:E*2..2]->(b:N) " +
      "WHERE x.id = 3 AND b.id = 3 RETURN count(b) AS c") == 0L)
    // …but a node revisit WITHOUT edge reuse passes TRAIL: 1-e4-3-e3-1-e1-2
    assert(one0("MATCH TRAIL (a:N {id: 1})-[:E]->(x:N)-[:E*2..2]->(b:N) " +
      "WHERE x.id = 3 AND b.id = 2 RETURN count(b) AS c") == 1L)
    // ACYCLIC: returning to the start across the segment boundary is a
    // WALK match (1→2→3→1 and 1→3→1) but never an ACYCLIC one
    assert(one0("MATCH (a:N {id: 1})-[:E]->(x:N)-[:E*1..2]->(b:N) " +
      "WHERE b.id = 1 RETURN count(b) AS c") == 2L)
    assert(one0("MATCH ACYCLIC (a:N {id: 1})-[:E]->(x:N)-[:E*1..2]->(b:N) " +
      "WHERE b.id = 1 RETURN count(b) AS c") == 0L)
    // quantified-then-rigid keeps the legal expansion (1→2→3)
    assert(one0("MATCH ACYCLIC (a:N {id: 1})-[:E*1..1]->(x:N)-[:E]->(b:N) " +
      "WHERE b.id = 3 RETURN count(b) AS c") == 1L)
    // SIMPLE matches the reference: no node revisit at all (= ACYCLIC)
    assert(one0("MATCH SIMPLE (a:N {id: 1})-[:E]->(x:N)-[:E*1..2]->(b:N) " +
      "WHERE b.id = 1 RETURN count(b) AS c") == 0L)
  }

  // ---- IS predicates (ast.rs:1598-1611) ----

  test("IS SOURCE OF / DESTINATION OF test real topology") {
    val n = one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE a IS SOURCE OF t RETURN count(t) AS n")
    assert(n == 100L)
    val n2 = one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE m IS DESTINATION OF t RETURN count(t) AS n")
    assert(n2 == 100L)
    // ids live in per-label id spaces: an Account whose id numerically
    // collides with the Merchant endpoint is NOT a destination — the
    // label guard compiles the impossible combination to false
    val n3 = one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE a IS DESTINATION OF t RETURN count(t) AS n")
    assert(n3 == 0L)
    val n4 = one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE a IS NOT DESTINATION OF t RETURN count(t) AS n")
    assert(n4 == 100L)
  }

  test("IS SOURCE/DESTINATION OF guards label-less (union) vars per row") {
    // (n) scans every label; only genuine Account sources qualify
    val n = one("MATCH (n)-[t:Transaction]->(m:Merchant) " +
      "WHERE n IS SOURCE OF t RETURN count(t) AS n")
    assert(n == 100L)
    val n2 = one("MATCH (n)-[t:Transaction]->(m:Merchant) " +
      "WHERE n IS DESTINATION OF t RETURN count(t) AS n")
    assert(n2 == 0L) // n is bound to the source side, never the Merchant dst
  }

  test("IS DIRECTED and IS :Label") {
    assert(one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE t IS DIRECTED RETURN count(t) AS n") == 100L)
    assert(one("MATCH (a:Account) WHERE a IS :Account RETURN count(a) AS n") == 50L)
    assert(one("MATCH (a:Account) WHERE a IS NOT :Merchant RETURN count(a) AS n") == 50L)
  }

  test("IS NORMALIZED follows reference string semantics") {
    assert(one("MATCH (a:Account) WHERE a.name IS NORMALIZED " +
      "RETURN count(a) AS n") == 50L)
    assert(one("MATCH (a:Account) WHERE a.balance IS NORMALIZED " +
      "RETURN count(a) AS n") == 0L) // non-strings are not normalized
  }

  // ---- PROPERTIES / SOURCE / DESTINATION functions ----

  test("PROPERTIES returns the property map") {
    val r = s.gql("MATCH (a:Account) WHERE a.id = 1 " +
      "RETURN properties(a) AS p").collect().head
    val m = r.getMap[String, String](0)
    assert(m("name") == "Account1" && m("balance") == "100.0")
  }

  test("chained access on function results: PROPERTIES(v).key and ['key']") {
    assert(one("MATCH (a:Account) WHERE a.id = 1 " +
      "RETURN PROPERTIES(a).name AS x") == "Account1")
    assert(one("MATCH (a:Account) WHERE a.id = 1 " +
      "RETURN PROPERTIES(a)['status'] AS x") == "active")
    // chained access works in predicates too
    assert(one("MATCH (a:Account) WHERE PROPERTIES(a).status = 'inactive' " +
      "RETURN count(a) AS n") == 5L)
  }

  test("SOURCE and DESTINATION return endpoint ids") {
    val r = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE a.id = 1 AND t.eid = 1 " +
      "RETURN source(t) AS s, destination(t) AS d").collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
  }

  test("SOURCE/DESTINATION equality against node vars takes the label guard") {
    // a = DESTINATION(t) would numerically collide for Accounts 1..20
    // (Merchant endpoint ids); the (label, id) identity forbids it
    assert(one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE DESTINATION(t) = a RETURN count(t) AS n") == 0L)
    assert(one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE SOURCE(t) = a RETURN count(t) AS n") == 100L)
    assert(one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE m = DESTINATION(t) RETURN count(t) AS n") == 100L)
    assert(one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE a <> DESTINATION(t) RETURN count(t) AS n") == 100L)
  }

  // ---- transactions (ast.rs:1620-1679) ----

  test("ROLLBACK restores the pre-transaction graph version") {
    val t = fresh()
    t.execute("START TRANSACTION")
    t.execute("MATCH (a:Account) WHERE a.id <= 10 SET a.balance = 0.0")
    assert(t.execute("MATCH (a:Account) WHERE a.balance = 0.0 " +
      "RETURN count(a) AS n").collect().head.getLong(0) == 10L)
    t.execute("ROLLBACK")
    assert(t.execute("MATCH (a:Account) WHERE a.balance = 0.0 " +
      "RETURN count(a) AS n").collect().head.getLong(0) == 0L)
  }

  test("COMMIT keeps the mutation; nesting pairs correctly") {
    val t = fresh()
    t.execute("START TRANSACTION")
    t.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 777.0")
    t.execute("COMMIT")
    assert(t.execute("MATCH (a:Account {id: 1}) RETURN a.balance AS b")
      .collect().head.getDouble(0) == 777.0)
    intercept[IllegalStateException] { t.execute("COMMIT") }
    intercept[IllegalStateException] { t.execute("ROLLBACK") }
  }

  // ---- security DDL (role_management_tests.rs shapes) ----

  test("users, roles, grants round-trip through the catalog") {
    val t = fresh()
    t.execute("CREATE USER alice")
    t.execute("CREATE ROLE analyst")
    t.execute("GRANT analyst TO alice")
    assert(t.call("gql.list_users").collect().map(_.getString(0)).contains("alice"))
    assert(t.call("gql.list_roles").collect().map(_.getString(0)).contains("analyst"))
    val grants = t.call("gql.list_grants").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(grants.contains(("analyst", "alice")))
    assert(t.execute("DROP USER alice").collect().head.getBoolean(0))
    assert(t.call("gql.list_grants").count() == 0L)
    intercept[IllegalArgumentException] { t.execute("GRANT analyst TO nobody") }
  }

  // ---- stored procedures ----

  test("CREATE PROCEDURE stores GQL; CALL executes it") {
    val t = fresh()
    t.execute("CREATE PROCEDURE high_risk AS " +
      "MATCH (a:Account) WHERE a.risk_score >= 4.5 RETURN count(a) AS n")
    assert(t.call("gql.list_procedures").collect()
      .map(_.getString(0)).contains("high_risk"))
    assert(t.execute("CALL high_risk()").collect().head.getLong(0) == 6L)
    assert(t.execute("DROP PROCEDURE high_risk").collect().head.getBoolean(0))
    intercept[IllegalArgumentException] { t.execute("CALL high_risk()") }
  }

  test("principal DDL: quoted names, IF [NOT] EXISTS, PASSWORD form, GRANT ROLE kw " +
      "(security_role_user_tests.rs)") {
    val t = fresh()
    // quoted names with dashes; duplicate create errors without the guard
    t.execute("CREATE ROLE 'data-scientist'")
    val dup = intercept[GqlCompileException] {
      t.execute("CREATE ROLE 'data-scientist'")
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    t.execute("CREATE ROLE IF NOT EXISTS 'data-scientist'") // no-op, no error
    // missing drop errors without IF EXISTS; no-ops with it
    val gone = intercept[GqlCompileException] {
      t.execute("DROP ROLE 'nonexistent_role'")
    }
    assert(gone.getMessage.contains("not found"), gone.getMessage)
    t.execute("DROP ROLE IF EXISTS 'nonexistent_role'")
    // PASSWORD form = IDENTIFIED BY; credential verifies
    t.execute("CREATE USER IF NOT EXISTS 'testuser' PASSWORD 'password'")
    assert(t.call("gql.authenticate_user", Seq("testuser", "password"))
      .collect().head.getBoolean(1))
    // GRANT ROLE 'r' TO 'u' (keyword + quoted operands)
    t.execute("CREATE ROLE IF NOT EXISTS 'admin'")
    assert(t.execute("GRANT ROLE 'admin' TO 'testuser'")
      .collect().head.getBoolean(0))
    assert(t.call("gql.list_grants").collect()
      .exists(r => r.getString(0) == "admin" && r.getString(1) == "testuser"))
    assert(t.execute("REVOKE ROLE 'admin' FROM 'testuser'")
      .collect().head.getBoolean(0))
    // empty principal names are rejected at parse
    intercept[Exception] { t.execute("CREATE ROLE ''") }
  }

  test("DECLARE is body-scoped through NESTED CALL chains") {
    val t = fresh()
    // session-level x, then two procedures where inner re-declares x
    // and outer both declares x and calls inner: each CALL exit must
    // restore the caller's value, two levels deep
    t.execute("DECLARE x INT = 1")
    t.execute("CREATE PROCEDURE inner_p AS DECLARE x INT = 300")
    t.execute("CREATE PROCEDURE outer_p AS " +
      "DECLARE x INT = 20 NEXT CALL inner_p()")
    // inside outer_obs, after inner_p returns, x must be outer's 20 —
    // observed through a NEXT YIELD capture, which (unlike DECLARE)
    // persists past the body by design
    t.execute("CREATE PROCEDURE outer_obs AS " +
      "DECLARE x INT = 20 NEXT CALL inner_p() " +
      "NEXT RETURN $x AS seen NEXT YIELD seen")
    t.execute("CALL outer_obs()")
    assert(t.parameters("seen") == 20L,
      s"inner CALL leaked its x into the outer body: ${t.parameters("seen")}")
    // after the whole chain, the session-level x is restored
    t.execute("CALL outer_p()")
    assert(t.parameters("x") == 1L,
      s"CALL chain leaked a body DECLARE into the session: ${t.parameters("x")}")
  }

  test("CALL dispatches system procedures with args") {
    val t = fresh()
    val r = t.execute("CALL gql.show_session()").collect().head
    assert(r.getString(0) == "test")
    // `system.` aliases the `gql.` namespace (system_procedures.rs
    // normalizes the prefix before dispatch) — and is equally reserved
    val r2 = t.execute("CALL system.show_session()").collect().head
    assert(r2.getString(0) == "test")
    intercept[GqlCompileException] {
      t.execute("CREATE PROCEDURE system.mine AS RETURN 1 AS x")
    }
  }

  test("graph-index procedures: neighbors, shortest path, reachability") {
    // simple fixture chain: 1→2→…→10 over CONNECTS_TO
    val t = gqlSession(SparkFixture.simpleGraph)
    val nbrs = t.execute("CALL gql.find_neighbors(CONNECTS_TO, 3, 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nbrs.toSeq == Seq((4L, 1L), (5L, 2L)))
    val sp = t.execute("CALL gql.shortest_path(CONNECTS_TO, 1, 5, 10)")
      .collect().head
    assert(sp.getLong(2) == 4L) // 1→2→3→4→5
    assert(t.execute("CALL gql.is_reachable(CONNECTS_TO, 1, 10, 10)")
      .collect().head.getBoolean(2))
    assert(!t.execute("CALL gql.is_reachable(CONNECTS_TO, 10, 1, 10)")
      .collect().head.getBoolean(2)) // chain is directed
    // composes with YIELD/WHERE
    assert(t.execute("CALL gql.find_neighbors(CONNECTS_TO, 1, 9) " +
      "YIELD neighbor_id, dist WHERE dist >= 5").collect().length == 5)
  }

  test("CALL … YIELD … WHERE projects and filters procedure results") {
    val t = fresh()
    val r = t.execute("CALL gql.list_functions() " +
      "YIELD function_name AS fn, category WHERE category = 'math'")
    assert(r.columns.sameElements(Array("fn", "category")))
    val rows = r.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(1) == "math"))
    // YIELD alone projects without filtering
    assert(t.execute("CALL gql.list_functions() YIELD function_name")
      .columns.sameElements(Array("function_name")))
  }

  test("SELECT FROM g1 UNION g2 matches over the merged graph") {
    val t = fresh()
    t.execute("CREATE SCHEMA /u")
    t.saveGraphAs("/u/g1")
    t.execute("INSERT (:Account {id: 51, account_number: 'ACC51', " +
      "name: 'Account51', balance: 5100.0, status: 'active', " +
      "account_type: 'checking', risk_score: 0.1})")
    t.saveGraphAs("/u/g2")
    // g2 = g1 + one account; union dedups the shared rows
    val n = t.execute("SELECT count(a) AS n FROM /u/g1 UNION /u/g2 " +
      "MATCH (a:Account)").collect().head.getLong(0)
    assert(n == 51L)
  }

  // ---- label-less and multi-label patterns ----

  test("label-less MATCH scans the union of all labels") {
    // the reference's session benchmark query (session_throughput.rs:24-70)
    assert(one("MATCH (n) RETURN count(n) AS n") == 70L) // 50 accounts + 20 merchants
    assert(one("MATCH (n) RETURN count(DISTINCT labels(n)) AS n") == 2L)
  }

  test("label-less node properties pad to NULL across labels") {
    // balance exists only on Account: Merchant rows are NULL → filtered
    assert(one("MATCH (n) WHERE n.balance > 1000 RETURN count(n) AS n") == 40L)
    // category exists only on Merchant
    assert(one("MATCH (n) WHERE n.category = 'retail' RETURN count(n) AS n") == 20L)
  }

  test("label-less var constrains per-row label through a hop") {
    // (n)-[t:Transaction]->(m): only Account rows can be transaction
    // sources — merchant ids 1..20 must not leak in via numeric overlap
    assert(one("MATCH (n)-[t:Transaction]->(m:Merchant) " +
      "RETURN count(t) AS n") == 100L)
    assert(one("MATCH (n) WHERE n IS :Account RETURN count(n) AS n") == 50L)
  }

  test("label-less var survives WITH into later segments") {
    // binding (id + per-row label) carried through WITH: the second MATCH
    // re-constrains on the label so only genuine Account sources join
    assert(one("MATCH (n) WITH n " +
      "MATCH (n)-[t:Transaction]->(m:Merchant) RETURN count(t) AS c") == 100L)
    // the per-row label survives for IS :Label after WITH
    assert(one("MATCH (n) WITH n WHERE n IS :Account " +
      "RETURN count(n) AS c") == 50L)
    // properties re-join on the (id, label) identity in later segments
    assert(one("MATCH (n) WITH n " +
      "MATCH (n)-[t:Transaction]->(m:Merchant) " +
      "RETURN sum(n.balance) AS s") == 255000.0) // 2 × Σ(100·id), id=1..50
  }

  test("multi-label pattern is the intersection of label tables") {
    // storage convention: a multi-label node is the same id present in
    // each label's table — fraud ids 1..20 exist in both Account and
    // Merchant, so the intersection binds those (with merged properties)
    assert(one("MATCH (x:Account:Merchant) RETURN count(x) AS n") == 20L)
    val r = s.gql("MATCH (x:Account:Merchant) WHERE x.id = 3 " +
      "RETURN x.balance AS b, x.category AS c").collect().head
    assert(r.getDouble(0) == 300.0 && r.getString(1) == "retail")
    // same label twice: idempotent
    assert(one("MATCH (x:Account:Account) RETURN count(x) AS n") == 50L)
  }

  test("UNWIND of a collected multi-label var re-attaches props from EVERY label table") {
    // collect the Account∩Merchant intersection, re-expand it, and read
    // one property from each side of the intersection — balance lives
    // only in Account, category only in Merchant
    val r = s.gql("MATCH (x:Account:Merchant) WITH collect(x) AS xs " +
      "UNWIND xs AS y WITH y WHERE y.id = 3 " +
      "RETURN y.balance AS b, y.category AS c").collect().head
    assert(r.getDouble(0) == 300.0 && r.getString(1) == "retail")
    // count parity with the direct intersection scan
    assert(one("MATCH (x:Account:Merchant) WITH collect(x) AS xs " +
      "UNWIND xs AS y RETURN count(y) AS n") == 20L)
  }

  // ---- anchor selection ----

  test("anchored-at-end patterns return identical results reversed") {
    // end node carries the only selective element → compiler anchors there
    assert(one("MATCH (a:Account)-[t:Transaction]->(m:Merchant {id: 1}) " +
      "RETURN count(t) AS n") == 5L) // dst=1 ⟺ i ≡ 1 (mod 20): 5 of 100
    // multi-hop with a selective far end, includes an incoming hop
    val viaEnd = one("MATCH (a:Account)-[t:Transaction]->(m:Merchant)" +
      "<-[p:Purchase]-(b:Account {id: 5}) RETURN count(t) AS n")
    val viaStart = one("MATCH (b:Account {id: 5})-[p:Purchase]->(m:Merchant)" +
      "<-[t:Transaction]-(a:Account) RETURN count(t) AS n")
    assert(viaEnd == viaStart)
  }

  // ---- SQL-style SELECT (ast.rs:43-80; dql_tests.rs:233-285) ----

  test("SELECT ... FROM MATCH mirrors the reference's DQL surface") {
    assert(one("SELECT count(*) AS total_nodes FROM MATCH (n)") == 70L)
    val rows = s.gql("SELECT a.id, a.balance FROM MATCH (a:Account) " +
      "WHERE a.balance > 1000 ORDER BY a.balance DESC LIMIT 10").collect()
    assert(rows.length == 10 && rows.head.getDouble(1) == 5000.0)
    assert(count("SELECT DISTINCT m.category FROM MATCH (m:Merchant) " +
      "ORDER BY m.category") == 1L)
    val grouped = s.gql("SELECT a.status, count(*) AS account_count " +
      "FROM MATCH (a:Account) GROUP BY a.status HAVING count(*) > 5 " +
      "ORDER BY account_count DESC").collect()
    assert(grouped.length == 1 && grouped.head.getLong(1) == 45L)
    // explicit graph path via execute()
    val t = fresh()
    t.execute("CREATE SCHEMA /dql")
    t.saveGraphAs("/dql/fraud")
    t.execute("SESSION RESET")
    assert(t.execute("SELECT count(*) AS n FROM /dql/fraud MATCH (a:Account)")
      .collect().head.getLong(0) == 50L)
  }

  // ---- graph indexes (ast.rs:1707-1787) ----

  test("CREATE INDEX clusters the persisted layout; queries unchanged") {
    val t = fresh()
    t.execute("CREATE SCHEMA /ix")
    t.saveGraphAs("/ix/g")
    assert(t.execute("CREATE GRAPH INDEX acct_bal ON nodes_Account (balance)")
      .collect().head.getBoolean(0))
    assert(t.call("gql.list_indexes").collect()
      .exists(r => r.getString(0) == "acct_bal" && r.getString(2) == "balance"))
    // the rewrite kept semantics: predicate on the indexed column
    assert(t.execute("MATCH (a:Account) WHERE a.balance > 4500 " +
      "RETURN count(a) AS n").collect().head.getLong(0) == 5L)
    assert(t.execute("REINDEX acct_bal").collect().head.getString(0) == "acct_bal")
    assert(t.execute("DROP INDEX acct_bal").collect().head.getBoolean(0))
    assert(t.call("gql.list_indexes").count() == 0L)
  }

  test("ALTER INDEX and OPTIMIZE INDEX (parser.rs:4942-4996)") {
    val t = fresh()
    t.execute("CREATE SCHEMA /ix2")
    t.saveGraphAs("/ix2/g")
    t.execute("CREATE GRAPH INDEX ab ON nodes_Account (balance)")
    // REBUILD and OPTIMIZE both re-cluster; results stay layout-invariant
    assert(t.execute("ALTER INDEX ab REBUILD").collect().head.getString(0) == "ab")
    assert(t.execute("OPTIMIZE INDEX ab").collect().head.getString(0) == "ab")
    assert(t.execute("MATCH (a:Account) WHERE a.balance > 4500 " +
      "RETURN count(a) AS n").collect().head.getLong(0) == 5L)
    // SET OPTION stores metadata; latest write per key wins
    val r = t.execute("ALTER INDEX ab SET OPTION fill_factor = 80")
      .collect().head
    assert(r.getString(1) == "fill_factor" && r.getString(2) == "80")
    t.execute("ALTER INDEX ab SET OPTION fill_factor = 90")
    t.execute("ALTER INDEX ab SET OPTION compression = 'zstd'")
    assert(t.gls.catalog.listIndexOptions("ab") ==
      Seq(("compression", "zstd"), ("fill_factor", "90")))
    // unknown index names error, and DROP clears options
    intercept[IllegalArgumentException] { t.execute("OPTIMIZE INDEX ghost") }
    intercept[IllegalArgumentException] {
      t.execute("ALTER INDEX ghost SET OPTION k = v")
    }
    t.execute("DROP INDEX ab")
    assert(t.gls.catalog.listIndexOptions("ab").isEmpty)
  }

  // ---- temporal/timezone function registry completions (§2.8) ----

  test("EXTRACT, DURATION_NUMERIC, TIME_WINDOW, timezone functions") {
    assert(one("LET ts = datetime('2024-03-15 10:42:30') " +
      "RETURN extract(HOUR, ts) AS h") == 10L)
    assert(one("RETURN duration_numeric(30, 'MINUTES') AS s") == 1800.0)
    assert(one("LET ts = datetime('2024-03-15 10:42:30') " +
      "RETURN time_window(ts, '1 hour') AS w").toString
      .startsWith("2024-03-15 10:00"))
    // AT_TIME_ZONE yields the named-tz value (zone name + UTC instant,
    // value.rs:154); the wall clock (UTC 10:42 in EDT = 06:42) renders
    // on demand via LOCAL_DATETIME
    assert(one("LET ts = datetime('2024-03-15 10:42:30') " +
      "RETURN at_time_zone(ts, 'America/New_York') AS t").toString
      .contains("America/New_York"))
    assert(one("LET ts = datetime('2024-03-15 10:42:30') " +
      "RETURN local_datetime(at_time_zone(ts, 'America/New_York')) AS t")
      .toString.contains("06:42:30"))
    assert(one("LET ts = datetime('2024-03-15 10:42:30') " +
      "RETURN get_timezone_offset('America/New_York', ts) AS o") == -14400L)
  }

  test("new system procedures") {
    val t = fresh()
    t.execute("CREATE USER bob")
    val auth = t.execute("CALL gql.authenticate_user(bob)").collect().head
    assert(auth.getString(0) == "bob" && auth.getBoolean(1))
    assert(t.call("gql.list_graph_types").count() == 0L)
    assert(t.execute("CALL gql.clear_cache()").collect().head.getBoolean(0))
    assert(t.call("gql.cache_stats").columns.sameElements(
      Array("cached_datasets", "cached_partitions")))
  }

  test("password-verified authentication (IDENTIFIED BY)") {
    val t = fresh()
    t.execute("CREATE USER eve IDENTIFIED BY 'hunter2'")
    def auth(args: String*): Boolean =
      t.call("gql.authenticate_user", args).collect().head.getBoolean(1)
    assert(auth("eve", "hunter2"))
    assert(!auth("eve", "wrong"))
    assert(!auth("eve"))            // password required once set
    assert(!auth("nobody", "x"))    // unknown user never authenticates
    // passwordless users (no IDENTIFIED BY) accept only an empty password
    t.execute("CREATE USER open_user")
    assert(auth("open_user"))
    assert(!auth("open_user", "anything"))
    // the stored credential is salted PBKDF2 with the iteration count in
    // the string — never the clear password
    val secPath = java.nio.file.Paths.get(s"${t.gls.warehouse}/_security")
    val stored = java.nio.file.Files.readString(secPath)
    assert(!stored.contains("hunter2"))
    assert(stored.linesIterator.exists(l =>
      l.startsWith("USER\teve\t") && l.split("\t")(2).startsWith("pbkdf2$") &&
        l.split("\t")(2).split('$').length == 4))

    // a legacy salt$sha256(salt:pw) credential (pre-PBKDF2 warehouse)
    // still verifies...
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val legacyCred = "ab12cd34$" + md.digest("ab12cd34:oldpw".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.nio.file.Files.writeString(secPath,
      stored + s"\nUSER\tlegacy_u\t$legacyCred")
    assert(auth("legacy_u", "oldpw"))
    assert(!auth("legacy_u", "wrong"))
    // ...and rotating the password migrates it to the current KDF
    val upd = t.call("gql.update_user", Seq("legacy_u", "newpw"))
      .collect().head
    assert(upd.getString(0) == "legacy_u" && upd.getBoolean(1))
    assert(auth("legacy_u", "newpw") && !auth("legacy_u", "oldpw"))
    val migrated = java.nio.file.Files.readString(secPath)
    assert(migrated.linesIterator.exists(l =>
      l.startsWith("USER\tlegacy_u\tpbkdf2$")))
    // rotating an unknown user reports false
    assert(!t.call("gql.update_user", Seq("ghost", "x"))
      .collect().head.getBoolean(1))
  }

  test("cross-query set ops on edge variables dedup by (type, eid)") {
    // two edge types with OVERLAPPING eids: value-based comparison would
    // merge WIRE#1 with NOTE#1; identity comparison must not (round-12,
    // aligning cross-query set ops with within-query DISTINCT identity)
    val sp = SparkFixture.spark
    import sp.implicits._
    val accounts = (1 to 4).map(i => (i.toLong, s"A$i")).toDF("id", "name")
    val wires = Seq((1L, 2L, 1L, 10.0), (2L, 3L, 2L, 20.0))
      .toDF("src", "dst", "eid", "amount")
    val notes = Seq((3L, 4L, 1L, 5.0), (4L, 1L, 3L, 6.0))
      .toDF("src", "dst", "eid", "amount")
    val g = new graft.graph.PropertyGraph(
      Map("Account" -> accounts),
      Map("WIRE" -> (graft.graph.EdgeType("WIRE", "Account", "Account"), wires),
        "NOTE" -> (graft.graph.EdgeType("NOTE", "Account", "Account"), notes)))
    val t = gqlSession(g)
    def q(gq: String): Long = t.gql(gq).count()
    // UNION: eids {1,2} vs {1,3} — by value 3 rows, by identity 4
    assert(q("MATCH ()-[t:WIRE]->() RETURN t " +
      "UNION MATCH ()-[t:NOTE]->() RETURN t") == 4L)
    // INTERSECT: no edge is in both types — by value eid 1 matches
    assert(q("MATCH ()-[t:WIRE]->() RETURN t " +
      "INTERSECT MATCH ()-[t:NOTE]->() RETURN t") == 0L)
    // EXCEPT: nothing removed — WIRE#1 is not NOTE#1
    assert(q("MATCH ()-[t:WIRE]->() RETURN t " +
      "EXCEPT MATCH ()-[t:NOTE]->() RETURN t") == 2L)
    // same-type operands still compare equal (sanity: identity columns
    // are literals here and agree across sides)
    assert(q("MATCH ()-[t:WIRE]->() RETURN t " +
      "INTERSECT MATCH ()-[t:WIRE]->() RETURN t") == 2L)
    // value items keep plain value semantics through the same machinery
    assert(q("MATCH ()-[t:WIRE]->() RETURN t.amount AS a " +
      "UNION MATCH ()-[t:WIRE]->() RETURN t.amount AS a") == 2L)
  }

  test("cross-query set ops on node variables dedup by (label, id)") {
    val sp = SparkFixture.spark
    import sp.implicits._
    // ids collide across labels: A#1/A#2 vs B#1/B#3 are DIFFERENT nodes
    val as = Seq((1L, "a1"), (2L, "a2")).toDF("id", "name")
    val bs = Seq((1L, "b1"), (3L, "b3")).toDF("id", "name")
    val g = new graft.graph.PropertyGraph(
      Map("A" -> as, "B" -> bs), Map.empty)
    val t = gqlSession(g)
    def q(gq: String): Long = t.gql(gq).count()
    assert(q("MATCH (n:A) RETURN n UNION MATCH (m:B) RETURN m") == 4L)
    assert(q("MATCH (n:A) RETURN n INTERSECT MATCH (m:B) RETURN m") == 0L)
    assert(q("MATCH (n:A) RETURN n EXCEPT MATCH (m:B) RETURN m") == 2L)
    // same label on both sides: identity columns agree, ids dedup
    assert(q("MATCH (n:A) RETURN n UNION MATCH (m:A) RETURN m") == 2L)
    // label-less operands carry the per-row label: the A/B unions of the
    // same ids stay distinct entities
    assert(q("MATCH (n) RETURN n UNION MATCH (m) RETURN m") == 4L)
  }

  test("a node label and edge type sharing a name stay distinct in set ops") {
    val sp = SparkFixture.spark
    import sp.implicits._
    // node label X and edge type X, with id/eid 1 on both sides — the
    // hidden identity is kind-prefixed, so they must never merge
    val xs = Seq((1L, "x1"), (2L, "x2")).toDF("id", "name")
    val edges = Seq((1L, 2L, 1L, 9.0)).toDF("src", "dst", "eid", "w")
    val g = new graft.graph.PropertyGraph(
      Map("X" -> xs),
      Map("X" -> (graft.graph.EdgeType("X", "X", "X"), edges)))
    val t = gqlSession(g)
    assert(t.gql("MATCH (n:X) RETURN n " +
      "UNION MATCH ()-[t:X]->() RETURN t").count() == 3L) // 2 nodes + 1 edge
    assert(t.gql("MATCH (n:X) RETURN n " +
      "INTERSECT MATCH ()-[t:X]->() RETURN t").count() == 0L)
  }

  test("a role literally named 'role' grants and revokes") {
    val t = fresh()
    t.execute("CREATE USER carol")
    t.execute("CREATE ROLE role")
    // ROLE here is the role NAME (next token is TO), not the keyword
    t.execute("GRANT role TO carol")
    assert(t.call("gql.list_grants").collect()
      .exists(r => r.getString(0) == "role" && r.getString(1) == "carol"))
    // the explicit-keyword spelling addresses the same role
    t.execute("REVOKE ROLE role FROM carol")
    assert(!t.call("gql.list_grants").collect()
      .exists(r => r.getString(0) == "role" && r.getString(1) == "carol"))
    t.execute("GRANT ROLE role TO carol")
    t.execute("REVOKE role FROM carol")
    assert(!t.call("gql.list_grants").collect()
      .exists(r => r.getString(0) == "role" && r.getString(1) == "carol"))
  }

  test("update_user is admin-gated for registered callers") {
    val t = fresh()
    t.execute("CREATE USER alice IDENTIFIED BY 'a1'")
    t.execute("CREATE USER bob IDENTIFIED BY 'b1'")
    t.execute("CREATE ROLE admin")
    def auth(u: String, pw: String): Boolean =
      t.call("gql.authenticate_user", Seq(u, pw)).collect().head.getBoolean(1)
    // a registered non-admin user may rotate only their own password
    val bob = t.gls.session("bob")
    assert(bob.call("gql.update_user", Seq("bob", "b2"))
      .collect().head.getBoolean(1))
    assert(auth("bob", "b2"))
    intercept[graft.GqlAuthException] {
      bob.call("gql.update_user", Seq("alice", "pwned")).collect()
    }
    assert(auth("alice", "a1")) // unchanged
    // with role admin the same call succeeds
    t.execute("GRANT ROLE admin TO bob")
    assert(bob.call("gql.update_user", Seq("alice", "a2"))
      .collect().head.getBoolean(1))
    assert(auth("alice", "a2"))
    // an unregistered caller is the embedding application — trusted
    assert(t.call("gql.update_user", Seq("alice", "a3"))
      .collect().head.getBoolean(1))
    assert(auth("alice", "a3"))
  }

  test("security DDL is admin-gated as a unit for registered callers") {
    val t = fresh()
    t.execute("CREATE USER mallory IDENTIFIED BY 'm1'")
    t.execute("CREATE USER victim IDENTIFIED BY 'v1'")
    t.execute("CREATE ROLE admin")
    val mallory = t.gls.session("mallory")
    // the self-escalation that made a per-op gate worthless: a
    // registered non-admin must not be able to mint or grant roles,
    // create/drop users, or grant ACEs
    for (stmt <- Seq(
        "CREATE ROLE sneaky",
        "GRANT ROLE admin TO mallory",
        "DROP USER victim",
        "CREATE USER crony IDENTIFIED BY 'c1'",
        "REVOKE ROLE admin FROM mallory"))
      intercept[graft.GqlAuthException] { mallory.execute(stmt) }
    // nothing changed behind the denials
    assert(t.call("gql.authenticate_user", Seq("victim", "v1"))
      .collect().head.getBoolean(1))
    assert(!t.call("gql.list_grants").collect()
      .exists(_.getString(1) == "mallory"))
    // a real admin (granted by the embedding application) can manage
    t.execute("GRANT ROLE admin TO mallory")
    mallory.execute("CREATE ROLE sneaky") // now allowed
    assert(t.call("gql.list_roles").collect()
      .exists(_.getString(0) == "sneaky"))
  }

  test("dropping a user fails its open sessions CLOSED, never open") {
    val t = fresh()
    t.execute("CREATE USER mallory IDENTIFIED BY 'm1'")
    t.execute("CREATE USER victim IDENTIFIED BY 'v1'")
    t.execute("CREATE ROLE admin")
    val mallory = t.gls.session("mallory") // registered at open
    intercept[graft.GqlAuthException] { mallory.execute("DROP USER victim") }
    // the embedder drops mallory while the session is still open: the
    // live session must NOT be promoted to embedder trust — deletion
    // revokes privileges, it can't escalate them
    t.execute("DROP USER mallory")
    intercept[graft.GqlAuthException] { mallory.execute("DROP USER victim") }
    intercept[graft.GqlAuthException] {
      mallory.call("gql.update_user", Seq("victim", "pwned")).collect()
    }
    assert(t.call("gql.authenticate_user", Seq("victim", "v1"))
      .collect().head.getBoolean(1))
    // a genuinely-unregistered session (embedder) remains trusted
    t.execute("CREATE USER back IDENTIFIED BY 'b1'")
    t.execute("DROP USER back")
  }

  // ---- NEXT chains + session parameters (executor.rs:8559-8641) ----

  test("NEXT chains statements; YIELD captures parameters for $refs") {
    val t = fresh()
    val r = t.execute(
      "MATCH (a:Account) RETURN max(a.balance) AS hi " +
        "NEXT YIELD hi AS threshold " +
        "MATCH (a:Account) WHERE a.balance = $threshold RETURN a.name AS name")
    assert(r.collect().head.getString(0) == "Account50")
    assert(t.parameters("threshold") == 5000.0)
    assert(t.call("gql.show_parameters").collect()
      .exists(row => row.getString(0) == "threshold"))
    // NEXT without a following statement returns the captured params
    val r2 = t.execute("MATCH (m:Merchant) RETURN count(m) AS n " +
      "NEXT YIELD n AS merchants")
    assert(r2.columns.sameElements(Array("parameter", "value")))
    assert(t.parameters("merchants") == 20L)
  }

  test("NEXT inside edge patterns or property access does not split") {
    assert(Parser.parseStatement(
      "MATCH (a:TestNode) RETURN a.next AS x").isInstanceOf[Ast.QueryStmt])
    assert(graft.NextChain.split(
      "MATCH (a)-[:NEXT]->(b) RETURN count(b) AS n").size == 1)
    assert(graft.NextChain.split(
      "RETURN 1 AS a NEXT RETURN 2 AS b").size == 2)
  }

  test("NEXT YIELD passes the whole binding table, not just the first row") {
    val t = fresh()
    // three accounts qualify; all three rows must reach the next statement
    val r = t.execute(
      "MATCH (a:Account) WHERE a.balance >= 4800 RETURN a.id AS aid " +
        "NEXT YIELD aid " +
        "MATCH (x:Account) WHERE x.id = aid RETURN count(x) AS n")
    assert(r.collect().head.getLong(0) == 3L) // ids 48, 49, 50
    // a chained statement without MATCH aggregates over the seeded table
    val r2 = t.execute("MATCH (m:Merchant) RETURN m.id AS mid " +
      "NEXT YIELD mid RETURN count(mid) AS c")
    assert(r2.collect().head.getLong(0) == 20L)
    // and the first-row parameter snapshot still works alongside
    assert(t.parameters.contains("mid"))
  }

  test("a raw-body statement mid-chain swallows later NEXTs") {
    val t = fresh()
    // chunk 2 starts CREATE PROCEDURE: the final NEXT belongs to ITS body
    t.execute("MATCH (m:Merchant) RETURN count(m) AS n " +
      "NEXT CREATE PROCEDURE midchain AS " +
      "RETURN 1 AS a NEXT YIELD a AS captured RETURN $captured + 41 AS out")
    assert(!t.parameters.contains("captured")) // tail did not run eagerly
    assert(t.execute("CALL midchain()").collect().head.getLong(0) == 42L)
    t.execute("DROP PROCEDURE midchain")
  }

  test("CREATE PROCEDURE keeps a NEXT chain inside the stored body") {
    val t = fresh()
    // the chain must be stored whole, not split at the embedded NEXT with
    // the tail executing immediately in this session
    t.execute("CREATE PROCEDURE chained AS " +
      "MATCH (m:Merchant) RETURN count(m) AS n " +
      "NEXT YIELD n AS stored_count " +
      "RETURN $stored_count + 1 AS plus_one")
    assert(!t.parameters.contains("stored_count")) // nothing ran at CREATE
    val r = t.execute("CALL chained()")
    assert(r.collect().head.getLong(0) == 21L)
    assert(t.parameters("stored_count") == 20L) // captured at CALL time
    t.execute("DROP PROCEDURE chained")
  }

  test("timezone introspection functions resolve like the reference") {
    assert(one("RETURN GET_TIMEZONE_NAME('EST') AS x") == "America/New_York")
    assert(one("RETURN GET_TIMEZONE_NAME('+05:30') AS x") == "+05:30")
    assert(one("RETURN GET_TIMEZONE_ABBREVIATION('America/New_York') AS x")
      == "EST/EDT")
    assert(one("RETURN GET_TIMEZONE_ABBREVIATION('Asia/Tokyo') AS x") == "JST")
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE', NOW()) AS x") == "UTC")
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', NOW()) AS x") == 0.0)
    intercept[GqlCompileException] {
      one("RETURN GET_TIMEZONE_NAME('NotAZone/Fake') AS x")
    }
  }

  test("DECLARE defines typed session variables for $refs") {
    val t = fresh()
    val r = t.execute("DECLARE lo INT = 10, hi INT = 20, tag STRING = 'x'")
    assert(r.count() == 3)
    assert(t.parameters("lo") == 10L && t.parameters("hi") == 20L)
    assert(one2(t, "MATCH (a:Account) WHERE a.id >= $lo AND a.id <= $hi " +
      "RETURN count(a) AS n") == 11L)
    // type coercion and validation
    intercept[GqlCompileException] { t.execute("DECLARE z INT = 'nope'") }
    intercept[GqlCompileException] { t.execute("DECLARE z BLOB = 1") }
  }

  test("DECLARE evaluates expression and subquery initializers") {
    val t = fresh()
    // missing initializer → the reference's typed default
    t.execute("DECLARE dflt INT, dstr STRING, dbool BOOLEAN")
    assert(t.parameters("dflt") == 0L)
    assert(t.parameters("dstr") == "")
    assert(t.parameters("dbool") == false)
    // arithmetic over an already-declared $var
    t.execute("DECLARE base INT = 10")
    t.execute("DECLARE derived INT = $base * 3 + 2")
    assert(t.parameters("derived") == 32L)
    // scalar subquery over the current graph, evaluated at DECLARE time
    t.execute("DECLARE n_accounts INT = (MATCH (a:Account) RETURN count(a))")
    assert(t.parameters("n_accounts") == 50L)
    assert(one2(t, "RETURN $n_accounts + 1 AS x") == 51L)
    // later graph mutations don't retroactively change the variable
    t.execute("INSERT (:Account {id: 999, name: 'Late', balance: 1, " +
      "risk_score: 0.1, status: 'active'})")
    assert(t.parameters("n_accounts") == 50L)
  }

  test("DECLARE inside a procedure body is scoped to the call") {
    val t = fresh()
    t.execute("DECLARE kept INT = 7")
    t.execute("CREATE PROCEDURE scoped AS " +
      "DECLARE tmp INT = 99, kept INT = 1 " +
      "NEXT RETURN $tmp + $kept AS s")
    assert(t.execute("CALL scoped()").collect().head.getLong(0) == 100L)
    // body DECLAREs don't leak; pre-existing values are restored
    assert(!t.parameters.contains("tmp"))
    assert(t.parameters("kept") == 7L)
    t.execute("DROP PROCEDURE scoped")
  }

  test("SESSION SET NUMBERS F64 switches to reference arithmetic") {
    val t = fresh()
    // native: integer addition stays integral (Spark semantics)
    assert(one2(t, "RETURN 7 + 2 AS x") == 9L)
    t.execute("SESSION SET NUMBERS F64")
    // f64 mode: every arithmetic result is double (value.rs:449-453)
    assert(one2(t, "RETURN 7 + 2 AS x") == 9.0)
    assert(one2(t, "RETURN 7 / 2 AS x") == 3.5)
    t.execute("SESSION SET NUMBERS NATIVE")
    assert(one2(t, "RETURN 7 + 2 AS x") == 9L)
  }

  private def one2(t: graft.GqlSession, q: String): Any =
    t.gql(q).collect().head.get(0)

  // ---- AT location (ast.rs AtLocation) ----

  test("AT executes against another graph and restores the session") {
    val t = fresh()
    t.execute("CREATE SCHEMA /loc")
    t.saveGraphAs("/loc/snapshot")
    // session back on the snapshot after saveGraphAs; mutate the session
    // copy so the two graphs differ
    t.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 0.0")
    t.saveGraphAs("/loc/mutated")
    t.useGraph("/loc/snapshot")
    assert(t.execute("AT /loc/mutated MATCH (a:Account {id: 1}) " +
      "RETURN a.balance AS b").collect().head.getDouble(0) == 0.0)
    // restored: the session still reads the unmutated snapshot
    assert(t.execute("MATCH (a:Account {id: 1}) RETURN a.balance AS b")
      .collect().head.getDouble(0) == 100.0)
    assert(t.currentGraphName.contains("/loc/snapshot"))
  }

  test("AT restores the session's graph-type binding") {
    val t = fresh()
    t.execute("CREATE GRAPH TYPE AtType (NODE TYPE Account " +
      "(id INT NOT NULL, account_number STRING, name STRING, " +
      "balance DOUBLE, status STRING, account_type STRING, risk_score DOUBLE))")
    t.execute("SESSION SET GRAPH TYPE AtType")
    t.execute("CREATE SCHEMA /att")
    t.saveGraphAs("/att/plain") // plain graph, no type binding
    // AT switches to the unbound graph; the finally must restore the type
    t.execute("AT /att/plain MATCH (a:Account) RETURN count(a) AS n")
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      t.execute("INSERT (:Ghost {id: 1})") // enforcement still active
    }
    t.execute("DROP GRAPH TYPE AtType")
  }

  test("AT with a NEXT chain runs the whole chain in the AT context") {
    val t = fresh()
    t.execute("CREATE SCHEMA /loc2")
    t.saveGraphAs("/loc2/base")
    t.execute("MATCH (a:Account) WHERE a.id <= 10 DETACH DELETE a")
    t.saveGraphAs("/loc2/small")
    t.useGraph("/loc2/base")
    // both chain statements must see /loc2/small (40 accounts), and the
    // session graph must be restored afterwards
    val r = t.execute("AT /loc2/small " +
      "MATCH (a:Account) RETURN count(a) AS n " +
      "NEXT YIELD n AS small_n " +
      "MATCH (a:Account) RETURN count(a) + $small_n AS doubled")
    assert(r.collect().head.getLong(0) == 80L)
    assert(t.currentGraphName.contains("/loc2/base"))
    assert(t.execute("MATCH (a:Account) RETURN count(a) AS n")
      .collect().head.getLong(0) == 50L)
  }

  // ---- SESSION RESET ----

  test("SESSION RESET clears the current graph") {
    val t = fresh()
    t.execute("SESSION RESET")
    intercept[IllegalStateException] { t.gql("MATCH (a:Account) RETURN a.id") }
  }

  // ---- scalar subqueries in expression positions (executor.rs:4587-4810)

  test("uncorrelated scalar subquery in WHERE") {
    // max balance 5000 → threshold 4500 → ids 46..50
    assert(one("MATCH (a:Account) " +
      "WHERE a.balance > (MATCH (b:Account) RETURN max(b.balance) - 500) " +
      "RETURN count(a) AS n") == 5L)
  }

  test("uncorrelated scalar subquery in RETURN") {
    assert(one("MATCH (a:Account) WHERE a.id = 1 " +
      "RETURN a.balance / (MATCH (b:Account) RETURN max(b.balance)) AS frac")
      == 0.02)
  }

  test("scalar subquery under OR (arbitrary boolean position)") {
    // ids 49,50 ∪ balance > 4900 (id 50) → 2
    assert(one("MATCH (a:Account) WHERE a.id > 48 OR " +
      "a.balance > (MATCH (b:Account) RETURN max(b.balance) - 100) " +
      "RETURN count(a) AS n") == 2L)
  }

  test("correlated scalar subquery groups per outer row") {
    // every merchant receives exactly 5 of the 100 Transaction edges
    val rows = s.gql("MATCH (m:Merchant) RETURN m.name AS name, " +
      "(MATCH (a:Account)-[:Transaction]->(m) RETURN count(a)) AS n " +
      "ORDER BY name").collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getLong(1) == 5L))
  }

  test("correlated COUNT coalesces to 0 on empty match") {
    val rows = s.gql("MATCH (a:Account) WHERE a.id <= 3 " +
      "RETURN a.id AS id, (MATCH (a)-[:Transaction]->(m:Merchant) " +
      "WHERE m.id > 100 RETURN count(m)) AS n ORDER BY id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 0L, 0L))
  }

  test("correlated non-COUNT aggregate stays null-on-empty") {
    // account i's Transactions hit merchants i%20 and (i+50)%20 → max 11, 12
    val rows = s.gql("MATCH (a:Account) WHERE a.id <= 2 " +
      "RETURN a.id AS id, (MATCH (a)-[:Transaction]->(m:Merchant) " +
      "RETURN max(m.id)) AS mx ORDER BY id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(11L, 12L))
  }

  // ---- quantified comparisons (ast.rs:1326-1334; TODO in the
  // reference's executor — we ship SQL 3VL semantics)

  test("= ANY is set membership") {
    assert(one("MATCH (a:Account) " +
      "WHERE a.id = ANY (MATCH (m:Merchant) RETURN m.id) " +
      "RETURN count(a) AS n") == 20L)
  }

  test("> ALL compares against the maximum") {
    // merchant ids * 200 → max 4000 → balance > 4000 → ids 41..50
    assert(one("MATCH (a:Account) " +
      "WHERE a.balance > ALL (MATCH (m:Merchant) RETURN m.id * 200.0) " +
      "RETURN count(a) AS n") == 10L)
  }

  test("<> ALL is NOT IN") {
    assert(one("MATCH (a:Account) " +
      "WHERE a.id <> ALL (MATCH (m:Merchant) RETURN m.id) " +
      "RETURN count(a) AS n") == 30L)
  }

  test("< SOME compares against the maximum") {
    // merchant ids * 100 → max 2000 → balance < 2000 → ids 1..19
    assert(one("MATCH (a:Account) " +
      "WHERE a.balance < SOME (MATCH (m:Merchant) RETURN m.id * 100.0) " +
      "RETURN count(a) AS n") == 19L)
  }

  test("quantified comparison over the empty set") {
    assert(one("MATCH (a:Account) " +
      "WHERE a.id = ANY (MATCH (m:Merchant) WHERE m.id > 999 RETURN m.id) " +
      "RETURN count(a) AS n") == 0L)
    assert(one("MATCH (a:Account) " +
      "WHERE a.id > ALL (MATCH (m:Merchant) WHERE m.id > 999 RETURN m.id) " +
      "RETURN count(a) AS n") == 50L)
  }

  test("WITH property access + node passthrough (with_clause_property_access_bug.rs)") {
    // property access in WITH behaves exactly like RETURN (the reference
    // logged this as a bug investigation; we pin the working semantics)
    val r = s.gql("MATCH (a:Account) WHERE a.id = 1 " +
      "WITH a.name AS nm, a.balance AS bal, a.risk_score AS rs " +
      "RETURN nm, bal, rs").collect().head
    assert(r.getString(0) == "Account1" && r.getDouble(1) == 100.0)
    // node passthrough next to a projected property of the same node
    val r2 = s.gql("MATCH (a:Account) WHERE a.id = 2 " +
      "WITH a AS node, a.balance AS bal " +
      "RETURN node.name AS nm, bal").collect().head
    assert(r2.getString(0) == "Account2" && r2.getDouble(1) == 200.0)
    // chained WITH: re-projection over an earlier WITH alias
    val r3 = s.gql("MATCH (a:Account) WHERE a.id <= 10 " +
      "WITH a.balance AS bal WITH bal * 2 AS dbl " +
      "RETURN sum(dbl) AS s").collect().head
    assert(r3.getDouble(0) == 11000.0)
  }

  test("named-tz values preserve zone name + UTC instant (value.rs:154)") {
    // constructor: (tz, ts) struct, zone name and instant both preserved
    val z = s.gql("RETURN AT_TIME_ZONE(DATETIME('2024-07-01 12:00:00'), " +
      "'America/New_York') AS z").collect().head.getStruct(0)
    assert(z.getString(z.fieldIndex("tz")) == "America/New_York")
    assert(z.getTimestamp(z.fieldIndex("ts")).toInstant.toString
      == "2024-07-01T12:00:00Z")
    // field accessors round-trip the zone name
    assert(one("RETURN AT_TIME_ZONE(DATETIME('2024-07-01 12:00:00'), " +
      "'America/New_York').tz AS x") == "America/New_York")
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE', " +
      "AT_TIME_ZONE(NOW(), 'Asia/Tokyo')) AS x") == "Asia/Tokyo")
    // DST-correct offsets at the value's instant (timezone_functions.rs:447)
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', AT_TIME_ZONE(" +
      "DATETIME('2024-07-01 12:00:00'), 'America/New_York')) AS x") == -4.0)
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', AT_TIME_ZONE(" +
      "DATETIME('2024-01-01 12:00:00'), 'America/New_York')) AS x") == -5.0)
    // sub-hour zones: reference HOUR is fractional, MINUTE is the remainder
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', AT_TIME_ZONE(" +
      "DATETIME('2024-01-01 12:00:00'), 'Asia/Kolkata')) AS x") == 5.5)
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_MINUTE', AT_TIME_ZONE(" +
      "DATETIME('2024-01-01 12:00:00'), 'Asia/Kolkata')) AS x") == 30.0)
    // wall-clock rendering derives from (tz, ts) on demand
    assert(one("RETURN LOCAL_DATETIME(AT_TIME_ZONE(" +
      "DATETIME('2024-07-01 12:00:00'), 'America/New_York')) AS x")
      .toString.startsWith("2024-07-01 08:00:00"))
    // plain session timestamps stay naive-UTC
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE', NOW()) AS x") == "UTC")
  }

  test("fixed-offset datetime values (DateTimeWithFixedOffset, " +
      "value.rs:153; parse_fixed_offset timezone_functions.rs:60-102)") {
    // a fixed numeric offset rides the same (tz, ts) struct: the zone
    // slot holds the normalized offset id, the instant stays UTC
    val z = s.gql("RETURN AT_TIME_ZONE(DATETIME('2024-01-01 12:00:00'), " +
      "'+05:30') AS z").collect().head.getStruct(0)
    assert(z.getString(z.fieldIndex("tz")) == "+05:30")
    assert(z.getTimestamp(z.fieldIndex("ts")).toInstant.toString
      == "2024-01-01T12:00:00Z")
    // compact form normalizes like the reference's FixedOffset display
    assert(one("RETURN AT_TIME_ZONE(NOW(), '+0530').tz AS x") == "+05:30")
    // offset components: HOUR is the fractional total, MINUTE the
    // sub-hour remainder — both signed (timezone_functions.rs:443-485)
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', AT_TIME_ZONE(" +
      "DATETIME('2024-01-01 12:00:00'), '+05:30')) AS x") == 5.5)
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_MINUTE', AT_TIME_ZONE(" +
      "DATETIME('2024-01-01 12:00:00'), '+05:30')) AS x") == 30.0)
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', AT_TIME_ZONE(" +
      "DATETIME('2024-01-01 12:00:00'), '-04:30')) AS x") == -4.5)
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_MINUTE', AT_TIME_ZONE(" +
      "DATETIME('2024-01-01 12:00:00'), '-04:30')) AS x") == -30.0)
    // no DST: the offset is instant-independent, unlike named zones
    assert(one("RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', AT_TIME_ZONE(" +
      "DATETIME('2024-07-01 12:00:00'), '+05:30')) AS x") == 5.5)
    // wall-clock rendering applies the offset
    assert(one("RETURN LOCAL_DATETIME(AT_TIME_ZONE(" +
      "DATETIME('2024-01-01 12:00:00'), '+05:30')) AS x")
      .toString.startsWith("2024-01-01 17:30:00"))
    // CONVERT_TZ between a fixed offset and a named zone
    assert(one("RETURN LOCAL_DATETIME(CONVERT_TZ(" +
      "DATETIME('2024-01-01 17:30:00'), '+05:30', 'UTC')) AS x")
      .toString.startsWith("2024-01-01 12:00:00"))
    // zoned aliases carry fixed offsets through WITH/LET like named zones
    assert(one("LET z = AT_TIME_ZONE(DATETIME('2024-01-01 12:00:00'), " +
      "'+05:30') RETURN EXTRACT_TIMEZONE('TIMEZONE', z) AS x") == "+05:30")
    // abbreviation of a fixed offset is the offset itself
    assert(one("RETURN GET_TIMEZONE_ABBREVIATION('+05:30') AS x") == "+05:30")
    // reference rejections (timezone_functions.rs:724-734): unsigned or
    // out-of-range offsets are invalid
    intercept[GqlCompileException] {
      one("RETURN AT_TIME_ZONE(NOW(), '05:30') AS x")
    }
    intercept[GqlCompileException] {
      one("RETURN AT_TIME_ZONE(NOW(), '+25:00') AS x")
    }
  }

  test("bi-temporal values round-trip (TemporalValue, value.rs:19-24)") {
    // construct + field access
    val tv = s.gql("RETURN TEMPORAL_VALUE(42, DATETIME('2024-01-01 00:00:00'), " +
      "DATETIME('2024-06-01 00:00:00'), DATETIME('2024-01-02 00:00:00')) AS tv")
      .collect().head.getStruct(0)
    assert(tv.getLong(tv.fieldIndex("value")) == 42L)
    assert(tv.getTimestamp(tv.fieldIndex("valid_from")).toInstant.toString
      == "2024-01-01T00:00:00Z")
    assert(tv.getTimestamp(tv.fieldIndex("valid_to")).toInstant.toString
      == "2024-06-01T00:00:00Z")
    assert(one("RETURN TEMPORAL_VALUE(42, DATETIME('2024-01-01 00:00:00'))" +
      ".value AS v") == 42L)
    // is_valid_at: t >= valid_from AND (valid_to IS NULL OR t < valid_to)
    def validAt(t: String): Any = one("RETURN VALID_AT(TEMPORAL_VALUE(1, " +
      "DATETIME('2024-01-01 00:00:00'), DATETIME('2024-06-01 00:00:00')), " +
      s"DATETIME('$t')) AS x")
    assert(validAt("2024-03-01 00:00:00") == true)
    assert(validAt("2024-01-01 00:00:00") == true)  // inclusive lower bound
    assert(validAt("2024-06-01 00:00:00") == false) // exclusive upper bound
    assert(validAt("2023-12-31 23:59:59") == false)
    // open interval (no valid_to) is valid at any later instant
    assert(one("RETURN VALID_AT(TEMPORAL_VALUE(1, " +
      "DATETIME('2024-01-01 00:00:00')), DATETIME('2099-01-01 00:00:00')) " +
      "AS x") == true)
    // is_current: open interval or future valid_to
    assert(one("RETURN TEMPORAL_CURRENT(TEMPORAL_VALUE(1, " +
      "DATETIME('2024-01-01 00:00:00'))) AS x") == true)
    assert(one("RETURN TEMPORAL_CURRENT(TEMPORAL_VALUE(1, " +
      "DATETIME('2024-01-01 00:00:00'), DATETIME('2024-06-01 00:00:00'))) " +
      "AS x") == false)
  }

  test("zoned values keep their zone through LET and WITH aliases") {
    // round-7 advice: dispatch was purely syntactic, so a zoned struct
    // behind an alias silently took the naive branch ('UTC', offset 0)
    assert(one("LET z = AT_TIME_ZONE(DATETIME('2024-07-01 12:00:00'), " +
      "'Asia/Tokyo') RETURN EXTRACT_TIMEZONE('TIMEZONE', z) AS x")
      == "Asia/Tokyo")
    assert(one("LET z = AT_TIME_ZONE(DATETIME('2024-07-01 12:00:00'), " +
      "'America/New_York') RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', z) AS x")
      == -4.0)
    assert(one("LET z = AT_TIME_ZONE(DATETIME('2024-07-01 12:00:00'), " +
      "'America/New_York') RETURN LOCAL_DATETIME(z) AS x")
      .toString.startsWith("2024-07-01 08:00:00"))
    // re-aliased through a WITH projection
    assert(one("MATCH (a:Account) WHERE a.id = 1 " +
      "WITH AT_TIME_ZONE(DATETIME('2024-01-01 12:00:00'), " +
      "'America/New_York') AS z0 " +
      "WITH z0 AS z RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', z) AS x")
      == -5.0)
    // a non-zoned rebinding of the same name reverts to naive
    assert(one("LET z = AT_TIME_ZONE(NOW(), 'Asia/Tokyo') " +
      "LET z = NOW() RETURN EXTRACT_TIMEZONE('TIMEZONE', z) AS x") == "UTC")
    // round-8 advice: a subquery compiled mid-statement must not clobber
    // the outer zoned-alias set — z stays zoned after the scalar sub
    assert(one("MATCH (a:Account) WHERE a.id = 1 " +
      "WITH AT_TIME_ZONE(DATETIME('2024-07-01 12:00:00'), 'Asia/Tokyo') AS z, " +
      "a.balance AS bal " +
      "RETURN EXTRACT_TIMEZONE('TIMEZONE', z) AS x, " +
      "bal - (MATCH (b:Account) RETURN min(b.balance)) AS d")
      == "Asia/Tokyo")
  }

  test("graph grants are enforced at attach time (security.rs ACEs)") {
    val wh = tempDir("sec").toString
    val gls = graft.GraphLiteSpark.open(SparkFixture.spark, wh)
    val admin = gls.session("admin").useGraph(SparkFixture.fraudGraph)
    admin.saveGraphAs("/main/secure")
    // ungoverned graph: anyone may attach
    gls.session("nobody").useGraph("/main/secure")
    admin.execute("CREATE USER alice")
    admin.execute("CREATE USER bob")
    admin.execute("CREATE ROLE analysts")
    assert(admin.execute("GRANT SELECT ON /main/secure TO alice")
      .collect().head.getBoolean(0))
    // governed now: granted user proceeds, denied user gets an auth error
    val alice = gls.session("alice").useGraph("/main/secure")
    assert(alice.gql("MATCH (a:Account) RETURN count(a) AS n")
      .collect().head.getLong(0) == 50L)
    intercept[graft.GqlAuthException] {
      gls.session("bob").useGraph("/main/secure")
    }
    // SESSION SET GRAPH goes through the same check
    intercept[graft.GqlAuthException] {
      gls.session("bob").execute("SESSION SET GRAPH /main/secure")
    }
    // role-mediated grant: bob gets access through a granted role
    admin.execute("GRANT ALL ON /main/secure TO analysts")
    admin.execute("GRANT analysts TO bob")
    gls.session("bob").useGraph("/main/secure")
    // revoke closes the door again
    admin.execute("REVOKE ALL ON /main/secure FROM analysts")
    intercept[graft.GqlAuthException] {
      gls.session("bob").useGraph("/main/secure")
    }
    // unknown principals can't be granted to
    intercept[IllegalArgumentException] {
      admin.execute("GRANT SELECT ON /main/secure TO ghost")
    }
  }

  test("grants are enforced per operation (security.rs:219-246 Permission)") {
    val wh = tempDir("sec2").toString
    val gls = graft.GraphLiteSpark.open(SparkFixture.spark, wh)
    val admin = gls.session("admin").useGraph(SparkFixture.fraudGraph)
    admin.saveGraphAs("/main/ops")
    admin.execute("CREATE USER reader")
    admin.execute("CREATE USER writer")
    admin.execute("GRANT SELECT ON /main/ops TO reader")
    admin.execute("GRANT INSERT ON /main/ops TO writer")

    // SELECT-only: reads work, every DML class is rejected
    val reader = gls.session("reader").useGraph("/main/ops")
    assert(reader.gql("MATCH (a:Account) RETURN count(a) AS n")
      .collect().head.getLong(0) == 50L)
    intercept[graft.GqlAuthException] {
      reader.execute("INSERT (:Account {id: 999, name: 'x', balance: 1.0, " +
        "risk_score: 0.1})")
    }
    intercept[graft.GqlAuthException] {
      reader.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 0.0")
    }
    intercept[graft.GqlAuthException] {
      reader.execute("MATCH (a:Account) WHERE a.id = 999 DELETE a")
    }

    // INSERT-only: may attach (round-7 advice: previously SELECT-gated
    // attach locked writers out entirely) and insert, but not read
    val writer = gls.session("writer").useGraph("/main/ops")
    writer.execute("INSERT (:Tag {id: 1, label: 'seed'})")
    intercept[graft.GqlAuthException] {
      writer.gql("MATCH (a:Account) RETURN count(a) AS n").collect()
    }
    // round-8 advice: graph-READING system procedures demand SELECT too —
    // an INSERT-only user must not read topology through CALL
    intercept[graft.GqlAuthException] {
      writer.call("gql.find_neighbors", Seq("Transaction", "1", "2"))
    }
    intercept[graft.GqlAuthException] {
      writer.execute("CALL gql.is_reachable(Transaction, 1, 2, 3)")
    }
    // while the SELECT-granted reader uses them freely
    reader.call("gql.find_neighbors", Seq("Transaction", "1", "2")).collect()
  }

  test("REVOKE role FROM user is the inverse of GRANT role TO user") {
    val wh = tempDir("sec3").toString
    val gls = graft.GraphLiteSpark.open(SparkFixture.spark, wh)
    val admin = gls.session("admin").useGraph(SparkFixture.fraudGraph)
    admin.saveGraphAs("/main/roles")
    admin.execute("CREATE USER carol")
    admin.execute("CREATE ROLE auditors")
    admin.execute("GRANT SELECT ON /main/roles TO auditors")
    admin.execute("GRANT auditors TO carol")
    gls.session("carol").useGraph("/main/roles") // via role
    assert(admin.execute("REVOKE auditors FROM carol")
      .collect().head.getBoolean(0))
    intercept[graft.GqlAuthException] {
      gls.session("carol").useGraph("/main/roles")
    }
    // revoking an absent membership reports false, not an error
    assert(!admin.execute("REVOKE auditors FROM carol")
      .collect().head.getBoolean(0))
  }

  test("EXPLAIN returns the full phase trace (plan/trace.rs analog)") {
    // the gql01 flagship shape: expand + aggregate + order
    val trace = s.explain("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE a.balance > 1000 " +
      "RETURN m.name AS name, count(t) AS n ORDER BY name")
    // all phase sections present, in order, each timed (per-phase millis
    // like the reference's trace entries)
    val sections = Seq("=== AST (parse ",
      "=== Logical plan (compile ",
      "=== Optimized logical plan (optimize ", "=== Physical plan (plan ")
    val idx = sections.map(trace.indexOf)
    assert(idx.forall(_ >= 0), s"missing section in:\n$trace")
    assert(idx == idx.sorted)
    assert("""\d+\.\d\d ms""".r.findAllIn(trace).size >= 5,
      s"expected per-phase timings in:\n$trace")
    // each phase carries its own representation: the GQL AST, the join
    // tree the compiler built, and a physical operator tree
    val ast = trace.substring(idx(0), idx(1))
    assert(ast.contains("Query(") || ast.contains("Segment"))
    val logical = trace.substring(idx(1), idx(2))
    assert(logical.contains("Join"))
    val physical = trace.substring(idx(3))
    assert(physical.contains("HashAggregate") || physical.contains("Sort"))
  }

  test("correlated scalar subquery over a two-hop pattern") {
    // (a)-[:Transaction]->(m)<-[:Purchase]-(b): account a hits one
    // merchant in 1..10 (3 purchases) and one in 11..20 (2 purchases)
    val rows = s.gql("MATCH (a:Account) RETURN a.id AS id, " +
      "(MATCH (a)-[:Transaction]->(m:Merchant)<-[:Purchase]-(b:Account) " +
      "RETURN count(b)) AS n ORDER BY id").collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getLong(1) == 5L))
    // inner WHERE applies before the per-key aggregation: accounts 1..20
    // purchase one-to-one to merchants 1..20
    val filtered = s.gql("MATCH (a:Account) RETURN a.id AS id, " +
      "(MATCH (a)-[:Transaction]->(m:Merchant)<-[:Purchase]-(b:Account) " +
      "WHERE b.id <= 20 RETURN count(b)) AS n ORDER BY id").collect()
    assert(filtered.forall(_.getLong(1) == 2L))
  }

  test("correlated subqueries accept WITH pipelines (round-7 missing #1)") {
    // a WITH pass-through is semantically the identity — the pipeline
    // shape must agree exactly with its single-segment equivalent
    def rows(q: String) = s.gql(q).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.get(1))).toSeq
    val direct = rows("MATCH (a:Account) RETURN a.id AS id, " +
      "(MATCH (a)-[t:Transaction]->(m:Merchant) RETURN max(t.amount)) AS top " +
      "ORDER BY id")
    val piped = rows("MATCH (a:Account) RETURN a.id AS id, " +
      "(MATCH (a)-[t:Transaction]->(m:Merchant) WITH t.amount AS amt " +
      "RETURN max(amt)) AS top ORDER BY id")
    assert(piped == direct && direct.length == 50)
    // aggregating WITH intermediate + plain final RETURN
    val grouped = rows("MATCH (a:Account) RETURN a.id AS id, " +
      "(MATCH (a)-[t:Transaction]->(m:Merchant) " +
      "WITH count(t) AS n_t RETURN n_t * 10) AS x ORDER BY id")
    assert(grouped.forall(_._2 == 20L)) // 2 transactions per account
    // correlated quantified comparison over a 2-segment sub
    assert(one("MATCH (a:Account) " +
      "WHERE a.balance > ALL (MATCH (a)-[:Transaction]->(m:Merchant) " +
      "WITH m.id * 200.0 AS v RETURN v) RETURN count(a) AS n") == 19L)
  }

  test("correlated scalar subquery accepts OPTIONAL MATCH") {
    // every account makes exactly one Purchase — the OPTIONAL hop binds
    val rows = s.gql("MATCH (a:Account) RETURN a.id AS id, " +
      "(MATCH (a) OPTIONAL MATCH (a)-[p:Purchase]->(m:Merchant) " +
      "RETURN count(m)) AS n ORDER BY id").collect()
    assert(rows.length == 50 && rows.forall(_.getLong(1) == 1L))
  }

  test("correlated top-k subquery: ORDER BY / LIMIT on the final RETURN " +
      "(round-8 missing #5 — latest-per-key via row_number)") {
    // each account has exactly two Transaction edges: i = a (ts = a) and
    // i = a + 50 (ts = a + 50), amount 50 + (i % 30) — the LATEST is
    // always the i = a + 50 edge
    val rows = s.gql("MATCH (a:Account) WHERE a.id <= 3 " +
      "RETURN a.id AS id, " +
      "(MATCH (a)-[t:Transaction]->(m:Merchant) " +
      "RETURN t.amount ORDER BY t.timestamp DESC LIMIT 1) AS last_amt " +
      "ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 71.0), (2L, 72.0), (3L, 73.0)))
    // SKIP reaches the second-latest (the ts = a edge, amount 50 + a%30)
    val second = s.gql("MATCH (a:Account) WHERE a.id = 1 " +
      "RETURN (MATCH (a)-[t:Transaction]->(m:Merchant) " +
      "RETURN t.amount ORDER BY t.timestamp DESC SKIP 1 LIMIT 1) AS amt")
      .collect().head.getDouble(0)
    assert(second == 51.0)
    // DISTINCT collapses duplicate values before the scalar reduction
    assert(s.gql("MATCH (a:Account) WHERE a.id = 1 " +
      "RETURN (MATCH (a)-[t:Transaction]->(m:Merchant) " +
      "RETURN DISTINCT m.category ORDER BY m.category LIMIT 1) AS cat")
      .collect().head.getString(0) == "retail")
    // ordered-no-LIMIT scalar takes the FIRST row per key deterministically
    assert(s.gql("MATCH (a:Account) WHERE a.id = 1 " +
      "RETURN (MATCH (a)-[t:Transaction]->(m:Merchant) " +
      "RETURN t.amount ORDER BY t.amount DESC) AS top")
      .collect().head.getDouble(0) == 71.0)
  }

  test("correlated subquery still rejects mid-pipeline ORDER BY / LIMIT " +
      "honestly") {
    val e = intercept[graft.gql.GqlCompileException] {
      s.gql("MATCH (a:Account) RETURN a.id AS id, " +
        "(MATCH (a)-[t:Transaction]->(m:Merchant) " +
        "WITH t.amount AS amt ORDER BY amt LIMIT 3 " +
        "RETURN max(amt)) AS top").collect()
    }
    assert(e.getMessage.contains("only supported on the final RETURN"))
  }

  test("correlated > ALL compares per outer row") {
    // per-account merchant pair {r, r+10}: a*100 > max*200 ⟺ a > 2L;
    // L(a) walks 4 arithmetic bands → 19 accounts qualify (31..39, 41..50)
    assert(one("MATCH (a:Account) " +
      "WHERE a.balance > ALL (MATCH (a)-[:Transaction]->(m:Merchant) " +
      "RETURN m.id * 200.0) RETURN count(a) AS n") == 19L)
    // empty per-key set is vacuously TRUE
    assert(one("MATCH (a:Account) " +
      "WHERE a.balance > ALL (MATCH (a)-[:Transaction]->(m:Merchant) " +
      "WHERE m.id > 999 RETURN m.id * 200.0) RETURN count(a) AS n") == 50L)
  }

  test("correlated = ANY / <> ALL membership per outer row") {
    // a.id ∈ {a's merchant ids} ⟺ a ≤ 20 (r1 = a there)
    assert(one("MATCH (a:Account) " +
      "WHERE a.id = ANY (MATCH (a)-[:Transaction]->(m:Merchant) " +
      "RETURN m.id) RETURN count(a) AS n") == 20L)
    assert(one("MATCH (a:Account) " +
      "WHERE a.id <> ALL (MATCH (a)-[:Transaction]->(m:Merchant) " +
      "RETURN m.id) RETURN count(a) AS n") == 30L)
    // empty per-key set: = ANY is FALSE, <> ALL is TRUE
    assert(one("MATCH (a:Account) " +
      "WHERE a.id = ANY (MATCH (a)-[:Transaction]->(m:Merchant) " +
      "WHERE m.id > 999 RETURN m.id) RETURN count(a) AS n") == 0L)
  }

  test("quantified comparison 3VL with null elements") {
    // set {NULL, 2..20}: > ALL can never be TRUE (null comparison is
    // UNKNOWN); = ANY is TRUE only on a definite match
    assert(one("MATCH (a:Account) WHERE a.id > ALL (MATCH (m:Merchant) " +
      "RETURN CASE WHEN m.id = 1 THEN NULL ELSE m.id END) " +
      "RETURN count(a) AS n") == 0L)
    assert(one("MATCH (a:Account) WHERE a.id = ANY (MATCH (m:Merchant) " +
      "RETURN CASE WHEN m.id = 1 THEN NULL ELSE m.id END) " +
      "RETURN count(a) AS n") == 19L)
  }

  // ---- ISO session clauses (parser.rs:3193-3340; session/models.rs) ----

  test("SESSION SET TIME ZONE changes the session temporal context") {
    val t = fresh()
    // naive values report the session zone with DST-correct offsets:
    // March 2024 is EDT (-4), January is EST (-5)
    t.execute("SESSION SET TIME ZONE 'America/New_York'")
    assert(t.currentTimeZone.contains("America/New_York"))
    def one2(q: String): Any = t.gql(q).collect().head.get(0)
    assert(one2("LET ts = datetime('2024-03-15 10:42:30') " +
      "RETURN EXTRACT_TIMEZONE('TIMEZONE', ts) AS z") == "America/New_York")
    assert(one2("LET ts = datetime('2024-03-15 10:42:30') " +
      "RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', ts) AS h") == -4.0)
    assert(one2("LET ts = datetime('2024-01-15 10:42:30') " +
      "RETURN EXTRACT_TIMEZONE('TIMEZONE_HOUR', ts) AS h") == -5.0)
    // abbreviations canonicalize through ZoneId.SHORT_IDS; garbage throws
    t.execute("SESSION SET TIME ZONE 'EST'")
    assert(t.currentTimeZone.contains("-05:00"))
    intercept[GqlCompileException] {
      t.execute("SESSION SET TIME ZONE 'Not/AZone'")
    }
    // granular reset restores the UTC default
    t.execute("SESSION RESET TIME ZONE")
    assert(t.currentTimeZone.isEmpty)
    assert(one2("LET ts = datetime('2024-03-15 10:42:30') " +
      "RETURN EXTRACT_TIMEZONE('TIMEZONE', ts) AS z") == "UTC")
  }

  test("SESSION SET TIME ZONE shifts EXTRACT over stored instants") {
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/testdata/sf0.001/orders.parquet")))
    val rows = graft.queries.GqlQueries.queries("gql25_session_tz")(
      SparkFixture.spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // order dates are midnight UTC; New York renders the previous day
    // evening — hour 19 (EDT) or 20 (EST), never 0
    rows.foreach { r =>
      val h = r.getAs[Long]("h")
      assert(h == 19L || h == 20L, s"NY hour was $h")
      assert(r.getAs[String]("zone") == "America/New_York")
      val off = r.getAs[Double]("offh")
      assert(off == -4.0 || off == -5.0)
    }
  }

  test("SESSION SET SCHEMA resolves relative graph names (+ RESET)") {
    val wh = tempDir("schema").toString
    val gls = graft.GraphLiteSpark.open(SparkFixture.spark, wh)
    val t = gls.session("admin")
    // schema must exist (executor.rs:6819-6835 CatalogError)
    intercept[GqlCompileException] { t.execute("SESSION SET SCHEMA nope") }
    t.execute("CREATE SCHEMA /relschema")
    t.execute("SESSION SET SCHEMA relschema")
    assert(t.currentSchemaName.contains("relschema"))
    // relative CREATE GRAPH lands under the session schema
    // (ddl_independent_tests.rs:150-176)
    t.execute("CREATE GRAPH relative_graph")
    assert(gls.catalog.listGraphs("relschema").contains("relative_graph"))
    // relative SESSION SET GRAPH resolves the same way
    t.execute("SESSION SET GRAPH relative_graph")
    assert(t.currentGraphName.contains("/relschema/relative_graph"))
    t.execute("DROP GRAPH relative_graph")
    assert(!gls.catalog.listGraphs("relschema").contains("relative_graph"))
    // without a schema context, relative names are an error
    t.execute("SESSION RESET SCHEMA")
    assert(t.currentSchemaName.isEmpty)
    intercept[GqlCompileException] { t.execute("CREATE GRAPH floating") }
  }

  test("SESSION SET VALUE/GRAPH/TABLE parameters ($p, IF NOT EXISTS)") {
    val wh = tempDir("params").toString
    val gls = graft.GraphLiteSpark.open(SparkFixture.spark, wh)
    val t = gls.session("admin").useGraph(SparkFixture.fraudGraph)
    // VALUE parameter is visible as $p in a follow-up MATCH
    t.execute("SESSION SET VALUE $cutoff = 4500")
    assert(t.gql("MATCH (a:Account) WHERE a.balance > $cutoff " +
      "RETURN count(a) AS n").collect().head.getLong(0) == 5L)
    // IF NOT EXISTS: second set is a no-op on an existing parameter
    t.execute("SESSION SET VALUE IF NOT EXISTS $cutoff = 100")
    assert(t.parameters("cutoff") == 4500L)
    // …but takes effect when the parameter is absent
    t.execute("SESSION SET VALUE IF NOT EXISTS $floor = 300")
    assert(t.parameters("floor") == 300L)
    // initializers are full expressions over existing $params
    t.execute("SESSION SET VALUE $doubled = $floor * 2")
    assert(t.parameters("doubled") == 600L)
    // graph parameter validates existence against the catalog
    t.saveGraphAs("/main/paramg")
    t.execute("SESSION SET GRAPH $g = /main/paramg")
    intercept[GqlCompileException] {
      t.execute("SESSION SET GRAPH $bad = /main/ghost")
    }
    // binding-table parameter holds a compiled query
    t.execute("SESSION SET BINDING TABLE $rich = " +
      "MATCH (a:Account) WHERE a.balance > 4500 RETURN a.id AS id")
    assert(t.tableParameter("rich").exists(_.count() == 5L))
    // granular resets: one parameter, then all of them
    t.execute("SESSION RESET PARAMETER $floor")
    assert(!t.parameters.contains("floor"))
    t.execute("SESSION RESET ALL PARAMETERS")
    assert(t.parameters.isEmpty && t.tableParameter("rich").isEmpty)
  }

  test("SESSION RESET clears characteristics and everything") {
    val wh = tempDir("reset").toString
    val gls = graft.GraphLiteSpark.open(SparkFixture.spark, wh)
    val t = gls.session("admin").useGraph(SparkFixture.fraudGraph)
    t.saveGraphAs("/main/rg")
    t.execute("CREATE SCHEMA /rs")
    t.execute("SESSION SET SCHEMA rs")
    t.execute("SESSION SET TIME ZONE 'Asia/Tokyo'")
    t.execute("SESSION SET VALUE $keepme = 1")
    // ALL CHARACTERISTICS clears graph/schema/zone but keeps parameters
    // (session/models.rs:407-411)
    t.execute("SESSION RESET ALL CHARACTERISTICS")
    assert(t.currentSchemaName.isEmpty && t.currentTimeZone.isEmpty)
    assert(t.parameters.contains("keepme"))
    // bare SESSION RESET clears parameters too (models.rs:412-418)
    t.execute("SESSION SET TIME ZONE 'Asia/Tokyo'")
    t.execute("SESSION RESET")
    assert(t.currentTimeZone.isEmpty && t.parameters.isEmpty)
  }

  // ---- TYPE / SIZE utility functions (utility_functions_test.rs) ----

  test("TYPE returns reference value-kind strings over values and nodes") {
    val t = fresh()
    t.execute("INSERT (:Document {id: 1, title: 'Test Doc', " +
      "tags: ['tag1', 'tag2', 'tag3'], count: 42, flag: true})")
    // WITH-carried values (the exact shapes utility_functions_test.rs
    // drives: alias kind survives the projection)
    assert(t.gql("MATCH (d:Document) WITH d.tags AS arr " +
      "RETURN TYPE(arr) AS t").collect().head.getString(0) == "LIST")
    assert(t.gql("MATCH (d:Document) WITH d.title AS ts " +
      "RETURN TYPE(ts) AS t").collect().head.getString(0) == "STRING")
    assert(t.gql("MATCH (d:Document) WITH d.count AS num " +
      "RETURN TYPE(num) AS t").collect().head.getString(0) == "NUMBER")
    assert(t.gql("MATCH (d:Document) WITH d.flag AS fl " +
      "RETURN TYPE(fl) AS t").collect().head.getString(0) == "BOOLEAN")
    // node variable (TypeFunction → "NODE", graph_functions.rs:216)
    assert(t.gql("MATCH (d:Document) RETURN TYPE(d) AS t")
      .collect().head.getString(0) == "NODE")
    // direct property access + literals
    assert(t.gql("MATCH (d:Document) RETURN TYPE(d.title) AS t")
      .collect().head.getString(0) == "STRING")
    assert(t.gql("RETURN TYPE([1, 2]) AS t")
      .collect().head.getString(0) == "LIST")
    assert(t.gql("RETURN TYPE(NULL) AS t")
      .collect().head.getString(0) == "NULL")
    // a null-valued expression reports NULL at runtime, not its static
    // kind (TypeFunction sees Value::Null)
    assert(t.gql("RETURN TYPE(NULLIF('x', 'x')) AS t")
      .collect().head.getString(0) == "NULL")
    // edge variable keeps the Cypher-standard relationship type name
    // (documented divergence: the reference returns the kind "EDGE")
    assert(one("MATCH (:Account)-[r:Transaction]->(:Merchant) " +
      "RETURN TYPE(r) AS t LIMIT 1") == "Transaction")
  }

  test("SIZE over strings, lists, and NULL (SizeFunction parity)") {
    val t = fresh()
    t.execute("INSERT (:Document {id: 1, title: 'Test Document', " +
      "numbers: [1, 2, 3, 4, 5], list_data: ['a', 'b', 'c']})")
    assert(t.gql("MATCH (d:Document) WITH d.numbers AS nums " +
      "RETURN SIZE(nums) AS n").collect().head.getLong(0) == 5L)
    assert(t.gql("MATCH (d:Document) WITH d.title AS ts " +
      "RETURN SIZE(ts) AS n").collect().head.getLong(0) == 13L)
    assert(t.gql("MATCH (d:Document) WITH d.list_data AS l " +
      "RETURN SIZE(l) AS n").collect().head.getLong(0) == 3L)
    // literals (utility_functions_test.rs:130-137)
    val lits = t.gql("RETURN SIZE([1, 2, 3, 4]) AS a, " +
      "SIZE('hello world') AS b, SIZE([10, 20, 30]) AS c").collect().head
    assert(lits.getLong(0) == 4L && lits.getLong(1) == 11L &&
      lits.getLong(2) == 3L)
    // NULL → 0 (graph_functions.rs:632)
    assert(t.gql("RETURN SIZE(NULL) AS n").collect().head.getLong(0) == 0L)
    // combined TYPE + SIZE over one carried list
    val row = t.gql("MATCH (d:Document) WITH d.numbers AS arr " +
      "RETURN TYPE(arr) AS t, SIZE(arr) AS n").collect().head
    assert(row.getString(0) == "LIST" && row.getLong(1) == 5L)
  }
}
