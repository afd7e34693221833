package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.{SparkFixture, TempDirs}

/** GQL end-to-end over the fraud fixture — expected values mirror the
  * reference's integration tests (aggregation_tests.rs:26-41,
  * dql_tests.rs:27-40: count(Account)=50, active=45, transactions=100,
  * sum(amount)=6360 exactly for the deterministic generator).
  */
class GqlSpec extends AnyFunSuite with TempDirs {
  private lazy val s = gqlSession()

  private def one(q: String): Any = s.gql(q).collect().head.get(0)

  test("node scan count") {
    assert(one("MATCH (a:Account) RETURN count(a) AS n") == 50L)
    assert(one("MATCH (m:Merchant) RETURN count(m) AS n") == 20L)
  }

  test("property filter") {
    assert(one("MATCH (a:Account) WHERE a.status = 'active' RETURN count(a) AS n") == 45L)
    assert(one("MATCH (a:Account) WHERE a.balance > 1000 RETURN count(a) AS n") == 40L)
  }

  test("inline property map") {
    assert(one("MATCH (a:Account {status: 'inactive'}) RETURN count(a) AS n") == 5L)
  }

  test("expand with aggregates") {
    val r = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "RETURN count(t) AS n, sum(t.amount) AS total, avg(t.amount) AS av")
      .collect().head
    assert(r.getLong(0) == 100L)
    assert(math.abs(r.getDouble(1) - 6360.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 63.6) < 1e-9)
  }

  test("edge property filter") {
    assert(one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE t.amount > 70 RETURN count(t) AS n") == 27L)
  }

  test("grouped aggregation with ORDER BY") {
    val rows = s.gql("MATCH (a:Account) RETURN a.account_type AS ty, " +
      "count(a) AS n ORDER BY ty").collect()
    assert(rows.toSeq == Seq(Row("business", 13L), Row("checking", 12L),
      Row("investment", 12L), Row("savings", 13L)))
  }

  test("ORDER BY DESC LIMIT") {
    val rows = s.gql("MATCH (a:Account) RETURN a.id AS id, a.balance AS b " +
      "ORDER BY b DESC LIMIT 3").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(50L, 49L, 48L))
  }

  test("SKIP and LIMIT") {
    val rows = s.gql("MATCH (a:Account) RETURN a.id AS id ORDER BY id SKIP 10 LIMIT 5")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(11L, 12L, 13L, 14L, 15L))
  }

  test("DISTINCT is identity-based for entities") {
    // 100 transaction rows but 50 distinct source accounts
    assert(s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "RETURN DISTINCT a").count() == 50L)
  }

  test("WITH pipeline and post-WHERE") {
    val rows = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH m.name AS mname, count(t) AS n WHERE n >= 5 " +
      "RETURN mname, n ORDER BY mname").collect()
    assert(rows.length == 20) // every merchant receives exactly 5
    assert(rows.forall(_.getLong(1) == 5L))
  }

  test("HAVING with hidden aggregate") {
    val rows = s.gql("MATCH (a:Account) RETURN a.account_type AS ty " +
      "GROUP BY a.account_type HAVING count(a) > 12 ORDER BY ty").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("business", "savings"))
  }

  test("ORDER BY hidden aggregate") {
    val rows = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "RETURN m.id AS mid GROUP BY m.id ORDER BY sum(t.amount) DESC, mid LIMIT 3")
      .collect()
    assert(rows.length == 3)
  }

  test("string predicates") {
    assert(one("MATCH (a:Account) WHERE a.name STARTS WITH 'Account1' " +
      "RETURN count(a) AS n") == 11L) // 1, 10..19
    assert(one("MATCH (a:Account) WHERE a.name ENDS WITH '0' RETURN count(a) AS n") == 5L)
    assert(one("MATCH (a:Account) WHERE a.name CONTAINS 'count5' RETURN count(a) AS n") == 2L)
    assert(one("MATCH (a:Account) WHERE a.name LIKE 'Account_' RETURN count(a) AS n") == 9L)
  }

  test("IN list and boolean ops") {
    assert(one("MATCH (a:Account) WHERE a.id IN [1, 2, 3] RETURN count(a) AS n") == 3L)
    assert(one("MATCH (a:Account) WHERE NOT a.status = 'active' AND a.balance >= 1000 " +
      "RETURN count(a) AS n") == 5L) // 10,20,30,40,50
    assert(one("MATCH (a:Account) WHERE a.id <= 10 XOR a.id <= 20 RETURN count(a) AS n") == 10L)
  }

  test("CASE and arithmetic") {
    val rows = s.gql("MATCH (a:Account) RETURN " +
      "CASE WHEN a.balance >= 2500 THEN 'hi' ELSE 'lo' END AS b, count(a) AS n " +
      "GROUP BY CASE WHEN a.balance >= 2500 THEN 'hi' ELSE 'lo' END ORDER BY b")
      .collect()
    assert(rows.toSeq == Seq(Row("hi", 26L), Row("lo", 24L)))
    assert(one("MATCH (a:Account {id: 7}) RETURN a.balance * 2 + 1 AS x") == 1401.0)
  }

  test("scalar functions") {
    assert(one("MATCH (a:Account {id: 3}) RETURN upper(a.name) AS u") == "ACCOUNT3")
    assert(one("MATCH (a:Account {id: 3}) RETURN substring(a.name, 1, 7) AS s") == "Account")
    assert(one("RETURN abs(-5) AS x") == 5L)
    assert(one("RETURN coalesce(NULL, 'x') AS x") == "x")
    assert(one("RETURN size([1,2,3]) AS x") == 3L)
  }

  test("graph functions: ID, LABELS, TYPE") {
    assert(one("MATCH (a:Account {id: 9}) RETURN id(a) AS x") == 9L)
    assert(one("MATCH (a:Account {id: 9}) RETURN labels(a) AS x")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("Account"))
    assert(one("MATCH (a:Account {id: 1})-[t:Transaction]->(m) RETURN type(t) AS x, " +
      "count(t) AS n GROUP BY type(t)") == "Transaction")
  }

  test("UNWIND standalone and chained") {
    assert(s.gql("UNWIND [1,2,3] AS x RETURN x").count() == 3L)
    val rows = s.gql("UNWIND [10, 20] AS x RETURN x * 2 AS y ORDER BY y").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(20L, 40L))
  }

  test("OPTIONAL MATCH preserves unmatched rows") {
    val rows = s.gql("MATCH (a:Account) " +
      "OPTIONAL MATCH (a)-[t:Transaction {timestamp: 1}]->(m:Merchant) " +
      "RETURN a.id AS id, count(t) AS n GROUP BY a.id ORDER BY id").collect()
    assert(rows.length == 50)
    assert(rows.head.getLong(1) == 1L)      // account 1 has transaction ts=1
    assert(rows(1).getLong(1) == 0L)        // account 2 does not
  }

  test("undirected edge matches both orientations") {
    val n = s.gql("MATCH (a:Account {id: 1})-[t:Transaction]-(m:Merchant) " +
      "RETURN count(t) AS n").collect().head.getLong(0)
    assert(n == 2L) // account 1 has transactions i=1 and i=51 (both outgoing)
  }

  test("multi-segment WITH chaining") {
    val r = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH a.id AS aid, sum(t.amount) AS spent " +
      "RETURN count(aid) AS n, min(spent) AS mn").collect().head
    assert(r.getLong(0) == 50L)
  }

  test("simple dataset chain traversal") {
    val sim = gqlSession(SparkFixture.simpleGraph)
    assert(sim.gql("MATCH (n:TestNode) RETURN count(n) AS c").collect()
      .head.getLong(0) == 20L)
    // variable-length path over the 1→2→…→10 chain
    val rows = sim.gql("MATCH (n:TestNode {id: 1})-[:CONNECTS_TO*1..3]->(m:TestNode) " +
      "RETURN m.id AS id ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
  }

  test("WITH carries node variables into a later MATCH") {
    // account i gets transactions i and i+50: spent = 100 + (i%30) + ((i+20)%30);
    // spent > 235? no — > 235 impossible; > 135 holds for exactly 11 accounts
    // (i ∈ {8,9,23..29,38,39}), each with exactly one Purchase edge
    val rows = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH a, sum(t.amount) AS spent WHERE spent > 135 " +
      "MATCH (a)-[p:Purchase]->(m2:Merchant) " +
      "RETURN count(p) AS n, count(DISTINCT a) AS na").collect().head
    assert(rows.getLong(0) == 11L)
    assert(rows.getLong(1) == 11L)
  }

  test("property access after WITH re-joins the node table") {
    val rows = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH a, count(t) AS n " +
      "RETURN a.status AS st, count(a) AS cnt GROUP BY a.status ORDER BY st")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("active", 45L), ("inactive", 5L)))
  }

  test("comma patterns share variables (cyclic join)") {
    // same account pays the same merchant via Transaction AND Purchase
    val n = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant), " +
      "(a)-[p:Purchase]->(m) RETURN count(p) AS n").collect().head.getLong(0)
    // transactions i and purchases j share (src,dst) iff same (i-1)%50? src
    // and (i-1)%20 dst — each purchase j matches transactions with identical
    // endpoints: j and j+... (j<=50): t in {j, j+... } — expect > 0 matches
    assert(n > 0)
  }

  test("count(DISTINCT) in GQL") {
    assert(one("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "RETURN count(DISTINCT m) AS n") == 20L)
  }

  test("EXPLAIN surface shows AST and physical plan") {
    val e = s.explain("MATCH (a:Account) WHERE a.balance > 100 RETURN count(a) AS n")
    // phase headers carry per-phase timings (plan/trace.rs parity)
    assert(e.matches("(?s).*=== AST \\(parse [0-9.]+ ms\\) ===.*"))
    assert(e.contains("Physical Plan"))
    // fixture graphs are LocalRelations; parquet-backed graphs additionally
    // show PushedFilters (verified in the plan audit over test data)
    assert(e.contains("HashAggregate"))
  }

  test("EXISTS pattern predicate becomes a semi-join") {
    // accounts with a Transaction of amount > 75 (i%30 > 25 → 4 per cycle
    // ×3 cycles + i=91..100 none → 12 transactions over ≤12 accounts)
    val n = one("MATCH (a:Account) WHERE EXISTS { (a)-[:Transaction {timestamp: 1}]->(m:Merchant) } " +
      "RETURN count(a) AS n")
    assert(n == 1L) // only transaction i=1 has timestamp 1 (account 1)
    val both = one("MATCH (a:Account) WHERE a.balance > 4000 AND " +
      "EXISTS { (a)-[:Purchase]->(m:Merchant) } RETURN count(a) AS n")
    assert(both == 10L) // balance>4000: accounts 41..50, all have purchases
  }

  test("NOT EXISTS pattern predicate becomes an anti-join") {
    val n = one("MATCH (m:Merchant) WHERE NOT EXISTS { (a:Account)-[:Transaction {timestamp: 1}]->(m) } " +
      "RETURN count(m) AS n")
    assert(n == 19L) // only merchant 1 receives transaction ts=1
  }

  test("IS TRUE / FALSE / UNKNOWN (3VL truth tests)") {
    assert(one("MATCH (a:Account) WHERE (a.balance > 2500) IS TRUE " +
      "RETURN count(a) AS n") == 25L)
    assert(one("MATCH (a:Account) WHERE (a.balance > 2500) IS FALSE " +
      "RETURN count(a) AS n") == 25L)
    // null comparison is UNKNOWN
    assert(one("RETURN (NULL = 1) IS UNKNOWN AS x") == true)
    assert(one("MATCH (a:Account) WHERE (a.balance > 2500) IS NOT UNKNOWN " +
      "RETURN count(a) AS n") == 50L)
  }

  test("special functions: ALL_DIFFERENT, SAME, PROPERTY_EXISTS") {
    // pairs of distinct accounts: 50*49 ordered pairs where ids differ
    assert(one("MATCH (a:Account), (b:Account) WHERE all_different(a, b) " +
      "RETURN count(a) AS n") == 2450L)
    assert(one("MATCH (a:Account), (b:Account) WHERE same(a, b) " +
      "RETURN count(a) AS n") == 50L)
    assert(one("MATCH (a:Account {id: 1}) RETURN property_exists(a, 'balance') AS x") == true)
    assert(one("MATCH (a:Account {id: 1}) RETURN property_exists(a, 'nope') AS x") == false)
  }

  test("DURATION literal and timestamp arithmetic") {
    val t = one("RETURN cast('2024-01-01' AS TIMESTAMP) + duration('P1DT2H30M') AS t")
    assert(t.toString == "2024-01-02 02:30:00.0")
    assert(one("RETURN cast('2024-01-10' AS TIMESTAMP) - duration('P10D') < " +
      "cast('2024-01-01' AS TIMESTAMP) + duration('PT1S') AS x") == true)
  }

  test("RETURN * expands bound variables") {
    val df = s.gql("MATCH (a:Account {id: 2})-[t:Transaction]->(m:Merchant) RETURN *")
    assert(df.columns.toSeq == Seq("a", "m", "t"))
    assert(df.count() == 2L) // account 2 has transactions i=2 and i=52
  }

  test("parse errors are reported") {
    intercept[GqlParseException](s.gql("MATCH (a:Account) RETURN"))
    intercept[GqlParseException](s.gql("MATCHX foo"))
    // an unknown label is NOT an error — it matches nothing
    // (pattern_tests.rs; see ReadmeParitySpec missing-label test)
    assert(s.gql("MATCH (a:Nope) RETURN count(a) AS n")
      .collect().head.getLong(0) == 0L)
  }

  test("correlated EXISTS keys every shared variable, even prefix-related names") {
    // regression (r13 minimalSharedKey): with bindings `a` and `a_two`,
    // pruning by bare name prefix stripped a_two's identity out of the
    // correlation key — the EXISTS then semi-joined on a alone and every
    // (a, a_two) pair passed. Account i reaches merchants (i-1)%20 and
    // (i+9)%20, so among ids 1..10 only i = j pairs share a merchant:
    // the correct count is exactly 10 (the broken key returns 100).
    val n = one(
      "MATCH (a:Account), (a_two:Account) " +
        "WHERE a.id <= 10 AND a_two.id <= 10 " +
        "AND EXISTS { (a)-[:Transaction]->(m:Merchant)<-[:Transaction]-(a_two) } " +
        "RETURN count(a) AS n")
    assert(n == 10L)
  }
}
