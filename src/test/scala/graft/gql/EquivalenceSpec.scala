package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Plan-equivalence properties over the GQL surface: the same logical
  * pattern written in syntactically different ways (orientation flips,
  * operand order, grouped vs flat set operations, seeded vs inline
  * predicates) must return identical row sets. These guard the
  * compiler's rewrites — anchor-selection reversal, orientation × label
  * pruning, endpoint guards — which must never change results.
  */
class EquivalenceSpec extends AnyFunSuite with TempDirs {
  private lazy val s = gqlSession(SparkFixture.fraudGraph)

  private def rows(q: String): Set[String] =
    s.gql(q).collect().map(_.mkString("|")).toSet

  private val predicates = Seq(
    "", " WHERE a.balance > 2000", " WHERE m.id <= 5",
    " WHERE t.amount > 60", " WHERE a.status = 'active' AND m.id > 2")

  test("forward and backward pattern orientations return identical rows") {
    for (pred <- predicates) {
      val fwd = rows("MATCH (a:Account)-[t:Transaction]->(m:Merchant)" +
        pred + " RETURN a.id AS aid, t.eid AS eid, m.id AS mid")
      val bwd = rows("MATCH (m:Merchant)<-[t:Transaction]-(a:Account)" +
        pred + " RETURN a.id AS aid, t.eid AS eid, m.id AS mid")
      assert(fwd == bwd, s"orientation mismatch for '$pred'")
      assert(fwd.nonEmpty || pred.contains("id <= 0"))
    }
  }

  test("anchor placement (props at start vs end) returns identical rows") {
    val a = rows("MATCH (a:Account {status: 'inactive'})-[t:Transaction]->" +
      "(m:Merchant) RETURN a.id AS aid, m.id AS mid")
    val b = rows("MATCH (m:Merchant)<-[t:Transaction]-" +
      "(a:Account {status: 'inactive'}) RETURN a.id AS aid, m.id AS mid")
    assert(a == b && a.nonEmpty)
  }

  test("two-hop chains equal their two-pattern join formulation") {
    val chained = rows("MATCH (a:Account)-[t:Transaction]->(m:Merchant)" +
      "<-[p:Purchase]-(b:Account) WHERE a.id = 1 " +
      "RETURN m.id AS mid, b.id AS bid")
    val joined = rows("MATCH (a:Account)-[t:Transaction]->(m:Merchant), " +
      "(b:Account)-[p:Purchase]->(m) WHERE a.id = 1 " +
      "RETURN m.id AS mid, b.id AS bid")
    assert(chained == joined && chained.nonEmpty)
  }

  test("undirected edges equal the union of both orientations") {
    val undirected = rows("MATCH (x:Account)-[t:Transaction]-(y) " +
      "WHERE x.id = 3 RETURN t.eid AS eid")
    val out = rows("MATCH (x:Account)-[t:Transaction]->(y:Merchant) " +
      "WHERE x.id = 3 RETURN t.eid AS eid")
    // Transaction only runs Account→Merchant, so the undirected match
    // from an Account var is exactly the outgoing set
    assert(undirected == out && undirected.nonEmpty)
  }

  test("grouped set operations equal their flat equivalents when unambiguous") {
    val flat = rows("MATCH (a:Account) WHERE a.id <= 5 RETURN a.id AS id " +
      "UNION MATCH (a:Account) WHERE a.id >= 48 RETURN a.id AS id")
    val grouped = rows("(MATCH (a:Account) WHERE a.id <= 5 RETURN a.id AS id " +
      "UNION MATCH (a:Account) WHERE a.id >= 48 RETURN a.id AS id)")
    assert(flat == grouped && flat.size == 8)
  }

  test("WITH-carried entities match the single-segment formulation") {
    val direct = rows("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE a.risk_score >= 4.5 RETURN a.id AS aid, m.id AS mid")
    val carried = rows("MATCH (a:Account) WHERE a.risk_score >= 4.5 " +
      "WITH a MATCH (a)-[t:Transaction]->(m:Merchant) " +
      "RETURN a.id AS aid, m.id AS mid")
    assert(direct == carried && direct.nonEmpty)
  }

  test("seeded NEXT chain equals the inline join formulation") {
    val t = gqlSession(SparkFixture.fraudGraph)
    val inline = rows("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE a.balance >= 4800 RETURN m.id AS mid ORDER BY mid")
    val chained = t.execute(
      "MATCH (a:Account) WHERE a.balance >= 4800 RETURN a.id AS aid " +
        "NEXT YIELD aid " +
        "MATCH (a2:Account)-[t:Transaction]->(m:Merchant) " +
        "WHERE a2.id = aid RETURN m.id AS mid ORDER BY mid")
      .collect().map(_.mkString("|")).toSet
    assert(inline == chained && inline.nonEmpty)
  }
}
