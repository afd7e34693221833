package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{GraphLiteSpark, SessionMode, SparkFixture}
import graft.TempDirs

/** Session management modes (reference session/mode.rs + manager.rs):
  * Instance keeps a per-coordinator pool; Global shares one pool per
  * warehouse across every coordinator in the process. Pool operations
  * mirror SessionManager: create/get/remove/active ids/count/expiry
  * cleanup and the DROP GRAPH stale-session invalidation.
  */
class SessionModeSpec extends AnyFunSuite with TempDirs {
  private def wh(): String =
    tempDir("sm").toString

  test("Instance mode isolates session pools per coordinator (mode.rs:8-10)") {
    val w = wh()
    val a = GraphLiteSpark.open(SparkFixture.spark, w, SessionMode.Instance)
    val b = GraphLiteSpark.open(SparkFixture.spark, w, SessionMode.Instance)
    val id = a.createSession("alice")
    assert(a.getSession(id).isDefined)
    assert(b.getSession(id).isEmpty)
    assert(a.sessionCount == 1 && b.sessionCount == 0)
  }

  test("Global mode shares one pool per warehouse (mode.rs:12-15)") {
    val w = wh()
    val a = GraphLiteSpark.open(SparkFixture.spark, w, SessionMode.Global)
    val b = GraphLiteSpark.open(SparkFixture.spark, w, SessionMode.Global)
    val id = a.createSession("alice")
    // visible and resumable through the other coordinator
    val viaB = b.getSession(id)
    assert(viaB.isDefined && viaB.get.user == "alice")
    viaB.get.useGraph(SparkFixture.fraudGraph)
    assert(a.getSession(id).get.gql(
      "MATCH (n:Account) RETURN count(n) AS c").collect().head.getLong(0) == 50L)
    // …but a DIFFERENT warehouse path gets its own global pool
    val other = GraphLiteSpark.open(SparkFixture.spark, wh(), SessionMode.Global)
    assert(other.getSession(id).isEmpty)
    assert(a.removeSession(id))
  }

  test("removeSession deactivates: lookups miss and the handle refuses work") {
    val g = GraphLiteSpark.open(SparkFixture.spark, wh(), SessionMode.Instance)
    val id = g.createSession()
    val handle = g.getSession(id).get.useGraph(SparkFixture.fraudGraph)
    assert(g.removeSession(id))
    assert(g.getSession(id).isEmpty)
    assert(!g.removeSession(id)) // idempotent miss
    val e = intercept[IllegalStateException](
      handle.gql("MATCH (n:Account) RETURN n.id"))
    assert(e.getMessage.contains("closed"))
  }

  test("cleanupExpiredSessions drops idle sessions only (manager.rs:187-213)") {
    val g = GraphLiteSpark.open(SparkFixture.spark, wh(), SessionMode.Instance)
    val idle = g.createSession("idle")
    val busy = g.createSession("busy")
    // compile once outside the timed window so the touch below is cheap
    g.getSession(busy).get.useGraph(SparkFixture.fraudGraph).gql("RETURN 1 AS x")
    Thread.sleep(1500)
    g.getSession(busy).get.gql("RETURN 1 AS x") // touches lastAccess
    assert(g.cleanupExpiredSessions(maxIdleMillis = 1200) == 1)
    assert(g.getSession(idle).isEmpty && g.getSession(busy).isDefined)
    // a huge threshold expires nothing
    assert(g.cleanupExpiredSessions(maxIdleMillis = 3600000L) == 0)
  }

  test("DROP GRAPH detaches every pooled session bound to it (manager.rs:237)") {
    val g = GraphLiteSpark.open(SparkFixture.spark, wh(), SessionMode.Instance)
    val admin = g.session()
    admin.useGraph(SparkFixture.fraudGraph)
    admin.saveGraphAs("/prod/doomed")
    val id = g.createSession()
    val pooled = g.getSession(id).get
    pooled.execute("SESSION SET GRAPH /prod/doomed")
    assert(pooled.currentGraphName.contains("/prod/doomed"))
    admin.execute("DROP GRAPH /prod/doomed")
    // the pooled session no longer serves the dropped graph
    assert(pooled.currentGraphName.isEmpty)
    assert(intercept[Exception](
      pooled.gql("MATCH (n:Account) RETURN n.id").collect())
      .getMessage.toLowerCase.contains("graph"))
  }

  test("gql.list_sessions lists the managed pool") {
    val g = GraphLiteSpark.open(SparkFixture.spark, wh(), SessionMode.Instance)
    val id1 = g.createSession("alice")
    val id2 = g.createSession("bob")
    val rows = g.session().execute("CALL gql.list_sessions()")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(id1 -> "alice", id2 -> "bob"))
  }

  test("SessionMode accessors match the reference API (mode.rs:61-69)") {
    assert(SessionMode.Instance.isInstance && !SessionMode.Instance.isGlobal)
    assert(SessionMode.Global.isGlobal && !SessionMode.Global.isInstance)
  }
}
