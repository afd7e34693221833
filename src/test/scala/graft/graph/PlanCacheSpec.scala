package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Pins the compiled-plan cache semantics the hop compiler relies on
  * (PropertyGraph.cachedPlan): the oriented edge-union lineage is built
  * once per (graph instance, operator shape) and reused across queries,
  * and DML invalidates it structurally — a mutation returns a NEW graph
  * instance whose cache starts empty, so no query can ever observe a
  * stale union built over the pre-mutation edge tables.
  */
class PlanCacheSpec extends AnyFunSuite with TempDirs {

  test("cachedPlan builds once per key and never re-evaluates the builder") {
    val g = SparkFixture.fraudGraph
    var builds = 0
    val first = g.cachedPlan("spec-key") { builds += 1; g.edgeScan("Transaction") }
    // by-name builder must NOT run again on a hit — a throw proves it
    val second = g.cachedPlan("spec-key") {
      fail("builder re-evaluated on cache hit")
    }
    assert(builds == 1)
    assert(first eq second) // same lineage object, not an equal copy
    // a different key builds independently
    g.cachedPlan("spec-key-2") { builds += 1; g.edgeScan("Transaction") }
    assert(builds == 2)
  }

  test("repeated hops over one graph instance reuse the oriented union") {
    val spark = SparkFixture.spark
    val g = SparkFixture.fraudGraph
    val q = "MATCH (a:Account)-[t:Transaction]->(b:Merchant) RETURN count(t) AS n"
    def compile() = new graft.gql.Compiler(g).compile(graft.gql.Parser.parse(q))
    val n1 = compile().collect().head.getLong(0)
    val n2 = compile().collect().head.getLong(0)
    assert(n1 == n2 && n1 > 0)
    // the compile must have left its oriented union in the cache under
    // the hop's shape key (orient:<type>/<dir>:flags) — read the private
    // cache through its accessor so the probe cannot itself populate it
    val acc = classOf[PropertyGraph].getDeclaredMethods
      .find(_.getName.contains("planCache"))
      .getOrElse(fail("planCache accessor not found"))
    acc.setAccessible(true)
    val keys = acc.invoke(g)
      .asInstanceOf[scala.collection.concurrent.TrieMap[String, _]].keySet
    assert(keys.exists(_.startsWith("orient:Transaction/")),
      s"hop union not cached; keys=$keys")
  }

  test("DML yields a fresh graph instance with an empty plan cache") {
    val t = gqlSession()
    val before = t.graph
    before.cachedPlan("sentinel") { before.edgeScan("Transaction") }
    val n0 = t.gql(
      "MATCH (:Account)-[t:Transaction]->(:Merchant) RETURN count(t) AS n")
      .collect().head.getLong(0)
    // mutate: the edge insert must be visible to the very next query —
    // a stale cached union over the old edge table would hide it
    t.execute(
      "INSERT (:Account {id: 9001, balance: 1.0})" +
        "-[:Transaction {eid: 9100, amount: 5.0}]->" +
        "(:Merchant {id: 9002, name: 'M9002'})")
    val after = t.graph
    assert(!(after eq before), "mutation must produce a new graph instance")
    val n1 = t.gql(
      "MATCH (:Account)-[t:Transaction]->(:Merchant) RETURN count(t) AS n")
      .collect().head.getLong(0)
    assert(n1 == n0 + 1)
    // and the new instance's cache does not carry the old entries
    var rebuilt = false
    after.cachedPlan("sentinel") { rebuilt = true; after.edgeScan("Transaction") }
    assert(rebuilt, "plan cache leaked across a mutation boundary")
  }
}
