package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Start-node elision (mirror of the dst-node elision): a constraint-free
  * start — anonymous or never property-read, no labels, no inline props,
  * rigid first hop — compiles to the edge table alone; the src column is
  * the identity. Pins both the PLAN property (no join anywhere in
  * `()-[t:T]->()`) and result parity with the unelided spelling.
  */
class StartElisionSpec extends AnyFunSuite with TempDirs {
  private lazy val g = SparkFixture.fraudGraph
  private def compile(q: String) =
    new Compiler(g).compile(Parser.parse(q))

  test("anonymous-endpoint pattern plans as a pure edge scan") {
    val df = compile("MATCH ()-[t:Transaction]->() RETURN count(t) AS n")
    assert(!df.queryExecution.optimizedPlan.toString.contains("Join"),
      df.queryExecution.optimizedPlan.toString)
    assert(df.collect().head.getLong(0) == 100L)
  }

  test("elided and unelided spellings agree") {
    val elided = compile(
      "MATCH (a)-[t:Transaction]->(m) RETURN count(t) AS n")
      .collect().head.getLong(0)
    val unelided = compile(
      "MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
        "RETURN count(t) AS n").collect().head.getLong(0)
    assert(elided == unelided && elided == 100L)
  }

  test("entity reads of an elided start still resolve (id identity)") {
    val n = compile(
      "MATCH (a)-[t:Transaction]->() RETURN count(DISTINCT a) AS n")
      .collect().head.getLong(0)
    assert(n == 50L) // every Account is a Transaction source
  }

  test("a property read on the start suppresses elision, results correct") {
    val df = compile(
      "MATCH (a)-[t:Transaction]->() WHERE a.balance > 4000.0 " +
        "RETURN count(t) AS n")
    // the node table must be scanned here — the filter needs balance
    assert(df.queryExecution.optimizedPlan.toString.contains("Join"))
    // accounts 41..50 have balance > 4000; two transactions each
    assert(df.collect().head.getLong(0) == 20L)
  }

  test("multi-type anonymous pattern unions every edge type, no joins") {
    val df = compile("MATCH ()-[t]->() RETURN count(t) AS n")
    assert(!df.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(df.collect().head.getLong(0) == 150L) // 100 Transaction + 50 Purchase
  }

  test("mutation pipeline on anonymous endpoints plans no node scan") {
    val (bt: org.apache.spark.sql.DataFrame, _) =
      new Compiler(g).compileMutationPipeline(
        Parser.parse("MATCH ()-[t:Transaction]->() RETURN t")
          .asInstanceOf[Ast.Query], Seq.empty)
    assert(!bt.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(bt.count() == 100L)
  }

  test("path variables and TRAIL semantics hold over an elided start") {
    // needNames renames the anonymous start to a fresh variable; the
    // path array must still begin at the (elided) start's id column
    val withPath = compile(
      "MATCH p = ()-[:Transaction]->() RETURN count(p) AS n")
      .collect().head.getLong(0)
    assert(withPath == 100L)
    // TRAIL over a 2-hop anonymous chain: edge-distinctness needs the
    // edge ids, which the elided plan still carries
    val trail = compile(
      "MATCH TRAIL ()-[:Transaction]->()<-[:Purchase]-() " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val walk = compile(
      "MATCH ()-[:Transaction]->()<-[:Purchase]-() " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    // different edge types can never repeat an edge, so TRAIL == WALK
    // here — the point is both compile and agree through the elision
    assert(trail == walk && walk > 0L)
  }

  test("anonymous-endpoint DELETE removes the right edges") {
    val s = gqlSession()
    val n = s.execute("MATCH ()-[t:Purchase]->() DELETE t")
      .collect().head.getLong(0)
    assert(n == 50L)
    assert(s.gql("MATCH ()-[t:Purchase]->() RETURN t").count() == 0L)
    // the other edge type is untouched
    assert(s.gql("MATCH ()-[t:Transaction]->() RETURN t").count() == 100L)
  }
}
