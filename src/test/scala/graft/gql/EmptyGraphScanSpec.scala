package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Scans that resolve to NO table must yield the empty result, not an
  * analysis error — the reference treats unknown labels as empty matches
  * (pattern_tests.rs), and a freshly CREATEd graph has zero label
  * tables. Regression for the DdlCatalogFuzzSpec seed-20260817 find:
  * `MATCH (n:Nope) RETURN n.id` synthesized the empty scan with
  * `n_id` both as the explicit id column AND as the used-prop "id",
  * and Spark failed the query with AMBIGUOUS_REFERENCE.
  */
class EmptyGraphScanSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private def freshSession() = {
    val wh = tempDir("emptyg").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val t = gls.session("driver")
    t.execute("CREATE GRAPH /s0/g0")
    gls.session("driver").useGraph("/s0/g0")
  }

  test("unknown label + id projection over an empty graph is empty, " +
      "not ambiguous") {
    val s = freshSession()
    val rows = s.gql("MATCH (n:Nope) RETURN n.id AS id").collect()
    assert(rows.isEmpty)
  }

  test("unknown label with id and property references, WHERE on both") {
    val s = freshSession()
    val rows = s.gql("MATCH (n:Nope) WHERE n.id > 0 AND n.name = 'x' " +
      "RETURN n.id AS id, n.name AS nm").collect()
    assert(rows.isEmpty)
  }

  test("label-less MATCH over a zero-label graph is empty") {
    val s = freshSession()
    val rows = s.gql("MATCH (n) RETURN n.id AS id").collect()
    assert(rows.isEmpty)
  }

  test("unknown label aggregates honor ISO empty-match semantics") {
    val s = freshSession()
    val rows = s.gql("MATCH (n:Nope) RETURN count(n) AS c").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 0L)
  }

  test("hop from an unknown label over an empty graph is empty") {
    val s = freshSession()
    val rows = s.gql("MATCH (a:Nope)-[e:Also]->(b:Nope) " +
      "RETURN a.id AS aid, b.id AS bid, e.eid AS eid").collect()
    assert(rows.isEmpty)
  }
}
