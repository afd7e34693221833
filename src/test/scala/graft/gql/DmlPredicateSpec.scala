package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Inline-property predicates on the simple DML paths, pinned on
  * MULTI-ROW graphs. The reference's own DML tests use inline props
  * everywhere (`MATCH (p:Person {name: 'X'}) SET/DELETE …`,
  * match_set_transactional_test.rs:145,193, readme_examples_test.rs:459)
  * but always against single-row fixtures — which is exactly how a
  * dropped predicate stays invisible (round-14 finding: the simple
  * SET/REMOVE/DELETE paths compiled WHERE only and mutated every row of
  * the label). Every case here puts SIBLING rows next to the target so
  * an over-broad mutation fails loudly.
  */
class DmlPredicateSpec extends AnyFunSuite with TempDirs {

  private def fresh(tag: String) = {
    val wh = tempDir(s"dmlpred-$tag").toString
    val t = graft.GraphLiteSpark.open(SparkFixture.spark, wh).session("u")
    t.execute(s"CREATE GRAPH /main/$tag")
    t.execute(s"SESSION SET GRAPH /main/$tag")
    t.execute("INSERT (:P {id: 1, name: 'a', s: 10})," +
      " (:P {id: 2, name: 'b', s: 20}), (:P {id: 3, name: 'b', s: 30})")
    t
  }

  test("inline-prop SET touches only matching rows") {
    val t = fresh("set_inline")
    t.execute("MATCH (p:P {name: 'b'}) SET p.s = 99")
    val got = t.gql("MATCH (p:P) RETURN p.id AS i, p.s AS s ORDER BY i")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 10L), (2L, 99L), (3L, 99L)))
  }

  test("inline props AND WHERE combine conjunctively") {
    val t = fresh("set_both")
    t.execute("MATCH (p:P {name: 'b'}) WHERE p.s > 25 SET p.s = 99")
    val got = t.gql("MATCH (p:P) RETURN p.id AS i, p.s AS s ORDER BY i")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 99L)))
  }

  test("inline-prop REMOVE nulls only matching rows") {
    val t = fresh("remove_inline")
    t.execute("MATCH (p:P {id: 2}) REMOVE p.s")
    val got = t.gql("MATCH (p:P) RETURN p.id AS i, p.s AS s ORDER BY i")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(got.toSeq == Seq((1L, 10L), (2L, -1L), (3L, 30L)))
  }

  test("inline-prop DELETE removes only matching rows") {
    val t = fresh("delete_inline")
    t.execute("MATCH (p:P {name: 'b'}) DELETE p")
    assert(t.gql("MATCH (p:P) RETURN p.id AS i").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("inline-prop SET :Label adds the label to matching rows only") {
    val t = fresh("label_inline")
    t.execute("MATCH (p:P {id: 3}) SET p:Vip")
    assert(t.gql("MATCH (v:Vip) RETURN v.id AS i").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    assert(t.gql("MATCH (p:P) RETURN count(p) AS n").collect()
      .head.getLong(0) == 3L)
  }

  test("a pattern prop the table lacks matches nothing (no error)") {
    val t = fresh("missing_prop")
    t.execute("MATCH (p:P {nosuch: 1}) SET p.s = 99")
    val got = t.gql("MATCH (p:P) RETURN p.s AS s ORDER BY s").collect()
      .map(_.getLong(0))
    assert(got.toSeq == Seq(10L, 20L, 30L))
  }

  test("node SET inside a hop pattern mutates only topology matches") {
    val t = fresh("hop_node_set")
    t.execute("MATCH (a:P {id: 1}), (b:P {id: 2}) INSERT (a)-[:R]->(b)")
    // only id 1 has an outgoing R edge — a.flag must land on it alone
    // (round-14: the simple path rejected node targets in hop patterns
    // outright; the reference executor iterates matches per variable)
    t.execute("MATCH (a:P)-[:R]->(b:P) SET a.flag = true")
    val flagged = t.gql("MATCH (p:P) WHERE p.flag RETURN p.id AS i")
      .collect().map(_.getLong(0))
    assert(flagged.toSeq == Seq(1L))
    // and on the hop's FAR end
    t.execute("MATCH (a:P)-[:R]->(b:P) SET b.score = 7")
    assert(t.gql("MATCH (p:P) WHERE p.score = 7 RETURN p.id AS i")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("node SET :Label and REMOVE inside hop patterns") {
    val t = fresh("hop_node_label")
    t.execute("MATCH (a:P {id: 1}), (b:P {id: 2}) INSERT (a)-[:R]->(b)")
    t.execute("MATCH (a:P)-[:R]->(b:P) SET b:Target")
    assert(t.gql("MATCH (v:Target) RETURN v.id AS i").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    t.execute("MATCH (a:P)-[:R]->(b:P) REMOVE b.s")
    val s = t.gql("MATCH (p:P) RETURN p.id AS i, p.s AS s ORDER BY i")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(s.toSeq == Seq((1L, 10L), (2L, -1L), (3L, 30L)))
  }

  test("node DETACH DELETE inside a hop pattern deletes the matched end") {
    val t = fresh("hop_node_delete")
    t.execute("MATCH (a:P {id: 1}), (b:P {id: 2}) INSERT (a)-[:R]->(b)")
    t.execute("MATCH (a:P)-[:R]->(b:P) DETACH DELETE b")
    assert(t.gql("MATCH (p:P) RETURN p.id AS i ORDER BY i").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(t.gql("MATCH (:P)-[r:R]->(:P) RETURN count(r) AS n")
      .collect().head.getLong(0) == 0L)
  }

  test("comma patterns gate DML on the OTHER pattern matching") {
    val t = fresh("comma_gate")
    // r14: the simple path silently compiled only matches.head — a
    // non-matching second pattern must gate the whole statement to zero
    // rows (cross-join semantics), not be ignored
    t.execute("MATCH (a:P), (b:P {id: 999}) SET a.s = 0")
    assert(t.gql("MATCH (p:P) WHERE p.s = 0 RETURN count(p) AS n")
      .collect().head.getLong(0) == 0L, "no b row ⇒ no a mutation")
    t.execute("MATCH (a:P), (b:P {id: 1}) SET a.s = 0")
    assert(t.gql("MATCH (p:P) WHERE p.s = 0 RETURN count(p) AS n")
      .collect().head.getLong(0) == 3L, "matching b ⇒ every a mutates")
    // comma-pattern DELETE with a non-matching gate deletes nothing
    t.execute("MATCH (a:P), (b:P {id: 999}) DELETE a")
    assert(t.gql("MATCH (p:P) RETURN count(p) AS n")
      .collect().head.getLong(0) == 3L)
  }

  test("comma-pattern SET :Label rides the pipeline") {
    val t = fresh("comma_label")
    t.execute("MATCH (a:P {id: 1}), (b:P {id: 2}) SET a:Alpha, b:Beta")
    assert(t.gql("MATCH (v:Alpha) RETURN v.id AS i").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.gql("MATCH (v:Beta) RETURN v.id AS i").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("OPTIONAL MATCH DML deletes matched edges, no-ops on misses") {
    val t = fresh("optional_dml")
    t.execute("MATCH (a:P {id: 1}), (b:P {id: 2}) INSERT (a)-[:R {w: 5}]->(b)")
    // p=1 matches the optional edge; p=2,3 bind r to NULL — the DELETE
    // must remove exactly the matched edge and ignore the null bindings
    t.execute("MATCH (p:P) OPTIONAL MATCH (p)-[r:R]->(:P) DELETE r")
    assert(t.gql("MATCH (:P)-[r:R]->(:P) RETURN count(r) AS n")
      .collect().head.getLong(0) == 0L)
    assert(t.gql("MATCH (p:P) RETURN count(p) AS n")
      .collect().head.getLong(0) == 3L, "nodes untouched")
    // OPTIONAL MATCH SET on the far end: only nodes with the edge mutate
    t.execute("MATCH (a:P {id: 1}), (b:P {id: 2}) INSERT (a)-[:R]->(b)")
    t.execute("MATCH (p:P) OPTIONAL MATCH (p)-[:R]->(q:P) SET q.touched = true")
    assert(t.gql("MATCH (p:P) WHERE p.touched RETURN p.id AS i").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("multi-label DML targets honor the label intersection") {
    val t = fresh("multi_label")
    t.execute("MATCH (p:P {id: 2}) SET p:Vip")
    t.execute("MATCH (p:P {id: 3}) SET p:Vip")
    // r14: the simple path used only labels.head — (p:P:Vip) mutated
    // every P row, Vip or not
    t.execute("MATCH (p:P:Vip) SET p.s = 99")
    val got = t.gql("MATCH (p:P) RETURN p.id AS i, p.s AS s ORDER BY i")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 10L), (2L, 99L), (3L, 99L)))
    t.execute("MATCH (p:P:Vip {id: 2}) DELETE p")
    assert(t.gql("MATCH (p:P) RETURN p.id AS i ORDER BY i").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("label-less DML applies per matched label table") {
    val t = fresh("label_less")
    t.execute("INSERT (:Q {id: 100, s: 5})")
    t.execute("MATCH (n) SET n.seen = true")
    assert(t.gql("MATCH (p:P) WHERE p.seen RETURN count(p) AS n")
      .collect().head.getLong(0) == 3L)
    assert(t.gql("MATCH (q:Q) WHERE q.seen RETURN count(q) AS n")
      .collect().head.getLong(0) == 1L)
    // the reference's cleanup idiom (set_operations_tests.rs:596)
    t.execute("MATCH (n) DETACH DELETE n")
    assert(t.gql("MATCH (n) RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
  }

  test("multi-label nodes count once in label-less DML tallies") {
    val t = fresh("multi_label_count")
    // id 2 now lives in BOTH the P and Vip tables (one logical node)
    t.execute("MATCH (p:P {id: 2}) SET p:Vip")
    val set = t.execute("MATCH (n) SET n.seen = true")
      .collect().head.getLong(0)
    assert(set == 3L, "a 2-label node must tally as ONE updated node")
    val del = t.execute("MATCH (n) DETACH DELETE n")
      .collect().head.getLong(0)
    assert(del == 3L, "a 2-label node must tally as ONE deleted node")
    assert(t.gql("MATCH (n) RETURN count(n) AS c")
      .collect().head.getLong(0) == 0L)
  }

  test("edge DML with endpoint inline props routes through the pipeline") {
    val t = fresh("edge_inline")
    t.execute("MATCH (a:P {id: 1}), (b:P {id: 2}) INSERT (a)-[:R {w: 1}]->(b)")
    t.execute("MATCH (a:P {id: 2}), (b:P {id: 3}) INSERT (a)-[:R {w: 2}]->(b)")
    // endpoint constraint must limit the edge SET to the matching hop
    t.execute("MATCH (a:P {id: 1})-[r:R]->(b:P) SET r.w = 99")
    val ws = t.gql("MATCH (:P)-[r:R]->(:P) RETURN r.w AS w ORDER BY w")
      .collect().map(_.getLong(0))
    assert(ws.toSeq == Seq(2L, 99L))
    // inline prop on the EDGE pattern itself
    t.execute("MATCH (:P)-[r:R {w: 2}]->(:P) DELETE r")
    assert(t.gql("MATCH (:P)-[r:R]->(:P) RETURN count(r) AS n")
      .collect().head.getLong(0) == 1L)
  }
}
