package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import graft.graph.PropertyGraph

/** The reference README walkthrough (readme_examples_test.rs) run
  * end-to-end against this engine: id-less INSERTs (auto-assigned node
  * ids), MATCH…INSERT relationship creation with properties, and the
  * pattern-matching queries a first-time reference user runs.
  */
class ReadmeParitySpec extends AnyFunSuite with TempDirs {

  private def setup(): graft.GqlSession = {
    val s = gqlSession(
      new PropertyGraph(Map.empty, Map.empty))
    s.execute("INSERT (:Person {name: 'Alice', age: 30, city: 'NYC'}), " +
      "(:Person {name: 'Bob', age: 25, city: 'NYC'}), " +
      "(:Person {name: 'Carol', age: 28, city: 'SF'}), " +
      "(:Person {name: 'Dave', age: 35, city: 'NYC'})")
    s.execute("INSERT (:Company {name: 'TechCorp', founded: '2010-01-01'}), " +
      "(:Company {name: 'DataInc', founded: '2015-06-15'})")
    Seq("Alice" -> "Bob", "Bob" -> "Carol", "Alice" -> "Dave",
      "Carol" -> "Dave").foreach { case (a, b) =>
      s.execute(s"MATCH (x:Person {name: '$a'}), (y:Person {name: '$b'}) " +
        "INSERT (x)-[:KNOWS {since: '2020-01-01'}]->(y)")
    }
    s.execute("MATCH (p:Person {name: 'Alice'}), (c:Company {name: 'TechCorp'}) " +
      "INSERT (p)-[:WORKS_AT {role: 'Engineer'}]->(c)")
    s.execute("MATCH (p:Person {name: 'Bob'}), (c:Company {name: 'TechCorp'}) " +
      "INSERT (p)-[:WORKS_AT {role: 'Designer'}]->(c)")
    s.execute("MATCH (p:Person {name: 'Carol'}), (c:Company {name: 'DataInc'}) " +
      "INSERT (p)-[:WORKS_AT {role: 'Analyst'}]->(c)")
    s
  }

  test("id-less INSERT hash-dedupes identical content with a warning " +
      "(duplicate_insert_test.rs)") {
    val s = setup()
    assert(s.gql("MATCH (p:Person) RETURN count(p) AS n")
      .collect().head.getLong(0) == 4L)
    // identical repeated insert: hash-based deduplication → still ONE
    // Alice, 0 rows affected, "Duplicate node detected" warning
    val r = s.execute("INSERT (:Person {name: 'Alice', age: 30, city: 'NYC'})")
      .collect().head
    assert(r.getLong(1) == 0L)
    assert(r.getString(2).contains("Duplicate node detected"))
    assert(s.gql("MATCH (p:Person) WHERE p.name = 'Alice' " +
      "RETURN count(p) AS n").collect().head.getLong(0) == 1L)
    // three identical inserts in one statement also collapse to one node
    val r2 = s.execute("INSERT (:Person {name: 'Eve', age: 1, city: 'LA'}), " +
      "(:Person {name: 'Eve', age: 1, city: 'LA'}), " +
      "(:Person {name: 'Eve', age: 1, city: 'LA'})").collect().head
    assert(r2.getLong(1) == 1L)
    assert(r2.getString(2).contains("2 duplicate(s) skipped"))
    // distinct content keeps distinct hash ids
    val ids = s.gql("MATCH (p:Person) RETURN ID(p) AS i ORDER BY i")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.length == 5 && ids == ids.distinct)
  }

  test("inline edge INSERT creates nodes + edge; duplicates warn " +
      "(duplicate_edge_warning_test.rs)") {
    val s = gqlSession(new PropertyGraph(Map.empty, Map.empty))
    val r1 = s.execute("INSERT (:User {uid: 'u1'})-[:FOLLOWS " +
      "{since: '2020-01-01'}]->(:User {uid: 'u2'})").collect()
    // one User row (2 nodes) + one FOLLOWS row (1 edge), no warnings
    assert(r1.find(_.getString(0) == "User").get.getLong(1) == 2L)
    assert(r1.find(_.getString(0) == "FOLLOWS").get.getLong(1) == 1L)
    assert(r1.forall(_.isNullAt(2)))
    // re-run: nodes hash-dedupe AND the edge dedupes, both with warnings
    val r2 = s.execute("INSERT (:User {uid: 'u1'})-[:FOLLOWS " +
      "{since: '2020-01-01'}]->(:User {uid: 'u2'})").collect()
    assert(r2.find(_.getString(0) == "User").get.getLong(1) == 0L)
    assert(r2.find(_.getString(0) == "User").get.getString(2)
      .contains("Duplicate node detected"))
    assert(r2.find(_.getString(0) == "FOLLOWS").get.getLong(1) == 0L)
    assert(r2.find(_.getString(0) == "FOLLOWS").get.getString(2)
      .contains("Duplicate edge detected"))
    assert(s.gql("MATCH ()-[r:FOLLOWS]->() RETURN count(r) AS n")
      .collect().head.getLong(0) == 1L)
    assert(s.gql("MATCH (u:User) RETURN count(u) AS n")
      .collect().head.getLong(0) == 2L)
    // inline edge between content-hash nodes matches MATCH…INSERT identity:
    // adding the same edge via the other statement form also dedupes
    val r3 = s.execute("MATCH (a:User {uid: 'u1'}), (b:User {uid: 'u2'}) " +
      "INSERT (a)-[:FOLLOWS {since: '2020-01-01'}]->(b)").collect().head
    assert(r3.getLong(0) == 0L)
  }

  test("INSERT identifier reuse creates no spurious nodes " +
      "(insert_node_identifier_regression_test.rs)") {
    val s = gqlSession(new PropertyGraph(Map.empty, Map.empty))
    s.execute("INSERT (n:Person {name: 'Alice Smith'}), " +
      "(m:Person {name: 'Bob Johnson'}), (n)-[r:KNOWS]->(m)")
    // exactly 2 nodes — no third empty node for the bare (n)/(m) reuse
    assert(s.gql("MATCH (p:Person) RETURN count(p) AS n")
      .collect().head.getLong(0) == 2L)
    val row = s.gql("MATCH (a:Person {name: 'Alice Smith'})-[:KNOWS]->" +
      "(b:Person {name: 'Bob Johnson'}) RETURN a.name AS s, b.name AS t")
      .collect()
    assert(row.length == 1 && row.head.getString(1) == "Bob Johnson")
    // hub-and-spoke: one hub, three spokes, three edges in one statement
    s.execute("INSERT (h:Hub {name: 'hub'}), (s1:Spoke {name: 's1'}), " +
      "(s2:Spoke {name: 's2'}), (s3:Spoke {name: 's3'}), " +
      "(h)-[:LINKS]->(s1), (h)-[:LINKS]->(s2), (h)-[:LINKS]->(s3)")
    assert(s.gql("MATCH (h:Hub)-[:LINKS]->(x:Spoke) RETURN count(x) AS n")
      .collect().head.getLong(0) == 3L)
    // unbound reuse is an error, not a silent empty node
    intercept[graft.gql.GqlCompileException] {
      s.execute("INSERT (q)-[:KNOWS]->(z:Person {name: 'Zed'})")
    }
  }

  test("gql.* procedure namespace is reserved " +
      "(stored_procedure_no_prefix_test.rs)") {
    val s = setup()
    val e1 = intercept[graft.gql.GqlCompileException] {
      s.execute("CREATE PROCEDURE gql.my_custom_proc AS MATCH (p:Person) RETURN p.name")
    }
    assert(e1.getMessage.contains("reserved"))
    val e2 = intercept[graft.gql.GqlCompileException] {
      s.execute("DROP PROCEDURE gql.list_schemas")
    }
    assert(e2.getMessage.contains("reserved"))
    // unknown system procedures error clearly (unknown_procedure_test.rs)
    intercept[IllegalArgumentException] {
      s.execute("CALL gql.nonexistent_procedure()")
    }
  }

  test("patterns over missing labels match nothing (pattern_tests.rs " +
      "'patterns with no matches')") {
    val s = setup()
    // unknown node label → 0 rows, not an error
    assert(s.gql("MATCH (x:Nonexistent) RETURN count(x) AS n")
      .collect().head.getLong(0) == 0L)
    // unknown edge type between known labels → 0 rows
    assert(s.gql("MATCH (a:Person)-[:NONEXISTENT]->(b:Person) " +
      "RETURN count(*) AS n").collect().head.getLong(0) == 0L)
    // property access off a missing label compiles and yields no rows
    assert(s.gql("MATCH (x:Nonexistent) WHERE x.weight > 10 " +
      "RETURN x.name AS name").collect().isEmpty)
    // aggregates over the empty match follow ISO GQL: COUNT 0, SUM null
    // (aggregation_tests.rs test_aggregation_edge_cases)
    assert(s.gql("MATCH (x:Nonexistent) RETURN sum(x.weight) AS s")
      .collect().head.isNullAt(0))
    // multi-type union keeps its known members
    assert(s.gql("MATCH ()-[r:KNOWS|NONEXISTENT]->() RETURN count(r) AS n")
      .collect().head.getLong(0) == 4L)
    // quantified hop over a missing type → empty
    assert(s.gql("MATCH (a:Person)-[:NONEXISTENT*1..3]->(b:Person) " +
      "RETURN count(*) AS n").collect().head.getLong(0) == 0L)
    // DML over a missing label affects 0 rows instead of erroring
    assert(s.execute("MATCH (x:Nonexistent) SET x.flag = 1")
      .collect().head.getLong(0) == 0L)
    assert(s.execute("MATCH (x:Nonexistent) DETACH DELETE x")
      .collect().head.getLong(0) == 0L)
    // self-referencing pattern still works (same var at both endpoints)
    s.execute("INSERT (sr:SelfRef {tag: 1})")
    s.execute("MATCH (x:SelfRef) INSERT (x)-[:SELF_LOOP]->(x)")
    assert(s.gql("MATCH (n:SelfRef)-[r:SELF_LOOP]->(n) " +
      "RETURN count(r) AS n").collect().head.getLong(0) == 1L)
  }

  test("friends of friends (readme pattern matching)") {
    val s = setup()
    val fof = s.gql("MATCH (person:Person)-[:KNOWS]->(friend:Person)" +
      "-[:KNOWS]->(fof:Person) WHERE person.name = 'Alice' " +
      "RETURN fof.name AS name ORDER BY name")
      .collect().map(_.getString(0)).toSeq
    assert(fof == Seq("Carol"))
  }

  test("un-aliased projections keep their source text as column names " +
      "(executor.rs:2031-2042 naming)") {
    val s = setup()
    // `RETURN p.name, p.age` → columns `p.name`, `p.age` — exactly the
    // headers a reference README user sees; a bare variable keeps its
    // name; an un-aliased function call lowercases its name
    val df = s.gql("MATCH (p:Person) WHERE p.city = 'SF' " +
      "RETURN p.name, p.age, upper(p.city)")
    assert(df.columns.toSeq == Seq("p.name", "p.age", "upper"))
    val r = df.collect().head
    assert(r.getString(0) == "Carol" && r.getString(2) == "SF")
    // dotted output columns still sort/distinct: ORDER BY resolves the
    // un-aliased property against its dotted output name
    val ordered = s.gql("MATCH (p:Person) RETURN DISTINCT p.city " +
      "ORDER BY p.city")
    assert(ordered.columns.toSeq == Seq("p.city"))
    assert(ordered.collect().map(_.getString(0)).toSeq == Seq("NYC", "SF"))
    // aliases still win, and aggregate naming is unchanged
    assert(s.gql("MATCH (p:Person) RETURN p.name AS who, count(p)")
      .columns.toSeq == Seq("who", "count"))
  }

  test("colleagues via shared employer (readme join pattern)") {
    val s = setup()
    val rows = s.gql("MATCH (a:Person)-[:WORKS_AT]->(c:Company)" +
      "<-[:WORKS_AT]-(b:Person) WHERE a.name < b.name " +
      "RETURN a.name AS a, b.name AS b, c.name AS company")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(("Alice", "Bob", "TechCorp")))
  }

  test("aggregation by city (readme analytics)") {
    val s = setup()
    val rows = s.gql("MATCH (p:Person) RETURN p.city AS city, " +
      "count(p) AS n, avg(p.age) AS avg_age ORDER BY city")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("NYC", 3L, 30.0), ("SF", 1L, 28.0)))
  }

  test("multi-hop and multi-path MATCH…INSERT (pattern_tests.rs path setup)") {
    val s = gqlSession(new PropertyGraph(Map.empty, Map.empty))
    s.execute("INSERT (:PathNode {id: 1, tag: 'A'}), (:PathNode {id: 2, tag: 'B'}), " +
      "(:PathNode {id: 3, tag: 'C'}), (:PathNode {id: 4, tag: 'D'}), " +
      "(:PathNode {id: 5, tag: 'E'})")
    // one statement inserts two chains + a direct edge (reference's
    // shortest-path fixture: A→B→E, A→C→D→E, A→E)
    val n = s.execute(
      "MATCH (a:PathNode {tag: 'A'}), (b:PathNode {tag: 'B'}), " +
        "(c:PathNode {tag: 'C'}), (d:PathNode {tag: 'D'}), (e:PathNode {tag: 'E'}) " +
        "INSERT (a)-[:PATH {weight: 1}]->(b)-[:PATH {weight: 1}]->(e), " +
        "(a)-[:PATH {weight: 1}]->(c)-[:PATH {weight: 2}]->(d)-[:PATH {weight: 1}]->(e), " +
        "(a)-[:PATH {weight: 5}]->(e)").collect().head.getLong(0)
    assert(n == 6L)
    // idempotent re-run inserts nothing new
    assert(s.execute(
      "MATCH (a:PathNode {tag: 'A'}), (e:PathNode {tag: 'E'}) " +
        "INSERT (a)-[:PATH {weight: 5}]->(e)").collect().head.getLong(0) == 0L)
    // traversal sees all three routes A→…→E (depths 1, 2, 3)
    val depths = s.gql("MATCH (a:PathNode {tag: 'A'})-[:PATH*1..3]->" +
      "(e:PathNode {tag: 'E'}) RETURN count(e) AS n").collect().head.getLong(0)
    assert(depths == 3L)
  }

  test("relationship properties round-trip") {
    val s = setup()
    val roles = s.gql("MATCH (p:Person)-[w:WORKS_AT]->(c:Company) " +
      "RETURN p.name AS name, w.role AS role ORDER BY name")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(roles == Seq("Alice" -> "Engineer", "Bob" -> "Designer",
      "Carol" -> "Analyst"))
  }
}
