package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Parity sweep over reference integration-test files not already
  * mirrored elsewhere: match_with_tests.rs (MATCH…WITH…INSERT),
  * json_format_tests.rs (un-aliased naming, trailing semicolons, bare
  * graph names, empty-result columns), intersect_debug_test.rs. Queries
  * and expected values are transcribed from the reference tests; only
  * the fixture plumbing is ours.
  */
class RefSuiteParitySpec extends AnyFunSuite with TempDirs {

  private def freshSession() = {
    val wh = tempDir("refsuite").toString
    graft.GraphLiteSpark.open(SparkFixture.spark, wh).session("u")
  }

  private def long(df: org.apache.spark.sql.DataFrame): Long =
    df.collect().head.get(0) match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case other => other.toString.toLong
    }

  // ---- match_with_tests.rs:13-78 ----

  test("simple MATCH-INSERT with WITH clause passes bindings through") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/simple_with_test")
    t.execute("SESSION SET GRAPH /main/simple_with_test")
    t.execute("INSERT (user1:User {id: 1, name: 'Alice', score: 100}), " +
      "(user2:User {id: 2, name: 'Bob', score: 85})")
    t.execute("MATCH (u:User {name: 'Alice'}) " +
      "WITH u, u.name AS user_name, u.score AS user_score " +
      "INSERT (record:UserRecord {user_id: u.id, recorded_name: user_name, " +
      "recorded_score: user_score, type: 'simple_record'})")
    assert(long(t.gql("MATCH (r:UserRecord {type: 'simple_record'}) " +
      "RETURN count(r) AS count")) == 1L)
    val row = t.gql("MATCH (r:UserRecord {type: 'simple_record'}) " +
      "RETURN r.user_id AS user_id, r.recorded_name AS name, " +
      "r.recorded_score AS score").collect().head
    assert(row.getLong(0) == 1L && row.getString(1) == "Alice" &&
      row.getLong(2) == 100L)
  }

  // ---- match_with_tests.rs:81-170 ----

  test("MATCH-INSERT with WITH aggregation and post-WHERE") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/match_with_test")
    t.execute("SESSION SET GRAPH /main/match_with_test")
    t.execute("INSERT (user1:User {id: 1, name: 'Alice', score: 100}), " +
      "(user2:User {id: 2, name: 'Bob', score: 85}), " +
      "(user3:User {id: 3, name: 'Charlie', score: 95}), " +
      "(game1:Game {id: 1, title: 'Game A'}), " +
      "(game2:Game {id: 2, title: 'Game B'})")
    t.execute("MATCH (u:User), (g:Game) WHERE u.id = 1 AND g.id = 1 " +
      "INSERT (u)-[:PLAYED {score: 150, date: '2024-01-01'}]->(g)")
    t.execute("MATCH (u:User), (g:Game) WHERE u.id = 2 AND g.id = 1 " +
      "INSERT (u)-[:PLAYED {score: 120, date: '2024-01-02'}]->(g)")
    // aggregate per (u, g), filter on the aggregate, insert per group
    t.execute("MATCH (u:User)-[p:PLAYED]->(g:Game) " +
      "WITH u, g, count(p) AS play_count, avg(p.score) AS avg_score " +
      "WHERE avg_score > 130 " +
      "INSERT (achievement:Achievement {user_id: u.id, game_id: g.id, " +
      "type: 'high_average', avg_score: avg_score, play_count: play_count})")
    assert(long(t.gql("MATCH (a:Achievement {type: 'high_average'}) " +
      "RETURN count(a) AS count")) == 1L)
    // collect + SIZE + sum per game
    t.execute("MATCH (u:User)-[p:PLAYED]->(g:Game) " +
      "WITH g, collect(u.name) AS player_names, sum(p.score) AS total_score " +
      "INSERT (summary:GameSummary {game_id: g.id, " +
      "total_players: SIZE(player_names), total_score: total_score, " +
      "created: '2024-01-03'})")
    assert(long(t.gql("MATCH (s:GameSummary) RETURN count(s) AS count")) == 1L)
    val s = t.gql("MATCH (s:GameSummary) RETURN s.total_players AS tp, " +
      "s.total_score AS ts").collect().head
    assert(s.getLong(0) == 2L && s.getLong(1) == 270L)
  }

  // ---- match_with_tests.rs:1064-1177 ----

  test("MATCH-INSERT comprehensive combinations (plain/WHERE/WITH/both)") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/comprehensive_insert")
    t.execute("SESSION SET GRAPH /main/comprehensive_insert")
    t.execute("INSERT (user1:User {id: 1, name: 'Alice', age: 25}), " +
      "(user2:User {id: 2, name: 'Bob', age: 30}), " +
      "(user3:User {id: 3, name: 'Charlie', age: 35}), " +
      "(post1:Post {id: 1, title: 'Post 1'}), " +
      "(post2:Post {id: 2, title: 'Post 2'}), " +
      "(post3:Post {id: 3, title: 'Post 3'})")
    t.execute("MATCH (u:User), (p:Post) WHERE u.id = 1 AND p.id = 1 " +
      "INSERT (u)-[:LIKES {rating: 5, timestamp: '2024-01-01'}]->(p)")
    t.execute("MATCH (u:User), (p:Post) WHERE u.id = 1 AND p.id = 2 " +
      "INSERT (u)-[:LIKES {rating: 2, timestamp: '2024-01-02'}]->(p)")
    t.execute("MATCH (u:User), (p:Post) WHERE u.id = 2 AND p.id = 1 " +
      "INSERT (u)-[:LIKES {rating: 4, timestamp: '2024-01-03'}]->(p)")
    // 1: no WITH, no WHERE — one node per matched row
    t.execute("MATCH (u:User) INSERT (report:Report {user_id: u.id, " +
      "type: 'basic'})")
    assert(long(t.gql("MATCH (r:Report {type: 'basic'}) " +
      "RETURN count(r) AS count")) == 3L)
    // 2: WHERE only
    t.execute("MATCH (u:User) WHERE u.age > 28 " +
      "INSERT (senior:SeniorUser {user_id: u.id, name: u.name})")
    assert(long(t.gql("MATCH (s:SeniorUser) RETURN count(s) AS count")) == 2L)
    // 3: WITH aggregation, no post-WHERE — one node per group
    t.execute("MATCH (u:User)-[l:LIKES]->(p:Post) " +
      "WITH p, avg(l.rating) AS avg_rating, count(l) AS like_count " +
      "INSERT (stats:PostStats {post_id: p.id, avg_rating: avg_rating, " +
      "like_count: like_count, category: 'all_posts'})")
    assert(long(t.gql("MATCH (s:PostStats {category: 'all_posts'}) " +
      "RETURN count(s) AS count")) == 2L)
    // 4: WITH + WHERE on the aggregate (Post 1 avg 4.5 only)
    t.execute("MATCH (u:User)-[l:LIKES]->(p:Post) " +
      "WITH p, avg(l.rating) AS avg_rating, count(l) AS like_count " +
      "WHERE avg_rating >= 4.0 " +
      "INSERT (premium:PremiumStats {post_id: p.id, avg_rating: avg_rating, " +
      "like_count: like_count, category: 'high_quality'})")
    assert(long(t.gql("MATCH (p:PremiumStats {category: 'high_quality'}) " +
      "RETURN count(p) AS count")) == 1L)
    // idempotency: re-running the same pipeline INSERT adds nothing
    // (content-hash identity, our documented INSERT dedup convention)
    t.execute("MATCH (u:User) INSERT (report:Report {user_id: u.id, " +
      "type: 'basic'})")
    assert(long(t.gql("MATCH (r:Report {type: 'basic'}) " +
      "RETURN count(r) AS count")) == 3L)
  }

  // ---- json_format_tests.rs ----

  test("result shapes: bare graph names, semicolons, empty-result columns") {
    val t = freshSession()
    // bare (schema-relative) graph name, trailing semicolons — the
    // reference fixture runs CREATE SCHEMA + SESSION SET SCHEMA first
    // (test_fixture.rs:53-63)
    t.execute("CREATE SCHEMA IF NOT EXISTS /main")
    t.execute("SESSION SET SCHEMA main")
    t.execute("CREATE GRAPH test_42")
    t.execute("SESSION SET GRAPH test_42")
    t.execute("INSERT (:Person {name: 'Alice', age: 30});")
    val r = t.gql("MATCH (p:Person) RETURN p.name, p.age;")
    assert(r.columns.toSeq == Seq("p.name", "p.age"))
    assert(r.count() == 1)
    // missing property projects as null, column still named p.age
    t.execute("INSERT (:Person {name: 'Bob'});")
    val rows = t.gql("MATCH (p:Person) RETURN p.name, p.age;")
      .collect().sortBy(_.getString(0))
    assert(rows.length == 2 && rows(1).getString(0) == "Bob" &&
      rows(1).isNullAt(1))
    // empty result keeps the projection columns (unknown label)
    val e = t.gql("MATCH (g:Ghost) RETURN g.name;")
    assert(e.columns.toSeq == Seq("g.name") && e.count() == 0)
  }

  // ---- match_set_transactional_test.rs:10-128 ----

  test("multi-property SET is atomic and rolls back with the transaction") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/match_set_txn")
    t.execute("SESSION SET GRAPH /main/match_set_txn")
    t.execute("INSERT (:Person {name: 'Alice', age: 30, city: 'NYC', " +
      "status: 'active'})")
    t.execute("INSERT (:Person {name: 'Bob', age: 25, city: 'LA', " +
      "status: 'active'})")
    t.execute("START TRANSACTION")
    t.execute("MATCH (p:Person) SET p.age = 99, p.city = 'UPDATED_CITY', " +
      "p.status = 'updated'")
    // mid-transaction: ALL properties visible on every node
    val mid = t.gql("MATCH (p:Person {name: 'Alice'}) RETURN p.age AS age, " +
      "p.city AS city, p.status AS status").collect().head
    assert(mid.getLong(0) == 99L && mid.getString(1) == "UPDATED_CITY" &&
      mid.getString(2) == "updated")
    t.execute("ROLLBACK")
    // after rollback: every property restored on both nodes
    val alice = t.gql("MATCH (p:Person {name: 'Alice'}) RETURN p.age AS age, " +
      "p.city AS city, p.status AS status").collect().head
    assert(alice.getLong(0) == 30L && alice.getString(1) == "NYC" &&
      alice.getString(2) == "active")
    val bob = t.gql("MATCH (p:Person {name: 'Bob'}) RETURN p.age AS age, " +
      "p.city AS city").collect().head
    assert(bob.getLong(0) == 25L && bob.getString(1) == "LA")
  }

  // ---- match_set_transactional_test.rs:174-244 ----

  test("single-property SET rollback preserves untouched properties") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/single_prop_txn")
    t.execute("SESSION SET GRAPH /main/single_prop_txn")
    t.execute("INSERT (:Person {name: 'Eve', age: 35, city: 'Boston', " +
      "occupation: 'Engineer'})")
    t.execute("START TRANSACTION")
    t.execute("MATCH (p:Person {name: 'Eve'}) SET p.age = 36")
    val mid = t.gql("MATCH (p:Person {name: 'Eve'}) RETURN p.age AS age, " +
      "p.city AS city, p.occupation AS occupation").collect().head
    assert(mid.getLong(0) == 36L && mid.getString(1) == "Boston" &&
      mid.getString(2) == "Engineer")
    t.execute("ROLLBACK")
    val eve = t.gql("MATCH (p:Person {name: 'Eve'}) RETURN p.age AS age, " +
      "p.city AS city, p.occupation AS occupation").collect().head
    assert(eve.getLong(0) == 35L && eve.getString(1) == "Boston" &&
      eve.getString(2) == "Engineer")
  }

  // ---- fixture_tests.rs:344-431 (fraud fixture WITH aggregations) ----

  test("WITH aggregation filters and nested DISTINCT aggregation") {
    val t = gqlSession(SparkFixture.fraudGraph)
    // every merchant has exactly 5 of the 100 transactions
    val rows = t.gql(
      "MATCH (a:Account)-[tx:Transaction]->(m:Merchant) " +
        "WITH m, count(tx) AS transaction_count, avg(tx.amount) AS avg_amount " +
        "WHERE transaction_count > 3 " +
        "RETURN m.name, transaction_count, avg_amount " +
        "ORDER BY transaction_count DESC").collect()
    assert(rows.length == 20)
    assert(rows.forall(r => r.getLong(1) == 5L && r.getDouble(2) > 0.0))
    // nested aggregation: each account reaches exactly 2 distinct
    // merchants ((i-1)%20 and (i+9)%20), so the average is 2.0
    val avg = t.gql(
      "MATCH (a:Account)-[tx:Transaction]->(m:Merchant) " +
        "WITH a, count(DISTINCT m) AS merchant_count " +
        "RETURN avg(merchant_count) AS avg_merchants_per_account")
      .collect()
    assert(avg.length == 1 && avg.head.getDouble(0) == 2.0)
  }

  // ---- match_with_tests.rs:1709-1852 (entity collect → UNWIND → DML) ----

  test("UNWIND of collected nodes re-binds entities for REMOVE") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/unwind_remove_basic")
    t.execute("SESSION SET GRAPH /main/unwind_remove_basic")
    t.execute("INSERT (p1:Product {id: 1, name: 'Product1', price: 30.0, " +
      "temp_flag: true}), (p2:Product {id: 2, name: 'Product2', " +
      "price: 20.0, temp_flag: true})")
    t.execute("MATCH (p:Product) WITH collect(p) AS products " +
      "UNWIND products AS product WHERE product.price > 25 " +
      "REMOVE product.temp_flag")
    val rows = t.gql("MATCH (p:Product) RETURN p.name AS name, " +
      "p.temp_flag AS flag ORDER BY p.name").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "Product1" && rows(0).isNullAt(1))
    assert(rows(1).getString(0) == "Product2" && rows(1).getBoolean(1))
  }

  test("UNWIND of collected nodes with aggregate threshold SET") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/unwind_set")
    t.execute("SESSION SET GRAPH /main/unwind_set")
    t.execute("INSERT (p1:Product {id: 1, name: 'Widget A', price: 15.0, " +
      "category: 'basic'}), (p2:Product {id: 2, name: 'Widget B', " +
      "price: 25.0, category: 'basic'}), (p3:Product {id: 3, " +
      "name: 'Widget C', price: 35.0, category: 'basic'})")
    // avg price 25.0 → only Widget C upgrades; SET also introduces a
    // NEW property (upgraded)
    t.execute("MATCH (p:Product) " +
      "WITH avg(p.price) AS avg_price, collect(p) AS products " +
      "UNWIND products AS product WHERE product.price > avg_price " +
      "SET product.category = 'premium', product.upgraded = true")
    assert(long(t.gql("MATCH (p:Product) WHERE p.category = 'premium' " +
      "RETURN count(p) AS count")) == 1L)
    val row = t.gql("MATCH (p:Product {category: 'premium'}) " +
      "RETURN p.name AS name, p.upgraded AS upgraded").collect().head
    assert(row.getString(0) == "Widget C" && row.getBoolean(1))
  }

  // ---- intersect_debug_test.rs ----

  test("INTERSECT returns all rows when both sides are identical") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/intersect_debug")
    t.execute("SESSION SET GRAPH /main/intersect_debug")
    t.execute("""INSERT (p1:Person {name: "Alice Smith", age: 32, salary: 85000})""")
    t.execute("""INSERT (p2:Person {name: "Eve Davis", age: 41, salary: 110000})""")
    t.execute("""INSERT (p3:Person {name: "Charlie Brown", age: 35, salary: 95000})""")
    t.execute("""INSERT (p4:Person {name: "Grace Chen", age: 33, salary: 88000})""")
    val n = t.gql(
      "MATCH (p:Person) WHERE p.age > 30 RETURN p.name, p.age, p.salary " +
        "INTERSECT " +
        "MATCH (p:Person) WHERE p.salary > 80000 RETURN p.name, p.age, p.salary")
      .count()
    assert(n == 4L)
  }

  // ---- with_clause_property_access_bug.rs:11-69 ----

  test("property access works identically in RETURN and WITH") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/bug_test")
    t.execute("SESSION SET GRAPH /main/bug_test")
    t.execute("INSERT (test:Node {id: 'test123', name: 'Test Node', " +
      "data: [1.0, 2.0, 3.0], number: 42, text: 'hello'})")
    // 1: property access in RETURN
    val r1 = t.gql("MATCH (n:Node {id: 'test123'}) " +
      "RETURN n.data, n.number, n.text, n.name").collect()
    assert(r1.length == 1)
    assert(r1.head.getSeq[Double](0) == Seq(1.0, 2.0, 3.0))
    assert(r1.head.getLong(1) == 42L && r1.head.getString(2) == "hello" &&
      r1.head.getString(3) == "Test Node")
    // 2: the same accesses through WITH aliases (the reference's bug
    // report shape — must produce the same values)
    val r2 = t.gql("MATCH (n:Node {id: 'test123'}) " +
      "WITH n.data as arr, n.number as num, n.text as txt, n.name as nm " +
      "RETURN arr, num, txt, nm").collect()
    assert(r2.length == 1)
    assert(r2.head.getSeq[Double](0) == Seq(1.0, 2.0, 3.0))
    assert(r2.head.getLong(1) == 42L && r2.head.getString(2) == "hello" &&
      r2.head.getString(3) == "Test Node")
  }

  test("WITH mixes an entity re-alias and a property projection") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/bug_test2")
    t.execute("SESSION SET GRAPH /main/bug_test2")
    t.execute("INSERT (test:Node {id: 'test123', name: 'Test Node', " +
      "data: [1.0, 2.0, 3.0], number: 42, text: 'hello'})")
    // 3: node alias + property alias side by side
    val r3 = t.gql("MATCH (n:Node {id: 'test123'}) " +
      "WITH n as node, n.data as arr RETURN node, arr").collect()
    assert(r3.length == 1)
    assert(r3.head.getSeq[Double](r3.head.fieldIndex("arr")) ==
      Seq(1.0, 2.0, 3.0))
    // 4: the workaround shape — entity through WITH, properties in RETURN
    val r4 = t.gql("MATCH (n:Node {id: 'test123'}) WITH n as node " +
      "RETURN node.data, node.number, node.text, node.name").collect()
    assert(r4.length == 1)
    assert(r4.head.getSeq[Double](0) == Seq(1.0, 2.0, 3.0))
    assert(r4.head.getLong(1) == 42L && r4.head.getString(2) == "hello" &&
      r4.head.getString(3) == "Test Node")
  }

  // ---- with_clause_property_access_bug.rs:71-117 ----

  test("comma-pattern nodes both pass WITH and keep property access") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/workaround")
    t.execute("SESSION SET GRAPH /main/workaround")
    t.execute("INSERT (doc1:Document {title: 'Doc1', score: 85})")
    t.execute("INSERT (doc2:Document {title: 'Doc2', score: 92})")
    val rows = t.gql(
      "MATCH (query_doc:Document {title: 'Doc1'}), (all_docs:Document) " +
        "WITH query_doc, all_docs " +
        "RETURN all_docs.title, query_doc.score as query_score, " +
        "all_docs.score as doc_score").collect()
    // the anchored doc pairs with BOTH documents (itself included)
    assert(rows.length == 2)
    assert(rows.forall(_.getLong(1) == 85L))
    assert(rows.map(r => (r.getString(0), r.getLong(2))).toSet ==
      Set(("Doc1", 85L), ("Doc2", 92L)))
  }

  // ---- rollback_batch_test.rs:10-78 ----

  test("ROLLBACK undoes batch SET operations as a unit") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/rollback_batch_test")
    t.execute("SESSION SET GRAPH /main/rollback_batch_test")
    t.execute("INSERT (:Person {name: 'Charlie', age: 28, city: 'LA', " +
      "status: 'active'})")
    t.execute("START TRANSACTION")
    t.execute("MATCH (p:Person {name: 'Charlie'}) " +
      "SET p.age = 29, p.city = 'SF', p.status = 'inactive'")
    val mid = t.gql("MATCH (p:Person {name: 'Charlie'}) RETURN p.age as age, " +
      "p.city as city, p.status as status").collect().head
    assert(mid.getLong(0) == 29L && mid.getString(1) == "SF" &&
      mid.getString(2) == "inactive")
    t.execute("ROLLBACK")
    val fin = t.gql("MATCH (p:Person {name: 'Charlie'}) RETURN p.age as age, " +
      "p.city as city, p.status as status").collect().head
    assert(fin.getLong(0) == 28L && fin.getString(1) == "LA" &&
      fin.getString(2) == "active")
  }

  // ---- rollback_simple_test.rs:12-77 ----

  test("ROLLBACK restores a single SET and never deletes the node") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/rollback_debug_test")
    t.execute("SESSION SET GRAPH /main/rollback_debug_test")
    t.execute("INSERT (:Person {name: 'Dave', age: 40})")
    assert(long(t.gql("MATCH (p:Person {name: 'Dave'}) RETURN p.age as age"))
      == 40L)
    t.execute("START TRANSACTION")
    t.execute("MATCH (p:Person {name: 'Dave'}) SET p.age = 41")
    assert(long(t.gql("MATCH (p:Person {name: 'Dave'}) RETURN p.age as age"))
      == 41L)
    t.execute("ROLLBACK")
    val after = t.gql("MATCH (p:Person {name: 'Dave'}) " +
      "RETURN p.age as age, p.name as name").collect()
    assert(after.nonEmpty, "node must survive ROLLBACK")
    assert(after.head.getLong(0) == 40L && after.head.getString(1) == "Dave")
  }

  // ---- unknown_procedure_test.rs ----

  test("unknown gql procedure error names the contract, not graph context") {
    val t = freshSession()
    val e = intercept[Exception] {
      t.execute("CALL gql.nonexistent_procedure();").collect()
    }
    val msg = e.getMessage
    assert(msg.contains("procedure not found") || msg.contains("not supported"))
    assert(!msg.contains("No graph context"))
    assert(msg.contains("Available system procedures"))
  }

  test("unknown procedure error lists available procedures") {
    val t = freshSession()
    val e = intercept[Exception] {
      t.execute("CALL gql.bad_procedure_name();").collect()
    }
    assert(e.getMessage.contains("list_schemas") ||
      e.getMessage.contains("list_graphs"))
  }

  // ---- match_set_transactional_test.rs:127-172 +
  // transactional_set_test.rs:10-54: a SET whose property expression
  // fails (date-only datetime — parse_iso_datetime requires a time
  // component) must fail the WHOLE statement and change nothing ----

  test("SET fails atomically when one property expression fails") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/txn_set_fail")
    t.execute("SESSION SET GRAPH /main/txn_set_fail")
    t.execute("INSERT (:Person {name: 'Charlie', age: 28, city: 'SF'})")
    val e = intercept[Exception] {
      t.execute("MATCH (p:Person {name: 'Charlie'}) SET p.age = 29, " +
        "p.city = 'Seattle', p.birthday = datetime('1995-03-20')")
    }
    assert(e.getMessage.contains("datetime"),
      s"error should mention the datetime failure: ${e.getMessage}")
    val after = t.gql("MATCH (p:Person {name: 'Charlie'}) " +
      "RETURN p.age AS age, p.city AS city").collect().head
    assert(after.getLong(0) == 28L && after.getString(1) == "SF",
      "no property may change when one evaluation fails")
  }

  // ---- transactional_set_test.rs:56-101 ----

  test("SET with function expressions succeeds when all are valid") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/txn_set_ok")
    t.execute("SESSION SET GRAPH /main/txn_set_ok")
    t.execute("INSERT (:Person {name: 'Bob', age: 25})")
    t.execute("MATCH (p:Person {name: 'Bob'}) SET p.age = 26, " +
      "p.city = upper('seattle'), " +
      "p.birthday = datetime('1992-05-15T00:00:00Z')")
    val row = t.gql("MATCH (p:Person {name: 'Bob'}) RETURN p.age AS age, " +
      "p.city AS city, p.birthday AS birthday").collect().head
    assert(row.getLong(0) == 26L && row.getString(1) == "SEATTLE")
    assert(!row.isNullAt(2), "birthday must be set")
  }

  // ---- function_expression_insert_test.rs:24-51 (duration in node
  // INSERT; divergence: the reference collapses durations to seconds as
  // a float Number — we store a typed day-time interval, same instant
  // arithmetic, documented in COVERAGE.md) ----

  test("duration() evaluates inside a node INSERT and queries back") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/duration_node")
    t.execute("SESSION SET GRAPH /main/duration_node")
    t.execute("INSERT (:Example {age: duration('P30Y')})")
    val rows = t.gql("MATCH (e:Example) RETURN e.age AS age").collect()
    assert(rows.length == 1)
    assert(!rows.head.isNullAt(0), "duration must not be null")
    // reference approximation: 1 year = 365 days (parse_iso_duration)
    assert(rows.head.getAs[java.time.Duration](0) ==
      java.time.Duration.ofDays(30L * 365L))
  }

  // ---- function_expression_insert_test.rs:53-104 ----

  test("duration() evaluates inside a MATCH…INSERT edge") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/duration_edge")
    t.execute("SESSION SET GRAPH /main/duration_edge")
    t.execute("INSERT (:Person {name: 'Alice'})")
    t.execute("INSERT (:Person {name: 'Bob'})")
    t.execute("MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) " +
      "INSERT (a)-[:KNOWS {duration: duration('P5Y'), since: 2020}]->(b)")
    val row = t.gql("MATCH (a:Person {name: 'Alice'})-[r:KNOWS]->" +
      "(b:Person {name: 'Bob'}) " +
      "RETURN r.duration AS duration, r.since AS since").collect().head
    assert(row.getAs[java.time.Duration](0) ==
      java.time.Duration.ofDays(5L * 365L))
    assert(row.getLong(1) == 2020L)
  }

  // ---- function_expression_insert_test.rs:106-157 ----

  test("string and math functions evaluate inside node INSERTs") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/multi_fn_node")
    t.execute("SESSION SET GRAPH /main/multi_fn_node")
    t.execute("INSERT (:StringTest {value: upper('hello')})")
    t.execute("INSERT (:StringTest {value: lower('WORLD')})")
    t.execute("INSERT (:MathTest {value: abs(-42.5)})")
    t.execute("INSERT (:MathTest {value: floor(42.7)})")
    t.execute("INSERT (:MathTest {value: ceil(4.3)})")
    t.execute("INSERT (:MathTest {value: round(3.14159)})")
    assert(t.gql("MATCH (s:StringTest {value: 'HELLO'}) " +
      "RETURN s.value AS value").collect().length == 1)
    assert(t.gql("MATCH (s:StringTest {value: 'world'}) " +
      "RETURN s.value AS value").collect().length == 1)
    val maths = t.gql("MATCH (m:MathTest) RETURN m.value AS v ORDER BY v")
      .collect().map(_.getDouble(0))
    // round(3.14159)=3, ceil(4.3)=5, floor(42.7)=42, abs(-42.5)=42.5
    assert(maths.toSeq == Seq(3.0, 5.0, 42.0, 42.5))
  }

  // ---- function_expression_insert_test.rs:159-238 ----

  test("multiple function types evaluate inside a MATCH…INSERT edge") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/multi_fn_edge")
    t.execute("SESSION SET GRAPH /main/multi_fn_edge")
    t.execute("INSERT (:User {id: 1, name: 'Alice'})")
    t.execute("INSERT (:User {id: 2, name: 'Bob'})")
    t.execute("MATCH (a:User {id: 1}), (b:User {id: 2}) " +
      "INSERT (a)-[:SENT_MESSAGE {" +
      "subject: upper('hello'), " +
      "preview: substring('This is a preview of the message', 0, 10), " +
      "priority: abs(-5), " +
      "sent_at: duration('P0DT1H30M'), " +
      "word_count: round(123.7)}]->(b)")
    val row = t.gql("MATCH (a:User {id: 1})-[r:SENT_MESSAGE]->(b:User {id: 2}) " +
      "RETURN r.subject AS subject, r.preview AS preview, " +
      "r.priority AS priority, r.sent_at AS sent_at, " +
      "r.word_count AS word_count").collect().head
    assert(row.getString(0) == "HELLO")
    assert(row.getString(1) == "This is a ")
    assert(row.getLong(2) == 5L)
    assert(row.getAs[java.time.Duration](3) ==
      java.time.Duration.ofMinutes(90L))
    assert(row.getDouble(4) == 124.0)
  }

  // ---- function_expression_insert_test.rs:240-285 ----

  test("nested function calls evaluate inside INSERT") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/nested_fn")
    t.execute("SESSION SET GRAPH /main/nested_fn")
    t.execute("INSERT (:Data {value: round(abs(-42.7)), " +
      "text: upper(lower('MiXeD CaSe'))})")
    val row = t.gql("MATCH (d:Data) RETURN d.value AS value, d.text AS text")
      .collect().head
    assert(row.getDouble(0) == 43.0)
    assert(row.getString(1) == "MIXED CASE")
  }

  // ---- function_expression_insert_test.rs:287-340 ----

  test("comprehensive function coverage across INSERT statements") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/comprehensive_fn")
    t.execute("SESSION SET GRAPH /main/comprehensive_fn")
    t.execute("INSERT (:Test {str1: upper('test'), str2: lower('TEST')})")
    t.execute("INSERT (:Test {math1: abs(-100), math2: floor(99.9), " +
      "math3: ceil(0.1)})")
    t.execute("INSERT (:Test {temp1: duration('P1Y')})")
    val s = t.gql("MATCH (x:Test) WHERE x.str1 IS NOT NULL " +
      "RETURN x.str1 AS u, x.str2 AS l").collect()
    assert(s.length == 1)
    assert(s.head.getString(0) == "TEST" && s.head.getString(1) == "test")
    val m = t.gql("MATCH (x:Test) WHERE x.math1 IS NOT NULL " +
      "RETURN x.math1 AS a, x.math2 AS f, x.math3 AS c").collect()
    assert(m.length == 1)
    assert(m.head.getLong(0) == 100L && m.head.getLong(1) == 99L &&
      m.head.getLong(2) == 1L)
    val d = t.gql("MATCH (x:Test) WHERE x.temp1 IS NOT NULL " +
      "RETURN x.temp1 AS t1").collect()
    assert(d.length == 1 && !d.head.isNullAt(0))
  }

  // ---- dml_tests.rs:527-535 (bulk edge SET listing an edge LABEL item:
  // the reference's SetItem::Label only labels nodes — match_set.rs:
  // 835-846 — so `SET t:MicroTransaction` on an edge is a silent no-op
  // there while the co-listed property items still apply; we log the
  // drop instead of silently ignoring, and the statement succeeds) ----

  test("bulk edge SET with an edge label item succeeds, label is a no-op") {
    val t = gqlSession(SparkFixture.fraudGraph)
    val expected = t.gql("MATCH (:Account)-[tx:Transaction]->(:Merchant) " +
      "WHERE tx.amount < 60 RETURN count(tx) AS n").collect().head.getLong(0)
    assert(expected > 0 && expected < 100) // the predicate is selective
    t.execute("MATCH (a:Account)-[tx:Transaction]->(m:Merchant) " +
      "WHERE tx.amount < 60 " +
      "SET tx:MicroTransaction, tx.processed_date = '2024-01-01'")
    val marked = t.gql("MATCH (:Account)-[tx:Transaction]->(:Merchant) " +
      "WHERE tx.processed_date IS NOT NULL RETURN count(tx) AS n")
      .collect().head.getLong(0)
    assert(marked == expected, "property item applies to matching edges only")
  }

  // ---- dml_tests.rs:515-525 (WITH-aggregate-driven SET: per-account
  // transaction stats computed in the pipeline feed the assignment) ----

  test("WITH aggregation feeds SET expressions per matched account") {
    val t = gqlSession(SparkFixture.fraudGraph)
    // every account has exactly 2 of the 100 transactions
    t.execute("MATCH (a:Account)-[tx:Transaction]->(m:Merchant) " +
      "WITH a, count(tx) AS transaction_count, avg(tx.amount) AS avg_amount " +
      "WHERE transaction_count > 1 " +
      "SET a.activity_score = transaction_count * 0.1 + avg_amount * 0.0001, " +
      "a.active_user = true")
    val rows = t.gql("MATCH (a:Account) WHERE a.active_user " +
      "RETURN count(a) AS n").collect()
    assert(rows.head.getLong(0) == 50L, "all 50 accounts have 2 tx each")
    val one = t.gql("MATCH (a:Account {id: 1}) " +
      "RETURN a.activity_score AS s").collect().head
    // account 1 holds tx 1 (amount 51) and tx 51 (amount 71): score =
    // 2*0.1 + 61*0.0001
    assert(math.abs(one.getDouble(0) - (0.2 + 61.0 * 0.0001)) < 1e-9)
  }

  // ---- dml_tests.rs:145-185 (multi-label INSERT + property/label
  // REMOVE): `(temp:TempNode:ExtraLabel {…})` must be matchable through
  // BOTH labels and their intersection; REMOVE temp:ExtraLabel later
  // drops just that label while the node survives under TempNode ----

  test("multi-label INSERT, REMOVE properties, then REMOVE a label") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/remove_ops")
    t.execute("SESSION SET GRAPH /main/remove_ops")
    t.execute("INSERT (temp:TempNode:ExtraLabel " +
      "{prop1: 'value1', prop2: 'value2', prop3: 'value3'})")
    assert(long(t.gql("MATCH (x:TempNode:ExtraLabel) RETURN count(x) AS n"))
      == 1L)
    t.execute("MATCH (temp:TempNode) REMOVE temp.prop1, temp.prop2")
    val rem = t.gql("MATCH (temp:TempNode) RETURN temp.prop3 AS remaining_prop")
      .collect().head
    assert(rem.getString(0) == "value3")
    t.execute("MATCH (temp:TempNode:ExtraLabel) REMOVE temp:ExtraLabel")
    assert(long(t.gql("MATCH (temp:TempNode) RETURN count(temp) AS n")) == 1L)
    assert(long(t.gql("MATCH (x:ExtraLabel) RETURN count(x) AS n")) == 0L)
  }

  // ---- list_graphs_bug_test_simple.rs ----

  test("gql.list_graphs returns non-NULL schema and graph names") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/listable_graph")
    val rows = t.execute("CALL gql.list_graphs()").collect()
    assert(rows.nonEmpty, "should have at least one graph")
    rows.foreach { r =>
      assert(!r.isNullAt(0) && r.getString(0).nonEmpty, "schema_name non-NULL")
      assert(!r.isNullAt(1) && r.getString(1).nonEmpty, "graph_name non-NULL")
    }
    assert(rows.exists(r => r.getString(1) == "listable_graph"))
  }

  // ---- string node ids (storage/types.rs:68-72: ids are Strings; the
  // GraphIndexScan procedures are id-type-agnostic, physical.rs:42-67).
  // Round 13 made string ids idiomatic at INSERT; these pin the
  // analytics/procedure surface on such graphs. ----

  test("GraphIndexScan procedures answer on a string-id INSERT graph") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/string_id_graph")
    t.execute("SESSION SET GRAPH /main/string_id_graph")
    t.execute("INSERT (a:User {id: 'u1', name: 'Alice'})," +
      " (b:User {id: 'u2', name: 'Bob'})," +
      " (c:User {id: 'u3', name: 'Carol'})," +
      " (d:User {id: 'u4', name: 'Dan'})," +
      " (a)-[:FOLLOWS]->(b), (b)-[:FOLLOWS]->(c), (c)-[:FOLLOWS]->(d)")
    val nbrs = t.execute("CALL gql.find_neighbors(FOLLOWS, u1, 2)")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(nbrs.toSeq == Seq(("u2", 1L), ("u3", 2L)))
    val sp = t.execute("CALL gql.shortest_path(FOLLOWS, u1, u4, 10)")
      .collect().head
    assert(sp.getString(0) == "u1" && sp.getString(1) == "u4" &&
      sp.getLong(2) == 3L)
    assert(t.execute("CALL gql.is_reachable(FOLLOWS, u1, u4, 10)")
      .collect().head.getBoolean(2))
    assert(!t.execute("CALL gql.is_reachable(FOLLOWS, u4, u1, 10)")
      .collect().head.getBoolean(2)) // directed chain
  }

  test("pageRank and connected components run on a string-id graph") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/string_id_analytics")
    t.execute("SESSION SET GRAPH /main/string_id_analytics")
    t.execute("INSERT (a:User {id: 'u1'}), (b:User {id: 'u2'})," +
      " (c:User {id: 'u3'}), (x:User {id: 'x9'})," +
      " (a)-[:FOLLOWS]->(b), (b)-[:FOLLOWS]->(c)")
    val spark = SparkFixture.spark
    val ranks = graft.graph.Analytics
      .pageRank(spark, t.graph, "User", "FOLLOWS", 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 4)
    assert(ranks("u3") > ranks("u2") && ranks("u2") > ranks("u1"))
    assert(ranks("u1") == ranks("x9")) // both rank-sources
    val comp = graft.graph.Analytics
      .connectedComponents(spark, t.graph, "User", "FOLLOWS")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp == Map("u1" -> "u1", "u2" -> "u1", "u3" -> "u1",
      "x9" -> "x9"))
  }

  test("DML (SET/REMOVE/DETACH DELETE) works on string-id graphs") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/string_id_dml")
    t.execute("SESSION SET GRAPH /main/string_id_dml")
    t.execute("INSERT (a:User {id: 'u1', score: 10})," +
      " (b:User {id: 'u2', score: 20}), (c:User {id: 'u3', score: 30})," +
      " (a)-[:FOLLOWS]->(b), (b)-[:FOLLOWS]->(c)")
    t.execute("MATCH (u:User {id: 'u2'}) SET u.score = 99")
    val scores = t.gql("MATCH (u:User) RETURN u.id AS id, u.score AS s " +
      "ORDER BY id").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(scores.toSeq == Seq("u1" -> 10L, "u2" -> 99L, "u3" -> 30L))
    t.execute("MATCH (u:User {id: 'u1'}) REMOVE u.score")
    assert(t.gql("MATCH (u:User {id: 'u1'}) RETURN u.score AS s")
      .collect().head.isNullAt(0))
    // DETACH DELETE takes the incident string-keyed edges with it
    t.execute("MATCH (u:User {id: 'u2'}) DETACH DELETE u")
    assert(t.gql("MATCH (u:User) RETURN count(u) AS n")
      .collect().head.getLong(0) == 2L)
    assert(t.gql("MATCH (:User)-[f:FOLLOWS]->(:User) RETURN count(f) AS n")
      .collect().head.getLong(0) == 0L)
    // non-DETACH delete of a node with no incident edges succeeds
    t.execute("MATCH (u:User {id: 'u3'}) DELETE u")
    assert(t.gql("MATCH (u:User) RETURN u.id AS id").collect()
      .map(_.getString(0)).toSeq == Seq("u1"))
  }

  test("mixing Long and string ids widens the label and its edges") {
    val t = freshSession()
    t.execute("CREATE GRAPH /main/mixed_id_graph")
    t.execute("SESSION SET GRAPH /main/mixed_id_graph")
    // Long ids with an edge first…
    t.execute("INSERT (a:User {id: 1}), (b:User {id: 2}), " +
      "(a)-[:FOLLOWS]->(b)")
    // …then a string id in a LATER statement: the label's id column widens
    // to string AND the existing FOLLOWS endpoints widen with it, so the
    // hop join below compares string to string (never the Double coercion
    // that silently corrupts 60-bit hash identities)
    t.execute("INSERT (c:User {id: 'u3'})")
    t.execute("MATCH (a:User {id: 'u3'}), (b:User) WHERE b.id = '1' " +
      "INSERT (b)-[:FOLLOWS]->(a)")
    val idT = t.graph.nodeTables("User").schema("id").dataType
    assert(idT == org.apache.spark.sql.types.StringType)
    val eT = t.graph.edgeTables("FOLLOWS")._2.schema("src").dataType
    assert(eT == org.apache.spark.sql.types.StringType)
    val hops = t.gql("MATCH (a:User)-[:FOLLOWS]->(b:User) " +
      "RETURN a.id AS src, b.id AS dst ORDER BY src, dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(hops.toSeq == Seq(("1", "2"), ("1", "u3")))
    // a single batch mixing id types widens within the batch too (the
    // ADVICE r13 crash: schema inferred from the first value, rows built
    // with the other type → createDataFrame encoder error)
    t.execute("INSERT (p:Tag {id: 7}), (q:Tag {id: 'top'})")
    val tagIds = t.gql("MATCH (x:Tag) RETURN x.id AS id ORDER BY id")
      .collect().map(_.getString(0))
    assert(tagIds.toSeq == Seq("7", "top"))
  }
}
