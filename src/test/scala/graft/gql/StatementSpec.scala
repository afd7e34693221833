package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** GQL statement surface: INSERT / MATCH SET / REMOVE / DELETE / DDL /
  * SESSION — semantics mirror the reference's dml_tests.rs and
  * ddl_independent_tests.rs shapes.
  */
class StatementSpec extends AnyFunSuite with TempDirs {

  private def freshSession() = gqlSession(SparkFixture.fraudGraph)

  test("INSERT literal nodes") {
    val s = freshSession()
    val r = s.execute("INSERT (:Account {id: 51, account_number: 'ACC51', " +
      "name: 'Account51', balance: 5100.0, status: 'active', " +
      "account_type: 'checking', risk_score: 0.1}), " +
      "(:Account {id: 52, account_number: 'ACC52', name: 'Account52', " +
      "balance: 5200.0, status: 'active', account_type: 'savings', risk_score: 0.2})")
    assert(r.collect().head.getLong(1) == 2L)
    assert(s.execute("MATCH (a:Account) RETURN count(a) AS n")
      .collect().head.getLong(0) == 52L)
  }

  test("MATCH SET updates matching rows in the session graph") {
    val s = freshSession()
    val r = s.execute("MATCH (a:Account) WHERE a.status = 'inactive' " +
      "SET a.balance = 0.0, a.risk_score = 10.0")
    assert(r.collect().head.getLong(0) == 5L)
    assert(s.execute("MATCH (a:Account) WHERE a.balance = 0.0 RETURN count(a) AS n")
      .collect().head.getLong(0) == 5L)
    // arithmetic on existing value
    s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = a.balance * 2")
    assert(s.execute("MATCH (a:Account {id: 1}) RETURN a.balance AS b")
      .collect().head.getDouble(0) == 200.0)
  }

  test("ORDER BY nulls ordering: ASC last, DESC first (executor.rs:6728-6739)") {
    // compare_values(nulls_first=false) sorts NULL as GREATER and DESC
    // reverses AFTER the comparison — Spark's asc/desc defaults are the
    // opposite on BOTH directions, so this pins the reference's rule
    val s = freshSession()
    s.execute("INSERT (:Nul {id: 1, v: 10})")
    s.execute("INSERT (:Nul {id: 2})")
    s.execute("INSERT (:Nul {id: 3, v: 5})")
    s.execute("INSERT (:Nul {id: 4})")
    val asc = s.gql("MATCH (n:Nul) RETURN n.id AS id ORDER BY n.v ASC, n.id ASC")
      .collect().map(_.getLong(0)).toSeq
    assert(asc == Seq(3L, 1L, 2L, 4L)) // nulls LAST under ASC
    val desc = s.gql("MATCH (n:Nul) RETURN n.id AS id ORDER BY n.v DESC, n.id ASC")
      .collect().map(_.getLong(0)).toSeq
    assert(desc == Seq(2L, 4L, 1L, 3L)) // nulls FIRST under DESC
  }

  test("% operator is Euclidean, MOD() is truncated, like the reference " +
      "(executor.rs:5193-5197 vs mathematical_functions.rs:763)") {
    val s = freshSession()
    val r = s.gql("MATCH (a:Account {id: 1}) RETURN " +
      "-7 % 3 AS m1, 7 % -3 AS m2, -7 % -3 AS m3, " +
      "MOD(-7, 3) AS f1, MOD(7, -3) AS f2, MOD(7, 3) AS f3")
      .collect().head
    // `%` is rem_euclid: result in [0, |divisor|)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 2L)))
    // MOD() is Rust `%` on f64: sign follows the dividend
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) == ((-1L, 1L, 1L)))
  }

  test("SUBSTRING clamps non-positive start/length (string_functions.rs:364-392)") {
    // the reference treats start <= 0 as the first character and
    // length <= 0 as empty; Spark's raw substr counts negative starts
    // from the END — this pins the reference's rule
    val s = freshSession()
    val r = s.gql("MATCH (a:Account {id: 1}) RETURN " +
      "SUBSTRING('hello', -2, 3) AS a, SUBSTRING('hello', 0, 2) AS b, " +
      "SUBSTRING('hello', 2, -1) AS c, SUBSTRING('hello', 99) AS d, " +
      "SUBSTRING('hello', 2) AS e").collect().head
    assert((r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4)) == (("hel", "he", "", "", "ello")))
  }

  test("TRIM mode and character forms (string_functions.rs:198-265)") {
    val s = freshSession()
    val r = s.gql("MATCH (a:Account {id: 1}) RETURN " +
      "TRIM('  x  ') AS t1, TRIM('LEADING', '  x  ') AS t2, " +
      "TRIM('TRAILING', '  x  ') AS t3, TRIM('--x--', '-') AS t4, " +
      "TRIM('leading', '-', '--x--') AS t5, " +
      // 2-arg char form uses only the FIRST character of the literal
      // (extract_trim_char, string_functions.rs:292-303); empty → space
      "TRIM('xyxAyx', 'xy') AS t6, TRIM('  x  ', '') AS t7, " +
      // 3-arg form trims the full character SET (trim_string)
      "TRIM('BOTH', 'xy', 'xyxAyx') AS t8").collect().head
    assert((r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4)) == (("x", "x  ", "  x", "x", "x--")))
    assert((r.getString(5), r.getString(6), r.getString(7))
      == (("yxAy", "x", "A")))
  }

  test("list function edges match the reference (list_functions.rs)") {
    val s = freshSession()
    val r = s.gql("MATCH (a:Account {id: 1}) RETURN " +
      // LIST_SLICE: 0-based start, exclusive end; negative start and
      // end <= start -> EMPTY (the `as usize` wrap); end clamps to len
      "LIST_SLICE([10, 20, 30, 40], 1, 3) AS s1, " +
      "LIST_SLICE([10, 20, 30, 40], -1, 2) AS s2, " +
      "LIST_SLICE([10, 20, 30, 40], 3, 2) AS s3, " +
      "LIST_SLICE([10, 20, 30, 40], 2, 99) AS s4, " +
      // a NEGATIVE end wraps huge through `as usize` and the
      // min(end, len) clamp lands on len — slices to the END, not empty
      // (list_functions.rs:123-136)
      "LIST_SLICE([10, 20, 30, 40], 1, -1) AS s5, " +
      // LIST_CONTAINS: total Value equality — Null == Null is TRUE and
      // a miss over a null-holding list is FALSE (not UNKNOWN)
      "LIST_CONTAINS([1, null], null) AS c1, " +
      "LIST_CONTAINS([1, null], 2) AS c2, " +
      // a LIST second argument EXTENDS instead of nesting
      "LIST_APPEND([1, 2], [3, 4]) AS ap, " +
      "LIST_PREPEND([3, 4], [1, 2]) AS pp").collect().head
    assert(r.getSeq[Long](0) == Seq(20L, 30L))
    assert(r.getSeq[Long](1) == Seq.empty)
    assert(r.getSeq[Long](2) == Seq.empty)
    assert(r.getSeq[Long](3) == Seq(30L, 40L))
    assert(r.getSeq[Long](4) == Seq(20L, 30L, 40L))
    assert(r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getSeq[Long](7) == Seq(1L, 2L, 3L, 4L))
    assert(r.getSeq[Long](8) == Seq(1L, 2L, 3L, 4L))
  }

  test("LIST_APPEND/PREPEND extend a runtime list whose static kind is " +
      "unknown (list_functions.rs:192-201 Value::List match)") {
    val s = freshSession()
    // an UNWIND-bound variable drops its alias kind (element kind is
    // dynamic), so staticKind is None — the compiled column's resolved
    // ArrayType must still dispatch to EXTEND, not nest-in-array()
    val rows = s.gql("MATCH (a:Account {id: 1}) " +
      "UNWIND [[1, 2], [3, 4]] AS x " +
      "RETURN LIST_APPEND([0], x) AS ap, LIST_PREPEND([9], x) AS pp " +
      "ORDER BY ap").collect()
    assert(rows.map(_.getSeq[Long](0)).toSeq ==
      Seq(Seq(0L, 1L, 2L), Seq(0L, 3L, 4L)))
    assert(rows.map(_.getSeq[Long](1)).toSeq ==
      Seq(Seq(1L, 2L, 9L), Seq(3L, 4L, 9L)))
  }

  test("DDL options: IF NOT EXISTS no-ops, DROP SCHEMA needs CASCADE " +
      "(ddl_independent_tests.rs:38-148)") {
    val s = freshSession()
    s.execute("CREATE SCHEMA /opt1")
    // plain re-CREATE errors; IF NOT EXISTS no-ops
    assert(intercept[Exception](s.execute("CREATE SCHEMA /opt1"))
      .getMessage.contains("already exists"))
    s.execute("CREATE SCHEMA IF NOT EXISTS /opt1")
    s.execute("CREATE GRAPH /opt1/g1")
    assert(intercept[Exception](s.execute("CREATE GRAPH /opt1/g1"))
      .getMessage.contains("already exists"))
    s.execute("CREATE GRAPH IF NOT EXISTS /opt1/g1")
    // a non-empty schema refuses a plain DROP; CASCADE removes it whole
    assert(intercept[Exception](s.execute("DROP SCHEMA /opt1"))
      .getMessage.contains("CASCADE"))
    assert(s.execute("DROP SCHEMA /opt1 CASCADE")
      .collect().head.getBoolean(0))
    assert(!s.gls.catalog.listSchemas().contains("opt1"))
    // CASCADE detaches a session bound to a contained graph (:112)
    s.execute("CREATE GRAPH /opt2/g2")
    s.execute("SESSION SET GRAPH /opt2/g2")
    s.execute("DROP SCHEMA /opt2 CASCADE")
    assert(s.currentGraphName.isEmpty)
  }

  test("SET v:Label adds the label; multi-label scans match it " +
      "(dml_tests.rs 'SET emp:Manager')") {
    val s = freshSession()
    // plain label add
    s.execute("MATCH (a:Account) WHERE a.risk_score >= 4.5 SET a:HighRisk")
    assert(s.gql("MATCH (a:Account:HighRisk) RETURN count(a) AS n")
      .collect().head.getLong(0) == 6L) // ids 45..50
    // the new label is queryable on its own, props carried over
    assert(s.gql("MATCH (h:HighRisk) RETURN count(h) AS n")
      .collect().head.getLong(0) == 6L)
    // mixed label + property items in one SET (dml_tests.rs:483)
    s.execute("MATCH (a:Account) WHERE a.id = 1 " +
      "SET a:HighValue, a.tier = 'premium'")
    val r = s.gql("MATCH (a:Account:HighValue) " +
      "RETURN a.id AS id, a.tier AS t").collect()
    assert(r.length == 1 && r.head.getLong(0) == 1L &&
      r.head.getString(1) == "premium")
    // re-running is idempotent (no duplicate rows under the new label)
    s.execute("MATCH (a:Account) WHERE a.risk_score >= 4.5 SET a:HighRisk")
    assert(s.gql("MATCH (h:HighRisk) RETURN count(h) AS n")
      .collect().head.getLong(0) == 6L)
    // REMOVE v:Label drops the label from the matched nodes only
    s.execute("MATCH (a:Account) WHERE a.id >= 49 REMOVE a:HighRisk")
    assert(s.gql("MATCH (h:HighRisk) RETURN count(h) AS n")
      .collect().head.getLong(0) == 4L) // 45..48 keep it
    // the Account rows themselves are untouched
    assert(s.gql("MATCH (a:Account) RETURN count(a) AS n")
      .collect().head.getLong(0) == 50L)
    // removing a label a node never had is a no-op
    s.execute("MATCH (a:Account) WHERE a.id = 2 REMOVE a:HighRisk")
    assert(s.gql("MATCH (h:HighRisk) RETURN count(h) AS n")
      .collect().head.getLong(0) == 4L)
  }

  test("label items apply to the PRE-mutation match when the same " +
      "statement rewrites the matched property") {
    val s = freshSession()
    // the WHERE matches on status; the SAME statement overwrites status
    // AND adds a label — the label must land on the originally-matched
    // rows, not re-evaluate against the mutated table (zero rows)
    s.execute("MATCH (a:Account) WHERE a.status = 'inactive' " +
      "SET a.status = 'archived', a:Archived")
    assert(s.gql("MATCH (h:Archived) RETURN count(h) AS n")
      .collect().head.getLong(0) == 5L)
    assert(s.gql("MATCH (h:Archived) WHERE h.status = 'archived' " +
      "RETURN count(h) AS n").collect().head.getLong(0) == 5L)
    // symmetric for REMOVE: null the matched property and drop a label
    // in one statement
    s.execute("MATCH (a:Account) WHERE a.status = 'archived' " +
      "REMOVE a.status, a:Archived")
    assert(s.gql("MATCH (h:Archived) RETURN count(h) AS n")
      .collect().head.getLong(0) == 0L)
  }

  test("READ ONLY gates DDL and nesting keeps the enclosing mode") {
    val s = freshSession()
    s.execute("START TRANSACTION READ ONLY")
    // catalog DDL is a write the snapshot cannot undo — refused
    assert(intercept[IllegalStateException](
      s.execute("CREATE SCHEMA /roblocked")).getMessage.contains("READ ONLY"))
    // a nested mode-less transaction INHERITS read-only
    s.execute("START TRANSACTION")
    assert(intercept[IllegalStateException](
      s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 0.0"))
      .getMessage.contains("READ ONLY"))
    s.execute("COMMIT")
    // still read-only in the outer transaction
    assert(intercept[IllegalStateException](
      s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 0.0"))
      .getMessage.contains("READ ONLY"))
    s.execute("ROLLBACK")
    // SET TRANSACTION READ ONLY applies to the NEXT transaction only
    s.execute("SET TRANSACTION READ ONLY")
    s.execute("START TRANSACTION")
    assert(intercept[IllegalStateException](
      s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 0.0"))
      .getMessage.contains("READ ONLY"))
    s.execute("COMMIT")
    s.execute("START TRANSACTION") // default consumed — writable again
    s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 7.5")
    s.execute("COMMIT")
    assert(s.gql("MATCH (a:Account {id: 1}) RETURN a.balance AS b")
      .collect().head.getDouble(0) == 7.5)
  }

  test("SET evaluates function expressions (set_function_expression_test.rs)") {
    val s = freshSession()
    // string functions, incl. over the existing value
    s.execute("MATCH (a:Account) WHERE a.id = 1 " +
      "SET a.name_upper = UPPER(a.name), a.name_lower = LOWER('MIXED')")
    val r = s.execute("MATCH (a:Account {id: 1}) " +
      "RETURN a.name_upper AS u, a.name_lower AS l").collect().head
    assert(r.getString(0) == "ACCOUNT1" && r.getString(1) == "mixed")
    // math + nested functions
    s.execute("MATCH (a:Account) WHERE a.id = 2 " +
      "SET a.root = SQRT(ABS(-16.0)), a.rounded = ROUND(a.balance / 3.0)")
    val r2 = s.execute("MATCH (a:Account {id: 2}) " +
      "RETURN a.root AS r, a.rounded AS d").collect().head
    assert(r2.getDouble(0) == 4.0 && r2.getDouble(1) == 67.0)
    // edge SET with function expressions (test_match_set_edge_properties)
    s.execute("MATCH (a)-[t:Transaction]->(m) WHERE t.eid = 1 " +
      "SET t.amount = ROUND(t.amount * 2.0)")
    assert(s.execute("MATCH (a)-[t:Transaction]->(m) WHERE t.eid = 1 " +
      "RETURN t.amount AS x").collect().head.getDouble(0) == 102.0)
  }

  test("SET TRANSACTION characteristics + READ ONLY enforcement " +
      "(set_characteristics.rs; parser.rs:4576-4697)") {
    val s = freshSession()
    // the reference's one-row status result, same message shape
    val msg = s.execute(
      "SET TRANSACTION ISOLATION LEVEL READ COMMITTED READ WRITE")
      .collect().head.getString(0)
    assert(msg ==
      "Transaction characteristics set: ISOLATION LEVEL READ COMMITTED READ WRITE")
    // only READ COMMITTED is accepted (set_characteristics.rs:64-77)
    assert(intercept[Exception](
      s.execute("SET TRANSACTION ISOLATION LEVEL SERIALIZABLE"))
      .getMessage.contains("READ COMMITTED"))
    // READ ONLY default applies to the next transaction and blocks DML
    s.execute("SET TRANSACTION READ ONLY")
    s.execute("START TRANSACTION")
    val e = intercept[IllegalStateException](
      s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 0.0"))
    assert(e.getMessage.contains("READ ONLY"))
    s.execute("ROLLBACK WORK") // [WORK] parses (parser.rs:4602-4624)
    // explicit mode on START/BEGIN wins over the session default
    s.execute("BEGIN READ WRITE")
    s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 7.0")
    s.execute("COMMIT WORK")
    assert(s.gql("MATCH (a:Account {id: 1}) RETURN a.balance AS b")
      .collect().head.getDouble(0) == 7.0)
  }

  test("MATCH REMOVE nulls out properties") {
    val s = freshSession()
    s.execute("MATCH (a:Account) WHERE a.id <= 3 REMOVE a.risk_score")
    assert(s.execute("MATCH (a:Account) WHERE a.risk_score IS NULL RETURN count(a) AS n")
      .collect().head.getLong(0) == 3L)
  }

  test("MATCH DELETE edges and DETACH DELETE nodes") {
    val s = freshSession()
    val r = s.execute("MATCH (a)-[t:Transaction]->(m) WHERE t.amount > 70 DELETE t")
    assert(r.collect().head.getLong(0) == 27L)
    assert(s.execute("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "RETURN count(t) AS n").collect().head.getLong(0) == 73L)
    val r2 = s.execute("MATCH (a:Account) WHERE a.id = 1 DETACH DELETE a")
    assert(r2.collect().head.getLong(0) == 1L)
    assert(s.execute("MATCH (a:Account) RETURN count(a) AS n")
      .collect().head.getLong(0) == 49L)
  }

  test("DELETE without DETACH errors on connected nodes") {
    val s = freshSession()
    intercept[IllegalStateException] {
      s.execute("MATCH (a:Account) WHERE a.id = 2 DELETE a")
    }
  }

  test("catalog DDL + SESSION SET GRAPH + persistence roundtrip") {
    val s = freshSession()
    s.execute("CREATE SCHEMA /prod")
    s.execute("CREATE GRAPH /prod/scratch")
    assert(s.call("gql.list_graphs").collect()
      .exists(r => r.getString(0) == "prod" && r.getString(1) == "scratch"))
    // mutate the fraud graph, persist, then re-point the session at it
    s.execute("MATCH (a:Account) WHERE a.id = 9 SET a.status = 'frozen'")
    s.saveGraphAs("/prod/fraud_v2")
    s.execute("SESSION SET GRAPH /prod/fraud_v2")
    assert(s.execute("MATCH (a:Account {status: 'frozen'}) RETURN count(a) AS n")
      .collect().head.getLong(0) == 1L)
    assert(s.execute("DROP GRAPH /prod/scratch").collect().head.getBoolean(0))
  }

  test("MATCH INSERT creates edges from matched pairs") {
    val s = freshSession()
    // connect every high-risk account to merchant 1 with a REVIEW edge
    val r = s.execute("MATCH (a:Account), (m:Merchant) " +
      "WHERE a.risk_score >= 4.5 AND m.id = 1 " +
      "INSERT (a)-[:REVIEW {flagged: true}]->(m)")
    assert(r.collect().head.getLong(0) == 6L) // risk >= 4.5: accounts 45..50
    val n = s.execute("MATCH (a:Account)-[rv:REVIEW]->(m:Merchant) " +
      "RETURN count(rv) AS n").collect().head.getLong(0)
    assert(n == 6L)
    // edge properties are queryable
    assert(s.execute("MATCH (a:Account)-[rv:REVIEW]->(m:Merchant) " +
      "WHERE rv.flagged = TRUE RETURN count(rv) AS n")
      .collect().head.getLong(0) == 6L)
  }

  test("MATCH INSERT is idempotent — re-running inserts 0 duplicates") {
    val s = freshSession()
    val stmt = "MATCH (a:Account), (m:Merchant) " +
      "WHERE a.risk_score >= 4.5 AND m.id = 1 " +
      "INSERT (a)-[:REVIEW {flagged: true}]->(m)"
    assert(s.execute(stmt).collect().head.getLong(0) == 6L)
    // same statement again: every (src, dst) already exists → 0 inserted,
    // and no duplicate eids appear in the edge table
    assert(s.execute(stmt).collect().head.getLong(0) == 0L)
    assert(s.execute("MATCH (a:Account)-[rv:REVIEW]->(m:Merchant) " +
      "RETURN count(rv) AS n").collect().head.getLong(0) == 6L)
  }

  test("DELETE edges leaves NULL-predicate rows in place (3VL)") {
    val s = freshSession()
    // null out some amounts, then DELETE on amount > 70: rows whose
    // predicate is UNKNOWN must survive
    s.execute("MATCH (a)-[t:Transaction]->(m) WHERE t.eid <= 5 SET t.amount = NULL")
    val deleted = s.execute(
      "MATCH (a)-[t:Transaction]->(m) WHERE t.amount > 70 DELETE t")
      .collect().head.getLong(0)
    val remaining = s.execute(
      "MATCH (a)-[t:Transaction]->(m) RETURN count(t) AS n")
      .collect().head.getLong(0)
    assert(deleted + remaining == 100L) // nothing silently dropped
    assert(s.execute("MATCH (a)-[t:Transaction]->(m) " +
      "WHERE t.amount IS NULL RETURN count(t) AS n")
      .collect().head.getLong(0) == 5L)
  }

  test("a read query with DML-keyword property names parses as a query") {
    // `set` / `delete` as property names must not route into the DML branch
    assert(Parser.parseStatement("MATCH (a:Job) RETURN a.set AS x")
      .isInstanceOf[Ast.QueryStmt])
    assert(Parser.parseStatement(
      "MATCH (a:X) WHERE a.remove = 1 RETURN a.delete AS d, a.insert AS i")
      .isInstanceOf[Ast.QueryStmt])
    // and real DML still routes correctly
    assert(Parser.parseStatement("MATCH (a:X) WHERE a.y = 1 SET a.z = 2")
      .isInstanceOf[Ast.MatchSetStmt])
    assert(Parser.parseStatement("MATCH (a:X) DETACH DELETE a")
      .isInstanceOf[Ast.MatchDeleteStmt])
  }

  test("MATCH INSERT requires bound endpoints") {
    val s = freshSession()
    intercept[GqlCompileException] {
      s.execute("MATCH (a:Account) WHERE a.id = 1 INSERT (a)-[:X]->(zz)")
    }
  }

  test("MutationPipeline: MATCH…WITH…SET writes aggregated values") {
    val s = freshSession()
    // per-account transaction count becomes a stored property
    val r = s.execute("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH a, count(t) AS n SET a.tx_count = n")
    assert(r.collect().head.getLong(0) == 50L)
    assert(s.execute("MATCH (a:Account) WHERE a.tx_count = 2 " +
      "RETURN count(a) AS c").collect().head.getLong(0) == 50L)
    // expressions over pipeline aliases AND target props
    s.execute("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH a, sum(t.amount) AS total SET a.balance = a.balance + total")
    assert(s.execute("MATCH (a:Account {id: 1}) RETURN a.balance AS b")
      .collect().head.getDouble(0) == 100.0 + 51.0 + 71.0) // t1 + t51 amounts
  }

  test("MutationPipeline SET applies each variable's assignments to its own table") {
    val s = freshSession()
    // every (a, m) transaction pair is unique in the fixture → n = 1
    val r = s.execute("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH a, m, count(t) AS n SET a.out_mark = n, m.in_mark = n")
    assert(r.collect().head.getLong(0) == 70L) // 50 accounts + 20 merchants
    assert(s.execute("MATCH (a:Account) WHERE a.out_mark = 1 " +
      "RETURN count(a) AS c").collect().head.getLong(0) == 50L)
    assert(s.execute("MATCH (m:Merchant) WHERE m.in_mark = 1 " +
      "RETURN count(m) AS c").collect().head.getLong(0) == 20L)
    // the columns landed on their own tables, not the first target's:
    // Account never received in_mark, so it reads NULL on every row
    // (dynamic-property semantics — absent properties are NULL, FuzzSpec)
    val marks = s.execute("MATCH (a:Account) RETURN a.in_mark AS x").collect()
    assert(marks.length == 50 && marks.forall(_.isNullAt(0)))
  }

  test("simple SET mixing variables is rejected") {
    val s = freshSession()
    intercept[GqlCompileException] {
      s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.x = 1, b.y = 2")
    }
    intercept[GqlCompileException] {
      s.execute("MATCH (a:Account) WHERE a.id = 1 REMOVE a.risk_score, b.y")
    }
  }

  test("MutationPipeline: WITH-filtered DETACH DELETE") {
    val s = freshSession()
    // delete accounts whose transaction total exceeds a threshold:
    // total(k) = 100 + (k%30) + ((k+20)%30) > 135 → 11 accounts
    val r = s.execute("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH a, sum(t.amount) AS total WHERE total > 135 DETACH DELETE a")
    val deleted = r.collect().head.getLong(0)
    assert(deleted == 11L)
    assert(s.execute("MATCH (a:Account) RETURN count(a) AS n")
      .collect().head.getLong(0) == 50L - deleted)
  }

  test("MutationPipeline: WITH-filtered REMOVE and edge DELETE") {
    val s = freshSession()
    s.execute("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH a, a.risk_score AS risk, count(t) AS n " +
      "WHERE risk > 4.0 REMOVE a.risk_score")
    assert(s.execute("MATCH (a:Account) WHERE a.risk_score IS NULL " +
      "RETURN count(a) AS c").collect().head.getLong(0) == 10L) // ids 41..50
    val r = s.execute("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH t, t.amount AS amt WHERE amt > 70 DELETE t")
    assert(r.collect().head.getLong(0) == 27L)
    assert(s.execute("MATCH (a)-[t:Transaction]->(m) RETURN count(t) AS n")
      .collect().head.getLong(0) == 73L)
  }

  test("CREATE GRAPH TYPE enforces schema on INSERT") {
    val s = freshSession()
    s.execute("CREATE GRAPH TYPE FraudType (" +
      "NODE TYPE Account (id INT NOT NULL, name STRING NOT NULL, " +
      "balance DOUBLE, status STRING), " +
      "NODE TYPE Merchant (id INT NOT NULL, name STRING), " +
      "EDGE TYPE Transaction (FROM Account TO Merchant, amount DOUBLE))")
    assert(s.call("gql.list_graph_types").collect()
      .exists(_.getString(0) == "FraudType"))
    s.execute("SESSION SET GRAPH TYPE FraudType")
    // conforming insert passes
    assert(s.execute("INSERT (:Account {id: 60, name: 'A60', balance: 1.5})")
      .collect().head.getLong(1) == 1L)
    // unknown label
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Ghost {id: 1})")
    }
    // missing NOT NULL property
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Account {id: 61})")
    }
    // wrong property type
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Account {id: 62, name: 42})")
    }
    // unknown property rejected (strict default, validator.rs:62)
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Account {id: 63, name: 'x', shoe_size: 9})")
    }
    // edge endpoint labels enforced
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("MATCH (a:Account), (b:Account) " +
        "WHERE a.id = 1 AND b.id = 2 INSERT (a)-[:Transaction]->(b)")
    }
    assert(s.execute("DROP GRAPH TYPE FraudType").collect().head.getBoolean(0))
  }

  test("all-null INSERT columns take the declared type, not a placeholder") {
    // round-7 advice: a null-evaluated property used to default the new
    // column to STRING even when the graph type declared DOUBLE, so the
    // next real insert hit a union/schema mismatch at read time
    val s = freshSession()
    s.execute("CREATE GRAPH TYPE NullType (" +
      "NODE TYPE Widget (id INT NOT NULL, weight DOUBLE, note STRING))")
    s.execute("SESSION SET GRAPH TYPE NullType")
    s.execute("INSERT (:Widget {id: 1, weight: null})")
    s.execute("INSERT (:Widget {id: 2, weight: 2.5})")
    val rows = s.gql("MATCH (w:Widget) RETURN w.id AS id, w.weight AS wt " +
      "ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(0).isNullAt(1) && rows(1).getDouble(1) == 2.5)
    assert(s.execute("DROP GRAPH TYPE NullType").collect().head.getBoolean(0))
    // without a declared type, an all-null NEW column is rejected with a
    // clear error instead of poisoning the label table's schema
    val s2 = freshSession()
    val e = intercept[graft.gql.GqlCompileException] {
      s2.execute("INSERT (:Blob {id: 1, payload: null})")
    }
    assert(e.getMessage.contains("all-null"))
    // an all-null value for an EXISTING column reuses that column's type
    s2.execute("INSERT (:Account {id: 60, name: 'A60', balance: null, " +
      "risk_score: 0.1})")
    assert(s2.gql("MATCH (a:Account) WHERE a.id = 60 RETURN a.balance AS b")
      .collect().head.isNullAt(0))
  }

  test("function expressions in INSERT and SET values (function_expression_insert_test.rs)") {
    val s = freshSession()
    // string/math function results as INSERT property values
    s.execute("INSERT (:StringTest {id: 1, value: UPPER('hello')})")
    s.execute("INSERT (:StringTest {id: 2, value: LOWER('WORLD')})")
    val vals = s.execute("MATCH (t:StringTest) RETURN t.value AS v ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(vals == Seq("HELLO", "world"))
    s.execute("INSERT (:MathTest {id: 1, price: ABS(-99.5), qty: FLOOR(42.7)})")
    val m = s.execute("MATCH (t:MathTest) RETURN t.price AS p, t.qty AS q")
      .collect().head
    assert(m.getDouble(0) == 99.5 && m.getLong(1) == 42L)
    // arithmetic over declared $vars
    s.execute("DECLARE base INT = 7")
    s.execute("INSERT (:MathTest {id: 2, price: $base * 2 + 1, qty: 0})")
    // session default is the reference's f64 numbers mode, so $var
    // arithmetic evaluates as double
    assert(s.execute("MATCH (t:MathTest) WHERE t.id = 2 RETURN t.price AS p")
      .collect().head.getDouble(0) == 15.0)
    // SET with function expressions (set_function_expression_test.rs)
    s.execute("MATCH (t:StringTest) WHERE t.id = 1 SET t.value = LOWER('MIXED')")
    assert(s.execute("MATCH (t:StringTest) WHERE t.id = 1 RETURN t.value AS v")
      .collect().head.getString(0) == "mixed")
  }

  test("delimited identifiers: labels, properties, paths (delimited_identifiers_tests.rs)") {
    val s = freshSession()
    // special characters in labels (reference: Test-Node, Person Type,
    // Entity@123)
    s.execute("INSERT (n:`Test-Node` {id: 1})")
    assert(s.execute("MATCH (n:`Test-Node`) RETURN count(n) AS c")
      .collect().head.getLong(0) == 1L)
    s.execute("INSERT (p:`Person Type` {id: 1, name: 'Bob'})")
    assert(s.execute("MATCH (p:`Person Type`) RETURN p.name AS name")
      .collect().head.getString(0) == "Bob")
    s.execute("INSERT (e:`Entity@123` {id: 1, value: 42})")
    assert(s.execute("MATCH (e:`Entity@123`) RETURN e.value AS v")
      .collect().head.getLong(0) == 42L)
    // backtick-escaped backtick inside a delimited identifier
    s.execute("INSERT (x:`Tick``Label` {id: 2})")
    assert(s.execute("MATCH (x:`Tick``Label`) RETURN count(x) AS c")
      .collect().head.getLong(0) == 1L)
    // delimited schema/graph path segments round-trip through the catalog
    s.useGraph(SparkFixture.fraudGraph)
    s.saveGraphAs("/test-schema/My Test Graph")
    s.execute("SESSION SET GRAPH /`test-schema`/`My Test Graph`")
    assert(s.execute("MATCH (a:Account) RETURN count(a) AS n")
      .collect().head.getLong(0) == 50L)
  }

  test("DECIMAL(p,s) end-to-end: CAST, DECLARE, GRAPH TYPE (ast.rs:826-830)") {
    val s = freshSession()
    // CAST to DecimalType(p,s): exact scale + HALF_UP rounding
    val c = s.execute("RETURN CAST(3.456 AS DECIMAL(12,2)) AS d").collect().head
    assert(c.getDecimal(0) == new java.math.BigDecimal("3.46"))
    assert(s.execute("RETURN CAST(5 AS DECIMAL(6)) AS d").collect().head
      .getDecimal(0) == new java.math.BigDecimal("5"))
    // exact money arithmetic keeps declared scale through Catalyst
    val m = s.execute(
      "RETURN CAST(0.1 AS DECIMAL(12,2)) + CAST(0.2 AS DECIMAL(12,2)) AS d")
      .collect().head
    assert(m.getDecimal(0).compareTo(new java.math.BigDecimal("0.30")) == 0)
    // DECLARE coerces to declared scale; overflow past precision rejected
    s.execute("DECLARE price DECIMAL(12,2) = 19.995")
    assert(s.parameters("price") == new java.math.BigDecimal("20.00"))
    // missing initializer: DECIMAL is not in the reference's non-null
    // default set (executor.rs:8513-8523) — stays NULL
    s.execute("DECLARE dflt DECIMAL(5,2)")
    assert(s.parameters("dflt") == null)
    intercept[graft.gql.GqlCompileException] {
      s.execute("DECLARE toobig DECIMAL(3,2) = 99.999")
    }
    // $var round-trips as an exact decimal in queries
    assert(s.execute("RETURN $price * 2 AS d").collect().head.get(0)
      .toString.toDouble == 40.0)
    // GRAPH TYPE with a DECIMAL(12,2) property: parse, validate, persist
    s.execute("CREATE GRAPH TYPE MoneyType (" +
      "NODE TYPE Account (id INT NOT NULL, balance DECIMAL(12,2)))")
    s.execute("SESSION SET GRAPH TYPE MoneyType")
    assert(s.execute("INSERT (:Account {id: 70, balance: 12.34})")
      .collect().head.getLong(1) == 1L)
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Account {id: 71, balance: 'much'})")
    }
    // TSV catalog persistence survives the comma in DECIMAL(12,2)
    val gt = graft.graph.GraphType.GraphTypeDef("T", Seq(
      graft.graph.GraphType.NodeTypeDef("A", Seq(
        graft.graph.GraphType.PropDef("bal", "DECIMAL(12,2)", required = true),
        graft.graph.GraphType.PropDef("n", "INT", required = false)))), Seq.empty)
    val rt = graft.graph.GraphType.deserialize("T",
      graft.graph.GraphType.serialize(gt))
    assert(rt == gt)
    assert(s.execute("DROP GRAPH TYPE MoneyType").collect().head.getBoolean(0))
  }

  test("type breadth tail: BYTES(n), DURATION(p), INT128/256, RECORD " +
      "(ast.rs:814-878)") {
    val s = freshSession()
    // CAST surface: BYTES → binary, DURATION → day-time interval
    assert(s.execute("RETURN CAST('ab' AS BYTES(16)) AS b").collect().head
      .getAs[Array[Byte]](0).toSeq == "ab".getBytes("UTF-8").toSeq)
    // day-time intervals collect as java.time.Duration (1d 2h = 26h)
    assert(s.execute("RETURN CAST('1 02:00:00' AS DURATION) AS d")
      .collect().head.getAs[java.time.Duration](0) ==
      java.time.Duration.ofHours(26))
    // INT128/256 and RECORD cast targets error honestly, naming the fix
    val e1 = intercept[graft.gql.GqlCompileException] {
      s.execute("RETURN CAST(5 AS INT128) AS x")
    }
    assert(e1.getMessage.contains("DECIMAL(38,0)"))
    val e2 = intercept[graft.gql.GqlCompileException] {
      s.execute("RETURN CAST(5 AS RECORD) AS x")
    }
    assert(e2.getMessage.contains("RECORD"))
    // GRAPH TYPE declarations parse, validate, and pin storage types
    s.execute("CREATE GRAPH TYPE WideType (" +
      "NODE TYPE Thing (id INT NOT NULL, big INT128, blob BYTES(32), " +
      "span DURATION(3)))")
    s.execute("SESSION SET GRAPH TYPE WideType")
    assert(s.execute("INSERT (:Thing {id: 1, big: 9007199254740993, " +
      "blob: 'CAFE', span: 'PT2H'})").collect().head.getLong(1) == 1L)
    // INT128 stores as DECIMAL(38,0) — exact for every 64-bit literal
    val row = s.execute("MATCH (t:Thing) RETURN t.big AS big").collect().head
    assert(row.getDecimal(0).longValueExact == 9007199254740993L)
    // type violations still reject
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Thing {id: 2, big: 'not-a-number'})")
    }
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Thing {id: 3, blob: 7})")
    }
    assert(s.execute("DROP GRAPH TYPE WideType").collect().head.getBoolean(0))
  }

  test("ALTER GRAPH TYPE evolves the schema and keeps history") {
    val s = freshSession()
    s.execute("CREATE GRAPH TYPE EvoType (" +
      "NODE TYPE Account (id INT NOT NULL, name STRING))")
    s.execute("SESSION SET GRAPH TYPE EvoType")
    // new property + new node type + new edge type in one statement
    s.execute("ALTER GRAPH TYPE EvoType " +
      "ADD PROPERTY Account.balance DOUBLE, " +
      "ADD NODE TYPE Merchant (id INT NOT NULL), " +
      "ADD EDGE TYPE Transaction (FROM Account TO Merchant)")
    // the bound session picks up the evolved schema at once
    assert(s.execute("INSERT (:Account {id: 70, name: 'x', balance: 1.0})")
      .collect().head.getLong(1) == 1L)
    assert(s.execute("INSERT (:Merchant {id: 70})")
      .collect().head.getLong(1) == 1L)
    // dropping the property makes it unknown again
    s.execute("ALTER GRAPH TYPE EvoType DROP PROPERTY Account.balance")
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Account {id: 71, name: 'y', balance: 2.0})")
    }
    // two ALTERs → two superseded versions in history
    val r = s.execute("ALTER GRAPH TYPE EvoType ADD PROPERTY Account.note STRING")
      .collect().head
    assert(r.getLong(2) == 3L)
    s.execute("DROP GRAPH TYPE EvoType")
  }

  test("CREATE GRAPH TYPED binds the type; useGraph picks it up") {
    val s = freshSession()
    s.execute("CREATE GRAPH TYPE TinyType (NODE TYPE Thing (id INT NOT NULL))")
    s.execute("CREATE GRAPH /typed/t1 TYPED TinyType")
    s.execute("SESSION SET GRAPH /typed/t1")
    assert(s.execute("INSERT (:Thing {id: 1})").collect().head.getLong(1) == 1L)
    intercept[graft.graph.GraphType.GraphTypeViolation] {
      s.execute("INSERT (:Other {id: 1})")
    }
    s.execute("DROP GRAPH /typed/t1")
    s.execute("DROP GRAPH TYPE TinyType")
  }

  test("incremental save rewrites only mutated label datasets") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val wh = tempDir("inc").toString
    val s = graft.GraphLiteSpark.open(graft.SparkFixture.spark, wh)
      .session("test").useGraph(graft.SparkFixture.fraudGraph)
    s.execute("CREATE SCHEMA /inc")
    s.saveGraphAs("/inc/g") // first save: full write, session now on-disk
    def parts(ds: String): Seq[String] =
      Files.list(Paths.get(graft.graph.GraphCatalog.versionDir(wh, "inc", "g").get, ds))
        .iterator.asScala
        .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq.sorted
    val merchantsBefore = parts("nodes_Merchant")
    val accountsBefore = parts("nodes_Account")
    val txBefore = parts("edges_Transaction")
    s.execute("MATCH (a:Account) WHERE a.id = 1 SET a.balance = 1.0")
    s.saveGraphAs("/inc/g")
    // untouched datasets were hard-linked (same part files); the
    // mutated one was rewritten (fresh part UUIDs)
    assert(parts("nodes_Merchant") == merchantsBefore)
    assert(parts("edges_Transaction") == txBefore)
    assert(parts("nodes_Account") != accountsBefore)
    // and the reloaded graph reads back correctly
    assert(s.execute("MATCH (a:Account {id: 1}) RETURN a.balance AS b")
      .collect().head.getDouble(0) == 1.0)
    assert(s.execute("MATCH (m:Merchant) RETURN count(m) AS n")
      .collect().head.getLong(0) == 20L)
  }

  test("execute dispatches plain queries too") {
    val s = freshSession()
    assert(s.execute("MATCH (m:Merchant) RETURN count(m) AS n")
      .collect().head.getLong(0) == 20L)
  }
}
