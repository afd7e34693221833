package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import graft.graph.{EdgeType, PropertyGraph}

/** Dynamic-property and multi-type-edge semantics (reference Value model:
  * properties appear per-INSERT; edge variables bind per-row types).
  * Regression coverage for the round-10 review findings: a type-less edge
  * variable spans EVERY matched edge type, so property reads, IS :Type,
  * and TYPE() must consult the per-row type — never just the first
  * matched type's schema.
  */
class DynamicSemanticsSpec extends AnyFunSuite with TempDirs {
  private def spark = SparkFixture.spark

  /** Two edge types with DISJOINT property sets: Transaction carries
    * `amount`, Referral carries `bonus` — a head-type-only schema lookup
    * gets every mixed-type query below wrong.
    */
  private lazy val mixedGraph: PropertyGraph = {
    val s = spark
    import s.implicits._
    val accounts = (1 to 6).map(i => (i.toLong, s"A$i")).toDF("id", "name")
    val merchants = (1 to 3).map(i => (i.toLong, s"M$i")).toDF("id", "name")
    val transactions = Seq((1L, 1L, 1L, 10.0), (2L, 2L, 2L, 20.0))
      .toDF("src", "dst", "eid", "amount")
    val referrals = Seq((3L, 1L, 1L, 7L), (4L, 3L, 2L, 9L))
      .toDF("src", "dst", "eid", "bonus")
    new PropertyGraph(
      Map("Account" -> accounts, "Merchant" -> merchants),
      Map(
        "Transaction" ->
          (EdgeType("Transaction", "Account", "Merchant"), transactions),
        "Referral" ->
          (EdgeType("Referral", "Account", "Merchant"), referrals)))
  }

  private lazy val s = gqlSession(mixedGraph)

  test("property on a non-head edge type reads real per-row values") {
    // t spans Transaction|Referral; bonus exists only on Referral.
    // Head-type-only resolution would fold the whole column to NULL.
    val rows = s.gql(
      "MATCH (a:Account)-[t]->(m:Merchant) WHERE t.bonus IS NOT NULL " +
        "RETURN t.bonus AS b ORDER BY b").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(7L, 9L))
    // and the Transaction-only property stays readable on the same var
    val amts = s.gql(
      "MATCH (a:Account)-[t]->(m:Merchant) WHERE t.amount IS NOT NULL " +
        "RETURN t.amount AS a ORDER BY a").collect().map(_.getDouble(0))
    assert(amts.toSeq == Seq(10.0, 20.0))
  }

  test("IS :Type on a multi-type edge variable dispatches per-row") {
    assert(s.gql("MATCH (a:Account)-[t]->(m:Merchant) " +
      "WHERE t IS :Referral RETURN t.bonus").count() == 2L)
    assert(s.gql("MATCH (a:Account)-[t]->(m:Merchant) " +
      "WHERE t IS NOT :Referral RETURN t.amount").count() == 2L)
    // single-type binding still folds statically
    assert(s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WHERE t IS :Transaction RETURN t.amount").count() == 2L)
  }

  test("TYPE() over a multi-type edge variable yields the per-row type") {
    val types = s.gql("MATCH (a:Account)-[t]->(m:Merchant) " +
      "RETURN DISTINCT TYPE(t) AS ty ORDER BY ty")
      .collect().map(_.getString(0))
    assert(types.toSeq == Seq("Referral", "Transaction"))
  }

  test("explicit GROUP BY on a multi-type edge variable keys per (type, eid)") {
    // eids 1 and 2 exist in BOTH Transaction and Referral: grouping by
    // the eid alone would wrongly merge across types (4 edges → 2 groups)
    val rows = s.gql("MATCH (a:Account)-[t]->(m:Merchant) " +
      "RETURN t AS te, count(t) AS n GROUP BY t").collect()
    assert(rows.length == 4, s"expected 4 per-edge groups, got ${rows.length}")
    assert(rows.map(_.getLong(1)).forall(_ == 1L))
  }

  test("multi-type union counts match the reference fixture shapes") {
    // pattern_tests.rs:151,509 on the fraud fixture: 100 Transaction +
    // 50 Purchase edges; an unknown member of the union contributes
    // nothing rather than erroring
    val f = gqlSession()
    assert(f.gql("MATCH (a:Account)-[r:Transaction|Purchase]->(m:Merchant) " +
      "RETURN count(r) AS n").collect().head.getLong(0) == 150L)
    assert(f.gql("MATCH ()-[r:Transaction|Purchase|NONEXISTENT]->() " +
      "RETURN count(r) AS mixed_types").collect().head.getLong(0) == 150L)
  }

  test("property absent from every matched type reads NULL") {
    val n = s.gql("MATCH (a:Account)-[t]->(m:Merchant) " +
      "WHERE t.never_written IS NULL RETURN t").count()
    assert(n == 4L)
  }

  test("inline pattern map on an absent property matches nothing") {
    // absent ≡ NULL, and {k: v} is an equality filter — NULL = v never
    // holds, so the match is empty rather than an analysis error
    assert(s.gql("MATCH (a:Account {absent_prop: 5}) RETURN a").count() == 0L)
    assert(s.gql("MATCH (a:Account)-[t {absent_prop: 5}]->(m:Merchant) " +
      "RETURN t").count() == 0L)
    assert(s.gql("MATCH (n {absent_prop: 'x'}) RETURN n").count() == 0L)
  }

  test("label-less variable reads an absent property as NULL") {
    val vals = s.gql("MATCH (n) RETURN DISTINCT n.never_written AS v")
      .collect()
    assert(vals.length == 1 && vals.head.isNullAt(0))
  }

  test("PROPERTIES() on a multi-type edge variable unions the prop sets") {
    val m = s.gql("MATCH (a:Account)-[t]->(m:Merchant) " +
      "WHERE t IS :Referral RETURN PROPERTIES(t) AS p LIMIT 1")
      .collect().head.getMap[String, String](0)
    assert(m.keys.toSet.contains("bonus") && m.keys.toSet.contains("amount"))
  }

  private def freshCatalogSession() = {
    val wh = tempDir("dynsem").toString
    graft.GraphLiteSpark.open(spark, wh).session("u")
  }

  test("UNWIND of collected nodes may read the rebound entity's id") {
    // "id" is bound by the explode itself; re-joining it from the label
    // table used to duplicate the column (AMBIGUOUS_REFERENCE)
    val t = freshCatalogSession()
    t.execute("CREATE GRAPH /main/unwind_id")
    t.execute("SESSION SET GRAPH /main/unwind_id")
    t.execute("INSERT (:P {id: 1, name: 'a'}), (:P {id: 2, name: 'b'})")
    val rows = t.gql("MATCH (p:P) WITH collect(p) AS ps " +
      "UNWIND ps AS q RETURN q.id AS qid, q.name AS nm ORDER BY qid")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("LET shadowing a collected-node alias rebinds it as a plain list") {
    val t = freshCatalogSession()
    t.execute("CREATE GRAPH /main/let_shadow")
    t.execute("SESSION SET GRAPH /main/let_shadow")
    t.execute("INSERT (:P {id: 1, name: 'a'})")
    // ps is re-defined to a literal list: the UNWIND must yield the
    // list's values, not node bindings joined against P ids
    val rows = t.gql("MATCH (p:P) WITH collect(p) AS ps " +
      "LET ps = [10, 20, 30] UNWIND ps AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(10L, 20L, 30L))
  }

  test("TYPE() of an unmatched OPTIONAL MATCH entity is 'NULL'") {
    // inline prop that matches no edge → t and m stay null for A1
    val rows = s.gql("MATCH (a:Account) WHERE a.name = 'A1' " +
      "OPTIONAL MATCH (a)-[t:Transaction {amount: -1.0}]->(m:Merchant) " +
      "RETURN TYPE(t) AS ty, TYPE(m) AS tm").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "NULL" && rows.head.getString(1) == "NULL")
  }

  test("content-hash ids agree across literal and pipeline INSERT") {
    // same (label, props) content — including a temporal value — must
    // collapse to ONE node whichever INSERT path created it
    val t = freshCatalogSession()
    t.execute("CREATE GRAPH /main/hash_parity")
    t.execute("SESSION SET GRAPH /main/hash_parity")
    t.execute("INSERT (:Log {msg: 'boot', at: " +
      "DATETIME('2024-01-01T10:00:00')})")
    // pipeline path re-creates identical content from the matched row
    val r = t.execute("MATCH (n:Log) INSERT (:Log {msg: n.msg, at: n.at})")
      .collect().head.getLong(0)
    assert(r == 0L, s"pipeline INSERT of identical content inserted $r")
    assert(t.gql("MATCH (n:Log) RETURN n").count() == 1L)
  }

  test("DROP GRAPH detaches sessions attached via non-canonical paths") {
    // managed (pool) sessions are the cross-session detach surface
    val wh = tempDir("dynsem").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val sid = gls.createSession("u")
    val t = gls.getSession(sid).get
    t.execute("CREATE GRAPH /main/dropped")
    t.useGraph("main/dropped") // no leading slash — must still canonicalize
    t.execute("INSERT (:P {id: 1})")
    gls.session("u2").execute("DROP GRAPH /main/dropped")
    val ex = intercept[Exception](t.gql("MATCH (p:P) RETURN p").count())
    assert(ex.getMessage.contains("no current graph"),
      s"session kept serving a dropped graph: ${ex.getMessage}")
  }

  test("DISTINCT and COUNT(DISTINCT) key multi-type edges per (type, eid)") {
    // eids 1 and 2 exist in BOTH types: eid-only dedup would return 2
    assert(s.gql("MATCH (a)-[t]->(m) RETURN DISTINCT t").count() == 4L)
    assert(s.gql("MATCH (a)-[t]->(m) RETURN count(DISTINCT t) AS n")
      .collect().head.getLong(0) == 4L)
  }

  test("t.label is an absent property (NULL), surviving WITH") {
    // the per-row type is internal machinery (TYPE(t) exposes it); as a
    // property access it follows the dynamic-property NULL rule — and
    // must not crash after WITH, where the physical column is gone for
    // single-type binds
    val r = s.gql("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "WITH t RETURN t.label AS l LIMIT 1").collect()
    assert(r.head.isNullAt(0))
  }

  test("explicit-union DELETE and SET mutate every listed type") {
    val d = gqlSession(mixedGraph)
    // SET through the union writes both types' tables
    val set = d.execute("MATCH (a:Account)-[t:Transaction|Referral]->" +
      "(m:Merchant) SET t.seen = true").collect().head.getLong(0)
    assert(set == 4L, s"SET affected $set of 4 edges")
    assert(d.gql("MATCH (a)-[t]->(m) WHERE t.seen = true RETURN t")
      .count() == 4L)
    // DELETE through the union removes both types' edges
    val del = d.execute("MATCH (a:Account)-[t:Transaction|Referral]->" +
      "(m:Merchant) DELETE t").collect().head.getLong(0)
    assert(del == 4L, s"DELETE removed $del of 4 edges")
    assert(d.gql("MATCH (a)-[t]->(m) RETURN t").count() == 0L)
  }

  test("edge SET honors the pattern's endpoint labels and orientation") {
    // Refund runs Merchant→Account: no orientation of it connects
    // Account→Merchant, so the Account→Merchant pattern must not
    // touch Refund edges even type-less
    val sp = spark
    import sp.implicits._
    val g = new PropertyGraph(
      Map("Account" -> Seq((1L, "a")).toDF("id", "name"),
        "Merchant" -> Seq((1L, "m")).toDF("id", "name")),
      Map(
        "Transaction" -> (EdgeType("Transaction", "Account", "Merchant"),
          Seq((1L, 1L, 1L, 5.0)).toDF("src", "dst", "eid", "amount")),
        "Refund" -> (EdgeType("Refund", "Merchant", "Account"),
          Seq((1L, 1L, 1L, 2.0)).toDF("src", "dst", "eid", "amount"))))
    val d = gqlSession(g)
    val n = d.execute("MATCH (a:Account)-[t]->(m:Merchant) " +
      "SET t.checked = true").collect().head.getLong(0)
    assert(n == 1L, s"SET matched $n edges, expected only the Transaction")
    assert(d.gql("MATCH (x)-[t:Refund]->(y) WHERE t.checked IS NULL " +
      "RETURN t").count() == 1L)
    // a contradictory single-type pattern errors like the query surface
    // does ("pattern can never match") instead of mutating a whole table
    val ex = intercept[Exception](d.execute(
      "MATCH (m:Merchant)-[t:Transaction]->(a:Account) SET t.flag = 1"))
    assert(ex.getMessage.contains("never match"), ex.getMessage)
    // DELETE through the same machinery honors endpoints too
    val ex2 = intercept[Exception](d.execute(
      "MATCH (m:Merchant)-[t:Transaction]->(a:Account) DELETE t"))
    assert(ex2.getMessage.contains("never match"), ex2.getMessage)
    // row-level constraint: a repeated endpoint var (self-loop) matches
    // nothing here — no Account→Account edge type exists
    val ex3 = intercept[Exception](d.execute(
      "MATCH (a:Account)-[t]->(a) SET t.x = 1"))
    assert(ex3.getMessage.contains("never match"), ex3.getMessage)
  }

  test("mutation expression referencing e.eid compiles (no duplicate projection)") {
    // an edge binding's expansion already carries <e>_eid — the pipeline
    // must not add a second e_eid ReturnItem (ambiguous-reference crash)
    val d = gqlSession(mixedGraph)
    val n = d.execute("MATCH (a:Account)-[t:Transaction]->(m:Merchant) " +
      "SET t.tag = t.eid").collect().head.getLong(0)
    assert(n == 2L, s"SET affected $n of 2 Transaction edges")
    val tags = d.gql("MATCH (a)-[t:Transaction]->(m) " +
      "RETURN t.eid AS e, t.tag AS g ORDER BY e").collect()
    assert(tags.forall(r => r.getLong(0) == r.getAs[Number](1).longValue()))
  }

  test("COLLECT(DISTINCT) and DISTINCT-with-aggregate keep pair identity") {
    // 4 distinct edges over 2 shared eids
    val es = s.gql("MATCH (a)-[t]->(m) RETURN collect(DISTINCT t) AS es")
      .collect().head.getSeq[Long](0)
    assert(es.size == 4 && es.sorted == Seq(1L, 1L, 2L, 2L))
    val rows = s.gql("MATCH (a:Account)-[t]->(m:Merchant) " +
      "RETURN DISTINCT t AS te, count(t) AS n GROUP BY t").collect()
    assert(rows.length == 4, s"expected 4 rows, got ${rows.length}")
    // DISTINCT t alongside the NULL-folding t.label property must not
    // collapse the pair identity either
    assert(s.gql("MATCH (a)-[t]->(m) RETURN DISTINCT t, t.label AS l")
      .count() == 4L)
  }

  test("REMOVE of a never-written property; later SET recovers the type") {
    // dml_tests.rs:605: REMOVE test.non_existent_prop must succeed. The
    // untyped NULL column it leaves must not poison a later typed
    // assignment (CaseWhen coercion would widen long|string → string)
    val t = freshCatalogSession()
    t.execute("CREATE GRAPH /main/rm_ghost")
    t.execute("SESSION SET GRAPH /main/rm_ghost")
    t.execute("INSERT (:R {id: 1, name: 'x'})")
    t.execute("MATCH (r:R) REMOVE r.non_existent_prop")
    t.execute("MATCH (r:R) SET r.cleared = NULL")
    t.saveGraphAs("/main/rm_ghost", force = true)
    val back = t.gql("MATCH (r:R) RETURN r.name AS n, " +
      "r.non_existent_prop AS ghost, r.cleared AS c").collect().head
    assert(back.getString(0) == "x" && back.isNullAt(1) && back.isNullAt(2))
    t.execute("MATCH (r:R) SET r.non_existent_prop = 42")
    val v = t.gql("MATCH (r:R) RETURN r.non_existent_prop AS p")
      .collect().head.get(0)
    assert(v == 42L, s"typed re-assignment returned $v (${v.getClass})")
  }

  test("mixed node+edge SET works in either item order") {
    // both orderings route through the pipeline: item order must not
    // change which path (or error) a statement gets
    def run(set: String): Long = {
      val d = gqlSession(mixedGraph)
      d.execute(s"MATCH (a:Account)-[t:Transaction]->(m:Merchant) $set")
        .collect().head.getLong(0)
    }
    assert(run("SET t.flag = 1, a.seen = 2") == 4L)
    assert(run("SET a.seen = 2, t.flag = 1") == 4L)
  }

  test("untyped NULL columns persist as typed at the warehouse boundary") {
    val t = freshCatalogSession()
    t.execute("CREATE GRAPH /main/wh_typed")
    t.execute("SESSION SET GRAPH /main/wh_typed")
    t.execute("INSERT (:R {id: 1, name: 'x'})")
    t.execute("MATCH (r:R) SET r.cleared = NULL")
    t.saveGraphAs("/main/wh_typed", force = true)
    // a fresh load (external-reader view) must see a concrete type
    import org.apache.spark.sql.types.NullType
    val re = t.gls.catalog.loadGraph("main", "wh_typed")
    assert(!re.nodeTables("R").schema.exists(_.dataType == NullType))
  }

  test("type-less DML over a graph with no edges affects zero rows") {
    val t = freshCatalogSession()
    t.execute("CREATE GRAPH /main/no_edges")
    t.execute("SESSION SET GRAPH /main/no_edges")
    t.execute("INSERT (:P {id: 1}), (:P {id: 2})")
    val r = t.execute("MATCH (a:P)-[e]->(b:P) DELETE e")
      .collect().head.getLong(0)
    assert(r == 0L)
  }

  test("DELETE through a multi-type edge variable deletes in every type") {
    val d = gqlSession(mixedGraph)
    val n = d.execute("MATCH (a:Account)-[t]->(m:Merchant) DELETE t")
      .collect().head.getLong(0)
    assert(n == 4L) // 2 Transaction + 2 Referral
    assert(d.gql("MATCH (a:Account)-[t]->(m:Merchant) RETURN t").count() == 0L)
  }

  /** The SAME property name under DIFFERENT types across edge types —
    * reference dynamic rows allow `amount: i64` on one edge type and a
    * string on another (pattern_tests.rs:151,509 multi-type ground).
    * The union reconciles to the common supertype per column; on a
    * numeric/string mix that is STRING (documented divergence from the
    * reference's per-row dynamic rendering — the row set is identical);
    * on a numeric/numeric mix, the standard widening (no divergence).
    */
  private def hetGraph(): PropertyGraph = {
    val s = spark
    import s.implicits._
    val accounts = (1 to 4).map(i => (i.toLong, s"A$i")).toDF("id", "name")
    val wires = Seq((1L, 2L, 10L, 500L)).toDF("src", "dst", "eid", "amount")
    val notes = Seq((2L, 1L, 20L, "five hundred"))
      .toDF("src", "dst", "eid", "amount")
    val fees = Seq((3L, 4L, 30L, 2.5)).toDF("src", "dst", "eid", "amount")
    new PropertyGraph(
      Map("Account" -> accounts),
      Map("WIRE" -> (EdgeType("WIRE", "Account", "Account"), wires),
        "NOTE" -> (EdgeType("NOTE", "Account", "Account"), notes),
        "FEE" -> (EdgeType("FEE", "Account", "Account"), fees)))
  }

  test("bigint/string property across edge types reconciles to string") {
    val d = gqlSession(hetGraph())
    val rows = d.gql(
      "MATCH (:Account)-[t:WIRE|NOTE]->(:Account) " +
        "RETURN t.amount AS amt ORDER BY amt")
      .collect().map(_.getString(0))
    // previously this threw CAST_INVALID_INPUT mid-stage ('five hundred'
    // coerced to the first branch's bigint)
    assert(rows.toSeq == Seq("500", "five hundred"))
  }

  test("bigint/double property across edge types widens numerically") {
    val d = gqlSession(hetGraph())
    val rows = d.gql(
      "MATCH (:Account)-[t:WIRE|FEE]->(:Account) " +
        "RETURN t.amount AS amt ORDER BY amt")
      .collect().map(_.getDouble(0))
    assert(rows.toSeq == Seq(2.5, 500.0))
  }

  test("heterogeneous DML widens the stored column, rows land intact") {
    val d = gqlSession(hetGraph())
    // WIRE.amount is bigint; inserting a string amount widens the table
    // column to string instead of corrupting or crashing
    d.execute("MATCH (a:Account {id: 3}), (b:Account {id: 4}) " +
      "INSERT (a)-[:WIRE {eid: 11, amount: 'pending'}]->(b)")
    val amts = d.gql(
      "MATCH (:Account)-[t:WIRE]->(:Account) RETURN t.amount AS amt ORDER BY amt")
      .collect().map(_.getString(0))
    assert(amts.toSeq == Seq("500", "pending"))
  }

  test("irreconcilable property types are a compile error, not a stage crash") {
    val s2 = spark
    import s2.implicits._
    val accounts = (1 to 2).map(i => (i.toLong, s"A$i")).toDF("id", "name")
    val xs = Seq((1L, 2L, 1L, Seq(1, 2))).toDF("src", "dst", "eid", "amount")
    val ys = Seq((2L, 1L, 2L, true)).toDF("src", "dst", "eid", "amount")
    val g = new PropertyGraph(
      Map("Account" -> accounts),
      Map("X" -> (EdgeType("X", "Account", "Account"), xs),
        "Y" -> (EdgeType("Y", "Account", "Account"), ys)))
    val d = gqlSession(g)
    val ex = intercept[GqlCompileException] {
      d.gql("MATCH (:Account)-[t:X|Y]->(:Account) RETURN t.amount AS amt")
    }
    assert(ex.getMessage.contains("amount") &&
      ex.getMessage.contains("irreconcilable"))
  }
}
