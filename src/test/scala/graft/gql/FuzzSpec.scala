package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Deterministic mutation fuzz over the statement surface: mutated
  * queries must fail with the engine's own error types (GqlParse/
  * GqlCompile/IllegalArgument) or Spark's AnalysisException (unknown
  * variables/columns) — never a MatchError, NPE, or stack overflow.
  * Seeded RNG keeps every run identical.
  */
class FuzzSpec extends AnyFunSuite with TempDirs {

  test("1200 mutated statements never crash the engine") {
    val s = gqlSession(SparkFixture.fraudGraph)
    val seeds = Seq(
      "MATCH (a:Account) WHERE a.balance > 1000 RETURN a.name, a.balance ORDER BY a.name LIMIT 5",
      "MATCH (a:Account)-[t:Transaction]->(m:Merchant) WITH m, count(t) AS n WHERE n > 3 RETURN m.name, n",
      "MATCH (a:Account) RETURN CASE WHEN a.balance > 100 THEN 'hi' ELSE 'lo' END AS b",
      "MATCH (a:Account) WHERE EXISTS { (a)-[:Transaction]->(:Merchant) } RETURN count(a) AS n",
      "INSERT (:X {id: 1, name: 'q', tags: [1,2]})",
      "MATCH (a:Account) SET a.balance = a.balance * 1.1",
      "SESSION SET TIME ZONE 'Asia/Tokyo'",
      "MATCH p = (a:Account)-[:Transaction*1..2]->(m) RETURN count(p) AS n",
      "MATCH (a:Account) RETURN collect(a.name)[0] AS f, SIZE('abc') AS s",
      "CALL gql.list_schemas() YIELD schema_name WHERE schema_name <> 'x'",
      // multi-type / dynamic-property surface (round-10 semantics)
      "MATCH (a:Account)-[t]->(m:Merchant) WHERE t IS :Purchase RETURN TYPE(t) AS ty, t.amount",
      "MATCH (a:Account {absent_prop: 5})-[t {ghost: 1}]->(m) RETURN count(t) AS n",
      "MATCH (a:Account)-[t:Transaction|Purchase]->(m) WITH t, m RETURN TYPE(t) AS ty, m.name LIMIT 3",
      "MATCH (n) RETURN n.never_written AS v, count(n) AS c GROUP BY n.never_written",
      // round-12 surface: set-op identity columns, anonymous-endpoint
      // elision (reads and DML), heterogeneous-property DML
      "MATCH ()-[t:Transaction]->() RETURN t UNION MATCH ()-[u:Purchase]->() RETURN u",
      "MATCH (n:Account) RETURN n INTERSECT MATCH (m:Merchant) RETURN m",
      "MATCH ()-[t]->() RETURN count(t) AS n",
      "MATCH ()-[t:Purchase]->() SET t.amount = t.amount + 1",
      "(MATCH (a:Account) RETURN a EXCEPT MATCH (b:Account) WHERE b.balance < 500 RETURN b) ORDER BY 1 LIMIT 7",
      "INSERT (:Account {id: 77001, balance: 'not a number'})")
    val rnd = new scala.util.Random(42)
    val hardCrashes = scala.collection.mutable.ListBuffer.empty[(String, Throwable)]
    for (seed <- seeds; _ <- 0 until 60) {
      val toks = seed.split(" ").toBuffer
      val q = rnd.nextInt(4) match {
        case 0 => if (toks.size > 2) { toks.remove(rnd.nextInt(toks.size)); toks.mkString(" ") } else seed
        case 1 =>
          val i = rnd.nextInt(toks.size); val j = rnd.nextInt(toks.size)
          val t = toks(i); toks(i) = toks(j); toks(j) = t; toks.mkString(" ")
        case 2 => seed.take(rnd.nextInt(seed.length max 1))
        case 3 =>
          toks.insert(rnd.nextInt(toks.size),
            Seq("(", ")", ",", "WHERE", "MATCH", "''", "]")(rnd.nextInt(7)))
          toks.mkString(" ")
      }
      try { s.execute(q).collect(); () }
      catch {
        case _: GqlParseException | _: GqlCompileException => ()
        case _: IllegalArgumentException => ()
        case _: org.apache.spark.sql.AnalysisException => ()
        case e: Throwable => hardCrashes += ((q, e))
      }
    }
    assert(hardCrashes.isEmpty, hardCrashes.take(5).map { case (q, e) =>
      s"[${e.getClass.getSimpleName}: ${e.getMessage}] $q" }.mkString("\n"))
  }

  test("never-written property reads as NULL (dynamic property model)") {
    val s = gqlSession(SparkFixture.fraudGraph)
    // no Account row carries `balanc` — the reference's Value model
    // returns Null for absent properties instead of erroring
    val rows = s.gql("MATCH (a:Account) WHERE a.id = 1 " +
      "RETURN a.name AS name, a.balanc AS typo").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "Account1" &&
      rows.head.isNullAt(1))
    // edge variables too
    val e = s.gql("MATCH (:Account)-[t:Transaction]->(:Merchant) " +
      "RETURN t.no_such_prop AS x LIMIT 1").collect()
    assert(e.head.isNullAt(0))
  }

  test("mixed-type property inserts never crash mid-stage") {
    // the same property inserted under a rotating set of literal types:
    // every step must either reconcile (common supertype) or fail with a
    // compile-time error — never a CAST_INVALID_INPUT from deep inside a
    // stage, and reads afterwards must see every inserted row
    val s = gqlSession(SparkFixture.fraudGraph)
    val values = Seq("1", "2.5", "'three'", "true", "[1, 2]", "'4'",
      "7", "'mixed bag'")
    val rnd = new scala.util.Random(7)
    var inserted = 0
    values.zipWithIndex.foreach { case (v, i) =>
      val stmt = s"INSERT (:Blob {id: ${9000 + i}, payload: $v})"
      try { s.execute(stmt).collect(); inserted += 1 }
      catch {
        case _: GqlCompileException | _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"non-engine failure for $stmt: ${e.getClass}: ${e.getMessage}")
      }
      // interleaved reads must never hit a runtime cast error
      val n = s.gql("MATCH (b:Blob) RETURN count(b) AS n")
        .collect().head.getLong(0)
      assert(n == inserted, s"after $stmt: $n rows visible, $inserted inserted")
      // property read through the reconciled column succeeds
      s.gql("MATCH (b:Blob) RETURN b.payload AS p ORDER BY b.id").collect()
      // and a random predicate over the mixed column stays 3VL-safe
      if (rnd.nextBoolean())
        s.gql("MATCH (b:Blob) WHERE b.payload IS NOT NULL " +
          "RETURN count(b) AS n").collect()
    }
    assert(inserted >= 6, s"only $inserted/8 inserts accepted")
  }
}
