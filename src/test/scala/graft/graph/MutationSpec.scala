package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}

/** DML semantics mirror the reference's write-engine tests
  * (dml_tests.rs, duplicate_insert_test.rs, match_set/delete tests).
  */
class MutationSpec extends AnyFunSuite with TempDirs {
  private def g = SparkFixture.fraudGraph
  private lazy val spark = SparkFixture.spark
  import GraphMutations._

  test("insert nodes appends and rejects duplicates") {
    import spark.implicits._
    val newAcc = Seq((51L, "ACC51", "Account51", 5100.0, "active",
      "checking", 1.0)).toDF("id", "account_number", "name", "balance",
      "status", "account_type", "risk_score")
    val g2 = insertNodes(g, "Account", newAcc)
    assert(g2.nodeScan("Account").count() == 51)
    assert(g.nodeScan("Account").count() == 50) // copy-on-write: original intact
    intercept[IllegalArgumentException] {
      insertNodes(g2, "Account", newAcc)
    }
  }

  test("insert edges appends") {
    import spark.implicits._
    val e = Seq((1L, 1L, 9999L, 123.0, 500L))
      .toDF("src", "dst", "eid", "amount", "timestamp")
    val g2 = insertEdges(g, "Transaction",
      EdgeType("Transaction", "Account", "Merchant"), e)
    assert(g2.edgeScan("Transaction").count() == 101)
  }

  test("MATCH SET updates only matching rows") {
    val g2 = setNodeProps(g, "Account", col("status") === "inactive",
      Map("balance" -> lit(0.0)))
    val zeroed = g2.nodeScan("Account", Some(col("balance") === 0.0)).count()
    assert(zeroed == 5)
    val untouched = g2.nodeScan("Account", Some(col("id") === 1)).collect().head
    assert(untouched.getAs[Double]("balance") == 100.0)
  }

  test("SET can add a new property column") {
    val g2 = setNodeProps(g, "Account", col("id") <= 10,
      Map("flagged" -> lit(true)))
    assert(g2.nodeScan("Account", Some(col("flagged"))).count() == 10)
    assert(g2.nodeScan("Account", Some(col("flagged").isNull)).count() == 40)
  }

  test("REMOVE nulls out properties") {
    val g2 = removeNodeProps(g, "Account", col("id") === 5, Seq("risk_score"))
    assert(g2.nodeScan("Account", Some(col("risk_score").isNull)).count() == 1)
  }

  test("DELETE without DETACH fails on connected nodes") {
    intercept[IllegalStateException] {
      deleteNodes(g, "Account", col("id") === 1, detach = false)
    }
  }

  test("DETACH DELETE removes node and incident edges") {
    val g2 = deleteNodes(g, "Account", col("id") === 1, detach = true)
    assert(g2.nodeScan("Account").count() == 49)
    // account 1 had transactions i=1 and i=51 plus purchase i=1
    assert(g2.edgeScan("Transaction").count() == 98)
    assert(g2.edgeScan("Purchase").count() == 49)
  }

  test("delete edges by predicate") {
    val g2 = deleteEdges(g, "Transaction", col("amount") > 70)
    assert(g2.edgeScan("Transaction").count() == 73) // 27 edges had amount>70
  }

  test("delete edges keeps rows where the predicate is NULL (3VL)") {
    import spark.implicits._
    // amount NULL on the new edge: pred `amount > 70` is UNKNOWN there —
    // DELETE must only remove pred=TRUE rows, not NULL-predicate rows
    val e = Seq((1L, 1L, 7777L, Option.empty[Double], 500L))
      .toDF("src", "dst", "eid", "amount", "timestamp")
    val g2 = insertEdges(g, "Transaction",
      EdgeType("Transaction", "Account", "Merchant"), e)
    val g3 = deleteEdges(g2, "Transaction", col("amount") > 70)
    assert(g3.edgeScan("Transaction", Some(col("eid") === 7777L)).count() == 1)
    // deleted count still matches the TRUE-only predicate count
    assert(g3.edgeScan("Transaction").count() == 74) // 101 - 27 deleted
  }

  test("saveGraph to a path the graph is reading from (copy-on-write flow)") {
    val wh = tempDir("wh-cow").toString
    val cat = new GraphCatalog(spark, wh)
    cat.saveGraph("s", "g", g)
    // load lazily, mutate copy-on-write, save back to the SAME path
    val loaded = cat.loadGraph("s", "g")
    val mutated = setNodeProps(loaded, "Account", col("id") === 3,
      Map("balance" -> lit(999.0)))
    cat.saveGraph("s", "g", mutated) // must not hit "cannot overwrite path being read"
    val reloaded = cat.loadGraph("s", "g")
    assert(reloaded.nodeScan("Account", Some(col("id") === 3))
      .collect().head.getAs[Double]("balance") == 999.0)
  }

  test("saveGraph drops stale label datasets of removed labels") {
    val wh = tempDir("wh-stale").toString
    val cat = new GraphCatalog(spark, wh)
    cat.saveGraph("s", "g", g)
    val withoutPurchase = new PropertyGraph(g.nodeTables,
      g.edgeTables - "Purchase")
    cat.saveGraph("s", "g", withoutPurchase)
    val reloaded = cat.loadGraph("s", "g")
    assert(!reloaded.edgeLabels.contains("Purchase"))
  }

  test("catalog roundtrip of a mutated graph keeps the version") {
    val wh = tempDir("wh-mut").toString
    val cat = new GraphCatalog(spark, wh)
    val g2 = setNodeProps(g, "Account", col("id") === 2,
      Map("balance" -> lit(777.0)))
    cat.saveGraph("s", "v2", g2)
    val loaded = cat.loadGraph("s", "v2")
    assert(loaded.nodeScan("Account", Some(col("id") === 2))
      .collect().head.getAs[Double]("balance") == 777.0)
  }
}
