package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.{BeforeAndAfterAll, Suite}
import graft.graph.{EdgeType, PropertyGraph}

/** Shared SparkSession + the reference test datasets, reproduced exactly
  * from /root/reference/graphlite/tests/testutils/test_fixture.rs
  * (simple: 93-116, fraud: 135-190; see FIXTURES.md).
  */
object SparkFixture {
  lazy val spark: SparkSession = {
    org.apache.spark.sql.graft.Logs.setLevel("WARN")
    LocalSpark.builder(8)
      .appName("graft-test")
      // plan-text assertions grep scan locations: print them whole
      .config("spark.sql.maxMetadataStringLength", "1000")
      .getOrCreate()
  }

  /** Fraud dataset (test_fixture.rs:135-190): 50 Account + 20 Merchant
    * nodes, 100 Transaction + 50 Purchase edges.
    */
  lazy val fraudGraph: PropertyGraph = {
    val s = spark
    import s.implicits._
    val accountTypes = Array("checking", "savings", "business", "investment")
    val accounts = (1 to 50).map { i =>
      (i.toLong, s"ACC$i", s"Account$i", i * 100.0,
        if (i % 10 == 0) "inactive" else "active",
        accountTypes(i % 4), (i % 100) / 10.0)
    }.toDF("id", "account_number", "name", "balance", "status",
      "account_type", "risk_score")
    val merchants = (1 to 20).map { i =>
      (i.toLong, s"Merchant$i", "retail")
    }.toDF("id", "name", "category")
    val transactions = (1 to 100).map { i =>
      (((i - 1) % 50) + 1L, ((i - 1) % 20) + 1L, i.toLong,
        50.0 + (i % 30), i.toLong)
    }.toDF("src", "dst", "eid", "amount", "timestamp")
    val purchases = (1 to 50).map { i =>
      (((i - 1) % 50) + 1L, ((i - 1) % 20) + 1L, (i + 1000).toLong,
        ((i % 30) + 1) * 3.5, (i + 100).toLong)
    }.toDF("src", "dst", "eid", "amount", "timestamp")
    new PropertyGraph(
      Map("Account" -> accounts, "Merchant" -> merchants),
      Map(
        "Transaction" -> (EdgeType("Transaction", "Account", "Merchant"), transactions),
        "Purchase" -> (EdgeType("Purchase", "Account", "Merchant"), purchases)))
  }

  /** Simple dataset (test_fixture.rs:93-116): 20 TestNode, chain 1→…→10. */
  lazy val simpleGraph: PropertyGraph = {
    val s = spark
    import s.implicits._
    val nodes = (1 to 20).map(i => (i.toLong, s"Node $i", i * 10L))
      .toDF("id", "name", "value")
    val edges = (1 to 9).map(i => (i.toLong, i + 1L, i.toLong, i * 2L))
      .toDF("src", "dst", "eid", "weight")
    new PropertyGraph(
      Map("TestNode" -> nodes),
      Map("CONNECTS_TO" -> (EdgeType("CONNECTS_TO", "TestNode", "TestNode"), edges)))
  }
}

/** The temporary directories of one suite — warehouses, dedup state,
  * stream inputs — all named `graft-<tag>…` under the system temp
  * directory and deleted when the suite ends.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A new empty directory, deleted after the suite. */
  def tempDir(tag: String): Path = {
    val p = Files.createTempDirectory(s"graft-$tag")
    made.add(p)
    p
  }

  /** A session over `g` on a warehouse of its own. */
  def gqlSession(g: PropertyGraph = SparkFixture.fraudGraph): GqlSession =
    GraphLiteSpark.open(SparkFixture.spark, tempDir("wh").toString)
      .session("test").useGraph(g)

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
}
