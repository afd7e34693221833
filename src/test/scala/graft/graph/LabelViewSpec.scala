package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.{SparkFixture, TempDirs}
import scala.jdk.CollectionConverters._

/** The view of a mutated label (`base ⊖ tomb ⊕ delta`, [[LabelDelta]]):
  * earlier graph versions stay readable across a save, hidden keys match
  * columns of another type, and hides past the driver-held limit go
  * through a checkpoint and still read, delete and save right.
  */
class LabelViewSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def warehouse(): String =
    tempDir("view").toString

  /** A saved customer graph with an `id`-bucketed layout, and a session
    * over it. */
  private def savedSession(n: Long, wh: String = warehouse()): graft.GqlSession = {
    val customers = (1L to n).map(i => (i, i.toDouble)).toDF("id", "acctbal")
    val g = new PropertyGraph(Map("customer" -> customers), Map.empty)
    val w = graft.GraphLiteSpark.open(spark, wh).session("w").useGraph(g)
    w.execute("CREATE GRAPH INDEX v_c ON nodes_customer (id)")
    w.execute("ALTER INDEX v_c SET OPTION buckets = 4")
    w.saveGraphAs("/v/g", force = true)
    graft.GraphLiteSpark.open(spark, wh).session("u").useGraph("/v/g")
  }

  private def balances(s: graft.GqlSession): Map[Long, Double] =
    s.gql("MATCH (c:customer) WHERE c.id <= 3 RETURN c.id AS id, c.acctbal AS b")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("a rollback snapshot taken before a save still reads after the save") {
    val s = savedSession(20)
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 100.0")
    s.execute("START TRANSACTION")
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 200.0")
    s.execute("MATCH (c:customer {id: 2}) SET c.acctbal = 300.0")
    s.saveGraphAs("/v/g2")
    s.execute("ROLLBACK")
    assert(balances(s) == Map(1L -> 100.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("a lazy query result still reads after more DML and a save") {
    val s = savedSession(20)
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 100.0")
    val lazyRead = s.gql("MATCH (c:customer {id: 1}) RETURN c.acctbal AS b")
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 200.0")
    s.saveGraphAs("/v/g2")
    assert(lazyRead.collect().map(_.getDouble(0)).toSeq == Seq(100.0))
    assert(balances(s)(1L) == 200.0)
  }

  test("a rollback snapshot still reads after a save to the same path") {
    val s = savedSession(20)
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 100.0")
    s.execute("START TRANSACTION")
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 200.0")
    s.execute("MATCH (c:customer {id: 2}) SET c.acctbal = 300.0")
    s.saveGraphAs("/v/g")
    s.execute("ROLLBACK")
    assert(balances(s) == Map(1L -> 100.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("a lazy query result still reads after DML and a save to the same path") {
    val s = savedSession(20)
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 100.0")
    val lazyRead = s.gql("MATCH (c:customer {id: 1}) RETURN c.acctbal AS b")
    s.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 200.0")
    s.saveGraphAs("/v/g")
    assert(lazyRead.collect().map(_.getDouble(0)).toSeq == Seq(100.0))
    assert(balances(s)(1L) == 200.0)
  }

  test("a save after another session saved the same graph keeps exactly " +
      "its own session's graph") {
    val wh = warehouse()
    val a = savedSession(20, wh)
    val b = graft.GraphLiteSpark.open(spark, wh).session("b").useGraph("/v/g")
    def bal(s: graft.GqlSession, id: Long): Double =
      s.gql(s"MATCH (c:customer {id: $id}) RETURN c.acctbal AS b")
        .collect().head.getDouble(0)
    a.execute("MATCH (c:customer {id: 1}) SET c.acctbal = 100.0")
    // b saves a change in another bucket between a's load and a's save
    b.execute("MATCH (c:customer {id: 20}) SET c.acctbal = 300.0")
    b.saveGraphAs("/v/g")
    a.saveGraphAs("/v/g")
    assert(bal(a, 1L) == 100.0 && bal(a, 20L) == 20.0)
    // b's graph still reads the version it saved
    assert(bal(b, 1L) == 1.0 && bal(b, 20L) == 300.0)
    val fresh = graft.GraphLiteSpark.open(spark, wh).session("c").useGraph("/v/g")
    assert(bal(fresh, 1L) == 100.0 && bal(fresh, 20L) == 20.0)
  }

  test("a statement runs without code generation and leaves the shared " +
      "session's conf alone") {
    val key = "spark.sql.codegen.wholeStage"
    val before = spark.conf.getOption(key)
    val items = (1L to 50L).map(i => (i, i * 2.0, s"n$i")).toDF("id", "w", "tag")
    val g = new PropertyGraph(Map("item" -> items), Map.empty)
    // another user of the session reads its conf while the statement runs
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val reader = new Thread(() => while (!done) seen.add(spark.conf.getOption(key)))
    reader.start()
    val ((g2, n), st) = try graft.obs.ExecStats.during(spark.sparkContext)(
      GraphMutations.setNodePropsCounted(g, "item",
        col("w") > 60.0, Map("tag" -> concat(col("tag"), lit("-x")))))
    finally { done = true; reader.join() }
    assert(st.codegenCompiles == 0)
    assert(n == 20L)
    assert(seen.asScala.forall(_ == before) && spark.conf.getOption(key) == before)
    assert(g2.nodeScan("item", Some(col("tag").endsWith("-x"))).count() == 20L)
  }

  test("an INSERT of computed rows finds ids already in base or delta " +
      "rows inside its job") {
    val people = (1L to 5L).map(i => (i, s"p$i")).toDF("id", "name")
    val g = new PropertyGraph(Map("person" -> people), Map.empty)
    def computed(ids: Long*) =
      PropertyGraph.materialized(ids.map(i => (i, s"n$i")).toDF("id", "name"))
    val g1 = GraphMutations.insertNodes(g, "person", computed(6, 7))
    intercept[IllegalArgumentException] { // 3 is a base row
      GraphMutations.insertNodes(g1, "person", computed(8, 3))
    }
    intercept[IllegalArgumentException] { // 7 was inserted
      GraphMutations.insertNodes(g1, "person", computed(7))
    }
    intercept[IllegalArgumentException] { // Int ids compare as numbers
      GraphMutations.insertNodes(g1, "person",
        PropertyGraph.materialized(Seq((2, "x")).toDF("id", "name")))
    }
    val g2 = GraphMutations.insertNodes(g1, "person", computed(8))
    assert(g2.nodeScan("person").select("id").as[Long].collect().sorted.toSeq ==
      (1L to 8L))
  }

  test("DETACH DELETE of Long node ids removes edges whose endpoints are Int") {
    val people = (1 to 5).map(i => (i, s"p$i")).toDF("id", "name")
    val knows = Seq((1, 2, 1L), (2, 3, 2L), (3, 1, 3L), (4, 5, 4L))
      .toDF("src", "dst", "eid")
    val g = new PropertyGraph(Map("person" -> people),
      Map("KNOWS" -> (EdgeType("KNOWS", "person", "person"), knows)))
    val s = graft.GraphLiteSpark.open(spark, warehouse()).session("t").useGraph(g)
    // a GQL insert widens the label's ids to Long; the edges stay Int
    s.execute("INSERT (:person {id: 6, name: 'p6'})")
    assert(s.graph.nodeTables("person").schema("id").dataType == LongType)
    assert(s.graph.edgeTables("KNOWS")._2.schema("src").dataType == IntegerType)
    intercept[IllegalStateException] {
      s.execute("MATCH (p:person {id: 1}) DELETE p")
    }
    s.execute("MATCH (p:person {id: 1}) DETACH DELETE p")
    val left = s.graph.edgeTables("KNOWS")._2.select("eid").as[Long].collect().toSet
    assert(left == Set(2L, 4L))
    assert(s.gql("MATCH (a:person)-[k:KNOWS]->(b:person) RETURN count(k) AS n")
      .collect().head.getLong(0) == 2L)
  }

  test("hides past the driver-held limit go through a checkpoint: reads, " +
      "DETACH DELETE and a bucket-scoped save stay right") {
    val limit = Keys.InlineLimit.toLong
    val n = limit + 600L
    val wh = warehouse()
    val people = (1L to n).map(i => (i, i.toDouble)).toDF("id", "score")
    val links = (1L to n).map(i => (i, i % n + 1, i)).toDF("src", "dst", "eid")
    val g0 = new PropertyGraph(Map("person" -> people),
      Map("LINK" -> (EdgeType("LINK", "person", "person"), links)))
    val w = graft.GraphLiteSpark.open(spark, wh).session("w").useGraph(g0)
    w.execute("CREATE GRAPH INDEX v_p ON nodes_person (id)")
    w.execute("ALTER INDEX v_p SET OPTION buckets = 8")
    w.execute("CREATE GRAPH INDEX v_l ON edges_LINK (eid)")
    w.execute("ALTER INDEX v_l SET OPTION buckets = 8")
    w.saveGraphAs("/v/big", force = true)
    val s = graft.GraphLiteSpark.open(spark, wh).session("u").useGraph("/v/big")
    import GraphMutations._
    // every row superseded: the base is hidden through a checkpoint
    var g = setNodeProps(s.graph, "person", lit(true), Map("score" -> (col("score") + 1)))
    assert(g.deltaFor("nodes_person").get.tomb("id").isInstanceOf[FrameKeys])
    // more doomed ids than the limit: the edge hides are checkpoints too,
    // and a second, small delete unions into them
    val (g1, d1) = deleteNodesCounted(g, "person", col("id") <= limit + 10, detach = true)
    val (g2, d2) = deleteNodesCounted(g1, "person", col("id") === n, detach = true)
    g = g2
    assert(d1 == limit + 10 && d2 == 1)
    val ed = g.deltaFor("edges_LINK").get
    assert(ed.tomb("src").isInstanceOf[FrameKeys] && ed.tomb("dst").isInstanceOf[FrameKeys])
    val live = (limit + 11 until n).toSet
    val liveEdges = (1L to n).filter(i => live(i) && live(i % n + 1)).toSet
    def check(h: PropertyGraph): Unit = {
      val p = h.nodeTables("person").select("id", "score").as[(Long, Double)].collect()
      assert(p.map(_._1).toSet == live)
      assert(p.forall { case (i, sc) => sc == i + 1.0 })
      assert(h.edgeTables("LINK")._2.select("eid").as[Long].collect().toSet == liveEdges)
    }
    check(g)
    s.useGraph(g)
    s.saveGraphAs("/v/big")
    check(graft.GraphLiteSpark.open(spark, wh).session("r").useGraph("/v/big").graph)
  }
}
