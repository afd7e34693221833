package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}
import graft.plans.BucketPrune

/** Read-side bucket pruning ([[graft.plans.BucketPrune]]): a key
  * predicate over a persisted bucketed dataset becomes an `__ixb`
  * partition filter, so the scan reads only the bucket directories the
  * predicate can touch — the read-path half of the bucketed layout's
  * 100 TB economics (the write half is bucket-scoped maintenance,
  * BucketedIndexSpec). Every test asserts BOTH the plan (selected
  * partition count / partition filter) and result equality against the
  * same query with pruning disabled.
  */
class BucketPruneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  /** Number of partition directories the (single) parquet scan of `df`
    * actually selected, plus whether an `__ixb` partition filter was
    * planned.
    */
  private def scanFacts(df: DataFrame): (Int, Boolean) = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collectLeaves().collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"no parquet scan in:\n$plan")
    val s = scans.head
    (s.selectedPartitions.partitionCount,
      s.partitionFilters.exists(_.references.exists(_.name == "__ixb")))
  }

  private def numericFixture() = {
    import spark.implicits._
    val wh = tempDir("bprune").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1L to 4000L).map(i => (i, (i * 7919 % 10000).toDouble,
      s"name$i")).toDF("id", "acctbal", "nm")
    val g = new PropertyGraph(Map("customer" -> nodes), Map.empty)
    cat.createSchema("pr")
    cat.createIndex("cust_id", "nodes_customer", Seq("id"))
    cat.setIndexOption("cust_id", "buckets", "8")
    cat.saveGraph("pr", "g1", g, force = true)
    (cat, wh, cat.loadGraph("pr", "g1").nodeTables("customer"))
  }

  private def stringFixture() = {
    import spark.implicits._
    val wh = tempDir("bprune-s").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1 to 4000).map(i => (f"id_$i%05d", i.toDouble))
      .toDF("id", "bal")
    val g = new PropertyGraph(Map("doc" -> nodes), Map.empty)
    cat.createSchema("pr")
    cat.createIndex("doc_id", "nodes_doc", Seq("id"))
    cat.setIndexOption("doc_id", "buckets", "8")
    cat.saveGraph("pr", "g1", g, force = true)
    (cat, wh, cat.loadGraph("pr", "g1").nodeTables("doc"))
  }

  /** Rows with pruning on == rows with pruning off, and return the
    * pruned plan's facts. */
  private def abCheck(mk: => DataFrame): (Int, Boolean) = {
    val prunedRows = mk.collect().map(_.toString).sorted.toSeq
    val facts = scanFacts(mk)
    BucketPrune.enabled = false
    try {
      val fullRows = mk.collect().map(_.toString).sorted.toSeq
      assert(prunedRows == fullRows,
        s"pruning changed the result: ${prunedRows.size} vs ${fullRows.size} rows")
    } finally BucketPrune.enabled = true
    facts
  }

  test("point lookup on the clustered key reads ONE bucket of eight") {
    val (_, _, cust) = numericFixture()
    val (parts, pruned) = abCheck(cust.filter(col("id") === 1234L))
    assert(pruned, "expected an __ixb partition filter")
    assert(parts == 1, s"point lookup should read 1 bucket, read $parts")
  }

  test("range predicate reads only the buckets the range spans") {
    val (_, _, cust) = numericFixture()
    val (parts, pruned) = abCheck(cust.filter(col("id") <= 600L))
    assert(pruned)
    // ids 1..4000 in 8 quantile buckets (~500 each): id <= 600 spans the
    // first two buckets
    assert(parts <= 3 && parts >= 1, s"got $parts")
    val (p2, _) = abCheck(cust.filter(col("id") > 3800L))
    assert(p2 <= 2, s"upper range read $p2 buckets")
  }

  test("IN list maps each element to its bucket") {
    val (_, _, cust) = numericFixture()
    val (parts, pruned) =
      abCheck(cust.filter(col("id").isin(10L, 11L, 3999L)))
    assert(pruned)
    assert(parts <= 2, s"two distinct buckets expected, read $parts")
  }

  test("conjunction intersects; other-column or OR predicates do not " +
      "prune and stay correct") {
    val (_, _, cust) = numericFixture()
    val (parts, pruned) =
      abCheck(cust.filter(col("id") <= 600L && col("acctbal") > 100.0))
    assert(pruned && parts <= 3)
    // no key conjunct -> no bucket filter, full scan
    val (p2, pr2) = abCheck(cust.filter(col("acctbal") > 9000.0))
    assert(!pr2 && p2 == 8)
    // an OR whose arm doesn't constrain the key -> no pruning, no wrong rows
    val (p3, pr3) =
      abCheck(cust.filter(col("id") === 5L || col("acctbal") > 9000.0))
    assert(!pr3 && p3 == 8)
  }

  test("disjunctions of key constraints prune to the bucket union") {
    val (_, _, cust) = numericFixture()
    // two far-apart points -> two buckets
    val (p1, pr1) =
      abCheck(cust.filter(col("id") === 5L || col("id") === 3999L))
    assert(pr1 && p1 <= 2, s"point OR read $p1 buckets")
    // the bucket-scoped maintenance read shape: range OR range OR IS NULL
    val (p2, pr2) = abCheck(cust.filter(
      (col("id") > 500L && col("id") <= 600L) ||
        (col("id") > 3800L) || col("id").isNull))
    assert(pr2 && p2 <= 4, s"range disjunction read $p2 buckets")
    // nested: OR of (AND with a non-key conjunct) still constrains via
    // the key conjunct of each arm
    val (p3, pr3) = abCheck(cust.filter(
      (col("id") <= 300L && col("acctbal") > 0.0) ||
        (col("id") === 3999L && col("acctbal") < 100000.0)))
    assert(pr3 && p3 <= 3, s"nested OR read $p3 buckets")
  }

  /** The bucket-scoped save rewrites only touched buckets (write side,
    * BucketedIndexSpec) — this pins the READ side of that rewrite: the
    * touched-range filter (GraphCatalog.touchedRangePred) must reach the
    * live bucketed layout as an `__ixb` partition filter, so producing
    * one bucket's rows reads one bucket directory, not the whole table.
    * Captured from the actual save via a QueryExecutionListener on the
    * write command's executed plan.
    */
  test("bucket-scoped save READS only the touched buckets (maintenance " +
      "read is O(touched))") {
    val (cat, _, _) = numericFixture()
    val g = cat.loadGraph("pr", "g1")
    val mutated = graft.graph.GraphMutations.setNodeProps(
      g, "customer", col("id") === 1234L, Map("acctbal" -> lit(0.5)))
    val captured = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Boolean)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        def scansIn(p: org.apache.spark.sql.execution.SparkPlan):
            Seq[FileSourceScanExec] = p.collect {
          case f: FileSourceScanExec => Seq(f)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansIn(q.plan)
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scansIn(a.executedPlan)
        }.flatten
        scansIn(qe.executedPlan).foreach { s =>
          captured.synchronized { captured +=
            ((s.relation.location.rootPaths.head.toString,
              s.selectedPartitions.partitionCount,
              s.partitionFilters.exists(
                _.references.exists(_.name == "__ixb")))) }
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      cat.saveGraph("pr", "g1", mutated) // incremental (not force)
      // QueryExecutionListener events post asynchronously — drain
      Thread.sleep(1000)
    } finally spark.listenerManager.unregister(listener)
    // the rewrite's read of the live nodes_customer layout: every scan
    // of it during the save that fed the bucket REWRITE must be pruned.
    // (The touched-key probe scans one column of the full table by
    // design; the wide rewrite scan is the one that must not be O(table).
    // We assert at least one pruned scan happened and that NO scan of
    // the live layout read all 8 partitions WITHOUT an __ixb filter
    // while carrying the full row width — conservatively: some scan of
    // nodes_customer was partition-filtered to <= 2 buckets.)
    val custScans = captured.filter(_._1.contains("nodes_customer"))
    assert(custScans.nonEmpty, s"no captured scans: $captured")
    assert(custScans.exists(s => s._3 && s._2 <= 2),
      s"no bucket-pruned rewrite scan of nodes_customer: $custScans")
    // and the saved graph is intact (full A/B against the model value)
    val re = cat.loadGraph("pr", "g1").nodeTables("customer")
    assert(re.filter(col("id") === 1234L).select("acctbal")
      .collect().head.getDouble(0) == 0.5)
    assert(re.count() == 4000L)
  }

  test("string clustered key prunes point and range lookups") {
    val (_, _, doc) = stringFixture()
    val (parts, pruned) = abCheck(doc.filter(col("id") === "id_02500"))
    assert(pruned, "expected an __ixb partition filter on the string key")
    assert(parts == 1, s"string point lookup read $parts buckets")
    val (p2, pr2) = abCheck(doc.filter(col("id") < "id_00600"))
    assert(pr2 && p2 <= 3, s"string range read $p2 buckets")
  }

  test("randomized A/B: pruned results equal full-scan results") {
    val (_, _, cust) = numericFixture()
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_BPRUNE_FUZZ_SEED").map(_.toLong).getOrElse(4242L))
    (1 to 40).foreach { i =>
      val k = (rnd.nextInt(4400) - 200).toLong // includes out-of-range keys
      val pred = rnd.nextInt(6) match {
        case 0 => col("id") === k
        case 1 => col("id") <= k
        case 2 => col("id") >= k
        case 3 => col("id").isin(k, k + 7, k + 4000)
        case 4 => lit(k) >= col("id") // literal-first spelling
        case 5 => col("id") === k && col("acctbal") >= 0.0
      }
      abCheck(cust.filter(pred)) // asserts equality inside
    }
  }

  test("a de-bucketed rewrite stops pruning (no stale boundaries)") {
    val (cat, _, _) = numericFixture()
    cat.dropIndex("cust_id")
    val g2 = cat.loadGraph("pr", "g1")
    cat.saveGraph("pr", "g1", g2, force = true) // flat rewrite
    val cust2 = cat.loadGraph("pr", "g1").nodeTables("customer")
    val rows = cust2.filter(col("id") === 1234L).collect()
    assert(rows.length == 1)
    val plan = cust2.filter(col("id") === 1234L)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("__ixb"), s"stale bucket filter in:\n$plan")
  }

  /** Seeded traversal: the reference's hottest access path is "expand
    * from a known node" served by its in-memory label index
    * (graph_cache.rs:16-38). At warehouse scale that becomes: bucket the
    * EDGE table on `src`, and let Catalyst's constraint propagation turn
    * `a.id = K AND e.src = a.id` into `e.src = K` on the edge side —
    * which [[graft.plans.BucketPrune]] then maps to one `__ixb` bucket.
    * No traversal-specific code: the literal seed flows through
    * InferFiltersFromConstraints; this pins that the chain actually
    * reaches the edge scan's partition filters end to end.
    */
  test("seeded 1-hop expand prunes the bucketed EDGE table through the " +
      "join (constraint propagation)") {
    import spark.implicits._
    import graft.GraphLiteSpark
    val wh = tempDir("bprune-e").toString
    val gls = GraphLiteSpark.open(spark, wh)
    val nodes = (1L to 2000L).map(i => (i, (i % 97).toDouble))
      .toDF("id", "bal")
    val edges = (1L to 8000L).map(i =>
      (i, i % 2000 + 1, (i * 7) % 2000 + 1, (i % 13).toDouble))
      .toDF("eid", "src", "dst", "w")
    val g = new PropertyGraph(Map("acct" -> nodes),
      Map("own" -> (EdgeType("own", "acct", "acct"), edges)))
    val sess = gls.session("driver").useGraph(g)
    sess.execute("CREATE SCHEMA IF NOT EXISTS /pr")
    sess.execute("CREATE GRAPH INDEX esrc ON edges_own (src)")
    sess.execute("ALTER INDEX esrc SET OPTION buckets = 8")
    sess.saveGraphAs("/pr/hop", force = true)
    def q() = gls.session("driver").useGraph("/pr/hop")
      .gql("MATCH (a:acct)-[e:own]->(b:acct) WHERE a.id = 7 " +
        "RETURN count(e) AS n, sum(e.w) AS sw")
    val out = q()
    val rows = out.collect()
    assert(rows.head.getLong(0) == 4L, s"seed 7 has 4 out-edges: $rows")
    out.collect()
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the join + agg plan nests its scans inside AQE query stages;
    // descend through them (collectLeaves stops at the stage boundary)
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
    }.flatten
    val edgeScans = scansIn(plan)
      .filter(_.relation.location.rootPaths.head.toString.contains("edges_own"))
    assert(edgeScans.nonEmpty, s"no edge scan in:\n$plan")
    val s = edgeScans.head
    assert(s.partitionFilters.exists(_.references.exists(_.name == "__ixb")),
      s"edge scan has no __ixb partition filter:\n$plan")
    assert(s.selectedPartitions.partitionCount == 1,
      s"seeded expand read ${s.selectedPartitions.partitionCount} edge buckets")
    // A/B: same rows with pruning off
    BucketPrune.enabled = false
    try assert(q().collect().toSeq == rows.toSeq)
    finally BucketPrune.enabled = true
  }

  test("GQL end to end: WHERE on the clustered key prunes the persisted " +
      "scan") {
    import graft.GraphLiteSpark
    val wh = tempDir("bprune-gql").toString
    val gls = GraphLiteSpark.open(spark, wh)
    import spark.implicits._
    val nodes = (1L to 4000L).map(i => (i, (i % 97).toDouble))
      .toDF("id", "acctbal")
    val g = new PropertyGraph(Map("customer" -> nodes), Map.empty)
    val sess = gls.session("driver").useGraph(g)
    sess.execute("CREATE SCHEMA IF NOT EXISTS /pr")
    sess.execute("CREATE GRAPH INDEX pid ON nodes_customer (id)")
    sess.execute("ALTER INDEX pid SET OPTION buckets = 8")
    sess.saveGraphAs("/pr/cust", force = true)
    val out = gls.session("driver").useGraph("/pr/cust")
      .gql("MATCH (c:customer) WHERE c.id = 1234 " +
        "RETURN c.id AS id, c.acctbal AS bal")
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1234L)
    val (parts, pruned) = scanFacts(out)
    assert(pruned, "GQL point lookup should plan an __ixb filter")
    assert(parts == 1, s"GQL point lookup read $parts buckets")
  }

  test("an explicit-id INSERT and a SET read only their key's bucket, " +
      "each in one job") {
    val (cat, wh, _) = numericFixture()
    val sizes = spark.read.parquet(cat.loadGraph("pr", "g1").origin.get +
      "/nodes_customer").groupBy("__ixb").count().collect().map(_.getLong(1))
    val sess = graft.GraphLiteSpark.open(spark, wh).session("dml")
      .useGraph("/pr/g1")
    /** Jobs and input rows of `stmt`. */
    def run(stmt: String): (Int, Long) = {
      val (_, st) = graft.obs.ExecStats.during(spark.sparkContext)(sess.execute(stmt))
      (st.jobs, st.readRows)
    }
    // the store holds at most the SET's row and its ghost
    val (setJobs, setRead) = run("MATCH (c:customer {id: 1234}) SET c.acctbal = 1.0")
    val (insJobs, insRead) = run("INSERT (:customer {id: 5001, acctbal: 2.0, nm: 'x'})")
    intercept[Exception](sess.execute("INSERT (:customer {id: 3456, acctbal: 3.0})"))
    assert(setJobs == 1 && insJobs == 1, s"jobs: SET $setJobs, INSERT $insJobs")
    // a SET reads its hit base rows once (forked into their new version
    // and their ghost), from the key's bucket alone
    assert(setRead <= sizes.max && insRead <= sizes.max + 2,
      s"rows read: SET $setRead, INSERT $insRead, buckets hold ${sizes.toSeq}")
    assert(sess.gql("MATCH (c:customer) WHERE c.id IN [1234, 5001] " +
      "RETURN c.acctbal AS b ORDER BY b").collect().map(_.getDouble(0)).toSeq ==
      Seq(1.0, 2.0))
  }
}

