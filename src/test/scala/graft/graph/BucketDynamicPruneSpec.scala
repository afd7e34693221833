package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}
import graft.plans.{BucketDynamicPrune, BucketPrune}

/** Runtime bucket pruning for joins ([[graft.plans.BucketDynamicPrune]]):
  * when an equi-join's key side scans a bucketed relation on its
  * clustered key and the other side is selective, the scan must carry a
  * DynamicPruningExpression on `__ixb` and read only the bucket
  * directories the build side's keys imply — the destination leg of a
  * seeded traversal, which static pruning (BucketPruneSpec) cannot
  * reach because the dst keys are runtime values.
  */
class BucketDynamicPruneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private def scansIn(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[FileSourceScanExec] = p.collect {
    case f: FileSourceScanExec => Seq(f)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scansIn(q.plan)
  }.flatten

  private def executedScans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    scansIn(plan)
  }

  private def fixture() = {
    val cat = new GraphCatalog(spark, persisted())
    val lg = cat.loadGraph("pr", "g1")
    (lg.nodeTables("acct"), lg.edgeTables("own")._2)
  }

  /** A warehouse holding graph `pr/g1`: `acct` bucketed on id, `own` on src. */
  private def persisted(): String = {
    import spark.implicits._
    val wh = tempDir("bdpp").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1L to 4000L).map(i => (i, (i % 97).toDouble))
      .toDF("id", "bal")
    val edges = (1L to 16000L).map(i =>
      (i, i % 4000 + 1, (i * 31) % 4000 + 1)).toDF("eid", "src", "dst")
    val g = new PropertyGraph(Map("acct" -> nodes),
      Map("own" -> (EdgeType("own", "acct", "acct"), edges)))
    cat.createSchema("pr")
    cat.createIndex("acct_id", "nodes_acct", Seq("id"))
    cat.setIndexOption("acct_id", "buckets", "8")
    cat.createIndex("own_src", "edges_own", Seq("src"))
    cat.setIndexOption("own_src", "buckets", "8")
    cat.saveGraph("pr", "g1", g, force = true)
    wh
  }

  private def dynamic(s: FileSourceScanExec): Boolean =
    s.partitionFilters.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))

  test("seeded join prunes the DST bucketed scan at runtime " +
      "(DynamicPruningExpression on __ixb)") {
    val (acct, own) = fixture()
    def q() = own.filter(col("src") === 77L)
      .join(acct, col("dst") === col("id"))
      .agg(count(lit(1)).as("n"), sum("bal").as("sb"))
    val rows = q().collect().toSeq
    val scans = executedScans(q())
    val acctScans = scans.filter(
      _.relation.location.rootPaths.head.toString.contains("nodes_acct"))
    assert(acctScans.nonEmpty, s"no acct scan: $scans")
    val s = acctScans.head
    val dyn = s.partitionFilters.exists(f =>
      f.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
    assert(dyn, s"dst scan has no dynamic __ixb filter: " +
      s"${s.partitionFilters}\nmetrics=${s.metrics.keys.toSeq.sorted}")
    // runtime-selected partitions < static bucket count: src=77 has 4
    // out-edges, whose dst values land in <= 4 of the 8 buckets
    val selected = s.metrics.get("numPartitions").map(_.value)
    assert(selected.exists(_ <= 4),
      s"expected <= 4 dynamically selected partitions, " +
        s"got $selected (metrics: ${s.metrics.map { case (k, v) =>
          s"$k=${v.value}" }.toSeq.sorted.mkString(", ")})")
    // A/B: identical rows with the dynamic rule off
    BucketDynamicPrune.enabled = false
    try assert(q().collect().toSeq == rows)
    finally BucketDynamicPrune.enabled = true
  }

  test("no injection without a selective build side, and outer-join " +
      "sides that must survive are never pruned") {
    val (acct, own) = fixture()
    // unfiltered build side: full edges join -> no DPP (double-executing
    // a full scan to prune another is a loss)
    val plain = own.join(acct, col("dst") === col("id"))
      .agg(count(lit(1)).as("n"))
    plain.collect()
    val noDpp = executedScans(plain).forall(!_.partitionFilters.exists(
      _.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])))
    assert(noDpp, "unfiltered join must not inject a pruning subquery")
    // LEFT OUTER with the bucketed side on the LEFT: its unmatched rows
    // survive the join, so pruning it would drop rows — assert equality
    // against the rule disabled
    def lo() = acct.join(own.filter(col("src") === 77L),
      col("id") === col("dst"), "left_outer")
      .agg(count(lit(1)).as("n"), sum("bal").as("sb"))
    val withRule = lo().collect().toSeq
    BucketDynamicPrune.enabled = false
    val without = try lo().collect().toSeq
      finally BucketDynamicPrune.enabled = true
    assert(withRule == without)
    // src=77's four edges all hit dst 2357 ((i*31)%4000 repeats per
    // i%4000), so: 3999 unmatched acct rows + 4 join pairs = 4003
    assert(withRule.head.getLong(0) == 4003L,
      s"left outer must keep every unmatched acct row: $withRule")
  }

  test("chained two-hop: TWO bucketed targets inject without nesting " +
      "subqueries, results equal the unpruned plan") {
    // ((e1[src=K] ⋈ n) ⋈ e2) — both n (nodes on id) and e2 (edges on
    // src) are bucketed targets; the rule's build plans are captured
    // from the PRE-injection opposite sides, so neither pruning
    // subquery may contain the other (nested DPP would fail planning
    // or double-execute). Pins plan validity + result equality.
    val (acct, own) = fixture()
    val own2 = own.select(col("eid").as("eid2"), col("src").as("src2"),
      col("dst").as("dst2"))
    def q() = own.filter(col("src") === 9L)
      .join(acct, col("dst") === col("id"))
      .join(own2, col("id") === col("src2"))
      .agg(count(lit(1)).as("n"), sum(col("dst2")).as("sd"))
    val a = q().collect().toSeq
    BucketDynamicPrune.enabled = false
    val b = try q().collect().toSeq
      finally BucketDynamicPrune.enabled = true
    assert(a == b, s"chained: $a vs $b")
    // the injected subqueries must not nest: no DynamicPruningSubquery
    // whose build query itself contains one
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery
    val optimized = q().queryExecution.optimizedPlan
    val dpps = optimized.collect { case p =>
      p.expressions.flatMap(_.collect { case d: DynamicPruningSubquery => d })
    }.flatten
    assert(dpps.nonEmpty, "expected at least one injected pruning subquery")
    dpps.foreach { d =>
      val nested = d.buildQuery.collect { case p =>
        p.expressions.flatMap(_.collect {
          case n: DynamicPruningSubquery => n })
      }.flatten
      assert(nested.isEmpty, s"nested pruning subquery: $d")
    }
  }

  test("randomized A/B: dynamic pruning never changes join results") {
    val (acct, own) = fixture()
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_BDPP_FUZZ_SEED").map(_.toLong).getOrElse(20260816L))
    (1 to 15).foreach { _ =>
      val seed = (rnd.nextInt(4400) - 200).toLong
      val jt = Seq("inner", "left_semi", "left_outer", "right_outer")(
        rnd.nextInt(4))
      def q() = own.filter(col("src") === seed)
        .join(acct, col("dst") === col("id"), jt)
        .agg(count(lit(1)).as("n"), sum("dst").as("sd"))
      val a = q().collect().toSeq
      BucketDynamicPrune.enabled = false
      val b = try q().collect().toSeq
        finally BucketDynamicPrune.enabled = true
      assert(a == b, s"seed=$seed jt=$jt: $a vs $b")
    }
  }

  test("a mutated destination label (base ⊖ tomb ⊕ delta) still prunes " +
      "its base scan at runtime") {
    val sess = graft.GraphLiteSpark.open(spark, persisted()).session("m")
      .useGraph("/pr/g1")
    sess.execute("MATCH (a:acct {id: 2357}) SET a.bal = 1.5")
    sess.execute("INSERT (:acct {id: 5001, bal: 2.5})")
    val acct = sess.graph.nodeTables("acct")
    val own = sess.graph.edgeTables("own")._2
    // non-seeded: the selective side is a filter on a non-key column
    def q() = own.filter(col("eid") === 77L)
      .join(acct, col("dst") === col("id"))
      .agg(count(lit(1)).as("n"), sum("bal").as("sb"))
    val rows = q().collect().toSeq
    val base = executedScans(q()).filter(
      _.relation.location.rootPaths.head.toString.contains("nodes_acct"))
    assert(base.nonEmpty && base.forall(dynamic),
      s"the view's base scan has no dynamic __ixb filter: ${base.map(_.partitionFilters)}")
    BucketDynamicPrune.enabled = false
    try assert(q().collect().toSeq == rows)
    finally BucketDynamicPrune.enabled = true
    // eid 77 runs 78 -> (77 * 31) % 4000 + 1 = 2388; a SET row would read 1.5
    assert(rows == Seq(org.apache.spark.sql.Row(1L, (2388 % 97).toDouble)))
  }
}
