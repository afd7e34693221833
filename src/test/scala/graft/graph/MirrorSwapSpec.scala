package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}
import graft.plans.{BucketPrune, MirrorSwap}

/** [[graft.plans.MirrorSwap]]: a predicate on the NON-clustered
  * endpoint of a mirrored edge table must be served from the dual
  * layout — the scan swaps to `.mirror_edges_*` and BucketPrune
  * injects the mirror's `__ixb` partition filter in the same batch, so
  * the reverse point-lookup reads one bucket directory instead of the
  * label. Results must be identical with the rule disabled, and the
  * rule must never fire when the main layout already serves the
  * predicate, when no mirror exists, or on an unconstrained scan.
  */
class MirrorSwapSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  /** 4000-edge chain clustered on `src` with the dst-keyed mirror. */
  private def fixture(mirror: Boolean): PropertyGraph = {
    import spark.implicits._
    val wh = tempDir("mswap").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i, i + 1)).toDF("eid", "src", "dst")
      .select(col("src"), col("dst"), col("eid"))
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
    cat.createSchema("ms")
    cat.createIndex("ms_src", "edges_nx", Seq("src"))
    cat.setIndexOption("ms_src", "buckets", "8")
    if (mirror) cat.setIndexOption("ms_src", "mirror", "true")
    cat.saveGraph("ms", "chain", g, force = true)
    cat.loadGraph("ms", "chain")
  }

  test("dst point predicate swaps to the mirror scan and prunes to one " +
      "bucket") {
    val g = fixture(mirror = true)
    val e = g.edgeTables("nx")._2
    val q = e.filter(col("dst") === 1234L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(".mirror_edges_nx"),
      s"scan not swapped to the mirror:\n$plan")
    assert(plan.contains(BucketPrune.BucketCol),
      s"swapped scan carries no __ixb partition filter:\n$plan")
    val rows = q.select("src", "dst", "eid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1233L, 1234L, 1233L)))
    // A/B: identical rows with the rule off (and no mirror in the plan)
    MirrorSwap.enabled = false
    try {
      val q2 = e.filter(col("dst") === 1234L)
      assert(!q2.queryExecution.executedPlan.toString
        .contains(".mirror_edges_nx"))
      assert(q2.select("src", "dst", "eid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == rows)
    } finally MirrorSwap.enabled = true
  }

  test("src predicate (main layout serves it) does NOT swap") {
    val g = fixture(mirror = true)
    val e = g.edgeTables("nx")._2
    val q = e.filter(col("src") === 77L)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains(".mirror_edges_nx"),
      s"main-served predicate must not move to the mirror:\n$plan")
    assert(plan.contains(BucketPrune.BucketCol)) // main prune still fires
    assert(q.count() == 1L)
  }

  test("no mirror configured → no swap, results unchanged") {
    val g = fixture(mirror = false)
    val e = g.edgeTables("nx")._2
    val q = e.filter(col("dst") === 55L)
    assert(!q.queryExecution.executedPlan.toString
      .contains(".mirror_edges_nx"))
    assert(q.count() == 1L)
  }

  test("unconstrained scans and dst ranges spanning all buckets stay " +
      "on the main layout") {
    val g = fixture(mirror = true)
    val e = g.edgeTables("nx")._2
    assert(!e.queryExecution.executedPlan.toString
      .contains(".mirror_edges_nx"))
    // dst > 0 covers every bucket — no proper subset, no swap
    val q = e.filter(col("dst") > 0L)
    assert(!q.queryExecution.executedPlan.toString
      .contains(".mirror_edges_nx"))
    assert(q.count() == 3999L)
  }

  test("GQL reverse seeded hop routes through the mirror (gql34's " +
      "shape, opposite orientation)") {
    import spark.implicits._
    val wh = tempDir("mswap-gql").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i + 1, i)).toDF("src", "dst", "eid")
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("NX" -> (EdgeType("NX", "n", "n"), edges)))
    val sess = gls.session("driver").useGraph(g)
    sess.execute("CREATE SCHEMA IF NOT EXISTS /msq")
    sess.execute("CREATE GRAPH INDEX msq_src ON edges_NX (src)")
    sess.execute("ALTER INDEX msq_src SET OPTION buckets = 8")
    sess.execute("ALTER INDEX msq_src SET OPTION mirror = true")
    sess.saveGraphAs("/msq/chain", force = true)
    val q = gls.session("driver").useGraph("/msq/chain")
    val df = q.gql("MATCH (a:n)-[r:NX]->(b:n {id: 2000}) " +
      "RETURN count(r) AS c, min(a.id) AS src_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(".mirror_edges_NX"),
      s"reverse seeded hop not served by the mirror:\n$plan")
    val row = df.collect().head
    assert((row.getLong(0), row.getLong(1)) == (1L, 1999L))
  }

  test("a raw reader consuming __ixb never swaps (bucket ids differ " +
      "between the layouts)") {
    import spark.implicits._
    val wh = tempDir("mswap-ixb").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1L to 4000L).toDF("id")
    val edges = (1L until 4000L).map(i => (i, i, i + 1)).toDF("eid", "src", "dst")
      .select(col("src"), col("dst"), col("eid"))
    val g = new PropertyGraph(Map("n" -> nodes),
      Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
    cat.createSchema("msi")
    cat.createIndex("msi_src", "edges_nx", Seq("src"))
    cat.setIndexOption("msi_src", "buckets", "8")
    cat.setIndexOption("msi_src", "mirror", "true")
    cat.saveGraph("msi", "chain", g, force = true)
    cat.loadGraph("msi", "chain") // registers both layouts' specs
    val raw = spark.read.parquet(s"${GraphCatalog.versionDir(wh, "msi", "chain").get}/edges_nx")
    // filter at the ROOT: the plan output exposes __ixb → no swap
    val q1 = raw.filter(col("dst") === 1234L)
    assert(!q1.queryExecution.executedPlan.toString
      .contains(".mirror_edges_nx"),
      "__ixb-exposing root filter must stay on the main layout")
    // explicit projection of __ixb above the filter → no swap either
    val q2 = raw.filter(col("dst") === 1234L)
      .select("src", "dst", "eid", graft.plans.BucketPrune.BucketCol)
    assert(!q2.queryExecution.executedPlan.toString
      .contains(".mirror_edges_nx"),
      "__ixb-projecting query must stay on the main layout")
    // the returned bucket id must equal the rule-off read bit for bit —
    // i.e. the MAIN layout's src-keyed id, never the mirror's
    val withRule = q2.collect().map(_.getAs[Int](
      graft.plans.BucketPrune.BucketCol)).toSet
    MirrorSwap.enabled = false
    val ruleOff = try {
      raw.filter(col("dst") === 1234L)
        .select(graft.plans.BucketPrune.BucketCol)
        .collect().map(_.getInt(0)).toSet
    } finally MirrorSwap.enabled = true
    assert(withRule == ruleOff,
      s"__ixb values drifted under the rule: $withRule vs $ruleOff")
    // dropping __ixb from the projection re-enables the swap
    val q3 = raw.filter(col("dst") === 1234L).select("src", "dst", "eid")
    assert(q3.queryExecution.executedPlan.toString
      .contains(".mirror_edges_nx"),
      "__ixb-free projection over the same filter should swap")
    assert(q3.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1233L, 1234L, 1233L)))
  }

  test("mirror = false reclaims the mirror directory at the next save " +
      "even when the dataset stayed clean") {
    import spark.implicits._
    val wh = tempDir("mswap-off").toString
    val cat = new GraphCatalog(spark, wh)
    val nodes = (1L to 100L).toDF("id")
    val edges = (1L until 100L).map(i => (i, i, i + 1)).toDF("eid", "src", "dst")
      .select(col("src"), col("dst"), col("eid"))
    val g0 = new PropertyGraph(Map("n" -> nodes),
      Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
    cat.createSchema("mso")
    cat.createIndex("mso_src", "edges_nx", Seq("src"))
    cat.setIndexOption("mso_src", "buckets", "4")
    cat.setIndexOption("mso_src", "mirror", "true")
    cat.saveGraph("mso", "chain", g0, force = true)
    def mirDir = java.nio.file.Paths.get(
      s"${GraphCatalog.versionDir(wh, "mso", "chain").get}/.mirror_edges_nx")
    assert(java.nio.file.Files.exists(mirDir))
    // opt out, then save the UNTOUCHED loaded graph (clean-link path):
    // the disabled mirror must be dropped, not carried forward
    cat.setIndexOption("mso_src", "mirror", "false")
    val g1 = cat.loadGraph("mso", "chain")
    cat.saveGraph("mso", "chain", g1)
    assert(!java.nio.file.Files.exists(mirDir),
      "disabled mirror must not survive a clean save")
    // and queries still answer correctly from the main layout
    val e = cat.loadGraph("mso", "chain").edgeTables("nx")._2
    assert(e.filter(col("dst") === 50L).count() == 1L)
  }

  test("out-of-band mirror rewrite is detected by the relation cache " +
      "(freshness token, r20 verdict #4)") {
    val g = fixture(mirror = true)
    val e = g.edgeTables("nx")._2
    // warm the relation cache through a swapped query
    val q1 = e.filter(col("dst") === 777L)
    assert(q1.queryExecution.executedPlan.toString.contains(".mirror_edges_nx"))
    assert(q1.count() == 1L)
    // rewrite the mirror WITHOUT routing through the catalog (so no
    // invalidateUnder fires): same rows, brand-new files — a stale
    // cached relation would list the deleted files and the next swapped
    // scan would fail (or silently read nothing) at execution
    val mirDir = s"${g.origin.get}/${GraphCatalog.MirrorPrefix}edges_nx"
    val rows = spark.read.parquet(mirDir).localCheckpoint(true)
    rows.write.mode("overwrite").partitionBy("__ixb").parquet(mirDir)
    val q2 = e.filter(col("dst") === 777L)
    assert(q2.queryExecution.executedPlan.toString.contains(".mirror_edges_nx"))
    assert(q2.count() == 1L)
  }

  test("a part-file rewrite inside one mirror bucket directory is " +
      "detected by the relation cache (bucket-directory mtimes are part " +
      "of the freshness token)") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    def list(d: Path): Seq[Path] = {
      val s = Files.list(d); try s.iterator.asScala.toSeq finally s.close()
    }
    val g = fixture(mirror = true)
    val e = g.edgeTables("nx")._2
    val q1 = e.filter(col("dst") === 777L)
    assert(q1.queryExecution.executedPlan.toString.contains(".mirror_edges_nx"))
    assert(q1.count() == 1L)
    // replace the part files of the bucket holding dst 777 — same rows,
    // new file names — without touching the mirror root or its _SUCCESS
    val mirDir = java.nio.file.Paths.get(
      s"${g.origin.get}/${GraphCatalog.MirrorPrefix}edges_nx")
    val bucket = spark.read.parquet(mirDir.toString)
      .filter(col("dst") === 777L).select("__ixb").head().getInt(0)
    val bdir = mirDir.resolve(s"__ixb=$bucket")
    val rootStamp = Files.getLastModifiedTime(mirDir)
    val tmp = tempDir("mswap-bucket").resolve("b")
    spark.read.parquet(bdir.toString).localCheckpoint(true)
      .write.parquet(tmp.toString)
    list(bdir).foreach(Files.delete)
    list(tmp).filter(_.getFileName.toString.startsWith("part-"))
      .foreach(f => Files.move(f, bdir.resolve(f.getFileName)))
    assert(Files.getLastModifiedTime(mirDir) == rootStamp,
      "the rewrite must leave the mirror root's mtime as it was")
    // a stale cached relation lists the deleted files and fails the scan
    val q2 = e.filter(col("dst") === 777L)
    assert(q2.queryExecution.executedPlan.toString.contains(".mirror_edges_nx"))
    assert(q2.count() == 1L)
  }

  test("swap parity on random graphs and random dst predicates " +
      "(seeded mini-fuzz)") {
    import spark.implicits._
    val seed = sys.env.getOrElse("GRAFT_MSWAP_FUZZ_SEED", "20260817").toLong
    val rnd = new scala.util.Random(seed)
    val wh = tempDir("mswapf").toString
    val cat = new GraphCatalog(spark, wh)
    cat.createSchema("mf")
    for (c <- 1 to 4) {
      val n = 60 + rnd.nextInt(60)
      val nodes = (1L to n.toLong).toDF("id")
      val es = (1L to (n * 2).toLong).map { i =>
        (i, rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }
      val edges = es.toDF("eid", "src", "dst")
        .select(col("src"), col("dst"), col("eid"))
      val g0 = new PropertyGraph(Map("n" -> nodes),
        Map("nx" -> (EdgeType("nx", "n", "n"), edges)))
      cat.createIndex(s"msf$c", "edges_nx", Seq("src"))
      cat.setIndexOption(s"msf$c", "buckets", "4")
      cat.setIndexOption(s"msf$c", "mirror", "true")
      cat.saveGraph("mf", s"g$c", g0, force = true)
      val e = cat.loadGraph("mf", s"g$c").edgeTables("nx")._2
      val pred = rnd.nextInt(3) match {
        case 0 => col("dst") === (rnd.nextInt(n).toLong + 1)
        case 1 => col("dst") <= (rnd.nextInt(n).toLong + 1)
        case _ => col("dst").isin(
          Seq.fill(3)(rnd.nextInt(n).toLong + 1).map(x => x: Any): _*)
      }
      def rows() = e.filter(pred).select("src", "dst", "eid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val a = rows()
      MirrorSwap.enabled = false
      val b = try rows() finally { MirrorSwap.enabled = true }
      assert(a == b, s"case $c diverged (seed=$seed pred=$pred)")
      cat.dropIndex(s"msf$c")
    }
  }
}
