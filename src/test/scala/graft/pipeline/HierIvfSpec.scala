package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture
import graft.similarity.Similarity

/** Hierarchical 2-level IVF (r18 verdict #4): the trainer must reach
  * list counts far past the flat driver-draw cap with bounded draws at
  * every stage, and the index must rank genuinely (recall far above
  * chance) with assignment/probe staying equi-join shaped.
  */
class HierIvfSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def recallAt10(k: Int, nprobe: Int): Double = {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val emb = graft.Tables.embeddings(spark, d)
    val qs = emb.filter($"vec_id" < 5)
    val approx = new Similarity.HierIvfIndex(k = k, nprobe = nprobe)
      .annTopK(emb, "vec_id", "embedding", qs, "vec_id", "embedding", 10)
    val exact = Similarity.knnBruteForce(emb, "vec_id", "embedding",
      qs, "vec_id", "embedding", 10)
    val hits = approx.join(exact.select($"qid", $"id"), Seq("qid", "id"))
      .groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    exact.groupBy($"qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select((coalesce($"n_hit", lit(0L)) / $"n_exact").as("r"))
      .agg(avg($"r")).head.getDouble(0)
  }

  test("hier IVF k=256 ranks genuinely at sf0.01 (measurement + floor)") {
    for (np <- Seq(32, 96, 160)) {
      val r = recallAt10(256, np)
      info(f"k=256 nprobe=$np recall@10 = $r%.3f")
      println(f"[hier-ivf] k=256 nprobe=$np recall@10 = $r%.3f")
    }
    assert(recallAt10(256, 160) > 0.3)
  }

  private def recallPerQuery(k: Int, nprobe: Int): (Double, Double) = {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val emb = graft.Tables.embeddings(spark, d)
    val qs = emb.filter($"vec_id" < 5)
    val approx = new Similarity.HierIvfIndex(k = k, nprobe = nprobe)
      .annTopK(emb, "vec_id", "embedding", qs, "vec_id", "embedding", 10)
    val exact = Similarity.knnBruteForce(emb, "vec_id", "embedding",
      qs, "vec_id", "embedding", 10)
    val hits = approx.join(exact.select($"qid", $"id"), Seq("qid", "id"))
      .groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    val row = exact.groupBy($"qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select((coalesce($"n_hit", lit(0L)) / $"n_exact").as("r"))
      .agg(avg($"r"), min($"r")).head
    (row.getDouble(0), row.getDouble(1))
  }

  test("hier IVF k=4096 (big-k shape, e09) ranks genuinely at sf0.01") {
    for (np <- Seq(256, 512, 1024)) {
      val (mean, mn) = recallPerQuery(4096, np)
      info(f"k=4096 nprobe=$np recall@10 mean=$mean%.3f min=$mn%.3f")
      println(f"[hier-ivf] k=4096 nprobe=$np recall@10 mean=$mean%.3f min=$mn%.3f")
    }
    assert(recallPerQuery(4096, 1024)._1 > 0.3)
  }

  test("batch probe recall (e10 shape): 1000 queries through the k=256 " +
      "index, per-query recall measured") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val emb = graft.Tables.embeddings(spark, d)
    val qs = emb.filter($"vec_id" < 500)
      .unionByName(emb.filter($"vec_id" < 500)
        .withColumn("vec_id", $"vec_id" + 10000))
    val approx = new Similarity.HierIvfIndex(k = 256, nprobe = 96)
      .annTopK(emb, "vec_id", "embedding", qs, "vec_id", "embedding", 10)
    val exact = Similarity.knnBruteForce(emb, "vec_id", "embedding",
      qs, "vec_id", "embedding", 10)
    val hits = approx.join(exact.select($"qid", $"id"), Seq("qid", "id"))
      .groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    val per = exact.groupBy($"qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select($"qid", (coalesce($"n_hit", lit(0L)) / $"n_exact").as("r"))
    val stats = per.agg(avg($"r"), min($"r"), count(lit(1))).head
    println(f"[hier-batch] n=${stats.getLong(2)} mean=${stats.getDouble(0)}%.3f min=${stats.getDouble(1)}%.3f")
    assert(stats.getLong(2) == 1000L)
    assert(stats.getDouble(0) > 0.5)
  }

  test("codegen'd batch probe (HierProbeCidsGen) returns the interpreted " +
      "probe's cid lists bit for bit and stays inside codegen") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val emb = graft.Tables.embeddings(spark, d)
    val interp = new Similarity.HierIvfIndex(k = 64, nprobe = 24,
      codegenProbe = false)
    val gen = new Similarity.HierIvfIndex(k = 64, nprobe = 24)
    val (sups, chs) = interp.train(emb, "vec_id", "embedding")
    def cids(idx: Similarity.HierIvfIndex) = emb
      .select($"vec_id", idx.probeCidsPublic($"embedding", sups, chs)
        .as("cids"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    val a = cids(interp)
    val b = cids(gen)
    assert(a.keySet == b.keySet)
    val diverged = a.keys.filter(k => a(k) != b(k))
    assert(diverged.isEmpty,
      s"probe variants diverged on ${diverged.take(5).toList}: " +
        diverged.take(1).map(k => s"${a(k)} vs ${b(k)}").mkString)
    // the gen variant's probe projection compiles into whole-stage
    // codegen (the interpreted CodegenFallback breaks the stage);
    // collect first so AQE finalizes the physical plan
    val df = emb.select(gen.probeCidsPublic($"embedding", sups, chs)
      .as("cids"))
    df.collect()
    // `*(n)` is the simple-string marker of a WholeStageCodegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches(
      "(?s).*\\*\\(\\d+\\) Project \\[graft_hier_probe_gen.*"),
      s"batch probe fell out of whole-stage codegen:\n$plan")
    val interpPlanDf = emb.select(
      interp.probeCidsPublic($"embedding", sups, chs).as("cids"))
    interpPlanDf.collect()
    val interpPlan = interpPlanDf.queryExecution.executedPlan.toString
    assert(!interpPlan.matches(
      "(?s).*\\*\\(\\d+\\) Project \\[graft_hier_probe\\(.*"),
      s"sanity: the interpreted variant should not claim codegen:\n" +
        interpPlan)
  }

  test("repeated construction of a content-equal index reuses ONE " +
      "registered function (digest-keyed memo, ADVICE r19)") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val emb = graft.Tables.embeddings(spark, d)
    val idx0 = new Similarity.HierIvfIndex(k = 64, nprobe = 24)
    val (sups, chs) = idx0.train(emb, "vec_id", "embedding")
    // prime the cache with this content
    emb.select(idx0.cidCol($"embedding", sups, chs)).head
    val before = graft.functions.VectorFunctions.hierFnCacheSize
    // three FRESH index instances over deep-copied (content-equal)
    // matrices: reference keying would register 3 new functions and pin
    // 3 more matrix copies; digest keying must not grow the cache
    for (_ <- 1 to 3) {
      val sc = sups.map(_.clone())
      val cc = chs.map(_.map(_.clone()))
      val idx = new Similarity.HierIvfIndex(k = 64, nprobe = 24)
      emb.select(idx.cidCol($"embedding", sc, cc)).head
      emb.select(idx.probeCidsPublic($"embedding", sc, cc)).head
    }
    val after = graft.functions.VectorFunctions.hierFnCacheSize
    assert(after == before,
      s"content-equal reconstruction grew the function cache: " +
        s"$before -> $after")
  }

  test("a probe assigns each corpus row its list once, above the " +
      "corpus's own exchange") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val idx = new Similarity.HierIvfIndex(k = 64, nprobe = 24)
    val (sups, chs) = idx.train(emb, "vec_id", "embedding")
    val df = idx.annTopKTrained(sups, chs, emb, "vec_id", "embedding",
      emb.filter($"vec_id" < 5), "vec_id", "embedding", 10)
    assert(df.collect().nonEmpty)
    // the post-AQE plan alone: the initial plan repeats every expression
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert("graft_hier_cid_ref\\(".r.findAllMatchIn(plan).size == 1,
      s"the list id is not evaluated exactly once:\n$plan")
  }
}
