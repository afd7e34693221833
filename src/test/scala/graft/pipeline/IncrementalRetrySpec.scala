package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import graft.dedup.IncrementalDedup

/** Retry idempotence of the cross-run dedup entry points (r18): a batch
  * whose process died mid-commit is simply RE-RUN, and must return the
  * same admissions the failed attempt would have — a doc's own
  * committed state entry never suppresses it ("ghost suppression":
  * content in state that no successful run's output ever carried).
  * Other batches' entries still drop duplicates as before, and legacy
  * exact-state files (no rid column) keep the old always-drop rule.
  * Also pinned here: the state's life cycle (a path that does not exist
  * yet, a state in the pre-`near` layout) and the jobs a batch runs.
  */
class IncrementalRetrySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private def state() =
    tempDir("retry").toString

  test("dedupeExact: re-running a committed batch returns the same " +
      "admissions; other batches still dedup against it") {
    import spark.implicits._
    val st = state()
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.dedupeExact(df, "doc_id", "text", st)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val first = run(b1)
    assert(first == Seq(1L, 2L)) // in-batch dup 3 drops
    // crash-after-commit retry: same batch, same result (NOT empty)
    assert(run(b1) == first)
    assert(run(b1) == first) // and again
    // a DIFFERENT batch with the same content still drops
    val b2 = Seq((10L, "alpha beta"), (11L, "fresh text")).toDF("doc_id", "text")
    assert(run(b2) == Seq(11L))
    // retry of batch 2 as well
    assert(run(b2) == Seq(11L))
  }

  test("dedupeExact: legacy fp-only state rows keep the always-drop rule") {
    import spark.implicits._
    val st = state()
    // simulate a pre-r18 state: fingerprints without the rid column
    Seq("x").toDF("t")
      .select(graft.text.TextAnalysis.fingerprint($"t").as("fp"))
      .write.parquet(s"$st/exact")
    val b = Seq((5L, "x"), (6L, "y")).toDF("doc_id", "text")
    val got = IncrementalDedup.dedupeExact(b, "doc_id", "text", st)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(6L)) // 'x' drops against the legacy row
    // and the mixed-schema state still reads after the new append
    val b2 = Seq((7L, "y"), (8L, "z")).toDF("doc_id", "text")
    val got2 = IncrementalDedup.dedupeExact(b2, "doc_id", "text", st)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == Seq(8L))
    // compaction folds the mixed files and keeps both drop rules
    IncrementalDedup.compactState(spark, st)
    val b3 = Seq((9L, "x"), (10L, "z"), (11L, "w")).toDF("doc_id", "text")
    val got3 = IncrementalDedup.dedupeExact(b3, "doc_id", "text", st)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got3 == Seq(11L))
  }

  test("dedupeNear: re-running a committed batch returns the same " +
      "admissions; near-dups from other batches still drop") {
    import spark.implicits._
    val st = state()
    val b1 = Seq((1L, "aa bb cc dd ee"), (2L, "zz yy xx ww vv"),
      (3L, "aa bb cc dd ee")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.dedupeNear(df, "doc_id", "text", st,
          n = 2, numHashes = 16, bands = 4, tau = 0.7)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val first = run(b1)
    assert(first == Seq(1L, 2L)) // exact near-dup 3 drops in-batch
    assert(run(b1) == first) // retry: same admissions
    assert(run(b1) == first)
    val b2 = Seq((10L, "aa bb cc dd ee"), (11L, "qq rr ss tt uu"))
      .toDF("doc_id", "text")
    assert(run(b2) == Seq(11L)) // 10 drops vs batch-1 state
    assert(run(b2) == Seq(11L)) // and its retry is stable too
  }

  private def near(st: String, df: org.apache.spark.sql.DataFrame) =
    IncrementalDedup.dedupeNear(df, "doc_id", "text", st,
        n = 2, numHashes = 16, bands = 4, tau = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("both entry points create a state path that does not exist yet") {
    import spark.implicits._
    val root = tempDir("fresh")
    val b = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"),
      (3L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val exactSt = root.resolve("exact/state").toString
    assert(IncrementalDedup.dedupeExact(b, "doc_id", "text", exactSt)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(near(root.resolve("near/state").toString, b) == Seq(1L, 3L))
  }

  test("a state in the buckets + shingles layout gives the same " +
      "admissions, and is moved into near once") {
    import spark.implicits._
    val b1 = Seq((1L, "aa bb cc dd ee"), (2L, "zz yy xx ww vv"),
      (3L, "mm nn oo pp qq")).toDF("doc_id", "text")
    val b2 = Seq((10L, "aa bb cc dd ee"), (11L, "qq rr ss tt uu"),
      (12L, "zz yy xx ww vv ww")).toDF("doc_id", "text")
    val fresh = state()
    assert(near(fresh, b1) == Seq(1L, 2L, 3L))
    // the same committed batch, written as the old layout did: bucket
    // rows and shingle sets in two datasets, ids in the batch's type
    val legacy = state()
    val rows = spark.read.parquet(s"$fresh/near")
    rows.select($"id".cast("long").as("id"), $"band", $"bucket")
      .write.parquet(s"$legacy/buckets")
    rows.filter($"band" === 0).select($"id".cast("long").as("id"), $"shingles")
      .write.parquet(s"$legacy/shingles")
    val want = near(fresh, b2)
    assert(want == Seq(11L)) // 10 and 12 drop against batch 1
    assert(near(legacy, b2) == want)
    val dirs = new java.io.File(legacy).list().toSet
    assert(dirs("near") && !dirs("buckets") && !dirs("shingles"), dirs)
    // migrated ids still exclude a retried batch's own rows
    assert(near(legacy, b1) == Seq(1L, 2L, 3L))
    // compaction folds near (migrated and appended rows alike) in place
    IncrementalDedup.compactState(spark, legacy)
    assert(new java.io.File(legacy).list().toSet == dirs)
    val b3 = Seq((20L, "qq rr ss tt uu"), (21L, "ab cd ef gh ij"))
      .toDF("doc_id", "text")
    assert(near(legacy, b3) == near(fresh, b3))
    assert(near(legacy, b3) == Seq(21L))
  }

  test("a batch with history runs at most 7 exact jobs, and at most 15 " +
      "near jobs with one state append") {
    import spark.implicits._
    val st = state()
    val words = (0 until 40).map(i => s"w$i")
    // every 5th doc copies an earlier text, every 7th edits one word
    def docs(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map { i =>
        val r = new scala.util.Random(if (i % 5 == 0) i % 150 else i)
        val text = Seq.fill(12)(words(r.nextInt(words.size)))
        (i.toLong, (if (i % 7 == 0) text.updated(0, "edit") else text).mkString(" "))
      }.toDF("doc_id", "text")
    IncrementalDedup.dedupeNear(
      IncrementalDedup.dedupeExact(docs(0 until 200), "doc_id", "text", st),
      "doc_id", "text", st).collect()
    /** Write-job ids of the near dataset's files (part-<n>-<uuid>-c000). */
    def appends(): Set[String] = new java.io.File(s"$st/near").list().toSet
      .filter(_.endsWith(".parquet")).map(_.split("-").slice(2, 7).mkString("-"))
    val before = appends()
    val sc = spark.sparkContext
    val (exact, ex) = graft.obs.ExecStats.during(sc)(
      IncrementalDedup.dedupeExact(docs(200 until 400), "doc_id", "text", st))
    assert(ex.jobs <= 7, s"dedupeExact ran ${ex.jobs} jobs")
    val (admitted, nr) = graft.obs.ExecStats.during(sc)(
      IncrementalDedup.dedupeNear(exact, "doc_id", "text", st)
        .select("doc_id").collect())
    assert(nr.jobs <= 15, s"dedupeNear + collect ran ${nr.jobs} jobs")
    assert(admitted.nonEmpty && admitted.length < 200)
    assert((appends() -- before).size == 1)
  }
}
