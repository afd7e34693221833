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
}
