package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FormattedMode
import graft.plans.{BucketDynamicPrune, BucketPrune, MirrorSwap}

/** Evidence writes one file per item (formatted plan, executed plan,
  * stats line), plans an `@-<Rule>` item with that rule off, restores
  * every rule flag however the run ends, and leaves the caller's session
  * running.
  */
class EvidenceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark
  private val sf = "/root/testdata/sf0.01"
  // a join-seeded reverse hop: BucketDynamicPrune gives its second hop
  // a runtime bucket filter
  private val q = "gql39_seeded_reverse_hop"

  private def flags =
    Seq(BucketPrune.enabled, BucketDynamicPrune.enabled, MirrorSwap.enabled)

  /** A plan without what differs between two plannings of one query:
    * expression and plan ids, and the graph version a save wrote. */
  private def norm(plan: String): String = plan
    .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("/v\\d+/", "/v/").trim

  private def formatted(file: String): String =
    file.substring(file.indexOf("== Formatted plan ==\n") + 21,
      file.indexOf("== Executed plan"))

  test("one file per item holds both plans and the stats line; an " +
      "@-BucketDynamicPrune item plans as the query does with the rule off") {
    assume(new java.io.File(sf).isDirectory, "the sf0.01 tier is not present")
    val out = tempDir("evidence")
    val items = Seq(q, s"$q@-BucketDynamicPrune")
    val files = Evidence.run(spark, sf, out.toString, items)
    assert(files.map(_.getFileName.toString) == items.map(_ + ".txt"))
    assert(out.toFile.list().length == items.size)
    val texts = files.map(Files.readString)
    val stats = ("stats: wall [\\d.]+ s, jobs \\d+, stages \\d+, tasks \\d+, " +
      "task ms median \\d+ max \\d+, heaviest stage tasks \\d+ median \\d+ " +
      "max \\d+, input rows \\d+, save stages: .*commit=").r
    texts.foreach { t =>
      assert(formatted(t).contains("== Physical Plan =="), t)
      assert(t.contains("AdaptiveSparkPlan isFinalPlan=true"), t)
      assert(stats.findFirstIn(t).isDefined, t)
    }
    BucketDynamicPrune.enabled = false
    val off =
      try SparkEntry.queries(q)(spark, sf).queryExecution.explainString(FormattedMode)
      finally BucketDynamicPrune.enabled = true
    assert(norm(formatted(texts(1))) == norm(off))
    // the item did switch the rule off: on, the hop's scan prunes at runtime
    assert(formatted(texts(0)).contains("dynamicpruningexpression"))
    assert(!formatted(texts(1)).contains("dynamicpruningexpression"))
    assert(flags.forall(identity))
    assert(!spark.sparkContext.isStopped)
  }

  test("a run naming an unknown query fails, names it and restores " +
      "every rule flag; so does one failing inside the rule-off window") {
    val out = tempDir("evidence")
    val e = intercept[IllegalArgumentException](Evidence.run(spark, sf,
      out.toString, Seq(s"$q@-MirrorSwap", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(out.toFile.list().isEmpty, "items are resolved before any runs")
    assert(flags.forall(identity))
    // the query's input is missing: it fails with BucketPrune off
    intercept[Exception](Evidence.run(spark, out.resolve("missing").toString,
      out.toString, Seq(s"$q@-BucketPrune")))
    assert(flags.forall(identity))
    assert(!spark.sparkContext.isStopped)
  }
}
