package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{BucketDynamicPrune, BucketPrune, MirrorSwap}

/** A scale tier is a salted N× copy of a data directory that Evidence
  * items run over unchanged; the scale shapes with no board row run as
  * items too, and a rule-off twin restores the rule's flag.
  */
class ScaleProbeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark
  private val sf = "/root/testdata/sf0.001"

  private def flags =
    Seq(BucketPrune.enabled, BucketDynamicPrune.enabled, MirrorSwap.enabled)

  private def inputRows(file: java.nio.file.Path): Long =
    "input rows (\\d+)".r.findFirstMatchIn(Files.readString(file))
      .getOrElse(fail(s"no input rows in $file")).group(1).toLong

  test("a 2-copy tier doubles customer and orders with disjoint keys; " +
      "over it the gql38 pair reads fewer input rows with MirrorSwap on") {
    assume(new java.io.File(sf).isDirectory, "the sf0.001 tier is not present")
    val tier = tempDir("tier2x").toString
    ScaleProbe.buildScaled(spark, sf, tier, 2)
    Seq(("customer", "c_custkey"), ("orders", "o_orderkey")).foreach {
      case (table, key) =>
        val base = Tables.load(spark, sf, table)
        val scaled = Tables.load(spark, tier, table)
        assert(scaled.count() == 2 * base.count(), table)
        assert(scaled.select(key).distinct().count() ==
          2 * base.select(key).distinct().count(), table)
    }
    // an item's stats include its setup save, and the first save of an
    // index samples its bucket boundaries (later saves reuse them):
    // naming the item twice keeps its warm pass, so both arms compare
    // warm
    val q = "gql38_reverse_hop"
    val Seq(on, off) = Evidence.run(spark, tier, tempDir("evidence").toString,
      Seq(q, q, s"$q@-MirrorSwap")).distinct
    assert(inputRows(on) < inputRows(off), (inputRows(on), inputRows(off)))
    assert(flags.forall(identity))
  }

  test("scale shapes share no name with the board; a shape runs with " +
      "a rule off and restores the rule's flag") {
    assert(ScaleProbe.shapes.keySet.intersect(SparkEntry.queries.keySet).isEmpty)
    assume(new java.io.File(sf).isDirectory, "the sf0.001 tier is not present")
    val out = tempDir("evidence")
    val Seq(file) = Evidence.run(spark, sf, out.toString, Seq("bprune_bfs@-BucketPrune"))
    assert(file.getFileName.toString == "bprune_bfs@-BucketPrune.txt")
    assert(Files.readString(file).contains("stats: wall"))
    assert(flags.forall(identity))
  }
}
