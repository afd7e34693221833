package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.graph.GraphCatalog
import graft.obs.ExecStats

/** Plan and execution evidence for board queries, one file per item.
  *
  * An item is a [[SparkEntry.queries]] name or a [[ScaleProbe.shapes]]
  * name, optionally followed by `@-<Rule>` (`BucketPrune`,
  * `BucketDynamicPrune` or `MirrorSwap`): the item then runs with that
  * optimizer rule's `enabled` flag off, so a before/after pair differs
  * by one rule at one commit. `<item>.txt` holds the formatted plan, the
  * executed plan once adaptive execution has finalized it (the item's
  * own QueryExecution runs, not a count() on top of it), and one stats
  * line: wall time, jobs, stages, tasks, median and max task ms, the
  * heaviest stage's task count and median and max task ms, input rows,
  * and the save's stages when the item saved a graph. The stats cover
  * the item's whole body, its setup saves included.
  *
  * Run: `sbt "runMain graft.Evidence <sfDir> <outDir>
  * gql39_seeded_reverse_hop gql39_seeded_reverse_hop@-BucketDynamicPrune"`
  * (plans/README.md lists the committed items). Over a scale tier
  * ([[ScaleProbe]]) `<sfDir>` is the tier's directory.
  */
object Evidence {
  /** The `enabled` flag setter of each rule an item can switch off. */
  private val rules: Map[String, Boolean => Unit] = Map(
    "BucketPrune" -> (graft.plans.BucketPrune.enabled = _),
    "BucketDynamicPrune" -> (graft.plans.BucketDynamicPrune.enabled = _),
    "MirrorSwap" -> (graft.plans.MirrorSwap.enabled = _))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Evidence <sfDir> <outDir> <item>...")
    val spark = LocalSpark(LocalSpark.cpus(8), "ERROR")
    try run(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  /** Writes `<outDir>/<item>.txt` for each item and returns the files.
    * Every item is resolved before any runs, so a misspelt one fails
    * the call up front and names itself.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      items: Seq[String]): Seq[Path] = {
    val resolved = items.map { item =>
      val parts = item.split("@-", 2)
      val query = SparkEntry.queries.get(parts(0))
        .orElse(ScaleProbe.shapes.get(parts(0))).getOrElse(
        throw new IllegalArgumentException(s"unknown query '${parts(0)}' in item '$item'"))
      val rule = parts.lift(1).map(r => rules.getOrElse(r,
        throw new IllegalArgumentException(s"unknown rule '$r' in item '$item'; " +
          s"one of ${rules.keys.toSeq.sorted.mkString(", ")}")))
      (item, query, rule)
    }
    Files.createDirectories(Paths.get(outDir))
    resolved.map { case (item, query, rule) =>
      val saves = GraphCatalog.lastSaveStages
      rule.foreach(_(false))
      val ((formatted, executed, wall), st) =
        try ExecStats.during(spark.sparkContext) {
          val t0 = System.nanoTime()
          val df = query(spark, sfDir)
          val formatted = df.queryExecution.explainString(FormattedMode)
          df.collect()
          (formatted, df.queryExecution.executedPlan.toString,
            (System.nanoTime() - t0) / 1e9)
        } finally rule.foreach(_(true))
      val t = st.tasks
      val h = st.heaviestStage
      val saved = GraphCatalog.lastSaveStages
      val saveStages = if (saved eq saves) "" else saved
        .map { case (k, v) => f"$k=$v%.3f" }.mkString(", save stages: ", ", ", "")
      val file = Paths.get(outDir, s"$item.txt")
      Files.writeString(file,
        s"# $item\n\n== Formatted plan ==\n$formatted\n" +
          s"== Executed plan (after AQE) ==\n$executed\n\n" +
          f"stats: wall $wall%.3f s, jobs ${st.jobs}, stages ${st.stages}, " +
          s"tasks ${t.n}, task ms median ${t.medMs} max ${t.maxMs}, " +
          s"heaviest stage tasks ${h.n} median ${h.medMs} max ${h.maxMs}, " +
          s"input rows ${st.readRows}$saveStages\n")
      println(s"wrote $file")
      file
    }
  }
}
