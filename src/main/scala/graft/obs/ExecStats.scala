package graft.obs

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.Listeners

/** What the Spark jobs of a stretch of driver code did: the jobs started,
  * the finished tasks' durations per stage, the input records those
  * tasks read (file-source rows decoded; shuffle reads excluded), and the
  * classes Spark's code generator compiled meanwhile.
  *
  * Records, not bytes: Hadoop FS byte statistics underreport on local
  * `file://` reads, while recordsRead is counted by the parquet reader
  * itself. On a page-cached box wall time hides an N× read reduction (a
  * pruned 1-file scan loses on parallelism to a hot 16-file scan), so
  * read-path measurements need this work metric — it is what a
  * 1000-executor cluster pays for.
  *
  * A listener sees every job of its SparkContext: jobs that other
  * threads run meanwhile are counted too. The compile count is wider
  * still: Spark's codegen cache and its counter are JVM-wide, so it
  * also counts classes compiled for other threads and other contexts.
  */
final class ExecStats extends SparkListener {
  private var jobCount = 0
  private var inputRecords = 0L
  private val byStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var compiled = 0L

  override def onJobStart(j: SparkListenerJobStart): Unit =
    synchronized { jobCount += 1 }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    byStage.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
      t.taskInfo.duration
    if (t.taskMetrics != null)
      inputRecords += t.taskMetrics.inputMetrics.recordsRead
  }

  def jobs: Int = synchronized(jobCount)
  def readRows: Long = synchronized(inputRecords)
  def stages: Int = synchronized(byStage.size)

  /** Classes compiled by Spark's code generator (Janino compiles, each
    * a miss of the JVM-wide codegen cache) while [[ExecStats.during]]
    * ran its body; a warm plan whose classes are all cached reads 0. */
  def codegenCompiles: Long = synchronized(compiled)

  /** Every finished task. */
  def tasks: ExecStats.Tasks =
    synchronized(ExecStats.Tasks.of(byStage.values.flatten.toSeq))

  /** The tasks of the heaviest stage (largest total task time): the
    * bottleneck stage, where skew bites first. */
  def heaviestStage: ExecStats.Tasks = synchronized(ExecStats.Tasks.of(
    if (byStage.isEmpty) Nil else byStage.values.maxBy(_.sum).toSeq))
}

object ExecStats {
  /** Count, median and max duration (ms) of a set of tasks. */
  final case class Tasks(n: Int, medMs: Long, maxMs: Long) {
    /** max / median: a straggler shows as max ≫ median long before the
      * wall time degrades. */
    def skew: Double = maxMs.toDouble / math.max(medMs.toDouble, 1.0)
  }

  object Tasks {
    def of(durations: Seq[Long]): Tasks = {
      val s = durations.sorted
      if (s.isEmpty) Tasks(0, 0L, 0L) else Tasks(s.size, s(s.size / 2), s.last)
    }
  }

  /** `body`'s result and the stats of the jobs it ran on `sc`. The
    * listener bus is drained on both sides, so neither an earlier job's
    * late events nor `body`'s own are misattributed.
    */
  def during[A](sc: SparkContext)(body: => A): (A, ExecStats) = {
    val stats = new ExecStats
    Listeners.drain(sc)
    sc.addSparkListener(stats)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val a = body
      stats.synchronized {
        stats.compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
      }
      Listeners.drain(sc)
      (a, stats)
    } finally sc.removeSparkListener(stats)
  }
}
