package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed call into a layer. `startMs`/`endMs` are wall-clock
  * milliseconds, the clock Spark stamps its listener events with; the
  * duration comes from the monotonic clock.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    synthetic: Boolean = false) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded around the benchmark's calls into the engine. Disabled,
  * `span` just runs its body. Spans stay in memory until [[write]].
  */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = -1
  private var nextOp = 0

  /** Runs `body` as a new op (a root span) and returns its result. */
  def op[A](name: String)(body: => A): A = {
    opId = nextOp; nextOp += 1
    try span(name)(body) finally opId = -1
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the slot so ids follow start order
      stack = id :: stack
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, opId, name, s0, System.nanoTime(),
          m0, System.currentTimeMillis())
      }
    }

  /** Records a child of the innermost open span whose duration was
    * measured by a separate call (the parse timed alone).
    */
  def synthetic(name: String, ms: Double): Unit =
    if (enabled) {
      val now = System.nanoTime()
      val wall = System.currentTimeMillis()
      spans += Span(spans.length, stack.headOption.getOrElse(-1), opId, name,
        now - (ms * 1e6).toLong, now, wall, wall, synthetic = true)
    }

  def roots: Seq[Span] = spans.toSeq.filter(_.parent < 0)
  def children: Map[Int, Seq[Span]] = spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Self time per span: duration minus the time its children cover. */
  def selfMs: Map[Int, Double] = {
    val kids = children
    spans.map(s => s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        f""""dur_ms":${s.ms}%.3f}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark job, stage and task events, timestamped by Spark itself and
  * attributed afterwards to the innermost span whose interval holds them.
  */
final class ExecListener extends SparkListener {
  import ExecListener.Task
  val jobs = new ConcurrentLinkedQueue[(Int, Long)]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add((e.jobId, e.time)); lastEventNs = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.add((e.jobId, e.time)); lastEventNs = System.nanoTime()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.add(e.stageInfo.submissionTime.map(Long.box).getOrElse(Long.box(System.currentTimeMillis())))
    lastEventNs = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      tasks.add(Task(i.launchTime, i.duration, math.max(0L, delay),
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
    lastEventNs = System.nanoTime()
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a while, so the attribution sees all events of the run.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (jobs.size != jobEnds.size || System.nanoTime() - lastEventNs < 300000000L))
      Thread.sleep(50)
  }

  /** Per-span counts: jobs, job busy intervals, stages and tasks whose
    * timestamp falls inside the span and inside none of its children.
    */
  final class Attribution(tracer: Tracer) {
    private val timed = tracer.spans.toSeq.filterNot(_.synthetic)
    /** Innermost span holding `t`: spans nest, so the last one opened. */
    private def at(t: Long): Option[Span] =
      timed.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.id)
    private val ends = jobEnds.asScala.toMap
    val jobsBySpan: Map[Int, Seq[(Long, Long)]] = jobs.asScala.toSeq
      .flatMap { case (id, t) => at(t).map(s => s.id -> (t, ends.getOrElse(id, t))) }
      .groupMap(_._1)(_._2)
    val stagesBySpan: Map[Int, Int] = stages.asScala.toSeq
      .flatMap(t => at(t.longValue).map(_.id)).groupMapReduce(identity)(_ => 1)(_ + _)
    val tasksBySpan: Map[Int, Seq[Task]] = tasks.asScala.toSeq
      .flatMap(t => at(t.launchMs).map(_.id -> t)).groupMap(_._1)(_._2)
  }
}

object ExecListener {
  final case class Task(launchMs: Long, durMs: Long, schedDelayMs: Long,
      inputRows: Long, shuffleBytes: Long, spillBytes: Long)
}
