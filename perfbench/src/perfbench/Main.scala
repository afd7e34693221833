package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One measured call: a query, a statement or a batch. */
final case class OpRec(kind: String, ms: Double, units: Long, traced: Boolean)

/** Everything a workload shares with the harness: the session, the data,
  * its private scratch root, the seed, the tracer and the op ledger.
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val root: Path,
    val seed: Long, val sf: Double, val tracer: Tracer) {
  val rnd = new scala.util.Random(seed)
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Wall time spent inside timed calls, per traced flag. */
  val timedNs = mutable.Map(false -> 0L, true -> 0L)
  val unitsDone = mutable.Map(false -> 0L, true -> 0L)

  /** Times `body` as one op of `kind` carrying `units` units of input
    * (docs for a batch, 1 otherwise). A throw counts as a failed op.
    */
  def op[A](kind: String, units: Long = 1L)(body: => A): Option[A] = {
    attempted += 1
    timed(kind, units, counted = true)(body)
  }

  /** Timed work that is not an op of its own (a periodic save). */
  def timed[A](kind: String, units: Long = 0L, counted: Boolean = false)(
      body: => A): Option[A] = {
    val traced = tracer.enabled
    val t0 = System.nanoTime()
    val r = try Some(tracer.op(kind)(body)) catch {
      case e: Exception =>
        fail(s"$kind threw ${e.toString.take(300)}")
        None
    }
    val ns = System.nanoTime() - t0
    timedNs(traced) += ns
    unitsDone(traced) += units
    if (counted && r.isDefined) ops += OpRec(kind, ns / 1e6, units, traced)
    r
  }

  /** An op of `kind` that could not be issued: attempted and failed. */
  def skip(kind: String, why: String): Unit = {
    attempted += 1
    fail(s"$kind skipped: $why")
  }

  /** Counts a wrong result against the op just run. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) {
      failures += what
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }
  def failureList: Seq[String] = failures.toSeq

  /** A fresh session on the shared context, made the active one (the
    * engine registers its functions in the active session).
    */
  def newSession(): SparkSession = {
    val s = spark.newSession()
    SparkSession.setActiveSession(s)
    s
  }

  /** A fresh directory under the run's scratch root. */
  def scratch(name: String): String = {
    val p = root.resolve(name)
    Fs.rmrf(p)
    Files.createDirectories(p)
    p.toString
  }
}

/** A benchmark workload: set up (repeatably), run cycles, verify. */
abstract class Workload(val ctx: Ctx) {
  /** One set-up repetition; the last one's state is what the cycles use.
    * Returns its phase times in ms, keyed by per-layer metric name.
    */
  def setup(rep: Int): Map[String, Double]
  /** One measured cycle: a fixed, balanced unit of work. */
  def cycle(index: Int): Unit
  /** End-of-run correctness checks, outside every timed region. */
  def finish(): Unit = ()
  /** An untimed, unchecked full cycle on the first set-up's state, which
    * the next set-up discards, so the measured cycles run warm; must leave
    * no state the cycles depend on.
    */
  def warmup(): Unit
  /** End-to-end metrics that only this workload has (printed, not gated). */
  def extraMetrics: Seq[(String, Double, String)] = Nil
  /** Per-layer metrics read from outside the spans (state sizes, recall). */
  def layerExtras: Map[String, Double] = Map.empty
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, sf: Double = 0.1,
      out: String = ".bench_build", root: String = "", genData: Boolean = false,
      digest: String = "unknown", commit: String = "none")

  /** `local[Cpus]`, as the design fixes; set-ups per run: a cold one,
    * whose state the warm-up cycle uses, and a warm one the cycles use.
    */
  val Cpus = 4
  val Setups = 2

  def parseArgs(args: Array[String]): Args =
    args.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--sf", v)) => a.copy(sf = v.toDouble)
      case (a, Array("--out", v)) => a.copy(out = v)
      case (a, Array("--root", v)) => a.copy(root = v)
      case (a, Array("--gen-data", v)) => a.copy(genData = v == "1")
      case (a, Array("--digest", v)) => a.copy(digest = v)
      case (a, Array("--commit", v)) => a.copy(commit = v)
      case (_, other) => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }

  /** The Spark confs `graft.Bench` runs with,
    * plus scratch locations confined to this run's root.
    */
  def sparkConfs(cpus: Int, root: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> root.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> root.resolve("spark-warehouse").toString)

  def startSpark(a: Args, root: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    sparkConfs(Cpus, root).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def dataDir(a: Args): String =
    Paths.get(a.out, "data", s"sf${a.sf}-${DataGen.Version}").toAbsolutePath.toString

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "gql_read" => new GqlRead(ctx)
    case "gql_write" => new GqlWrite(ctx)
    case "corpus_ingest" => new CorpusIngest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** `body`'s result and its wall time in ms. */
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat, zeros elsewhere. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally f.close()
      (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
    } catch { case _: Exception => (0L, 0L) }
  val startJiffies: (Long, Long) = cpuJiffies()

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    require(a.root.nonEmpty, "--root (the run's scratch directory) is required")
    val root = Paths.get(a.root).toAbsolutePath
    Files.createDirectories(root)
    // a signal still removes the scratch root (Spark's own hooks stop it)
    sys.addShutdownHook(Fs.rmrf(root))
    val code =
      try {
        if (a.genData) {
          val spark = startSpark(a, root)
          try DataGen.ensure(spark, dataDir(a), a.sf) finally spark.stop()
          0
        } else run(a, root)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          1
      } finally Fs.rmrf(root)
    System.exit(code)
  }

  private def run(a: Args, root: Path): Int = {
    require(Files.exists(Paths.get(dataDir(a), "_COMPLETE")),
      s"no generated data at ${dataDir(a)}")
    val t0 = System.nanoTime()
    val spark = startSpark(a, root)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val listener = if (a.trace) Some(new ExecListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(false)
    val ctx = new Ctx(spark, dataDir(a), root, a.seed, a.sf, tracer)
    val w = workload(a.workload, ctx)
    try {
      // set-up repetitions on fresh sessions; setup_s is their median. An
      // untimed warm-up cycle after the first one runs the code paths the
      // cycles take, so later set-ups and every measured cycle run warm.
      var warmMs = 0.0
      val setups = (0 until Setups).map { rep =>
        val s0 = System.nanoTime()
        val phases = w.setup(rep)
        val ms = (System.nanoTime() - s0) / 1e6
        log(f"set-up $rep: ${ms / 1000}%.1f s")
        if (rep == 0) {
          val w0 = System.nanoTime()
          // an op that fails ends the warm-up early; the cycles count it
          try w.warmup() catch {
            case e: Exception => log(s"warm-up stopped: ${e.toString.take(300)}")
          }
          warmMs = (System.nanoTime() - w0) / 1e6
          log(f"warm-up: ${warmMs / 1000}%.1f s")
        }
        (ms, phases)
      }
      // measured cycles: untraced only, or alternating untraced/traced
      // starting and ending untraced, so the untraced cycles bracket the
      // traced ones and code still warming up does not bias the overhead
      var c = 0
      def timedS = ctx.timedNs.values.sum / 1e9
      while (c == 0 || timedS < a.seconds || (a.trace && (c < 3 || c % 2 == 0))) {
        tracer.enabled = a.trace && c % 2 == 1
        val c0 = System.nanoTime()
        w.cycle(c)
        log(f"cycle $c (traced ${tracer.enabled}): ${(System.nanoTime() - c0) / 1e9}%.1f s")
        c += 1
      }
      tracer.enabled = false
      val (_, finishMs) = time(w.finish())
      log(f"checks: ${finishMs / 1000}%.1f s")
      val report = new Report(a, ctx, w, setups, sessionMs, warmMs, c, listener)
      report.print()
      0
    } finally spark.stop()
  }
}
