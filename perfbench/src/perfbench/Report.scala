package perfbench

import java.nio.file.{Files, Paths}

/** Turns a finished run into its metrics: the end-to-end set from the
  * untraced cycles, the per-layer set from the traced ones, the run
  * environment, and the one-line JSON result the runner prints last.
  */
final class Report(a: Main.Args, ctx: Ctx, w: Workload,
    setups: Seq[(Double, Map[String, Double])], sessionMs: Double, warmMs: Double,
    cycles: Int, listener: Option[ExecListener]) {
  import Report._

  private val untraced = ctx.ops.filter(!_.traced).toSeq

  /** Ops per second over the untraced timed regions (saves included). */
  private def rate(tr: Boolean): Double =
    ctx.unitsDone(tr) / math.max(1e-9, ctx.timedNs(tr) / 1e9)

  lazy val endToEnd: Seq[(String, Double, String)] = {
    val ms = untraced.map(_.ms)
    val (tailQ, tail) = tailPercentile(ms)
    Seq(
      ("setup_s", median(setups.map(_._1)) / 1000.0, "s"),
      ("ops_per_s", rate(false), "op/s"),
      ("p50_ms", percentile(ms, 0.5), "ms"),
      ("p90_ms", tail, "ms"),
      ("heap_live_mb", liveHeapMb(), "MB")) ++
      w.extraMetrics ++
      Seq(("fail_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
        ("samples", ms.size.toDouble, "count"),
        ("p90_quantile", tailQ, "ratio"))
  }

  def perLayer: Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val l = listener.get
    l.drain()
    val attr = new l.Attribution(t)
    val self = t.selfMs
    val roots = t.roots
    val nOps = math.max(1, roots.count(_.name != "save"))
    def layerMs(name: String): Double =
      t.spans.filter(_.name == name).map(s => self(s.id)).sum / nOps
    val allTasks = attr.tasksBySpan.values.flatten.toSeq
    val allJobs = attr.jobsBySpan.values.flatten.toSeq
    def perOp(x: Double): Double = x / nOps
    // op wall during which no Spark job ran: the driver-side serial part
    val opSpans = t.spans.groupBy(_.op)
    val driverMs = roots.map { r =>
      val busy = opSpans.getOrElse(r.op, Nil).flatMap(s => attr.jobsBySpan.getOrElse(s.id, Nil))
        .map { case (s, e) => (math.max(s, r.startMs), math.min(e, r.endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var upTo = Long.MinValue
      busy.foreach { case (s, e) =>
        val from = math.max(s, upTo)
        if (e > from) covered += e - from
        upTo = math.max(upTo, e)
      }
      math.max(0.0, r.ms - covered)
    }.sum
    val dedupJobs = t.spans.filter(_.name.startsWith("dedup."))
      .map(s => attr.jobsBySpan.getOrElse(s.id, Nil).size).sum
    val setupMed = (k: String) => median(setups.flatMap(_._2.get(k)))
    val unattributed = roots.map(r => self(r.id)).sum / nOps
    val overhead = rate(false) / math.max(1e-9, rate(true)) - 1.0
    val extras = w.layerExtras
    val base = Seq(
      ("gql.parse_ms", layerMs("gql.parse"), "ms"),
      ("gql.compile_ms", layerMs("gql.compile"), "ms"),
      ("catalyst.optimize_ms", layerMs("catalyst.optimize"), "ms"),
      ("catalyst.physical_ms", layerMs("catalyst.physical"), "ms"),
      ("exec.ms", layerMs("exec"), "ms"),
      ("exec.jobs", perOp(allJobs.size), "count"),
      ("exec.stages", perOp(attr.stagesBySpan.values.sum), "count"),
      ("exec.tasks", perOp(allTasks.size), "count"),
      ("exec.task_p50_ms", percentile(allTasks.map(_.durMs.toDouble), 0.5), "ms"),
      ("exec.task_max_ms", allTasks.map(_.durMs.toDouble).maxOption.getOrElse(0.0), "ms"),
      ("exec.sched_delay_ms", perOp(allTasks.map(_.schedDelayMs).sum.toDouble), "ms"),
      ("exec.input_rows", perOp(allTasks.map(_.inputRows).sum.toDouble), "count"),
      ("exec.shuffle_bytes", perOp(allTasks.map(_.shuffleBytes).sum.toDouble), "bytes"),
      ("exec.spill_bytes", perOp(allTasks.map(_.spillBytes).sum.toDouble), "bytes"),
      ("exec.driver_ms", driverMs / nOps, "ms"),
      ("graph.dml_ms", layerMs("graph.dml"), "ms"),
      ("graph.plan_nodes", extras.getOrElse("graph.plan_nodes", 0.0), "count"),
      ("graph.partitions", extras.getOrElse("graph.partitions", 0.0), "count"),
      ("catalog.save_ms", layerMs("catalog.save"), "ms"),
      ("catalog.load_ms", extras.getOrElse("catalog.load_ms", 0.0), "ms"),
      ("catalog.files_written", extras.getOrElse("catalog.files_written", 0.0), "count"),
      ("catalog.bytes_written", extras.getOrElse("catalog.bytes_written", 0.0), "bytes"),
      ("dedup.exact_ms", layerMs("dedup.exact"), "ms"),
      ("dedup.near_ms", layerMs("dedup.near"), "ms"),
      ("dedup.jobs", perOp(dedupJobs), "count"),
      ("dedup.admit_ratio", extras.getOrElse("dedup.admit_ratio", 0.0), "ratio"),
      ("dedup.state_files", extras.getOrElse("dedup.state_files", 0.0), "count"),
      ("dedup.state_bytes", extras.getOrElse("dedup.state_bytes", 0.0), "bytes"),
      ("similarity.train_ms", setupMed("similarity.train_ms"), "ms"),
      ("similarity.probe_ms", layerMs("similarity.probe"), "ms"),
      ("similarity.recall_at_10", extras.getOrElse("similarity.recall_at_10", 0.0), "ratio"),
      ("setup.session_ms", sessionMs, "ms"),
      ("setup.tables_ms", setupMed("setup.tables_ms"), "ms"),
      ("setup.graph_build_ms", setupMed("setup.graph_build_ms"), "ms"),
      ("setup.warmup_ms", warmMs, "ms"),
      ("trace.op_ms", roots.map(_.ms).sum / nOps, "ms"),
      ("trace.unattributed_ms", unattributed, "ms"),
      ("trace.overhead_frac", overhead, "ratio"))
    // the workload-specific end-to-end figures, 0 where a workload has none
    val e2e = endToEnd.map(m => m._1 -> m).toMap
    base ++ WorkloadSpecific.map { case (n, u) => e2e.getOrElse(n, (n, 0.0, u)) }
  }

  def env: Seq[(String, String)] = {
    val rt = Runtime.getRuntime
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "sf" -> a.sf.toString,
      "trace" -> (if (a.trace) "1" else "0"), "seconds" -> a.seconds.toString,
      "cycles" -> cycles.toString, "setups" -> Main.Setups.toString,
      "nproc" -> rt.availableProcessors.toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "heap_max_mb" -> (rt.maxMemory >> 20).toString,
      "spark" -> ctx.spark.version,
      "spark_confs" -> Main.sparkConfs(Main.Cpus, ctx.root)
        .filterNot(_._1.endsWith(".dir")).map { case (k, v) => s"$k=$v" }.mkString(","),
      "source_digest" -> a.digest, "git_commit" -> a.commit,
      "load_avg_1m" -> f"${os.getSystemLoadAverage}%.2f",
      "cpu_steal_frac" -> {
        // share of CPU time the hypervisor gave to others during the run
        val ((s0, t0), (s1, t1)) = (Main.startJiffies, Main.cpuJiffies())
        f"${(s1 - s0).toDouble / math.max(1L, t1 - t0)}%.3f"
      })
  }

  def print(): Unit = {
    val e2e = endToEnd
    val layers = if (a.trace) perLayer else Nil
    val out = Console.out
    env.foreach { case (k, v) => out.println(f"env    $k%-22s $v") }
    val all = (e2e ++ layers).distinctBy(_._1)
    all.foreach { case (n, v, u) => out.println(f"metric $n%-24s $v%14.4f $u") }
    ctx.failureList.foreach(f => out.println(s"failure $f"))
    val gated = if (a.trace) layers.filter(m => Report.PerLayer.contains(m._1))
      else e2e.filter(m => Report.EndToEnd.contains(m._1))
    val json = s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {""" +
      gated.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
    // the full record, environment included, stays with the checkout
    val res = Paths.get(a.out, "results",
      s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.createDirectories(res.getParent)
    Files.writeString(res, "{\"env\": {" + env.map { case (k, v) =>
      s""""$k": "${v.replace("\"", "'")}"""" }.mkString(", ") + "}, \"metrics\": {" +
      all.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}, \"result\": " + json + "}\n")
    if (a.trace) ctx.tracer.write(Paths.get(a.out, "traces",
      s"${a.workload}-seed${a.seed}.jsonl"))
    out.println(json)
    out.flush()
  }
}

object Report {
  /** End-to-end figures that are printed on every run and carried in the
    * traced result, but not gated: those only some workloads have, and
    * `p90_ms`, which is the median while a run holds 20 samples or fewer.
    */
  val WorkloadSpecific: Seq[(String, String)] = Seq("p90_ms" -> "ms", "read_p50_ms" -> "ms",
    "read_p90_ms" -> "ms", "write_p50_ms" -> "ms", "write_p90_ms" -> "ms",
    "stored_bytes_ratio" -> "ratio", "fail_frac" -> "ratio")

  /** The metric names `BENCHMARK.json` lists; the JSON result carries
    * exactly these (end-to-end untraced, per-layer traced).
    */
  val EndToEnd = Set("setup_s", "ops_per_s", "p50_ms", "heap_live_mb")
  val PerLayer: Set[String] = Set("gql.parse_ms", "gql.compile_ms",
    "catalyst.optimize_ms", "catalyst.physical_ms", "exec.ms", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_p50_ms", "exec.task_max_ms",
    "exec.sched_delay_ms", "exec.input_rows", "exec.shuffle_bytes",
    "exec.spill_bytes", "exec.driver_ms", "graph.dml_ms", "graph.plan_nodes",
    "graph.partitions", "catalog.save_ms", "catalog.load_ms",
    "catalog.files_written", "catalog.bytes_written", "dedup.exact_ms",
    "dedup.near_ms", "dedup.jobs", "dedup.admit_ratio", "dedup.state_files",
    "dedup.state_bytes", "similarity.train_ms", "similarity.probe_ms",
    "similarity.recall_at_10", "setup.session_ms", "setup.tables_ms",
    "setup.graph_build_ms", "setup.warmup_ms", "trace.op_ms",
    "trace.unattributed_ms", "trace.overhead_frac") ++ WorkloadSpecific.map(_._1)


  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Harrell-Davis estimate of the `q` quantile (0 for an empty sample):
    * a Beta-weighted mean of all order statistics. A run holds few samples
    * of several op kinds with gaps between them, and a single order
    * statistic there jumps between kinds from run to run.
    */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(0.0)
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, q * (n + 1), (1 - q) * (n + 1))
      s.indices.map(i =>
        s(i) * (beta.cumulativeProbability((i + 1.0) / n) -
          beta.cumulativeProbability(i.toDouble / n))).sum
    }
  /** The sample median: the middle value, or the mean of the middle two. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** p90 where the sample holds 100 or more; otherwise the highest
    * percentile with at least ten samples beyond it, and never below
    * the median. Returns (quantile used, value).
    */
  def tailPercentile(xs: Seq[Double]): (Double, Double) = {
    val q = if (xs.size >= 100) 0.9
      else math.max(0.5, math.min(0.9, 1.0 - 10.0 / math.max(1, xs.size)))
    (q, percentile(xs, q))
  }

  /** Used heap after forced collections, in MB: the least of five, as
    * Spark's cleaner frees blocks behind collected references in between.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }
}
