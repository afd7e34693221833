package graft

/** Per-round benchmark main (driver contract): times every SparkEntry
  * query at SPARK_GRAFT_SF_DIR and prints one JSON line.
  * Session warm-up runs first so the first query is not charged JVM /
  * codegen / parquet-footer costs; queries run in sorted name order.
  */
object Bench {
  /** Even a fatal setup crash must leave one parseable JSON line with the
    * exception message — a bench artifact holding only a truncated stack
    * tail is undiagnosable after the fact.
    */
  def main(args: Array[String]): Unit =
    try run()
    catch {
      case e: Throwable =>
        val msg = graft.util.Json.escape(
          Option(e.getMessage).getOrElse(e.toString).take(300))
        println(s"""{"metric":"total","value":-1.000,"unit":"sec","queries":{},"sf":"?","fatal":"${e.getClass.getSimpleName}: $msg"}""")
        throw e
    }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus(4)
    val spark = LocalSpark(cpus, "WARN")
    // warm-up: JVM + whole-stage codegen + one shuffle + parquet footers,
    // through the same accessors queries use (so the events ns→µs
    // conversion and the documents/embeddings scan widening warm too)
    // a broken loader must not kill the bench in warm-up (a whole round's
    // timings were lost that way once): warm-up failures are reported on
    // stderr, and the affected queries then fail per-query with their own
    // recorded errors
    def warm(what: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          System.err.println(s"[bench] warm-up '$what' failed: $e")
      }
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(t =>
      warm(s"load $t")(Tables.load(spark, sfDir, t).count()))
    // full-column scans: count() prunes to zero columns, so the wide
    // text/vector columns (the bulk of the bytes the d*/e* queries read)
    // would otherwise hit cold storage inside the first measured query
    warm("text/vector scans") {
      import org.apache.spark.sql.functions._
      Tables.documents(spark, sfDir)
        .select(sum(length(col("text")))).collect()
      Tables.embeddings(spark, sfDir)
        .select(sum(size(col("embedding")))).collect()
    }
    warm("events")(Tables.events(spark, sfDir).count())
    // JIT/codegen steady state for the dedup/similarity pipelines: the
    // fused hash expressions (ShingleHash / MinHashSignature / SimHash60 /
    // CosineSimilarity) and the md5+agg shuffle path need ~10^4 row
    // invocations before C2 compiles the hot loops — run the same-shaped
    // pipelines on synthetic rows so the measured d*/e* queries see
    // compiled code, not interpreter warm-up
    warm("pipeline codegen") {
      import org.apache.spark.sql.functions._
      val warmDocs = spark.range(20000).select(col("id").as("doc_id"),
        concat_ws(" ", lit("alpha beta gamma delta"),
          (col("id") % 97).cast("string"),
          lit("epsilon zeta eta theta iota kappa")).as("text"))
      graft.dedup.Dedup.exactDupGroups(warmDocs, "text", "doc_id").count()
      warmDocs.select(
        graft.dedup.Dedup.minhashSignature(col("text"), 3, 32).as("sig"),
        graft.dedup.Dedup.simhash60(col("text")).as("sh")).count()
      graft.dedup.Dedup.nearDupPairs(warmDocs.limit(2000), "doc_id", "text",
        n = 3, numHashes = 32).count()
      val warmVecs = spark.range(2000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(31)),
          i => sin(col("id") * 8 + i).cast("float")).as("embedding"))
      graft.similarity.Similarity.knnBruteForce(warmVecs, "vec_id", "embedding",
        warmVecs.limit(8), "vec_id", "embedding", 5).count()
      // IVF path: k-means train + probe join compile far outweighs the
      // per-row work at bench scale — warm it on the synthetic vectors
      new graft.similarity.Similarity.IvfIndex(k = 4, nprobe = 2)
        .annTopK(warmVecs, "vec_id", "embedding",
          warmVecs.limit(4), "vec_id", "embedding", 5).count()
      // session_window: state-format init + codegen for the session
      // merge path is ~2 s of pure first-run cost
      val warmEvents = spark.range(5000).select(
        (col("id") % 50).as("user_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 60000000L).as("ts"),
        (col("id") % 7).cast("double").as("value"))
      graft.streaming.EventPipeline.sessionized(warmEvents).count()
    }

    // Two full passes per query, report the per-query min: a single
    // contended pass has published 2-6x inflated numbers (driver runs
    // share the box with other tenants); the min of two runs is robust to
    // transient load spikes while measuring the same steady-state plan.
    // SPARK_GRAFT_ONLY=gql11,q01 restricts the run to the named query
    // prefixes — the reconciliation loop for a contested cross-round
    // number (same warm-up, same min-of-two, no 109-query wait)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(os => os.contains(n) || os.contains(n.takeWhile(_ != '_'))) }
    // a failed query must NOT be timed as if it ran — report it as -1 and
    // list it in "failed" so a broken query reads as broken, not fast;
    // keep the first exception line per query for the artifact
    val errors = scala.collection.mutable.Map.empty[String, String]
    def timeAll(): Map[String, Option[Double]] = named.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          errors.getOrElseUpdate(name,
            graft.util.Json.escape(e.toString.take(160)))
          false
        }
      name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
    }.toMap
    // Absolute-load calibration (round-14 verdict: the band sees the
    // DIFFERENCE between passes, so uniform ambient load that hits both
    // passes equally is invisible — r13's 42.2 s and r14's 49.8 s
    // artifacts were indistinguishable from code drift). Before each
    // timing pass a fixed-work CPU probe runs; its quiet-box constant is
    // committed below. A probe >1.2x the constant means other tenants
    // hold cores RIGHT NOW: wait out the spike (up to 3x15 s) before
    // spending a 40 s pass on numbers the round would have to disown.
    // All probe readings ride in the artifact ("cal", vs "cal0") so a
    // regression claim can first be checked against the machine state
    // that produced it.
    val cals = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probeGate(): Unit = cals += cpuGate(cpus, "bench")
    probeGate()
    val pass1 = timeAll()
    probeGate()
    val pass2 = timeAll()
    // Noisy-box escalation (round-13 verdict: BOTH driver passes ran
    // under heavy external load — pass totals 66.5/54.6 s vs a 42.2 s
    // min-sum — and per-query regressions were unreconcilable): when even
    // the BEST pass total exceeds the per-query min-sum by >1.3×, the
    // box was loaded during both passes, so buy one more full pass before
    // committing numbers. The extra pass rides in the band array (3
    // entries instead of 2) so the artifact says it happened.
    def bandTotalOf(p: Map[String, Option[Double]],
        names: Seq[String]): Double = names.flatMap(p(_)).sum
    val inBoth0 = named.map(_._1)
      .filter(n => pass1(n).isDefined && pass2(n).isDefined)
    val minSum0 = inBoth0
      .map(n => math.min(pass1(n).get, pass2(n).get)).sum
    val noisyBox = inBoth0.nonEmpty && minSum0 > 0 &&
      math.min(bandTotalOf(pass1, inBoth0), bandTotalOf(pass2, inBoth0)) /
        minSum0 > 1.3
    val passes: Seq[Map[String, Option[Double]]] =
      if (noisyBox) { probeGate(); Seq(pass1, pass2, timeAll()) }
      else Seq(pass1, pass2)
    val twoPass = named.map { case (name, _) =>
      val vs = passes.flatMap(_(name))
      name -> (if (vs.isEmpty) -1.0 else vs.min)
    }
    // Cross-round delta guard: round 11's driver artifact showed d06-d11
    // 1.5-4x slower than round 10 on unchanged code — a transient load
    // spike that min-of-two did not absorb. Any query whose min-of-two
    // exceeds its guard threshold vs the prior round gets up to two extra
    // passes before its number is committed; the extra-pass count per
    // query rides in "reruns" so the artifact itself says which numbers
    // were contested. Round 13 tightened the threshold for the queries
    // where noise can hide a real regression: when either side of the
    // comparison is >=0.5 s, rerun at 1.5x (gql11's 0.45 s -> 0.87 s
    // 1.94x move rode under the old uniform 2x bar precisely because its
    // PRIOR was small); sub-0.5 s pairs keep 2x. The 0.15 s absolute
    // floor stays on both, so ~0.1 s jitter never triggers passes.
    // focus set: queries with a history of unexplained cross-round moves
    // get the tightest bar regardless of magnitude (g03's 1.34× r13 move
    // rode inside the loaded-box band — make it earn extra passes).
    // r16 adds the four queries the r15 verdict flagged at +27-42% with
    // unchanged plans: d11 (since given the stored pair-graph artifact),
    // m01/m02 (multimodal decode), q18 (temporal registry). r17 adds the
    // two the r16 verdict flagged: gql04 (+31% artifact delta the quiet
    // window contradicted) and gql22 (clustered save — its code path
    // changed in r16, so moves there must earn extra passes).
    val guardFocus = Set("g03", "d11", "m01", "m02", "q18", "gql04", "gql22")
    def guardThreshold(key: String, p: Double, v: Double): Double =
      if (guardFocus(key)) 1.3 * p
      else if (p >= 0.5 || v >= 0.5) 1.5 * p
      else 2 * p
    val sfTagForPrior =
      sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val prior = priorRoundTimes(sfTagForPrior)
    val reruns = scala.collection.mutable.Map.empty[String, Int]
    val results = twoPass.map { case (name, v) =>
      val key = name.takeWhile(_ != '_')
      val suspect = prior.get(key).exists(p =>
        v >= 0 && p > 0 && v > guardThreshold(key, p, v) && v - p > 0.15)
      if (!suspect) name -> v
      else {
        var best = v
        var extra = 0
        val fn = SparkEntry.queries(name)
        while (extra < 2 &&
            prior.get(key).exists(p => best > guardThreshold(key, p, best))) {
          extra += 1
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count()
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => extra = 2 }
        }
        reruns(key) = extra
        name -> best
      }
    }
    val failed = results.collect { case (n, v) if v < 0 => n }
    // the driver parses the JSON from the tail of a 2 KB capture, so the
    // line must survive tail truncation intact: ms precision, a short sf
    // tag, and per-query keys shortened to their unique id prefix
    // ("g13_connected_components" → "g13") keep 94 queries under ~1.5 KB
    // (round 8's full names overflowed the capture and nulled `parsed`)
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // trailing zeros carry no information but count against the 2 KB
    // tail budget (1.000 → 1.0, 0.870 → 0.87; always >= one decimal so
    // every value stays an unambiguous JSON double)
    def f3t(v: Double): String = {
      val s = f3(v)
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t + "0" else t
    }
    val qs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + f3t(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val sfTag = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // error detail rides along only on failure (three entries max, so a
    // broken round stays within the driver's tail capture)
    val failedTag =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]") +
        failed.sorted.take(3)
          .map(n => "\"" + n + "\":\"" + errors.getOrElse(n, "?") + "\"")
          .mkString(",\"errors\":{", ",", "}")
    // the rerun map names which queries the delta guard re-timed — keep
    // it inline while short, collapse to a count when a noisy round
    // would otherwise push the line past the driver's 2 KB tail capture
    val rerunTag =
      if (reruns.isEmpty) ""
      else if (reruns.size <= 12)
        reruns.toSeq.sortBy(_._1)
          .map { case (k, n) => "\"" + k + "\":" + n }
          .mkString(",\"reruns\":{", ",", "}")
      else s""","reruns_n":${reruns.size}"""
    // physical layout of the input tables — [rows, files, row_groups,
    // bytes] per table, read from the parquet footers. Cross-round
    // per-query deltas are meaningless without this: a regenerated
    // single-row-group file serializes a scan that was 32-way parallel
    // the round before (that exact swing was misread as noise once).
    // Written to a SIDECAR file, not the stdout line: the r17 board
    // (125 queries) pushed the line past the driver's 2 KB tail capture
    // and nulled `parsed` — the layout map was the biggest non-query
    // term. target/BENCH_LAYOUT.json describes this run's inputs, beside
    // the build output so a run leaves the checkout clean (the committed
    // BENCH_LAYOUT.json is the round-21 record).
    val layoutJson = Tables.all.map { t =>
      val (rows, files, rgs, bytes) = parquetLayout(s"$sfDir/$t.parquet")
      s""""$t":[$rows,$files,$rgs,$bytes]"""
    }.mkString(s"""{"sf":"$sfTag","layout":{""", ",", "}}")
    try {
      val sidecar = java.nio.file.Paths.get("target", "BENCH_LAYOUT.json")
      java.nio.file.Files.createDirectories(sidecar.getParent)
      java.nio.file.Files.write(sidecar, (layoutJson + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] layout sidecar unwritable: $e")
    }
    // ambient-noise band: the totals of the two timing passes over the
    // queries that succeeded in BOTH (a query failing in exactly one
    // pass would otherwise inflate the band by its whole runtime and
    // mask real regressions of that size). The gap between the two
    // totals IS the machine's noise this run — a cross-round delta
    // smaller than this band is not evidence of a code regression.
    // Compact array form: the JSON line must survive a 2 KB tail capture.
    val inAll = named.map(_._1)
      .filter(n => passes.forall(_(n).isDefined))
    val band = passes.map(p => f3(bandTotalOf(p, inAll)))
      .mkString(""","band":[""", ",", "]")
    // a SPARK_GRAFT_ONLY subset run marks itself partial so the next
    // round's delta guard never adopts it as "the prior round" and
    // silently loses coverage for every other query
    val partialTag = if (only.isDefined) ""","partial":true""" else ""
    // calibration readings: one probe per timing pass vs the committed
    // quiet constant; a "loaded":true flag means the LAST probe still
    // exceeded the 1.2x gate after the waits, i.e. every number in this
    // artifact was taken on a contended box and cross-round deltas
    // against it are machine state, not code
    val calTag = cals.map(f3).mkString(
      s""","cal0":${f3(CalibrationQuiet)},"cal":[""", ",", "]") +
      (if (cals.nonEmpty && cals.last > 1.2 * CalibrationQuiet)
        ""","loaded":true""" else "")
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":"$sfTag"$partialTag$band$calTag$rerunTag$failedTag}"""
    // the driver captures a 2 KB stdout tail; a silent overflow nulls
    // the round's parsed artifact, so warn loudly while there is still
    // a round to fix it in
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: artifact line ${line.length} B " +
        "is nearing the driver's 2048 B tail capture")
    println(line)
    spark.stop()
  }

  /** Wall time of the fixed-work CPU probe on a quiet box: `cpus`
    * threads (~= cores in driver runs) each doing 150M xorshift rounds.
    * Measured on the round-15 quiet window at 32 threads on the 32-core
    * driver box: 0.34-0.43 s across reps, 0.34 s JIT-steady. The 1.2x
    * gate therefore trips at ~0.46 s — beyond the observed quiet spread
    * but well under the 2-6x readings a contended box produces (probe
    * wall time scales with runnable-thread oversubscription, exactly the
    * contention that inflated the r13/r14 driver artifacts).
    */
  private[graft] val CalibrationQuiet = 0.38

  /** Fixed-work CPU probe: wall-clock of `threads` xorshift workers.
    * Quiet, with threads <= cores, every worker gets its own core and
    * the wall time is the single-thread work time; under external load
    * workers queue behind other tenants' runnable threads and the wall
    * time inflates proportionally. A short unmeasured burst first keeps
    * C2 compilation out of the measured window.
    */
  private[graft] def cpuProbe(threads: Int): Double = {
    val work = 150000000L
    def burn(seed: Long, rounds: Long): Long = {
      var x = seed; var n = 0L
      while (n < rounds) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
      x
    }
    if (burn(1L, work / 15) == 42L) System.err.print("") // JIT warm
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() =>
        if (burn(0x9e3779b97f4a7c15L + i, work) == 42L) System.err.print(""))
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** A [[cpuProbe]] reading taken once the box is quiet: a reading over
    * 1.2x [[CalibrationQuiet]] means other tenants hold cores right now,
    * so it is waited out (up to 3x15 s, logged under `tag`) before the
    * caller spends a measured pass. Probes with at most one thread per
    * core: more threads than cores read as load on a quiet box. Returns
    * the last reading.
    */
  private[graft] def cpuGate(threads: Int, tag: String): Double = {
    val probeThreads = math.min(threads, Runtime.getRuntime.availableProcessors)
    var p = cpuProbe(probeThreads)
    var tries = 0
    while (p > 1.2 * CalibrationQuiet && tries < 3) {
      System.err.println(f"[$tag] cpu probe $p%.3f s > 1.2x " +
        f"$CalibrationQuiet%.3f s quiet constant — waiting out load")
      Thread.sleep(15000)
      tries += 1
      p = cpuProbe(probeThreads)
    }
    p
  }

  /** Per-query times from the newest BENCH_r*.json in the working
    * directory (driver runs Bench from the repo root). Keys are the
    * shortened query ids used in the artifact ("d06"). Empty when no
    * prior artifact exists or it cannot be parsed — the delta guard then
    * degrades to plain min-of-two, never a bench-killer.
    */
  private def priorRoundTimes(sfTag: String): Map[String, Double] =
    try {
      import scala.jdk.CollectionConverters._
      val dir = java.nio.file.Paths.get(".")
      val rx = "BENCH_r(\\d+)\\.json".r
      val listing = java.nio.file.Files.list(dir)
      val newest =
        try listing.iterator.asScala.flatMap { p =>
          p.getFileName.toString match {
            case rx(n) => Some((n.toInt, p))
            case _ => None
          }
        }.toSeq.sortBy(-_._1).headOption
        finally listing.close() // Files.list leaks a DirectoryStream fd
      newest match {
        case None => Map.empty
        case Some((_, p)) =>
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          // a partial (SPARK_GRAFT_ONLY) artifact covers a query subset —
          // adopting it as the prior would drop guard coverage for every
          // other query
          if ("\"partial\"\\s*:\\s*true".r.findFirstIn(text).isDefined)
            return Map.empty
          // the driver wrapper pretty-prints ("queries": {) while Bench's
          // own line is compact ("queries":{) — accept both, and take the
          // flat object up to its first closing brace
          val qm = "\"queries\"\\s*:\\s*\\{".r.findFirstMatchIn(text)
          // a prior run at a different scale factor is not comparable —
          // an sf0.01 local iteration must not rerun against sf0.1 numbers
          val sfOk = ("\"sf\"\\s*:\\s*\"" +
            java.util.regex.Pattern.quote(sfTag) + "\"").r
            .findFirstIn(text).isDefined
          qm match {
            case Some(m) if sfOk =>
              val body = text.substring(m.end, text.indexOf('}', m.end))
              "\"([A-Za-z0-9]+)\"\\s*:\\s*(-?[0-9.]+)".r
                .findAllMatchIn(body)
                .map(mm => mm.group(1) -> mm.group(2).toDouble)
                .filter(_._2 > 0)
                .toMap
            case _ => Map.empty
          }
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench] prior-round artifact unreadable: $e")
      Map.empty
    }

  /** (rows, files, row_groups, bytes) of a parquet file or directory,
    * from the footers only — no data scan. (-1, …) when unreadable so a
    * layout problem is visible, never a bench-killer.
    */
  private def parquetLayout(path: String): (Long, Int, Int, Long) =
    try {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(path)
      val files: Seq[java.nio.file.Path] =
        if (java.nio.file.Files.isDirectory(p)) {
          val listing = java.nio.file.Files.list(p)
          try listing.iterator.asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          finally listing.close() // Files.list leaks a fd until closed
        } else Seq(p)
      var rows = 0L; var rgs = 0; var bytes = 0L
      val conf = new org.apache.hadoop.conf.Configuration()
      files.foreach { f =>
        bytes += java.nio.file.Files.size(f)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks
          rgs += blocks.size
          blocks.asScala.foreach(b => rows += b.getRowCount)
        } finally r.close()
      }
      (rows, files.size, rgs, bytes)
    } catch { case e: Exception =>
      System.err.println(s"[bench] layout of $path unreadable: $e")
      (-1L, -1, -1, -1L)
    }
}
