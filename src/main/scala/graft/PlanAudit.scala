package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-plan audit: asserts the properties that make the plans scale
  * — filter pushdown into parquet scans, column pruning, broadcast joins
  * for dimension tables, semi/anti joins for EXISTS, whole-stage codegen
  * coverage — and writes the evidence to PLANS.md.
  *
  * The battery runs TWICE: once on the driver's single-file sf layout and
  * once on a fragmented multi-file copy (every non-dim table rewritten as
  * 100 small part files — the streaming-ingest/compaction-debt shape a
  * real warehouse drifts into). The plan properties must hold on both;
  * the widen assertions FLIP by design (a single-row-group fact scan
  * redistributes, a 100-file scan parallelizes natively, and the
  * CPU-dense text/vector tables trigger the round-12 small-file widen).
  *
  * Run: `sbt "runMain graft.PlanAudit /root/testdata/sf0.01"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // fixed cores: PLANS.md's exchange partition counts must not move
    // with the box
    val spark = LocalSpark(8, "ERROR")

    val out = new StringBuilder
    out ++= "# PLANS — physical-plan audit evidence\n\n"
    out ++= s"Generated by `graft.PlanAudit` on $sfDir. Each check greps the\n"
    out ++= "formatted physical plan for the property that makes the operator\n"
    out ++= "scale; a FAIL here is a perf regression even when results are right.\n\n"
    out ++= "## Single-file layout (driver-generated sf dir)\n\n"

    var failures = 0
    failures += battery(spark, sfDir, out, fragmented = false)

    // fragmented warehouse: the same battery on a 100-part-file copy of
    // every non-dimension table (dims stay single-file — they are at any
    // real SF). Same plan properties, opposite widen expectations.
    val fragDir = buildFragmented(spark, sfDir)
    out ++= "\n## Fragmented multi-file layout (100 part files per fact/text/vector table)\n\n"
    out ++= s"Built at `$fragDir` from `$sfDir`. The widen gate must flip:\n"
    out ++= "fact scans parallelize natively (no RoundRobin exchange), while the\n"
    out ++= "CPU-dense documents/embeddings tables hit the round-12 small-file\n"
    out ++= "widen (bin-packed splits starve the cores, so one up-front\n"
    out ++= "redistribution pays for the md5/minhash waves).\n\n"
    failures += battery(spark, fragDir, out, fragmented = true)

    // 100×-tier pin (round-14 verdict #8): gql13's correlated-ALL
    // join-back carries no broadcast hint — AQE picks the strategy from
    // the aggregate's RUNTIME size, so a static explain can't prove the
    // choice. Execute on the 100× scaled corpus (when present — a tier
    // built by `ScaleProbe`) and grep the FINAL adaptive plan: the per-part
    // aggregate is |part|-sized (a dimension) at every tier, so the
    // join-back must stay a broadcast even when the orders side is 100×,
    // and the round-13 wide-key regression (p_name in a join/group key)
    // must not resurface at scale.
    val scaledDir = if (args.length > 1) args(1) else "/tmp/graft_scale100x"
    if (new java.io.File(s"$scaledDir/lineitem.parquet").exists()) {
      out ++= "\n## 100× scaled corpus (executed — AQE final plan)\n\n"
      out ++= s"gql13 run to completion on `$scaledDir`; checks grep the\n"
      out ++= "post-AQE executedPlan, not the static estimate.\n\n"
      val df = SparkEntry.queries("gql13_quantified")(spark, scaledDir)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      def scaledCheck(what: String)(ok: Boolean): Unit = {
        if (!ok) failures += 1
        out ++= s"- ${if (ok) "PASS" else "FAIL"} `gql13_quantified@100x` — $what\n"
        println(s"${if (ok) "PASS" else "FAIL"} gql13_quantified@100x — $what")
      }
      scaledCheck("per-part aggregate joins back as a broadcast (AQE final plan)")(
        plan.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("p_id") &&
            l.contains("LeftOuter")))
      scaledCheck("no sort-merge join-back on the correlation key at 100×")(
        !plan.linesIterator.exists(l =>
          l.contains("SortMergeJoin") && l.contains("p_id") &&
            l.contains("LeftOuter")))
      scaledCheck("wide-key regression absent (no p_name in join/agg keys)")(
        !plan.linesIterator.exists(l =>
          (l.contains("SortMergeJoin") || l.contains("hashpartitioning") ||
            l.contains("HashAggregate")) && l.contains("p_name")))
    } else {
      out ++= s"\n(100× scaled corpus not present at `$scaledDir` — " +
        "gql13 scaled pin skipped this run)\n"
    }

    val status = if (failures == 0) "ALL CHECKS PASS" else s"$failures FAILURES"
    out ++= s"\n**$status**\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), out.toString)
    println(status)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** A copy of `sfDir` with every big table written as 100 part files.
    * Cached across runs, keyed by a signature of the SOURCE files
    * (names + sizes + mtimes — the exactTopKCached scheme): a
    * regenerated sf dir invalidates the copy instead of silently
    * auditing stale data.
    */
  def buildFragmented(spark: SparkSession, sfDir: String): String = {
    val tag = sfDir.split('/').filter(_.nonEmpty).last
    val outDir = s"${sys.props("java.io.tmpdir")}/graft_frag_$tag"
    val sig = Tables.all.flatMap { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      val parts = if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName)
        else Seq(f)
      parts.map(p => s"${p.getName}:${p.length}:${p.lastModified}")
    }.mkString("|")
    val done = new java.io.File(s"$outDir/_FRAG_DONE")
    val fresh = done.exists() &&
      java.nio.file.Files.readString(done.toPath) == sig
    if (!fresh) {
      val bigTables =
        Set("customer", "part", "orders", "lineitem", "events",
          "documents", "embeddings")
      Tables.all.foreach { t =>
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        val parts = if (bigTables(t)) 100 else 1
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$outDir/$t.parquet")
      }
      java.nio.file.Files.writeString(done.toPath, sig)
    }
    outDir
  }

  /** The 31-check battery + layout-dependent widen assertions; returns
    * the failure count and appends evidence lines to `out`.
    */
  private def battery(spark: SparkSession, sfDir: String,
      out: StringBuilder, fragmented: Boolean): Int = {
    var failures = 0
    def check(name: String, df: DataFrame, what: String,
        expect: String => Boolean): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val ok = expect(plan)
      if (!ok) failures += 1
      out ++= s"- ${if (ok) "PASS" else "FAIL"} `$name` — $what\n"
      println(s"${if (ok) "PASS" else "FAIL"} $name — $what")
      // a failing check dumps its evidence: the operator summary lines of
      // the plan it graded, so the regression is diagnosable from PLANS.md
      if (!ok) {
        val summary = plan.linesIterator
          .takeWhile(_.nonEmpty).mkString("\n")
        out ++= s"\n```\n$summary\n```\n"
        println(summary)
      }
    }

    val qs = SparkEntry.queries

    // filters reach the parquet scan
    check("q02_filter_project", qs("q02_filter_project")(spark, sfDir),
      "predicate pushdown: PushedFilters at the scan",
      p => p.contains("PushedFilters: [") &&
        !p.contains("PushedFilters: []"))

    // column pruning: a 2-column projection reads a narrow schema
    check("q02_filter_project", qs("q02_filter_project")(spark, sfDir),
      "column pruning: ReadSchema carries only referenced lineitem columns",
      p => "l_(\\w+)".r.findAllMatchIn(
        p.linesIterator.filter(_.contains("ReadSchema")).mkString)
        .map(_.group(1)).toSet.size <= 6)

    // small dimension joins broadcast
    check("q03_join_agg", qs("q03_join_agg")(spark, sfDir),
      "broadcast hash join for the nation dimension",
      p => p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))

    // EXISTS compiles to a semi-join, NOT EXISTS to an anti-join
    check("q11_exists_semi", qs("q11_exists_semi")(spark, sfDir),
      "EXISTS as LeftSemi join", _.contains("LeftSemi"))
    check("q12_not_exists_anti", qs("q12_not_exists_anti")(spark, sfDir),
      "NOT EXISTS as LeftAnti join", _.contains("LeftAnti"))

    // scans + filters sit inside whole-stage codegen (inspect the AQE
    // final executed plan — the unexecuted formatted plan hides codegen)
    {
      val df = qs("q01_agg_groupby")(spark, sfDir)
      df.collect() // execute THIS plan so AQE finalizes it (count() would plan a different query)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val ok = plan.contains("codegen id")
      if (!ok) failures += 1
      out ++= s"- ${if (ok) "PASS" else "FAIL"} `q01_agg_groupby` — aggregation pipeline inside WholeStageCodegen\n"
      println(s"${if (ok) "PASS" else "FAIL"} q01_agg_groupby — WholeStageCodegen")
    }

    // GQL pattern: unreferenced pattern-node table joins are elided
    {
      val g = graft.graph.TpchGraph.build(spark, sfDir)
      val df = new graft.gql.Compiler(g).compile(
        graft.gql.Parser.parse(
          "MATCH (c:customer)-[:PLACED]->(o:orders) RETURN count(o) AS n"))
      check("gql node-join elision", df,
        "edge-only plan: no orders-table scan when its props are unread",
        p => """\(\d+\) Scan parquet""".r.findAllIn(p).size <= 2)
    }

    // GQL anchor selection: selective far end seeds the join order
    {
      val g = graft.graph.TpchGraph.build(spark, sfDir)
      val df = new graft.gql.Compiler(g).compile(
        graft.gql.Parser.parse(
          "MATCH (c:customer)-[:PLACED]->(o:orders {status: 'F'}) " +
            "RETURN count(c) AS n"))
      check("gql anchor selection", df,
        "inline props of the far end are pushed into its scan",
        p => p.linesIterator.exists(l =>
          l.contains("PushedFilters") && l.contains("status")))
    }

    // GQL hop: node tables under the broadcast row limit join the edge
    // frame via broadcast, not a shuffle exchange on both sides
    {
      val g = graft.graph.TpchGraph.build(spark, sfDir)
      val df = new graft.gql.Compiler(g).compile(
        graft.gql.Parser.parse(
          "MATCH (c:customer)-[:PLACED]->(o:orders)-[:CONTAINS]->(p:part) " +
            "WHERE p.psize > 40 " +
            "RETURN c.name AS name, count(p) AS n GROUP BY c.name"))
      // the hop's NODE side specifically must be the broadcast build side
      // (not merely some BroadcastExchange anywhere): in the simple plan
      // string each BroadcastExchange carries its subtree inline, so
      // require one whose next few lines scan the customer node table —
      // the dimension-sized side of the hop join. (FormattedMode detaches
      // scan locations from the tree, hence the simple string here.)
      val simple = df.queryExecution.executedPlan.toString
      val simpleLines = simple.linesIterator.toVector
      val nodeSideBroadcasts = simpleLines.zipWithIndex.exists { case (l, i) =>
        l.contains("BroadcastExchange") &&
          simpleLines.slice(i + 1, i + 8).exists(_.contains("customer.parquet"))
      }
      check("gql hop broadcast", df,
        "hop node side (customer) builds a BroadcastHashJoin",
        p => p.contains("BroadcastHashJoin") && nodeSideBroadcasts)

      // round-12: constraint-free endpoints elide BOTH node scans — a
      // mutation (or read) on `()-[t:T]->()` is a single edge-table scan,
      // no node-table file in the plan and no join of any kind
      val (mutBt: org.apache.spark.sql.DataFrame, _) =
        new graft.gql.Compiler(g).compileMutationPipeline(
          graft.gql.Parser.parse("MATCH ()-[t:PLACED]->() RETURN t")
            .asInstanceOf[graft.gql.Ast.Query], Seq.empty)
      check("gql mutation start elision", mutBt,
        "mutation on ()-[t:T]->() plans no node-table scan",
        p => !p.contains("customer.parquet") && !p.contains("Join"))
    }

    // GQL comma patterns: each added start scan cross-joins via
    // broadcast (BroadcastNestedLoopJoin keeps the left partitioning);
    // a plain CartesianProduct would MULTIPLY partition counts per
    // pattern (32-partition scans × 3 patterns → 32³ tasks)
    {
      val g = graft.graph.TpchGraph.build(spark, sfDir)
      val df = new graft.gql.Compiler(g).compile(
        graft.gql.Parser.parse(
          "MATCH (r:region), (n:nation), (c:customer {mktsegment: 'BUILDING'}) " +
            "RETURN count(c) AS n"))
      check("gql comma-pattern cross join", df,
        "small scans broadcast into the cross join; no CartesianProduct",
        p => p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"))
    }

    // dedup: one shuffle for the hash-groupBy, partial aggregation first
    check("d01_exact_dedup", qs("d01_exact_dedup")(spark, sfDir),
      "map-side partial aggregation before the exchange",
      p => p.contains("HashAggregate") &&
        "Exchange hashpartitioning".r.findAllIn(p).size <= 2)

    // knn: corpus scanned once, queries broadcast
    check("e01_knn_exact", qs("e01_knn_exact")(spark, sfDir),
      "query side broadcast (no corpus shuffle for the cross join)",
      p => p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))

    // sequence packing: ONE hash shuffle on the shard key serves both the
    // per-shard running-sum window and the (shard, seq_id) aggregation —
    // HashPartitioning(shard) satisfies ClusteredDistribution(shard, seq_id),
    // so a second exchange would be a regression
    check("d10_seq_pack", qs("d10_seq_pack")(spark, sfDir),
      "single hash shuffle: window + chunk aggregation share the shard " +
        "partitioning (HashPartitioning(shard) satisfies the grouped " +
        "distribution; range exchange for the final sort excluded)",
      p => p.linesIterator.count(_.contains("hashpartitioning")) <= 1)

    // same-nation pair counting must stay an equi-join (no cartesian)
    check("gql16_special_funcs", qs("gql16_special_funcs")(spark, sfDir),
      "ALL_DIFFERENT self-join stays hash-based, no CartesianProduct",
      p => !p.contains("CartesianProduct"))

    // correlated top-k subquery (r9): decorrelates to ONE window pass over
    // the subquery relation — a per-outer-row re-sort or a cartesian
    // re-execution would be the scale killer. The query's uncorrelated
    // WHERE bound legitimately plans as a one-row broadcast nested-loop
    // (broadcasting a scalar), so only unbounded NLJs count against it.
    check("gql12_scalar_subquery", qs("gql12_scalar_subquery")(spark, sfDir),
      "correlated top-k as a single Window pass; no cartesian; at most " +
        "the scalar-bound one-row BNLJ",
      p => p.contains("Window") && !p.contains("CartesianProduct") &&
        // detail-section headers "(n) BroadcastNestedLoopJoin" count each
        // operator once (the tree rendering would double-count them)
        """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size <= 1)

    // event windows: the tumbling-window agg is one hash shuffle on the
    // (window, event_type) keys with map-side partial aggregation; the ts
    // normalization (schema-adaptive loader) must not break codegen
    check("ev01_tumbling", qs("ev01_tumbling")(spark, sfDir),
      "windowed agg: partial HashAggregate + one hash exchange",
      p => p.contains("HashAggregate") &&
        p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1)

    // embedding near-dup: candidate join stays equi-keyed on
    // (band, bucket) — never an all-pairs compare
    check("e03_embed_neardup", qs("e03_embed_neardup")(spark, sfDir),
      "LSH bucket self-join equi-keyed, no CartesianProduct/BNLJ",
      p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))

    // near-dup clusters (d11): the whole pair+component pipeline stays
    // equi-join based — no cartesian anywhere in the composed plan
    check("d11_dup_clusters", qs("d11_dup_clusters")(spark, sfDir),
      "pair graph + component join pipeline free of CartesianProduct",
      p => !p.contains("CartesianProduct"))

    // contamination (d13): the bounded eval side broadcasts; the training
    // corpus is never wide-shuffled for the probe
    check("d13_contamination", qs("d13_contamination")(spark, sfDir),
      "eval shingles broadcast to the train-side probe",
      p => p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"))

    // PII redaction (d15): a pure codegen'd projection — no exchange at
    // all before the final order-by, no UDF anywhere. On the fragmented
    // layout the CPU-dense documents scan legitimately widens first
    // (RoundRobin, not hash) — the property under test is unchanged: no
    // hash shuffle, no UDF.
    check("d15_pii_redaction", qs("d15_pii_redaction")(spark, sfDir),
      "regex scrub is a narrow projection (no hash shuffle, no UDF)",
      p => !p.contains("hashpartitioning") &&
        !p.contains("BatchEvalPython") && p.contains("Project"))

    // repetition stats (d17): everything keys on doc_id — partial
    // aggregation before each exchange, no cartesian
    check("d17_repetition_stats", qs("d17_repetition_stats")(spark, sfDir),
      "doc-keyed aggs with map-side partials; no CartesianProduct",
      p => p.contains("HashAggregate") && !p.contains("CartesianProduct"))

    // source filter (d18): the per-source aggregate (one row per source)
    // broadcasts back — the corpus side never shuffles for the filter
    check("d18_source_filter", qs("d18_source_filter")(spark, sfDir),
      "per-source aggregate broadcasts back into the filter join",
      p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))

    // line dedup (d16): the frequent-line set (tiny by construction)
    // broadcasts into the anti-join — the exploded corpus never shuffles
    // for the removal; no cartesian
    check("d16_line_dedup", qs("d16_line_dedup")(spark, sfDir),
      "frequent-line anti-join broadcasts; no CartesianProduct",
      p => p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
        l.contains("LeftAnti")) && !p.contains("CartesianProduct"))

    // stratified sampling (d12): the keep/split decision is a pure per-row
    // map — no exchange before the filter (only the final sort may range-
    // partition)
    // PQ-ADC: the query side broadcasts into the scoring cross join —
    // the encoded corpus (the big side at scale) never shuffles
    check("e05_pq_adc", qs("e05_pq_adc")(spark, sfDir),
      "ADC scoring broadcasts queries; no CartesianProduct",
      p => p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"))

    // IVF-PQR: candidates come ONLY from the posting-list equi-join on
    // cid — no cartesian, no nested-loop against the encoded corpus;
    // refinement is windowed on the shortlist, not a second corpus pass
    check("e06_ivfpqr", qs("e06_ivfpqr")(spark, sfDir),
      "IVFPQR probes posting lists via cid equi-join; no CartesianProduct",
      p => !p.contains("CartesianProduct") &&
        p.contains("cid") && p.contains("Window"))

    // r19 hierarchical IVF: candidates come ONLY from the posting-list
    // cid equi-join (assignment is the fused codegen'd graft_hier_cid
    // narrow map — no per-level join, no cartesian, no corpus NLJ)
    check("e08_hier_ivf", qs("e08_hier_ivf")(spark, sfDir),
      "hier-IVF probes posting lists via cid equi-join; no CartesianProduct",
      p => !p.contains("CartesianProduct") && p.contains("cid"))

    // e10 batch probe: the probe Generate runs INSIDE a whole-stage
    // codegen span, streamed against the broadcast corpus side
    // (plans/r21/e10_hier_probe_batch_final_executed.txt). Graded on the
    // AQE final plan: the unexecuted plan never shows codegen markers.
    {
      val df = qs("e10_hier_probe_batch")(spark, sfDir)
      df.collect()
      val ok = df.queryExecution.executedPlan.toString.linesIterator.exists(
        """\*\(\d+\) Generate explode\(graft_hier_probe_gen""".r
          .findFirstIn(_).isDefined)
      if (!ok) failures += 1
      out ++= s"- ${if (ok) "PASS" else "FAIL"} `e10_hier_probe_batch` — probe Generate inside WholeStageCodegen\n"
      println(s"${if (ok) "PASS" else "FAIL"} e10_hier_probe_batch — Generate in WholeStageCodegen")
    }

    check("d12_stratified_split", qs("d12_stratified_split")(spark, sfDir),
      "hash-keyed sampling adds no hash exchange (narrow map + filter)",
      p => p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0)

    // semantic dedup (e07): candidates only from LSH bucket equi-joins,
    // components via the same equi-join loop as d11 — no cartesian, no
    // nested loop against the corpus anywhere in the composed plan
    check("e07_semantic_dedup", qs("e07_semantic_dedup")(spark, sfDir),
      "semantic dedup stays bucket-equi-join + component-shaped",
      p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))

    // doc chunking (d21): a pure narrow map — tokens → start sequence →
    // slice; the only exchange is the final order-by's range partition
    check("d21_doc_chunks", qs("d21_doc_chunks")(spark, sfDir),
      "chunking is narrow (no hash exchange before the sort)",
      p => p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0)

    // substring dedup (d22): window fingerprints group/semi-join on the
    // compact md5 key — equi-keyed end to end, never a cartesian or a
    // nested-loop probe, at any corpus size
    check("d22_substring_dedup", qs("d22_substring_dedup")(spark, sfDir),
      "window-fingerprint dedup equi-keyed (no CartesianProduct/BNLJ)",
      p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))

    // vocabulary coverage (d24): the top-N must plan as per-partition
    // heaps (TakeOrderedAndProject), never a global sort of the full
    // distinct-token frame — the single-partition ranking window then
    // only ever sees N rows. Three-part pin: (a) the heap operator is
    // present, (b) nothing range-partitions (a global Sort of the
    // counts frame would need Exchange rangepartitioning; the final
    // orderBy rides the already-single-partition window output), and
    // (c) the heap sits UPSTREAM of the window's SinglePartition
    // exchange (formatted explain lists leaves first, so the heap's
    // first occurrence must precede any "Exchange SinglePartition") —
    // i.e. only the N surviving rows are ever single-partitioned.
    check("d24_vocab_coverage", qs("d24_vocab_coverage")(spark, sfDir),
      "vocab top-N is TakeOrderedAndProject upstream of the 1-part window",
      p => {
        val heap = p.indexOf("TakeOrderedAndProject")
        val single = p.indexOf("Exchange SinglePartition")
        heap >= 0 &&
          !p.contains("Exchange rangepartitioning") &&
          (single < 0 || heap < single)
      })

    // substring removal (d23): same invariant as d22 plus the per-token
    // anti-join stays keyed on (doc, index)
    check("d23_substring_clean", qs("d23_substring_clean")(spark, sfDir),
      "removal pass equi-keyed (no CartesianProduct/BNLJ)",
      p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))

    // stream-stream interval join (ev04): the time-range condition rides
    // an EQUI join on user_id — the range is a post-join filter, never a
    // nested-loop pairing of the two streams
    check("ev04_stream_join", qs("ev04_stream_join")(spark, sfDir),
      "interval join equi-keyed on user_id (no CartesianProduct/BNLJ)",
      p => !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))

    // mixture sampling (d20): the per-source rate table broadcasts back
    // into the keep filter — the corpus side never hash-shuffles (its
    // only aggregation is the tiny per-source token sum)
    check("d20_mixture_sample", qs("d20_mixture_sample")(spark, sfDir),
      "mixture rates broadcast; corpus filter is narrow",
      p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))

    // round-13: correlated unnesting must key on entity IDENTITY only —
    // the wide-key plan (grouping/joining on every part property, string
    // columns included) cost 4 s/task at the 30× probe tier before the
    // minimalSharedKey fix; a property column reappearing in a join or
    // group-by key line is that regression coming back
    check("gql13_quantified", qs("gql13_quantified")(spark, sfDir),
      "correlated ALL unnesting keys on p_id, not the wide property set",
      p => !p.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("hashpartitioning") ||
          l.contains("HashAggregate")) && l.contains("p_name")))

    // round-11/13: fact-scan widening is BYTES- and LAYOUT-gated. On the
    // single-file layout a ≥8 MB single-row-group lineitem redistributes
    // once up front; on the fragmented 100-file layout the scan
    // parallelizes natively and the same widen must NOT fire (est ≥ bar),
    // while the CPU-dense documents/embeddings tables hit the round-12
    // small-file widen (bin-packed splits starve the cores).
    {
      import org.apache.spark.sql.functions.col
      // the SAME byte accounting the widen gate uses (Tables.scanBytes),
      // not a re-implementation — Files.size on a directory returns the
      // directory entry's size, which would assert the wrong widen
      // expectation on a partitioned multi-file table
      val liBytes =
        Tables.scanBytes(Tables.lineitem(spark, sfDir)).getOrElse(0L)
      val liWidens = !fragmented && liBytes >= (8L << 20)
      check("tables_widen_lineitem",
        Tables.lineitem(spark, sfDir).groupBy(col("l_returnflag")).count(),
        s"lineitem (${liBytes / 1024} KB, fragmented=$fragmented) " +
          (if (liWidens) "repartitions (≥8 MB single-row-group)"
           else "stays unshuffled (parallel scan or <8 MB)"),
        p => p.contains("RoundRobinPartitioning") == liWidens)
      check("tables_widen_customer",
        Tables.customer(spark, sfDir).groupBy(col("c_mktsegment")).count(),
        "customer (dim-sized or natively parallel) never pays a widen exchange",
        p => !p.contains("RoundRobinPartitioning"))
      if (fragmented) {
        // the round-12 small-file widen, pinned on an actual 100-file
        // corpus: the bin-pack estimate starves the 8 cores, so the
        // CPU-dense scans redistribute once up front
        check("frag_widen_documents",
          Tables.documents(spark, sfDir).selectExpr("length(text)"),
          "fragmented documents corpus triggers the small-file widen",
          p => p.contains("RoundRobinPartitioning"))
        check("frag_widen_embeddings",
          Tables.embeddings(spark, sfDir).selectExpr("size(embedding)"),
          "fragmented embeddings corpus triggers the small-file widen",
          p => p.contains("RoundRobinPartitioning"))
      }
      // the incremental-dedup sidecar probe is Spark's native
      // might_contain predicate — codegen stage, no Scala UDF boxing
      val bloomBytes = spark.range(100)
        .select(col("id").cast("string").as("k"))
        .agg(graft.functions.BloomFunctions.agg(spark, col("k"), 65536L, 0.01))
        .head.getAs[Array[Byte]](0)
      check("d14_bloom_probe",
        Tables.documents(spark, sfDir).filter(
          graft.functions.BloomFunctions.mightContain(
            spark, bloomBytes, col("text"))),
        "bloom sidecar probe is native might_contain (no Scala UDF)",
        p => p.contains("might_contain") && !p.contains("ScalaUDF"))
    }

    // r17: read-side bucket pruning — a point predicate on the clustered
    // key of a persisted bucketed label must plan an `__ixb` partition
    // filter (BucketPrune rule), so the scan reads one bucket directory
    // of N instead of the whole label. Independent of the sf layout, so
    // pinned once per audit run.
    if (!fragmented) {
      import org.apache.spark.sql.functions.col
      val wh = LocalSpark.scratchDir("pa-bprune").toString
      val cat = new graft.graph.GraphCatalog(spark, wh)
      val nodes = spark.range(1, 4001)
        .selectExpr("id", "cast(id % 97 as double) as bal")
      val edges = spark.range(1, 16001).selectExpr("id as eid",
        "id % 4000 + 1 as src", "(id * 7) % 4000 + 1 as dst")
      val g = new graft.graph.PropertyGraph(
        Map("acct" -> nodes),
        Map("own" -> (graft.graph.EdgeType("own", "acct", "acct"), edges)))
      cat.createSchema("pa")
      cat.createIndex("pa_id", "nodes_acct", Seq("id"))
      cat.setIndexOption("pa_id", "buckets", "8")
      cat.createIndex("pa_src", "edges_own", Seq("src"))
      cat.setIndexOption("pa_src", "buckets", "8")
      cat.saveGraph("pa", "g", g, force = true)
      val lg = cat.loadGraph("pa", "g")
      val acct = lg.nodeTables("acct")
      check("bprune_point_lookup", acct.filter(col("id") === 1234L),
        "clustered-key point predicate plans an __ixb partition filter",
        p => p.contains("__ixb") && p.contains("PartitionFilters"))
      // the seed literal must flow through the expand join's equi-condition
      // (InferFiltersFromConstraints) and prune the EDGE scan too: both
      // bucketed scans of the hop plan carry an __ixb partition filter
      check("bprune_seeded_expand",
        acct.filter(col("id") === 1234L)
          .join(lg.edgeTables("own")._2, col("id") === col("src")),
        "seeded 1-hop expand prunes the bucketed edge table through the join",
        p => p.linesIterator.count(l =>
          l.contains("PartitionFilters") && l.contains("__ixb")) >= 2)
      // the DST leg: its keys are runtime values (the matched edges'
      // dst column), so the scan must carry a DYNAMIC __ixb filter
      // (BucketDynamicPrune → DynamicPruningSubquery → Spark's DPP)
      check("bprune_dynamic_dst",
        lg.edgeTables("own")._2.filter(col("src") === 1234L)
          .join(acct, col("dst") === col("id")),
        "seeded expand's dst scan carries a runtime __ixb pruning subquery",
        p => p.toLowerCase.contains("dynamicpruning"))

      // r19: a STATIC predicate on the NON-clustered endpoint must be
      // served by the dual-keyed mirror (MirrorSwap re-points the scan,
      // BucketPrune injects the mirror's __ixb in the same batch) —
      // the adjacency_in read path at layout level
      cat.createIndex("pa_mir", "edges_mir", Seq("src"))
      cat.setIndexOption("pa_mir", "buckets", "8")
      cat.setIndexOption("pa_mir", "mirror", "true")
      val mg = new graft.graph.PropertyGraph(
        Map("acct" -> nodes),
        Map("mir" -> (graft.graph.EdgeType("mir", "acct", "acct"), edges)))
      cat.saveGraph("pa", "mir", mg, force = true)
      val lgm = cat.loadGraph("pa", "mir")
      check("mirror_swap_reverse_lookup",
        lgm.edgeTables("mir")._2.filter(col("dst") === 1234L),
        "non-clustered-endpoint point predicate swaps to the mirror " +
          "scan with an __ixb partition filter",
        p => p.contains(".mirror_edges_mir") && p.contains("__ixb") &&
          p.contains("PartitionFilters"))
      // r20: a JOIN-SEEDED reverse expand — runtime keys, nothing for
      // constraint propagation to hand the static rules (the seed is a
      // modulo predicate on purpose) — must ALSO be served by the dual
      // layout: BucketDynamicPrune re-points the scan at the mirror and
      // injects a DynamicPruningSubquery on the mirror's __ixb
      check("mirror_dpp_seeded_reverse_hop",
        lgm.nodeTables("acct")
          .filter(org.apache.spark.sql.functions.pmod(
            col("id"), org.apache.spark.sql.functions.lit(997L)) === 0L)
          .join(lgm.edgeTables("mir")._2, col("id") === col("dst")),
        "join-seeded reverse expand swaps to the mirror with a runtime " +
          "__ixb pruning subquery",
        p => p.contains(".mirror_edges_mir") &&
          p.toLowerCase.contains("dynamicpruning"))

      // r18: the VAR-LENGTH path loop must carry the pruning through
      // every iteration level (r17 verdict #1) — over a src-clustered
      // chain, a seeded *1..4 touches ONE bucket per level, and each
      // level's EXECUTED plan (PropertyGraph.lastPathPrune trace) must
      // show the __ixb partition filter on the edge scan. Executed-plan
      // evidence, not a static explain: the loop materializes per level.
      {
        val chainEdges = spark.range(1, 4000).selectExpr(
          "id as src", "id + 1 as dst", "id as eid")
        val cg = new graft.graph.PropertyGraph(
          Map("n" -> spark.range(1, 4001).toDF("id")),
          Map("nx" -> (graft.graph.EdgeType("nx", "n", "n"), chainEdges)))
        cat.createIndex("pa_nx", "edges_nx", Seq("src"))
        cat.setIndexOption("pa_nx", "buckets", "8")
        cat.saveGraph("pa", "chain", cg, force = true)
        val lgc = cat.loadGraph("pa", "chain")
        import spark.implicits._
        lgc.paths(Seq(10L).toDF("start_id"), "nx", 1, 4).count()
        val trace = graft.graph.PropertyGraph.lastPathPrune
        val ok = trace.size == 4 && trace.forall { case (ids, plan) =>
          ids.size <= 1 && plan.contains("__ixb")
        }
        if (!ok) failures += 1
        out ++= s"- ${if (ok) "PASS" else "FAIL"} `bprune_varpath_levels` — " +
          "seeded *1..4 prunes each level's edge scan to the frontier's bucket\n"
        println(s"${if (ok) "PASS" else "FAIL"} bprune_varpath_levels — " +
          s"levels=${trace.size} buckets=${trace.map(_._1).mkString(";")}")
        if (!ok) {
          val ev = trace.map { case (ids, plan) =>
            s"buckets=$ids\n" + plan.linesIterator.filter(l =>
              l.contains("FileScan") || l.contains("PartitionFilters"))
              .mkString("\n")
          }.mkString("\n---\n")
          out ++= s"\n```\n$ev\n```\n"
        }

        // r18: the distributed BFS loop carries the same per-level
        // pruning (forced past the local gate with localEdgeLimit = 0)
        lgc.bfs(Seq(10L).toDF("start_id").withColumnRenamed("start_id",
          "root_id"), "nx", 5, localEdgeLimit = 0L).count()
        val bt = graft.graph.PropertyGraph.lastBfsPrune
        val bok = bt.nonEmpty && bt.forall(_.size <= 1)
        if (!bok) failures += 1
        out ++= s"- ${if (bok) "PASS" else "FAIL"} `bprune_bfs_levels` — " +
          "seeded distributed bfs prunes each level to the frontier's bucket\n"
        println(s"${if (bok) "PASS" else "FAIL"} bprune_bfs_levels — " +
          s"levels=${bt.size} buckets=${bt.mkString(";")}")

        // r19: the UNDIRECTED (Direction.Both) traversal prunes BOTH
        // orientation branches per level through the dual-keyed mirror
        // (`mirror = true` layout) — each level's executed plan must
        // carry an __ixb partition filter on TWO bucketed scans (the
        // main src-keyed table and .mirror_edges' dst-keyed dual), and
        // a chain frontier touches at most one bucket per branch.
        cat.createIndex("pa_nb", "edges_nb", Seq("src"))
        cat.setIndexOption("pa_nb", "buckets", "8")
        cat.setIndexOption("pa_nb", "mirror", "true")
        val bg = new graft.graph.PropertyGraph(
          Map("n" -> spark.range(1, 4001).toDF("id")),
          Map("nb" -> (graft.graph.EdgeType("nb", "n", "n"), chainEdges)))
        cat.saveGraph("pa", "bothchain", bg, force = true)
        val lgb = cat.loadGraph("pa", "bothchain")
        lgb.paths(Seq(10L).toDF("start_id"), "nb", 1, 4,
          direction = graft.graph.Direction.Both).count()
        val bt2 = graft.graph.PropertyGraph.lastPathPrune
        val b2ok = bt2.size == 4 && bt2.forall { case (ids, plan) =>
          ids.nonEmpty && ids.size <= 2 &&
            plan.linesIterator.count(l =>
              l.contains("PartitionFilters") && l.contains("__ixb")) >= 2
        }
        if (!b2ok) failures += 1
        out ++= s"- ${if (b2ok) "PASS" else "FAIL"} `bprune_varpath_both_levels` — " +
          "undirected seeded *1..4 prunes both orientation branches " +
          "(main + mirror) per level\n"
        println(s"${if (b2ok) "PASS" else "FAIL"} bprune_varpath_both_levels — " +
          s"levels=${bt2.size} buckets=${bt2.map(_._1).mkString(";")}")
        if (!b2ok) {
          val ev = bt2.map { case (ids, plan) =>
            s"buckets=$ids\n" + plan.linesIterator.filter(l =>
              l.contains("FileScan") || l.contains("PartitionFilters"))
              .mkString("\n")
          }.mkString("\n---\n")
          out ++= s"\n```\n$ev\n```\n"
        }

        // r19: the distributed Both-BFS prunes both branches per level
        lgb.bfs(Seq(10L).toDF("root_id"), "nb", 4,
          direction = graft.graph.Direction.Both,
          localEdgeLimit = 0L).count()
        val bt3 = graft.graph.PropertyGraph.lastBfsPrune
        val b3ok = bt3.nonEmpty && bt3.forall(s => s.nonEmpty && s.size <= 2)
        if (!b3ok) failures += 1
        out ++= s"- ${if (b3ok) "PASS" else "FAIL"} `bprune_bfs_both_levels` — " +
          "undirected seeded distributed bfs prunes both branches per level\n"
        println(s"${if (b3ok) "PASS" else "FAIL"} bprune_bfs_both_levels — " +
          s"levels=${bt3.size} buckets=${bt3.mkString(";")}")
      }
    }

    failures
  }
}
