package graft

/** Infra micro-benchmarks mirroring the reference's two bench programs
  * (benches/session_throughput.rs:24-70 — 1,000 sessions created /
  * queried / removed; benches/catalog_cache_throughput.rs:26-60 — 5
  * schemas × 3 graphs, repeated `CALL gql.list_schemas()` /
  * `list_graphs()` plus DDL-invalidation round-trips). The reference
  * publishes no committed figures for these (BASELINE.md), so this
  * program produces OUR measured numbers for BENCH_NOTES.
  *
  * Architectural context for reading the output: session create/remove
  * and catalog listings are driver-side map operations here exactly as
  * they are in the reference (its 16-partition lock store ↔ our
  * TrieMap), so those rates compare directly. Per-QUERY latency does
  * not: the reference interprets against an in-memory HashMap, while
  * every query here is a Spark job — milliseconds of scheduler overhead
  * buys horizontal scale the reference cannot reach. Both modes are
  * reported (lazy compile-only, and executed count()).
  */
object InfraBench {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark(LocalSpark.cpus(8), "ERROR")
    import spark.implicits._

    val wh = LocalSpark.scratchDir("infra").toString
    val gls = GraphLiteSpark.open(spark, wh)

    // small shared graph (the reference bench runs MATCH (n) RETURN
    // count(n) per session; sessions share one graph object here — no
    // copy per session)
    val nodes = (1L to 1000L).map(i => (i, s"N$i")).toDF("id", "name")
    val g = new graph.PropertyGraph(Map("N" -> nodes), Map.empty)

    def time[A](n: Int)(body: => A): (Double, Double) = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      (s, n / s)
    }

    // ---- session lifecycle (session_throughput.rs) ----
    val ids = new scala.collection.mutable.ArrayBuffer[String](1000)
    val (tCreate, rCreate) = time(1000) {
      var i = 0
      while (i < 1000) { ids += gls.createSession(s"user$i"); i += 1 }
    }
    // query path A: compile-only (what 1,000 concurrent dashboards cost
    // the DRIVER; execution is the cluster's job)
    val (tCompile, rCompile) = time(1000) {
      var i = 0
      while (i < 1000) {
        val s = gls.getSession(ids(i % ids.size)).get
        s.useGraph(g).gql("MATCH (n) RETURN count(n)")
        i += 1
      }
    }
    // query path B: executed count() — full Spark job per query
    val execIters = 50
    val (tExec, rExec) = time(execIters) {
      var i = 0
      while (i < execIters) {
        val s = gls.getSession(ids(i % ids.size)).get
        s.useGraph(g).gql("MATCH (n) RETURN count(n)").collect()
        i += 1
      }
    }
    val (tClean, rClean) = time(1000) {
      ids.foreach(gls.removeSession)
    }

    // ---- catalog cache (catalog_cache_throughput.rs) ----
    val adm = gls.session("benchmark_user")
    for (i <- 0 until 5) {
      adm.execute(s"CREATE SCHEMA IF NOT EXISTS /bench_schema_$i")
      for (j <- 0 until 3)
        adm.execute(s"CREATE GRAPH IF NOT EXISTS /bench_schema_$i/bench_graph_$j")
    }
    val listIters = 100
    val (tSchemas, rSchemas) = time(listIters) {
      var i = 0
      while (i < listIters) {
        adm.execute("CALL gql.list_schemas()").collect(); i += 1
      }
    }
    val (tGraphs, rGraphs) = time(listIters) {
      var i = 0
      while (i < listIters) {
        adm.execute("CALL gql.list_graphs()").collect(); i += 1
      }
    }
    // DDL invalidation round-trips: create a schema, list again
    val (tInval, _) = time(10) {
      for (i <- 0 until 10) {
        adm.execute(s"CREATE SCHEMA IF NOT EXISTS /invalidation_test_$i")
        adm.execute("CALL gql.list_schemas()").collect()
      }
    }

    def f(x: Double): String = f"$x%.1f"
    println(s"""{"bench":"infra","create_per_sec":${f(rCreate)},""" +
      s""""compile_per_sec":${f(rCompile)},"exec_per_sec":${f(rExec)},""" +
      s""""cleanup_per_sec":${f(rClean)},""" +
      s""""list_schemas_per_sec":${f(rSchemas)},""" +
      s""""list_graphs_per_sec":${f(rGraphs)},""" +
      s""""ddl_invalidation_roundtrip_ms":${f(tInval * 100)}}""")
    spark.stop()
  }
}
