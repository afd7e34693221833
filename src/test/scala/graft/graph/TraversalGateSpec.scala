package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.{SparkFixture, TempDirs}

/** The traversal local-fast-path gate must not pay a full count job per
  * call on large graphs (r17 watch item #1): statistics that already
  * prove the edge frame over the limit skip straight to the distributed
  * path with ZERO jobs, small frames count exactly ONCE (memoized), and
  * the gate's decision never changes traversal results.
  */
class TraversalGateSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  /** Jobs started while `body` runs, with the listener bus drained on
    * both sides so async delivery can neither hide nor leak a job.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestAccess.drainListenerBus(sc)
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftTestAccess.drainListenerBus(sc)
      counter.get()
    } finally sc.removeSparkListener(l)
  }

  /** A chain graph persisted to parquet so the edge frame carries real
    * (file-size) Catalyst statistics — 3000 edges is tiny on disk but
    * far beyond a limit of 10, which is the shape the gate must decide
    * WITHOUT scanning: stats alone prove "too big for the driver".
    */
  private def parquetGraph(): (PropertyGraph, java.nio.file.Path) = {
    import spark.implicits._
    val dir = tempDir("gate")
    val n = 3000L
    (0L until n).toDF("id").write.parquet(s"$dir/nodes")
    (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst")
      .write.parquet(s"$dir/edges")
    val g = new PropertyGraph(
      Map("n" -> spark.read.parquet(s"$dir/nodes")),
      Map("E" -> (EdgeType("E", "n", "n"),
        spark.read.parquet(s"$dir/edges"))))
    (g, dir)
  }

  test("stats-proven-big edge frame gates with ZERO Spark jobs") {
    val (g, _) = parquetGraph()
    var got = 0L
    val jobs = jobsDuring { got = g.edgeCountOrBig("E", limit = 10L) }
    assert(got == g.EdgeCountBig)
    assert(jobs == 0,
      s"gate ran $jobs job(s) — large graphs must decide from stats alone")
    // and the exact-count memo was never populated (count() never ran)
    assert(g.edgeCountCache.isEmpty)
  }

  test("small / unknown-stats edge frame counts exactly once, memoized") {
    import spark.implicits._
    // in-memory frame: LogicalRDD default stats are the UNKNOWN
    // sentinel, so the gate falls back to an exact count
    val edges = (0L until 500L).map(i => (i, i + 1)).toDF("src", "dst")
    val g = new PropertyGraph(
      Map("n" -> (0L to 500L).toDF("id")),
      Map("E" -> (EdgeType("E", "n", "n"), edges)))
    val first = jobsDuring { assert(g.edgeCountOrBig("E", 2000000L) == 500L) }
    assert(first > 0) // the one-time exact count
    val second = jobsDuring { assert(g.edgeCountOrBig("E", 2000000L) == 500L) }
    assert(second == 0, "second gate call must serve from the memo")
  }

  test("gate decision never changes bfs / connectedComponents results") {
    import spark.implicits._
    val (g, _) = parquetGraph()
    val sources = Seq(0L, 1500L).toDF("root_id")
    // limit=10: stats-big → distributed loop; limit=2M: exact count →
    // local adjacency walk. Same rows either way.
    def bfsRows(limit: Long) =
      g.bfs(sources, "E", maxIter = 3, localEdgeLimit = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bfsRows(10L) == bfsRows(2000000L))
    def ccRows(limit: Long) =
      Analytics.connectedComponents(spark, g, "n", "E", localEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = ccRows(10L)
    assert(cc == ccRows(2000000L))
    assert(cc.forall(_._2 == 0L)) // one chain → one component labeled 0
  }
}
