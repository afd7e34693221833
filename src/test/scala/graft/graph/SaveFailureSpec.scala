package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}

/** The failure path of a concurrent save: the first failed write cancels
  * its peers' jobs, the save's version directory is deleted on the spot
  * (not left for recovery at the next catalog open), and the caller's
  * job group and description come back.
  */
class SaveFailureSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  test("one write throws: its peer jobs are cancelled, no staging directory " +
      "is left behind, and the caller's job group comes back") {
    val sc = spark.sparkContext
    val wh = tempDir("savefail").toString
    val cat = new GraphCatalog(spark, wh)
    cat.createSchema("sf")
    // the peer needs ~10 s if left to run (and stops at its next row once
    // killed, as Spark's own record iterators do); the faulty write fails
    // at once
    val slow = udf((x: Long) => {
      (0 until 4).foreach { _ =>
        if (org.apache.spark.TaskContext.get().isInterrupted())
          throw new org.apache.spark.TaskKilledException("cancelled")
        Thread.sleep(10L)
      }
      x
    })
    val boom = udf((x: Long) => {
      if (x == 3L) throw new IllegalStateException("injected write failure")
      x
    })
    val g = new PropertyGraph(Map(
      // four tasks: the faulty write's task must find a free core
      "Slow" -> spark.range(0, 1000, 1, 4).select(slow(col("id")).as("id")),
      "Bad" -> spark.range(0, 10, 1, 1).select(boom(col("id")).as("id"))),
      Map.empty)
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val groupOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groupOf.put(e.jobId, _))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add((groupOf.getOrDefault(e.jobId, ""), e.jobResult match {
          case org.apache.spark.scheduler.JobFailed(ex) => String.valueOf(ex.getMessage)
          case _ => "succeeded"
        }))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("caller-group", "caller description")
      val t0 = System.nanoTime()
      val err = intercept[Exception](cat.saveGraph("sf", "g", g))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(String.valueOf(err.getMessage).contains("injected write failure") ||
        String.valueOf(err.getCause).contains("injected write failure"), err)
      org.apache.spark.sql.graft.Listeners.drain(sc)
      import scala.jdk.CollectionConverters._
      // the peer's job is cancelled while it runs, or — when the failure
      // came first — refused at submission: either way no job of the
      // save completes, and the save does not wait out the ~10 s peer
      val saveJobs = ended.asScala.toSeq.filter(_._1.startsWith("graft-save-"))
      assert(!saveJobs.exists(_._2 == "succeeded"),
        s"a peer job of the failed save ran to completion: $saveJobs")
      assert(secs < 8.0, s"the save waited $secs s for its peer instead of cancelling it")
      val left = new java.io.File(s"$wh/sf").list()
      assert(left.isEmpty, s"version left behind: ${left.mkString(", ")}")
      assert(!new java.io.File(s"$wh/sf/g").exists(), "a failed first save has no live graph")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      assert(sc.getLocalProperty("spark.job.description") == "caller description")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }
}
