package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}

/** The Structured Streaming pipeline stages (`writeStream` queries over
  * the event and document streams), each checked against its batch
  * equivalent.
  */
class StreamingPipelineSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark
  /** The sf0.001 test tables the streams replay. */
  private val data = "/root/testdata/sf0.001"

  test("streaming windowed counts equal batch") {
    val dir = tempDir("evs").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$data/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = graft.streaming.EventPipeline.readEventStream(spark, dir)
    val q = graft.streaming.EventPipeline.windowedCounts(stream, "1 hour")
      .writeStream.outputMode("complete").format("memory")
      .queryName("winspec").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("select * from winspec order by wstart, event_type").collect()
    val batch = graft.streaming.EventPipeline.windowedCounts(
      graft.Tables.events(spark, data), "1 hour")
      .orderBy("wstart", "event_type").collect()
    assert(streamed.sameElements(batch))
  }

  test("streaming document dedup equals batch and excludes history") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("dedupstream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$data/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val state = tempDir("dedupstate").toString
    val batchDocs = spark.read.parquet(dir)
      .select($"doc_id", $"text")
      .withColumn("ts", timestamp_micros($"doc_id" * 1000000L))
    // first half committed as batch history
    graft.dedup.IncrementalDedup.dedupeExact(
      batchDocs.filter($"doc_id" < 250), "doc_id", "text", state).count()
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDocs = spark.readStream.schema(schema).parquet(dir)
      .select($"doc_id", $"text")
      .withColumn("ts", timestamp_micros($"doc_id" * 1000000L))
    val q = graft.dedup.IncrementalDedup.dedupeExactStream(
        streamDocs, "doc_id", "text", "ts", state)
      .select(graft.text.TextAnalysis.fingerprint($"text").as("fp"))
      .writeStream.outputMode("append").format("memory")
      .queryName("streamdedup").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("select fp from streamdedup order by fp")
      .collect().map(_.getString(0)).toSeq
    // batch run of the SAME function is the oracle (degraded semantics)
    val batch = graft.dedup.IncrementalDedup.dedupeExactStream(
        batchDocs, "doc_id", "text", "ts", state)
      .select(graft.text.TextAnalysis.fingerprint($"text").as("fp"))
      .orderBy($"fp").collect().map(_.getString(0)).toSeq
    assert(streamed == batch)
    // independent model: fps carried only by the second half survive
    val all = spark.read.parquet(dir).select($"doc_id",
      graft.text.TextAnalysis.fingerprint($"text").as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val firstHalf = all.filter(_._1 < 250).map(_._2).toSet
    val expected = all.filter(r => !firstHalf.contains(r._2))
      .map(_._2).distinct.sorted.toSeq
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup kill-and-resume: a restart from the checkpoint " +
      "neither double-admits nor drops vs the batch truth (r16 verdict #5)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    val in = tempDir("sdcr-in").toString
    val state = tempDir("sdcr-state").toString
    val cp = tempDir("sdcr-cp").toString
    val out = tempDir("sdcr-out").toString

    // one parquet FILE per ingest batch: maxFilesPerTrigger=1 makes each
    // file its own micro-batch, so the stop points below land between
    // and inside micro-batches
    def addFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempDir("sdcr-tmp").toString
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/$name.parquet"))
    }
    val dupA = "alpha beta gamma delta epsilon zeta eta theta"
    val dupB = "repeated across stream files this one is too yes"
    val hist = "historical text already committed by the batch layer"
    // batch history: `hist`'s fingerprint is already committed
    graft.dedup.IncrementalDedup.dedupeExact(
      Seq((900L, hist)).toDF("doc_id", "text"), "doc_id", "text", state)
      .count()

    addFile("f1", Seq((1L, dupA), (2L, "unique one first file content")))
    addFile("f2", Seq((3L, dupB), (4L, dupA), (5L, hist)))

    // timestamps stay inside one watermark window (seconds apart vs the
    // 10-minute default): the in-stream dedup state may NOT be evicted,
    // so surviving a restart is purely the checkpoint's job
    def startStream() = {
      val schema = spark.read.parquet(s"$in/f1.parquet").schema
      val sd = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .withColumn("ts", timestamp_micros($"doc_id" * 1000000L))
      graft.dedup.IncrementalDedup.dedupeExactStream(
          sd, "doc_id", "text", "ts", state)
        .select($"doc_id",
          graft.text.TextAnalysis.fingerprint($"text").as("fp"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .format("parquet").option("path", out)
        .start()
    }
    // phase 1: both files processed, stream stopped (state + sink
    // committed through the checkpoint)
    val q1 = startStream(); q1.processAllAvailable(); q1.stop()
    // phase 2: new input lands — duplicates of phase-1 admissions, the
    // history fp, and novel docs — and the stream is killed WITHOUT
    // draining: whatever micro-batch was in flight dies uncommitted
    addFile("f3", Seq((6L, dupA), (7L, dupB), (8L, hist),
      (9L, "novel text arriving after the crash window")))
    addFile("f4", Seq((10L, "last file fresh content entirely new")))
    val q2 = startStream(); q2.stop()
    // phase 3: restart from the SAME checkpoint and drain
    val q3 = startStream(); q3.processAllAvailable(); q3.stop()

    val got = spark.read.parquet(out).select($"fp")
      .collect().map(_.getString(0)).toSeq
    // batch truth: every distinct fingerprint of the whole input except
    // the history's, admitted EXACTLY once across all three runs
    val allRows = spark.read.parquet(in)
    val expected = allRows
      .select(graft.text.TextAnalysis.fingerprint($"text").as("fp"))
      .distinct()
      .join(spark.read.parquet(s"$state/exact").select($"fp"),
        Seq("fp"), "left_anti")
      .collect().map(_.getString(0)).toSet
    assert(got.toSet == expected,
      s"fp set diverged: got ${got.toSet}, want $expected")
    assert(got.size == got.distinct.size,
      s"double admission after restart: $got")
    assert(got.size == expected.size)
    assert(expected.size == 5) // dupA, dupB, 3 uniques; hist excluded
  }

  test("streaming PII scrub equals batch (stateless pipeline stage)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("docsstream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$data/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    def scrub(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
      graft.text.TextAnalysis.redactPii(
        concat($"text", lit(" mail to x"), $"doc_id", lit("@y.com")))
        .as("clean"))
    val q = scrub(spark.readStream.schema(schema).parquet(dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("scrubbed").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("select * from scrubbed order by doc_id").collect()
    val batch = scrub(spark.read.parquet(dir)).orderBy("doc_id").collect()
    assert(streamed.sameElements(batch))
    assert(streamed.forall(_.getString(1).contains("<EMAIL>")))
  }

  test("flatMapGroupsWithState running totals equal batch aggregation") {
    import spark.implicits._
    val dir = tempDir("evs2").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$data/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = graft.streaming.EventPipeline.readEventStream(spark, dir)
    val q = graft.streaming.EventPipeline.runningUserTotals(stream)
      .writeStream.outputMode("update").format("memory")
      .queryName("running").start()
    q.processAllAvailable(); q.stop()
    // last update per user == whole-input totals
    val streamed = spark.sql(
      """select user_id, max_by(n_events, n_events) n, max_by(total, n_events) t
        |from running group by user_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 100) / 100)).toSet
    val batch = graft.Tables.events(spark, data)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 100) / 100)).toSet
    assert(streamed == batch)
  }
}
