package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types._
import graft.{SparkFixture, TempDirs}
import graft.dedup.IncrementalDedup
import graft.obs.ExecStats
import graft.similarity.Similarity

/** A warm corpus batch compiles no code. One ingest cycle runs three
  * batches, each through exact dedup, near dedup and a 16-query
  * hier-IVF probe (k = 256, nprobe = 96), into a fresh state — the shape
  * of perfbench's `corpus_ingest`. Its generated classes must fit in
  * Spark's JVM-wide codegen cache at its default size (100 entries, one
  * per class and class loader), so a second identical cycle finds every
  * class compiled: a cycle that needs more evicts its own classes and
  * recompiles them every batch.
  */
class CorpusCodegenSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark
  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  private val QuerySchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false))))

  test("a second identical ingest cycle compiles no class") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) == "100")
    val d = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val vectors = spark.read.parquet(s"$d/embeddings.parquet")
      .select("embedding").orderBy("vec_id").collect()
      .map(_.getSeq[Float](0).toArray).toIndexedSeq
    val emb = graft.Tables.embeddings(spark, d)
    val index = new Similarity.HierIvfIndex(k = 256, nprobe = 96)
    val (supers, children) = index.train(emb, "vec_id", "embedding")
    def frame(rows: Seq[Row], schema: StructType, parts: Int): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

    /** Three batches into a fresh state, each with exact copies and
      * one-word edits of earlier and same-batch documents; the number
      * of admitted docs and of probe hits per batch. */
    def cycle(): Seq[(Int, Int)] = {
      val rnd = new scala.util.Random(42)
      val state = tempDir("corpus-codegen").toString
      val size = (docs.size + 2) / 3
      docs.indices.grouped(size).zipWithIndex.map { case (idx, b) =>
        val from = docs.indices.take((b + 1) * size)
        val plants = (0 until math.max(2, idx.size / 10)).map { j =>
          val text = docs(from(rnd.nextInt(from.size)))._2
          val words = text.split(' ')
          if (j % 2 == 1) words(rnd.nextInt(words.length)) = "edited"
          (100000000L + b * 10000L + j, words.mkString(" "))
        }
        val batch = frame((idx.map(docs) ++ plants).map { case (i, t) => Row(i, t) },
          DocSchema, 4)
        val exact = IncrementalDedup.dedupeExact(batch, "doc_id", "text", state)
        val admitted = IncrementalDedup.dedupeNear(exact, "doc_id", "text", state,
          n = 3, numHashes = 32, bands = 8, tau = 0.7).select("doc_id").collect()
        val queries = frame((0 until 16).map { q =>
          val v = vectors(rnd.nextInt(vectors.size))
            .map(_ + rnd.nextGaussian().toFloat * 0.05f)
          val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
          Row(1000000000L + q, v.map(_ / norm).toSeq)
        }, QuerySchema, 1)
        val hits = index.annTopKTrained(supers, children, emb, "vec_id",
          "embedding", queries, "qid", "qvec", 10).select("qid", "id").collect()
        (admitted.length, hits.length)
      }.toSeq
    }

    val (first, cold) = ExecStats.during(spark.sparkContext)(cycle())
    info(s"first cycle compiled ${cold.codegenCompiles} classes")
    val (second, warm) = ExecStats.during(spark.sparkContext)(cycle())
    assert(second == first)
    assert(first.forall { case (admitted, hits) => admitted > 0 && hits > 0 })
    assert(warm.codegenCompiles == 0,
      s"a warm cycle compiled ${warm.codegenCompiles} classes")
  }
}
