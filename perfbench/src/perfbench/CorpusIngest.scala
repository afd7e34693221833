package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.Tables
import graft.dedup.IncrementalDedup
import graft.similarity.Similarity

/** The documents stream in three seeded batches, each with planted exact and
  * token-edited near duplicates of earlier and same-batch documents. A
  * batch runs exact then near dedup against the accumulated state, then a
  * hier-IVF top-10 probe of perturbed embeddings against an index trained
  * in set-up. A cycle ingests the whole stream into a fresh state.
  */
final class CorpusIngest(ctx: Ctx) extends Workload(ctx) {
  import CorpusIngest._
  private val index = new Similarity.HierIvfIndex(k = HierK, nprobe = HierNprobe)
  private var quantizer: (Array[Array[Double]], Array[Array[Array[Double]]]) = _
  private var embeddings: DataFrame = _
  private var session: org.apache.spark.sql.SparkSession = _

  private lazy val docs: IndexedSeq[(Long, String)] =
    ctx.spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
  private lazy val vectors: IndexedSeq[(Long, Array[Float])] =
    ctx.spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet")
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq

  private var planted = 0L
  private var nextQuery = 1000000000L
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var (docsIn, docsAdmitted) = (0L, 0L)
  private var state: String = _
  private var inputBytes = 0L

  def setup(rep: Int): Map[String, Double] = {
    val s = ctx.newSession()
    session = s
    val (_, tablesMs) = Main.time {
      Tables.documents(s, ctx.dataDir)
      embeddings = Tables.embeddings(s, ctx.dataDir)
    }
    val (_, trainMs) = Main.time {
      quantizer = index.train(embeddings, "vec_id", "embedding")
    }
    Map("setup.tables_ms" -> tablesMs, "similarity.train_ms" -> trainMs)
  }

  /** A whole ingest into a throwaway state, unchecked and untimed. */
  def warmup(): Unit = {
    stream("dedup-state-warm", measured = false)
    Fs.rmrf(java.nio.file.Paths.get(state))
  }

  def cycle(index: Int): Unit = stream(s"dedup-state-$index", measured = true)

  /** The stream in [[Batches]] seeded batches, with planted copies, into a
    * fresh state; measured, each batch is an op and its results are checked.
    */
  private def stream(stateName: String, measured: Boolean): Unit = {
    state = ctx.scratch(stateName)
    inputBytes = 0L
    val order = ctx.rnd.shuffle(docs.indices.toVector)
    val size = math.max(1, (docs.size + Batches - 1) / Batches)
    val admittedAll = mutable.Set.empty[Long]
    order.grouped(size).zipWithIndex.foreach { case (batchIdx, b) =>
      val earlier = order.take(b * size)
      val batch = batchIdx.map(docs)
      val plants = plant(batch, earlier.map(docs))
      val rows = batch ++ plants.map(p => (p.id, p.text))
      inputBytes += rows.map(r => 8L + r._2.getBytes("UTF-8").length).sum
      val queries = probes()
      if (!measured) ingest(rows, queries)
      else ctx.op("batch", rows.size.toLong)(ingest(rows, queries)).foreach {
        case (admitted, hits) =>
          docsIn += rows.size
          docsAdmitted += admitted.size
          admittedAll ++= admitted
          plants.filter(_.exact).foreach { p =>
            ctx.check(admittedAll(p.original) && !admitted(p.id),
              s"batch $b: planted exact duplicate ${p.id} of ${p.original} " +
                s"(original admitted: ${admittedAll(p.original)}, copy admitted: ${admitted(p.id)})")
          }
          queries.foreach { case (qid, q) =>
            val got = hits.getOrElse(qid, Set.empty)
            val want = exactTop10(q)
            recalls += got.intersect(want).size / 10.0
            ctx.check(got.size == 10, s"probe $qid returned ${got.size} neighbours")
          }
      }
    }
  }

  /** One batch through the engine: exact dedup, near dedup, then the probe. */
  private def ingest(rows: Seq[(Long, String)], queries: Seq[(Long, Array[Float])]):
      (Set[Long], Map[Long, Set[Long]]) = {
    val t = ctx.tracer
    val s = session
    val batch = s.createDataFrame(s.sparkContext.parallelize(
      rows.map { case (id, text) => Row(id, text) }, Partitions), DocSchema)
    val exact = t.span("dedup.exact")(
      IncrementalDedup.dedupeExact(batch, "doc_id", "text", state))
    val admitted = t.span("dedup.near")(
      IncrementalDedup.dedupeNear(exact, "doc_id", "text", state,
        n = NearN, numHashes = NearHashes, bands = NearBands, tau = NearTau)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    val qdf = s.createDataFrame(s.sparkContext.parallelize(
      queries.map { case (id, v) => Row(id, v.toSeq) }, 1), QuerySchema)
    val hits = t.span("similarity.probe")(
      index.annTopKTrained(quantizer._1, quantizer._2, embeddings, "vec_id",
        "embedding", qdf, "qid", "qvec", 10).select("qid", "id").collect())
      .groupMap(_.getLong(0))(_.getLong(1)).map { case (k, v) => k -> v.toSet }
    (admitted, hits)
  }

  /** Planted copies: exact copies of earlier and same-batch documents,
    * and one-token edits of both, under ids no document has.
    */
  private def plant(batch: Seq[(Long, String)], earlier: Seq[(Long, String)]): Seq[Plant] = {
    val r = ctx.rnd
    def copies(from: Seq[(Long, String)], pct: Int, exact: Boolean): Seq[Plant] =
      if (from.isEmpty) Nil
      else (0 until math.max(1, batch.size * pct / 100)).map { _ =>
        val (id, text) = from(r.nextInt(from.size))
        planted += 1
        if (exact) Plant(PlantBase + planted, id, text, exact = true)
        else {
          val words = text.split(' ')
          words(r.nextInt(words.length)) = DataGen.Vocab(r.nextInt(DataGen.Vocab.size))
          Plant(PlantBase + planted, id, words.mkString(" "), exact = false)
        }
      }
    copies(earlier, 3, exact = true) ++ copies(batch, 2, exact = true) ++
      copies(earlier, 3, exact = false) ++ copies(batch, 2, exact = false)
  }

  /** Perturbed copies of seeded corpus vectors, unit-normalised. */
  private def probes(): Seq[(Long, Array[Float])] = (0 until QueriesPerBatch).map { _ =>
    val v = vectors(ctx.rnd.nextInt(vectors.size))._2.map(_ + ctx.rnd.nextGaussian().toFloat * 0.05f)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    nextQuery += 1
    (nextQuery, v.map(_ / norm))
  }

  /** Brute-force cosine top 10 over the corpus (vectors are unit length). */
  private def exactTop10(q: Array[Float]): Set[Long] =
    vectors.map { case (id, v) =>
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * q(i); i += 1 }
      (id, dot)
    }.sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet

  private def recall: Double = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size

  override def finish(): Unit =
    ctx.check(recall >= RecallFloor, f"hier-IVF recall@10 $recall%.3f below $RecallFloor")

  override def extraMetrics: Seq[(String, Double, String)] = Seq(
    ("stored_bytes_ratio",
      Fs.usage(java.nio.file.Paths.get(state))._2.toDouble / math.max(1L, inputBytes), "ratio"))

  override def layerExtras: Map[String, Double] = {
    val (files, bytes) = Fs.usage(java.nio.file.Paths.get(state))
    Map("dedup.admit_ratio" -> docsAdmitted.toDouble / math.max(1L, docsIn),
      "dedup.state_files" -> files.toDouble, "dedup.state_bytes" -> bytes.toDouble,
      "similarity.recall_at_10" -> recall)
  }
}

object CorpusIngest {
  final case class Plant(id: Long, original: Long, text: String, exact: Boolean)
  val Batches = 3
  val Partitions = 4
  val QueriesPerBatch = 16
  val PlantBase = 100000000L
  // the settings graft.Bench's d25 (near dedup) and e08 (hier-IVF) rows use
  val NearN = 3
  val NearHashes = 32
  val NearBands = 8
  val NearTau = 0.7
  val HierK = 256
  val HierNprobe = 96
  val RecallFloor = 0.6
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  val QuerySchema: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false))))
}
