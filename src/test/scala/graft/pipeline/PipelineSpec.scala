package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextAnalysis

class PipelineSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  test("token counting edge cases") {
    import spark.implicits._
    val df = Seq("one two three", "single", "  padded  words  ", "a  b")
      .toDF("text").select(TextAnalysis.tokenCount($"text").as("n"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L, 1L, 2L, 2L))
  }

  test("repetition stats keep documents with fewer than two tokens") {
    import spark.implicits._
    // a one-word doc has NO bigrams; it must still appear with
    // n_bigrams = 0 (an inner join silently dropped it from the
    // curation signal — and a doc a filter never saw can't be filtered)
    val docs = Seq((1L, "only"), (2L, "two words two words"))
      .toDF("doc_id", "text")
    val stats = graft.text.CorpusStats.repetitionStats(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
    assert(stats.length == 2)
    val single = stats(0)
    assert(single.getLong(single.fieldIndex("n_tokens")) == 1L)
    assert(single.getLong(single.fieldIndex("n_bigrams")) == 0L)
    assert(single.isNullAt(single.fieldIndex("top_bigram_frac")))
    val multi = stats(1)
    assert(multi.getLong(multi.fieldIndex("n_bigrams")) == 3L)
    assert(multi.getLong(multi.fieldIndex("top_bigram_n")) == 2L)
  }

  test("sequence packing: chunk ownership, shard isolation, overflow bound") {
    import spark.implicits._
    // 6 docs, 1 shard, budget 10; token counts 4,4,4,4,4,4 → running
    // first-token offsets 0,4,8,12,16,20 → chunks 0,0,0,1,1,2
    val docs = (1L to 6L).map(i => (i, "w w w w")).toDF("doc_id", "text")
    val assigned = graft.text.SeqPack.packAssignments(docs, budget = 10, shards = 1)
      .select($"doc_id", $"seq_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 2L))
    // doc 3 straddles the 10-token boundary (offset 8, 4 tokens): it
    // belongs to chunk 0 (first-token rule), so chunk 0 overflows the
    // budget by at most one document's tokens — the concat-and-chunk bound
    val seqs = graft.text.SeqPack.packedSequences(docs, budget = 10, shards = 1)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(seqs(0L) == 12L && seqs(0L) < 10L + 4L)
    // shards partition the id space: chunks never mix shards, and every
    // doc lands in the shard of its id mod N
    val sharded = graft.text.SeqPack.packAssignments(docs, budget = 10, shards = 3)
    assert(sharded.filter(pmod($"doc_id", lit(3)) =!= $"shard").count() == 0)
  }

  test("bpe token counting splits contractions, numbers, and symbols") {
    import spark.implicits._
    val df = Seq(
      ("it's done", 3L),       // it | 's | _done
      ("hello world", 2L),
      ("abc123 x!", 4L),       // abc | 123 | _x | !
      ("we'll go 42km?!", 6L)) // we | 'll | _go | _42 | km | ?!
      .toDF("text", "expected")
    df.select(TextAnalysis.bpeTokenCount($"text").as("got"), $"expected")
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  test("langId marker heuristic") {
    import spark.implicits._
    val df = Seq(
      ("the cat and the dog of the house", "en"),
      ("der hund und die katze und der vogel", "de"),
      ("le chat et le chien et les oiseaux", "fr"),
      ("el gato y el perro y los pajaros", "es"),
      ("xyzzy qwerty", "unknown")).toDF("text", "expected")
    val got = df.select(TextAnalysis.langId($"text").as("got"), $"expected")
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"langId mismatch: ${r}"))
  }

  test("quality score bounded and monotone in stopwords") {
    import spark.implicits._
    val df = Seq("the cat and the dog of it in a tree",
      "xxxx yyyy zzzz !!!! ???? ....").toDF("text")
      .select(TextAnalysis.qualityScore($"text").as("q")).collect()
    val Seq(good, bad) = df.map(_.getDouble(0)).toSeq
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }

  test("exact dedup groups identical normalized text") {
    import spark.implicits._
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"),
      (3L, "different")).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 2)
    val dupGroup = groups.find(_.getAs[Long]("n_dups") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash signatures identical for identical text, close for near-dup") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, base), (2L, base),
      (3L, base.replace("epsilon", "EPSILON")),
      (4L, "completely unrelated words here nothing shared at all ok"))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.minhashSignature($"text", 3, 16).as("sig"))
    val sigs = docs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val agree14 = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree13 > agree14)
    assert(agree14 == 0)
  }

  test("nearDupPairs finds planted duplicates and respects tau") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq((1L, base), (2L, base),
      (3L, "totally different content with no overlap whatsoever in words"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, tau = 0.7).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L)
    assert(pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("dupClusters collapses transitive chains to one canonical survivor") {
    import spark.implicits._
    // chain 1~2, 2~3 (but 1!~3) plus separate pair 10~11: components must
    // merge the chain into one cluster labeled by its smallest member
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val rows = Dedup.dupClusters(pairs, "id_a", "id_b").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Boolean]("is_canonical")))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 10L, 11L))
    assert(rows(1L) == ((1L, 3L, true)))
    assert(rows(2L) == ((1L, 3L, false)))
    assert(rows(3L) == ((1L, 3L, false)))
    assert(rows(10L) == ((10L, 2L, true)))
    assert(rows(11L) == ((10L, 2L, false)))
    // dedup keeps exactly one doc per cluster
    assert(rows.count(_._2._3) == 2)
  }

  test("stratified sample is deterministic and honors per-stratum rates") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    // 0% strips the stratum entirely; 100% keeps it entirely
    val kept = graft.text.Sampling.stratifiedSample(
      df, "doc_id", "lang", Map("en" -> 0, "de" -> 100))
    assert(kept.filter($"lang" === "en").count() == 0)
    assert(kept.filter($"lang" === "de").count() == 500)
    // a partial rate keeps roughly that fraction, and re-running the
    // pipeline reproduces the exact same row set (hash-keyed, no RNG)
    val half = graft.text.Sampling.stratifiedSample(
      df, "doc_id", "lang", Map.empty, defaultPct = 50)
    val n = half.count()
    assert(n > 400 && n < 600, s"expected ~500, got $n")
    assert(half.exceptAll(graft.text.Sampling.stratifiedSample(
      df, "doc_id", "lang", Map.empty, defaultPct = 50)).count() == 0)
  }

  test("split assigns every key to exactly one side at stable fractions") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("doc_id")
      .select($"doc_id", graft.text.Sampling.split($"doc_id", 90, 5).as("split"))
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1600 && counts("val") < 250 && counts("test") < 250)
    // sample decision (salt "") and split decision (salt "s") must not
    // correlate: the train fraction inside a 50% sample stays ~90%
    val sampled = graft.text.Sampling.stratifiedSample(
      df, "doc_id", "split", Map.empty, defaultPct = 50)
    val trainFrac = sampled.filter($"split" === "train").count().toDouble /
      sampled.count()
    assert(trainFrac > 0.85 && trainFrac < 0.95, s"correlated salts? $trainFrac")
  }

  test("contaminationPairs flags verbatim n-gram leakage only") {
    import spark.implicits._
    val leak = "the quick brown fox jumps over the lazy dog again today"
    val train = Seq(
      (1L, s"prefix words here $leak and a suffix tail"),
      (2L, "completely unrelated training text with nothing shared at all"))
      .toDF("train_id", "text")
    val eval = Seq((100L, leak)).toDF("eval_id", "text")
    val rows = Dedup.contaminationPairs(train, "train_id", eval, "eval_id",
      "text", n = 5, minShared = 2L).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("train_id") == 1L)
    assert(rows.head.getAs[Long]("eval_id") == 100L)
    // 11-token leak → 7 distinct shared 5-grams
    assert(rows.head.getAs[Long]("n_shared") == 7L)
  }

  test("simhash: identical text => hamming 0; different text => > 0") {
    import spark.implicits._
    val df = Seq((1L, "spark graph query engine"), (2L, "spark graph query engine"),
      (3L, "entirely other thing")).toDF("id", "text")
      .select($"id", Dedup.simhash60($"text").as("h"))
    val h = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(h(1L) ^ h(2L)) == 0)
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) > 0)
  }

  test("cosine and knn") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = vecs.filter($"vec_id" === 1)
      .crossJoin(vecs.filter($"vec_id" === 4).select($"embedding".as("other")))
      .select(Similarity.cosine($"embedding", $"other")).collect().head.getDouble(0)
    assert(math.abs(c + 1.0) < 1e-12)
    val knn = Similarity.knnBruteForce(vecs, "vec_id", "embedding",
      vecs.filter($"vec_id" === 1), "vec_id", "embedding", 2).collect()
    assert(knn.length == 2)
    assert(knn.head.getAs[Long]("id") == 2L) // the duplicate vector ranks first
    assert(knn.head.getAs[Double]("score") == 1.0)
  }

  test("banding auto-tune follows the S-curve rule") {
    // 32 hashes at tau=0.7: (8 bands, 4 rows) has threshold (1/8)^(1/4)≈.59,
    // nearest to .7 among the factorizations
    assert(Similarity.tuneBanding(32, 0.7) == (8, 4))
    // tau=0.9: (2,16) threshold .9576 (diff .058) edges out (4,8) at .841
    assert(Similarity.tuneBanding(32, 0.9) == (2, 16))
    // auto-tuned nearDupPairs still finds planted dups
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq((1L, base), (2L, base),
      (3L, "totally different content with no overlap whatsoever in words"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text").collect()
    assert(pairs.length == 1 && pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("ivf ann finds the exact duplicate through centroid probing") {
    import spark.implicits._
    val dim = 8
    val vecs = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 8 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = vecs.filter($"vec_id" === 0).withColumn("vec_id", lit(99L))
    val corpus = vecs.unionByName(dup)
    val ivf = new Similarity.IvfIndex(k = 8, nprobe = 3)
    val res = ivf.annTopK(corpus, "vec_id", "embedding",
      vecs.filter($"vec_id" === 0), "vec_id", "embedding", 3).collect()
    assert(res.nonEmpty)
    // the planted duplicate shares vec 0's centroid, so nprobe>=1 finds it
    assert(res.head.getAs[Long]("id") == 99L)
    assert(res.head.getAs[Double]("score") == 1.0)
  }

  test("product quantization finds the planted duplicate via ADC codes") {
    import spark.implicits._
    val dim = 16
    val vecs = (0 until 128).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 16 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = vecs.filter($"vec_id" === 7).withColumn("vec_id", lit(999L))
    val corpus = vecs.unionByName(dup)
    val pq = new Similarity.PqCodec(dim, m = 4)
      .train(corpus, "vec_id", "embedding")
    val encoded = corpus.select($"vec_id".as("id"),
      pq.encode($"embedding").as("codes"))
    // codes are m small ints, never the raw floats
    assert(encoded.first().getSeq[Int](1).size == 4)
    // score every corpus row against query vec 7: the duplicate's codes
    // equal vec 7's own, so its ADC distance is the global minimum (the
    // quantization residual); the sin corpus packs many rows into few
    // code cells, so assert on distances, not window ranks
    val q7 = vecs.filter($"vec_id" === 7)
      .select($"embedding".as("qvec"))
    val scored = encoded.crossJoin(q7)
      .select($"id", pq.adcDistance($"qvec", $"codes").as("adist"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(999L) == scored.values.min)
    assert(scored(999L) == scored(7L)) // identical codes, identical ADC
    // the topK helper returns rows and respects k
    val res = pq.adcTopK(encoded, vecs.filter($"vec_id" === 7),
      "vec_id", "embedding", 5).collect()
    assert(res.length == 5 && res.head.getAs[Double]("adist") == scored(999L))
    // deterministic: retraining yields identical codes
    val pq2 = new Similarity.PqCodec(dim, m = 4)
      .train(corpus, "vec_id", "embedding")
    val enc2 = corpus.select($"vec_id".as("id"),
      pq2.encode($"embedding").as("codes"))
    assert(encoded.exceptAll(enc2).isEmpty)
  }

  test("ivf-pqr finds the planted duplicate and beats its recall floor") {
    import spark.implicits._
    val dim = 16
    val vecs = (0 until 128).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 16 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = vecs.filter($"vec_id" === 7).withColumn("vec_id", lit(999L))
    val corpus = vecs.unionByName(dup).localCheckpoint(true)
    val idx = new Similarity.IvfPqrIndex(dim, k = 8, nprobe = 8,
      m1 = 4, m2 = 4, refineFactor = 8)
      .train(corpus, "vec_id", "embedding")
    val enc = idx.encode(corpus, "vec_id", "embedding").localCheckpoint(true)
    // compressed representation only: id, list id, and two code arrays
    assert(enc.columns.toSeq == Seq("id", "cid", "codes1", "codes2"))
    assert(enc.first().getSeq[Int](2).size == 4)
    // the planted duplicate has vec 7's exact codes, so it tops the
    // refined ranking with reconstruction-cosine equal to vec 7's own
    val res = idx.annTopK(enc, vecs.filter($"vec_id" === 7),
      "vec_id", "embedding", 5).collect()
    assert(res.length == 5)
    assert(res.head.getAs[Long]("id") == 999L)
    // deterministic: retraining + re-encoding yields identical codes
    val idx2 = new Similarity.IvfPqrIndex(dim, k = 8, nprobe = 8,
      m1 = 4, m2 = 4, refineFactor = 8)
      .train(corpus, "vec_id", "embedding")
    assert(idx2.encode(corpus, "vec_id", "embedding").exceptAll(enc).isEmpty)
    // recall@5 across 8 queries clears the flat-PQ tier on this corpus
    val queries = vecs.limit(8)
    val exact = Similarity.knnBruteForce(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = idx.annTopK(enc, queries, "vec_id", "embedding", 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.intersect(exact).size.toDouble / exact.size >= 0.5)
  }

  test("nprobe auto-tune reaches the recall target") {
    import spark.implicits._
    val dim = 8
    val vecs = (0 until 128).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 8 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val np = Similarity.tuneNprobe(vecs, "vec_id", "embedding",
      k = 8, topK = 3, recallTarget = 0.9, sampleQueries = 8)
    assert(np >= 1 && np <= 8)
    // the chosen nprobe must actually deliver the recall it was tuned for
    val queries = vecs.limit(8)
    val exact = Similarity.knnBruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", 3)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = new Similarity.IvfIndex(8, np).annTopK(vecs, "vec_id",
      "embedding", queries, "vec_id", "embedding", 3)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.intersect(exact).size.toDouble / exact.size >= 0.85)
  }

  test("ann finds the exact duplicate via LSH buckets") {
    import spark.implicits._
    val dim = 8
    val vecs = (0 until 32).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 8 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = vecs.filter($"vec_id" === 0)
      .withColumn("vec_id", lit(99L))
    val corpus = vecs.unionByName(dup)
    val lsh = new Similarity.RandomHyperplaneLsh(dim, 16, 4)
    val res = lsh.annTopK(corpus, "vec_id", "embedding",
      vecs.filter($"vec_id" === 0), "vec_id", "embedding", 3).collect()
    assert(res.nonEmpty)
    assert(res.head.getAs[Long]("id") == 99L) // identical vector found first
  }

  test("multimodal plumbing produces typed features; undecodable bytes flag as 0-dims") {
    import spark.implicits._
    val docs = Seq((1L, "abc", "en", "s", 3L), (2L, "defghij", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // text bytes are NOT decodable media: the real sniffer must flag
    // them (0 dims, 0 frames), never fabricate dimensions
    val feats = graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.mediaFromDocuments(docs)).collect()
    assert(feats.length == 2)
    assert(feats.forall(f => f.n_bytes > 0 && f.byte_entropy > 0))
    assert(feats.forall(f => f.width == 0 && f.height == 0 && f.n_frames == 0))
    // decodable payloads get REAL dimensions back
    val real = graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.syntheticMediaMixed(
        (1L to 6L).map(i => (i, "t", "en", "s", 1L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))).collect()
    assert(real.length == 6)
    real.sortBy(_.media_id).foreach { f =>
      if (f.media_id % 3 == 0) { // wav: n_frames = PCM sample count
        assert(f.width == 0 && f.n_frames == (100 + f.media_id % 400).toInt)
      } else { // bmp/png: header dims
        assert(f.width == (4 + f.media_id % 13).toInt &&
          f.height == (3 + f.media_id % 7).toInt && f.n_frames == 1)
      }
    }
  }

  test("multimodal resize and frame-sample stages batch correctly") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, "x" * (i.toInt * 7), "en", "s", i * 7))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = graft.multimodal.Multimodal.syntheticMediaMixed(docs)
    // ids 1..10: %3==0 → wav (3 rows), else raster (7 rows)
    val resized = graft.multimodal.Multimodal
      .resizeStage(media, 128, 128, batchSize = 3).collect()
    assert(resized.length == 7)
    assert(resized.forall(r => r.width <= 128 && r.height <= 128 &&
      r.width >= 1 && (r.width == 128 || r.height == 128)))
    // the resample is real: mean pixel of the generator pattern lands
    // strictly inside (0, 255)
    assert(resized.forall(r => r.px_mean > 0 && r.px_mean < 255))
    // batch size must not change results
    val resized1 = graft.multimodal.Multimodal
      .resizeStage(media, 128, 128, batchSize = 1000).collect()
    assert(resized.sortBy(_.media_id).sameElements(resized1.sortBy(_.media_id)))
    val frames = graft.multimodal.Multimodal
      .frameSampleStage(media, everyN = 5, batchSize = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(f => f.frame_index % 5 == 0 && f.kind == "audio"))
    // frame values are the REAL decoded PCM samples
    assert(frames.forall(f =>
      f.frame_value == (f.media_id * 7 + f.frame_index * 13) % 2001 - 1000))
  }

  test("png survives the JDK codec round-trip bit-exactly") {
    import graft.multimodal.RealCodec
    val px = (x: Int, y: Int, c: Int) => (11 + 3 * x + 5 * y + c) % 256
    val bytes = RealCodec.encodePng(9, 5, px)
    assert(RealCodec.sniff(bytes) == "png")
    val img = RealCodec.decodeRaster(bytes)
    assert(img.width == 9 && img.height == 5)
    for (y <- 0 until 5; x <- 0 until 9; c <- 0 until 3)
      assert(img.pixels((y * 9 + x) * 3 + c) == px(x, y, c))
    // and the BMP path through the same generator decodes identically
    val bmp = RealCodec.decodeRaster(RealCodec.encodeBmp24(9, 5, px))
    assert(bmp.pixels.sameElements(img.pixels))
    // the codec must run on memory-backed image streams: the disk-backed
    // default creates+deletes a temp file per read/write, which
    // serialized 32 concurrent decode tasks on filesystem churn (m02's
    // inverse core scaling, r20 verdict #3) — and it must do so without
    // flipping ImageIO's JVM-wide switch. With the file cache ON and its
    // directory gone, any cached stream fails to open.
    import javax.imageio.ImageIO
    val (useCache, cacheDir) = (ImageIO.getUseCache, ImageIO.getCacheDirectory)
    val gone = tempDir("imageio-cache").toFile
    try {
      ImageIO.setUseCache(true)
      ImageIO.setCacheDirectory(gone)
      assert(gone.delete())
      val again = RealCodec.decodeRaster(RealCodec.encodePng(9, 5, px))
      assert(again.pixels.sameElements(img.pixels),
        "ImageIO file cache in the codec path - m02's 32-core collapse returns")
    } finally {
      ImageIO.setCacheDirectory(cacheDir)
      ImageIO.setUseCache(useCache)
    }
  }

  test("incremental dedup drops cross-run duplicates") {
    import spark.implicits._
    import graft.dedup.IncrementalDedup
    val state = tempDir("dedup-state").toString
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different text about other things entirely ok"))
      .toDF("doc_id", "text")
    assert(IncrementalDedup.dedupeExact(b1, "doc_id", "text", state).count() == 2)
    val b2 = Seq((3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "brand new content nothing matches here at all"))
      .toDF("doc_id", "text")
    // doc 3 duplicates run-1's doc 1 → only doc 4 survives run 2
    val r2 = IncrementalDedup.dedupeExact(b2, "doc_id", "text", state)
    assert(r2.collect().map(_.getLong(0)).toSeq == Seq(4L))
    // r18 retry contract: re-running the SAME batch is idempotent — a
    // doc's own committed entry doesn't suppress it (doc 4 returns
    // again; doc 3 still drops against run-1's doc 1). The pre-r18
    // behavior (count 0: everything ghost-suppressed by its own state)
    // made a crash between state append and downstream output LOSE the
    // batch's content permanently. Full coverage: IncrementalRetrySpec.
    assert(IncrementalDedup.dedupeExact(b2, "doc_id", "text", state)
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("batch-commit dedup is exactly-once across a crash between state " +
      "commit and output commit (r15 verdict #7)") {
    import spark.implicits._
    import graft.dedup.IncrementalDedup
    val state = tempDir("commit-state").toString
    val outRoot = tempDir("commit-out").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val a = Seq((1L, dup), (2L, "first batch unique text entirely"))
      .toDF("doc_id", "text")
    val ra = IncrementalDedup.dedupeExactCommit(
      a, "doc_id", "text", state, outRoot, "A")
    assert(ra.collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // ---- simulate batch B crashing BETWEEN state commit and output
    // commit: its fingerprint state dir exists, but no output directory
    // and no commit marker — exactly the on-disk aftermath of a driver
    // death at that point
    val b = Seq((3L, dup), (4L, "second batch fresh material here"))
      .toDF("doc_id", "text")
    b.withColumn("fp", graft.text.TextAnalysis.fingerprint($"text"))
      .select("fp").write.mode("overwrite")
      .parquet(s"$state/exact_batches/ingest_B")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$state/exact_commits/B")))

    // the RE-RUN must neither drop the batch (its own crashed state must
    // be invisible to the history probe) nor double-admit vs batch A
    val rb = IncrementalDedup.dedupeExactCommit(
      b, "doc_id", "text", state, outRoot, "B")
    assert(rb.collect().map(_.getLong(0)).toSet == Set(4L),
      "re-run after crash must admit exactly the novel doc")

    // a SECOND re-run (crash after the marker / duplicate delivery)
    // short-circuits to the committed output — no double admission
    val rb2 = IncrementalDedup.dedupeExactCommit(
      b, "doc_id", "text", state, outRoot, "B")
    assert(rb2.collect().map(_.getLong(0)).toSet == Set(4L))

    // global invariant: every document admitted EXACTLY once across all
    // committed outputs
    val all = spark.read.parquet(s"$outRoot/A", s"$outRoot/B")
    assert(all.count() == 3)
    assert(all.select("doc_id").distinct().count() == 3)
    // and batch C still dedups against A and B's committed state
    val c = Seq((5L, dup), (6L, "second batch fresh material here"))
      .toDF("doc_id", "text")
    assert(IncrementalDedup.dedupeExactCommit(
      c, "doc_id", "text", state, outRoot, "C").count() == 0)
  }

  test("incremental near-dedup uses persisted LSH buckets across runs") {
    import spark.implicits._
    import graft.dedup.IncrementalDedup
    val state = tempDir("neardup-state").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val n1 = Seq((1L, base),
      (2L, "totally different content with no overlap whatsoever in words"))
      .toDF("doc_id", "text")
    assert(IncrementalDedup.dedupeNear(n1, "doc_id", "text", state,
      numHashes = 16, bands = 4).count() == 2)
    // run 2: 3/4/5 duplicate the run-1 doc (and each other); 6 is fresh
    val n2 = Seq((3L, base), (4L, base), (5L, base),
      (6L, "yet more fresh unrelated material nothing shared at all right"))
      .toDF("doc_id", "text")
    val r = IncrementalDedup.dedupeNear(n2, "doc_id", "text", state,
      numHashes = 16, bands = 4)
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(6L))
    // compaction rewrites the state without changing outcomes
    IncrementalDedup.compactState(spark, state)
    val n3 = Seq((7L, base),
      (8L, "yet more fresh unrelated material nothing shared at all right"))
      .toDF("doc_id", "text")
    val r3 = IncrementalDedup.dedupeNear(n3, "doc_id", "text", state,
      numHashes = 16, bands = 4)
    assert(r3.count() == 0) // both duplicate compacted history
  }

  test("transformWithState running totals equal the v1 port and batch") {
    import spark.implicits._
    val dir = tempDir("evs4").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    // arbitrary-state v2 requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = graft.streaming.EventPipeline.readEventStream(spark, dir)
      val q = graft.streaming.EventPipeline.runningUserTotalsV2(stream)
        .writeStream.outputMode("update").format("memory")
        .queryName("runningv2").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.sql(
        """select user_id, max_by(n_events, n_events) n, max_by(total, n_events) t
          |from runningv2 group by user_id""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 100) / 100)).toSet
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"value").as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 100) / 100)).toSet
      assert(streamed == batch)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-stream join with watermarks equals the batch join") {
    import spark.implicits._
    val dir = tempDir("evs3").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    def split(df: org.apache.spark.sql.DataFrame) =
      (df.filter($"event_type" === "click"),
        df.filter($"event_type" === "purchase"))
    val (sc, sp) = split(graft.streaming.EventPipeline.readEventStream(spark, dir))
    val q = graft.streaming.EventPipeline.streamStreamJoin(sc, sp)
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjoin").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("select * from ssjoin").count()
    val (bc, bp) = split(graft.Tables.events(spark, "/root/testdata/sf0.001"))
    val batch = graft.streaming.EventPipeline.streamStreamJoin(bc, bp).count()
    assert(streamed == batch && batch > 0)
  }

  test("event-time timers close sessions that match batch session windows") {
    import spark.implicits._
    val dir = tempDir("evs6").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = graft.streaming.EventPipeline.readEventStream(spark, dir)
      val q = graft.streaming.EventPipeline.expiredSessions(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("expired").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.sql(
        "select user_id, first_ms, n_events, total from expired")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.rint(r.getDouble(3) * 100) / 100)).toSet
      // batch oracle: session_window with the same 30-minute gap
      val batch = graft.streaming.EventPipeline.sessionized(
        graft.Tables.events(spark, "/root/testdata/sf0.001"))
        .selectExpr("user_id",
          "cast(unix_millis(sstart) as long) first_ms", "n_events",
          "cast(total as double) total")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.rint(r.getDouble(3) * 100) / 100)).toSet
      // every closed streamed session must be a genuine batch session;
      // only sessions near the stream tail (watermark never passed their
      // gap) may be missing
      assert(streamed.nonEmpty)
      assert(streamed.subsetOf(batch))
      assert(streamed.size >= batch.size / 2)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-stream anti-join and watermark dedup equal batch") {
    import spark.implicits._
    val dir = tempDir("evs5").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    def split(df: org.apache.spark.sql.DataFrame) =
      (df.filter($"event_type" === "click"),
        df.filter($"event_type" === "purchase"))
    val (sc, sp) = split(graft.streaming.EventPipeline.readEventStream(spark, dir))
    val q = graft.streaming.EventPipeline.clicksWithoutPurchase(sc, sp)
      .writeStream.outputMode("append").format("memory")
      .queryName("noconv").start()
    q.processAllAvailable(); q.stop()
    val streamedIds = spark.sql("select click_id from noconv")
      .collect().map(_.getLong(0)).toSet
    val (bc, bp) = split(graft.Tables.events(spark, "/root/testdata/sf0.001"))
    val batchIds = graft.streaming.EventPipeline.clicksWithoutPurchase(bc, bp)
      .select("click_id").collect().map(_.getLong(0)).toSet
    // append-mode anti rows only emit once the watermark passes them; the
    // streamed set must be a subset of batch with no false positives
    assert(streamedIds.subsetOf(batchIds))
    assert(batchIds.nonEmpty)

    // dedup-within-watermark: batch oracle is exact dropDuplicates
    val stream2 = graft.streaming.EventPipeline.readEventStream(spark, dir)
    val q2 = graft.streaming.EventPipeline.dedupWithinWatermark(stream2)
      .select("event_id").writeStream.outputMode("append").format("memory")
      .queryName("dedupw").start()
    q2.processAllAvailable(); q2.stop()
    val streamedN = spark.sql("select count(distinct event_id) from dedupw")
      .collect().head.getLong(0)
    val batchN = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .dropDuplicates("event_id").count()
    assert(streamedN == batchN)
  }

  test("system procedures") {
    val gls = graft.GraphLiteSpark.open(spark,
      tempDir("wh-proc").toString)
    gls.catalog.createSchema("s1")
    val sess = gls.session("alice")
    assert(sess.call("gql.list_schemas").collect().map(_.getString(0)).toSeq == Seq("s1"))
    assert(sess.call("gql.list_functions").count() > 40)
    assert(sess.call("gql.show_session").collect().head.getString(0) == "alice")
  }

  test("RealCodec: WAV and BMP encode/decode round-trip exactly") {
    import graft.multimodal.RealCodec
    val samples = Array.tabulate(500)(i => ((i * 37) % 2001 - 1000).toShort)
    val wav = RealCodec.decodeWav(RealCodec.encodeWavPcm16Mono(8000, samples))
    assert(wav.sampleRate == 8000 && wav.channels == 1 &&
      wav.bitsPerSample == 16)
    assert(wav.samples.toSeq == samples.toSeq)
    assert(wav.durationMs == 62.5)
    // BMP with width 5 (row padding 15 → 16 bytes) round-trips per pixel
    val img = RealCodec.decodeBmp(
      RealCodec.encodeBmp24(5, 4, (x, y, c) => (x * 3 + y * 5 + c) % 256))
    assert(img.width == 5 && img.height == 4)
    for (y <- 0 until 4; x <- 0 until 5; c <- 0 until 3)
      assert(img.pixels((y * 5 + x) * 3 + c) == (x * 3 + y * 5 + c) % 256)
  }

  test("RealCodec: strict decoders reject corrupt payloads loudly") {
    import graft.multimodal.RealCodec
    val wav = RealCodec.encodeWavPcm16Mono(8000, Array[Short](1, 2, 3))
    // flipped magic
    val bad = wav.clone(); bad(0) = 'X'
    assert(intercept[IllegalArgumentException](RealCodec.decodeWav(bad))
      .getMessage.contains("bad magic"))
    // truncated data chunk
    assert(intercept[IllegalArgumentException](
      RealCodec.decodeWav(wav.take(wav.length - 2)))
      .getMessage.contains("overruns"))
    val bmp = RealCodec.encodeBmp24(3, 3, (_, _, _) => 7)
    assert(intercept[IllegalArgumentException](
      RealCodec.decodeBmp(bmp.take(40))).getMessage.contains("need >= 54"))
  }

  test("RealCodec: crafted headers fail fast, never hang or overflow") {
    import graft.multimodal.RealCodec
    val wav = RealCodec.encodeWavPcm16Mono(8000, Array[Short](1, 2, 3))
    // chunk length 0xFFFFFFF8 once truncated to Int advanced the RIFF
    // walk by 0 bytes — an infinite loop; the Long-space bounds check
    // must reject it instead
    val spin = wav.clone()
    spin(40) = 0xf8.toByte; spin(41) = 0xff.toByte
    spin(42) = 0xff.toByte; spin(43) = 0xff.toByte
    assert(intercept[IllegalArgumentException](RealCodec.decodeWav(spin))
      .getMessage.contains("overruns"))
    // a large positive length whose off+8+len wraps negative as Int
    val wrap = wav.clone()
    wrap(40) = 0xf0.toByte; wrap(41) = 0xff.toByte
    wrap(42) = 0xff.toByte; wrap(43) = 0x7f.toByte
    assert(intercept[IllegalArgumentException](RealCodec.decodeWav(wrap))
      .getMessage.contains("overruns"))
    // fmt declaring zero channels must throw, not divide-by-zero later
    val noCh = wav.clone(); noCh(22) = 0; noCh(23) = 0
    assert(intercept[IllegalArgumentException](RealCodec.decodeWav(noCh))
      .getMessage.contains("channels"))
    // BMP width near 2^30 overflows rowBytes*height as Int — must reject
    val bigW = RealCodec.encodeBmp24(3, 3, (_, _, _) => 7).clone()
    bigW(18) = 0; bigW(19) = 0; bigW(20) = 0; bigW(21) = 0x40
    assert(intercept[IllegalArgumentException](RealCodec.decodeBmp(bigW))
      .getMessage.contains("width"))
  }

  test("RealCodec: negative height decodes spec-legal top-down BMPs") {
    import graft.multimodal.RealCodec
    val bottomUp = RealCodec.encodeBmp24(3, 2, (x, y, c) => x * 10 + y * 40 + c)
    // rewrite height 2 → -2 and reverse the stored row order: the decoded
    // pixels must be identical to the bottom-up original
    val td = bottomUp.clone()
    td(22) = 0xfe.toByte; td(23) = 0xff.toByte
    td(24) = 0xff.toByte; td(25) = 0xff.toByte
    val rowBytes = (3 * 3 + 3) & ~3
    for (i <- 0 until rowBytes) {
      val t = td(54 + i); td(54 + i) = td(54 + rowBytes + i); td(54 + rowBytes + i) = t
    }
    val a = RealCodec.decodeBmp(bottomUp)
    val b = RealCodec.decodeBmp(td)
    assert(b.width == a.width && b.height == a.height)
    assert(b.pixels.toSeq == a.pixels.toSeq)
  }

  test("RealCodec: nearest-neighbor resize is a real pixel transform") {
    import graft.multimodal.RealCodec
    // 2×2 quadrant image; 4×4 upsample must replicate each quadrant
    val img = RealCodec.decodeBmp(RealCodec.encodeBmp24(2, 2,
      (x, y, _) => x * 100 + y * 50))
    val up = RealCodec.resizeNearest(img, 4, 4)
    assert(up.width == 4 && up.height == 4)
    assert(up.pixels((0 * 4 + 0) * 3) == 0)     // top-left quadrant
    assert(up.pixels((0 * 4 + 3) * 3) == 100)   // top-right
    assert(up.pixels((3 * 4 + 0) * 3) == 50)    // bottom-left
    assert(up.pixels((3 * 4 + 3) * 3) == 150)   // bottom-right
  }

  test("container video (MP4) rows yield flag columns, never a decode attempt") {
    import spark.implicits._
    import graft.multimodal.{Multimodal, RealCodec}
    // a real MP4 signature: [size]['ftyp']['isom' brand...] — no JDK
    // codec exists for container video, so the documented contract is
    // flag-don't-guess (reference has no multimodal analog; this is the
    // m03 contract)
    val mp4: Array[Byte] = Array[Byte](0, 0, 0, 0x18) ++
      "ftypisom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 2, 0) ++
      "isommp41".getBytes("US-ASCII")
    assert(RealCodec.sniff(mp4) == "unknown")
    assert(Multimodal.probeDims(mp4) == (("unknown", 0, 0, 0)))
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", mp4, "synth"),
      Multimodal.MediaRecord(2L, "image",
        RealCodec.encodeBmp24(2, 2, (_, _, _) => 10), "synth")).toDS()
    // m01 feature stage: flagged dims, real byte stats still computed
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats(0).width == 0 && feats(0).height == 0 &&
      feats(0).n_frames == 0)
    assert(feats(0).n_bytes == mp4.length && feats(0).byte_entropy > 0.0)
    // m03 decode stage: the documented flag row (format "unknown",
    // every feature 0) — not an exception mid-stage
    val dec = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(dec(0).format == "unknown")
    assert(dec(0).width == 0L && dec(0).height == 0L &&
      dec(0).sample_rate == 0L && dec(0).n_samples == 0L &&
      dec(0).duration_ms == 0.0 && dec(0).peak == 0L && dec(0).mean_val == 0.0)
    assert(dec(1).format == "bmp" && dec(1).width == 2L)
    // m02 transform stages: the flagged row is dropped, not guessed at
    assert(Multimodal.resizeStage(media, 8, 8).collect()
      .map(_.media_id).toSeq == Seq(2L))
    assert(Multimodal.frameSampleStage(media, 1).collect().isEmpty)
  }

  test("exact-KNN oracle cache hits per dataset and invalidates on rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("oracle-spec")
    def writeEmb(seed: Int): Unit =
      spark.range(40).select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, 7), j -> cast(sin(id * $seed + j) as float))")
            .as("embedding"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
    writeEmb(3)
    val first = graft.queries.PipelineQueries
      .exactTopKCached(spark, dir.toString, 5).collect()
    // same dataset → cache hit: byte-identical answer
    val again = graft.queries.PipelineQueries
      .exactTopKCached(spark, dir.toString, 5).collect()
    assert(first.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
    // rewriting the dataset changes the signature → recompute, and the
    // answer reflects the NEW vectors (a stale cache would not)
    writeEmb(11)
    val fresh = graft.queries.PipelineQueries
      .exactTopKCached(spark, dir.toString, 5).collect()
    assert(fresh.map(_.toString).sorted.toSeq !=
      first.map(_.toString).sorted.toSeq)
  }

  test("chunkByTokens: coverage, overlap, partial last window, empty docs") {
    import spark.implicits._
    import graft.text.TextAnalysis
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                   // shorter than window
      (3L, "   ")                                      // whitespace-only
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkByTokens(docs, "doc_id", "text",
      maxTokens = 4, stride = 3).orderBy($"doc_id", $"chunk_id").collect()
    // doc 1: starts 0,3,6,9 -> 4 chunks; doc 2: 1 chunk; doc 3 produces
    // Spark's split("") = [""] single token — chunked as one 1-token row
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d1.map(_.getLong(2)).toSeq == Seq(4L, 4L, 4L, 1L)) // last partial
    assert(d1(0).getString(3) == "t1 t2 t3 t4")
    assert(d1(1).getString(3) == "t4 t5 t6 t7")  // overlap = 1 token
    assert(d1(3).getString(3) == "t10")
    // every token covered exactly: union of slices == token set
    val covered = d1.flatMap(_.getString(3).split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    assert(out.count(_.getLong(0) == 2L) == 1)
    assert(out.filter(_.getLong(0) == 2L).head.getString(3) == "a b c")
  }

  test("mixtureSample: binding source keeps 100%, rates follow weights") {
    import spark.implicits._
    import graft.text.Sampling
    // src A: 100 docs x 10 tokens = 1000; src B: 100 x 20 = 2000;
    // weights 50/50 -> budget = min(1000/.5, 2000/.5) = 2000 ->
    // A keeps 100% (binding), B keeps 50%
    val docs = spark.range(200).select(
      col("id").as("doc_id"),
      when(col("id") < 100, "A").otherwise("B").as("source"),
      when(col("id") < 100, lit((1 to 10).map(_ => "w").mkString(" ")))
        .otherwise(lit((1 to 20).map(_ => "w").mkString(" "))).as("text"))
    val kept = Sampling.mixtureSample(docs, "doc_id", "text", "source",
      Map("A" -> 0.5, "B" -> 0.5))
    val rates = kept.select($"source", $"rate_ppm").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("A") == 1000000L) // binding source: keep everything
    assert(rates("B") == 500000L)
    val bySrc = kept.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("A") == 100L)
    // hash-keyed keeps ~50% of B (exact count is deterministic)
    assert(bySrc("B") > 30L && bySrc("B") < 70L)
    // unlisted sources are excluded entirely
    val withC = docs.withColumn("source",
      when(col("doc_id") === 0, "C").otherwise(col("source")))
    val keptC = Sampling.mixtureSample(withC, "doc_id", "text", "source",
      Map("A" -> 0.5, "B" -> 0.5))
    assert(keptC.filter($"source" === "C").isEmpty)
  }

  test("semantic dedup drops exactly the salted duplicate vectors") {
    import spark.implicits._
    // exact duplicate vectors land in identical LSH buckets at cos 1.0;
    // distinct vectors are murmur3-hash pseudo-random (harmonic families
    // like sin(f(i)+j) or sin(f(i)·j) alias — pairs whose phase or
    // frequency nearly coincides mod 2π land at cosine ≈ 1 and merge
    // the corpus; hash noise has pairwise cosine ~N(0, 1/8))
    val base = spark.range(100).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), " +
        "j -> cast((pmod(hash(id, j), 2000) - 1000) / 1000.0 as float))")
        .as("embedding"))
    val dup = base.filter($"vec_id" < 10)
      .withColumn("vec_id", $"vec_id" + 1000)
    val emb = base.unionByName(dup)
    val lsh = new Similarity.RandomHyperplaneLsh(64, 32, 4)
    val cb = lsh.buckets(emb, "vec_id", "embedding")
    val cand = cb.join(cb.select($"band", $"bucket", $"id".as("id_b")),
        Seq("band", "bucket"))
      .filter($"id" < $"id_b").select($"id".as("id_a"), $"id_b").distinct()
    val v = emb.select($"vec_id", $"embedding")
    val pairs = cand
      .join(v.select($"vec_id".as("id_a"), $"embedding".as("va")), "id_a")
      .join(v.select($"vec_id".as("id_b"), $"embedding".as("vb")), "id_b")
      .filter(round(graft.functions.VectorFunctions.cosine(spark, $"va", $"vb"), 6) >= 0.95)
      .select($"id_a", $"id_b")
    val dropped = Dedup.dupClusters(pairs, "id_a", "id_b")
      .filter(!$"is_canonical").select($"doc_id".as("vec_id"))
    val survivors = emb.select($"vec_id")
      .join(dropped, Seq("vec_id"), "left_anti")
    // each dup cluster {i, i+1000} keeps min id i; everything else stays
    assert(survivors.count() == 100L)
    assert(survivors.filter($"vec_id" >= 1000).isEmpty)
  }

  test("adaptive pair-LSH bits: 8 below 65K, then buckets track corpus") {
    // the r14 30×-probe finding: fixed 256-bucket bands made e03/e07
    // pair enumeration quadratic. The rule caps expected occupancy ~16.
    assert(Similarity.adaptivePairBits(1L) == 8)
    assert(Similarity.adaptivePairBits(2250L) == 8)    // sf0.1 corpus
    assert(Similarity.adaptivePairBits((1L << 8) * 16L) == 8)  // 4096
    assert(Similarity.adaptivePairBits(65536L) == 12)  // first step past 8
    assert(Similarity.adaptivePairBits(66050L) == 13)  // 30× tier
    assert(Similarity.adaptivePairBits(220050L) == 14) // 100× tier
    assert(Similarity.adaptivePairBits(Long.MaxValue) == 24) // clamp
    // prefix stability: a 96-plane signature's first 32 planes ARE the
    // historical 32-plane layout — band slices stay bit-identical when
    // bits grow (the oracle SQL interpolates the 96-plane matrix and
    // slices per-band)
    val small = new Similarity.RandomHyperplaneLsh(64, 32, 4).planeRows
    val big = new Similarity.RandomHyperplaneLsh(64, 96, 4).planeRows
    assert(big.take(32) == small)
  }

  test("pair-graph artifact signatures are parameter-complete: changing " +
      "any computation constant changes the signature") {
    import graft.queries.PipelineQueries.{pairGraphParamSig, docPairGraphParamSig}
    val base = pairGraphParamSig()
    // each parameter independently perturbs the cosine-graph signature
    assert(pairGraphParamSig(dim = 32) != base)
    assert(pairGraphParamSig(bands = 8) != base)
    assert(pairGraphParamSig(synCount = 51L) != base)
    assert(pairGraphParamSig(synOffset = 20000L) != base)
    assert(pairGraphParamSig(scale = 5) != base)
    // the plane encoding sees the hyperplane seed/LCG/±1 scheme: the
    // probe's actual first plane row is embedded bit-for-bit
    val planes = new Similarity.RandomHyperplaneLsh(64, 4, 4).planeRows.head
      .map(v => if (v > 0) '1' else '0').mkString
    assert(base.endsWith(s"planes=$planes"))
    // …and the minhash-graph signature likewise
    val dBase = docPairGraphParamSig()
    assert(docPairGraphParamSig(n = 7) != dBase)
    assert(docPairGraphParamSig(numHashes = 64) != dBase)
    assert(docPairGraphParamSig(bands = 4) != dBase)
    assert(docPairGraphParamSig(tau = 0.8) != dBase)
    assert(docPairGraphParamSig(saltCount = 21L) != dBase)
    assert(docPairGraphParamSig(saltOffset = 2000000L) != dBase)
    // the two computations can never collide on one artifact directory
    assert(base != dBase)
  }

  test("substring dedup: duplicated windows merge into maximal spans " +
      "(cross-doc, within-doc, adjacent-merge, gap-split, short-doc)") {
    import spark.implicits._
    val docs = Seq(
      // cross-doc: "a b c d" shared with doc 2 → one span each
      (1L, "a b c d e f"),
      (2L, "x x a b c d y"),
      // within-doc repetition alone duplicates its windows → whole doc
      (3L, "p q r p q r p q r"),
      // shorter than k: no windows, clean by definition
      (4L, "z1 z2"),
      // two duplicated windows with a gap stay TWO spans
      (5L, "u v w m n o u v w"),
      // duplicated windows at pos 0 and 3 are ADJACENT (end 3 = start 3)
      // → one contiguous span [0,6)
      (6L, "g h i j k l"),
      (7L, "g h i q r s j k l")
    ).toDF("doc_id", "text")
    val got = Dedup.substringSpans(docs, "doc_id", "text", k = 3)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 6L, 1L, 4L, 2L),   // span [0,4)
      (2L, 7L, 1L, 4L, 3L),   // span [2,6)
      (3L, 9L, 1L, 9L, 0L),   // every window duplicated → [0,9)
      (4L, 2L, 0L, 0L, 2L),
      (5L, 9L, 2L, 6L, 3L),   // [0,3) and [6,9) — gap keeps them apart
      (6L, 6L, 1L, 6L, 0L),   // [0,3) + [3,6) merge (adjacent)
      (7L, 9L, 2L, 6L, 3L)))  // [0,3) and [6,9)

    // the removal pass drops exactly the covered tokens and re-joins the
    // survivors in position order; fully-duplicated docs become ""
    val cleaned = Dedup.substringClean(docs, "doc_id", "text", k = 3)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(cleaned.toSeq == Seq(
      (1L, 2L, "e f"),
      (2L, 3L, "x x y"),
      (3L, 0L, ""),
      (4L, 2L, "z1 z2"),      // below k: passes through normalized
      (5L, 3L, "m n o"),
      (6L, 0L, ""),
      (7L, 3L, "q r s")))
  }

  test("vocab coverage: frequency ranks, text tie-break, exact running " +
      "coverage, top-N truncation") {
    import spark.implicits._
    val docs = Seq("b a", "a b c d").toDF("text")
    // counts: a=2, b=2, c=1, d=1; total 6; ties (a,b) and (c,d) break
    // by token text
    val got = graft.text.CorpusStats.vocabCoverage(docs, "text", topN = 3)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, "a", 2L, 2.0 / 6),
      (2L, "b", 2L, 4.0 / 6),
      (3L, "c", 1L, 5.0 / 6)))   // d truncated by topN
  }
}
