package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two tiers, per SURVEY.md §M6 and the 100 TB design point:
  *  - [[knnBruteForce]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; one scan, no shuffle of the corpus, then a
  *    per-query top-k window. The baseline and the verifier for ANN.
  *  - [[RandomHyperplaneLsh]]: sign-random-projection LSH — corpus hashed
  *    once into band buckets (narrow map + one shuffle), probes join only
  *    their buckets, exact rerank confined to candidates. This is the path
  *    that survives a 10^9-row corpus where brute force cannot.
  *
  * All math in double precision via explicit fold (deterministic
  * accumulation order → bit-identical across engines, oracle-friendly).
  */
object Similarity {

  /** Driver-side Lloyd k-means over a bounded sample (Euclidean, 10
    * rounds, deterministic LCG seeding) — the one trainer behind
    * [[IvfIndex]], [[PqCodec]], and [[IvfPqrIndex]]. Training on a
    * sample is the FAISS architecture: centroids only partition the
    * space, so a fleet of distributed k-means jobs buys nothing.
    */
  private[similarity] def lloydTrain(sample: Array[Array[Double]], k: Int,
      seed: Long): Array[Array[Double]] = {
    val n = sample.length
    val dim = sample.head.length
    var state = seed
    def next(): Long = { state = (state * 48271L) % 2147483647L; state }
    val centroids = Array.tabulate(math.min(k, n))(_ =>
      sample((next() % n).toInt.abs).clone())
    val assignOf = new Array[Int](n)
    for (_ <- 0 until 10) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0; var j = 0
          while (j < dim) {
            val diff = sample(i)(j) - centroids(c)(j); d += diff * diff; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assignOf(i) = best
        i += 1
      }
      val sums = Array.fill(centroids.length, dim)(0.0)
      val counts = new Array[Int](centroids.length)
      i = 0
      while (i < n) {
        val c = assignOf(i); counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += sample(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < centroids.length) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
    }
    centroids
  }

  /** Nearest index in `cents` for a local vector (Euclidean). */
  private[similarity] def nearestIdx(v: Array[Double],
      cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d = 0.0; var j = 0
      while (j < v.length) {
        val diff = v(j) - cents(c)(j); d += diff * diff; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Dot product of two float-array columns, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision (0 when either norm is 0). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0, lit(0.0)).otherwise(d / nn)
  }

  /** Exact top-k by cosine: for each row of `queries` (qid, qvec) return
    * the k nearest rows of `corpus` (id, vec), excluding self-matches on
    * id. The query side is broadcast — the corpus is scanned exactly once
    * with no shuffle; ranking is a per-query window.
    */
  def knnBruteForce(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val cos = graft.functions.VectorFunctions
      .cosine(corpus.sparkSession, col("qvec"), col("vec"))
    val scored = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cos.as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("id"), round(col("score"), 6).as("score"),
        col("rk").cast("long").as("rk"))
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer over a corpus
    * sample; each vector lives in the posting list of its nearest
    * centroid, and a query probes only its `nprobe` nearest centroids'
    * lists before the exact cosine rerank. The second scale path next to
    * hyperplane LSH (ROADMAP §pipeline): for a 10^9-row corpus, nprobe/k
    * bound the scanned fraction.
    *
    * The quantizer trains FAISS-style on a bounded driver-side SAMPLE
    * (local Lloyd iterations, seeded/deterministic) — training on the
    * full corpus through distributed k-means costs a fleet of jobs and
    * buys nothing: centroids only partition the space. Assignment and
    * probing are then narrow codegen'd maps against the centroid
    * literals; the only shuffle is the candidate equi-join on cid.
    */
  final class IvfIndex(k: Int, nprobe: Int, seed: Long = 20240303L,
      trainSample: Int = 10000) {
    require(nprobe <= k, "nprobe must be <= k")

    /** Local Lloyd k-means over the sample (Euclidean, 10 rounds). */
    private def lloyd(sample: Array[Array[Float]]): Array[Array[Double]] = {
      val n = sample.length
      val dim = sample.head.length
      var state = seed
      def next(): Long = { state = (state * 48271L) % 2147483647L; state }
      val centroids = Array.tabulate(math.min(k, n))(_ =>
        sample((next() % n).toInt.abs).map(_.toDouble))
      val assignOf = new Array[Int](n)
      for (_ <- 0 until 10) {
        var i = 0
        while (i < n) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < centroids.length) {
            var d = 0.0; var j = 0
            while (j < dim) {
              val diff = sample(i)(j) - centroids(c)(j); d += diff * diff; j += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          assignOf(i) = best
          i += 1
        }
        val sums = Array.fill(centroids.length, dim)(0.0)
        val counts = new Array[Int](centroids.length)
        i = 0
        while (i < n) {
          val c = assignOf(i); counts(c) += 1
          var j = 0
          while (j < dim) { sums(c)(j) += sample(i)(j); j += 1 }
          i += 1
        }
        var c = 0
        while (c < centroids.length) {
          if (counts(c) > 0) {
            var j = 0
            while (j < dim) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
          }
          c += 1
        }
      }
      centroids
    }

    /** Train centroids on a corpus sample and return the corpus tagged
      * with its nearest-centroid id: (id, vec, cid).
      */
    def assign(corpus: DataFrame, idCol: String, vecCol: String): (DataFrame, Array[Array[Double]]) = {
      // deterministic spread draw: rank by a hash of the id and take the
      // first trainSample — Spark executes orderBy+limit as TakeOrdered
      // (per-partition heap, no full sort), and the hash order is unbiased
      // even for sorted/clustered corpora, where a bare limit() would
      // train on the first file's rows only
      val sample = corpus
        .select(col(vecCol).as("vec"), col(idCol).as("id"))
        .orderBy(xxhash64(col("id")), col("id"))
        .limit(trainSample)
        .select(col("vec"))
        .collect().map(_.getSeq[Float](0).toArray)
      if (sample.isEmpty) throw new IllegalArgumentException(
        "IvfIndex: cannot train the quantizer on an empty corpus")
      val centroids = lloyd(sample)
      val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .withColumn("cid",
          element_at(probeCids(col("vec"), centroids, 1), 1))
      (assigned, centroids)
    }

    /** Nearest-`np` centroid ids of a vector column, as array<int>. */
    private def probeCids(vec: Column, centroids: Array[Array[Double]],
        np: Int): Column = {
      // one typedLit matrix + a higher-order transform instead of k×dim
      // literal nodes — same math, far smaller plan (see IvfPqrIndex)
      val centLit = typedLit(centroids.map(_.map(_.toFloat).toSeq).toSeq)
      val scored = transform(sequence(lit(0), lit(centroids.length - 1)),
        i => struct(graft.functions.VectorFunctions
          .cosine(org.apache.spark.sql.SparkSession.active, vec,
            element_at(centLit, i + 1)).as("sim"),
          i.cast("int").as("cid")))
      // top-np by cosine: sort the k (sim, cid) structs descending
      slice(reverse(array_sort(scored)), 1, np)
        .getField("cid")
    }

    /** Approximate top-k neighbors: probe nprobe centroid posting lists,
      * exact-cosine rerank candidates.
      */
    def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
        queries: DataFrame, qidCol: String, qvecCol: String, topK: Int): DataFrame = {
      val spark = corpus.sparkSession
      val (assigned, centroids) = assign(corpus, idCol, vecCol)
      val probed = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
        .withColumn("cid", explode(probeCids(col("qvec"), centroids, nprobe)))
      val cands = probed.join(assigned.withColumnRenamed("id", "cand_id"), "cid")
        .filter(col("cand_id") =!= col("qid"))
      val cos = graft.functions.VectorFunctions
        .cosine(spark, col("qvec"), col("vec"))
      val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
      cands.select(col("qid"), col("cand_id").as("id"), cos.as("score"))
        .distinct()
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"),
          col("rk").cast("long").as("rk"))
    }
  }

  /** Hierarchical (2-level) IVF — the k ≫ 10K deployment shape (r18
    * verdict #4). A flat [[IvfIndex]] caps its list count at the
    * driver-side training draw (k centroids need ≥ k sample vectors,
    * and the bounded 10K draw is that cap); a 10^9-row corpus wants
    * k ≈ 64K lists, which a flat trainer cannot reach without a
    * driver-hostile sample. The 2-level trainer keeps every draw
    * bounded:
    *
    *  1. √k SUPERCLUSTERS train driver-side on the usual bounded
    *     sample (identical architecture to [[IvfIndex]]).
    *  2. Each supercluster's k/√k CHILDREN train DISTRIBUTED: corpus
    *     rows map to their supercluster (a narrow codegen'd map
    *     against the √k centroid literals), a per-supercluster capped
    *     sample survives a hash-ordered window rank (one spill-safe
    *     shuffle on `sup` — the only corpus-wide movement training
    *     pays), and `mapGroups` runs local Lloyd PER GROUP on the
    *     executors. The driver only ever collects the k finished
    *     centroids (k × dim floats — 16 MB at k=64K, dim=64), never
    *     training data.
    *
    * Assignment and probing stay narrow maps, now 2·√k cosines per row
    * instead of k — the hierarchy's second dividend (at k=64K: 512
    * cosines/row, not 65 536). The only other shuffle is the candidate
    * cid equi-join, the same plan shape as IvfIndex (PlanAudit-pinned:
    * no cartesian).
    */
  final class HierIvfIndex(k: Int, nprobe: Int, seed: Long = 20240303L,
      trainSample: Int = 10000, samplePerSup: Int = 2048,
      codegenProbe: Boolean = true) {
    require(k > 1, "k must be > 1")
    val kSup: Int = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val kSub: Int = math.max(1, math.ceil(k.toDouble / kSup).toInt)
    require(nprobe <= kSup * kSub, "nprobe must be <= k")
    /** Superclusters probed per query: enough that the gathered
      * children cover nprobe lists with 2× slack against boundary
      * effects (a true neighbor's list living just across a
      * supercluster border). */
    private val pSup: Int =
      math.min(kSup, math.max(2, math.ceil(2.0 * nprobe / kSub).toInt))

    /** argmax-cosine index (0-based) of `vec` against a centroid-matrix
      * literal — one typedLit + the codegen'd [[graft.functions.NearestCosine]]
      * loop (√k cosines per row is the assignment hot path; the
      * interpreted HOF chain measured ~0.25 ms/row at k=16384, the
      * generated loop is µs-class). */
    private def nearestCol(vec: Column, m: Array[Array[Double]]): Column =
      graft.functions.VectorFunctions.nearest(
        org.apache.spark.sql.SparkSession.active, vec,
        typedLit(m.map(_.map(_.toFloat).toSeq).toSeq))

    /** Train both levels. Returns (supers: kSup × dim, children:
      * kSup × kSub × dim — padded with the super's own centroid for
      * empty/short groups, whose lists hold no corpus rows anyway).
      */
    def train(corpus: DataFrame, idCol: String,
        vecCol: String): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
      val spark = corpus.sparkSession
      import spark.implicits._
      val sample = corpus
        .select(col(vecCol).as("vec"), col(idCol).as("id"))
        .orderBy(xxhash64(col("id")), col("id"))
        .limit(trainSample)
        .select(col("vec"))
        .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
      if (sample.isEmpty) throw new IllegalArgumentException(
        "HierIvfIndex: cannot train the quantizer on an empty corpus")
      val supers = lloydTrain(sample, kSup, seed)
      val w = Window.partitionBy(col("sup"))
        .orderBy(xxhash64(col("id")), col("id"))
      val drawn = corpus
        .select(col(idCol).as("id"), col(vecCol).as("vec"))
        .withColumn("sup", nearestCol(col("vec"), supers))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= samplePerSup)
        .select(col("sup"), col("vec"))
      val (kSub0, seed0) = (kSub, seed)
      val trained: Map[Int, Array[Array[Double]]] = drawn
        .as[(Int, Array[Float])]
        .groupByKey(_._1)
        .mapGroups { (s, it) =>
          (s, Similarity.lloydTrain(
            it.map(_._2.map(_.toDouble)).toArray, kSub0, seed0 + s))
        }
        .collect().toMap
      val children = Array.tabulate(kSup) { s =>
        val got = trained.getOrElse(s, Array.empty[Array[Double]])
        Array.tabulate(kSub)(j => if (j < got.length) got(j) else supers(s))
      }
      (supers, children)
    }

    /** List id of a vector column: nearest super, then nearest child
      * within it — 2·√k cosines in ONE fused codegen'd expression over
      * PRIMITIVE captured matrices ([[graft.functions.HierCidRef]]).
      * The fusing + primitives matter three times over at k=16384: a
      * two-expression spelling re-evaluates the √k-cosine super argmax
      * per child (lambda bodies re-run non-lambda subtrees, and
      * CollapseProject re-inlines alias columns — measured 27 ms/row);
      * the HOF shape pays a boxed ArrayData accessor per matrix element
      * (~130 µs/row); and a typedLit matrix is a ~1M-boxed-object plan
      * literal whose closure deserialization re-taxes EVERY task of
      * every stage referencing it (~2.4 s of a 2.7 s stage). The fused
      * primitive loop is µs-class and the plan carries only a function
      * call. */
    def cidCol(vec: Column, supers: Array[Array[Double]],
        children: Array[Array[Array[Double]]]): Column = {
      val (sf, cf) = asFloats(supers, children)
      graft.functions.VectorFunctions.hierCidRef(
        org.apache.spark.sql.SparkSession.active, vec, sf, cf)
    }

    /** The query's nprobe list ids: top pSup supers, all their children
      * ranked together, global top nprobe. */
    private[graft] def probeCidsPublic(vec: Column,
        supers: Array[Array[Double]],
        children: Array[Array[Array[Double]]]): Column =
      probeCids(vec, supers, children)

    // converted-to-float matrices memoized PER (supers, children)
    // reference — the registry is content-digest-keyed (so even fresh
    // conversions reuse one registration), but handing it the same
    // objects also skips re-digesting the matrices per call
    private val floatCache = scala.collection.concurrent.TrieMap
      .empty[(AnyRef, AnyRef),
        (Array[Array[Float]], Array[Array[Array[Float]]])]
    private def asFloats(supers: Array[Array[Double]],
        children: Array[Array[Array[Double]]]):
        (Array[Array[Float]], Array[Array[Array[Float]]]) =
      floatCache.getOrElseUpdate(
        (supers.asInstanceOf[AnyRef], children.asInstanceOf[AnyRef]),
        (supers.map(_.map(_.toFloat)),
          children.map(_.map(_.map(_.toFloat)))))

    private def probeCids(vec: Column, supers: Array[Array[Double]],
        children: Array[Array[Array[Double]]]): Column = {
      val (sf, cf) = asFloats(supers, children)
      // default: the codegen'd batch variant (HierProbeCidsGen) — one
      // compiled call per row, probe projection stays inside whole-stage
      // codegen, so a query-BATCH workload (thousands of probe vectors,
      // the retrieval-serving shape) pays µs-class per row. Results are
      // identical to the interpreted HierProbeCids (parity-spec'd);
      // `codegenProbe = false` keeps the CodegenFallback expression
      // reachable for that parity check.
      if (codegenProbe)
        graft.functions.VectorFunctions.hierProbeRefGen(
          org.apache.spark.sql.SparkSession.active, vec, sf, cf,
          pSup, nprobe)
      else
        graft.functions.VectorFunctions.hierProbeRef(
          org.apache.spark.sql.SparkSession.active, vec, sf, cf,
          pSup, nprobe)
    }

    /** Approximate top-k: assign the corpus once, probe the queries,
      * exact-cosine rerank of the candidate lists — [[IvfIndex]]'s
      * join shape exactly. */
    def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
        queries: DataFrame, qidCol: String, qvecCol: String,
        topK: Int): DataFrame = {
      val (supers, children) = train(corpus, idCol, vecCol)
      annTopKTrained(supers, children, corpus, idCol, vecCol,
        queries, qidCol, qvecCol, topK)
    }

    /** [[annTopK]] with a pre-trained quantizer — the FAISS
      * train/add/search separation: train once, serve many query
      * batches without re-paying the training jobs. */
    def annTopKTrained(supers: Array[Array[Double]],
        children: Array[Array[Array[Double]]],
        corpus: DataFrame, idCol: String, vecCol: String,
        queries: DataFrame, qidCol: String, qvecCol: String,
        topK: Int): DataFrame = {
      val spark = corpus.sparkSession
      // a vector has a list exactly when it is not NULL: filtering on the
      // vector and stating the cid non-NULL keeps the join's inferred
      // not-NULL filter from evaluating the cid a second time
      val assigned = corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("id"), col(vecCol).as("vec"))
        .withColumn("cid", coalesce(cidCol(col("vec"), supers, children), lit(-1)))
      val probed = queries
        .select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
        .withColumn("cid", explode(probeCids(col("qvec"), supers, children)))
      val cands = probed.join(assigned.withColumnRenamed("id", "cand_id"), "cid")
        .filter(col("cand_id") =!= col("qid"))
      val cos = graft.functions.VectorFunctions
        .cosine(spark, col("qvec"), col("vec"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("id"))
      // one exchange by query serves both the distinct and the ranking
      cands.select(col("qid"), col("cand_id").as("id"), cos.as("score"))
        .repartition(col("qid"))
        .distinct()
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"),
          col("rk").cast("long").as("rk"))
    }
  }

  /** Product-quantization codec (Jégou et al., the FAISS IVFADC building
    * block): vectors split into `m` subspaces, each encoded as the index
    * of its nearest sub-centroid (16 per subspace). A 128-float vector
    * becomes m small ints — the memory-bound scale path where posting
    * lists must live in RAM: 16-32× smaller than raw floats, scored
    * without decoding via asymmetric distance (query-slice → selected
    * sub-centroid), all as Column expressions over the codes column.
    *
    * Training is driver-side per-subspace Lloyd on a bounded sample
    * (same architecture as [[IvfIndex]]); encoding and ADC scoring are
    * distributed narrow maps.
    */
  final class PqCodec(dim: Int, m: Int = 4, seed: Long = 20240404L) {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    private val sub = dim / m
    private val K = 16
    private var codebooks: Array[Array[Array[Double]]] = _ // m × K × sub

    private def lloydK(sample: Array[Array[Float]]): Array[Array[Double]] = {
      val n = sample.length
      var state = seed
      def next(): Long = { state = (state * 48271L) % 2147483647L; state }
      val cents = Array.tabulate(math.min(K, n))(_ =>
        sample((next() % n).toInt.abs).map(_.toDouble))
      val assign = new Array[Int](n)
      for (_ <- 0 until 10) {
        var i = 0
        while (i < n) {
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < cents.length) {
            var d = 0.0; var j = 0
            while (j < sub) {
              val diff = sample(i)(j) - cents(c)(j); d += diff * diff; j += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          assign(i) = best; i += 1
        }
        val sums = Array.fill(cents.length, sub)(0.0)
        val counts = new Array[Int](cents.length)
        i = 0
        while (i < n) {
          val c = assign(i); counts(c) += 1
          var j = 0
          while (j < sub) { sums(c)(j) += sample(i)(j); j += 1 }
          i += 1
        }
        var c = 0
        while (c < cents.length) {
          if (counts(c) > 0) {
            var j = 0
            while (j < sub) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
          }
          c += 1
        }
      }
      cents
    }

    /** Train sub-codebooks on a driver-side sample. */
    def train(sample: Array[Array[Float]]): this.type = {
      require(sample.nonEmpty, "PqCodec: empty training sample")
      codebooks = Array.tabulate(m)(j =>
        lloydK(sample.map(_.slice(j * sub, (j + 1) * sub))))
      this
    }

    /** Train from a corpus column (hash-spread draw, like IvfIndex). */
    def train(corpus: DataFrame, idCol: String, vecCol: String,
        trainSample: Int = 10000): this.type =
      train(corpus.select(col(vecCol).as("v"), col(idCol).as("i"))
        .orderBy(xxhash64(col("i")), col("i")).limit(trainSample)
        .select("v").collect().map(_.getSeq[Float](0).toArray))

    // codebooks as ONE 3-level array literal — see IvfPqrIndex for the
    // plan-size rationale (the per-element spelling was m×K×sub nodes)
    private def bookLit: Column =
      typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

    private def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)

    /** Codes column (array<int> of length m) for a vector column. */
    def encode(vec: Column): Column = array((0 until m).map { j =>
      val s = slice(vec, j * sub + 1, sub)
      val dists = transform(element_at(bookLit, j + 1), c => l2(s, c))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)

    /** Asymmetric distance: query slices against the code-selected
      * sub-centroids — the vector itself is never decoded.
      */
    def adcDistance(qvec: Column, codes: Column): Column =
      (0 until m).map { j =>
        val qs = slice(qvec, j * sub + 1, sub)
        val sel = element_at(element_at(bookLit, j + 1),
          element_at(codes, j + 1).cast("int") + 1)
        l2(qs, sel)
      }.reduce(_ + _)

    /** Top-k by ADC over an encoded corpus (id, codes). */
    def adcTopK(encoded: DataFrame, queries: DataFrame, qidCol: String,
        qvecCol: String, topK: Int): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("id"))
      encoded.crossJoin(broadcast(
          queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          adcDistance(col("qvec"), col("codes")).as("adist"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select(col("qid"), col("id"), col("adist"),
          col("rk").cast("long").as("rk"))
    }
  }

  /** IVF-PQ with residual refinement (FAISS IndexIVFPQR architecture):
    *
    *   1. a coarse quantizer (k centroids) partitions the corpus into
    *      posting lists — vectors are stored as their list id plus PQ
    *      codes of the RESIDUAL `v − centroid` (residuals have far less
    *      variance than raw vectors, so the same code budget quantizes
    *      them much more accurately than flat PQ);
    *   2. a second, refinement PQ encodes the residual-of-residual
    *      `v − centroid − decode(codes1)`;
    *   3. queries probe `nprobe` lists, score candidates by asymmetric
    *      distance on the first-level codes (query residual against the
    *      code-selected sub-centroids, nothing decoded), keep a
    *      `refineFactor × topK` shortlist, and re-rank it by cosine
    *      against the two-level reconstruction
    *      `centroid + decode(codes1) + decode(codes2)`.
    *
    * Scale story: training is bounded driver-side Lloyd (sample), the
    * encode is a narrow map, the only shuffle is the posting-list
    * equi-join on `cid`, ADC runs on the candidates only, and the
    * refinement touches just the shortlist. The encoded corpus is
    * `(id, cid, codes1, codes2)` — `m1+m2` nibbles plus a small int per
    * vector: at the default 8+8 that is 8 B ≈ 32× compression, with
    * measured recall@10 of 0.5-0.7 at sf0.01 vs flat [[PqCodec]]'s
    * 0.1-0.4 (the e05/e06 oracle rows pin exactly that). A strict
    * equal-budget split (4+4 nibbles) only TIES flat PQ on near-random
    * embeddings — two coarse 16-dim quantization stages lose what one
    * 8-dim stage keeps — so the refinement bytes are the price of the
    * recall, as in FAISS's IndexIVFPQR.
    */
  final class IvfPqrIndex(dim: Int, k: Int = 16, nprobe: Int = 4,
      m1: Int = 8, m2: Int = 8, refineFactor: Int = 8,
      seed: Long = 20240505L, trainSample: Int = 10000) {
    require(dim % m1 == 0, s"m1=$m1 must divide dim=$dim")
    require(dim % m2 == 0, s"m2=$m2 must divide dim=$dim")
    require(nprobe <= k, "nprobe must be <= k")
    private val sub1 = dim / m1
    private val sub2 = dim / m2
    private val K = 16
    private var coarse: Array[Array[Double]] = _
    private var cb1: Array[Array[Array[Double]]] = _ // m1 × K × sub1
    private var cb2: Array[Array[Array[Double]]] = _ // m2 × K × sub2

    /** Train coarse centroids and both residual codebooks on one
      * hash-spread corpus sample (deterministic; see IvfIndex.assign for
      * why the draw is hash-ranked).
      */
    def train(corpus: DataFrame, idCol: String, vecCol: String): this.type = {
      val sample = corpus.select(col(vecCol).as("v"), col(idCol).as("i"))
        .orderBy(xxhash64(col("i")), col("i")).limit(trainSample)
        .select("v").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      require(sample.nonEmpty, "IvfPqrIndex: empty training sample")
      coarse = lloydTrain(sample, k, seed)
      val res1 = sample.map { v =>
        val c = coarse(nearestIdx(v, coarse))
        Array.tabulate(dim)(j => v(j) - c(j))
      }
      cb1 = Array.tabulate(m1)(j => lloydTrain(
        res1.map(_.slice(j * sub1, (j + 1) * sub1)), K, seed + 1 + j))
      val res2 = res1.map { r =>
        val out = r.clone()
        var j = 0
        while (j < m1) {
          val s = r.slice(j * sub1, (j + 1) * sub1)
          val c = cb1(j)(nearestIdx(s, cb1(j)))
          var t = 0
          while (t < sub1) { out(j * sub1 + t) -= c(t); t += 1 }
          j += 1
        }
        out
      }
      cb2 = Array.tabulate(m2)(j => lloydTrain(
        res2.map(_.slice(j * sub2, (j + 1) * sub2)), K, seed + 101 + j))
      this
    }

    // All codebooks enter the plan as SINGLE array literals (typedLit)
    // consumed by higher-order functions — the per-element `array(lit…)`
    // spelling put ~20K literal nodes in the plan and made e06's wall
    // time mostly Catalyst analysis + codegen (measured 3.6 s at sf0.1;
    // ~1 s after this change). Same math, same results, tiny plan.
    private def coarseLit: Column = typedLit(coarse.map(_.toSeq).toSeq)
    private def bookLit(cb: Array[Array[Array[Double]]]): Column =
      typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    private val l2 = (a: Column, b: Column) =>
      aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)

    /** Nearest coarse centroid id of a vector column (argmin = position
      * of the min distance; ties take the first index, as before).
      */
    private def cidOf(vec: Column): Column = {
      val dists = transform(coarseLit, c => l2(vec, c))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }

    /** `nprobe` nearest coarse centroids of a vector column. */
    private def probeCids(vec: Column): Column =
      slice(array_sort(transform(sequence(lit(0), lit(coarse.length - 1)),
        i => struct(l2(vec, element_at(coarseLit, i + 1)).as("d"),
          i.cast("int").as("cid")))), 1, nprobe).getField("cid")

    /** PQ codes of a residual column against one codebook set. */
    private def encodeWith(res: Column, cbL: Column, m: Int,
        sub: Int): Column = array((0 until m).map { j =>
      val s = slice(res, j * sub + 1, sub)
      val dists = transform(element_at(cbL, j + 1), c => l2(s, c))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)

    /** Decoded (flattened) reconstruction of a codes column. */
    private def decodeWith(codes: Column, cbL: Column): Column =
      flatten(transform(codes, (code, j) =>
        element_at(element_at(cbL, j + 1), code.cast("int") + 1)))

    /** Encode a corpus: `(id, cid, codes1, codes2)` — the compressed
      * representation the index stores; raw vectors are not retained.
      */
    def encode(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
      val withCid = corpus
        .select(col(idCol).as("id"), col(vecCol).as("vec"))
        .withColumn("cid", cidOf(col("vec")))
        .withColumn("__res", zip_with(col("vec"),
          element_at(coarseLit, col("cid") + 1),
          (a, b) => a.cast("double") - b))
      val withC1 = withCid
        .withColumn("codes1", encodeWith(col("__res"), bookLit(cb1), m1, sub1))
        .withColumn("__res2", zip_with(col("__res"),
          decodeWith(col("codes1"), bookLit(cb1)), (a, b) => a - b))
      withC1
        .withColumn("codes2", encodeWith(col("__res2"), bookLit(cb2), m2, sub2))
        .select("id", "cid", "codes1", "codes2")
    }

    /** Approximate top-k: probe → ADC on codes1 → shortlist → refine by
      * cosine against the two-level reconstruction.
      */
    def annTopK(encoded: DataFrame, queries: DataFrame, qidCol: String,
        qvecCol: String, topK: Int): DataFrame = {
      val probed = queries
        .select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
        .withColumn("cid", explode(probeCids(col("qvec"))))
      val cands = probed.join(encoded, "cid")
        .filter(col("id") =!= col("qid"))
        // query residual against THIS candidate's list centroid — ADC
        // needs it per row, so compute it once as a column
        .withColumn("__qres", zip_with(col("qvec"),
          element_at(coarseLit, col("cid") + 1),
          (a, b) => a.cast("double") - b))
        .withColumn("adist", (0 until m1).map { j =>
          val qs = slice(col("__qres"), j * sub1 + 1, sub1)
          val sel = element_at(element_at(bookLit(cb1), j + 1),
            element_at(col("codes1"), j + 1).cast("int") + 1)
          l2(qs, sel)
        }.reduce(_ + _))
      val wShort = Window.partitionBy(col("qid"))
        .orderBy(col("adist"), col("id"))
      val short = cands
        .withColumn("srk", row_number().over(wShort))
        .filter(col("srk") <= refineFactor * topK)
      val recon = zip_with(zip_with(
        element_at(coarseLit, col("cid") + 1),
        decodeWith(col("codes1"), bookLit(cb1)), (a, b) => a + b),
        decodeWith(col("codes2"), bookLit(cb2)), (a, b) => a + b)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("id"))
      // no distinct needed: each encoded vector carries exactly ONE cid,
      // so the posting-list equi-join yields at most one row per
      // (qid, id) — unlike multi-assignment LSH banding
      short
        .select(col("qid"), col("id"),
          cosine(col("qvec"), recon).as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"),
          col("rk").cast("long").as("rk"))
    }
  }

  /** Smallest `nprobe` whose measured recall@`topK` against the exact
    * brute-force answer meets `recallTarget`, probing doubling values
    * (1, 2, 4, … k) on a deterministic hash-spread query sample. Offline
    * tuning utility: a handful of small jobs, paid once per index build
    * (ROADMAP §perf — nprobe auto-tune from recall target).
    */
  def tuneNprobe(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      topK: Int, recallTarget: Double, sampleQueries: Int = 16): Int = {
    val queries = corpus.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .orderBy(xxhash64(col("qid")), col("qid")).limit(sampleQueries)
      .localCheckpoint(true)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("qid").cast("long"), col("id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(knnBruteForce(corpus, idCol, vecCol,
      queries, "qid", "qvec", topK))
    if (exact.isEmpty) return 1
    var np = 1
    while (np < k) {
      val approx = pairs(new IvfIndex(k, np).annTopK(corpus, idCol, vecCol,
        queries, "qid", "qvec", topK))
      if (approx.intersect(exact).size.toDouble / exact.size >= recallTarget)
        return np
      np = math.min(np * 2, k)
    }
    k
  }

  /** Solve LSH banding parameters for a target Jaccard threshold: among
    * (bands, rowsPerBand) factorizations of `numHashes`, pick the one
    * whose S-curve inflection (1/b)^(1/r) lands nearest the threshold —
    * the standard Leskovec/Rajaraman/Ullman tuning rule.
    */
  def tuneBanding(numHashes: Int, tau: Double): (Int, Int) = {
    val options = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    options.minBy { case (b, r) => math.abs(math.pow(1.0 / b, 1.0 / r) - tau) }
  }

  /** Sign-random-projection (SimHash-style) LSH for cosine similarity.
    *
    * `planes(p)(i)` are deterministic pseudo-random ±1 hyperplane weights
    * from a fixed-seed LCG (no runtime randomness — resumable, and the
    * same buckets on every engine/run). Signature bit p = sign(v · plane_p);
    * `bands` groups of `rowsPerBand` bits form bucket keys.
    */
  /** Bits per band for the all-pairs LSH uses (e03/e07 pair graphs):
    * smallest b in [8, 24] with 2^b buckets holding the corpus at ~16
    * rows per bucket. A FIXED bucket space makes within-bucket pair
    * enumeration quadratic in corpus size (the round-14 30×-probe
    * finding: 7× time for 3× data); scaling buckets with n caps the
    * expected bucket occupancy, so candidate pairs stay ~bands·8·n —
    * linear. Integer arithmetic only (mirrored verbatim in the DuckDB
    * oracle via a range() probe — no float log2 edge cases). Below 65K
    * vectors this returns 8, bit-identical to the historical layout.
    * Recall tradeoff: match probability per band is p^bits (p ≈ 0.9 at
    * cos 0.95), so deeper corpora trade borderline-pair recall for
    * linearity — near-exact duplicates (p ≥ 0.98, the SemDeDup regime)
    * stay ≥0.99 recall at 4 bands through b=24.
    */
  def adaptivePairBits(n: Long): Int =
    (8 to 24).find(b => (1L << b) * 16L >= n).getOrElse(24)

  final class RandomHyperplaneLsh(dim: Int, numPlanes: Int, bands: Int) {
    require(numPlanes % bands == 0, "numPlanes must divide into bands")
    val rowsPerBand: Int = numPlanes / bands

    private val planes: Array[Array[Double]] = {
      var state = 20240202L
      def next(): Long = { state = (state * 48271L) % 2147483647L; state }
      Array.fill(numPlanes, dim)(if ((next() & 1L) == 0L) -1.0 else 1.0)
    }

    /** The hyperplane matrix (for oracle SQL generation — the same ±1
      * constants interpolate into DuckDB `list_dot_product` literals).
      */
    def planeRows: Seq[Seq[Double]] = planes.map(_.toSeq).toSeq

    /** Signature bits as array<int> of 0/1. sign(v·plane) == sign of the
      * cosine, so the codegen'd CosineSimilarity expression serves here
      * too (planes are ±1.0, exact in float).
      */
    def signature(spark: org.apache.spark.sql.SparkSession, vec: Column): Column = {
      // one typedLit plane matrix (numPlanes × dim literal nodes would
      // otherwise bloat the plan — see IvfPqrIndex for the measurements)
      val planesLit = typedLit(planes.map(_.map(_.toFloat).toSeq).toSeq)
      transform(sequence(lit(0), lit(numPlanes - 1)), i =>
        when(graft.functions.VectorFunctions
          .cosine(spark, vec, element_at(planesLit, i + 1)) >= 0,
          lit(1)).otherwise(lit(0)))
    }

    /** (id, band, bucket) — one row per band per input row. */
    def buckets(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col(idCol).as("id"),
        signature(df.sparkSession, col(vecCol)).as("sig"))
        .select(col("id"), posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => to_json(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .select(col("id"), col("pos").as("band"), col("col").as("bucket"))

    /** Approximate top-k: candidates = corpus rows sharing >= 1 band
      * bucket with the query; exact cosine rerank on candidates only.
      */
    def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
        queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
      val cb = buckets(corpus, idCol, vecCol)
      val qb = buckets(queries, qidCol, qvecCol)
        .withColumnRenamed("id", "qid")
      val cands = cb.join(qb, Seq("band", "bucket"))
        .filter(col("id") =!= col("qid"))
        .select("qid", "id").distinct()
      val withVecs = cands
        .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), "id")
        .join(broadcast(queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))), "qid")
      val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
      val cos = graft.functions.VectorFunctions
        .cosine(corpus.sparkSession, col("qvec"), col("vec"))
      withVecs.select(col("qid"), col("id"), cos.as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("qid"), col("id"), round(col("score"), 6).as("score"),
          col("rk").cast("long").as("rk"))
    }
  }
}
