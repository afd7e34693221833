package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact (hash
  * group-by), MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Design for 100 TB: every stage is a narrow map (Column expressions in
  * whole-stage codegen) followed by exactly one shuffle on a compact key
  * (fingerprint / LSH bucket), never an all-pairs compare. Candidate
  * generation via LSH band buckets keeps the self-join confined to
  * same-bucket groups; exact Jaccard runs only on candidates.
  *
  * MinHash permutations use the classic (a*h + b) mod p family over an
  * engine-stable 60-bit md5-based base hash reduced to 30 bits, so every
  * number fits i64 multiplication without overflow on any engine and the
  * DuckDB oracle can reproduce signatures bit-for-bit.
  */
object Dedup {

  val MinhashPrime: Long = 1073741789L // largest prime < 2^30

  /** Deterministic LCG over 31-bit space for permutation constants —
    * fixed seed, no runtime randomness.
    */
  private def lcgStream(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => (x * 48271L) % 2147483647L).drop(1)

  /** Permutation constants (a_i odd-ish nonzero, b_i) for i < n. */
  def permutations(n: Int): Seq[(Long, Long)] = {
    val it = lcgStream(20240101L)
    Seq.fill(n)((it.next() % MinhashPrime, it.next() % MinhashPrime))
      .map { case (a, b) => (if (a == 0) 1L else a, b) }
  }

  /** Word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** 30-bit engine-stable hash of each shingle — the fused codegen
    * [[graft.functions.ShingleHash]] expression (shingle build + md5 +
    * mod + distinct in one loop); bit-identical to
    * `array_distinct(transform(shingles(text, n), sh ->
    * pmod(stableHash60(sh), 2^30)))`, which runs interpreted.
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.TextHashFunctions.shingleHashes(
      org.apache.spark.sql.SparkSession.active,
      TextAnalysis.tokens(text), n, 1073741824L)

  /** MinHash signature from an already-computed shingle-hash array column.
    * Computed by the fused codegen [[graft.functions.MinHashSignature]]
    * expression (one pass over the hash array for all permutations) —
    * the equivalent `array_min(transform(...))` per permutation runs
    * Spark's higher-order functions interpreted and is ~5× slower
    * end-to-end at 32 permutations. Bit-identical output.
    */
  def minhashFromHashes(hs: Column, numHashes: Int): Column =
    graft.functions.MinHashFunctions.minhash(
      org.apache.spark.sql.SparkSession.active, hs, numHashes)

  /** MinHash signature of a text column (single-expression form; for the
    * multi-use pipeline see [[nearDupPairs]], which materializes the
    * shingle hashes first).
    */
  def minhashSignature(text: Column, n: Int, numHashes: Int): Column =
    minhashFromHashes(shingleHashes(text, n), numHashes)

  /** Exact duplicate groups by normalized-text fingerprint: one shuffle
    * on the 128-bit digest. Returns (fp, n_dups, keep_id).
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** The LSH bucket of each band of a signature, in band order: the
    * engine-stable hash of the band's slice. One expression per band, so
    * the array compiles with its stage (a lambda over the bands would run
    * interpreted).
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b => TextAnalysis.stableHash60(
      to_json(slice(sig, b * rowsPerBand + 1, rowsPerBand)))): _*)

  /** `keep` plus (band, bucket), one row per band of `keys`, an array
    * from [[bandKeys]].
    */
  def bandBuckets(df: DataFrame, keys: Column, keep: Column*): DataFrame =
    df.select(keep :+ posexplode(keys): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** LSH candidate pairs: band the signature, bucket-join within bands.
    * `bands * rowsPerBand` must equal the signature length. Output
    * (id_a, id_b) with id_a < id_b, distinct across bands.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandBuckets(df, bandKeys(col(sigCol), bands, rowsPerBand),
      col(idCol).as("id"))
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard similarity between two shingle-hash arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Near-dup pairs: LSH candidates verified by exact Jaccard >= tau.
    * The expensive exact measure touches only same-bucket candidates.
    * `bands <= 0` auto-tunes the banding from the target threshold
    * ([[graft.similarity.Similarity.tuneBanding]] S-curve rule).
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 0, tau: Double = 0.7): DataFrame = {
    val nBands = if (bands > 0) bands
      else graft.similarity.Similarity.tuneBanding(numHashes, tau)._1
    // one md5 pass over the shingles; signatures derive from the cached
    // array, and the cache serves the three downstream uses (banding +
    // both sides of the candidate join)
    val sigs = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), n).as("shingles"))
      .withColumn("sig", minhashFromHashes(col("shingles"), numHashes))
      .cache()
    val cands = lshCandidatePairs(sigs, "id", "sig", nBands, numHashes / nBands)
    val withSets = cands
      .join(sigs.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
    // raw jaccard, not rounded: i/u ratios of small ints can land exactly
    // on decimal rounding boundaries where engines disagree; the raw IEEE
    // division is bit-reproducible everywhere
    withSets.select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Near-duplicate clusters from verified pairs: connected components
    * over the pair graph, labeled by the smallest member id. A dedup pass
    * keeps exactly the `is_canonical` rows — transitive near-dup chains
    * (a~b, b~c, but a!~c) collapse to ONE survivor, where pairwise
    * filtering would keep two.
    *
    * Scale: delegates to [[graft.graph.Analytics.connectedComponents]] —
    * union-find below the local gate, O(log diameter) DataFrame pointer
    * jumping above it. Candidate pairs are linear in corpus size (LSH
    * banding), so the component graph is far smaller than the corpus.
    * cluster_size adds one count shuffle keyed on cluster_id.
    *
    * Returns (doc_id, cluster_id, cluster_size, is_canonical) — only docs
    * that appear in some pair (singletons are trivially canonical).
    */
  def dupClusters(pairs0: DataFrame, aCol: String, bCol: String): DataFrame = {
    // materialize the pair set ONCE: ids (×2), the edge table, and the
    // component loop's gate each re-scan it, and when the input is the
    // LSH pipeline every re-scan re-runs the candidate join + Jaccard
    // (measured: d11 2.4 s → 1.3 s at sf0.1). Candidate pairs are linear
    // in corpus size by banding, so the checkpoint is small by design.
    val pairs = pairs0.select(col(aCol), col(bCol)).localCheckpoint(true)
    val spark = pairs.sparkSession
    val ids = pairs.select(col(aCol).as("id"))
      .unionByName(pairs.select(col(bCol).as("id"))).distinct()
    val g = new graft.graph.PropertyGraph(
      Map("doc" -> ids),
      Map("DUP" -> (graft.graph.EdgeType("DUP", "doc", "doc"),
        pairs.select(col(aCol).as("src"), col(bCol).as("dst")))))
    val comp = graft.graph.Analytics
      .connectedComponents(spark, g, "doc", "DUP")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    val sizes = comp.groupBy(col("cluster_id").as("cid"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, comp("cluster_id") === sizes("cid"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** Benchmark-contamination pairs: per (train doc, eval doc), the number
    * of distinct word-n-gram hashes they share. Flags training documents
    * that leak eval/benchmark content verbatim (n consecutive tokens in
    * common), the standard n-gram-overlap decontamination check.
    *
    * Scale: the eval side is a benchmark corpus — bounded and tiny next
    * to the training corpus — so its exploded shingle set is broadcast
    * and the only shuffle is the final (train_id, eval_id) count
    * aggregation over matched shingles. The training side stays a narrow
    * scan→explode→broadcast-probe pipeline with no wide shuffle at any
    * corpus size.
    */
  def contaminationPairs(train: DataFrame, trainId: String,
      eval: DataFrame, evalId: String, textCol: String,
      n: Int = 5, minShared: Long = 2L): DataFrame = {
    def exploded(df: DataFrame, idCol: String, as: String) =
      df.select(col(idCol).as(as),
        explode(shingleHashes(col(textCol), n)).as("sh"))
    val ev = broadcast(exploded(eval, evalId, "eval_id"))
    exploded(train, trainId, "train_id")
      .join(ev, "sh")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash (60-bit): per-token stable hashes vote per bit; the sign of
    * each bit-column sum forms the fingerprint. Near-dups differ in few
    * bits (Hamming). Computed by the fused codegen
    * [[graft.functions.SimHash60]] expression — bit-identical to the
    * 60-interpreted-`aggregate` Column formulation it replaces.
    */
  def simhash60(text: Column): Column =
    graft.functions.TextHashFunctions.simhash(
      org.apache.spark.sql.SparkSession.active, TextAnalysis.tokens(text))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** Exact substring dedup accounting — the suffix-array dedup class
    * (ExactSubstr, Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): a k-token window whose exact text occurs
    * MORE THAN ONCE in the corpus (across documents or repeated inside
    * one) is duplicated; overlapping/adjacent duplicated windows merge
    * into maximal per-document spans. Returns one row per input document:
    * (idCol, n_tokens, n_spans, dup_tokens, clean_tokens) — the per-doc
    * duplicated-token accounting a removal pass would apply.
    *
    * Spark-first shape instead of a literal suffix array (which needs
    * global character order and O(corpus) driver state): window
    * fingerprints are md5 of the window text — 128 bits, so hash-equality
    * IS text-equality at any corpus size (a 64-bit hash would see
    * birthday collisions at 10^12 windows) — and duplication is one
    * hash-partitioned group-by on the fingerprint. Per-stage costs:
    *  - window build: narrow codegen map (sequence/transform/slice/md5),
    *    ~(n_tokens) rows of (id, pos, 16 B hash) per doc — the same
    *    explode factor as MinHash banding, no all-pairs anywhere;
    *  - duplicate detection: groupBy(fingerprint) count — ONE wide
    *    shuffle on a compact key; the semi-join back rides the same
    *    hash partitioning (AQE keeps the aggregated side in place);
    *  - span merge: running-max interval merge under a doc-partitioned
    *    window — one shuffle keyed on the doc id, then the per-doc
    *    aggregations reuse that partitioning.
    */
  /** The removal pass of exact substring dedup: every token covered by a
    * duplicated k-window (see [[substringSpans]]) is dropped; the doc's
    * remaining tokens re-join single-spaced. Returns
    * (idCol, n_kept, clean_text) for EVERY input document — a fully
    * duplicated doc survives as an empty string (the caller's length
    * filter decides its fate), and a doc shorter than k passes through
    * whitespace-normalized. Zero-length tokens are dropped after
    * tokenization, so blank/whitespace-only docs report n_kept=0 (not
    * the phantom single empty token `split` would otherwise produce).
    *
    * Scale: covered token indexes are an explode of duplicated windows
    * by k (bounded by k× the duplicated-window count, not the corpus);
    * the kept-token anti-join and the re-assembly group-by both key on
    * the doc id — the same single-key shuffle profile as the span
    * accounting.
    */
  def substringClean(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val t = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val dupWins = duplicatedWindows(t, idCol, k)
    val covered = dupWins.select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k.toLong - 1))).as("i"))
      .distinct()
    // length filter AFTER posexplode: the only zero-length token
    // split() can emit is the single [""] of a blank doc, so covered
    // indexes (positions in the original array) stay aligned
    val tokPos = t.select(col(idCol), posexplode(col("__toks")).as(Seq("i", "tok")))
      .select(col(idCol), col("i").cast("long").as("i"), col("tok"))
      .filter(length(col("tok")) > 0)
    val kept = tokPos.join(covered, Seq(idCol, "i"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("i"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    t.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** (idCol, pos, wh) rows of the k-windows whose fingerprint occurs
    * more than once in the corpus — shared core of [[substringSpans]]
    * and [[substringClean]]. `t` carries (idCol, __toks).
    */
  private def duplicatedWindows(t: DataFrame, idCol: String,
      k: Int): DataFrame = {
    // unhex(md5) → 16 raw bytes: the fingerprint is internal (the oracle
    // compares final aggregates, never the hash), so the group-by/join
    // key crosses the wire at half the hex-string width
    val wins = t.filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - k),
          i => unhex(md5(concat_ws(" ", slice(col("__toks"), i + 1, lit(k))))))))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("wh"))
    val dup = wins.groupBy(col("wh"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).select("wh")
    wins.join(dup, Seq("wh"), "left_semi")
  }

  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kL = lit(k.toLong)
    val t = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    // positions 0..len-k (docs shorter than k contribute no windows; the
    // filter inside duplicatedWindows runs BEFORE sequence() so
    // start>stop never builds a descending sequence)
    val dupWins = duplicatedWindows(t, idCol, k)
    // interval merge: a window starts a new span iff its start lies
    // beyond every earlier window's end (running max over pos+k);
    // adjacent spans ([0,k) then [k,2k)) merge — a contiguous duplicated
    // token range is one span regardless of which windows witnessed it
    val byDoc = Window.partitionBy(idCol).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + kL)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = dupWins.withColumn("__new",
      when(col("pos") <= coalesce(prevMaxEnd, lit(-1L)), 0L).otherwise(1L))
    val islands = flagged.withColumn("__island", sum(col("__new")).over(byDoc))
    val spans = islands.groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("__s"), (max(col("pos")) + kL).as("__e"))
    val perDoc = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s")).as("dup_tokens"))
    t.select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)))
          .as("clean_tokens"))
  }
}
