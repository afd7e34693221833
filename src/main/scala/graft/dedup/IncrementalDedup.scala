package graft.dedup

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.Sessions
import graft.text.TextAnalysis

/** Cross-run deduplication: a persisted sketch of everything already
  * accepted, so NEW batches dedupe against the whole corpus history
  * without rescanning it (beyond-reference extension; ROADMAP §pipeline).
  *
  * State layout (append-only parquet — a batch commit appends files, it
  * never rewrites history; at 100 TB the state grows by the survivors of
  * each batch only). Both datasets are read with the fixed schemas below,
  * never by footer inference:
  *  - `<state>/exact` (fp, rid) — exact fingerprints + committing id (rid,
  *    string; NULL in pre-r18 files = always-drop)
  *  - `<state>/near` (id, band, bucket, shingles) — one row per accepted
  *    doc and LSH band (id as string, like rid); the doc's shingle set
  *    rides on its band-0 row only, NULL on the others
  * A state written before `near` existed (`buckets` (id, band, bucket) +
  * `shingles` (id, shingles)) is moved into `near` once, on first open.
  *
  * Crash/retry contract: each entry point materializes its admissions,
  * then commits them with ONE append job (after the bloom sidecar, for
  * [[dedupeExact]]), so there is one crash window per batch: before the
  * append the state is untouched; after it the batch's rows are in. The
  * history probe never lets a doc's OWN committed entry suppress it, so
  * re-running a batch whose process died at any point returns the same
  * admissions the failed attempt would have, and the duplicate state
  * rows it re-appends are semantically inert until [[compactState]]
  * folds them away. Requires ids unique across different batches.
  *
  * The returned DataFrame is the materialized survivor set, so it stays
  * stable however often the caller re-executes it. The only shuffles are
  * the fingerprint/bucket equi-joins — probes touch matching state
  * partitions, never all pairs.
  */
object IncrementalDedup {

  private val ExactSchema = StructType(Seq(
    StructField("fp", StringType), StructField("rid", StringType)))

  private val NearSchema = StructType(Seq(
    StructField("id", StringType), StructField("band", IntegerType),
    StructField("bucket", LongType),
    StructField("shingles", ArrayType(LongType))))

  /** Exact dedupe of `batch` against itself and all prior runs.
    * Within the batch the smallest id per fingerprint survives. Returns
    * the surviving rows (original columns) and commits their fingerprints.
    *
    * A Bloom sidecar (`<state>/exact_bloom2`, merged incrementally per
    * batch) pre-filters the history probe: rows whose fingerprint the
    * bloom has definitely never seen bypass the anti-join entirely — at
    * scale, the novel majority of each batch never shuffles against the
    * history table, only the maybe-seen minority does. False positives
    * just take the (authoritative) anti-join path, so results are exact.
    * Built and probed by Spark's native bloom expressions — see
    * [[graft.functions.BloomFunctions]].
    */
  def dedupeExact(batch: DataFrame, idCol: String, textCol: String,
      statePath: String): DataFrame = {
    val spark = batch.sparkSession
    openState(spark, statePath)
    val path = s"$statePath/exact"
    // RETRY IDEMPOTENCE (r18): state rows carry the committing doc's id
    // (as string — stable across callers' id types), and the history
    // drop rule excludes a doc's OWN committed row. A batch whose
    // process died after the state append can then simply be re-run:
    // its docs match only their own entries and are re-admitted with
    // the same result the crashed attempt would have returned — no
    // "ghost suppression" where a fingerprint lives in state but its
    // document surfaced in no successful run's output. Requires ids
    // unique across DIFFERENT batches (the existing contract). Legacy
    // state files lack the id column; the fixed-schema read gives their
    // rows a NULL rid, which drops every probe (the old always-drop
    // behavior).
    // v2 sidecar: keys are xxhash64(fp), built DISTRIBUTED by Spark's
    // BloomFilterAggregate and probed by the native BloomFilterMightContain
    // predicate (no Scala UDF, no driver-side build). The
    // retired v1 sidecar hashed raw strings — incompatible key space, so
    // its presence is simply ignored and a fresh v2 rebuilds from history.
    val bloomPath = Paths.get(s"$statePath/exact_bloom2")
    // the batch's fingerprints are its one compiled plan, the same for
    // every batch; everything after them is bookkeeping over the batch's
    // survivors and runs without code generation (Sessions), so a warm
    // batch compiles nothing and leaves the codegen cache to the stages
    // that are compute-bound
    val fp = Sessions.compiled(
      batch.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))))
    val hasHistory = Files.exists(Paths.get(path))
    lazy val history = spark.read.schema(ExactSchema).parquet(path)
    // a sidecar whose insert count has run far past its (possibly conf-
    // clamped) capacity answers "maybe seen" for most keys — probing it
    // only adds a pass over the batch before the same anti-join runs
    // anyway, so a saturated filter is bypassed outright
    val meta = readBloomMeta(bloomPath) // nothing else touches the sidecar
    val bloomSaturated = meta.exists { case (cap, ins) => ins > 4 * cap }
    if (bloomSaturated)
      System.err.println(s"[incremental-dedup] bloom sidecar saturated " +
        s"(inserted ${meta.get._2} > 4x capacity ${meta.get._1}); " +
        "probing skipped — raise spark.sql.optimizer.runtime.bloomFilter." +
        "maxNumItems/maxNumBits to restore the pre-filter at this corpus size")
    // NULL fingerprints hash to the seed constant: at worst they probe
    // "maybe seen" and take the authoritative anti-join, where NULL never
    // equi-matches — so they survive, exactly like the plain path. The
    // verdict is a column below the window, so neither branch's filter
    // is pushed beneath it and both read the window's one shuffle.
    val seen =
      if (hasHistory && Files.exists(bloomPath) && !bloomSaturated)
        graft.functions.BloomFunctions.mightContain(spark,
          Files.readAllBytes(bloomPath), col("__fp"))
      else lit(true)
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    val batchKeep = fp.withColumn("__seen", seen)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val keep =
      if (!hasHistory) batchKeep
      else {
        val hist = history.select(col("fp").as("__hfp"), col("rid").as("__rid"))
        // drop iff some history row carries this fingerprint under a
        // DIFFERENT (or legacy-unknown) id — a doc's own committed row
        // does not suppress its retry
        val candidates = batchKeep.filter(col("__seen"))
        batchKeep.filter(!col("__seen")).unionByName(
          candidates.join(hist, candidates("__fp") === col("__hfp") &&
            (col("__rid").isNull ||
              col("__rid") =!= candidates(idCol).cast("string")), "left_anti"))
      }
    val out = Sessions.localCheckpointWithoutCodegen(keep.drop("__seen"))
    // Bloom invariants:
    //  - the sidecar must NEVER under-cover the history table (a false
    //    negative would skip the authoritative anti-join and admit a
    //    duplicate). Hence a missing sidecar rebuilds from the FULL
    //    history, and the merged bloom saves BEFORE the parquet append —
    //    a crash between the two leaves it over-covering, which only
    //    routes rows to the exact join.
    //  - capacity is ADAPTIVE: it starts small and grows by rebuild (the
    //    meta sidecar tracks capacity + inserted count; once inserted
    //    exceeds half the capacity, the next commit rebuilds at 4× the
    //    corpus). A fixed cluster-scale capacity would make every small
    //    run pay a multi-MB bitset through the aggregate shuffle and the
    //    probe plan; adaptive sizing keeps the filter proportional to
    //    the corpus at every scale, with amortized O(1) rebuild cost.
    // The filter and the row count of `df`, in one aggregate (the bytes
    // are null on empty input).
    def buildBloom(df: DataFrame, capacity: Long): (Array[Byte], Long) = {
      val agg = df.agg(graft.functions.BloomFunctions
        .agg(spark, col("__fp"), capacity, 0.01), count(lit(1)))
      val r = Sessions.interpreted(agg)(_.head())
      (r.getAs[Array[Byte]](0), r.getLong(1))
    }
    // capacity is clamped to what BloomFilterAggregate will actually
    // honor (it silently caps numItems/numBits at the session's runtime
    // bloom confs — see BloomFunctions.maxHonoredCapacity); without the
    // clamp, the meta sidecar would record a capacity the filter never
    // had and the rebuild-at-half-capacity trigger would stop restoring
    // 1% fpp past ~2M fingerprints
    val maxCap = math.max(MinBloomCapacity,
      graft.functions.BloomFunctions.maxHonoredCapacity(spark, 0.01))
    var clampLogged = false
    def nextCapacity(n: Long): Long = {
      var c = MinBloomCapacity
      while (c < 4 * n && (c << 1) <= maxCap) c <<= 1
      if (c < 4 * n && !clampLogged) {
        clampLogged = true
        System.err.println(s"[incremental-dedup] bloom capacity clamped to " +
          s"$c by spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
          s"maxNumBits (corpus $n); fpp degrades above this size")
      }
      c
    }
    val fps = out.select("__fp")
    // one count and one distributed pass over history ∪ batch survivors,
    // at a capacity sized 4× the full corpus — the only history re-read
    def rebuild(): (Array[Byte], (Long, Long)) = {
      val full =
        if (hasHistory) history.select(col("fp").as("__fp")).unionByName(fps)
        else fps
      val cap = nextCapacity(Sessions.interpreted(full)(_.count()))
      val (bytes, total) = buildBloom(full, cap)
      (bytes, (cap, total))
    }
    val (mergedBytes, newMeta) = meta match {
      case Some((cap, ins)) if Files.exists(bloomPath) =>
        val (newBytes, outCount) = buildBloom(fps, cap)
        // a rebuild only helps if it can actually grow the filter — once
        // nextCapacity is pinned at the conf clamp, rebuilding the full
        // history at the same size every batch would be pure overhead
        if ((ins + outCount) * 2 > cap && nextCapacity(ins + outCount) > cap)
          rebuild()
        else if (newBytes == null) (null, (cap, ins))
        else
          try {
            val merged = deserializeBloom(Files.readAllBytes(bloomPath))
              .mergeInPlace(deserializeBloom(newBytes))
            (serializeBloom(merged), (cap, ins + outCount))
          } catch {
            case _: org.apache.spark.util.sketch.IncompatibleMergeException =>
              rebuild()
          }
      case _ => rebuild() // no sidecar, or no trustworthy meta for it
    }
    // an all-empty history+batch yields no filter — nothing to save
    if (mergedBytes != null) {
      writeAtomically(bloomPath, mergedBytes)
      writeAtomically(bloomMetaPath(bloomPath),
        s"${newMeta._1},${newMeta._2}".getBytes("UTF-8"))
    }
    Sessions.interpreted(out.select(col("__fp").as("fp"),
      col(idCol).cast("string").as("rid")))(_.write.mode("append").parquet(path))
    out.drop("__fp")
  }

  /** Smallest sidecar capacity (≈80 KB of bits at 1 % fpp); doubles by
    * rebuild as the corpus grows — see the invariant note in
    * [[dedupeExact]].
    */
  val MinBloomCapacity: Long = 1L << 16

  private def bloomMetaPath(p: Path): Path =
    p.resolveSibling(p.getFileName.toString + ".meta")

  /** (capacity, inserted) recorded next to the sidecar; None when absent
    * or unreadable (treated as "rebuild", never trusted blindly).
    */
  private def readBloomMeta(p: Path): Option[(Long, Long)] =
    try {
      val parts = Files.readString(bloomMetaPath(p)).trim.split(",")
      Some((parts(0).toLong, parts(1).toLong))
    } catch { case _: Exception => None }

  /** Readies `statePath` for an entry point: creates it, restores any
    * dataset a crashed [[compactState]] swap left aside (live dir missing,
    * `.old_` backup present: the swap died between its renames), and
    * moves a pre-`near` state into `near`.
    */
  private def openState(spark: SparkSession, statePath: String): Unit = {
    Files.createDirectories(Paths.get(statePath))
    Seq("exact", "near", "buckets", "shingles").foreach { sub =>
      val p = Paths.get(s"$statePath/$sub")
      val old = Paths.get(s"$statePath/.old_$sub")
      if (!Files.exists(p) && Files.exists(old)) Files.move(old, p)
    }
    migrateNear(spark, statePath)
  }

  /** One-time move of the `buckets` + `shingles` layout into `near`: one
    * append of every bucket row, with the doc's shingles joined onto its
    * band-0 row, then the old datasets are deleted (`buckets` first, so a
    * crash in between re-runs only the deletion). A crash before the
    * deletion re-appends the same rows on the next open — inert, like a
    * retried batch's rows.
    */
  private def migrateNear(spark: SparkSession, statePath: String): Unit = {
    val buckets = Paths.get(s"$statePath/buckets")
    val shingles = Paths.get(s"$statePath/shingles")
    if (Files.exists(buckets)) {
      val keys = spark.read.parquet(buckets.toString)
        .select(col("id").cast("string").as("id"), col("band"), col("bucket"))
      val rows =
        if (!Files.exists(shingles))
          keys.withColumn("shingles", lit(null).cast(ArrayType(LongType)))
        else keys.join(spark.read.parquet(shingles.toString).select(
            col("id").cast("string").as("id"), lit(0).as("band"),
            col("shingles").cast(ArrayType(LongType)).as("shingles")),
          Seq("id", "band"), "left")
      rows.select(NearSchema.fieldNames.toSeq.map(col): _*)
        .write.mode("append").parquet(s"$statePath/near")
    }
    rmrf(buckets)
    rmrf(shingles)
  }

  private def rmrf(d: Path): Unit =
    if (Files.exists(d)) org.apache.commons.io.FileUtils.forceDelete(d.toFile)

  private def deserializeBloom(bytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))

  private def serializeBloom(
      bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Replaces `p`'s content by one rename. */
  private def writeAtomically(p: Path, bytes: Array[Byte]): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** MinHash/LSH near-dedupe of `batch` against itself and all prior
    * runs: candidates come from shared LSH band buckets (within the
    * batch, and new-bucket × state-bucket), then exact n-gram Jaccard
    * ≥ `tau` confirms. Returns the surviving rows (original columns) and
    * commits their bucket rows and shingle sets to `<state>/near`.
    */
  def dedupeNear(batch: DataFrame, idCol: String, textCol: String,
      statePath: String, n: Int = 3, numHashes: Int = 32, bands: Int = 0,
      tau: Double = 0.7): DataFrame = {
    val spark = batch.sparkSession
    openState(spark, statePath)
    val nBands = if (bands > 0) bands
      else graft.similarity.Similarity.tuneBanding(numHashes, tau)._1
    val rpb = numHashes / nBands
    val nearPath = s"$statePath/near"

    // one md5 pass per doc, then EXACT-duplicate shingle sets collapse
    // to their min id BEFORE the LSH join; everything downstream reads
    // this one materialized frame, which carries the batch's columns too,
    // so the result needs no join back. Bit-equivalent to the pair rule:
    // identical sets share every bucket and confirm at jaccard 1 >= tau,
    // so every non-minimum member drops whatever else is in the batch,
    // and the minimum's fate depends only on its set. Without it a large
    // exact-duplicate group (the norm in production corpora) is a clique
    // in the candidate join: one ~|group|²-pair straggler task. The
    // window partitions by a 16-byte md5 DIGEST of the sorted set (the
    // d22 convention, r19 verdict #3: the full array made the partition
    // sort compare hundreds of longs per doc; collisions are beyond
    // corpus-scale odds).
    // The per-doc hashing (shingles, signature bands, digest) is
    // compiled, one plan for every batch; the collapse is bookkeeping and
    // runs without code generation.
    val hashed = Sessions.compiled(batch
      .withColumn("__sh", Dedup.shingleHashes(col(textCol), n))
      .withColumn("__bk", Dedup.bandKeys(
        Dedup.minhashFromHashes(col("__sh"), numHashes), nBands, rpb))
      .withColumn("__dg", unhex(md5(to_json(array_sort(col("__sh")))))))
    val sigs = Sessions.localCheckpointWithoutCodegen(hashed
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__dg")).orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn", "__dg"))
    // (__id, __sh, band, bucket): one row per doc and band, carrying the
    // doc's set so a bucket match confirms without a lookup
    def keyed(df: DataFrame, id: Column): DataFrame =
      Dedup.bandBuckets(df, col("__bk"), id.as("__id"), col("__sh"))
    val banded = keyed(sigs, col(idCol))

    // within-batch: higher id of each confirmed pair drops
    def side(s: String) = banded.select(col("band"), col("bucket"),
      col("__id").as(s"id_$s"), col("__sh").as(s"sh_$s"))
    val innerDrop = side("a").join(side("b"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        Dedup.jaccard(col("sh_a"), col("sh_b")) >= tau)
      .select(col("id_b").as("__id"))

    // vs state: bucket-join the batch's docs to history, confirm by
    // Jaccard against the old doc's band-0 set. Computed for every doc,
    // not only the in-batch survivors: a doc's verdict against state
    // depends on its own set alone, so both drop sets feed one anti-join
    val drops =
      if (!Files.exists(Paths.get(nearPath))) innerDrop
      else {
        val near = spark.read.schema(NearSchema).parquet(nearPath)
        val stateDrop = banded
          .join(near.select(col("band"), col("bucket"), col("id").as("old_id")),
            Seq("band", "bucket"))
          // retry idempotence (r18, same contract as dedupeExact): a
          // doc's own committed state entry must not suppress its re-run
          // — exclude self-pairs, so re-processing a crashed batch
          // returns exactly what the crashed attempt would have
          .filter(col("old_id") =!= col("__id").cast("string"))
          .join(near.filter(col("shingles").isNotNull)
            .select(col("id").as("old_id"), col("shingles").as("sh_old")), "old_id")
          .filter(Dedup.jaccard(col("__sh"), col("sh_old")) >= tau)
          .select("__id")
        innerDrop.unionByName(stateDrop)
      }
    // the Jaccard confirmations are compiled; the anti-join of the
    // survivors is bookkeeping
    val dropped = Sessions.compiled(drops)
    val out = Sessions.localCheckpointWithoutCodegen(
      sigs.join(dropped, sigs(idCol) === dropped("__id"), "left_anti"))
    // the batch's one state append
    Sessions.interpreted(keyed(out, col(idCol).cast("string"))
      .select(col("__id").as("id"), col("band"), col("bucket"),
        when(col("band") === 0, col("__sh")).as("shingles")))(
      _.write.mode("append").parquet(nearPath))
    out.drop("__sh", "__bk")
  }

  /** Streaming front door for the cross-run exact dedup: fingerprint a
    * DOCUMENT stream, drop in-stream duplicates within the watermark
    * (`dropDuplicatesWithinWatermark` keys state on the fingerprint and
    * evicts it as the watermark advances — bounded state, unlike a plain
    * dropDuplicates), then remove documents already committed to a batch
    * [[dedupeExact]] state dir via a stream-static LEFT ANTI join on the
    * history parquet. The history is SNAPSHOTTED at stream start (the
    * parquet file listing is captured when the static frame is created;
    * Spark does not re-list it per micro-batch), so the contract is the
    * standard lambda-architecture one: batch commits that land while the
    * stream runs become visible at the next stream (re)start, and
    * [[compactState]] must not rewrite the history under a running
    * stream (the snapshotted listing would dangle). Within that contract
    * the probe is exact — no bloom approximation.
    *
    * Batch mode is exact by construction (the within-watermark dedup is
    * replaced with plain dropDuplicates — Spark rejects the watermark
    * form on batch frames — and the anti join reads current history), so
    * a batch run of this function is the oracle for the streaming run —
    * same contract as EventPipeline.dedupWithinWatermark.
    *
    * Returns the input columns of surviving (novel) documents. Within a
    * watermark window the FIRST arrival of a fingerprint survives
    * (arrival order, not id order — streams have no total id order).
    */
  def dedupeExactStream(stream: DataFrame, idCol: String, textCol: String,
      tsCol: String, statePath: String,
      watermark: String = "10 minutes"): DataFrame = {
    val spark = stream.sparkSession
    openState(spark, statePath)
    val withFp = stream
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    // Spark rejects the within-watermark form on batch frames outright,
    // so the batch oracle path takes the exact spelling explicitly
    val fp =
      if (stream.isStreaming)
        withFp.withWatermark(tsCol, watermark)
          .dropDuplicatesWithinWatermark("__fp")
      else withFp.dropDuplicates("__fp")
    val path = s"$statePath/exact"
    val out =
      if (!Files.exists(Paths.get(path))) fp
      else fp.join(
        spark.read.schema(ExactSchema).parquet(path).select(col("fp").as("__fp")),
        Seq("__fp"), "left_anti")
    out.drop("__fp")
  }

  /** Exactly-once BATCH COMMIT protocol around the exact incremental
    * dedup — the recovery story a 100 TB ingestion pipeline actually
    * needs ([[dedupeExact]]'s flat append-only state assumes each batch
    * runs once; a driver crash between its state append and the
    * caller's output write would make a re-run drop the whole batch as
    * "already seen").
    *
    * Protocol (idempotent under re-runs from ANY crash point):
    *  1. committed marker exists → the batch fully landed; return the
    *     committed output (re-delivery, not re-admission).
    *  2. survivors compute against COMMITTED batches only — a crashed
    *     attempt's partial state dir is invisible to the history probe
    *     by construction, so the re-run never deduplicates a batch
    *     against its own half-written fingerprints.
    *  3. the batch's fingerprints and its output both write with
    *     OVERWRITE into per-batch directories (a re-run replaces any
    *     partial files), and the marker is created LAST — the single
    *     atomic commit point covering state and output together.
    *
    * State layout: `<state>/exact_batches/ingest_<id>/` (fingerprints),
    * `<out>/<id>/` (surviving rows), `<state>/exact_commits/<id>`
    * (marker). The bloom sidecar is not used on this path — it is a
    * pre-filter optimization of the flat layout; the anti-join here is
    * the authoritative (and only) probe, so results stay exact.
    */
  def dedupeExactCommit(batch: DataFrame, idCol: String, textCol: String,
      statePath: String, outPath: String, batchId: String): DataFrame = {
    require(batchId.matches("[A-Za-z0-9_-]+"), s"unsafe batch id: $batchId")
    val spark = batch.sparkSession
    val commits = Paths.get(s"$statePath/exact_commits")
    val marker = commits.resolve(batchId)
    val outDir = s"$outPath/$batchId"
    if (Files.exists(marker)) return spark.read.parquet(outDir)
    val committedDirs: Seq[String] =
      if (!Files.exists(commits)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        val listing = Files.list(commits)
        // Files.list leaks a directory handle unless closed (ADVICE r16)
        val ids = try listing.iterator.asScala
          .map(_.getFileName.toString).toSeq finally listing.close()
        ids.map(id => s"$statePath/exact_batches/ingest_$id")
          .filter(d => Files.exists(Paths.get(d))).sorted
      }
    val fp = batch.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    var keep = fp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    if (committedDirs.nonEmpty)
      keep = keep.join(
        spark.read.parquet(committedDirs: _*).select(col("fp").as("__fp")),
        Seq("__fp"), "left_anti")
    // checkpoint before the two writes: both must see the SAME survivor
    // set, and the second write must not recompute a lineage that reads
    // state the first write just changed
    val out = keep.localCheckpoint(true)
    out.select(col("__fp").as("fp")).write.mode("overwrite")
      .parquet(s"$statePath/exact_batches/ingest_$batchId")
    out.drop("__fp").write.mode("overwrite").parquet(outDir)
    Files.createDirectories(commits)
    Files.createFile(marker) // the commit point
    spark.read.parquet(outDir)
  }

  /** Compact the append-only state: each dataset rewrites as one sorted,
    * deduplicated snapshot (range-partitioned so parquet min/max stats
    * prune probe joins). Run periodically — every batch appends a few
    * files, and compaction bounds the small-file count without changing
    * any dedupe outcome. The rewrite materializes fully into a staging
    * dir before the old files are swapped out.
    */
  def compactState(spark: SparkSession, statePath: String): Unit = {
    openState(spark, statePath) // restore any prior crashed swap first
    def compact(sub: String, schema: StructType, sortCols: Seq[String]): Unit = {
      val p = Paths.get(s"$statePath/$sub")
      if (!Files.exists(p)) return
      val tmp = s"$statePath/.compact_$sub"
      // the fixed schema keeps legacy fp-only exact files' rows, with a
      // NULL rid, in the snapshot
      spark.read.schema(schema).parquet(p.toString).distinct()
        .repartitionByRange(sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.mode("overwrite").parquet(tmp)
      // swap by rename-aside: the live dataset is absent only between
      // two renames (not during the whole rewrite job), and a crash
      // leaves the history recoverable in .old_<sub>
      val old = Paths.get(s"$statePath/.old_$sub")
      rmrf(old)
      Files.move(p, old)
      Files.move(Paths.get(tmp), p)
      rmrf(old)
    }
    compact("exact", ExactSchema, Seq("fp"))
    compact("near", NearSchema, Seq("bucket", "band"))
  }
}
