package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import graft.dedup.{Dedup, IncrementalDedup}

/** Differential fuzz for the CROSS-RUN near dedup (r18, verdict #2's
  * fuzz leg): random two-run corpora over a tiny word alphabet (so
  * shingle collisions and near-dup pairs arise constantly) flow through
  * [[IncrementalDedup.dedupeNear]] and through an independent pure-JVM
  * model of the whole pipeline — md5-based shingle hashing, minhash
  * permutations, band bucketing, candidate pairing, exact Jaccard,
  * higher-id-drops within a run, and the survivor-state probe across
  * runs. The d25 board row pins one fixed two-run flow against DuckDB;
  * this covers the combinational space around it.
  *
  * Seed env-tunable via GRAFT_NEARDEDUP_FUZZ_SEED, cases via
  * GRAFT_NEARDEDUP_FUZZ_N.
  */
class NearDedupFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private val seed =
    sys.env.getOrElse("GRAFT_NEARDEDUP_FUZZ_SEED", "20260819").toLong
  private val nCases =
    sys.env.getOrElse("GRAFT_NEARDEDUP_FUZZ_N", "5").toInt

  private val NumHashes = 16
  private val Bands = 4
  private val Rpb = NumHashes / Bands
  private val N = 2 // shingle width
  private val Tau = 0.7

  // ---- independent model of the engine-stable hash pipeline ----

  /** TextAnalysis.stableHash60: first 15 hex chars of md5, base 16. */
  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Dedup.shingleHashes: word n-grams (short texts collapse to one
    * whole-text shingle), h60 % 2^30, DISTINCT preserving first order —
    * order is irrelevant downstream (min + set ops).
    */
  private def shingleSet(text: String, n: Int): Seq[Long] = {
    val toks = text.trim.split("\\s+").toSeq
    val shs =
      if (toks.length < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    shs.map(s => h60(s) % 1073741824L).distinct
  }

  private val perms = Dedup.permutations(NumHashes)

  private def signature(h30: Seq[Long]): Seq[Long] =
    perms.map { case (a, b) => h30.map(h => (h * a + b) % Dedup.MinhashPrime).min }

  /** LSH band buckets: stableHash60 of the band slice's to_json
    * rendering (Spark renders array<long> as `[1,2,3]`).
    */
  private def bandBuckets(sig: Seq[Long]): Seq[(Int, Long)] =
    (0 until Bands).map(b =>
      (b, h60(sig.slice(b * Rpb, b * Rpb + Rpb).mkString("[", ",", "]"))))

  private def jaccard(a: Seq[Long], b: Seq[Long]): Double = {
    val (sa, sb) = (a.toSet, b.toSet)
    val uni = (sa ++ sb).size
    if (uni == 0) 0.0 else (sa & sb).size.toDouble / uni
  }

  private case class Doc(id: Long, text: String) {
    val sh: Seq[Long] = shingleSet(text, N)
    val bk: Set[(Int, Long)] = bandBuckets(signature(sh)).toSet
  }

  /** One dedupeNear run: drop higher ids of in-batch confirmed pairs,
    * then drop docs confirmed against the survivor state; returns
    * (admitted, state ++ admitted).
    */
  private def modelRun(batch: Seq[Doc], state: Seq[Doc]): (Seq[Doc], Seq[Doc]) = {
    val confirmed = for {
      a <- batch; b <- batch
      if a.id < b.id && (a.bk & b.bk).nonEmpty && jaccard(a.sh, b.sh) >= Tau
    } yield b.id
    val keep = batch.filterNot(d => confirmed.contains(d.id))
    val vsState = keep.filter(d => state.exists(o =>
      (d.bk & o.bk).nonEmpty && jaccard(d.sh, o.sh) >= Tau)).map(_.id).toSet
    val admitted = keep.filterNot(d => vsState.contains(d.id))
    (admitted, state ++ admitted)
  }

  test(s"two-run near dedup matches the independent model (seed=$seed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val words = Vector("aa", "bb", "cc", "dd")
    def doc(id: Long): Doc = {
      val len = 1 + rnd.nextInt(6)
      Doc(id, Seq.fill(len)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    for (c <- 1 to nCases) {
      val run1 = (1L to (20L + rnd.nextInt(20))).map(doc)
      val run2 = (1000L to (1020L + rnd.nextInt(20))).map(doc)
      val statePath = tempDir("nearfuzz").toString

      val (want1, st1) = modelRun(run1, Seq.empty)
      val (want2, _) = modelRun(run2, st1)

      def engine(run: Seq[Doc]): Seq[Long] =
        IncrementalDedup.dedupeNear(
            run.map(d => (d.id, d.text)).toDF("doc_id", "text"),
            "doc_id", "text", statePath,
            n = N, numHashes = NumHashes, bands = Bands, tau = Tau)
          .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

      val got1 = engine(run1)
      assert(got1 == want1.map(_.id).sorted,
        s"case $c run 1 diverged (seed=$seed)\n got=$got1\nwant=${want1.map(_.id).sorted}")
      // retry leg (r19, d26's contract): re-running the committed batch
      // — the crash-between-append-and-delivery shape — must return
      // exactly its original admissions (self-pairs excluded, and two
      // committed survivors are never τ-similar), and the retry's
      // duplicate state rows must leave the next run unaffected
      val gotRetry = engine(run1)
      assert(gotRetry == got1,
        s"case $c retry diverged (seed=$seed)\n got=$gotRetry\nwant=$got1")
      val got2 = engine(run2)
      assert(got2 == want2.map(_.id).sorted,
        s"case $c run 2 diverged (seed=$seed)\n got=$got2\nwant=${want2.map(_.id).sorted}")
    }
  }
}
