package graft

import org.apache.spark.sql.SparkSession

/** Round-21 measurement main (evidence tooling, not part of the
  * bench/driver contract) — regenerates the numbers OPTIMIZATION_r21.md
  * cites. Modes:
  *  - `save`     warm per-row + lastSaveStages decomposition of the
  *               warehouse-save class (gql32/34/35/36/37/38/39)
  *  - `m02`      multimodal rows ×3 (the ImageIO-cache fix A/B rides on
  *               $SPARK_GRAFT_CPUS: run at 32 and 8)
  *  - `d25skew`  per-(band,bucket) histogram of d25's LSH candidate
  *               join input (r20 verdict #5 skew audit)
  *  - `probe`    single-threaded HierProbeHelper microbench at the
  *               k=16384 / nprobe=2048 profile shape
  *  - `e10plan`  post-AQE final executed plan of the e10 probe fragment
  *  - `d14` / `q <names...>`  ad-hoc row timings
  * Usage: runMain graft.ProfileR21 <mode> [args...]
  */
object ProfileR21 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())

    def prof(name: String, reps: Int = 2): Unit = (1 to reps).foreach { _ =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[$name] ${(System.nanoTime() - t0) / 1e9}%.3f s  stages: " +
        graft.graph.GraphCatalog.lastSaveStages
          .map { case (k, v) => f"$k=$v%.3f" }.mkString(", "))
    }

    args.headOption.getOrElse("save") match {
      case "save" =>
        Seq("gql38_reverse_hop", "gql34_seeded_hop", "gql37_varpath_both",
          "gql32_bucket_dml", "gql39_seeded_reverse_hop",
          "gql35_string_bucket_dml", "gql36_varpath_pruned")
          .foreach(prof(_))
      case "m02" =>
        Seq("m01_multimodal_features", "m02_multimodal_stages",
          "m03_media_decode").foreach(prof(_, 3))
      case "d25" =>
        Seq("d25_incremental_near", "d26_retry_idempotent").foreach(prof(_))
      case "d14" =>
        Seq("d14_incremental_dedup", "d19_stream_dedup").foreach(prof(_))
      case "q" =>
        args.drop(1).foreach(prof(_, 3))
      case "d25skew" =>
        // per-(band,bucket) candidate-group histogram of the d25 LSH
        // banding stage (verdict r20 #5): group sizes after the
        // exact-duplicate collapse, at the d25 parameters
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(spark, sfDir)
          .select(col("doc_id").as("id"), col("text"))
        val run2extra = Tables.documents(spark, sfDir)
          .filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000L).as("id"), col("text"))
        val batch = docs.unionByName(run2extra)
        import graft.queries.PipelineQueries.{NearBands, NearHashes, NearN}
        val (n, numHashes, nBands) = (NearN, NearHashes, NearBands)
        val rpb = numHashes / nBands
        val sigs = batch
          .select(col("id"), graft.dedup.Dedup.shingleHashes(col("text"), n).as("shingles"))
          .withColumn("sig", graft.dedup.Dedup.minhashFromHashes(col("shingles"), numHashes))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(unhex(md5(to_json(array_sort(col("shingles"))))))
              .orderBy(col("id"))))
          .filter(col("__rn") === 1).drop("__rn")
        val banded = sigs.select(col("id"),
            posexplode(transform(sequence(lit(0), lit(nBands - 1)),
              b => slice(col("sig"), b * rpb + 1, lit(rpb)))))
          .select(col("id"), col("pos").as("band"),
            graft.text.TextAnalysis.stableHash60(to_json(col("col"))).as("bucket"))
        val hist = banded.groupBy("band", "bucket").count()
        val agg = hist.agg(count(lit(1)).as("groups"),
          sum(col("count")).as("rows"),
          sum(col("count") * (col("count") - 1) / 2).as("pairs"),
          max(col("count")).as("maxg"),
          expr("percentile_approx(count, 0.5)").as("medg")).collect()(0)
        println(s"[d25-skew] groups=${agg.get(0)} rows=${agg.get(1)} " +
          s"pairs=${agg.get(2)} max_group=${agg.get(3)} median_group=${agg.get(4)}")
        hist.orderBy(col("count").desc).limit(20).collect().foreach(r =>
          println(s"[d25-skew] top band=${r.get(0)} bucket=${r.get(1)} n=${r.get(2)}"))
      case "e10plan" =>
        // executed (post-AQE) plan of the e10 probe fragment: is the
        // Generate inside a WholeStageCodegen span?
        import org.apache.spark.sql.functions._
        val emb = Tables.embeddings(spark, sfDir)
        val qs = {
          val base = emb.filter(col("vec_id") < 500)
          base.unionByName(base.withColumn("vec_id", col("vec_id") + 10000))
        }
        val df = new graft.similarity.Similarity.HierIvfIndex(
            k = graft.queries.PipelineQueries.HierK,
            nprobe = graft.queries.PipelineQueries.HierNprobe)
          .annTopK(emb, "vec_id", "embedding", qs, "vec_id", "embedding", 10)
        df.collect() // same QueryExecution -> AQE finalizes THIS plan
        println("=== EXECUTED PLAN START ===")
        println(df.queryExecution.executedPlan.toString.take(8000))
        println("=== EXECUTED PLAN END ===")
      case "probe" =>
        // single-threaded microbench of HierProbeHelper.probe at the
        // k=16384 / nprobe=2048 profile shape
        val rnd = new java.util.Random(42)
        val dim = 64; val kSup = 128; val kSub = 128
        def vec() = Array.fill(dim)(rnd.nextFloat())
        val sup = Array.fill(kSup)(vec())
        val ch = Array.fill(kSup)(Array.fill(kSub)(vec()))
        val h = new graft.functions.HierProbeHelper(sup, ch, 32, 2048)
        val qs = Array.fill(64)(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(vec()))
        (1 to 8).foreach { rep =>
          val t0 = System.nanoTime()
          var n = 0
          while (n < 4) {
            var i = 0
            while (i < 64) { h.probe(qs(i)); i += 1 }
            n += 1
          }
          println(f"[probe-micro] rep$rep: ${(System.nanoTime() - t0) / 1e3 / 256}%.1f core-us/row")
        }
      case other => println(s"unknown mode $other")
    }
    spark.stop()
  }
}
