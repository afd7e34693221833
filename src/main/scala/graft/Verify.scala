package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local use;
    // the driver always runs the full registry)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSpark(LocalSpark.cpus(4), "WARN")
    new java.io.File(outDir).mkdirs()
    // Contract: EVERY key in SparkEntry.queries yields an artifact. A
    // query that throws still gets its output dir, holding an _ERROR
    // marker (message + stack head) instead of parquet — so the driver's
    // compare records an `err` row rather than silently omitting the
    // query. A broken query must never read as "not registered".
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        val dir = Paths.get(s"$outDir/$name")
        Files.createDirectories(dir)
        val trace = e.toString + "\n" +
          e.getStackTrace.take(12).mkString("\n")
        Files.writeString(dir.resolve("_ERROR"), trace)
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: " +
        failed.sorted.mkString(", "))
    // full JSON string escape (graft.util.Json) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${util.Json.str(k)}: ${util.Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
