package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** The local session every main of this repo (and the test fixture)
  * builds, so the confs the engine's paths depend on are stated once.
  * The interactive shell ([[Repl]]) builds its own: its master comes
  * from `SPARK_MASTER`.
  */
object LocalSpark {
  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time, adaptive execution, parquet nanosecond timestamps read as
    * longs, and no UI. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")

  /** A session from [[builder]] that logs at `logLevel`, its context's
    * start-up included. */
  def apply(cpus: Int, logLevel: String): SparkSession = {
    org.apache.spark.sql.graft.Logs.setLevel(logLevel)
    builder(cpus).getOrCreate()
  }

  /** Cores from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A new empty directory `graft-<tag>…` under the system temp
    * directory, deleted when the JVM exits. */
  def scratchDir(tag: String): Path = {
    val p = Files.createTempDirectory(s"graft-$tag")
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    p
  }

  /** The warehouse the board's GQL rows save their graphs into: one
    * [[scratchDir]] per JVM, so concurrent runs never overwrite each
    * other's graphs and none outlives its run. */
  lazy val warehouse: String = scratchDir("warehouse").toString
}
