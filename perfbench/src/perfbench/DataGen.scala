package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-shaped tables with the schema, row counts and value
  * distributions of the engine's sf tables (TESTDATA.md): region, nation,
  * customer, supplier, part, orders, lineitem, documents and embeddings,
  * one single-row-group parquet file each.
  *
  * Every value is a hash of (data seed, column salt, row id), so the
  * output does not depend on partitioning or on the run seed: the run
  * seed only drives which statements and batches the workloads generate.
  */
object DataGen {
  /** Bump when the generated bytes change, so cached copies are rebuilt. */
  val Version = "v1"
  private val DataSeed = 42L

  final case class Sizes(customer: Long, supplier: Long, part: Long,
      orders: Long, lineitem: Long, documents: Long, embeddings: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    Sizes(customer = n(150000), supplier = math.max(10L, n(10000)),
      part = n(200000), orders = n(1500000), lineitem = n(6000000),
      documents = math.max(500L, n(50000)), embeddings = math.max(500L, n(20000)))
  }

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window", "dup")
  val Dim = 64
  val Labels = 10

  /** Uniform [0, 1) from a hash of the row's key columns and a salt. */
  private def u(salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(DataSeed) +: lit(salt) +: keys): _*), lit(1L << 53))
      .cast("double") / lit((1L << 53).toDouble)
  private def uInt(salt: Int, n: Long, keys: Column*): Column =
    floor(u(salt, keys: _*) * n).cast("long")
  private def pick(values: Seq[String], salt: Int, keys: Column*): Column =
    element_at(typedLit(values), (uInt(salt, values.size, keys: _*) + 1).cast("int"))
  private def money(lo: Double, hi: Double, salt: Int, keys: Column*): Column =
    round(lit(lo) + u(salt, keys: _*) * (hi - lo), 2)
  /** Midnight timestamps spread over `days` days from 1995-01-01. */
  private def day(days: Long, salt: Int, keys: Column*): Column =
    timestamp_seconds(lit(788918400L) + uInt(salt, days, keys: _*) * 86400L)

  def generate(spark: SparkSession, sf: Double): Map[String, DataFrame] = {
    val n = sizes(sf)
    def ids(rows: Long): DataFrame = spark.range(rows).toDF("id")
    val id = col("id")
    Map(
      "region" -> ids(5).select(id.cast("int").as("r_regionkey"),
        element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
          (id + 1).cast("int")).as("r_name")),
      "nation" -> ids(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> ids(n.customer).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        uInt(1, 25, id).cast("int").as("c_nationkey"),
        money(-999.99, 9999.99, 2, id).as("c_acctbal"),
        pick(Segments, 3, id).as("c_mktsegment")),
      "supplier" -> ids(n.supplier).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        uInt(11, 25, id).cast("int").as("s_nationkey"),
        money(-999.99, 9999.99, 12, id).as("s_acctbal")),
      "part" -> ids(n.part).select(id.as("p_partkey"),
        concat_ws(" ", pick(Seq("large", "hot", "small", "cold", "shiny"), 21, id),
          pick(Seq("ring", "bolt", "nut", "gear", "screw"), 22, id)).as("p_name"),
        concat(lit("Brand#"), (uInt(23, 25, id) + 1).cast("string")).as("p_brand"),
        pick(PartTypes, 24, id).as("p_type"),
        (uInt(25, 50, id) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 20000) / 100.0, 2).as("p_retailprice")),
      "orders" -> ids(n.orders).select(id.as("o_orderkey"),
        uInt(31, n.customer, id).as("o_custkey"),
        pick(Statuses, 32, id).as("o_orderstatus"),
        money(1000.0, 500000.0, 33, id).as("o_totalprice"),
        day(2404, 34, id).as("o_orderdate"),
        pick(Priorities, 35, id).as("o_orderpriority")),
      "lineitem" -> ids(n.lineitem).select(uInt(41, n.orders, id).as("l_orderkey"),
        uInt(42, n.part, id).as("l_partkey"),
        uInt(43, n.supplier, id).as("l_suppkey"),
        (uInt(44, 7, id) + 1).cast("int").as("l_linenumber"),
        (uInt(45, 50, id) + 1).cast("double").as("l_quantity"),
        money(900.0, 105000.0, 46, id).as("l_extendedprice"),
        round(uInt(47, 11, id) / 100.0, 2).as("l_discount"),
        round(uInt(48, 9, id) / 100.0, 2).as("l_tax"),
        pick(Seq("A", "N", "R"), 49, id).as("l_returnflag"),
        pick(Seq("F", "O"), 50, id).as("l_linestatus"),
        day(2498, 51, id).as("l_shipdate")),
      "documents" -> {
        val words = (uInt(61, 91, id) + 10).cast("int")
        ids(n.documents).select(id.as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), words), i =>
            element_at(typedLit(Vocab.init), (uInt(62, Vocab.size - 1, id, i) + 1)
              .cast("int")))).as("text"),
          pick(Seq("de", "en", "en", "en", "es", "fr", "zh"), 63, id).as("lang"),
          concat(lit("src"), uInt(64, 20, id).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        // ten label clusters: a hashed centroid per label plus per-row noise,
        // unit-normalised like the engine's embedding tables
        val label = uInt(71, Labels, id)
        val raw = transform(sequence(lit(0), lit(Dim - 1)), j =>
          (u(72, label, j) - 0.5) + (u(73, id, j) - 0.5) * 1.2)
        val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
        ids(n.embeddings).select(id.as("vec_id"),
          transform(raw, x => (x / norm).cast("float")).as("embedding"),
          label.cast("int").as("label"))
      })
  }

  /** Writes every table under `dir` unless a complete copy is there. */
  def ensure(spark: SparkSession, dir: String, sf: Double): Unit = {
    val target = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(target.resolve("_COMPLETE"))) return
    val tmp = java.nio.file.Paths.get(s"$dir.tmp-${ProcessHandle.current().pid()}")
    Fs.rmrf(tmp)
    generate(spark, sf).foreach { case (name, df) =>
      df.coalesce(1).write.parquet(tmp.resolve(s"$name.parquet").toString)
    }
    java.nio.file.Files.createFile(tmp.resolve("_COMPLETE"))
    Fs.rmrf(target)
    java.nio.file.Files.createDirectories(target.getParent)
    java.nio.file.Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
