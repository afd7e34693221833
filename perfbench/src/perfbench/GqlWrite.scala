package perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.{GqlSession, GraphLiteSpark}
import graft.graph.{PropertyGraph, TpchGraph}

/** One session over a persisted customer/orders/PLACED graph laid out with
  * 8-bucket indexes on customer id, PLACED src and orders id. A cycle is
  * 20 statements, 60% reads and 40% DML on Zipf-skewed keys, then an
  * incremental save; every run starts from the state set-up persisted.
  * A model of every touched key checks each read and the reloaded state.
  */
final class GqlWrite(ctx: Ctx) extends Workload(ctx) {
  import GqlWrite._
  private val graphPath = "/bench/orders"
  private var gls: GraphLiteSpark = _
  private var sess: GqlSession = _
  private var warehouse: String = _
  private val n = DataGen.sizes(ctx.sf)

  // ---- the model: acctbal of every customer, order prices per customer
  private var baseBal: Map[Long, Double] = Map.empty
  private var bal: Map[Long, Double] = Map.empty
  private var basePrices: Map[Long, Seq[Double]] = Map.empty
  private val inserted = mutable.LinkedHashMap.empty[Long, (Long, Double)] // order -> (cust, price)
  private val touched = mutable.Set.empty[Long]
  private var nextOrder = 1000000000L
  private var warming = false
  private lazy val zipf = new Zipf(n.customer, 1.1, ctx.rnd)

  // ---- per-layer evidence gathered around the traced cycles
  private val planNodes = mutable.ArrayBuffer.empty[Double]
  private val partitions = mutable.ArrayBuffer.empty[Double]
  private val written = mutable.ArrayBuffer.empty[(Long, Long)]
  private var loadMs = 0.0
  private var inputBytes = 0L

  def setup(rep: Int): Map[String, Double] = {
    if (warehouse != null) Fs.rmrf(java.nio.file.Paths.get(warehouse))
    val s = ctx.newSession()
    val (g, tablesMs) = Main.time(TpchGraph.build(s, ctx.dataDir))
    warehouse = ctx.scratch(s"warehouse-$rep")
    gls = GraphLiteSpark.open(s, warehouse)
    val (_, buildMs) = Main.time {
      // build, persist with the bucketed layout, reload, first query
      val sub = new PropertyGraph(
        Map("customer" -> g.nodeTables("customer"), "orders" -> g.nodeTables("orders")),
        Map("PLACED" -> g.edgeTables("PLACED")))
      val w = gls.session("bench").useGraph(sub)
      Seq("c_id" -> "nodes_customer (id)", "p_src" -> "edges_PLACED (src)",
        "o_id" -> "nodes_orders (id)").foreach { case (ix, on) =>
        w.execute(s"CREATE GRAPH INDEX $ix ON $on")
        w.execute(s"ALTER INDEX $ix SET OPTION buckets = 8")
      }
      w.saveGraphAs(graphPath, force = true)
      sess = gls.session("bench").useGraph(graphPath)
      sess.gql(hop(0L)).collect()
    }
    Map("setup.tables_ms" -> tablesMs, "setup.graph_build_ms" -> buildMs)
  }

  /** Loads the model from the raw tables (plain Spark, no engine code). */
  private def loadModel(): Unit = if (baseBal.isEmpty) {
    val s = ctx.spark
    baseBal = s.read.parquet(s"${ctx.dataDir}/customer.parquet")
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    basePrices = s.read.parquet(s"${ctx.dataDir}/orders.parquet")
      .groupBy("o_custkey").agg(collect_list("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    inputBytes = Seq("customer", "orders").map(t =>
      Fs.usage(java.nio.file.Paths.get(s"${ctx.dataDir}/$t.parquet"))._2).sum
    resetModel()
  }

  /** The model of the state set-up persisted. */
  private def resetModel(): Unit = {
    bal = baseBal
    inserted.clear()
    touched.clear()
  }

  private def prices(c: Long): Seq[Double] =
    basePrices.getOrElse(c, Nil) ++ inserted.valuesIterator.filter(_._1 == c).map(_._2)
  private def money(): Double = math.round(ctx.rnd.nextDouble() * 500000.0) / 100.0

  /** A read checked against the model; while warming, just run. */
  private def read(kind: String, q: String)(want: => Seq[Seq[Any]]): Unit =
    if (warming) sess.gql(q).collect()
    else {
      val parseMs = Gql.parseAlone(ctx.tracer, q)
      ctx.op(kind)(Gql.query(ctx.tracer, sess, q, parseMs)).foreach { rows =>
        val got = Gql.norm(rows)
        ctx.check(got == want, s"$kind: engine $got != model $want for $q")
      }
    }

  /** A DML statement; `model` applies it to the model once it succeeded. */
  private def write(kind: String, stmt: String, labels: Seq[String])(model: => Unit): Unit =
    if (warming) { sess.execute(stmt).collect(); model }
    else {
      val parseMs = Gql.parseAlone(ctx.tracer, stmt, statement = true)
      if (ctx.op(kind)(Gql.statement(ctx.tracer, sess, stmt, parseMs)).isDefined) model
      if (ctx.tracer.enabled) {
        val g = sess.graph
        labels.foreach { l =>
          val df = g.nodeTables.getOrElse(l, g.edgeTables.get(l).map(_._2).orNull)
          var nodes = 0
          df.queryExecution.logical.foreach(_ => nodes += 1)
          planNodes += nodes
          partitions += df.inputFiles.length
        }
      }
    }

  /** A full cycle on the first set-up's graph, which the next set-up
    * discards: the statements, unchecked, and an incremental save.
    */
  def warmup(): Unit = {
    loadModel()
    warming = true
    try {
      statements()
      sess.saveGraphAs(graphPath)
    } finally {
      warming = false
      resetModel()
    }
  }

  def cycle(index: Int): Unit = {
    loadModel()
    statements()
    save(if (ctx.tracer.enabled) Some(inodes()) else None)
  }

  /** The cycle's statements, each checked against the model unless
    * warming: a fixed interleaving of 12 reads and 8 DML statements (the
    * insert is two statements), so every run has the same mix at the same
    * lineage depths; keys and values come from the seed.
    */
  private def statements(): Unit = Deck.foreach { kind =>
    val c = zipf.next()
    val live = inserted.keys.toIndexedSeq
    // recent inserts are the hot orders: pick among the last few
    def recent(): Long = live(live.size - 1 - ctx.rnd.nextInt(math.min(8, live.size)))
    if ((kind == "order_read" || kind == "delete") && live.isEmpty) {
      if (!warming) ctx.skip(kind, "no inserted order is live")
    } else kind match {
      case "hop_read" => read(kind, hop(c)) {
        val ps = prices(c)
        Seq(Seq(ps.size.toLong, ps.maxOption.map(cents).orNull))
      }
      case "node_read" => read(kind, s"MATCH (c:customer {id: $c}) RETURN c.acctbal AS bal") {
        Seq(Seq(cents(bal(c))))
      }
      case "order_read" =>
        val o = recent()
        read(kind, s"MATCH (o:orders {id: $o}) RETURN o.totalprice AS tp, o.status AS st") {
          Seq(Seq(cents(inserted(o)._2), "O"))
        }
      case "set" =>
        val v = money() - 1000.0
        write(kind, s"MATCH (c:customer {id: $c}) SET c.acctbal = $v", Seq("customer")) {
          bal += c -> v; touched += c
        }
      case "insert" =>
        val (o, v) = (nextOrder, money())
        nextOrder += 1
        write("insert_order", s"INSERT (:orders {id: $o, status: 'O', totalprice: $v, " +
          "priority: '3-MEDIUM'})", Seq("orders"))(())
        write("insert_edge", s"MATCH (c:customer {id: $c}), (o:orders {id: $o}) " +
          s"INSERT (c)-[:PLACED {totalprice: $v, priority: '3-MEDIUM'}]->(o)",
          Seq("PLACED")) {
          inserted(o) = (c, v); touched += c
        }
      case "delete" =>
        val o = recent()
        write(kind, s"MATCH (o:orders {id: $o}) DETACH DELETE o", Seq("orders", "PLACED")) {
          touched += inserted(o)._1; inserted.remove(o)
        }
    }
  }

  private def save(before: Option[Map[Any, Long]]): Unit = {
    ctx.timed("save")(ctx.tracer.span("catalog.save")(sess.saveGraphAs(graphPath)))
    before.foreach { b =>
      val after = inodes()
      val fresh = after.filter { case (ino, _) => !b.contains(ino) }
      written += ((fresh.size.toLong, fresh.values.sum))
    }
  }

  /** inode -> size of every file in the warehouse (hard links share one). */
  private def inodes(): Map[Any, Long] = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(warehouse))
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => java.nio.file.Files.getAttribute(p, "unix:ino") -> java.nio.file.Files.size(p))
        .toMap
    } finally w.close()
  }

  override def finish(): Unit = {
    val (fresh, ms) = Main.time(gls.session("check").useGraph(graphPath))
    loadMs = ms
    val keys = touched.toSeq.sorted
    if (keys.nonEmpty) {
      val in = keys.mkString("[", ", ", "]")
      val gotBal = Gql.norm(fresh.gql(s"MATCH (c:customer) WHERE c.id IN $in " +
        "RETURN c.id AS id, c.acctbal AS bal ORDER BY id").collect())
      ctx.check(gotBal == keys.map(k => Seq(k, cents(bal(k)))),
        s"reloaded balances differ from the model: $gotBal")
      val gotHop = Gql.norm(fresh.gql(s"MATCH (c:customer)-[p:PLACED]->(o:orders) " +
        s"WHERE c.id IN $in RETURN c.id AS id, count(p) AS n, max(o.totalprice) AS mx " +
        "ORDER BY id").collect())
      val wantHop = keys.map(k => k -> prices(k)).filter(_._2.nonEmpty)
        .map { case (k, ps) => Seq(k, ps.size.toLong, cents(ps.max)) }
      ctx.check(gotHop == wantHop, s"reloaded PLACED edges differ from the model: $gotHop")
    }
    val gotNew = Gql.norm(fresh.gql("MATCH (o:orders) WHERE o.id >= 1000000000 " +
      "RETURN o.id AS id ORDER BY id").collect())
    ctx.check(gotNew == inserted.keys.toSeq.sorted.map(Seq(_)),
      s"reloaded inserted orders differ from the model: $gotNew")
  }

  override def extraMetrics: Seq[(String, Double, String)] = {
    val ops = ctx.ops.filter(!_.traced)
    val reads = ops.filter(_.kind.endsWith("_read")).map(_.ms).toSeq
    val writes = ops.filterNot(_.kind.endsWith("_read")).map(_.ms).toSeq
    Seq(("read_p50_ms", Report.percentile(reads, 0.5), "ms"),
      ("read_p90_ms", Report.tailPercentile(reads)._2, "ms"),
      ("write_p50_ms", Report.percentile(writes, 0.5), "ms"),
      ("write_p90_ms", Report.tailPercentile(writes)._2, "ms"),
      ("stored_bytes_ratio",
        Fs.usage(java.nio.file.Paths.get(warehouse))._2.toDouble / math.max(1L, inputBytes),
        "ratio"))
  }

  override def layerExtras: Map[String, Double] = Map(
    "graph.plan_nodes" -> Report.median(planNodes.toSeq),
    "graph.partitions" -> Report.median(partitions.toSeq),
    "catalog.load_ms" -> loadMs,
    "catalog.files_written" -> Report.median(written.map(_._1.toDouble).toSeq),
    "catalog.bytes_written" -> Report.median(written.map(_._2.toDouble).toSeq))
}

object GqlWrite {
  /** One cycle's statements between two saves (an insert is two). */
  val Deck: Seq[String] = Seq("hop_read", "set", "node_read", "insert", "order_read",
    "node_read", "set", "hop_read", "node_read", "insert", "order_read", "node_read",
    "delete", "hop_read", "set", "order_read", "node_read", "hop_read")

  def hop(c: Long): String =
    s"MATCH (c:customer {id: $c})-[p:PLACED]->(o:orders) " +
      "RETURN count(p) AS n, max(o.totalprice) AS mx"

  def cents(d: Double): BigDecimal = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
}

/** Zipf(s) over `n` keys. Ranks map to keys through a fixed permutation,
  * so the hot set is a property of the data; `r` drives the draws.
  */
final class Zipf(n: Long, s: Double, r: scala.util.Random) {
  private val size = math.min(n, 100000L).toInt
  private val cdf = {
    val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val keys = new scala.util.Random(0x5eedL).shuffle((0L until n).toVector).take(size)
  def next(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    keys(if (i >= 0) i else math.min(size - 1, -i - 1))
  }
}
