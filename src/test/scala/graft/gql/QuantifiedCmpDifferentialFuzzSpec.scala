package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for quantified comparisons `x op ALL|ANY|SOME
  * (subquery)`: random operators, quantifiers, inner filters,
  * correlation (via a shared pattern variable) vs no correlation, and
  * optional NOT wrapping — engine vs an independent ISO-3VL model.
  *
  * The oracle board pins fixed shapes (gql13, q30); this exercises the
  * edge lattice those can't enumerate: empty inner set (ALL → TRUE,
  * ANY → FALSE, BEFORE the null-operand check — `NULL > ALL (empty)`
  * is TRUE), NULL outer operand with a non-empty set (UNKNOWN), NULLs
  * inside the set (UNKNOWN unless a definite TRUE/FALSE decides first),
  * all-NULL sets, and FALSE-beats-UNKNOWN for ALL / TRUE-beats-UNKNOWN
  * for ANY. WHERE keeps TRUE only; NOT(UNKNOWN) stays UNKNOWN.
  *
  * Seed env-tunable via GRAFT_QUANT_FUZZ_SEED, cases via
  * GRAFT_QUANT_FUZZ_N.
  */
class QuantifiedCmpDifferentialFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private val seed =
    sys.env.getOrElse("GRAFT_QUANT_FUZZ_SEED", "20260818").toLong
  private val nCases =
    sys.env.getOrElse("GRAFT_QUANT_FUZZ_N", "60").toInt

  // outer nodes: ids 1..15, s nullable; node 13/14/15 have NO edges
  // (empty inner set); inner nodes: t nullable (nulls reach the set
  // when the random inner filter is absent)
  private val nRows: Seq[(Long, Any)] = (1L to 15L).map { i =>
    (i, if (i % 5 == 2) null else (i % 7): Long)
  }
  private val mRows: Seq[(Long, Any)] = (101L to 140L).map { j =>
    (j, if (j % 6 == 3) null else (j % 9): Long)
  }
  // src 1..12 each link to 2-4 m nodes (deterministic spread)
  private val rEdges: Seq[(Long, Long)] = (1L to 12L).flatMap { i =>
    (0L until (2 + i % 3)).map(k => i -> (101L + (i * 3 + k * 5) % 40))
  }

  private lazy val sess = {
    import org.apache.spark.sql.types._
    def tbl(rows: Seq[(Long, Any)]) = {
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", LongType)))
      spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
    }
    import org.apache.spark.sql.functions.col
    val n = tbl(nRows).withColumnRenamed("v", "s")
    val m = tbl(mRows).withColumnRenamed("v", "t")
    val e = spark.createDataFrame(rEdges).toDF("src", "dst")
      .withColumn("eid", col("src") * 1000 + col("dst"))
    val g = new graft.graph.PropertyGraph(
      Map("N" -> n, "M" -> m),
      Map("R" -> (graft.graph.EdgeType("R", "N", "M"), e)))
    graft.GraphLiteSpark.open(spark, tempDir("quantfuzz").toString)
      .session("u").useGraph(g)
  }

  // ---- ISO 3VL model ----
  private sealed trait TV
  private case object T extends TV
  private case object F extends TV
  private case object U extends TV

  private def cmp(op: String, a: Long, b: Long): Boolean = op match {
    case "=" => a == b
    case "<>" => a != b
    case ">" => a > b
    case ">=" => a >= b
    case "<" => a < b
    case "<=" => a <= b
  }

  private def quantModel(op: String, quant: String, x: Option[Long],
      set: Seq[Option[Long]]): TV = {
    if (set.isEmpty) return if (quant == "ALL") T else F
    if (x.isEmpty) return U
    val per = set.map {
      case Some(v) => if (cmp(op, x.get, v)) T else F
      case None => U
    }
    if (quant == "ALL") {
      if (per.contains(F)) F else if (per.contains(U)) U else T
    } else { // ANY / SOME
      if (per.contains(T)) T else if (per.contains(U)) U else F
    }
  }

  private def notTv(t: TV): TV = t match {
    case T => F; case F => T; case U => U
  }

  test(s"quantified comparisons match the ISO-3VL model (seed=$seed)") {
    val rnd = new scala.util.Random(seed)
    val ops = Vector("=", "<>", ">", ">=", "<", "<=")
    val quants = Vector("ALL", "ANY", "SOME")
    val adj: Map[Long, Seq[Long]] =
      rEdges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val tOf: Map[Long, Option[Long]] = mRows.map { case (j, t) =>
      j -> Option(t).map(_.asInstanceOf[Long]) }.toMap
    for (c <- 1 to nCases) {
      val op = ops(rnd.nextInt(ops.size))
      val quant = quants(rnd.nextInt(quants.size))
      val correlated = rnd.nextBoolean()
      // inner filter: None lets NULL t into the set; Some(c) drops it
      val innerFilter: Option[Long] =
        if (rnd.nextBoolean()) Some(rnd.nextInt(9).toLong) else None
      val negate = rnd.nextInt(4) == 0
      val innerWhere = innerFilter.map(f => s" WHERE m.t >= $f").getOrElse("")
      val sub =
        if (correlated) s"(MATCH (n)-[:R]->(m:M)$innerWhere RETURN m.t)"
        else s"(MATCH (m:M)$innerWhere RETURN m.t)"
      val pred0 = s"n.s $op $quant $sub"
      val gql = s"MATCH (n:N) WHERE ${if (negate) s"NOT ($pred0)" else pred0} " +
        "RETURN n.id AS id"
      def setFor(nid: Long): Seq[Option[Long]] = {
        val pool = if (correlated) adj.getOrElse(nid, Seq.empty).map(tOf)
          else mRows.map(r => Option(r._2).map(_.asInstanceOf[Long]))
        innerFilter match {
          case Some(f) => pool.filter(_.exists(_ >= f)) // 3VL: NULL drops
          case None => pool
        }
      }
      val want = nRows.filter { case (nid, s) =>
        val tv = quantModel(op, quant, Option(s).map(_.asInstanceOf[Long]),
          setFor(nid))
        (if (negate) notTv(tv) else tv) == T
      }.map(_._1).toSet
      val got = sess.gql(gql).collect().map(_.getLong(0)).toSet
      assert(got == want,
        s"case $c diverged:\n$gql\n got=${got.toSeq.sorted}\nwant=${want.toSeq.sorted}")
    }
  }
}
