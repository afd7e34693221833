package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for aggregation: random GROUP BY (nullable key, or
  * none) × random WHERE × the full aggregate set, against a model that
  * implements the reference's null semantics — COUNT(prop)/SUM/MIN/MAX/
  * AVG skip nulls, SUM/MIN/MAX/AVG of an all-null group are NULL,
  * COUNT DISTINCT counts distinct non-nulls, a null group key is its own
  * group, and a key-less aggregate over ZERO rows still emits exactly
  * one row (count 0, sums null — ISO empty-match semantics the oracle
  * pins only for fixed shapes in q25).
  */
class AggDifferentialFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private val rows: Seq[(Long, Any, Any)] = (1L to 24L).map { i =>
    val s: Any = if (i % 7 == 3) null else (i % 5): Long
    val name: Any = if (i % 11 == 5) null else "nm" + (i % 4)
    (i, s, name)
  }

  private lazy val t = {
    val g = {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("s", LongType), StructField("name", StringType)))
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r =>
          org.apache.spark.sql.Row(r._1, r._2, r._3)): _*), schema)
      new graft.graph.PropertyGraph(Map("N" -> df), Map.empty)
    }
    graft.GraphLiteSpark.open(spark, tempDir("aggfuzz").toString)
      .session("u").useGraph(g)
  }

  private val rnd = new scala.util.Random(
    sys.env.getOrElse("GRAFT_AGG_FUZZ_SEED", "20260816").toLong)

  // simple random predicates (the boolean-tree space is
  // WhereDifferentialFuzzSpec's job; here WHERE just varies the groups,
  // including down to zero rows for the empty-match case)
  private def wherePick(): (String, (Any, Any) => Boolean) =
    rnd.nextInt(5) match {
      case 0 => ("", (_, _) => true)
      case 1 =>
        val c = rnd.nextInt(5)
        (s" WHERE n.s > $c", (s, _) => s != null && s.asInstanceOf[Long] > c)
      case 2 =>
        val v = "nm" + rnd.nextInt(4)
        (s" WHERE n.name = '$v'", (_, n) => n != null && n == v)
      case 3 => (" WHERE n.s IS NULL", (s, _) => s == null)
      case 4 => (" WHERE n.s > 99", (_, _) => false) // empty match
    }

  (1 to 25).foreach { i =>
    val (whereStr, keep) = wherePick()
    val byName = rnd.nextBoolean() // group key: name (nullable) or none
    test(s"agg $i: ${if (byName) "by name" else "no key"}$whereStr") {
      val keyPart = if (byName) "n.name AS k, " else ""
      val got = t.gql(s"MATCH (n:N)$whereStr RETURN $keyPart" +
        "count(n) AS c_all, count(n.s) AS c_s, count(DISTINCT n.s) AS c_d, " +
        "sum(n.s) AS sm, min(n.s) AS mn, max(n.s) AS mx, avg(n.s) AS av")
        .collect().map { r =>
          val off = if (byName) 1 else 0
          (if (byName) Option(r.get(0)).map(_.toString).getOrElse("~null") else "",
            r.getLong(off), r.getLong(off + 1), r.getLong(off + 2),
            if (r.isNullAt(off + 3)) null else r.getLong(off + 3),
            if (r.isNullAt(off + 4)) null else r.getLong(off + 4),
            if (r.isNullAt(off + 5)) null else r.getLong(off + 5),
            if (r.isNullAt(off + 6)) null else r.getDouble(off + 6))
        }.toSeq.sortBy(_._1)

      val kept = rows.filter { case (_, s, n) => keep(s, n) }
      val groups: Seq[(String, Seq[(Long, Any, Any)])] =
        if (byName) kept.groupBy(r => Option(r._3)
            .map(_.toString).getOrElse("~null")).toSeq
        else if (kept.isEmpty) Seq(("", Seq.empty)) // ISO: one empty row
        else Seq(("", kept))
      val want = groups.map { case (k, g) =>
        val ss = g.map(_._2).collect { case v: Long => v }
        (k, g.size.toLong, ss.size.toLong, ss.distinct.size.toLong,
          if (ss.isEmpty) null else ss.sum: Any,
          if (ss.isEmpty) null else ss.min: Any,
          if (ss.isEmpty) null else ss.max: Any,
          if (ss.isEmpty) null else ss.sum.toDouble / ss.size: Any)
      }.sortBy(_._1)
      assert(got == want)
    }
  }
}
