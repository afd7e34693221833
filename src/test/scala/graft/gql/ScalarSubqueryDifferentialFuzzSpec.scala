package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for scalar subqueries: random correlated
  * aggregates (COUNT/SUM/MIN/MAX over an edge-correlated set) and
  * uncorrelated ORDER BY … first-row subqueries, consumed both as a
  * RETURN value (NULL propagation through arithmetic) and as a WHERE
  * comparison operand (UNKNOWN filters), engine vs an independent
  * model.
  *
  * Pins the semantics lattice the fixed rows (gql12, q27) sample:
  * empty correlated set → NULL scalar (but COUNT → 0), aggregate
  * NULL-element skipping, first-row-of-ordered determinism (reference
  * DECLARE parity, executor.rs:8502-8527), and the reference's nulls
  * ordering (ASC → nulls last, DESC → nulls first) deciding WHICH row
  * is first. Only deterministic shapes are generated — an unordered
  * multi-row subquery's `first()` is legitimately nondeterministic and
  * stays out of a differential harness.
  *
  * Seed env-tunable via GRAFT_SCALARSUB_FUZZ_SEED, cases via
  * GRAFT_SCALARSUB_FUZZ_N.
  */
class ScalarSubqueryDifferentialFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private val seed =
    sys.env.getOrElse("GRAFT_SCALARSUB_FUZZ_SEED", "20260819").toLong
  private val nCases =
    sys.env.getOrElse("GRAFT_SCALARSUB_FUZZ_N", "50").toInt

  private val nRows: Seq[(Long, Any)] = (1L to 15L).map { i =>
    (i, if (i % 5 == 2) null else (i % 7): Long)
  }
  private val mRows: Seq[(Long, Any)] = (101L to 140L).map { j =>
    (j, if (j % 6 == 3) null else (j % 9): Long)
  }
  private val rEdges: Seq[(Long, Long)] = (1L to 12L).flatMap { i =>
    (0L until (2 + i % 3)).map(k => i -> (101L + (i * 3 + k * 5) % 40))
  }

  private lazy val sess = {
    import org.apache.spark.sql.types._
    def tbl(rows: Seq[(Long, Any)], vname: String) = {
      val schema = StructType(Seq(StructField("id", LongType),
        StructField(vname, LongType)))
      spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)): _*), schema)
    }
    import org.apache.spark.sql.functions.col
    val n = tbl(nRows, "s")
    val m = tbl(mRows, "t")
    val e = spark.createDataFrame(rEdges).toDF("src", "dst")
      .withColumn("eid", col("src") * 1000 + col("dst"))
    val g = new graft.graph.PropertyGraph(
      Map("N" -> n, "M" -> m),
      Map("R" -> (graft.graph.EdgeType("R", "N", "M"), e)))
    graft.GraphLiteSpark.open(spark, tempDir("scalarsubfuzz").toString)
      .session("u").useGraph(g)
  }

  private val adj: Map[Long, Seq[Long]] =
    rEdges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  private val tOf: Map[Long, Option[Long]] = mRows.map { case (j, t) =>
    j -> Option(t).map(_.asInstanceOf[Long]) }.toMap

  /** Correlated aggregate over n's R-neighborhood, model side. */
  private def aggModel(agg: String, nid: Long,
      filt: Option[Long]): Option[Long] = {
    val set0 = adj.getOrElse(nid, Seq.empty).map(tOf)
    val set = filt match {
      case Some(f) => set0.filter(_.exists(_ >= f))
      case None => set0
    }
    val nonNull = set.flatten
    agg match {
      case "COUNT" => Some(nonNull.size.toLong) // COUNT(m.t): non-null
      case "SUM" => if (nonNull.isEmpty) None else Some(nonNull.sum)
      case "MIN" => nonNull.minOption
      case "MAX" => nonNull.maxOption
    }
  }

  /** Uncorrelated ordered-first-row scalar, model side: reference nulls
    * rule — ASC nulls last, DESC nulls first; m.id tie-break keeps it
    * total. */
  private def orderedModel(desc: Boolean, filt: Option[Long]): Option[Long] = {
    val rows = mRows.map { case (j, t) =>
      (j, Option(t).map(_.asInstanceOf[Long])) }
      .filter { case (_, t) => filt.forall(f => t.exists(_ >= f)) }
    if (rows.isEmpty) return None
    // sort key: NULL is GREATEST (reference compare_values), DESC
    // reverses after the comparison → ASC nulls last, DESC nulls first
    val sorted = rows.sortBy { case (id, t) =>
      val nullRank = if (desc) (if (t.isEmpty) 0 else 1)
        else (if (t.isEmpty) 1 else 0)
      val valRank = t.map(v => if (desc) -v else v).getOrElse(0L)
      (nullRank, valRank, id)
    }
    sorted.head._2
  }

  test(s"scalar subqueries match the model (seed=$seed)") {
    val rnd = new scala.util.Random(seed)
    val aggs = Vector("COUNT", "SUM", "MIN", "MAX")
    for (c <- 1 to nCases) {
      val filt: Option[Long] =
        if (rnd.nextBoolean()) Some(rnd.nextInt(9).toLong) else None
      val innerWhere = filt.map(f => s" WHERE m.t >= $f").getOrElse("")
      val correlated = rnd.nextInt(3) > 0
      val (subGql, scalarOf): (String, Long => Option[Long]) =
        if (correlated) {
          val agg = aggs(rnd.nextInt(aggs.size))
          (s"(MATCH (n)-[:R]->(m:M)$innerWhere RETURN ${agg}(m.t))",
            nid => aggModel(agg, nid, filt))
        } else {
          val desc = rnd.nextBoolean()
          val dir = if (desc) "DESC" else "ASC"
          (s"(MATCH (m:M)$innerWhere RETURN m.t ORDER BY m.t $dir, m.id)",
            _ => orderedModel(desc, filt))
        }
      if (rnd.nextBoolean()) {
        // RETURN consumer: NULL scalar propagates through arithmetic
        val gql = s"MATCH (n:N) RETURN n.id AS id, n.s + $subGql AS v"
        val got = sess.gql(gql).collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        val want = nRows.map { case (nid, s) =>
          nid -> (for {
            sv <- Option(s).map(_.asInstanceOf[Long])
            sub <- scalarOf(nid)
          } yield sv + sub)
        }.toMap
        assert(got == want, s"case $c (RETURN) diverged:\n$gql\n" +
          s" got=${got.toSeq.sortBy(_._1)}\nwant=${want.toSeq.sortBy(_._1)}")
      } else {
        // WHERE consumer: comparison with a NULL scalar is UNKNOWN
        val gql = s"MATCH (n:N) WHERE n.s > $subGql RETURN n.id AS id"
        val got = sess.gql(gql).collect().map(_.getLong(0)).toSet
        val want = nRows.filter { case (nid, s) =>
          (for {
            sv <- Option(s).map(_.asInstanceOf[Long])
            sub <- scalarOf(nid)
          } yield sv > sub).contains(true)
        }.map(_._1).toSet
        assert(got == want, s"case $c (WHERE) diverged:\n$gql\n" +
          s" got=${got.toSeq.sorted}\nwant=${want.toSeq.sorted}")
      }
    }
  }
}
