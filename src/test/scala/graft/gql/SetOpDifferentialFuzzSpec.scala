package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for set operations between full queries: random
  * left-associative chains of UNION / INTERSECT / EXCEPT (each ± ALL,
  * with occasional parenthesized groups) over leaf queries with
  * NULL-bearing value projections, engine vs a ~30-line multiset model.
  *
  * The oracle board pins fixed shapes (q06–q08, g10, gql08); this
  * covers the combinational space: DISTINCT-vs-ALL composition (a
  * DISTINCT op collapses counts mid-chain and later ALL ops must see
  * the collapsed multiset), null-safe row comparison (NULL = NULL for
  * set-op purposes — rows with NULL columns dedup/intersect/subtract
  * like any other; ISO GQL <query conjunction>, reference
  * ast.rs:208-228 left-assoc), and group parenthesization.
  *
  * Seed env-tunable via GRAFT_SETOP_FUZZ_SEED, cases via
  * GRAFT_SETOP_FUZZ_N.
  */
class SetOpDifferentialFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private val seed =
    sys.env.getOrElse("GRAFT_SETOP_FUZZ_SEED", "20260817").toLong
  private val nCases =
    sys.env.getOrElse("GRAFT_SETOP_FUZZ_N", "40").toInt

  // rows: (id, s: Long|null, name: String|null) — nulls on both value
  // props so null-safe set-op comparison is constantly exercised; a
  // duplicated (s, name) shape across ids so ALL-counts exceed 1
  private val rows: Seq[(Long, Any, Any)] = (1L to 20L).map { i =>
    val s: Any = if (i % 6 == 4) null else (i % 3): Long
    val name: Any = if (i % 7 == 5) null else "nm" + (i % 2)
    (i, s, name)
  }

  private lazy val sess = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", LongType), StructField("name", StringType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3)): _*), schema)
    val g = new graft.graph.PropertyGraph(Map("N" -> df), Map.empty)
    graft.GraphLiteSpark.open(spark, tempDir("setopfuzz").toString)
      .session("u").useGraph(g)
  }

  // ---- leaf predicates: GQL text + row-model evaluator (3VL: UNKNOWN
  // filters like FALSE, the WHERE convention) ----
  private case class Leaf(gql: String, keep: ((Long, Any, Any)) => Boolean)

  private val leaves: Vector[Leaf] = {
    def sVal(r: (Long, Any, Any)): Option[Long] =
      Option(r._2).map(_.asInstanceOf[Long])
    def nVal(r: (Long, Any, Any)): Option[String] =
      Option(r._3).map(_.asInstanceOf[String])
    Vector(
      Leaf("n.s > 0", r => sVal(r).exists(_ > 0)),
      Leaf("n.s > 1", r => sVal(r).exists(_ > 1)),
      Leaf("n.s IS NULL", r => sVal(r).isEmpty),
      Leaf("n.name = 'nm0'", r => nVal(r).contains("nm0")),
      Leaf("n.name = 'nm1'", r => nVal(r).contains("nm1")),
      Leaf("n.id <= 10", r => r._1 <= 10),
      Leaf("n.id > 4", r => r._1 > 4),
      Leaf("true", _ => true))
  }

  private def leafGql(l: Leaf): String =
    s"MATCH (n:N) WHERE ${l.gql} RETURN n.s AS a, n.name AS b"

  private def leafModel(l: Leaf): Seq[(Option[Long], Option[String])] =
    rows.filter(l.keep).map(r =>
      (Option(r._2).map(_.asInstanceOf[Long]),
        Option(r._3).map(_.asInstanceOf[String])))

  // ---- multiset model of the set-op chain (null-safe keys: the
  // Option pair IS the key, so None == None like Spark/ISO set ops) ----
  private type K = (Option[Long], Option[String])
  private def counts(xs: Seq[K]): Map[K, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  private def applyOp(op: String, all: Boolean,
      l: Map[K, Int], r: Map[K, Int]): Map[K, Int] = (op, all) match {
    case ("UNION", true) =>
      (l.keySet ++ r.keySet).map(k =>
        k -> (l.getOrElse(k, 0) + r.getOrElse(k, 0))).toMap
    case ("UNION", false) => (l.keySet ++ r.keySet).map(_ -> 1).toMap
    case ("INTERSECT", true) =>
      (l.keySet intersect r.keySet).map(k =>
        k -> math.min(l(k), r(k))).toMap
    case ("INTERSECT", false) =>
      (l.keySet intersect r.keySet).map(_ -> 1).toMap
    case ("EXCEPT", true) =>
      l.map { case (k, c) => k -> (c - r.getOrElse(k, 0)) }
        .filter(_._2 > 0)
    case ("EXCEPT", false) =>
      (l.keySet diff r.keySet).map(_ -> 1).toMap
    case _ => throw new IllegalArgumentException(op)
  }

  test(s"set-op chains match the multiset model (seed=$seed)") {
    val rnd = new scala.util.Random(seed)
    val ops = Vector("UNION", "INTERSECT", "EXCEPT")
    for (c <- 1 to nCases) {
      val n = 2 + rnd.nextInt(3) // 2..4 leaves
      val ls = Vector.fill(n)(leaves(rnd.nextInt(leaves.size)))
      val chain = Vector.fill(n - 1)(
        (ops(rnd.nextInt(3)), rnd.nextBoolean()))
      // occasionally parenthesize a pair as a group. Leading-pair
      // groups ((A op B) op C) exercise the group-operand path but are
      // value-identical to the bare left-assoc chain; TRAILING-pair
      // groups (A op (B op C)) actually re-associate — e.g.
      // A EXCEPT (B UNION C) ≠ (A EXCEPT B) UNION C — so an engine
      // that silently dropped parentheses diverges from the model here
      val groupMode =
        if (n >= 3) rnd.nextInt(4) else 0 // 0,1=none 2=lead 3=tail
      def opTxt(i: Int) =
        s"${chain(i)._1}${if (chain(i)._2) " ALL" else ""}"
      val parts = ls.map(leafGql)
      val gql = groupMode match {
        case 2 => // ((L0 op0 L1) op1 L2 …) — same value as ungrouped
          val head = s"(${parts(0)} ${opTxt(0)} ${parts(1)})"
          (1 until n - 1).foldLeft(head) { (acc, i) =>
            s"$acc ${opTxt(i)} ${parts(i + 1)}"
          }
        case 3 => // L0 op0 … op_{n-3} (L_{n-2} op_{n-2} L_{n-1})
          val prefix = (0 until n - 3).foldLeft(parts(0)) { (acc, i) =>
            s"$acc ${opTxt(i)} ${parts(i + 1)}"
          }
          val grp =
            s"(${parts(n - 2)} ${opTxt(n - 2)} ${parts(n - 1)})"
          s"$prefix ${opTxt(n - 3)} $grp"
        case _ =>
          (0 until n - 1).foldLeft(parts(0)) { (acc, i) =>
            s"$acc ${opTxt(i)} ${parts(i + 1)}"
          }
      }
      val want = {
        val ms = ls.map(l => counts(leafModel(l)))
        if (groupMode == 3) {
          // fold with the matching tree shape: the trailing pair
          // combines FIRST, then joins the left-assoc prefix
          val grp = applyOp(chain(n - 2)._1, chain(n - 2)._2,
            ms(n - 2), ms(n - 1))
          val prefix = (0 until n - 3).foldLeft(ms.head) { (acc, i) =>
            applyOp(chain(i)._1, chain(i)._2, acc, ms(i + 1))
          }
          applyOp(chain(n - 3)._1, chain(n - 3)._2, prefix, grp)
        } else
          (0 until n - 1).foldLeft(ms.head) { (acc, i) =>
            applyOp(chain(i)._1, chain(i)._2, acc, ms(i + 1))
          }
      }
      val got = counts(sess.gql(gql).collect().toSeq.map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getString(1)))
      })
      assert(got == want, s"case $c diverged:\n$gql\n got=$got\nwant=$want")
    }
  }
}
