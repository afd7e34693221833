package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for WHERE compilation: random boolean trees
  * (AND/OR/XOR/NOT over comparisons, IS [NOT] NULL, IN, STARTS WITH)
  * evaluated by the engine's compiler and by a ~30-line Kleene-3VL model
  * over the same rows — WHERE keeps exactly the rows where the tree is
  * TRUE (not UNKNOWN). The oracle-gated queries pin a fixed set of
  * predicate shapes; this covers the combinational space those shapes
  * sit in (the reference's 3VL tables: functions/mod.rs boolean ops,
  * ISO GQL <boolean value expression>).
  */
class WhereDifferentialFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  // rows: (id, s: Long|null, name: String|null) — nulls on both props
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
    graft.GraphLiteSpark.open(spark, tempDir("wherefuzz").toString)
      .session("u").useGraph(g)
  }

  // ---- random predicate trees ----
  private sealed trait P
  private case class Cmp(op: String, c: Long) extends P       // n.s <op> c
  private case class NameEq(v: String) extends P              // n.name = 'v'
  private case class Starts(prefix: String) extends P         // n.name STARTS WITH
  private case class IsNull(prop: String, not: Boolean) extends P
  private case class In(vals: Seq[Long], not: Boolean) extends P
  private case class Not(p: P) extends P
  private case class Bin(op: String, a: P, b: P) extends P    // AND/OR/XOR

  private val rnd = new scala.util.Random(
    sys.env.getOrElse("GRAFT_WHERE_FUZZ_SEED", "20260815").toLong)
  private def gen(depth: Int): P =
    if (depth == 0) rnd.nextInt(6) match {
      case 0 => Cmp(Seq(">", "<", "=", "<>", ">=", "<=")(rnd.nextInt(6)),
        rnd.nextInt(5).toLong)
      case 1 => NameEq("nm" + rnd.nextInt(5))
      case 2 => Starts(if (rnd.nextBoolean()) "nm" else "nm" + rnd.nextInt(4))
      case 3 => IsNull(if (rnd.nextBoolean()) "s" else "name", rnd.nextBoolean())
      case 4 => In(Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(6).toLong),
        rnd.nextBoolean())
      case 5 => Not(gen(0))
    } else rnd.nextInt(4) match {
      case 0 => Bin("AND", gen(depth - 1), gen(rnd.nextInt(depth)))
      case 1 => Bin("OR", gen(depth - 1), gen(rnd.nextInt(depth)))
      case 2 => Bin("XOR", gen(depth - 1), gen(rnd.nextInt(depth)))
      case 3 => Not(gen(depth - 1))
    }

  private def render(p: P): String = p match {
    case Cmp(op, c) => s"n.s $op $c"
    case NameEq(v) => s"n.name = '$v'"
    case Starts(px) => s"n.name STARTS WITH '$px'"
    case IsNull(prop, not) => s"n.$prop IS${if (not) " NOT" else ""} NULL"
    case In(vs, not) => // GQL list syntax (dml_tests.rs:38: IN ['Alice', …])
      s"n.s ${if (not) "NOT IN" else "IN"} [${vs.mkString(", ")}]"
    case Not(q) => s"NOT (${render(q)})"
    case Bin(op, a, b) => s"(${render(a)}) $op (${render(b)})"
  }

  /** Kleene 3VL: None = UNKNOWN. */
  private def eval(p: P, s: Any, name: Any): Option[Boolean] = p match {
    case Cmp(op, c) => Option(s).map(_.asInstanceOf[Long]).map { v =>
      op match {
        case ">" => v > c; case "<" => v < c; case "=" => v == c
        case "<>" => v != c; case ">=" => v >= c; case "<=" => v <= c
      }
    }
    case NameEq(x) => Option(name).map(_ == x)
    case Starts(px) => Option(name).map(_.asInstanceOf[String].startsWith(px))
    case IsNull("s", not) => Some((s == null) != not)
    case IsNull(_, not) => Some((name == null) != not)
    case In(vs, not) => Option(s).map(v => vs.contains(v) != not)
    case Not(q) => eval(q, s, name).map(!_)
    case Bin("AND", a, b) => (eval(a, s, name), eval(b, s, name)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Bin("OR", a, b) => (eval(a, s, name), eval(b, s, name)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Bin(_, a, b) => // XOR: unknown if either side is
      for (x <- eval(a, s, name); y <- eval(b, s, name)) yield x != y
  }

  (1 to 40).foreach { i =>
    val p = gen(1 + rnd.nextInt(3))
    test(s"tree $i: ${render(p).take(90)}") {
      val got = t.gql(s"MATCH (n:N) WHERE ${render(p)} " +
        "RETURN n.id AS id ORDER BY id").collect().map(_.getLong(0)).toSeq
      val want = rows.collect {
        case (id, s, name) if eval(p, s, name).contains(true) => id }
      assert(got == want, s"\npredicate: ${render(p)}")
    }
  }

  // ---- ORDER BY / SKIP / LIMIT over nullable keys ----
  // Reference nulls rule (executor.rs:6728-6739): NULL compares GREATER
  // and DESC reverses after — ASC nulls last, DESC nulls first. The final
  // id key makes the full order deterministic on both sides.
  private def keyOrd(asc: Boolean): Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = {
      val c = (a, b) match {
        case (null, null) => 0
        case (null, _) => 1 // greater
        case (_, null) => -1
        case (x: Long, y: Long) => x.compareTo(y)
        case (x: String, y: String) => x.compareTo(y)
        case _ => 0
      }
      if (asc) c else -c
    }
  }

  (1 to 15).foreach { i =>
    val (sAsc, nAsc) = (rnd.nextBoolean(), rnd.nextBoolean())
    val skip = rnd.nextInt(4)
    val limit = 1 + rnd.nextInt(8)
    def d(a: Boolean) = if (a) "ASC" else "DESC"
    test(s"order $i: s ${d(sAsc)}, name ${d(nAsc)} SKIP $skip LIMIT $limit") {
      val got = t.gql("MATCH (n:N) RETURN n.id AS id " +
        s"ORDER BY n.s ${d(sAsc)}, n.name ${d(nAsc)}, n.id " +
        s"SKIP $skip LIMIT $limit").collect().map(_.getLong(0)).toSeq
      val want = rows.sortBy { case (id, s, name) => (s, name, id) }(
        Ordering.Tuple3(keyOrd(sAsc), keyOrd(nAsc), Ordering.Long))
        .map(_._1).slice(skip, skip + limit)
      assert(got == want)
    }
  }
}
