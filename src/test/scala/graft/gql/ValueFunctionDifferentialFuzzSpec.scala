package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for the VALUE semantics of the string / list /
  * graph / special function registries against a lockstep model
  * transcribed from the reference source (the r15 verdict's ask: the
  * temporal fuzz found three real divergences on its first run; the
  * string/list fixes of r14-r15 came from hand line-walks, which is how
  * the MOD() over-correction slipped through).
  *
  * Model sources, all verified in this round:
  *  - string_functions.rs: UPPER/LOWER/REVERSE null→NULL, numbers and
  *    booleans render through Rust `to_string` then transform (42→"42",
  *    3.25→"3.25", true→"true"); TRIM's four forms (1-arg whitespace,
  *    2-arg mode + " \t\n\r" set, 2-arg first-char-of-literal with
  *    empty→space, 3-arg full char set with unknown modes falling back
  *    to BOTH); SUBSTRING is 1-based and CHAR-counted with start<=0
  *    clamping to the first char, start past the end and length<=0
  *    giving "" (rs:364-418); REPLACE null-propagates ALL THREE args
  *    and returns the original when the search string is empty
  *    (rs:487-520).
  *  - list_functions.rs: LIST_SLICE casts both indices `as usize`, so
  *    negative start → empty and negative END wraps huge and clamps to
  *    len (slices to the end; rs:115-141); LIST_APPEND/PREPEND extend
  *    on a list second argument and push otherwise (rs:192-201, 255-
  *    268); LIST_CONTAINS is total Value equality — Null==Null is TRUE
  *    and a miss over a null-holding list is FALSE (rs:37-63);
  *    LIST_LENGTH/LIST_REVERSE are list-only.
  *  - graph_functions.rs: SIZE is BYTE length for strings (Rust
  *    s.len(), rs:629), element count for lists, 0 for NULL (rs:632).
  *  - special_functions.rs: ALL_DIFFERENT/SAME compare through typed
  *    comparables (rs:243-258) — a Number NEVER equals a String or
  *    Boolean even when they render alike, so SAME(1, '1') is false and
  *    ALL_DIFFERENT(1, '1') is true. (On NULL arguments the reference
  *    ERRORS — value_to_comparable has no Null arm; the repo keeps SQL
  *    3VL instead, a documented divergence: a per-row runtime abort has
  *    no Column-level analog, and the reference never exercises the
  *    path in its own tests.)
  *
  * Seed via GRAFT_VALUEFN_FUZZ_SEED for reproduction.
  */
class ValueFunctionDifferentialFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private lazy val t = {
    import spark.implicits._
    val g = new graft.graph.PropertyGraph(
      Map("N" -> Seq(1L).toDF("id")), Map.empty)
    graft.GraphLiteSpark.open(spark, tempDir("valuefnfuzz").toString)
      .session("u").useGraph(g)
  }

  private val rnd = new scala.util.Random(
    sys.env.getOrElse("GRAFT_VALUEFN_FUZZ_SEED", "20260815").toLong)

  // ---- value domain ----------------------------------------------------
  // GQL-literal-renderable scalars; strings stay on a quote/backslash-free
  // alphabet so literals embed verbatim. "é" is 2 UTF-8 bytes — the SIZE
  // byte-length probe.
  private val stringPool = Seq("", " ", "  x  ", "xyxAyx", "--x--", "abc",
    "a b c", "AbC dEf", "ooxoo", "x", "-", "  ", "café", "ééé",
    "the quick fox", "xxABxx", "A-B-C", "zzz  ", "  zzz")
  private def randString(): String = stringPool(rnd.nextInt(stringPool.size))

  private sealed trait V { def gql: String }
  private case class VStr(s: String) extends V { def gql = s"'$s'" }
  private case class VInt(i: Long) extends V { def gql = i.toString }
  private case class VDbl(d: Double) extends V { def gql = d.toString }
  private case class VBool(b: Boolean) extends V { def gql = b.toString }
  private case object VNull extends V { def gql = "NULL" }

  private def randScalar(): V = rnd.nextInt(10) match {
    case 0 | 1 | 2 | 3 => VStr(randString())
    case 4 | 5 => VInt(rnd.nextInt(2001) - 1000L)
    case 6 => VDbl(if (rnd.nextInt(8) == 0) -0.0 // sign-of-zero arm: "-0"
                   else (rnd.nextInt(161) - 80) / 4.0) // dyadic: renders alike
    case 7 => VBool(rnd.nextBoolean())
    case 8 => VNull
    case _ => VInt(rnd.nextInt(10).toLong)
  }

  /** Rust `Value::Number(f64).to_string()` / bool to_string rendering
    * for the convert-to-string arms. Dyadic doubles and small integers
    * render identically in Rust and Java's shortest-repr. Integral
    * doubles format through "%.0f" — full positional digits, no ".0",
    * and -0.0 keeps its sign ("-0"), matching both Rust Display and the
    * implementation's format_string arm (Compiler.ScalarFns). Beyond
    * ~1e22 %.0f prints the double's EXACT decimal expansion where Rust
    * prints shortest-round-trip digits — an accepted divergence in the
    * sub-ULP tail, documented at the implementation site; this model
    * mirrors the implementation there, so it is NOT oracle coverage for
    * that extreme range.
    */
  private def render(v: V): Option[String] = v match {
    case VStr(s) => Some(s)
    case VInt(i) => Some(i.toString)
    case VDbl(d) =>
      Some(if (!d.isNaN && !d.isInfinite && d == d.floor) "%.0f".format(d)
           else d.toString)
    case VBool(b) => Some(b.toString)
    case VNull => None
  }

  // ---- harness ----------------------------------------------------------
  private def evalBatch(exprs: Seq[String]): Seq[Any] = {
    val cols = exprs.zipWithIndex
      .map { case (e, i) => s"$e AS c$i" }.mkString(", ")
    val row = t.gql(s"MATCH (n:N) RETURN $cols").collect().head
    exprs.indices.map(row.get)
  }

  private def runCases[C](cases: Seq[C])(toExpr: C => String)(
      check: (C, Any) => Unit): Unit =
    cases.grouped(20).foreach { batch =>
      val got = evalBatch(batch.map(toExpr))
      batch.zip(got).foreach { case (c, g) => check(c, g) }
    }

  // ---- UPPER / LOWER / REVERSE ------------------------------------------
  test("UPPER/LOWER/REVERSE: null passes, numbers and booleans render " +
      "through to_string (string_functions.rs:46-66)") {
    val fns = Seq("UPPER", "LOWER", "REVERSE")
    val cases = Seq.fill(90)((fns(rnd.nextInt(3)), randScalar()))
    runCases(cases) { case (f, v) => s"$f(${v.gql})" } { case ((f, v), g) =>
      val want = render(v).map { s =>
        f match {
          case "UPPER" => s.toUpperCase
          case "LOWER" => s.toLowerCase
          case _ => s.reverse
        }
      }.orNull
      assert(g == want, s"$f(${v.gql})")
    }
  }

  test("non-convertible arguments: UPPER/LOWER/REVERSE/SUBSTRING of a " +
      "LIST or DATETIME are NULL, TRIM's arm yields '', REPLACE errors " +
      "(string_functions.rs:58-66, 285-287, 498-517)") {
    val got = evalBatch(Seq(
      "UPPER([1, 2])", "LOWER([1])", "REVERSE([9])",
      "SUBSTRING([1, 2], 1, 1)",
      "UPPER(DATETIME('2024-01-01T00:00:00'))",
      "TRIM([1, 2])"))
    assert(got == Seq(null, null, null, null, null, ""))
    val err = intercept[Exception] {
      evalBatch(Seq("REPLACE([1], 'a', 'b')"))
    }
    assert(err.getMessage.contains("must be convertible to string"))
  }

  // ---- TRIM (all four forms) ---------------------------------------------
  test("TRIM forms: whitespace, mode+ws-set, first-char, full-set with " +
      "unknown-mode fallback (string_functions.rs:198-303)") {
    def trimModel(s: String, chars: String, mode: String): String = {
      val m = mode.toUpperCase
      val pred = (c: Char) => chars.contains(c)
      var a = 0; var b = s.length
      if (m != "TRAILING") while (a < b && pred(s(a))) a += 1
      if (m != "LEADING") while (b > a && pred(s(b - 1))) b -= 1
      s.substring(a, b)
    }
    val modes = Seq("LEADING", "TRAILING", "BOTH")
    val charsPool = Seq("x", "-", " ", "xy", "", "o", "z ")
    // 1-arg
    runCases(Seq.fill(30)(randString())) { s => s"TRIM('$s')" } {
      case (s, g) => assert(g == s.trim, s"TRIM('$s')")
    }
    // 2-arg mode form: whitespace set per mode
    runCases(Seq.fill(30)((modes(rnd.nextInt(3)), randString()))) {
      case (m, s) => s"TRIM('$m', '$s')"
    } { case ((m, s), g) =>
      assert(g == trimModel(s, " \t\n\r", m), s"TRIM('$m','$s')")
    }
    // 2-arg char form: FIRST character only; empty literal -> space
    runCases(Seq.fill(40)((randString(),
        charsPool(rnd.nextInt(charsPool.size))))) {
      case (s, c) => s"TRIM('$s', '$c')"
    } { case ((s, c), g) =>
      val ch = if (c.isEmpty) " " else c.substring(0, 1)
      assert(g == trimModel(s, ch, "BOTH"), s"TRIM('$s','$c')")
    }
    // 3-arg: full char set; an unknown mode falls back to BOTH (the
    // unwrap_or(TrimMode::Both) arm)
    runCases(Seq.fill(40) {
      val m = if (rnd.nextInt(4) == 0) "SIDEWAYS" else modes(rnd.nextInt(3))
      (m, charsPool(rnd.nextInt(charsPool.size)), randString())
    }) { case (m, c, s) => s"TRIM('$m', '$c', '$s')" } {
      case ((m, c, s), g) =>
        val mm = if (Seq("LEADING", "TRAILING", "BOTH").contains(m)) m
          else "BOTH"
        assert(g == trimModel(s, c, mm), s"TRIM('$m','$c','$s')")
    }
  }

  // ---- SUBSTRING -----------------------------------------------------------
  test("SUBSTRING: 1-based char positions, start<=0 clamps to 1, " +
      "start past end and length<=0 give '' (string_functions.rs:364-418)") {
    def model(s: String, start: Long, len: Option[Long]): String = {
      val chars = s.toCharArray
      val s0 = if (start <= 0) 0 else (start - 1).toInt
      if (s0 >= chars.length) return ""
      len match {
        case Some(l) if l <= 0 => ""
        case Some(l) =>
          new String(chars, s0, math.min(s0 + l, chars.length.toLong).toInt - s0)
        case None => new String(chars, s0, chars.length - s0)
      }
    }
    val cases = Seq.fill(80) {
      val s = randString()
      val start = rnd.nextInt(16) - 5L
      val len = if (rnd.nextBoolean()) Some(rnd.nextInt(12) - 3L) else None
      (s, start, len)
    }
    runCases(cases) { case (s, st, l) =>
      l match {
        case Some(n) => s"SUBSTRING('$s', $st, $n)"
        case None => s"SUBSTRING('$s', $st)"
      }
    } { case ((s, st, l), g) =>
      assert(g == model(s, st, l), s"SUBSTRING('$s', $st, $l)")
    }
  }

  // ---- REPLACE -------------------------------------------------------------
  test("REPLACE: replaces all, null-propagates every argument, empty " +
      "search returns the original (string_functions.rs:487-520)") {
    val cases = Seq.fill(60) {
      val s = if (rnd.nextInt(8) == 0) VNull else VStr(randString())
      val find = rnd.nextInt(8) match {
        case 0 => VNull
        case 1 => VStr("")
        case _ => VStr(Seq("x", "o", "xy", "AB", " ", "-")(rnd.nextInt(6)))
      }
      val repl = if (rnd.nextInt(8) == 0) VNull
        else VStr(Seq("", "_", "QQ")(rnd.nextInt(3)))
      (s, find, repl)
    }
    runCases(cases) { case (s, f, r) =>
      s"REPLACE(${s.gql}, ${f.gql}, ${r.gql})"
    } { case ((s, f, r), g) =>
      val want = (s, f, r) match {
        case (VNull, _, _) | (_, VNull, _) | (_, _, VNull) => null
        case (VStr(sv), VStr(""), _) => sv
        case (VStr(sv), VStr(fv), VStr(rv)) => sv.replace(fv, rv)
        case _ => fail("unreachable")
      }
      assert(g == want, s"REPLACE(${s.gql}, ${f.gql}, ${r.gql})")
    }
  }

  // ---- list functions ---------------------------------------------------
  test("LIST_SLICE/APPEND/PREPEND/CONTAINS/LENGTH/REVERSE value semantics " +
      "(list_functions.rs)") {
    def randList(): Seq[Option[Long]] =
      Seq.fill(rnd.nextInt(6))(
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(9).toLong))
    def lit(l: Seq[Option[Long]]): String =
      l.map(_.map(_.toString).getOrElse("NULL")).mkString("[", ", ", "]")
    def gotSeq(g: Any): Seq[Option[Long]] =
      g.asInstanceOf[scala.collection.Seq[Any]].toSeq
        .map(x => Option(x).map(_.asInstanceOf[Long]))

    // LIST_SLICE with full negative/overflow index mix
    val slices = Seq.fill(70) {
      (randList(), rnd.nextInt(13) - 4L, rnd.nextInt(13) - 4L)
    }
    runCases(slices) { case (l, s, e) => s"LIST_SLICE(${lit(l)}, $s, $e)" } {
      case ((l, s, e), g) =>
        // usize-cast model: negative wraps huge
        val su = if (s < 0) Long.MaxValue else s
        val eu = if (e < 0) Long.MaxValue else e
        val want =
          if (su >= l.size) Seq.empty
          else {
            val end = math.min(eu, l.size.toLong)
            if (su >= end) Seq.empty else l.slice(su.toInt, end.toInt)
          }
        assert(gotSeq(g) == want, s"LIST_SLICE(${lit(l)}, $s, $e)")
    }

    // APPEND/PREPEND: scalar pushes, list extends
    val appends = Seq.fill(50) {
      val l = randList()
      val second: Either[Long, Seq[Option[Long]]] =
        if (rnd.nextBoolean()) Left(rnd.nextInt(9).toLong)
        else Right(randList())
      (l, second, rnd.nextBoolean())
    }
    runCases(appends) { case (l, sec, app) =>
      val s2 = sec.fold(_.toString, lit)
      s"${if (app) "LIST_APPEND" else "LIST_PREPEND"}(${lit(l)}, $s2)"
    } { case ((l, sec, app), g) =>
      val add = sec.fold(v => Seq(Some(v)), identity)
      val want = if (app) l ++ add else add ++ l
      assert(gotSeq(g) == want, s"append=$app ${lit(l)} $sec")
    }

    // CONTAINS: total equality with nulls
    val contains = Seq.fill(40) {
      (randList(),
        if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(9).toLong))
    }
    runCases(contains) { case (l, n) =>
      s"LIST_CONTAINS(${lit(l)}, ${n.map(_.toString).getOrElse("NULL")})"
    } { case ((l, n), g) =>
      assert(g == l.contains(n), s"LIST_CONTAINS(${lit(l)}, $n)")
    }

    // LENGTH / REVERSE
    val lists = Seq.fill(30)(randList())
    runCases(lists)(l => s"LIST_LENGTH(${lit(l)})") { case (l, g) =>
      assert(g == l.size.toLong, s"LIST_LENGTH(${lit(l)})")
    }
    runCases(lists)(l => s"LIST_REVERSE(${lit(l)})") { case (l, g) =>
      assert(gotSeq(g) == l.reverse, s"LIST_REVERSE(${lit(l)})")
    }
  }

  // ---- SIZE ---------------------------------------------------------------
  test("SIZE: byte length for strings (Rust s.len()), element count for " +
      "lists, 0 for NULL (graph_functions.rs:629-632)") {
    val strs = Seq.fill(25)(randString())
    runCases(strs)(s => s"SIZE('$s')") { case (s, g) =>
      assert(g == s.getBytes("UTF-8").length.toLong, s"SIZE('$s')")
    }
    val got = evalBatch(Seq("SIZE(NULL)", "SIZE([1, 2, 3])", "SIZE([])"))
    assert(got == Seq(0L, 3L, 0L))
  }

  // ---- math functions ------------------------------------------------------
  test("math functions: value lockstep + the reference's DOMAIN error " +
      "arms (mathematical_functions.rs; NULL keeps SQL propagation, " +
      "documented like IN/NOT IN)") {
    // value lockstep on dyadic doubles (exact in f64 on both sides)
    val xs = Seq.fill(60)((rnd.nextInt(3201) - 1600) / 16.0)
    runCases(xs)(x => s"ABS($x)") { case (x, g) =>
      assert(g == math.abs(x), s"ABS($x)") }
    runCases(xs)(x => s"CEIL($x)") { case (x, g) =>
      assert(g.toString.toDouble == math.ceil(x), s"CEIL($x)") }
    runCases(xs)(x => s"FLOOR($x)") { case (x, g) =>
      assert(g.toString.toDouble == math.floor(x), s"FLOOR($x)") }
    runCases(xs)(x => s"SIGN($x)") { case (x, g) =>
      assert(g.toString.toDouble == math.signum(x), s"SIGN($x)") }
    runCases(xs.filter(_ > 0))(x => s"SQRT($x)") { case (x, g) =>
      assert(math.abs(g.asInstanceOf[Double] - math.sqrt(x)) < 1e-12) }
    runCases(xs.filter(_ > 0))(x => s"LOG($x)") { case (x, g) =>
      assert(math.abs(g.asInstanceOf[Double] - math.log(x)) < 1e-12) }
    // MOD is Rust's truncated % on f64 (rs:764)
    val mods = Seq.fill(40)((rnd.nextInt(401) - 200L, rnd.nextInt(39) + 1L))
      .flatMap { case (a, b) => Seq((a, b), (a, -b)) }
    runCases(mods) { case (a, b) => s"MOD($a, $b)" } { case ((a, b), g) =>
      assert(g.toString.toDouble == (a % b).toDouble, s"MOD($a, $b)")
    }
    // ROUND follows Oracle half-away-from-zero (numeric_functions.rs:104)
    val rounds = Seq.fill(40)(((rnd.nextInt(3201) - 1600) / 16.0,
      rnd.nextInt(3)))
    runCases(rounds) { case (x, d) => s"ROUND($x, $d)" } { case ((x, d), g) =>
      val m = math.pow(10, d)
      val want = if (x == 0.0) 0.0
        else if (x < 0) -math.floor(-x * m + 0.5) / m
        else math.floor(x * m + 0.5) / m
      assert(math.abs(g.toString.toDouble - want) < 1e-9, s"ROUND($x, $d)")
    }
    // DOMAIN violations error the statement like the reference
    // (SQRT<0 rs:216, LOG<=0 rs:339, LOG10<=0 rs:394, EXP->Inf rs:451,
    // POWER->NaN rs:283, MOD by zero rs:759)
    Seq(
      "SQRT(-4)" -> "SQRT of negative",
      "LOG(0)" -> "LOG of zero or negative",
      "LOG(-3.5)" -> "LOG of zero or negative",
      "LOG10(0)" -> "LOG10 of zero or negative",
      "EXP(1000)" -> "overflow",
      "POWER(-8, 0.5)" -> "invalid value").foreach { case (e, msg) =>
      val err = intercept[Exception] { evalBatch(Seq(e)) }
      def all(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ all(t.getCause)
      assert(all(err).exists(_.contains(msg)), s"$e should error with '$msg'")
    }
    intercept[Exception] { evalBatch(Seq("MOD(7, 0)")) }
    // NULL propagates (SQL 3VL; the reference's as_number arm would
    // error — documented divergence, same convention as IN/NOT IN)
    assert(evalBatch(Seq("ABS(NULL)", "SQRT(NULL)", "LOG(NULL)")) ==
      Seq(null, null, null))
  }

  // ---- SAME / ALL_DIFFERENT -------------------------------------------------
  test("SAME/ALL_DIFFERENT: typed comparables — cross-kind values are " +
      "NEVER equal (special_functions.rs:243-258)") {
    def comparable(v: V): Option[(String, String)] = v match {
      case VStr(s) => Some(("S", s))
      case VInt(i) => Some(("N", i.toDouble.toString)) // f64 bits model
      case VDbl(d) => Some(("N", d.toString))
      case VBool(b) => Some(("B", b.toString))
      case VNull => None // reference errors; repo keeps 3VL (documented)
    }
    val pairs = Seq.fill(60) {
      // bias toward same-rendering cross-kind traps: 1 vs '1', 1 vs 1.0,
      // true vs 'true'
      rnd.nextInt(5) match {
        case 0 => (VInt(1), VStr("1"))
        case 1 => (VBool(true), VStr("true"))
        case 2 => (VInt(3), VDbl(3.0))
        case _ => (randScalar(), randScalar())
      }
    }.collect { case (a, b) if a != VNull && b != VNull => (a, b) }
    runCases(pairs) { case (a, b) => s"SAME(${a.gql}, ${b.gql})" } {
      case ((a, b), g) =>
        val want = comparable(a) == comparable(b)
        assert(g == want, s"SAME(${a.gql}, ${b.gql})")
    }
    runCases(pairs) { case (a, b) =>
      s"ALL_DIFFERENT(${a.gql}, ${b.gql})"
    } { case ((a, b), g) =>
      val want = comparable(a) != comparable(b)
      assert(g == want, s"ALL_DIFFERENT(${a.gql}, ${b.gql})")
    }
    // variadic: one duplicate anywhere flips it
    val got = evalBatch(Seq(
      "ALL_DIFFERENT(1, 2, 3, 4)",
      "ALL_DIFFERENT(1, 2, 3, 1)",
      "ALL_DIFFERENT('a')",
      "ALL_DIFFERENT(1, '1', true, 'true', 1.5)"))
    assert(got == Seq(true, false, true, true))
    // NULLIF uses the same typed Value equality (null_functions.rs:53):
    // cross-kind operands never equate, null operands return expr1
    val nif = evalBatch(Seq(
      "NULLIF(1, '1')", "NULLIF(3, 3.0)", "NULLIF('a', 'a')",
      "NULLIF(7, NULL)", "NULLIF(NULL, 7)"))
    assert(nif == Seq(1L, null, null, 7L, null))
  }
}
