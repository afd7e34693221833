package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Grammar-driven parser/compiler fuzz: random statements generated
  * FROM the ISO GQL BNF (grammar/ISO_GQL_Grammar_BNF.txt, 92
  * productions) are fed through the full execute() surface. The
  * contract under test is acceptance-shape robustness, not semantics:
  * every generated statement must either succeed or fail with a NAMED
  * error (GqlParseException / GqlCompileException / IllegalArgument /
  * catalog & Spark analysis errors) — never a crash class
  * (MatchError, NPE, StackOverflow, ClassCast, NoSuchElement,
  * NotImplementedError). All 42 reference test files are mapped in
  * COVERAGE.md; grammar acceptance is the remaining parity surface the
  * fixed suites cannot sweep.
  *
  * The BNF text is read from the reference directory at run time (it
  * is ISO-standard grammar content, not engine code); the suite
  * cancels cleanly when the file is absent.
  */
class BnfParserFuzzSpec extends AnyFunSuite with TempDirs {
  private val GrammarPath = "/root/reference/grammar/ISO_GQL_Grammar_BNF.txt"

  // ---- BNF AST ----
  private sealed trait Node
  private case class Lit(s: String) extends Node
  private case class Ref(name: String) extends Node
  private case class Sq(items: List[Node]) extends Node
  private case class Alt(alts: List[Node]) extends Node
  private case class Opt(n: Node) extends Node
  private case class Rep(n: Node, min: Int) extends Node
  private case class RangeLit(a: Char, b: Char) extends Node

  // ---- BNF text -> productions ----
  private def loadProductions(text: String): Map[String, Node] = {
    // join continuation lines: a production runs until the next
    // `<name> ::=` line; comments and blanks separate
    val defs = scala.collection.mutable.LinkedHashMap.empty[String, StringBuilder]
    var cur: Option[String] = None
    text.linesIterator.foreach { raw =>
      // full-line comments only: '#' also occurs INSIDE quoted literals
      // (the <special-char> ranges)
      val line = if (raw.trim.startsWith("#")) "" else raw
      val m = "^\\s*(<[a-zA-Z0-9-]+>)\\s*::=(.*)$".r.findFirstMatchIn(line)
      m match {
        case Some(g) =>
          cur = Some(g.group(1).stripPrefix("<").stripSuffix(">"))
          defs(cur.get) = new StringBuilder(g.group(2))
        case None if line.trim.nonEmpty && cur.isDefined =>
          defs(cur.get).append(" ").append(line)
        case _ =>
      }
    }
    defs.map { case (k, v) => k -> parseAlt(tokenize(v.toString)) }.toMap
  }

  private sealed trait Tok
  private case class TLit(s: String) extends Tok
  private case class TRef(s: String) extends Tok
  private case class TSym(c: String) extends Tok

  private def tokenize(s: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    while (i < s.length) {
      s(i) match {
        case c if c.isWhitespace => i += 1
        case '"' =>
          val j = s.indexOf('"', i + 1)
          out += TLit(s.substring(i + 1, j)); i = j + 1
        case '<' =>
          val j = s.indexOf('>', i)
          out += TRef(s.substring(i + 1, j)); i = j + 1
        case '.' if i + 1 < s.length && s(i + 1) == '.' =>
          out += TSym(".."); i += 2
        case c@('(' | ')' | '[' | ']' | '|' | '*' | '+') =>
          out += TSym(c.toString); i += 1
        case other =>
          fail(s"unexpected BNF character '$other' in: $s")
      }
    }
    out.toList
  }

  // recursive descent over the token list
  private def parseAlt(toks: List[Tok]): Node = {
    var rest = toks
    def primary(): Node = rest match {
      case TLit(a) :: TSym("..") :: TLit(b) :: tl =>
        rest = tl; RangeLit(a.head, b.head)
      case TLit(s) :: tl => rest = tl; Lit(s)
      case TRef(s) :: tl => rest = tl; Ref(s)
      case TSym("(") :: tl =>
        rest = tl
        val inner = alt()
        require(rest.headOption.contains(TSym(")")), s"expected ) at $rest")
        rest = rest.tail; inner
      case TSym("[") :: tl =>
        rest = tl
        val inner = alt()
        require(rest.headOption.contains(TSym("]")), s"expected ] at $rest")
        rest = rest.tail; Opt(inner)
      case other => fail(s"unexpected BNF tokens: $other")
    }
    def postfix(): Node = {
      var n = primary()
      var go = true
      while (go) rest match {
        case TSym("*") :: tl => rest = tl; n = Rep(n, 0)
        case TSym("+") :: tl => rest = tl; n = Rep(n, 1)
        case _ => go = false
      }
      n
    }
    def seq(): Node = {
      val items = scala.collection.mutable.ListBuffer.empty[Node]
      while (rest.nonEmpty && !rest.headOption.exists(t =>
          t == TSym("|") || t == TSym(")") || t == TSym("]")))
        items += postfix()
      if (items.size == 1) items.head else Sq(items.toList)
    }
    def alt(): Node = {
      val alts = scala.collection.mutable.ListBuffer(seq())
      while (rest.headOption.contains(TSym("|"))) {
        rest = rest.tail
        alts += seq()
      }
      if (alts.size == 1) alts.head else Alt(alts.toList)
    }
    val r = alt()
    require(rest.isEmpty, s"trailing BNF tokens: $rest")
    r
  }

  // ---- generation ----
  private val rnd = new scala.util.Random(
    sys.env.getOrElse("GRAFT_BNF_FUZZ_SEED", "20260815").toLong)

  // lexical leaves are generated from pools, not char-by-char (a random
  // letter soup is all parse errors and exercises nothing downstream);
  // <graph-pattern> is referenced by INSERT but undefined in the file —
  // the reference parser reads a path pattern there. One identifier in
  // ~7 is a REGISTRY FUNCTION NAME so <function-call> productions reach
  // the function dispatch with random arity/argument kinds (the r15
  // wrong-arity IndexOutOfBounds class hid exactly there)
  private val fnPool = graft.SystemProcedures.gqlFunctions.map(_._1)
  private val idPool = Seq("a", "b", "n", "m", "x", "Person", "KNOWS", "p1")
  private def overrides(name: String): Option[() => String] = name match {
    case "identifier" | "regular-id" =>
      Some(() => if (rnd.nextInt(7) == 0) fnPool(rnd.nextInt(fnPool.size))
        else idPool(rnd.nextInt(idPool.size)))
    case "quoted-string" | "time-zone-string" =>
      Some(() => Seq("'s1'", "'UTC'", "''")(rnd.nextInt(3)))
    case "number" => Some(() => Seq("0", "1", "2.5", "-3")(rnd.nextInt(4)))
    case "integer" => Some(() => rnd.nextInt(4).toString)
    case "parameter" => Some(() => "$p")
    case "EOF" => Some(() => "")
    case "graph-pattern" => None // remapped to path-pattern below
    case _ => None
  }

  private lazy val prods: Map[String, Node] = {
    val f = new java.io.File(GrammarPath)
    assume(f.exists(), s"reference grammar not present at $GrammarPath")
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val p = loadProductions(text)
    p + ("graph-pattern" -> Ref("path-pattern"))
  }

  // min expansion depth per production (fixpoint) so the generator can
  // steer to a terminating alternative once its budget runs out
  private lazy val nodeDepth: Node => Int = {
    var d = prods.keys.map(_ -> 1000).toMap
    def nd(n: Node): Int = n match {
      case Lit(_) | RangeLit(_, _) => 0
      case Ref(name) if overrides(name).isDefined => 0
      case Ref(name) => d.getOrElse(name, 1000) + 1
      case Sq(items) => items.map(nd).foldLeft(0)(math.max)
      case Alt(alts) => alts.map(nd).min
      case Opt(_) => 0
      case Rep(_, 0) => 0
      case Rep(x, _) => nd(x)
    }
    var changed = true
    while (changed) {
      changed = false
      prods.foreach { case (k, v) =>
        val m = nd(v)
        if (m < d(k)) { d += k -> m; changed = true }
      }
    }
    nd
  }

  private def gen(n: Node, depth: Int): String = n match {
    case Lit(s) => s
    case RangeLit(a, b) => (a + rnd.nextInt(b - a + 1)).toChar.toString
    case Ref(name) => overrides(name) match {
      case Some(f) => f()
      case None => gen(prods(name), depth - 1)
    }
    case Sq(items) => items.map(gen(_, depth)).filter(_.nonEmpty).mkString(" ")
    case Alt(alts) =>
      val pick =
        if (depth > 0) alts(rnd.nextInt(alts.size))
        else alts.minBy(nodeDepth)
      gen(pick, depth)
    case Opt(x) => if (depth > 0 && rnd.nextBoolean()) gen(x, depth) else ""
    case Rep(x, min) =>
      val k = min + (if (depth > 0) rnd.nextInt(2) else 0)
      List.fill(k)(gen(x, depth)).filter(_.nonEmpty).mkString(" ")
  }

  // ---- the crash-class contract ----
  private val CrashClasses: Set[Class[_]] = Set(
    classOf[scala.MatchError], classOf[NullPointerException],
    classOf[StackOverflowError], classOf[ClassCastException],
    classOf[scala.NotImplementedError],
    classOf[IndexOutOfBoundsException],
    classOf[java.util.NoSuchElementException])

  private def crashOf(e: Throwable): Option[Throwable] = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 6) {
      if (CrashClasses.exists(_.isInstance(cur))) return Some(cur)
      cur = cur.getCause
      depth += 1
    }
    None
  }

  private def freshSession() = {
    import SparkFixture.spark.implicits._
    val g = new graft.graph.PropertyGraph(
      Map("Person" -> Seq((1L, "ann"), (2L, "bo")).toDF("id", "name")),
      Map("KNOWS" -> (graft.graph.EdgeType("KNOWS", "Person", "Person"),
        Seq((1L, 2L, 10L)).toDF("src", "dst", "eid"))))
    graft.GraphLiteSpark.open(SparkFixture.spark, tempDir("bnffuzz").toString)
      .session("u").useGraph(g)
  }

  test("1200 BNF-generated statements: accept, or a named error — " +
      "never a crash class") {
    val n = sys.env.getOrElse("GRAFT_BNF_FUZZ_N", "1200").toInt
    var t = freshSession()
    var accepted = 0
    var rejected = 0
    (1 to n).foreach { i =>
      // fresh session every 150 statements bounds catalog/graph state
      // drift while still exercising statement CHAINS against mutated
      // state (the r14 plan-height class of bug)
      if (i % 150 == 0) t = freshSession()
      // start-symbol mix: the full <statement> tree reaches every
      // production but deep random combos are mostly parse-rejected;
      // starting half the runs lower in the tree (match/return/catalog)
      // keeps the ACCEPT path exercised too
      val stmt = rnd.nextInt(4) match {
        case 0 => gen(Ref("statement"), depth = 22)
        case 1 => gen(Ref("match-statement"), depth = 10) + " " +
          gen(Ref("return-statement"), depth = 6)
        case 2 => gen(Ref("return-statement"), depth = 8)
        case _ => gen(Ref("statement"), depth = 12)
      }
      try {
        t.execute(stmt)
        accepted += 1
      } catch {
        case e: Throwable =>
          crashOf(e) match {
            case Some(crash) =>
              fail(s"statement #$i crashed with " +
                s"${crash.getClass.getSimpleName}: ${crash.getMessage}\n" +
                s"  statement: $stmt")
            case None => rejected += 1
          }
      }
    }
    info(s"$accepted accepted, $rejected rejected with named errors")
    // the generator must actually reach the accept path — an all-reject
    // run would mean the sentences never parse and the fuzz is vacuous
    assert(accepted >= n / 20,
      s"only $accepted/$n accepted — generator too noisy to be evidence")
  }

  test("session-activity statements hold the same contract") {
    val t = freshSession()
    (1 to 150).foreach { i =>
      val stmt = gen(Ref("session-activity"), depth = 14)
      try t.execute(stmt)
      catch {
        case e: Throwable =>
          crashOf(e) match {
            case Some(crash) =>
              fail(s"session stmt #$i crashed with " +
                s"${crash.getClass.getSimpleName}: ${crash.getMessage}\n" +
                s"  statement: $stmt")
            case None =>
          }
      }
    }
  }
}
