package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Wrong-arity sweep over the ENTIRE function registry: every function
  * the engine lists (SystemProcedures.gqlFunctions — the same names
  * functions/mod.rs registers) is called with 0..4 arguments, plus a
  * few deliberately mistyped shapes. Contract: succeed, or fail with a
  * NAMED error (the reference's InvalidArgumentCount /
  * InvalidArgumentType analogs) — never a crash class. Before r15,
  * most registry functions crashed wrong-arity calls with
  * IndexOutOfBoundsException out of the dispatch's arg indexing.
  */
class FunctionArityFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val t = {
    import SparkFixture.spark.implicits._
    val g = new graft.graph.PropertyGraph(
      Map("Person" -> Seq((1L, "ann")).toDF("id", "name")),
      Map("KNOWS" -> (graft.graph.EdgeType("KNOWS", "Person", "Person"),
        Seq((1L, 1L, 10L)).toDF("src", "dst", "eid"))))
    graft.GraphLiteSpark.open(SparkFixture.spark, tempDir("arityfuzz").toString)
      .session("u").useGraph(g)
  }

  private val CrashClasses: Set[Class[_]] = Set(
    classOf[scala.MatchError], classOf[NullPointerException],
    classOf[StackOverflowError], classOf[ClassCastException],
    classOf[scala.NotImplementedError],
    classOf[IndexOutOfBoundsException],
    classOf[java.util.NoSuchElementException])

  private def crashOf(e: Throwable): Option[Throwable] = {
    var cur = e
    var d = 0
    while (cur != null && d < 6) {
      if (CrashClasses.exists(_.isInstance(cur))) return Some(cur)
      cur = cur.getCause
      d += 1
    }
    None
  }

  test("every registry function, 0..4 args of mixed kinds: accept or " +
      "named error, never a crash class") {
    val argPools = Seq(
      Seq.empty[String],
      Seq("1"),
      Seq("'s'", "2"),
      Seq("n", "'x'", "3"),
      Seq("[1, 2]", "n.name", "'y'", "0"))
    var ok = 0
    var named = 0
    graft.SystemProcedures.gqlFunctions.map(_._1).foreach { fn =>
      argPools.foreach { pool =>
        val q = s"MATCH (n:Person) RETURN $fn(${pool.mkString(", ")}) AS x"
        try { t.gql(q).collect(); ok += 1 }
        catch {
          case e: Throwable =>
            crashOf(e) match {
              case Some(crash) => fail(
                s"$q crashed with ${crash.getClass.getSimpleName}: " +
                  s"${crash.getMessage}")
              case None => named += 1
            }
        }
      }
    }
    info(s"$ok accepted, $named named errors across the registry sweep")
    assert(ok > 0)
  }
}
