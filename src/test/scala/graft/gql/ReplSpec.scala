package graft.gql

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, PrintStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.{Repl, SparkFixture}
import graft.TempDirs

/** Drives [[graft.Repl]]'s read-eval loop through piped streams —
  * the CliFixture pattern from the reference's gql-cli tests, without a
  * subprocess.
  */
class ReplSpec extends AnyFunSuite with TempDirs {

  private def drive(input: String): String = {
    val session = gqlSession(SparkFixture.fraudGraph)
    val out = new ByteArrayOutputStream()
    Repl.run(session, new ByteArrayInputStream(input.getBytes("UTF-8")),
      new PrintStream(out, true, "UTF-8"))
    out.toString("UTF-8")
  }

  test("REPL executes statements, keeps session state, survives errors") {
    val out = drive(
      """SESSION SET VALUE $floor = 4900;
        |MATCH (a:Account) WHERE a.balance > $floor
        |  RETURN a.name AS name ORDER BY name;
        |THIS IS NOT GQL;
        |MATCH (a:Account) RETURN count(a) AS n;
        |exit;
        |""".stripMargin)
    // statement 2 sees statement 1's session parameter (one account
    // above 4900: Account50 at 5000) — SESSION statements are honored
    assert(out.contains("Account50"), out)
    assert(out.contains("(1 row)"), out)
    // a parse error reports and the loop continues to the next statement
    assert(out.contains("error:"), out)
    assert(out.contains("50"), out)
    // multi-line accumulation: the MATCH..RETURN split across two lines
    // executed as one statement (its header row is present exactly once)
    assert("\\bname\\b".r.findAllIn(out).size == 1, out)
  }

  test("REPL prints EXPLAIN phase traces and renders result tables") {
    val out = drive(
      """EXPLAIN MATCH (a:Account) RETURN count(a) AS n;
        |MATCH (m:Merchant) RETURN m.name AS name ORDER BY name LIMIT 2;
        |exit;
        |""".stripMargin)
    assert(out.contains("=== AST (parse "), out)
    assert(out.contains("=== Physical plan (plan "), out)
    // aligned table rendering with a header separator and a row count
    assert(out.contains("Merchant1"), out)
    assert(out.contains("(2 rows)"), out)
    assert(out.linesIterator.exists(_.startsWith("---")), out)
  }

  test("prompts carry the user context; help lists commands " +
      "(Architecture.md:178-196)") {
    val out = drive(
      """help;
        |MATCH (m:Merchant)
        |  RETURN count(m) AS n;
        |exit;
        |""".stripMargin)
    assert(out.contains("test::gql> "), out) // ready prompt, session user
    assert(out.contains("test::...> "), out) // multi-line continuation
    assert(out.contains("FORMAT table|json|csv"), out) // help text
  }

  test("FORMAT json / csv switch the renderer (cli/output.rs parity)") {
    val out = drive(
      """FORMAT json;
        |MATCH (m:Merchant) RETURN m.name AS name, m.id AS id ORDER BY id LIMIT 1;
        |FORMAT csv;
        |MATCH (m:Merchant) RETURN m.name AS name, m.id AS id ORDER BY id LIMIT 2;
        |FORMAT table;
        |exit;
        |""".stripMargin)
    // json: one object with columns + per-row objects, numbers unquoted
    assert(out.contains("{\"status\":\"success\",\"columns\":[\"name\",\"id\"]"), out)
    assert(out.contains("{\"name\":\"Merchant1\",\"id\":1}"), out)
    assert(out.contains("\"rows_affected\":1"), out)
    // csv: header + comma rows, no quoting needed here
    assert(out.contains("name,id"), out)
    assert(out.contains("Merchant2,2"), out)
    // unknown format reports, loop survives
    val out2 = drive("FORMAT yaml;\nexit;\n")
    assert(out2.contains("error: Unknown output format: yaml"), out2)
    // NaN has no JSON representation — rendered null, object parseable
    // (r16: SQRT(-1) now ERRORS like the reference's domain arm, so the
    // NaN comes from an explicit cast; the error path is pinned below)
    val out3 = drive("FORMAT json;\nRETURN CAST('NaN' AS DOUBLE) AS x;\nexit;\n")
    assert(out3.contains("{\"x\":null}"), out3)
    // domain violations error the STATEMENT with the reference's message
    // (mathematical_functions.rs:216) and the loop survives
    val out5 = drive("RETURN SQRT(-1.0) AS x;\nexit;\n")
    assert(out5.contains("SQRT of negative number is undefined"), out5)
    // FORMAT is per-session state: a fresh run starts back at table
    val out4 = drive(
      "MATCH (m:Merchant) RETURN m.id AS id ORDER BY id LIMIT 1;\nexit;\n")
    assert(out4.contains("(1 row)"), out4)
  }
}
