package graft

import java.io.{BufferedReader, InputStream, InputStreamReader, PrintStream}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interactive GQL shell — the `gql-cli` analog (reference:
  * gql-cli/src/main.rs; docs/Architecture.md one-shot + REPL modes).
  *
  * Usage: `sbt "runMain graft.Repl [warehouse] [-g /schema/graph]
  * [-c "statement"] [-f table|json|csv] [-u user -p password]"`.
  * `-u`/`-p` authenticate against the security catalog before anything
  * runs (anonymous when omitted). Without `-c`, reads statements from
  * stdin: each statement ends with `;` (multi-line input accumulates
  * under a `user::...>` continuation prompt); SESSION / DDL / CALL
  * statements work exactly as in the library API, `EXPLAIN <query>`
  * prints the phase trace, `FORMAT json;` switches the renderer
  * mid-session (cli/commands.rs OutputFormat), `help;` lists commands,
  * `exit;` or EOF quits.
  *
  * The loop body is [[Repl.run]], parameterized over streams so a spec
  * drives it through a piped stdin without a subprocess.
  */
object Repl {

  def main(args: Array[String]): Unit = {
    var warehouse = "/tmp/graft-warehouse"
    var graphPath: Option[String] = None
    var oneShot: Option[String] = None
    var user: Option[String] = None
    var password = ""
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-g" => graphPath = Some(args(i + 1)); i += 2
        case "-c" => oneShot = Some(args(i + 1)); i += 2
        case "-f" => format = OutputFormat.parse(args(i + 1)); i += 2
        case "-u" => user = Some(args(i + 1)); i += 2
        case "-p" => password = args(i + 1); i += 2
        case w => warehouse = w; i += 1
      }
    }
    org.apache.spark.sql.graft.Logs.setLevel("ERROR")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val gls = GraphLiteSpark.open(spark, warehouse)
    // -u/-p authenticate against the security catalog before any
    // statement runs (graphlite gql -u admin -p …; anonymous when
    // omitted — Architecture.md:272-276)
    user.foreach { u =>
      if (!gls.catalog.verifyPassword(u, password)) {
        System.err.println(s"authentication failed for user '$u'")
        spark.stop(); sys.exit(1)
      }
    }
    val session = gls.session(
      user.getOrElse(sys.props.getOrElse("user.name", "repl")))
    graphPath.foreach(p => session.useGraph(p))
    oneShot match {
      case Some(stmt) =>
        runStatement(session, stmt, System.out, new RenderState(format))
      case None => run(session, System.in, System.out)
    }
    spark.stop()
  }

  /** Read `;`-terminated statements from `in`, execute each against
    * `session`, render results/errors to `out`. Errors never kill the
    * loop — the next statement starts clean, like any SQL shell.
    */
  def run(session: GqlSession, in: InputStream, out: PrintStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in))
    val buf = new StringBuilder
    // per-run renderer state: concurrent sessions in one JVM (the spec
    // drives several) must not clobber each other's FORMAT choice
    val st = new RenderState(format)
    // `user::gql>` ready prompt / `user::...>` continuation — the
    // reference console's context-aware prompting (Architecture.md:184)
    val ready = s"${session.user}::gql> "
    val cont = s"${session.user}::...> "
    out.println("graft GQL shell — statements end with ';', exit; quits")
    out.print(ready); out.flush()
    var line = reader.readLine()
    while (line != null) {
      val trimmed = line.trim
      if (trimmed.endsWith(";")) {
        buf.append(trimmed.dropRight(1))
        val stmt = buf.toString.trim
        buf.clear()
        if (stmt.equalsIgnoreCase("exit") || stmt.equalsIgnoreCase("quit"))
          return
        if (stmt.equalsIgnoreCase("help")) printHelp(out)
        else if (stmt.nonEmpty) runStatement(session, stmt, out, st)
        out.print(ready); out.flush()
      } else if (trimmed.nonEmpty) {
        buf.append(trimmed).append(' ')
        out.print(cont); out.flush()
      }
      line = reader.readLine()
    }
  }

  private def printHelp(out: PrintStream): Unit = out.println(
    """statements end with ';' (multi-line input accumulates until one does)
      |  help;                 this message
      |  exit; / quit;         leave the shell
      |  FORMAT table|json|csv; switch the result renderer
      |  EXPLAIN <query>;      per-phase plan trace
      |  SESSION SET GRAPH /schema/graph;  attach a catalog graph
      |  CALL gql.list_graphs();           catalog procedures
      |any other input is executed as a GQL statement""".stripMargin)

  /** Output formats — gql-cli parity (cli/commands.rs:175-195
    * OutputFormat: table | json | csv; cli/output.rs renderers).
    */
  sealed trait OutputFormat
  object OutputFormat {
    case object Table extends OutputFormat
    case object Json extends OutputFormat
    case object Csv extends OutputFormat
    def parse(s: String): OutputFormat = s.toLowerCase match {
      case "table" => Table
      case "json" => Json
      case "csv" => Csv
      case other =>
        throw new IllegalArgumentException(s"Unknown output format: $other")
    }
  }
  /** `-f` startup default; the live per-session choice is RenderState. */
  @volatile private var format: OutputFormat = OutputFormat.Table
  private final class RenderState(var format: OutputFormat)

  private def runStatement(session: GqlSession, stmt: String,
      out: PrintStream, st: RenderState): Unit =
    try {
      val up = stmt.toUpperCase
      if (up.startsWith("EXPLAIN ")) {
        out.println(session.explain(stmt.drop("EXPLAIN ".length)))
      } else if (up.startsWith("FORMAT ")) {
        // shell directive: switch THIS session's renderer
        st.format = OutputFormat.parse(stmt.drop("FORMAT ".length).trim)
        out.println(s"format: ${stmt.drop("FORMAT ".length).trim.toLowerCase}")
      } else render(session.execute(stmt), out, st.format)
    } catch {
      case e: Exception =>
        out.println(s"error: ${Option(e.getMessage).getOrElse(e.toString)}")
    }

  /** Render up to `max` rows (collect is bounded by the row cap,
    * driver-side by design for an interactive shell); every renderer
    * fetches max+1 so truncation is DETECTED and flagged, never silent.
    */
  private def render(df: DataFrame, out: PrintStream, fmt: OutputFormat,
      max: Int = 50): Unit = {
    fmt match {
      case OutputFormat.Json => renderJson(df, out, max)
      case OutputFormat.Csv => renderCsv(df, out, max)
      case OutputFormat.Table => renderTable(df, out, max)
    }
  }

  /** One `{"status":"success","columns":[…],"rows":[{col: val}…],
    * "rows_affected":n}` object (cli/output.rs:87-119 format_json;
    * null properties render as JSON null).
    */
  private def renderJson(df: DataFrame, out: PrintStream, max: Int): Unit = {
    def jstr(s: String): String = util.Json.str(s)
    def jval(v: Any): String = v match {
      case null => "null"
      // NaN/Infinity have no JSON representation — render as null so
      // the emitted object stays parseable
      case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
      case f: java.lang.Float if f.isNaN || f.isInfinite => "null"
      case n: java.lang.Number => n.toString
      case b: java.lang.Boolean => b.toString
      case s: scala.collection.Seq[_] => s.map(jval).mkString("[", ",", "]")
      case other => jstr(other.toString)
    }
    val header = df.columns.toSeq
    val all = df.take(max + 1).toSeq
    val shown = all.take(max)
    val rows = shown.map(r =>
      header.indices.map(i => jval(header(i)) + ":" + jval(r.get(i)))
        .mkString("{", ",", "}"))
    out.println("{\"status\":\"success\",\"columns\":" +
      header.map(jval).mkString("[", ",", "]") +
      ",\"rows\":" + rows.mkString("[", ",", "]") +
      s""","rows_affected":${rows.length}""" +
      (if (all.length > max) ",\"truncated\":true" else "") + "}")
  }

  /** Header line + comma-joined rows, nulls empty (cli/output.rs:122-146
    * format_csv).
    */
  private def renderCsv(df: DataFrame, out: PrintStream, max: Int): Unit = {
    def cval(v: Any): String = v match {
      case null => ""
      case other =>
        val s = other.toString
        if (s.exists(c => c == ',' || c == '"' || c == '\n'))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
    }
    out.println(df.columns.mkString(","))
    val all = df.take(max + 1)
    all.take(max).foreach(r =>
      out.println(r.toSeq.map(cval).mkString(",")))
    // CSV comments are the reference formatter's own convention for
    // out-of-band notes (cli/output.rs:146 "# Warnings:")
    if (all.length > max) out.println(s"# truncated at $max rows")
  }

  private def renderTable(df: DataFrame, out: PrintStream, max: Int): Unit = {
    val rows = df.take(max + 1)
    val shown = rows.take(max)
    val header = df.columns.toSeq
    val cells = header +: shown.toSeq.map(_.toSeq.map {
      case null => "NULL"
      case v => v.toString
    })
    val widths = header.indices.map(c => cells.map(_(c).length).max)
    def fmt(r: Seq[String]) =
      r.zip(widths).map { case (s, w) => s.padTo(w, ' ') }.mkString(" | ")
    out.println(fmt(cells.head))
    out.println(widths.map("-" * _).mkString("-+-"))
    cells.tail.foreach(r => out.println(fmt(r)))
    val n = shown.length
    out.println(
      if (rows.length > max) s"($n+ rows, truncated at $max)"
      else s"($n row${if (n == 1) "" else "s"})")
  }
}
