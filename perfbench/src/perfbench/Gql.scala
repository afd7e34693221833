package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import graft.GqlSession
import graft.gql.Parser

/** Calls into the GQL front end, split into the layers a query passes:
  * parse and compile (the `gql` call), Catalyst optimisation and physical
  * planning (forced one at a time through the query execution), then
  * execution (`collect`). Untraced, a query is just `gql(q).collect()`.
  */
object Gql {
  /** Parse time of `q` measured by a separate parse, taken before the op
    * starts so that it adds nothing to the op's wall time.
    */
  def parseAlone(t: Tracer, q: String, statement: Boolean = false): Double =
    if (!t.enabled) 0.0
    else {
      val t0 = System.nanoTime()
      if (statement) Parser.parseStatement(q) else Parser.parse(q)
      (System.nanoTime() - t0) / 1e6
    }

  def query(t: Tracer, sess: GqlSession, q: String, parseMs: Double): Array[Row] =
    if (!t.enabled) sess.gql(q).collect()
    else {
      val df = t.span("gql.compile") {
        t.synthetic("gql.parse", parseMs)
        sess.gql(q)
      }
      t.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
      t.span("catalyst.physical")(df.queryExecution.executedPlan)
      t.span("exec")(df.collect())
    }

  /** A mutating statement: parse, compile and apply run inside `execute`. */
  def statement(t: Tracer, sess: GqlSession, s: String, parseMs: Double): Array[Row] =
    t.span("graph.dml") {
      t.synthetic("gql.parse", parseMs)
      sess.execute(s).collect()
    }

  /** Row values normalised for comparison: integers as Long, doubles
    * rounded to cents, everything else by its string form.
    */
  def norm(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case null => null
    case i: Int => i.toLong
    case l: Long => l
    case d: Double => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    case f: Float => BigDecimal(f.toDouble).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    case d: java.math.BigDecimal => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    case other => other.toString
  })

  /** Registers the raw parquet tables as views in a separate session, so
    * reference answers come from plain Spark SQL with no engine code.
    */
  def oracleSession(spark: SparkSession, dir: String, tables: Seq[String]): SparkSession = {
    val o = spark.newSession()
    tables.foreach(n => o.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(n))
    o
  }

  def sql(o: SparkSession, q: String): Seq[Seq[Any]] = norm(o.sql(q).collect())
}
