package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution

/** Jobs planned and run without code generation, without touching the
  * caller's conf (the caller's static optimizer rules do apply): other threads of the same session read that conf
  * concurrently, and two jobs restoring it in the wrong order would
  * leave code generation off for good.
  */
object Sessions {
  private val NoCodegen = Map("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** One work session per caller session (same SparkContext and shared
    * state, its own conf); weak on the caller. */
  private val work = new java.util.WeakHashMap[classic.SparkSession, classic.SparkSession]()

  /** Run `body` with a session whose conf is `spark`'s plus code
    * generation switched off — active, and propagated to the tasks of
    * the jobs `body` runs.
    */
  def withoutCodegen[A](spark: SparkSession)(body: classic.SparkSession => A): A = {
    val caller = spark.asInstanceOf[classic.SparkSession]
    val w = work.synchronized {
      Option(work.get(caller)).getOrElse {
        val s = caller.newSession(); work.put(caller, s); s
      }
    }
    // the caller's static rewrites (BucketPrune, MirrorSwap) prune a
    // statement's reads as they prune a query's; BucketDynamicPrune
    // would add a pruning subquery job to the statement's one job
    val rules = caller.experimental.extraOptimizations
      .filterNot(_ eq _root_.graft.plans.BucketDynamicPrune)
    if (w.experimental.extraOptimizations != rules)
      w.experimental.extraOptimizations = rules
    val conf = w.sessionState.conf
    conf.synchronized {
      val want = caller.sessionState.conf.getAllConfs ++ NoCodegen
      conf.getAllConfs.keys.foreach(k => if (!want.contains(k)) conf.unsetConf(k))
      want.foreach { case (k, v) =>
        if (conf.getConfString(k, null) != v) conf.setConfString(k, v)
      }
    }
    w.withActive(SQLExecution.withSQLConfPropagated(w)(body(w)))
  }

  /** `df`'s plan as a frame of session `s`. */
  private def on(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** `action` on `df`, planned and run without code generation
    * ([[withoutCodegen]]). For small bookkeeping plans, whose generated
    * classes would cost more to compile than they save and would take
    * slots in Spark's JVM-wide codegen cache that compute-heavy stages
    * need.
    */
  def interpreted[A](df: DataFrame)(action: DataFrame => A): A =
    withoutCodegen(df.sparkSession)(w => action(on(w, df)))

  /** `df` materialized by an eager local checkpoint that is planned and
    * run without code generation, read back as a frame of `df`'s own
    * session. */
  def localCheckpointWithoutCodegen(df: DataFrame): DataFrame =
    on(df.sparkSession, interpreted(df)(_.localCheckpoint(true)))

  /** `df` as a frame over the rows of its own physical plan, compiled as
    * `df`'s session compiles it. A plan built on the result reads them
    * as an RDD instead of re-planning `df`, so a plan run through
    * [[withoutCodegen]] can start from compiled work. Adaptive execution
    * runs `df`'s shuffle stages, if any, when this is called; its last
    * stage is not materialized and runs inside the jobs that read the
    * result, once per read.
    */
  def compiled(df: DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    s.internalCreateDataFrame(df.queryExecution.toRdd.map(_.copy()), df.schema)
  }
}
