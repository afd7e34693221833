package org.apache.spark.sql.graft

import org.apache.logging.log4j.Level
import org.apache.spark.internal.Logging
import org.apache.spark.util.Utils

/** The level of this JVM's Spark logging. */
object Logs extends Logging {
  /** Log at `level` from now on, the lines a SparkContext logs while it
    * starts included: `spark.log.level` applies only after the context's
    * first lines (version, OS, Java), and a level set before Spark has
    * loaded its default logging profile would be reset by that load.
    */
  def setLevel(level: String): Unit = {
    initializeLogIfNecessary(false)
    Utils.setLogLevel(Level.toLevel(level))
  }
}
