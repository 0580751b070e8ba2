package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.expressions.GraftFunctions

/** SparkSessionExtensions entry point — enable with
  * `spark.sql.extensions=graft.GraftExtensions` to make graft's native
  * expressions available in any session (SQL included) without imperative
  * registration. It injects the same table, [[GraftFunctions.all]], that
  * `GraftFunctions.ensureRegistered` registers, so both paths serve the
  * same functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
