package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.graft.GraftFunctions

/** SparkSessionExtensions entry point: ship the engine's native expressions
  * into any session via configuration —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  *
  * For an already-constructed session use
  * [[org.apache.spark.sql.graft.GraftFunctions.register]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
}
