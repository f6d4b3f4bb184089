package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Spark extensions entry point: register the engine's custom Catalyst
  * expressions cluster-wide via
  * `--conf spark.sql.extensions=graft.GraftExtensions` (no per-session
  * registration call needed). Injects exactly the functions
  * [[GraftFunctions.registerAll]] registers — both read
  * [[GraftFunctions.table]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(f => e.injectFunction((
      new FunctionIdentifier(f.name),
      new ExpressionInfo(f.cls.getName, f.name),
      f.builder)))
}
