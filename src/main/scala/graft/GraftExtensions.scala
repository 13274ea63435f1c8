package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.NativeFunctions

/** Session-extension registration of the native expression library —
  * the deployment-grade alternative to the runtime
  * `HashFunctions.register`/`VectorFunctions.register` calls the query
  * layer uses, built from the same [[NativeFunctions]] table. Setting
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`) makes every graft
  * function available in ANY session — including pure-SQL sessions
  * (spark-sql, Thrift server, notebooks) that never touch the Scala
  * API. Registration happens at session build, per Spark's extension
  * injection SPI, rather than by mutating a live FunctionRegistry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.all.foreach(ext.injectFunction)
}
