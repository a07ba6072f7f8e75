package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.GraftFunctions

/** Library integration point: register the engine's native expressions
  * into any session via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`), so
  * SQL users get every function of `GraftFunctions.all` (`graft_dot`,
  * `graft_cosine`, …) without touching Scala — the supported way to
  * extend Catalyst from a library. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
}
