package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Canonical installation entry point (SURVEY §2.12 / §4): start any
  * session with `spark.sql.extensions=graft.GraftExtensions` and the
  * library's Catalyst surface is present — every [[functions.Sql]] name
  * resolves from SQL text and the geo-radius bbox and Levenshtein banding
  * rewrites run in the optimizer.
  *
  * Scala callers need neither: the Column helpers build their expressions
  * directly. A session built without the extension gets the same SQL names
  * from [[functions.Sql.install]] and the rewrites from the rules'
  * `install` helpers. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.HaversineRadiusPruning)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinBanding)
    functions.Sql.descriptions.foreach(ext.injectFunction)
  }
}
