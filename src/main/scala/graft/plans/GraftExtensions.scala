package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.SketchExpressions

/** Session-extension entry point: `--conf
  * spark.sql.extensions=graft.plans.GraftExtensions` (which
  * `graft.GraftSession` sets) gives every session the engine's SQL
  * function names — all of `SketchExpressions.registrations`, the one
  * list. Query code needs none of them: it builds native expressions
  * through the typed constructors, and `GroupedTopK.topK` adds its
  * planner strategy to whichever session it runs in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    SketchExpressions.registrations.foreach(ext.injectFunction)
}
