package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Public entry point for wiring graft into any SparkSession:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Injects the graft_* native functions (see graft.functions.Native)
  * and the AsOfJoin planner strategy (graft.plans.AsOfJoinStrategy)
  * at session build time, and sizes Spark's codegen cache
  * (Native.sizeCodegenCache) when the session first plans a query.
  * Sessions that are not built with the extension still get all three
  * lazily — the functions and the cache size the first time they touch
  * graft.sources.Tables, the strategy on the first AsOf.join call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.Native.injectInto(ext)
    // Spark calls the strategy builder on every physical planning step;
    // the first call sizes the cache, later ones only read a flag
    ext.injectPlannerStrategy { session =>
      functions.Native.sizeCodegenCache(session)
      plans.AsOfJoinStrategy
    }
  }
}
