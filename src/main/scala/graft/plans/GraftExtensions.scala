package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** What a graft session can add to Spark: the top-k planner strategy, the
  * `get_json_object` field rewrite and the `graft_*` SQL kernel surface.
  * Any session can set `spark.sql.extensions=graft.plans.GraftExtensions`
  * or build with `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    GraftExtensions.jsonField(e)
    // the graft_* SQL kernel surface (see functions/SqlFunctions.scala)
    graft.functions.SqlFunctions.injectables.foreach(e.injectFunction)
  }
}

object GraftExtensions {

  /** Only the `get_json_object` field rewrite: what `graft.GraftSession.builder`
    * and Verify's dump session install. They need nothing else here, since
    * `TopKPerKey.topK` registers its strategy on the session it runs in and
    * the `graft_*` functions are registered where a query calls them.
    */
  val jsonField: SparkSessionExtensions => Unit =
    _.injectOptimizerRule(_ => JsonFieldRewrite)
}
