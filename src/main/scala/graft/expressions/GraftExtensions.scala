package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftglue.GraftGlue

/** SparkSessionExtensions entry point — the deployment-grade way to ship
  * the engine's custom Catalyst pieces into any session:
  *
  *   spark-submit --conf spark.sql.extensions=graft.expressions.GraftExtensions
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  *
  * Injects the codegen'd `cosine_similarity` scalar and the
  * [[RewriteSizeOfArrayIntersect]] optimizer rule (the Rule tier:
  * `size(array_intersect(a, b))` → the allocation-free
  * [[IntersectCount]], transparently, for SQL and DataFrame plans
  * alike), plus the planner strategy that gives a partition-keeping
  * checkpoint ([[GraftGlue.materialize]]) a scan whose canonical form
  * lets its exchanges be reused.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"cosine_similarity expects 2 arguments, got ${exprs.length}")
        CosineSimilarity(exprs.head, exprs(1))
      }))
    e.injectOptimizerRule(_ => RewriteSizeOfArrayIntersect)
    e.injectPlannerStrategy(_ => GraftGlue.PartitionedRDDScan)
  }
}
