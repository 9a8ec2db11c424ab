package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook (SURVEY.md §4.3a): registers the engine's
  * native expressions in the session FunctionRegistry so they are usable
  * from SQL text and survive view definitions. Installed by
  * [[Engine.builder]]; external users can pass
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.Natives.all.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.optimizer.FoldDotProduct)
    // The two COUNT(DISTINCT) rewrites (optimizer/DistinctAggs.scala) run
    // as two passes of the same operator-optimization fixed point, so the
    // single-distinct legs MultiDistinctSplit produces immediately
    // re-qualify for BitmapDistinct before it.
    ext.injectOptimizerRule(_ => graft.optimizer.BitmapDistinct)
    ext.injectOptimizerRule(_ => graft.optimizer.MultiDistinctSplit)
    // Canonicalization-safe scans for graft-snapped checkpoints: restores
    // ReuseExchange over snap-rooted subtrees (fused Pregel supersteps) —
    // see org.apache.spark.sql.graft.SnapScanExec.
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.SnapScanStrategy)
  }
}
