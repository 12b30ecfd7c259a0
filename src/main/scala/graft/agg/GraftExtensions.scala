package graft.agg

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * Cluster installation path: putting the library jar on the classpath
 * is enough. Spark's ServiceLoader finds this provider through
 * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`
 * and applies it to every session it builds, so every session
 * (including Thrift/Connect ones that never run Scala code) gets the
 * `graft_*` SQL functions without a driver-side registration call, and
 * its optimizer gets [[SketchOverExplode]].
 *
 * Naming the class in `spark.sql.extensions` as well still works; the
 * provider is then applied twice, which re-registers the same
 * functions and runs the idempotent rule twice per iteration.
 */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    ext.injectOptimizerRule(_ => SketchOverExplode)
  }
}
