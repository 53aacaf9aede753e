package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test-only bridge: SparkSessionExtensions.registerFunctions is
  * private[sql], so the spec asserting that GraftExtensions actually
  * injects its functions reaches it from this package. */
object GraftExtensionsBridge {
  /** The builtin registry plus every function `ext` injects. */
  def registry(ext: SparkSessionExtensions): FunctionRegistry = {
    val reg = FunctionRegistry.builtin.clone()
    ext.registerFunctions(reg)
    reg
  }

  def injectedNames(ext: SparkSessionExtensions): Set[String] =
    registry(ext).listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)
}
