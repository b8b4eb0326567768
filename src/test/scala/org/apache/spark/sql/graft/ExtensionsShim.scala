package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test access to the `private[sql]` step that copies a
  * `SparkSessionExtensions`' injected functions into a session's registry —
  * the step session construction runs for `spark.sql.extensions`. */
object ExtensionsShim {
  def registerFunctions(ext: SparkSessionExtensions, registry: FunctionRegistry): FunctionRegistry =
    ext.registerFunctions(registry)
}
