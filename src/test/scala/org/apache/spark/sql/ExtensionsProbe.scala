package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Test access to `SparkSessionExtensions.registerFunctions` (`private[sql]`):
  * the names an extension injects into a fresh function registry. */
object ExtensionsProbe {
  def injectedFunctions(extension: SparkSessionExtensions => Unit): Seq[String] = {
    val ext = new SparkSessionExtensions
    extension(ext)
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName)
  }
}
