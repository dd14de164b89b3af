package org.apache.spark.sql.graft

import org.apache.spark.sql.errors.QueryCompilationErrors

/** Spark's own analysis errors are `private[sql]`; same one-hop shim as
  * [[ColumnBridge]], so registered functions fail the way built-in
  * ones do.
  */
object ErrorBridge {
  /** WRONG_NUM_ARGS: `name` takes `expected` arguments, got `actual`. */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)
}
