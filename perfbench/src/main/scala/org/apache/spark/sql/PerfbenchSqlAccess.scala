package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceStrategy

/** Catalyst-to-source filter translation is sql-private; the traced run
  * needs it to rebuild a query's scan with the filters Spark pushed. */
object PerfbenchSqlAccess {
  def translateFilter(e: Expression): Option[sources.Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
}
