package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Re-plans a DataFrame with its analyzed plan's expressions rewritten
  * bottom-up (a rewritten expression is not visited again).
  * `Dataset.ofRows` is package-private to Spark SQL, hence this object's
  * package. */
object PlanRewrite {
  def apply(df: DataFrame)(rule: PartialFunction[Expression, Expression]): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val plan = ds.queryExecution.analyzed.transform { case p => p.transformExpressionsUp(rule) }
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, plan)
  }
}
