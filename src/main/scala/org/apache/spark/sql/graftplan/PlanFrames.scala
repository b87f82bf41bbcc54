package org.apache.spark.sql.graftplan

import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Wraps a custom logical node in a DataFrame. `Dataset.ofRows` and a
  * Dataset's logical plan are package-private; this one-liner lives in
  * Spark's package to reach them. */
object PlanFrames {
  def transform(df: DataFrame)(f: LogicalPlan => LogicalPlan): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(d.sparkSession, f(d.logicalPlan))
  }
}
