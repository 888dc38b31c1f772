package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Test access to planner internals Spark keeps package-private. */
object PlannerAccess {
  /** `df`'s rows as a `LogicalRDD` that reports `SinglePartition`
    * whatever its partition count: a frame misjudged as one partition.
    */
  def declaredOnePartition(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    val plan = LogicalRDD(ds.logicalPlan.output, rdd, SinglePartition, Nil,
      isStreaming = false)(ds.sparkSession)
    classic.Dataset.ofRows(ds.sparkSession, plan)
  }
}
