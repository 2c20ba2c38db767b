package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Tests that need a frame the planner takes for a big one: `df`'s rows
  * behind one leaf that reports `bytes` as its size.
  */
object SizeStamp {
  def apply(df: DataFrame, bytes: BigInt): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val leaf = LogicalRDD(ds.logicalPlan.output, ds.queryExecution.toRdd.map(_.copy()))(
      ds.sparkSession, originStats = Some(Statistics(sizeInBytes = bytes)))
    classic.Dataset.ofRows(ds.sparkSession, leaf)
  }
}
