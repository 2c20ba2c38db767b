package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge into `private[sql]` surface — the sanctioned way for libraries to
  * reach it (same pattern Spark's own connectors use): the Column ↔
  * Expression converters for custom Catalyst expressions, the session
  * clone + plan rebind behind [[graft.util.Sessions.scoped]], and the
  * measured pin leaf behind [[graft.util.Checkpoints]].
  */
object GraftExpressionBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A copy of `s` with its own SQL conf, temp views and streaming query
    * manager, sharing the SparkContext, cache and session listeners.
    * Unlike `newSession()` it keeps the caller's runtime confs and its
    * `QueryExecutionListener`s.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `s`: later planning of the result
    * runs under `s`'s confs, wherever `df` was built.
    */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** `pin`, the result of an eager `checkpoint` or `localCheckpoint`, with
    * its `LogicalRDD` leaf rebuilt to report the bytes the pin holds as its
    * size: the length of the checkpoint files for a reliable pin, else the
    * memory and disk bytes of its blocks. Both are read on the driver, from
    * the file system or the block manager master, so no job runs. Spark
    * leaves the pre-pin optimizer estimate on the leaf, which misses the
    * stored size by orders of magnitude in both directions.
    */
  def withMeasuredSize[T](pin: Dataset[T]): Dataset[T] = {
    val ds = pin.asInstanceOf[classic.Dataset[T]]
    val leaf = ds.logicalPlan.asInstanceOf[LogicalRDD]
    val sc = ds.sparkSession.sparkContext
    val bytes = leaf.rdd.getCheckpointFile match {
      case Some(dir) =>
        val path = new Path(dir)
        path.getFileSystem(sc.hadoopConfiguration).getContentSummary(path).getLength
      case None =>
        val blocks = leaf.rdd.partitions.indices.map(RDDBlockId(leaf.rdd.id, _))
        sc.env.blockManager.master.getStorageStatus.iterator
          .flatMap(st => blocks.flatMap(st.getBlock))
          .map(b => b.memSize + b.diskSize).sum
    }
    classic.Dataset(ds.sparkSession, leaf.copy()(ds.sparkSession,
      Some(Statistics(sizeInBytes = bytes)), Some(leaf.constraints)))(ds.encoder)
  }
}
