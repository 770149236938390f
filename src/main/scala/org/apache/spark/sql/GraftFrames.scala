package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Builds a frame over an RDD of another frame's rows, through
  * `LogicalRDD.fromDataset` and `Dataset.ofRows`, which Spark keeps
  * `private[sql]`.
  */
object GraftFrames {
  /** `origin`'s rows as the RDD `rdd`: the logical plan stops at a
    * `Scan ExistingRDD` that keeps `origin`'s output partitioning,
    * ordering and statistics, while `rdd` keeps its own lineage.
    */
  def overRdd(origin: Dataset[_], rdd: RDD[InternalRow]): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
