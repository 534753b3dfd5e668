package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Builds a DataFrame straight from a LogicalPlan leaf over internal
  * rows. `classic.Dataset.ofRows` is package-private to Spark SQL, so
  * this shim lives in Spark's package; it exists to skip the Row
  * encode/decode hop that `createDataFrame(rdd, schema)` pays. */
object RddFrames {

  /** A DataFrame whose logical plan is one flat `LogicalRDD` leaf over
    * `rdd`, which must hold `origin`'s rows as `origin.queryExecution`
    * produces them. The leaf keeps `origin`'s output partitioning,
    * ordering and statistics, as `Dataset.checkpoint` does. */
  def ofInternalRows(origin: DataFrame, rdd: RDD[InternalRow]): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
