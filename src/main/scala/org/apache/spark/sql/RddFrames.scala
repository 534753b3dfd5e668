package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

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

  /** A DataFrame whose logical plan is one flat `LogicalRDD` leaf over
    * `rdd`, whose rows must match `schema` (generic rows will do: the
    * scan converts them). The leaf reports `rows` rows, so joins on the
    * result plan from its real size rather than the default estimate. */
  def ofRows(spark: SparkSession, schema: StructType, rdd: RDD[InternalRow],
      rows: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * rows, Some(BigInt(rows)))
    classic.Dataset.ofRows(s, LogicalRDD(output, rdd)(s, Some(stats)))
  }

  /** `df`, whose plan must be one `LogicalRDD` leaf (a checkpoint), over
    * the same RDD and attributes with the origin statistics dropped:
    * its size estimate is `spark.sql.defaultSizeInBytes` again. */
  def withoutOriginStats(df: DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    val lr = df.queryExecution.logical.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(s, lr.copy()(s, None, None))
  }
}
