package org.apache.spark.sql.execution.datasources.v2.state

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GetStructField}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** A `statestore` relation's scan, planned on the driver: the state
  * partitions its checkpoint holds, and a reader over any one of them
  * that runs on the calling thread, with no Spark job. The state source
  * keeps `StateScan` and its input partitions internal, so this shim
  * lives in Spark's package (as `org.apache.spark.sql.RddFrames` does).
  * A read destroys the scan's broadcast Hadoop configuration, which
  * `StateScan` keeps in a private field: the shim reaches it by
  * reflection. */
final class DriverStateScan private (scan: StateScan, parts: Seq[InputPartition]) {

  /** The partition ids, as listed from the checkpoint's own partition
    * directories (not from the session's shuffle partitions). */
  val partitionIds: Seq[Int] = parts.map(_.asInstanceOf[StateStoreInputPartition].partition)

  /** `f` over partition `id`'s rows, each as the string fields at
    * `paths` (dotted names into the relation's schema, e.g.
    * `"key.value"`; a null struct on the way reads as null). Only that
    * partition's store is opened, and it is closed when `f` returns.
    * Then the scan's broadcast Hadoop configuration is destroyed, so a
    * scan reads once: a second `read` fails on the destroyed broadcast. */
  def read[T](id: Int, paths: String*)(f: Iterator[Seq[String]] => T): T = {
    val fields = paths.map(DriverStateScan.field(scan.readSchema(), _))
    try {
      val reader = scan.createReaderFactory().createReader(parts(partitionIds.indexOf(id)))
      try f(Iterator.continually(reader).takeWhile(_.next()).map { r =>
        val row = r.get()
        fields.map(e => Option(e.eval(row)).map(_.toString).orNull)
      })
      finally reader.close()
    } finally DriverStateScan.hadoopConf(scan).destroy()
  }
}

object DriverStateScan {

  /** Plans `state`, a frame loaded from the `statestore` source, the way
    * its batch scan would, without running it. */
  def apply(state: DataFrame): DriverStateScan = {
    val relation = state.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[StateTable] => r
    }.getOrElse(throw new IllegalArgumentException(
      "not a frame loaded from the statestore source"))
    val scan = relation.table.asInstanceOf[StateTable]
      .newScanBuilder(relation.options)
      .build().asInstanceOf[StateScan]
    new DriverStateScan(scan, scan.planInputPartitions().toSeq)
  }

  /** `StateScan` broadcasts the session's Hadoop configuration (about
    * 214 KiB) when it is built, for its readers, and never destroys it;
    * the ContextCleaner would free it only after a GC. The field is
    * private to `StateScan`, so it is read by reflection. */
  private val confField = {
    val f = classOf[StateScan].getDeclaredField("hadoopConfBroadcast")
    f.setAccessible(true)
    f
  }

  private def hadoopConf(scan: StateScan): Broadcast[_] =
    confField.get(scan).asInstanceOf[Broadcast[_]]

  private def field(schema: StructType, path: String): Expression = {
    val names = path.split('.')
    val top = schema.fieldIndex(names.head)
    names.tail.foldLeft(BoundReference(top, schema(top).dataType, nullable = true): Expression) {
      (e, name) => GetStructField(e, e.dataType.asInstanceOf[StructType].fieldIndex(name), Some(name))
    }
  }
}
