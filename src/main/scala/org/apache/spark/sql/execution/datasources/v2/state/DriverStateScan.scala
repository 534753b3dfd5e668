package org.apache.spark.sql.execution.datasources.v2.state

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GetStructField, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.streaming.operators.stateful.join.SymmetricHashJoinStateManager
import org.apache.spark.sql.execution.streaming.state.{KeyStateEncoderSpec, StateSchemaProvider, StateStore, StateStoreColFamilySchema, StateStoreConf, StateStoreId, StateStoreProvider, StateStoreProviderId}
import org.apache.spark.sql.types.{NullType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** A `statestore` relation's scan, planned on the driver: the state
  * partitions its checkpoint holds, and point lookups into any one of
  * them on the calling thread, with no Spark job. The state source keeps
  * `StateScan` and its input partitions internal, so this shim lives in
  * Spark's package (as `org.apache.spark.sql.RddFrames` does).
  *
  * A lookup builds the partition's store provider itself, from the
  * settings the scan resolved from the checkpoint: its store conf (with
  * the provider class the checkpoint was written with), key encoder,
  * state variable, column-family schema, schema provider and broadcast
  * Hadoop configuration. `StateScan` keeps these in private fields with
  * no accessor, and Spark's partition reader keeps them private too, so
  * the shim reads them from the scan by reflection. The key and value
  * schemas come from the scan's public read schema, and the store's
  * location, batch and checkpoint ids from its input partition's public
  * source options. */
final class DriverStateScan private (scan: StateScan, parts: Seq[InputPartition]) {
  import DriverStateScan.hidden

  /** The partition ids, as listed from the checkpoint's own partition
    * directories (not from the session's shuffle partitions). */
  val partitionIds: Seq[Int] = parts.map(_.asInstanceOf[StateStoreInputPartition].partition)

  /** Partition `id`'s first row and the row stored under `key`, each as
    * the string fields at `paths` (dotted names into the relation's key
    * and value columns, e.g. `"key.value"`; a null struct on the way
    * reads as null). The relation's key must be one string field, and
    * the store must hold one value per key.
    *
    * The store is loaded once, read-only, at the scan's batch: Spark's
    * own reader first opens a transformWithState store writable to
    * register its column family, writing a changelog into the checkpoint
    * and then aborting it. The key is served by a point `get` on its
    * encoded row. Store and provider are closed before this returns, and
    * the scan's broadcast Hadoop configuration is destroyed, so a scan
    * looks up once: a second lookup fails on the destroyed broadcast. */
  def lookup(id: Int, key: String, paths: String*): (Option[Seq[String]], Option[Seq[String]]) = {
    val part = parts(partitionIds.indexOf(id)).asInstanceOf[StateStoreInputPartition]
    val opts = part.sourceOptions
    val schema = scan.readSchema()
    val keyType = schema("key").dataType.asInstanceOf[StructType]
    require(keyType.map(_.dataType) == Seq(StringType), s"lookup needs a single string key, not $keyType")
    val row = StructType(Seq(schema("key"), schema("value")))
    val fields = paths.map(DriverStateScan.field(row, _))
    def strings(k: UnsafeRow, v: UnsafeRow): Seq[String] = {
      val kv = InternalRow(k, v)
      fields.map(e => Option(e.eval(kv)).map(_.toString).orNull)
    }
    // only a transformWithState store (one with state variables) reads
    // through a named column family
    val colFamily = hidden[Option[StateStoreColFamilySchema]](scan, "stateStoreColFamilySchemaOpt")
      .filter(_ => hidden[Option[_]](scan, "stateVariableInfoOpt").isDefined)
    // the provider's own value schema, as Spark's reader gives it: a
    // placeholder when every read goes through a named column family
    val valueType =
      if (colFamily.isDefined) StructType(Seq(StructField("__dummy__", NullType)))
      else schema("value").dataType.asInstanceOf[StructType]
    val hadoopConf = hidden[Broadcast[SerializableConfiguration]](scan, "hadoopConfBroadcast")
    try {
      val provider = StateStoreProvider.createAndInit(
        StateStoreProviderId(
          StateStoreId(opts.stateCheckpointLocation.toString, opts.operatorId, id, opts.storeName),
          part.queryId),
        keyType, valueType,
        hidden[KeyStateEncoderSpec](scan, "keyStateEncoderSpec"),
        colFamily.isDefined,
        hidden[StateStoreConf](scan, "stateStoreConf"),
        hadoopConf.value.value,
        false,
        hidden[Option[StateSchemaProvider]](scan, "stateSchemaProviderOpt"))
      try {
        // the checkpoint id of the store's version, resolved as Spark's
        // reader resolves it for every store type
        val store = provider.getReadStore(opts.batchId + 1,
          SymmetricHashJoinStateManager.getStateStoreCheckpointId(opts.storeName, id, opts.endOperatorStateUniqueIds))
        try {
          val family = colFamily.fold(StateStore.DEFAULT_COL_FAMILY_NAME) { cf =>
            // RocksDB's read store is a StateStore; registering the family
            // only maps its name to the id recorded in the checkpoint
            store.asInstanceOf[StateStore].createColFamilyIfAbsent(cf.colFamilyName,
              cf.keySchema, cf.valueSchema, cf.keyStateEncoderSpec.get, false, opts.readRegisteredTimers)
            cf.colFamilyName
          }
          val rows = store.iterator(family)
          val first = try rows.nextOption().map(p => strings(p.key, p.value)) finally rows.close()
          val k = UnsafeProjection.create(keyType)(InternalRow(UTF8String.fromString(key)))
          (first, Option(store.get(k, family)).map(strings(k, _)))
        } finally store.release()
      } finally provider.close()
    } finally hadoopConf.destroy()
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

  /** `StateScan`'s private field `name`. Its Hadoop configuration
    * broadcast (about 214 KiB) is made when the scan is built and never
    * destroyed by Spark; the ContextCleaner would free it only after a GC. */
  private def hidden[T](scan: StateScan, name: String): T = {
    val f = classOf[StateScan].getDeclaredField(name)
    f.setAccessible(true)
    f.get(scan).asInstanceOf[T]
  }

  private def field(schema: StructType, path: String): Expression = {
    val names = path.split('.')
    val top = schema.fieldIndex(names.head)
    names.tail.foldLeft(BoundReference(top, schema(top).dataType, nullable = true): Expression) {
      (e, name) => GetStructField(e, e.dataType.asInstanceOf[StructType].fieldIndex(name), Some(name))
    }
  }
}
