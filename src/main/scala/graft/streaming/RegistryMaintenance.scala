package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.storage.TxLogTable

/** Closes the R11 -> R6 loop: the CDC stream's registry snapshots are
  * MERGE-maintained into a versioned dimension table ([[TxLogTable]]),
  * and the ingest semi-join reads that table — the reference keeps the
  * same registry as an in-process dict mutated by the events subscription
  * (influx_service.py:324-342) and consulted on every message
  * (influx_service.py:134-137).
  *
  * Exactly-once: the merge keys on deviceId with asOfUs as the resolution
  * order, so a replayed micro-batch (foreachBatch gives at-least-once)
  * re-merges to the identical table state. Deletes are soft (active=false
  * rows survive the merge) so a delete replayed after a re-create cannot
  * resurrect: the larger asOfUs always wins.
  */
object RegistryMaintenance {

  /** Maintain the registry dimension table from a CDC snapshot stream. */
  def start(cdc: Dataset[RegistryCdc.RegistrySnapshot], tablePath: String, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    cdc.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[RegistryCdc.RegistrySnapshot], _: Long) =>
        if (!batch.isEmpty)
          // a concurrent writer (e.g. a compactor) losing us the commit race
          // must not kill the maintenance stream: merge re-reads the new
          // snapshot and retries (idempotent by asOfUs order)
          TxLogTable.retryOnConflict() {
            new TxLogTable(batch.sparkSession, tablePath)
              .merge(batch.toDF(), keys = Seq("deviceId"), orderCol = Some("asOfUs"))
          }
        ()
      }
      .trigger(trigger)
      .start()

  /** Currently-active device ids, as a driver-side set: the data plane
    * resolves the registry on EVERY micro-batch, and the registry only
    * changes on a control event, so the ids are collected once per
    * registry commit ([[TxLogTable.snapshot]]) and served from the driver
    * otherwise. Empty before the first commit (nothing registered yet —
    * every message dead-letters, matching the reference's behavior with an
    * empty dict).
    */
  def activeIds(spark: SparkSession, tablePath: String): Set[String] =
    new TxLogTable(spark, tablePath).snapshot("activeIds")(
      _.filter(_.getAs[Boolean]("active")).map(_.getAs[String]("deviceId")).toSet).value

  /** [[activeIds]] in the shape `Ingest.registryFilter` expects: a
    * driver-local frame (a LocalRelation — broadcasting it scans nothing).
    */
  def activeDevices(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    activeIds(spark, tablePath).toSeq.sorted.toDF("device_id")
  }
}
