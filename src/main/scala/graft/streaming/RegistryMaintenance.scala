package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
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

  // version-keyed active-device cache (the ContinuousQueries.cqTargets
  // pattern): the data query resolves the registry on EVERY micro-batch,
  // and the registry only changes on a control event — so the active ids
  // are collected once per registry commit into a driver-local frame,
  // keyed on (path, version, incarnation) so a table dir recreated at the
  // same path never serves a stale set. Steady state is one commit-log
  // list + one stat + a map hit, never a Spark job. One entry per live
  // registry path.
  private val activeCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Option[String]), DataFrame)]()

  /** Currently-active devices, in the shape `Ingest.registryFilter` expects:
    * a driver-local frame (a LocalRelation — broadcasting it scans
    * nothing). Returns an empty registry before the first commit (nothing
    * registered yet — every message dead-letters, matching the
    * reference's behavior with an empty dict).
    */
  def activeDevices(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val t = new TxLogTable(spark, tablePath)
    t.version match {
      case None => Seq.empty[String].toDF("device_id")
      case Some(v) =>
        val key = java.nio.file.Paths.get(tablePath).toAbsolutePath.normalize.toString
        val stamp = (v, t.incarnation)
        val cached = activeCache.get(key)
        if (cached != null && cached._1 == stamp && (cached._2.sparkSession eq spark)) cached._2
        else {
          val ids = t.readVersion(v).filter(col("active"))
            .select(col("deviceId")).as[String].collect().toSeq
          val frame = ids.toDF("device_id")
          activeCache.put(key, (stamp, frame))
          frame
        }
    }
  }
}
