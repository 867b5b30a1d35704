package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.Ingest

/** Structured-Streaming form of the reference's hot path (entry point A,
  * SURVEY.md §3.1): MQTT-shaped messages -> parse -> infer -> registry
  * filter -> narrow points -> checkpointed parquet sink.
  *
  * The transforms are the SAME `Ingest` column expressions as the batch
  * path — one definition, two execution modes — which is the point of
  * building on Spark instead of a bespoke stream processor.
  *
  * Delivery semantics: checkpoint + file-sink commit log give exactly-once,
  * a deliberate upgrade over the reference's at-most-once in-memory queue
  * (influx_service.py:54, 210-212; SURVEY.md §7.3).
  */
object StreamingIngest {

  /** Raw message stream (`topic STRING, payload STRING, ts TIMESTAMP`) to
    * narrow points. `registry` is a static (or periodically reloaded)
    * dimension — the stream-static broadcast semi-join mirrors
    * influx_service.py:134-137.
    */
  def pointsStream(messages: DataFrame, registry: DataFrame): DataFrame =
    Ingest.narrowPoints(
      Ingest.registryFilter(
        Ingest.inferTypes(Ingest.parseTopic(messages.filter(Ingest.dataTopicFilter))),
        registry))

  /** R9 as a streaming sink: append to parquet partitioned by UTC date —
    * the SAME layout PointStore documents for the batch store. Partitioning
    * by device_id would create one directory per device per micro-batch
    * (10^6 devices -> small-files explosion); a date partition gives
    * time-range pruning (the dominant query pattern) while device
    * selectivity comes from row-group min/max within the partition.
    */
  def startParquetSink(points: DataFrame, path: String, checkpoint: String,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    points
      .withColumn("p_date", to_date(col("ts")))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("p_date")
      .trigger(trigger)
      .start()

  /** Dead-letter sink: unroutable messages (neither data-plane nor
    * control-plane topic shape) quarantined to their own checkpointed
    * parquet table with the reason attached — the reference swallows them
    * in a bare except (influx_service.py:114-119), which at fleet scale
    * means silent data loss with no way to replay after a routing fix.
    * Same exactly-once guarantees as the main sink.
    */
  def startDeadLetterSink(messages: DataFrame, controlTopic: String,
                          path: String, checkpoint: String,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    messages
      .filter(Ingest.isDeadLetter(controlTopic))
      .withColumn("dl_reason", lit("unroutable_topic"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming MERGE sink: foreachBatch upsert into a [[graft.storage.TxLogTable]]
    * — the streaming -> ACID-table bridge (continuous dimension maintenance,
    * e.g. a registry mirror). `orderCol` makes the merge idempotent per key
    * (greatest order value wins), so a replayed micro-batch after a restart
    * converges to the same table instead of double-applying — exactly-once
    * EFFECT on the table from at-least-once batch delivery. Commit races
    * with concurrent writers retry via the table's optimistic protocol.
    *
    * `rangeCol` makes the per-batch merge DIRECTORY-GRANULAR on that key
    * (see [[graft.storage.TxLogTable.merge]]): a long-lived sink whose
    * batches touch recent key ranges (a time-keyed CQ target) then carries
    * its history as metadata instead of rewriting the whole table every
    * micro-batch — without it, per-batch write cost grows with the
    * table's own history, O(n²) over the stream's life.
    *
    * Each micro-batch runs its plan ONCE: one `localCheckpoint` job
    * materializes it (for a stateful query — a continuous query's
    * watermarked aggregate — that is the one state-store commit) and counts
    * its rows on the side through an [[org.apache.spark.sql.Observation]],
    * so an empty batch (a watermark-only batch that closes no bucket) runs
    * exactly that job. `perBatch` and the merge read the materialized rows,
    * which are released once the merge commits.
    */
  def startMergeSink(updates: DataFrame, table: graft.storage.TxLogTable,
                     keys: Seq[String], orderCol: String, checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow(),
                     perBatch: DataFrame => DataFrame = identity,
                     rangeCol: Option[String] = None): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val rows = new org.apache.spark.sql.Observation()
        val batch = batch0.observe(rows, count(lit(1)).as("n")).localCheckpoint()
        try {
          // perBatch may enrich the upsert set against CURRENT table state
          // (e.g. a continuous query's fill() densifying the gaps between
          // newly closed buckets) — it must be deterministic given (batch,
          // table) so an at-least-once replay still converges
          if (rows.get("n").asInstanceOf[Long] > 0) {
            val upserts = perBatch(batch)
            graft.storage.TxLogTable.retryOnConflict() {
              table.merge(upserts, keys, Some(orderCol), rangeCol); ()
            }
          }
        } finally batch.queryExecution.logical.collectFirst {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
        }
        ()
      }
      .start()

  /** Streaming ingest into an ACID point table: each micro-batch is ONE
    * Spark write and at most one [[graft.storage.TxLogTable]] commit. The
    * batch is sorted on (device_id, ts) within its input splits — one file
    * per split, no shuffle. A live batch of a few hundred rows is one row
    * group spanning every device in it, so a device probe skips nothing
    * inside these files (compaction concatenates, it does not re-sort).
    * The append carries a batch-id
    * transaction fence: a batch replayed after a crash is a no-op
    * (exactly-once table effect) and runs no write. Emptiness is decided
    * from the written files' footers ([[graft.storage.TxLogTable.appendIfRows]]),
    * never by an `isEmpty` job that would re-execute the batch's plan: a
    * batch whose rows `perBatch` drops entirely commits nothing.
    */
  def startAppendSink(points: DataFrame, table: graft.storage.TxLogTable,
                      appId: String, checkpoint: String,
                      trigger: Trigger = Trigger.AvailableNow(),
                      perBatch: DataFrame => DataFrame = identity): StreamingQuery =
    points.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // perBatch re-resolves batch-time state (e.g. the CURRENT registry
        // dimension for the semi-join — stream-static joins freeze the
        // static side at stream definition, exactly what a live registry
        // must not do)
        table.appendIfRows(perBatch(batch).sortWithinPartitions("device_id", "ts"),
          txn = Some((appId, batchId)))
        ()
      }
      .start()

  /** R8 as a STREAMING view: the wide (device, ts) -> {transducer: num}
    * layout maintained incrementally — the reference double-writes this
    * "organized" form on every message (influx_service.py:191-200); here it
    * is derived from the narrow stream with no second write path.
    * Redelivered duplicates are dropped by a watermark-bounded dedup BEFORE
    * the map build (map_from_entries throws on duplicate keys); append mode
    * emits each (device, ts) row exactly once, when the watermark passes
    * its event time. Two chained stateful operators, both bounded by the
    * same watermark.
    */
  def wideViewStream(points: DataFrame, lateness: String = "1 minute"): DataFrame =
    points
      .withWatermark("ts", lateness)
      .dropDuplicates(Seq("device_id", "ts", "transducer"))
      .groupBy(col("device_id"), col("ts"))
      .agg(map_from_entries(collect_list(struct(col("transducer"), col("num")))).as("fields"))

  /** R10 — the 10-minute points-written rollup (influx_service.py:310-322),
    * as an event-time tumbling window with a watermark bounding state.
    * Emits one row per closed window: the reference's status payload fields
    * (points written + device count, influx_service.py:318-320).
    */
  def statusCounts(points: DataFrame, interval: String = "10 minutes",
                   lateness: String = "1 minute"): DataFrame =
    points
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), interval))
      .agg(
        count(lit(1)).as("points_written"),
        // exact, like the reference's registry-size report
        // (influx_service.py:317). count_distinct is unsupported in
        // streaming aggs; collect_set is exact and its state is bounded by
        // the (small) per-window device set.
        size(collect_set(col("device_id"))).cast("long").as("n_devices"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("points_written"), col("n_devices"))
}
