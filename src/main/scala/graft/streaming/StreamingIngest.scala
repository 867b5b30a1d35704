package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.Ingest
import graft.storage.TxLogTable

/** Structured-Streaming form of the reference's hot path (entry point A,
  * SURVEY.md §3.1): MQTT-shaped messages -> parse -> infer -> registry
  * filter -> narrow points -> fenced ACID append ([[startDataPlane]]).
  *
  * The transforms are the SAME `Ingest` column expressions as the batch
  * path — one definition, two execution modes — which is the point of
  * building on Spark instead of a bespoke stream processor.
  *
  * Delivery semantics: checkpoint + the tables' batch-id fences give
  * exactly-once table effects, a deliberate upgrade over the reference's
  * at-most-once in-memory queue (influx_service.py:54, 210-212; SURVEY.md
  * §7.3).
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

  /** The service's data plane: ONE streaming query over the raw message
    * log feeds every stateless sink, the way the reference runs parse ->
    * filter -> infer -> write -> auto-create in one consumer loop
    * (influx_service.py:438). Each micro-batch is parsed once and
    * materialized once ([[materialized]]: one `localCheckpoint` job, which
    * also collects the batch's dead-letter count and its distinct
    * data-plane (device_id, transducer) keys), then drives four steps in
    * this fixed order:
    *
    *   1. the points append, under the `(appId, batchId)` transaction
    *      fence (narrow layout plus `ts_us`, the InfluxQL planner's time
    *      column; sorted on (device_id, ts) within its input splits, one
    *      file per split, no shuffle);
    *   2. the dead-letter append — unroutable messages with their reason,
    *      kept replayable where the reference swallows them in a bare
    *      except (influx_service.py:114-119) — under the same fence;
    *   3. `autoCreate` of the batch's registered keys (R14);
    *   4. `fanOut` of the registered points (subscriptions).
    *
    * All four read one snapshot of `registered`, the live device registry
    * (R6). Membership is decided on the driver against the batch's own
    * distinct keys, and the points read the materialized rows through an
    * IN-list of the batch's registered devices: no registry broadcast, and
    * a step with nothing to do (no registered point, no dead letter) runs
    * no job.
    *
    * A micro-batch replayed after a crash commits nothing to either table
    * (both fence on its batch id); the side effects re-run at least once:
    * auto-create skips the keys its catalog already holds, the fan-out
    * re-publishes. A failing side effect fails the batch only after the
    * fenced commits before it.
    */
  def startDataPlane(messages: DataFrame, controlTopic: String,
                     points: TxLogTable, deadLetters: TxLogTable,
                     registered: () => Set[String], appId: String, checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow(),
                     autoCreate: Seq[(String, String)] => Unit = _ => (),
                     fanOut: DataFrame => Unit = _ => ()): StreamingQuery =
    messages.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val devices = registered()
        val txn = Some((appId, batchId))
        val parsed = Ingest.inferTypes(Ingest.parseTopic(batch0))
          .withColumn("data", Ingest.dataTopicFilter)
        materialized(parsed,
          count_if(Ingest.isDeadLetter(controlTopic)).as("dead"),
          collect_set(when(col("data"), struct(col("device_id"), col("transducer")))).as("keys")) {
          (batch, m) =>
            val keys = m("keys").asInstanceOf[Seq[Row]]
              .map(r => (r.getString(0), r.getString(1))).filter(k => devices(k._1))
            val live = Ingest.narrowPoints(batch.filter(col("data") &&
                col("device_id").isin(keys.map(_._1).distinct: _*)))
              .withColumn("ts_us", unix_micros(col("ts")))
            if (keys.nonEmpty)
              points.append(live.sortWithinPartitions("device_id", "ts"), txn)
            if (m("dead").asInstanceOf[Long] > 0)
              deadLetters.append(batch.filter(Ingest.isDeadLetter(controlTopic))
                .select(col("topic"), col("payload"), col("ts"),
                  lit("unroutable_topic").as("dl_reason")), txn)
            if (keys.nonEmpty) {
              autoCreate(keys)
              fanOut(live)
            }
        }
      }
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
    * Each micro-batch runs its plan ONCE ([[materialized]]; for a stateful
    * query — a continuous query's watermarked aggregate — that one job is
    * the state-store commit), so an empty batch (a watermark-only batch
    * that closes no bucket) runs exactly that job. `perBatch` and the merge
    * read the materialized rows; they and any checkpoint in the frame
    * `perBatch` returns are released once the merge commits.
    */
  def startMergeSink(updates: DataFrame, table: TxLogTable,
                     keys: Seq[String], orderCol: String, checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow(),
                     perBatch: DataFrame => DataFrame = identity,
                     rangeCol: Option[String] = None): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        materialized(batch0, count(lit(1)).as("n")) { (batch, m) =>
          // perBatch may enrich the upsert set against CURRENT table state
          // (e.g. a continuous query's fill() densifying the gaps between
          // newly closed buckets) — it must be deterministic given (batch,
          // table) so an at-least-once replay still converges
          if (m("n").asInstanceOf[Long] > 0) {
            val upserts = perBatch(batch)
            try TxLogTable.retryOnConflict() {
              table.merge(upserts, keys, Some(orderCol), rangeCol); ()
            } finally release(upserts)
          }
        }
      }
      .start()

  /** Runs `body` on `batch` materialized once — one `localCheckpoint` job,
    * which also computes `metric +: metrics` through an [[Observation]]
    * (handed to `body` keyed by the metrics' names) — and releases the
    * rows when `body` returns or throws.
    */
  private def materialized(batch: DataFrame, metric: Column, metrics: Column*)(
      body: (DataFrame, Map[String, Any]) => Unit): Unit = {
    val observed = new Observation()
    val rows = batch.observe(observed, metric, metrics: _*).localCheckpoint()
    try body(rows, observed.get) finally release(rows)
  }

  /** Unpersists every checkpointed or cached RDD `df` reads directly (a
    * `localCheckpoint`'s rows): a per-batch checkpoint otherwise stays
    * cached until the driver happens to collect it.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => ()
  }

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
