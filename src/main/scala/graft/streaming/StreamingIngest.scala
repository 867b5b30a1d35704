package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection}
import org.apache.spark.sql.execution.{InputAdapter, LocalTableScanExec, LogicalRDD, ProjectExec,
  RDDScanExec, SQLExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ingest.Ingest
import graft.storage.{DataFileWriter, TxLogTable}

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
    * (influx_service.py:438). Each micro-batch runs ONE Spark job, the
    * kernel: a projection of the batch through the `Ingest` column
    * expressions (topic parse, type inference, the data and dead-letter
    * flags, `ts_us`), sorted on (device_id, ts) within its input splits
    * (no shuffle), whose tasks each
    *
    *   - keep the registered data rows, gated on the driver's snapshot of
    *     `registered`, the live device registry (R6), and write them as one
    *     parquet file (narrow layout plus `ts_us`, the InfluxQL planner's
    *     time column), sorted on (device_id, ts);
    *   - write the unroutable messages, with their reason, as one file of
    *     dead letters — kept replayable where the reference swallows them
    *     in a bare except (influx_service.py:114-119);
    *   - return those files and the distinct (device_id, transducer) keys
    *     of their registered points.
    *
    * The kernel is planned once per query ([[Kernel]]): its projection
    * and sort are analyzed, optimized and bound to `messages.schema` when
    * the query starts, together with the two file writers, so a steady
    * micro-batch runs no Catalyst analysis or planning. It is compiled
    * under the session conf as it was at that moment, as the rest of a
    * streaming query is; a later conf change takes effect at the next
    * start. A batch whose schema differs from the compiled one fails.
    *
    * Files are written with Spark's own parquet writer, hidden until the
    * driver commits them ([[graft.storage.TxLogTable.appendWritten]]), so
    * only the successful task attempts' files become visible. After the
    * job, on the driver, in this fixed order:
    *
    *   1. the points append and 2. the dead-letter append, each under the
    *      `(appId, batchId)` transaction fence;
    *   3. `autoCreate` of the batch's registered keys (R14);
    *   4. `fanOut` of the registered points (subscriptions). Its frame is
    *      passed by name and built from the batch through the same
    *      `Ingest` expressions: a fan-out with no subscription builds
    *      nothing.
    *
    * Steps 3 and 4 run only for a batch with a registered point, and run
    * no Spark job unless a subscription forwards points. A batch with no
    * registered point (or no dead letter) writes no file and creates no
    * directory in that table.
    *
    * A micro-batch replayed after a crash commits nothing to either table:
    * each fence is checked BEFORE the kernel runs, and a fenced table's
    * files are not even written. The side effects re-run at least once (the
    * kernel still returns the batch's keys): auto-create skips the keys
    * its catalog already holds, the fan-out re-publishes. A failing side
    * effect fails the batch only after the fenced commits before it.
    */
  def startDataPlane(messages: DataFrame, controlTopic: String,
                     points: TxLogTable, deadLetters: TxLogTable,
                     registered: () => Set[String], appId: String, checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow(),
                     autoCreate: Seq[(String, String)] => Unit = _ => (),
                     fanOut: (=> DataFrame) => Unit = _ => ()): StreamingQuery = {
    val k = new Kernel(messages.sparkSession, messages.schema, controlTopic)
    messages.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val devices = registered()
        val txn = (appId, batchId)
        val pointsDir = Option.unless(points.fenced(txn))(points.newDataDir())
        val deadDir = Option.unless(deadLetters.fenced(txn))(deadLetters.newDataDir())
        val out = k.run(batch0, devices, pointsDir, deadDir)
        pointsDir.foreach(d => points.appendWritten(d, out.flatMap(_.points), k.points.schema, Some(txn)))
        deadDir.foreach(d => deadLetters.appendWritten(d, out.flatMap(_.dead), k.dead.schema, Some(txn)))
        val keys = out.flatMap(_.keys).distinct.toSeq
        if (keys.nonEmpty) {
          autoCreate(keys)
          fanOut(kernelFrame(batch0, controlTopic)
            .filter(col("data") && col("device_id").isin(keys.map(_._1).distinct: _*))
            .select(k.points.schema.fieldNames.toSeq.map(col): _*))
        }
      }
      .start()
  }

  /** The kernel's rows over a batch of messages: the parsed and inferred
    * batch in the kernel's columns ([[kernelColumns]]), sorted on
    * (device_id, ts) within its input splits.
    */
  private def kernelFrame(batch: DataFrame, controlTopic: String): DataFrame =
    Ingest.inferTypes(Ingest.parseTopic(batch))
      .select(kernelColumns(controlTopic): _*)
      .sortWithinPartitions("device_id", "ts")

  /** The kernel's columns over the parsed and inferred batch: the narrow
    * points layout plus `ts_us` first ([[PointCols]]), then the dead
    * letter's own columns ([[DeadCols]] picks them with `ts`), then the
    * two routing flags.
    */
  private def kernelColumns(controlTopic: String): Seq[Column] = Seq(
    col("device_id"), col("transducer"), col("ts"), col("num"), col("bool"), col("str"),
    unix_micros(col("ts")).as("ts_us"),
    col("topic"), col("payload"), lit("unroutable_topic").as("dl_reason"),
    Ingest.dataTopicFilter.as("data"), Ingest.isDeadLetter(controlTopic).as("dead"))
  private val PointCols = 0 to 6
  private val DeadCols = Seq(7, 8, 2, 9)
  private val DataFlag = 10
  private val DeadFlag = 11

  /** How many [[Kernel]]s were prepared in this JVM: one per data-plane
    * query start, never one per batch.
    */
  private[graft] val kernelsPrepared = new AtomicInteger()

  /** The data-plane kernel, prepared ONCE per query from the source
    * schema `source`: [[kernelFrame]] over an empty relation of that
    * schema is analyzed, optimized and planned here, and must plan to one
    * within-partition sort over one projection of the scan. The
    * projection, bound by ordinal to `source`, and the sort order are what
    * every batch's tasks run; the two file writers are built here too.
    *
    * Each [[run]] is one job straight over the batch's input rows (the RDD
    * the streaming engine already planned for `foreachBatch`); its tasks
    * project the rows with the compiled `UnsafeProjection`, sort them with
    * Spark's own within-partition sorter (`SortExec.createSorter`, so it
    * spills and orders ties as a planned `SortExec` does) and route and
    * write them ([[kernel]]). The job runs as one `"data plane"` SQL
    * execution whose plan is the prepared plan with its scan rebound to the
    * batch's rows, so listeners and the SQL UI still see the kernel.
    */
  private[graft] final class Kernel(spark: SparkSession, source: StructType,
                                   controlTopic: String) {
    kernelsPrepared.incrementAndGet()

    private val frame = kernelFrame(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], source), controlTopic)
    // the prepared physical plan, over an empty scan of `source`
    private val plan: SparkPlan = frame.queryExecution.executedPlan

    private val (sort, project, scan) =
      plan.collect { case n if !n.isInstanceOf[WholeStageCodegenExec] && !n.isInstanceOf[InputAdapter] => n } match {
        case Seq(s: SortExec, p: ProjectExec, r: RDDScanExec) if !s.global => (s, p, r)
        case _ => throw new IllegalStateException(
          s"the data-plane kernel did not plan to a sort over a projection of its input:\n$plan")
      }
    // the sorter's plan: the prepared sort over a leaf of the projection's
    // output, so a task ships no RDD
    private val sorter = sort.withNewChildren(Seq(LocalTableScanExec(project.output, Nil, None)))
      .asInstanceOf[SortExec]

    /** The writers of the points and the dead-letter files. */
    val points = new DataFileWriter(spark, StructType(PointCols.map(frame.schema.fields)))
    val dead = new DataFileWriter(spark, StructType(DeadCols.map(frame.schema.fields)))

    /** Whether `batch` is a batch of `source`: the same column names and
      * types, no column nullable where `source`'s is not (the compiled
      * projection skips null checks there).
      */
    private def fits(batch: StructType): Boolean =
      batch.length == source.length && batch.fields.zip(source.fields).forall { case (b, s) =>
        b.name == s.name && b.dataType == s.dataType && (s.nullable || !b.nullable)
      }

    /** Runs the kernel's one job over `batch`'s rows and returns each
      * task's output. A batch that does not fit the compiled schema fails
      * before any work.
      */
    def run(batch: DataFrame, devices: Set[String], pointsDir: Option[String],
            deadDir: Option[String]): Array[KernelTask] = {
      if (!fits(batch.schema)) throw new IllegalArgumentException(
        s"data plane: the batch's schema ${batch.schema.simpleString} is not the one its " +
          s"kernel was compiled for (${source.simpleString})")
      val (relation, rows) = batch.queryExecution.logical match {
        case r: LogicalRDD => (r, r.rdd)
        case other => (other, batch.queryExecution.toRdd)
      }
      val shown = plan.transformUp { case s: RDDScanExec => s.copy(rdd = rows) }
      val task = kernel(project.projectList, scan.output, sorter, devices,
        pointsDir.map((points, _)), deadDir.map((dead, _)))
      SQLExecution.withNewExecutionId(shim.preparedExecution(spark, relation, shown), Some("data plane")) {
        spark.sparkContext.runJob(rows, task)
      }
    }
  }

  /** One kernel task's output: the hidden names of the files it wrote and
    * its registered points' distinct keys.
    */
  private[graft] final case class KernelTask(points: Option[String], dead: Option[String],
                                             keys: Array[(String, String)])

  /** The kernel's per-partition function over a split of input rows:
    * projects them through `projection` (bound to `input`), sorts them
    * with `sort`'s sorter, routes each row and writes the files a defined
    * output asks for (a fenced table's is None).
    */
  private def kernel(projection: Seq[Expression], input: Seq[Attribute], sort: SortExec,
                     devices: Set[String], pointsOut: Option[(DataFileWriter, String)],
                     deadOut: Option[(DataFileWriter, String)]): (TaskContext, Iterator[InternalRow]) => KernelTask =
    (ctx, in) => {
      val project = UnsafeProjection.create(projection, input)
      project.initialize(ctx.partitionId)
      val rows = sort.createSorter().sort(in.map(project(_)))
      def flag(r: InternalRow, i: Int) = !r.isNullAt(i) && r.getBoolean(i)
      var pf: DataFileWriter.Open = null
      var df: DataFileWriter.Open = null
      val point = pointsOut.map { case (w, _) => ProjectingInternalRow(w.schema, PointCols) }
      val dead = deadOut.map { case (w, _) => ProjectingInternalRow(w.schema, DeadCols) }
      val keys = scala.collection.mutable.HashSet.empty[(String, String)]
      try {
        rows.foreach { r =>
          if (flag(r, DeadFlag)) {
            deadOut.foreach { case (w, dir) =>
              if (df == null) df = w.open(dir)
              dead.get.project(r)
              df.write(dead.get)
            }
          } else if (flag(r, DataFlag) && devices.contains(r.getString(0))) {
            keys += ((r.getString(0), r.getString(1)))
            pointsOut.foreach { case (w, dir) =>
              if (pf == null) pf = w.open(dir)
              point.get.project(r)
              pf.write(point.get)
            }
          }
        }
      } catch {
        case e: Throwable =>
          // the hidden files stay behind for the commit to delete
          Seq(pf, df).filter(_ != null).foreach(w => try w.close() catch { case _: Exception => () })
          throw e
      }
      KernelTask(Option(pf).map(_.close()), Option(df).map(_.close()), keys.toArray)
    }

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
