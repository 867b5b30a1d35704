package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming._

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def us(s: String): Long =
    java.sql.Timestamp.valueOf(s).getTime * 1000L

  test("streaming ingest: parse + infer + registry filter through MemoryStream") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, String, Long)]
    val msgs = in.toDF().toDF("topic", "payload", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val registry = Seq("d1", "d2").toDF("device_id")
    val points = StreamingIngest.pointsStream(msgs, registry)
    val q = points.writeStream.format("memory").queryName("pts_out")
      .outputMode("append").start()
    try {
      in.addData(
        ("openchirp/device/d1/Temp", "21.5", us("2024-01-01 00:00:01")),
        ("openchirp/device/d1/OK", "true", us("2024-01-01 00:00:02")),
        ("openchirp/device/d9/temp", "1.0", us("2024-01-01 00:00:03")), // unregistered
        ("openchirp/service/x/thing/events", "{}", us("2024-01-01 00:00:04")), // control plane
        ("openchirp/device/d2/label", "hot", us("2024-01-01 00:00:05")))
      q.processAllAvailable()
      val rows = spark.table("pts_out")
        .select("device_id", "transducer", "num", "bool", "str")
        .collect().map(r => (r.getString(0), r.getString(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
        .toSet
      assert(rows == Set(
        ("d1", "temp", Some(21.5), None, None),
        ("d1", "ok", None, Some(true), None),
        ("d2", "label", None, None, Some("hot"))))
    } finally q.stop()
  }

  test("windowed status counts finalize after watermark passes (append mode)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val points = in.toDF().toDF("device_id", "ts_us", "num")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val counts = StreamingIngest.statusCounts(points, "10 minutes", "1 minute")
    val q = counts.writeStream.format("memory").queryName("status_out")
      .outputMode("append").start()
    try {
      in.addData(("d1", us("2024-01-01 00:01:00"), 1.0), ("d2", us("2024-01-01 00:05:00"), 2.0))
      q.processAllAvailable()
      assert(spark.table("status_out").count() == 0) // window still open
      in.addData(("d1", us("2024-01-01 00:15:00"), 3.0)) // advances watermark past 00:10+1m
      q.processAllAvailable()
      val closed = spark.table("status_out")
        .select("points_written", "n_devices").as[(Long, Long)].collect()
      assert(closed.toSeq == Seq((2L, 2L)))
    } finally q.stop()
  }

  test("stream-stream interval join: matches inside the window, bounded state via watermarks") {
    implicit val sq = spark.sqlContext
    val imps = MemoryStream[(String, Long)]
    val clicks = MemoryStream[(String, Long)]
    val impDf = imps.toDF().toDF("device", "imp_us")
      .withColumn("imp_ts", timestamp_micros(col("imp_us")))
    val clickDf = clicks.toDF().toDF("device", "click_us")
      .withColumn("click_ts", timestamp_micros(col("click_us")))
    val joined = StreamJoins.intervalJoin(impDf, clickDf, "device",
        "imp_ts", "click_ts", "0 seconds", "10 minutes", "1 minute", "1 minute")
      .select(col("l.device"), col("imp_us"), col("click_us"))
    val q = joined.writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    try {
      def rows() = spark.table("ss_join_out")
        .as[(String, Long, Long)].collect().toSet
      imps.addData(("d1", us("2024-01-01 00:00:00")), ("d2", us("2024-01-01 00:00:00")))
      clicks.addData(("d1", us("2024-01-01 00:05:00"))) // inside [0, 10m]
      q.processAllAvailable()
      assert(rows() == Set(("d1", us("2024-01-01 00:00:00"), us("2024-01-01 00:05:00"))))
      // outside the interval (> 10 minutes after) and wrong key: no pairs
      clicks.addData(("d1", us("2024-01-01 00:20:00")), ("d3", us("2024-01-01 00:01:00")))
      q.processAllAvailable()
      assert(rows().size == 1)
      // a second in-window click still pairs (inner join is many-to-many)
      clicks.addData(("d2", us("2024-01-01 00:09:00")))
      q.processAllAvailable()
      assert(rows().size == 2)
    } finally q.stop()
  }

  test("InfluxQL continuous query: downsampling runs as a watermarked streaming aggregate") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val cq = graft.influxql.InfluxQL.runContinuous(points,
      "SELECT mean(value), count(value), last(value) FROM temp GROUP BY time(10m), device",
      lateness = "1 minute")
    val q = cq.writeStream.format("memory").queryName("cq_out")
      .outputMode("append").start()
    try {
      in.addData(
        ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
        ("d1", "temp", us("2024-01-01 00:02:00"), 4.0),
        ("d1", "hum", us("2024-01-01 00:03:00"), 99.0)) // other measurement: excluded
      q.processAllAvailable()
      assert(spark.table("cq_out").count() == 0, "bucket still open")
      in.addData(("d1", "temp", us("2024-01-01 00:15:00"), 7.0)) // watermark past 00:10+1m
      q.processAllAvailable()
      val closed = spark.table("cq_out")
        .select("time", "device", "mean", "count", "last")
        .as[(Long, String, Double, Long, Double)].collect().toSeq
      assert(closed == Seq((us("2024-01-01 00:00:00"), "d1", 3.0, 2L, 4.0)))
    } finally q.stop()
    // the non-incremental surface is rejected, not approximated
    def bad(s: String): String = intercept[IllegalArgumentException](
      graft.influxql.InfluxQL.runContinuous(points, s, "1 minute")).getMessage
    assert(bad("SELECT percentile(value, 90) FROM temp GROUP BY time(10m)")
      .contains("cannot run incrementally"))
    assert(bad("SELECT mean(value) FROM temp").contains("GROUP BY time()"))
    assert(bad("SELECT mean(value) FROM temp GROUP BY time(10m) LIMIT 5")
      .contains("do not apply"))
    assert(bad("SELECT mean(value) FROM temp WHERE time >= 5 GROUP BY time(10m)")
      .contains("time bounds"))
  }

  test("CREATE CONTINUOUS QUERY: closed buckets MERGE into the ACID target table") {
    implicit val sq = spark.sqlContext
    val root = tmp("cq_ddl")
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = graft.influxql.InfluxQL.startContinuousQuery(points,
      """CREATE CONTINUOUS QUERY temp_10m ON telemetry BEGIN
        |SELECT mean(value), count(value) INTO temp_10m FROM temp
        |GROUP BY time(10m), device END""".stripMargin,
      root, checkpoint = tmp("cq_ddl_cp"), lateness = "1 minute",
      trigger = Trigger.ProcessingTime(0))
    val table = new graft.storage.TxLogTable(spark, s"$root/telemetry/temp_10m")
    try {
      in.addData(
        ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
        ("d1", "temp", us("2024-01-01 00:02:00"), 4.0))
      q.processAllAvailable()
      // bucket still open: nothing committed (no table yet or empty)
      assert(table.version.isEmpty || table.read().count() == 0)
      in.addData(("d1", "temp", us("2024-01-01 00:15:00"), 7.0))
      q.processAllAvailable()
      val got = table.read().select("time", "device", "mean", "count")
        .as[(Long, String, Double, Long)].collect().toSeq
      assert(got == Seq((us("2024-01-01 00:00:00"), "d1", 3.0, 2L)))
      // a replayed merge of the same closed bucket converges (idempotent)
      graft.storage.TxLogTable.retryOnConflict() {
        table.merge(got.toDF("time", "device", "mean", "count"),
          Seq("time", "device"), Some("time")); ()
      }
      assert(table.read().count() == 1)
    } finally q.stop()
    // the DDL demands an INTO target
    assert(intercept[IllegalArgumentException](
      graft.influxql.InfluxQL.startContinuousQuery(points,
        "CREATE CONTINUOUS QUERY x ON db BEGIN SELECT mean(value) FROM temp GROUP BY time(10m) END",
        root, tmp("cq_cp2"), "1 minute")).getMessage.contains("INTO"))
  }

  test("CQ fill: emission densifies closed-bucket gaps to the batch query's skeleton") {
    implicit val sq = spark.sqlContext
    val root = tmp("cq_fill")
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = graft.influxql.InfluxQL.startContinuousQuery(points,
      """CREATE CONTINUOUS QUERY temp_f ON telemetry BEGIN
        |SELECT mean(value), count(value) INTO temp_f FROM temp
        |GROUP BY time(10m), device FILL(0) END""".stripMargin,
      root, checkpoint = tmp("cq_fill_cp"), lateness = "1 minute",
      trigger = Trigger.ProcessingTime(0))
    val table = new graft.storage.TxLogTable(spark, s"$root/telemetry/temp_f")
    val data = Seq(
      ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
      ("d1", "temp", us("2024-01-01 00:02:00"), 4.0),
      ("d2", "temp", us("2024-01-01 00:05:00"), 10.0),
      ("d1", "temp", us("2024-01-01 00:45:00"), 7.0))
    try {
      in.addData(data.take(3): _*)
      q.processAllAvailable()
      in.addData(data(3)) // watermark 00:44 closes the 00:00 buckets
      q.processAllAvailable()
      // single closed bucket so far: no gaps to synthesize
      assert(table.read().count() == 2, "one closed bucket per device, no gaps yet")
      in.addData(("d1", "temp", us("2024-01-01 01:30:00"), 1.0)) // closes 00:40
      q.processAllAvailable()
      val got = table.read().select("time", "device", "mean", "count")
        .as[(Long, String, Double, Long)].collect().toSet
      // the batch query over the same closed range with the same fill IS
      // the oracle: every device × every bucket in [00:00, 00:40], gaps 0
      val batch = data.toDF("device", "transducer", "ts_us", "value")
      val want = graft.influxql.InfluxQL.run(batch,
        "SELECT mean(value), count(value) FROM temp WHERE time >= '2024-01-01T00:00:00Z' " +
          "AND time < '2024-01-01T00:50:00Z' GROUP BY time(10m), device fill(0)")
        .select("time", "device", "mean", "count")
        .as[(Long, String, Double, Long)].collect().toSet
      assert(got == want, s"CQ target != batch fill oracle:\n got=$got\nwant=$want")
      assert(got.size == 10, "2 devices x 5 buckets")
      assert(got.contains((us("2024-01-01 00:20:00"), "d1", 0.0, 0L)), "gap filled with 0")
      // replay-idempotent: re-merging the final emission converges
      graft.storage.TxLogTable.retryOnConflict() {
        table.merge(got.toSeq.toDF("time", "device", "mean", "count"),
          Seq("time", "device"), Some("time")); ()
      }
      assert(table.read().count() == 10)
    } finally q.stop()
    // fill(null): gaps synthesize with NULL aggregates
    val in2 = MemoryStream[(String, String, Long, Double)]
    val points2 = in2.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    in2.addData(
      ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
      ("d1", "temp", us("2024-01-01 00:25:00"), 6.0),
      ("d1", "temp", us("2024-01-01 01:00:00"), 9.0)) // closes 00:00 and 00:20
    val q2 = graft.influxql.InfluxQL.startContinuousQuery(points2,
      """CREATE CONTINUOUS QUERY temp_fn ON telemetry BEGIN
        |SELECT mean(value) INTO temp_fn FROM temp
        |GROUP BY time(10m), device FILL(null) END""".stripMargin,
      root, checkpoint = tmp("cq_fill_cp2"), lateness = "1 minute")
    try q2.awaitTermination() finally q2.stop()
    val fn = new graft.storage.TxLogTable(spark, s"$root/telemetry/temp_fn")
      .read().select("time", "device", "mean")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(fn == Set(
      (us("2024-01-01 00:00:00"), "d1", Some(2.0)),
      (us("2024-01-01 00:10:00"), "d1", None),
      (us("2024-01-01 00:20:00"), "d1", Some(6.0))), fn)
    // every fill mode registers at CREATE (linear densifies retroactively)
    graft.influxql.ContinuousQueries.run(
      spark, root, "CREATE CONTINUOUS QUERY x ON telemetry BEGIN SELECT mean(value) " +
        "INTO x FROM temp GROUP BY time(10m) FILL(linear) END")
    graft.influxql.ContinuousQueries.run(
      spark, root, "DROP CONTINUOUS QUERY x ON telemetry")
  }

  test("CQ fill(previous): gaps LOCF from the committed target across batches") {
    implicit val sq = spark.sqlContext
    val root = tmp("cq_prev")
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    // the "__gap" alias is deliberate: it collides with the densifier's
    // default marker-column name, pinning the dodge-user-aliases rule
    val q = graft.influxql.InfluxQL.startContinuousQuery(points,
      """CREATE CONTINUOUS QUERY temp_p ON telemetry BEGIN
        |SELECT mean(value) AS __gap, count(value) INTO temp_p FROM temp
        |GROUP BY time(10m), device FILL(previous) END""".stripMargin,
      root, checkpoint = tmp("cq_prev_cp"), lateness = "1 minute",
      trigger = Trigger.ProcessingTime(0))
    val table = new graft.storage.TxLogTable(spark, s"$root/telemetry/temp_p")
    val data = Seq(
      ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
      ("d1", "temp", us("2024-01-01 00:02:00"), 4.0),
      ("d2", "temp", us("2024-01-01 00:05:00"), 10.0),
      ("d1", "temp", us("2024-01-01 00:45:00"), 7.0),
      ("d1", "temp", us("2024-01-01 01:30:00"), 1.0),
      ("d1", "temp", us("2024-01-01 02:30:00"), 5.0))
    try {
      in.addData(data.take(3): _*)
      q.processAllAvailable()
      in.addData(data(3)) // watermark 00:44 closes the 00:00 buckets
      q.processAllAvailable()
      in.addData(data(4)) // closes through 00:40: the LOCF seed for the
      q.processAllAvailable() // new gaps is the TARGET's committed 00:00 rows
      in.addData(data(5)) // closes through 01:30: d2's gaps now fill FROM
      q.processAllAvailable() // its committed FILLED rows (induction step)
      val got = table.read().select("time", "device", "__gap", "count")
        .as[(Long, String, Option[Double], Option[Long])].collect().toSet
      // the batch query over the same closed range IS the oracle
      val batch = data.toDF("device", "transducer", "ts_us", "value")
      val want = graft.influxql.InfluxQL.run(batch,
        "SELECT mean(value) AS __gap, count(value) FROM temp WHERE time >= '2024-01-01T00:00:00Z' " +
          "AND time < '2024-01-01T01:40:00Z' GROUP BY time(10m), device fill(previous)")
        .select("time", "device", "__gap", "count")
        .as[(Long, String, Option[Double], Option[Long])].collect().toSet
      assert(got == want, s"CQ target != batch fill(previous) oracle:\n got=$got\nwant=$want")
      assert(got.size == 20, "2 devices x 10 buckets")
      // the cross-batch seed: d1's 00:10 gap carries the 00:00 mean
      assert(got.contains((us("2024-01-01 00:10:00"), "d1", Some(3.0), Some(2L))))
      // filling from a filled row: d2's 01:00 gap still carries 10.0
      assert(got.contains((us("2024-01-01 01:00:00"), "d2", Some(10.0), Some(1L))))
      // replay-idempotent: re-merging the final emission converges
      graft.storage.TxLogTable.retryOnConflict() {
        table.merge(got.toSeq.toDF("time", "device", "__gap", "count"),
          Seq("time", "device"), Some("time")); ()
      }
      assert(table.read().count() == 20)
    } finally q.stop()
  }

  test("CQ fill(linear): committed null edges interpolate retroactively across batches") {
    implicit val sq = spark.sqlContext
    val root = tmp("cq_lin")
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = graft.influxql.InfluxQL.startContinuousQuery(points,
      """CREATE CONTINUOUS QUERY temp_l ON telemetry BEGIN
        |SELECT mean(value), count(value) INTO temp_l FROM temp
        |GROUP BY time(10m), device FILL(linear) END""".stripMargin,
      root, checkpoint = tmp("cq_lin_cp"), lateness = "1 minute",
      trigger = Trigger.ProcessingTime(0))
    val table = new graft.storage.TxLogTable(spark, s"$root/telemetry/temp_l")
    val data = Seq(
      ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
      ("d1", "temp", us("2024-01-01 00:02:00"), 4.0),
      ("d2", "temp", us("2024-01-01 00:05:00"), 10.0),
      ("d1", "temp", us("2024-01-01 00:45:00"), 7.0),
      ("d1", "temp", us("2024-01-01 01:30:00"), 1.0),
      ("d2", "temp", us("2024-01-01 01:45:00"), 26.0),
      ("d1", "temp", us("2024-01-01 03:00:00"), 9.0))
    try {
      in.addData(data.take(3): _*)
      q.processAllAvailable()
      in.addData(data(3)) // closes the 00:00 buckets
      q.processAllAvailable()
      in.addData(data(4)) // closes d1@00:40: d1's gaps interpolate NOW;
      q.processAllAvailable() // d2's trailing gaps commit as NULL edges
      in.addData(data(5)) // closes d1@01:30; d2 still has no right neighbor
      q.processAllAvailable()
      in.addData(data(6)) // closes d2@01:40: d2's committed nulls NOW
      q.processAllAvailable() // interpolate retroactively via the MERGE
      val got = table.read().select("time", "device", "mean", "count")
        .as[(Long, String, Option[Double], Option[Double])].collect().toSet
      // the batch query over the same closed range IS the oracle (count
      // promotes to double under linear, exactly the batch planner's cast)
      val batch = data.toDF("device", "transducer", "ts_us", "value")
      val want = graft.influxql.InfluxQL.run(batch,
        "SELECT mean(value), count(value) FROM temp WHERE time >= '2024-01-01T00:00:00Z' " +
          "AND time < '2024-01-01T01:50:00Z' GROUP BY time(10m), device fill(linear)")
        .select("time", "device", "mean", "count")
        .as[(Long, String, Option[Double], Option[Double])].collect().toSet
      assert(got == want, s"CQ target != batch fill(linear) oracle:\n got=$got\nwant=$want")
      assert(got.size == 22, "2 devices x 11 buckets")
      // same-batch interpolation: d1's 00:20 gap sits on the 3.0 -> 7.0
      // line, and its count on the 2.0 -> 1.0 line (promoted to double)
      assert(got.contains((us("2024-01-01 00:20:00"), "d1", Some(5.0), Some(1.5))))
      // the retroactive fill: d2's 00:20 NULL edge became 10 + 16 * 20/100
      assert(got.contains((us("2024-01-01 00:20:00"), "d2", Some(13.2), Some(1.0))))
      // d1's trailing edge after its last observed bucket stays null
      assert(got.contains((us("2024-01-01 01:40:00"), "d1", None, None)))
      // replay-idempotent: re-merging the final emission converges
      graft.storage.TxLogTable.retryOnConflict() {
        table.merge(got.toSeq.toDF("time", "device", "mean", "count"),
          Seq("time", "device"), Some("time")); ()
      }
      assert(table.read().count() == 22)
    } finally q.stop()
  }

  test("CQ fill: per-batch target reads stay FLAT while the target history grows") {
    // the round-14 'weak': fill(previous/linear) re-read the WHOLE committed
    // target per micro-batch — O(history) per batch, O(n²) over the
    // stream's life. The bounded scaffold reads only the stats sidecars,
    // the carry bucket, and (linear) the open-gap + donor rows, all
    // pushdown scans. Pin it from EXECUTED task metrics: rows read per
    // batch cycle must not trend up as the target grows ~4x.
    implicit val sq = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    def perBatchReads(fillTxt: String, name: String): Seq[Long] = {
      val root = tmp(s"cq_flat_$name")
      val in = MemoryStream[(String, String, Long, Double)]
      val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val q = graft.influxql.InfluxQL.startContinuousQuery(points,
        s"""CREATE CONTINUOUS QUERY cqf ON telemetry BEGIN
           |SELECT mean(value), count(value) INTO $name FROM temp
           |GROUP BY time(10m), device $fillTxt END""".stripMargin,
        root, checkpoint = tmp(s"cq_flat_cp_$name"), lateness = "1 minute",
        trigger = Trigger.ProcessingTime(0))
      val rowsRead = new java.util.concurrent.atomic.AtomicLong
      val l = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            rowsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      // listener bus is async: poll until the counter stops moving
      def settled(): Long = {
        var last = -1L; var still = 0
        val deadline = System.nanoTime() + 10000000000L
        while (still < 3 && System.nanoTime() < deadline) {
          Thread.sleep(50)
          val c = rowsRead.get()
          if (c == last) still += 1 else { still = 0; last = c }
        }
        rowsRead.get()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        (0 until 20).map { i =>
          val before = settled()
          // d1 reports every bucket; d2 every 3rd — so linear keeps a
          // small, bounded open-gap frontier that retro-fills (the pending
          // + donor paths stay exercised, not just the carry)
          val t0 = us("2024-01-01 00:00:30") + i * 600000000L
          if (i % 3 == 0)
            in.addData(("d1", "temp", t0, i.toDouble), ("d2", "temp", t0 + 1000000L, i * 2.0))
          else
            in.addData(("d1", "temp", t0, i.toDouble))
          q.processAllAvailable()
          settled() - before
        }
      } finally {
        q.stop()
        spark.sparkContext.removeSparkListener(l)
      }
    }
    for ((fillTxt, name) <- Seq(("FILL(previous)", "flat_p"), ("FILL(linear)", "flat_l"))) {
      val reads = perBatchReads(fillTxt, name)
      // steady state from cycle 3 (the first closures land then); compare
      // early steady batches against batches with ~4x the history behind
      // them. The old whole-target reread grew ~3x across this window.
      val early = reads.slice(4, 8).sum.toDouble / 4
      val late = reads.slice(16, 20).sum.toDouble / 4
      assert(early > 0, s"$fillTxt scan metric is dead: $reads") // the pin must measure something
      assert(late <= early * 1.8 + 20.0,
        s"$fillTxt per-batch reads grew with target history: " +
          s"early=$early late=$late all=$reads")
    }
  }

  test("CQ fill applies per cell: a present bucket's null stddev fills, matching batch") {
    implicit val sq = spark.sqlContext
    val root = tmp("cq_cell")
    val data = Seq(
      ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
      ("d1", "temp", us("2024-01-01 00:03:00"), 4.0),
      ("d1", "temp", us("2024-01-01 00:11:00"), 5.0), // 1 point: stddev null
      ("d1", "temp", us("2024-01-01 01:00:00"), 9.0)) // flush
    def drive(fillTxt: String, target: String): Set[(Long, String, Option[Double], Option[Double])] = {
      val in = MemoryStream[(String, String, Long, Double)]
      in.addData(data: _*)
      val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val q = graft.influxql.InfluxQL.startContinuousQuery(points,
        s"""CREATE CONTINUOUS QUERY $target ON telemetry BEGIN
           |SELECT stddev(value), mean(value) INTO $target FROM temp
           |GROUP BY time(10m), device $fillTxt END""".stripMargin,
        root, checkpoint = tmp(s"cq_cell_cp_$target"), lateness = "1 minute")
      try q.awaitTermination() finally q.stop()
      new graft.storage.TxLogTable(spark, s"$root/telemetry/$target")
        .read().select("time", "device", "stddev", "mean")
        .as[(Long, String, Option[Double], Option[Double])].collect().toSet
    }
    def batchWant(fillTxt: String): Set[(Long, String, Option[Double], Option[Double])] =
      graft.influxql.InfluxQL.run(data.toDF("device", "transducer", "ts_us", "value"),
        "SELECT stddev(value), mean(value) FROM temp WHERE time >= '2024-01-01T00:00:00Z' " +
          s"AND time < '2024-01-01T00:20:00Z' GROUP BY time(10m), device $fillTxt")
        .select("time", "device", "stddev", "mean")
        .as[(Long, String, Option[Double], Option[Double])].collect().toSet
    // previous: the 00:10 bucket is PRESENT (mean 5.0) but its stddev is
    // null (1 point) — it must carry 00:00's stddev, like the batch query
    val gotP = drive("FILL(previous)", "temp_cp")
    assert(gotP == batchWant("fill(previous)"), s"per-cell previous: $gotP")
    val s0 = gotP.find(_._1 == us("2024-01-01 00:00:00")).get._3
    assert(gotP.contains((us("2024-01-01 00:10:00"), "d1", s0, Some(5.0))),
      s"stddev must carry into the present bucket: $gotP")
    // a literal fill lands in the present bucket's null cell too
    val gotV = drive("FILL(250)", "temp_cv")
    assert(gotV == batchWant("fill(250)"), s"per-cell value: $gotV")
    assert(gotV.contains((us("2024-01-01 00:10:00"), "d1", Some(250.0), Some(5.0))),
      s"literal must land in the present bucket's null stddev: $gotV")
  }

  test("CQ fill: a micro-batch that closes no bucket runs its stateful plan once, as one job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    implicit val sq = spark.sqlContext
    val root = tmp("cq_jobs")
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    // Spark jobs by job group: a streaming query runs each micro-batch
    // under its runId's group, so this attributes every job to the CQ
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Int, b: Int) => a + b))
    }
    spark.sparkContext.addSparkListener(l)
    val q = graft.influxql.InfluxQL.startContinuousQuery(points,
      """CREATE CONTINUOUS QUERY temp_j ON telemetry BEGIN
        |SELECT mean(value) INTO temp_j FROM temp
        |GROUP BY time(10m), device FILL(linear) END""".stripMargin,
      root, checkpoint = tmp("cq_jobs_cp"), lateness = "1 minute",
      trigger = Trigger.ProcessingTime(0))
    try {
      // every point sits in the open 00:00 bucket: each micro-batch —
      // the data batches and any watermark-only batch — closes nothing
      Seq("00:01:00", "00:02:00", "00:03:00").zipWithIndex.foreach { case (t, i) =>
        in.addData(("d1", "temp", us(s"2024-01-01 $t"), i.toDouble))
        q.processAllAvailable()
      }
      spark.sparkContext.setJobGroup("cq-jobs-sentinel", "listener drain")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.containsKey("cq-jobs-sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.containsKey("cq-jobs-sentinel"), "listener delivered no job starts within 30 s")
      val batches = q.recentProgress.count(_.durationMs.containsKey("addBatch"))
      assert(batches >= 3, s"expected a micro-batch per added point, got $batches")
      // the one job is the batch's materialization (state-store commit
      // included); its row count rides along, so no emptiness probe re-runs
      // the aggregation and an empty batch reaches neither fill nor merge
      assert(jobs.getOrDefault(q.runId.toString, 0) == batches,
        s"${jobs.getOrDefault(q.runId.toString, 0)} jobs over $batches empty CQ micro-batches")
      assert(new graft.storage.TxLogTable(spark, s"$root/telemetry/temp_j").version.isEmpty,
        "a CQ micro-batch that closed no bucket committed")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("CQ RESAMPLE: FOR widens the watermark; EVERY yields to an AvailableNow drain") {
    implicit val sq = spark.sqlContext
    val root = tmp("cq_rs")
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = graft.influxql.InfluxQL.startContinuousQuery(points,
      """CREATE CONTINUOUS QUERY temp_rs ON telemetry RESAMPLE FOR 30m BEGIN
        |SELECT mean(value), count(value) INTO temp_rs FROM temp
        |GROUP BY time(10m), device END""".stripMargin,
      root, checkpoint = tmp("cq_rs_cp"), lateness = "1 minute",
      trigger = Trigger.ProcessingTime(0))
    val table = new graft.storage.TxLogTable(spark, s"$root/telemetry/temp_rs")
    try {
      in.addData(
        ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
        ("d1", "temp", us("2024-01-01 00:02:00"), 4.0),
        ("d1", "temp", us("2024-01-01 00:25:00"), 7.0))
      q.processAllAvailable()
      // default 1m lateness would have closed bucket 00:00 (watermark
      // 00:24 >= 00:10); FOR 30m keeps it open (watermark < 0)
      assert(table.version.isEmpty || table.read().count() == 0,
        "FOR must keep the bucket open")
      in.addData(("d1", "temp", us("2024-01-01 00:45:00"), 1.0))
      q.processAllAvailable()
      // watermark 00:15 closes exactly bucket 00:00
      val got = table.read().select("time", "device", "mean", "count")
        .as[(Long, String, Double, Long)].collect().toSeq
      assert(got == Seq((us("2024-01-01 00:00:00"), "d1", 3.0, 2L)))
    } finally q.stop()
    // EVERY maps to a ProcessingTime trigger but must NOT stall an
    // AvailableNow drain (--once maintenance runs ignore the schedule)
    val in2 = MemoryStream[(String, String, Long, Double)]
    val points2 = in2.toDF().toDF("device", "transducer", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    in2.addData(
      ("d1", "temp", us("2024-01-01 00:01:00"), 6.0),
      ("d1", "temp", us("2024-01-01 01:00:00"), 1.0)) // closes bucket 00:00
    val q2 = graft.influxql.InfluxQL.startContinuousQuery(points2,
      """CREATE CONTINUOUS QUERY temp_ev ON telemetry RESAMPLE EVERY 1h FOR 10m BEGIN
        |SELECT count(value) INTO temp_ev FROM temp GROUP BY time(10m), device END""".stripMargin,
      root, checkpoint = tmp("cq_rs_cp2"), lateness = "1 minute")
    try q2.awaitTermination() finally q2.stop()
    val drained = new graft.storage.TxLogTable(spark, s"$root/telemetry/temp_ev")
      .read().select("time", "device", "count")
      .as[(Long, String, Long)].collect().toSeq
    assert(drained == Seq((us("2024-01-01 00:00:00"), "d1", 1L)))
    // validation: FOR below the GROUP BY interval fails at parse time
    assert(intercept[IllegalArgumentException](
      graft.influxql.InfluxQL.startContinuousQuery(points2,
        """CREATE CONTINUOUS QUERY x ON db RESAMPLE FOR 5m BEGIN
          |SELECT mean(value) INTO x FROM temp GROUP BY time(10m) END""".stripMargin,
        root, tmp("cq_rs_cp3"), "1 minute")).getMessage.contains("at least the GROUP BY"))
    assert(intercept[IllegalArgumentException](
      graft.influxql.InfluxQL.startContinuousQuery(points2,
        """CREATE CONTINUOUS QUERY x ON db RESAMPLE BEGIN
          |SELECT mean(value) INTO x FROM temp GROUP BY time(10m) END""".stripMargin,
        root, tmp("cq_rs_cp4"), "1 minute")).getMessage.contains("EVERY <dur> and/or FOR"))
  }

  test("registry CDC applies new/update/delete in event-time order per device") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val in = MemoryStream[RegistryCdc.ServiceEvent]
    val q = RegistryCdc.apply(in.toDS()).writeStream
      .format("memory").queryName("cdc_out").outputMode("update").start()
    try {
      in.addData(
        RegistryCdc.ServiceEvent("d1", "new", Seq("Temp", "Hum"), 100),
        RegistryCdc.ServiceEvent("d2", "new", Seq("X"), 100))
      q.processAllAvailable()
      in.addData(
        RegistryCdc.ServiceEvent("d1", "update", Seq("temp", "pressure"), 200),
        RegistryCdc.ServiceEvent("d2", "delete", Nil, 200))
      q.processAllAvailable()
      val last = spark.table("cdc_out")
        .groupBy("deviceId")
        .agg(max_by(struct(col("transducers"), col("active")), col("asOfUs")).as("s"))
        .select(col("deviceId"), col("s.transducers"), col("s.active"))
        .collect().map(r => (r.getString(0), r.getSeq[String](1).toSet, r.getBoolean(2))).toSet
      assert(last == Set(
        ("d1", Set("temp", "pressure"), true),
        ("d2", Set.empty[String], false)))
    } finally q.stop()
  }

  test("CDC batch replay: snapshot-after-stream-start race resolves by event time") {
    implicit val s = spark
    // snapshot (loaded at ts=150) races an update (ts=200): update must win,
    // mirroring the events-before-snapshot bootstrap of influx_service.py:424-432
    val events = Seq(
      RegistryCdc.ServiceEvent("d1", "new", Seq("a"), 150),   // snapshot row
      RegistryCdc.ServiceEvent("d1", "update", Seq("b"), 200),
      RegistryCdc.ServiceEvent("d2", "delete", Nil, 120),
      RegistryCdc.ServiceEvent("d2", "new", Seq("x"), 100)).toDS()
    val out = RegistryCdc.replayBatch(events).collect()
      .map(r => (r.deviceId, r.transducers.toSet, r.active)).toSet
    assert(out == Set(("d1", Set("b"), true), ("d2", Set.empty[String], false)))
  }

  test("MQTT-like DSv2 source: wildcard subscribe, offsets, arrival stamping") {
    MqttBus.clear()
    MqttBus.publish("openchirp/device/d1/temp", "1.5")
    MqttBus.publish("openchirp/service/s1/thing/events", """{"action":"new"}""")
    MqttBus.publish("openchirp/device/d2/hum", "2.5")
    val stream = spark.readStream
      .format("graft.streaming.MqttLikeSource")
      .option("topics", "openchirp/device/+/+")
      .load()
    val q = stream.selectExpr("topic", "cast(payload as string) AS p")
      .writeStream.format("memory").queryName("mqtt_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      MqttBus.publish("openchirp/device/d3/co2", "3.5") // arrives in a later micro-batch
      q.processAllAvailable()
      val got = spark.table("mqtt_out").as[(String, String)].collect().toSet
      assert(got == Set(
        ("openchirp/device/d1/temp", "1.5"),
        ("openchirp/device/d2/hum", "2.5"),
        ("openchirp/device/d3/co2", "3.5")))
    } finally q.stop()
  }

  test("MQTT source admission control: a backlog drains as capped micro-batches, nothing lost") {
    MqttBus.clear()
    (0 until 100).foreach(i => MqttBus.publish(s"openchirp/device/d$i/temp", s"$i.0"))
    val stream = spark.readStream
      .format("graft.streaming.MqttLikeSource")
      .option("topics", "openchirp/device/+/+")
      .option("maxMessagesPerTrigger", "30")
      .load()
    val q = stream.selectExpr("topic")
      .writeStream.format("memory").queryName("mqtt_capped").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mqtt_capped").count() == 100, "the cap must delay, never drop")
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.length >= 4, s"backlog should span >= ceil(100/30) batches: ${batches.toSeq}")
      assert(batches.forall(_ <= 30), s"batch exceeded the cap: ${batches.toSeq}")
    } finally q.stop()

    // Trigger.AvailableNow must RESPECT the cap (SupportsTriggerAvailableNow:
    // without it Spark fetches one allAvailable batch, silently bypassing
    // admission control in the very backlog-drain scenario it exists for)
    val stream2 = spark.readStream
      .format("graft.streaming.MqttLikeSource")
      .option("topics", "openchirp/device/+/+")
      .option("maxMessagesPerTrigger", "30")
      .load()
    val q2 = stream2.selectExpr("topic")
      .writeStream.format("memory").queryName("mqtt_avail_now")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      assert(q2.awaitTermination(60000), "AvailableNow query should self-terminate")
      assert(spark.table("mqtt_avail_now").count() == 100)
      val b2 = q2.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(b2.length >= 4 && b2.forall(_ <= 30),
        s"AvailableNow bypassed the cap: ${b2.toSeq}")
    } finally q2.stop()
  }

  test("MQTT topic-scoped source: other topics never wake it; its own arrive exactly once, across a restart") {
    MqttBus.clear()
    val x = "openchirp/service/s1/thing/events"
    val y = "openchirp/device/d1/temp"
    val cp = tmp("scoped_cp")
    // every micro-batch the query runs, with the payloads it saw
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    def start() = spark.readStream
      .format("graft.streaming.MqttLikeSource")
      .option("topics", x)
      .load()
      .selectExpr("cast(payload as string) AS p")
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(b.as[String].collect().toSeq); ()
      }
      .start()
    def seen = batches.toArray.toSeq.asInstanceOf[Seq[Seq[String]]]
    (0 until 50).foreach(i => MqttBus.publish(y, s"$i"))
    val q = start()
    try {
      q.processAllAvailable()
      (0 until 100).foreach(i => MqttBus.publish(y, s"$i"))
      q.processAllAvailable()
      assert(seen.isEmpty, s"other topics woke the scoped query: $seen")
      MqttBus.publish(x, "x1")
      MqttBus.publish(y, "late")
      q.processAllAvailable()
      assert(seen == Seq(Seq("x1")), s"got $seen")
      // interleaved traffic: each own message once, in one batch or several
      MqttBus.publish(y, "a"); MqttBus.publish(x, "x2"); MqttBus.publish(y, "b")
      MqttBus.publish(x, "x3"); MqttBus.publish(y, "c")
      q.processAllAvailable()
      assert(seen.flatten == Seq("x1", "x2", "x3"), s"got $seen")
    } finally q.stop()
    // traffic while the query is down, then a restart from the checkpoint
    MqttBus.publish(x, "x4"); MqttBus.publish(y, "d"); MqttBus.publish(x, "x5")
    MqttBus.publish(y, "e")
    val q2 = start()
    try {
      q2.processAllAvailable()
      MqttBus.publish(y, "f"); MqttBus.publish(x, "x6")
      q2.processAllAvailable()
      assert(seen.flatten == Seq("x1", "x2", "x3", "x4", "x5", "x6"),
        s"lost or duplicated across the restart: $seen")
      assert(seen.forall(_.nonEmpty), s"an empty micro-batch ran: $seen")
    } finally q2.stop()
  }

  test("dead-letter sink: unroutable messages quarantined with reason, none swallowed") {
    implicit val sq = spark.sqlContext
    val root = tmp("dl_out")
    val deadLetters = new graft.storage.TxLogTable(spark, s"$root/dead_letters")
    val in = MemoryStream[(String, String, Long)]
    val msgs = in.toDF().toDF("topic", "payload", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingIngest.startDataPlane(msgs, "openchirp/service/svc1/thing/events",
      points = new graft.storage.TxLogTable(spark, s"$root/points"), deadLetters = deadLetters,
      registered = () => Set("dev1"), appId = "dl-test", checkpoint = tmp("dl_cp"),
      trigger = Trigger.ProcessingTime(0))
    try {
      in.addData(
        ("openchirp/device/dev1/temp", "21.5", us("2024-01-01 00:00:01")),   // data-plane
        ("openchirp/service/svc1/thing/events", "{}", us("2024-01-01 00:00:02")), // control
        ("noise/garbage", "x", us("2024-01-01 00:00:03")),                   // dead letter
        ("openchirp/device/too/many/segments", "y", us("2024-01-01 00:00:04"))) // dead letter
      q.processAllAvailable()
      val dl = deadLetters.read().select("topic", "dl_reason")
        .as[(String, String)].collect().toSet
      assert(dl == Set(("noise/garbage", "unroutable_topic"),
        ("openchirp/device/too/many/segments", "unroutable_topic")))
    } finally q.stop()
  }

  test("streaming MERGE sink: micro-batches upsert into the ACID table, replays converge") {
    implicit val sq = spark.sqlContext
    val table = new graft.storage.TxLogTable(spark, tmp("msink") + "/t")
    val cp = tmp("msink_cp")
    val in = MemoryStream[(String, Double, Long)]
    val updates = in.toDF().toDF("device_id", "reading", "as_of_us")
    val q = StreamingIngest.startMergeSink(updates, table,
      keys = Seq("device_id"), orderCol = "as_of_us", checkpoint = cp,
      trigger = Trigger.ProcessingTime(0))
    try {
      in.addData(("d1", 1.0, 100L), ("d2", 2.0, 100L))
      q.processAllAvailable()
      in.addData(("d1", 5.0, 200L), ("d3", 3.0, 150L)) // upsert d1, insert d3
      q.processAllAvailable()
      val got = table.read().as[(String, Double, Long)].collect().toSet
      assert(got == Set(("d1", 5.0, 200L), ("d2", 2.0, 100L), ("d3", 3.0, 150L)))
      // an at-least-once REPLAY of an old batch (stale order values) must
      // not regress the table — the order column makes the merge idempotent
      graft.storage.TxLogTable.retryOnConflict() {
        table.merge(Seq(("d1", 1.0, 100L)).toDF("device_id", "reading", "as_of_us"),
          Seq("device_id"), Some("as_of_us")); ()
      }
      assert(table.read().as[(String, Double, Long)].collect().toSet == got)
    } finally q.stop()
  }

  test("append sink: sorted files; replays and unregistered batches commit nothing") {
    implicit val sq = spark.sqlContext
    val root = tmp("append_sink")
    val table = new graft.storage.TxLogTable(spark, s"$root/points")
    // two input splits per batch: the sink writes one file per split
    val in = MemoryStream[(String, Long, Double)](2)
    val msgs = in.toDF().toDF("device_id", "ts_us", "num")
      .select(concat(lit("openchirp/device/"), col("device_id"), lit("/temp")).as("topic"),
        col("num").cast("string").as("payload"), timestamp_micros(col("ts_us")).as("ts"))
    val cp = tmp("append_sink_cp")
    def start() = StreamingIngest.startDataPlane(msgs, "openchirp/service/s/thing/events",
      points = table, deadLetters = new graft.storage.TxLogTable(spark, s"$root/dead_letters"),
      registered = () => Set("dev01", "dev02", "dev03"), appId = "append-sink-test",
      checkpoint = cp, trigger = Trigger.ProcessingTime(0))
    def dataDirs = new java.io.File(s"$root/points").listFiles.count(_.getName.startsWith("d-"))
    val q = start()
    try {
      // arrival order is neither device- nor time-sorted
      in.addData(("dev02", us("2024-01-01 00:00:03"), 1.0), ("dev01", us("2024-01-01 00:00:02"), 2.0),
        ("ghost", us("2024-01-01 00:00:01"), 9.0), ("dev02", us("2024-01-01 00:00:01"), 3.0),
        ("dev01", us("2024-01-01 00:00:01"), 4.0), ("dev03", us("2024-01-01 00:00:05"), 5.0),
        ("dev01", us("2024-01-01 00:00:00"), 6.0), ("dev02", us("2024-01-01 00:00:02"), 7.0))
      q.processAllAvailable()
      assert(table.version.contains(0L) && dataDirs == 1)
      // every row of this batch is unregistered: nothing is written, the
      // version stays, and no new dir is left behind
      in.addData(("ghost", us("2024-01-02 00:00:01"), 1.0), ("ghost2", us("2024-01-02 00:00:02"), 2.0))
      q.processAllAvailable()
      assert(table.version.contains(0L), s"an all-unregistered batch committed: ${table.version}")
      assert(dataDirs == 1, s"an all-unregistered batch left $dataDirs data dirs")
      in.addData(("dev03", us("2024-01-03 00:00:02"), 8.0), ("dev01", us("2024-01-03 00:00:01"), 9.0))
      q.processAllAvailable()
      assert(table.version.contains(1L) && dataDirs == 2)
    } finally q.stop()

    // replay: drop the last batch's commit marker, so a restart from the
    // checkpoint re-runs batch 2 — the txn fence makes it a no-op
    val commits = new java.io.File(s"$cp/commits")
    val last = commits.listFiles.map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(last == 2L)
    new java.io.File(commits, last.toString).delete()
    new java.io.File(commits, s".$last.crc").delete()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(new java.io.File(commits, last.toString).exists(), "the restart did not re-run batch 2")
    assert(table.version.contains(1L), s"a replayed batch committed again: ${table.version}")
    assert(dataDirs == 2, s"a replayed batch wrote: $dataDirs data dirs")
    assert(table.read().select("num").as[Double].collect().sorted.toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0))

    // every committed file is sorted on (device_id, ts), so parquet
    // row-group min/max skip a device probe
    val files = table.dirPaths(1L).flatMap(d => new java.io.File(d).listFiles.toSeq)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getPath)
    assert(files.size >= 2, s"expected one file per input split, got $files")
    files.foreach { f =>
      val rows = spark.read.parquet(f).select("device_id", "ts_us").as[(String, Long)].collect().toSeq
      assert(rows == rows.sorted, s"$f is not sorted on (device_id, ts): $rows")
    }
  }

  test("data plane kernel: committed points and dead letters equal the batch pipeline, bit for bit") {
    implicit val sq = spark.sqlContext
    import graft.ingest.Ingest
    val events = "openchirp/service/s/thing/events"
    val rnd = new scala.util.Random(20261020L)
    // every payload kind: float, integer, boolean spellings, plain and
    // empty strings, and the IEEE corner cases
    val payloads = Seq("21.5", "-0.0", "42", "1e3", "NaN", "-Infinity", " 7 ",
      "true", "True", "false", "False", "TRUE", "open", "")
    val topics = Seq("openchirp/device/dev1/Temp", "openchirp/device/dev2/hum",
      "openchirp/device/dev3/x", "openchirp/device/ghost/temp", "noise/garbage",
      "openchirp/device/too/many/segments", "openchirp/device//temp", events)
    val msgs = (0 until 400).map(_ => (topics(rnd.nextInt(topics.size)),
      payloads(rnd.nextInt(payloads.size)), 1704067200000000L + rnd.nextInt(60) * 1000L))
    val registered = Set("dev1", "dev2", "dev3")
    val root = tmp("kernel_diff")
    val points = new graft.storage.TxLogTable(spark, s"$root/points")
    val deadLetters = new graft.storage.TxLogTable(spark, s"$root/dead_letters")
    val in = MemoryStream[(String, String, Long)](3)
    def asMessages(df: org.apache.spark.sql.DataFrame) = df.toDF("topic", "payload", "ts_us")
      .select(col("topic"), col("payload"), timestamp_micros(col("ts_us")).as("ts"))
    val q = StreamingIngest.startDataPlane(asMessages(in.toDF()), events,
      points = points, deadLetters = deadLetters, registered = () => registered,
      appId = "kernel-diff", checkpoint = tmp("kernel_diff_cp"), trigger = Trigger.ProcessingTime(0))
    try {
      msgs.grouped(200).foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val batch = asMessages(msgs.toDF())
    val wantPoints = Ingest.narrowPoints(Ingest.registryFilter(
        Ingest.inferTypes(Ingest.parseTopic(batch.filter(Ingest.dataTopicFilter))),
        registered.toSeq.toDF("device_id")))
      .withColumn("ts_us", unix_micros(col("ts")))
    val wantDead = batch.filter(Ingest.isDeadLetter(events))
      .select(col("topic"), col("payload"), col("ts"), lit("unroutable_topic").as("dl_reason"))
    // doubles compare by their bits: -0.0 and NaN must survive as written
    def bits(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().toSeq
      .map(_.toSeq.map { case d: Double => java.lang.Double.doubleToRawLongBits(d); case x => x }
        .mkString("|")).sorted
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(shape(points.read()) == shape(wantPoints))
    assert(shape(deadLetters.read()) == shape(wantDead))
    val got = bits(points.read())
    assert(got.size > 50 && got == bits(wantPoints))
    val dead = bits(deadLetters.read())
    assert(dead.nonEmpty && dead == bits(wantDead))
  }

  test("data plane kernel: each file's row order equals sortWithinPartitions of its input split") {
    implicit val sq = spark.sqlContext
    import graft.ingest.Ingest
    val events = "openchirp/service/s/thing/events"
    val registered = Set("dev1", "dev2")
    val t0 = 1704067200000000L
    // ties on (device_id, ts) with different transducers, in an arrival
    // order that is not transducer-sorted, spread over three input splits
    val batches = Seq(
      (0 until 90).map { i =>
        val td = Seq("x", "Temp", "hum")((i / 3 + i) % 3)
        (s"openchirp/device/dev${1 + i / 3 % 2}/$td", s"${i % 7}.25", t0 + (i / 6) % 4 * 1000L)
      },
      (0 until 60).map { i =>
        val dev = Seq("dev2", "dev1", "ghost")(i % 3)
        (s"openchirp/device/$dev/t${(60 - i) % 5}", if (i % 4 == 0) "-0.0" else s"$i", t0 + (i % 3) * 1000L)
      })
    def asMessages(df: org.apache.spark.sql.DataFrame) = df.toDF("topic", "payload", "ts_us")
      .select(col("topic"), col("payload"), timestamp_micros(col("ts_us")).as("ts"))
    def bits(r: org.apache.spark.sql.Row): String =
      r.toSeq.map { case d: Double => java.lang.Double.doubleToRawLongBits(d); case x => x }.mkString("|")
    // the reference: the batch pipeline's registered points, sorted
    // within each input split of the same micro-batch
    val want = new java.util.concurrent.ConcurrentHashMap[Long, Map[Int, Seq[String]]]()
    val refIn = MemoryStream[(String, String, Long)](3)
    val ref = asMessages(refIn.toDF()).writeStream
      .option("checkpointLocation", tmp("kernel_order_ref_cp"))
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val sorted = Ingest.inferTypes(Ingest.parseTopic(b))
          .withColumn("ts_us", unix_micros(col("ts")))
          .sortWithinPartitions("device_id", "ts")
          .filter(Ingest.dataTopicFilter && col("device_id").isin(registered.toSeq: _*))
          .select("device_id", "transducer", "ts", "num", "bool", "str", "ts_us")
        val parts = sorted.rdd.mapPartitionsWithIndex((p, rows) => Iterator((p, rows.map(bits).toList)))
          .collect().filter(_._2.nonEmpty).toMap
        want.put(id, parts); ()
      }
      .start()
    val root = tmp("kernel_order")
    val points = new graft.storage.TxLogTable(spark, s"$root/points")
    val in = MemoryStream[(String, String, Long)](3)
    val q = StreamingIngest.startDataPlane(asMessages(in.toDF()), events,
      points = points, deadLetters = new graft.storage.TxLogTable(spark, s"$root/dead_letters"),
      registered = () => registered, appId = "kernel-order", checkpoint = tmp("kernel_order_cp"),
      trigger = Trigger.ProcessingTime(0))
    val PartFile = "part-(\\d+)-.*\\.parquet".r
    val got = try {
      batches.map { b =>
        in.addData(b); refIn.addData(b)
        q.processAllAvailable(); ref.processAllAvailable()
        val dirs = points.dirPaths(points.version.get).toSet --
          points.version.filter(_ > 0).map(v => points.dirPaths(v - 1)).getOrElse(Nil)
        dirs.toSeq.flatMap(d => new java.io.File(d).listFiles.toSeq).flatMap { f =>
          f.getName match {
            case PartFile(p) => Some(p.toInt -> spark.read.parquet(f.getPath).collect().toSeq.map(bits))
            case _ => None
          }
        }.toMap
      }
    } finally { q.stop(); ref.stop() }
    assert(got.size == 2 && got.forall(_.size >= 2), s"expected several splits per batch: ${got.map(_.keySet)}")
    assert(got.flatMap(_.values).exists { rows =>
        val keys = rows.map(_.split('|')).map(f => (f(0), f(2)))
        keys.distinct.size < keys.size
      },
      "no file holds a (device_id, ts) tie")
    got.zipWithIndex.foreach { case (files, i) =>
      assert(files == want.get(i.toLong), s"batch $i: file order differs from sortWithinPartitions")
    }
  }

  test("data plane kernel: planned once per query; a batch of another schema is refused") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val events = "openchirp/service/s/thing/events"
    val root = tmp("kernel_once")
    val in = MemoryStream[(String, String, Long)](2)
    val msgs = in.toDF().toDF("topic", "payload", "ts_us")
      .select(col("topic"), col("payload"), timestamp_micros(col("ts_us")).as("ts"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add((f, qe.executedPlan))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val prepared = StreamingIngest.kernelsPrepared.get
    val q = StreamingIngest.startDataPlane(msgs, events,
      points = new graft.storage.TxLogTable(spark, s"$root/points"),
      deadLetters = new graft.storage.TxLogTable(spark, s"$root/dead_letters"),
      registered = () => Set("d1"), appId = "kernel-once", checkpoint = s"$root/cp",
      trigger = Trigger.ProcessingTime(0))
    try {
      (1 to 4).foreach { i =>
        in.addData((s"openchirp/device/d1/t$i", s"$i.5", i * 1000L), ("noise", "x", i * 1000L))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(StreamingIngest.kernelsPrepared.get - prepared == 1,
      s"the kernel was prepared ${StreamingIngest.kernelsPrepared.get - prepared} times for one query")
    // drain the asynchronous listener bus with a sentinel query
    spark.range(1).toDF("kernel_once_sentinel").collect()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def seen = plans.toArray(Array.empty[(String, SparkPlan)]).exists(_._2.output.exists(_.name == "kernel_once_sentinel"))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
    spark.listenerManager.unregister(l)
    assert(seen, "listeners delivered nothing within 30 s")
    val kernels = plans.toArray(Array.empty[(String, SparkPlan)]).toSeq.collect { case ("data plane", p) => p }
    assert(kernels.size == 4, s"expected one kernel execution per batch, got ${kernels.size}")
    // every batch shows the one prepared projection and sort, its scan
    // rebound to that batch's own rows
    val sorts = kernels.map(_.collectFirst { case s: SortExec => s.sortOrder }.get)
    val projections = kernels.map(_.collectFirst { case p: ProjectExec => p.projectList }.get)
    assert(sorts.forall(_ eq sorts.head) && projections.forall(_ eq projections.head),
      "a batch planned its own kernel")
    assert(kernels.map(_.collectFirst { case r: RDDScanExec => r.rdd.id }.get).distinct.size == 4)

    // a batch the kernel was not compiled for fails before any work: another
    // type, another name, or a column nullable where the source's is not
    val k = new StreamingIngest.Kernel(spark, msgs.schema, events)
    def refused(batch: org.apache.spark.sql.DataFrame) =
      intercept[IllegalArgumentException](k.run(batch, Set("d1"), None, None)).getMessage
    val good = Seq(("openchirp/device/d1/t", "1.5", 1000L)).toDF("topic", "payload", "ts_us")
    assert(refused(good.select(col("topic"), col("payload"), col("ts_us").as("ts")))
      .contains("not the one its kernel was compiled for"))
    assert(refused(good.select(col("topic"), col("payload").as("value"), timestamp_micros(col("ts_us")).as("ts")))
      .contains("not the one its kernel was compiled for"))
    assert(!msgs.schema("ts").nullable)
    assert(refused(Seq(("openchirp/device/d1/t", "1.5", Option(1000L))).toDF("topic", "payload", "ts_us")
      .select(col("topic"), col("payload"), timestamp_micros(col("ts_us")).as("ts")))
      .contains("not the one its kernel was compiled for"))
    val out = k.run(good.select(col("topic"), col("payload"), timestamp_micros(col("ts_us")).as("ts")),
      Set("d1"), None, None)
    assert(out.flatMap(_.keys).toSeq == Seq(("d1", "t")))
  }

  test("streaming wide view: dedup + map build close after watermark, duplicates collapse") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device_id", "transducer", "ts_us", "num")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val wide = StreamingIngest.wideViewStream(points, "1 minute")
    val q = wide.writeStream.format("memory").queryName("wide_out")
      .outputMode("append").start()
    try {
      in.addData(
        ("d1", "temp", us("2024-01-01 00:00:01"), 21.5),
        ("d1", "temp", us("2024-01-01 00:00:01"), 21.5), // redelivery: must collapse
        ("d1", "hum", us("2024-01-01 00:00:01"), 0.4))
      q.processAllAvailable()
      assert(spark.table("wide_out").count() == 0) // watermark not yet past
      in.addData(("d1", "temp", us("2024-01-01 00:10:00"), 22.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("wide_out")
        .select(col("device_id"), col("fields"))
        .collect().map(r => (r.getString(0), r.getMap[String, Double](1).toMap))
      assert(rows.toSeq == Seq(("d1", Map("temp" -> 21.5, "hum" -> 0.4))))
    } finally q.stop()
  }

  test("streaming wide view: watermark EVICTS dedup + agg state, not just closes rows") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, String, Long, Double)]
    val points = in.toDF().toDF("device_id", "transducer", "ts_us", "num")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val wide = StreamingIngest.wideViewStream(points, "1 minute")
    val q = wide.writeStream.format("memory").queryName("wide_state_out")
      .outputMode("append").start()
    try {
      // 20 open keys x 2 transducers: 40 dedup rows + 20 agg groups in state
      val t0 = us("2024-01-01 00:00:00")
      in.addData((0 until 20).flatMap(i => Seq(
        (s"d$i", "temp", t0 + i, 1.0), (s"d$i", "hum", t0 + i, 2.0))): _*)
      q.processAllAvailable()
      def stateRows: Seq[Long] = q.lastProgress.stateOperators.map(_.numRowsTotal).toSeq
      val before = stateRows
      assert(before.sum >= 60L, s"open keys must be IN state, got $before")
      // advance the watermark far past t0: the 100 TB posture claim is that
      // state is bounded by the lateness horizon, so every closed row must
      // LEAVE the store, not linger behind the emitted output
      in.addData(("flush", "temp", us("2024-01-01 01:00:00"), 0.0))
      q.processAllAvailable()
      assert(spark.table("wide_state_out").count() == 20, "all closed keys emitted")
      val after = stateRows
      assert(after.sum <= 4L,
        s"watermark must evict closed state rows: before=$before after=$after")
    } finally q.stop()
  }

  test("CDC -> MERGE-maintained registry table -> ingest semi-join (R11 closes into R6)") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val tablePath = tmp("reg_table") + "/registry"
    val cp = tmp("reg_cp")
    val in = MemoryStream[RegistryCdc.ServiceEvent]
    val q = RegistryMaintenance.start(RegistryCdc.apply(in.toDS()), tablePath, cp,
      Trigger.ProcessingTime(0))
    try {
      in.addData(
        RegistryCdc.ServiceEvent("d1", "new", Seq("Temp"), 100),
        RegistryCdc.ServiceEvent("d2", "new", Seq("Hum"), 100))
      q.processAllAvailable()
      in.addData(RegistryCdc.ServiceEvent("d2", "delete", Nil, 200))
      q.processAllAvailable()

      // the ingest path reads the SAME table the CDC stream maintains
      val reg = RegistryMaintenance.activeDevices(spark, tablePath)
      assert(reg.as[String].collect().toSeq == Seq("d1")) // d2 soft-deleted
      val msgs = Seq(
        ("openchirp/device/d1/temp", "1.5"), // registered
        ("openchirp/device/d2/hum", "2.0"),  // deleted -> dropped
        ("openchirp/device/d3/co2", "3.0"))  // never registered -> dropped
        .toDF("topic", "payload")
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      val pts = graft.ingest.Ingest.narrowPoints(
        graft.ingest.Ingest.registryFilter(
          graft.ingest.Ingest.inferTypes(graft.ingest.Ingest.parseTopic(msgs)), reg))
      assert(pts.select("device_id").as[String].collect().toSeq == Seq("d1"))

      // a LATE re-create beats the delete by event time, replay-safely
      in.addData(RegistryCdc.ServiceEvent("d2", "new", Seq("Hum"), 300))
      q.processAllAvailable()
      assert(RegistryMaintenance.activeDevices(spark, tablePath)
        .as[String].collect().toSet == Set("d1", "d2"))
    } finally q.stop()
  }

  test("status publisher emits the reference's JSON shape per closed window") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val points = in.toDF().toDF("device_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val published = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val q = StatusPublisher.start(
      StreamingIngest.statusCounts(points, "10 minutes", "1 minute"),
      statusTopic = "openchirp/service/sid/status",
      publish = (t, p) => published.add((t, p)),
      checkpoint = tmp("status_cp"),
      trigger = Trigger.ProcessingTime(0))
    try {
      in.addData(("d1", us("2024-01-01 00:01:00")), ("d1", us("2024-01-01 00:02:00")))
      q.processAllAvailable()
      in.addData(("d1", us("2024-01-01 00:20:00")))
      q.processAllAvailable()
      val msgs = published.toArray(Array.empty[(String, String)])
      assert(msgs.toSeq == Seq(("openchirp/service/sid/status",
        """{"message": "Points written 10 min avg: 2 / #Devices: 1"}""")))
    } finally q.stop()
  }

  test("stream-stream interval join: purchase joins clicks within the last 10 minutes") {
    implicit val sq = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long)]
    val purchasesIn = MemoryStream[(Long, Long, Double)]
    val clicks = clicksIn.toDF().toDF("c_user", "cts_us")
      .withColumn("cts", timestamp_micros(col("cts_us")))
      .withWatermark("cts", "1 minute")
    val purchases = purchasesIn.toDF().toDF("user_id", "pts_us", "amount")
      .withColumn("pts", timestamp_micros(col("pts_us")))
      .withWatermark("pts", "1 minute")
    val joined = purchases.join(clicks,
      expr("user_id = c_user AND cts <= pts AND cts >= pts - INTERVAL 10 MINUTES"),
      "inner")
    val q = joined.select(col("user_id"), col("amount"), col("cts_us"))
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      clicksIn.addData((1L, us("2024-01-01 00:00:00")), (1L, us("2024-01-01 00:30:00")),
        (2L, us("2024-01-01 00:05:00")))
      purchasesIn.addData((1L, us("2024-01-01 00:05:00"), 9.5), // joins click@00:00
        (1L, us("2024-01-01 00:31:00"), 3.0),                   // joins click@00:30
        (2L, us("2024-01-01 00:40:00"), 7.0))                   // click too old: no row
      q.processAllAvailable()
      val got = spark.table("ssj_out").select("user_id", "amount", "cts_us")
        .as[(Long, Double, Long)].collect().toSet
      assert(got == Set(
        (1L, 9.5, us("2024-01-01 00:00:00")),
        (1L, 3.0, us("2024-01-01 00:30:00"))))
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates with watermark-bounded state") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val docs = in.toDF().toDF("fp", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val deduped = docs.withWatermark("ts", "10 minutes").dropDuplicates("fp")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(("a", us("2024-01-01 00:00:01")), ("a", us("2024-01-01 00:00:02")),
        ("b", us("2024-01-01 00:00:03")))
      q.processAllAvailable()
      in.addData(("a", us("2024-01-01 00:01:00")), ("c", us("2024-01-01 00:01:30")))
      q.processAllAvailable()
      val fps = spark.table("dedup_out").select("fp").as[String].collect().sorted
      assert(fps.toSeq == Seq("a", "b", "c")) // duplicate 'a's dropped across batches
    } finally q.stop()
  }

  test("streaming session windows close after the gap + watermark") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val pts = in.toDF().toDF("device_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val sessions = pts
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "5 minutes"), col("device_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("device_id"), col("session_window.start").as("s"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      in.addData(("d1", us("2024-01-01 00:00:00")), ("d1", us("2024-01-01 00:03:00")),
        ("d1", us("2024-01-01 00:20:00"))) // gap > 5 min closes first session
      q.processAllAvailable()
      in.addData(("d1", us("2024-01-01 01:00:00"))) // advance watermark
      q.processAllAvailable()
      val closed = spark.table("sess_out").select("n").as[Long].collect().sorted
      assert(closed.contains(2L)) // the two-event session closed with n=2
    } finally q.stop()
  }

  test("streaming image dedup-at-ingest: each batch probes, then folds into the persisted index") {
    implicit val sq = spark.sqlContext
    import graft.operators.MultimodalOps
    val in = MemoryStream[Long]
    val idx = tmp("phash_idx")
    // existing corpus, indexed once (decode + DCT paid here, never again)
    MultimodalOps.buildPhashIndex(
      spark.createDataset(Seq(1L, 2L, 3L))
        .map(id => MultimodalOps.MediaRow(id, MultimodalOps.synthImage(id), "image")),
      idx)
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    // stream elements are (newId, contentOf) pairs encoded as newId*1000 + src
    val q = in.toDS().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], batchId: Long) =>
        val media = batch.map(code => MultimodalOps.MediaRow(
          code / 1000, MultimodalOps.synthImage(code % 1000), "image"))
        val pairs = MultimodalOps.phashProbe(media, idx, maxHamming = 0)
          .select("doc_a", "doc_b").as[(Long, Long)].collect()
        hits.synchronized { hits ++= pairs }
        // fold the batch in, fenced on batchId: a foreachBatch replay
        // must not append the same hashes twice
        MultimodalOps.buildPhashIndex(media, idx, Some(("phash-fold", batchId)))
        ()
      }.start()
    try {
      // batch 1: id 101 duplicates corpus image 1, id 102 is fresh content
      in.addData(101L * 1000 + 1, 102L * 1000 + 44)
      q.processAllAvailable()
      assert(hits.synchronized(hits.toSet) == Set((1L, 101L)),
        s"batch 1 should match only the corpus duplicate: $hits")
      // batch 2: id 201 duplicates 101 (folded last batch, never re-decoded)
      in.addData(201L * 1000 + 1)
      q.processAllAvailable()
      assert(hits.synchronized(hits.toSet) == Set((1L, 101L), (1L, 201L), (101L, 201L)),
        s"batch 2 should match both prior copies of the content: $hits")
    } finally q.stop()
  }

  test("streaming curation: incoming docs score against the persisted DSIR model, MERGE idempotent") {
    implicit val sq = spark.sqlContext
    val root = tmp("curation")
    // the importance model is built ONCE from a static reference corpus;
    // the stream then scores every arriving document against it — the
    // continuous-crawl curation shape (probe per micro-batch, ACID scores)
    val corpus = Seq(
      (1L, "alpha beta alpha beta", true), (2L, "alpha beta", true),
      (3L, "gamma delta gamma", false), (4L, "gamma delta", false))
      .toDF("doc_id", "text", "tgt")
    graft.operators.ImportanceOps.buildDsirIndex(corpus, "text", col("tgt"),
      buckets = 1024, path = s"$root/idx")
    val scores = new graft.storage.TxLogTable(spark, s"$root/scores")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$root/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val scored = graft.operators.ImportanceOps.dsirProbe(
            spark, s"$root/idx", batch, "doc_id", "text", 1024)
          graft.storage.TxLogTable.retryOnConflict() {
            scores.merge(scored, Seq("doc_id"), Some("weight_q")); ()
          }
        }
      }.start()
    try {
      in.addData((10L, "alpha beta alpha"), (11L, "gamma delta"))
      q.processAllAvailable()
      // batch 2 re-delivers doc 11 (at-least-once replay) and brings a doc
      // whose "zzz" feature the corpus never saw (dense default weight)
      in.addData((11L, "gamma delta"), (12L, "alpha zzz"))
      q.processAllAvailable()
      val got = scores.read().select("doc_id", "weight_q")
        .as[(Long, Long)].collect().toMap
      val want = graft.operators.ImportanceOps.dsirProbe(spark, s"$root/idx",
        Seq((10L, "alpha beta alpha"), (11L, "gamma delta"), (12L, "alpha zzz"))
          .toDF("doc_id", "text"), "doc_id", "text", 1024)
        .select("doc_id", "weight_q").as[(Long, Long)].collect().toMap
      assert(got == want, s"streamed scores must equal the one-shot probe: $got vs $want")
      assert(got(10L) > 0L && got(11L) < 0L, s"model direction: $got")
    } finally q.stop()
  }
}
