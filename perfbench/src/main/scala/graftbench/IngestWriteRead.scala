package graftbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.ServiceMain
import graft.influxql.InfluxCatalog
import graft.ingest.Ingest
import graft.streaming.{InProcessTransport, MqttBus, RegistryMaintenance}

/** `ingest_write_read`: the service's real life. `ServiceMain.start` runs
  * in-process on `InProcessTransport` with HTTP on an ephemeral port and one
  * FILL(linear) continuous query. A fixed-rate phase runs three loads
  * together: an open-loop MQTT publisher, an open-loop `/write` of
  * line-protocol batches, and one closed-loop `/query` client reading recent
  * windows. A drain phase then publishes a fixed backlog at once and times
  * its commit.
  */
object IngestWriteRead extends Workload {
  val ServiceId = "bench"
  val Db = "oc"
  /** Line protocol's narrow layout (device, transducer, ts_us, value)
    * differs from the MQTT points' (device_id, ..., num, bool, str), and a
    * table refuses an append of another schema, so `/write` lands in a
    * sibling database of the same catalog and listener.
    */
  val LpDb = "lp"
  val Registered = 48
  val Unregistered = 12
  val UnregisteredShare = 0.2
  val Transducers = Seq("temp", "hum", "pres", "light", "door")
  /** Open-loop rates the composed service keeps up with on four cores: its
    * seven streaming queries each run a micro-batch per arrival, and at
    * 200 msg/s beside a /write every two seconds freshness grew with run
    * length (about 2,000 rows/s drain when nothing else runs).
    */
  val MqttPerS = 100.0
  val WritesPerS = 0.2
  val WriteLines = 100
  val DrainBacklog = 10000
  /** A run whose generators sent later than this (p99) is invalid. */
  val LateBoundMs = 250.0
  /** Freshness samples of one micro-batch move together, so the tail is
    * taken where a few batches, not one, decide it.
    */
  val FreshTailPct = 0.90
  val WriteTailPct = 0.90
  val QueryTailPct = 0.80
  val LpBaseUs = 1704067200000000L

  final case class Msg(topic: String, payload: String, device: String, registered: Boolean,
                       numericTemp: Boolean)

  /** The seeded message stream: Zipf-skewed devices within the registered
    * and the unregistered class, a fifth of the messages unregistered, the
    * payload mix of `SparkEntry.mqttMessages` (float, bool-exact, bool-miss,
    * JSON string, int) by message index.
    */
  final class Gen(seed: Long) {
    private val rng = new Random(seed * 104729L + 3L)
    private val names = rng.shuffle((0 until Registered + Unregistered).map(i => s"dev$i").toVector)
    val registered: Vector[String] = names.take(Registered)
    val unregistered: Vector[String] = names.drop(Registered)
    private def cdf(n: Int) = {
      val w = (1 to n).map(r => 1.0 / r); val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
    }
    private val regCdf = cdf(Registered)
    private val unregCdf = cdf(Unregistered)
    private def zipf(c: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(c, rng.nextDouble())
      math.min(c.length - 1, if (i >= 0) i else -i - 1)
    }
    private var i = 0L
    def next(): Msg = {
      val reg = rng.nextDouble() >= UnregisteredShare
      val d = if (reg) registered(zipf(regCdf)) else unregistered(zipf(unregCdf))
      val td = Transducers(rng.nextInt(Transducers.size))
      val v = rng.nextInt(100000) / 100.0
      val kind = (i % 6).toInt
      i += 1
      val payload = kind match {
        case 0 => v.toString
        case 1 => "true"
        case 2 => "False"
        case 3 => "TRUE"
        case 4 => s"""{"k": ${rng.nextInt(100)}}"""
        case _ => "7"
      }
      Msg(s"openchirp/device/$d/$td", payload, d, reg, td == "temp" && (kind == 0 || kind == 5))
    }
  }

  /** The /write batch `j`: its own disjoint µs range, so acknowledged batches
    * are countable by time.
    */
  def lpBatch(j: Long): String = (0 until WriteLines).map { l =>
    s"wm,device=w${(j + l) % 8} value=${(j * 7 + l) % 1000}.5 ${LpBaseUs + j * WriteLines + l}"
  }.mkString("\n")

  def inputs(seed: Long, tablesDir: Path): Iterator[String] = {
    val g = new Gen(seed)
    Iterator.fill(20000)(g.next()).map(m => s"${m.topic} ${m.payload}") ++
      (0L until 200L).iterator.map(lpBatch)
  }

  /** One published message: its bus offset, publish time and event time. */
  final case class Sent(offset: Long, nanos: Long, tsUs: Long, msg: Msg)

  final class Service(ctx: Ctx) {
    val spark: SparkSession = ctx.spark
    val dataDir: String = ctx.workDir.resolve("service").toString
    val gen = new Gen(ctx.seed)
    private val sentLog = scala.collection.mutable.ArrayBuffer[Sent]()
    def sent: Vector[Sent] = sentLog.synchronized(sentLog.toVector)
    def sentCount: Int = sentLog.synchronized(sentLog.size)
    /** (arrival nanos, end offset) of each data-query progress event. */
    val commits = new ConcurrentLinkedQueue[(Long, Long)]()
    val backlogMax = new AtomicLong(0)
    @volatile var dataQueryId: String = ""

    def publish(m: Msg): Sent = MqttBus.synchronized {
      val off = MqttBus.size
      val ts = java.time.Instant.now()
      val tsUs = ts.getEpochSecond * 1000000L + ts.getNano / 1000
      Trace.span("streaming.publish", m.topic)(
        MqttBus.publish(m.topic, m.payload.getBytes("UTF-8"), tsUs))
      val s = Sent(off, System.nanoTime(), tsUs, m)
      sentLog.synchronized(sentLog += s)
      s
    }

    /** Highest bus offset (exclusive) the data query has committed. */
    def committedEnd: Long = commits.asScala.foldLeft(0L)((m, c) => math.max(m, c._2))

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id.toString == dataQueryId) {
          val end = e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
            .flatMap(_.trim.toLongOption).getOrElse(0L)
          commits.add((System.nanoTime(), end))
          backlogMax.updateAndGet(b => math.max(b, MqttBus.size - end))
        }
    }

    /** Waits until the data query has committed every published message
      * and no streaming query of the service has data left to process.
      */
    def awaitQuiet(timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      awaitCommitted(MqttBus.size, timeoutS)
      def busy = handles.queries.exists(_.status.isDataAvailable)
      var idle = 0
      while (idle < 3 && System.nanoTime() < deadline) {
        idle = if (busy) 0 else idle + 1
        Thread.sleep(50)
      }
    }

    def awaitCommitted(offsetExclusive: Long, timeoutS: Double): Option[Long] = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      def hit = commits.asScala.filter(_._2 >= offsetExclusive).map(_._1).minOption
      while (hit.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      hit
    }

    val conf = Map(
      "service_id" -> ServiceId, "data_dir" -> dataDir, "influx_database" -> Db,
      "cq_lateness" -> "0 seconds", "retention_check_interval_ms" -> "5000")
    val cat = new InfluxCatalog(spark, dataDir, Db)
    var handles: ServiceMain.Handles = _

    /** Registry bootstrap the way the soak drill does it: CDC events, one
      * AvailableNow run of the composed service, then the live start.
      */
    def start(): Unit = {
      MqttBus.clear()
      cat.run(s"CREATE DATABASE $Db")
      cat.run(s"CREATE DATABASE $LpDb")
      cat.run(s"CREATE CONTINUOUS QUERY down ON $Db BEGIN " +
        "SELECT mean(num) AS m, count(num) AS c INTO cnt FROM temp " +
        "GROUP BY time(5s), device_id FILL(linear) END")
      gen.registered.foreach { d =>
        MqttBus.publish(ServiceMain.eventsTopic(ServiceId),
          s"""{"action":"new","thing":{"id":"$d","transducers":[""" +
            Transducers.map(t => s"""{"name":"$t"}""").mkString(",") + "]}}")
      }
      Stats.phase("registry bootstrap") {
        val boot = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
          trigger = Trigger.AvailableNow())
        try boot.queries.foreach(q => require(q.awaitTermination(120000), "bootstrap drain"))
        finally ServiceMain.stop(boot)
      }
      ctx.report.check(RegistryMaintenance.activeDevices(spark, s"$dataDir/registry").count() ==
        Registered, "registry bootstrap")
      spark.streams.addListener(listener)
      handles = Stats.phase("service start")(ServiceMain.start(spark, conf + ("http_port" -> "0"),
        new InProcessTransport, rest = None, trigger = Trigger.ProcessingTime(0)))
      dataQueryId = handles.queries(1).id.toString
    }

    def stop(): Unit = {
      if (handles != null) ServiceMain.stop(handles)
      spark.streams.removeListener(listener)
    }
    def port: Int = handles.http.get.boundPort
  }

  final class Phase {
    val fresh = new Samples
    val writes = new Samples
    val queries = new Samples
    val late = new Samples
    val ackedBatches = new java.util.concurrent.ConcurrentSkipListSet[Long]()
  }

  def run(ctx: Ctx): Unit = {
    val svc = new Service(ctx)
    val r = ctx.report
    try {
      svc.start()
      val client = new InfluxClient(svc.port)
      val nextBatch = new AtomicLong(0)
      // warmup: a second of every load (its backlog drains while measuring;
      // waiting for it to commit would cost two cold micro-batches per run)
      Stats.phase("warmup")(fixedRate(ctx, svc, client, nextBatch, 1.0, new Phase, awaitFresh = false))
      ctx.setupDone()

      val untraced = fixedRate(ctx, svc, client, nextBatch, ctx.seconds, new Phase)
      val probe = if (ctx.trace) Some(ctx.openTrace()) else None
      val measured =
        if (ctx.trace) fixedRate(ctx, svc, client, nextBatch, ctx.seconds, new Phase) else untraced
      val pointsTable = svc.cat.pointsTable(Db)
      val v0 = pointsTable.version.getOrElse(-1L)

      // drain: a fixed backlog published at once, timed until committed.
      // It starts from a quiet service, and the bus lock is held while it is
      // published, so one trigger sees the whole backlog: otherwise the
      // time depends on how far a batch already running had got.
      svc.awaitQuiet(60)
      val t0 = System.nanoTime()
      val last = MqttBus.synchronized {
        (1 to DrainBacklog).map(_ => svc.publish(svc.gen.next()).offset).last
      }
      val drainRate = svc.awaitCommitted(last + 1, 120).map(t => DrainBacklog / ((t - t0) / 1e9))
      r.check(drainRate.nonEmpty, "drain backlog never committed")
      probe.foreach(_.endWindow())

      val late = untraced.late.values ++ (if (ctx.trace) measured.late.values else Nil)
      val lateTail = Stats.pct(late, 0.99)
      if (lateTail > LateBoundMs)
        r.invalid = Some(f"generator ran late: p99 $lateTail%.1f ms > $LateBoundMs ms")

      if (!ctx.trace) {
        val f = measured.fresh.values
        ctx.e2e(Stats.median(f), Stats.pct(f, FreshTailPct))
        r.put("freshness_p50_ms", "ms", Stats.median(f))
        r.put("freshness_tail_ms", "ms", Stats.pct(f, FreshTailPct))
        r.put("write_p50_ms", "ms", Stats.median(measured.writes.values))
        r.put("write_tail_ms", "ms", Stats.pct(measured.writes.values, WriteTailPct))
        r.put("query_p50_ms", "ms", Stats.median(measured.queries.values))
        r.put("query_tail_ms", "ms", Stats.pct(measured.queries.values, QueryTailPct))
        r.put("ingest_rows_per_s", "rows/s", drainRate.getOrElse(0.0))
      } else {
        val p = probe.get
        r.put("loadgen.late_ms_tail", "ms", lateTail)
        r.put("trace.overhead_ratio", "ratio",
          Stats.median(measured.fresh.values) / math.max(1e-9, Stats.median(untraced.fresh.values)))
        streamingMetrics(r, p, svc)
        r.put("storage.snapshot_ms", "ms", Serving.snapshotMs(pointsTable))
        Serving.storageMetrics(r, ctx.spark, pointsTable, s"${svc.dataDir}/$Db/points", v0)
        Serving.influxqlLayer(r, p, client, svc.cat, LpDb,
          (0 until 8).map(i => lpCount(i * 3L, i * 3L + 2)))
        r.put("http.write_overhead_ms", "ms", writeOverheadMs(ctx, svc, client, nextBatch))
        val (c4, c5) = client.statusCounters()
        r.put("http.status_4xx", "count", c4.toDouble)
        r.put("http.status_5xx", "count", c5.toDouble)
        r.put("ingest.parse_infer_us_per_row", "us", parseInferUsPerRow(ctx, svc))
        p.close()
        p.report(r, 1.0)
      }
      exactlyOnce(ctx, svc, nextBatch.get())
    } finally svc.stop()
  }

  private def lpCount(j0: Long, j1: Long): String =
    s"SELECT count(value) FROM wm WHERE time >= ${LpBaseUs + j0 * WriteLines}u " +
      s"AND time < ${LpBaseUs + (j1 + 1) * WriteLines}u"

  /** The three loads together for `seconds`; returns the phase's samples. */
  private def fixedRate(ctx: Ctx, svc: Service, client: InfluxClient, nextBatch: AtomicLong,
                        seconds: Double, ph: Phase, awaitFresh: Boolean = true): Phase = {
    val r = ctx.report
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    val firstSent = svc.sentCount
    def sleepUntil(t: Long): Unit = while (System.nanoTime() < t) LockSupport.parkNanos(t - System.nanoTime())

    val publisher = new Thread(() => {
      var i = 0L
      var due = start
      while (due < end) {
        sleepUntil(due)
        val s = svc.publish(svc.gen.next())
        ph.late.add((s.nanos - due) / 1e6)
        i += 1
        due = start + (i * 1e9 / MqttPerS).toLong
      }
    }, "graftbench-mqtt")
    val pending = new ConcurrentLinkedQueue[java.util.concurrent.CompletableFuture[Unit]]()
    val writer = new Thread(() => {
      var i = 0L
      var due = start
      while (due < end) {
        sleepUntil(due)
        val j = nextBatch.getAndIncrement()
        val dueAt = due
        ph.late.add((System.nanoTime() - dueAt) / 1e6)
        pending.add(client.writeAsync(LpDb, lpBatch(j)).handle[Unit] { (resp, err) =>
          val ms = (System.nanoTime() - dueAt) / 1e6
          val ok = err == null && resp.statusCode() == 204
          if (r.check(ok, s"/write batch $j: ${Option(err).getOrElse(resp.body())}")) {
            ph.writes.add(ms)
            ph.ackedBatches.add(j)
          }
        })
        i += 1
        due = start + (i * 1e9 / WritesPerS).toLong
      }
    }, "graftbench-write")
    val reader = new Thread(() => {
      var i = 0
      while (System.nanoTime() < end) {
        val target =
          if (i % 2 == 0) mqttWindow(svc).map { case (q, n) => (Db, q, n) }
          else lpWindow(ph).map { case (q, n) => (LpDb, q, n) }
        i += 1
        target match {
          case None => Thread.sleep(20)
          case Some((db, q, n)) =>
            val t0 = System.nanoTime()
            val outcome =
              try Serving.checkQuery(Trace.span("http.query", s"read-$i")(client.query(db, q)),
                if (n > 0) 1 else 0, if (n > 0) Some(n) else None)
              catch { case e: Exception => Left(e.toString) }
            val ms = Stats.nowMs(t0)
            if (r.check(outcome.isRight, s"$q: ${outcome.left.getOrElse("")}")) ph.queries.add(ms)
        }
      }
    }, "graftbench-read")
    Seq(publisher, writer, reader).foreach(_.start())
    Seq(publisher, writer, reader).foreach(_.join())
    pending.asScala.foreach(f => try f.get() catch { case _: Exception => () })
    if (!awaitFresh) return ph

    // freshness: publish until the first commit whose end offset covers it
    val mine = svc.sent.drop(firstSent).filter(_.msg.registered)
    mine.lastOption.foreach(s => svc.awaitCommitted(s.offset + 1, 60))
    val cs = svc.commits.asScala.toSeq.sortBy(_._1)
    val fresh = mine.flatMap { s =>
      cs.find(_._2 > s.offset) match {
        case Some((t, _)) => Some((t - s.nanos) / 1e6)
        case None => r.check(false, s"message at offset ${s.offset} never committed"); None
      }
    }
    fresh.foreach(ph.fresh.add)
    System.err.println(f"[graftbench] $seconds%.0f s of fixed-rate load: freshness p50 " +
      f"${Stats.median(fresh)}%.0f ms, ${cs.size} data-query commits so far")
    ph
  }

  /** A count over the last five seconds of committed MQTT temp points, with
    * the count the published log says the table must hold.
    */
  private def mqttWindow(svc: Service): Option[(String, Long)] = {
    val end = svc.committedEnd
    val log = svc.sent
    // a micro-batch of unregistered devices only appends nothing, and a
    // database without a committed point has no `num` field to count yet
    val done =
      if (!log.exists(s => s.msg.registered && s.offset < end)) None
      else log.reverseIterator.find(_.offset < end)
    done.map { last =>
      val a = last.tsUs - 5000000L
      val n = log.count(s => s.msg.registered && s.msg.numericTemp &&
        s.tsUs >= a && s.tsUs <= last.tsUs)
      (s"SELECT count(num) FROM temp WHERE time >= ${a}u AND time <= ${last.tsUs}u", n.toLong)
    }
  }

  /** A count over the latest five acknowledged /write batches. */
  private def lpWindow(ph: Phase): Option[(String, Long)] =
    ph.ackedBatches.descendingIterator().asScala.find(j => (j - 4 to j).forall(ph.ackedBatches.contains))
      .map(j => (lpCount(j - 4, j), 5L * WriteLines))

  private def streamingMetrics(r: Report, p: SparkProbe, svc: Service): Unit = {
    val qs = svc.handles.queries.map(_.id.toString)
    val cq = qs.drop(6).toSet
    val prog = p.progressInWindow
    val points = prog.filter(_.queryId == svc.dataQueryId)
    val trig = points.map(_.triggerMs.toDouble)
    r.put("streaming.points.trigger_p50_ms", "ms", Stats.median(trig))
    r.put("streaming.points.trigger_tail_ms", "ms", Stats.pct(trig, 0.9))
    r.put("streaming.points.batches", "count", points.size.toDouble)
    r.put("streaming.points.add_batch_ms", "ms", Stats.median(points.map(_.addBatchMs.toDouble)))
    r.put("streaming.points.planning_ms", "ms", Stats.median(points.map(_.planningMs.toDouble)))
    r.put("streaming.backlog_max_msgs", "count", svc.backlogMax.get().toDouble)
    r.put("streaming.others.busy_s", "s",
      prog.filter(x => x.queryId != svc.dataQueryId && !cq(x.queryId)).map(_.triggerMs).sum / 1000.0)
    r.put("streaming.cq.trigger_p50_ms", "ms",
      Stats.median(prog.filter(x => cq(x.queryId)).map(_.triggerMs.toDouble)))
    r.put("streaming.state_rows_max", "count",
      prog.map(_.stateRows).foldLeft(0L)(math.max).toDouble)
  }

  /** HTTP `/write` median minus the direct `writeLineProtocol` median of
    * batches of the same shape, both sequential.
    */
  private def writeOverheadMs(ctx: Ctx, svc: Service, client: InfluxClient,
                              nextBatch: AtomicLong): Double = {
    import ctx.spark.implicits._
    val viaHttp = (1 to 8).map { i =>
      val j = nextBatch.getAndIncrement()
      val t0 = System.nanoTime()
      val resp = Trace.span("http.write", s"overhead-write-$i")(client.write(LpDb, lpBatch(j)))
      ctx.report.check(resp.statusCode() == 204, s"/write batch $j: ${resp.body()}")
      Stats.nowMs(t0)
    }
    val direct = (1 to 8).map { i =>
      val j = nextBatch.getAndIncrement()
      val lines = lpBatch(j).split("\n").toSeq.toDS()
      val t0 = System.nanoTime()
      val res = Trace.span("storage.write", s"overhead-direct-$i")(
        svc.cat.writeLineProtocol(LpDb, lines, tsUnitNs = 1000L))
      val ms = Stats.nowMs(t0)
      ctx.report.check(res.errors.isEmpty && res.dropped.isEmpty, s"direct write $j rejected lines")
      ms
    }
    Stats.median(viaHttp) - Stats.median(direct)
  }

  /** The public `Ingest` functions on a static frame of the run's messages:
    * topic parse, type inference, registry filter, narrow projection.
    */
  private def parseInferUsPerRow(ctx: Ctx, svc: Service): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val g = new Gen(ctx.seed)
    val rows = 200000
    val frame = Iterator.fill(rows)(g.next()).zipWithIndex
      .map { case (m, i) => (m.topic, m.payload, LpBaseUs + i) }.toSeq
      .toDF("topic", "payload", "ts_us").withColumn("ts", timestamp_micros(col("ts_us")))
      .cache()
    frame.count()
    val registry = RegistryMaintenance.activeDevices(spark, s"${svc.dataDir}/registry")
    val times = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      Trace.span("ingest.parse_infer", s"ingest-$i") {
        Ingest.narrowPoints(Ingest.registryFilter(Ingest.inferTypes(Ingest.parseTopic(
          frame.filter(Ingest.dataTopicFilter))), registry))
          .write.format("noop").mode("overwrite").save()
      }
      Stats.nowMs(t0)
    }
    frame.unpersist()
    Stats.median(times) * 1000.0 / rows
  }

  /** Every registered MQTT point and every acknowledged /write line lands
    * exactly once.
    */
  private def exactlyOnce(ctx: Ctx, svc: Service, batches: Long): Unit = {
    val r = ctx.report
    svc.awaitCommitted(MqttBus.size, 60)
    val want = svc.sent.filter(_.msg.registered).groupBy(_.msg.device)
      .map { case (d, xs) => d -> xs.size.toLong }
    val got = svc.cat.points(Db).groupBy("device_id").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    r.check(got == want, s"MQTT points per device: got ${got.values.sum}, want ${want.values.sum}")
    // a /write that failed never got a 204, so the run already failed; the
    // count below is over every batch sent, acknowledged or not
    val lpRows = svc.cat.points(LpDb).count()
    r.check(lpRows == batches * WriteLines, s"/write lines: got $lpRows, want ${batches * WriteLines}")
  }
}
