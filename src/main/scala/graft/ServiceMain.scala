package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.storage.TxLogTable
import graft.streaming._

/** The runnable service — the engine's answer to
  * `python influx_service.py service.conf` (reference startup sequence,
  * influx_service.py:407-446; SURVEY §3.4). One main composes every piece
  * the reference runs as one process:
  *
  *   1. config + logging (R18/R19, [[GraftConfig]])
  *   2. MQTT connect + subscribe with auth/TLS from config; the connection
  *      manager re-subscribes on every reconnect (R1, influx_service.py:66-76)
  *   3. registry snapshot bootstrap over REST (`load_devices`, R12)
  *   4. three streaming queries off the one MQTT log source, in this
  *      order in [[Handles.queries]]:
  *      - control: service events -> registry CDC MERGE (R11, REST-enriched)
  *      - data plane: one Spark job per micro-batch parses it, routes it
  *        and writes its files (R3-R9, R14;
  *        [[graft.streaming.StreamingIngest.startDataPlane]]); then the
  *        registered points' ACID append and the unroutable messages'
  *        dead-letter append commit, both exactly-once via the batch-id
  *        transaction fence; auto-create of unseen (device, transducer)
  *        keys writes its catalog file on the driver; and the points fan
  *        out as line protocol to every CREATE SUBSCRIPTION destination
  *        (InfluxDB's subscriber service) — with no subscription, that
  *        step reads a driver-side snapshot and runs nothing
  *      - status: windowed points-written/device counts published to the
  *        status topic (R10/R15, influx_service.py:310-322)
  *      plus one watermarked downsample stream per continuous query
  *      registered in [[graft.influxql.ContinuousQueries]] (InfluxDB's CQ
  *      service runs registered CQs the same way), last.
  *
  *      Cadence: control and the data plane run on the service trigger
  *      (`ProcessingTime(0)` live: a micro-batch as soon as data is there).
  *      The derived queries run at their own time grain: status once per
  *      `stats_interval` (the reference's publish timer), each CQ once per
  *      GROUP BY time() interval or RESAMPLE EVERY (InfluxDB's CQ
  *      schedule). The price is one more tick of lag: a window or bucket
  *      closes at the watermark one tick sets and is written at the next,
  *      so it is emitted at most two of its intervals (plus lateness)
  *      after it ends.
  *   5. graceful shutdown on SIGTERM: stop queries, disconnect (R17)
  *
  * The points land in [[graft.influxql.InfluxCatalog]]'s layout
  * (`<data_dir>/<db>/points`), so the live service table is immediately
  * queryable through the InfluxQL dialect — the two halves of the
  * reference deployment (storage service + query API) in one engine.
  *
  * Delivery semantics upgrade, deliberate: the reference loses queued
  * messages on crash (at-most-once, influx_service.py:54, 210-212); here
  * every sink is checkpointed and the ACID append is fenced per batch id,
  * so a replayed micro-batch is a no-op (exactly-once table effect).
  *
  * `--once` runs every query with Trigger.AvailableNow and exits when the
  * backlog drains — the testable drill mode ServiceMainSpec drives
  * end-to-end against the in-process transport.
  */
object ServiceMain {

  /** Everything the running service owns; [[stop]] tears it down in order.
    * `queries` holds the control query, the data plane, the status query
    * and then one query per continuous query; `perfbench` reads the data
    * plane's progress at index 1, and ServiceMainSpec pins the layout.
    * Live, the first two run on the service trigger, status once per
    * `stats_interval` and each CQ once per its GROUP BY interval (step 4),
    * so `processAllAvailable()` on a derived query can wait out its tick.
    */
  final case class Handles(spark: SparkSession,
                           manager: MqttConnectionManager,
                           queries: Seq[StreamingQuery],
                           http: Option[graft.http.InfluxHttpServer] = None,
                           retention: Option[Thread] = None,
                           udp: Option[graft.influxql.UdpWriteListener] = None)

  /** One compaction sweep over every database — the other half of the
    * maintenance tick (InfluxDB's compactor): per-batch streaming appends
    * accumulate small files forever without it. Folds EVERY table of each
    * db — the points table AND the INTO/CQ targets, whose granular
    * per-batch merges now carry history as one directory per batch by
    * design — folding each table's sub-`maxBytes` data dirs into one
    * (no-op below two candidates); snapshot isolation keeps concurrent
    * readers on their version, the append feed's txn fences are
    * untouched, and a compaction racing a CQ's merge resolves through the
    * usual conflict-retry on both sides. Returns the (db/table, committed
    * version) pairs that actually compacted.
    */
  def compactionSweep(spark: SparkSession, dataDir: String,
                      maxBytes: Long = 128L << 20): Seq[(String, Long)] = {
    val cat = new graft.influxql.InfluxCatalog(spark, dataDir)
    cat.databaseNames().flatMap { db =>
      cat.tableNamesOf(db).flatMap { name =>
        val table = new TxLogTable(spark, s"$dataDir/$db/$name")
        if (table.version.isEmpty) None
        else {
          val before = table.version.get
          val v = TxLogTable.retryOnConflict() { table.compact(maxBytes) }
          // report only a commit THIS sweep made: a no-op compact returns
          // the current version, which a concurrent append may have
          // advanced past `before` — the committed op disambiguates
          if (v > before && table.opOf(v) == "compact") Some(s"$db/$name" -> v) else None
        }
      }
    }
  }

  /** One vacuum sweep over every database — disk reclamation for the data
    * dirs that retention/compaction unreferenced. OPT-IN (the
    * `vacuum_grace_s` config key): vacuum trades the engine's time-travel
    * window for space, which must be an explicit operator decision. The
    * grace also protects in-flight writers' fresh uncommitted dirs.
    * Returns (db, removed dir count) pairs for dbs that reclaimed space.
    */
  def vacuumSweep(spark: SparkSession, dataDir: String,
                  graceMs: Long): Seq[(String, Int)] = {
    val cat = new graft.influxql.InfluxCatalog(spark, dataDir)
    cat.databaseNames().flatMap { db =>
      val table = cat.pointsTable(db)
      if (table.version.isEmpty) None
      else {
        val removed = table.vacuum(graceMs).size
        if (removed > 0) Some(db -> removed) else None
      }
    }
  }

  /** One retention sweep over every database — the body of InfluxDB's
    * retention service tick: each db with a finite default policy gets one
    * expiry commit on its points table (conflict-retried against the
    * concurrent streaming appends). Returns the (db, committed version)
    * pairs actually expired; public so specs and operators can force a
    * tick without waiting out the timer.
    */
  def retentionSweep(spark: SparkSession, dataDir: String): Seq[(String, Long)] = {
    val cat = new graft.influxql.InfluxCatalog(spark, dataDir)
    val nowUs = System.currentTimeMillis() * 1000L
    cat.databaseNames().flatMap { db =>
      val table = cat.pointsTable(db)
      // a db with a finite policy but no committed points yet has nothing
      // to expire — and must not abort the sweep for the databases after it
      if (table.version.isEmpty) None
      else TxLogTable.retryOnConflict() {
        graft.influxql.RetentionPolicies.enforce(
          spark, table, "ts_us", dataDir, db, nowUs)
      }.map(db -> _)
    }
  }

  /** Topic layout, derived from service_id exactly like the reference
    * (influx_service.py:387-389).
    */
  def statusTopic(serviceId: String): String =
    s"openchirp/service/$serviceId/status"
  def eventsTopic(serviceId: String): String =
    s"openchirp/service/$serviceId/thing/events"
  val dataTopics = "openchirp/device/+/+"

  def main(args: Array[String]): Unit = {
    val once = args.contains("--once")
    val confPath = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("service.conf")
    val conf0 = GraftConfig.load(confPath)
    // --http starts the InfluxDB 1.x API listener on the standard port
    // unless the config names one (http_port alone also enables it)
    val conf =
      if (args.contains("--http") && !conf0.contains("http_port"))
        conf0 + ("http_port" -> "8086")
      else conf0
    val spark = GraftConfig.sessionBuilder(conf).getOrCreate()
    GraftConfig.configureLogging(spark, conf)
    GraftSession.prepare(spark)
    // no broker configured -> in-process transport (offline drills); a
    // deployment sets mqtt_broker (+ service_id/password, enable_ssl) and
    // gets the real socket transport with CONNECT auth and TLS
    val transport: MqttTransport =
      if (conf.contains("mqtt_broker")) GraftConfig.mqttTransport(conf)
      else new InProcessTransport
    // every REST call is signed with the service's Basic credentials,
    // exactly like the reference (HTTPBasicAuth, influx_service.py:392)
    val rest = conf.get("rest_url").map(u =>
      new RestRegistryClient(u, headers = GraftConfig.restAuthHeaders(conf)))
    val h = start(spark, conf, transport, rest,
      trigger = if (once) Trigger.AvailableNow() else Trigger.ProcessingTime(0))
    sys.addShutdownHook(stop(h)) // R17
    if (once) {
      h.queries.foreach(_.awaitTermination())
      stop(h)
    } else spark.streams.awaitAnyTermination()
  }

  /** Wire and start the whole service; callers own the returned handles.
    * Separated from [[main]] so tests drive the identical composition with
    * an in-process transport, a mock REST server, and AvailableNow.
    */
  def start(spark: SparkSession, conf: Map[String, String],
            transport: MqttTransport,
            rest: Option[RestRegistryClient],
            publish: StatusPublisher.Publish = StatusPublisher.busPublish,
            trigger: Trigger = Trigger.ProcessingTime(0)): Handles = {
    import spark.implicits._
    val serviceId = conf.getOrElse("service_id", "graft")
    val db = conf.getOrElse("influx_database", "openchirp") // INFLUX_DATABASE, :383
    val dataDir = conf.getOrElse("data_dir", "graft_data")
    val evTopic = eventsTopic(serviceId)
    def cp(name: String) = s"$dataDir/_checkpoints/$name"

    // the data table lives in the InfluxQL catalog's layout; CREATE
    // DATABASE is idempotent (re-runs never reset anything)
    val catalog = new graft.influxql.InfluxCatalog(spark, dataDir, db)
    catalog.run(s"CREATE DATABASE $db")
    val pointsTable = catalog.pointsTable(db)
    val registryPath = s"$dataDir/registry"
    val catalogPath = s"$dataDir/transducer_catalog"
    def registryTable = new TxLogTable(spark, registryPath)

    // the InfluxDB 1.x HTTP face (/ping, /query, /write): an off-the-shelf
    // Influx client (the reference's own influxdb-python) can point at the
    // live service table with zero adapters. http_auth=True enforces
    // credentials like InfluxDB's auth-enabled. Started FIRST: a bind
    // failure (port in use) must abort startup before any streaming query
    // or timer exists to leak.
    val http = conf.get("http_port").map { port =>
      // http_ssl=True upgrades the listener to HTTPS (InfluxDB's
      // https-enabled): cert chain (+ optional separate PKCS#8 key) come
      // from PEM files, the same config seam as the MQTT TLS leg. A
      // widened http_bind without TLS would put the credentials /query
      // authenticates on the wire in the clear.
      val ssl =
        if (conf.get("http_ssl").exists(v => Set("true", "1", "yes")(v.toLowerCase)))
          Some(GraftConfig.serverSslContext(
            conf.getOrElse("http_ssl_cert", throw new IllegalArgumentException(
              "http_ssl=True requires http_ssl_cert")),
            conf.get("http_ssl_key")))
        else None
      val s = new graft.http.InfluxHttpServer(catalog, port.toInt,
        authRequired = conf.get("http_auth")
          .exists(v => Set("true", "1", "yes")(v.toLowerCase)),
        bindHost = conf.getOrElse("http_bind", "127.0.0.1"),
        // InfluxDB's max-row-limit: the unchunked /query path truncates
        // (partial: true) past this many rows instead of buffering an
        // unbounded result on the driver. DELIBERATE divergence from the
        // 1.8 default (0 = unlimited, which stock clients that ignore
        // the partial flag silently rely on): at this engine's scale an
        // unlimited unchunked default is a driver OOM waiting for one
        // careless SELECT *; set http_max_row_limit=0 for drop-in 1.8
        // behavior, or have clients use chunked=true (never limited)
        maxRowLimit = conf.getOrElse("http_max_row_limit", "10000").toInt,
        ssl = ssl)
      s.start()
      s
    }

    // the InfluxDB 1.x UDP input (influxdb.conf's [[udp]]): a datagram
    // front into the same write path, best-effort (drops counted into
    // SHOW STATS' udp_dropped). Bound right after HTTP so a port conflict
    // aborts startup while only the HTTP listener needs tearing down.
    val udp = conf.get("udp_port").map { port =>
      // udp_precision mirrors influxdb.conf's [[udp]] precision knob: the
      // wire timestamps' unit (protocol default ns)
      val unitNs = conf.getOrElse("udp_precision", "ns") match {
        case "ns" | "n" => 1L
        case "u" | "us" => 1000L
        case "ms" => 1000000L
        case "s" => 1000000000L
        case "m" => 60000000000L
        case "h" => 3600000000000L
        case other => throw new IllegalArgumentException(
          s"udp_precision must be one of ns|u|ms|s|m|h, got '$other'")
      }
      try new graft.influxql.UdpWriteListener(catalog,
        conf.getOrElse("udp_database", db), port.toInt,
        batchSize = conf.getOrElse("udp_batch_size", "5000").toInt,
        flushIntervalMs = conf.getOrElse("udp_batch_timeout_ms", "100").toLong,
        tsUnitNs = unitNs)
      catch {
        case e: Throwable =>
          http.foreach(s => try s.stop() catch { case _: Exception => () })
          throw e
      }
    }

    // everything below can fail (broker connect, REST bootstrap, query
    // starts); the already-bound HTTP listener, the UDP listener, the
    // connected manager, and any query started before the failure must
    // not outlive a failed start() with no Handles to stop them
    val manager = new MqttConnectionManager(transport, Seq(evTopic, dataTopics))
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    def reg(q: StreamingQuery): StreamingQuery = { started += q; q }
    try {

    // 1. connect + subscribe (events first, like the reference's startup;
    // on every reconnect the manager re-issues both subscriptions)
    manager.start()

    // 2. registry snapshot bootstrap (`load_devices`): things list + each
    // device's transducers over REST, merged by event time — a CDC event
    // racing the snapshot resolves by asOfUs, whichever lands first
    rest.foreach { r =>
      val nowUs = System.currentTimeMillis() * 1000L
      val snap = r.serviceThings(serviceId).map { id =>
        RegistryCdc.RegistrySnapshot(id, r.deviceTransducers(id),
          active = true, asOfUs = nowUs)
      }
      if (snap.nonEmpty) TxLogTable.retryOnConflict() {
        registryTable.merge(snap.toDF(), keys = Seq("deviceId"),
          orderCol = Some("asOfUs")); ()
      }
    }

    // 3. ONE offset-indexed MQTT log; each query reads the topics it routes
    def source(topics: String): DataFrame = spark.readStream
      .format("graft.streaming.MqttLikeSource")
      .option("topics", topics)
      .load()
      .withColumn("payload", col("payload").cast("string"))
    val msgs = source("#")

    // control plane: `{action, thing:{id}}` events -> registry MERGE.
    // REST enrichment is driver-side per micro-batch — control-plane
    // volume (the reference does one GET per event too, :322-341). An
    // event may carry its transducer list inline (engine extension for
    // offline drills); otherwise it comes from REST; delete needs neither.
    // Its source is scoped to the events topic, so data-plane traffic
    // never wakes it: no micro-batch runs until an event is published.
    val controlQ = reg(source(evTopic).filter(col("topic") === evTopic)
      .select(col("payload"), unix_micros(col("ts")).as("ts_us"))
      .writeStream
      .option("checkpointLocation", cp("control"))
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val evs = batch.collect().toSeq.flatMap { row =>
          val payload = row.getString(0)
          val tsUs = row.getLong(1)
          val action = """"action"\s*:\s*"([^"]*)"""".r
            .findFirstMatchIn(payload).map(_.group(1))
          val id = """"thing"\s*:\s*\{[^}]*"id"\s*:\s*"([^"]*)"""".r
            .findFirstMatchIn(payload).map(_.group(1))
          val inline = """(?s)"transducers"\s*:\s*\[(.*?)\]""".r
            .findFirstMatchIn(payload).map(m =>
              """"name"\s*:\s*"([^"]*)"""".r.findAllMatchIn(m.group(1))
                .map(_.group(1).toLowerCase).toSeq)
          (action, id) match {
            case (Some(a), Some(d)) =>
              val tds =
                if (a == "delete") Nil
                else inline.orElse(rest.map(_.deviceTransducers(d))).getOrElse(Nil)
              Some(RegistryCdc.ServiceEvent(d, a, tds, tsUs))
            case _ => None // malformed event: logged by absence, not fatal
          }
        }
        if (evs.nonEmpty) {
          val snap = RegistryCdc.replayBatch(spark.createDataset(evs))
          TxLogTable.retryOnConflict() {
            registryTable.merge(snap.toDF(), keys = Seq("deviceId"),
              orderCol = Some("asOfUs")); ()
          }
        }
      }
      .start())

    // data plane: ONE query runs one job per micro-batch and feeds the
    // fenced points append, the fenced dead-letter append, auto-create and
    // the subscription fan-out, in that order, all against one snapshot of
    // the CURRENT registry (a stream-static join would freeze it at stream
    // start; the version-keyed cache runs no job while it is unchanged).
    // It keeps the `points` checkpoint and appId: a fresh checkpoint would
    // restart batch ids at 0 and the txn fence would swallow new batches.
    val dataQ = reg(StreamingIngest.startDataPlane(msgs, evTopic,
      points = pointsTable,
      deadLetters = new TxLogTable(spark, s"$dataDir/dead_letters"),
      registered = () => RegistryMaintenance.activeIds(spark, registryPath),
      appId = s"service-$serviceId", checkpoint = cp("points"), trigger = trigger,
      // unseen (device, transducer) keys POST once (R14)
      autoCreate = AutoCreate(spark, catalogPath, rest.map(_.createFn).getOrElse((_, _) => ())),
      // registered subscriptions fan every ingested point out to their
      // destinations as line protocol (InfluxDB's subscriber service);
      // CREATE SUBSCRIPTION takes effect at the next batch. The numeric
      // face of the narrow layout is what forwards (line protocol's value
      // field); bool points ride as 1/0, string payloads stay local. An
      // optional liveness bound caps the rows a slow subscriber can delay
      // a batch by; the excess counts into Subscriptions.droppedRows
      // (by name: with no subscription neither frame is ever built)
      fanOut = b => graft.influxql.Subscriptions.fanOut(
        b.select(col("device_id").as("device"), col("transducer"), col("ts_us"),
          coalesce(col("num"), col("bool").cast("double")).as("value"))
          .filter(col("value").isNotNull),
        db, dataDir, maxRowsPerBatch = conf.get("subscription_batch_cap").map(_.toInt))))

    // status: the reference's 10-minute points-written/#devices payload
    // (PUBLISH_STATS_INTERVAL=600); the stateful status and CQ pipelines
    // key on the registry as of start — status is an operational gauge,
    // not the gate the per-batch data plane is. It ticks once per stats
    // interval, the reference's timer period: on the service trigger it
    // would run a micro-batch for every MQTT arrival.
    val statsInterval = conf.getOrElse("stats_interval", "10 minutes")
    val statusPoints = StreamingIngest.pointsStream(msgs,
      RegistryMaintenance.activeDevices(spark, registryPath))
    val statusQ = reg(StatusPublisher.start(
      StreamingIngest.statusCounts(statusPoints, interval = statsInterval),
      statusTopic(serviceId), publish, cp("status"),
      if (trigger == Trigger.AvailableNow()) trigger else Trigger.ProcessingTime(statsInterval)))

    // registered continuous queries start with the service (InfluxDB runs
    // its CQ service the same way): each downsamples the registry-filtered
    // point stream into its ACID target, resuming from its own checkpoint
    val cqQs = graft.influxql.ContinuousQueries.startAll(spark, dataDir, db,
      statusPoints.withColumn("ts_us", unix_micros(col("ts"))),
      lateness = conf.getOrElse("cq_lateness", "1 minute"), trigger = trigger)
    cqQs.foreach { case (_, q) => started += q }

    // maintenance: InfluxDB runs a retention service AND a compactor —
    // a daemon timer sweeps every database at check-interval (default
    // 30 min): one expiry delete per db with a finite default policy,
    // then one small-file fold per db with ≥2 sub-threshold data dirs
    // (streaming appends accumulate small files forever otherwise)
    val retentionThread = {
      val intervalMs = conf.get("retention_check_interval_ms") // drill seam
        .map(_.toLong)
        .getOrElse(conf.getOrElse("retention_check_interval_s", "1800").toLong * 1000L)
      val compactBytes =
        conf.getOrElse("compaction_max_bytes", (128L << 20).toString).toLong
      // parsed ONCE at startup like the other knobs: a malformed value
      // must fail service start loudly, not kill the maintenance thread
      // on its first tick (which would silently stop retention+compaction)
      val vacuumGraceMs = conf.get("vacuum_grace_s").map(_.toLong * 1000L)
      def sweep(what: String)(body: => Unit): Unit =
        try body
        catch { case e: InterruptedException => throw e
                case e: Exception =>
                  // a failed sweep must not kill the service loop; the
                  // next tick retries (InfluxDB logs and continues too)
                  org.slf4j.LoggerFactory.getLogger(getClass)
                    .warn(s"$what sweep failed: ${e.getMessage}") }
      val t = new Thread(() => {
        try while (!Thread.interrupted()) {
          Thread.sleep(intervalMs)
          sweep("retention")(retentionSweep(spark, dataDir))
          sweep("compaction")(compactionSweep(spark, dataDir, compactBytes))
          // opt-in: vacuuming trades time travel for disk space
          vacuumGraceMs.foreach(g =>
            sweep("vacuum")(vacuumSweep(spark, dataDir, g)))
        } catch { case _: InterruptedException => () }
      }, "graft-maintenance")
      t.setDaemon(true)
      t.start()
      t
    }

    Handles(spark, manager, Seq(controlQ, dataQ, statusQ) ++ cqQs.map(_._2), http,
      Some(retentionThread), udp)

    } catch {
      case e: Throwable =>
        started.foreach(q => try q.stop() catch { case _: Exception => () })
        try manager.stop() catch { case _: Exception => () }
        http.foreach(s => try s.stop() catch { case _: Exception => () })
        udp.foreach(u => try u.stop() catch { case _: Exception => () })
        throw e
    }
  }

  /** R17 — graceful shutdown: stop every query (checkpoints make the next
    * start resume exactly-once), then disconnect the broker session.
    */
  def stop(h: Handles): Unit = {
    h.queries.foreach { q =>
      try if (q.isActive) q.stop()
      catch { case _: Exception => () } // already terminated: fine
    }
    // UDP before HTTP: its drain path commits through the same catalog,
    // and both before the manager so in-flight writes finish first
    h.udp.foreach(_.stop())
    h.http.foreach(_.stop())
    h.retention.foreach(_.interrupt())
    h.manager.stop()
  }
}
