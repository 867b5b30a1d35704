package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{InProcessTransport, MqttBus}

/** End-to-end drill of the composed service ([[ServiceMain.start]]): the
  * identical wiring `main` runs, driven with the in-process transport and
  * Trigger.AvailableNow across two phases — a restart in the middle proves
  * the checkpoints resume and the fenced append stays exactly-once.
  */
class ServiceMainSpec extends SparkSuite {
  import spark.implicits._

  /** Spark jobs one data-only micro-batch of the data plane may run, all
    * four of its sinks together.
    */
  val DataJobsPerBatch = 1.0

  test("composed service: CDC registers, data ingests ACID + queryable, junk dead-letters, restart resumes") {
    MqttBus.clear()
    val dir = Files.createTempDirectory("svc_e2e").toString
    val conf = Map(
      "service_id" -> "svc1",
      "data_dir" -> dir,
      "influx_database" -> "oc",
      "stats_interval" -> "1 minute",
      "cq_lateness" -> "0 seconds")
    val ev = ServiceMain.eventsTopic("svc1")
    var published = Vector.empty[(String, String)]
    def runOnce(): Unit = {
      val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
        publish = (t, p) => synchronized { published :+= ((t, p)) },
        trigger = Trigger.AvailableNow())
      try h.queries.foreach(q => assert(q.awaitTermination(120000),
        s"query ${q.name} did not drain"))
      finally ServiceMain.stop(h)
    }

    // phase 1: control-plane only — d1 registers with inline transducers;
    // a continuous query registers through the catalog (the service starts
    // it on every subsequent run, like InfluxDB's CQ service)
    val cat0 = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    cat0.run("CREATE DATABASE oc")
    cat0.run("CREATE CONTINUOUS QUERY down ON oc BEGIN " +
      "SELECT count(num) AS c INTO cnt FROM temp GROUP BY time(10u) END")
    // a subscription registers through the catalog; the service fans every
    // ingested numeric point out to it (InfluxDB's subscriber service)
    cat0.run("CREATE SUBSCRIPTION fwd ON oc.autogen DESTINATIONS ALL 'subsvc/dest'")
    MqttBus.publish(ev,
      """{"action":"new","thing":{"id":"d1","transducers":[{"name":"Temp"},{"name":"Hum"}]}}""")
    runOnce()
    val reg = graft.streaming.RegistryMaintenance
      .activeDevices(spark, s"$dir/registry").as[String].collect().toSeq
    assert(reg == Seq("d1"), s"d1 must be registered after phase 1, got $reg")

    // phase 2 (restart): data + junk + a CDC delete for later
    MqttBus.publish("openchirp/device/d1/Temp", "21.5")
    MqttBus.publish("openchirp/device/d1/Mode", "auto")
    MqttBus.publish("openchirp/device/d9/temp", "1.0") // unregistered: dropped
    MqttBus.publish("not/a/real/route/x", "junk")      // dead letter
    runOnce()

    // the ACID points table holds exactly d1's rows, value-typed
    val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    val pts = cat.points("oc")
      .select("device_id", "transducer", "num", "str")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(pts == Set(
      ("d1", "temp", Some(21.5), None),
      ("d1", "mode", None, Some("auto"))), s"got $pts")
    // ... and answers InfluxQL directly (live table, no adapter)
    assert(cat.run("SELECT count(num) FROM temp").as[Long].collect().toSeq == Seq(1L))
    assert(cat.run("SHOW MEASUREMENTS").as[String].collect().toSeq == Seq("mode", "temp"))
    // junk is quarantined, not swallowed
    val dl = new graft.storage.TxLogTable(spark, s"$dir/dead_letters").read().select("topic")
      .as[String].collect().toSeq
    assert(dl == Seq("not/a/real/route/x"), s"got $dl")
    // auto-create cataloged the unseen keys once
    val catalogKeys = spark.read.parquet(s"$dir/transducer_catalog")
      .as[(String, String)].collect().toSet
    assert(catalogKeys == Set(("d1", "temp"), ("d1", "mode")))
    // the subscription forwarded d1's numeric point as line protocol;
    // the string-typed mode point stays local (numeric face only)
    val fwd = MqttBus.slice(0, MqttBus.size).filter(_._1 == "subsvc/dest")
      .map(m => new String(m._2, "UTF-8"))
    assert(fwd.exists(_.startsWith("temp,device=d1 value=21.5 ")), s"got $fwd")
    assert(!fwd.exists(_.startsWith("mode,")), s"got $fwd")

    // phase 2b/2c: two more temp points with EXPLICIT future event times —
    // each run's batch emits CQ windows closed by the PREVIOUS batch's
    // watermark, so after 2c every phase-2/2b bucket is deterministically
    // closed (2c's own bucket stays open, append-mode contract)
    val farUs = System.currentTimeMillis() * 1000L
    MqttBus.publish("openchirp/device/d1/Temp", "30.0".getBytes("UTF-8"),
      farUs + 120L * 1000000L)
    runOnce()
    MqttBus.publish("openchirp/device/d1/Temp", "40.0".getBytes("UTF-8"),
      farUs + 240L * 1000000L)
    runOnce()
    val cnt = new graft.storage.TxLogTable(spark, s"$dir/oc/cnt").read()
      .select("c").as[Long].collect()
    assert(cnt.toSeq == Seq(1L, 1L),
      s"CQ must have downsampled the phase-2 and 2b temp points (2c's own " +
        s"bucket stays open under the append-mode contract), got ${cnt.toSeq}")

    // phase 3 (restart again): delete d1, then more data — now dropped
    MqttBus.publish(ev, """{"action":"delete","thing":{"id":"d1"}}""")
    runOnce()
    MqttBus.publish("openchirp/device/d1/Temp", "22.5")
    runOnce()
    assert(cat.points("oc").count() == 4L,
      "post-delete data must not land (registry gate is per batch)")

    // restarts never double-applied: the fenced sink committed exactly one
    // append per non-empty data batch (phases 2, 2b, 2c) — versions 0..2
    assert(cat.pointsTable("oc").version.contains(2L),
      s"expected exactly three commits, got version ${cat.pointsTable("oc").version}")
  }

  test("composed service: data-only micro-batches stay within the job budget; the control query never wakes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    MqttBus.clear()
    val dir = Files.createTempDirectory("svc_jobs").toString
    val conf = Map("service_id" -> "svcjobs", "data_dir" -> dir,
      "influx_database" -> "oc", "cq_lateness" -> "0 seconds",
      // status ticks once per stats_interval; the drains below wait for it
      "stats_interval" -> "1 second")
    // registry bootstrap: one drained run over a control event
    MqttBus.publish(ServiceMain.eventsTopic("svcjobs"),
      """{"action":"new","thing":{"id":"d1","transducers":[{"name":"temp"}]}}""")
    val boot = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      trigger = Trigger.AvailableNow())
    try boot.queries.foreach(q => assert(q.awaitTermination(120000)))
    finally ServiceMain.stop(boot)

    // Spark jobs by job group: a streaming query runs each micro-batch
    // under its runId's group, so this attributes every job to its query
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Int, b: Int) => a + b))
    }
    spark.sparkContext.addSparkListener(l)
    val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      trigger = Trigger.ProcessingTime(0))
    try {
      val control = h.queries(0)
      val data = h.queries(1)
      (1 to 4).foreach { i =>
        MqttBus.publish("openchirp/device/d1/temp", s"$i.5")
        MqttBus.publish("openchirp/device/d9/temp", s"$i.0") // unregistered
        data.processAllAvailable()
      }
      h.queries.foreach(_.processAllAvailable())
      // the listener bus is asynchronous but delivers in order: once a
      // sentinel job started after the queries drained is counted, every
      // job they ran has been counted
      spark.sparkContext.setJobGroup("svcjobs-sentinel", "listener drain")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.containsKey("svcjobs-sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.containsKey("svcjobs-sentinel"), "listener delivered no job starts within 30 s")
      val dataBatches = data.recentProgress.count(_.numInputRows > 0)
      val perBatch = jobs.getOrDefault(data.runId.toString, 0).toDouble / dataBatches
      assert(dataBatches >= 2, s"expected several data micro-batches, got $dataBatches")
      info(f"data plane: $perBatch%.2f jobs per micro-batch over $dataBatches batches")
      // the data plane's work is its one kernel job, the batch that
      // first sees a key included: the catalog append is written on the
      // driver, and with no subscription the fan-out runs nothing — no
      // emptiness probe, no range shuffle, no registry broadcast, no
      // catalog read or anti-join
      assert(perBatch <= DataJobsPerBatch,
        f"the data plane ran $perBatch%.1f jobs per micro-batch (budget $DataJobsPerBatch)")
      assert(control.recentProgress.forall(p => !p.durationMs.containsKey("addBatch")),
        "the control query ran a micro-batch with no control event published")
      assert(!jobs.containsKey(control.runId.toString), "the control query ran a Spark job")
      assert(new graft.influxql.InfluxCatalog(spark, dir, "oc").points("oc").count() == 4L)
    } finally {
      ServiceMain.stop(h)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("composed service: the derived queries tick at their own grain, not per arrival") {
    MqttBus.clear()
    val dir = Files.createTempDirectory("svc_cadence").toString
    val conf = Map("service_id" -> "svccad", "data_dir" -> dir,
      "influx_database" -> "oc", "cq_lateness" -> "0 seconds",
      "stats_interval" -> "1 minute")
    val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    cat.run("CREATE DATABASE oc")
    cat.run("CREATE CONTINUOUS QUERY down ON oc BEGIN " +
      "SELECT count(num) AS c INTO cnt FROM temp GROUP BY time(2s) END")
    MqttBus.publish(ServiceMain.eventsTopic("svccad"),
      """{"action":"new","thing":{"id":"d1","transducers":[{"name":"temp"}]}}""")
    val boot = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      publish = (_, _) => (), trigger = Trigger.AvailableNow())
    try boot.queries.foreach(q => assert(q.awaitTermination(120000)))
    finally ServiceMain.stop(boot)

    val t0 = System.nanoTime()
    val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      publish = (_, _) => (), trigger = Trigger.ProcessingTime(0))
    try (1 to 60).foreach { i =>
      MqttBus.publish("openchirp/device/d1/temp", s"$i.5")
      Thread.sleep(100)
    } finally ServiceMain.stop(h)
    val elapsedS = (System.nanoTime() - t0) / 1e9
    // an executed micro-batch is a progress event with an addBatch phase;
    // an idle trigger reports none
    def batches(i: Int) = h.queries(i).recentProgress.count(_.durationMs.containsKey("addBatch"))
    val (data, status, cq) = (batches(1), batches(2), batches(3))
    info(f"$elapsedS%.1f s: data plane $data, status $status, CQ $cq micro-batches")
    assert(data >= 3, s"the data plane ran only $data micro-batches")
    val cqBound = math.ceil(elapsedS / 2.0).toInt + 1
    assert(cq <= cqBound, s"the time(2s) CQ ran $cq micro-batches in $elapsedS s (bound $cqBound)")
    assert(status <= 2, s"status ran $status micro-batches in $elapsedS s on a 1 minute interval")
  }

  test("composed service: subscriptions and auto-create follow the live registry") {
    MqttBus.clear()
    val dir = Files.createTempDirectory("svc_live_reg").toString
    val conf = Map("service_id" -> "svclive", "data_dir" -> dir,
      "influx_database" -> "oc", "cq_lateness" -> "0 seconds",
      // status ticks once per stats_interval; the drains below wait for it
      "stats_interval" -> "1 second")
    val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    cat.run("CREATE DATABASE oc")
    cat.run("CREATE SUBSCRIPTION fwd ON oc.autogen DESTINATIONS ALL 'livesub/dest'")
    val ev = ServiceMain.eventsTopic("svclive")
    def forwarded = MqttBus.slice(0, MqttBus.size).filter(_._1 == "livesub/dest")
      .map(m => new String(m._2, "UTF-8"))
    // the service starts with an empty registry: d7 is unknown at start
    val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      trigger = Trigger.ProcessingTime(0))
    try {
      val control = h.queries(0)
      MqttBus.publish(ev,
        """{"action":"new","thing":{"id":"d7","transducers":[{"name":"temp"}]}}""")
      control.processAllAvailable()
      MqttBus.publish("openchirp/device/d7/temp", "12.5")
      h.queries.foreach(_.processAllAvailable())
      assert(forwarded.exists(_.startsWith("temp,device=d7 value=12.5 ")),
        s"a device registered after start was not forwarded: $forwarded")
      val catalogKeys = spark.read.parquet(s"$dir/transducer_catalog")
        .as[(String, String)].collect().toSet
      assert(catalogKeys == Set(("d7", "temp")), s"got $catalogKeys")

      MqttBus.publish(ev, """{"action":"delete","thing":{"id":"d7"}}""")
      control.processAllAvailable()
      MqttBus.publish("openchirp/device/d7/temp", "13.5")
      h.queries.foreach(_.processAllAvailable())
      assert(!forwarded.exists(_.contains("value=13.5")),
        s"a device deleted after start is still forwarded: $forwarded")
      assert(cat.points("oc").select("num").as[Double].collect().toSeq == Seq(12.5))
    } finally ServiceMain.stop(h)
  }

  test("composed service: a data-plane batch replayed after a crash adds no point, dead letter or catalog row") {
    MqttBus.clear()
    val dir = Files.createTempDirectory("svc_crash").toString
    val conf = Map("service_id" -> "svccrash", "data_dir" -> dir, "influx_database" -> "oc")
    def runOnce(): Unit = {
      val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
        publish = (_, _) => (), trigger = Trigger.AvailableNow())
      try h.queries.foreach(q => assert(q.awaitTermination(120000)))
      finally ServiceMain.stop(h)
    }
    MqttBus.publish(ServiceMain.eventsTopic("svccrash"),
      """{"action":"new","thing":{"id":"d1","transducers":[{"name":"temp"}]}}""")
    runOnce()
    MqttBus.publish("openchirp/device/d1/temp", "21.5")
    MqttBus.publish("openchirp/device/d1/hum", "40")
    MqttBus.publish("openchirp/device/d9/temp", "1.0") // unregistered
    MqttBus.publish("not/a/real/route/x", "junk")      // dead letter
    runOnce()
    val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    val deadLetters = new graft.storage.TxLogTable(spark, s"$dir/dead_letters")
    def catalogRows = spark.read.parquet(s"$dir/transducer_catalog").count()
    val (version, nPoints, nDead, nKeys) =
      (cat.pointsTable("oc").version, cat.points("oc").count(), deadLetters.read().count(), catalogRows)
    assert(version.contains(0L) && nPoints == 2L && nDead == 1L && nKeys == 2L,
      s"version $version, $nPoints points, $nDead dead letters, $nKeys catalog rows")

    // crash after the batch's effects but before its commit marker: the
    // restart re-runs the batch from its offset log
    val commits = new java.io.File(s"$dir/_checkpoints/points/commits")
    val last = commits.listFiles.map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    runOnce()
    assert(new java.io.File(commits, last.toString).exists(), "the restart did not re-run the batch")
    assert(cat.pointsTable("oc").version == version, "the replayed batch committed points again")
    assert(cat.points("oc").count() == nPoints)
    assert(deadLetters.read().count() == nDead, "the replayed batch dead-lettered again")
    assert(catalogRows == nKeys, "the replayed batch cataloged its keys again")
  }

  test("composed service: Handles.queries keeps the layout perfbench reads") {
    MqttBus.clear()
    val dir = Files.createTempDirectory("svc_layout").toString
    val conf = Map("service_id" -> "svclayout", "data_dir" -> dir,
      "influx_database" -> "oc", "cq_lateness" -> "0 seconds")
    val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    cat.run("CREATE DATABASE oc")
    cat.run("CREATE CONTINUOUS QUERY down ON oc BEGIN " +
      "SELECT count(num) AS c INTO cnt FROM temp GROUP BY time(1s) END")
    val registry = new graft.storage.TxLogTable(spark, s"$dir/registry")
    val cnt = new graft.storage.TxLogTable(spark, s"$dir/oc/cnt")
    // each phase keeps ONE index of a fresh service alive, so only the
    // query at that index can have made the effect the phase checks
    def only(idx: Seq[Int])(body: Seq[org.apache.spark.sql.streaming.StreamingQuery] => Unit): Unit = {
      val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
        publish = (_, _) => (), trigger = Trigger.ProcessingTime(0))
      try {
        assert(h.queries.size == 4, "control, data plane, status and one query per CQ")
        h.queries.indices.filterNot(idx.contains).foreach(i => h.queries(i).stop())
        body(idx.map(h.queries))
      } finally ServiceMain.stop(h)
    }
    // index 0 is the control query: an event lands in the registry
    only(Seq(0)) { qs =>
      MqttBus.publish(ServiceMain.eventsTopic("svclayout"),
        """{"action":"new","thing":{"id":"d1","transducers":[{"name":"temp"}]}}""")
      qs.head.processAllAvailable()
      assert(registry.version.nonEmpty, "index 0 did not apply the control event")
    }
    // index 1 is the data plane: a point advances the points table version
    val t0 = (System.currentTimeMillis() / 1000L + 3600L) * 1000000L
    only(Seq(1)) { qs =>
      MqttBus.publish("openchirp/device/d1/temp", "1.5".getBytes("UTF-8"), t0)
      qs.head.processAllAvailable()
      assert(cat.pointsTable("oc").version.contains(0L), "index 1 did not append the point")
    }
    // the CQ queries come last: a closed bucket lands in the CQ target
    only(Seq(3)) { qs =>
      MqttBus.publish("openchirp/device/d1/temp", "2.5".getBytes("UTF-8"), t0 + 2000000L)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (cnt.version.isEmpty && System.nanoTime() < deadline) {
        qs.head.processAllAvailable(); Thread.sleep(100)
      }
      assert(cnt.version.nonEmpty, "the last index did not run the continuous query")
    }
    assert(cat.pointsTable("oc").version.contains(0L), "only index 1 appends points")
  }

  test("composed service: a FILL(linear) CQ leaves no cached RDD behind its micro-batches") {
    MqttBus.clear()
    val dir = Files.createTempDirectory("svc_rdds").toString
    val conf = Map("service_id" -> "svcrdd", "data_dir" -> dir,
      "influx_database" -> "oc", "cq_lateness" -> "0 seconds",
      // status ticks once per stats_interval; the drains below wait for it
      "stats_interval" -> "1 second")
    val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    cat.run("CREATE DATABASE oc")
    cat.run("CREATE CONTINUOUS QUERY down ON oc BEGIN SELECT mean(num) AS m " +
      "INTO cnt FROM temp GROUP BY time(1s), device_id FILL(linear) END")
    MqttBus.publish(ServiceMain.eventsTopic("svcrdd"),
      """{"action":"new","thing":{"id":"d1","transducers":[{"name":"temp"}]}}""")
    MqttBus.publish(ServiceMain.eventsTopic("svcrdd"),
      """{"action":"new","thing":{"id":"d2","transducers":[{"name":"temp"}]}}""")
    val boot = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      publish = (_, _) => (), trigger = Trigger.AvailableNow())
    try boot.queries.foreach(q => assert(q.awaitTermination(120000)))
    finally ServiceMain.stop(boot)

    val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      publish = (_, _) => (), trigger = Trigger.ProcessingTime(0))
    // each micro-batch closes the previous one's buckets; d2 reports every
    // other second, so its gaps interpolate retroactively (the donor path)
    val t0 = (System.currentTimeMillis() / 1000L + 3600L) * 1000000L
    def batches(from: Int, until: Int): Unit = (from until until).foreach { i =>
      val ts = t0 + i * 2000000L
      MqttBus.publish("openchirp/device/d1/temp", s"$i.5".getBytes("UTF-8"), ts)
      if (i % 2 == 0) MqttBus.publish("openchirp/device/d2/temp", s"$i.0".getBytes("UTF-8"), ts)
      h.queries.foreach(_.processAllAvailable())
    }
    try {
      val n = 4
      batches(0, n)
      val afterN = spark.sparkContext.getPersistentRDDs.keySet
      batches(n, 2 * n)
      val after2N = spark.sparkContext.getPersistentRDDs.keySet
      val cnt = new graft.storage.TxLogTable(spark, s"$dir/oc/cnt")
      assert(cnt.version.nonEmpty && cnt.read().count() > 2L * n,
        "the CQ must have closed and filled buckets")
      assert((after2N -- afterN).isEmpty,
        s"cached RDDs grew from ${afterN.size} after $n micro-batches to ${after2N.size} " +
          s"after ${2 * n}: ${(after2N -- afterN).toSeq.sorted.map(spark.sparkContext.getPersistentRDDs)}")
    } finally ServiceMain.stop(h)
  }

  test("full wire drill: authed TLS MQTT ingest + line protocol through HTTP, one InfluxQL surface answers both") {
    MqttBus.clear()
    // the broker end of the reference deployment: TLS listener + CONNECT
    // credential enforcement (service.conf:14-22)
    val ksIn = getClass.getResourceAsStream("/mqtt-test-keystore.p12")
    assert(ksIn != null, "test keystore resource missing")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    ks.load(ksIn, "graft-test".toCharArray)
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "graft-test".toCharArray)
    val serverCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    val broker = new graft.streaming.MockMqttBroker(sslContext = Some(serverCtx))
    broker.requireCredentials(Map("svc-e2e" -> "wire-pw"))
    val caPem = Files.createTempFile("svc-ca", ".pem")
    Files.copy(getClass.getResourceAsStream("/mqtt-test-ca.pem"), caPem,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val dir = Files.createTempDirectory("svc_wire").toString
    val conf = Map(
      "service_id" -> "svc-e2e", "password" -> "wire-pw",
      "client_id" -> "svc-e2e-cli",
      "mqtt_broker" -> "127.0.0.1", "mqtt_broker_port" -> broker.port.toString,
      "enable_ssl" -> "True", "ssl_location" -> caPem.toString,
      "data_dir" -> dir, "influx_database" -> "oc",
      "http_port" -> "0")
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(cond, s"timed out waiting for $what")
    }
    def busHas(topic: String): Boolean =
      MqttBus.slice(0, MqttBus.size).exists(_._1 == topic)
    try {
      // wrong credentials never get a session — the wire really is gated
      val thief = GraftConfig.mqttTransport(conf + ("password" -> "wrong"))
      intercept[Exception](thief.connect())
      assert(!thief.isConnected)

      // each phase runs the COMPOSED service over the real TLS socket
      // (GraftConfig.mqttTransport — the same construction main uses);
      // messages published while it is subscribed traverse the encrypted
      // wire into the offset log, and the NEXT phase's AvailableNow
      // queries deterministically ingest them
      def phase(drive: ServiceMain.Handles => Unit): Unit = {
        val h = ServiceMain.start(spark, conf, GraftConfig.mqttTransport(conf),
          rest = None, publish = (_, _) => (),
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        try {
          drive(h)
          h.queries.foreach(q => assert(q.awaitTermination(120000)))
        } finally ServiceMain.stop(h)
      }
      val ev = ServiceMain.eventsTopic("svc-e2e")
      phase { _ =>
        broker.publish(ev,
          """{"action":"new","thing":{"id":"d1","transducers":[{"name":"Temp"}]}}""", 1)
        await("event over TLS")(busHas(ev))
      }
      phase { _ =>
        broker.publish("openchirp/device/d1/Temp", "21.5", 1)
        await("data over TLS")(busHas("openchirp/device/d1/Temp"))
      }
      // final phase: the MQTT point is in the ACID table; line protocol
      // enters as REAL TEXT through the service's own HTTP /write and the
      // one InfluxQL surface answers both doors
      phase { h =>
        val port = h.http.get.boundPort
        val cli = java.net.http.HttpClient.newHttpClient()
        def get(path: String) = cli.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
        // DDL goes via POST (the GET gate refuses mutating statements)
        val mk = cli.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/query"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"q=${enc("CREATE DATABASE lp")}")).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(mk.statusCode() == 200, mk.body())
        val w = cli.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/write?db=lp"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            "pres,device=d1 value=900 8000000000\n")).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(w.statusCode() == 204, w.body())
        val lpQ = get(s"/query?db=lp&epoch=u&q=${enc("SELECT value FROM pres")}")
        assert(lpQ.body().contains("[8000000, 900.0]"), lpQ.body())
        val mqttQ = get(s"/query?q=${enc("SELECT count(num) FROM temp")}")
        assert(mqttQ.body().contains("1"), mqttQ.body())
      }
      // the wire point really landed through parse -> registry -> ACID
      val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
      assert(cat.run("SELECT count(num) FROM temp").as[Long].collect().toSeq
        == Seq(1L), "the TLS-ingested point answers InfluxQL")
    } finally broker.close()
  }

  test("wide-bind drill: http_bind=0.0.0.0 + http_auth + http_ssl compose with the full service") {
    // the hardened listener in one piece: bound beyond loopback, TLS on
    // the wire, credentials enforced — the deployment shape where all
    // three knobs must hold together (plaintext + 0.0.0.0 would put the
    // authenticated credentials on the open network)
    val combined = exportCombinedTlsPem()
    val caPem = exportCaPem()
    val dir = Files.createTempDirectory("svc_widebind").toString
    val conf = Map(
      "data_dir" -> dir, "influx_database" -> "oc",
      "http_port" -> "0", "http_bind" -> "0.0.0.0", "http_auth" -> "true",
      "http_ssl" -> "true", "http_ssl_cert" -> combined.toString)
    val h = ServiceMain.start(spark, conf, new graft.streaming.InProcessTransport,
      rest = None, publish = (_, _) => (),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
      cat.run("CREATE USER ops WITH PASSWORD 'opw' WITH ALL PRIVILEGES")
      val port = h.http.get.boundPort
      val cli = java.net.http.HttpClient.newBuilder()
        .sslContext(GraftConfig.sslContextFromCaFile(caPem.toString)).build()
      val b = s"https://127.0.0.1:$port"
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      // anonymous is refused (auth-enabled), even over valid TLS
      val anon = cli.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$b/query?q=${enc("SHOW DATABASES")}")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(anon.statusCode() == 401, s"${anon.statusCode()} ${anon.body()}")
      // credentialed write -> query round-trips over the encrypted wire
      val w = cli.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$b/write?db=oc&u=ops&p=opw"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          "wbm,device=d9 value=4 6000000000")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(w.statusCode() == 204, w.body())
      val q = cli.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"$b/query?db=oc&u=ops&p=opw&epoch=u&q=${enc("SELECT value FROM wbm")}"))
        .GET().build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200 && q.body().contains("[6000000, 4.0]"), q.body())
      // plaintext to the widened TLS port is refused outright
      intercept[java.io.IOException] {
        java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/ping")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      }
    } finally ServiceMain.stop(h)
  }

  test("udp input: udp_port wires the datagram face into the composed service") {
    val dir = Files.createTempDirectory("svc_udp").toString
    val conf = Map("data_dir" -> dir, "influx_database" -> "oc",
      "udp_port" -> "0", "udp_batch_timeout_ms" -> "50",
      "udp_precision" -> "u") // influxdb.conf's [[udp]] precision knob
    val h = ServiceMain.start(spark, conf, new graft.streaming.InProcessTransport,
      rest = None, publish = (_, _) => (),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      val u = h.udp.get
      assert(u.boundPort > 0)
      val s = new java.net.DatagramSocket()
      try {
        val payload = "udpm,device=d7 value=7.5 7000000".getBytes("UTF-8")
        s.send(new java.net.DatagramPacket(payload, payload.length,
          java.net.InetAddress.getLoopbackAddress, u.boundPort))
      } finally s.close()
      val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
      def landed() = cat.points("oc")
        .filter(org.apache.spark.sql.functions.col("transducer") === "udpm")
        .select("device", "ts_us", "value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      val deadline = System.nanoTime() + 60000000000L
      while (landed().isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      // the µs wire timestamp lands as-is under udp_precision=u
      assert(landed() == Seq(("d7", 7000000L, 7.5)),
        s"the udp datagram must land at its µs precision: ${landed()}")
    } finally ServiceMain.stop(h)
  }

  test("maintenance compaction folds small streaming appends into one dir") {
    val dir = Files.createTempDirectory("svc_compact").toString
    val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    cat.run("CREATE DATABASE oc")
    for (i <- 0 until 5)
      cat.writePoints("oc", Seq(("a", "temp", i.toLong, i.toDouble))
        .toDF("device", "transducer", "ts_us", "value"))
    val t = cat.pointsTable("oc")
    assert(t.dirPaths(t.version.get).size == 5, "five appends = five dirs")
    val swept = ServiceMain.compactionSweep(spark, dir)
    assert(swept.map(_._1) == Seq("oc/points"), s"got $swept")
    assert(cat.pointsTable("oc").dirPaths(cat.pointsTable("oc").version.get).size == 1,
      "the tick folds the small files into one dir")
    assert(cat.points("oc").count() == 5, "content identical after the fold")
    // a second tick has nothing to fold — no empty commits
    assert(ServiceMain.compactionSweep(spark, dir).isEmpty)
    // vacuum (opt-in) reclaims the five unreferenced pre-compaction dirs
    // at grace 0; the live folded dir survives and stays readable
    val vacuumed = ServiceMain.vacuumSweep(spark, dir, graceMs = 0L)
    assert(vacuumed == Seq("oc" -> 5), s"got $vacuumed")
    assert(cat.points("oc").count() == 5, "live snapshot untouched by vacuum")
    assert(ServiceMain.vacuumSweep(spark, dir, graceMs = 0L).isEmpty)
  }

  test("retention service: the periodic sweep expires points past the default policy") {
    val dir = Files.createTempDirectory("svc_ret").toString
    val cat = new graft.influxql.InfluxCatalog(spark, dir, "oc")
    cat.run("CREATE DATABASE oc")
    cat.run("CREATE RETENTION POLICY keep1h ON oc DURATION 1h DEFAULT")
    val nowUs = System.currentTimeMillis() * 1000L
    cat.writePoints("oc", Seq(
      ("a", "temp", nowUs - 7200L * 1000000L, 1.0), // 2 h old: expired
      ("a", "temp", nowUs - 60L * 1000000L, 2.0))   // 1 min old: kept
      .toDF("device", "transducer", "ts_us", "value"))

    // the forced tick (the timer body): one expiry commit on oc
    val swept = ServiceMain.retentionSweep(spark, dir)
    assert(swept.map(_._1) == Seq("oc"), s"got $swept")
    assert(cat.points("oc").select("value").as[Double].collect().toSeq == Seq(2.0),
      "the 2 h-old point must be gone, the fresh one kept")

    // ... and the service's own timer runs the same sweep: seed another
    // expired point, start the composed service with a 100 ms check
    // interval, and watch the query surface lose it without any forced call
    cat.writePoints("oc", Seq(("b", "temp", nowUs - 7200L * 1000000L, 9.0))
      .toDF("device", "transducer", "ts_us", "value"))
    assert(cat.points("oc").count() == 2)
    val conf = Map("service_id" -> "svcret", "data_dir" -> dir,
      "influx_database" -> "oc", "retention_check_interval_ms" -> "100")
    val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      publish = (_, _) => (), trigger = Trigger.AvailableNow())
    try {
      assert(h.retention.exists(_.isAlive), "retention timer must be running")
      val deadline = System.currentTimeMillis() + 30000
      while (cat.points("oc").count() != 1 &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cat.points("oc").select("value").as[Double].collect().toSeq
        == Seq(2.0), "the timer tick must expire the seeded old point")
    } finally ServiceMain.stop(h)
    assert(h.retention.exists(!_.isAlive) || {
      Thread.sleep(500); h.retention.exists(!_.isAlive)
    }, "stop() must interrupt the timer")
  }
}
