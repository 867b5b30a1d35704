package graft.influxql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.TxLogTable
import InfluxQL.{tokenize, P, TStr}

/** InfluxDB 1.x SUBSCRIPTIONS — the write fan-out surface (InfluxDB
  * forwards every point written to a database to each subscription's
  * destinations; Kapacitor is the canonical subscriber):
  *
  *   CREATE SUBSCRIPTION <name> ON <db>.<rp> DESTINATIONS ALL|ANY 'dest' [, 'dest' ...]
  *   SHOW SUBSCRIPTIONS        (db, retention_policy, name, mode, destinations, dropped)
  *   DROP SUBSCRIPTION <name> ON <db>.<rp>
  *
  * Definitions persist in a control-plane [[TxLogTable]] at
  * `<root>/_subscriptions` (rows = number of subscriptions), like the CQ
  * and retention registries. Semantics follow InfluxDB 1.x: the (db, rp)
  * pair must exist, a duplicate name per (db, rp) fails at CREATE, DROP of
  * a missing subscription fails loudly, mode is ALL (every destination
  * receives every point) or ANY (each point goes to exactly one
  * destination — pinned here as a deterministic content hash, the
  * reproducible face of InfluxDB's round-robin balancing).
  *
  * The execution half ([[fanOut]]) is the data plane's last step: each
  * micro-batch re-reads the registry (a new subscription takes effect
  * without a restart, as in InfluxDB) and publishes every point as line
  * protocol from the EXECUTORS — `foreachPartition` with a per-partition
  * publisher, never a driver-side collect, so the fan-out scales with the
  * write path it mirrors.
  */
object Subscriptions {

  /** Destinations joined for storage/SHOW. InfluxDB renders the list as a
    * single bracketed string; a comma never appears inside a destination
    * URL's authority, and CREATE re-splits on the same separator.
    */
  private val DestSep = ", "

  private def table(spark: SparkSession, root: String) =
    new TxLogTable(spark, s"$root/_subscriptions")

  private def defs(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, root)
    if (t.version.isEmpty)
      Seq.empty[(String, String, String, String, String)]
        .toDF("db", "retention_policy", "name", "mode", "destinations")
    else t.read()
  }

  /** SHOW shape: (db, retention_policy, name, mode, destinations, dropped).
    * `dropped` is the fan-out's cap gauge for the row's database
    * ([[droppedFor]]) — InfluxDB exposes its subscriber drop counters
    * through SHOW STATS; surfacing them on the listing too makes a
    * misbehaving cap observable right where the operator manages the
    * subscription. Control-plane collect: rows = number of subscriptions.
    */
  def show(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    defs(spark, root).orderBy("db", "retention_policy", "name")
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), droppedFor(root, r.getString(0))))
      .toDF("db", "retention_policy", "name", "mode", "destinations", "dropped")
  }

  /** Parse + execute one subscription management statement; every form
    * returns the refreshed SHOW SUBSCRIPTIONS surface. `requireRp`
    * validates the (db, rp) pair against the catalog/retention stores.
    */
  def run(spark: SparkSession, root: String, text: String,
          requireRp: (String, String) => Unit = (_, _) => ()): DataFrame = {
    import spark.implicits._
    val p = new P(tokenize(text))
    if (p.kw("SHOW")) {
      p.expectKw("SUBSCRIPTIONS")
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      return show(spark, root)
    }
    val create = p.kw("CREATE")
    if (!create && !p.kw("DROP"))
      p.fail("expected CREATE, DROP or SHOW SUBSCRIPTION...")
    p.expectKw("SUBSCRIPTION")
    val name = p.next() match {
      case TStr(s, _) => s
      case InfluxQL.TIdent(s) => s
      case t => p.fail(s"expected subscription name, got '${t.raw}'")
    }
    p.expectKw("ON")
    val db = p.ident()
    p.expectSym(".")
    val rp = p.ident()
    requireRp(db, rp)
    def exists: Boolean = defs(spark, root).filter(
      col("db") === db && col("retention_policy") === rp &&
        col("name") === name).limit(1).count() > 0
    if (!create) {
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      if (!exists) throw new IllegalArgumentException(
        s"InfluxQL: subscription not found: $name on $db.$rp")
      table(spark, root).delete(
        col("db") === db && col("retention_policy") === rp && col("name") === name)
      return show(spark, root)
    }
    p.expectKw("DESTINATIONS")
    val mode =
      if (p.kw("ALL")) "ALL"
      else if (p.kw("ANY")) "ANY"
      else p.fail("expected ALL or ANY after DESTINATIONS")
    def dest(): String = p.next() match {
      case TStr(s, _) =>
        if (s.contains(DestSep.trim)) p.fail(s"destination may not contain ','")
        s
      case t => p.fail(s"expected quoted destination, got '${t.raw}'")
    }
    val dests = Seq.newBuilder[String]
    dests += dest()
    while (p.sym(",")) dests += dest()
    if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
    // of concurrent CREATEs of one name exactly one lands
    table(spark, root).appendChecked(Seq((db, rp, name, mode, dests.result().mkString(DestSep)))
        .toDF("db", "retention_policy", "name", "mode", "destinations")) {
      if (exists) throw new IllegalArgumentException(
        s"InfluxQL: subscription already exists: $name on $db.$rp")
    }
    show(spark, root)
  }

  /** One narrow-layout point as InfluxDB line protocol
    * (`measurement,device=d value=v <ns>`) — the wire shape a subscriber
    * like Kapacitor expects.
    */
  def lineProtocol(transducer: String, device: String, tsUs: Long, value: Double): String =
    s"$transducer,device=$device value=$value ${tsUs * 1000L}"

  /** The destination index an ANY-mode point lands on: a deterministic
    * content hash (reproducible across retries — the pinned stand-in for
    * InfluxDB's round-robin balancer, which is arrival-order-dependent).
    */
  def anyIndex(transducer: String, device: String, tsUs: Long, nDests: Int): Int = {
    val h = java.util.Objects.hash(transducer, device, java.lang.Long.valueOf(tsUs))
    math.floorMod(h, nDests)
  }

  /** Rows the per-batch cap dropped instead of forwarding, summed across
    * every fan-out on this JVM — the operational gauge a deployment
    * watches to size `maxRowsPerBatch` (non-zero = a subscriber is too
    * slow for the write rate and fidelity is being traded for liveness).
    * AT-LEAST-ONCE under micro-batch retries: a batch replayed after a
    * crash re-counts its excess, the same contract as the re-published
    * rows it mirrors — read it as "at least this many", never an exact
    * ledger.
    */
  val droppedRows = new java.util.concurrent.atomic.AtomicLong(0)

  /** The same gauge scoped per (root, db) fan-out — what SHOW
    * SUBSCRIPTIONS' `dropped` column and SHOW STATS' `sub_dropped` answer
    * (per-deployment, so two catalogs on one JVM never read each other's
    * drops). Driver-side state bounded by the number of fan-outs.
    */
  private val droppedByScope =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  // normalize the root so every spelling of one deployment (trailing
  // slash, relative vs absolute) shares a counter -- the JVM-wide gauge is
  // spelling-blind and the scoped one must not split where it doesn't
  private def scopeKey(root: String, db: String) =
    java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString + "\u0000" + db
  def droppedFor(root: String, db: String): Long =
    Option(droppedByScope.get(scopeKey(root, db))).map(_.get()).getOrElse(0L)
  private def addDropped(root: String, db: String, n: Long): Unit = {
    droppedRows.addAndGet(n)
    droppedByScope.computeIfAbsent(scopeKey(root, db),
      _ => new java.util.concurrent.atomic.AtomicLong(0)).addAndGet(n)
  }

  /** The write fan-out for `db`, one data-plane micro-batch at a time
    * ([[graft.streaming.StreamingIngest.startDataPlane]]): reads the
    * registry (a new subscription takes effect at the next batch, as in
    * InfluxDB) and publishes each of `points` — (device, transducer,
    * ts_us, value) rows — to its subscription destinations from the
    * executors (per-partition publisher via `publishFactory`, serialized to
    * the tasks — the in-process bus by default, a real MQTT/UDP client in
    * a deployment). A database with no subscription runs nothing.
    *
    * Delivery is AT-LEAST-ONCE: a replayed micro-batch (crash between
    * publish and checkpoint) re-publishes its points — the same contract
    * as InfluxDB's UDP/HTTP subscription writer and MQTT QoS 1;
    * subscribers dedup on (series, timestamp) if they need exactly-once.
    *
    * Backpressure: `publish` runs INSIDE the task, so a slow destination
    * blocks its partition and, transitively, the micro-batch — the same
    * coupling as InfluxDB's blocking subscription writer. A deployment
    * that prefers liveness bounds the exposure with `maxRowsPerBatch`:
    * each batch forwards at most that many rows (deterministic limit) and
    * counts the excess into [[droppedRows]] — InfluxDB's own
    * write-buffer-overflow drop, made explicit and observable.
    */
  def fanOut(points: DataFrame, db: String, root: String,
             publishFactory: () => (String, String) => Unit =
               () => (dest, payload) => graft.streaming.MqttBus.publish(dest, payload),
             maxRowsPerBatch: Option[Int] = None): Unit = {
    // control-plane read: one row per subscription for this db
    val subs = defs(points.sparkSession, root).filter(col("db") === db)
      .select("mode", "destinations").collect()
      .map(r => (r.getString(0), r.getString(1).split(DestSep).toSeq))
      .toSeq
    if (subs.nonEmpty) {
      val factory = publishFactory
      val capped = maxRowsPerBatch match {
        case Some(cap) =>
          val n = points.count()
          if (n > cap) addDropped(root, db, n - cap)
          // oldest-first with explicit tie-breaks: a bare limit would
          // forward an ARBITRARY subset of the batch; ordering makes the
          // kept slice stable and meaningful (the earliest points a late
          // subscriber is most likely to still want)
          points.orderBy(col("ts_us"), col("device"), col("transducer")).limit(cap)
        case None => points
      }
      capped.select("transducer", "device", "ts_us", "value")
        .foreachPartition { rows: Iterator[Row] =>
          val publish = factory()
          rows.foreach { r =>
            val (m, d, ts, v) = (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))
            val line = lineProtocol(m, d, ts, v)
            subs.foreach { case (mode, dests) =>
              if (mode == "ALL") dests.foreach(publish(_, line))
              else publish(dests(anyIndex(m, d, ts, dests.size)), line)
            }
          }
        }
    }
  }
}
