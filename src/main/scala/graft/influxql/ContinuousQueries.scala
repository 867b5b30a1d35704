package graft.influxql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.storage.TxLogTable
import InfluxQL.{tokenize, P}

/** The continuous-query REGISTRY — the management half of InfluxDB's CQ
  * surface ([[InfluxQL.startContinuousQuery]] is the execution half):
  *
  *   CREATE CONTINUOUS QUERY <name> ON <db>
  *     [RESAMPLE [EVERY <dur>] [FOR <dur>]] BEGIN <select INTO ...> END
  *   SHOW CONTINUOUS QUERIES                      (db, name, query)
  *   DROP CONTINUOUS QUERY <name> ON <db>
  *
  * Definitions persist in a control-plane [[TxLogTable]] at
  * `<root>/_continuous_queries` (rows = number of CQs), so they survive
  * restarts the way InfluxDB's meta store does; [[startAll]] turns every
  * registered definition for a db into its running watermarked stream —
  * the restart path a deployment calls after [[graft.ServiceMain]]-style
  * startup. Semantics follow InfluxDB 1.x: CREATE validates the inner
  * SELECT (must have INTO and GROUP BY time) and fails on a duplicate
  * name; DROP fails on a missing one.
  */
object ContinuousQueries {

  private def table(spark: SparkSession, root: String) =
    new TxLogTable(spark, s"$root/_continuous_queries")

  /** One registered CQ: its stored DDL text and, parsed once per registry
    * commit, its INTO target.
    */
  private final case class Def(db: String, name: String, query: String,
                               target: Option[String])

  /** The registry, (db, name)-ordered, as a driver-side snapshot. */
  private def defs(spark: SparkSession, root: String): TxLogTable.Snapshot[Seq[Def]] =
    table(spark, root).snapshot("defs")(_.map { r =>
      val q = r.getAs[String]("query")
      Def(r.getAs[String]("db"), r.getAs[String]("name"), q, targetOf(q))
    }.sortBy(d => (d.db, d.name)))

  /** SHOW shape: (db, name, query) ordered by (db, name). */
  def show(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    defs(spark, root).value.map(d => (d.db, d.name, d.query)).toDF("db", "name", "query")
  }

  /** INTO target of one registered CQ definition (its stored DDL text).
    * Registered defs always parse (CREATE validated them), but a row
    * hand-edited into the registry degrades to None rather than wedging
    * every write that consults the target set.
    */
  private def targetOf(ddl: String): Option[String] =
    selectOf(ddl).flatMap(_.into.filter(_ != ":MEASUREMENT"))

  /** The inner SELECT of one registered CQ definition, or None if its
    * stored DDL text does not parse.
    */
  private def selectOf(ddl: String): Option[InfluxQL.Query] =
    try {
      val p = new P(tokenize(ddl))
      while (!p.done && !p.kw("BEGIN")) p.next()
      if (p.done) None else Some(InfluxQL.parseQuery(p))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The registered CQ target measurements of `db` — the tables the
    * sole-writer contract reserves for their CQs. The fill frontier's
    * dense-grid invariant (every (series, bucket) cell of the committed
    * range present — what seeds LOCF carries and linear's donor runs)
    * only holds while the CQ is its target's sole content writer, so the
    * write faces consult this set and REFUSE external appends into it.
    * The write faces ask on EVERY append (every UDP flush included), so
    * the set is a lookup on the registry's driver-side snapshot, whose
    * targets were parsed once per registry commit.
    */
  def cqTargets(spark: SparkSession, root: String, db: String): Set[String] =
    defs(spark, root).value.filter(_.db == db).flatMap(_.target).toSet

  /** Parse + execute one CQ management statement; every form returns the
    * refreshed SHOW CONTINUOUS QUERIES surface.
    */
  def run(spark: SparkSession, root: String, text: String,
          requireDb: String => Unit = null): DataFrame = {
    import spark.implicits._
    val p = new P(tokenize(text))
    if (p.kw("SHOW")) {
      p.expectKw("CONTINUOUS"); p.expectKw("QUERIES")
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      return show(spark, root)
    }
    val create = p.kw("CREATE")
    if (!create && !p.kw("DROP"))
      p.fail("expected CREATE, DROP or SHOW CONTINUOUS QUER...")
    p.expectKw("CONTINUOUS"); p.expectKw("QUERY")
    val name = p.ident()
    p.expectKw("ON")
    val db = p.ident()
    if (requireDb != null) requireDb(db)
    def exists(s: TxLogTable.Snapshot[Seq[Def]]): Boolean =
      s.value.exists(d => d.db == db && d.name == name)
    if (!create) {
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      if (!exists(defs(spark, root))) throw new IllegalArgumentException(
        s"InfluxQL: continuous query not found: $name on $db")
      table(spark, root).delete(col("db") === db && col("name") === name)
      return show(spark, root)
    }
    val rs = InfluxQL.parseResample(p)
    p.expectKw("BEGIN")
    val q = InfluxQL.parseQuery(p)
    p.expectKw("END")
    if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
    // validate what the execution half will need, at DDL time — a CQ that
    // can never start must fail at CREATE, not at restart
    if (q.into.isEmpty) p.fail("continuous query needs SELECT ... INTO")
    if (q.into.contains(":MEASUREMENT"))
      p.fail("continuous queries need a named INTO target, not :MEASUREMENT")
    if (q.groupTimeUs.isEmpty) p.fail("continuous query needs GROUP BY time(d)")
    // top()/bottom() return original POINTS, not bucket aggregates — the
    // streaming MERGE sink is keyed on (bucket time, tags), which a
    // point-shaped result cannot ride; loud at CREATE, never at restart
    if (q.fields.exists(_.calls.exists(f => InfluxQL.TopBottomFuncs.contains(f.func))))
      p.fail("continuous queries aggregate buckets — top()/bottom() return " +
        "original points; run them as batch SELECT ... INTO instead")
    // selector companions (max(value), tag — r17) are point-shaped too:
    // the fill frontier's dense-grid contract has no cell for them, loud
    // at CREATE exactly like top/bottom
    if (InfluxQL.selectorCompanion(q).nonEmpty)
      p.fail("continuous queries aggregate buckets — selector companion " +
        "columns return point values the keyed MERGE cannot maintain; run " +
        "them as batch SELECT ... INTO instead")
    // every fill mode densifies at emission (linear retroactively,
    // through the keyed MERGE) — nothing left to reject here
    InfluxQL.validateResample(p, rs, q)
    // of concurrent CREATEs of one name or target exactly one lands
    table(spark, root).appendChecked(
        Seq((db, name, text.trim)).toDF("db", "name", "query")) {
      val s = defs(spark, root)
      if (exists(s)) throw new IllegalArgumentException(
        s"InfluxQL: continuous query already exists: $name on $db")
      // sole-writer contract, enforced at DDL time (a CQ that could never
      // hold its fill invariant must fail at CREATE): the raw points table
      // belongs to the write faces — a CQ merging into it would both break
      // its own dense-grid frontier under every external write AND flip the
      // table merge-maintained, refusing the ingest path's appends; and a
      // SECOND CQ on the same target is just another external writer from
      // the first one's point of view
      val target = q.into.get
      if (target == "points")
        p.fail("a continuous query cannot target the raw 'points' measurement" +
          " — the write faces own it and would break the CQ's fill invariant")
      if (s.value.exists(d => d.db == db && d.target.contains(target)))
        throw new IllegalArgumentException(
          s"InfluxQL: continuous query target $target on $db already belongs " +
            "to another continuous query (CQ targets have exactly one writer)")
      s.version
    }
    show(spark, root)
  }

  /** Start every registered CQ for `db` as its watermarked streaming MERGE
    * (checkpoint per CQ under `<root>/_checkpoints/cq_<db>_<name>`, so a
    * restart resumes each stream exactly-once). Returns (name, query)
    * handles; callers own stopping them.
    *
    * `trigger` = AvailableNow drains each CQ's backlog and stops (the
    * `--once` maintenance run). Any other trigger starts the CQs live on
    * InfluxDB 1.x's CQ schedule: each runs once per GROUP BY time()
    * interval, or once per RESAMPLE EVERY where it says so. A bucket is
    * written at the first tick after the watermark that closes it was
    * set, so it lands at most two intervals (plus lateness) after it
    * closes.
    */
  def startAll(spark: SparkSession, root: String, db: String,
               streamPoints: DataFrame, lateness: String = "1 minute",
               trigger: Trigger = Trigger.AvailableNow()): Seq[(String, StreamingQuery)] = {
    defs(spark, root).value.filter(_.db == db)
      .map { case Def(_, name, ddl, _) =>
        // RESAMPLE EVERY replaces this schedule inside startContinuousQuery
        val schedule =
          if (trigger == Trigger.AvailableNow()) trigger
          else selectOf(ddl).flatMap(_.groupTimeUs)
            .fold(trigger)(us => Trigger.ProcessingTime(math.max(1L, us / 1000L)))
        name -> InfluxQL.startContinuousQuery(streamPoints, ddl, root,
          checkpoint = s"$root/_checkpoints/cq_${db}_$name",
          lateness = lateness, trigger = schedule)
      }
  }
}
