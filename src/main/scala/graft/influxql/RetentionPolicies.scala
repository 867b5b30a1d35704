package graft.influxql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.TxLogTable
import InfluxQL.{tokenize, P, TDur, TIdent, TStr}

/** Retention-policy DDL — the statements that make expiry expressible in
  * the dialect instead of a Scala API call (the InfluxDB user's actual
  * interface to the engine's retention primitives):
  *
  *   CREATE RETENTION POLICY <name> ON <db> DURATION <dur|INF>
  *     [REPLICATION <n>] [DEFAULT]
  *   ALTER  RETENTION POLICY <name> ON <db> [same clauses]
  *   DROP   RETENTION POLICY <name> ON <db>
  *   SHOW   RETENTION POLICIES [ON <db>]
  *
  * Policies persist in a [[TxLogTable]] at `<root>/_retention_policies` —
  * control-plane rows with the same ACID history as the data they govern,
  * read as a driver-side snapshot ([[TxLogTable.snapshot]]), so every
  * policy check is a lookup, never a Spark job. DURATION INF stores -1
  * (never expires); a finite duration must be >= 1h (InfluxDB's floor).
  * DEFAULT flips the db's previous default off in the same commit
  * (one-default-per-db). CREATE is an upsert (idempotent re-issue, like
  * re-running any of this engine's DDL). Every statement returns the
  * affected db's policies in SHOW shape:
  * (db, name, duration_us, replica_n, is_default) ordered by name.
  *
  * Enforcement is a separate, schedulable step — [[cutoffUs]] feeds
  * [[TxLogTable.expireOlderThan]] (×1000 for the ns point store) or
  * day-floors into [[graft.storage.PointStore.expirePartitionsBefore]]; or
  * call [[enforce]] for the one-line form.
  */
object RetentionPolicies {

  /** One stored policy; DURATION INF is `durationUs` -1. */
  private final case class Policy(db: String, name: String, durationUs: Long,
                                  replicaN: Long, isDefault: Boolean) {
    def row: (String, String, Long, Long, Boolean) = (db, name, durationUs, replicaN, isDefault)
  }
  private val Columns = Seq("db", "name", "duration_us", "replica_n", "is_default")

  private def table(spark: SparkSession, root: String) =
    new TxLogTable(spark, s"$root/_retention_policies")

  /** Every policy, (db, name)-ordered. */
  private def policies(spark: SparkSession, root: String): Seq[Policy] =
    table(spark, root).snapshot("policies")(_.map(r => Policy(r.getAs[String]("db"),
      r.getAs[String]("name"), r.getAs[Long]("duration_us"), r.getAs[Long]("replica_n"),
      r.getAs[Boolean]("is_default"))).sortBy(p => (p.db, p.name))).value

  private def defaultOf(spark: SparkSession, root: String, db: String): Option[Policy] =
    policies(spark, root).find(p => p.db == db && p.isDefault)

  /** The db's default policy name (`autogen` when none is registered — the
    * seed policy every new database gets).
    */
  def defaultName(spark: SparkSession, root: String, db: String): String =
    defaultOf(spark, root, db).fold("autogen")(_.name)

  def exists(spark: SparkSession, root: String, db: String, rp: String): Boolean =
    policies(spark, root).exists(p => p.db == db && p.name == rp)

  /** DROP DATABASE's cascade: every policy of `db` goes. */
  def dropDatabase(spark: SparkSession, root: String, db: String): Unit = {
    val t = table(spark, root)
    if (t.version.nonEmpty) t.delete(col("db") === db)
  }

  /** Parse + execute one retention statement (see the object doc). */
  def run(spark: SparkSession, text: String, root: String,
          requireDb: String => Unit = null): DataFrame = {
    import spark.implicits._
    val table = RetentionPolicies.table(spark, root)
    def show(db: Option[String]): DataFrame =
      policies(spark, root).filter(p => db.forall(_ == p.db)).map(_.row).toDF(Columns: _*)
    val p = new P(tokenize(text))
    if (p.kw("SHOW")) {
      p.expectKw("RETENTION"); p.expectKw("POLICIES")
      val db = if (p.kw("ON")) Some(p.ident()) else None
      if (requireDb != null) db.foreach(requireDb)
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      return show(db)
    }
    val alter = p.kw("ALTER")
    val create = !alter && p.kw("CREATE")
    val drop = !alter && !create && p.kw("DROP")
    if (!(alter || create || drop))
      p.fail("expected CREATE, ALTER, DROP or SHOW RETENTION ...")
    p.expectKw("RETENTION"); p.expectKw("POLICY")
    val name = p.next() match {
      case TIdent(s) => s
      case TStr(s, _) => s
      case t => p.fail(s"expected policy name, got '${t.raw}'")
    }
    p.expectKw("ON")
    val db = p.ident()
    if (requireDb != null) requireDb(db)
    if (drop) {
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      if (table.version.nonEmpty)
        table.delete(col("db") === db && col("name") === name)
      return show(Some(db))
    }
    var dur: Option[Long] = None
    var repl = 1L
    var dflt = false
    var progressed = true
    while (progressed && !p.done) {
      if (p.kw("DURATION")) dur = Some(p.peek match {
        case Some(TDur(us, _)) => p.next(); us
        case Some(TIdent(s)) if s.equalsIgnoreCase("INF") => p.next(); -1L
        case t => p.fail(s"expected duration or INF, got '${t.map(_.raw).getOrElse("<end>")}'")
      })
      else if (p.kw("REPLICATION")) repl = p.num().toLong
      else if (p.kw("DEFAULT")) dflt = true
      else progressed = false
    }
    if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
    val durUs = dur.getOrElse(
      p.fail(s"${if (alter) "ALTER" else "CREATE"} RETENTION POLICY needs DURATION"))
    require(durUs == -1L || durUs >= 3600000000L,
      "InfluxQL: retention DURATION must be >= 1h or INF")
    // one default per db: the previous default flips off IN THE SAME merge
    // commit — no window where the db has two defaults
    val prior = if (!dflt) Nil else policies(spark, root)
      .filter(q => q.db == db && q.isDefault && q.name != name).map(_.copy(isDefault = false))
    table.merge((Policy(db, name, durUs, repl, dflt) +: prior).map(_.row).toDF(Columns: _*),
      Seq("db", "name"))
    show(Some(db))
  }

  /** The expiry cutoff (µs since epoch) the db's DEFAULT retention policy
    * implies at `nowUs`: `now - duration`. None when the db has no default
    * policy or its duration is INF.
    */
  def cutoffUs(spark: SparkSession, root: String, db: String, nowUs: Long): Option[Long] =
    defaultOf(spark, root, db).map(_.durationUs).filter(_ >= 0L).map(nowUs - _)

  /** Apply the db's default retention policy to an ACID points table: one
    * [[TxLogTable.expireOlderThan]] commit at the policy cutoff. `usToCol`
    * converts the cutoff to the retention column's unit (pass `_ * 1000`
    * for the nanosecond point store). Returns the committed version; None
    * when the db has no finite default policy.
    */
  def enforce(spark: SparkSession, table: TxLogTable, tsCol: String, root: String,
              db: String, nowUs: Long, usToCol: Long => Long = identity): Option[Long] =
    cutoffUs(spark, root, db, nowUs).map(c => table.expireOlderThan(tsCol, usToCol(c)))
}
