package graft.influxql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.TxLogTable
import InfluxQL.{tokenize, P, TStr}

/** InfluxQL 1.x user management and authorization — the admin surface the
  * reference service's own connection settings presuppose (it authenticates
  * every InfluxDB call with a service user, `influx_service.py:417-421`,
  * `service.conf:16-17`; someone had to CREATE that user and GRANT it
  * WRITE on the database):
  *
  *   CREATE USER <u> WITH PASSWORD '<pw>' [WITH ALL PRIVILEGES]
  *   DROP USER <u>
  *   SET PASSWORD FOR <u> = '<pw>'
  *   GRANT READ|WRITE|ALL [PRIVILEGES] ON <db> TO <u>
  *   GRANT ALL [PRIVILEGES] TO <u>                       (admin flag)
  *   REVOKE READ|WRITE|ALL [PRIVILEGES] ON <db> FROM <u>
  *   REVOKE ALL [PRIVILEGES] FROM <u>                    (drop admin flag)
  *   SHOW USERS                                          (user, admin)
  *   SHOW GRANTS FOR <u>                                 (database, privilege)
  *
  * State lives in two control-plane [[TxLogTable]]s under the catalog root
  * (`_users`: user, pw_hash, is_admin; `_grants`: user, db, privilege) —
  * the same ACID history as every other piece of catalog metadata, rows
  * bounded by the number of users × databases. Both are read as
  * driver-side snapshots ([[TxLogTable.snapshot]]), so authenticating and
  * authorizing a request are map lookups, never a Spark job.
  *
  * Semantics follow InfluxDB 1.x's meta store:
  *   - CREATE USER fails on an existing user; DROP USER / SET PASSWORD /
  *     GRANT / REVOKE fail on a missing one. DROP USER cascades its grants
  *     in the same statement.
  *   - A (user, db) pair holds ONE privilege. GRANT REPLACES it (granting
  *     READ to a WRITE holder leaves READ, not READ+WRITE). REVOKE of the
  *     held privilege clears it; revoking READ from an ALL holder leaves
  *     WRITE and vice versa; any other REVOKE is a no-op.
  *   - `ALL PRIVILEGES` with no ON clause toggles the global admin flag.
  *
  * Passwords are stored as a salted md5 digest (`md5(user ':' password)`)
  * — the repo-wide md5-derived hashing convention; a production deployment
  * would swap in bcrypt at this one seam ([[hashPassword]]).
  */
object InfluxAuth {

  /** The credentials match no stored user and password (HTTP 401). */
  final class AuthenticationFailed(msg: String) extends IllegalArgumentException(msg)

  /** An authenticated user lacks the statement's privilege (HTTP 403). */
  final class NotAuthorized(msg: String) extends IllegalArgumentException(msg)

  private def usersTable(spark: SparkSession, root: String) =
    new TxLogTable(spark, s"$root/_users")
  private def grantsTable(spark: SparkSession, root: String) =
    new TxLogTable(spark, s"$root/_grants")

  /** The stored digest for (user, password). */
  def hashPassword(user: String, password: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$user:$password".getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** `_users` as user -> (pw_hash, is_admin). */
  private def users(spark: SparkSession, root: String)
      : TxLogTable.Snapshot[Map[String, (String, Boolean)]] =
    usersTable(spark, root).snapshot("users")(_.map(r => r.getAs[String]("user") ->
      (r.getAs[String]("pw_hash"), r.getAs[Boolean]("is_admin"))).toMap)

  /** `_grants` as (user, db) -> the one privilege the pair holds. */
  private def grants(spark: SparkSession, root: String)
      : TxLogTable.Snapshot[Map[(String, String), String]] =
    grantsTable(spark, root).snapshot("grants")(_.map(r =>
      (r.getAs[String]("user"), r.getAs[String]("db")) -> r.getAs[String]("privilege")).toMap)

  /** The user's (pw_hash, is_admin); fails on a missing user. */
  private def requireUser(spark: SparkSession, root: String, u: String): (String, Boolean) =
    users(spark, root).value.getOrElse(u,
      throw new IllegalArgumentException(s"InfluxQL: user not found: $u"))

  /** SHOW USERS shape: (user, admin) ordered by user. */
  def showUsers(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    users(spark, root).value.toSeq.sortBy(_._1)
      .map { case (u, (_, admin)) => (u, admin) }.toDF("user", "admin")
  }

  /** SHOW GRANTS FOR u shape: (database, privilege) ordered by database,
    * privilege rendered the InfluxDB way (`ALL PRIVILEGES` for ALL).
    */
  def showGrants(spark: SparkSession, root: String, u: String): DataFrame = {
    import spark.implicits._
    requireUser(spark, root, u)
    grants(spark, root).value.toSeq
      .collect { case ((`u`, db), p) => (db, if (p == "ALL") "ALL PRIVILEGES" else p) }
      .sortBy(_._1).toDF("database", "privilege")
  }

  /** True iff (user, password) matches the stored digest. */
  def authenticate(spark: SparkSession, root: String, u: String,
                   password: String): Boolean =
    users(spark, root).value.get(u).exists(_._1 == hashPassword(u, password))

  /** True iff `u` holds the global admin flag. */
  def isAdmin(spark: SparkSession, root: String, u: String): Boolean =
    users(spark, root).value.get(u).exists(_._2)

  /** True iff `u` may `need` ("READ" | "WRITE") on `db`: admin always,
    * else the held privilege must be `need` or ALL.
    */
  def authorized(spark: SparkSession, root: String, u: String, db: String,
                 need: String): Boolean =
    isAdmin(spark, root, u) ||
      grants(spark, root).value.get((u, db)).exists(p => p == need || p == "ALL")

  /** Parse + execute one user-management statement. Mutations return the
    * refreshed SHOW USERS (user statements) or SHOW GRANTS FOR the target
    * (grant statements), so every statement answers with the surface it
    * changed — the [[RetentionPolicies.run]] convention.
    */
  def run(spark: SparkSession, root: String, text: String): DataFrame = {
    import spark.implicits._
    val uTab = usersTable(spark, root)
    val gTab = grantsTable(spark, root)
    def str(p: P): String = p.next() match {
      case TStr(s, _) => s
      case t => p.fail(s"expected quoted string, got '${t.raw}'")
    }
    def privilege(p: P): String =
      if (p.kw("READ")) "READ"
      else if (p.kw("WRITE")) "WRITE"
      else if (p.kw("ALL")) { p.kw("PRIVILEGES"); "ALL" }
      else p.fail("expected READ, WRITE or ALL [PRIVILEGES]")
    val p = new P(tokenize(text))
    if (p.kw("SHOW")) {
      if (p.kw("USERS")) {
        if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
        return showUsers(spark, root)
      }
      p.expectKw("GRANTS"); p.expectKw("FOR")
      val u = p.ident()
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      return showGrants(spark, root, u)
    }
    if (p.kw("CREATE")) {
      p.expectKw("USER")
      val u = p.ident()
      p.expectKw("WITH"); p.expectKw("PASSWORD")
      val pw = str(p)
      val admin = p.kw("WITH") && { p.expectKw("ALL"); p.kw("PRIVILEGES"); true }
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      // of concurrent CREATEs of one user exactly one lands
      uTab.appendChecked(Seq((u, hashPassword(u, pw), admin))
          .toDF("user", "pw_hash", "is_admin")) {
        val s = users(spark, root)
        if (s.value.contains(u)) throw new IllegalArgumentException(
          s"InfluxQL: user already exists: $u")
        s.version
      }
      return showUsers(spark, root)
    }
    if (p.kw("DROP")) {
      p.expectKw("USER")
      val u = p.ident()
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      requireUser(spark, root, u)
      uTab.delete(col("user") === u)
      if (gTab.version.nonEmpty) gTab.delete(col("user") === u) // cascade
      return showUsers(spark, root)
    }
    if (p.kw("SET")) {
      p.expectKw("PASSWORD"); p.expectKw("FOR")
      val u = p.ident()
      p.expectSym("=")
      val pw = str(p)
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      // merge needs full rows
      val (_, admin) = requireUser(spark, root, u)
      uTab.merge(Seq((u, hashPassword(u, pw), admin))
        .toDF("user", "pw_hash", "is_admin"), keys = Seq("user"))
      return showUsers(spark, root)
    }
    val grant = p.kw("GRANT")
    if (!grant && !p.kw("REVOKE"))
      p.fail("expected CREATE USER, DROP USER, SET PASSWORD, GRANT, REVOKE or SHOW")
    val priv = privilege(p)
    if (p.kw("ON")) {
      val db = p.ident()
      p.expectKw(if (grant) "TO" else "FROM")
      val u = p.ident()
      if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
      requireUser(spark, root, u)
      val current = grants(spark, root).value.get((u, db))
      if (grant) // GRANT replaces the held privilege (InfluxDB SetPrivilege)
        gTab.merge(Seq((u, db, priv)).toDF("user", "db", "privilege"),
          keys = Seq("user", "db"))
      else current match { // REVOKE: the 1.x downgrade lattice
        case Some(c) if c == priv || priv == "ALL" =>
          gTab.delete(col("user") === u && col("db") === db)
        case Some("ALL") =>
          val left = if (priv == "READ") "WRITE" else "READ"
          gTab.merge(Seq((u, db, left)).toDF("user", "db", "privilege"),
            keys = Seq("user", "db"))
        case _ => () // revoking a privilege the user doesn't hold: no-op
      }
      return showGrants(spark, root, u)
    }
    // no ON clause: the global admin flag; InfluxDB only accepts ALL here
    if (priv != "ALL") throw new IllegalArgumentException(
      s"InfluxQL: GRANT/REVOKE without ON <db> requires ALL PRIVILEGES, got $priv")
    p.expectKw(if (grant) "TO" else "FROM")
    val u = p.ident()
    if (!p.done) p.fail(s"trailing input from '${p.next().raw}'")
    val (hash, _) = requireUser(spark, root, u)
    uTab.merge(Seq((u, hash, grant)).toDF("user", "pw_hash", "is_admin"),
      keys = Seq("user"))
    showUsers(spark, root)
  }
}
