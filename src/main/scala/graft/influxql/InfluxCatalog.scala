package graft.influxql

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.TxLogTable

/** The database level of the InfluxQL surface — the statements every real
  * InfluxDB client issues before any SELECT (the reference service itself
  * targets one configured database: `influx_service.py:417-418`):
  *
  *   CREATE DATABASE <db>        SHOW DATABASES        DROP DATABASE <db>
  *   SHOW QUERIES                KILL QUERY <qid>      (via [[QueryRegistry]])
  *
  * plus routing for the fully-qualified FROM forms (`db..m`, `db.rp.m`,
  * `db../re/`), `ON <db>` on every SHOW statement, and `ON <db>` existence
  * checks on retention DDL.
  *
  * Layout under `root` — every piece is a [[TxLogTable]], so database DDL
  * carries the same ACID history as the data it governs:
  *
  *   <root>/_databases            control plane: one row per database
  *   <root>/_retention_policies   shared per-(db, policy) rows (runRetention)
  *   <root>/<db>/points           the db's points table (narrow layout)
  *   <root>/<db>/<target>         SELECT ... INTO targets for that db
  *
  * Semantics follow InfluxDB 1.x:
  *   - CREATE DATABASE is idempotent; a NEW database gets the `autogen`
  *     retention policy (DURATION INF, REPLICATION 1, DEFAULT) — re-creating
  *     an existing database never resets its policies.
  *   - DROP DATABASE cascades: the db row goes first (the db stops being
  *     listed), then its retention policies, then its measurement data —
  *     a crash mid-drop never leaves a listed db with missing metadata.
  *   - A retention-policy qualifier in FROM is VALIDATED against the policy
  *     store (unknown rp fails like InfluxDB); storage is per-db, not
  *     per-rp — policies govern expiry, not placement, in this engine.
  *
  * Scale posture: `_databases` and `_retention_policies` are control-plane
  * tables (rows = number of databases/policies); every data-plane statement
  * routes to ONE db's points table and plans there — the catalog adds no
  * join, shuffle, or scan of its own.
  */
final class InfluxCatalog(val spark: SparkSession, val rootDir: String,
                          val defaultDb: String = "graft",
                          registry: QueryRegistry = new QueryRegistry) {

  /** Running-statement registry behind SHOW QUERIES / KILL QUERY. */
  val queryRegistry: QueryRegistry = registry

  /** The same store routed to another default database — the HTTP layer's
    * `db` parameter. Shares this catalog's [[queryRegistry]], so SHOW
    * QUERIES / KILL QUERY see every in-flight statement regardless of
    * which database it targeted.
    */
  def forDatabase(db: String): InfluxCatalog =
    if (db == defaultDb) this
    else new InfluxCatalog(spark, rootDir, db, queryRegistry)

  private val NameRe = "[A-Za-z_][A-Za-z0-9_]*".r
  private def checkName(db: String): String = db match {
    case NameRe() => db
    case _ => throw new IllegalArgumentException(
      s"InfluxQL: invalid database name '$db'")
  }

  private def dbTable = new TxLogTable(spark, s"$rootDir/_databases")

  /** The db's points table (narrow layout: transducer, ts_us, tags, fields). */
  def pointsTable(db: String): TxLogTable =
    new TxLogTable(spark, s"$rootDir/${checkName(db)}/points")

  def databaseNames(): Seq[String] = {
    val t = dbTable
    if (t.version.isEmpty) Seq.empty
    else t.read().select("name").collect().map(_.getString(0)).toSeq.sorted
  }

  def databaseExists(db: String): Boolean = databaseNames().contains(db)

  private def requireDb(db: String): Unit =
    if (!databaseExists(db))
      throw new IllegalArgumentException(s"InfluxQL: database not found: $db")

  /** SHOW DATABASES shape: one `name` column, ordered. */
  def showDatabases(): DataFrame =
    spark.createDataset(databaseNames().toList)(Encoders.STRING).toDF("name")

  def createDatabase(db: String): DataFrame = {
    checkName(db)
    if (!databaseExists(db)) {
      import spark.implicits._
      dbTable.merge(Seq(db).toDF("name"), Seq("name"))
      // a NEW database gets InfluxDB's autogen policy; an existing one
      // keeps whatever policies it has (CREATE DATABASE is a no-op then)
      InfluxQL.runRetention(spark,
        s"CREATE RETENTION POLICY autogen ON $db DURATION INF REPLICATION 1 DEFAULT",
        rootDir)
    }
    showDatabases()
  }

  def dropDatabase(db: String): DataFrame = {
    checkName(db)
    if (databaseExists(db)) {
      // metadata first: the db stops being listed before anything else
      dbTable.delete(col("name") === db)
      val policies = new TxLogTable(spark, s"$rootDir/_retention_policies")
      if (policies.version.nonEmpty) policies.delete(col("db") === db)
      // field types die with the db: a re-created db starts typeless
      val ftypes = fieldTypesTable
      if (ftypes.version.nonEmpty) ftypes.delete(col("db") === db)
      deleteTree(Paths.get(s"$rootDir/$db"))
    }
    showDatabases()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  // the db-scoped control-plane tables and the column that scopes each to
  // one database — what a database backup carries besides its data.
  // `_users` is deliberately ABSENT: users are global (like influxd, they
  // ride a metastore backup, not a database backup); `_grants` rows ARE
  // db-scoped and travel — a grant naming a user the target doesn't have
  // is inert until that user exists, influxd's own restore semantics.
  private val dbCtrlTables: Seq[(String, String)] = Seq(
    ("_retention_policies", "db"),
    ("_field_types", "db"),
    ("_grants", "db"),
    ("_subscriptions", "db"),
    ("_continuous_queries", "db"),
    ("_databases", "name")) // LAST on restore: the db gets listed only complete

  /** The measurement-level tables of `db`: its points table plus every
    * SELECT ... INTO / CQ target — each a TxLogTable directory directly
    * under `<root>/<db>`.
    */
  private[graft] def tableNamesOf(db: String): Seq[String] = {
    val dbDir = Paths.get(s"$rootDir/$db")
    if (!Files.isDirectory(dbDir)) Seq.empty
    else {
      val st = Files.list(dbDir)
      try st.toArray.map(_.asInstanceOf[Path])
        .filter(p => Files.isDirectory(p.resolve("_txlog")))
        .map(_.getFileName.toString).toSeq.sorted
      finally st.close()
    }
  }

  /** `influxd backup -database <db>`'s analogue: one self-contained backup
    * set under `destDir` composing EVERY table of the database —
    * measurements plus its control-plane rows — at one CONSISTENT cut.
    *
    * The cut: every measurement table's current version is PINNED first in
    * one tight metadata pass (no data reads, no global lock — the tables
    * are individually versioned, and a version is an immutable snapshot),
    * then each pinned version exports via [[TxLogTable.exportSnapshot]]
    * (hard-linked, so concurrent commits and even vacuum cannot rot the
    * set mid-export). A writer committing DURING the backup lands after
    * its pin and simply rides the next backup — the restored database is
    * exactly the pinned cut, never a mix of per-table moments taken
    * mid-commit.
    *
    * Layout: `db_manifest.json` (the manifest-of-manifests: db name,
    * pinned table versions, control-row counts) + `tables/<name>/` per
    * measurement + `ctrl/<table>/` parquet dumps of this db's control
    * rows.
    */
  def exportDatabase(db: String, destDir: String): Unit = {
    requireDb(db)
    val dest = Paths.get(destDir)
    require(!Files.isDirectory(dest) || {
      val s = Files.list(dest); try !s.findAny().isPresent finally s.close()
    }, s"backup destination $destDir is not empty")
    Files.createDirectories(dest)
    val names = tableNamesOf(db)
    names.foreach(n => require(!n.exists(c => c == '"' || c == '[' || c == ']'),
      s"table name $n cannot ride the manifest"))
    // pin EVERY version first, then export the pinned versions
    val pinned = names.flatMap { n =>
      new TxLogTable(spark, s"$rootDir/$db/$n").version.map(n -> _)
    }
    pinned.foreach { case (n, v) =>
      new TxLogTable(spark, s"$rootDir/$db/$n")
        .exportSnapshot(s"$destDir/tables/$n", Some(v)); ()
    }
    val ctrl = dbCtrlTables.flatMap { case (t, fcol) =>
      val tab = new TxLogTable(spark, s"$rootDir/$t")
      if (tab.version.isEmpty) None
      else {
        val rows = tab.read().filter(col(fcol) === db)
        val n = rows.count()
        if (n == 0) None
        else { rows.coalesce(1).write.parquet(s"$destDir/ctrl/$t"); Some((t, n)) }
      }
    }
    val manifest =
      s"""{"db":"$db",""" +
        s""""tables":[${pinned.map { case (n, v) => s"""["$n",$v]""" }.mkString(",")}],""" +
        s""""ctrl":[${ctrl.map { case (t, n) => s"""["$t",$n]""" }.mkString(",")}]}"""
    Files.write(dest.resolve("db_manifest.json"), manifest.getBytes("UTF-8"))
  }

  /** `influxd restore -database`: publish a [[exportDatabase]] backup set
    * into this catalog. Refusal gates run BEFORE any byte lands:
    * the database must not exist (influxd's database-must-not-exist rule;
    * drop it first to accept the rollback), no stray `<root>/<db>` tree
    * may shadow the restore, EVERY per-table snapshot verifies against
    * its manifest (file presence + byte sizes) and the manifest-of-
    * manifests' pinned versions, and every control dump must hold its
    * recorded row count.
    *
    * Mutation order is dropDatabase's inverse: measurement data first,
    * control rows next, the `_databases` row LAST — so a crash mid-restore
    * leaves an unlisted partial tree (delete `<root>/<db>` and re-run),
    * never a listed database with missing data. Returns the database name.
    */
  def importDatabase(srcDir: String): String = {
    val b = verifyDatabaseBackup(srcDir)
    applyDatabaseBackup(b)
    b.db
  }

  /** One verified database backup set, ready to apply — the verify half of
    * [[importDatabase]], split out so [[importInstance]] can verify EVERY
    * member before ANY byte lands.
    */
  private case class DbBackup(srcDir: String, db: String,
                              tables: Seq[(String, Long)],
                              ctrlRows: Seq[(String, DataFrame)])

  private def verifyDatabaseBackup(srcDir: String): DbBackup = {
    val mPath = Paths.get(srcDir, "db_manifest.json")
    require(Files.isRegularFile(mPath), s"no db_manifest.json in $srcDir")
    val m = new String(Files.readAllBytes(mPath), "UTF-8")
    val db = checkName(""""db":"([^"]+)"""".r.findFirstMatchIn(m).getOrElse(
      throw new IllegalArgumentException(s"bad db_manifest in $srcDir")).group(1))
    // the manifest layout is fixed and names exclude quotes/brackets
    // (enforced at export), so the section anchors are unambiguous
    val pair = """\["([^"]+)",(\d+)\]""".r
    val tables = pair.findAllMatchIn(
      """"tables":\[(.*)\],"ctrl"""".r.findFirstMatchIn(m).map(_.group(1)).getOrElse(""))
      .map(mm => (mm.group(1), mm.group(2).toLong)).toSeq
    val ctrl = pair.findAllMatchIn(
      """"ctrl":\[(.*)\]\}""".r.findFirstMatchIn(m).map(_.group(1)).getOrElse(""))
      .map(mm => (mm.group(1), mm.group(2).toLong)).toSeq
    if (databaseExists(db))
      throw new IllegalStateException(
        s"restore fence conflict: database $db already exists; drop it first " +
          "to accept the restore")
    require(!Files.exists(Paths.get(s"$rootDir/$db")),
      s"stray tree at $rootDir/$db shadows the restore; delete it first")
    // verify EVERYTHING before ANY byte lands. The manifest is untrusted
    // input: a tampered table name like `../../x` would otherwise splice
    // directly into filesystem paths and restore a table OUTSIDE the
    // database directory (and outside rootDir) — reject any name that is
    // not a single plain path segment before touching anything.
    (tables.map(_._1) ++ ctrl.map(_._1)).foreach { n =>
      require(n.nonEmpty && n != "." && n != ".." &&
        !n.exists(c => c == '/' || c == '\\' || c < ' '),
        s"backup manifest carries unsafe table name '$n'")
    }
    tables.foreach { case (n, v) =>
      val (ver, _, _) = TxLogTable.verifySnapshotFiles(s"$srcDir/tables/$n")
      require(ver == v,
        s"table $n snapshot is version $ver but the database manifest pinned $v")
    }
    val ctrlSpecs = dbCtrlTables.toMap
    val ctrlRows = ctrl.map { case (t, n) =>
      require(ctrlSpecs.contains(t), s"unknown control table $t in backup")
      val df = spark.read.parquet(s"$srcDir/ctrl/$t")
      require(df.count() == n, s"control dump $t holds ${df.count()} rows, manifest says $n")
      (t, df)
    }
    DbBackup(srcDir, db, tables, ctrlRows)
  }

  private def applyDatabaseBackup(b: DbBackup): Unit = {
    // data first...
    b.tables.foreach { case (n, _) =>
      new TxLogTable(spark, s"$rootDir/${b.db}/$n").importSnapshot(s"${b.srcDir}/tables/$n"); ()
    }
    // ...control rows next, in dbCtrlTables order so `_databases` lands
    // LAST; a half-dropped db may have left rows behind — clear them so
    // the restore is exact, not additive
    dbCtrlTables.foreach { case (t, fcol) =>
      b.ctrlRows.find(_._1 == t).foreach { case (_, df) =>
        val tab = new TxLogTable(spark, s"$rootDir/$t")
        if (tab.version.isDefined) {
          tab.delete(col(fcol) === b.db)
          tab.append(df)
        } else tab.append(df)
        ()
      }
    }
  }

  /** `influxd backup` WITHOUT `-database`: the full instance — every
    * database's per-db backup set (each at its own consistent pinned cut,
    * [[exportDatabase]] verbatim) plus the GLOBAL `_users` store, under one
    * `instance_manifest.json`. Mirrors influxd's split: users ride the
    * metastore, never any single database's set (db-scoped `_grants` rows
    * already travel inside each member).
    *
    * Layout: `instance_manifest.json` (database list + user row count) +
    * `dbs/<db>/` per member (a complete [[exportDatabase]] set) +
    * `users/` (parquet dump of `_users`, present only when users exist).
    * Database names are [[checkName]]-safe by construction, so the member
    * paths cannot traverse.
    *
    * Consistency contract: the database LIST and the `_users` version are
    * snapshotted up front (before any member export), and each member
    * exports at its own pinned cut — so the set is PER-MEMBER consistent,
    * not a single global point-in-time snapshot. Concurrent DDL during the
    * export (CREATE DATABASE after the list snapshot, writes into a member
    * after its cut) lands in the live instance but not in this backup —
    * the same contract `influxd backup` gives without a global lock.
    */
  def exportInstance(destDir: String): Unit = {
    val dest = Paths.get(destDir)
    require(!Files.isDirectory(dest) || {
      val s = Files.list(dest); try !s.findAny().isPresent finally s.close()
    }, s"backup destination $destDir is not empty")
    Files.createDirectories(dest)
    // snapshot the membership and the users cut BEFORE the (long) member
    // exports: a CREATE USER racing the export cannot shear the users dump
    // relative to the manifest written at the end
    val dbs = databaseNames()
    val users = new TxLogTable(spark, s"$rootDir/_users")
    val usersCut = users.version
    dbs.foreach(db => exportDatabase(db, s"$destDir/dbs/$db"))
    val nUsers = usersCut match {
      case None => 0L
      case Some(v) =>
        val rows = users.readVersion(v)
        val n = rows.count()
        if (n > 0) rows.coalesce(1).write.parquet(s"$destDir/users")
        n
    }
    val manifest =
      s"""{"databases":[${dbs.map(d => s""""$d"""").mkString(",")}],""" +
        s""""users":$nUsers}"""
    Files.write(dest.resolve("instance_manifest.json"), manifest.getBytes("UTF-8"))
  }

  /** `influxd restore` of an [[exportInstance]] set. Verification runs for
    * EVERY member (and the users dump) before ANY byte lands: each member's
    * fence (database must not exist, no stray tree, snapshot + control
    * verification) plus the users fence (the backup carries users only
    * onto an instance with none — drop them first to accept the restore,
    * the database-must-not-exist rule applied to the global store).
    * Mutation order: members in manifest order (each data-then-control,
    * `_databases` row last), global users LAST — a crash mid-restore
    * leaves some members fully restored and the rest absent; drop the
    * restored members and re-run. Returns the restored database names.
    */
  def importInstance(srcDir: String): Seq[String] = {
    val mPath = Paths.get(srcDir, "instance_manifest.json")
    require(Files.isRegularFile(mPath), s"no instance_manifest.json in $srcDir")
    val m = new String(Files.readAllBytes(mPath), "UTF-8")
    val dbList = """"databases":\[([^\]]*)\]""".r.findFirstMatchIn(m)
      .getOrElse(throw new IllegalArgumentException(
        s"bad instance_manifest in $srcDir")).group(1)
    // the manifest is untrusted input: every member name must be a plain
    // checkName-safe identifier before it splices into any path
    val dbs = """"([^"]+)"""".r.findAllMatchIn(dbList)
      .map(mm => checkName(mm.group(1))).toSeq
    val nUsers = """"users":(\d+)""".r.findFirstMatchIn(m)
      .map(_.group(1).toLong).getOrElse(0L)
    val backups = dbs.map { db =>
      val b = verifyDatabaseBackup(s"$srcDir/dbs/$db")
      require(b.db == db, s"member backup at dbs/$db names database ${b.db}")
      b
    }
    val usersTab = new TxLogTable(spark, s"$rootDir/_users")
    val usersDf =
      if (nUsers == 0L) None
      else {
        val df = spark.read.parquet(s"$srcDir/users")
        require(df.count() == nUsers,
          s"users dump holds ${df.count()} rows, manifest says $nUsers")
        Some(df)
      }
    if (usersDf.nonEmpty &&
        usersTab.version.isDefined && usersTab.read().count() > 0)
      throw new IllegalStateException(
        "restore fence conflict: users already defined on this instance; " +
          "drop them first to accept the restore")
    backups.foreach(applyDatabaseBackup)
    usersDf.foreach { df => usersTab.append(df); () }
    dbs
  }

  /** Refuse a write into a table a continuous query owns: the CQ fill's
    * dense-grid frontier (LOCF carry-bucket seeds, linear's donor-run
    * contiguity) is only valid while the CQ is its target's SOLE content
    * writer — an external append would silently mis-seed every later
    * fill. Loud 4xx-style error, InfluxDB's partial-write idiom. One
    * bounded control-plane registry read (same cost shape as the
    * field-type registry this face already consults per write).
    */
  private def refuseCqTarget(db: String, table: String): Unit =
    if (ContinuousQueries.anyDefined(spark, rootDir) &&
        ContinuousQueries.cqTargets(spark, rootDir, db).contains(table))
      throw new IllegalArgumentException(
        s"InfluxQL: measurement $table on $db is a continuous query target " +
          "and accepts writes only from its CQ; write to the CQ's source " +
          "measurement instead")

  /** Append points into the db's table. The db must exist — InfluxDB
    * rejects writes to unknown databases rather than auto-creating them.
    */
  def writePoints(db: String, df: DataFrame): Long = {
    requireDb(db)
    // CREATE CONTINUOUS QUERY refuses `INTO points`, so this face is
    // normally clear — the consult is defense in depth against a registry
    // predating that rule (or hand-edited), where an append here would
    // silently break the CQ's fill invariant
    refuseCqTarget(db, "points")
    pointsTable(db).append(df)
  }

  /** The db's points as a DataFrame; a database that exists but holds no
    * points yet reads as the empty narrow layout (discovery statements
    * answer empty instead of failing).
    */
  def points(db: String): DataFrame = {
    requireDb(db)
    val t = pointsTable(db)
    if (t.version.isEmpty) {
      import spark.implicits._
      Seq.empty[(String, String, Long, Double)]
        .toDF("device", "transducer", "ts_us", "value")
    } else t.read()
  }

  /** The db's default retention policy name (`autogen` when none is
    * registered — the seed policy every new database gets).
    */
  private def defaultRp(db: String): String = {
    val policies = new TxLogTable(spark, s"$rootDir/_retention_policies")
    if (policies.version.isEmpty) "autogen"
    else policies.read()
      .filter(col("db") === db && col("is_default") === true)
      .select("name").collect().headOption.map(_.getString(0)).getOrElse("autogen")
  }

  /** SHOW SHARDS — the storage-operational statement (InfluxDB's shard
    * listing): one row per committed immutable data directory of each
    * database's points table, the engine's shard unit. start/end times
    * come from a column-pruned min/max over each dir (footer-stats-sized
    * work, bounded by the shard count — a control-plane statement, never a
    * data-plane scan of all columns). Shard groups are 1:1 with shards
    * here (single-node replication-1 layout), so shard_group = id.
    */
  /** The (id, db, absolute data dir) enumeration [[showShards]] numbers —
    * shared with [[dropShard]] so `DROP SHARD <id>` resolves exactly the
    * listed id. Ids are STABLE, not positional: md5 of (db, dir basename)
    * — the basename is an immutable per-commit UUID — so the id an
    * operator reads from SHOW SHARDS resolves to the same directory even
    * if concurrent commits (streaming appends, compaction) change the
    * live dir order in between (InfluxDB's ids are likewise
    * meta-store-stable).
    */
  private def shardDirs(): Seq[(Long, String, String)] =
    for {
      db <- databaseNames()
      t = pointsTable(db)
      v <- t.version.toSeq
      dir <- t.dirPaths(v)
    } yield (InfluxCatalog.shardId(db, dir), db, dir)

  def showShards(): DataFrame = {
    import spark.implicits._
    val rows = shardDirs().map { case (id, db, dir) =>
      val stats = spark.read.parquet(dir)
        .agg(min(col("ts_us")), max(col("ts_us")), count(lit(1))).head
      val bytes = {
        val p = Paths.get(dir)
        val walk = Files.walk(p)
        try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
        finally walk.close()
      }
      (id, db, defaultRp(db), id,
        if (stats.isNullAt(0)) None else Some(stats.getLong(0)),
        if (stats.isNullAt(1)) None else Some(stats.getLong(1)),
        stats.getLong(2), bytes)
    }
    rows.toDF("id", "database", "retention_policy", "shard_group",
      "start_time", "end_time", "points", "bytes")
  }

  /** DROP SHARD <id>: remove the listed data directory from its table's
    * snapshot — an O(1) metadata commit ([[TxLogTable.removeDirs]]), time
    * travel keeps the pre-drop versions. Stale stats-index rows for the
    * dropped files are harmless: reads derive from the commit's dir list,
    * never from the advisory index.
    */
  def dropShard(id: Long): DataFrame = {
    val entry = shardDirs().find(_._1 == id).getOrElse(
      throw new IllegalArgumentException(s"InfluxQL: shard not found: $id"))
    pointsTable(entry._2).removeDirs(Set(entry._3))
    showShards()
  }

  /** SHOW SHARD GROUPS: the grouping level of [[showShards]] — 1:1 with
    * shards in this engine's layout.
    */
  def showShardGroups(): DataFrame =
    showShards().select("shard_group", "database", "retention_policy",
      "start_time", "end_time")

  /** SHOW STATS: per-database storage counters — measurements, series,
    * points, shards — one aggregate per database (InfluxDB reads its
    * in-memory monitors; this engine answers exactly from the tables),
    * plus `sub_dropped`, the subscription fan-out's cap gauge for the db
    * (InfluxDB's subscriber drop stats; at-least-once under batch
    * retries, see [[Subscriptions.droppedRows]]), and `udp_dropped`, the
    * UDP input service's best-effort shed gauge
    * ([[UdpWriteListener.droppedFor]]).
    */
  def showStats(): DataFrame = {
    import spark.implicits._
    val rows = databaseNames().map { db =>
      val dropped = Subscriptions.droppedFor(rootDir, db)
      val udpDropped = UdpWriteListener.droppedFor(rootDir, db)
      val t = pointsTable(db)
      if (t.version.isEmpty) (db, 0L, 0L, 0L, 0L, dropped, udpDropped)
      else {
        val pts = t.read()
        val tagCols = InfluxQL.tagColumns(pts)
        val seriesKey = concat_ws(",",
          col("transducer") +: tagCols.map(tc => concat(lit(tc + "="), col(tc))): _*)
        val s = pts.agg(
          countDistinct(col("transducer")),
          countDistinct(seriesKey),
          count(lit(1))).head
        (db, s.getLong(0), s.getLong(1), s.getLong(2),
          t.dirPaths(t.version.get).size.toLong, dropped, udpDropped)
      }
    }
    rows.toDF("database", "measurements", "series", "points", "shards",
      "sub_dropped", "udp_dropped")
  }

  /** SHOW DIAGNOSTICS: build/runtime facts as (name, value) rows. */
  def showDiagnostics(): DataFrame = {
    import spark.implicits._
    Seq(
      ("engine", "graft"),
      ("sparkVersion", spark.version),
      ("scalaVersion", scala.util.Properties.versionNumberString),
      ("javaVersion", sys.props.getOrElse("java.version", "unknown")),
      ("defaultDatabase", defaultDb),
      ("root", rootDir)).toDF("name", "value")
  }

  /** InfluxDB's /write face: parse line-protocol lines, append the narrow
    * numeric points to the db (one fenced-free append — callers wanting
    * exactly-once pass through their own TxLogTable txn), and return the
    * committed version plus the malformed complement (the caller's 400s —
    * kept replayable, the dead-letter discipline) plus the well-formed
    * points the narrow layout cannot hold (string field / no device tag) —
    * nothing is lost invisibly. Timestamp-less points get write-receipt
    * server time, like InfluxDB.
    */
  def writeLineProtocol(db: String, lines: Dataset[String],
                        tsUnitNs: Long = 1L): LpWriteResult = {
    requireDb(db)
    // same defense-in-depth consult as writePoints: this face appends to
    // the raw points table, which a (legacy/hand-edited) CQ registration
    // could claim — the sole-writer contract refuses before any byte lands
    refuseCqTarget(db, "points")
    val serverTsUs = System.currentTimeMillis() * 1000L
    // field-type enforcement (InfluxDB 1.x: a field's type is fixed at its
    // first write per measurement and a conflicting later write is a
    // partial-write 400, never a silent flip): registration commits FIRST
    // — a crash between the two leaves a registered type with no data,
    // which only ever REJECTS more, never corrupts. A registration is a
    // compare-and-set on the registry version it was derived from
    // (appendIfAt), so of two writers deriving from one version the
    // second's commit is refused and it re-derives against the winner's
    // types (first-seen wins JVM- and process-wide, the registry is ACID
    // like the data)
    @scala.annotation.tailrec
    def register(): Map[(String, String), String] = {
      val at = fieldTypesTable.version
      val known = fieldTypes(db, at)
      val fresh = LineProtocol.firstSeenTypes(lines, known, tsUnitNs)
      if (fresh.isEmpty) known
      else {
        import spark.implicits._
        fieldTypesTable.appendIfAt(fresh.toSeq
          .map { case ((m, f), t) => (db, m, f, t) }
          .toDF("db", "measurement", "field", "ftype"), at)
        register()
      }
    }
    val types = register()
    // concurrent /write clients and the maintenance compactor race this
    // commit routinely; the append rebases a lost race itself, so it is
    // never an error surfaced to the HTTP client
    val v = pointsTable(db).append(
      LineProtocol.narrowPoints(lines, serverTsUs = Some(serverTsUs),
        tsUnitNs = tsUnitNs, fieldTypes = types))
    LpWriteResult(v, LineProtocol.errors(lines, tsUnitNs, fieldTypes = types),
      LineProtocol.narrowDropped(lines, serverTsAssigned = true,
        tsUnitNs = tsUnitNs, fieldTypes = types))
  }

  /** The per-db field-type registry behind [[writeLineProtocol]]'s
    * conflict enforcement: one row per (db, measurement, field) with the
    * type its first write fixed. Control-plane sized (schema rows, like
    * `_retention_policies`), shared at the root so it never collides with
    * a measurement or INTO target name.
    */
  private def fieldTypesTable: TxLogTable =
    new TxLogTable(spark, s"$rootDir/_field_types")

  /** The registered first-seen types of `db` as a driver map (bounded by
    * the db's schema size — fields × measurements, never points).
    */
  def fieldTypes(db: String, at: Option[Long] = fieldTypesTable.version)
      : Map[(String, String), String] =
    at.fold(Map.empty[(String, String), String]) { v =>
      fieldTypesTable.readVersion(v).filter(col("db") === db)
        .select("measurement", "field", "ftype").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    }

  /** One statement in, one DataFrame out — the full dialect with database
    * routing. SELECT plans against the FROM qualifier's db (`defaultDb`
    * unqualified); SHOW statements honor `ON <db>`; DELETE / DROP
    * MEASUREMENT / DROP SERIES mutate `defaultDb` and return the committed
    * version.
    */
  def run(text: String): DataFrame = {
    val t = text.trim
    val up = t.toUpperCase
    import spark.implicits._
    if (up.startsWith("CREATE DATABASE"))
      createDatabase(identAfter(t, 2))
    else if (up.startsWith("DROP DATABASE"))
      dropDatabase(identAfter(t, 2))
    else if (up.startsWith("SHOW DATABASES")) {
      require(t.split("\\s+").length == 2, s"trailing input in '$t'")
      showDatabases()
    } else if (InfluxCatalog.isRetentionStmt(up))
      InfluxQL.runRetention(spark, t, rootDir, requireDb)
    else if (InfluxCatalog.isCqStmt(up))
      ContinuousQueries.run(spark, rootDir, t, requireDb)
    else if (InfluxCatalog.isSubscriptionStmt(up))
      Subscriptions.run(spark, rootDir, t, (db, rp) => {
        requireDb(db); requireRp(db, rp)
      })
    else if (up.startsWith("CREATE USER") || up.startsWith("DROP USER") ||
             up.startsWith("SET PASSWORD") || up.startsWith("GRANT") ||
             up.startsWith("REVOKE") || up.startsWith("SHOW USERS") ||
             up.startsWith("SHOW GRANTS"))
      InfluxAuth.run(spark, rootDir, t)
    else if (up.startsWith("SHOW SHARD GROUPS")) {
      require(t.split("\\s+").length == 3, s"trailing input in '$t'")
      showShardGroups()
    } else if (up.startsWith("SHOW SHARDS")) {
      require(t.split("\\s+").length == 2, s"trailing input in '$t'")
      showShards()
    } else if (up.startsWith("DROP SHARD")) {
      val ws = t.split("\\s+")
      require(ws.length == 3, s"DROP SHARD needs exactly one shard id in '$t'")
      val id = try ws(2).toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"InfluxQL DROP SHARD: shard id must be a number, got '${ws(2)}'")
      }
      dropShard(id)
    } else if (up.startsWith("SHOW STATS")) {
      require(t.split("\\s+").length == 2, s"trailing input in '$t'")
      showStats()
    } else if (up.startsWith("SHOW DIAGNOSTICS")) {
      require(t.split("\\s+").length == 2, s"trailing input in '$t'")
      showDiagnostics()
    } else if (up.startsWith("SHOW QUERIES")) {
      require(t.split("\\s+").length == 2, s"trailing input in '$t'")
      queryRegistry.list(spark)
    } else if (up.startsWith("KILL QUERY")) {
      val ws = t.split("\\s+")
      require(ws.length == 3, s"KILL QUERY needs exactly one query id in '$t'")
      val qid = try ws(2).toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"InfluxQL KILL QUERY: query id must be a number, got '${ws(2)}'")
      }
      queryRegistry.kill(spark, qid)
      Seq(qid).toDF("killed")
    } else if (up.startsWith("SHOW"))
      InfluxQL.planShow(points(defaultDb), t, d => points(d))
    else if (up.startsWith("DELETE") || up.startsWith("DROP MEASUREMENT") ||
             up.startsWith("DROP SERIES")) {
      val v = InfluxQL.runDelete(pointsTable(defaultDb), t)
      // dropping a measurement releases its field types (InfluxDB: the
      // type is fixed per shard; dropping the data frees the schema) —
      // DELETE / DROP SERIES keep them, like InfluxDB keeps field keys
      InfluxQL.dropMeasurementName(t).foreach { m =>
        val ftypes = fieldTypesTable
        if (ftypes.version.nonEmpty)
          ftypes.delete(col("db") === defaultDb && col("measurement") === m)
      }
      Seq(v).toDF("version")
    }
    else if (up.startsWith("EXPLAIN")) {
      // the real physical plan of the ROUTED query, one row per line —
      // same shape as InfluxQL.run's EXPLAIN, db-aware; the ANALYZE
      // variant runs it and reports observed per-operator metrics
      val body = t.drop("EXPLAIN".length).trim
      if (body.toUpperCase.startsWith("ANALYZE"))
        InfluxQL.explainAnalyze(select(body.drop("ANALYZE".length).trim))
      else {
        val lines = select(body).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
          .split("\n").toList
        spark.createDataset(lines)(Encoders.STRING).toDF("plan")
      }
    } else {
      val q = InfluxQL.parse(t)
      if (q.into.nonEmpty) {
        val db = q.fromDb.getOrElse(defaultDb)
        requireDb(db)
        q.fromRp.foreach(requireRp(db, _))
        InfluxQL.runInto(points(db), stripQualifier(t, q), s"$rootDir/$db",
          refuseTarget = refuseCqTarget(db, _))
          .toDF("target", "version")
      } else select(t)
    }
  }

  /** Authenticated + authorized [[run]] — the enforcement half of
    * [[InfluxAuth]]'s user store (the reference service always connects
    * with credentials, `influx_service.py:417-421`; this is the engine
    * side that makes those credentials MEAN something). The statement
    * classes map onto InfluxDB 1.x's authorization matrix:
    *
    *   - admin only: database / retention / user DDL, KILL QUERY
    *   - WRITE on the routed db: SELECT ... INTO
    *   - WRITE on the default db: DELETE, DROP MEASUREMENT, DROP SERIES
    *   - READ on the routed db: SELECT, EXPLAIN, the SHOW family
    *   - any authenticated user: SHOW DATABASES, SHOW QUERIES (InfluxDB
    *     filters these per-user; this engine admits the listing —
    *     documented simplification, the data path stays gated)
    *
    * Admins pass every check. Authentication failure and authorization
    * failure are distinct, loud errors.
    */
  def runAs(user: String, password: String, text: String): DataFrame = {
    authorize(user, password, text)
    run(text.trim)
  }

  /** The enforcement half of [[runAs]] WITHOUT execution — authenticate,
    * then check the statement's authorization class. Separated so
    * multi-statement entry points ([[executeAs]], the HTTP layer) can
    * pre-authorize EVERY statement before running ANY, like InfluxDB's
    * QueryAuthorizer: a later unauthorized statement must not leave the
    * earlier ones' side effects behind a failed request.
    */
  def authorize(user: String, password: String, text: String): Unit = {
    if (!InfluxAuth.authenticate(spark, rootDir, user, password))
      throw new IllegalArgumentException(
        s"InfluxQL: authentication failed for user $user")
    val t = text.trim
    val up = t.toUpperCase
    def deny(what: String): Nothing = throw new IllegalArgumentException(
      s"InfluxQL: user $user is not authorized ($what required)")
    def needAdmin(): Unit =
      if (!InfluxAuth.isAdmin(spark, rootDir, user)) deny("admin")
    def needOn(db: String, priv: String): Unit =
      if (!InfluxAuth.authorized(spark, rootDir, user, db, priv))
        deny(s"$priv on $db")
    val admin = Seq("CREATE DATABASE", "DROP DATABASE", "CREATE USER",
      "DROP USER", "SET PASSWORD", "GRANT", "REVOKE", "SHOW USERS",
      "SHOW GRANTS", "KILL QUERY",
      // cluster-operational monitoring + shard management are admin-only
      // in InfluxDB 1.x
      "SHOW SHARD", "SHOW STATS", "SHOW DIAGNOSTICS", "DROP SHARD")
    val openMeta = Seq("SHOW DATABASES", "SHOW QUERIES")
    if (admin.exists(up.startsWith) || InfluxCatalog.isRetentionStmt(up) ||
        InfluxCatalog.isCqStmt(up) || // CQ DDL is admin in InfluxDB 1.x
        InfluxCatalog.isSubscriptionStmt(up)) // as is subscription DDL
      needAdmin()
    else if (up.startsWith("DELETE") || up.startsWith("DROP"))
      needOn(defaultDb, "WRITE")
    else if (up.startsWith("SHOW"))
      // ON <db> routes the SHOW family; default db otherwise
      "(?i)\\bON\\s+\"?(\\w+)\"?".r.findFirstMatchIn(t) match {
        case Some(m) => needOn(m.group(1), "READ")
        case None if openMeta.exists(up.startsWith) => ()
        case None => needOn(defaultDb, "READ")
      }
    else if (!openMeta.exists(up.startsWith)) {
      // SELECT / EXPLAIN [ANALYZE]: the FROM qualifier routes the db
      val sel0 = if (up.startsWith("EXPLAIN")) t.drop("EXPLAIN".length).trim else t
      val sel = if (up.startsWith("EXPLAIN") && sel0.toUpperCase.startsWith("ANALYZE"))
        sel0.drop("ANALYZE".length).trim else sel0
      val q = InfluxQL.parse(sel)
      val db = q.fromDb.getOrElse(defaultDb)
      needOn(db, "READ")
      if (q.into.nonEmpty) needOn(db, "WRITE")
    }
  }

  /** One statement under its [[queryRegistry]] window: listed by SHOW
    * QUERIES and cancellable by KILL QUERY while the window is open. The
    * window covers planning plus every side effect ([[run]] executes DDL /
    * INTO / DELETE eagerly before returning); the returned frame is LAZY —
    * nothing materializes on the driver here. A caller that wants the
    * window to ALSO span result consumption (the scale path — a full
    * result must never buffer in driver heap) drives the frame through
    * [[runStreamed]] / [[executeStreamed]] instead of acting on the
    * returned frame after the window closed.
    */
  private def tracked(stmt: String)(body: => DataFrame): DataFrame =
    queryRegistry.track(spark, stmt, defaultDb)(body)

  /** `;`-separated multi-statement input (what InfluxDB's /query accepts):
    * each statement runs in order under its own registry window, paired
    * with its LAZY result — side effects happen here, rows do not. A
    * mid-sequence failure aborts the remainder — the statements already
    * run stay run (InfluxDB has no cross-statement transaction either).
    * Consume a statement's frame before running later statements that
    * mutate what it reads, or use [[executeStreamed]] to consume inside
    * the registry window.
    */
  def executeAll(text: String): Seq[(String, DataFrame)] =
    InfluxQL.splitStatements(text).map(s => s -> tracked(s)(run(s)))

  /** Run ONE statement inside its registry window WITHOUT materializing the
    * result: `consume` receives the lazy DataFrame and drives execution
    * itself (e.g. `toLocalIterator`) on this thread, so SHOW QUERIES lists
    * the statement and KILL QUERY cancels its jobs for the whole time the
    * result is being streamed out — the HTTP face's scale path, where
    * collecting first would put the entire result on the driver before the
    * first chunk leaves.
    */
  def runStreamed[T](stmt: String)(consume: DataFrame => T): T =
    // drain the planner's persist pins (holt_winters shared frames) after
    // the result is consumed: plan + consume happen on THIS thread, and a
    // long-lived service must not accumulate CacheManager entries per
    // request (ADVICE r18)
    try queryRegistry.track(spark, stmt, defaultDb)(consume(run(stmt.trim)))
    finally InfluxQL.drainPins()

  /** Multi-statement [[runStreamed]] — the shell's path. Every statement
    * but the last runs in order under its own registry window
    * ([[executeAll]] semantics: side effects eager, mid-sequence failure
    * aborts the remainder, a pure SELECT whose rows nobody will read stays
    * an unexecuted plan); the LAST statement's window additionally spans
    * `consume`, which receives its lazy result and drives execution itself
    * (e.g. `toLocalIterator`) — SHOW QUERIES lists it and KILL QUERY can
    * cancel it for the whole emission, and the driver never holds more
    * rows than `consume` chooses to take.
    */
  def executeStreamed[T](text: String)(consume: DataFrame => T): T = {
    val stmts = InfluxQL.splitStatements(text)
    require(stmts.nonEmpty, "InfluxQL: empty statement")
    // init statements' results are never consumed — release any planner
    // pins they registered before the last statement runs
    try stmts.init.foreach(s => tracked(s)(run(s)))
    finally InfluxQL.drainPins()
    runStreamed(stmts.last)(consume)
  }

  /** [[executeStreamed]] under [[runAs]] enforcement: EVERY statement is
    * authorized up front, before ANY runs (the [[executeAllAs]] ordering —
    * a 403 on statement N must not leave 0..N-1's side effects behind a
    * failed request).
    */
  def executeAsStreamed[T](user: String, password: String, text: String)
                          (consume: DataFrame => T): T = {
    val stmts = InfluxQL.splitStatements(text)
    require(stmts.nonEmpty, "InfluxQL: empty statement")
    stmts.foreach(authorize(user, password, _))
    try stmts.init.foreach(s => tracked(s)(run(s)))
    finally InfluxQL.drainPins()
    runStreamed(stmts.last)(consume)
  }

  /** The GROUP BY tag columns a SELECT's result splits into series on,
    * resolved exactly as the planner resolves them: named tags verbatim,
    * `GROUP BY *` expanded against the routed db's points schema
    * ([[InfluxQL.tagColumns]]) — NOT re-sniffed from result column types,
    * so a string-typed *field* selected raw under `GROUP BY *` stays in
    * `values` where it belongs. Non-SELECT and unparseable statements
    * split on nothing.
    */
  def resolvedGroupTags(text: String): Seq[String] = {
    val t = text.trim
    if (!t.toUpperCase.startsWith("SELECT")) Nil
    else try {
      val q = InfluxQL.parse(t)
      if (q.groupStar) InfluxQL.tagColumns(points(q.fromDb.getOrElse(defaultDb)))
      else q.groupTags
    } catch { case _: Exception => Nil }
  }

  /** [[executeAll]] under [[runAs]] enforcement. EVERY statement is
    * authorized up front, before ANY runs (InfluxDB's QueryAuthorizer
    * order): a 403 on statement N must not leave statements 0..N-1's side
    * effects behind a failed request.
    */
  def executeAllAs(user: String, password: String,
                   text: String): Seq[(String, DataFrame)] = {
    val stmts = InfluxQL.splitStatements(text)
    stmts.foreach(authorize(user, password, _))
    stmts.map(s => s -> tracked(s)(run(s)))
  }

  /** [[executeAll]], returning the LAST statement's LAZY result — the
    * single-DataFrame programmatic face. The registry window covered each
    * statement's planning + side effects; consumption of the returned
    * frame happens on the caller's terms (use [[executeStreamed]] when the
    * window must span it).
    */
  def execute(text: String): DataFrame = {
    val all = executeAll(text)
    require(all.nonEmpty, "InfluxQL: empty statement")
    all.last._2
  }

  /** [[execute]] under pre-authorized [[runAs]] enforcement — the shell's
    * credentialed path.
    */
  def executeAs(user: String, password: String, text: String): DataFrame = {
    val all = executeAllAs(user, password, text)
    require(all.nonEmpty, "InfluxQL: empty statement")
    all.last._2
  }

  /** Plan a SELECT against the db its FROM qualifier routes to. A db with
    * no committed points has no field or tag to check names against, so
    * its SELECT returns no series, as InfluxDB's does (every MQTT db is in
    * that state until the data plane's first commit).
    */
  private def select(text: String): DataFrame = {
    val q = InfluxQL.parse(text)
    val db = q.fromDb.getOrElse(defaultDb)
    requireDb(db)
    q.fromRp.foreach(requireRp(db, _))
    if (pointsTable(db).version.isEmpty) spark.emptyDataFrame
    else InfluxQL.planResolved(points(db), q.copy(fromDb = None, fromRp = None))
  }

  /** Public validation seam for the HTTP /write `rp` parameter: a named
    * retention policy must exist on the db (storage is per-db, so the
    * policy governs expiry, not placement — but an unknown name still
    * fails loudly like InfluxDB's 404).
    */
  def requireRetentionPolicy(db: String, rp: String): Unit = requireRp(db, rp)

  private def requireRp(db: String, rp: String): Unit = {
    val policies = new TxLogTable(spark, s"$rootDir/_retention_policies")
    val known = policies.version.nonEmpty &&
      policies.read().filter(col("db") === db && col("name") === rp).count() > 0
    if (!known) throw new IllegalArgumentException(
      s"InfluxQL: retention policy not found: $rp on $db")
  }

  /** `CREATE DATABASE x` / `DROP DATABASE x`: the identifier at word `i`.
    * Accepts the double-quoted form every stock client sends
    * (influxdb-python's create_database quotes unconditionally).
    */
  private def identAfter(t: String, i: Int): String = {
    val ws = t.split("\\s+")
    require(ws.length == i + 1, s"expected exactly one database name in '$t'")
    val raw = ws(i)
    if (raw.length >= 2 && raw.startsWith("\"") && raw.endsWith("\""))
      raw.substring(1, raw.length - 1)
    else raw
  }

  /** Rewrite a qualified FROM to its bare measurement so runInto (which
    * re-parses) plans the already-routed points. Only the FROM element
    * carries the qualifier, so a plain text substitution of the first
    * `db..`/`db.rp.` occurrence after FROM is exact.
    */
  private def stripQualifier(t: String, q: InfluxQL.Query): String =
    q.fromDb match {
      case None => t
      case Some(db) =>
        val rp = q.fromRp.map(r => s"$r.").getOrElse(".")
        t.replaceFirst(
          java.util.regex.Pattern.quote(s"$db.$rp"), "")
    }
}

object InfluxCatalog {
  /** Statement-family routing is by PREFIX, never `contains`: a SELECT
    * whose measurement, tag, or string literal merely mentions
    * "subscription" (a perfectly plausible business word) must reach the
    * SELECT planner, not the subscription DDL parser — and must not demand
    * admin under [[InfluxCatalog.runAs]]. `up` is the trimmed,
    * upper-cased statement.
    */
  private[influxql] def isRetentionStmt(up: String): Boolean =
    up.startsWith("CREATE RETENTION POLICY") ||
      up.startsWith("ALTER RETENTION POLICY") ||
      up.startsWith("DROP RETENTION POLICY") ||
      up.startsWith("SHOW RETENTION POLICIES")

  private[influxql] def isCqStmt(up: String): Boolean =
    up.startsWith("CREATE CONTINUOUS QUERY") ||
      up.startsWith("DROP CONTINUOUS QUERY") ||
      up.startsWith("SHOW CONTINUOUS QUERIES")

  private[influxql] def isSubscriptionStmt(up: String): Boolean =
    up.startsWith("CREATE SUBSCRIPTION") ||
      up.startsWith("DROP SUBSCRIPTION") ||
      up.startsWith("SHOW SUBSCRIPTIONS")

  /** Stable shard id: the low 63 bits of md5(db + "/" + dir basename).
    * The basename is an immutable commit UUID, so the id never shifts
    * under concurrent commits; collisions across a deployment's shard
    * count (thousands) are negligible at 63 bits.
    */
  private[influxql] def shardId(db: String, dir: String): Long = {
    val name = Paths.get(dir).getFileName.toString
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$db/$name".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md).getLong & Long.MaxValue
  }
}
