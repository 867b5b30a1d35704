package graft.storage

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Minimal ACID table layer in the transaction-log style (the Delta/Iceberg
  * pattern, BASELINE.md names Parquet/Delta as the reference's table layer):
  * immutable parquet data directories + an append-only commit log. Each
  * commit file records the COMPLETE set of data directories visible at that
  * version, so readers get snapshot isolation by resolving one log entry,
  * writers never mutate data in place, and old versions stay readable
  * (time travel) until vacuumed.
  *
  * Layout under `path`:
  * {{{
  *   d-<uuid>/part-*.parquet     -- immutable data directories
  *   _txlog/<version>.json       -- {"version":N,"op":"...","dirs":[...],"schema":"..."}
  * }}}
  *
  * Every entry records its snapshot's schema (Delta's `metaData.schemaString`
  * idea), so every read of the table's data directories hands the parquet
  * reader that schema instead of launching a footer-inference Spark job.
  *
  * Commit protocol: write the entry to a temp file, then atomically
  * hard-link it to `<version>.json` (link(2) fails with EEXIST on a
  * committed version; rename(2) would silently replace — not a commit
  * primitive). Two writers racing on the same version see exactly one
  * winner; the loser gets [[TxLogTable.CommitConflict]] and retries by
  * re-reading — except an append, whose new dirs fit any base: it rebases
  * its commit itself and keeps the data it already wrote. Holds on local
  * filesystems and HDFS (createLink/no-replace create); an object store
  * deployment needs a conditional-put commit service instead — the same
  * caveat Delta's LogStore abstracts.
  *
  * Scale posture: plain MERGE rewrites the full snapshot — correct for
  * dimension tables (registries: small, slowly changing). Big keyed tables
  * maintained per batch (a clustering index, a CQ target) pass `rangeCol`:
  * the merge then classifies committed directories by their cached
  * [min, max] of that column against the update keys and CARRIES every
  * directory no update key can touch as pure metadata — write cost tracks
  * the directories a batch overlaps, never the table size (see [[merge]]).
  * Fact tables (the point store) use `append` per micro-batch + `compact`
  * to fold accumulated small directories, bounded by `maxBytes` so
  * compaction cost tracks the small-file debt, never the table size.
  */
class TxLogTable(spark: SparkSession, path: String) {
  import TxLogTable._

  private val root: Path = Paths.get(path)
  private val logDir: Path = root.resolve("_txlog")

  /** Latest committed version, if any commit exists. */
  def version: Option[Long] = {
    if (!Files.isDirectory(logDir)) return None
    val vs = listLog(logDir)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Stable identity of this commit-log INCARNATION: the filesystem fileKey
    * (device+inode on POSIX) of the earliest commit file still in the log.
    * A table dir removed and recreated at the same path restarts version
    * numbering from 0, so `version` alone cannot key a cross-request cache
    * — the earliest commit file's inode changes with every incarnation
    * (commit files are hard-link-created, never rewritten in place). Same
    * cost class as [[version]]: one directory list + one stat, no Spark job.
    */
  def incarnation: Option[String] = {
    if (!Files.isDirectory(logDir)) return None
    val vs = listLog(logDir)
    if (vs.isEmpty) None
    else
      try Some(String.valueOf(Files.readAttributes(
        logDir.resolve(s"${vs.min}.json"),
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey))
      catch { case _: java.io.IOException => None }
  }

  def read(): DataFrame =
    readVersion(version.getOrElse(throw new IllegalStateException(s"no committed version at $path")))

  /** Time travel: the table exactly as of commit `v`. */
  def readVersion(v: Long): DataFrame = {
    val e = readEntry(v)
    if (e.dirs.isEmpty)
      throw new IllegalStateException(s"version $v of $path is empty")
    readDirs(e.dirs, e.schema)
  }

  /** The schema of version `v`: the one its entry records, or — for an
    * entry committed before entries carried one — the parquet footer's
    * (one inference job).
    */
  def schemaOf(v: Long): StructType = {
    val e = readEntry(v)
    e.schema.getOrElse(readDirs(e.dirs, None).schema)
  }

  /** Data directories (names relative to the table root) as one frame,
    * read with the recorded schema when there is one: no inference job.
    */
  private def readDirs(dirs: Seq[String], schema: Option[StructType]): DataFrame = {
    val paths = dirs.map(d => root.resolve(d).toString)
    schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
  }

  /** Append-only commit: previous snapshot plus the new rows.
    *
    * With `txn = Some((appId, seq))` the commit carries a transaction
    * fence (the Delta SetTransaction idea): if a commit with the same
    * appId and a sequence >= `seq` already exists, the append is SKIPPED
    * and the current version returned — which turns an at-least-once
    * replayer (a foreachBatch sink re-running a micro-batch after crash)
    * into exactly-once table EFFECT, atomically, because the fence rides
    * the same commit file as the data it fences.
    */
  def append(df: DataFrame, txn: Option[(String, Long)] = None): Long = {
    refuseIfClustered()
    appendCommit(df.schema, txn)(Seq(writeDataDir(df)))._1.get
  }

  /** Compare-and-set append: commits `df` only as the version right after
    * `at` (None: the first commit) and says whether it did. A check-then-
    * append registry checks at version `at`, calls this, and re-checks on
    * false — so of concurrent CREATEs of one name exactly one lands, even
    * across a fence-less commit (a DROP's delete), which a txn fence would
    * miss.
    */
  def appendIfAt(df: DataFrame, at: Option[Long]): Boolean = {
    refuseIfClustered()
    if (version != at) return false
    val cur = at.map(schemaOf)
    requireSameSchema(cur, df.schema)
    val dir = writeDataDir(df)
    try { commit("append", at.map(readEntry(_).dirs).getOrElse(Nil) :+ dir, at,
      cur.getOrElse(nullable(df.schema))); true }
    catch { case _: CommitConflict => deleteRecursively(root.resolve(dir)); false }
  }

  /** Check-then-append as one compare-and-set: `check` throws to refuse;
    * `df` commits only on the version `check` ran against, re-checked from
    * a fresh version until it lands or `check` refuses.
    */
  def appendChecked(df: DataFrame)(check: => Unit): Unit =
    while ({ val at = version; check; !appendIfAt(df, at) }) ()

  // a range-clustered merge-maintained table REFUSES plain appends: the
  // granular merge's correctness rests on the committed snapshot being
  // key-unique, and an append between granular merges can smear a
  // duplicate key across two carried directories where it survives
  // every later merge silently. The evolution paths for such tables are
  // overwrite()/appendClustered()/merge() — all of which keep (or reset)
  // the invariant.
  private def refuseIfClustered(): Unit =
    clusteredOn.foreach { rc =>
      throw new IllegalStateException(
        s"$path is range-clustered on '$rc' and merge-maintained: plain " +
          "append() would break the key-uniqueness invariant granular " +
          "merges depend on; use merge(), appendClustered() or overwrite()")
    }

  // schema drift fails LOUDLY at write time: a snapshot reads with ONE
  // schema, so an append with different columns/types would silently
  // drop or null columns on every later read instead of erroring here
  private def requireSameSchema(cur: Option[StructType], schema: StructType): Unit =
    cur.foreach { c =>
      val curFields = c.fields.map(f => (f.name, f.dataType)).toSet
      val newFields = nullable(schema).fields.map(f => (f.name, f.dataType)).toSet
      if (curFields != newFields)
        throw new IllegalArgumentException(
          s"append schema ${schema.simpleString} does not match table " +
            s"$path schema ${c.simpleString}; rewrite via overwrite() to evolve")
    }

  /** The commit half [[append]] and [[appendClustered]] share. Against the current base it checks the txn fence and the
    * schema, runs `write` (the Spark write of the new data dirs) once, and
    * commits them (nothing when `write` returned none). Appended dirs are
    * valid on top of ANY base, so a lost commit race re-resolves only the
    * new base — fence and schema re-checked against it — and commits
    * again; it never redoes the write. A retry that finds the fence taken
    * or the schema evolved leaves the written dirs unreferenced, for
    * [[vacuum]]. Returns the table's version after the call and the dirs
    * this call committed (none when fenced or empty).
    */
  private def appendCommit(schema: StructType, txn: Option[(String, Long)])(
      write: => Seq[String]): (Option[Long], Seq[String]) = {
    var written: Option[Seq[String]] = None
    while (true) {
      val base = version
      val fenced = txn.exists { case (appId, seq) => txnHighWatermark(appId).exists(_ >= seq) }
      if (fenced)
        return (Some(base.getOrElse(throw new IllegalStateException(
          s"txn fence ${txn.get} exists but $path has no version"))), Nil)
      val cur = base.map(schemaOf)
      requireSameSchema(cur, schema)
      val dirs = written.getOrElse { val w = write; written = Some(w); w }
      if (dirs.isEmpty) return (base, Nil)
      try return (Some(commit("append", base.map(readEntry(_).dirs).getOrElse(Nil) ++ dirs,
        base, cur.getOrElse(nullable(schema)), txn)), dirs)
      catch { case _: CommitConflict => () } // another writer won: rebase
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[append]], materialized as MANY range-clustered data directories in
    * one commit: rows repartition by range of `rangeCol` into up to `nDirs`
    * contiguous key slices (one Spark job), each slice becoming its own
    * immutable directory with a NARROW [min, max]. The point is downstream
    * directory-granular maintenance: a bulk-built keyed index written as
    * one full-range directory overlaps every later batch, so a granular
    * [[merge]] would rewrite the corpus per fold; written as key slices,
    * a fold rewrites only the slices its keys land in. Same schema-drift
    * and txn-fence rules as [[append]].
    */
  def appendClustered(df: DataFrame, rangeCol: String, nDirs: Int,
                      txn: Option[(String, Long)] = None): Long = {
    require(nDirs > 0, "nDirs must be positive")
    requireRangeCastable(df, rangeCol, "appendClustered")
    markClustered(rangeCol)
    val (committed, dirs) = appendCommit(df.schema, txn) {
      // one partitioned write into a staging dir, then each slice subdir
      // moves to its d-<uuid> name. The moves are data STAGING (nothing is
      // visible until the log commit below), not a commit primitive — the
      // hard-link commit protocol is untouched. partitionBy drops the
      // slice column from the files, so the committed schema is df's own.
      val staged = root.resolve(s".stage-${UUID.randomUUID().toString.take(8)}")
      df.repartitionByRange(nDirs, col(rangeCol))
        .withColumn("__dirslice", org.apache.spark.sql.functions.spark_partition_id())
        .write.partitionBy("__dirslice").mode("errorifexists").parquet(staged.toString)
      val slices = listDir(staged).filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__dirslice="))
      val names = slices.map { sd =>
        val n = s"d-${UUID.randomUUID()}"
        Files.move(sd, root.resolve(n))
        n
      }
      deleteRecursively(staged)
      // an empty input still commits a schema-preserving empty dir, so the
      // snapshot stays readable (same rule as removeDirs' last-dir case)
      if (names.nonEmpty) names else Seq(writeDataDir(df.limit(0)))
    }
    // materialize the range column's stats sidecars NOW (the data is
    // page-cache warm): they are the part of the index a granular merge
    // plans against, so the first fold shouldn't pay a lazy corpus scan
    // (a fenced replay wrote nothing and has nothing to index)
    val v = committed.get
    if (dirs.nonEmpty) dirColStats(rangeCol, dirs, schemaOf(v))
    v
  }

  /** Highest committed transaction sequence for `appId`, if any — the
    * replay fence for idempotent appends. Resolved from the latest txn
    * CHECKPOINT plus the log suffix behind it, so the lookup reads
    * O(checkpoint interval) entries regardless of table age. Without the
    * checkpoint a per-micro-batch streaming sink would re-scan the whole
    * log on EVERY fenced append — O(commits²) file reads over the stream's
    * lifetime (100k commits ≈ a quarter of continuous ingest).
    */
  def txnHighWatermark(appId: String): Option[Long] =
    version.flatMap { v =>
      val (ckptV, base) = latestTxnCheckpoint(v)
        .map { case (cv, m) => (cv, m.get(appId)) }
        .getOrElse((-1L, None))
      val suffix = ((ckptV + 1) to v).flatMap(readEntry(_).txn)
        .collect { case (a, s) if a == appId => s }
      (base.toSeq ++ suffix).reduceOption(_ max _)
    }

  /** Absolute paths of the data directories visible at version `v` —
    * for external per-commit inspection (e.g. SHOW SHARDS).
    */
  def dirPaths(v: Long): Seq[String] =
    readEntry(v).dirs.map(d => root.resolve(d).toString)

  /** The operation that committed version `v` ("append", "compact", ...)
    * — lets maintenance distinguish its own commit from a no-op that
    * returned a concurrently-advanced version.
    */
  def opOf(v: Long): String = readEntry(v).op

  /** Replace the table contents. */
  def overwrite(df: DataFrame): Long = {
    val base = version
    val dir = writeDataDir(df)
    commit("overwrite", Seq(dir), base, nullable(df.schema))
  }

  /** Row-level DELETE: drop rows matching `predicate`, keep everything
    * else, commit as a rewrite. Like MERGE this rewrites the snapshot —
    * right for dimension tables and GDPR-style corrections on bounded
    * data; fact tables at scale should partition so deletes become
    * partition drops instead. Time travel keeps the pre-delete versions
    * readable; [[appendsBetween]] ranges crossing it refuse (rewrite).
    */
  def delete(predicate: org.apache.spark.sql.Column): Long = {
    val base = Some(version.getOrElse(
      throw new IllegalStateException(s"no committed version at $path")))
    val kept = readVersion(base.get).filter(!coalesce(predicate, lit(false)))
    val dir = writeDataDir(kept)
    commit("delete", Seq(dir), base, nullable(kept.schema))
  }

  /** Shard-level drop (InfluxQL DROP SHARD): publish a snapshot whose dir
    * list excludes the named data directories (absolute paths, as
    * [[dirPaths]] lists them). O(1) metadata — no rewrite, no scan; time
    * travel keeps the dropped dirs readable at earlier versions and vacuum
    * reclaims them once unreferenced. Dropping every remaining dir commits
    * an empty schema-preserving overwrite instead, so the snapshot stays
    * readable. Unknown paths are loud.
    */
  def removeDirs(absPaths: Set[String]): Long = {
    val base = version.getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val cur = readEntry(base).dirs
    def abs(d: String): String = root.resolve(d).toString
    val unknown = absPaths -- cur.map(abs).toSet
    require(unknown.isEmpty,
      s"not data dirs of version $base: ${unknown.mkString(", ")}")
    val kept = cur.filterNot(d => absPaths.contains(abs(d)))
    val schema = schemaOf(base)
    if (kept.isEmpty) {
      val dir = writeDataDir(readVersion(base).limit(0))
      commit("dropshard", Seq(dir), Some(base), schema)
    } else commit("dropshard", kept, Some(base), schema)
  }

  /** MERGE upsert by `keys`: for each key, one surviving row. With
    * `orderCol`, the row with the greatest order value wins (ties prefer
    * the update) — replaying the same updates batch is then idempotent,
    * which is what makes a foreachBatch maintenance loop exactly-once.
    * Without `orderCol`, updates unconditionally replace current rows.
    *
    * With `rangeCol` (a long-castable member of `keys`) the merge is
    * DIRECTORY-GRANULAR, the same classification [[expireOlderThan]] does
    * on time: each committed data directory's cached [min, max] of
    * `rangeCol` ([[dirColStats]]) decides whether ANY update key can live
    * in it. Directories no update key reaches are CARRIED into the new
    * snapshot as pure metadata (never read, never rewritten); only the
    * overlapped directories union with the updates and rewrite. Per-batch
    * write cost is then O(directories the batch touches), not O(table) —
    * what lets a corpus-sized keyed index (a clustering assignment, a CQ
    * fill target) fold per-batch updates without rewriting the corpus.
    * Write the table range-clustered ([[appendClustered]]) so directory
    * ranges are narrow and the classification has something to skip.
    *
    * Granular-merge precondition: the committed snapshot must be
    * key-unique (true for any table maintained through merge from empty or
    * bootstrapped by a single append of key-distinct rows). A duplicate
    * key smeared across two directories that BOTH escape the update range
    * is carried as-is — a full merge would have collapsed it.
    */
  def merge(updates: DataFrame, keys: Seq[String], orderCol: Option[String] = None,
            rangeCol: Option[String] = None): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val base = version
    rangeCol match {
      case Some(rc) if base.isDefined =>
        require(keys.contains(rc),
          s"rangeCol $rc must be one of the merge keys ${keys.mkString(",")} — " +
            "pruning on a non-key column could carry directories holding matching keys")
        requireRangeCastable(updates, rc, "merge")
        // a granular merge declares the table merge-maintained: from here
        // on plain append() refuses (see [[append]]) so the key-uniqueness
        // precondition the carry classification depends on stays enforced
        markClustered(rc)
        mergeGranular(updates, keys, orderCol, rc, base.get)
      case _ =>
        val merged = base match {
          case None => dedupKeys(updates.withColumn("__src", lit(1)), keys, orderCol)
          case Some(v) =>
            val tagged = readVersion(v).withColumn("__src", lit(0))
              .unionByName(updates.withColumn("__src", lit(1)))
            dedupKeys(tagged, keys, orderCol)
        }
        val dir = writeDataDir(merged)
        commit("merge", Seq(dir), base, nullable(merged.schema))
    }
  }

  private def mergeGranular(updates: DataFrame, keys: Seq[String],
                            orderCol: Option[String], rc: String, v: Long): Long = {
    val dirs = readEntry(v).dirs
    val schema = schemaOf(v)
    val stats = dirColStats(rc, dirs, schema)
    // updates feed both the key probe and the rewrite union — one pass
    val up = updates.persist()
    try {
      // per-dir hit = SOME update key falls inside the dir's range — an
      // exact containment probe (ONE broadcast theta-join against the
      // tiny per-dir list), not an interval overlap with the updates'
      // [min, max] envelope: a batch touching both ends of the key space
      // must not drag every directory in between into the rewrite. A null
      // update key can match committed null-key rows anywhere a null
      // hides (range stats ignore nulls), so the same probe marks every
      // null-holding dir hit when the updates carry a null key.
      val probe = dirs.map { d =>
        val s = stats(d)
        (d, s.min.getOrElse(0L), s.max.getOrElse(0L), s.min.isDefined, s.hasNull)
      }
      val uk = up.select(col(rc).cast("long").as("__k")).distinct()
      val hit: Set[String] = uk.join(
          broadcast(spark.createDataFrame(probe)
            .toDF("__dir", "__mn", "__mx", "__ranged", "__nullable")),
          (col("__ranged") && col("__k") >= col("__mn") && col("__k") <= col("__mx")) ||
            (col("__k").isNull && col("__nullable")))
        .select("__dir").distinct().collect().map(_.getString(0)).toSet
      val (rewrite, carried) = dirs.partition(hit.contains)
      val tagged =
        if (rewrite.isEmpty) up.withColumn("__src", lit(1))
        else readDirs(rewrite, Some(schema))
          .withColumn("__src", lit(0))
          .unionByName(up.withColumn("__src", lit(1)))
      val merged = dedupKeys(tagged, keys, orderCol)
      val dir = writeDataDir(merged)
      // the snapshot reads as its FIRST directory's footer would: a carried
      // one keeps the base schema, else the rewrite's
      commit("merge", carried :+ dir, Some(v),
        if (carried.nonEmpty) schema else nullable(merged.schema))
    } finally up.unpersist()
  }

  /** Retention/TTL expiry: drop every row whose `tsCol` is strictly below
    * `cutoff` (a long in the column's own unit — ns for the point store),
    * committed as one snapshot rewrite. The InfluxDB retention-policy
    * contract the reference's layout exists to serve
    * (influx_service.py:183-200 writes ns times so data can age out).
    *
    * Directory-granular, which is what makes it a first-class operation at
    * 100 TB: each data directory classifies by its [min, max] of `tsCol` —
    *   - wholly below the cutoff: DROPPED from the snapshot (pure metadata,
    *     the directory is never read; [[vacuum]] reclaims it later),
    *   - wholly at/above: carried over untouched,
    *   - straddling: rewritten with the filter (cost ∝ boundary data only).
    * For time-ordered ingest (appends arrive roughly by time, compaction
    * folds neighbors) almost every expired directory is a pure drop, so
    * steady-state expiry cost is O(one boundary directory) regardless of
    * table size. Rows with a null `tsCol` survive — they have no age.
    * Commits as op "expire" (a rewrite: [[appendsBetween]] ranges crossing
    * it refuse, exactly like delete/compact).
    */
  def expireOlderThan(tsCol: String, cutoff: Long): Long = {
    val base = Some(version.getOrElse(
      throw new IllegalStateException(s"no committed version at $path")))
    val dirs = readEntry(base.get).dirs
    val schema = schemaOf(base.get)
    // per-directory [min, max] from the sidecar cache ([[dirColStats]]):
    // one column-pruned job over the UNCACHED dirs only, never one job per
    // dir, and repeat expiries are pure sidecar reads. min/max ignore
    // nulls, so a dir also reports whether null-ts rows exist: those
    // survive expiry and block the pure-drop shortcut.
    val statsByDir = dirColStats(tsCol, dirs, schema)
    val classified = dirs.map { d =>
      val cls = statsByDir(d) match {
        case DirColStats(_, _, None, _) => "keep" // empty or all-null ts
        case s @ DirColStats(_, _, Some(mn), Some(mx)) =>
          if (mx < cutoff) { if (s.hasNull) "rewrite" else "drop" }
          else if (mn >= cutoff) "keep"
          else "rewrite"
        case _ => "keep" // unreachable: max null iff min null
      }
      (d, cls)
    }
    if (classified.forall(_._2 == "keep")) return base.get // nothing expired
    val kept = classified.collect { case (d, "keep") => d }
    val straddling = classified.collect { case (d, "rewrite") => d }
    val rewritten =
      if (straddling.isEmpty) Nil
      else {
        val filtered = readDirs(straddling, Some(schema))
          .filter(col(tsCol).isNull || col(tsCol) >= cutoff)
        Seq(writeDataDir(filtered))
      }
    commit("expire", kept ++ rewritten, base, schema)
  }

  /** Per-directory statistics of a long-castable column, resolved from
    * `_stats/<dir>.<col>.json` sidecars. Data directories are IMMUTABLE, so
    * a (dir, col) stat is computed at most once in the dir's life: uncached
    * dirs resolve in ONE column-pruned job grouped by parent directory
    * (never a job per dir), the result is cached best-effort, and every
    * later caller — expiry, granular merge, [[colRange]] — pays O(new dirs
    * since the last call), never O(table). Sidecar writes are atomic
    * (temp + link) and deterministic per dir, so racing writers are
    * harmless; a lost sidecar only means one re-computation.
    */
  private[graft] def dirColStats(colName: String, dirs: Seq[String],
                                 schema: StructType): Map[String, DirColStats] = {
    require(colName.matches("[A-Za-z0-9_][A-Za-z0-9_.\\-]*"),
      s"stats sidecars need a plain column name, got '$colName'")
    val cached = dirs.flatMap { d =>
      val p = statsPath(d, colName)
      if (Files.isRegularFile(p))
        Some(d -> parseDirStats(new String(Files.readAllBytes(p), "UTF-8")))
      else None
    }.toMap
    val missing = dirs.filterNot(cached.contains)
    if (missing.isEmpty) return cached
    val scanned: Map[String, DirColStats] =
      readDirs(missing, Some(schema))
        .groupBy(element_at(split(input_file_name(), "/"), -2).as("__dir"))
        .agg(count(lit(1)).as("n"), count(col(colName)).as("nn"),
          min(col(colName)).cast("long").as("mn"),
          max(col(colName)).cast("long").as("mx"))
        .collect()
        .map(r => r.getString(0) -> DirColStats(r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    // a dir the scan never grouped is empty — record that too, so it is
    // never re-scanned
    val fresh = missing.map(d =>
      d -> scanned.getOrElse(d, DirColStats(0L, 0L, None, None))).toMap
    fresh.foreach { case (d, s) =>
      try {
        Files.createDirectories(statsDir)
        val tmp = statsDir.resolve(s".tmp-${UUID.randomUUID().toString.take(8)}")
        Files.write(tmp, renderDirStats(s).getBytes("UTF-8"))
        try Files.createLink(statsPath(d, colName), tmp)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        finally Files.deleteIfExists(tmp)
      } catch { case scala.util.control.NonFatal(_) => () } // cache, not truth
    }
    cached ++ fresh
  }

  /** Read only the directories that can hold rows whose `rangeCol` equals
    * one of `keys` — the hand-rolled dynamic-partition-pruning primitive
    * for key-clustered tables ([[appendClustered]] / granular merge): the
    * caller resolves a small driver-side key set (e.g. an ANN probe's
    * bucket ids) and the scan then skips every directory whose [min, max]
    * range excludes all of them, so a probe's read volume is priced by the
    * buckets it touches, not the corpus. Returns a SUPERSET of the
    * matching rows (whole hit directories) — compose with the equi-join or
    * filter that motivated the key set. Null-key rows never equal a key,
    * so all-null/empty directories prune like any other. Costs one sidecar
    * resolve (amortized: data dirs are immutable and stats cache under
    * `_stats/`) — no data-plane job. On an unclustered single-directory
    * snapshot this degrades gracefully to the full read.
    */
  def readKeysIn(rangeCol: String, keys: Seq[Long]): DataFrame = {
    val v = version.getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val dirs = readEntry(v).dirs
    val schema = schemaOf(v)
    val stats = dirColStats(rangeCol, dirs, schema)
    val ks = keys.distinct
    val hit = dirs.filter { d =>
      stats(d) match {
        case DirColStats(_, _, Some(mn), Some(mx)) =>
          ks.exists(k => k >= mn && k <= mx)
        case _ => false // empty dir or all-null rangeCol: no key can match
      }
    }
    if (hit.isEmpty) readVersion(v).filter(lit(false))
    else readDirs(hit, Some(schema))
  }

  /** [min, max] of a long-castable column over the CURRENT snapshot — from
    * the per-dir stats cache, so amortized O(new dirs), never a table scan.
    * None when the table is empty or the column is all-null.
    */
  def colRange(colName: String): Option[(Long, Long)] = version.flatMap { v =>
    val st = dirColStats(colName, readEntry(v).dirs, schemaOf(v)).values
    val mns = st.flatMap(_.min)
    if (mns.isEmpty) None else Some((mns.min, st.flatMap(_.max).max))
  }

  private def statsDir: Path = root.resolve("_stats")
  private def statsPath(dir: String, colName: String): Path =
    statsDir.resolve(s"$dir.$colName.json")

  private def dedupKeys(tagged: DataFrame, keys: Seq[String], orderCol: Option[String]): DataFrame = {
    val order = orderCol.map(c => Seq(col(c).desc, col("__src").desc))
      .getOrElse(Seq(col("__src").desc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    tagged.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk", "__src")
  }

  /** Fold small data directories (total size <= maxBytes each) into one.
    * Directories above the threshold are carried over untouched, so the
    * rewrite cost is proportional to the accumulated small-file debt, not
    * the table size.
    */
  def compact(maxBytes: Long = Long.MaxValue): Long = {
    val base = Some(version.getOrElse(
      throw new IllegalStateException(s"no committed version at $path")))
    val dirs = base.map(readEntry(_).dirs).getOrElse(Nil)
    val (small, big) = dirs.partition(d => dirSize(root.resolve(d)) <= maxBytes)
    if (small.size < 2) return base.get // nothing to fold
    val schema = schemaOf(base.get)
    val dir = writeDataDir(readDirs(small, Some(schema)))
    commit("compact", big :+ dir, base, schema)
  }

  /** Change feed between two committed versions: row-level diff of the two
    * snapshots (`insert` rows appear in `to` only, `delete` in `from`
    * only; an upsert shows as delete+insert of the key's old/new rows).
    * Lets downstream consumers follow a MERGE-maintained dimension
    * incrementally instead of re-reading it — the CDF idiom.
    */
  def changes(fromV: Long, toV: Long): DataFrame = {
    val from = readVersion(fromV)
    val to = readVersion(toV)
    to.exceptAll(from).withColumn("_change_type", lit("insert"))
      .unionByName(from.exceptAll(to).withColumn("_change_type", lit("delete")))
  }

  /** OPTIMIZE ZORDER: rewrite the current snapshot into `nFiles`
    * z-clustered files on dimensions (x, y) — compaction that also
    * establishes multi-dimensional locality, so per-file min/max (and a
    * [[StatsIndex]] built on top) serve range predicates on EITHER
    * dimension. Commits as a rewrite: time travel keeps prior versions,
    * and [[appendsBetween]] ranges crossing it correctly refuse (use
    * [[changes]]). Run it like compaction — on the accumulated debt,
    * off the write path.
    */
  def optimizeZOrder(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
                     bits: Int, nFiles: Int): Long = {
    require(nFiles > 0, "nFiles must be positive")
    val base = Some(version.getOrElse(
      throw new IllegalStateException(s"no committed version at $path")))
    val clustered = readVersion(base.get)
      .withColumn("__z", ZOrder.zvalue2(x, y, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val dir = writeDataDir(clustered)
    commit("optimize", Seq(dir), base, nullable(clustered.schema))
  }

  /** Cheap change feed for an APPEND-ONLY version range: the rows added
    * between `fromV` and `toV` are exactly the data directories the append
    * commits introduced, so reading the delta costs O(|delta|) — no
    * snapshot diff (which [[changes]] must do, at O(table) shuffle cost,
    * to handle merges/compactions). Throws if any commit in the range is
    * not an append: a rewrite invalidates the dirs-added = rows-added
    * equivalence, and silently returning a wrong delta would corrupt any
    * incrementally-maintained downstream state.
    */
  def appendsBetween(fromV: Long, toV: Long): DataFrame = {
    require(toV > fromV, s"need toV > fromV, got $fromV -> $toV")
    val nonAppend = (fromV + 1).to(toV).map(readEntry).filter(_.op != "append")
    if (nonAppend.nonEmpty)
      throw new IllegalStateException(
        s"versions ${nonAppend.map(_.version).mkString(",")} of $path are not appends — " +
          "use changes() (snapshot diff) for ranges containing rewrites")
    val added = readEntry(toV).dirs.filterNot(readEntry(fromV).dirs.toSet)
    if (added.isEmpty) readVersion(toV).limit(0)
    else readDirs(added, Some(schemaOf(toV)))
  }

  /** Delete data directories no longer referenced by the LATEST version.
    * This discards time travel to earlier versions (their log entries stay
    * but their data may be gone) — run only past any retention window.
    *
    * Directories younger than `retainMillis` are SKIPPED even when
    * unreferenced: an in-flight concurrent writer materializes its data
    * directory BEFORE its log commit, so an unreferenced-but-fresh dir may
    * belong to a writer that can still win the commit race — deleting it
    * would publish a snapshot pointing at vanished data (the Delta
    * retention-window rule). Pass 0 only when no writer can be in flight.
    */
  def vacuum(retainMillis: Long = TxLogTable.DefaultVacuumRetentionMs): Seq[String] = {
    require(retainMillis >= 0, "retainMillis must be >= 0")
    val live = currentDirs().toSet
    val cutoff = System.currentTimeMillis() - retainMillis
    val all = listDir(root)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("d-"))
    val orphans = all.filterNot(p => live.contains(p.getFileName.toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
    orphans.foreach(deleteRecursively)
    // reclaim this table's litter too: crashed appendClustered staging dirs
    // (same age rule — a fresh one may belong to an in-flight writer) and
    // the stats sidecars of the dirs just removed
    listDir(root)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(".stage-"))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
      .foreach(deleteRecursively)
    if (Files.isDirectory(statsDir)) {
      val gone = orphans.map(_.getFileName.toString).toSet
      listDir(statsDir).filter { p =>
        val n = p.getFileName.toString
        gone.exists(d => n.startsWith(d + "."))
      }.foreach(Files.deleteIfExists(_))
    }
    orphans.map(_.getFileName.toString)
  }

  /** `influxd backup`'s analogue: materialize commit `ofVersion` (default
    * latest) as a self-contained snapshot under `destDir` — a
    * `manifest.json` (version, op, dirs, per-file byte sizes) plus the
    * version's immutable data directories, HARD-LINKED file by file
    * (zero-copy on one filesystem, copy fallback across devices). The
    * links keep the bytes alive even after a source-side [[vacuum]]
    * reclaims the dirs, so a snapshot never rots under retention. Returns
    * the exported version.
    */
  def exportSnapshot(destDir: String, ofVersion: Option[Long] = None): Long = {
    val ver = ofVersion.getOrElse(version.getOrElse(
      throw new IllegalStateException(s"no committed version at $path")))
    val e = readEntry(ver)
    val dest = Paths.get(destDir)
    require(!Files.isDirectory(dest) || listDir(dest).isEmpty,
      s"snapshot destination $destDir is not empty")
    Files.createDirectories(dest)
    val files = e.dirs.flatMap { d =>
      walkDir(root.resolve(d)).filter(Files.isRegularFile(_)).map { f =>
        val rel = root.relativize(f).toString
        val out = dest.resolve(rel)
        Files.createDirectories(out.getParent)
        try Files.createLink(out, f)
        catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(f, out); ()
        }
        (rel, Files.size(f))
      }
    }
    // the clustered marker travels with the snapshot: a restored
    // merge-maintained table must keep refusing plain appends
    val clusterPart = clusteredOn.map(rc => s""","cluster":"$rc"""").getOrElse("")
    val manifest =
      s"""{"version":$ver,"op":"${e.op}",""" +
        s""""dirs":[${e.dirs.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""files":[${files.map { case (p, sz) => s"""["$p",$sz]""" }.mkString(",")}]$clusterPart""" +
        schemaPart(e.schema) + "}"
    Files.write(dest.resolve("manifest.json"), manifest.getBytes("UTF-8"))
    ver
  }

  /** `influxd restore`: publish the snapshot at `srcDir` into this table
    * AT THE SNAPSHOT'S OWN VERSION — so time travel and later incremental
    * backups line up — after verifying every manifest file is present with
    * its recorded byte size (a truncated or tampered backup REFUSES
    * instead of committing silently short data). VERSION FENCE: the table
    * must hold no committed version at all — like `influxd restore`'s
    * database-must-not-exist rule — because restoring over a live log
    * would either shadow newer commits or leave version gaps; a conflict
    * refuses loudly, naming both versions (drop the table first to accept
    * the rollback). Data files hard-link in (copy fallback).
    */
  def importSnapshot(srcDir: String): Long = {
    val src = Paths.get(srcDir)
    val (ver, dirs, files) = TxLogTable.verifySnapshotFiles(srcDir)
    version.foreach { live =>
      throw new IllegalStateException(
        s"restore fence conflict: $path already has version $live committed " +
          s"(snapshot is version $ver); drop the table first to accept the restore")
    }
    files.foreach { case (rel, sz) =>
      val out = root.resolve(rel)
      // a file left by a crashed earlier restore attempt (no log was
      // committed) is reusable if its size matches; anything else refuses
      if (Files.isRegularFile(out)) require(Files.size(out) == sz,
        s"stale file $rel at $path conflicts with the snapshot; delete the tree first")
      else {
        Files.createDirectories(out.getParent)
        try Files.createLink(out, src.resolve(rel))
        catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src.resolve(rel), out); ()
        }
      }
    }
    Files.createDirectories(logDir)
    // restore the clustered marker BEFORE the commit lands: a reader that
    // sees the restored version must already see the append refusal
    val manifest = new String(Files.readAllBytes(src.resolve("manifest.json")), "UTF-8")
    """"cluster":"([^"]+)"""".r.findFirstMatchIn(manifest)
      .foreach(m => markClustered(m.group(1)))
    writeCommitFile(logDir, ver,
      renderEntry(LogEntry(ver, "restore", dirs, None, parseSchema(manifest))))
    ver
  }

  private def currentDirs(): Seq[String] =
    version.map(readEntry(_).dirs).getOrElse(Nil)

  // ---- range-clustered / merge-maintained marker -------------------------
  //
  // Once a table is written via appendClustered or maintained via a
  // granular merge(rangeCol), the commit log carries a durable marker and
  // plain append() refuses forever after — the granular merge's carry
  // classification is only correct over a key-unique snapshot, and the
  // engine's own writers maintain that invariant exclusively through
  // merge/appendClustered/overwrite. The marker is a one-shot hard-linked
  // file (same no-replace primitive as commits), so racing writers agree.

  private def clusterMarker: Path = logDir.resolve("_clustered.json")

  /** The range column this table is clustered and merge-maintained on, if
    * it has ever been written via [[appendClustered]] or granularly merged.
    */
  def clusteredOn: Option[String] =
    if (!Files.isRegularFile(clusterMarker)) None
    else """"rangeCol":"([^"]+)"""".r.findFirstMatchIn(
      new String(Files.readAllBytes(clusterMarker), "UTF-8")).map(_.group(1))

  private def markClustered(rc: String): Unit = {
    require(!rc.exists(c => c == '"' || c == '\\'),
      s"range column name $rc cannot ride the marker")
    if (clusteredOn.isDefined) return
    Files.createDirectories(logDir)
    val tmp = logDir.resolve(s".tmp-cl-${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, s"""{"rangeCol":"$rc"}""".getBytes("UTF-8"))
    try Files.createLink(clusterMarker, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp)
  }

  /** Fail fast when the range column cannot ride the long-cast probes:
    * for e.g. a string key, cast("long") yields null in BOTH the per-dir
    * stats (min/max → None with hasNull=false) and the update-key probe —
    * NO directory ever classifies hit, committed rows sharing an update
    * key are carried, and the update appends a silent duplicate. The
    * scaladoc precondition becomes a hard gate here instead.
    */
  private def requireRangeCastable(df: DataFrame, rc: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    val f = df.schema.fields.find(_.name == rc).getOrElse(
      throw new IllegalArgumentException(
        s"$op: no column '$rc' in ${df.schema.simpleString}"))
    f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"$op: range column '$rc' has type ${other.simpleString}, which is " +
          "not losslessly long-castable — directory range stats and the " +
          "update-key probe would cast it to null, classify no directory " +
          "as hit, and silently duplicate keys instead of merging them")
    }
  }

  private def readEntry(v: Long): LogEntry =
    parseEntry(new String(Files.readAllBytes(logDir.resolve(s"$v.json")), "UTF-8"))

  /** Materialize `df` as a new immutable data directory. The name carries a
    * FULL 128-bit UUID and the write mode is error-if-exists: a truncated
    * name (32 bits) reaches ~1% birthday-collision odds after only ~10k
    * commits — a week of per-micro-batch appends — and with
    * mode("overwrite") a collision would silently clobber a LIVE committed
    * directory. With the full UUID a collision is cosmologically unlikely,
    * and if one ever happens the write FAILS instead of corrupting the
    * snapshot. `name` is injectable for tests only.
    */
  private[graft] def writeDataDir(df: DataFrame, name: String = s"d-${UUID.randomUUID()}"): String = {
    df.write.mode("errorifexists").parquet(root.resolve(name).toString)
    name
  }

  /** Commit at exactly `base + 1`, where `base` is the version this
    * operation's snapshot was READ at — never recomputed from the live log.
    * If another writer committed meanwhile, the hard-link on base+1 hits
    * EEXIST and the operation fails with [[TxLogTable.CommitConflict]]
    * instead of silently publishing a snapshot that drops the concurrent
    * commit's data (optimistic concurrency, the Delta protocol's rule).
    */
  private def commit(op: String, dirs: Seq[String], base: Option[Long],
                     schema: StructType, txn: Option[(String, Long)] = None): Long = {
    Files.createDirectories(logDir)
    val next = base.map(_ + 1).getOrElse(0L)
    writeCommitFile(logDir, next, renderEntry(LogEntry(next, op, dirs, txn, Some(schema))))
    // The commit is durable once the link above lands. The checkpoint is an
    // optimization; if IT fails (disk full, permissions) the commit must
    // still report success — a caller retrying an "apparent failure" here
    // would double-append past its txn fence.
    if (next > 0 && next % TxnCheckpointInterval == 0) {
      try writeTxnCheckpoint(next)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    next
  }

  /** Fold the txn watermarks up to `v` into `<v>.ckpt.json`. Derived
    * deterministically from the immutable log prefix (previous checkpoint +
    * the suffix behind it), so two writers racing on the same checkpoint
    * produce identical bytes — the EEXIST loser simply moves on. Amortized
    * O(1) per commit: each checkpoint folds one interval of entries.
    * Best-effort by construction: a missing checkpoint only means the next
    * lookup scans one extra interval (and the next checkpoint re-folds it).
    */
  private def writeTxnCheckpoint(v: Long): Unit = {
    val (fromV, base) = latestTxnCheckpoint(v - 1).getOrElse((-1L, Map.empty[String, Long]))
    val folded = ((fromV + 1) to v).flatMap(readEntry(_).txn)
      .foldLeft(base) { case (m, (a, s)) => m.updated(a, m.get(a).fold(s)(_ max s)) }
    val tmp = logDir.resolve(s".tmp-ckpt-${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, renderTxnCheckpoint(v, folded).getBytes("UTF-8"))
    try Files.createLink(logDir.resolve(s"$v.ckpt.json"), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp)
  }

  /** Latest txn checkpoint at or before `atV`, if any. */
  private def latestTxnCheckpoint(atV: Long): Option[(Long, Map[String, Long])] = {
    if (!Files.isDirectory(logDir)) return None
    val vs = listDir(logDir).map(_.getFileName.toString)
      .filter(_.matches("\\d+\\.ckpt\\.json"))
      .map(_.stripSuffix(".ckpt.json").toLong).filter(_ <= atV)
    if (vs.isEmpty) None
    else {
      val v = vs.max
      Some((v, parseTxnCheckpoint(
        new String(Files.readAllBytes(logDir.resolve(s"$v.ckpt.json")), "UTF-8"))))
    }
  }
}

object TxLogTable {

  /** Default vacuum grace window (7 days, the Delta default): unreferenced
    * directories younger than this are presumed to belong to in-flight
    * writers and are left alone.
    */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Write a txn-watermark checkpoint every this many commits: fence
    * lookups then read at most one checkpoint + one interval of entries.
    */
  val TxnCheckpointInterval: Long = 10L

  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** Cached per-directory column statistics (see [[TxLogTable.dirColStats]]).
    * `min`/`max` are over the non-null values (None when the dir is empty
    * or the column all-null); `hasNull` is what expiry and granular merge
    * need to stay conservative about rows the range can't see.
    */
  private[graft] case class DirColStats(rows: Long, nonNull: Long,
                                        min: Option[Long], max: Option[Long]) {
    def hasNull: Boolean = nonNull < rows
  }

  private[graft] def renderDirStats(s: DirColStats): String =
    s"""{"rows":${s.rows},"nonnull":${s.nonNull}""" +
      s.min.map(m => s""","min":$m""").getOrElse("") +
      s.max.map(m => s""","max":$m""").getOrElse("") + "}"

  private[graft] def parseDirStats(str: String): DirColStats = {
    def longOf(k: String): Option[Long] =
      (""""""" + k + """":(-?\d+)""").r.findFirstMatchIn(str).map(_.group(1).toLong)
    DirColStats(
      longOf("rows").getOrElse(throw new IllegalArgumentException(s"bad stats sidecar: $str")),
      longOf("nonnull").getOrElse(0L), longOf("min"), longOf("max"))
  }

  /** The documented loser-retries protocol, packaged: run `op` (which must
    * re-read table state itself on each attempt — every TxLogTable mutation
    * does, since it resolves `version` fresh), retrying only on
    * [[CommitConflict]]. Anything else propagates: a conflict means "redo
    * against the new snapshot", every other failure means stop.
    */
  def retryOnConflict[T](maxAttempts: Int = 5)(op: => T): T = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempt = 1
    while (true) {
      try return op
      catch {
        case e: CommitConflict =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `schema` is None only in entries committed before entries recorded
    * one; reads of those fall back to footer inference.
    */
  private[graft] case class LogEntry(version: Long, op: String, dirs: Seq[String],
                                     txn: Option[(String, Long)] = None,
                                     schema: Option[StructType] = None)

  /** A schema as the parquet reader infers it for this engine's own files:
    * the writer's schema (Spark stores it in the footer) with every field,
    * element and map value nullable.
    */
  private def nullable(schema: StructType): StructType =
    nullableType(schema).asInstanceOf[StructType]

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType => MapType(nullableType(m.keyType), nullableType(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  // the schema's JSON holds quotes and brackets, which the hand-rolled
  // entry regexes must never see: it rides base64-encoded
  private def schemaPart(schema: Option[StructType]): String =
    schema.map(s => s""","schema":"${java.util.Base64.getEncoder
      .encodeToString(s.json.getBytes("UTF-8"))}"""").getOrElse("")

  private def parseSchema(s: String): Option[StructType] =
    """"schema":"([A-Za-z0-9+/=]*)"""".r.findFirstMatchIn(s).map(m =>
      DataType.fromJson(new String(java.util.Base64.getDecoder.decode(m.group(1)), "UTF-8"))
        .asInstanceOf[StructType])

  /** Parse a snapshot's manifest and verify every listed file is present
    * with its recorded byte size — the refusal gate shared by
    * [[TxLogTable.importSnapshot]] and database-level restore, which must
    * verify EVERY table's snapshot before any byte of ANY table lands (a
    * corrupt table N discovered after tables 0..N-1 imported would leave a
    * half-restored database behind a refused restore). Returns
    * (version, dirs, files).
    */
  private[graft] def verifySnapshotFiles(srcDir: String): (Long, Seq[String], Seq[(String, Long)]) = {
    val src = Paths.get(srcDir)
    val mPath = src.resolve("manifest.json")
    require(Files.isRegularFile(mPath), s"no manifest.json in $srcDir")
    val m = new String(Files.readAllBytes(mPath), "UTF-8")
    val ver = """"version":(\d+)""".r.findFirstMatchIn(m).getOrElse(
      throw new IllegalArgumentException(s"bad manifest in $srcDir")).group(1).toLong
    val dirsRaw = """"dirs":\[([^\]]*)\]""".r.findFirstMatchIn(m).map(_.group(1)).getOrElse("")
    val dirs = """"([^"]+)"""".r.findAllMatchIn(dirsRaw).map(_.group(1)).toSeq
    val files = """\["([^"]+)",(\d+)\]""".r.findAllMatchIn(m)
      .map(mm => (mm.group(1), mm.group(2).toLong)).toSeq
    files.foreach { case (rel, sz) =>
      val f = src.resolve(rel)
      require(Files.isRegularFile(f) && Files.size(f) == sz,
        s"snapshot file $rel missing or size-mismatched in $srcDir (corrupt backup)")
    }
    (ver, dirs, files)
  }

  /** The atomicity point of the commit protocol: materialize the entry to a
    * temp file, then HARD-LINK it to `<version>.json`. link(2) atomically
    * fails with EEXIST when the target exists (POSIX rename(2) would
    * silently replace it — NOT a safe commit primitive), so of two writers
    * racing on the same version exactly one link succeeds; the loser gets
    * [[CommitConflict]] and must re-read and retry.
    */
  private[graft] def writeCommitFile(logDir: Path, version: Long, entry: String): Unit = {
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, entry.getBytes("UTF-8"))
    try Files.createLink(logDir.resolve(s"$version.json"), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflict(s"version $version was committed concurrently")
    } finally Files.deleteIfExists(tmp)
  }

  // dir names are generated (`d-<hex>`), ops are fixed strings, and txn app
  // ids are caller-chosen identifiers documented to avoid quotes/brackets:
  // no escaping needed, so the log format stays a hand-rolled one-liner
  // with no JSON library dependency
  private[graft] def renderEntry(e: LogEntry): String = {
    val txnPart = e.txn.map { case (a, s) =>
      require(!a.exists(c => c == '"' || c == '[' || c == ']'), s"txn appId must not contain quotes/brackets: $a")
      s""","txn":["$a",$s]"""
    }.getOrElse("")
    s"""{"version":${e.version},"op":"${e.op}","dirs":[${e.dirs.map(d => s""""$d"""").mkString(",")}]$txnPart""" +
      schemaPart(e.schema) + "}"
  }

  // same no-escaping rationale as renderEntry: app ids are documented to
  // avoid quotes/brackets, seqs are longs
  private[graft] def renderTxnCheckpoint(v: Long, txns: Map[String, Long]): String = {
    val body = txns.toSeq.sortBy(_._1)
      .map { case (a, s) => s"""["$a",$s]""" }.mkString(",")
    s"""{"version":$v,"txns":[$body]}"""
  }

  private[graft] def parseTxnCheckpoint(s: String): Map[String, Long] =
    """\["([^"]*)",(\d+)\]""".r.findAllMatchIn(s)
      .map(m => (m.group(1), m.group(2).toLong)).toMap

  private[graft] def parseEntry(s: String): LogEntry = {
    val version = """"version":(\d+)""".r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"bad log entry: $s")).group(1).toLong
    val op = """"op":"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val dirsRaw = """"dirs":\[([^\]]*)\]""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val dirs = """"([^"]+)"""".r.findAllMatchIn(dirsRaw).map(_.group(1)).toSeq
    val txn = """"txn":\["([^"]*)",(\d+)\]""".r.findFirstMatchIn(s)
      .map(m => (m.group(1), m.group(2).toLong))
    LogEntry(version, op, dirs, txn, parseSchema(s))
  }

  // java.nio directory streams hold an fd until closed; these helpers close
  // them eagerly (version() runs on every table operation — leaking one fd
  // per call would exhaust the process limit on a long-lived maintenance
  // stream)
  private def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.toArray.map(_.asInstanceOf[Path]).toSeq finally st.close()
  }

  private def walkDir(p: Path): Seq[Path] = {
    val st = Files.walk(p)
    try st.toArray.map(_.asInstanceOf[Path]).toSeq finally st.close()
  }

  private def listLog(logDir: Path): Seq[Long] =
    listDir(logDir).map(_.getFileName.toString)
      .filter(_.matches("\\d+\\.json")).map(_.stripSuffix(".json").toLong)

  private def dirSize(p: Path): Long =
    walkDir(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteRecursively(p: Path): Unit =
    walkDir(p).sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
}
