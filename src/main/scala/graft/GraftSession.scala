package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the engine.
  *
  * Tuned for the local[32] single-JVM harness but with settings chosen to
  * survive a multi-executor cluster: AQE on (runtime re-plan + skew-join
  * handling), shuffle partitions matched to local cores (would be raised on a
  * real cluster), UTC session time zone for oracle parity.
  *
  * Two parquet-reader configs pin the fixture timestamp layouts:
  *   - `spark.sql.parquet.inferTimestampNTZ.enabled=false`: the driver's
  *     fixtures store TIMESTAMP_MICROS with isAdjustedToUTC=false; reading
  *     them as plain TimestampType under the UTC session zone is an identity
  *     re-tag of the stored micros (same longs DuckDB's `epoch_us` sees) and
  *     keeps `ts` a RAW scan column so time predicates push down — an NTZ
  *     read would force a cast that blocks pushdown (full scan at 100 TB).
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: a legacy TIMESTAMP(NANOS)
  *     fixture (the reference writes ns precision, influx_service.py:200) is
  *     rejected by Spark's reader natively; as LONG we truncate to micros
  *     ourselves (see [[Tables.events]]), matching DuckDB's ns->us cast.
  *     Harmless for micros-unit columns.
  *
  * Two local-file defaults make commits on a `file:` path fork-free (see
  * [[graft.storage.NioCheckpointFileManager]] and
  * [[graft.storage.NioLocalFileSystem]]); without `libhadoop`, Hadoop's
  * local filesystem forks a `chmod` or `readlink` process per file:
  *   - `spark.sql.streaming.checkpointFileManagerClass`: streaming offset
  *     and commit logs, file-sink metadata logs and state-store deltas
  *     commit through `java.nio` (`Files.createLink` when the file must not
  *     exist yet). A runtime SQL conf, so [[prepare]] sets it too.
  *   - `spark.hadoop.fs.file.impl`: parquet part files, `_temporary` dirs
  *     and `_SUCCESS` markers get their mode through `java.nio`. A Hadoop
  *     conf read when the first `file:` filesystem is created, so only a
  *     session built here carries it.
  *
  * Both leave every other scheme (HDFS, object stores) to Spark and Hadoop.
  */
object GraftSession {

  /** Apply engine defaults to a builder; callers may override afterwards. */
  def builder(appName: String = "graft", cores: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // whole-stage-codegen class cache (STATIC conf — must be set at
      // session build, prepare() cannot): the default 100 entries hold
      // ~5-10 queries' generated classes, so a 162-query service (or a
      // bench pass) evicts everything and janino-recompiles every plan on
      // every run — pure fixed overhead on the driver, identical on a
      // cluster. Not a result cache: computation still runs per query.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config(CheckpointManagerKey, classOf[graft.storage.NioCheckpointFileManager].getName)
      .config("spark.hadoop.fs.file.impl", classOf[graft.storage.NioLocalFileSystem].getName)

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Ensure an externally-created session (driver's Verify/Bench, tests) has
    * the configs the engine depends on. Safe to call repeatedly.
    */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(CheckpointManagerKey, classOf[graft.storage.NioCheckpointFileManager].getName)
    spark
  }
}
