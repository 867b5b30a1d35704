package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout of the narrow point table (the engine's single physical
  * layout; the wide view is derived — see Ingest.wideView).
  *
  * Partitioning: by UTC date. Time-range queries — the dominant access
  * pattern the reference's storage serves (SURVEY.md §2.2) — then prune
  * whole partitions before any IO. Device-level selectivity comes from
  * parquet row-group min/max on `device_id` within a date partition;
  * partitioning by device_id itself would explode the partition count at
  * fleet scale (10^6 devices x 10^3 days), the classic small-files failure.
  * At warehouse scale, add bucketing on device_id for shuffle-free
  * device-aligned joins.
  *
  * Continuous ingestion (streaming appends accumulating small files) goes
  * through [[TxLogTable]] instead: per-batch `append` commits + periodic
  * size-bounded `compact`, with snapshot-isolated readers — the
  * upsert/compaction story plain parquet append lacks.
  */
object PointStore {

  def write(points: DataFrame, path: String): Unit =
    points
      .withColumn("p_date", to_date(col("ts")))
      .repartition(col("p_date")) // one writer wave per partition, no tiny files
      .sortWithinPartitions("device_id", "ts") // tight row-group min/max on device+time
      .write.partitionBy("p_date").mode("overwrite").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Time-range read: the date predicate prunes partitions; the precise ts
    * bounds filter within the boundary dates.
    */
  def readRange(spark: SparkSession, path: String, from: String, to: String): DataFrame =
    read(spark, path)
      .filter(col("p_date") >= to_date(lit(from)) && col("p_date") <= to_date(lit(to)))
      .filter(col("ts") >= lit(from).cast("timestamp") && col("ts") < lit(to).cast("timestamp"))

  /** Write the device-skippable layout + its stats index in one step.
    * Differs from [[write]] (one file per date — minimal file count) by
    * range-partitioning each writer wave on (date, device): every file then
    * covers a TIGHT device range within its date partition, which is what
    * gives the index something to skip on. The index is only valid for the
    * file set just written — coupling build to write keeps it from going
    * stale silently (any rewrite must come back through here).
    */
  def writeIndexed(points: DataFrame, path: String, statsPath: String,
                   nFiles: Int = 16,
                   writeOptions: Map[String, String] = Map.empty): Unit = {
    points
      .withColumn("p_date", to_date(col("ts")))
      .repartitionByRange(nFiles, col("p_date"), col("device_id"))
      .sortWithinPartitions("p_date", "device_id", "ts")
      // writeOptions pass parquet knobs through (e.g. parquet.block.size
      // to bound row-group size: the in-file skipping granularity)
      .write.options(writeOptions).partitionBy("p_date").mode("overwrite").parquet(path)
    StatsIndex.write(
      StatsIndex.build(read(points.sparkSession, path), Seq("device_id")), statsPath)
  }

  /** The dominant dashboard probe — ONE device over a time range — served
    * by both pruning layers at once: date partitions cut the time
    * dimension, the stats index cuts the file list by device range before
    * any footer is opened. At 10^6 devices × 10^3 days this is the
    * difference between opening every file of the date range and opening
    * the handful containing the device.
    */
  def readDeviceRange(spark: SparkSession, path: String, statsPath: String,
                      device: String, from: String, to: String): DataFrame =
    StatsIndex.readRange(spark, statsPath, path, "device_id", lit(device), lit(device))
      .filter(col("p_date") >= to_date(lit(from)) && col("p_date") <= to_date(lit(to)))
      .filter(col("ts") >= lit(from).cast("timestamp") && col("ts") < lit(to).cast("timestamp"))

  /** Retention expiry on the date-partitioned layout: DROP whole
    * `p_date=<d>` partition directories strictly before `cutoffDate`
    * (ISO yyyy-MM-dd). Pure directory renames+deletes — no data is read
    * or rewritten, which is the whole point of partitioning telemetry by
    * date: at 100 TB, aging out a day is one rename per partition, not a
    * table rewrite. Sub-day precision belongs to the ACID layer
    * ([[TxLogTable.expireOlderThan]]); this is the bulk age-out path.
    * Returns the dropped partition names.
    *
    * Crash safety: each partition is first RENAMED to a `_expired-*`
    * tombstone (atomic on POSIX; the `_` prefix hides it from Spark's
    * partition discovery), then deleted recursively — a crash mid-delete
    * never leaves a directory that still parses as a live, partially
    * deleted partition, and leftover tombstones are swept on the next
    * call. Concurrency contract: a SCAN ALREADY PLANNED over an expiring
    * partition races the rename and can fail with FileNotFoundException —
    * run bulk age-out in a maintenance window, or put readers behind the
    * ACID layer ([[TxLogTable]] snapshots) when expiry must be online.
    */
  def expirePartitionsBefore(path: String, cutoffDate: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val cutoff = java.time.LocalDate.parse(cutoffDate)
    val dir = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(dir)) return Nil
    def deleteTree(p: java.nio.file.Path): Unit = {
      val files = java.nio.file.Files.walk(p)
      try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally files.close()
    }
    val parts = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }
    // sweep tombstones a previous crashed run left behind (idempotent)
    parts.filter(_.getFileName.toString.startsWith("_expired-")).foreach(deleteTree)
    val dropped = parts.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("p_date=") &&
        (try java.time.LocalDate.parse(n.stripPrefix("p_date=")).isBefore(cutoff)
         catch { case _: java.time.format.DateTimeParseException => false })
    }
    dropped.foreach { p =>
      // no '=' in the tombstone name: Spark only hides '_'-prefixed paths
      // when the name contains no '=' (else it parses as a partition dir)
      val tomb = p.resolveSibling(
        s"_expired-${p.getFileName.toString.replace('=', '-')}-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.move(p, tomb) // atomic same-dir rename: the
      deleteTree(tomb)                  // partition vanishes in one step
    }
    dropped.map(_.getFileName.toString)
  }
}
