package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** R14 — auto-create of unseen transducers (influx_service.py:215-274): when
  * a message arrives for a (device, transducer) the catalog doesn't know,
  * create it exactly once.
  *
  * The reference guards creation with a per-key double-checked lock
  * (influx_service.py:233-245) because it processes messages concurrently in
  * one process. Distributed Spark replaces the lock with set semantics:
  * per-batch `dropDuplicates` + anti-join against the known catalog, then an
  * idempotent append — the same exactly-once outcome with no coordination
  * (SURVEY.md §4.1).
  */
object AutoCreate {

  type CreateFn = (String, String) => Unit // side effect, e.g. REST POST (influx_service.py:249-274)

  /** New (device_id, transducer) keys in `batch` that are absent from
    * `catalog`: batch-local dedup + left-anti join.
    */
  def unseenKeys(batch: DataFrame, catalog: DataFrame): DataFrame =
    batch.select("device_id", "transducer")
      .dropDuplicates("device_id", "transducer")
      .join(catalog.select("device_id", "transducer"), Seq("device_id", "transducer"), "left_anti")

  /** Streaming auto-create: per micro-batch, find unseen keys, apply the
    * side effect once per key, and append them to the catalog parquet so the
    * next batch's anti-join sees them. The catalog append is the
    * idempotence point (replays re-derive the same keys and re-anti-join).
    * `perBatch` re-resolves batch-time state, e.g. the CURRENT device
    * registry's semi-join.
    */
  def start(points: DataFrame, catalogPath: String, checkpoint: String,
            create: CreateFn = (_, _) => (),
            trigger: Trigger = Trigger.AvailableNow(),
            perBatch: DataFrame => DataFrame = identity): StreamingQuery =
    points.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val catalog = existingCatalog(spark, catalogPath)
        val unseen = unseenKeys(perBatch(batch), catalog).collect() // bounded: new keys only
        unseen.foreach(r => create(r.getString(0), r.getString(1)))
        if (unseen.nonEmpty) {
          import spark.implicits._
          unseen.map(r => (r.getString(0), r.getString(1))).toSeq
            .toDF("device_id", "transducer")
            .write.mode("append").parquet(catalogPath)
        }
      }
      .trigger(trigger)
      .start()

  /** The catalog's fixed layout: every read passes it, so no footer
    * inference job runs per micro-batch.
    */
  val CatalogSchema: StructType = StructType(Seq(
    StructField("device_id", StringType), StructField("transducer", StringType)))

  def existingCatalog(spark: SparkSession, catalogPath: String): DataFrame =
    try spark.read.schema(CatalogSchema).parquet(catalogPath)
    catch {
      // ONLY path-not-yet-created falls back to empty; a transient IO error
      // must propagate — an empty catalog would re-fire create() for every
      // known key and append duplicates
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(java.util.List.of[Row](), CatalogSchema)
    }
}
