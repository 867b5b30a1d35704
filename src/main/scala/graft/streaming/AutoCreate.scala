package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** R14 — auto-create of unseen transducers (influx_service.py:215-274): when
  * a message arrives for a (device, transducer) the catalog doesn't know,
  * create it exactly once.
  *
  * The reference guards creation with a per-key double-checked lock
  * (influx_service.py:233-245) because it processes messages concurrently in
  * one process. Here the data plane's micro-batches run one at a time on
  * the driver, and each carries its distinct keys already
  * ([[StreamingIngest.startDataPlane]]), so the guard is a driver-side set
  * of the catalog's keys: loaded once when the data plane starts, grown
  * after each catalog append — no per-batch catalog read or anti-join job.
  * It is bounded like the registry's device ids
  * ([[RegistryMaintenance.activeIds]]).
  */
object AutoCreate {

  type CreateFn = (String, String) => Unit // side effect, e.g. REST POST (influx_service.py:249-274)

  /** The data plane's auto-create step over the catalog parquet at
    * `catalogPath`: given one micro-batch's registered keys, `create`s each
    * key the catalog does not hold yet, once, then appends those keys to
    * the catalog. A crash between the two re-creates them when the batch
    * replays (an at-least-once side effect, like the subscription fan-out).
    */
  def apply(spark: SparkSession, catalogPath: String,
            create: CreateFn = (_, _) => ()): Seq[(String, String)] => Unit = {
    import spark.implicits._
    val known = scala.collection.mutable.Set.from(
      existingCatalog(spark, catalogPath).as[(String, String)].collect())
    keys => {
      val unseen = keys.distinct.filterNot(known)
      if (unseen.nonEmpty) {
        unseen.foreach(create.tupled)
        unseen.toDF("device_id", "transducer").write.mode("append").parquet(catalogPath)
        known ++= unseen
      }
    }
  }

  /** The catalog's fixed layout: the read passes it, so no footer
    * inference job runs.
    */
  private val CatalogSchema: StructType = StructType(Seq(
    StructField("device_id", StringType), StructField("transducer", StringType)))

  private def existingCatalog(spark: SparkSession, catalogPath: String): DataFrame =
    try spark.read.schema(CatalogSchema).parquet(catalogPath)
    catch {
      // ONLY path-not-yet-created falls back to empty; a transient IO error
      // must propagate — an empty catalog would re-fire create() for every
      // known key and append duplicates
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(java.util.List.of[Row](), CatalogSchema)
    }
}
