package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference service's hot path (influx_service.py:122-212) re-expressed
  * as composable, Catalyst-optimizable DataFrame transforms.
  *
  * Input contract: a DataFrame with at least
  * `topic STRING, payload STRING (utf-8 decoded) , ts TIMESTAMP`.
  * Every transform is a pure column-level operation (no UDFs), so the whole
  * pipeline stays inside whole-stage codegen and all predicates push down to
  * the source scan.
  */
object Ingest {

  /** R4/R5 — topic parse + normalization (influx_service.py:130-139).
    * Topic format `openchirp/device/{DEVICE_ID}/{TRANSDUCER_NAME}`
    * (influx_service.py:129); transducer names are lower-cased
    * (influx_service.py:139). A shorter topic of another shape parses to
    * null ids instead of failing the batch: the data plane parses every
    * message once and routes on [[dataTopicFilter]] afterwards.
    */
  def parseTopic(df: DataFrame): DataFrame = {
    val parts = split(col("topic"), "/")
    df.withColumn("device_id", get(parts, lit(2)))
      .withColumn("transducer", lower(get(parts, lit(3))))
  }

  /** Predicate matching the reference's data-plane wildcard subscription
    * `openchirp/device/+/+` (influx_service.py:389): exactly 4 segments with
    * the fixed prefix. MQTT `+` matches one non-empty level.
    */
  def dataTopicFilter: Column =
    col("topic").rlike("^openchirp/device/[^/]+/[^/]+$")

  /** R3 — control-plane dispatch (influx_service.py:125-127): exact match on
    * the service events topic.
    */
  def isEventTopic(eventsTopic: String): Column = col("topic") === eventsTopic

  /** Dead-letter predicate: neither data-plane nor control-plane. The
    * reference swallows such messages inside a bare-except wrapper
    * (influx_service.py:114-119, 444-446); we route them to a dead-letter
    * sink instead so nothing is silently lost.
    */
  def isDeadLetter(eventsTopic: String): Column =
    !dataTopicFilter && !isEventTopic(eventsTopic)

  /** R7 — payload type inference (influx_service.py:149-181), the *intended*
    * precedence documented in the reference's comment block:
    *   1. float (any numeric parse; ints deliberately collapse to double,
    *      influx_service.py:157-159)
    *   2. boolean, exact match against true/True/false/False
    *      (influx_service.py:173-178; the reference's bytes-vs-str compare
    *      bug means this branch never fires there — we pin the intended
    *      semantics, see SURVEY.md §1.2)
    *   3. fallback: the raw string (influx_service.py:179-181)
    * Produces the fixed tri-column value variant: exactly one of
    * `num DOUBLE, bool BOOLEAN, str STRING` is non-null.
    */
  def inferTypes(df: DataFrame, payload: Column = col("payload")): DataFrame = {
    val num = payload.try_cast("double")
    df.withColumn("num", num)
      .withColumn("bool",
        when(num.isNotNull, lit(null).cast("boolean"))
          .when(payload.isin("true", "True"), lit(true))
          .when(payload.isin("false", "False"), lit(false)))
      .withColumn("str",
        when(num.isNull && !payload.isin("true", "True", "false", "False"), payload))
  }

  /** R6 — registry membership filter (influx_service.py:134-137): drop
    * messages whose device is not registered. The registry is a small
    * dimension, so this plans as a broadcast left-semi join (no shuffle of
    * the fact side). A semi join keeps each message at most once however
    * often its device repeats in `registry`, so no distinct runs here: it
    * would put an Exchange + HashAggregate under the broadcast on every
    * execution.
    */
  def registryFilter(df: DataFrame, registry: DataFrame): DataFrame =
    df.join(broadcast(registry.select("device_id")), Seq("device_id"), "left_semi")

  /** R8 — narrow point projection (influx_service.py:183-189): one row per
    * (device, transducer, ts) with the value variant. The narrow table is the
    * single physical layout; the wide layout is a derived view (the reference
    * double-writes both, influx_service.py:200 — 2x write amplification we
    * deliberately avoid).
    */
  def narrowPoints(df: DataFrame): DataFrame =
    df.select("device_id", "transducer", "ts", "num", "bool", "str")

  /** R8 — wide ("organized") layout (influx_service.py:191-197) as a derived
    * view: one row per (device, ts) with a map transducer->num. A MapType
    * column rather than pivot keeps the schema fixed at 100 TB (pivot would
    * need a driver-side distinct over transducer names).
    */
  def wideView(narrow: DataFrame): DataFrame =
    narrow
      // resolve duplicate (device, ts, transducer) writes first (max wins,
      // deterministically): map_from_entries throws on duplicate keys under
      // Spark's default mapKeyDedupPolicy, and redelivered messages are a
      // legitimate input (the reference's last-write-wins overwrite)
      .groupBy("device_id", "ts", "transducer")
      .agg(max(col("num")).as("num"))
      .groupBy("device_id", "ts")
      .agg(map_from_entries(collect_list(struct(col("transducer"), col("num")))).as("fields"))
}
