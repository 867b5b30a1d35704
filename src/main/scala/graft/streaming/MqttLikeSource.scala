package graft.streaming

import java.util
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** MQTT-shaped DataSource V2 streaming source (R1/R2, influx_service.py:
  * 47-97): subscribes to topic patterns with MQTT wildcards (`+` one level,
  * `#` rest), stamps arrival time, and exposes `(topic, payload, ts)` rows
  * to Structured Streaming micro-batches.
  *
  * Transport: the broker side is behind the [[MqttTransport]] seam —
  * [[MqttConnectionManager]] owns connect/subscribe/reconnect-resubscribe
  * and pumps messages into this offset-indexed log; the zero-egress build
  * plugs [[InProcessTransport]] in, a production build implements the same
  * trait over a real client library. Offsets are plain message indexes, so
  * recovery/exactly-once come from the streaming checkpoint like any
  * log-backed source — which is precisely what the reference's in-memory
  * queue (influx_service.py:54,80) lacked.
  */
object MqttBus {
  private val messages = ArrayBuffer[(String, Array[Byte], Long)]()

  def publish(topic: String, payload: Array[Byte], tsUs: Long): Unit = synchronized {
    messages += ((topic, payload, tsUs))
  }
  def publish(topic: String, payload: String): Unit =
    publish(topic, payload.getBytes("UTF-8"), System.currentTimeMillis() * 1000L)

  def size: Long = synchronized(messages.size.toLong)
  def slice(from: Long, until: Long): Seq[(String, Array[Byte], Long)] =
    synchronized(messages.slice(from.toInt, until.toInt).toSeq)

  /** One past the last message in [from, until) whose topic matches
    * `regex`, if any — a scan of the range, no copy.
    */
  private[streaming] def lastMatchEnd(from: Long, until: Long,
                                      regex: java.util.regex.Pattern): Option[Long] =
    synchronized {
      var i = math.min(until, messages.size.toLong) - 1
      while (i >= from && !regex.matcher(messages(i.toInt)._1).matches()) i -= 1
      if (i >= from) Some(i + 1) else None
    }

  def clear(): Unit = synchronized(messages.clear())

  /** MQTT topic filter -> regex: `+` matches one level, `#` the rest. */
  def patternToRegex(pattern: String): String =
    "^" + pattern.split("/", -1).map {
      case "+" => "[^/]+"
      case "#" => ".*"
      case seg => java.util.regex.Pattern.quote(seg)
    }.mkString("/") + "$"
}

class MqttLikeSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MqttLikeSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new MqttTable(properties.getOrDefault("topics", "#"))
}

object MqttLikeSource {
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("payload", BinaryType),
    StructField("ts", TimestampType)))
}

class MqttTable(topics: String) extends Table with SupportsRead {
  override def name(): String = s"mqtt($topics)"
  override def schema(): StructType = MqttLikeSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxPerTrigger = Option(options.get("maxMessagesPerTrigger")).map(_.toLong)
    () => new Scan {
      override def readSchema(): StructType = MqttLikeSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new MqttMicroBatchStream(topics, maxPerTrigger)
    }
  }
}

case class MqttOffset(index: Long) extends Offset {
  override def json(): String = index.toString
}

/** `maxPerTrigger` is the admission-control lever (Kafka's
  * maxOffsetsPerTrigger analogue): after downtime a broker-side backlog
  * would otherwise arrive as ONE giant first micro-batch — checkpoint
  * interval, state growth and sink commit all spike together. The cap
  * bounds each batch to a fixed offset budget (counted on the raw log,
  * pre-wildcard-filter, since offsets index the log) so recovery drains as
  * several normal-sized batches instead.
  *
  * A stream scoped to a narrower pattern than `#` wakes only on its own
  * topics: its latest offset is the position just past the last MATCHING
  * message, so other topics' traffic leaves it unchanged and Spark runs
  * no micro-batch. Offsets stay raw log indexes (a batch still spans the
  * other topics' messages in between, filtered out at planning).
  */
class MqttMicroBatchStream(topics: String, maxPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  private val pattern = java.util.regex.Pattern.compile(MqttBus.patternToRegex(topics))

  // incremental cursor: the log prefix [0, scanned) has been searched, and
  // matchEnd is one past its last matching message — each trigger scans
  // only the messages that arrived since the last one
  private var scanned = 0L
  private var matchEnd = 0L

  /** Where the data this stream reads currently ends, never below `from`
    * (the log before `from` is already consumed). For `#` the backward
    * scan stops at the newest message, so the cursor costs O(1) there.
    */
  private def availableEnd(from: Long): Long = {
    val size = MqttBus.size
    if (scanned < from) { scanned = from; matchEnd = math.max(matchEnd, from) }
    MqttBus.lastMatchEnd(scanned, size, pattern).foreach(e => matchEnd = e)
    scanned = math.max(scanned, size)
    math.max(from, matchEnd)
  }

  // Trigger.AvailableNow: without SupportsTriggerAvailableNow, Spark wraps
  // the source and fetches latestOffset ONCE with allAvailable — silently
  // bypassing the cap in exactly the backlog-drain scenario it exists for.
  // Implementing it (Kafka does the same) pins the drain target here and
  // lets the rate limit apply across the catch-up batches.
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(availableEnd(0L))

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[MqttOffset].index
    val avail = math.max(s, availableNowEnd.getOrElse(availableEnd(s)))
    // nothing past start: no offset at all, so not even a fresh query's
    // first trigger runs an empty micro-batch
    if (avail == s) return null
    limit match {
      // saturating form: `s + maxRows` could overflow Long for an
      // "effectively unlimited" cap and regress the end offset below start
      case r: ReadMaxRows => MqttOffset(s + math.min(r.maxRows(), avail - s))
      case _ => MqttOffset(avail)
    }
  }

  override def latestOffset(): Offset = MqttOffset(availableEnd(0L))
  override def initialOffset(): Offset = MqttOffset(0L)
  override def deserializeOffset(json: String): Offset = MqttOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MqttOffset].index
    val e = end.asInstanceOf[MqttOffset].index
    // chunk the offset range so a large backlog spreads across tasks
    val chunk = 4096L
    Iterator.range(s, e, chunk).map { lo =>
      MqttInputPartition(MqttBus.slice(lo, math.min(lo + chunk, e))
        .filter(m => pattern.matcher(m._1).matches()).toArray)
    }.filter(_.rows.nonEmpty).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[MqttInputPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val (topic, payload, tsUs) = rows(i)
        InternalRow(UTF8String.fromString(topic), payload, tsUs)
      }
      override def close(): Unit = ()
    }
}

/** Messages ride inside the partition descriptor: acceptable for an
  * in-process bus; a broker-backed impl would carry (broker, range) instead.
  */
case class MqttInputPartition(rows: Array[(String, Array[Byte], Long)]) extends InputPartition
