package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.storage.TxLogTable
import graft.streaming.{AutoCreate, StreamingIngest}

class AutoCreateSpec extends SparkSuite {
  import spark.implicits._

  test("unseen keys: batch-local dedup + anti-join against catalog") {
    val catalogPath = Files.createTempDirectory("autocreate_keys").toString + "/catalog"
    Seq(("d1", "t1")).toDF("device_id", "transducer").write.parquet(catalogPath)
    val created = Seq.newBuilder[(String, String)]
    val autoCreate = AutoCreate(spark, catalogPath, create = (d, t) => created += ((d, t)))
    autoCreate(Seq(("d1", "t1"), ("d1", "t1"), ("d1", "t2"), ("d2", "t1")))
    val unseen = created.result()
    assert(unseen.toSet == Set(("d1", "t2"), ("d2", "t1")) && unseen.size == 2, s"got $unseen")
  }

  test("an append of many unseen keys writes one part file") {
    val catalogPath = Files.createTempDirectory("autocreate_files").toString + "/catalog"
    def partFiles = Option(new java.io.File(catalogPath).listFiles).toSeq.flatten
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val autoCreate = AutoCreate(spark, catalogPath)
    autoCreate((1 to 6).map(i => (s"d$i", "temp")))
    assert(partFiles == 1, s"the first append wrote $partFiles part files")
    autoCreate((1 to 6).map(i => (s"d$i", "hum")))
    assert(partFiles == 2, s"the second append added ${partFiles - 1} part files")
    assert(spark.read.parquet(catalogPath).count() == 12L)
  }

  test("streaming auto-create fires once per new key across micro-batches") {
    implicit val sq = spark.sqlContext
    val created = new ConcurrentLinkedQueue[(String, String)]()
    val root = Files.createTempDirectory("autocreate_cat").toString
    val catalogPath = root + "/catalog"
    val cp = Files.createTempDirectory("autocreate_cp").toString
    val in = MemoryStream[(String, String)]
    val msgs = in.toDF().toDF("device_id", "transducer")
      .select(concat_ws("/", lit("openchirp/device"), col("device_id"), col("transducer")).as("topic"),
        lit("1.0").as("payload"), current_timestamp().as("ts"))
    val q = StreamingIngest.startDataPlane(msgs, "openchirp/service/s/thing/events",
      points = new TxLogTable(spark, s"$root/points"),
      deadLetters = new TxLogTable(spark, s"$root/dead_letters"),
      registered = () => Set("d1", "d2"), appId = "autocreate-test", checkpoint = cp,
      trigger = Trigger.ProcessingTime(0),
      autoCreate = AutoCreate(spark, catalogPath, create = (d, t) => created.add((d, t))))
    try {
      in.addData(("d1", "temp"), ("d1", "temp"), ("d1", "hum"))
      q.processAllAvailable()
      in.addData(("d1", "temp"), ("d2", "temp")) // temp@d1 already known
      q.processAllAvailable()
      val calls = created.toArray(Array.empty[(String, String)]).toSeq
      assert(calls.toSet == Set(("d1", "temp"), ("d1", "hum"), ("d2", "temp")))
      assert(calls.size == 3, s"duplicate creation calls: $calls")
      val cat = spark.read.parquet(catalogPath).as[(String, String)].collect().toSet
      assert(cat == Set(("d1", "temp"), ("d1", "hum"), ("d2", "temp")))
    } finally q.stop()
  }

  test("approx aggregates stay within sketch error of exact values") {
    // the query itself compares each sketch against the exact value and
    // emits booleans (the oracle-able shape); every flag must be true
    val rows = SparkEntry.queries("q_approx_aggs")(spark, sf)
      .select("event_type", "users_ok", "p50_ok", "p95_ok")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (k, u, p50, p95) =>
      assert(u && p50 && p95, s"$k: users_ok=$u p50_ok=$p50 p95_ok=$p95")
    }
  }
}
