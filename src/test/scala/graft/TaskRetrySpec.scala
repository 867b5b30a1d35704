package graft

import java.nio.file.Files

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ClassifierOps, DedupOps}

/** Task-retry fault-injection drill: the engine's determinism discipline
  * (hash-Bernoulli everywhere, never `rand()`; exact sort keys with
  * explicit tie-breaks) implies BIT-IDENTICAL results when the scheduler
  * retries failed tasks — the normal operating condition of a
  * 1000-executor cluster, where some task attempt is always dying. This
  * spec proves it instead of assuming it: an identity pass whose every
  * task throws on its FIRST attempt is spliced under the heavies
  * (connected components, the minhash index build, GD classifier
  * training, the streaming CQ MERGE sink), so the whole pipeline runs on
  * scheduler-retried inputs; output must equal the clean run exactly.
  *
  * The shared suite context runs plain `local[4]`, where local mode fails
  * the JOB on the first task failure — retries never happen. This drill
  * therefore owns a `local[4, 4]` context (4 task attempts) for its
  * lifetime and hands the JVM back with no active session, so later
  * suites recreate the default one.
  */
class TaskRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = GraftSession.builder("graft-retry", cores = "4")
      .master("local[4, 4]").getOrCreate()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
  private val sf = "/root/testdata/sf0.001"

  /** Identity pass whose every task dies on attempt 0 — the scheduler
    * retries, so everything downstream consumes re-executed input; any
    * between-attempt nondeterminism becomes an output diff.
    */
  private def faulty(df: DataFrame): DataFrame =
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException("injected task failure: attempt 0 dies")
      it
    }(Encoders.row(df.schema))

  private def docs = Tables.documents(spark, sf)

  test("injection harness: attempt 0 really dies and the retry succeeds") {
    val out = faulty(spark.range(100).toDF("id"))
      .as[Long](Encoders.scalaLong).collect().sorted
    assert(out.toSeq == (0L until 100L))
  }

  test("connected components are bit-identical under task retries") {
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("i", "j")
    def runOn(p: DataFrame) = DedupOps.connectedComponents(p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val clean = runOn(pairs)
    val retried = runOn(faulty(pairs))
    assert(clean.nonEmpty && retried == clean)
  }

  test("minhash index build commits identical tables under task retries") {
    def build(src: DataFrame): (Seq[String], Seq[String]) = {
      val dir = tmp("retry_mh")
      DedupOps.buildMinhashIndex(src, "doc_id", "text",
        n = 3, k = 8, bands = 4, path = dir)
      def dump(t: String) = new graft.storage.TxLogTable(spark, s"$dir/$t")
        .read().collect().map(_.toString).sorted.toSeq
      (dump("buckets"), dump("shingles"))
    }
    val (cb, cs) = build(docs)
    val (rb, rs) = build(faulty(docs))
    assert(cb.nonEmpty && rb == cb)
    assert(cs.nonEmpty && rs == cs)
  }

  test("GD classifier training converges to identical weights under task retries") {
    val label = length(col("text")) > 500
    def train(src: DataFrame) = ClassifierOps
      .trainLinearQ(src, "doc_id", "text", label, buckets = 64, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val clean = train(docs)
    val retried = train(faulty(docs))
    assert(clean.exists(_._2 != 0L), "training must move some weight")
    assert(retried == clean)
  }

  test("data plane: a kernel task that dies after writing its file commits identical points") {
    implicit val sq = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[(String, String, Long)] =
      Encoders.product[(String, String, Long)]
    val msgs = (0 until 60).map { i =>
      val dev = Seq("dev1", "dev2", "ghost", DyingRegistry.Last)(i % 4)
      (s"openchirp/device/$dev/temp", s"$i.5", 1704067200000000L + (59 - i) * 1000L)
    } :+ (("noise/garbage", "x", 1704067200000000L))
    def run(registry: String => Set[String]): (Seq[String], Seq[String], Int) = {
      val root = tmp("retry_dp")
      val points = new graft.storage.TxLogTable(spark, s"$root/points")
      val in = MemoryStream[(String, String, Long)](1)
      val q = graft.streaming.StreamingIngest.startDataPlane(
        in.toDF().toDF("topic", "payload", "ts_us")
          .select(col("topic"), col("payload"), timestamp_micros(col("ts_us")).as("ts")),
        "openchirp/service/s/thing/events", points = points,
        deadLetters = new graft.storage.TxLogTable(spark, s"$root/dead_letters"),
        registered = () => registry(s"$root/points"), appId = "retry-dp",
        checkpoint = s"$root/cp", trigger = Trigger.ProcessingTime(0))
      try { in.addData(msgs); q.processAllAvailable() } finally q.stop()
      val files = points.dirPaths(points.version.get)
        .flatMap(d => new java.io.File(d).listFiles.toSeq)
      val parquet = files.filter(_.getName.endsWith(".parquet")).map(_.getPath)
      // bit-identical: every committed row in file order, doubles as bits
      val rows = parquet.sorted.flatMap(f => spark.read.parquet(f).collect().toSeq
        .map(_.toSeq.map { case d: Double => java.lang.Double.doubleToRawLongBits(d); case x => x }
          .mkString("|")))
      (rows, files.map(_.getName).filter(_.startsWith(".part-")).filterNot(_.endsWith(".crc")), parquet.size)
    }
    val registered = Set("dev1", "dev2", DyingRegistry.Last)
    val (clean, _, _) = run(_ => registered)
    DyingRegistry.sawOpenFile.set(false)
    val (retried, leftovers, nFiles) = run(dir => new DyingRegistry(registered, dir))
    assert(DyingRegistry.sawOpenFile.get(), "attempt 0 died before its file existed")
    assert(clean.size == 45 && retried == clean)
    assert(nFiles == 1 && leftovers.isEmpty, s"failed attempts left $leftovers")
  }

  test("streaming CQ MERGE sink commits an identical table under task retries") {
    implicit val sq = spark.sqlContext
    def us(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000L
    val data = Seq(
      ("d1", "temp", us("2024-01-01 00:01:00"), 2.0),
      ("d1", "temp", us("2024-01-01 00:02:00"), 4.0),
      ("d2", "temp", us("2024-01-01 00:05:00"), 10.0),
      ("d1", "temp", us("2024-01-01 00:45:00"), 7.0),
      ("d1", "temp", us("2024-01-01 01:30:00"), 1.0))
    implicit val tupEnc: org.apache.spark.sql.Encoder[(String, String, Long, Double)] =
      Encoders.product[(String, String, Long, Double)]
    def run(inject: Boolean, fillTxt: String): Seq[String] = {
      val root = tmp("retry_cq")
      val in = MemoryStream[(String, String, Long, Double)]
      val base = in.toDF().toDF("device", "transducer", "ts_us", "value")
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val points = if (inject) faulty(base) else base
      val q = graft.influxql.InfluxQL.startContinuousQuery(points,
        s"""CREATE CONTINUOUS QUERY t ON db BEGIN
           |SELECT mean(value), count(value) INTO t FROM temp
           |GROUP BY time(10m), device $fillTxt END""".stripMargin,
        root, checkpoint = tmp("retry_cq_cp"), lateness = "1 minute",
        trigger = Trigger.ProcessingTime(0))
      try {
        data.foreach { d => in.addData(d); q.processAllAvailable() }
      } finally q.stop()
      new graft.storage.TxLogTable(spark, s"$root/db/t")
        .read().collect().map(_.toString).sorted.toSeq
    }
    // previous exercises the LOCF rewrite path, linear the retroactive
    // interpolation path — both must commit identical tables
    for (fillTxt <- Seq("FILL(previous)", "FILL(linear)")) {
      val clean = run(inject = false, fillTxt)
      val retried = run(inject = true, fillTxt)
      assert(clean.nonEmpty && retried == clean, fillTxt)
    }
  }

  test("incremental clustering fold commits an identical index under task retries") {
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("i", "j").localCheckpoint()
    val first = pairs.where(pmod(col("i") + col("j"), lit(2)) === 0)
    val second = pairs.where(pmod(col("i") + col("j"), lit(2)) =!= 0)
    def run(fault: DataFrame => DataFrame): Seq[(Long, Long)] = {
      val dir = tmp("retry_ccfold")
      DedupOps.buildCcIndex(fault(first), dir)
      DedupOps.foldCcIndex(fault(second), dir)
      new graft.storage.TxLogTable(spark, dir).read()
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    val clean = run(identity)
    val retried = run(faulty)
    assert(clean.nonEmpty && retried == clean)
  }
}

/** A registry snapshot whose lookup of [[DyingRegistry.Last]] (the device
  * the kernel reaches last in its (device_id, ts) order) kills attempt 0 of
  * the task — by then that attempt has its hidden points file open and
  * rows written to it, which [[DyingRegistry.sawOpenFile]] records.
  */
final class DyingRegistry(ids: Set[String], pointsDir: String)
    extends scala.collection.immutable.AbstractSet[String] with Serializable {
  def contains(d: String): Boolean = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 && d == DyingRegistry.Last) {
      val hidden = Files.walk(java.nio.file.Paths.get(pointsDir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .exists(n => n.startsWith(".part-") && !n.endsWith(".crc"))
      DyingRegistry.sawOpenFile.compareAndSet(false, hidden)
      throw new RuntimeException("injected task failure: attempt 0 dies after writing its file")
    }
    ids(d)
  }
  def incl(d: String): DyingRegistry = new DyingRegistry(ids + d, pointsDir)
  def excl(d: String): DyingRegistry = new DyingRegistry(ids - d, pointsDir)
  def iterator: Iterator[String] = ids.iterator
}

object DyingRegistry {
  val Last = "zz"
  val sawOpenFile = new java.util.concurrent.atomic.AtomicBoolean(false)
}
