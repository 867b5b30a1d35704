package graftbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** A workload: inputs that are a pure function of the seed, and a run that
  * sets up, measures for `ctx.seconds` and reports into `ctx.report`.
  */
trait Workload {
  def inputs(seed: Long, tablesDir: Path): Iterator[String]
  def run(ctx: Ctx): Unit
}

/** Everything one run shares between the harness and its workload. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val workDir: Path,
                val tablesDir: Path, val digestFile: Path, val report: Report) {
  @volatile private var setupEndMs = 0L
  def setupDone(): Unit = if (setupEndMs == 0L) setupEndMs = System.currentTimeMillis()
  def setupSeconds: Double = if (setupEndMs == 0L) 0.0 else (setupEndMs - jvmStartMs) / 1000.0
  private def jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** The two workload-specific end-to-end metrics of an untraced run. */
  def e2e(latencyMs: Double, tailMs: Double): Unit = {
    report.put("latency_ms", "ms", latencyMs)
    report.put("latency_tail_ms", "ms", tailMs)
  }

  /** Starts the traced window: spans on, Spark listeners attached. */
  def openTrace(): SparkProbe = {
    val p = new SparkProbe(spark)
    Trace.enabled = true
    p.open()
    p
  }
}

object Main {
  val Workloads: Map[String, Workload] = Map(
    "query_catalog" -> QueryCatalog,
    "ingest_write_read" -> IngestWriteRead)

  /** End-to-end metrics of every workload (untraced runs). Throughput
    * (catalogue queries/s, drain rows/s) prints as an extra line: the
    * drain rate moved by a quarter with the shared host's load alone.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_ms" -> "ms", "latency_tail_ms" -> "ms", "heap_end_mb" -> "MB")

  val Families = Seq("core", "relational", "pipeline", "extra", "curation", "influxql")
  val SelfLayers = Seq("queries", "operators", "spark", "influxql", "http", "storage",
    "streaming", "ingest")

  /** Per-layer metrics of every workload (traced runs); a layer a workload
    * does not exercise reports 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("operators.construct_s" -> "s", "operators.eager_jobs" -> "count",
      "operators.execute_s" -> "s") ++
    Families.flatMap(f => Seq(s"queries.$f.wall_s" -> "s", s"queries.$f.jobs" -> "count")) ++
    Seq("catalyst.analyze_ms" -> "ms", "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
      "spark.core_busy_ratio" -> "ratio", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "influxql.construct_ms" -> "ms", "influxql.execute_ms" -> "ms",
      "influxql.jobs_per_stmt" -> "count", "influxql.eager_jobs_per_stmt" -> "count",
      "http.query_overhead_ms" -> "ms", "http.write_overhead_ms" -> "ms",
      "http.status_4xx" -> "count", "http.status_5xx" -> "count",
      "storage.snapshot_ms" -> "ms", "storage.commits" -> "count", "storage.compactions" -> "count",
      "storage.data_dirs_end" -> "count", "storage.bytes_per_point" -> "B",
      "storage.persisted_rdds_end" -> "count",
      "streaming.points.trigger_p50_ms" -> "ms", "streaming.points.trigger_tail_ms" -> "ms",
      "streaming.points.batches" -> "count", "streaming.points.add_batch_ms" -> "ms",
      "streaming.points.planning_ms" -> "ms", "streaming.backlog_max_msgs" -> "count",
      "streaming.others.busy_s" -> "s", "streaming.cq.trigger_p50_ms" -> "ms",
      "streaming.state_rows_max" -> "count", "ingest.parse_infer_us_per_row" -> "us") ++
    SelfLayers.map(l => s"layer.$l.self_s" -> "s") ++
    Seq("loadgen.late_ms_tail" -> "ms", "trace.overhead_ratio" -> "ratio")

  def md5(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def line(workload: String, name: String, unit: String, v: Double): String =
    s"""{"workload":${Json.str(workload)},"name":${Json.str(name)},"unit":${Json.str(unit)},""" +
      s""""value":${Json.num(v)}}"""

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    val wl = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val tables = Paths.get(opts("tables")).toAbsolutePath
    if (opts.get("inputs-only").contains("1")) {
      println(s"""{"workload":${Json.str(name)},"seed":$seed,"input_digest":"${md5(wl.inputs(seed, tables))}"}""")
      return
    }
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = GraftSession.builder("graftbench", cores)
      .master(s"local[$cores]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    GraftSession.prepare(spark)
    spark.sparkContext.setLogLevel("ERROR")
    Trace.context = Some(spark.sparkContext)
    val report = new Report(name)
    val ctx = new Ctx(spark, name, seed, seconds, trace, work, tables,
      Paths.get(opts("digest")).toAbsolutePath, report)
    try {
      try wl.run(ctx)
      catch {
        case e: Throwable =>
          report.invalid = Some(s"workload aborted: $e")
          e.printStackTrace()
      }
      report.put("setup_s", "s", ctx.setupSeconds)
      report.put("heap_end_mb", "MB", Stats.usedHeapMb())
      if (trace) {
        Trace.selfSecondsByLayer().foreach { case (l, s) =>
          if (SelfLayers.contains(l)) report.put(s"layer.$l.self_s", "s", s)
        }
        Trace.writeJsonl(work.resolve(s"spans-$name-$seed.jsonl"))
      }
      val attempted = report.attempted.get()
      val failed = report.failed.get()
      if (attempted > 0) report.put("error_rate", "failed/attempted", failed.toDouble / attempted)
      report.all.foreach { case (k, v, u) => println(line(name, k, u, v)) }
      val wanted = if (trace) PerLayer else EndToEnd
      val reported = report.all.map(x => x._1 -> x._2).toMap
      val missing = wanted.map(_._1).filterNot(k => reported.contains(k) || trace)
      report.failureNotes.foreach(n => System.err.println(s"[graftbench] check failed: $n"))
      report.invalid.foreach(n => System.err.println(s"[graftbench] run invalid: $n"))
      if (missing.nonEmpty) System.err.println(s"[graftbench] missing metrics: ${missing.mkString(",")}")
      val correct = failed == 0 && attempted > 0 && report.invalid.isEmpty && missing.isEmpty
      val metrics = wanted.map { case (k, u) =>
        s"${Json.str(k)}:{" + s""""value":${Json.num(reported.getOrElse(k, 0.0))},"unit":${Json.str(u)}}"""
      }.mkString("{", ",", "}")
      println(s"""{"correct":$correct,"attempted":${math.max(1L, attempted)},"failed":$failed,"metrics":$metrics}""")
    } finally spark.stop()
  }
}
