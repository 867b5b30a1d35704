package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark, through Spark's public listener APIs
  * only: jobs and tasks from a SparkListener (attributed by job group and
  * by the benchmark span a job was submitted under), Catalyst phase times
  * from a QueryExecutionListener, micro-batch progress from a
  * StreamingQueryListener. Events are kept from [[open]] to [[close]];
  * the window totals of [[report]] cover [[open]] to [[endWindow]], so the
  * layer probes a workload runs after its measured window still get their
  * jobs attributed without inflating the window's totals.
  */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  @volatile private var fromMs = Long.MaxValue
  @volatile private var windowEndMs = Long.MaxValue
  @volatile private var untilMs = Long.MaxValue
  private def inWindow(t: Long) = t >= fromMs && t <= untilMs
  private def inMeasured(t: Long) = t >= fromMs && t <= windowEndMs

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (inWindow(e.time)) {
        val p = Option(e.properties)
        jobs.add(Job(e.jobId, e.time,
          p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
          p.flatMap(x => Option(x.getProperty(Trace.SpanProp))).getOrElse("")))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val fin = e.taskInfo.finishTime
      if (inWindow(fin)) {
        val m = Option(e.taskMetrics)
        tasks.add(Task(fin, e.taskInfo.duration,
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
          m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val now = System.currentTimeMillis()
      if (inWindow(now)) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        phases.add(Phases(now, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.currentTimeMillis()
      if (inWindow(now)) {
        val p = e.progress
        def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
        progress.add(Progress(now, p.id.toString, d("triggerExecution"), d("addBatch"),
          d("queryPlanning"), p.stateOperators.map(_.numRowsTotal).sum))
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def open(): Unit = { untilMs = Long.MaxValue; fromMs = System.currentTimeMillis() }

  /** Ends the measured window; events are still kept until [[close]]. */
  def endWindow(): Unit = windowEndMs = System.currentTimeMillis()

  /** Stops keeping events, after letting the asynchronous listener buses
    * deliver the last ones.
    */
  def close(): Unit = {
    if (windowEndMs == Long.MaxValue) endWindow()
    Thread.sleep(1500)
    untilMs = System.currentTimeMillis()
  }

  def windowSeconds: Double = (windowEndMs - fromMs) / 1000.0

  /** The spark.* and catalyst.* metrics over the window, divided by `per`
    * (1 for window totals; the pass count where a workload repeats passes).
    */
  def report(r: Report, per: Double): Unit = {
    val ts = tasks.asScala.toSeq.filter(t => inMeasured(t.timeMs))
    val taskS = ts.map(_.durMs).sum / 1000.0
    val cores = spark.sparkContext.defaultParallelism
    r.put("spark.jobs", "count", jobs.asScala.count(j => inMeasured(j.timeMs)) / per)
    r.put("spark.tasks", "count", ts.size / per)
    r.put("spark.task_s", "s", taskS / per)
    r.put("spark.core_busy_ratio", "ratio",
      if (windowSeconds > 0) taskS / (windowSeconds * cores) else 0.0)
    r.put("spark.shuffle_write_mb", "MB", ts.map(_.shuffleWrite).sum / 1048576.0 / per)
    r.put("spark.spill_mb", "MB", ts.map(_.spill).sum / 1048576.0 / per)
    val ph = phases.asScala.toSeq.filter(p => inMeasured(p.timeMs))
    r.put("catalyst.analyze_ms", "ms", ph.map(_.analyzeMs).sum / per)
    r.put("catalyst.optimize_ms", "ms", ph.map(_.optimizeMs).sum / per)
    r.put("catalyst.plan_ms", "ms", ph.map(_.planMs).sum / per)
  }

  def progressInWindow: Seq[Progress] = progress.asScala.toSeq.filter(p => inMeasured(p.timeMs))

  /** Jobs submitted under a span whose path starts with `prefix`. */
  def jobsUnder(prefix: String): Seq[Job] = jobs.asScala.toSeq.filter(_.span.startsWith(prefix))
  def jobsEndingIn(suffix: String): Seq[Job] = jobs.asScala.toSeq.filter(_.span.endsWith(suffix))
}

object SparkProbe {
  final case class Job(id: Int, timeMs: Long, group: String, span: String)
  final case class Task(timeMs: Long, durMs: Long, shuffleWrite: Long, spill: Long)
  final case class Phases(timeMs: Long, analyzeMs: Long, optimizeMs: Long, planMs: Long)
  final case class Progress(timeMs: Long, queryId: String, triggerMs: Long, addBatchMs: Long,
                            planningMs: Long, stateRows: Long)
}
