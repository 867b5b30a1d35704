package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics over latency samples. */
object Stats {
  /** Nearest-rank percentile, `q` in [0, 1]; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Geometric mean; 0 for no samples. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Used heap after garbage collection: the least of a few collections,
    * since one full collection does not always reach everything the run
    * released (Spark's cleaner frees broadcast and shuffle state lazily).
    */
  def usedHeapMb(): Double = (1 to 4).map { _ =>
    System.gc(); Thread.sleep(300)
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }.min

  def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Times `body` and logs the phase to stderr. */
  def phase[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[graftbench] $what: ${nowMs(t0) / 1000}%.2f s")
  }
}

/** Thread-safe sample sink: latencies of one named operation. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[Double]()
  def add(ms: Double): Unit = q.add(ms)
  def values: Seq[Double] = q.asScala.toSeq
}

/** What a workload reports: its metric values plus the output-check tally.
  * `attempted` counts every checked operation, `failed` those whose result
  * was wrong or refused; a failed operation never adds a latency sample.
  */
final class Report(val workload: String) {
  private val values = mutable.LinkedHashMap[String, (Double, String)]()
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  @volatile var invalid: Option[String] = None
  private val failures = new ConcurrentLinkedQueue[String]()

  def put(name: String, unit: String, value: Double): Unit = synchronized {
    require(!values.contains(name), s"metric $name reported twice")
    values(name) = (value, unit)
  }
  def all: Seq[(String, Double, String)] =
    synchronized(values.toSeq.map { case (k, (v, u)) => (k, v, u) })

  /** Tally one checked operation; a failure keeps its first few reasons. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (failures.size < 20) failures.add(what.take(300))
    }
    ok
  }
  def failureNotes: Seq[String] = failures.asScala.toSeq
}

/** Minimal JSON rendering for the harness's own output lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < 0x20 => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

/** One recorded span: a timed call into a layer. `parent` is the id of the
  * enclosing span on the same thread (0 at the top), `request` groups the
  * spans of one benchmark operation.
  */
final case class Span(id: Long, parent: Long, request: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder used by the traced run. Spans are recorded only
  * around the benchmark's own calls into the program's public functions;
  * with tracing off `span` is a plain call.
  */
object Trace {
  @volatile var enabled = false
  /** The run's context, for the span path local property. */
  @volatile var context: Option[org.apache.spark.SparkContext] = None
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  /** Spark local property holding the path of span names (`a/b/c`) a job
    * was submitted under; local properties are captured per job, so the
    * listener can attribute jobs and tasks without the thread's span stack.
    */
  val SpanProp = "graftbench.span"

  def span[T](name: String, request: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val sc = context
      val prevProp = sc.map(_.getLocalProperty(SpanProp)).orNull
      sc.foreach(_.setLocalProperty(SpanProp,
        if (prevProp == null) name else s"$prevProp/$name"))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, request, name, t0, System.nanoTime()))
        sc.foreach(_.setLocalProperty(SpanProp, prevProp))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(prefix: String): Seq[Span] = all.filter(_.name.startsWith(prefix))

  /** Self time per layer (the span name's first dot-separated segment):
    * each span's duration minus the part of it its children cover.
    */
  def selfSecondsByLayer(): Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
          if (a >= end) (tot + (b - a), b)
          else if (b > end) (tot + (b - end), b)
          else (tot, end)
        }._1
      s.name.takeWhile(_ != '.') -> (s.endNs - s.startNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${Json.str(s.request)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
