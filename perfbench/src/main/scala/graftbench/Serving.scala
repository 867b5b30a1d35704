package graftbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.influxql.InfluxCatalog
import graft.storage.TxLogTable

/** HTTP client side of the serving workloads: the InfluxDB 1.x API the
  * engine's [[graft.http.InfluxHttpServer]] answers, driven from outside.
  */
final class InfluxClient(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .executor(java.util.concurrent.Executors.newSingleThreadExecutor((r: Runnable) => {
      val t = new Thread(r, "graftbench-http-client"); t.setDaemon(true); t
    }))
    .build()
  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
  private val base = s"http://127.0.0.1:$port"

  def query(db: String, stmt: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(
      s"$base/query?db=${enc(db)}&epoch=u&q=${enc(stmt)}")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def writeRequest(db: String, body: String) =
    HttpRequest.newBuilder(URI.create(s"$base/write?db=${enc(db)}&precision=u"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()

  def write(db: String, body: String): HttpResponse[String] =
    client.send(writeRequest(db, body), HttpResponse.BodyHandlers.ofString())

  def writeAsync(db: String, body: String): java.util.concurrent.CompletableFuture[HttpResponse[String]] =
    client.sendAsync(writeRequest(db, body), HttpResponse.BodyHandlers.ofString())

  /** (clientError, serverError) from the listener's `/debug/vars`. */
  def statusCounters(): (Long, Long) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base/debug/vars")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    val httpd = Json.parse(r.body()).path("httpd")
    (httpd.path("clientError").asLong(), httpd.path("serverError").asLong())
  }
}

object Serving {
  /** The output check on one `/query` answer: status 200, no `error` at
    * the top or in the statement's result, exactly `series` series, and
    * `firstValue` as the first row's first column after `time`.
    */
  def checkQuery(resp: HttpResponse[String], series: Int,
                 firstValue: Option[Long]): Either[String, Unit] = {
    if (resp.statusCode() != 200) return Left(s"status ${resp.statusCode()}: ${resp.body().take(200)}")
    val doc = Json.parse(resp.body())
    if (doc.has("error")) return Left(doc.get("error").asText())
    val res = doc.path("results").path(0)
    if (res.has("error")) return Left(res.get("error").asText())
    val ss = res.path("series")
    val n = if (ss.isArray) ss.size() else 0
    if (n != series) return Left(s"expected $series series, got $n")
    firstValue.foreach { want =>
      val cols = ss.path(0).path("columns")
      val at = if (cols.path(0).asText() == "time") 1 else 0
      val got = ss.path(0).path("values").path(0).path(at).asLong(-1)
      if (got != want) return Left(s"expected value $want, got ${resp.body().take(300)}")
    }
    Right(())
  }

  /** The storage.* metrics of a points table at the end of the run. */
  def storageMetrics(r: Report, spark: SparkSession, table: TxLogTable, path: String,
                     fromVersion: Long): Unit = {
    val v = table.version.getOrElse(-1L)
    r.put("storage.commits", "count", (v - fromVersion).toDouble)
    r.put("storage.compactions", "count",
      ((fromVersion + 1) to v).count(x => x >= 0 && table.opOf(x) == "compact").toDouble)
    val dirs = if (v >= 0) table.dirPaths(v) else Nil
    r.put("storage.data_dirs_end", "count", dirs.size.toDouble)
    val root = java.nio.file.Paths.get(path)
    val bytes = dirs.map { d =>
      val p = root.resolve(d)
      if (!java.nio.file.Files.isDirectory(p)) 0L
      else {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
        finally s.close()
      }
    }.sum
    val points = if (v >= 0) table.read().count() else 0L
    r.put("storage.bytes_per_point", "B", if (points > 0) bytes.toDouble / points else 0.0)
    r.put("storage.persisted_rdds_end", "count", spark.sparkContext.getPersistentRDDs.size.toDouble)
  }

  /** Median of `TxLogTable.read` — building the current snapshot's frame. */
  def snapshotMs(table: TxLogTable, n: Int = 15): Double =
    Stats.median((1 to n).map { i =>
      val t0 = System.nanoTime()
      Trace.span("storage.snapshot", s"snapshot-$i")(table.read())
      Stats.nowMs(t0)
    })

  /** The influxql.* and http.query_overhead_ms metrics, from one sequential
    * pass over `stmts` in three ways: built by `InfluxCatalog.execute`
    * (construct) then collected (execute); sent over HTTP `/query`; and run
    * by `InfluxCatalog.executeStreamed`. Statement jobs are attributed by the
    * registry's `influxql-<qid>` job group, eager ones by the construct span.
    */
  def influxqlLayer(r: Report, probe: SparkProbe, client: InfluxClient, cat: InfluxCatalog,
                    db: String, stmts: Seq[String]): Unit = {
    val dbCat = cat.forDatabase(db)
    def timed[T](name: String, i: Int)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = Trace.span(name, s"$name-$i")(body)
      (v, Stats.nowMs(t0))
    }
    val phases = stmts.zipWithIndex.map { case (s, i) =>
      val (df, constructMs) = timed("influxql.construct", i)(dbCat.execute(s))
      (constructMs, timed("influxql.execute", i)(df.collect())._2)
    }
    val viaHttp = stmts.zipWithIndex.map { case (s, i) => timed("http.query", i)(client.query(db, s))._2 }
    val streamed = stmts.zipWithIndex.map { case (s, i) =>
      timed("influxql.streamed", i)(dbCat.executeStreamed(s)(_.toLocalIterator().asScala.size))._2
    }
    graft.influxql.InfluxQL.drainPins()
    Thread.sleep(1000) // let the listener bus deliver the last jobs
    val grouped = probe.jobsUnder("influxql.streamed").filter(_.group.startsWith("influxql-"))
    val n = math.max(1, stmts.size).toDouble
    r.put("influxql.construct_ms", "ms", Stats.median(phases.map(_._1)))
    r.put("influxql.execute_ms", "ms", Stats.median(phases.map(_._2)))
    r.put("influxql.jobs_per_stmt", "count",
      grouped.size.toDouble / math.max(1, grouped.map(_.group).distinct.size))
    r.put("influxql.eager_jobs_per_stmt", "count", probe.jobsUnder("influxql.construct").size / n)
    r.put("http.query_overhead_ms", "ms", Stats.median(viaHttp) - Stats.median(streamed))
  }
}
