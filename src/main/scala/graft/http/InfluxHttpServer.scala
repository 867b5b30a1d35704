package graft.http

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame

import graft.influxql.{InfluxAuth, InfluxCatalog, InfluxQL}
import graft.streaming.RestRegistryClient.jsonString

/** The InfluxDB 1.x HTTP API face — the listener that makes the engine a
  * drop-in target for off-the-shelf Influx clients (the reference's own
  * influxdb-python speaks exactly this protocol, `influx_service.py:417`):
  *
  *   GET  /ping                           204 + X-Influxdb-Version
  *   GET/POST /query?q=&db=&epoch=&u=&p=  1.x JSON results envelope
  *   POST /write?db=&precision=&u=&p=     line-protocol body, 204 on success
  *
  * Semantics per the 1.x API:
  *   - `q` may carry `;`-separated statements ([[InfluxQL.splitStatements]]);
  *     each answers one entry in `results`, plan failures as per-statement
  *     `error` strings. Mutating statements (DDL, INTO, KILL) require
  *     POST — a GET carrying one is refused before anything runs.
  *   - `u`/`p` (or a Basic header) authorize EVERY statement up front
  *     through [[InfluxCatalog.authorize]] before any executes —
  *     InfluxDB's QueryAuthorizer order, so a 403 never leaves earlier
  *     statements' side effects behind a failed request (authentication
  *     failure → 401, authorization failure → 403); with `authRequired`
  *     unauthenticated requests are refused like `auth-enabled = true`.
  *   - `db` routes statements and writes to that database
  *     ([[InfluxCatalog.forDatabase]] — one shared query registry);
  *     `params` binds `$name` placeholders; `chunked`/`chunk_size` stream
  *     the response; `pretty` re-indents it.
  *   - `epoch=ns|u|ms|s|m|h` renders `time` as integers in that unit;
  *     default is RFC3339 text, exactly InfluxDB's default. Request
  *     parameters validate up front — a typo never passes or fails
  *     depending on the data.
  *   - `/write` parses the body (gzip-inflated if so encoded) as line
  *     protocol at `precision` (default ns), validates `rp` when named,
  *     appends the narrow points ACID-transactionally, answers 204;
  *     malformed lines → 400 "partial write" with the first parse error
  *     (parsed lines are still written — InfluxDB's partial-write rule),
  *     well-formed points the narrow layout cannot hold → 400 as well
  *     (never a silent success), unknown database → 404.
  *
  * Scale posture: request PLANNING is control-plane, but result SIZE is
  * the client's choice — so `/query` never materializes a full result on
  * the driver. Statements execute lazily ([[InfluxCatalog.runStreamed]])
  * and rows ride `Dataset.toLocalIterator`, one Spark partition on the
  * driver at a time: `chunked=true` holds at most one chunk (+ one
  * partition) in memory regardless of result size, and the unchunked path
  * is bounded by `maxRowLimit` (InfluxDB's `max-row-limit`: the result
  * truncates with `"partial": true` instead of buffering without bound;
  * 0 disables). Bulk ingest still belongs on the streaming path — /write
  * batches are bounded by the HTTP body, same as InfluxDB.
  *
  * With `ssl` the listener speaks HTTPS (InfluxDB's `https-enabled`;
  * [[graft.GraftConfig.serverSslContext]] builds the context from the
  * same PEM-file config seam the MQTT TLS leg uses) — without it the
  * credentials `/query` authenticates would cross the network in the
  * clear the moment `bindHost` widens from loopback.
  *
  * The server runs on the JDK's built-in [[com.sun.net.httpserver]] — no
  * dependency beyond the JVM, same as the engine's MQTT wire stack.
  */
final class InfluxHttpServer(catalog: InfluxCatalog,
                             port: Int = 8086,
                             authRequired: Boolean = false,
                             bindHost: String = "127.0.0.1",
                             maxRowLimit: Int = 10000,
                             ssl: Option[javax.net.ssl.SSLContext] = None) {

  private val server: HttpServer = ssl match {
    case Some(ctx) =>
      val s = com.sun.net.httpserver.HttpsServer.create(
        new InetSocketAddress(bindHost, port), 0)
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress(bindHost, port), 0)
  }
  // without an executor the JDK server runs every handler on its ONE
  // dispatcher thread — a slow query would serialize all clients. A small
  // daemon pool gives concurrent request handling; Spark's job-group
  // mapping stays correct because setJobGroup is thread-local. The pool is
  // OURS to shut down — HttpServer.stop never stops a supplied executor,
  // so construct/stop cycles would otherwise leak 8 threads each.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })
  // ---------- monitoring counters (the /debug/vars httpd block) ----------
  // per-listener, lock-free, incremented on the handler threads — the
  // same shape InfluxDB's httpd module reports through expvar
  private val startedAtMs = System.currentTimeMillis()
  private val pingReq = new java.util.concurrent.atomic.AtomicLong(0)
  private val queryReq = new java.util.concurrent.atomic.AtomicLong(0)
  private val writeReq = new java.util.concurrent.atomic.AtomicLong(0)
  private val writeOk = new java.util.concurrent.atomic.AtomicLong(0)
  private val writeLines = new java.util.concurrent.atomic.AtomicLong(0)
  private val partialWrites = new java.util.concurrent.atomic.AtomicLong(0)
  private val truncationWarned = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val clientErrors = new java.util.concurrent.atomic.AtomicLong(0)
  private val serverErrors = new java.util.concurrent.atomic.AtomicLong(0)
  private val queryDur = new InfluxHttpServer.DurationSummary()
  private val writeDur = new InfluxHttpServer.DurationSummary()

  server.setExecutor(pool)
  server.createContext("/ping", (ex: HttpExchange) => {
    pingReq.incrementAndGet()
    ex.getResponseHeaders.set("X-Influxdb-Version", "1.8-graft")
    ex.sendResponseHeaders(204, -1); ex.close()
  })
  server.createContext("/query", (ex: HttpExchange) => safely(ex) { e =>
    queryReq.incrementAndGet()
    val t0 = System.nanoTime()
    try handleQuery(e) finally queryDur.record(System.nanoTime() - t0)
  })
  server.createContext("/write", (ex: HttpExchange) => safely(ex) { e =>
    writeReq.incrementAndGet()
    val t0 = System.nanoTime()
    try handleWrite(e) finally writeDur.record(System.nanoTime() - t0)
  })
  server.createContext("/debug/vars", (ex: HttpExchange) => safely(ex)(handleVars))
  server.createContext("/metrics", (ex: HttpExchange) => safely(ex)(handleMetrics))

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort

  // ---------- request plumbing ----------

  /** Set once the status line + headers are on the wire: after that a
    * failure (client disconnect mid-chunk, a render bug) can no longer
    * become a 500 — sendResponseHeaders on a committed exchange throws,
    * which would leak a SECONDARY exception onto the pool thread. A
    * committed-then-failed exchange just closes (the truncated body is the
    * client's signal, exactly like InfluxDB's aborted chunked responses).
    */
  private def markCommitted(ex: HttpExchange): Unit =
    ex.setAttribute("graft.committed", java.lang.Boolean.TRUE)
  private def committed(ex: HttpExchange): Boolean =
    ex.getAttribute("graft.committed") != null

  private def safely(ex: HttpExchange)(h: HttpExchange => Unit): Unit =
    try h(ex) catch {
      case e: Exception =>
        if (!committed(ex)) {
          serverErrors.incrementAndGet()
          // the 500 itself is best-effort: if the connection died before
          // headers went out, this throws too — swallow, never onto the pool
          try respondJson(ex, 500,
            s"""{"error": ${jsonString(Option(e.getMessage).getOrElse(e.toString))}}""")
          catch { case _: Exception => () }
        }
    } finally ex.close()

  /** Query-string + form-body parameters, URL-decoded (later keys win —
    * the 1.x API reads both for POST /query).
    */
  private def params(ex: HttpExchange, body: String): Map[String, String] = {
    def parse(s: String): Seq[(String, String)] =
      s.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        (URLDecoder.decode(k, "UTF-8"), URLDecoder.decode(v, "UTF-8"))
      }
    val fromUri = Option(ex.getRequestURI.getRawQuery).map(parse).getOrElse(Nil)
    val fromBody =
      if (Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(_.startsWith("application/x-www-form-urlencoded")))
        parse(body)
      else Nil
    (fromUri ++ fromBody).toMap
  }

  /** Request body, transparently inflating `Content-Encoding: gzip` —
    * influxdb-python compresses /write (and /query form) bodies when
    * constructed with gzip=True.
    */
  private def readBody(ex: HttpExchange): String = {
    val raw = ex.getRequestBody
    val in =
      if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .exists(_.toLowerCase.contains("gzip")))
        new java.util.zip.GZIPInputStream(raw)
      else raw
    new String(in.readAllBytes(), StandardCharsets.UTF_8)
  }

  private def respondJson(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length)
    markCommitted(ex)
    ex.getResponseBody.write(b)
    ex.close()
  }

  private def err(ex: HttpExchange, code: Int, msg: String): Unit = {
    if (code >= 500) serverErrors.incrementAndGet()
    else if (code >= 400) clientErrors.incrementAndGet()
    respondJson(ex, code, s"""{"error": ${jsonString(msg)}}""")
  }

  /** (user, password) from `u`/`p` params or an Authorization: Basic
    * header — both forms the 1.x clients send.
    */
  private def credentials(ex: HttpExchange,
                          p: Map[String, String]): Option[(String, String)] =
    (p.get("u"), p.get("p")) match {
      case (Some(u), Some(pw)) => Some((u, pw))
      case _ => Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Basic "))
        .map { h =>
          // a malformed header is PRESENT credentials that cannot be
          // valid — ("", "") fails authentication loudly (401), it must
          // not fall through to the anonymous path
          try {
            val dec = new String(java.util.Base64.getDecoder
              .decode(h.drop("Basic ".length)), StandardCharsets.UTF_8)
            val i = dec.indexOf(':')
            if (i < 0) ("", "") else (dec.take(i), dec.drop(i + 1))
          } catch { case _: IllegalArgumentException => ("", "") }
        }
    }

  // ---------- /query ----------

  import InfluxHttpServer.ClientGone
  import InfluxAuth.{AuthenticationFailed, NotAuthorized}

  private def handleQuery(ex: HttpExchange): Unit = {
    // InfluxDB 405s anything but GET/POST on /query — a PUT/DELETE/PATCH
    // must not slip through the GET-only mutation gate below and run DDL
    if (ex.getRequestMethod != "GET" && ex.getRequestMethod != "POST") {
      ex.getResponseHeaders.set("Allow", "GET, POST")
      return err(ex, 405, s"${ex.getRequestMethod} not allowed on /query")
    }
    // a corrupt gzip body is the client's 400, not our 500
    val body = try readBody(ex) catch {
      case _: java.io.IOException =>
        return err(ex, 400, "unable to decode gzip body")
    }
    val p = params(ex, body)
    val q0 = p.getOrElse("q", "")
    if (q0.trim.isEmpty) return err(ex, 400, "missing required parameter \"q\"")
    // bind parameters (InfluxDB 1.8 `params`): substitute outside quotes.
    // The binder ALWAYS runs — an unbound $placeholder is a request-level
    // 400 ("missing parameter") exactly like InfluxDB, params given or not
    val q =
      try InfluxHttpServer.bindParams(q0,
        p.get("params").map(InfluxHttpServer.parseBindParams).getOrElse(Map.empty))
      catch {
        case e: IllegalArgumentException => return err(ex, 400, msgOf(e))
      }
    val cat = p.get("db").map(catalog.forDatabase).getOrElse(catalog)
    val creds = credentials(ex, p)
    if (authRequired && creds.isEmpty)
      return err(ex, 401, "unable to parse authentication credentials")
    // request-level parameter validation is UP FRONT like InfluxDB's —
    // a typo must not pass or fail depending on whether rows match
    val epoch = p.get("epoch")
    epoch.foreach { e =>
      if (!Set("ns", "u", "µ", "ms", "s", "m", "h")(e))
        return err(ex, 400, s"invalid epoch: $e")
    }
    val pretty = p.get("pretty").exists(v => v == "true" || v == "")
    val chunked = p.get("chunked").exists(v => v == "true" || v == "")
    val chunkSize = p.get("chunk_size") match {
      case None => 10000
      case Some(cs) => cs.toIntOption.filter(_ > 0) match {
        case Some(n) => n
        case None => return err(ex, 400, s"invalid chunk_size: $cs")
      }
    }
    try {
      val stmts = InfluxQL.splitStatements(q)
      // InfluxDB accepts mutating statements only via POST: a GET carrying
      // DDL / INTO / KILL must be refused before anything runs (GETs are
      // retried by proxies and prefetched by browsers)
      if (ex.getRequestMethod == "GET")
        stmts.find(s => !InfluxHttpServer.readOnlyStatement(s)).foreach { s =>
          return err(ex, 400,
            s"""statement must be sent with a POST request: "$s"""")
        }
      // pre-authorize EVERY statement before running ANY (InfluxDB's
      // QueryAuthorizer order): a 403 on statement N must not leave
      // statements 0..N-1 already committed behind a failed request.
      // Non-auth failures (parse errors) surface per-statement below.
      creds.foreach { case (u, pw) =>
        stmts.foreach { s =>
          try cat.authorize(u, pw, s)
          catch {
            case e @ (_: AuthenticationFailed | _: NotAuthorized) => throw e
            case _: Exception => () // unrunnable statement: no side effects
          }
        }
      }
      if (chunked) respondChunked(ex, cat, stmts, epoch, chunkSize, pretty)
      else {
        // each statement accumulates AT MOST maxRowLimit rows on the
        // driver (InfluxDB's max-row-limit; truncation flags the cut
        // series and the statement partial) — its series data or its error
        val entries: Seq[Either[String, (Seq[SeriesData], Boolean, Boolean)]] =
          stmts.map { s =>
            try Right(cat.runStreamed(s)(df =>
              collectSeries(seriesRows(s, df, epoch, cat.resolvedGroupTags(s)))))
            catch {
              case e: Exception => Left(msgOf(e))
            }
          }
        val body = entries.zipWithIndex.map {
          case (Left(m), i) =>
            s"""{"statement_id": $i, "error": ${jsonString(m)}}"""
          case (Right((series, truncated, lastCut)), i) =>
            s"""{"statement_id": $i, ${seriesListJson(series, partialLast = lastCut)}${
              if (truncated) """, "partial": true""" else ""}}"""
        }.mkString("""{"results": [""", ", ", "]}")
        respondJson(ex, 200, if (pretty) InfluxHttpServer.prettyJson(body) else body)
      }
    } catch {
      case e: AuthenticationFailed => err(ex, 401, msgOf(e))
      case e: NotAuthorized => err(ex, 403, s"error authorizing query: ${msgOf(e)}")
    }
  }

  /** The 1.x `chunked=true` contract: one standalone JSON document per
    * chunk, newline-separated, `chunk_size` rows max per chunk, a chunk
    * never spanning two series; a series (and its statement) carries
    * `"partial": true` whenever more of it follows — exactly what
    * influxdb-python's chunked reader walks.
    *
    * Streaming end to end: the 200 header goes out first, then each
    * statement executes lazily and its rows ride [[seriesRows]]'s
    * iterator into chunk documents — driver memory holds one chunk plus
    * one Spark partition, never the result. The cost of that contract:
    * a statement that fails AFTER the header is out answers its error as
    * a chunk document (the same envelope a pre-materialized failure would
    * have used), and a mid-write network failure can only truncate the
    * body (see [[markCommitted]]).
    */
  private def respondChunked(ex: HttpExchange, cat: InfluxCatalog,
                             stmts: Seq[String], epoch: Option[String],
                             chunkSize: Int, pretty: Boolean): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, 0) // streaming body
    markCommitted(ex)
    val out = ex.getResponseBody
    // a dead socket must be told apart from an ENGINE-side IOException
    // (e.g. a commit-log read hitting NoSuchFile inside a statement):
    // only failures of the write itself end the stream — an engine
    // failure, whatever its exception type, answers a per-statement
    // error document like the unchunked path would
    def emit(doc: String): Unit =
      try {
        out.write(((if (pretty) InfluxHttpServer.prettyJson(doc) else doc) + "\n")
          .getBytes(StandardCharsets.UTF_8))
        out.flush()
      } catch { case e: java.io.IOException => throw ClientGone(e) }
    stmts.zipWithIndex.foreach { case (s, i) =>
      try cat.runStreamed(s) { df =>
        val it = seriesRows(s, df, epoch, cat.resolvedGroupTags(s)).buffered
        if (!it.hasNext)
          emit(s"""{"results": [{"statement_id": $i, "series": []}]}""")
        else while (it.hasNext) {
          val key = it.head._1
          val rows = Vector.newBuilder[String]
          var n = 0
          while (n < chunkSize && it.hasNext && it.head._1 == key) {
            rows += it.next()._2; n += 1
          }
          val moreOfSeries = it.hasNext && it.head._1 == key
          val statementPartial = it.hasNext
          emit(s"""{"results": [{"statement_id": $i, ${
            seriesListJson(Seq(SeriesData(key.name, key.tags, key.columns,
              rows.result())), partialLast = moreOfSeries)}${
            if (statementPartial) """, "partial": true""" else ""}}]}""")
        }
      } catch {
        // the client went away mid-write: nothing left to tell it
        case ClientGone(e) => throw e
        case e: Exception =>
          emit(s"""{"results": [{"statement_id": $i, "error": ${
            jsonString(msgOf(e))}}]}""")
      }
    }
    out.close()
  }

  /** Drain a statement's row iterator into its full series list, bounded
    * by [[maxRowLimit]] (0 = unbounded): the iterator stops being consumed
    * at the limit — the remaining Spark partitions never reach the driver
    * — and the truncated tail is flagged via the returned Boolean
    * (InfluxDB's non-chunked `max-row-limit` truncation).
    */
  private def collectSeries(it0: Iterator[(SeriesKey, String)]): (Seq[SeriesData], Boolean, Boolean) = {
    val it = it0.buffered
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(SeriesKey, scala.collection.mutable.ArrayBuffer[String])]
    var rows = 0
    var truncated = false
    var lastSeriesCut = false
    while (it.hasNext && !truncated) {
      val (key, row) = it.next()
      if (out.nonEmpty && out.last._1 == key) out.last._2 += row
      else out += ((key, scala.collection.mutable.ArrayBuffer(row)))
      rows += 1
      if (maxRowLimit > 0 && rows >= maxRowLimit && it.hasNext) {
        truncated = true
        // the deliberate divergence from the 1.8 default (unlimited) is
        // easy to miss — stock clients ignore "partial": true — so the
        // FIRST truncation this listener performs logs loudly with the
        // two escape hatches; once is signal, per-request would be spam
        if (truncationWarned.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"unchunked /query result truncated at max-row-limit=$maxRowLimit " +
              "(flagged only via \"partial\": true, which many clients ignore); " +
              "set http_max_row_limit=0 for InfluxDB 1.8's unlimited default " +
              "or use chunked=true, which is never limited")
        // the series-level flag only belongs on a series the cut landed
        // INSIDE — a complete series followed by a discarded new one is
        // whole, and flagging it would tell the client its rows are short
        lastSeriesCut = it.head._1 == out.last._1
      }
    }
    (out.toSeq.map { case (k, rs) => SeriesData(k.name, k.tags, k.columns, rs.toSeq) },
      truncated, lastSeriesCut)
  }

  private def msgOf(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  /** The identity of one series in a statement's result: name, the GROUP
    * BY tag values that pin it, and its value columns. Rows tagged with
    * equal keys belong to the same `series` entry.
    */
  private final case class SeriesKey(name: String, tags: Seq[(String, String)],
                                     columns: Seq[String])

  /** One series' pre-rendered payload: its key parts plus each row already
    * rendered as a JSON array string — the unit both responders assemble.
    */
  private final case class SeriesData(name: String, tags: Seq[(String, String)],
                                      columns: Seq[String], rows: Seq[String])

  /** A statement's result as a LAZY stream of (series key, rendered row)
    * pairs, grouped contiguously by series — the shared spine of the
    * chunked and unchunked responders.
    *
    * Series splitting follows the 1.x shape influxdb-python's resultset
    * and DataFrame clients key on: a result carrying a `measurement`
    * column (regex / multi FROM) answers one named series per measurement,
    * and a SELECT with GROUP BY tags (the PLANNER's resolved tag set —
    * [[InfluxCatalog.resolvedGroupTags]] — so a string field selected raw
    * under `GROUP BY *` stays in `values`) splits further into one series
    * per tag combination, tag columns moved off the value rows.
    *
    * Scale contract: when splitting is needed the frame is sorted
    * EXECUTOR-side on (measurement, tags, original row order) — the
    * monotonic id keeps every series' rows in exactly the order the scan
    * produced them, and null tag values sort first, matching the collected
    * renderer this replaces — then ridden with `toLocalIterator`, so the
    * driver holds one Spark partition at a time, never the result.
    */
  private def seriesRows(stmt: String, df0: DataFrame, epoch: Option[String],
                         groupTags0: Seq[String]): Iterator[(SeriesKey, String)] = {
    import scala.jdk.CollectionConverters._
    val cols = df0.columns.toSeq
    val mIdx = cols.indexOf("measurement")
    val groupTags = groupTags0.filter(cols.contains)
    val needsSplit = mIdx >= 0 || groupTags.nonEmpty
    val tagIdx = groupTags.map(cols.indexOf)
    val keep = cols.indices.filterNot(i => i == mIdx || tagIdx.contains(i))
    val keepNames = keep.map(cols)
    val wholeKey = SeriesKey(seriesName(stmt), Nil, keepNames)
    val df =
      if (!needsSplit) df0
      else {
        import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
        // the ordering column's name must not collide with a result
        // column (a user can alias anything): withColumn REPLACES an
        // existing column in place, which would corrupt its values
        val ord = Iterator.iterate("__ord")(_ + "_").dropWhile(cols.contains).next()
        val sortCols =
          (if (mIdx >= 0) Seq(col("measurement").asc_nulls_first) else Nil) ++
            groupTags.map(t => col(t).asc_nulls_first) :+ col(ord).asc
        df0.withColumn(ord, monotonically_increasing_id()).orderBy(sortCols: _*)
      }
    df.toLocalIterator().asScala.map { r =>
      val key =
        if (!needsSplit) wholeKey
        else SeriesKey(
          if (mIdx >= 0) r.getString(mIdx) else wholeKey.name,
          groupTags.zip(tagIdx.map { i =>
            val v = r.get(i)
            if (v == null) null else v.toString
          }), keepNames)
      val rendered = keep.map { i =>
        val v = r.get(i)
        if (cols(i) == "time") timeJson(v, epoch) else cellJson(v)
      }.mkString("[", ", ", "]")
      (key, rendered)
    }
  }

  /** `"series": [...]` for a statement entry; `partialLast` marks the
    * FINAL listed series as continued/truncated (the chunked responder
    * passes one series at a time; the unchunked responder's max-row-limit
    * truncation can only ever cut the last one).
    */
  private def seriesListJson(series: Seq[SeriesData], partialLast: Boolean): String = {
    val body = series.zipWithIndex.map { case (sd, i) =>
      val partial = partialLast && i == series.length - 1
      val tags =
        if (sd.tags.isEmpty) ""
        else s""", "tags": {${sd.tags.map { case (k, v) =>
          s"${jsonString(k)}: ${if (v == null) "null" else jsonString(v)}"
        }.mkString(", ")}}"""
      s"""{"name": ${jsonString(sd.name)}$tags, "columns": ${
        sd.columns.map(jsonString).mkString("[", ", ", "]")
      }, "values": ${sd.rows.mkString("[", ", ", "]")}${
        if (partial) """, "partial": true""" else ""}}"""
    }
    s""""series": [${body.mkString(", ")}]"""
  }

  /** InfluxDB's series names: the measurement for SELECT, a statement-kind
    * name for the SHOW family.
    */
  private def seriesName(stmt: String): String = {
    val up = stmt.trim.toUpperCase
    if (up.startsWith("SHOW DATABASES")) "databases"
    else if (up.startsWith("SHOW MEASUREMENTS")) "measurements"
    else if (up.startsWith("SHOW USERS")) "users"
    else if (up.startsWith("SHOW QUERIES")) "queries"
    else if (up.startsWith("SHOW RETENTION POLICIES")) "retention_policies"
    else if (up.startsWith("SHOW")) up.split("\\s+").lift(1)
      .map(_.toLowerCase).getOrElse("results")
    else if (up.startsWith("SELECT") || up.startsWith("EXPLAIN"))
      try {
        val sel = if (up.startsWith("EXPLAIN"))
          stmt.trim.drop("EXPLAIN".length).trim else stmt
        val q = InfluxQL.parse(sel)
        if (q.measurement.nonEmpty) q.measurement else "results"
      } catch { case _: Exception => "results" }
    else "results"
  }

  /** `time` cells: µs longs render as RFC3339 by default, or as integers
    * in the requested epoch unit. Integer division throughout (`/` on
    * longs would be IEEE and lossy above 2^53).
    */
  private def timeJson(v: Any, epoch: Option[String]): String = v match {
    case us: Long => epoch match {
      case None =>
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L).toString match {
          case s => jsonString(s)
        }
      case Some(unit) =>
        try InfluxHttpServer.epochOf(us, unit).toString
        catch {
          // epoch=ns on a µs value past Long range (the engine's µs
          // storage is 1000x wider than InfluxDB's ns storage): render
          // the EXACT integer instead of a wrapped garbage long — JSON
          // numbers are unbounded; a client that can't take it fails
          // loudly on its side, never silently wrong on ours
          case _: ArithmeticException => (BigInt(us) * 1000).toString
        }
    }
    case other => cellJson(other) // a non-long `time` column is data
  }

  private def cellJson(v: Any): String = v match {
    case null => "null"
    case s: String => jsonString(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => if (f.isNaN || f.isInfinite) "null" else f.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => jsonString(other.toString)
  }

  // ---------- /write ----------

  private val precisionNs = Map(
    "ns" -> 1L, "u" -> 1000L, "µ" -> 1000L, "ms" -> 1000000L,
    "s" -> 1000000000L, "m" -> 60L * 1000000000L, "h" -> 3600L * 1000000000L)

  private def handleWrite(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      ex.getResponseHeaders.set("Allow", "POST")
      return err(ex, 405, s"${ex.getRequestMethod} not allowed on /write")
    }
    // a corrupt gzip body is the client's 400, not our 500
    val body = try readBody(ex) catch {
      case _: java.io.IOException =>
        return err(ex, 400, "unable to decode gzip body")
    }
    val p = params(ex, "")
    val creds = credentials(ex, p)
    if (authRequired && creds.isEmpty)
      return err(ex, 401, "unable to parse authentication credentials")
    val db = p.get("db").filter(_.nonEmpty) match {
      case Some(d) => d
      case None => return err(ex, 400, "database is required")
    }
    val unit = p.get("precision").getOrElse("ns")
    val unitNs = precisionNs.get(unit) match {
      case Some(u) => u
      case None => return err(ex, 400, s"invalid precision \"$unit\"")
    }
    // WRITE privilege on the target db, when credentials are in play —
    // checked BEFORE any store lookup (the rp probe below), so an
    // unauthenticated caller learns nothing and costs nothing
    val authProblem = creds.flatMap { case (u, pw) =>
      if (!InfluxAuth.authenticate(catalog.spark, catalog.rootDir, u, pw))
        Some((401, s"authentication failed for user $u"))
      else if (!InfluxAuth.isAdmin(catalog.spark, catalog.rootDir, u) &&
          !InfluxAuth.authorized(catalog.spark, catalog.rootDir, u, db, "WRITE"))
        Some((403, s"""user $u is not authorized to write to "$db""""))
      else None
    }
    authProblem match {
      case Some((code, msg)) => return err(ex, code, msg)
      case None => ()
    }
    // a named retention policy must exist (InfluxDB 404s unknown ones);
    // placement stays per-db — the policy governs expiry in this engine
    val rpProblem = p.get("rp").filter(_.nonEmpty).flatMap { rp =>
      try { catalog.requireRetentionPolicy(db, rp); None }
      catch { case e: IllegalArgumentException => Some(msgOf(e)) }
    }
    rpProblem match {
      case Some(m) => return err(ex, 404, m)
      case None => ()
    }
    import catalog.spark.implicits._
    val rawLines = body.split("\n").toSeq.map(_.stripSuffix("\r"))
      .filter(_.trim.nonEmpty)
    writeLines.addAndGet(rawLines.size)
    val lines = rawLines.toDS()
    val res =
      try catalog.writeLineProtocol(db, lines, tsUnitNs = unitNs)
      catch {
        case e: IllegalArgumentException
            if msgOf(e).contains("database not found") =>
          return err(ex, 404, s"database not found: \"$db\"")
      }
    val firstErr = res.errors.take(1).headOption
    val firstDropped = res.dropped.take(1).headOption
    (firstErr, firstDropped) match {
      case (Some(e), _) =>
        partialWrites.incrementAndGet()
        // parsed lines were still appended: InfluxDB's partial-write rule.
        // The "unable to parse" prefix also covers out-of-range timestamps
        // on purpose — InfluxDB wraps its ErrTimeOutOfRange in exactly this
        // phrasing ("unable to parse '...': time outside range"), and
        // drop-in clients match on it. Field type conflicts render 1.x's
        // own shape instead ("field type conflict: ... dropped=N") —
        // clients match on that prefix too, and the conflicted points
        // were NOT committed
        if (e.error.startsWith("field type conflict")) {
          val dropped = res.errors
            .filter(_.error.startsWith("field type conflict")).count()
          err(ex, 400, s"partial write: ${e.error} dropped=$dropped")
        } else
          err(ex, 400, s"partial write: unable to parse '${e.line}': ${e.error}")
      case (None, Some(d)) =>
        partialWrites.incrementAndGet()
        // well-formed points the narrow layout cannot hold (string field,
        // field key other than `value`, missing device tag) were NOT
        // stored — never answer success for invisible data loss
        err(ex, 400, "partial write: points beyond the narrow layout " +
          s"were not stored (first: measurement '${d.measurement}' field " +
          s"'${d.field}' — requires a numeric/boolean field named 'value' " +
          "and a device tag)")
      case (None, None) =>
        writeOk.incrementAndGet()
        ex.sendResponseHeaders(204, -1); ex.close()
    }
  }

  // ---------- /debug/vars + /metrics ----------

  /** The listener's counter snapshot as (module, name, value) rows — one
    * source for both renderings. `queriesExecuted`/`queriesActive` read
    * the shared query registry; `subPointsDropped` is the subscription
    * fan-out cap gauge for this catalog's deployment root (summed across
    * its databases is not possible without listing them — the JVM total
    * is reported under `subscriber` exactly like InfluxDB's process-wide
    * subscriber stats).
    */
  private def counterRows(): Seq[(String, String, Long)] = Seq(
    ("httpd", "pingReq", pingReq.get()),
    ("httpd", "queryReq", queryReq.get()),
    ("httpd", "writeReq", writeReq.get()),
    ("httpd", "writeOk", writeOk.get()),
    ("httpd", "pointsWrittenLines", writeLines.get()),
    ("httpd", "partialWrites", partialWrites.get()),
    ("httpd", "clientError", clientErrors.get()),
    ("httpd", "serverError", serverErrors.get()),
    ("queryExecutor", "queriesActive", catalog.queryRegistry.runningCount.toLong),
    ("queryExecutor", "queriesExecuted", catalog.queryRegistry.startedCount),
    ("subscriber", "pointsDropped", graft.influxql.Subscriptions.droppedRows.get()),
    ("system", "uptimeSeconds", (System.currentTimeMillis() - startedAtMs) / 1000L),
    ("jvm", "heapUsedBytes",
      Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()),
    ("jvm", "heapMaxBytes", Runtime.getRuntime.maxMemory()))

  /** `authRequired` gates the monitoring endpoints like everything else:
    * any AUTHENTICATED user may read them (InfluxDB's /debug/vars carries
    * no per-db authorization either — counters are process-scoped).
    */
  private def monitoringAuthProblem(ex: HttpExchange): Option[(Int, String)] = {
    val creds = credentials(ex, params(ex, ""))
    if (authRequired && creds.isEmpty)
      Some((401, "unable to parse authentication credentials"))
    else creds.flatMap { case (u, pw) =>
      if (!InfluxAuth.authenticate(catalog.spark, catalog.rootDir, u, pw))
        Some((401, s"authentication failed for user $u"))
      else None
    }
  }

  /** GET /debug/vars — InfluxDB's expvar JSON: nested {module: {name:
    * value}} objects, counters engine-native (no Go memstats to fake).
    */
  private def handleVars(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") {
      ex.getResponseHeaders.set("Allow", "GET")
      return err(ex, 405, s"${ex.getRequestMethod} not allowed on /debug/vars")
    }
    monitoringAuthProblem(ex) match {
      case Some((code, msg)) => return err(ex, code, msg)
      case None => ()
    }
    val body = counterRows().groupBy(_._1).toSeq.sortBy(_._1).map {
      case (module, rows) =>
        s"""${jsonString(module)}: {${rows.sortBy(_._2).map { case (_, k, v) =>
          s"${jsonString(k)}: $v" }.mkString(", ")}}"""
    }.mkString("{", ", ", "}")
    respondJson(ex, 200, body)
  }

  /** GET /metrics — the Prometheus text exposition of the same counters
    * (InfluxDB 1.8 serves /metrics on the same listener): one
    * `graft_<module>_<name>` sample per counter, HELP/TYPE annotated.
    * Gauges (active queries, heap, uptime) are typed gauge; everything
    * else counter.
    */
  private def handleMetrics(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") {
      ex.getResponseHeaders.set("Allow", "GET")
      return err(ex, 405, s"${ex.getRequestMethod} not allowed on /metrics")
    }
    monitoringAuthProblem(ex) match {
      case Some((code, msg)) => return err(ex, code, msg)
      case None => ()
    }
    val gauges = Set("queriesActive", "uptimeSeconds", "heapUsedBytes", "heapMaxBytes")
    def snake(s: String): String =
      s.replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase
    val counters = counterRows().map { case (module, name, v) =>
      val metric = s"graft_${snake(module)}_${snake(name)}"
      val kind = if (gauges(name)) "gauge" else "counter"
      s"# TYPE $metric $kind\n$metric $v\n"
    }.mkString
    // per-endpoint request-duration summaries — the latency face an
    // operator needs to run the listener under load (counters alone say
    // how MANY requests, never how slow the tail is). Quantiles are over
    // a sliding window of recent requests; sum/count are cumulative,
    // exactly the Prometheus summary contract
    def summary(endpoint: String, d: InfluxHttpServer.DurationSummary): String = {
      val metric = s"graft_httpd_${endpoint}_duration_seconds"
      val qs = d.quantiles(Seq(0.5, 0.9, 0.99)).map { case (q, v) =>
        s"""$metric{quantile="$q"} $v\n"""
      }.mkString
      s"# TYPE $metric summary\n$qs$metric" + "_sum " + d.sumSeconds +
        s"\n${metric}_count ${d.countN}\n"
    }
    val body = counters + summary("query", queryDur) + summary("write", writeDur)
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4; charset=utf-8")
    ex.sendResponseHeaders(200, b.length)
    markCommitted(ex)
    ex.getResponseBody.write(b)
    ex.close()
  }
}

object InfluxHttpServer {
  /** Per-endpoint request-duration summary: cumulative sum/count (the
    * Prometheus summary contract) plus a fixed-size ring of the most
    * recent durations for scrape-time quantiles — a sliding window, the
    * operable middle ground between exact history (unbounded memory) and
    * no latency signal at all. record() is O(1); quantile computation is
    * scrape-time work over at most `window` longs.
    */
  private[http] final class DurationSummary(window: Int = 1024) {
    private val count = new java.util.concurrent.atomic.AtomicLong(0)
    private val sumNanos = new java.util.concurrent.atomic.AtomicLong(0)
    private val ring = new Array[Long](window)
    def record(nanos: Long): Unit = {
      val i = count.getAndIncrement()
      sumNanos.addAndGet(nanos)
      ring.synchronized { ring((i % window).toInt) = nanos }
    }
    def countN: Long = count.get()
    def sumSeconds: Double = sumNanos.get() / 1e9
    /** The q-quantiles of the sliding window (0.0 when nothing recorded —
      * a scrape before traffic must not divide by zero).
      */
    def quantiles(qs: Seq[Double]): Seq[(Double, Double)] = {
      val n = math.min(count.get(), window.toLong).toInt
      if (n == 0) return qs.map(_ -> 0.0)
      val snap = ring.synchronized(java.util.Arrays.copyOf(ring, n))
      java.util.Arrays.sort(snap)
      qs.map(q => q -> snap(math.min(n - 1, (q * n).toInt)) / 1e9)
    }
  }

  /** Marks an IOException thrown by the RESPONSE write (dead client) as
    * distinct from an engine-side IOException inside a statement — the
    * two demand opposite handling on the chunked path.
    */
  private final case class ClientGone(cause: java.io.IOException)
    extends RuntimeException(cause)

  /** True when the statement cannot mutate state — i.e. it is acceptable
    * over GET. Classification is by what CAN mutate (the engine's own
    * mutating statement families plus SELECT ... INTO), so anything
    * unrunnable — a typo'd keyword, an unparseable SELECT — stays
    * read-only and answers its real per-statement parse error through
    * either method instead of a misleading "requires POST".
    */
  private[graft] def readOnlyStatement(stmt: String): Boolean = {
    val up = stmt.trim.toUpperCase
    val mutating = Seq("CREATE", "DROP", "ALTER", "DELETE",
      "GRANT", "REVOKE", "SET", "KILL")
    if (mutating.exists(up.startsWith)) false
    else if (up.startsWith("SELECT") || up.startsWith("EXPLAIN")) {
      val sel = if (up.startsWith("EXPLAIN"))
        stmt.trim.drop("EXPLAIN".length).trim else stmt
      try InfluxQL.parse(sel).into.isEmpty
      catch { case _: Exception => true }
    } else true
  }

  /** µs → integer epoch in the requested unit — the conversion behind
    * /query's `epoch` parameter. FLOOR division throughout (`/` on longs
    * would be IEEE and lossy above 2^53; truncating division would round
    * pre-1970 instants the wrong way), and the one MULTIPLYING unit (ns)
    * is exact-or-loud: a µs value past Long-in-ns range throws instead of
    * wrapping (the renderer falls back to exact big-integer text).
    * Public to the engine so the oracle-gated `q_influxql_epoch` drives
    * the exact same arithmetic the HTTP face renders.
    */
  private[graft] def epochOf(us: Long, unit: String): Long = unit match {
    case "ns" => Math.multiplyExact(us, 1000L)
    case "u" | "µ" => us
    case "ms" => Math.floorDiv(us, 1000L)
    case "s" => Math.floorDiv(us, 1000000L)
    case "m" => Math.floorDiv(us, 60L * 1000000L)
    case "h" => Math.floorDiv(us, 3600L * 1000000L)
    case other => throw new IllegalArgumentException(s"invalid epoch: $other")
  }

  /** The `params` bind-parameter object (InfluxDB 1.8's `/query?params=`
    * — influxdb-python's `bind_params`): a FLAT JSON object of string /
    * number / boolean values, parsed with a dependency-free scanner.
    * Returns each value rendered as the InfluxQL literal it binds as.
    */
  private[graft] def parseBindParams(json: String): Map[String, String] = {
    val s = json.trim
    def bad(m: String): Nothing =
      throw new IllegalArgumentException(s"invalid params object: $m")
    if (!s.startsWith("{") || !s.endsWith("}")) bad("expected a JSON object")
    var i = 1
    val out = Map.newBuilder[String, String]
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def str(): String = {
      if (s.charAt(i) != '"') bad(s"expected string at $i")
      i += 1
      val b = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          b += (s.charAt(i + 1) match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case other => other
          })
          i += 2
        } else { b += c; i += 1 }
      }
      if (i >= s.length) bad("unterminated string")
      i += 1
      b.result()
    }
    ws()
    if (i < s.length && s.charAt(i) == '}') return Map.empty
    var more = true
    while (more) {
      ws()
      val k = str()
      ws()
      if (i >= s.length || s.charAt(i) != ':') bad(s"expected ':' after \"$k\"")
      i += 1; ws()
      val v: String =
        if (i < s.length && s.charAt(i) == '"') {
          val raw = str()
          // the dialect's string literals carry no quote escapes — refuse
          // what cannot be represented instead of mangling it
          if (raw.contains("'")) bad(s"single quote in bind parameter \"$k\"")
          s"'$raw'"
        } else if (s.startsWith("true", i)) { i += 4; "true" }
        else if (s.startsWith("false", i)) { i += 5; "false" }
        else {
          val start = i
          while (i < s.length && "+-.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
          if (i == start) bad(s"unsupported value for \"$k\"")
          s.substring(start, i)
        }
      out += k -> v
      ws()
      if (i < s.length && s.charAt(i) == ',') i += 1
      else more = false
    }
    ws()
    if (i >= s.length || s.charAt(i) != '}') bad("expected '}'")
    out.result()
  }

  /** Substitute `$name` placeholders outside string literals and quoted
    * identifiers; a placeholder without a binding fails loudly (InfluxDB's
    * "missing parameter" error), and `$` elsewhere is left untouched only
    * inside quotes.
    */
  private[graft] def bindParams(stmt: String, params: Map[String, String]): String = {
    val sb = new StringBuilder
    var i = 0
    def copyDelimited(close: Char): Unit = {
      val j = stmt.indexOf(close, i + 1)
      val end = if (j < 0) stmt.length else j + 1
      sb ++= stmt.substring(i, end); i = end
    }
    while (i < stmt.length) {
      stmt.charAt(i) match {
        case '\'' => copyDelimited('\'')
        case '"' => copyDelimited('"')
        case '$' if i + 1 < stmt.length &&
            (stmt.charAt(i + 1).isLetter || stmt.charAt(i + 1) == '_') =>
          val start = i + 1
          i += 1
          while (i < stmt.length &&
            (stmt.charAt(i).isLetterOrDigit || stmt.charAt(i) == '_')) i += 1
          val name = stmt.substring(start, i)
          sb ++= params.getOrElse(name, throw new IllegalArgumentException(
            s"missing parameter: $$$name"))
        case c => sb += c; i += 1
      }
    }
    sb.result()
  }

  /** `pretty=true`: re-indent a compact JSON document (InfluxDB's
    * 4-space style). Walks the string respecting string literals and
    * escapes — structure-preserving by construction, since the input is
    * this server's own compact rendering.
    */
  private[graft] def prettyJson(compact: String): String = {
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    var i = 0
    def nl(): Unit = { sb += '\n'; sb ++= "    " * depth }
    while (i < compact.length) {
      val c = compact.charAt(i)
      if (inStr) {
        sb += c
        if (c == '\\' && i + 1 < compact.length) { sb += compact.charAt(i + 1); i += 1 }
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true; sb += c
        case '{' | '[' =>
          sb += c
          // keep empty containers on one line
          val j = i + 1
          val next = if (j < compact.length) compact.charAt(j) else ' '
          if (next == '}' || next == ']') { sb += next; i += 1 }
          else { depth += 1; nl() }
        case '}' | ']' => depth -= 1; nl(); sb += c
        case ',' => sb += c; nl()
        case ' ' => // compact source uses ", " and ": "; the walker re-spaces
          if (i > 0 && compact.charAt(i - 1) == ':') sb += ' '
        case other => sb += other
      }
      i += 1
    }
    sb.result()
  }
}
