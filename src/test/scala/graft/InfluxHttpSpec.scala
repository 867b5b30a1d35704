package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.DataFrame

import graft.http.InfluxHttpServer
import graft.influxql.{InfluxCatalog, InfluxQL}

/** Drives the InfluxDB 1.x HTTP face with a REAL http client — the
  * round trips an off-the-shelf Influx client (the reference's
  * influxdb-python, influx_service.py:417) makes: ping, write, query,
  * auth accept/reject, multi-statement, epoch/precision params.
  */
class InfluxHttpSpec extends SparkSuite {
  import spark.implicits._

  private def pts(rows: (String, String, Long, Double)*): DataFrame =
    rows.toDF("device", "transducer", "ts_us", "value")

  private lazy val root =
    java.nio.file.Files.createTempDirectory("influx_http").toString
  private lazy val cat = new InfluxCatalog(spark, root, defaultDb = "tele")
  private lazy val server = {
    cat.run("CREATE DATABASE tele")
    cat.writePoints("tele", pts(("a", "temp", 1000000L, 20.0),
      ("a", "temp", 2000000L, 22.0), ("b", "hum", 1500000L, 40.0)))
    val s = new InfluxHttpServer(cat, port = 0)
    s.start()
    s
  }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(path: String, body: String,
                   contentType: String = "text/plain"): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  test("/ping answers 204 with a version header") {
    val r = get("/ping")
    assert(r.statusCode() == 204)
    assert(r.headers().firstValue("X-Influxdb-Version").isPresent)
  }

  test("/query on a database with no committed points answers 200 with no series") {
    assert(post("/query", s"q=${enc("CREATE DATABASE fresh")}",
      "application/x-www-form-urlencoded").statusCode() == 200)
    val r = get(s"/query?db=fresh&q=${enc("SELECT count(num) FROM temp")}")
    assert(r.statusCode() == 200, r.body())
    assert(r.body() == """{"results": [{"statement_id": 0, "series": []}]}""", r.body())
    // a database with points still names the typo
    val typo = get(s"/query?db=tele&q=${enc("SELECT count(num) FROM temp")}")
    assert(typo.statusCode() == 200 && typo.body().contains("unknown field or tag 'num'"),
      typo.body())
  }

  test("/query returns the 1.x results envelope; epoch renders time units") {
    val r = get(s"/query?db=tele&epoch=u&q=${enc("SELECT mean(value) FROM temp")}")
    assert(r.statusCode() == 200, r.body())
    // the engine's global aggregate answers one column (no synthetic
    // time-0 row) — the envelope around it is the 1.x shape verbatim
    assert(r.body() ==
      """{"results": [{"statement_id": 0, "series": [{"name": "temp", """ +
      """"columns": ["mean"], "values": [[21.0]]}]}]}""", r.body())
    // ns epoch scales the same long; default epoch is RFC3339 text
    val ns = get(s"/query?db=tele&epoch=ns&q=${enc("SELECT value FROM temp WHERE device = 'a' LIMIT 1")}")
    assert(ns.body().contains("[1000000000,"), ns.body())
    val rfc = get(s"/query?db=tele&q=${enc("SELECT value FROM temp WHERE device = 'a' LIMIT 1")}")
    assert(rfc.body().contains("\"1970-01-01T00:00:01Z\""), rfc.body())
    // malformed request parameters are request-level 4xx, never 500 and
    // never data-dependent: bad epoch / chunk_size 400 up front, a
    // garbage Basic header is failed credentials (401)
    val sel = enc("SELECT value FROM temp")
    assert(get(s"/query?db=tele&epoch=bogus&q=$sel").statusCode() == 400)
    assert(get(s"/query?db=tele&epoch=bogus&q=${
      enc("SELECT value FROM temp WHERE device = 'nope'")}").statusCode() == 400,
      "empty results must not mask the epoch typo")
    assert(get(s"/query?db=tele&chunked=true&chunk_size=abc&q=$sel")
      .statusCode() == 400)
    val badAuth = client.send(HttpRequest.newBuilder(
      URI.create(s"$base/query?db=tele&q=$sel"))
      .header("Authorization", "Basic !!!not-base64!!!").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(badAuth.statusCode() == 401, s"${badAuth.statusCode()} ${badAuth.body()}")
  }

  test("/query splits multi-statement q; failures are per-statement errors") {
    val q = "CREATE DATABASE aux; SHOW DATABASES; SELECT nope(value) FROM temp"
    // mutating statements require POST (InfluxDB's rule; GETs get retried
    // by proxies and prefetched by browsers) — the same q over GET is 400
    val viaGet = get(s"/query?db=tele&q=${enc(q)}")
    assert(viaGet.statusCode() == 400 &&
      viaGet.body().contains("POST"), viaGet.body())
    val r = post("/query", s"db=tele&q=${enc(q)}",
      contentType = "application/x-www-form-urlencoded")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""statement_id": 0"""))
    assert(r.body().contains(
      """"statement_id": 1, "series": [{"name": "databases""""), r.body())
    assert(r.body().contains(""""statement_id": 2, "error""""), r.body())
    // a ';' inside a string literal or regex does NOT split
    assert(InfluxQL.splitStatements(
      "SELECT value FROM temp WHERE device != 'a;b'; SHOW DATABASES").size == 2)
    assert(InfluxQL.splitStatements(
      "SELECT count(value) FROM /t;m/").size == 1)
    assert(InfluxQL.splitStatements("SELECT sum(a)/2 FROM m;;").size == 1,
      "division slash is not a regex opener; empty fragments drop")
  }

  test("/write ingests line protocol; precision scales; partial write 400s") {
    val w = post("/write?db=tele&precision=s", "pres,device=c value=900 7\n")
    assert(w.statusCode() == 204, w.body())
    val r = get(s"/query?db=tele&epoch=u&q=${enc("SELECT value FROM pres")}")
    assert(r.body().contains("[7000000, 900.0]"), r.body())
    // malformed line -> 400 partial write, but the good line still landed
    val bad = post("/write?db=tele", "ok,device=c value=1 8000000000\nbroken!")
    assert(bad.statusCode() == 400 && bad.body().contains("partial write"),
      bad.body())
    val ok = get(s"/query?db=tele&epoch=u&q=${enc("SELECT value FROM ok")}")
    assert(ok.body().contains("[8000000, 1.0]"), ok.body())
    // unknown database -> 404; missing db -> 400; GET -> 405
    assert(post("/write?db=ghost", "m,device=x value=1 1").statusCode() == 404)
    assert(post("/write", "m,device=x value=1 1").statusCode() == 400)
    assert(get("/write?db=tele").statusCode() == 405)
    // rp param: the named policy must exist (autogen does; ghost 404s)
    assert(post("/write?db=tele&rp=autogen&precision=s",
      "rpm,device=c value=1 7").statusCode() == 204)
    val badRp = post("/write?db=tele&rp=ghost", "m,device=c value=1 1")
    assert(badRp.statusCode() == 404 &&
      badRp.body().contains("retention policy not found"), badRp.body())
    // well-formed points the narrow layout cannot hold (string field,
    // named field, no device tag) are a 400, never a silent success
    val dropped = post("/write?db=tele",
      "sm,device=c note=\"x\" 8100000000\nsm,device=c used=1 8100000000")
    assert(dropped.statusCode() == 400 &&
      dropped.body().contains("narrow layout"), dropped.body())
    // field type conflict: a float-then-bool flip on one series answers
    // the 1.x partial-write 400 with the conflict shape, point NOT stored
    assert(post("/write?db=tele&precision=s",
      "ftc,device=c value=1.5 9").statusCode() == 204)
    val flip = post("/write?db=tele&precision=s", "ftc,device=c value=t 10")
    assert(flip.statusCode() == 400, flip.body())
    assert(flip.body().contains("partial write: field type conflict") &&
      flip.body().contains("input field \\\"value\\\" on measurement \\\"ftc\\\"") &&
      flip.body().contains("is type boolean, already exists as type float") &&
      flip.body().contains("dropped=1"), flip.body())
    val ftq = get(s"/query?db=tele&epoch=u&q=${enc("SELECT count(value) FROM ftc")}")
    assert(ftq.body().contains("\"values\": [[1]]"),
      s"flip must not commit: ${ftq.body()}")
  }

  test("u/p credentials route through runAs: 401 bad auth, 403 unauthorized") {
    cat.run("CREATE USER boss WITH PASSWORD 'bpw' WITH ALL PRIVILEGES")
    cat.run("CREATE USER viewer WITH PASSWORD 'vpw'")
    cat.run("GRANT READ ON tele TO viewer")
    val sel = enc("SELECT count(value) FROM temp")
    assert(get(s"/query?db=tele&u=viewer&p=WRONG&q=$sel").statusCode() == 401)
    val okR = get(s"/query?db=tele&u=viewer&p=vpw&q=$sel")
    assert(okR.statusCode() == 200 && okR.body().contains("2"), okR.body())
    // EXPLAIN ANALYZE is a READ statement (it runs the SELECT): the read
    // grant admits it and the answer carries observed execution metrics
    val ea = get(s"/query?db=tele&u=viewer&p=vpw&q=${
      enc("EXPLAIN ANALYZE SELECT count(value) FROM temp")}")
    assert(ea.statusCode() == 200 && ea.body().contains("execution: wall_ms=") &&
      ea.body().contains("numOutputRows="), ea.body())
    // viewer may not write: statement authz -> 403, write authz -> 403
    // (mutations go via POST; authorization is checked BEFORE execution)
    assert(post("/query", s"db=tele&u=viewer&p=vpw&q=${
      enc("DROP MEASUREMENT temp")}",
      contentType = "application/x-www-form-urlencoded").statusCode() == 403)
    assert(post("/write?db=tele&u=viewer&p=vpw", "m,device=x value=1 1")
      .statusCode() == 403)
    assert(post("/write?db=tele&u=viewer&p=WRONG", "m,device=x value=1 1")
      .statusCode() == 401)
    // admin writes through the same door
    assert(post("/write?db=tele&u=boss&p=bpw",
      "adm,device=z value=3 9000000000").statusCode() == 204)
    // pre-authorization: EVERY statement is authorized before ANY runs —
    // a later denied statement must not leave the earlier INTO committed
    // (the client will retry the whole request; replays must not stack)
    cat.run("CREATE USER writer WITH PASSWORD 'wpw'")
    cat.run("GRANT ALL ON tele TO writer")
    val mixed = post("/query", s"db=tele&u=writer&p=wpw&q=${enc(
      "SELECT mean(value) INTO agg9 FROM temp GROUP BY time(1000000u); SHOW USERS")}",
      contentType = "application/x-www-form-urlencoded")
    assert(mixed.statusCode() == 403, mixed.body())
    assert(new graft.storage.TxLogTable(spark, s"$root/tele/agg9")
      .version.isEmpty, "statement 0 must not have committed")
    // Authorization: Basic header is the other spelling of u/p
    val basic = java.util.Base64.getEncoder.encodeToString(
      "viewer:vpw".getBytes("UTF-8"))
    val viaHeader = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/query?db=tele&q=$sel"))
        .header("Authorization", s"Basic $basic").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(viaHeader.statusCode() == 200, viaHeader.body())
  }

  test("/query decides 401 and 403 by the failure's type, never by its message") {
    cat.run("CREATE USER texter WITH PASSWORD 'tpw'")
    cat.run("GRANT READ ON tele TO texter")
    // parse errors echo the offending token: that is the statement's own
    // error, not an auth outcome of the whole request
    Seq("not authorized", "authentication failed").foreach { word =>
      val r = get(s"/query?db=tele&u=texter&p=tpw&q=${enc(s"SELECT value FROM temp '$word'")}")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains(""""statement_id": 0, "error"""") &&
        r.body().contains("trailing input") && r.body().contains(word), r.body())
    }
    assert(get(s"/query?db=tele&u=texter&p=WRONG&q=${enc("SELECT value FROM temp")}")
      .statusCode() == 401)
    assert(post("/query", s"db=tele&u=texter&p=tpw&q=${enc("DROP MEASUREMENT temp")}",
      contentType = "application/x-www-form-urlencoded").statusCode() == 403)
  }

  test("control tables are driver-side snapshots: warm requests read none, credentials add no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val croot = java.nio.file.Files.createTempDirectory("control_snapshots").toString
    val c = new InfluxCatalog(spark, croot, defaultDb = "tele")
    c.run("CREATE DATABASE tele")
    c.run("CREATE RETENTION POLICY week ON tele DURATION 7d DEFAULT")
    c.run("CREATE USER reader WITH PASSWORD 'rpw'")
    c.run("GRANT ALL ON tele TO reader")
    c.run("CREATE CONTINUOUS QUERY c0 ON tele BEGIN SELECT count(value) AS n " +
      "INTO cnt FROM temp GROUP BY time(1m) END")
    c.run("CREATE SUBSCRIPTION s0 ON tele.week DESTINATIONS ALL 'mq/s0'")
    val nowNs = System.currentTimeMillis() * 1000000L
    val s = new InfluxHttpServer(c, port = 0)
    s.start()
    val b = s"http://127.0.0.1:${s.boundPort}"
    val sel = s"/query?db=tele&q=${enc("SELECT count(value) FROM temp")}"
    def query(creds: String): Unit = {
      val r = client.send(HttpRequest.newBuilder(URI.create(s"$b$sel$creds")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && !r.body().contains("error"), r.body())
    }
    def write(i: Int): Unit = {
      val r = client.send(HttpRequest.newBuilder(URI.create(s"$b/write?db=tele&u=reader&p=rpw"))
        .POST(HttpRequest.BodyPublishers.ofString(s"temp,device=a value=$i ${nowNs + i}")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 204, r.body())
    }
    val control = Seq("_users", "_grants", "_retention_policies", "_field_types",
      "_continuous_queries", "_subscriptions")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // the plans and job count of everything `body` ran, plus the sentinel's
    // own jobs: both listeners sit on the shared listener queue, so once
    // the sentinel's plan arrived every earlier event did too
    var n = 0
    def observe(body: => Unit): (Seq[String], Int) = {
      plans.clear(); jobs.set(0)
      body
      n += 1
      spark.range(1).toDF(s"control_sentinel_$n").collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def seen = plans.toArray(Array.empty[String]).toSeq
      while (!seen.exists(_.contains(s"control_sentinel_$n")) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.exists(_.contains(s"control_sentinel_$n")), "listeners delivered nothing within 30 s")
      (seen.filterNot(_.contains(s"control_sentinel_$n")), jobs.get())
    }
    def controlReads(ps: Seq[String]) = control.filter(t => ps.exists(_.contains(t)))
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    try {
      // warm-up: the first /write registers the field type, and each table
      // is decoded once, at its first check after a commit
      val (cold, _) = observe { write(0); query(""); query("&u=reader&p=rpw") }
      assert(controlReads(cold).contains("_field_types"), cold)
      val (_, sentinelJobs) = observe(())
      val (anonPlans, anonJobs) = observe(query(""))
      val (credPlans, credJobs) = observe(query("&u=reader&p=rpw"))
      info(s"warm HTTP SELECT: ${anonJobs - sentinelJobs} jobs without credentials, " +
        s"${credJobs - sentinelJobs} with u/p")
      assert(controlReads(anonPlans ++ credPlans).isEmpty, credPlans)
      assert(credJobs == anonJobs, s"u/p added ${credJobs - anonJobs} jobs")
      Seq[(String, () => Unit)](
        "executeAs SELECT" -> (() =>
          c.executeAs("reader", "rpw", "SELECT count(value) FROM temp").collect()),
        "/write of known field types" -> (() => write(1)),
        "retention sweep" -> (() => graft.ServiceMain.retentionSweep(spark, croot)),
        "SHOW SHARDS" -> (() => c.run("SHOW SHARDS").collect())
      ).foreach { case (what, body) =>
        val (ps, _) = observe(body())
        assert(controlReads(ps).isEmpty, s"$what read ${controlReads(ps)}:\n$ps")
      }
    } finally {
      spark.sparkContext.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
      s.stop()
    }
  }

  test("authRequired refuses anonymous requests like auth-enabled InfluxDB") {
    val authed = new InfluxHttpServer(cat, port = 0, authRequired = true)
    authed.start()
    try {
      val b = s"http://127.0.0.1:${authed.boundPort}"
      val anon = client.send(HttpRequest.newBuilder(
        URI.create(s"$b/query?db=tele&q=${enc("SHOW DATABASES")}")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(anon.statusCode() == 401)
      val w = client.send(HttpRequest.newBuilder(URI.create(s"$b/write?db=tele"))
        .POST(HttpRequest.BodyPublishers.ofString("m,device=x value=1 1")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(w.statusCode() == 401)
    } finally authed.stop()
  }

  test("POST /query with a form body carries q like the 1.x clients") {
    val r = post("/query", s"db=tele&epoch=u&q=${enc("SELECT max(value) FROM temp")}",
      contentType = "application/x-www-form-urlencoded")
    assert(r.statusCode() == 200 && r.body().contains("22.0"), r.body())
    // missing q -> 400
    assert(get("/query?db=tele").statusCode() == 400)
  }

  test("chunked=true streams newline-delimited documents with partial flags") {
    val sel = enc("SELECT value FROM temp")
    val r = get(s"/query?db=tele&epoch=u&chunked=true&chunk_size=1&q=$sel")
    assert(r.statusCode() == 200)
    val docs = r.body().trim.split("\n")
    assert(docs.length == 2, r.body())
    // every chunk is a standalone envelope; all but the last marked partial
    assert(docs.forall(_.startsWith("""{"results": [{"statement_id": 0""")))
    assert(docs(0).contains(""""partial": true""") && !docs(1).contains("partial"),
      r.body())
    // chunk rows reassemble to exactly the unchunked result
    val whole = get(s"/query?db=tele&epoch=u&q=$sel").body()
    for (v <- Seq("[1000000, 20.0]", "[2000000, 22.0]"))
      assert(whole.contains(v) && docs.mkString.contains(v), s"$v missing")
    // a chunk_size covering everything yields ONE unmarked document
    val one = get(s"/query?db=tele&epoch=u&chunked=true&chunk_size=100&q=$sel")
    assert(one.body().trim.split("\n").length == 1 && !one.body().contains("partial"))
  }

  test("selector-companion projection survives the chunked streaming path") {
    // the companion shape (selector column + bare-ref riders) is the newest
    // projection to cross the streamed envelope, where user aliases and the
    // helper-column dodge live — drive it end to end through
    // /query?chunked=true and reassemble against the unchunked result
    val sel = enc("SELECT top(value, 2), device FROM temp")
    val r = get(s"/query?db=tele&epoch=u&chunked=true&chunk_size=1&q=$sel")
    assert(r.statusCode() == 200, r.body())
    val docs = r.body().trim.split("\n")
    assert(docs.length == 2, r.body())
    assert(docs.forall(_.contains(""""columns": ["time", "top", "device"]""")),
      r.body())
    assert(docs(0).contains(""""partial": true""") && !docs(1).contains("partial"),
      r.body())
    val whole = get(s"/query?db=tele&epoch=u&q=$sel").body()
    for (v <- Seq("""[2000000, 22.0, "a"]""", """[1000000, 20.0, "a"]"""))
      assert(whole.contains(v) && docs.mkString.contains(v), s"$v missing:\n$whole\n${docs.mkString("\n")}")
    // an aliased companion renames the streamed column the same way
    val aliased = enc("SELECT max(value), device AS dev FROM temp")
    val a = get(s"/query?db=tele&epoch=u&chunked=true&chunk_size=1&q=$aliased")
    assert(a.statusCode() == 200, a.body())
    assert(a.body().contains(""""columns": ["time", "max", "dev"]"""), a.body())
    assert(a.body().contains("""[2000000, 22.0, "a"]"""), a.body())
  }

  test("pretty=true re-indents the envelope losslessly") {
    val sel = enc("SELECT mean(value) FROM temp")
    val compact = get(s"/query?db=tele&epoch=u&q=$sel").body()
    val pretty = get(s"/query?db=tele&epoch=u&pretty=true&q=$sel").body()
    assert(pretty.contains("\n") && pretty.contains("    "), pretty)
    assert(pretty.replaceAll("\\s+", "") == compact.replaceAll("\\s+", ""),
      s"pretty must be a re-spacing of compact:\n$pretty\nvs\n$compact")
  }

  test("prettyJson is a pure re-spacing: seeded envelopes with hostile strings") {
    import graft.streaming.RestRegistryClient.jsonString
    val rnd = new scala.util.Random(4242)
    val hostile = "a{b}[c], \"d\"\\:\n\ttext  with   spaces"
    def randStr(): String =
      (0 until rnd.nextInt(12)).map(_ => hostile(rnd.nextInt(hostile.length))).mkString
    // the inverse walker: drop whitespace OUTSIDE string literals
    def compact(s: String): String = {
      val sb = new StringBuilder
      var in = false
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (in) {
          sb += c
          if (c == '\\' && i + 1 < s.length) { sb += s.charAt(i + 1); i += 1 }
          else if (c == '"') in = false
        } else if (c == '"') { in = true; sb += c }
        else if (!c.isWhitespace) sb += c
        i += 1
      }
      sb.result()
    }
    for (it <- 0 until 200) {
      val doc = s"""{"results": [{"statement_id": 0, "series": [{"name": ${
        jsonString(randStr())}, "columns": [${jsonString(randStr())}], "values": [[${
        jsonString(randStr())}, ${rnd.nextInt(1000)}.5, null, true]]}]}]}"""
      val pretty = graft.http.InfluxHttpServer.prettyJson(doc)
      assert(compact(pretty) == compact(doc),
        s"iter $it pretty mangled the document:\n$doc\n->\n$pretty")
    }
  }

  test("seeded fuzz: /query never 500s and always answers the JSON envelope") {
    val rnd = new scala.util.Random(777)
    val frags = Seq("SELECT", "value", "FROM", "temp", ";", "'a;b'", "/re/",
      "WHERE", "device", "=", "(", ")", "*", "GROUP", "BY", "time(1d)",
      "SHOW", "MEASUREMENTS", "now()", "-", "123", "\"q\"", ",", "\\", "🦆")
    for (it <- 0 until 60) {
      val q = (0 until 1 + rnd.nextInt(8))
        .map(_ => frags(rnd.nextInt(frags.length))).mkString(" ")
      val r = get(s"/query?db=tele&q=${enc(q)}")
      assert(r.statusCode() != 500, s"iter $it '$q' -> 500: ${r.body()}")
      assert(r.body().startsWith("{\"results\"") || r.body().startsWith("{\"error\""),
        s"iter $it '$q' -> ${r.body().take(100)}")
    }
  }

  test("bind parameters substitute outside quotes; missing bindings 400") {
    val q = enc("SELECT value FROM temp WHERE device = $d AND value > $lo")
    val bound = get(s"/query?db=tele&epoch=u&q=$q&params=${
      enc("""{"d": "a", "lo": 21}""")}")
    assert(bound.statusCode() == 200 && bound.body().contains("[2000000, 22.0]") &&
      !bound.body().contains("20.0"), bound.body())
    // a '$' inside a string literal is data, not a placeholder
    val lit = get(s"/query?db=tele&epoch=u&params=${enc("""{"d": "a"}""")}&q=${
      enc("SELECT count(value) FROM temp WHERE device = $d AND device != '$d'")}")
    assert(lit.statusCode() == 200 && lit.body().contains("2"), lit.body())
    // missing binding and malformed params both 400 with the reason
    assert(get(s"/query?db=tele&q=${enc("SELECT value FROM temp WHERE device = $nope")}")
      .statusCode() == 400)
    val bad = get(s"/query?db=tele&q=$q&params=${enc("not-json")}")
    assert(bad.statusCode() == 400 && bad.body().contains("params"), bad.body())
    // helper-level: parser handles escapes, booleans, numbers; rejects
    // the one thing the dialect cannot quote
    import graft.http.InfluxHttpServer.{bindParams, parseBindParams}
    assert(parseBindParams("""{"s": "a\"b", "b": true, "n": -1.5e2}""") ==
      Map("s" -> "'a\"b'", "b" -> "true", "n" -> "-1.5e2"))
    assert(intercept[IllegalArgumentException](
      parseBindParams("""{"s": "o'brien"}""")).getMessage.contains("single quote"))
    assert(bindParams("x = $a AND y = '$a'", Map("a" -> "1")) ==
      "x = 1 AND y = '$a'")
  }

  test("gzip-encoded /write bodies inflate transparently (influxdb-python gzip=True)") {
    val bout = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bout)
    gz.write("gzm,device=g value=7 9500000000\n".getBytes("UTF-8"))
    gz.close()
    val r = client.send(java.net.http.HttpRequest.newBuilder(
      URI.create(s"$base/write?db=tele"))
      .header("Content-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofByteArray(bout.toByteArray)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 204, r.body())
    val q = get(s"/query?db=tele&epoch=u&q=${enc("SELECT value FROM gzm")}")
    assert(q.body().contains("[9500000, 7.0]"), q.body())
  }

  test("regex-FROM results split into one named series per measurement") {
    val r = get(s"/query?db=tele&epoch=u&q=${enc("SELECT count(value) FROM /^(temp|hum)$/")}")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""name": "hum"""") &&
      r.body().contains(""""name": "temp""""), r.body())
    assert(!r.body().contains("measurement"), "the split column is consumed")
  }

  test("concurrent requests run in parallel on the handler pool") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sel = enc("SELECT count(value) FROM temp")
    val fs = (0 until 6).map(_ => Future(get(s"/query?db=tele&q=$sel")))
    val rs = Await.result(Future.sequence(fs), 60.seconds)
    assert(rs.forall(_.statusCode() == 200), rs.map(_.statusCode()))
    // while queries run concurrently, each gets its OWN registry window
    // (thread-local job groups) — nothing lingers afterwards
    assert(cat.run("SHOW QUERIES").collect().isEmpty)
  }

  test("concurrent /write requests to one database all land exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    cat.run("CREATE DATABASE race")
    val n = 16
    val lines = 25
    // every request races the others on the same points table AND on the
    // first-seen registration of the same field
    val fs = (0 until n).map { j =>
      Future(post("/write?db=race&precision=u", (0 until lines).map { l =>
        s"rw,device=d${l % 4} value=$j.$l ${1000000L + j * lines + l}"
      }.mkString("\n")))
    }
    val rs = Await.result(Future.sequence(fs), 120.seconds)
    assert(rs.forall(_.statusCode() == 204), rs.map(r => s"${r.statusCode()} ${r.body()}"))
    val ts = cat.points("race").select("ts_us").as[Long].collect()
    assert(ts.length == n * lines, s"${ts.length} points for ${n * lines} lines")
    assert(ts.toSet == (0 until n * lines).map(1000000L + _).toSet)
    assert(cat.fieldTypes("race") == Map(("rw", "value") -> "float"))
  }

  test("review regressions: GROUP BY * tags, typo'd GET, corrupt gzip") {
    // GROUP BY * must answer the SAME tagged-series shape as naming the
    // tags — the starred form expands at plan time
    val star = get(s"/query?db=tele&epoch=u&q=${
      enc("SELECT count(value) AS c FROM temp GROUP BY *")}")
    assert(star.body().contains(""""tags": {"device": "a"}"""), star.body())
    // a typo'd keyword over GET answers its parse error, never the
    // misleading "requires POST" (it cannot run through either method)
    val typo = get(s"/query?db=tele&q=${enc("SELCT value FROM temp")}")
    assert(typo.statusCode() == 200 &&
      typo.body().contains("error") && !typo.body().contains("POST"),
      typo.body())
    // corrupt gzip body -> 400, not 500
    val badGz = client.send(HttpRequest.newBuilder(
      URI.create(s"$base/write?db=tele"))
      .header("Content-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofString("not gzip at all")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(badGz.statusCode() == 400 &&
      badGz.body().contains("gzip"), s"${badGz.statusCode()} ${badGz.body()}")
  }

  test("/query rejects methods other than GET and POST with 405") {
    // InfluxDB 405s PUT/DELETE/PATCH on /query — they must not slip past
    // the GET-only mutation gate and run DDL
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"$base/query?db=tele&q=${enc("DROP DATABASE tele")}"))
      .method("DELETE", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 405, s"${r.statusCode()} ${r.body()}")
    assert(r.headers().firstValue("Allow").orElse("") == "GET, POST")
    assert(cat.databaseExists("tele"), "the DELETE-carried DDL must not run")
    val put = client.send(HttpRequest.newBuilder(
      URI.create(s"$base/query?db=tele&q=${enc("SELECT value FROM temp")}"))
      .PUT(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(put.statusCode() == 405)
  }

  test("chunked=true streams a result much larger than one chunk with bounded driver slices") {
    cat.run("CREATE DATABASE bulk")
    val n = 5000
    cat.writePoints("bulk",
      (0 until n).map(i => ("dev", "big", i.toLong * 1000000L, i.toDouble))
        .toDF("device", "transducer", "ts_us", "value"))
    val sel = enc("SELECT value FROM big")
    val r = get(s"/query?db=bulk&epoch=u&chunked=true&chunk_size=250&q=$sel")
    assert(r.statusCode() == 200)
    val docs = r.body().trim.split("\n")
    assert(docs.length == n / 250, s"expected ${n / 250} chunks, got ${docs.length}")
    // every chunk is a standalone envelope; all but the last statement-partial
    assert(docs.forall(_.startsWith("""{"results": [{"statement_id": 0""")))
    assert(docs.dropRight(1).forall(_.endsWith(""""partial": true}]}""")), "non-final chunks partial")
    assert(!docs.last.contains("partial"), docs.last)
    // the chunk rows reassemble to exactly the unchunked result (the
    // shared iterator spine guarantees it; this pins the contract)
    def rows(doc: String): Seq[String] =
      """\[(\d+), ([0-9.]+)\]""".r.findAllIn(doc).toSeq
    val reassembled = docs.toSeq.flatMap(rows)
    assert(reassembled.size == n)
    // spot the ends and order (values are i at time i*1e6 µs)
    assert(reassembled.head == "[0, 0.0]" && reassembled.last == s"[${(n - 1) * 1000000L}, ${n - 1}.0]")
  }

  test("unchunked /query truncates at max-row-limit with partial: true") {
    val limited = new InfluxHttpServer(cat, port = 0, maxRowLimit = 100)
    limited.start()
    try {
      val b = s"http://127.0.0.1:${limited.boundPort}"
      val r = client.send(HttpRequest.newBuilder(URI.create(
        s"$b/query?db=bulk&epoch=u&q=${enc("SELECT value FROM big")}")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      val vals = """\[\d+, [0-9.]+\]""".r.findAllIn(r.body()).size
      assert(vals == 100, s"expected 100 rows, got $vals")
      // both the cut series and the statement flag partial — the client's
      // signal to re-issue with chunked=true
      assert(r.body().contains(""""partial": true}]"""), r.body())
      assert(r.body().endsWith(""""partial": true}]}"""), r.body().takeRight(60))
      // chunked responses on the same server are NOT row-limited: chunking
      // already bounds memory, so the full result streams
      val ch = client.send(HttpRequest.newBuilder(URI.create(
        s"$b/query?db=bulk&epoch=u&chunked=true&chunk_size=1000&q=${
          enc("SELECT count(value) FROM big")}")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ch.body().contains("5000"), ch.body())
    } finally limited.stop()
  }

  test("GROUP BY * splits on the planner's tag set, not on string-typed result columns") {
    // the splitter keys on the catalog's plan-time resolution
    // (resolvedGroupTags), never on sniffing result column types — the
    // seam, pinned: GROUP BY * expands to the routed db's schema tags,
    // named tags pass verbatim, time-only grouping and non-SELECT
    // statements split on nothing (SHOW results are full of string
    // columns that must never be mistaken for tags)
    assert(cat.resolvedGroupTags("SELECT count(value) FROM temp GROUP BY *") == Seq("device"))
    assert(cat.resolvedGroupTags("SELECT count(value) FROM temp GROUP BY device") == Seq("device"))
    assert(cat.resolvedGroupTags(
      "SELECT count(value) FROM temp GROUP BY time(1000000u)").isEmpty)
    assert(cat.resolvedGroupTags("SHOW MEASUREMENTS").isEmpty)
    assert(cat.resolvedGroupTags("DROP SERIES FROM temp").isEmpty)
    // over HTTP: the starred and named forms answer the same tagged shape,
    // and the aliased aggregate column stays in values
    val star = get(s"/query?db=tele&epoch=u&q=${
      enc("SELECT count(value) AS c FROM temp GROUP BY *")}")
    val named = get(s"/query?db=tele&epoch=u&q=${
      enc("SELECT count(value) AS c FROM temp GROUP BY device")}")
    assert(star.statusCode() == 200 && star.body() == named.body(),
      s"star:\n${star.body()}\nnamed:\n${named.body()}")
    assert(star.body().contains(""""tags": {"device": "a"}"""), star.body())
    assert(star.body().contains("\"c\""), star.body())
    // a SHOW result's string columns stay value columns, one plain series
    val show = get(s"/query?db=tele&q=${enc("SHOW MEASUREMENTS")}")
    assert(show.statusCode() == 200 && !show.body().contains(""""tags""""),
      show.body())
  }

  test("https: TLS round-trip write->query; plaintext to the TLS port fails") {
    // server side: the checked-in keystore's key + cert exported as the
    // combined PEM form InfluxDB's https-certificate uses
    val combined = exportCombinedTlsPem()
    val tls = new InfluxHttpServer(cat, port = 0,
      ssl = Some(GraftConfig.serverSslContext(combined.toString)))
    tls.start()
    try {
      // client side: trust-only context from the CA pem (the same seam the
      // MQTT TLS leg's clients use)
      val caPem = exportCaPem()
      val tlsClient = HttpClient.newBuilder()
        .sslContext(GraftConfig.sslContextFromCaFile(caPem.toString)).build()
      val b = s"https://127.0.0.1:${tls.boundPort}"
      val w = tlsClient.send(HttpRequest.newBuilder(URI.create(s"$b/write?db=tele"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "tlsm,device=s value=5 9700000000")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(w.statusCode() == 204, w.body())
      val q = tlsClient.send(HttpRequest.newBuilder(URI.create(
        s"$b/query?db=tele&epoch=u&q=${enc("SELECT value FROM tlsm")}")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200 && q.body().contains("[9700000, 5.0]"), q.body())
      // a plaintext request to the TLS port must fail, never half-answer
      intercept[java.io.IOException] {
        client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${tls.boundPort}/ping")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      }
      // an untrusting client refuses the handshake
      intercept[java.io.IOException] {
        HttpClient.newHttpClient().send(HttpRequest.newBuilder(
          URI.create(s"$b/ping")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      }
    } finally tls.stop()
  }

  test("property: chunked responses reassemble to the unchunked document for random shapes") {
    // the chunked contract, fuzzed the way the pretty printer is: for
    // random statement mixes (multi-series GROUP BY, single series, empty,
    // one-row aggregate, per-statement error) and random chunk_size,
    // (1) concatenating chunk rows per series rebuilds EXACTLY the
    // unchunked document, (2) no chunk exceeds chunk_size rows, and
    // (3) partial flags are consistent: a series flags partial iff its
    // next chunk continues it, a statement iff any chunk follows it
    cat.run("CREATE DATABASE fz")
    val rows = for (d <- 0 until 5; i <- 0 until 12; m <- Seq("fm", "gm"))
      yield (s"d$d", m, (d * 100 + i).toLong * 1000000L, (d * 100 + i).toDouble)
    cat.writePoints("fz", rows.toDF("device", "transducer", "ts_us", "value"))

    // one chunk document, decomposed (our own compact rendering; the data
    // carries no hostile strings, so the string ops below are exact)
    case class Chunk(stmt: Int, error: Option[String], name: String,
                     tags: String, columns: String, values: String,
                     seriesPartial: Boolean, stmtPartial: Boolean,
                     emptySeries: Boolean)
    def balanced(doc: String, from: Int): String = {
      var depth = 0; var j = from
      while ({ val c = doc.charAt(j)
               if (c == '[' || c == '{') depth += 1
               else if (c == ']' || c == '}') depth -= 1
               depth != 0 }) j += 1
      doc.substring(from, j + 1)
    }
    def field(doc: String, key: String): Option[String] = {
      val k = s""""$key": """
      val i = doc.indexOf(k)
      if (i < 0) None else Some(balanced(doc, i + k.length))
    }
    def parseChunk(doc: String): Chunk = {
      val stmt = """"statement_id": (\d+)""".r.findFirstMatchIn(doc).get.group(1).toInt
      val err = """"error": ("[^"]*")""".r.findFirstMatchIn(doc).map(_.group(1))
      val stmtPartial = doc.endsWith(""""partial": true}]}""") && err.isEmpty
      if (err.nonEmpty) Chunk(stmt, err, "", "", "", "", false, stmtPartial, false)
      else field(doc, "series") match {
        case Some("[]") => Chunk(stmt, None, "", "", "", "", false, stmtPartial, true)
        case Some(ser) =>
          val name = """"name": "([^"]*)"""".r.findFirstMatchIn(ser).get.group(1)
          val tags = field(ser, "tags").getOrElse("")
          val cols = field(ser, "columns").get
          val vals = field(ser, "values").get
          // series-level partial: inside the one series object, after values
          val inner = balanced(ser, ser.indexOf('{'))
          val seriesPartial = inner.endsWith(""""partial": true}""")
          Chunk(stmt, None, name, tags, cols, vals.drop(1).dropRight(1),
            seriesPartial, stmtPartial, false)
        case None => fail(s"chunk without series or error: $doc")
      }
    }
    def reassemble(chunks: Seq[Chunk]): String = {
      val stmts = chunks.foldLeft(Vector.empty[Vector[Chunk]]) { (acc, c) =>
        if (acc.nonEmpty && acc.last.head.stmt == c.stmt) acc.init :+ (acc.last :+ c)
        else acc :+ Vector(c)
      }
      stmts.map { cs =>
        val i = cs.head.stmt
        cs.head.error match {
          case Some(e) => s"""{"statement_id": $i, "error": $e}"""
          case None if cs.head.emptySeries => s"""{"statement_id": $i, "series": []}"""
          case None =>
            val merged = cs.foldLeft(Vector.empty[Chunk]) { (acc, c) =>
              if (acc.nonEmpty && acc.last.name == c.name && acc.last.tags == c.tags)
                acc.init :+ acc.last.copy(values =
                  if (c.values.isEmpty) acc.last.values
                  else s"${acc.last.values}, ${c.values}")
              else acc :+ c
            }
            val sers = merged.map { c =>
              val tags = if (c.tags.isEmpty) "" else s""", "tags": ${c.tags}"""
              s"""{"name": "${c.name}"$tags, "columns": ${c.columns}, "values": [${c.values}]}"""
            }
            s"""{"statement_id": $i, "series": [${sers.mkString(", ")}]}"""
        }
      }.mkString("""{"results": [""", ", ", "]}")
    }

    val shapes = Seq(
      "SELECT value FROM fm GROUP BY device",
      "SELECT value FROM fm WHERE device = 'd0'",
      "SELECT count(value) FROM fm",
      "SELECT value FROM fm WHERE device = 'zz'",
      "SELECT nope(value) FROM fm",
      // measurement-split × tag-split: one named series per (measurement,
      // device) pair, chunk boundaries never crossing either
      "SELECT count(value) FROM /m$/ GROUP BY device",
      "SELECT mean(value) FROM /^(fm|gm)$/")
    val rnd = new scala.util.Random(20260814)
    for (it <- 0 until 15) {
      val q = (0 to rnd.nextInt(2))
        .map(_ => shapes(rnd.nextInt(shapes.length))).mkString("; ")
      val cs = 1 + rnd.nextInt(20)
      val whole = get(s"/query?db=fz&epoch=u&q=${enc(q)}")
      val chunkedR = get(s"/query?db=fz&epoch=u&chunked=true&chunk_size=$cs&q=${enc(q)}")
      assert(whole.statusCode() == 200 && chunkedR.statusCode() == 200, s"iter $it '$q'")
      val chunks = chunkedR.body().trim.split("\n").toSeq.map(parseChunk)
      assert(reassemble(chunks) == whole.body(),
        s"iter $it '$q' cs=$cs reassembly mismatch:\n${reassemble(chunks)}\nvs\n${whole.body()}")
      chunks.zipWithIndex.foreach { case (c, k) =>
        val next = chunks.lift(k + 1)
        val nRows = if (c.values.isEmpty) 0 else balancedRowCount(c.values)
        assert(nRows <= cs, s"iter $it chunk $k carries $nRows > $cs rows")
        assert(c.stmtPartial == next.exists(_.stmt == c.stmt),
          s"iter $it chunk $k statement partial flag wrong")
        assert(c.seriesPartial == next.exists(n =>
          n.stmt == c.stmt && n.name == c.name && n.tags == c.tags && !n.emptySeries),
          s"iter $it chunk $k series partial flag wrong")
      }
    }
  }

  /** Top-level row count of a values-array INNER text: `[..], [..]` = 2. */
  private def balancedRowCount(inner: String): Int = {
    var depth = 0; var n = 0
    inner.foreach { c =>
      if (c == '[') { depth += 1; if (depth == 1) n += 1 }
      else if (c == ']') depth -= 1
    }
    n
  }

  test("epoch=ns past Long range renders the exact integer, never a wrapped long") {
    // the engine's µs storage is 1000x wider than InfluxDB's ns storage:
    // a legally-written coarse-precision point can sit beyond Long in ns.
    // The renderer answers the exact big-integer text there — silent
    // wraparound (us * 1000 in long arithmetic) is the one wrong answer
    val raw = 2562047788L // == LineProtocol.maxRawTs(hour precision)
    assert(raw == graft.influxql.LineProtocol.maxRawTs(3600L * 1000000000L))
    val w = post("/write?db=tele&precision=h", s"bigts,device=z value=1 $raw")
    assert(w.statusCode() == 204, w.body())
    val us = raw * 3600000000L
    val r = get(s"/query?db=tele&epoch=ns&q=${enc("SELECT value FROM bigts")}")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains(s"[${BigInt(us) * 1000}, 1.0]"), r.body())
    assert(!r.body().contains(s"[${us * 1000L}, 1.0]"),
      s"wrapped long must not render: ${r.body()}")
    // in-range times keep the plain long path (the oracle-gated epochOf)
    assert(graft.http.InfluxHttpServer.epochOf(us / 1000000L, "ns") == us / 1000000L * 1000L)
  }

  test("/debug/vars and /metrics expose the listener's counters; auth gates them") {
    // drive some traffic so the counters move: a ping, a query, a good
    // write, a partial write
    get("/ping")
    get(s"/query?db=tele&q=${enc("SELECT count(value) FROM temp")}")
    assert(post("/write?db=tele", "mon,device=m value=1 9800000000").statusCode() == 204)
    assert(post("/write?db=tele", "broken!!").statusCode() == 400)
    val vars = get("/debug/vars")
    assert(vars.statusCode() == 200, vars.body())
    def counter(name: String): Long =
      ("\"" + name + "\": (\\d+)").r.findFirstMatchIn(vars.body())
        .getOrElse(fail(s"$name missing from ${vars.body()}")).group(1).toLong
    assert(counter("pingReq") >= 1 && counter("queryReq") >= 1)
    assert(counter("writeReq") >= 2 && counter("writeOk") >= 1)
    assert(counter("partialWrites") >= 1 && counter("clientError") >= 1)
    assert(counter("pointsWrittenLines") >= 2)
    assert(counter("queriesExecuted") >= 1 && counter("queriesActive") == 0)
    assert(counter("heapMaxBytes") > 0)
    // the same counters in Prometheus text exposition, TYPE-annotated
    val m = get("/metrics")
    assert(m.statusCode() == 200)
    assert(m.headers().firstValue("Content-Type").orElse("").startsWith("text/plain"))
    assert(m.body().contains("# TYPE graft_httpd_query_req counter"), m.body())
    assert(m.body().contains("# TYPE graft_query_executor_queries_active gauge"))
    assert("graft_httpd_write_ok (\\d+)".r.findFirstMatchIn(m.body())
      .exists(_.group(1).toLong >= 1), m.body())
    // per-endpoint duration summaries: present, typed, and they MOVE with
    // traffic (count up, sum up, quantiles real once requests flowed)
    assert(m.body().contains("# TYPE graft_httpd_query_duration_seconds summary"), m.body())
    assert(m.body().contains("# TYPE graft_httpd_write_duration_seconds summary"))
    def summaryCount(body: String, ep: String): Long =
      s"graft_httpd_${ep}_duration_seconds_count (\\d+)".r.findFirstMatchIn(body)
        .getOrElse(fail(s"${ep} summary count missing from $body")).group(1).toLong
    def summarySum(body: String, ep: String): Double =
      s"graft_httpd_${ep}_duration_seconds_sum ([0-9.E-]+)".r.findFirstMatchIn(body)
        .getOrElse(fail(s"${ep} summary sum missing")).group(1).toDouble
    val (qc0, wc0) = (summaryCount(m.body(), "query"), summaryCount(m.body(), "write"))
    assert(qc0 >= 1 && wc0 >= 2, s"traffic above must have recorded: q=$qc0 w=$wc0")
    assert(summarySum(m.body(), "query") > 0.0)
    assert(("""graft_httpd_query_duration_seconds\{quantile="0.99"\} ([0-9.E-]+)""").r
      .findFirstMatchIn(m.body()).exists(_.group(1).toDouble > 0.0), m.body())
    get(s"/query?db=tele&q=${enc("SELECT count(value) FROM temp")}")
    val m2 = get("/metrics")
    assert(summaryCount(m2.body(), "query") == qc0 + 1, "the summary must move")
    assert(summarySum(m2.body(), "query") > summarySum(m.body(), "query"))
    // method + auth discipline match the rest of the face
    val del = client.send(HttpRequest.newBuilder(URI.create(s"$base/debug/vars"))
      .method("DELETE", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 405)
    val authed = new InfluxHttpServer(cat, port = 0, authRequired = true)
    authed.start()
    try {
      val b = s"http://127.0.0.1:${authed.boundPort}"
      val anon = client.send(HttpRequest.newBuilder(
        URI.create(s"$b/debug/vars")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(anon.statusCode() == 401, s"${anon.statusCode()} ${anon.body()}")
      val wrongPw = client.send(HttpRequest.newBuilder(
        URI.create(s"$b/metrics?u=viewer&p=WRONG")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(wrongPw.statusCode() == 401)
      val ok = client.send(HttpRequest.newBuilder(
        URI.create(s"$b/debug/vars?u=viewer&p=vpw")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200, s"${ok.statusCode()} ${ok.body()}")
    } finally authed.stop()
  }

  test("GROUP BY tags answer one series per tag set with a tags object") {
    val r = get(s"/query?db=tele&epoch=u&q=${
      enc("SELECT count(value) AS c FROM temp GROUP BY device")}")
    assert(r.statusCode() == 200)
    // the influxdb-python resultset shape: tag values live in "tags",
    // never in the value rows
    assert(r.body().contains(""""name": "temp", "tags": {"device": "a"}"""),
      r.body())
    val devSeries = r.body().split("""\{"name"""").count(_.contains("tags"))
    assert(devSeries >= 1 && !r.body().contains("""["a","""),
      s"tag values must not remain in values: ${r.body()}")
  }
}
