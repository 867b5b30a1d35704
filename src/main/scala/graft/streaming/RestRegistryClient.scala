package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** REST implementation of the control-plane seams the engine injects:
  * device lookup (the reference's `get_device`, influx_service.py:276-307)
  * and transducer auto-create (the POST at influx_service.py:249-274).
  *
  * Runs DRIVER-SIDE only: the data plane's [[AutoCreate]] step finds the
  * bounded set of unseen keys per micro-batch and invokes the CreateFn
  * there, so this client is never serialized to executors and holds its
  * connection pool in one place — the same topology as the reference's
  * single-process client.
  *
  * Failure policy (the part the reference leaves to its bare except):
  *   - 5xx / IO errors: transient — retry with exponential backoff
  *   - 409 on create: the transducer already exists — SUCCESS. This is what
  *     makes create retry-idempotent: a retry after a timed-out-but-applied
  *     POST converges instead of erroring
  *   - 404 on lookup: device absent — None, not an error (the reference
  *     returns None for missing devices)
  *   - other 4xx: permanent — fail fast, retrying cannot help
  */
class RestRegistryClient(baseUrl: String,
                         maxAttempts: Int = 5,
                         backoffMs: Long = 50,
                         headers: Map[String, String] = Map.empty) {
  require(maxAttempts >= 1, "maxAttempts must be >= 1")

  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  private def request(method: String, path: String, body: Option[String]): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(s"$baseUrl$path"))
      .timeout(Duration.ofSeconds(30))
    headers.foreach { case (k, v) => b.header(k, v) }
    body match {
      case Some(j) => b.header("Content-Type", "application/json")
        .method(method, HttpRequest.BodyPublishers.ofString(j))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    b.build()
  }

  /** Send with retry on transient failures; returns the terminal response. */
  private def send(req: HttpRequest): HttpResponse[String] = {
    var attempt = 0
    var last: Either[Throwable, HttpResponse[String]] = null
    while (attempt < maxAttempts) {
      last =
        try {
          val r = client.send(req, HttpResponse.BodyHandlers.ofString())
          if (r.statusCode() < 500) return r // success or permanent 4xx
          Right(r)
        } catch { case e: java.io.IOException => Left(e) }
      attempt += 1
      if (attempt < maxAttempts) Thread.sleep(backoffMs << (attempt - 1))
    }
    last match {
      case Right(r) => r
      case Left(e)  => throw new java.io.IOException(
        s"${req.method()} ${req.uri()} failed after $maxAttempts attempts", e)
    }
  }

  /** R13 — device document lookup; None on 404. */
  def getDevice(deviceId: String): Option[String] = {
    val r = send(request("GET", s"/device/$deviceId", None))
    r.statusCode() match {
      case c if c >= 200 && c < 300 => Some(r.body())
      case 404                      => None
      case c => throw new java.io.IOException(s"GET device/$deviceId -> HTTP $c: ${r.body()}")
    }
  }

  /** Transducer names from the device document (`{"transducers":
    * [{"name": ...}, ...]}`, the shape q_registry_explode roundtrips).
    * Only names INSIDE the transducers array count — device documents also
    * carry a top-level device name and owner sub-documents with their own
    * `name` fields, which must not be reported as transducers. Names are
    * lower-cased like the ingest path (influx_service.py:139).
    */
  def deviceTransducers(deviceId: String): Seq[String] =
    getDevice(deviceId).toSeq.flatMap { doc =>
      val arr = """(?s)"transducers"\s*:\s*\[(.*?)\]""".r
        .findFirstMatchIn(doc).map(_.group(1)).getOrElse("")
      """"name"\s*:\s*"([^"]*)"""".r.findAllMatchIn(arr).map(_.group(1).toLowerCase).toSeq
    }

  /** R14 — idempotent transducer create: 2xx and 409 (already exists) both
    * count as success, so replays and concurrent creators converge.
    * The name is JSON-escaped: it comes from a publisher-controlled topic
    * segment, so raw interpolation would let one crafted topic inject
    * fields (or produce invalid JSON and wedge the auto-create stream on a
    * permanent 400).
    */
  def createTransducer(deviceId: String, transducer: String): Unit = {
    val body = s"""{"name": ${RestRegistryClient.jsonString(transducer)}, "unit": "", "is_actuable": false}"""
    val r = send(request("POST", s"/device/$deviceId/transducer", Some(body)))
    r.statusCode() match {
      case c if c >= 200 && c < 300 => ()
      case 409                      => () // already exists: the idempotence point
      case c => throw new java.io.IOException(
        s"POST device/$deviceId/transducer -> HTTP $c: ${r.body()}")
    }
  }

  /** Adapter for the [[AutoCreate]] seam. */
  def createFn: AutoCreate.CreateFn = (d, t) => createTransducer(d, t)

  /** R12 — the ids of the things linked to the service:
    * `GET /service/<sid>/things` returns a JSON array of thing documents;
    * the reference reads each element's `id` and then loads that device's
    * transducers via [[getDevice]] (`load_devices`,
    * influx_service.py:344-362). Returns Nil on 404 (service not found /
    * nothing linked) like the lookup path.
    */
  def serviceThings(serviceId: String): Seq[String] = {
    val r = send(request("GET", s"/service/$serviceId/things", None))
    r.statusCode() match {
      case c if c >= 200 && c < 300 =>
        """"id"\s*:\s*"([^"]*)"""".r.findAllMatchIn(r.body()).map(_.group(1)).toSeq
      case 404 => Nil
      case c => throw new java.io.IOException(
        s"GET service/$serviceId/things -> HTTP $c: ${r.body()}")
    }
  }
}

object RestRegistryClient {
  /** Minimal JSON string encoder (quote + escape specials and controls). */
  private[graft] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
