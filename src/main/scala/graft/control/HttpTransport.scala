package graft.control

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.time.Duration
import org.json4s._
import org.json4s.jackson.JsonMethods

/** S1 live transport: the CDS async-retrieval protocol over
  * `java.net.http` (reference src/sources/era5monthly.js:172-195):
  * `POST {base}/resources/{name}` → `{request_id}`,
  * `GET {base}/tasks/{id}` → `{state, location?, error?}`, then download
  * the result — `location` may be absolute or relative to the base. The
  * polling cadence, backoff, and keepalive live in
  * [[AsyncJobClient.download]]/[[Scheduler.pollBackoff]]; this class is
  * transport only, so the protocol state machine stays testable against
  * the stub api and this impl stays a thin, obviously-correct adapter.
  *
  * Driver-side connector code (data lands before Spark reads it) — no
  * executor ever holds an HttpClient.
  */
final class HttpAsyncJobApi(baseUrl: String, resource: String,
                            authHeader: Option[String] = None,
                            client: HttpClient =
                              HttpClient.newBuilder()
                                .connectTimeout(Duration.ofSeconds(30)).build())
    extends AsyncJobApi {
  implicit private val formats: Formats = DefaultFormats

  private val base = baseUrl.stripSuffix("/")
  // the completed reply's location, cached per task by the status poll so
  // location() needs no extra round trip
  private val locations = scala.collection.concurrent.TrieMap.empty[String, String]

  private def withAuth(b: HttpRequest.Builder): HttpRequest.Builder =
    authHeader.fold(b)(a => b.header("Authorization", a))

  private def getJson(url: String): JValue = {
    val req = withAuth(HttpRequest.newBuilder(URI.create(url))).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2, s"GET $url -> HTTP ${resp.statusCode()}")
    JsonMethods.parse(resp.body())
  }

  /** POST the request JSON; the reply's `request_id` is the task handle. */
  override def submit(request: Map[String, String]): String = {
    val body = org.json4s.jackson.Serialization.write(request)
    val req = withAuth(HttpRequest.newBuilder(URI.create(s"$base/resources/$resource")))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2,
      s"submit $resource -> HTTP ${resp.statusCode()}: ${resp.body()}")
    (JsonMethods.parse(resp.body()) \ "request_id").extract[String]
  }

  override def status(taskId: String): String = {
    val reply = getJson(s"$base/tasks/$taskId")
    val state = (reply \ "state").extract[String]
    if (state == "completed")
      (reply \ "location").extractOpt[String].foreach(locations.put(taskId, _))
    state
  }

  /** Absolute result URL (relative locations resolve against the base, as
    * era5monthly.js:188-190 does).
    */
  override def location(taskId: String): String = {
    val loc = locations.getOrElse(taskId, {
      val reply = getJson(s"$base/tasks/$taskId")
      (reply \ "location").extract[String]
    })
    if (loc.startsWith("http://") || loc.startsWith("https://")) loc
    else s"$base/$loc"
  }

  /** Download to `dest` (temp + atomic move, K3); a multipart/byteranges
    * body is reassembled exactly as the reference's download tail (S2,
    * [[Byteranges.payloadOf]]).
    */
  override def fetch(location: String, dest: Path): Path = {
    val req = withAuth(HttpRequest.newBuilder(URI.create(location))).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    require(resp.statusCode() / 100 == 2, s"GET $location -> HTTP ${resp.statusCode()}")
    val contentType = resp.headers().firstValue("Content-Type").orElse("")
    val payload = Byteranges.payloadOf(resp.body(), contentType)
    graft.AtomicFile.write(dest, payload)
  }
}
