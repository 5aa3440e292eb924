package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.JsonNode

/** One request the load generator can send: its HTTP form, the direct
  * Engine call that serves the same thing, and the check of the answer.
  * `check` returns None when the body is right, else what is wrong.
  */
final case class Req(kind: String, variant: String, port: Int, method: String,
    pathAndQuery: String, body: String, direct: () => String,
    check: JsonNode => Option[String])

/** A closed-loop HTTP client: one connection, one request at a time. */
final class Client {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** (status, body) of one round trip. */
  def send(r: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${r.port}${r.pathAndQuery}"))
      .timeout(Duration.ofSeconds(60))
    val req =
      if (r.method == "POST") b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      else b.GET().build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

object Check {

  /** (None, parsed body) when `body` is a 200 answer that passes
    * `r.check`; otherwise what is wrong.
    */
  def verdict(r: Req, status: Int, body: String): (Option[String], Option[JsonNode]) =
    if (status != 200) (Some(s"HTTP $status ${body.take(200)}"), None)
    else direct(r, body)

  /** The same check for a direct Engine answer. */
  def direct(r: Req, body: String): (Option[String], Option[JsonNode]) =
    if (body.startsWith("""{"error"""")) (Some(body.take(300)), None)
    else scala.util.Try(Json.parse(body)).toOption match {
      case None => (Some(s"unparseable body ${body.take(200)}"), None)
      case Some(js) =>
        val v = try r.check(js)
        catch { case e: Exception => Some(s"check threw $e") }
        (v, Some(js))
    }

  def records(js: JsonNode): Seq[JsonNode] = {
    val rs = js.get("records")
    require(rs != null && rs.isArray, "no records array")
    (0 until rs.size()).map(rs.get)
  }

  def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** A served purchase event against the generator's formulas. */
  def event(rec: JsonNode): Option[String] = {
    val e = Gen.Event(rec.get("timestamp").asLong())
    val ud = rec.get("user_details")
    val prev = rec.get("previous_purchases")
    val ok = rec.get("user_id").asText() == e.userId &&
      rec.get("action").asText() == "purchase" &&
      near(rec.get("amount").asDouble(), e.amount) &&
      ud.get("name").asText() == e.name && ud.get("age").asInt() == e.age &&
      ud.get("email").asText() == e.email &&
      prev.size() == 3 && (0 until 3).forall(i => near(prev.get(i).asDouble(), e.previous(i))) &&
      rec.get("purchase_metadata").get("device").asText() == "mobile"
    if (ok) None else Some(s"event fields wrong for ts ${e.ts}: ${rec.toString.take(200)}")
  }

  def all(checks: Seq[Option[String]]): Option[String] = checks.flatten.headOption

  def pruned(js: JsonNode): (Long, Long) = {
    val p = js.get("pruned")
    require(p != null, "no pruned audit")
    (p.get("kept").asLong(), p.get("total").asLong())
  }
}
