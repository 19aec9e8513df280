package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** A reply as the client saw it: status, parsed body (None when the
  * body is not valid JSON) and wall-clock latency.
  */
final case class Reply(status: Int, json: Option[JsonNode], seconds: Double, body: String) {
  def ok: Boolean = status == 200 && json.isDefined
}

/** Blocking JSON-over-HTTP client; one per simulated user. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  def get(path: String): Reply =
    send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build())

  def post(path: String, fields: (String, Any)*): Reply = {
    val body = mapper.writeValueAsString(
      scala.jdk.CollectionConverters.MapHasAsJava(fields.toMap.map {
        case (k, v: Int) => k -> Integer.valueOf(v)
        case (k, v: Long) => k -> java.lang.Long.valueOf(v)
        case (k, v: Boolean) => k -> java.lang.Boolean.valueOf(v)
        case (k, v) => k -> v.asInstanceOf[AnyRef]
      }).asJava)
    send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
  }

  private def send(req: HttpRequest): Reply = {
    val t0 = System.nanoTime()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    val sec = (System.nanoTime() - t0) / 1e9
    val json = try Some(mapper.readTree(resp.body())) catch { case _: Exception => None }
    Reply(resp.statusCode(), json, sec, resp.body())
  }
}
