package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** The benchmark's one HTTP client: one thread, one HTTP/1.1 connection
  * (kept alive), each call waiting for its reply, as in the reference's
  * `curl -F file=@corpus.zip /ingest` then poll workflow. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  /** `POST /ingest` as multipart/form-data; returns the job id. */
  def post(filename: String, zip: Array[Byte]): String = {
    val boundary = "perfbenchBoundary7e3"
    val head = (s"--$boundary\r\nContent-Disposition: form-data; " +
      s"""name="file"; filename="$filename"""" + "\r\n" +
      "Content-Type: application/zip\r\n\r\n").getBytes(StandardCharsets.ISO_8859_1)
    val tail = s"\r\n--$boundary--\r\n".getBytes(StandardCharsets.ISO_8859_1)
    val body = new Array[Byte](head.length + zip.length + tail.length)
    System.arraycopy(head, 0, body, 0, head.length)
    System.arraycopy(zip, 0, body, head.length, zip.length)
    System.arraycopy(tail, 0, body, head.length + zip.length, tail.length)
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"$base/ingest"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    Client.field(resp.body(), "job_id").getOrElse(
      throw new IllegalStateException(
        s"POST /ingest returned ${resp.statusCode()}: ${resp.body()}"))
  }

  /** `GET /jobs/{id}`: the served job document's fields. */
  def job(id: String): Map[String, String] = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"$base/jobs/$id")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    Client.fields(resp.body())
  }
}

object Client {
  private val Field = "\"([a-z_]+)\":(\"((?:[^\"\\\\]|\\\\.)*)\"|-?[0-9]+)".r

  /** The flat string/number fields of the API's JSON objects. */
  def fields(json: String): Map[String, String] =
    Field.findAllMatchIn(json).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
    }.toMap

  def field(json: String, key: String): Option[String] = fields(json).get(key)
}
