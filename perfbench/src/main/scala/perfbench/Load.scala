package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicLong

/** One sent request: its wall-clock interval, HTTP status and body.
  * `frontier` is the scrape index below which every write had been
  * acknowledged when the request was sent (reads may only rely on data
  * before it).
  */
final case class Outcome(req: Req, startNs: Long, endNs: Long, status: Int,
                         body: Array[Byte], frontier: Long) {
  def ok: Boolean = status / 100 == 2
  def ms: Double = (endNs - startNs) / 1e6
}

/** Acknowledged-write frontier per writer: all scrapes below the value
  * are committed for that writer's shard.
  */
final class Frontier(writers: Int, start: Long) {
  private val f = Array.fill(writers)(new AtomicLong(start))
  def ack(w: WriteReq): Unit = f(w.client).set(w.k0 + w.scrapes)
  def min: Long = if (f.isEmpty) Long.MaxValue else f.map(_.get).min
}

/** Closed-loop clients: each sends its next request only after the
  * previous one answered, over its own keep-alive HTTP/1.1 connection.
  */
final class Load(port: Int, frontier: Frontier) {
  private val base = s"http://127.0.0.1:$port"

  private def send(http: HttpClient, r: Req): Outcome = {
    val req = r match {
      case w: WriteReq =>
        val b = HttpRequest.newBuilder(URI.create(base + "/write"))
          .header("Content-Encoding", "snappy")
          .header("Content-Type",
            if (w.rw2) Requests.Rw2ContentType else "application/x-protobuf")
        if (!w.rw2) b.header("X-Prometheus-Remote-Write-Version", "0.1.0")
        b.POST(HttpRequest.BodyPublishers.ofByteArray(w.body)).build()
      case rd: ReadReq =>
        HttpRequest.newBuilder(URI.create(base + "/read"))
          .header("Content-Encoding", "snappy")
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(rd.body)).build()
      case q: RangeReq =>
        HttpRequest.newBuilder(URI.create(base + q.path)).GET().build()
    }
    val f = frontier.min
    val t0 = System.nanoTime()
    val (status, body) =
      try {
        val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
        (resp.statusCode, resp.body)
      } catch { case e: java.io.IOException =>
        (-1, String.valueOf(e.getMessage).getBytes("UTF-8")) }
    val t1 = System.nanoTime()
    r match {
      case w: WriteReq if status / 100 == 2 => frontier.ack(w)
      case _ =>
    }
    Outcome(r, t0, t1, status, body, f)
  }

  /** Run every client's list concurrently; returns the outcomes in
    * request-id order.
    */
  def run(plans: Seq[Seq[Req]]): Seq[Outcome] = {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]()
    val threads = plans.zipWithIndex.map { case (plan, i) =>
      new Thread(() => {
        val http = HttpClient.newBuilder()
          .version(HttpClient.Version.HTTP_1_1).build()
        plan.foreach(r => results.add(send(http, r)))
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq.sortBy(_.req.id)
  }
}

object Load {
  def get(port: Int, path: String): String = {
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode == 200, s"GET $path answered ${resp.statusCode}")
    resp.body
  }
}
