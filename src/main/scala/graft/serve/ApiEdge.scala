package graft.serve

import com.sun.net.httpserver.HttpExchange
import graft.engine.ResponseEdge
import graft.promql.AstJson.jsonStr
import org.apache.spark.sql.DataFrame

/** The request edge every Prometheus HTTP API handler shares: how a
  * request's parameters are read, how its times and durations parse,
  * and how its failures become a status and a body.
  *
  * Failures map once ([[failure]]): an over-budget read is 413, malformed
  * client input (`IllegalArgumentException`, which covers
  * `NumberFormatException` and the PromQL parser's errors) is 400
  * `bad_data`, a handler-chosen [[Status]] keeps its code, anything else
  * is 500 `internal`. `/api/v1` renders the mapping as the JSON error
  * envelope ([[api]], [[json]]); `/read` and `/federate` as plain text
  * ([[plain]]).
  */
private[serve] object ApiEdge {

  /** A failure whose status the handler chose (admin's 403/405/404). */
  final class Status(val code: Int, val errorType: String, msg: String)
      extends RuntimeException(msg)

  /** One request's parameters, each key and value URL-decoded exactly
    * once. Single-valued lookups follow Go's `r.FormValue`: form-body
    * values before URL values, first occurrence wins; [[all]] reads
    * every value of a repeated key (`match[]`).
    */
  final class Params(pairs: Seq[(String, String)]) {
    def one(k: String): Option[String] =
      pairs.collectFirst { case (`k`, v) => v }
    def need(k: String): String = one(k).getOrElse(
      throw new IllegalArgumentException(s"missing parameter '$k'"))
    def all(k: String): Seq[String] = pairs.collect { case (`k`, v) => v }
    /** An epoch-seconds time parameter through [[timeSec]]. */
    def time(k: String): Option[Long] = one(k).map(timeSec(k, _))
    def needTime(k: String): Long = timeSec(k, need(k))
    /** A duration (`30s`, `1h`) or bare seconds. */
    def duration(k: String): Option[Long] =
      one(k).map(graft.promql.Parser.durationSec)
    /** `?lookback=`, this server's spelling of Prometheus's
      * --query.lookback-delta (default 5 m). */
    def lookback: Long = duration("lookback").getOrElse(300L)
  }

  def readBody(ex: HttpExchange): Array[Byte] =
    ex.getRequestBody.readAllBytes()

  def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  /** The raw URL query plus, with `form` on a POST/PUT declared
    * `application/x-www-form-urlencoded`, the body (how Grafana ships
    * long PromQL). `/read` passes `form = false`: its body is protobuf.
    */
  private def params(ex: HttpExchange, form: Boolean = true): Params = {
    val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .getOrElse("")
    val body =
      if (form && (ex.getRequestMethod == "POST" ||
          ex.getRequestMethod == "PUT") &&
          ctype.contains("application/x-www-form-urlencoded"))
        decode(new String(readBody(ex), "UTF-8"))
      else Nil
    new Params(body ++ decode(ex.getRequestURI.getRawQuery))
  }

  private def decode(raw: String): Seq[(String, String)] =
    Option(raw).getOrElse("").split("&").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) =
        if (i < 0) (kv, "") else (kv.substring(0, i), kv.substring(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }

  /** An API time parameter (epoch seconds, fractional allowed), floored
    * to the store's second grain. Malformed and non-finite values are
    * client errors: NaN would floor to epoch 0 and ±Inf to the ends of
    * the long range.
    */
  private def timeSec(k: String, v: String): Long = {
    val d = try v.toDouble catch { case _: NumberFormatException => Double.NaN }
    if (d.isNaN || d.isInfinite)
      throw new IllegalArgumentException(
        s"""invalid parameter "$k": cannot parse "$v" to a valid timestamp""")
    math.floor(d).toLong
  }

  /** A failure as (status, errorType, message). */
  private def failure(e: Throwable): (Int, String, String) = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
    e match {
      case s: Status => (s.code, s.errorType, msg)
      case _: ResponseEdge.SeriesLimitExceeded => (413, "bad_data", msg)
      case _: IllegalArgumentException => (400, "bad_data", msg)
      case _ => (500, "internal", msg)
    }
  }

  /** How a handler's answer is read from the store ([[ReadGuard]]): the
    * evaluation runs as one read, and the answer is sent after it. */
  trait Reads { def apply[A](read: => A): A }

  /** A `/api/v1` read: parameters parsed once, `answer` evaluated through
    * `reads`, its JSON `data` sent in the success envelope; any failure
    * answers the JSON error envelope. */
  def api(ex: HttpExchange, reads: Reads)(answer: Params => String): Unit =
    json(ex)(p => ok(ex, reads(answer(p))))

  /** A `/api/v1` request that sends its own answer and reads nothing
    * through [[Reads]] (the admin API, whose rewrites wait for reads);
    * failures as in [[api]]. */
  def json(ex: HttpExchange)(handle: Params => Unit): Unit =
    try handle(params(ex))
    catch {
      case e: Throwable =>
        val (code, errorType, msg) = failure(e)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        respond(ex, code,
          s"""{"status":"error","errorType":"$errorType","error":${
            jsonStr(msg)}}""".getBytes("UTF-8"))
    }

  /** A `/read` or `/federate` request: the same mapping, plain-text body. */
  def plain(ex: HttpExchange, form: Boolean)(handle: Params => Unit): Unit =
    try handle(params(ex, form))
    catch {
      case e: Throwable =>
        val (code, _, msg) = failure(e)
        respond(ex, code, msg.getBytes("UTF-8"))
    }

  /** The success envelope around `data` (already JSON). */
  def ok(ex: HttpExchange, data: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    respond(ex, 200,
      s"""{"status":"success","data":$data}""".getBytes("UTF-8"))
  }

  /** Stored `k=v` tags as a JSON label object, in tag order. */
  def labelsJson(tags: scala.collection.Seq[String]): String =
    tags.map { kv =>
      val i = kv.indexOf('=')
      jsonStr(kv.substring(0, i)) + ":" + jsonStr(kv.substring(i + 1))
    }.mkString("{", ",", "}")

  /** Rows of `df` with `lo <= ts <= hi` (`lo < ts` when `loOpen`), plus
    * the matching `date` bounds so the scan prunes partitions. */
  def timeWindow(df: DataFrame, lo: Long, hi: Long,
             loOpen: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val (from, to) = (timestamp_seconds(lit(lo)), timestamp_seconds(lit(hi)))
    val ts = col("ts")
    val inTime = df.filter((if (loOpen) ts > from else ts >= from) && ts <= to)
    if (!df.columns.contains("date")) inTime
    else inTime.filter(
      col("date") >= to_date(from) && col("date") <= to_date(to))
  }
}
