package perfbench

import graft.codec.{Prompb, Prompb2, WriteWire}
import graft.codec.Prompb.{PQuery, PReadResponse, PWriteRequest}
import graft.compile.Matchers.{EQ, LabelMatcher, NEQ, NRE, PromQuery, RE}
import graft.engine.{Admin, ReadPipeline, ResponseEdge, Tombstones, WritePipeline}
import graft.promql.{Eval, Parser}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** The traced run's second half: every request's inputs replayed
  * in-process, one at a time, through the same public layer functions
  * the server's handlers call, with a span around each call and Spark
  * counts taken around the engine calls.
  */
final class Replay(spark: SparkSession, tracer: Tracer, counters: SparkCounters,
                   retentionSec: Long) {
  import Replay._

  /** Summed per-request counts by name (divide by [[n]] for a mean). */
  val totals = mutable.Map[String, Double]().withDefaultValue(0.0)
  val n = mutable.Map[String, Int]().withDefaultValue(0)
  /** Replayed engine time per request id, ms. */
  val engineMs = mutable.Map[Int, Double]()

  private def drain(): Unit = org.apache.spark.ListenerDrain(spark.sparkContext)

  private def add(kind: String, kv: (String, Double)*): Unit = {
    n(kind) += 1
    kv.foreach { case (k, v) => totals(k) += v }
  }

  /** `handleWrite`'s decode calls for the request's protocol. */
  private def decode(w: WriteReq): PWriteRequest = {
    val body = Prompb.snappyUncompress(w.body)
    if (w.rw2) {
      val req = Prompb2.decodeRequest(body)
      val scalar = Prompb2.toV1(req)
      Prompb2.histogramsToV1(req)
      scalar.timeseries.map(_.samples.size).sum
      Prompb2.histogramsToV1(req).map(_.histograms.size).sum
      Prompb2.exemplarsToV1(req).map(_.exemplars.size).sum
      Prompb2.exemplarsToV1(req)
      Prompb2.metadataToV1(req)
      scalar
    } else WriteWire.decode(body).scalars
  }

  def write(w: WriteReq, store: String): Unit = tracer("replay.write", w.id) {
    val wr = tracer("codec.write_decode", w.id)(decode(w))
    val (df, rows) = tracer("engine.write.row_build", w.id) {
      import spark.implicits._
      val samples = for (ts <- wr.timeseries; s <- ts.samples) yield {
        val labels = ts.labels.map(l => l.name -> l.value).toMap
        graft.model.Schema.Sample(labels.getOrElse("__name__", ""), labels,
          s.value, s.timestampMs)
      }
      (samples.toDF(), samples.size.toLong)
    }
    drain()
    val before = counters.snap
    val t0 = System.nanoTime()
    tracer("engine.write.append", w.id) {
      WritePipeline.append(WritePipeline.toMetricRows(
        WritePipeline.dropNonFinite(df)), store, rowsHint = rows)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    drain()
    val after = counters.snap
    tracer("engine.admin.retention", w.id) {
      Admin.enforceRetention(store, retentionSec, System.currentTimeMillis() / 1000)
    }
    add("write",
      "engine.write.jobs_per_post" -> (after.jobs - before.jobs).toDouble,
      "engine.write.tasks_per_post" -> (after.tasks - before.tasks).toDouble,
      "engine.write.executor_ms_per_post" -> (after.execMs - before.execMs).toDouble,
      "engine.write.driver_gap_ms" -> (wallMs - counters.busyMs(before)))
  }

  /** The server's cached store relation: tombstone-masked parquet. */
  def table(store: String): DataFrame =
    Tombstones.suppress(spark.read.parquet(store), Tombstones.load(spark, store))

  def read(r: ReadReq, table: DataFrame): PReadResponse = tracer("replay.read", r.id) {
    val rr = tracer("codec.read_decode", r.id)(
      Prompb.decodeReadRequest(Prompb.snappyUncompress(r.body)))
    drain()
    val before = counters.snap
    val t0 = System.nanoTime()
    val perQuery = tracer("compile.plan", r.id) {
      rr.queries.map { q =>
        val df = ReadPipeline.readMulti(Seq(table), toPromQuery(q))
        df.queryExecution.executedPlan
        df
      }
    }
    val resp = tracer("engine.read.execute", r.id)(
      ResponseEdge.toReadResponse(perQuery, MaxSeries))
    tracer("codec.read_encode", r.id)(
      Prompb.snappyCompress(Prompb.encodeReadResponse(resp)))
    engineMs(r.id) = (System.nanoTime() - t0) / 1e6
    drain()
    val after = counters.snap
    val samples = resp.results.flatMap(_.timeseries).map(_.samples.size).sum
    add("read",
      "engine.read.jobs_per_request" -> (after.jobs - before.jobs).toDouble,
      "engine.read.tasks_per_request" -> (after.tasks - before.tasks).toDouble,
      "engine.read.shuffle_bytes" -> (after.shuffleBytes - before.shuffleBytes).toDouble,
      "engine.read.files_scanned" -> (after.files - before.files).toDouble,
      "engine.read.bytes_scanned" -> (after.bytes - before.bytes).toDouble,
      "engine.read.rows_scanned" -> (after.rows - before.rows).toDouble,
      "engine.read.samples_returned" -> samples.toDouble)
    resp
  }

  def range(q: RangeReq, table: DataFrame): Array[Row] = tracer("replay.query_range", q.id) {
    val t0 = System.nanoTime()
    tracer("promql.parse", q.id)(Parser.parse(q.promql))
    drain()
    val before = counters.snap
    val res = tracer("promql.plan", q.id) {
      // lookback: the server's default when the request names none
      val df = Eval.rangeQuery(table, q.promql,
        Eval.RangeSpec(q.startSec, q.endSec, Requests.StepSec, 300L))
      df.queryExecution.executedPlan
      df
    }
    val rows = tracer("promql.execute", q.id)(ResponseEdge.collectBoundedSeries(res, MaxSeries))
    engineMs(q.id) = (System.nanoTime() - t0) / 1e6
    drain()
    val after = counters.snap
    add("query_range",
      "promql.jobs_per_query" -> (after.jobs - before.jobs).toDouble,
      "promql.rows_scanned" -> (after.rows - before.rows).toDouble)
    rows
  }
}

object Replay {
  /** The server's default `readMaxSeries`. */
  val MaxSeries = 500000

  /** The mapping `Server.toPromQuery` applies to each prompb query. */
  def toPromQuery(q: PQuery): PromQuery =
    PromQuery(q.startMs, q.endMs, q.matchers.map { m =>
      val t = m.matchType match {
        case Prompb.MatchType.EQ => EQ
        case Prompb.MatchType.NEQ => NEQ
        case Prompb.MatchType.RE => RE
        case Prompb.MatchType.NRE => NRE
      }
      LabelMatcher(t, m.name, m.value)
    })

  /** A query_range answer as series (label set) → points (t, value), from
    * the server's JSON or from the replayed rows.
    */
  type Matrix = Map[Map[String, String], Seq[(Long, Double)]]

  def matrix(json: Array[Byte]): Matrix = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    root.path("data").path("result").elements().asScala.map { s =>
      s.path("metric").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap ->
        s.path("values").elements().asScala.map(p =>
          p.get(0).asLong -> p.get(1).asText.toDouble).toSeq
    }.toMap
  }

  def matrix(rows: Array[Row]): Matrix =
    rows.map { r =>
      r.getAs[scala.collection.Seq[String]]("tags").map { kv =>
        val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap ->
        r.getAs[scala.collection.Seq[Row]]("points").map(p =>
          p.getAs[Long]("t") -> p.getAs[Double]("value")).toSeq
    }.toMap
}
