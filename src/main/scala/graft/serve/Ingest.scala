package graft.serve

import graft.codec.{NativeHist, Prompb, Prompb2, TextExposition, WriteWire}
import graft.model.Schema.Sample
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One decoded ingest request, whichever front door it came through
  * (/write's RW1, RW2, text and OpenMetrics bodies, /otlp, a scraped
  * page): the server lands every one through the same tail.
  *
  * @param write   scalars, native histograms, exemplars and metadata
  * @param ctZero  CT-zero candidates (RW2 created timestamps, OpenMetrics
  *                `_created` series), which the receiver admits through
  *                its no-earlier-sample rule; empty unless decoded with
  *                CT-zero ingestion on
  * @param written the RW2 written-stats counts (samples, histograms,
  *                exemplars); None for every other wire
  */
final case class Ingest(write: WriteWire.DecodedWrite,
                        ctZero: Seq[Prompb.PTimeSeries] = Nil,
                        written: Option[(Long, Long, Long)] = None)

object Ingest {

  /** A snappy-decompressed remote-write body. Remote-Write 2.0 senders
    * declare the payload message in Content-Type
    * (`application/x-protobuf;proto=io.prometheus.write.v2.Request`, per
    * the RW2 spec); everything else decodes as the v1 WriteRequest the
    * reference speaks, in one walk over the bytes. RW2 resolves through
    * its symbol table and carries the written-stats counts its sender
    * expects back (CT-zero injections are synthetic and not counted).
    */
  def remoteWrite(body: Array[Byte], ctype: String, ctZero: Boolean): Ingest =
    if (!ctype.contains("io.prometheus.write.v2.Request"))
      Ingest(WriteWire.decode(body))
    else {
      val req = Prompb2.decodeRequest(body)
      val dec = WriteWire.DecodedWrite(Prompb2.toV1(req),
        Prompb2.histogramsToV1(req), Prompb2.exemplarsToV1(req),
        Prompb2.metadataToV1(req))
      Ingest(dec, if (ctZero) Prompb2.ctZeroSeries(req) else Nil,
        Some((dec.scalars.timeseries.map(_.samples.size).sum.toLong,
          dec.histograms.map(_.histograms.size).sum.toLong,
          dec.exemplars.map(_.exemplars.size).sum.toLong)))
    }

  /** Whether a /write body of this Content-Type is a text page. */
  def isText(ctype: String): Boolean =
    ctype.startsWith("text/plain") || isOpenMetrics(ctype)

  private def isOpenMetrics(ctype: String): Boolean =
    ctype.startsWith("application/openmetrics-text")

  /** A text page, pushed to /write or scraped. OpenMetrics 1.0 pages
    * declare themselves in Content-Type: seconds timestamps, required
    * `# EOF`, UNIT metadata and inline exemplars; anything else parses
    * as the classic 0.0.4 format. Samples without a timestamp take
    * `nowMs`. With `ctZero`, an OpenMetrics page's `_created` series
    * become CT-zero candidates for their family's component series and
    * stop ingesting as ordinary samples (upstream's created-timestamp
    * ingestion); without it they ingest as the samples they textually
    * are. Classic 0.0.4 has no `_created`.
    */
  def text(body: String, ctype: String, nowMs: Long, ctZero: Boolean): Ingest =
    if (!isOpenMetrics(ctype)) {
      val dec = TextExposition.decode(body, nowMs)
      Ingest(WriteWire.DecodedWrite(dec.request, Nil, Nil, dec.metadata))
    } else {
      val om = TextExposition.decodeOpenMetrics(body, nowMs)
      val kept =
        if (ctZero) om.request.timeseries.filterNot(TextExposition.isCreatedSeries)
        else om.request.timeseries
      Ingest(WriteWire.DecodedWrite(Prompb.PWriteRequest(kept), Nil,
          om.exemplars, om.metadata),
        if (ctZero) TextExposition.ctZeroSeries(om.request) else Nil)
    }

  /** Every sample of `series`, flat. */
  def samples(series: Seq[Prompb.PTimeSeries]): Seq[Sample] =
    for (ts <- series; s <- ts.samples) yield {
      val labels = ts.labels.map(l => l.name -> l.value).toMap
      Sample(labels.getOrElse("__name__", ""), labels, s.value, s.timestampMs)
    }

  /** How a failed ingest request answers: (status, body). A `NonFatal`
    * failure (a malformed body, a side-table write that failed on the
    * request's rows) is 400; a fatal JVM error (`OutOfMemoryError`,
    * `StackOverflowError`) is 500, because a Prometheus sender retries a
    * 5xx and drops a 4xx. The body is the failure's message, else its
    * class name. A failed sample commit is no failure here: it is 200.
    */
  def failure(e: Throwable): (Int, String) =
    (if (scala.util.control.NonFatal(e)) 400 else 500,
      Option(e.getMessage).getOrElse(e.getClass.getName))

  // ------------------------------------------------------- side tables

  /** Rows for one side table beside the main table (`_exemplars`,
    * `_hist`, `_stale`) and their count. */
  final class Side private[Ingest] (frame: DataFrame, rows: Long) {
    /** Append to the table at `path` in one write job with the main
      * table's layout (date-partitioned, range-split, (name, tags,
      * ts)-sorted). The server's committer appends a whole group's rows
      * at once under its commit lock; any other caller serializes it
      * with every other commit to `path`. */
    def appendTo(path: String): Unit =
      graft.engine.WritePipeline.append(frame, path, rowsHint = rows)
  }

  /** `rows` (epoch-ms `tsMs` plus `cols`) as a side table: `date` first,
    * then `cols`, where `ts` is the whole second as a timestamp and
    * `tsec` the whole second as a long, stored as `ts`. */
  private def side(rows: DataFrame, n: Long, cols: String*): Side = {
    import org.apache.spark.sql.functions._
    val sec = (col("tsMs") / 1000).cast("long")
    new Side(rows.select(to_date(timestamp_seconds(sec)).as("date") +:
      cols.map {
        case "ts" => timestamp_seconds(sec).as("ts")
        case "tsec" => sec.as("ts")
        case c => col(c)
      }: _*), n)
  }

  private def name(labels: Seq[Prompb.PLabel]): String =
    labels.find(_.name == "__name__").map(_.value).getOrElse("")

  /** A series' labels as the store's `tags`: `k=v`, sorted. */
  private def tags(labels: Seq[Prompb.PLabel]): Seq[String] =
    labels.map(l => s"${l.name}=${l.value}").sorted

  /** A series' identity as one string, its [[tags]] joined by `,`: the
    * key of the receiver's per-series state. */
  def seriesKey(labels: Seq[Prompb.PLabel]): String = tags(labels).mkString(",")

  /** One `_exemplars` row: name, series tags, exemplar tags, value,
    * epoch ms; tags sorted `k=v`. */
  type ExemplarRow = (String, Seq[String], Seq[String], Double, Long)

  def exemplarRows(series: Seq[WriteWire.PExemplarSeries]): Seq[ExemplarRow] =
    for (s <- series; e <- s.exemplars)
      yield (name(s.seriesLabels), tags(s.seriesLabels), tags(e.labels),
        e.value, e.timestampMs)

  def exemplars(spark: SparkSession, rows: Seq[ExemplarRow]): Side = {
    import spark.implicits._
    side(rows.toDF("name", "tags", "ex_tags", "val", "tsMs"), rows.size.toLong,
      "name", "tags", "ex_tags", "val", "ts")
  }

  /** Native histograms in their sparse form: count/zero as longs, sum
    * as a double, positive buckets as (idx, cnt) structs; `ts` is epoch
    * seconds as a long. */
  def histograms(spark: SparkSession,
                 series: Seq[NativeHist.PHistSeries]): Side = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = for (s <- series; h <- s.histograms)
      yield (name(s.labels), tags(s.labels), h.timestampMs, h.count, h.sum,
        h.zeroCount, NativeHist.expandBuckets(h.positiveSpans, h.positiveDeltas))
    side(rows.toDF("name", "tags", "tsMs", "h_count", "h_sum", "h_zero", "b")
        .withColumn("h_buckets", transform(col("b"), x => struct(
          x.getField("_1").as("idx"), x.getField("_2").as("cnt")))),
      rows.size.toLong,
      "name", "tags", "tsec", "h_count", "h_sum", "h_zero", "h_buckets")
  }

  /** Stale markers as value-less marker rows. */
  def staleMarkers(spark: SparkSession, markers: Seq[Sample]): Side = {
    import spark.implicits._
    side(markers.map(m => (m.name,
        m.labels.toSeq.map { case (k, v) => s"$k=$v" }.sorted, m.timestampMs))
      .toDF("name", "tags", "tsMs"), markers.size.toLong, "name", "tags", "ts")
  }
}
