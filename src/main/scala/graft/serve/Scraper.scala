package graft.serve

import org.apache.spark.sql.SparkSession

/** The PULL side of federation: GET a text-exposition page (a target's
  * /metrics, or an adapter's /federate) and append it through the
  * canonical write pipeline — what a parent Prometheus does to a child,
  * here so graft instances stack hierarchically without a Prometheus in
  * between.
  *
  * Samples WITH timestamps keep them (federation pages carry each
  * sample's own ms timestamp — honor_timestamps); samples without get
  * the scrape time, the scrape contract.
  */
object Scraper {

  def fetch(url: String, timeoutMs: Int = 30000,
            accept: Option[String] = None): String =
    fetchWithType(url, timeoutMs, accept)._1

  /** Fetch returning (body, response Content-Type) — the pair content
    * negotiation needs: what the target RETURNED decides the parse,
    * not what the scraper asked for. */
  def fetchWithType(url: String, timeoutMs: Int = 30000,
                    accept: Option[String] = None): (String, String) = {
    val conn = java.net.URI.create(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setConnectTimeout(math.min(5000, timeoutMs))
      conn.setReadTimeout(timeoutMs)
      accept.foreach(conn.setRequestProperty("Accept", _))
      val code = conn.getResponseCode
      if (code != 200)
        throw new java.io.IOException(s"scrape of $url returned $code")
      (new String(conn.getInputStream.readAllBytes(), "UTF-8"),
        Option(conn.getContentType).getOrElse(""))
    } finally conn.disconnect()
  }

  /** One scrape's decoded rows: samples for the table and inline
    * exemplars for its `_exemplars` side table. */
  final case class Scraped(samples: Seq[graft.model.Schema.Sample],
                           exemplars: Seq[graft.codec.WriteWire.PExemplarSeries])

  /** One scrape: fetch, parse, append. Returns the sample count.
    * `openMetrics = true` negotiates the OM render (Accept header) and
    * parses under OM rules — seconds timestamps, required `# EOF`;
    * inline exemplars land beside the table in the `_exemplars` side
    * table (the Server's exemplar schema), so a scraped target's span
    * context serves on /api/v1/query_exemplars like every push
    * protocol's.
    */
  def scrapeInto(spark: SparkSession, url: String, tablePath: String,
                 nowMs: Long = System.currentTimeMillis(),
                 openMetrics: Boolean = false,
                 ctZeroGate: Option[(Seq[graft.codec.Prompb.PTimeSeries],
                     Seq[graft.codec.Prompb.PTimeSeries]) =>
                     Seq[graft.codec.Prompb.PTimeSeries]] = None): Long =
    append(spark, scrape(url, nowMs, openMetrics, ctZeroGate), tablePath)

  /** Fetch and parse one page, writing nothing (the first half of
    * [[scrapeInto]]).
    * @param ctZeroGate the receiver's CT-zero admission rule
    *   (candidates, ingesting) → admitted zeros — the Server passes its
    *   no-earlier-sample filter here so a scraped OM page's `_created`
    *   companions inject synthetic zeros exactly like the /write text
    *   path (and stop ingesting as ordinary samples). None = historical
    *   behavior. OM pages only; classic 0.0.4 has no `_created`.
    */
  def scrape(url: String, nowMs: Long = System.currentTimeMillis(),
             openMetrics: Boolean = false,
             ctZeroGate: Option[(Seq[graft.codec.Prompb.PTimeSeries],
                 Seq[graft.codec.Prompb.PTimeSeries]) =>
                 Seq[graft.codec.Prompb.PTimeSeries]] = None): Scraped = {
    // CONTENT NEGOTIATION, the Prometheus scrape discipline:
    // `openMetrics` states the PREFERENCE (the Accept header, OM
    // first with classic as fallback — the stock scraper's spelling);
    // the RESPONSE Content-Type decides the parse. A classic-only
    // target asked for OM degrades to 0.0.4 instead of failing on the
    // missing # EOF, and an OM page served to a classic request parses
    // under OM rules — crucially its SECONDS timestamps are honored
    // (a classic parse would misread them as milliseconds, a silent
    // 1000× error).
    val (body, ctype) = fetchWithType(url, accept =
      if (openMetrics)
        Some("application/openmetrics-text;version=1.0.0;q=0.9," +
          "text/plain;version=0.0.4;q=0.5")
      else None)
    val isOm = ctype.startsWith("application/openmetrics-text")
    val (dec0, exemplars) =
      if (isOm) {
        val om = graft.codec.TextExposition.decodeOpenMetrics(body, nowMs)
        (graft.codec.TextExposition.Decoded(om.request, om.metadata),
          om.exemplars)
      } else
        (graft.codec.TextExposition.decode(body, nowMs),
          Seq.empty[graft.codec.WriteWire.PExemplarSeries])
    val dec = ctZeroGate match {
      case Some(gate) if isOm =>
        val kept = dec0.request.timeseries
          .filterNot(graft.codec.TextExposition.isCreatedSeries)
        val zeros = gate(
          graft.codec.TextExposition.ctZeroSeries(dec0.request), kept)
        dec0.copy(request = graft.codec.Prompb.PWriteRequest(zeros ++ kept))
      case _ => dec0
    }
    val samples = for {
      ts <- dec.request.timeseries
      s <- ts.samples
    } yield {
      val labels = ts.labels.map(l => l.name -> l.value).toMap
      graft.model.Schema.Sample(labels.getOrElse("__name__", ""),
        labels, s.value, s.timestampMs)
    }
    Scraped(samples, exemplars)
  }

  /** Append a [[scrape]]'s rows (the second half of [[scrapeInto]]);
    * returns the sample count. The caller serializes it with every other
    * commit to `tablePath`. */
  def append(spark: SparkSession, scraped: Scraped, tablePath: String): Long = {
    val Scraped(samples, exemplars) = scraped
    import spark.implicits._
    if (samples.nonEmpty) {
      graft.engine.WritePipeline.append(
        graft.engine.WritePipeline.toMetricRows(
          graft.engine.WritePipeline.dropNonFinite(samples.toDF())),
        tablePath, rowsHint = samples.size.toLong)
    }
    if (exemplars.nonEmpty) {
      import org.apache.spark.sql.functions._
      val rows = for (es <- exemplars; e <- es.exemplars) yield {
        val name = es.seriesLabels.find(_.name == "__name__")
          .map(_.value).getOrElse("")
        (name,
          es.seriesLabels.map(l => s"${l.name}=${l.value}").sorted,
          e.labels.map(l => s"${l.name}=${l.value}").sorted,
          e.value, e.timestampMs)
      }
      graft.engine.WritePipeline.append(
        rows.toDF("name", "tags", "ex_tags", "val", "tsMs")
          .select(
            to_date(timestamp_seconds((col("tsMs") / 1000).cast("long")))
              .as("date"),
            col("name"), col("tags"), col("ex_tags"), col("val"),
            timestamp_seconds((col("tsMs") / 1000).cast("long")).as("ts")),
        tablePath + "_exemplars", rowsHint = rows.size.toLong)
    }
    samples.size.toLong
  }
}
