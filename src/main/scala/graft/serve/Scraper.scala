package graft.serve

import org.apache.spark.sql.SparkSession

/** The PULL side of federation: GET a text-exposition page (a target's
  * /metrics, or an adapter's /federate) and decode it to the [[Ingest]]
  * record every push front door lands — what a parent Prometheus does to
  * a child, here so graft instances stack hierarchically without a
  * Prometheus in between. The server's scrape loop lands the record
  * through its ingest tail; [[scrapeInto]] appends it to a table with no
  * server.
  *
  * Samples WITH timestamps keep them (federation pages carry each
  * sample's own ms timestamp — honor_timestamps); samples without get
  * the scrape time, the scrape contract.
  */
object Scraper {

  /** GET `url`: (body, response Content-Type) — the pair content
    * negotiation needs: what the target RETURNED decides the parse,
    * not what the scraper asked for. */
  private def fetch(url: String, accept: Option[String],
                    timeoutMs: Int = 30000): (String, String) = {
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

  /** Fetch and decode one page, writing nothing.
    *
    * CONTENT NEGOTIATION, the Prometheus scrape discipline:
    * `openMetrics` states the PREFERENCE (the Accept header, OM first
    * with classic as fallback — the stock scraper's spelling); the
    * RESPONSE Content-Type decides the parse. A classic-only target
    * asked for OM degrades to 0.0.4 instead of failing on the missing
    * `# EOF`, and an OM page served to a classic request parses under OM
    * rules — crucially its SECONDS timestamps are honored (a classic
    * parse would misread them as milliseconds, a silent 1000× error).
    * `ctZero` as in [[Ingest.text]].
    */
  def page(url: String, nowMs: Long = System.currentTimeMillis(),
           openMetrics: Boolean = false, ctZero: Boolean = false): Ingest = {
    val (body, ctype) = fetch(url, accept =
      if (openMetrics)
        Some("application/openmetrics-text;version=1.0.0;q=0.9," +
          "text/plain;version=0.0.4;q=0.5")
      else None)
    Ingest.text(body, ctype, nowMs, ctZero)
  }

  /** One scrape with no server: fetch, decode, append the samples to
    * `tablePath` and an OpenMetrics page's inline exemplars to its
    * `_exemplars` side table (the server's exemplar schema, so a scraped
    * target's span context serves on /api/v1/query_exemplars like every
    * push protocol's). Returns the sample count. The caller serializes
    * it with every other commit to `tablePath`.
    */
  def scrapeInto(spark: SparkSession, url: String, tablePath: String,
                 nowMs: Long = System.currentTimeMillis(),
                 openMetrics: Boolean = false): Long = {
    import graft.engine.WritePipeline
    import spark.implicits._
    val rec = page(url, nowMs, openMetrics)
    val samples = Ingest.samples(rec.write.scalars.timeseries)
    if (samples.nonEmpty)
      WritePipeline.append(WritePipeline.toMetricRows(
        WritePipeline.dropNonFinite(samples.toDF())),
        tablePath, rowsHint = samples.size.toLong)
    if (rec.write.exemplars.nonEmpty)
      Ingest.exemplars(spark, Ingest.exemplarRows(rec.write.exemplars))
        .appendTo(tablePath + "_exemplars")
    samples.size.toLong
  }
}
