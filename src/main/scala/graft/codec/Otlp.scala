package graft.codec

import graft.codec.Prompb.{PLabel, PSample, PTimeSeries, PWriteRequest}
import scala.collection.mutable.ArrayBuffer

/** Minimal OTLP metrics ingest — `opentelemetry.proto.collector.metrics
  * .v1.ExportMetricsServiceRequest` (the OTLP/HTTP protobuf body), the
  * OTHER wire protocol production fleets feed a metrics store with.
  *
  * [[decode]] walks the body ONCE and returns one [[Decoded]] record
  * holding every facet a receiver consumes, all under one resource
  * mapping and one label rule (resource labels, overridden by point
  * attributes, plus `__name__`; non-scalar attribute values are SKIPPED
  * structurally — the store's canonical row is a scalar sample):
  *   - `cumulative`: Gauge and CUMULATIVE Sum NumberDataPoints (double or
  *     int values); CUMULATIVE explicit-bucket Histograms flattened to
  *     the Prometheus classic family — cumulative `le`-labeled
  *     `<name>_bucket` counters plus `<name>_count`/`<name>_sum`, exactly
  *     the shape [[graft.operators.TimeSeriesOps.histogramQuantile]]
  *     reads; Summaries flattened to `quantile`-labeled series plus
  *     `<name>_count`/`<name>_sum` (the Prometheus OTLP-receiver
  *     convention); and, under the target-info mapping, each resource's
  *     `target_info` series. Store-ready.
  *   - `deltas`: DELTA sums and histograms, flattened the same way, as
  *     per-interval INCREMENTS; `deltaTargetInfo` is their resources'
  *     `target_info` (a level, never converted).
  *   - `expHistograms` / `deltaExpHistograms`: ExponentialHistogram
  *     points in their sparse-bucket form, by temporality.
  *   - `exemplars`: span context on gauge and cumulative-sum points.
  * UNSPECIFIED temporality is skipped everywhere. Delta facets are NOT
  * store-ready: the Prometheus OTLP receiver rejects delta temporality,
  * so callers either drop them or run them through a delta→cumulative
  * conversion first.
  *
  * Field layout (trimmed to the decoded subset):
  *   ExportMetricsServiceRequest { repeated ResourceMetrics = 1 }
  *   ResourceMetrics { Resource resource = 1; repeated ScopeMetrics = 2 }
  *   Resource { repeated KeyValue attributes = 1 }
  *   ScopeMetrics { repeated Metric metrics = 2 }
  *   Metric { string name = 1; Gauge gauge = 5; Sum sum = 7;
  *            Histogram histogram = 9;
  *            ExponentialHistogram exponential_histogram = 10;
  *            Summary summary = 11 }
  *   Gauge, Summary { repeated data_points = 1 }
  *   Sum, Histogram, ExponentialHistogram { repeated data_points = 1;
  *         AggregationTemporality aggregation_temporality = 2 }
  *   NumberDataPoint { fixed64 time_unix_nano = 3; double as_double = 4;
  *                     repeated Exemplar exemplars = 5;
  *                     sfixed64 as_int = 6; repeated KeyValue attrs = 7 }
  *   HistogramDataPoint { fixed64 time_unix_nano = 3; fixed64 count = 4;
  *                        double sum = 5; repeated fixed64 bucket_counts = 6;
  *                        repeated double explicit_bounds = 7;
  *                        repeated KeyValue attributes = 9 }
  *   ExponentialHistogramDataPoint { repeated KeyValue attributes = 1;
  *                        fixed64 time_unix_nano = 3; fixed64 count = 4;
  *                        double sum = 5; sint32 scale = 6;
  *                        fixed64 zero_count = 7; Buckets positive = 8;
  *                        Buckets negative = 9 }
  *   Buckets { sint32 offset = 1; repeated uint64 bucket_counts = 2 }
  *   SummaryDataPoint { fixed64 time_unix_nano = 3; fixed64 count = 4;
  *                      double sum = 5;
  *                      repeated ValueAtQuantile quantile_values = 6;
  *                      repeated KeyValue attributes = 7 }
  *   ValueAtQuantile { double quantile = 1; double value = 2 }
  *   Exemplar { fixed64 time_unix_nano = 2; double as_double = 3;
  *              bytes span_id = 4; bytes trace_id = 5; sfixed64 as_int = 6;
  *              repeated KeyValue filtered_attributes = 7 }
  *   KeyValue { string key = 1; AnyValue value = 2 }
  *   AnyValue { string = 1 | bool = 2 | int = 3 | double = 4 } (scalars)
  *
  * Timestamps narrow from nanos to the engine's milliseconds (floor
  * division — OTLP nano precision below the ms is sub-scrape noise).
  * The scalar facets are the canonical [[Prompb.PWriteRequest]] shape,
  * so OTLP is a third interchangeable edge beside remote-write v1/v2.
  */
object Otlp {

  private type Attrs = Seq[(String, String)]

  /** AggregationTemporality values; gauges and summaries are cumulative
    * by definition. */
  private val Delta = 1L
  private val Cumulative = 2L

  /** One ExportMetricsServiceRequest, every facet from one walk (see the
    * object doc for what each holds).
    */
  case class Decoded(cumulative: PWriteRequest, deltas: PWriteRequest,
                     deltaTargetInfo: Seq[PTimeSeries],
                     expHistograms: Seq[ExpHistPoint],
                     deltaExpHistograms: Seq[ExpHistPoint],
                     exemplars: Seq[WriteWire.PExemplarSeries])

  /** One decoded ExponentialHistogramDataPoint with its resolved label
    * set. Bucket counts are DENSE from `posOffset` (the OTLP Buckets
    * shape: offset + count array, zeros included), positive side only —
    * the store's non-negative-measurement contract; negative buckets
    * and the zero bucket travel in `zeroCount`/`negOffset`/`negCounts`
    * for callers that need them.
    *
    * OTLP index convention: bucket i covers (base^i, base^(i+1)] with
    * base = 2^(2^-scale) — one LOWER than the Prometheus native
    * convention (idx covers (base^(idx−1), base^idx]); bridging callers
    * add 1 (the s1_otlp_exphist entries pin both edges landing on
    * identical rows).
    */
  case class ExpHistPoint(labels: Seq[PLabel], tsNano: Long, count: Long,
                          sum: Double, hasSum: Boolean, scale: Int,
                          zeroCount: Long, posOffset: Int,
                          posCounts: Seq[Long], negOffset: Int,
                          negCounts: Seq[Long])

  // ---------------------------------------------------------------- decode

  /** ExportMetricsServiceRequest bytes → every facet, in one walk. With
    * `targetInfo` the resource mapping is the Prometheus OTLP receiver's
    * instead of the flatten (see [[mapResource]]); it applies to every
    * facet alike, so a resource's cumulative, delta-converted and
    * exponential series and its exemplars share one label schema.
    */
  def decode(buf: Array[Byte], targetInfo: Boolean = false): Decoded = {
    val cumulative, deltas = ArrayBuffer.empty[PTimeSeries]
    val deltaInfo = Seq.newBuilder[PTimeSeries]
    val exp, deltaExp = Seq.newBuilder[ExpHistPoint]
    val exemplars = Seq.newBuilder[WriteWire.PExemplarSeries]

    def walkMetric(s: Int, e: Int, res: Attrs): Unit = {
      val r = new Prompb.Reader(buf, s, e)
      var name = ""
      val nums = Seq.newBuilder[(Long, Seq[Point])]
      val hists = Seq.newBuilder[(Long, Seq[HistPoint])]
      val exps = Seq.newBuilder[(Long, Seq[(Attrs, ExpHistPoint)])]
      val summaries = Seq.newBuilder[SummaryPoint]
      while (r.hasMore) {
        val k = r.varint(); (k >> 3, (k & 7).toInt) match {
          case (1, 2) => name = r.utf8()
          case (5, 2) => nums += decData(buf, r, pointInTime = true)(decPoint)
          case (7, 2) => nums += decData(buf, r)(decPoint)
          case (9, 2) => hists += decData(buf, r)(decHistPoint)
          case (10, 2) => exps += decData(buf, r)(decExpHistPoint)
          case (11, 2) =>
            summaries ++= decData(buf, r, pointInTime = true)(decSummaryPoint)._2
          case (_, w) => r.skip(w)
        }
      }
      // the name may follow the data fields: series resolve after the walk
      def facet(t: Long) = if (t == Cumulative) cumulative else deltas
      for ((t, pts) <- nums.result(); p <- pts) {
        val labels = labelsOf(res, p.attrs, name)
        facet(t) += scalar(labels, p.value, p.tsNano)
        if (t == Cumulative && p.exemplars.nonEmpty)
          exemplars += WriteWire.PExemplarSeries(labels, p.exemplars)
      }
      for ((t, pts) <- hists.result(); h <- pts)
        facet(t) ++= histSeries(res, name, h)
      cumulative ++= summaries.result().flatMap(summarySeries(res, name, _))
      for ((t, pts) <- exps.result(); (attrs, p) <- pts)
        (if (t == Cumulative) exp else deltaExp) +=
          p.copy(labels = labelsOf(res, attrs, name))
    }

    def walkResource(s: Int, e: Int): Unit = {
      val r = new Prompb.Reader(buf, s, e)
      var attrs: Attrs = Nil
      val scopes = Seq.newBuilder[(Int, Int)]
      while (r.hasMore) {
        val k = r.varint(); (k >> 3, (k & 7).toInt) match {
          case (1, 2) => val (a, b) = r.lenDelimited(); attrs = decResource(buf, a, b)
          case (2, 2) => scopes += r.lenDelimited()
          case (_, w) => r.skip(w)
        }
      }
      // resource may arrive after scope_metrics in the stream: resolve last
      val (res, info) = mapResource(attrs, targetInfo)
      val (c0, d0) = (cumulative.length, deltas.length)
      scopes.result().foreach { case (a, b) =>
        val sr = new Prompb.Reader(buf, a, b)
        while (sr.hasMore) {
          val k = sr.varint(); (k >> 3, (k & 7).toInt) match {
            case (2, 2) => val (c, d) = sr.lenDelimited(); walkMetric(c, d, res)
            case (_, w) => sr.skip(w)
          }
        }
      }
      // one target_info per resource and facet, stamped at that facet's
      // newest point from this resource
      def infoAt(added: Iterable[PTimeSeries]): Option[PTimeSeries] =
        for (ts <- added.flatMap(_.samples.map(_.timestampMs)).maxOption
             if info.nonEmpty)
          yield PTimeSeries(labelsOf(res, info, "target_info"),
            Seq(PSample(1.0, ts)))
      val cumInfo = infoAt(cumulative.view.drop(c0)) // before the append
      cumulative ++= cumInfo
      deltaInfo ++= infoAt(deltas.view.drop(d0))
    }

    val r = new Prompb.Reader(buf, 0, buf.length)
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (1, 2) => val (a, b) = r.lenDelimited(); walkResource(a, b)
        case (_, w) => r.skip(w)
      }
    }
    Decoded(PWriteRequest(cumulative.toSeq), PWriteRequest(deltas.toSeq),
      deltaInfo.result(), exp.result(), deltaExp.result(), exemplars.result())
  }

  private val IdentResourceAttrs =
    Set("service.name", "service.namespace", "service.instance.id")

  /** The resource mapping → (labels every series of the resource carries,
    * attributes for its `target_info` series; empty = none). Default:
    * flatten every resource attribute into every series — simple and
    * lossless, but it inflates series identity with deploy-time
    * attributes. `targetInfo`: the Prometheus OTLP receiver's mapping —
    * `service.name` promotes to `job` (prefixed `service.namespace/`
    * when a namespace is present), `service.instance.id` to `instance`,
    * and the REMAINING attributes become one value-1 `target_info`
    * series, exactly the shape PromQL's `info()` joins back on.
    */
  private def mapResource(attrs: Attrs, targetInfo: Boolean): (Attrs, Attrs) =
    if (!targetInfo) (attrs, Nil)
    else {
      val m = attrs.toMap
      val job = m.get("service.name").map(n =>
        m.get("service.namespace").map(_ + "/" + n).getOrElse(n))
      (job.map("job" -> _).toSeq ++ m.get("service.instance.id").map("instance" -> _),
        attrs.filterNot(kv => IdentResourceAttrs.contains(kv._1)))
    }

  /** Series identity: resource labels, overridden by point attributes
    * (the OTel→Prom collision rule), then by `extra`, plus `__name__`.
    */
  private def labelsOf(res: Attrs, attrs: Attrs, name: String,
                       extra: Attrs = Nil): Seq[PLabel] =
    ((res.toMap ++ attrs.toMap) ++ extra.toMap + ("__name__" -> name))
      .toSeq.sortBy(_._1).map { case (k, v) => PLabel(k, v) }

  private def scalar(labels: Seq[PLabel], v: Double,
                     tsNano: Long): PTimeSeries =
    PTimeSeries(labels, Seq(PSample(v, Math.floorDiv(tsNano, 1000000L))))

  /** A Gauge/Sum/Histogram/ExponentialHistogram/Summary body — all share
    * { repeated data_points = 1; aggregation_temporality = 2 }, where
    * gauges and summaries (`pointInTime`) have no temporality and count
    * as cumulative — read from `outer`'s next length-delimited field.
    * Points decode only for CUMULATIVE or DELTA temporality.
    */
  private def decData[P](buf: Array[Byte], outer: Prompb.Reader,
                         pointInTime: Boolean = false)
                        (point: (Array[Byte], Int, Int) => P): (Long, Seq[P]) = {
    val (s, e) = outer.lenDelimited()
    val r = new Prompb.Reader(buf, s, e)
    var temporality = if (pointInTime) Cumulative else 0L
    val spans = Seq.newBuilder[(Int, Int)]
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (1, 2) => spans += r.lenDelimited()
        case (2, 0) if !pointInTime => temporality = r.varint()
        case (_, w) => r.skip(w)
      }
    }
    val kept = temporality == Cumulative || temporality == Delta
    (temporality,
      if (kept) spans.result().map { case (a, b) => point(buf, a, b) } else Nil)
  }

  private def decAnyValue(buf: Array[Byte], s: Int, e: Int): Option[String] = {
    val r = new Prompb.Reader(buf, s, e)
    var out: Option[String] = None
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (1, 2) => out = Some(r.utf8())
        case (2, 0) => out = Some(if (r.varint() != 0) "true" else "false")
        case (3, 0) => out = Some(String.valueOf(r.varint())) // int64: plain varint
        case (4, 1) => out = Some(String.valueOf(
          java.lang.Double.longBitsToDouble(r.fixed64())))
        case (_, w) => r.skip(w) // arrays/kvlists/bytes: not label-shaped
      }
    }
    out
  }

  private def decKeyValue(buf: Array[Byte], s: Int,
                          e: Int): Option[(String, String)] = {
    val r = new Prompb.Reader(buf, s, e)
    var key = ""; var value: Option[String] = None
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (1, 2) => key = r.utf8()
        case (2, 2) =>
          val (a, b) = r.lenDelimited(); value = decAnyValue(buf, a, b)
        case (_, w) => r.skip(w)
      }
    }
    value.map(key -> _)
  }

  private def decResource(buf: Array[Byte], s: Int, e: Int): Attrs = {
    val r = new Prompb.Reader(buf, s, e)
    val attrs = Seq.newBuilder[(String, String)]
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (1, 2) =>
          val (a, b) = r.lenDelimited()
          decKeyValue(buf, a, b).foreach(attrs += _)
        case (_, w) => r.skip(w)
      }
    }
    attrs.result()
  }

  private case class Point(tsNano: Long, value: Double, attrs: Attrs,
                           exemplars: Seq[WriteWire.PExemplar])

  private def decPoint(buf: Array[Byte], s: Int, e: Int): Point = {
    val r = new Prompb.Reader(buf, s, e)
    var ts = 0L; var v = 0.0
    val attrs = Seq.newBuilder[(String, String)]
    val exs = Seq.newBuilder[WriteWire.PExemplar]
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (3, 1) => ts = r.fixed64()
        case (4, 1) => v = java.lang.Double.longBitsToDouble(r.fixed64())
        case (5, 2) => val (a, b) = r.lenDelimited(); exs += decExemplar(buf, a, b)
        case (6, 1) => v = r.fixed64().toDouble // sfixed64 as_int
        case (7, 2) =>
          val (a, b) = r.lenDelimited()
          decKeyValue(buf, a, b).foreach(attrs += _)
        case (_, w) => r.skip(w)
      }
    }
    Point(ts, v, attrs.result(), exs.result())
  }

  private def hexOf(buf: Array[Byte], s: Int, e: Int): String = {
    val sb = new java.lang.StringBuilder((e - s) * 2)
    var i = s
    while (i < e) { sb.append(f"${buf(i) & 0xff}%02x"); i += 1 }
    sb.toString
  }

  /** One OTLP Exemplar → the store's exemplar shape (the Prometheus
    * receiver mapping): `trace_id`/`span_id` bytes render as lowercase
    * hex labels, filtered attributes become labels as-is, the value is
    * either float (3) or int (6), the timestamp ns→ms like samples.
    * Only gauge and cumulative-sum points keep theirs (where OTel SDKs
    * attach span context); histogram-point exemplars would need the
    * per-bucket attachment rule.
    */
  private def decExemplar(buf: Array[Byte], s: Int,
                          e: Int): WriteWire.PExemplar = {
    val r = new Prompb.Reader(buf, s, e)
    var ts = 0L; var v = 0.0
    val labels = Seq.newBuilder[PLabel]
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (2, 1) => ts = r.fixed64()
        case (3, 1) => v = java.lang.Double.longBitsToDouble(r.fixed64())
        case (6, 1) => v = r.fixed64().toDouble
        case (4, 2) =>
          val (a, b) = r.lenDelimited()
          labels += PLabel("span_id", hexOf(buf, a, b))
        case (5, 2) =>
          val (a, b) = r.lenDelimited()
          labels += PLabel("trace_id", hexOf(buf, a, b))
        case (7, 2) =>
          val (a, b) = r.lenDelimited()
          decKeyValue(buf, a, b).foreach { case (k2, v2) =>
            labels += PLabel(k2, v2) }
        case (_, w) => r.skip(w)
      }
    }
    WriteWire.PExemplar(labels.result().sortBy(_.name), v,
      Math.floorDiv(ts, 1000000L))
  }

  /** One explicit-bucket histogram data point. */
  private case class HistPoint(tsNano: Long, count: Long, sum: Double,
                               hasSum: Boolean, bucketCounts: Seq[Long],
                               bounds: Seq[Double], attrs: Attrs)

  private def decHistPoint(buf: Array[Byte], s: Int, e: Int): HistPoint = {
    val r = new Prompb.Reader(buf, s, e)
    var ts = 0L; var count = 0L; var sum = 0.0; var hasSum = false
    val counts = Seq.newBuilder[Long]
    val bounds = Seq.newBuilder[Double]
    val attrs = Seq.newBuilder[(String, String)]
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (3, 1) => ts = r.fixed64()
        case (4, 1) => count = r.fixed64()
        case (5, 1) => sum = java.lang.Double.longBitsToDouble(r.fixed64())
          hasSum = true
        case (6, 2) => // packed fixed64 bucket_counts
          val (a, b) = r.lenDelimited()
          val pr = new Prompb.Reader(buf, a, b)
          while (pr.hasMore) counts += pr.fixed64()
        case (6, 1) => counts += r.fixed64() // unpacked encoding is legal
        case (7, 2) => // packed double explicit_bounds
          val (a, b) = r.lenDelimited()
          val pr = new Prompb.Reader(buf, a, b)
          while (pr.hasMore)
            bounds += java.lang.Double.longBitsToDouble(pr.fixed64())
        case (7, 1) =>
          bounds += java.lang.Double.longBitsToDouble(r.fixed64())
        case (9, 2) =>
          val (a, b) = r.lenDelimited()
          decKeyValue(buf, a, b).foreach(attrs += _)
        case (_, w) => r.skip(w)
      }
    }
    HistPoint(ts, count, sum, hasSum, counts.result(), bounds.result(),
      attrs.result())
  }

  /** Explicit-bucket histogram point → Prometheus classic-histogram
    * series, the OTel→Prom compatibility mapping: per-bucket counts
    * become CUMULATIVE `le`-labeled `<name>_bucket` counters (OTLP
    * buckets are disjoint; Prometheus buckets nest), a `le="+Inf"`
    * bucket equal to the total count, plus `<name>_count` and (when
    * present) `<name>_sum`.
    */
  private def histSeries(res: Attrs, name: String,
                         h: HistPoint): Seq[PTimeSeries] = {
    def series(metric: String, extra: Attrs, v: Double) =
      scalar(labelsOf(res, h.attrs, metric, extra), v, h.tsNano)
    // bucket_counts has bounds.size + 1 entries (the overflow bucket)
    var cum = 0L
    val buckets = h.bounds.zipWithIndex.map { case (bound, i) =>
      cum += (if (i < h.bucketCounts.size) h.bucketCounts(i) else 0L)
      series(name + "_bucket", Seq("le" -> fmtLe(bound)), cum.toDouble)
    }
    buckets ++ Seq(
      series(name + "_bucket", Seq("le" -> "+Inf"), h.count.toDouble),
      series(name + "_count", Nil, h.count.toDouble)) ++
      (if (h.hasSum) Seq(series(name + "_sum", Nil, h.sum)) else Nil)
  }

  /** Bound → `le` label value, the Prometheus text form: integral bounds
    * print without a trailing `.0` (0.5 → "0.5", 10.0 → "10").
    */
  private def fmtLe(bound: Double): String =
    if (bound == bound.toLong.toDouble) bound.toLong.toString
    else bound.toString

  /** One Summary data point: pre-computed quantile values plus the
    * count/sum companions.
    */
  private case class SummaryPoint(tsNano: Long, count: Long, sum: Double,
                                  quantiles: Seq[(Double, Double)],
                                  attrs: Attrs)

  private def decSummaryPoint(buf: Array[Byte], s: Int,
                              e: Int): SummaryPoint = {
    val r = new Prompb.Reader(buf, s, e)
    var ts = 0L; var count = 0L; var sum = 0.0
    val qs = Seq.newBuilder[(Double, Double)]
    val attrs = Seq.newBuilder[(String, String)]
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (3, 1) => ts = r.fixed64()
        case (4, 1) => count = r.fixed64()
        case (5, 1) => sum = java.lang.Double.longBitsToDouble(r.fixed64())
        case (6, 2) => // ValueAtQuantile { quantile = 1; value = 2 }
          val (a, b) = r.lenDelimited()
          val qr = new Prompb.Reader(buf, a, b)
          var q = 0.0; var v = 0.0
          while (qr.hasMore) {
            val qk = qr.varint(); (qk >> 3, (qk & 7).toInt) match {
              case (1, 1) => q = java.lang.Double.longBitsToDouble(qr.fixed64())
              case (2, 1) => v = java.lang.Double.longBitsToDouble(qr.fixed64())
              case (_, w) => qr.skip(w)
            }
          }
          qs += (q -> v)
        case (7, 2) =>
          val (a, b) = r.lenDelimited()
          decKeyValue(buf, a, b).foreach(attrs += _)
        case (_, w) => r.skip(w)
      }
    }
    SummaryPoint(ts, count, sum, qs.result(), attrs.result())
  }

  /** Summary → the Prometheus OTLP-receiver mapping: each pre-computed
    * quantile becomes a `quantile`-labeled gauge series on the base
    * name, plus `<name>_count` / `<name>_sum` companions — the same
    * flatten discipline as the histogram `le` family.
    */
  private def summarySeries(res: Attrs, name: String,
                            sp: SummaryPoint): Seq[PTimeSeries] = {
    def series(metric: String, extra: Attrs, v: Double) =
      scalar(labelsOf(res, sp.attrs, metric, extra), v, sp.tsNano)
    sp.quantiles.map { case (q, v) =>
      series(name, Seq("quantile" -> fmtLe(q)), v)
    } ++ Seq(series(name + "_count", Nil, sp.count.toDouble),
      series(name + "_sum", Nil, sp.sum))
  }

  private def decExpBuckets(buf: Array[Byte], s: Int,
                            e: Int): (Int, Seq[Long]) = {
    val r = new Prompb.Reader(buf, s, e)
    var offset = 0
    val counts = Seq.newBuilder[Long]
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (1, 0) =>
          val z = r.varint(); offset = ((z >>> 1) ^ -(z & 1L)).toInt
        case (2, 2) => // packed uint64 varints
          val (a, b) = r.lenDelimited()
          val pr = new Prompb.Reader(buf, a, b)
          while (pr.hasMore) counts += pr.varint()
        case (2, 0) => counts += r.varint()
        case (_, w) => r.skip(w)
      }
    }
    (offset, counts.result())
  }

  /** One exponential-histogram point and its attributes; the labels
    * resolve once the metric name is known. */
  private def decExpHistPoint(buf: Array[Byte], s: Int,
                              e: Int): (Attrs, ExpHistPoint) = {
    val r = new Prompb.Reader(buf, s, e)
    var ts = 0L; var count = 0L; var sum = 0.0; var hasSum = false
    var scale = 0; var zeroCount = 0L
    var pos = (0, Seq.empty[Long]); var neg = (0, Seq.empty[Long])
    val attrs = Seq.newBuilder[(String, String)]
    while (r.hasMore) {
      val k = r.varint(); (k >> 3, (k & 7).toInt) match {
        case (1, 2) =>
          val (a, b) = r.lenDelimited()
          decKeyValue(buf, a, b).foreach(attrs += _)
        case (3, 1) => ts = r.fixed64()
        case (4, 1) => count = r.fixed64()
        case (5, 1) => sum = java.lang.Double.longBitsToDouble(r.fixed64())
          hasSum = true
        case (6, 0) =>
          val z = r.varint(); scale = ((z >>> 1) ^ -(z & 1L)).toInt
        case (7, 1) => zeroCount = r.fixed64()
        case (8, 2) => val (a, b) = r.lenDelimited(); pos = decExpBuckets(buf, a, b)
        case (9, 2) => val (a, b) = r.lenDelimited(); neg = decExpBuckets(buf, a, b)
        case (_, w) => r.skip(w)
      }
    }
    (attrs.result(), ExpHistPoint(Nil, ts, count, sum, hasSum, scale,
      zeroCount, pos._1, pos._2, neg._1, neg._2))
  }

  /** One decoded (cumulative) exp-histogram point as a native-histogram
    * series: OTLP bucket i covers (base^i, base^(i+1)] — one LOWER than
    * the Prometheus convention, so the bridge adds 1 — and the OTLP
    * scale IS the Prometheus schema (same γ = 2^(2^-scale)). Zero-count
    * buckets drop (sparse form); negative buckets are out of the store
    * model's scope (positive observations + zero bucket), matching the
    * fixture edge.
    */
  def expHistToNative(p: ExpHistPoint): NativeHist.PHistSeries = {
    val buckets = p.posCounts.zipWithIndex.collect {
      case (c, i) if c > 0L => (p.posOffset + i + 1, c)
    }
    val (spans, deltas) = NativeHist.toSpans(buckets)
    NativeHist.PHistSeries(p.labels, Seq(NativeHist.PHistogram(
      p.count, p.sum, p.scale, 0.0, p.zeroCount, spans, deltas, Nil, Nil,
      Math.floorDiv(p.tsNano, 1000000L))))
  }

  // ---------------------------------------------------------------- encode
  // (test/fixture marshalling — a store is an OTLP RECEIVER; the encoder
  // exists so round-trip entries can build real wire bytes)

  private def encKeyValue(k: String, v: String): Array[Byte] = {
    val any = new Prompb.Writer
    any.string(1, v)
    val w = new Prompb.Writer
    w.string(1, k); w.message(2, any.toBytes)
    w.toBytes
  }

  private def encPoint(tsNano: Long, value: Double,
                       attrs: Seq[(String, String)]): Array[Byte] = {
    val w = new Prompb.Writer
    w.fixed64(3, tsNano)
    w.double(4, value)
    attrs.foreach { case (k, v) => w.message(7, encKeyValue(k, v)) }
    w.toBytes
  }

  /** One request: a single resource (with `resourceAttrs`) carrying one
    * gauge metric per (name, attrs) group of `points`.
    */
  def encodeGaugeRequest(resourceAttrs: Seq[(String, String)],
                         points: Seq[(String, Seq[(String, String)], Long, Double)])
      : Array[Byte] = {
    val metrics = points.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (name, pts) =>
        val gauge = new Prompb.Writer
        pts.foreach { case (_, attrs, tsNano, v) =>
          gauge.message(1, encPoint(tsNano, v, attrs))
        }
        val m = new Prompb.Writer
        m.string(1, name)
        m.message(5, gauge.toBytes)
        m.toBytes
    }
    wrapRequest(resourceAttrs, metrics)
  }

  private def wrapRequest(resourceAttrs: Seq[(String, String)],
                          metrics: Seq[Array[Byte]]): Array[Byte] = {
    val scope = new Prompb.Writer
    metrics.foreach(m => scope.message(2, m))
    val resource = new Prompb.Writer
    resourceAttrs.foreach { case (k, v) =>
      resource.message(1, encKeyValue(k, v))
    }
    val rm = new Prompb.Writer
    rm.message(1, resource.toBytes)
    rm.message(2, scope.toBytes)
    val req = new Prompb.Writer
    req.message(1, rm.toBytes)
    req.toBytes
  }

  private def hexToBytes(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** One Sum request whose points carry inline EXEMPLARS — the span-
    * context shape OTel SDKs attach to counters. Each point tuple is
    * (name, attrs, tsNano, value, exemplars); each exemplar is
    * (filteredAttrs, traceIdHex, tsNano, value).
    */
  def encodeSumRequestExemplars(resourceAttrs: Seq[(String, String)],
      points: Seq[(String, Seq[(String, String)], Long, Double,
        Seq[(Seq[(String, String)], String, Long, Double)])],
      temporality: Int = 2): Array[Byte] = {
    val metrics = points.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (name, pts) =>
        val sum = new Prompb.Writer
        pts.foreach { case (_, attrs, tsNano, v, exs) =>
          val dp = new Prompb.Writer
          dp.fixed64(3, tsNano)
          dp.double(4, v)
          exs.foreach { case (exAttrs, traceHex, exTsNano, exV) =>
            val ew = new Prompb.Writer
            ew.fixed64(2, exTsNano)
            ew.double(3, exV)
            ew.message(5, hexToBytes(traceHex)) // trace_id bytes
            exAttrs.foreach { case (k, v2) => ew.message(7, encKeyValue(k, v2)) }
            dp.message(5, ew.toBytes)
          }
          attrs.foreach { case (k, v2) => dp.message(7, encKeyValue(k, v2)) }
          sum.message(1, dp.toBytes)
        }
        sum.int64(2, temporality.toLong)
        sum.int64(3, 1L) // is_monotonic
        val m = new Prompb.Writer
        m.string(1, name)
        m.message(7, sum.toBytes)
        m.toBytes
    }
    wrapRequest(resourceAttrs, metrics)
  }

  /** One request carrying one Sum metric per (name, attrs) group, with an
    * explicit aggregation_temporality (2 = CUMULATIVE, 1 = DELTA) so specs
    * can exercise the delta-rejection path with real wire bytes.
    */
  def encodeSumRequest(resourceAttrs: Seq[(String, String)],
                       points: Seq[(String, Seq[(String, String)], Long, Double)],
                       temporality: Int = 2): Array[Byte] =
    encodeSumRequestExemplars(resourceAttrs,
      points.map { case (name, attrs, tsNano, v) => (name, attrs, tsNano, v, Nil) },
      temporality)

  /** One request carrying one explicit-bucket Histogram metric: one data
    * point per (attrs, tsNano) entry, each with disjoint per-bucket
    * `bucketCounts` (bounds.size + 1 entries, last = overflow) — the raw
    * OTel SDK shape the decoder cumulates into `le` series.
    */
  def encodeHistogramRequest(resourceAttrs: Seq[(String, String)],
                             name: String, bounds: Seq[Double],
                             points: Seq[(Seq[(String, String)], Long, Seq[Long], Double)],
                             temporality: Int = 2): Array[Byte] = {
    val hist = new Prompb.Writer
    points.foreach { case (attrs, tsNano, bucketCounts, sum) =>
      val dp = new Prompb.Writer
      dp.fixed64(3, tsNano)
      dp.fixed64(4, bucketCounts.sum)
      dp.double(5, sum)
      val packedCounts = new Prompb.Writer
      bucketCounts.foreach(packedCounts.rawFixed64)
      dp.message(6, packedCounts.toBytes)
      val packedBounds = new Prompb.Writer
      bounds.foreach(b =>
        packedBounds.rawFixed64(java.lang.Double.doubleToLongBits(b)))
      dp.message(7, packedBounds.toBytes)
      attrs.foreach { case (k, v) => dp.message(9, encKeyValue(k, v)) }
      hist.message(1, dp.toBytes)
    }
    hist.int64(2, temporality.toLong)
    val m = new Prompb.Writer
    m.string(1, name)
    m.message(9, hist.toBytes)
    wrapRequest(resourceAttrs, Seq(m.toBytes))
  }

  /** One request carrying one Summary metric: one data point per
    * (attrs, tsNano) entry with its count, sum, and pre-computed
    * (quantile, value) pairs — the legacy-SDK shape the decoder flattens
    * into `quantile`-labeled series.
    */
  def encodeSummaryRequest(resourceAttrs: Seq[(String, String)],
                           name: String,
                           points: Seq[(Seq[(String, String)], Long, Long,
                             Double, Seq[(Double, Double)])]): Array[Byte] = {
    val summary = new Prompb.Writer
    points.foreach { case (attrs, tsNano, count, sum, quantiles) =>
      val dp = new Prompb.Writer
      dp.fixed64(3, tsNano)
      dp.fixed64(4, count)
      dp.double(5, sum)
      quantiles.foreach { case (q, v) =>
        val qw = new Prompb.Writer
        qw.double(1, q); qw.double(2, v)
        dp.message(6, qw.toBytes)
      }
      attrs.foreach { case (k, v) => dp.message(7, encKeyValue(k, v)) }
      summary.message(1, dp.toBytes)
    }
    val m = new Prompb.Writer
    m.string(1, name)
    m.message(11, summary.toBytes)
    wrapRequest(resourceAttrs, Seq(m.toBytes))
  }

  /** One request carrying one ExponentialHistogram metric: each point is
    * (attrs, tsNano, count, sum, scale, zeroCount, posOffset,
    * posCounts) — the dense offset+counts Buckets shape (zeros
    * included), zigzag scale/offset, packed-varint counts.
    */
  def encodeExpHistogramRequest(resourceAttrs: Seq[(String, String)],
                                name: String,
                                points: Seq[(Seq[(String, String)], Long,
                                  Long, Double, Int, Long, Int,
                                  Seq[Long])],
                                temporality: Int = 2): Array[Byte] = {
    def zz(n: Long): Long = (n << 1) ^ (n >> 63)
    val hist = new Prompb.Writer
    points.foreach { case (attrs, tsNano, count, sum, scale, zeroCount,
        posOffset, posCounts) =>
      val dp = new Prompb.Writer
      attrs.foreach { case (k, v) => dp.message(1, encKeyValue(k, v)) }
      dp.fixed64(3, tsNano)
      dp.fixed64(4, count)
      dp.double(5, sum)
      if (scale != 0) { dp.key(6, 0); dp.varint(zz(scale.toLong)) }
      dp.fixed64(7, zeroCount)
      val b = new Prompb.Writer
      if (posOffset != 0) { b.key(1, 0); b.varint(zz(posOffset.toLong)) }
      val packed = new Prompb.Writer
      posCounts.foreach(packed.varint)
      b.bytes(2, packed.toBytes)
      dp.message(8, b.toBytes)
      hist.message(1, dp.toBytes)
    }
    hist.int64(2, temporality.toLong)
    val m = new Prompb.Writer
    m.string(1, name)
    m.message(10, hist.toBytes)
    wrapRequest(resourceAttrs, Seq(m.toBytes))
  }
}
