package graft

import graft.codec.{Otlp, Prompb, WriteWire}
import graft.codec.Prompb._
import org.scalatest.funsuite.AnyFunSuite

/** Wire-level specs for the hand-rolled prompb codec (S1/S11). */
class PrompbSpec extends AnyFunSuite {

  test("golden bytes: minimal WriteRequest encodes to the exact proto wire") {
    val wr = PWriteRequest(Seq(PTimeSeries(
      Seq(PLabel("__name__", "m")), Seq(PSample(1.5, 1000L)))))
    val expected: Array[Byte] = Array(
      0x0A, 29, // WriteRequest.timeseries[0], len 29
      0x0A, 13, // TimeSeries.labels[0], len 13
      0x0A, 8, '_', '_', 'n', 'a', 'm', 'e', '_', '_', // Label.name
      0x12, 1, 'm', // Label.value
      0x12, 12, // TimeSeries.samples[0], len 12
      0x09, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xF8, 0x3F, // 1.5 LE fixed64
      0x10, 0xE8, 0x07 // timestamp varint 1000
    ).map(_.toByte)
    assert(Prompb.encodeWriteRequest(wr).toSeq == expected.toSeq)
    assert(Prompb.decodeWriteRequest(expected) == wr)
  }

  test("WriteRequest round-trip: multi-series, zero value, unicode, empty") {
    val wr = PWriteRequest(Seq(
      PTimeSeries(
        Seq(PLabel("__name__", "test:metric"), PLabel("ü", "日")),
        Seq(PSample(0.0, 0L), PSample(-1.25, 123456789123L),
          PSample(Double.MaxValue, 1L))),
      PTimeSeries(Seq(PLabel("__name__", "b")), Seq())))
    val back = Prompb.decodeWriteRequest(Prompb.encodeWriteRequest(wr))
    assert(back == wr)
  }

  test("NaN sample value survives the fixed64 bits") {
    val wr = PWriteRequest(Seq(PTimeSeries(
      Seq(PLabel("__name__", "n")), Seq(PSample(Double.NaN, 5L)))))
    val back = Prompb.decodeWriteRequest(Prompb.encodeWriteRequest(wr))
    assert(back.timeseries.head.samples.head.timestampMs == 5L)
    assert(back.timeseries.head.samples.head.value.isNaN)
  }

  test("ReadRequest round-trip with matchers") {
    val rr = PReadRequest(Seq(PQuery(1000L, 2000L, Seq(
      PLabelMatcher(MatchType.EQ, "__name__", "up"),
      PLabelMatcher(MatchType.NRE, "job", "node.*")))))
    assert(Prompb.decodeReadRequest(Prompb.encodeReadRequest(rr)) == rr)
  }

  test("ReadRequest round-trip with hints and accepted_response_types, " +
      "packed and unpacked forms") {
    val rr = PReadRequest(Seq(PQuery(1000L, 2000L,
      Seq(PLabelMatcher(MatchType.EQ, "__name__", "up")),
      hints = Some(PReadHints(stepMs = 60000L, func = "rate",
        startMs = 1000L, endMs = 2000L, grouping = Seq("job", "instance"),
        by = true, rangeMs = 300000L)))),
      acceptedResponseTypes = Seq(1, 0))
    assert(Prompb.decodeReadRequest(Prompb.encodeReadRequest(rr)) == rr)
    // the wire spec also allows UNPACKED repeated enums: field 2 wire 0
    val base = Prompb.encodeReadRequest(PReadRequest(rr.queries))
    val unpacked = base ++ Array((2 << 3).toByte, 1.toByte,
      (2 << 3).toByte, 0.toByte)
    assert(Prompb.decodeReadRequest(unpacked).acceptedResponseTypes ==
      Seq(1, 0))
    // absent hints stay None; absent list stays empty (legacy contract)
    val legacy = PReadRequest(Seq(PQuery(1L, 2L, Nil)))
    val back = Prompb.decodeReadRequest(Prompb.encodeReadRequest(legacy))
    assert(back.queries.head.hints.isEmpty &&
      back.acceptedResponseTypes.isEmpty)
  }

  test("ReadResponse round-trip") {
    val resp = PReadResponse(Seq(PQueryResult(Seq(
      PTimeSeries(Seq(PLabel("__name__", "m"), PLabel("k", "v")),
        Seq(PSample(1.0, 10L), PSample(2.0, 20L)))))))
    assert(Prompb.decodeReadResponse(Prompb.encodeReadResponse(resp)) == resp)
  }

  test("decoder skips unknown fields (forward compatibility)") {
    val base = Prompb.encodeWriteRequest(PWriteRequest(Seq(PTimeSeries(
      Seq(PLabel("__name__", "m")), Seq(PSample(2.0, 7L))))))
    // Append an unknown field 15, wiretype 2 (e.g. a future metadata blob).
    val extra = Array((15 << 3 | 2).toByte, 3.toByte, 1.toByte, 2.toByte, 3.toByte)
    val decoded = Prompb.decodeWriteRequest(base ++ extra)
    assert(decoded.timeseries.head.samples.head == PSample(2.0, 7L))
  }

  test("OTLP target-info mode: service.name/namespace/instance.id " +
      "promote to job/instance, the rest becomes one target_info series") {
    import graft.codec.Otlp
    val bytes = Otlp.encodeGaugeRequest(
      Seq("service.name" -> "api", "service.namespace" -> "prod",
        "service.instance.id" -> "i1", "k8s.cluster" -> "us-east"),
      Seq(("reqs", Seq("code" -> "200"), 1000L * 1000000L, 5.0),
        ("reqs", Seq("code" -> "500"), 2000L * 1000000L, 1.0)))
    val out = Otlp.decode(bytes, targetInfo = true).cumulative
    val reqs = out.timeseries.filter(_.labels
      .contains(PLabel("__name__", "reqs")))
    assert(reqs.size == 2)
    reqs.foreach { ts =>
      assert(ts.labels.contains(PLabel("job", "prod/api")))
      assert(ts.labels.contains(PLabel("instance", "i1")))
      // data resource attrs do NOT flatten into the series in this mode
      assert(!ts.labels.exists(_.name == "k8s.cluster"))
    }
    val ti = out.timeseries.filter(_.labels
      .contains(PLabel("__name__", "target_info")))
    assert(ti.size == 1)
    assert(ti.head.labels.toSet == Set(
      PLabel("__name__", "target_info"), PLabel("job", "prod/api"),
      PLabel("instance", "i1"), PLabel("k8s.cluster", "us-east")))
    // value 1 at the batch's newest point timestamp
    assert(ti.head.samples == Seq(PSample(1.0, 2000L)))
    // no namespace → bare service.name; no data attrs → no target_info
    val bare = Otlp.decode(Otlp.encodeGaugeRequest(
      Seq("service.name" -> "api", "service.instance.id" -> "i2"),
      Seq(("reqs", Nil, 1000L * 1000000L, 5.0))), targetInfo = true).cumulative
    assert(bare.timeseries.size == 1)
    assert(bare.timeseries.head.labels.contains(PLabel("job", "api")))
    // the default walk is untouched: resource attrs still flatten
    assert(Otlp.decode(bytes).cumulative.timeseries.forall(
      _.labels.exists(_.name == "k8s.cluster")))
  }

  test("snappy round-trip and wire stack end-to-end") {
    val wr = PWriteRequest(Seq(PTimeSeries(
      Seq(PLabel("__name__", "e2e")), Seq(PSample(3.14, 42L)))))
    val wire = Prompb.snappyCompress(Prompb.encodeWriteRequest(wr))
    assert(Prompb.decodeWriteRequest(Prompb.snappyUncompress(wire)) == wr)
  }

  test("malformed payloads fail loudly, not silently") {
    // garbage is not snappy-framed
    intercept[Exception] { Prompb.snappyUncompress(Array[Byte](1, 2, 3, 4)) }
    // truncated proto: valid frame, body cut mid-message
    val wire = Prompb.encodeWriteRequest(PWriteRequest(Seq(PTimeSeries(
      Seq(PLabel("__name__", "m")), Seq(PSample(1.0, 1L))))))
    intercept[IllegalArgumentException] {
      Prompb.decodeWriteRequest(wire.dropRight(3))
    }
  }

  test("seeded randomized round-trip (100 requests)") {
    val rnd = new scala.util.Random(7)
    def rs(): String = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
    (1 to 100).foreach { _ =>
      val wr = PWriteRequest(Seq.fill(rnd.nextInt(4))(PTimeSeries(
        Seq.fill(rnd.nextInt(4))(PLabel(rs(), rs())),
        Seq.fill(rnd.nextInt(5))(
          PSample(rnd.nextDouble() * 1e6 - 5e5, rnd.nextLong().abs)))))
      assert(Prompb.decodeWriteRequest(Prompb.encodeWriteRequest(wr)) == wr)
    }
  }

  test("prw2 golden bytes: symbol table + packed refs encode to the " +
       "exact v2 wire") {
    import graft.codec.Prompb2
    import graft.codec.Prompb2._
    val req = P2Request(Seq("", "n", "v"),
      Seq(P2TimeSeries(Seq(1, 2), Seq(PSample(1.5, 1000L)))))
    val expected: Array[Byte] = Array(
      0x22, 0,           // symbols[0] = "" (field 4)
      0x22, 1, 'n',      // symbols[1]
      0x22, 1, 'v',      // symbols[2]
      0x2A, 18,          // timeseries[0] (field 5), len 18
      0x0A, 2, 1, 2,     // labels_refs packed [1, 2]
      0x12, 12,          // samples[0], len 12 (v1 Sample shape)
      0x09, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xF8, 0x3F,
      0x10, 0xE8, 0x07
    ).map(_.toByte)
    assert(Prompb2.encodeRequest(req).toSeq == expected.toSeq)
    assert(Prompb2.decodeRequest(expected) == req)
    // symbol resolution to the canonical v1 shape
    assert(Prompb2.decodeToV1(expected) == PWriteRequest(Seq(PTimeSeries(
      Seq(PLabel("n", "v")), Seq(PSample(1.5, 1000L))))))
  }

  test("prw2: v1→v2→v1 round-trip interns duplicate strings once and " +
       "is lossless") {
    import graft.codec.Prompb2
    val wr = PWriteRequest(Seq(
      PTimeSeries(Seq(PLabel("__name__", "up"), PLabel("job", "api")),
        Seq(PSample(1.0, 1L), PSample(0.0, 2L))),
      PTimeSeries(Seq(PLabel("__name__", "up"), PLabel("job", "db")),
        Seq(PSample(1.0, 3L))),
      PTimeSeries(Seq(PLabel("__name__", "scrape_duration"),
        PLabel("job", "api")), Seq(PSample(0.25, 4L)))))
    val v2 = Prompb2.fromV1(wr)
    // "", __name__, up, job, api, db, scrape_duration — each once
    assert(v2.symbols.size == 7)
    assert(v2.symbols.head.isEmpty)
    assert(v2.symbols.distinct == v2.symbols)
    assert(Prompb2.toV1(Prompb2.decodeRequest(
      Prompb2.encodeRequest(v2))) == wr)
  }

  test("otlp: gauge request round-trips through the receiver with " +
       "resource/point attribute merge and nano→ms narrowing") {
    import graft.codec.Otlp
    val bytes = Otlp.encodeGaugeRequest(
      Seq("job" -> "api", "env" -> "prod"),
      Seq(
        ("http_requests", Seq("method" -> "GET"), 1700000000123456789L, 42.0),
        ("http_requests", Seq("method" -> "POST", "env" -> "canary"),
          1700000000123000000L, 7.5),
        ("cpu_usage", Seq(), 1700000001000000000L, 0.93)))
    val wr = Otlp.decode(bytes).cumulative
    assert(wr.timeseries.size == 3)
    val byName = wr.timeseries.groupBy(
      _.labels.find(_.name == "__name__").get.value)
    assert(byName.keySet == Set("http_requests", "cpu_usage"))
    val get = wr.timeseries.find(ts =>
      ts.labels.contains(PLabel("method", "GET"))).get
    // resource attrs flattened in; nano → ms floor
    assert(get.labels.contains(PLabel("job", "api")))
    assert(get.labels.contains(PLabel("env", "prod")))
    assert(get.samples == Seq(PSample(42.0, 1700000000123L)))
    // point attribute WINS over resource attribute on collision
    val post = wr.timeseries.find(ts =>
      ts.labels.contains(PLabel("method", "POST"))).get
    assert(post.labels.contains(PLabel("env", "canary")))
    assert(!post.labels.contains(PLabel("env", "prod")))
    val cpu = byName("cpu_usage").head
    assert(cpu.samples == Seq(PSample(0.93, 1700000001000L)))
  }

  test("otlp: cumulative sums ingest; DELTA and UNSPECIFIED temporality " +
       "sums are rejected (Prometheus OTLP receiver policy)") {
    import graft.codec.Otlp
    val pts = Seq(("req_total", Seq("method" -> "GET"),
      1700000000000000000L, 10.0))
    val cumulative = Otlp.decode(
      Otlp.encodeSumRequest(Seq("job" -> "api"), pts, temporality = 2)).cumulative
    assert(cumulative.timeseries.size == 1)
    assert(cumulative.timeseries.head.samples ==
      Seq(PSample(10.0, 1700000000000L)))
    val delta = Otlp.decode(
      Otlp.encodeSumRequest(Seq("job" -> "api"), pts, temporality = 1))
    assert(delta.cumulative.timeseries.isEmpty,
      "DELTA-temporality sum must not ingest as a cumulative counter")
    // it lands in the delta facet instead, as the same series
    assert(delta.deltas == cumulative)
    val unspec = Otlp.decode(
      Otlp.encodeSumRequest(Seq("job" -> "api"), pts, temporality = 0))
    assert(unspec.cumulative.timeseries.isEmpty &&
      unspec.deltas.timeseries.isEmpty)
  }

  test("otlp: explicit-bucket histogram flattens to cumulative le-bucket " +
       "+Inf/count/sum series; delta histograms rejected") {
    import graft.codec.Otlp
    val bytes = Otlp.encodeHistogramRequest(
      Seq("job" -> "api"), "latency", bounds = Seq(0.5, 2.0, 10.0),
      points = Seq((Seq("method" -> "GET"), 1700000000000000000L,
        Seq(3L, 4L, 2L, 1L), 12.5)))
    val wr = Otlp.decode(bytes).cumulative
    def series(name: String, le: Option[String]) =
      wr.timeseries.find { ts =>
        ts.labels.contains(PLabel("__name__", name)) &&
          le.forall(v => ts.labels.contains(PLabel("le", v)))
      }.get
    // disjoint OTLP buckets (3,4,2,1) cumulate to nested Prometheus ones
    assert(series("latency_bucket", Some("0.5")).samples.head.value == 3.0)
    assert(series("latency_bucket", Some("2")).samples.head.value == 7.0)
    assert(series("latency_bucket", Some("10")).samples.head.value == 9.0)
    assert(series("latency_bucket", Some("+Inf")).samples.head.value == 10.0)
    assert(series("latency_count", None).samples.head.value == 10.0)
    assert(series("latency_sum", None).samples.head.value == 12.5)
    // all series carry the resource + point labels and the ms timestamp
    assert(wr.timeseries.forall(_.labels.contains(PLabel("job", "api"))))
    assert(wr.timeseries.forall(_.labels.contains(PLabel("method", "GET"))))
    assert(wr.timeseries.forall(_.samples.head.timestampMs == 1700000000000L))
    // integral bounds print without a trailing .0 (Prometheus text form)
    assert(!wr.timeseries.exists(_.labels.exists(l =>
      l.name == "le" && l.value == "2.0")))
    val delta = Otlp.decode(Otlp.encodeHistogramRequest(
      Seq("job" -> "api"), "latency", Seq(0.5),
      Seq((Nil, 1700000000000000000L, Seq(1L, 1L), 1.0)), temporality = 1)).cumulative
    assert(delta.timeseries.isEmpty)
  }

  test("prw2: malformed payloads fail loudly — missing empty symbol, " +
       "odd ref count, out-of-range ref") {
    import graft.codec.Prompb2
    import graft.codec.Prompb2._
    val ok = P2TimeSeries(Seq(1, 2), Seq(PSample(1.0, 1L)))
    intercept[IllegalArgumentException] {
      Prompb2.toV1(P2Request(Seq("n", "v"), Seq(ok)))
    }
    intercept[IllegalArgumentException] {
      Prompb2.toV1(P2Request(Seq("", "n", "v"),
        Seq(P2TimeSeries(Seq(1, 2, 1), Seq()))))
    }
    intercept[IllegalArgumentException] {
      Prompb2.toV1(P2Request(Seq("", "n"),
        Seq(P2TimeSeries(Seq(1, 9), Seq()))))
    }
  }

  test("otlp: summaries flatten to quantile-labeled series plus " +
       "_count/_sum companions (the receiver convention)") {
    import graft.codec.Otlp
    val bytes = Otlp.encodeSummaryRequest(Seq("job" -> "api"), "rpc",
      Seq((Seq("method" -> "GET"), 1700000000000000000L, 40L, 12.5,
        Seq(0.5 -> 0.2, 0.99 -> 1.75))))
    val wr = Otlp.decode(bytes).cumulative
    def one(name: String, q: Option[String]): PSample = {
      val ts = wr.timeseries.filter(t =>
        t.labels.contains(PLabel("__name__", name)) &&
          q.forall(v => t.labels.contains(PLabel("quantile", v))))
      assert(ts.length == 1, s"$name q=$q")
      ts.head.samples.head
    }
    assert(one("rpc", Some("0.5")).value == 0.2)
    assert(one("rpc", Some("0.99")).value == 1.75)
    assert(one("rpc_count", None).value == 40.0)
    assert(one("rpc_sum", None).value == 12.5)
    // point attrs + resource attrs carried; nano ts narrows to ms
    assert(wr.timeseries.forall(_.labels.contains(PLabel("job", "api"))))
    assert(wr.timeseries.forall(_.labels.contains(PLabel("method", "GET"))))
    assert(wr.timeseries.forall(_.samples.head.timestampMs == 1700000000000L))
    // quantile label prints integral values without a trailing .0
    val b2 = Otlp.decode(Otlp.encodeSummaryRequest(Nil, "x",
      Seq((Nil, 0L, 1L, 1.0, Seq(1.0 -> 3.0))))).cumulative
    assert(b2.timeseries.exists(_.labels.contains(PLabel("quantile", "1"))))
  }

  test("v1 single-walk decode: scalars, native histograms, exemplars " +
       "and metadata out of ONE payload in one pass") {
    import graft.codec.{NativeHist, WriteWire}
    // hand-assemble a WriteRequest whose one series carries all three
    // facets, plus request-level metadata
    val hist = NativeHist.PHistogram(3L, 1.5, 0, 0.0, 0L,
      Seq(NativeHist.BucketSpan(1, 2)), Seq(2L, -1L), Nil, Nil, 5000L)
    val histBytes = NativeHist.encodeWriteRequest(Seq(
      NativeHist.PHistSeries(Seq(PLabel("__name__", "h")), Seq(hist))))
    val scalarBytes = WriteWire.encodeWriteRequest(
      Seq((Seq(PLabel("__name__", "s"), PLabel("job", "x")),
        Seq(PSample(2.5, 1000L)),
        Seq(WriteWire.PExemplar(Seq(PLabel("trace_id", "t1")),
          7.25, 1000L)))),
      metadata = Seq(WriteWire.PMetadata("s", "gauge", "help text", "s")))
    // concatenated top-level messages are one valid WriteRequest
    val dec = WriteWire.decode(scalarBytes ++ histBytes)
    assert(dec.scalars.timeseries.map(_.samples) == Seq(Seq(PSample(2.5, 1000L))))
    assert(dec.histograms.length == 1)
    assert(NativeHist.expandBuckets(dec.histograms.head.histograms.head
      .positiveSpans, dec.histograms.head.histograms.head.positiveDeltas)
      == Seq((1, 2L), (2, 1L)))
    assert(dec.exemplars == Seq(WriteWire.PExemplarSeries(
      Seq(PLabel("__name__", "s"), PLabel("job", "x")),
      Seq(WriteWire.PExemplar(Seq(PLabel("trace_id", "t1")), 7.25, 1000L)))))
    assert(dec.metadata == Seq(WriteWire.PMetadata("s", "gauge",
      "help text", "s")))
    // and it agrees with the dedicated decoders over the same bytes
    // (the single walk drops sample-less series; the scalar decoder
    // keeps the histogram-only series as an empty shell)
    assert(dec.scalars.timeseries ==
      Prompb.decodeWriteRequest(scalarBytes ++ histBytes)
        .timeseries.filter(_.samples.nonEmpty))
    assert(dec.histograms ==
      NativeHist.decodeWriteRequest(scalarBytes ++ histBytes))
  }

  test("prw2: exemplars (field 4) and metadata (field 5) resolve " +
       "through the symbol table") {
    import graft.codec.{Prompb2, WriteWire}
    import graft.codec.Prompb2._
    val syms = Seq("", "__name__", "reqs", "trace_id", "abc",
      "Total requests", "1")
    val ts = P2TimeSeries(Seq(1, 2), Seq(PSample(1.0, 1000L)),
      exemplars = Seq(P2Exemplar(Seq(3, 4), 9.5, 1500L)),
      metadata = Some(P2Metadata(1, 5, 6)))
    val req = Prompb2.decodeRequest(
      Prompb2.encodeRequest(P2Request(syms, Seq(ts))))
    assert(req == P2Request(syms, Seq(ts))) // wire round-trip exact
    assert(Prompb2.exemplarsToV1(req) == Seq(WriteWire.PExemplarSeries(
      Seq(PLabel("__name__", "reqs")),
      Seq(WriteWire.PExemplar(Seq(PLabel("trace_id", "abc")),
        9.5, 1500L)))))
    assert(Prompb2.metadataToV1(req) == Seq(WriteWire.PMetadata(
      "reqs", "counter", "Total requests", "1")))
  }

  test("otlp exemplars: hex trace ids, series identity under both " +
      "resource mappings, delta sums excluded") {
    val bytes = Otlp.encodeSumRequestExemplars(
      Seq("service.name" -> "api", "region" -> "eu"),
      Seq(("rq", Seq("code" -> "200"), 2000000000L, 7.0,
        Seq((Seq("lane" -> "slow"), "00ff", 1000000000L, 3.5)))))
    // flatten mode: resource attrs join the series labels
    val flat = Otlp.decode(bytes).exemplars
    assert(flat == Seq(WriteWire.PExemplarSeries(
      Seq(PLabel("__name__", "rq"), PLabel("code", "200"),
        PLabel("region", "eu"), PLabel("service.name", "api")),
      Seq(WriteWire.PExemplar(
        Seq(PLabel("lane", "slow"), PLabel("trace_id", "00ff")),
        3.5, 1000L)))))
    // target-info mode: the promoted job identity instead — matching
    // the sample walk, so stored exemplars selector-match their series
    val ti = Otlp.decode(bytes, targetInfo = true).exemplars
    assert(ti.head.seriesLabels ==
      Seq(PLabel("__name__", "rq"), PLabel("code", "200"),
        PLabel("job", "api")))
    // DELTA sums are not decoded (their samples aren't either)
    val delta = Otlp.encodeSumRequestExemplars(Nil,
      Seq(("rq", Nil, 2000000000L, 7.0,
        Seq((Nil, "aa", 1000000000L, 1.0)))), temporality = 1)
    assert(Otlp.decode(delta).exemplars.isEmpty)
  }
}
