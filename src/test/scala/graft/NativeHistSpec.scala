package graft

import graft.codec.{NativeHist, Prompb}
import graft.codec.NativeHist._
import org.scalatest.funsuite.AnyFunSuite

/** Native-histogram wire codec: span/delta expansion, round trips over
  * randomized sparse buckets (gaps, negative offsets), golden bytes,
  * and structural skip of float-histogram fields.
  */
class NativeHistSpec extends AnyFunSuite {

  test("span expansion walks absolute indexes across gaps") {
    // buckets at 3,4 then gap then 8: spans (3,2), (2,1)
    val buckets = Seq((3, 5L), (4, 2L), (8, 7L))
    val (spans, deltas) = toSpans(buckets)
    assert(spans == Seq(BucketSpan(3, 2), BucketSpan(3, 1)))
    // decode: idx=0+3 -> 3,4 ; idx=5+3 -> 8
    assert(expandBuckets(spans, deltas) == buckets)
    // deltas are count differences: 5, -3, +5
    assert(deltas == Seq(5L, -3L, 5L))
  }

  test("negative first offset (values below 1 fp unit) round-trips") {
    val buckets = Seq((-2, 1L), (-1, 4L), (5, 2L))
    val (spans, deltas) = toSpans(buckets)
    assert(spans.head.offset == -2)
    assert(expandBuckets(spans, deltas) == buckets)
  }

  test("histogram message round-trips through the wire") {
    val rnd = new scala.util.Random(3)
    (0 until 50).foreach { _ =>
      val idxs = (0 until rnd.nextInt(20) + 1)
        .map(_ => rnd.nextInt(80) - 10).distinct.sorted
      val buckets = idxs.map(i => (i, rnd.nextInt(1000).toLong + 1))
      val (spans, deltas) = toSpans(buckets)
      val h = PHistogram(buckets.map(_._2).sum, rnd.nextDouble() * 1e6,
        rnd.nextInt(9) - 4, 1e-128, rnd.nextInt(10).toLong,
        spans, deltas, Nil, Nil, rnd.nextLong().abs % (1L << 41))
      val wire = NativeHist.encodeWriteRequest(Seq(PHistSeries(
        Seq(Prompb.PLabel("__name__", "m"), Prompb.PLabel("job", "j")),
        Seq(h))))
      val back = NativeHist.decodeWriteRequest(wire)
      assert(back.length == 1)
      assert(back.head.labels == Seq(Prompb.PLabel("__name__", "m"),
        Prompb.PLabel("job", "j")))
      val hb = back.head.histograms.head
      assert(hb == h)
      assert(expandBuckets(hb.positiveSpans, hb.positiveDeltas) == buckets)
    }
  }

  test("NHCB (schema -53): custom bounds round-trip the wire and the " +
      "classic flatten uses the literal bounds, overflow folding to +Inf") {
    // buckets: (−Inf,10]=3, (10,100]=5, (100,500]=2, (500,+Inf)=1
    val (spans, deltas) = toSpans(Seq((0, 3L), (1, 5L), (2, 2L), (3, 1L)))
    val h = PHistogram(11L, 1234.5, NativeHist.CustomBucketsSchema,
      0.0, 0L, spans, deltas, Nil, Nil, 60000L,
      customValues = Seq(10.0, 100.0, 500.0))
    val wire = NativeHist.encodeWriteRequest(Seq(PHistSeries(
      Seq(Prompb.PLabel("__name__", "lat"), Prompb.PLabel("job", "j")),
      Seq(h))))
    val back = NativeHist.decodeWriteRequest(wire)
    assert(back.head.histograms.head == h)
    val classic = NativeHist.toClassicSeries(back.head)
    def one(metric: String, le: Option[String]): Double =
      classic.find(ts =>
        ts.labels.contains(Prompb.PLabel("__name__", metric)) &&
          le.forall(v => ts.labels.contains(Prompb.PLabel("le", v))))
        .get.samples.head.value
    assert(one("lat_bucket", Some("10")) == 3.0)
    assert(one("lat_bucket", Some("100")) == 8.0)
    assert(one("lat_bucket", Some("500")) == 10.0)
    // the overflow bucket emits NO own le series, only +Inf = count
    assert(!classic.exists(_.labels.exists(l =>
      l.name == "le" && !Set("10", "100", "500", "+Inf").contains(l.value))))
    assert(one("lat_bucket", Some("+Inf")) == 11.0)
    assert(one("lat_count", None) == 11.0)
    assert(one("lat_sum", None) == 1234.5)
    // fractional bounds print minimal decimals, like classic le labels
    val h2 = h.copy(customValues = Seq(0.25, 1.0, 2.5))
    val c2 = NativeHist.toClassicSeries(PHistSeries(
      Seq(Prompb.PLabel("__name__", "lat")), Seq(h2)))
    assert(c2.flatMap(_.labels).filter(_.name == "le").map(_.value)
      .toSet == Set("0.25", "1", "2.5", "+Inf"))
  }

  test("negative buckets travel in their own span/delta fields") {
    val pos = Seq((1, 3L), (2, 1L))
    val neg = Seq((0, 2L), (4, 6L))
    val (ps, pd) = toSpans(pos)
    val (ns, nd) = toSpans(neg)
    val h = PHistogram(12L, -4.5, 2, 0.0, 0L, ps, pd, ns, nd, 1000L)
    val back = NativeHist.decodeWriteRequest(NativeHist.encodeWriteRequest(
      Seq(PHistSeries(Seq(Prompb.PLabel("__name__", "g")), Seq(h)))))
      .head.histograms.head
    assert(expandBuckets(back.positiveSpans, back.positiveDeltas) == pos)
    assert(expandBuckets(back.negativeSpans, back.negativeDeltas) == neg)
  }

  test("golden bytes: a minimal histogram encodes to the exact wire form") {
    // count=2 (field 1), sum=0.0 (field 3, always emitted), schema=0
    // (default, omitted), zero_count=0 (omitted), one span (offset 1,
    // length 1), one delta (+2), timestamp 5
    val h = PHistogram(2L, 0.0, 0, 0.0, 0L,
      Seq(BucketSpan(1, 1)), Seq(2L), Nil, Nil, 5L)
    val bytes = NativeHist.encodeHistogram(h)
    val expect = Array[Int](
      0x08, 0x02, // field 1 varint 2
      0x19, 0, 0, 0, 0, 0, 0, 0, 0, // field 3 fixed64 0.0
      0x5A, 0x04, 0x08, 0x02, 0x10, 0x01, // field 11 span{off zz(1)=2, len 1}
      0x62, 0x01, 0x04, // field 12 packed deltas [zz(2)=4]
      0x78, 0x05 // field 15 varint 5
    ).map(_.toByte)
    assert(bytes.toSeq == expect.toSeq)
  }

  test("OTLP exponential histogram round-trips; DELTA is skipped") {
    val pts = Seq((Seq("svc" -> "a"), 1000000000L, 10L, 12.5, -2, 1L,
      -3, Seq(2L, 0L, 3L, 5L)))
    val wire = graft.codec.Otlp.encodeExpHistogramRequest(
      Seq("env" -> "prod"), "lat", pts)
    val got = graft.codec.Otlp.decode(wire).expHistograms
    assert(got.length == 1)
    val h = got.head
    assert(h.labels.map(l => l.name -> l.value) ==
      Seq("__name__" -> "lat", "env" -> "prod", "svc" -> "a"))
    assert(h.scale == -2 && h.zeroCount == 1L && h.posOffset == -3)
    assert(h.posCounts == Seq(2L, 0L, 3L, 5L))
    assert(h.count == 10L && h.sum == 12.5)
    // DELTA temporality: structurally skipped, same policy as sums
    val delta = graft.codec.Otlp.encodeExpHistogramRequest(
      Nil, "lat", pts, temporality = 1)
    assert(graft.codec.Otlp.decode(delta).expHistograms.isEmpty)
    // scalar decode ignores the exponential payload entirely
    assert(graft.codec.Otlp.decode(wire).cumulative.timeseries.isEmpty)
  }

  test("expHistogramQuantile ranks the zero bucket below every positive") {
    val spark = SparkSpec.session
    import spark.implicits._
    // one series: zero_count=5, positive buckets idx1 (fp (1,2]) cnt 3,
    // idx3 (fp (4,8]) cnt 2 — total 10
    val rows = Seq(("s", 1, 3L, 5L), ("s", 3, 2L, 5L))
      .toDF("k", "idx", "cnt", "zc")
    def qAt(q: Double): Long =
      graft.operators.TimeSeriesOps.expHistogramQuantile(
        rows, Seq("k"), "idx", "cnt", q, zeroCntCol = Some("zc"))
        .select("quantile_fp").as[Long].head()
    assert(qAt(0.3) == 0L) // rank 3 falls inside the zero bucket
    // rank 6: bucket idx1, prev cum 5: 1 + (2-1)*(6-5)/3 -> floor 1
    assert(qAt(0.6) == 1L)
    // rank 9.5: bucket idx3, prev cum 8: 4 + (8-4)*(1.5/2) = 7
    assert(qAt(0.95) == 7L)
    // without the zero column the walk is positives-only (rank 2.5 of 5)
    val plain = graft.operators.TimeSeriesOps.expHistogramQuantile(
      rows, Seq("k"), "idx", "cnt", 0.5)
      .select("quantile_fp").as[Long].head()
    assert(plain == 1L) // 1 + (2-1)*(2.5-0)/3 = 1.83 -> floor 1
  }

  test("v1 exemplars (field 3) never decode as histograms") {
    // prompb v1: TimeSeries{labels=1, samples=2, EXEMPLARS=3,
    // histograms=4}. An exemplar at field 3 must be skipped, not
    // fabricated into an empty histogram (which would flatten to junk
    // zero-count series).
    def le64(v: Double): Seq[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).map(i => ((bits >>> (8 * i)) & 0xFF).toByte)
    }
    val exemplar = Seq[Byte](0x11) ++ le64(1.5) ++ // field 2 value
      Seq[Byte](0x18, 0x05) // field 3 timestamp varint 5
    val label = Seq[Byte](0x0A, 8) ++ "__name__".getBytes("UTF-8").toSeq ++
      Seq[Byte](0x12, 1, 'm'.toByte)
    val ts = Seq[Byte](0x0A, label.length.toByte) ++ label ++
      Seq[Byte](0x1A, exemplar.length.toByte) ++ exemplar
    val top = (Seq[Byte](0x0A, ts.length.toByte) ++ ts).toArray
    assert(NativeHist.decodeWriteRequest(top).isEmpty)
    // and the scalar decode is untouched by either field
    assert(Prompb.decodeWriteRequest(top).timeseries.head.samples.isEmpty)
  }

  test("float-histogram payloads decode as empty and are droppable") {
    // hand-assembled wire: a histogram using float fields 2/7 only
    def le64(v: Double): Seq[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).map(i => ((bits >>> (8 * i)) & 0xFF).toByte)
    }
    val histBody = Seq[Byte](0x11) ++ le64(3.0) ++ // field 2 count_float
      Seq[Byte](0x39) ++ le64(1.0) // field 7 zero_count_float
    val label = Seq[Byte](0x0A, 8) ++ "__name__".getBytes("UTF-8").toSeq ++
      Seq[Byte](0x12, 1, 'f'.toByte)
    val ts = Seq[Byte](0x0A, label.length.toByte) ++ label ++
      Seq[Byte](0x22, histBody.length.toByte) ++ histBody // field 4
    val top = (Seq[Byte](0x0A, ts.length.toByte) ++ ts).toArray
    val back = NativeHist.decodeWriteRequest(top)
    assert(back.length == 1)
    val h = back.head.histograms.head
    assert(h.count == 0L && h.positiveSpans.isEmpty) // float form skipped
  }
}
