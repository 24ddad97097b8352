package graft

import graft.codec.Prompb
import graft.codec.Prompb._
import graft.serve.Server
import java.net.HttpURLConnection
import java.nio.file.Files

/** The HTTP front door end-to-end: POST /write → stored table →
  * POST /read → decoded series; /metrics counters.
  */
class ServerSpec extends SparkSpec {

  private def post(url: String, body: Array[Byte],
                   contentType: String = ""): (Int, Array[Byte]) = {
    val conn = new java.net.URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    if (contentType.nonEmpty) conn.setRequestProperty("Content-Type", contentType)
    conn.getOutputStream.write(body)
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = if (in == null) -1 else in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    conn.disconnect()
    (code, out.toByteArray)
  }

  private def get(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("serve: write → read → metrics round-trip over real HTTP") {
    val table = Files.createTempDirectory("graft_srv").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wr = PWriteRequest(Seq(
        PTimeSeries(
          Seq(PLabel("__name__", "testmetric"), PLabel("job", "demo")),
          Seq(PSample(1.23, 123456789123L), PSample(Double.NaN, 123456789123L))),
        PTimeSeries(
          Seq(PLabel("__name__", "other")),
          Seq(PSample(9.0, 123456789123L)))))
      val (wc, _) = post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))
      assert(wc == 200)

      // stored: NaN dropped, 2 rows persisted
      assert(spark.read.parquet(table).count() == 2)

      val rr = PReadRequest(Seq(PQuery(
        123456789123L - 60000, 123456789123L + 60000,
        Seq(PLabelMatcher(MatchType.EQ, "__name__", "testmetric")))))
      val (rc, body) = post(s"$base/read",
        Prompb.snappyCompress(Prompb.encodeReadRequest(rr)))
      assert(rc == 200)
      val resp = Prompb.decodeReadResponse(Prompb.snappyUncompress(body))
      assert(resp.results.length == 1)
      val ts = resp.results.head.timeseries
      assert(ts.length == 1)
      assert(ts.head.labels.contains(PLabel("__name__", "testmetric")))
      assert(ts.head.labels.contains(PLabel("job", "demo")))
      assert(ts.head.samples.map(_.value) == Seq(1.23))

      // bad payload → 400, not a crash
      val (bc, _) = post(s"$base/write", Array[Byte](1, 2, 3))
      assert(bc == 400)

      val (mc, metrics) = get(s"$base/metrics")
      assert(mc == 200)
      assert(metrics.contains("received_samples_total 3"))
      assert(metrics.contains("""sent_samples_total{remote="parquet"} 3"""))
      // one observed batch send in the duration histogram
      assert(metrics.contains("""sent_batch_duration_seconds_bucket{le="+Inf",remote="parquet"} 1"""))
      assert(metrics.contains("""sent_batch_duration_seconds_count{remote="parquet"} 1"""))

      // plan cache: two sequential reads share one resolved relation...
      val c1 = server.storedTable()
      post(s"$base/read", Prompb.snappyCompress(Prompb.encodeReadRequest(rr)))
      assert(server.storedTable() eq c1, "second read must reuse the cached relation")

      // ...and a write invalidates it so the next read sees the append
      val wr2 = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "testmetric"), PLabel("job", "demo")),
        Seq(PSample(4.56, 123456799123L)))))
      post(s"$base/write", Prompb.snappyCompress(Prompb.encodeWriteRequest(wr2)))
      val c2 = server.storedTable()
      assert(!(c2 eq c1), "append must invalidate the cached relation")
      val (rc2, body2) = post(s"$base/read",
        Prompb.snappyCompress(Prompb.encodeReadRequest(PReadRequest(Seq(PQuery(
          123456789123L - 60000, 123456799123L + 60000,
          Seq(PLabelMatcher(MatchType.EQ, "__name__", "testmetric"))))))))
      assert(rc2 == 200)
      val resp2 = Prompb.decodeReadResponse(Prompb.snappyUncompress(body2))
      assert(resp2.results.head.timeseries.head.samples.length == 2)
    } finally server.stop()
  }

  test("serve: one ReadRequest with two queries yields two QueryResults") {
    val table = Files.createTempDirectory("graft_srv2").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wr = PWriteRequest(Seq(
        PTimeSeries(Seq(PLabel("__name__", "m1"), PLabel("job", "x")),
          Seq(PSample(1.0, 1000L), PSample(2.0, 2000L))),
        PTimeSeries(Seq(PLabel("__name__", "m2"), PLabel("job", "x")),
          Seq(PSample(9.0, 1500L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)

      val rr = PReadRequest(Seq(
        PQuery(0L, 60000L, Seq(PLabelMatcher(MatchType.EQ, "__name__", "m1"))),
        PQuery(0L, 60000L, Seq(PLabelMatcher(MatchType.EQ, "__name__", "m2")))))
      val (rc, body) = post(s"$base/read",
        Prompb.snappyCompress(Prompb.encodeReadRequest(rr)))
      assert(rc == 200)
      val resp = Prompb.decodeReadResponse(Prompb.snappyUncompress(body))
      // one QueryResult per query, in request order (main.go read loop ≙
      // clickhouse/client.go:167)
      assert(resp.results.length == 2)
      assert(resp.results(0).timeseries.map(_.labels).forall(_.contains(PLabel("__name__", "m1"))))
      assert(resp.results(1).timeseries.map(_.labels).forall(_.contains(PLabel("__name__", "m2"))))
      assert(resp.results(0).timeseries.head.samples.length == 1) // both in one 10s bucket
      assert(resp.results(1).timeseries.head.samples.map(_.value) == Seq(9.0))
    } finally server.stop()
  }

  test("serve: remote-read negotiation honors accepted_response_types — " +
      "a SAMPLES-only client gets SAMPLES, a chunk-capable one gets " +
      "chunks, and ?response_type= overrides both ways") {
    val table = Files.createTempDirectory("graft_srvn").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wr = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "m1"), PLabel("job", "x")),
        Seq(PSample(1.0, 1000L), PSample(2.0, 2000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      def read(url: String, accepted: Seq[Int]): (String, Array[Byte]) = {
        val rr = PReadRequest(Seq(PQuery(0L, 60000L,
          Seq(PLabelMatcher(MatchType.EQ, "__name__", "m1")))), accepted)
        val conn = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(
          Prompb.snappyCompress(Prompb.encodeReadRequest(rr)))
        val body = conn.getInputStream.readAllBytes()
        val ct = conn.getHeaderField("Content-Type")
        conn.disconnect()
        (ct, body)
      }
      def samples(body: Array[Byte]): Seq[Double] =
        Prompb.decodeReadResponse(Prompb.snappyUncompress(body))
          .results.head.timeseries.head.samples.map(_.value)
      // legacy client: no accepted list → SAMPLES
      val (ct0, b0) = read(s"$base/read", Nil)
      assert(ct0 == "application/x-protobuf" && samples(b0).nonEmpty)
      // explicit SAMPLES-only client → SAMPLES
      val (ct1, b1) = read(s"$base/read",
        Seq(Prompb.ResponseType.SAMPLES))
      assert(ct1 == "application/x-protobuf" && samples(b1) == samples(b0))
      // stock Prometheus: [STREAMED_XOR_CHUNKS, SAMPLES] → chunked
      val (ct2, b2) = read(s"$base/read", Seq(
        Prompb.ResponseType.STREAMED_XOR_CHUNKS,
        Prompb.ResponseType.SAMPLES))
      assert(ct2.contains("ChunkedReadResponse"))
      val vals = for {
        f <- graft.codec.ChunkedRead.readFrames(b2)
        ser <- graft.codec.ChunkedRead.decodeResponse(f)._1
        ch <- ser.chunks
        (_, v) <- graft.codec.XorChunk.decode(ch.data)
      } yield v
      assert(vals.sorted == samples(b0).sorted)
      // preference ORDER wins: SAMPLES listed first → SAMPLES
      val (ct3, _) = read(s"$base/read", Seq(
        Prompb.ResponseType.SAMPLES,
        Prompb.ResponseType.STREAMED_XOR_CHUNKS))
      assert(ct3 == "application/x-protobuf")
      // the explicit param overrides the proto field, both directions
      val (ct4, _) = read(s"$base/read?response_type=streamed_xor_chunks",
        Seq(Prompb.ResponseType.SAMPLES))
      assert(ct4.contains("ChunkedReadResponse"))
      val (ct5, _) = read(s"$base/read?response_type=samples", Seq(
        Prompb.ResponseType.STREAMED_XOR_CHUNKS))
      assert(ct5 == "application/x-protobuf")
    } finally server.stop()
  }

  test("serve: /write routes Remote-Write 2.0 payloads by Content-Type " +
       "into the same store") {
    val table = Files.createTempDirectory("graft_srv2w").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wr = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "v2metric"), PLabel("job", "demo")),
        Seq(PSample(2.5, 123456789123L)))))
      val v2body = Prompb.snappyCompress(graft.codec.Prompb2.encodeRequest(
        graft.codec.Prompb2.fromV1(wr)))
      val (wc, _) = post(s"$base/write", v2body,
        "application/x-protobuf;proto=io.prometheus.write.v2.Request")
      assert(wc == 200)
      val rows = spark.read.parquet(table).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("name") == "v2metric")
      assert(rows.head.getAs[Double]("val") == 2.5)
      // a v2 body WITHOUT the v2 Content-Type decodes as v1 whose
      // unknown-field skipping yields an EMPTY request: accepted (200,
      // the proto contract — absence is not malformation) but nothing
      // stores — never silently mislabeled samples
      val (wc2, _) = post(s"$base/write", v2body)
      assert(wc2 == 200)
      assert(spark.read.parquet(table).count() == 1)
    } finally server.stop()
  }

  test("serve: RW 2.0 responses carry the written-stats headers " +
       "(v2 spec); v1 responses don't") {
    val table = Files.createTempDirectory("graft_srv2h").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      import graft.codec.Prompb2
      val req = Prompb2.P2Request(Seq("", "__name__", "m", "trace_id", "t1"),
        Seq(Prompb2.P2TimeSeries(Seq(1, 2),
          Seq(PSample(1.0, 1000L), PSample(2.0, 2000L)),
          exemplars = Seq(Prompb2.P2Exemplar(Seq(3, 4), 9.0, 1500L)))))
      val conn = java.net.URI.create(s"$base/write").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type",
        "application/x-protobuf;proto=io.prometheus.write.v2.Request")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        Prompb.snappyCompress(Prompb2.encodeRequest(req)))
      assert(conn.getResponseCode == 200)
      assert(conn.getHeaderField(
        "X-Prometheus-Remote-Write-Samples-Written") == "2")
      assert(conn.getHeaderField(
        "X-Prometheus-Remote-Write-Histograms-Written") == "0")
      assert(conn.getHeaderField(
        "X-Prometheus-Remote-Write-Exemplars-Written") == "1")
      conn.disconnect()
      // a v1 request gets no v2 stats headers
      val v1 = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "m")), Seq(PSample(1.0, 1000L)))))
      val c2 = java.net.URI.create(s"$base/write").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c2.setRequestMethod("POST")
      c2.setDoOutput(true)
      c2.getOutputStream.write(
        Prompb.snappyCompress(Prompb.encodeWriteRequest(v1)))
      assert(c2.getResponseCode == 200)
      assert(c2.getHeaderField(
        "X-Prometheus-Remote-Write-Samples-Written") == null)
      c2.disconnect()
    } finally server.stop()
  }

  test("serve: a v2 request whose append FAILS reports 0 written, " +
       "not the request's counts (partial-write honesty)") {
    // table path nested under a plain FILE: decode succeeds, the
    // parquet append cannot create the directory and fails inside the
    // fan-out (which isolates sink errors — the response stays 200,
    // but the written headers must speak for the storage outcome)
    val base0 = Files.createTempDirectory("graft_srv2f")
    Files.writeString(base0.resolve("blocker"), "x")
    val table = base0.resolve("blocker").toString + "/metrics"
    val server = new Server(spark, table).start()
    try {
      import graft.codec.Prompb2
      val req = Prompb2.P2Request(Seq("", "__name__", "m"),
        Seq(Prompb2.P2TimeSeries(Seq(1, 2),
          Seq(PSample(1.0, 1000L), PSample(2.0, 2000L)))))
      val conn = java.net.URI.create(
          s"http://localhost:${server.boundPort}/write").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type",
        "application/x-protobuf;proto=io.prometheus.write.v2.Request")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        Prompb.snappyCompress(Prompb2.encodeRequest(req)))
      assert(conn.getResponseCode == 200)
      assert(conn.getHeaderField(
        "X-Prometheus-Remote-Write-Samples-Written") == "0")
      assert(conn.getHeaderField(
        "X-Prometheus-Remote-Write-Histograms-Written") == "0")
      assert(conn.getHeaderField(
        "X-Prometheus-Remote-Write-Exemplars-Written") == "0")
      conn.disconnect()
    } finally server.stop()
  }

  test("serve: /otlp/v1/metrics ingests OTLP gauge points into the " +
       "same store") {
    val table = Files.createTempDirectory("graft_srvotlp").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val body = graft.codec.Otlp.encodeGaugeRequest(
        Seq("job" -> "demo"),
        Seq(("otlp_metric", Seq("instance" -> "h1"),
          123456789123L * 1000000L, 3.25)))
      val (wc, _) = post(s"$base/otlp/v1/metrics", body)
      assert(wc == 200)
      val rows = spark.read.parquet(table).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("name") == "otlp_metric")
      assert(rows.head.getAs[Double]("val") == 3.25)
      assert(rows.head.getAs[scala.collection.Seq[String]]("tags").toSeq ==
        Seq("__name__=otlp_metric", "instance=h1", "job=demo"))
    } finally server.stop()
  }

  // minimal protobuf framing for hand-assembled OTLP bodies
  private def varint(v: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var x = v
    while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
    out.toByteArray
  }
  private def ld(field: Int, body: Array[Byte]): Array[Byte] =
    varint((field << 3 | 2).toLong) ++ varint(body.length.toLong) ++ body
  private def f64(field: Int, v: Long): Array[Byte] =
    varint((field << 3 | 1).toLong) ++ java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
  private def kv(k: String, v: String): Array[Byte] =
    ld(1, k.getBytes("UTF-8")) ++ ld(2, ld(1, v.getBytes("UTF-8")))

  /** The ScopeMetrics fields of a one-resource request encoded with no
    * resource attributes: strip the ResourceMetrics frame and its empty
    * Resource, keep the rest verbatim.
    */
  private def scopesOf(req: Array[Byte]): Array[Byte] = {
    var i = 1 // past the ResourceMetrics tag
    while ((req(i) & 0x80) != 0) i += 1
    i += 1 // past the length varint
    assert(req(i) == 0x0a && req(i + 1) == 0x00, "expected an empty Resource")
    req.drop(i + 2)
  }

  /** One ResourceMetrics: `attrs` as its Resource, sent before or (as some
    * exporters do) after its ScopeMetrics.
    */
  private def resourceMetrics(attrs: Seq[(String, String)],
                              resourceLast: Boolean,
                              scopes: Array[Byte]*): Array[Byte] = {
    val resource = ld(1, attrs.flatMap { case (k, v) => ld(1, kv(k, v)) }.toArray)
    val body = scopes.reduce(_ ++ _)
    ld(1, if (resourceLast) body ++ resource else resource ++ body)
  }

  test("serve: /otlp/v1/metrics stores one mixed OTLP body identically " +
       "under every target-info × convert-delta setting") {
    import graft.codec.Otlp
    val t0 = 1700000000000L
    def ns(dtSec: Int): Long = (t0 + dtSec * 1000L) * 1000000L
    // a gauge point with an exemplar (span/trace id bytes, one attribute)
    val gaugeExemplar = ld(5, f64(2, ns(0)) ++
      f64(3, java.lang.Double.doubleToLongBits(21.0)) ++
      ld(4, Array[Byte](1)) ++ ld(5, Array[Byte](10, 11)) ++
      ld(7, kv("room", "r1")))
    val gauge = ld(2, ld(2, ld(1, "temp".getBytes("UTF-8")) ++
      ld(5, ld(1, f64(3, ns(0)) ++
        f64(4, java.lang.Double.doubleToLongBits(21.5)) ++
        gaugeExemplar ++ ld(7, kv("room", "r1"))))))
    val resA = Seq("service.name" -> "api", "service.namespace" -> "shop",
      "service.instance.id" -> "h1", "region" -> "eu")
    val resB = Seq("service.name" -> "db", "host.arch" -> "amd64")
    val body =
      resourceMetrics(resA, resourceLast = false,
        gauge,
        scopesOf(Otlp.encodeSumRequestExemplars(Nil, Seq(("reqs",
          Seq("code" -> "200"), ns(0), 10.0,
          Seq((Seq("user" -> "u1"), "abcd", ns(0), 1.0)))))),
        scopesOf(Otlp.encodeSumRequestExemplars(Nil, Seq(
          ("dreqs", Seq("code" -> "200"), ns(0), 5.0,
            Seq((Nil, "ef01", ns(0), 5.0))),
          ("dreqs", Seq("code" -> "200"), ns(1), 2.0, Nil)),
          temporality = 1)),
        scopesOf(Otlp.encodeHistogramRequest(Nil, "lat", Seq(1.0),
          Seq((Seq("path" -> "/"), ns(0), Seq(3L, 1L), 4.5)))),
        scopesOf(Otlp.encodeHistogramRequest(Nil, "dlat", Seq(1.0),
          Seq((Nil, ns(0), Seq(2L, 1L), 3.0),
            (Nil, ns(1), Seq(1L, 0L), 0.5)), temporality = 1))) ++
      resourceMetrics(resB, resourceLast = true,
        scopesOf(Otlp.encodeSummaryRequest(Nil, "rpc",
          Seq((Seq("m" -> "get"), ns(0), 4L, 2.0, Seq(0.5 -> 0.4))))),
        scopesOf(Otlp.encodeExpHistogramRequest(Nil, "size",
          Seq((Nil, ns(0), 3L, 6.0, 0, 0L, 0, Seq(1L, 2L))))),
        scopesOf(Otlp.encodeExpHistogramRequest(Nil, "dsize",
          Seq((Nil, ns(0), 2L, 3.0, 0, 0L, 0, Seq(2L)),
            (Nil, ns(1), 1L, 4.0, 0, 0L, 1, Seq(1L))), temporality = 1)))

    def render(tags: Iterable[String], rest: Any*): String =
      (tags.toSeq.sorted.mkString("{", ",", "}") +: rest.map(_.toString))
        .mkString(" ")
    def row(name: String, labels: Map[String, String], v: Double,
            dtSec: Int): String =
      render((labels + ("__name__" -> name)).map { case (k, x) => s"$k=$x" },
        v, dtSec)

    for (ti <- Seq(false, true); delta <- Seq(false, true)) {
      val a: Map[String, String] =
        if (ti) Map("job" -> "shop/api", "instance" -> "h1") else resA.toMap
      val b: Map[String, String] =
        if (ti) Map("job" -> "db") else resB.toMap
      def classic(name: String, labels: Map[String, String], dt: Int,
                  buckets: Seq[(String, Double)], count: Double,
                  sum: Double): Seq[String] =
        buckets.map { case (le, c) =>
          row(name + "_bucket", labels + ("le" -> le), c, dt) } ++ Seq(
          row(name + "_bucket", labels + ("le" -> "+Inf"), count, dt),
          row(name + "_count", labels, count, dt),
          row(name + "_sum", labels, sum, dt))
      val cumulative = Seq(
        row("temp", a + ("room" -> "r1"), 21.5, 0),
        row("reqs", a + ("code" -> "200"), 10.0, 0),
        row("rpc", b + ("m" -> "get") + ("quantile" -> "0.5"), 0.4, 0),
        row("rpc_count", b + ("m" -> "get"), 4.0, 0),
        row("rpc_sum", b + ("m" -> "get"), 2.0, 0)) ++
        classic("lat", a + ("path" -> "/"), 0, Seq("1" -> 3.0), 4.0, 4.5) ++
        classic("size", b, 0, Seq("2" -> 1.0, "4" -> 3.0), 3.0, 6.0)
      val targetInfo =
        if (!ti) Nil
        else Seq(row("target_info", a + ("region" -> "eu"), 1.0, 0),
          row("target_info", b + ("host.arch" -> "amd64"), 1.0, 0))
      val deltas =
        if (!delta) Nil
        else Seq(row("dreqs", a + ("code" -> "200"), 5.0, 0),
          row("dreqs", a + ("code" -> "200"), 7.0, 1)) ++
          classic("dlat", a, 0, Seq("1" -> 2.0), 3.0, 3.0) ++
          classic("dlat", a, 1, Seq("1" -> 3.0), 4.0, 3.5) ++
          classic("dsize", b, 0, Seq("2" -> 2.0), 2.0, 3.0) ++
          classic("dsize", b, 1, Seq("2" -> 2.0, "4" -> 3.0), 3.0, 7.0) ++
          (if (ti) Seq(row("target_info", a + ("region" -> "eu"), 1.0, 1))
           else Nil)
      def hist(name: String, dt: Int, count: Long, sum: Double,
               buckets: Seq[(Int, Long)]): String =
        render((b + ("__name__" -> name)).map { case (k, x) => s"$k=$x" },
          dt, count, sum, 0L, buckets.mkString("[", ",", "]"))
      val hists = Seq(hist("size", 0, 3L, 6.0, Seq(1 -> 1L, 2 -> 2L))) ++
        (if (!delta) Nil
         else Seq(hist("dsize", 0, 2L, 3.0, Seq(1 -> 2L)),
           hist("dsize", 1, 3L, 7.0, Seq(1 -> 2L, 2 -> 1L))))
      def json(labels: Map[String, String]): String =
        labels.toSeq.sortBy { case (k, x) => s"$k=$x" }
          .map { case (k, x) => s""""$k":"$x"""" }.mkString("{", ",", "}")
      val exemplars = Seq(
        json(a + ("__name__" -> "reqs") + ("code" -> "200")) ->
          """[{"labels":{"trace_id":"abcd","user":"u1"},"value":"1","timestamp":1700000000}]""",
        json(a + ("__name__" -> "temp") + ("room" -> "r1")) ->
          """[{"labels":{"room":"r1","span_id":"01","trace_id":"0a0b"},"value":"21","timestamp":1700000000}]""")
        .sortBy(_._1)
        .map { case (s, e) => s"""{"seriesLabels":$s,"exemplars":$e}""" }
        .mkString("""{"status":"success","data":[""", ",", "]}")

      val table = Files.createTempDirectory("graft_srvotlpmix").toString +
        "/metrics"
      val server = new Server(spark, table, otlpTargetInfo = ti,
        otlpConvertDelta = delta).start()
      val base = s"http://localhost:${server.boundPort}"
      try {
        assert(post(s"$base/otlp/v1/metrics", body)._1 == 200)
        val stored = spark.read.parquet(table)
          .selectExpr("tags", "val", "CAST(unix_seconds(ts) - 1700000000 AS INT) AS dt")
          .collect().map(r => render(
            r.getAs[scala.collection.Seq[String]](0), r.getDouble(1), r.getInt(2)))
        assert(stored.sorted.toSeq ==
          (cumulative ++ targetInfo ++ deltas).sorted, s"ti=$ti delta=$delta")
        val storedHists = spark.read.parquet(table + "_hist")
          .selectExpr("tags", "CAST(ts - 1700000000 AS INT) AS dt",
            "h_count", "h_sum", "h_zero",
            "transform(h_buckets, x -> concat('(', x.idx, ',', x.cnt, ')'))")
          .collect().map(r => render(
            r.getAs[scala.collection.Seq[String]](0), r.getInt(1),
            r.getLong(2), r.getDouble(3), r.getLong(4),
            r.getAs[scala.collection.Seq[String]](5).mkString("[", ",", "]")))
        assert(storedHists.sorted.toSeq == hists.sorted, s"ti=$ti delta=$delta")
        val q = java.net.URLEncoder.encode(
          """{__name__=~"temp|reqs|dreqs"}""", "UTF-8")
        assert(getAny(s"$base/api/v1/query_exemplars?query=$q") ==
          (200, exemplars), s"ti=$ti delta=$delta")
      } finally server.stop()
    }
  }

  test("serve: /read?downsample= reduces each series to extreme (minmax) " +
       "or shape-preserving (lttb) points with original values") {
    val table = Files.createTempDirectory("graft_srvds").toString + "/metrics"
    val server = new Server(spark, table, Nil, 0, exactQuantiles = true).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      // one sample per 10 s bucket, values chosen so every selection is
      // hand-computable
      val vals = Seq(1.0, 9.0, 5.0, 3.0, 2.0, 8.0, 4.0, 6.0)
      val wr = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "m1"), PLabel("job", "x")),
        vals.zipWithIndex.map { case (v, i) => PSample(v, i * 10000L) })))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      val rr = Prompb.snappyCompress(Prompb.encodeReadRequest(PReadRequest(Seq(
        PQuery(0L, 80000L,
          Seq(PLabelMatcher(MatchType.EQ, "__name__", "m1")))))))
      def readPts(q: String): Seq[(Long, Double)] = {
        val (rc, body) = post(s"$base/read?$q", rr)
        assert(rc == 200)
        Prompb.decodeReadResponse(Prompb.snappyUncompress(body))
          .results.head.timeseries.head.samples
          .map(s => (s.timestampMs, s.value))
      }
      // minmax, 40 s cells: cell0 keeps (0s,1)(10s,9), cell1 (40s,2)(50s,8)
      assert(readPts("downsample=minmax&step=40") ==
        Seq((0L, 1.0), (10000L, 9.0), (40000L, 2.0), (50000L, 8.0)))
      // lttb to 3 points: endpoints + the max-triangle interior (10s,9)
      assert(readPts("downsample=lttb&points=3") ==
        Seq((0L, 1.0), (10000L, 9.0), (70000L, 6.0)))
      // malformed client params → 400 (client error), not 500
      assert(post(s"$base/read?downsample=bogus", rr)._1 == 400)
      assert(post(s"$base/read?downsample=minmax&step=abc", rr)._1 == 400)
      assert(post(s"$base/read?downsample=lttb&points=x", rr)._1 == 400)
    } finally server.stop()
  }

  test("serve: auto-resolution /read routes long ranges to the coarsest " +
       "adequate tier, short ranges raw, and honors ?resolution= overrides") {
    import org.apache.spark.sql.functions.col
    val b = Files.createTempDirectory("graft_srvar").toString
    val table = s"$b/metrics"
    // one series, one sample every 300 s across 20 days — long enough
    // that the 1 h tier still yields >= 250 points (480)
    val day = 86400L
    val samples = (0L until (20 * day) by 300L).map(t =>
      graft.model.Schema.Sample("m", Map("__name__" -> "m"),
        (t / 300 % 7).toDouble, t * 1000))
    import spark.implicits._
    graft.engine.WritePipeline.append(
      graft.engine.WritePipeline.toMetricRows(samples.toDF()), table)
    val m = spark.read.parquet(table)
    graft.engine.Rollup.writeDownsampled(m, 300L, s"$b/tier300")
    graft.engine.Rollup.writeDownsampled(m, 3600L, s"$b/tier3600")
    val server = new Server(spark, table, Nil, 0, exactQuantiles = true,
      tierPaths = Seq(300L -> s"$b/tier300", 3600L -> s"$b/tier3600")).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      def read(q: String, startMs: Long, endMs: Long)
          : (Int, String, String, Seq[PSample]) = {
        val rr = Prompb.snappyCompress(Prompb.encodeReadRequest(PReadRequest(
          Seq(PQuery(startMs, endMs,
            Seq(PLabelMatcher(MatchType.EQ, "__name__", "m")))))))
        val conn = new java.net.URL(s"$base/read$q").openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(rr)
        val code = conn.getResponseCode
        val body =
          (if (code < 400) conn.getInputStream else conn.getErrorStream)
            .readAllBytes()
        val res = Option(conn.getHeaderField("X-Graft-Resolution")).getOrElse("")
        val step = Option(conn.getHeaderField("X-Graft-Step")).getOrElse("")
        conn.disconnect()
        val pts =
          if (code == 200)
            Prompb.decodeReadResponse(Prompb.snappyUncompress(body))
              .results.head.timeseries.headOption.map(_.samples).getOrElse(Nil)
          else Nil
        (code, res, step, pts)
      }
      // 20-day range: 480 hourly points >= 250 → the 1 h tier serves it
      val (c1, r1, s1, p1) = read("", 0L, 20 * day * 1000)
      assert(c1 == 200 && r1 == "3600" && s1 == "3600")
      // 480 hourly buckets (the last sample is at 1727700 s), each the
      // avg of 12 samples of the (0..6) value cycle
      assert(p1.size == 480)
      // hour 0: samples t=0..3300s, vals (0,1,2,3,4,5,6,0,1,2,3,4) → avg 2.583333
      assert(p1.head.timestampMs == 0L)
      assert(math.abs(p1.head.value - math.floor(31e6 / 12) / 1e6) < 1e-12)
      // 1-hour range routes raw (would only make 12 tier points)
      val (c2, r2, _, _) = read("", 0L, 3600 * 1000L)
      assert(c2 == 200 && r2 == "0")
      // explicit override: raw forces the raw store on a long range
      val (c3, r3, _, _) = read("?resolution=raw", 0L, 20 * day * 1000)
      assert(c3 == 200 && r3 == "0")
      // explicit tier selection
      val (c4, r4, s4, _) = read("?resolution=300", 0L, 2 * day * 1000)
      assert(c4 == 200 && r4 == "300" && s4 == "300")
      // unconfigured tier → 400 with the configured list in the message
      val (c5, _, _, _) = read("?resolution=60", 0L, 2 * day * 1000)
      assert(c5 == 400)
      // non-numeric → 400
      val (c6, _, _, _) = read("?resolution=coarse", 0L, 2 * day * 1000)
      assert(c6 == 400)
    } finally server.stop()
  }

  test("serve: multi-reader /read merges first-wins by reader order — " +
       "the reference's own multi-querier TODO (main.go:344-348)") {
    val base0 = Files.createTempDirectory("graft_srvmr").toString
    val primary = s"$base0/primary"
    val extra = s"$base0/extra"
    import spark.implicits._
    def store(path: String, rows: Seq[(String, Double, Long)]): Unit =
      graft.engine.WritePipeline.append(
        graft.engine.WritePipeline.toMetricRows(
          rows.map { case (n, v, t) =>
            graft.model.Schema.Sample(n, Map("__name__" -> n), v, t)
          }.toDF()), path)
    // shared series: both readers hold it at t=1000 (different values —
    // primary must win) and only the extra reader holds t=60000;
    // "extra_only" lives solely in the extra reader
    store(primary, Seq(("shared", 1.0, 1000L)))
    store(extra, Seq(("shared", 99.0, 1000L), ("shared", 7.0, 60000L),
      ("extra_only", 5.0, 1000L)))
    val server = new Server(spark, primary, Nil, 0, exactQuantiles = true,
      extraReaderPaths = Seq(extra)).start()
    val url = s"http://localhost:${server.boundPort}"
    try {
      val rr = PReadRequest(Seq(PQuery(0L, 120000L,
        Seq(PLabelMatcher(MatchType.RE, "__name__", ".*")))))
      val (rc, body) = post(s"$url/read",
        Prompb.snappyCompress(Prompb.encodeReadRequest(rr)))
      assert(rc == 200)
      val resp = Prompb.decodeReadResponse(Prompb.snappyUncompress(body))
      val byName = resp.results.head.timeseries
        .map(ts => ts.labels.head.value -> ts.samples.map(_.value)).toMap
      // shared@1000: primary's 1.0 wins over the extra's 99.0;
      // shared@60000: only the extra reader has it → 7.0 fills in
      assert(byName("shared") == Seq(1.0, 7.0))
      // series only the extra reader carries still surfaces
      assert(byName("extra_only") == Seq(5.0))
    } finally server.stop()
  }

  test("serve: a read over the series budget fails 413 with the actionable " +
       "message; under-limit reads are unchanged") {
    val table = Files.createTempDirectory("graft_srv4").toString + "/metrics"
    // budget of 2 series: three distinct job labels on one metric trip it
    val server = new Server(spark, table, readMaxSeries = 2).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wr = PWriteRequest((1 to 3).map(i => PTimeSeries(
        Seq(PLabel("__name__", "m1"), PLabel("job", s"j$i")),
        Seq(PSample(i.toDouble, 1000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)

      // match-everything on the metric → 3 series > budget 2 → 413
      val wide = Prompb.snappyCompress(Prompb.encodeReadRequest(PReadRequest(Seq(
        PQuery(0L, 60000L, Seq(PLabelMatcher(MatchType.EQ, "__name__", "m1")))))))
      val (wc, wbody) = post(s"$base/read", wide)
      assert(wc == 413, new String(wbody, "UTF-8"))
      assert(new String(wbody, "UTF-8").contains("exceeds 2 series"))

      // a narrowed query (1 series) still serves normally
      val narrow = Prompb.snappyCompress(Prompb.encodeReadRequest(PReadRequest(Seq(
        PQuery(0L, 60000L, Seq(
          PLabelMatcher(MatchType.EQ, "__name__", "m1"),
          PLabelMatcher(MatchType.EQ, "job", "j2")))))))
      val (nc, nbody) = post(s"$base/read", narrow)
      assert(nc == 200)
      val resp = Prompb.decodeReadResponse(Prompb.snappyUncompress(nbody))
      assert(resp.results.head.timeseries.length == 1)
      assert(resp.results.head.timeseries.head.samples.map(_.value) == Seq(2.0))
    } finally server.stop()
  }

  test("serve: handlers run concurrently — a stalled write never blocks reads " +
       "(Go serves every request on its own goroutine, main.go:285-374)") {
    val table = Files.createTempDirectory("graft_srv3").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      // seed one series so /read has something to scan
      val wr = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "m1"), PLabel("job", "x")),
        Seq(PSample(1.0, 1000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)

      // Hold a /write open: send the headers and PART of the body, then
      // stall. The handler blocks reading the rest — on the old serial
      // executor that wedged the ONE dispatch thread and every other
      // request queued behind it; with the pool the server keeps serving.
      val stalled = new java.net.Socket("localhost", server.boundPort)
      stalled.getOutputStream.write(
        ("POST /write HTTP/1.1\r\nHost: localhost\r\n" +
          "Content-Length: 1000\r\n\r\npartial").getBytes("UTF-8"))
      stalled.getOutputStream.flush()
      Thread.sleep(200) // let the handler enter readBody and block

      // two parallel /read + a /metrics, all while the write is stalled
      val rr = Prompb.snappyCompress(Prompb.encodeReadRequest(PReadRequest(Seq(
        PQuery(0L, 60000L, Seq(PLabelMatcher(MatchType.EQ, "__name__", "m1")))))))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val reads = (1 to 2).map(_ => pool.submit(
          new java.util.concurrent.Callable[Int] { def call(): Int = post(s"$base/read", rr)._1 }))
        val metrics = pool.submit(
          new java.util.concurrent.Callable[Int] { def call(): Int = get(s"$base/metrics")._1 })
        // generous bound, but BOUNDED: the serial executor hangs forever here
        reads.foreach(f => assert(f.get(60, java.util.concurrent.TimeUnit.SECONDS) == 200))
        assert(metrics.get(60, java.util.concurrent.TimeUnit.SECONDS) == 200)
      } finally { pool.shutdownNow(); stalled.close() }

      // write racing reads against the plan cache: interleaved appends and
      // reads from 4 threads — every read must see a consistent snapshot
      // (200 + decodable body), never a half-invalidated relation.
      val racePool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val tasks = (1 to 4).map { i =>
          racePool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = (1 to 3).forall { j =>
              if (i % 2 == 0) {
                val w = PWriteRequest(Seq(PTimeSeries(
                  Seq(PLabel("__name__", "m1"), PLabel("job", s"r$i$j")),
                  Seq(PSample(i + j, 1000L + i * 100L + j)))))
                post(s"$base/write",
                  Prompb.snappyCompress(Prompb.encodeWriteRequest(w)))._1 == 200
              } else {
                val (c, b) = post(s"$base/read", rr)
                c == 200 &&
                  Prompb.decodeReadResponse(Prompb.snappyUncompress(b))
                    .results.nonEmpty
              }
            }
          })
        }
        tasks.foreach(f =>
          assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS)))
      } finally racePool.shutdownNow()
    } finally server.stop()
  }

  private def getAny(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = if (in == null) "" else new String(in.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("serve: /api/v1/query (instant), /labels, /label values, /series") {
    val table = Files.createTempDirectory("graft_srvmeta").toString +
      "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wr = PWriteRequest(Seq(
        PTimeSeries(Seq(PLabel("__name__", "reqs"), PLabel("job", "a"),
          PLabel("zone", "z1")), Seq(PSample(3.0, 100000L))),
        PTimeSeries(Seq(PLabel("__name__", "reqs"), PLabel("job", "b")),
          Seq(PSample(7.0, 100000L))),
        PTimeSeries(Seq(PLabel("__name__", "mem"), PLabel("job", "a")),
          Seq(PSample(50.0, 100000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)

      val q = java.net.URLEncoder.encode("sum(reqs)", "UTF-8")
      val (ic, ib) = getAny(s"$base/api/v1/query?query=$q&time=150")
      assert(ic == 200)
      assert(ib.contains(""""resultType":"vector""""))
      assert(ib.contains(""""value":[150,"10"]"""))

      val m = java.net.URLEncoder.encode("reqs", "UTF-8")
      val (lc, lb) = getAny(
        s"$base/api/v1/labels?start=0&end=200&match[]=$m")
      assert(lc == 200 &&
        lb.contains("""["__name__","job","zone"]"""))
      // unmatched selector: no labels at all
      val none = java.net.URLEncoder.encode("nosuch", "UTF-8")
      assert(getAny(s"$base/api/v1/labels?start=0&end=200&match[]=$none")
        ._2.contains(""""data":[]"""))

      val (vc, vb) = getAny(
        s"$base/api/v1/label/job/values?start=0&end=200")
      assert(vc == 200 && vb.contains("""["a","b"]"""))

      val (sc, sb) = getAny(
        s"$base/api/v1/series?start=0&end=200&match[]=$m")
      assert(sc == 200)
      assert(sb.contains(""""__name__":"reqs","job":"a","zone":"z1""""))
      assert(sb.contains(""""__name__":"reqs","job":"b""""))
      assert(!sb.contains("mem"))
      // series without match[] is a client error
      assert(getAny(s"$base/api/v1/series?start=0&end=200")._1 == 400)
      // time bounds apply: nothing before the sample
      assert(getAny(s"$base/api/v1/series?start=0&end=50&match[]=$m")
        ._2.contains(""""data":[]"""))
      // ?limit= truncates deterministically (sorted first) on all three
      assert(getAny(s"$base/api/v1/labels?start=0&end=200&match[]=$m" +
        "&limit=2")._2.contains("""["__name__","job"]"""))
      assert(getAny(s"$base/api/v1/label/job/values?start=0&end=200" +
        "&limit=1")._2.contains("""["a"]"""))
      val (slc, slb) = getAny(
        s"$base/api/v1/series?start=0&end=200&match[]=$m&limit=1")
      assert(slc == 200)
      assert(slb.contains(""""job":"a"""") && !slb.contains(""""job":"b""""))
    } finally server.stop()
  }

  test("serve: /api/v1/query_range answers PromQL with the JSON matrix " +
      "envelope; malformed input is 400 bad_data, never a 500") {
    val table = Files.createTempDirectory("graft_srvqr").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      // two series of a counter at t=100,200,300 (epoch seconds)
      val wr = PWriteRequest(Seq(
        PTimeSeries(Seq(PLabel("__name__", "reqs"), PLabel("job", "a")),
          Seq(PSample(1.0, 100000L), PSample(4.0, 200000L),
            PSample(9.0, 300000L))),
        PTimeSeries(Seq(PLabel("__name__", "reqs"), PLabel("job", "b")),
          Seq(PSample(10.0, 200000L)))))
      val (wc, _) = post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))
      assert(wc == 200)

      val q = java.net.URLEncoder.encode("""sum by (job) (reqs)""", "UTF-8")
      val (code, body) = getAny(s"$base/api/v1/query_range" +
        s"?query=$q&start=200&end=300&step=100&lookback=100")
      assert(code == 200)
      assert(body.contains(""""status":"success""""))
      assert(body.contains(""""resultType":"matrix""""))
      // job=a has samples at both instants; job=b's t=200 sample serves
      // only T=200 (the T=300 window (200, 300] excludes it — strict >)
      assert(body.contains(""""metric":{"job":"a"},"values":[[200,"4"],[300,"9"]]"""))
      assert(body.contains(""""metric":{"job":"b"},"values":[[200,"10"]]"""))

      // malformed PromQL → 400 bad_data with the parser's message
      val (bc, bb) = getAny(s"$base/api/v1/query_range" +
        s"?query=${java.net.URLEncoder.encode("sum by (", "UTF-8")}" +
        "&start=0&end=10&step=10")
      assert(bc == 400 && bb.contains(""""errorType":"bad_data""""))
      // missing parameter → 400, not 500
      val (mc, mb) = getAny(s"$base/api/v1/query_range?query=$q&start=0")
      assert(mc == 400 && mb.contains("missing parameter"))
      // malformed step duration → 400
      val (sc2, _) = getAny(s"$base/api/v1/query_range" +
        s"?query=$q&start=0&end=10&step=xyz")
      assert(sc2 == 400)

      // POST with a form-encoded body (how Grafana ships long queries)
      val form = s"query=$q&start=200&end=300&step=100&lookback=100"
      val (pc, pb) = post(s"$base/api/v1/query_range",
        form.getBytes("UTF-8"), "application/x-www-form-urlencoded")
      assert(pc == 200)
      assert(new String(pb, "UTF-8") == body) // identical to the GET

      // the datasource-detection probe
      val (bc2, bi) = getAny(s"$base/api/v1/status/buildinfo")
      assert(bc2 == 200 && bi.contains(""""application":"graft""""))
      // exemplars/metadata endpoints with NOTHING ingested yet → honest
      // empty results, not 404s that break datasource feature probes
      // (start/end are optional on query_exemplars, the API contract)
      assert(getAny(s"$base/api/v1/query_exemplars?query=x")._2
        .contains(""""data":[]"""))
      assert(getAny(s"$base/api/v1/metadata")._2.contains(""""data":{}"""))
    } finally server.stop()
  }

  test("serve: the PromQL API bounds its grid — non-finite times and " +
      "more than 11,000 steps are 400 bad_data; exactly 11,000 answers") {
    val table = Files.createTempDirectory("graft_srvgrid").toString +
      "/metrics"
    val server = new Server(spark, table, enableAdminApi = true).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wr = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "reqs"), PLabel("job", "a")),
        Seq(PSample(1.0, 100000L), PSample(4.0, 200000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      val q = java.net.URLEncoder.encode("sum by (job) (reqs)", "UTF-8")
      def range(start: String, end: String, step: String): (Int, String) =
        getAny(s"$base/api/v1/query_range?query=$q&start=$start&end=$end" +
          s"&step=$step")
      def badData(r: (Int, String), msg: String): Unit = {
        assert(r._1 == 400, r)
        assert(r._2.contains(""""errorType":"bad_data"""") &&
          r._2.contains(msg), r)
      }
      // NaN used to floor to epoch 0, Inf to the end of the long range
      badData(range("NaN", "100", "1"), """invalid parameter \"start\"""")
      badData(range("0", "Inf", "1"), """invalid parameter \"end\"""")
      badData(range("0", "-Infinity", "1"), """invalid parameter \"end\"""")
      badData(getAny(s"$base/api/v1/query?query=$q&time=NaN"),
        """invalid parameter \"time\"""")
      // every other time parameter goes through the same parser
      val m = "match[]=reqs"
      for (ep <- Seq(s"series?$m&", "labels?", "label/job/values?")) {
        val at = s"$base/api/v1/$ep"
        badData(getAny(s"${at}start=NaN&end=100"),
          """invalid parameter \"start\"""")
        badData(getAny(s"${at}start=0&end=Inf"),
          """invalid parameter \"end\"""")
        badData(getAny(s"${at}start=0&end=-Infinity"),
          """invalid parameter \"end\"""")
      }
      badData(getAny(s"$base/api/v1/query_exemplars?query=reqs&start=NaN"),
        """invalid parameter \"start\"""")
      badData(getAny(s"$base/api/v1/rules?time=NaN"),
        """invalid parameter \"time\"""")
      val (fc, fb) = getAny(s"$base/federate?$m&time=NaN")
      assert(fc == 400 && fb.contains("""invalid parameter "time""""),
        (fc, fb))
      // a NaN start must not reach back to 1970: nothing is tombstoned
      val (dc, db) = post(s"$base/api/v1/admin/tsdb/delete_series?$m" +
        s"&start=NaN&end=${System.currentTimeMillis() / 1000}", Array.empty)
      badData((dc, new String(db, "UTF-8")),
        """invalid parameter \"start\"""")
      assert(!Files.exists(java.nio.file.Paths.get(
        graft.engine.Tombstones.path(table))))
      assert(server.storedTable().count() == 2)
      assert(getAny(s"$base/api/v1/series?$m&start=0&end=300")._2
        .contains(""""job":"a""""))
      // Prometheus's resolution cap on (end − start) / step
      val tooMany = "exceeded maximum resolution of 11,000 points per " +
        "timeseries. Try decreasing the query resolution (?step=XX)"
      badData(range("0", "11001", "1"), tooMany)
      badData(range("0", "1e18", "1"), tooMany)
      badData(range("-1e30", "1e30", "1"), tooMany)
      val (okCode, okBody) = range("0", "11000", "1")
      assert(okCode == 200, okBody)
      // samples at t=100 and t=200 under the 5 m lookback: T = 100 … 499
      assert(okBody.contains("""[100,"1"]""") &&
        okBody.contains("""[499,"4"]""") && !okBody.contains("[500,"),
        okBody.take(200))
      assert(range("0", "22000", "2")._1 == 200)
    } finally server.stop()
  }

  test("serve: one request edge — form bodies and encoded keys on every " +
      "endpoint, one decode, body before URL; failures map by one rule") {
    val table = Files.createTempDirectory("graft_srvedge").toString +
      "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    def enc(v: String): String = java.net.URLEncoder.encode(v, "UTF-8")
    def form(url: String, body: String): (Int, String) = {
      val (c, b) = post(url, body.getBytes("UTF-8"),
        "application/x-www-form-urlencoded")
      (c, new String(b, "UTF-8"))
    }
    try {
      val wr = PWriteRequest(Seq(
        PTimeSeries(Seq(PLabel("__name__", "reqs"), PLabel("job", "a")),
          Seq(PSample(1.0, 100000L))),
        PTimeSeries(Seq(PLabel("__name__", "mem"), PLabel("job", "b")),
          Seq(PSample(5.0, 100000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      // a form-encoded POST answers exactly as the GET
      val args = s"match[]=${enc("reqs")}&start=0&end=200"
      for (ep <- Seq("series", "labels")) {
        val (gc, gb) = getAny(s"$base/api/v1/$ep?$args")
        assert(gc == 200 && gb.contains("\"job\""), gb)
        assert(form(s"$base/api/v1/$ep", args) == (gc, gb))
      }
      // the URL-encoded spelling of match[] is the same key
      val (sc, sb) = getAny(
        s"$base/api/v1/series?match%5B%5D=reqs&start=0&end=200")
      assert(sc == 200 && sb.contains(""""job":"a"""") && !sb.contains("mem"))
      val (fc, fb) = getAny(s"$base/federate?match%5B%5D=reqs&time=150")
      assert(fc == 200 && fb.contains("""reqs{job="a"} 1 100000"""), fb)
      // PromQL holding '+' and '%' is decoded exactly once:
      // (1 + 10) % 7 = 4 (a second decode turns '+' into a space)
      val mod = enc("(reqs + 10) % 7")
      assert(mod.contains("%2B") && mod.contains("%25"))
      val (mc, mb) = getAny(s"$base/api/v1/query_range?query=$mod" +
        "&start=100&end=100&step=1")
      assert(mc == 200 && mb.contains("""[100,"4"]"""), mb)
      // query=a in the URL, query=b in the body: b is evaluated
      val (bc, bb) = form(s"$base/api/v1/query?query=${enc("reqs")}" +
        "&time=150", s"query=${enc("mem")}")
      assert(bc == 200 && bb.contains(""""value":[150,"5"]""") &&
        !bb.contains(""""job":"a""""), bb)
      // a non-numeric limit is the client's error, not a 500
      val (lc, lb) = getAny(s"$base/api/v1/status/tsdb?limit=abc")
      assert(lc == 400 && lb.contains(""""errorType":"bad_data""""), lb)
      // a failure that is no IllegalArgumentException still answers:
      // the JSON envelope with 500, not a dropped connection
      val deep = "(" * 100000 + "1" + ")" * 100000
      val (dc, db) = form(s"$base/api/v1/format_query", s"query=${enc(deep)}")
      assert(dc == 500 && db.contains(""""status":"error"""") &&
        db.contains(""""errorType":"internal""""), (dc, db.take(200)))
      val (oc, ob) = getAny(s"$base/api/v1/format_query?query=${enc("1+1")}")
      assert(oc == 200 && ob.startsWith("""{"status":"success","data":"""), ob)
    } finally server.stop()
  }

  test("serve: the PromQL API's series budget is enforced IN-PLAN — " +
      "over-budget queries 413 on all three collecting endpoints") {
    val table = Files.createTempDirectory("graft_srvbud").toString + "/metrics"
    val server = new Server(spark, table, readMaxSeries = 2).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      // four series — two over the budget of 2
      val wr = PWriteRequest((1 to 4).map { i =>
        PTimeSeries(Seq(PLabel("__name__", "m"), PLabel("job", s"j$i")),
          Seq(PSample(i.toDouble, 100000L)))
      })
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      val wide = java.net.URLEncoder.encode("m", "UTF-8")
      val narrow = java.net.URLEncoder.encode("""m{job="j1"}""", "UTF-8")
      // query_range / query / series: over-budget → 413, the message
      // names the knob; a narrow query still answers
      val (rc, rb) = getAny(s"$base/api/v1/query_range?query=$wide" +
        "&start=100&end=200&step=100")
      assert(rc == 413 && rb.contains("read.max-series"))
      assert(getAny(s"$base/api/v1/query?query=$wide&time=100")._1 == 413)
      assert(getAny(s"$base/api/v1/series?start=0&end=200" +
        s"&match[]=$wide")._1 == 413)
      assert(getAny(s"$base/api/v1/query_range?query=$narrow" +
        "&start=100&end=200&step=100")._1 == 200)
      assert(getAny(s"$base/api/v1/query?query=$narrow&time=100")._1 == 200)
    } finally server.stop()
  }

  test("serve: exemplars ingest from v1 field 3 and serve back through " +
      "/api/v1/query_exemplars; metadata lands on /api/v1/metadata") {
    import graft.codec.WriteWire
    val table = Files.createTempDirectory("graft_srvex").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wire = WriteWire.encodeWriteRequest(
        Seq((Seq(PLabel("__name__", "lat"), PLabel("job", "api")),
          Seq(PSample(0.25, 100000L)),
          Seq(WriteWire.PExemplar(Seq(PLabel("trace_id", "abc123")),
            0.93, 100000L)))),
        metadata = Seq(WriteWire.PMetadata("lat", "histogram",
          "Request latency", "seconds")))
      assert(post(s"$base/write", Prompb.snappyCompress(wire))._1 == 200)
      // sample ingested normally; exemplar in the side table
      assert(spark.read.parquet(table).count() == 1)
      val ex = spark.read.parquet(table + "_exemplars").collect()
      assert(ex.length == 1)
      assert(ex.head.getAs[scala.collection.Seq[String]]("ex_tags") ==
        Seq("trace_id=abc123"))
      assert(ex.head.getAs[Double]("val") == 0.93)
      // the endpoint: selector + bounds → the exemplar, JSON envelope
      val q = java.net.URLEncoder.encode("""lat{job="api"}""", "UTF-8")
      val (qc, qb) = getAny(s"$base/api/v1/query_exemplars?query=$q" +
        "&start=0&end=200")
      assert(qc == 200)
      assert(qb.contains(""""seriesLabels":{"__name__":"lat","job":"api"}"""))
      assert(qb.contains(
        """"labels":{"trace_id":"abc123"},"value":"0.93","timestamp":100"""))
      // out-of-range bounds → empty
      assert(getAny(s"$base/api/v1/query_exemplars?query=$q" +
        "&start=0&end=50")._2.contains(""""data":[]"""))
      // metadata served in the envelope Grafana parses
      val (mc, mb) = getAny(s"$base/api/v1/metadata")
      assert(mc == 200)
      assert(mb.contains(""""lat":[{"type":"histogram","help":"Request latency","unit":"seconds"}]"""))
    } finally server.stop()
  }

  test("serve: /api/v1/rules + /api/v1/alerts expose rule groups and " +
      "current alert states in the Prometheus envelope") {
    import graft.promql.Rules
    val table = Files.createTempDirectory("graft_srvrl").toString + "/metrics"
    val group = Rules.RuleGroup("g1", 100L,
      recording = Seq(Rules.RecordingRule("job:m:sum", "sum by (job) (m)")),
      alerts = Seq(Rules.AlertRule("Hot", "m > 5", forSec = 100L,
        labels = Seq("severity" -> "page"))))
    val server = new Server(spark, table, ruleGroups = Seq(group)).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      // j1 over threshold at t=100..300 (firing at 300: held 3 ≥ 2);
      // j2 crosses only at t=300 (pending)
      val wr = PWriteRequest(Seq(
        PTimeSeries(Seq(PLabel("__name__", "m"), PLabel("job", "j1")),
          Seq(PSample(9.0, 100000L), PSample(9.0, 200000L),
            PSample(9.0, 300000L))),
        PTimeSeries(Seq(PLabel("__name__", "m"), PLabel("job", "j2")),
          Seq(PSample(1.0, 200000L), PSample(8.0, 300000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      val (rc, rb) = getAny(s"$base/api/v1/rules?time=300&lookback=100")
      assert(rc == 200)
      // the group envelope with both rule kinds
      assert(rb.contains(""""name":"g1","file":"graft""""))
      assert(rb.contains(""""name":"job:m:sum","query":"sum by (job) (m)""""))
      assert(rb.contains(""""type":"recording""""))
      assert(rb.contains(""""name":"Hot""""))
      assert(rb.contains(""""duration":100"""))
      assert(rb.contains(""""type":"alerting""""))
      // j1 firing since its run start t=100; j2 pending since 300
      assert(rb.contains(""""alertname":"Hot""""))
      assert(rb.contains(""""job":"j1""""))
      assert(rb.contains(""""state":"firing""""))
      assert(rb.contains("1970-01-01T00:01:40Z")) // activeAt = t=100
      assert(rb.contains(""""state":"pending""""))
      // rule-level state rolls up to firing (at least one firing alert)
      assert(rb.contains(""""state":"firing","name":"Hot""""))
      // /alerts: the flat active-alert list, same objects
      val (ac, ab) = getAny(s"$base/api/v1/alerts?time=300&lookback=100")
      assert(ac == 200 && ab.contains(""""alerts":["""))
      assert(ab.contains(""""job":"j1"""") && ab.contains(""""job":"j2""""))
      // at t=100 only j1 is active and merely pending (held 1 < 2)
      val (_, ab1) = getAny(s"$base/api/v1/alerts?time=100&lookback=100")
      assert(ab1.contains(""""job":"j1"""") && !ab1.contains(""""job":"j2""""))
      assert(ab1.contains(""""state":"pending"""") &&
        !ab1.contains(""""state":"firing""""))
    } finally server.stop()
  }

  test("serve: the stale-marker bit pattern diverts to the marker table; " +
      "ordinary NaN still drops at F1; markers end PromQL ownership") {
    val table = Files.createTempDirectory("graft_srvst").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val staleNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000002L)
      val wr = PWriteRequest(Seq(
        PTimeSeries(Seq(PLabel("__name__", "up"), PLabel("job", "a")),
          Seq(PSample(1.0, 100000L), PSample(staleNaN, 150000L))),
        PTimeSeries(Seq(PLabel("__name__", "up"), PLabel("job", "b")),
          Seq(PSample(1.0, 100000L), PSample(Double.NaN, 150000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      // plain NaN dropped by F1 (2 real samples stored), marker
      // diverted (1 marker row), received counts all 4
      assert(spark.read.parquet(table).count() == 2)
      val markers = spark.read.parquet(table + "_stale").collect()
      assert(markers.length == 1)
      assert(markers.head.getAs[scala.collection.Seq[String]]("tags")
        .contains("job=a"))
      val (_, metrics) = getAny(s"$base/metrics")
      assert(metrics.contains("received_samples_total 4"))
      // instant query at t=200 (lookback 300): job=a is STALE-terminated
      // at t=150 — no resurrection; job=b (plain NaN dropped, no marker)
      // still extends its t=100 sample through the lookback
      val q = java.net.URLEncoder.encode("up", "UTF-8")
      val (qc, qb) = getAny(s"$base/api/v1/query?query=$q&time=200")
      assert(qc == 200)
      assert(!qb.contains(""""job":"a""""))
      assert(qb.contains(""""job":"b""""))
      // before the marker both answer
      val (_, qb2) = getAny(s"$base/api/v1/query?query=$q&time=120")
      assert(qb2.contains(""""job":"a"""") && qb2.contains(""""job":"b""""))
    } finally server.stop()
  }

  test("serve: admin API gate + delete_series masks reads + " +
      "clean_tombstones rewrites only affected partitions") {
    val table = Files.createTempDirectory("graft_srvadm").toString + "/metrics"
    // two days, two series: day 1 holds both, day 2 holds only job=a
    def samp(job: String, daySec: Long) = PTimeSeries(
      Seq(PLabel("__name__", "up"), PLabel("job", job)),
      Seq(PSample(1.0, daySec * 1000)))
    val d1 = 1704067200L // 2024-01-01
    val d2 = d1 + 86400L
    val wr = PWriteRequest(Seq(
      samp("a", d1), samp("b", d1), samp("a", d2)))

    // gate: admin off → 403, nothing recorded
    val off = new Server(spark, table).start()
    try {
      val baseOff = s"http://localhost:${off.boundPort}"
      assert(post(s"$baseOff/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      val (fc, fb) = post(
        s"$baseOff/api/v1/admin/tsdb/delete_series?match[]=up", Array.empty)
      assert(fc == 403 && new String(fb, "UTF-8").contains("disabled"))
    } finally off.stop()

    val server = new Server(spark, table, enableAdminApi = true).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      // missing match[] → 400; GET → 405
      assert(post(s"$base/api/v1/admin/tsdb/delete_series",
        Array.empty)._1 == 400)
      assert(getAny(s"$base/api/v1/admin/tsdb/delete_series?match[]=up")
        ._1 == 405)
      // delete all of day 2 → masked immediately, before any clean
      val (dc, _) = post(s"$base/api/v1/admin/tsdb/delete_series?" +
        s"match[]=up&start=$d2", Array.empty)
      assert(dc == 204)
      assert(server.storedTable().count() == 2)
      // tombstone survives as a record, data still physically present
      assert(spark.read.parquet(table).count() == 3)
      // also delete job=b (day 1 keeps a survivor)
      assert(post(s"$base/api/v1/admin/tsdb/delete_series?" +
        """match[]=up%7Bjob%3D%22b%22%7D""", Array.empty)._1 == 204)
      assert(server.storedTable().count() == 1)
      // clean: day-2 partition DROPPED (no survivors), day-1 rewritten
      assert(post(s"$base/api/v1/admin/tsdb/clean_tombstones",
        Array.empty)._1 == 204)
      val phys = spark.read.parquet(table).collect()
      assert(phys.length == 1)
      assert(phys.head.getAs[scala.collection.Seq[String]]("tags")
        .contains("job=a"))
      assert(!Files.exists(java.nio.file.Paths.get(
        graft.engine.Tombstones.path(table))))
      assert(!Files.exists(java.nio.file.Paths.get(table,
        "date=2024-01-02")))
      assert(Files.exists(java.nio.file.Paths.get(table,
        "date=2024-01-01")))
      // clean with nothing recorded is a no-op 204
      assert(post(s"$base/api/v1/admin/tsdb/clean_tombstones",
        Array.empty)._1 == 204)
    } finally server.stop()
  }

  test("serve: /federate renders latest-sample text exposition with " +
      "escaping, per-sample timestamps, and TYPE from metadata") {
    val table = Files.createTempDirectory("graft_srvfed").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val wr = PWriteRequest(Seq(
        PTimeSeries(
          Seq(PLabel("__name__", "up"), PLabel("inst", "a\"b\\c")),
          Seq(PSample(1.0, 100000L), PSample(2.5, 160000L))),
        PTimeSeries(Seq(PLabel("__name__", "up"), PLabel("inst", "d")),
          Seq(PSample(3.0, 150000L))),
        // outside the lookback window at time=200
        PTimeSeries(Seq(PLabel("__name__", "old")),
          Seq(PSample(9.0, 1000L)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      val (c, b) = getAny(s"$base/federate?match[]=up&time=200&lookback=2m")
      assert(c == 200)
      // latest sample per series, its own ms timestamp, escaped labels
      assert(b.contains("# TYPE up untyped"))
      assert(b.contains("""up{inst="a\"b\\c"} 2.5 160000"""))
      assert(b.contains("""up{inst="d"} 3 150000"""))
      assert(!b.contains("old"), "series outside the window must not appear")
      // missing match[] is a client error
      assert(getAny(s"$base/federate?time=200")._1 == 400)
    } finally server.stop()
  }

  test("serve: alertmanager notifier loop posts the firing set on the " +
      "group interval; status flags/runtimeinfo answer") {
    val table = Files.createTempDirectory("graft_srvam").toString + "/metrics"
    val captured = new java.util.concurrent.LinkedBlockingQueue[String]()
    val am = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    am.createContext("/api/v2/alerts",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        captured.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(200, -1); ex.close()
      })
    am.start()
    val group = graft.promql.Rules.RuleGroup("g", 1L,
      alerts = Seq(graft.promql.Rules.AlertRule("Up", "up > 0",
        forSec = 0L)))
    val server = new Server(spark, table, ruleGroups = Seq(group),
      alertmanagerUrl =
        Some(s"http://localhost:${am.getAddress.getPort}")).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      // a sample near "now" so the live loop's instant query sees it
      val now = System.currentTimeMillis()
      val wr = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "up"), PLabel("job", "j")),
        Seq(PSample(1.0, now)))))
      assert(post(s"$base/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      // the 1 s loop must deliver within a few ticks
      val body = captured.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(body != null, "notifier loop never posted")
      assert(body.contains(""""alertname":"Up"""") &&
        body.contains(""""job":"j"""") && body.contains("startsAt"))
      // one-shot API agrees
      assert(server.notifyAlertmanager(now / 1000) == 1)
      // status probes
      val (fc, fb) = getAny(s"$base/api/v1/status/flags")
      assert(fc == 200 && fb.contains(""""web.enable-admin-api":"false""""))
      val (rc, rb) = getAny(s"$base/api/v1/status/runtimeinfo")
      assert(rc == 200 && rb.contains("storagePath"))
      // /api/v1/alertmanagers lists the configured receiver's POST URL
      val (ac, ab) = getAny(s"$base/api/v1/alertmanagers")
      assert(ac == 200 && ab.contains("/api/v2/alerts") &&
        ab.contains(""""droppedAlertmanagers":[]"""))
    } finally { server.stop(); am.stop(0) }
  }

  test("serve: retention sweeps the exemplar side table on the same " +
      "horizon as the samples") {
    val table = Files.createTempDirectory("graft_srvrt").toString + "/metrics"
    val server = new Server(spark, table,
      retentionSec = 10L * 86400L).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val now = System.currentTimeMillis()
      val old = now - 100L * 86400000L
      def series(ts: Long) = (
        Seq(PLabel("__name__", "m"), PLabel("job", "j")),
        Seq(PSample(1.0, ts)),
        Seq(graft.codec.WriteWire.PExemplar(
          Seq(PLabel("trace_id", "t1")), 1.0, ts)))
      // first write: BOTH generations of data land (old + new); the
      // post-append sweep runs after the commit
      val wire = Prompb.snappyCompress(
        graft.codec.WriteWire.encodeWriteRequest(
          Seq(series(old), series(now))))
      assert(post(s"$base/write", wire)._1 == 200)
      def dates(p: String): Set[String] = {
        val d = java.nio.file.Paths.get(p)
        if (!java.nio.file.Files.isDirectory(d)) Set.empty
        else {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(d).iterator().asScala
            .map(_.getFileName.toString).filter(_.startsWith("date="))
            .toSet
        }
      }
      // main table: the ancient partition dropped, today kept
      assert(dates(table).size == 1)
      // exemplar side table: swept on the same horizon
      assert(dates(table + "_exemplars").size == 1)
    } finally server.stop()
  }

  test("serve: /-/reload swaps the live rule set from --rules.file; " +
      "gated without the flag; a broken file keeps the old rules") {
    val table = Files.createTempDirectory("graft_srvrl").toString + "/metrics"
    val rulesPath = Files.createTempDirectory("graft_rl").resolve("r.yml")
    def writeRules(alert: String): Unit =
      Files.writeString(rulesPath,
        s"""groups:
           |  - name: g
           |    interval: 30s
           |    rules:
           |      - alert: $alert
           |        expr: up > 0
           |""".stripMargin)
    writeRules("First")
    val first = graft.promql.Rules.parseRuleFile(
      Files.readString(rulesPath))
    def reload(base: String): (Int, String) = {
      val conn = java.net.URI.create(s"$base/-/reload").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.close()
      val code = conn.getResponseCode
      val body = new String(
        (if (code / 100 == 2) conn.getInputStream
         else conn.getErrorStream).readAllBytes(), "UTF-8")
      conn.disconnect()
      (code, body)
    }
    // without the flag: 403, the Prometheus lifecycle gate
    val gated = new Server(spark, table, ruleGroups = first,
      rulesFile = Some(rulesPath.toString)).start()
    try assert(reload(s"http://localhost:${gated.boundPort}")._1 == 403)
    finally gated.stop()
    val server = new Server(spark, table, ruleGroups = first,
      enableLifecycle = true, rulesFile = Some(rulesPath.toString)).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      // the rules replay needs a store to evaluate over
      assert(post(s"$base/write", Prompb.snappyCompress(
        Prompb.encodeWriteRequest(PWriteRequest(Seq(PTimeSeries(
          Seq(PLabel("__name__", "up"), PLabel("job", "j")),
          Seq(PSample(1.0, 100000L))))))))._1 == 200)
      def ruleNames(): String = getAny(s"$base/api/v1/rules?time=100")._2
      assert(ruleNames().contains(""""name":"First""""))
      // GET is not a reload
      assert(getAny(s"$base/-/reload")._1 == 405)
      writeRules("Second")
      assert(reload(base)._1 == 200)
      val after = ruleNames()
      assert(after.contains(""""name":"Second"""") &&
        !after.contains(""""name":"First""""))
      // a broken file fails loudly and KEEPS the working rules
      Files.writeString(rulesPath, "groups:\n  - name: g\n    rules:\n      - oops: x\n")
      val (bc, bb) = reload(base)
      assert(bc == 500 && bb.contains("failed to reload"))
      assert(ruleNames().contains(""""name":"Second""""))
    } finally server.stop()
  }

  test("serve: the scrape loop pulls a child's /federate into the parent " +
      "store; health probes answer") {
    val childTable = Files.createTempDirectory("graft_srvsc").toString +
      "/metrics"
    val child = new Server(spark, childTable).start()
    val childBase = s"http://localhost:${child.boundPort}"
    val parentTable = Files.createTempDirectory("graft_srvsp").toString +
      "/metrics"
    try {
      val now = System.currentTimeMillis()
      val wr = PWriteRequest(Seq(PTimeSeries(
        Seq(PLabel("__name__", "up"), PLabel("job", "c")),
        Seq(PSample(1.0, now)))))
      assert(post(s"$childBase/write",
        Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))._1 == 200)
      val parent = new Server(spark, parentTable,
        scrapeTargets = Seq(s"$childBase/federate?match[]=up"),
        scrapeIntervalSec = 1L).start()
      try {
        // the 1 s loop must land rows within a few ticks
        val deadline = System.currentTimeMillis() + 30000
        var n = 0L
        while (n == 0 && System.currentTimeMillis() < deadline) {
          Thread.sleep(500)
          // the dir can exist with only _temporary inside mid-append —
          // schema inference then fails; treat that as "not yet"
          n = try spark.read.parquet(parentTable).count()
            catch { case _: Exception => 0L }
        }
        assert(n >= 1, "scrape loop never ingested")
        val row = spark.read.parquet(parentTable).collect().head
        assert(row.getAs[scala.collection.Seq[String]]("tags")
          .contains("job=c"))
        // health probes
        assert(getAny(s"http://localhost:${parent.boundPort}/-/healthy")
          ._1 == 200)
        assert(getAny(s"http://localhost:${parent.boundPort}/-/ready")
          ._1 == 200)
        // /api/v1/targets reports the scrape pool's health
        val (tc, tb) = getAny(
          s"http://localhost:${parent.boundPort}/api/v1/targets")
        assert(tc == 200)
        assert(tb.contains(""""health":"up"""") &&
          tb.contains(""""activeTargets""""))
      } finally parent.stop()
    } finally child.stop()
  }

  test("serve: /api/v1/parse_query returns the AST; parse errors are 400") {
    val table = Files.createTempDirectory("graft_srvpq").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      val q = java.net.URLEncoder.encode("rate(up[5m])", "UTF-8")
      val (c, b) = getAny(s"$base/api/v1/parse_query?query=$q")
      assert(c == 200)
      assert(b.contains(""""type":"call"""") &&
        b.contains(""""name":"rate"""") &&
        b.contains(""""type":"matrixSelector"""") &&
        b.contains(""""range":300"""))
      val bad = java.net.URLEncoder.encode("rate(up[5m)", "UTF-8")
      val (bc, bb) = getAny(s"$base/api/v1/parse_query?query=$bad")
      assert(bc == 400 && bb.contains("bad_data"))
    } finally server.stop()
  }

  /** `ts` as a remote-write 2.0 request (its own symbol table). */
  private def rw2(ts: Seq[PTimeSeries]): graft.codec.Prompb2.P2Request = {
    val symbols = ("" +: ts.flatMap(_.labels.flatMap(l => Seq(l.name, l.value))))
      .distinct
    graft.codec.Prompb2.P2Request(symbols, ts.map(t => graft.codec.Prompb2.P2TimeSeries(
      t.labels.flatMap(l => Seq(symbols.indexOf(l.name), symbols.indexOf(l.value))),
      t.samples)))
  }

  /** POST `ts` to /write as RW2 when `v2`, else RW1: the status and,
    * for RW2, the Samples,Histograms,Exemplars written headers. */
  private def postWrite(base: String, ts: Seq[PTimeSeries], v2: Boolean)
  : (Int, Option[String]) = {
    val conn = java.net.URI.create(s"$base/write").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    val body =
      if (!v2) Prompb.encodeWriteRequest(PWriteRequest(ts))
      else {
        conn.setRequestProperty("Content-Type",
          "application/x-protobuf;proto=io.prometheus.write.v2.Request")
        graft.codec.Prompb2.encodeRequest(rw2(ts))
      }
    conn.getOutputStream.write(Prompb.snappyCompress(body))
    val code = conn.getResponseCode
    val written = Seq("Samples", "Histograms", "Exemplars").map(k =>
      conn.getHeaderField(s"X-Prometheus-Remote-Write-$k-Written"))
    conn.disconnect()
    (code, if (written.forall(_ == null)) None else Some(written.mkString(",")))
  }

  /** The stored (sorted tags, val, ts seconds) rows, sorted. */
  private def storedRows(table: String): Seq[(String, Double, Long)] =
    spark.read.parquet(table).select("tags", "val", "ts").collect()
      .map(r => (r.getAs[scala.collection.Seq[String]](0).mkString(","),
        r.getDouble(1), r.getTimestamp(2).getTime / 1000)).toSeq.sorted

  /** `ts` as the rows [[storedRows]] reads back, sorted. */
  private def rowsOf(ts: Seq[PTimeSeries]): Seq[(String, Double, Long)] =
    ts.flatMap { t =>
      val tags = t.labels.map(l => s"${l.name}=${l.value}").sorted.mkString(",")
      t.samples.map(sm => (tags, sm.value, sm.timestampMs / 1000))
    }.sorted

  private def metricValue(metrics: String, k: String): Long =
    metrics.linesIterator
      .collectFirst { case l if l.startsWith(k + " ") => l.drop(k.length + 1).toLong }
      .getOrElse(fail(s"no $k in /metrics"))

  test("serve: commit files merge by tier after each commit, and a read " +
       "whose cached relation lost its files to a merge re-plans and " +
       "answers the exact rows") {
    val table = Files.createTempDirectory("graft_srvmerge").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    val midnight = 1700006400000L // 2023-11-15T00:00:00Z
    // post i: its own series, 3 one-minute scrapes, all on 2023-11-14
    def series(i: Int): Seq[PTimeSeries] = Seq(PTimeSeries(
      Seq(PLabel("__name__", "mrg"), PLabel("post", s"p$i")),
      (0 until 3).map(k =>
        PSample(i * 10.0 + k, midnight - 7200000L + (i * 3 + k) * 60000L))))
    val dir = java.nio.file.Paths.get(table, "date=2023-11-14")
    def files(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toVector
      finally s.close()
    }
    def read(): (Int, Seq[(String, Double, Long)]) = {
      val rr = PReadRequest(Seq(PQuery(midnight - 7200000L, midnight,
        Seq(PLabelMatcher(MatchType.EQ, "__name__", "mrg")))))
      val (code, body) = post(s"$base/read",
        Prompb.snappyCompress(Prompb.encodeReadRequest(rr)))
      (code, if (code != 200) Nil else rowsOf(Prompb.decodeReadResponse(
        Prompb.snappyUncompress(body)).results.flatMap(_.timeseries)))
    }
    try {
      (0 until 8).foreach(i =>
        assert(postWrite(base, series(i), v2 = i % 2 == 1)._1 == 200))
      // 8 one-POST commits: a merge after the 4th and after the 8th
      assert(files().size == 2 && files().forall(_.startsWith("merged-rg4-")))
      val (_, m8) = get(s"$base/metrics")
      assert(metricValue(m8, "graft_parquet_commits_total") == 8)
      assert(metricValue(m8, "graft_parquet_merges_total") == 2)
      assert(metricValue(m8, "graft_read_retries_total") == 0)
      assert(read() == (200, rowsOf((0 until 8).flatMap(series))))

      // the read above cached a relation listing the two merged files;
      // eight commits the server does not see, then merges, delete both
      import spark.implicits._
      (8 until 16).foreach { i =>
        val samples = series(i).flatMap(t => t.samples.map(sm =>
          graft.model.Schema.Sample("mrg",
            t.labels.map(l => l.name -> l.value).toMap, sm.value, sm.timestampMs)))
        server.appendLock.synchronized {
          graft.engine.WritePipeline.append(graft.engine.WritePipeline
            .toMetricRows(samples.toDF()), table, rowsHint = 3L)
        }
      }
      assert(graft.engine.Admin.mergeCommitFiles(
        org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(dir.toString)) == 3)
      assert(files().size == 1 && files().head.startsWith("merged-rg16-"))
      assert(read() == (200, rowsOf((0 until 16).flatMap(series))))
      val (_, mr) = get(s"$base/metrics")
      assert(metricValue(mr, "graft_read_retries_total") == 1)
      assert(metricValue(mr, "graft_parquet_merges_total") == 2)
    } finally server.stop()
  }

  test("serve: a read held open across several merges of the files it " +
       "listed reads exactly those rows, with no retry; the inputs are " +
       "deleted once it ends") {
    val table = Files.createTempDirectory("graft_srvhold").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    val midnight = 1700006400000L // 2023-11-15T00:00:00Z
    def series(i: Int): Seq[PTimeSeries] = Seq(PTimeSeries(
      Seq(PLabel("__name__", "hold"), PLabel("post", s"p$i")),
      (0 until 3).map(k =>
        PSample(i * 10.0 + k, midnight - 7200000L + (i * 3 + k) * 60000L))))
    val dir = java.nio.file.Paths.get(table, "date=2023-11-14")
    def files(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toVector
      finally s.close()
    }
    def read(): (Int, Seq[(String, Double, Long)]) = {
      val rr = PReadRequest(Seq(PQuery(midnight - 7200000L, midnight,
        Seq(PLabelMatcher(MatchType.EQ, "__name__", "hold")))))
      val (code, body) = post(s"$base/read",
        Prompb.snappyCompress(Prompb.encodeReadRequest(rr)))
      (code, if (code != 200) Nil else rowsOf(Prompb.decodeReadResponse(
        Prompb.snappyUncompress(body)).results.flatMap(_.timeseries)))
    }
    def values(posts: Range): Seq[Double] =
      posts.flatMap(series).flatMap(_.samples.map(_.value)).sorted
    try {
      (0 until 3).foreach(i =>
        assert(postWrite(base, series(i), v2 = i % 2 == 1)._1 == 200))
      val (held, during) = server.reads {
        // planned over the three commit files ...
        val df = server.storedTable()
        assert(df.inputFiles.length == 3)
        // ... which 13 more commits merge into a file of 4 row groups,
        // and that one, with three more, into one of 16
        (3 until 16).foreach(i =>
          assert(postWrite(base, series(i), v2 = i % 2 == 1)._1 == 200))
        assert(files().count(_.startsWith("merged-rg16-")) == 1)
        assert(files().size > 1) // the inputs, kept for this read
        // a read planned now lists the merged file, never its inputs
        // still on disk for the held read
        assert(server.storedTable().count() == 16 * 3)
        val now = read()
        (df.select("val").collect().map(_.getDouble(0)).toSeq.sorted, now)
      }
      assert(held == values(0 until 3))
      assert(during == (200, rowsOf((0 until 16).flatMap(series))))
      assert(files().size == 1 && files().head.startsWith("merged-rg16-"))
      val (_, m) = get(s"$base/metrics")
      assert(metricValue(m, "graft_parquet_merges_total") == 5)
      assert(metricValue(m, "graft_read_retries_total") == 0)
      assert(read() == (200, rowsOf((0 until 16).flatMap(series))))
    } finally server.stop()
  }

  test("serve: 8 concurrent RW1/RW2 senders — each answered with its own " +
       "counts, the store holds exactly what was sent, commits ≤ POSTs") {
    val table = Files.createTempDirectory("graft_srvgc").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    val senders = 8
    val midnight = 1700006400000L // 2023-11-15T00:00:00Z
    // sender i: 4 series of its own × (3 + i) scrapes, some across midnight
    def series(i: Int): Seq[PTimeSeries] = (0 until 4).map { j =>
      PTimeSeries(
        Seq(PLabel("__name__", s"conc_m$j"), PLabel("sender", s"s$i")),
        (0 until 3 + i).map(k =>
          PSample(i * 100.0 + j * 10 + k, midnight + (k - 2) * 60000L)))
    }
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(senders)
      val answers = try {
        val fs = (0 until senders).map { i =>
          pool.submit(new java.util.concurrent.Callable[(Int, Option[String])] {
            def call(): (Int, Option[String]) = {
              start.await()
              postWrite(base, series(i), v2 = i % 2 == 1)
            }
          })
        }
        start.countDown()
        fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()

      val counts = (0 until senders).map(i => series(i).map(_.samples.size).sum)
      assert(answers.map(_._1) == Seq.fill(senders)(200))
      answers.zipWithIndex.foreach { case ((_, written), i) =>
        assert(written == (if (i % 2 == 0) None else Some(s"${counts(i)},0,0")),
          s"sender $i")
      }
      // exactly the multiset sent: nothing lost, nothing twice
      assert(storedRows(table) == rowsOf((0 until senders).flatMap(series)))

      val (_, metrics) = get(s"$base/metrics")
      assert(metricValue(metrics, "received_samples_total") == counts.sum)
      assert(metricValue(metrics,
        """sent_samples_total{remote="parquet"}""") == counts.sum)
      val commits = metricValue(metrics, "graft_parquet_commits_total")
      assert(commits >= 1 && commits <= senders)
    } finally server.stop()
  }

  test("serve: a POST whose samples fail the commit fails only itself, " +
       "not the POSTs grouped with it") {
    val table = Files.createTempDirectory("graft_srvgcbad").toString + "/metrics"
    val server = new Server(spark, table).start()
    val base = s"http://localhost:${server.boundPort}"
    val good = Seq(PTimeSeries(
      Seq(PLabel("__name__", "grp_good"), PLabel("job", "a")),
      Seq(PSample(1.0, 1700000000000L), PSample(2.0, 1700000060000L))))
    // ms past what a microsecond timestamp holds: timestamp_seconds
    // overflows inside the write job, after decode accepted the request
    val bad = Seq(PTimeSeries(
      Seq(PLabel("__name__", "grp_bad"), PLabel("job", "b")),
      Seq(PSample(3.0, 1700000000000L), PSample(4.0, Long.MaxValue / 100))))
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val answers = try {
        // hold the commit lock until both POSTs are queued, so one
        // commit drains them together
        val fs = server.appendLock.synchronized {
          val fs = Seq(good, bad).map { ts =>
            pool.submit(new java.util.concurrent.Callable[(Int, Option[String])] {
              def call(): (Int, Option[String]) = postWrite(base, ts, v2 = true)
            })
          }
          val deadline = System.nanoTime() + 60L * 1000000000L
          while (server.queuedWrites < 2) {
            assert(System.nanoTime() < deadline, "the two POSTs never queued")
            Thread.sleep(5)
          }
          fs
        }
        fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()

      assert(answers == Seq((200, Some("2,0,0")), (200, Some("0,0,0"))))
      assert(storedRows(table) == rowsOf(good))
      val (_, metrics) = get(s"$base/metrics")
      assert(metricValue(metrics,
        """sent_samples_total{remote="parquet"}""") == 2)
      assert(metricValue(metrics,
        """failed_samples_total{remote="parquet"}""") == 2)
      assert(metricValue(metrics, "graft_parquet_commits_total") == 1)
    } finally server.stop()
  }
}
