package graft

import graft.codec.Prompb
import graft.codec.Prompb._
import graft.engine.{ReadPipeline, ResponseEdge, WritePipeline}
import graft.streaming.RemoteWriteStream
import java.nio.file.Files

/** S1 streaming ingest + S11 response edge, end-to-end over real bytes. */
class StreamIngestSpec extends SparkSpec {

  private def payload(name: String, samples: Seq[PSample]): Array[Byte] =
    Prompb.snappyCompress(Prompb.encodeWriteRequest(PWriteRequest(Seq(
      PTimeSeries(Seq(PLabel("__name__", name), PLabel("job", "t")), samples)))))

  test("S1: streaming ingest drains payload files into the metrics table") {
    val in = Files.createTempDirectory("graft_in").toString
    val table = Files.createTempDirectory("graft_tbl").toString + "/metrics"
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    Files.write(java.nio.file.Paths.get(s"$in/b1.bin"),
      payload("m1", Seq(PSample(1.0, 123456789123L), PSample(Double.NaN, 123456789123L))))
    Files.write(java.nio.file.Paths.get(s"$in/b2.bin"),
      payload("m2", Seq(PSample(2.5, 123456790000L))))

    val q = RemoteWriteStream.ingestStream(spark, in, table, ckpt)
    q.awaitTermination()

    // §2.7: received counts the wire samples BEFORE the F1 drop
    val stats = graft.engine.Observability.ingestStats(q)
    assert(stats == graft.engine.Observability.IngestStats(received = 3, ignored = 1))

    val rows = spark.read.parquet(table).collect()
    // NaN dropped (F1), 2 finite samples stored, ts truncated to seconds
    assert(rows.length == 2)
    val m1 = rows.find(_.getAs[String]("name") == "m1").get
    assert(m1.getAs[java.sql.Timestamp]("ts").getTime == 123456789000L)
    assert(m1.getAs[scala.collection.Seq[String]]("tags").toSeq ==
      Seq("__name__=m1", "job=t"))

    // restart with no new files: checkpoint prevents re-ingest
    val q2 = RemoteWriteStream.ingestStream(spark, in, table, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(table).count() == 2)
  }

  test("streaming windowed rollup: tumbling avg per series under a watermark") {
    val in = Files.createTempDirectory("graft_win").toString
    val ckpt = Files.createTempDirectory("graft_wckpt").toString
    // two samples in one 10s window (avg 2.0), one in the next
    Files.write(java.nio.file.Paths.get(s"$in/w.bin"),
      payload("m", Seq(PSample(1.0, 123456780000L), PSample(3.0, 123456783000L),
        PSample(7.0, 123456791000L))))

    val flat = RemoteWriteStream.decodeFlat(
      spark.readStream.format("binaryFile")
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
        .load(in))
    val q = RemoteWriteStream.streamingRollup(flat, 10, "10 minutes")
      .writeStream
      .format("memory")
      .queryName("win_rollup")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val rows = spark.table("win_rollup").orderBy("bucket_start").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("val") == 2.0) // avg(1, 3)
    assert(rows(0).getAs[Long]("cnt") == 2L)
    assert(rows(1).getAs[Double]("val") == 7.0)
    assert(rows(0).getAs[java.sql.Timestamp]("bucket_start").getTime == 123456780000L)
  }

  test("append-mode rollup: watermark drops late rows and emits only closed windows") {
    val in = Files.createTempDirectory("graft_wm").toString
    val ckpt = Files.createTempDirectory("graft_wmckpt").toString
    // batch 0 (on time): samples at 100s, 700s, 7000s, max 10800s
    //   → watermark = 10800s - 3600s = 7200s, applied from batch 1 on
    // batch 1 (mid): in-delay sample — late-event FILTERING uses the
    //   pre-update watermark (SPARK-24634 split), so a late row must
    //   arrive ≥2 batches after the data that advanced the clock
    // batch 2 (late): sample at 150s — window [0,600) closed in batch 1,
    //   and batch 2's late-filter watermark is 7200s → row DROPPED
    val fA = java.nio.file.Paths.get(s"$in/a_ontime.bin")
    val fM = java.nio.file.Paths.get(s"$in/b_mid.bin")
    val fB = java.nio.file.Paths.get(s"$in/c_late.bin")
    Files.write(fA, payload("m", Seq(PSample(1.0, 100000L), PSample(5.0, 700000L),
      PSample(3.0, 7000000L), PSample(9.0, 10800000L))))
    Files.write(fM, payload("m", Seq(PSample(4.0, 10000000L))))
    Files.write(fB, payload("m", Seq(PSample(100.0, 150000L))))
    val t0 = System.currentTimeMillis() - 60000
    Seq(fA, fM, fB).zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000))
    }

    val flat = RemoteWriteStream.decodeFlat(
      spark.readStream.format("binaryFile")
        .schema(RemoteWriteStream.binaryFilePayloadSchema)
        .option("maxFilesPerTrigger", 1)
        .load(in))
    val q = RemoteWriteStream.streamingRollup(flat, 600, "3600 seconds")
      .writeStream
      .format("memory")
      .queryName("wm_rollup")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    info("progress: " + q.recentProgress.toSeq.map(p =>
      (p.batchId, p.numInputRows, Option(p.eventTime).map(_.toString))).mkString(" | "))
    info("state: " + q.recentProgress.toSeq.map(p =>
      (p.batchId, p.stateOperators.toSeq.map(s =>
        s"out=${s.numRowsUpdated} evict=${s.numRowsRemoved} late=${s.numRowsDroppedByWatermark} total=${s.numRowsTotal}"))).mkString(" | "))

    val rows = spark.table("wm_rollup").orderBy("bucket_start")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("bucket_start").getTime / 1000,
        r.getAs[Double]("val"), r.getAs[Long]("cnt")))
    // emission = eviction at window.end <= watermark: [0,600), [600,1200)
    // and the boundary window [6600,7200) (end == watermark) all emit,
    // WITHOUT the late 100.0 sample; [9600,…) and [10800,…) are inside
    // the delay and never close
    assert(rows.toSeq == Seq((0L, 1.0, 1L), (600L, 5.0, 1L), (6600L, 3.0, 1L)))
  }

  test("a malformed payload fails its task instead of being swallowed") {
    // the reference returns HTTP 400 per bad request (main.go:294-302);
    // here the decode failure surfaces through the query
    import spark.implicits._
    val bad = Seq(Array[Byte](9, 9, 9)).toDF("content")
    intercept[org.apache.spark.SparkException] {
      RemoteWriteStream.decodeFlat(bad).collect()
    }
  }

  test("S1: an RW2 payload's native histograms flatten exactly as the " +
       "same payload's v1 encoding does") {
    import graft.codec.{NativeHist, Prompb2}
    import spark.implicits._
    val up = Seq(PLabel("__name__", "up"), PLabel("job", "t"))
    val lat = Seq(PLabel("__name__", "lat"), PLabel("job", "t"))
    val h = NativeHist.PHistogram(3L, 4.5, 0, 0.0, 1L,
      Seq(NativeHist.BucketSpan(1, 2)), Seq(1L, 0L), Nil, Nil, 123456789000L)
    val v1 = Prompb.encodeWriteRequest(PWriteRequest(Seq(
      PTimeSeries(up, Seq(PSample(1.0, 123456789000L)))))) ++
      NativeHist.encodeWriteRequest(Seq(NativeHist.PHistSeries(lat, Seq(h))))
    val v2 = Prompb2.encodeRequest(Prompb2.P2Request(
      Seq("", "__name__", "up", "job", "t", "lat"),
      Seq(Prompb2.P2TimeSeries(Seq(1, 2, 3, 4), Seq(PSample(1.0, 123456789000L))),
        Prompb2.P2TimeSeries(Seq(1, 5, 3, 4), Nil, histograms = Seq(h)))))
    def flat(decode: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
             wire: Array[Byte]): Seq[String] =
      decode(Seq(Prompb.snappyCompress(wire)).toDF("content"))
        .as[graft.model.Schema.Sample].collect().map(_.toString).toSeq.sorted
    val fromV1 = flat(RemoteWriteStream.decodeFlat, v1)
    // the scalar sample plus lat's classic family: two le buckets, +Inf,
    // _count and _sum
    assert(fromV1.size == 6 && fromV1.count(_.contains("lat_bucket")) == 3)
    assert(flat(RemoteWriteStream.decodeFlatV2, v2) == fromV1)
  }

  test("S11: response edge emits decodable snappy+proto wire bytes") {
    import spark.implicits._
    import graft.compile.Matchers._
    val metrics = WritePipeline.toMetricRows(WritePipeline.dropNonFinite(Seq(
      graft.model.Schema.Sample("m", Map("__name__" -> "m", "k" -> "v"), 1.5, 123456789123L),
      graft.model.Schema.Sample("m", Map("__name__" -> "m", "k" -> "v"), 2.5, 123456799123L)
    ).toDF()))
    val q = PromQuery(123456789123L - 60000, 123456789123L + 60000000, Nil)
    val assembled = ReadPipeline.read(metrics, q, exact = true)
    val resp = Prompb.decodeReadResponse(
      Prompb.snappyUncompress(ResponseEdge.encode(assembled)))
    assert(resp.results.length == 1)
    val ts = resp.results.head.timeseries
    assert(ts.length == 1)
    assert(ts.head.labels.contains(PLabel("__name__", "m")))
    assert(ts.head.labels.contains(PLabel("k", "v")))
    assert(ts.head.samples.length == 2)
    // samples sorted by timestamp, values = the single-sample quantiles
    assert(ts.head.samples.map(_.value) == Seq(1.5, 2.5))
    assert(ts.head.samples.map(_.timestampMs) ==
      ts.head.samples.map(_.timestampMs).sorted)
  }
}
