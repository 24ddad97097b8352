package graft

import graft.streaming.DeltaToCumulative
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** OTLP delta→cumulative conversion: running sum per series, reset on a
  * staleness gap, out-of-order drops — streaming and batch forms agree,
  * and the live /otlp receiver applies the same rules when opted in.
  */
class DeltaToCumulativeSpec extends SparkSpec {
  import spark.implicits._

  test("streaming: runs accumulate across micro-batches, a gap over " +
      "maxStale resets, out-of-order points drop") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val ckpt = Files.createTempDirectory("graft_d2c").toString
    val q = DeltaToCumulative.statefulCumulate(
        input.toDF.toDF("series", "ts", "value"), maxStaleMs = 10000L)
      .writeStream.format("memory").queryName("d2c_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    input.addData(("a", 1000L, 5.0), ("a", 3000L, 2.0), ("b", 1000L, 1.0))
    q.processAllAvailable()
    // cross-batch continuation (gap 7s ≤ 10s) + an out-of-order point
    input.addData(("a", 10000L, 3.0), ("a", 2000L, 99.0))
    q.processAllAvailable()
    // gap 25s > 10s: the run resets to the new delta's own value
    input.addData(("a", 35000L, 4.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("d2c_out")
      .as[(String, Long, Double)].collect().toSeq.sorted
    assert(got == Seq(
      ("a", 1000L, 5.0), ("a", 3000L, 7.0), ("a", 10000L, 10.0),
      ("a", 35000L, 4.0), ("b", 1000L, 1.0)))
  }

  test("exp-histogram twins: per-bucket cumulation, gap reset, " +
      "duplicate-ts tiebreak — batch and streaming agree") {
    val rows = Seq(
      // series a: two chained points, then a >10s gap restarts the run
      ("a", 1000L, 3L, 10.0, 1L, Map(1 -> 2L)),
      ("a", 3000L, 4L, 20.0, 0L, Map(1 -> 1L, 3 -> 3L)),
      ("a", 35000L, 2L, 5.0, 0L, Map(2 -> 2L)),
      // duplicate ts on series b: the smaller (count, sum) wins
      ("b", 1000L, 1L, 1.0, 0L, Map(5 -> 1L)),
      ("b", 1000L, 9L, 9.0, 0L, Map(5 -> 9L)))
    val df = rows.toDF("series", "ts", "count", "sum", "zero", "buckets")
    val batch = DeltaToCumulative.convertBatchExpHist(df, 10000L)
      .select(col("series"), col("ts"), col("count"), col("sum"),
        col("zero"), explode(col("buckets")))
      .as[(String, Long, Long, Double, Long, Int, Long)]
      .collect().toSeq.sorted
    assert(batch == Seq(
      ("a", 1000L, 3L, 10.0, 1L, 1, 2L),
      ("a", 3000L, 7L, 30.0, 1L, 1, 3L),
      ("a", 3000L, 7L, 30.0, 1L, 3, 3L),
      ("a", 35000L, 2L, 5.0, 0L, 2, 2L),
      ("b", 1000L, 1L, 1.0, 0L, 5, 1L)))
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, Double, Long,
      Map[Int, Long])]
    val ckpt = Files.createTempDirectory("graft_d2ch").toString
    val q = DeltaToCumulative.statefulCumulateExpHist(
        input.toDF.toDF("series", "ts", "count", "sum", "zero",
          "buckets"), maxStaleMs = 10000L)
      .writeStream.format("memory").queryName("d2ch_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    input.addData(rows.take(2).map(r =>
      (r._1, r._2, r._3, r._4, r._5, r._6)): _*)
    q.processAllAvailable()
    input.addData(rows.drop(2).map(r =>
      (r._1, r._2, r._3, r._4, r._5, r._6)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("d2ch_out")
      .select(col("series"), col("ts"), col("count"), col("sum"),
        col("zero"), explode(col("buckets")))
      .as[(String, Long, Long, Double, Long, Int, Long)]
      .collect().toSeq.sorted
    assert(streamed == batch)
  }

  test("batch twin matches the streaming contract on the same input") {
    val deltas = Seq(
      ("a", 1000L, 5.0), ("a", 3000L, 2.0), ("a", 10000L, 3.0),
      ("a", 35000L, 4.0), ("b", 1000L, 1.0),
      // duplicate ts: first kept, later dropped (out-of-order rule)
      ("b", 1000L, 50.0))
      .toDF("series", "ts", "value")
    val got = DeltaToCumulative.convertBatch(deltas, maxStaleMs = 10000L)
      .as[(String, Long, Double)].collect().toSeq.sorted
    assert(got == Seq(
      ("a", 1000L, 5.0), ("a", 3000L, 7.0), ("a", 10000L, 10.0),
      ("a", 35000L, 4.0), ("b", 1000L, 1.0)))
  }

  test("seeded differential: streaming (arbitrary micro-batch splits) " +
      "equals the batch twin on random inputs with gaps, dups and ooo") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    (0 until 5).foreach { trial =>
      // random per-series walks whose gaps straddle the stale window;
      // values incl. zero and fractional (dup/ooo rules are pinned by
      // the fixed tests above — with differing values their winner is
      // tie-broken arbitrarily in the batch form, so the differential
      // keeps per-series timestamps strictly increasing)
      val rows = (0 until 4).flatMap { s =>
        var t = 1000L
        (0 until 30).map { _ =>
          t += (rnd.nextInt(20) + 1) * 1000L // 1-20s steps, stale=8s
          (s"s$s", t, rnd.nextInt(50) / 4.0)
        }
      }
      val batch = DeltaToCumulative.convertBatch(
          rows.toDF("series", "ts", "value"), maxStaleMs = 8000L)
        .as[(String, Long, Double)].collect().toSeq.sorted
      // stream the SAME rows in time order, split at random points —
      // cross-batch state must reproduce the batch islands exactly
      val input = MemoryStream[(String, Long, Double)]
      val ckpt = Files.createTempDirectory(s"graft_d2cd$trial").toString
      val q = DeltaToCumulative.statefulCumulate(
          input.toDF.toDF("series", "ts", "value"), maxStaleMs = 8000L)
        .writeStream.format("memory").queryName(s"d2cd_$trial")
        .outputMode("append").option("checkpointLocation", ckpt)
        .start()
      val ordered = rows.sortBy(r => (r._2, r._1))
      var rest = ordered
      while (rest.nonEmpty) {
        val n = math.min(rest.size, rnd.nextInt(40) + 1)
        input.addData(rest.take(n))
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      q.stop()
      val streamed = spark.table(s"d2cd_$trial")
        .as[(String, Long, Double)].collect().toSeq.sorted
      assert(streamed == batch, s"trial $trial diverged")
    }
  }

  test("live /otlp receiver: delta sums skip by default, convert with " +
      "the flag on — running level across POSTs, reset past max stale") {
    import graft.codec.{Otlp, Prompb}
    def post(port: Int, body: Array[Byte]): Int = {
      val conn = java.net.URI.create(s"http://localhost:$port/otlp/v1/metrics")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/x-protobuf")
      conn.setDoOutput(true)
      conn.getOutputStream.write(body)
      val code = conn.getResponseCode
      conn.disconnect()
      code
    }
    def deltaReqN(name: String, pts: (Long, Double)*): Array[Byte] =
      Otlp.encodeSumRequest(Seq("job" -> "j"),
        pts.map { case (tsMs, v) =>
          (name, Seq("k" -> "v"), tsMs * 1000000L, v)
        }, temporality = 1)
    def deltaReq(pts: (Long, Double)*): Array[Byte] =
      deltaReqN("reqs", pts: _*)

    // default: delta sums are skipped structurally (nothing lands)
    val t0 = Files.createTempDirectory("graft_od0").toString + "/metrics"
    val s0 = new graft.serve.Server(spark, t0).start()
    try {
      assert(post(s0.boundPort, deltaReq(1000L -> 5.0)) == 200)
      val p0 = java.nio.file.Paths.get(t0)
      val landed = java.nio.file.Files.exists(p0) && {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p0).iterator().asScala
          .exists(_.toString.endsWith(".parquet"))
      }
      assert(!landed, "delta sums must be skipped when the flag is off")
    } finally s0.stop()

    // opted in: levels accumulate ACROSS posts, gap resets the run
    val t1 = Files.createTempDirectory("graft_od1").toString + "/metrics"
    val s1 = new graft.serve.Server(spark, t1,
      otlpConvertDelta = true, otlpDeltaMaxStaleMs = 10000L).start()
    try {
      // deterministic wall clock: eviction is on RECEIPT time, so the
      // test drives it explicitly instead of sleeping
      var wallNow = 1000000L
      s1.deltaWallClock = () => wallNow
      assert(post(s1.boundPort, deltaReq(1000L -> 5.0, 3000L -> 2.0)) == 200)
      // a second series that then goes quiet forever
      assert(post(s1.boundPort, deltaReqN("bdel", 1000L -> 7.0)) == 200)
      assert(post(s1.boundPort, deltaReq(10000L -> 3.0)) == 200)  // continue
      assert(post(s1.boundPort, deltaReq(2000L -> 99.0)) == 200)  // ooo: drop
      assert(post(s1.boundPort, deltaReq(35000L -> 4.0)) == 200)  // reset
      val got = spark.read.parquet(t1)
        .filter(col("name") === "reqs")
        .select(unix_millis(col("ts")).as("ts"), col("val"))
        .as[(Long, Double)].collect().toSeq.sorted
      assert(got == Seq(1000L -> 5.0, 3000L -> 7.0, 10000L -> 10.0,
        35000L -> 4.0))
      // a lagging-but-live exporter is safe: bdel's SAMPLE clock is 34 s
      // behind reqs', yet its state survives because eviction is on its
      // own wall-clock receipt staleness, not other series' timestamps
      assert(s1.deltaRuns.size == 2)
      // once bdel stops POSTING for the staleness window, its run is
      // pure leak — the next conversion sweeps it
      wallNow += 11000L
      assert(post(s1.boundPort, deltaReq(36000L -> 1.0)) == 200)
      assert(s1.deltaRuns.size == 1)
      assert(!s1.deltaRuns.keySet().iterator().next().contains("bdel"))
      // a CUMULATIVE sum in the same request still ingests as-is
      assert(post(s1.boundPort, Otlp.encodeSumRequest(Seq("job" -> "j"),
        Seq(("other", Seq("k" -> "v"), 50000L * 1000000L, 77.0)),
        temporality = 2)) == 200)
      assert(spark.read.parquet(t1).filter(col("name") === "other")
        .select(col("val")).as[Double].collect().toSeq == Seq(77.0))
    } finally s1.stop()
  }

  /** POST one OTLP body to a live receiver's /otlp/v1/metrics. */
  private def postOtlp(port: Int, body: Array[Byte]): Int = {
    val conn = java.net.URI.create(s"http://localhost:$port/otlp/v1/metrics")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/x-protobuf")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body)
    val code = conn.getResponseCode
    conn.disconnect()
    code
  }

  test("live /otlp receiver: one request's delta points cumulate in time " +
      "order and a duplicate timestamp keeps the smallest value — the " +
      "stream's answer for the same points") {
    import graft.codec.Otlp
    val t = Files.createTempDirectory("graft_od2").toString + "/metrics"
    val server = new graft.serve.Server(spark, t,
      otlpConvertDelta = true, otlpDeltaMaxStaleMs = 10000L).start()
    // arrival order: reqs 3000 ms before 1000 ms; dup twice at 5000 ms
    val points = Seq(("reqs", 3000L, 2.0), ("reqs", 1000L, 5.0),
      ("dup", 5000L, 9.0), ("dup", 5000L, 2.0), ("dup", 6000L, 1.0))
    try {
      assert(postOtlp(server.boundPort, Otlp.encodeSumRequest(Seq("job" -> "j"),
        points.map { case (n, ms, v) => (n, Seq("k" -> "v"), ms * 1000000L, v) },
        temporality = 1)) == 200)
      val stored = spark.read.parquet(t)
        .select(col("name"), unix_millis(col("ts")).as("ts"), col("val"))
        .as[(String, Long, Double)].collect().toSeq.sorted
      assert(stored == Seq(("dup", 5000L, 2.0), ("dup", 6000L, 3.0),
        ("reqs", 1000L, 5.0), ("reqs", 3000L, 7.0)))
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Long, Double)]
      val q = DeltaToCumulative.statefulCumulate(
          input.toDF.toDF("series", "ts", "value"), maxStaleMs = 10000L)
        .writeStream.format("memory").queryName("d2c_order")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_d2co").toString)
        .start()
      input.addData(points)
      q.processAllAvailable()
      q.stop()
      assert(spark.table("d2c_order").as[(String, Long, Double)].collect()
        .toSeq.sorted == stored)
    } finally server.stop()
  }

  test("live /otlp receiver: one request's exp-histogram deltas cumulate " +
      "in time order and a duplicate timestamp keeps the smallest " +
      "(count, sum)") {
    import graft.codec.Otlp
    val t = Files.createTempDirectory("graft_od3").toString + "/metrics"
    val server = new graft.serve.Server(spark, t,
      otlpConvertDelta = true, otlpDeltaMaxStaleMs = 10000L).start()
    def pt(ms: Long, count: Long, sum: Double, zero: Long, off: Int,
           counts: Long*) =
      (Seq("k" -> "v"), ms * 1000000L, count, sum, 0, zero, off, counts.toSeq)
    try {
      // lat arrives 3000 ms before 1000 ms; dlat twice at 5000 ms
      assert(postOtlp(server.boundPort, Otlp.encodeExpHistogramRequest(
        Seq("job" -> "j"), "lat", Seq(pt(3000L, 4L, 20.0, 0L, 1, 1L, 0L, 3L),
          pt(1000L, 3L, 10.0, 1L, 1, 2L)), temporality = 1)) == 200)
      assert(postOtlp(server.boundPort, Otlp.encodeExpHistogramRequest(
        Seq("job" -> "j"), "dlat", Seq(pt(5000L, 9L, 9.0, 0L, 0, 9L),
          pt(5000L, 1L, 1.0, 0L, 0, 1L), pt(6000L, 2L, 4.0, 0L, 0, 2L)),
        temporality = 1)) == 200)
      // the native side table, buckets at the OTLP index + 1
      val stored = spark.read.parquet(t + "_hist")
        .select(col("name"), col("ts"), col("h_count"), col("h_sum"),
          col("h_zero"), explode(col("h_buckets")).as("b"))
        .select(col("name"), col("ts"), col("h_count"), col("h_sum"),
          col("h_zero"), col("b.idx"), col("b.cnt"))
        .as[(String, Long, Long, Double, Long, Long, Long)]
        .collect().toSeq.sorted
      assert(stored == Seq(
        ("dlat", 5L, 1L, 1.0, 0L, 1L, 1L),
        ("dlat", 6L, 3L, 5.0, 0L, 1L, 3L),
        ("lat", 1L, 3L, 10.0, 1L, 2L, 2L),
        ("lat", 3L, 7L, 30.0, 1L, 2L, 3L),
        ("lat", 3L, 7L, 30.0, 1L, 4L, 3L)))
    } finally server.stop()
  }
}
