package graft.streaming

import graft.codec.Prompb
import graft.engine.WritePipeline
import graft.model.{Schema, Tags}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S1: the remote-write ingest edge — snappy+protobuf payloads decoded and
  * flattened into the engine's canonical sample stream, batch or
  * Structured Streaming (reference: main.go:286-320).
  *
  * The decode is a Dataset flatMap (the one place imperative code is
  * genuinely needed — opaque bytes in, rows out); everything downstream is
  * the declarative WritePipeline. Each payload decodes independently, so
  * the operation is embarrassingly parallel across partitions, and a
  * malformed payload fails only its own task.
  */
object RemoteWriteStream {

  /** Decode a DataFrame carrying snappy+proto `WriteRequest` payloads in a
    * binary `content` column into flat samples
    * (name, labels, value, timestampMs) ≙ `protoToSamples`
    * (reference: main.go:377-394 after the decode at main.go:294-302).
    */
  def decodeFlat(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("content")).as[Array[Byte]].flatMap { bytes =>
      val dec = graft.codec.WriteWire.decode(Prompb.snappyUncompress(bytes))
      flatten(dec.scalars, dec.histograms)
    }.toDF()
  }

  /** [[decodeFlat]] for Remote-Write 2.0 payloads (`io.prometheus.write
    * .v2.Request` — symbol-table interning, see [[graft.codec.Prompb2]]):
    * the v2 edge resolves to the same canonical sample stream, so every
    * downstream stage is protocol-agnostic. A deployment fronting both
    * protocol generations routes on the request's Content-Type
    * (`proto=io.prometheus.write.v2.Request`) to pick the decoder.
    */
  def decodeFlatV2(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("content")).as[Array[Byte]].flatMap { bytes =>
      val req = graft.codec.Prompb2.decodeRequest(Prompb.snappyUncompress(bytes))
      flatten(graft.codec.Prompb2.toV1(req),
        graft.codec.Prompb2.histogramsToV1(req))
    }.toDF()
  }

  /** Scalar samples plus native-histogram series flattened to their
    * classic le view — the same rule as the HTTP front door, so the
    * streaming and serving edges stay interchangeable.
    */
  private def flatten(scalars: Prompb.PWriteRequest,
                      hists: Seq[graft.codec.NativeHist.PHistSeries])
      : Seq[Schema.Sample] =
    for (ts <- scalars.timeseries ++
           hists.flatMap(graft.codec.NativeHist.toClassicSeries);
         s <- ts.samples) yield {
      val labels = ts.labels.map(l => l.name -> l.value).toMap
      Schema.Sample(labels.getOrElse(Schema.MetricNameLabel, ""),
        labels, s.value, s.timestampMs)
    }

  /** Full streaming ingest: watch `inDir` for payload files (each file =
    * one remote-write POST body), decode, filter non-finite, append to the
    * partitioned metrics table. `Trigger.AvailableNow` drains everything
    * pending and stops — the batch-job form of the same pipeline; a
    * production deployment keeps the default continuous micro-batch
    * trigger (and would read from Kafka instead of files, same plan).
    *
    * No watermark by design: the reference accepts any timestamp at any
    * time and delegates out-of-order handling to storage-side versioned
    * dedup (SURVEY §2.4) — our A7 dedupLatest compaction serves that role.
    */
  /** The binaryFile source's fixed schema (streaming requires it spelled
    * out explicitly). Public so callers wiring their own payload streams
    * (e.g. into streamingRollup) reuse it.
    */
  val binaryFilePayloadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))

  /** Streaming windowed pre-aggregation: tumbling `stepSec` windows + avg
    * per series, state bounded by a watermark — the hot rollup tier (A7's
    * 10 s avg) applied AT INGEST instead of as a later compaction pass.
    * The reference has no streaming aggregation (its MergeTree does this
    * in background merges); this is the Spark-native equivalent for
    * pipelines that want the hot tier pre-reduced before it ever lands.
    *
    * Watermark tradeoff is explicit: samples later than `watermarkDelay`
    * are dropped from these windows (they still reach the raw table via
    * ingestStream — the rollup compaction job repairs the tiers), which
    * is what bounds state for an unbounded series universe.
    */
  def streamingRollup(flat: DataFrame, stepSec: Int,
                      watermarkDelay: String): DataFrame =
    flat
      .withColumn("ts", timestamp_millis(col("timestampMs")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        window(col("ts"), s"$stepSec seconds"),
        col("name"),
        Tags.tagsFromLabels(col("labels")).as("tags"))
      .agg(avg(col("value")).as("val"), count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket_start"), col("name"),
        col("tags"), col("val"), col("cnt"))

  /** The 5-aggregate downsampled tier maintained INCREMENTALLY by
    * Structured Streaming — [[graft.engine.Rollup.downsample]]'s exact
    * semantics (fixed-point count/sum/min/max/first/last per
    * (date, series, `windowSec` window), first/last picked by (ts,
    * value) struct order) as a watermarked windowed aggregation, so the
    * tier the serve layer's auto-resolution routing reads can be kept
    * hot by the ingest stream instead of lagging a batch compaction
    * cycle. Timestamps truncate to STORE seconds before bucketing (the
    * canonical second precision, reference DateTime) so the streaming
    * tier is row-identical to the batch tier over the same samples —
    * the entry pins this by sharing a7_downsample_store's oracle.
    *
    * Samples later than `watermarkDelay` are dropped from these windows
    * (they still reach the raw table via [[ingestStream]]; the batch
    * compaction repairs the tier) — the bound that keeps streaming
    * state finite over an unbounded series universe.
    */
  def streamingDownsample(flat: DataFrame, windowSec: Long,
                          watermarkDelay: String): DataFrame = {
    require(windowSec > 0 && 86400L % windowSec == 0,
      "tier windows must divide a day (the Rollup.downsample contract)")
    val tSec = floor(col("timestampMs") / 1000L).cast("long")
    flat
      .withColumn("_tsec", tSec)
      .withColumn("ts", timestamp_seconds(col("_tsec")))
      .withColumn("_vfp", floor(col("value") * 1000000L))
      .withColumn("_pick", struct(col("_tsec").as("t"), col("_vfp").as("v")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        window(col("ts"), s"$windowSec seconds"),
        col("name"),
        Tags.tagsFromLabels(col("labels")).as("tags"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("_vfp")).as("sum_fp"),
        min(col("_vfp")).as("min_fp"),
        max(col("_vfp")).as("max_fp"),
        min(col("_pick")).getField("v").as("first_fp"),
        max(col("_pick")).getField("v").as("last_fp"))
      .select(to_date(col("window.start")).as("date"), col("name"),
        col("tags"),
        unix_timestamp(col("window.start")).as("bucket_ts"),
        col("cnt"), col("sum_fp"), col("min_fp"), col("max_fp"),
        col("first_fp"), col("last_fp"))
  }

  def ingestStream(spark: SparkSession, inDir: String, tablePath: String,
                   checkpointDir: String): StreamingQuery = {
    val decoded = decodeFlat(
      spark.readStream
        .format("binaryFile")
        .schema(binaryFilePayloadSchema)
        .load(inDir))
    // received/ignored counters ride the streaming plan itself (§2.7) and
    // surface per micro-batch in StreamingQueryProgress.observedMetrics.
    graft.engine.Observability.observedIngest(decoded)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // append's range split SAMPLES its input before shuffling — an
        // extra pass over this subtree that would re-fire the observe
        // accumulators (2x counters) and re-decode every payload. Pin
        // the micro-batch once; the sampling job materializes the cache
        // and the write job reads it.
        val pinned = batch.persist()
        try WritePipeline.append(
          WritePipeline.toMetricRows(WritePipeline.dropNonFinite(pinned)),
          tablePath)
        finally { pinned.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
