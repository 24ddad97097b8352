package graft.engine

import graft.codec.XorChunk
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Chunked at-rest tier — the metrics table with samples stored as
  * Gorilla [[XorChunk]]s instead of one row per sample: one row per
  * (date, series) holding the day's time-sorted samples as a single
  * compressed chunk plus its min/max/count metadata. The
  * Thanos/Cortex/Mimir block layout expressed as a parquet table.
  *
  * Why a second tier: at 100 TB the raw row form costs ~16+ bytes a
  * sample BEFORE parquet encodings; the XOR chunk carries dense scrape
  * data at ~2-4 bits. More importantly the READ unit becomes the
  * series-day — a dashboard query for one series touches row-group
  * stats on (name, tags) and decodes only its own chunks, and the
  * response edge can forward chunk bytes VERBATIM into the
  * STREAMED_XOR_CHUNKS wire format (see
  * [[ResponseEdge.encodeChunked]]) without ever materializing samples.
  *
  * Scale shape: chunking is one partial-combined groupBy per
  * (date, series) — the same key the compaction pipeline already
  * shuffles on — then a per-row encode kernel; no driver involvement,
  * no second pass. Decode is the map-side inverse (explode). Chunks
  * are bounded by the uint16 sample cap; a >65k-samples series-day is
  * split at encode.
  *
  * The chunk is EXACT: XOR encoding preserves double bit patterns and
  * timestamps verbatim, so chunk→decode round-trips are bit-identical
  * to the row form — pinned by the a7_chunk_roundtrip entry against
  * the raw-rows oracle.
  *
  * Timestamps encode as MILLISECONDS inside the chunk (ts_sec × 1000 —
  * the store's precision is seconds, reference DateTime) even though
  * the row tier stores seconds: the remote-read STREAMED_XOR_CHUNKS
  * wire format carries ms, so ms-at-rest makes stored chunk bytes
  * forwardable VERBATIM into a response frame — the Thanos
  * store-gateway zero-copy path ([[ResponseEdge.encodeChunkedFromStore]])
  * — at the cost of ×1000 delta-of-deltas (a few bits per irregular
  * sample; regular scrape grids still hit the ~2-bit steady state,
  * pinned by a7_chunk_bytes). The min_ts/max_ts METADATA columns stay
  * in seconds like every other `ts` in the store.
  */
object ChunkStore {

  private val MaxPerChunk = 65535

  case class Pt(t: Long, v: Double)
  case class SeriesDay(date: String, name: String, tags: Seq[String],
                       samples: Seq[Pt])
  case class ChunkRow(date: String, name: String, tags: Seq[String],
                      n_samples: Long, min_ts: Long, max_ts: Long,
                      chunk: Array[Byte])
  case class SampleRow(name: String, tags: Seq[String], ts_sec: Long,
                       value: Double)

  /** Canonical 6-column metric rows → chunked rows
    * (date, name, tags, n_samples, min_ts, max_ts, chunk).
    */
  def toChunked(metrics: DataFrame): DataFrame = {
    val spark = metrics.sparkSession
    import spark.implicits._
    metrics
      .groupBy(col("date"), col("name"), col("tags"))
      .agg(sort_array(collect_list(struct(
        unix_timestamp(col("ts")).as("t"),
        col("val").as("v")))).as("samples"))
      .select(col("date").cast("string").as("date"), col("name"),
        col("tags"), col("samples"))
      .as[SeriesDay]
      .flatMap { sd =>
        sd.samples.grouped(MaxPerChunk).map { grp =>
          ChunkRow(sd.date, sd.name, sd.tags, grp.size.toLong,
            grp.head.t, grp.last.t,
            XorChunk.encode(grp.map(p => (p.t * 1000L, p.v))))
        }
      }
      .toDF()
  }

  /** Chunked rows → canonical sample rows (name, tags, ts_sec, value). */
  def fromChunked(chunked: DataFrame): DataFrame = {
    val spark = chunked.sparkSession
    import spark.implicits._
    chunked
      .select(col("name"), col("tags"), col("chunk"))
      .as[(String, Seq[String], Array[Byte])]
      .flatMap { case (name, tags, chunk) =>
        XorChunk.decode(chunk).map { case (tMs, v) =>
          SampleRow(name, tags, tMs / 1000L, v)
        }
      }
      .toDF()
  }

  case class HBkt(idx: Long, cnt: Long)
  case class HSample(t: Long, count: Long, sum: Double, zero: Long,
                     buckets: Seq[HBkt])
  case class HistSeriesDay(date: String, name: String, tags: Seq[String],
                           samples: Seq[HSample])

  /** NATIVE-HISTOGRAM chunk tier — the [[toChunked]] twin over the
    * sparse histogram store shape (name, tags, ts, h_count, h_sum,
    * h_zero, h_buckets): one row per (date, series) holding the day's
    * time-sorted histograms as a single [[graft.codec.FloatHistChunk]]
    * plus the same min/max/count metadata, with an `encoding` column
    * (= 3, prompb FLOAT_HISTOGRAM): the one stored-chunk forwarder
    * ([[ResponseEdge.encodeChunkedFromStore]]) reads a row's chunk codec
    * from it, and takes XOR for a tier without the column. Same
    * ms-at-rest discipline: stored bytes forward VERBATIM into
    * day-aligned streamed_xor_chunks responses.
    * Same scale shape: one partial-combined groupBy per (date, series),
    * per-row encode kernel, map-side decode inverse.
    */
  def toChunkedHist(histStore: DataFrame): DataFrame = {
    val spark = histStore.sparkSession
    import spark.implicits._
    histStore
      .groupBy(col("date"), col("name"), col("tags"))
      .agg(sort_array(collect_list(struct(
        col("ts").as("t"), col("h_count").as("count"),
        col("h_sum").as("sum"), col("h_zero").as("zero"),
        col("h_buckets").as("buckets")))).as("samples"))
      .select(col("date").cast("string").as("date"), col("name"),
        col("tags"), col("samples"))
      .as[HistSeriesDay]
      .flatMap { sd =>
        sd.samples.grouped(MaxPerChunk).map { grp =>
          val pts = grp.map(h => graft.codec.FloatHistChunk.HPoint(
            h.t * 1000L, h.count.toDouble, h.sum, h.zero.toDouble,
            h.buckets.map(b => (b.idx.toInt, b.cnt.toDouble))))
          (sd.date, sd.name, sd.tags, grp.size.toLong,
            grp.head.t, grp.last.t,
            graft.codec.ChunkedRead.EncodingFloatHistogram,
            graft.codec.FloatHistChunk.encode(pts))
        }
      }
      .toDF("date", "name", "tags", "n_samples", "min_ts", "max_ts",
        "encoding", "chunk")
  }

  /** Chunked hist rows → sparse histogram store rows (name, tags,
    * ts_sec, h_count, h_sum, h_zero, h_buckets). */
  def fromChunkedHist(chunked: DataFrame): DataFrame = {
    val spark = chunked.sparkSession
    import spark.implicits._
    chunked
      .select(col("name"), col("tags"), col("chunk"))
      .as[(String, Seq[String], Array[Byte])]
      .flatMap { case (name, tags, chunk) =>
        graft.codec.FloatHistChunk.decode(chunk)._1.map { p =>
          (name, tags, p.tsMs / 1000L, p.count.toLong, p.sum,
            p.zero.toLong,
            p.buckets.map { case (i, c) => HBkt(i.toLong, c.toLong) })
        }
      }
      .toDF("name", "tags", "ts_sec", "h_count", "h_sum", "h_zero",
        "h_buckets")
  }

  /** Whether the query's inclusive-second range [startMs, endMs] covers
    * whole UTC days — the precondition for forwarding stored series-day
    * chunks verbatim (every sample of every covered chunk is in range).
    */
  def dayAligned(q: graft.compile.Matchers.PromQuery): Boolean =
    q.endMs > q.startMs &&
      q.startMs % 86400000L == 0L && (q.endMs + 1000L) % 86400000L == 0L

  /** Write a chunk tier, date-partitioned like the row tier: metric
    * rows through [[toChunked]], native-histogram store rows (those
    * carrying `h_buckets`) through [[toChunkedHist]]. */
  def write(rows: DataFrame, path: String): Unit =
    (if (rows.columns.contains("h_buckets")) toChunkedHist(rows)
     else toChunked(rows))
      .repartitionByRange(col("date"), col("name"), col("tags"))
      .sortWithinPartitions(col("name"), col("tags"), col("min_ts"))
      .write.mode("overwrite").partitionBy("date").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    fromChunked(spark.read.parquet(path))
}
