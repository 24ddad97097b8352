package graft.engine

import graft.codec.{ChunkedRead, FloatHistChunk, Prompb, XorChunk}
import graft.codec.Prompb._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds, to_date}

/** S11: the read-response edge — assembled series collected at the driver
  * and marshalled to the snappy+protobuf `ReadResponse` wire bytes
  * (reference: clickhouse/client.go:212-223 assembly, main.go:359-371
  * marshal+compress).
  *
  * The collect here is CORRECT at scale, not a smell: A1's divStep bounds
  * every series to ≤ 8192 buckets, and the matcher set bounds the series
  * count — the response is the one place the data MUST converge to a
  * single HTTP body. Everything before this point stays distributed.
  */
object ResponseEdge {

  /** Thrown when an assembled read result exceeds the configured series
    * budget — the LOUD alternative to collecting an unbounded
    * match-everything result into driver memory.
    */
  final class SeriesLimitExceeded(val limit: Int)
    extends RuntimeException(
      s"read result exceeds $limit series; narrow the matchers or raise " +
        "--read.max-series")

  /** `df`'s rows, one per series, collected under the `maxSeries`
    * budget: the bound goes INTO the plan as limit(maxSeries + 1), so
    * CollectLimit truncates on the executors before anything reaches the
    * driver; an over-limit (match-everything) result costs one extra row
    * of driver memory and a clean [[SeriesLimitExceeded]], never an OOM.
    * 0 = unlimited.
    */
  def collectBounded(df: DataFrame, maxSeries: Int): Array[Row] = {
    val rows = (if (maxSeries > 0) df.limit(maxSeries + 1) else df).collect()
    if (maxSeries > 0 && rows.length > maxSeries)
      throw new SeriesLimitExceeded(maxSeries)
    rows
  }

  /** tags array → prompb labels. Malformed entries are dropped and empty
    * values are treated as absent labels, the reference's response-edge
    * rule (reference: clickhouse/tagvalue.go:32-49).
    */
  private[engine] def tagsToLabels(tags: Seq[String]): Seq[PLabel] =
    tags.flatMap { t =>
      t.split("=", 2) match {
        case Array(k, v) if v.nonEmpty => Some(PLabel(k, v))
        case _ => None
      }
    }

  /** Assembled-series DataFrame (tags, samples[(t, value)]) → one
    * QueryResult. Series are sorted by tag array for a deterministic wire
    * body (the reference iterates a Go map — nondeterministic; determinism
    * is strictly more testable and costs one small driver-side sort).
    */
  def toQueryResult(assembled: DataFrame): PQueryResult =
    toQueryResult(assembled, 0)

  /** Same, with a series budget ([[collectBounded]]). The A1 divStep
    * already bounds rows per series (≤ 8192 buckets); this bounds the
    * series count, the other axis of the product. 0 = unlimited
    * (embedded/batch callers that own their input).
    */
  def toQueryResult(assembled: DataFrame, maxSeries: Int): PQueryResult = {
    val rows = collectBounded(assembled.select("tags", "samples"), maxSeries)
    val series = rows.map { r =>
      val tags = r.getAs[scala.collection.Seq[String]]("tags").toSeq
      val samples = r.getAs[scala.collection.Seq[Row]]("samples").toSeq
        .map(x => PSample(x.getAs[Double]("value"), x.getAs[Long]("t")))
        .sortBy(_.timestampMs)
      (tags, PTimeSeries(tagsToLabels(tags), samples))
    }.sortBy(_._1.mkString("\u0000")).map(_._2)
    PQueryResult(series.toSeq)
  }

  /** One QueryResult per prompb query, like the reference's per-query loop
    * (reference: clickhouse/client.go:167-211).
    */
  def toReadResponse(assembled: DataFrame): PReadResponse =
    PReadResponse(Seq(toQueryResult(assembled)))

  def toReadResponse(perQuery: Seq[DataFrame]): PReadResponse =
    PReadResponse(perQuery.map(toQueryResult))

  def toReadResponse(perQuery: Seq[DataFrame], maxSeries: Int): PReadResponse =
    PReadResponse(perQuery.map(toQueryResult(_, maxSeries)))

  /** Full wire body: proto marshal + snappy, ready for the HTTP edge. */
  def encode(assembled: DataFrame): Array[Byte] =
    Prompb.snappyCompress(Prompb.encodeReadResponse(toReadResponse(assembled)))

  /** STREAMED_XOR_CHUNKS body answered from an at-rest chunk tier
    * ([[ChunkStore]]) — raw samples, the Prometheus/Thanos remote-read
    * semantic, as opposed to the aggregating [[encodeChunked]] path.
    * One forwarder serves every tier: a row's chunk encoding is its
    * `encoding` column (FLOAT_HISTOGRAM on the native-histogram tier),
    * XOR on a tier without one.
    *
    * Day-aligned queries ([[ChunkStore.dayAligned]]) take the Thanos
    * store-gateway ZERO-COPY path: every covered series-day chunk's
    * samples are in range by construction, so the stored bytes forward
    * VERBATIM into the response frames — no decode, no re-encode, the
    * driver only moves byte arrays (chunks are ms-encoded at rest for
    * exactly this). Misaligned queries fall back to decode → trim to
    * [startMs, endMs] → re-encode per stored chunk ([[trim]]). Because
    * each encoding is a pure function of the sample sequence, the two
    * paths are BYTE-IDENTICAL on aligned queries (`forceReencode` exists
    * so the serve entries can pin that equality over live HTTP).
    *
    * Matchers and the date bounds push into the tier's parquet scan
    * (partition pruning + row-group stats on (name, tags)); the
    * driver-side collect holds chunk rows — compressed, ~2-12 bits a
    * sample — and its series count meets the same `maxSeries` budget as
    * the SAMPLES path. Returns the body plus the per-query path taken
    * ("store" | "reencode"), surfaced as the X-Graft-Chunk-Source
    * header.
    */
  def encodeChunkedFromStore(chunked: DataFrame,
                             queries: Seq[graft.compile.Matchers.PromQuery],
                             maxSeries: Int,
                             forceReencode: Boolean = false,
                             strictCompat: Boolean = false)
      : (Array[Byte], Seq[String]) = {
    def verbatim(q: graft.compile.Matchers.PromQuery): Boolean =
      ChunkStore.dayAligned(q) && !forceReencode
    val encoding =
      if (chunked.columns.contains("encoding")) col("encoding")
      else lit(ChunkedRead.EncodingXor).as("encoding")
    val body = frames(chunked, queries, maxSeries, strictCompat,
        "min_ts", "max_ts",
        Seq(col("min_ts"), col("max_ts"), encoding, col("chunk"))) {
      (q, rows) =>
        // (min_ts, max_ts) ordering is total for non-overlapping
        // chunks of one series (the toChunked grouping guarantees it)
        rows.sortBy(r => (r.getAs[Long]("min_ts"), r.getAs[Long]("max_ts")))
          .flatMap { r =>
            val enc = r.getAs[Int]("encoding")
            val bytes = r.getAs[Array[Byte]]("chunk")
            if (verbatim(q))
              Some(ChunkedRead.PChunk(r.getAs[Long]("min_ts") * 1000L,
                r.getAs[Long]("max_ts") * 1000L, enc, bytes))
            else trim(enc, bytes, q.startMs, q.endMs)
          }
    }
    (body, queries.map(q => if (verbatim(q)) "store" else "reencode"))
  }

  /** One stored chunk decoded, cut to the samples in [loMs, hiMs] and
    * re-encoded in its own encoding; None when no sample is in range.
    */
  private def trim(encoding: Int, bytes: Array[Byte], loMs: Long,
                   hiMs: Long): Option[ChunkedRead.PChunk] =
    encoding match {
      case ChunkedRead.EncodingXor =>
        val pts = XorChunk.decode(bytes).filter(p => p._1 >= loMs && p._1 <= hiMs)
        if (pts.isEmpty) None
        else Some(ChunkedRead.PChunk(pts.head._1, pts.last._1, encoding,
          XorChunk.encode(pts)))
      case ChunkedRead.EncodingFloatHistogram =>
        val (all, schema) = FloatHistChunk.decode(bytes)
        val pts = all.filter(p => p.tsMs >= loMs && p.tsMs <= hiMs)
        if (pts.isEmpty) None
        else Some(ChunkedRead.PChunk(pts.head.tsMs, pts.last.tsMs, encoding,
          FloatHistChunk.encode(pts, schema)))
    }

  /** The per-query loop of every chunk-frame encoder over a stored
    * table: a query's matchers, date partitions and time bound (rows
    * whose [`first`, `last`] seconds meet the query's) push into the
    * scan of `store`; the matched `cols` group per series in the plan,
    * under the `maxSeries` budget ([[collectBounded]]: an over-budget
    * read collects maxSeries + 1 series, not every chunk); each series,
    * in tag order, becomes one frame of the chunks `chunks` makes from
    * its rows (a series with none sends no frame). A read of at most
    * `openCostInBytes` scans as one task ([[ReadPipeline.oneTask]]), so
    * the grouping adds no exchange.
    */
  private def frames(store: DataFrame,
                     queries: Seq[graft.compile.Matchers.PromQuery],
                     maxSeries: Int, strictCompat: Boolean, first: String,
                     last: String, cols: Seq[Column])(
      chunks: (graft.compile.Matchers.PromQuery, Seq[Row]) =>
        Seq[ChunkedRead.PChunk]): Array[Byte] = {
    import graft.compile.Matchers
    import org.apache.spark.sql.functions.{collect_list, struct}
    val out = new java.io.ByteArrayOutputStream()
    queries.zipWithIndex.foreach { case (q, qi) =>
      val sSec = q.startMs / 1000; val eSec = q.endMs / 1000
      val pred = q.matchers.map(Matchers.compileMatcher(_, strictCompat))
        .foldLeft(
          col("date") >= to_date(timestamp_seconds(lit(sSec))) &&
            col("date") <= to_date(timestamp_seconds(lit(eSec))) &&
            col(last) >= sSec && col(first) <= eSec)(_ && _)
      collectBounded(ReadPipeline.oneTask(store, sSec, eSec).getOrElse(store)
          .filter(pred).groupBy(col("tags"))
          .agg(collect_list(struct(cols: _*)).as("rows")), maxSeries)
        .map(r => r.getAs[scala.collection.Seq[String]]("tags").toSeq ->
          r.getAs[scala.collection.Seq[Row]]("rows").toSeq)
        .sortBy(_._1.mkString("\u0000")).foreach { case (tags, rs) =>
          val cs = chunks(q, rs)
          if (cs.nonEmpty)
            out.write(ChunkedRead.frame(ChunkedRead.encodeResponse(
              Seq(ChunkedRead.PChunkedSeries(tagsToLabels(tags), cs)),
              qi.toLong)))
        }
    }
    out.toByteArray
  }

  /** A PromQL grid result (tags, t, value) grouped to ONE row per series
    * — (tags, points[(t, value)] sorted by t) — with the series budget
    * pushed INTO the plan: `limit(maxSeries + 1)` after the per-series
    * grouping means CollectLimit truncates on the executors, so a
    * match-everything query_range over a 100 TB store costs the driver
    * at most maxSeries+1 rows before the 413 fires — never the full
    * (series × grid points) matrix. The grid-point axis is already
    * client-bounded ((end−start)/step + 1); this bounds the OTHER axis,
    * exactly the [[toQueryResult]] discipline applied to the JSON API.
    * 0 = unlimited.
    */
  def boundedSeriesFrame(gridResult: DataFrame, maxSeries: Int): DataFrame = {
    val perSeries = gridResult
      .groupBy(col("tags"))
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct(col("t"), col("value"))))
        .as("points"))
    if (maxSeries > 0) perSeries.limit(maxSeries + 1) else perSeries
  }

  /** Collect [[boundedSeriesFrame]] through [[collectBounded]] (rows.length
    * is at most the bounded maxSeries + 1, not the true series count —
    * the whole point).
    */
  def collectBoundedSeries(gridResult: DataFrame, maxSeries: Int): Array[Row] =
    collectBounded(boundedSeriesFrame(gridResult, 0), maxSeries)

  /** FLOAT_HISTOGRAM frames for native-histogram series at the chunked
    * edge: the hist side table's matched series become framed
    * ChunkedReadResponse messages whose samples ride
    * [[graft.codec.FloatHistChunk]]s (chunk Encoding = 3), the
    * native-histogram twin of [[encodeChunked]] — a native series
    * survives `streamed_xor_chunks` natively instead of answering only
    * through its scalarized le-flatten. Same pushdown and series budget
    * as [[encodeChunkedFromStore]] ([[frames]]).
    */
  def encodeChunkedHist(histStore: DataFrame,
                        queries: Seq[graft.compile.Matchers.PromQuery],
                        maxSeries: Int,
                        maxSamplesPerChunk: Int = 120,
                        strictCompat: Boolean = false): Array[Byte] =
    frames(histStore, queries, maxSeries, strictCompat, "ts", "ts",
        Seq("ts", "h_count", "h_sum", "h_zero", "h_buckets").map(col)) {
      (_, rows) =>
        rows.map { r =>
          FloatHistChunk.HPoint(r.getAs[Long]("ts") * 1000L,
            r.getAs[Long]("h_count").toDouble,
            r.getAs[Double]("h_sum"),
            r.getAs[Long]("h_zero").toDouble,
            r.getAs[scala.collection.Seq[Row]]("h_buckets").toSeq
              .map(b => (b.getInt(0), b.getLong(1).toDouble)))
        }.sortBy(_.tsMs).grouped(maxSamplesPerChunk).map { grp =>
          ChunkedRead.PChunk(grp.head.tsMs, grp.last.tsMs,
            ChunkedRead.EncodingFloatHistogram, FloatHistChunk.encode(grp))
        }.toSeq
    }

  /** STREAMED_XOR_CHUNKS response body: each query's series become
    * framed `ChunkedReadResponse` messages whose samples ride Gorilla
    * [[graft.codec.XorChunk]]s (one frame per series — constant driver
    * memory per frame at real scale, where the SAMPLES form must
    * materialize the whole result; here both forms share the bounded
    * collect because the series budget already applies). Chunks split at
    * `maxSamplesPerChunk` samples, the TSDB's ~120-sample convention.
    * Uncompressed on the wire per the remote-read spec (the chunk data
    * is already Gorilla-compressed).
    */
  def encodeChunked(perQuery: Seq[DataFrame], maxSeries: Int,
                    maxSamplesPerChunk: Int = 120): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    perQuery.zipWithIndex.foreach { case (assembled, qi) =>
      toQueryResult(assembled, maxSeries).timeseries.foreach { ts =>
        val chunks = ts.samples.grouped(maxSamplesPerChunk).map { grp =>
          ChunkedRead.PChunk(grp.head.timestampMs, grp.last.timestampMs,
            ChunkedRead.EncodingXor,
            XorChunk.encode(grp.map(s => (s.timestampMs, s.value))))
        }.toSeq
        out.write(ChunkedRead.frame(ChunkedRead.encodeResponse(
          Seq(ChunkedRead.PChunkedSeries(ts.labels, chunks)), qi.toLong)))
      }
    }
    out.toByteArray
  }
}
