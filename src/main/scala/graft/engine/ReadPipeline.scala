package graft.engine

import graft.compile.Matchers
import graft.compile.Matchers.PromQuery
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** The remote-read query pipeline (SURVEY §2.3 A1-A6).
  *
  * Reference lifecycle: matchers → SQL string → ClickHouse executes
  * filter + bucket + quantile group-agg → driver re-groups rows into series
  * (reference: clickhouse/client.go:161-223, clickhouse/query.go:32-127).
  *
  * Here the whole thing is one declarative Spark plan:
  *   filter(pushdown) → groupBy(bucket, name, tags) → agg → window-regroup.
  * At scale: the single shuffle is on (t, name, tags) — high-cardinality and
  * uniform (series id × time bucket), so it spreads evenly across executors;
  * the matcher + time filters sit below it and reach the parquet scan.
  * A read whose selected parquet is smaller than what Spark counts for
  * opening one file ([[oneTask]]) runs as one task instead: one partition
  * satisfies every clustered distribution, so the plan has no exchange
  * and the read is one job.
  * Every write batch is its own (name, tags, ts)-sorted row group, also
  * once commit files are concatenated ([[Admin.mergeCommitFiles]]), so
  * the scan skips row groups by their `name`/`ts` statistics.
  */
object ReadPipeline {

  /** A1-A4: time-bucketed quantile aggregation.
    *
    * Output mirrors the reference SELECT list: one row per
    * (bucket, name, tags) with `cnt` (A3 — computed and then discarded by
    * the reference, kept for shape parity), `t` = bucket start in epoch ms,
    * and `value` = 0.75-quantile of samples in the bucket
    * (reference: clickhouse/query.go:17,125).
    *
    * @param exact use exact `percentile` (deterministic; oracle mode) vs
    *              `percentile_approx` (the 100 TB path — fixed-size sketch
    *              per group, mergeable map-side). ClickHouse `quantile` is
    *              itself approximate+nondeterministic (reservoir ~8192), so
    *              approximate is the faithful DEFAULT; exact buffers every
    *              value of a (bucket, series) group on the heap and is only
    *              for oracle runs, which pass `exact = true` explicitly.
    *
    * No ORDER BY here: the reference's `ORDER BY t` exists only because its
    * driver-side loop consumes rows in arrival order
    * (reference: clickhouse/client.go:183-209). In Spark a trailing sort is
    * a full range-exchange that every downstream consumer (assembleSeries,
    * mergeDedup) immediately destroys by re-shuffling — ordering belongs at
    * the response edge (sort_array over the ≤8192-bucket per-series lists).
    */
  def bucketAgg(metrics: DataFrame, q: PromQuery,
                exact: Boolean = false, strictCompat: Boolean = false): DataFrame = {
    val bucket = bucketMs(q, strictCompat)
    val quant =
      if (exact) percentile(col("val"), lit(Matchers.Quantile))
      else percentile_approx(col("val"), lit(Matchers.Quantile), lit(Matchers.MaxSample.toInt))
    oneTask(metrics, q.startMs / 1000, q.endMs / 1000).getOrElse(metrics)
      .filter(Matchers.compile(q, strictCompat))
      .groupBy(bucket.as("t"), col("name"), col("tags"))
      .agg(count(lit(1)).as("cnt"), quant.as("value"))
  }

  /** `source` under `coalesce(1)` when the parquet a read of epoch
    * seconds [loSec, hiSec] can select is at most
    * `spark.sql.files.openCostInBytes`: Spark counts opening one file as
    * that many scanned bytes, so a smaller read cannot pay for a second
    * task, a shuffle and a stage. The bytes are those of the files under
    * the `date=` directories the window selects, in the session time zone
    * (a relation without a `date` partition counts every file), summed
    * from the file index the relation already listed. `None`, for today's
    * plan, above the bound or when a leaf of `source` is not a file
    * relation. The filters above the coalesce still push into the scan.
    * The read-side twin of [[WritePipeline.rangeWidth]].
    */
  def oneTask(source: DataFrame, loSec: Long, hiSec: Long): Option[DataFrame] = {
    val conf = source.sparkSession.conf
    val bound = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.files.openCostInBytes"))
    val zone = java.time.ZoneId.of(conf.get("spark.sql.session.timeZone"))
    def day(sec: Long): Long =
      java.time.Instant.ofEpochSecond(sec).atZone(zone).toLocalDate.toEpochDay
    val (lo, hi) = (day(loSec), day(hiSec))
    val leaves = source.queryExecution.analyzed.collectLeaves().map {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation =>
          val date = fs.partitionSchema.fields
            .indexWhere(f => f.name == "date" && f.dataType == DateType)
          def selected(v: InternalRow) = date < 0 || v.isNullAt(date) ||
            (lo <= v.getInt(date) && v.getInt(date) <= hi)
          Some(fs.location.listFiles(Nil, Nil).iterator
            .filter(d => selected(d.values))
            .map(_.files.iterator.map(_.getLen).sum).sum)
        case _ => None
      }
      case _ => None
    }
    if (leaves.forall(_.isDefined) && leaves.flatten.sum <= bound)
      Some(source.coalesce(1))
    else None
  }

  /** The query's time-bucket start in epoch ms, from a `ts` column —
    * shared by bucketAgg and anything that needs to re-derive bucket
    * membership (e.g. the approx-quantile self-validation entry).
    */
  def bucketMs(q: PromQuery, strictCompat: Boolean = false)
      : org.apache.spark.sql.Column = {
    val step = Matchers.divStep(q, strictCompat)
    (floor(unix_timestamp(col("ts")) / step) * step * 1000).cast("long")
  }

  /** A5 series re-assembly: bucket-agg rows → one row per series with its
    * time-ordered samples, the shape of a prompb.TimeSeries
    * (reference: clickhouse/client.go:181-223 does this in a driver-side
    * map keyed on join(tags, 0xff)).
    *
    * Distributed version: groupBy the tag array itself; `sort_array` on
    * struct(t, value) sorts lexicographically = by t first, restoring
    * ORDER BY t without a global sort.
    */
  def assembleSeries(bucketed: DataFrame): DataFrame =
    bucketed
      .groupBy(col("tags"))
      .agg(
        first(col("name")).as("name"),
        sort_array(collect_list(struct(col("t"), col("value")))).as("samples"))
      .select(col("name"), col("tags"), col("samples"))

  /** Full read: filter → bucket agg → series assembly.
    *
    * @param bucketTransform applied to the bucket-agg rows (t, name,
    *        tags, cnt, value) before series assembly — the hook the
    *        serve layer's dashboard downsampling plugs into (its
    *        reduction keys on the same series tags as the assembly, so
    *        the transform adds at most one aggregate-sized exchange)
    */
  def read(metrics: DataFrame, q: PromQuery,
           exact: Boolean = false, strictCompat: Boolean = false,
           bucketTransform: DataFrame => DataFrame = identity): DataFrame =
    assembleSeries(bucketTransform(bucketAgg(metrics, q, exact, strictCompat)))

  /** Min-max downsampling of bucket-agg rows for dashboard reads: per
    * (series, `stepSec` grid cell) keep only the extreme points —
    * argmin/argmax by value over the cell, ties earliest-min /
    * latest-max (the ts_minmax convention). Retained points keep their
    * ORIGINAL (t, value) — the reduction drops rows, never rewrites
    * samples — so a dashboard zoom-in re-query at a finer step refines
    * the same series. One partial-combined struct-min/max aggregate on
    * (tags, cell); a cell whose min and max coincide emits one row.
    */
  def minmaxDownsample(bucketed: DataFrame, stepSec: Long): DataFrame = {
    require(stepSec > 0)
    val cell = floor(col("t") / lit(stepSec * 1000)).cast("long")
    bucketed
      .groupBy(col("tags"), cell.as("_cell"))
      .agg(first(col("name")).as("name"),
        count(lit(1)).as("cnt"),
        min(struct(col("value"), col("t"))).as("_lo"),
        max(struct(col("value"), col("t"))).as("_hi"))
      .select(col("tags"), col("name"), col("cnt"),
        explode(array_distinct(array(
          struct(col("_lo.t").as("t"), col("_lo.value").as("value")),
          struct(col("_hi.t").as("t"), col("_hi.value").as("value")))))
          .as("_p"))
      .select(col("_p.t").as("t"), col("name"), col("tags"), col("cnt"),
        col("_p.value").as("value"))
  }

  /** LTTB downsampling of bucket-agg rows for dashboard reads: each
    * series reduced to `nOut` shape-preserving points (Steinarsson's
    * Largest-Triangle-Three-Buckets via [[graft.operators.TimeSeriesOps
    * .lttb]]). The selection runs on fixed-point values; the selected
    * (series, t) keys then join BACK to the original bucket rows so
    * retained points keep their exact (t, value) — like
    * [[minmaxDownsample]], the reduction drops rows, never rewrites
    * samples. The join is an aggregate-sized equi-join on the same
    * series key the assembly groups by.
    */
  def lttbDownsample(bucketed: DataFrame, nOut: Int): DataFrame = {
    val sel = graft.operators.TimeSeriesOps
      .lttb(bucketed.withColumn("_tsec", (col("t") / 1000).cast("long")),
        Seq("tags"), "_tsec", "value", nOut)
      .select(col("tags"), (col("ts") * 1000).as("t"))
    bucketed.join(sel, Seq("tags", "t"))
  }

  /** Multi-reader read — the reference's own unimplemented TODO
    * (reference: main.go:344-348 returns 500 unless exactly one reader
    * is configured; "TODO: Support multiple queriers"): fan the query
    * out to every reader, bucket-aggregate each independently, and
    * A6-merge the bucket rows FIRST-WINS by reader order (argument
    * order = priority, the reference's merge convention) before series
    * assembly — a series present in several backends assembles once,
    * each (series, bucket) sample taken from the highest-priority
    * reader that has it.
    *
    * Scale shape: each reader's filter/agg pushes down into its own
    * scan; the merge window and the assembly groupBy both key on the
    * series tags, so the extra exchange the merge adds is the only new
    * cost over the single-reader path (which this degrades to at
    * size 1, window-free).
    */
  def readMulti(readers: Seq[DataFrame], q: PromQuery,
                exact: Boolean = false, strictCompat: Boolean = false,
                bucketTransform: DataFrame => DataFrame = identity): DataFrame = {
    require(readers.nonEmpty, "need at least one reader")
    if (readers.sizeIs == 1) read(readers.head, q, exact, strictCompat,
      bucketTransform)
    else assembleSeries(bucketTransform(mergeDedup(
      readers.map(bucketAgg(_, q, exact, strictCompat)), tsCol = "t")))
  }

  /** Bucket rows answered from a 5-aggregate downsampled tier
    * ([[graft.engine.Rollup.downsample]] output: date, name, tags,
    * bucket_ts, cnt, sum_fp, min_fp, max_fp, first_fp, last_fp) instead
    * of raw samples — the read side of the auto-resolution route
    * (reference: README.md:64-87 gets this transparently from
    * GraphiteMergeTree's rollup; here the tier is explicit and the
    * router is [[Rollup.chooseResolution]]).
    *
    * Semantics: whole tier buckets whose START lies in the query range,
    * re-aggregated onto the `outSec` response grid (`outSec` must be a
    * multiple of the tier window so sums of sums are the raw sums —
    * enforced). Response value is the fixed-point-exact AVG
    * (floor(Σsum_fp/Σcnt)/1e-6) — the aggregate the reference's own
    * rollup serves for aged data (graphite_rollup avg, README.md:79-84)
    * and the one a 5-agg tier re-aggregates exactly; the raw path's
    * 0.75-quantile is not recoverable from any fixed-size tier.
    * Output shape matches [[bucketAgg]] (t, name, tags, cnt, value), so
    * downstream transforms (minmax/LTTB) and [[assembleSeries]] compose
    * unchanged.
    *
    * Scale shape: the tier scan reads ~rangeSec/tierSec rows per series
    * instead of every raw sample (a 1-year panel over the 1 h tier:
    * ~8.8 k rows/series vs millions); matcher + time filters push into
    * the tier's parquet scan and its `date` partitioning prunes
    * directories exactly like the raw store's.
    */
  def tierBucketAgg(tier: DataFrame, q: PromQuery, tierSec: Long,
                    outSec: Long): DataFrame = {
    require(outSec > 0 && outSec % tierSec == 0,
      s"response step ${outSec}s must be a multiple of the tier window " +
        s"${tierSec}s for exact re-aggregation")
    val t = (floor(col("bucket_ts") / outSec) * outSec * 1000).cast("long")
    tier
      .withColumn("ts", timestamp_seconds(col("bucket_ts")))
      .filter(Matchers.compile(q))
      .groupBy(t.as("t"), col("name"), col("tags"))
      .agg(sum(col("cnt")).as("cnt"),
        (floor(sum(col("sum_fp")) / sum(col("cnt"))) / 1e6).as("value"))
  }

  /** A6 sorted merge + dedup across result sets (the reference's k-way merge
    * for multi-query InfluxDB reads, first-wins on duplicate timestamps —
    * reference: influxdb/client.go:194-215,287-308).
    *
    * Inputs carry a `src` priority column (lower wins, = argument order in
    * the reference's merge). Distributed as: union → per-(series, ts) window
    * rank → keep rank 1. The window shuffle partitions by series, which is
    * the same key as the surrounding read — AQE coalesces the exchanges.
    *
    * Partitions by the tags ARRAY itself, not a joined scalar key: the
    * reference's 0xFF byte separator is collision-free in raw bytes
    * (influxdb/client.go:218-220) but its char equivalent U+00FF is a legal
    * label-value character, so a joined string key could collide. Arrays
    * hash/compare element-wise — no separator needed.
    */
  def mergeDedup(results: Seq[DataFrame], seriesCol: String = "tags",
                 tsCol: String = "ts"): DataFrame = {
    require(results.nonEmpty)
    val tagged = results.zipWithIndex.map { case (df, i) =>
      df.withColumn("src", lit(i))
    }
    val unioned = tagged.reduce(_ unionByName _)
    val w = Window.partitionBy(col(seriesCol), col(tsCol)).orderBy(col("src"))
    unioned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "src")
  }
}
