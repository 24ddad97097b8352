package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A7: the storage-level behaviors the reference delegates to
  * GraphiteMergeTree — tiered rollup retention and version dedup
  * (reference: README.md:64-87, clickhouse/sqlscripts/0001-create-table.sql:8-13).
  *
  * In Spark these are explicit batch jobs over the partitioned metrics
  * table. Both are per-`date`-partition recomputations — idempotent, so a
  * replayed batch (at-least-once ingest) converges to the same state.
  */
object Rollup {

  /** Retention tiers from the reference's graphite_rollup policy
    * (reference: README.md:71-85): (maxAgeSeconds-exclusive, precision).
    */
  val Tiers: Seq[(Long, Long)] = Seq((86400L, 10L), (172800L, 30L))
  val OldestPrecision: Long = 300L

  /** Bucket precision for a row's age relative to `nowSec`:
    * avg @ 10 s (< 1 d), 30 s (< 2 d), 300 s (older).
    */
  def precisionFor(nowSec: Long): org.apache.spark.sql.Column = {
    val age = lit(nowSec) - unix_timestamp(col("ts"))
    Tiers.foldRight(lit(OldestPrecision)) { case ((maxAge, prec), rest) =>
      when(age < maxAge, lit(prec)).otherwise(rest)
    }
  }

  /** Tiered compaction: avg per (name, tags, tier-aligned bucket).
    * The shuffle key is the series id × bucket — the same partitioning the
    * read path uses, so compacted data stays co-located.
    */
  def rollup(metrics: DataFrame, nowSec: Long): DataFrame = {
    val prec = precisionFor(nowSec)
    val bucket = (floor(unix_timestamp(col("ts")) / prec) * prec).cast("long")
    metrics
      .groupBy(col("name"), col("tags"),
        bucket.as("bucket_ts"), prec.as("precision"))
      .agg(avg(col("val")).as("val"), count(lit(1)).as("cnt"),
        max(col("updated")).as("updated"))
  }

  /** Re-aggregatable downsampled tier — the Thanos/Cortex 5-aggregate
    * block model, extending the reference's avg-only graphite_rollup
    * (README.md:71-85): per (date, series, `windowSec` window) keep
    * count / sum / min / max / first / last, so ANY downstream
    * re-aggregation (avg = Σsum/Σcnt, min of mins, max of maxes, rate
    * from firsts/lasts) is EXACT over coarser grids — an avg-only tier
    * can answer avg and nothing else. Values in 1e-6 fixed point so
    * re-aggregation is integer-exact; first/last pick deterministically
    * by (ts, value) struct ordering.
    *
    * Scale: this is the tier 100 TB dashboards actually read — a 1-year
    * panel over the 1 h tier scans ~8.8 k rows/series instead of the raw
    * stream. One partial-combined shuffle on (date, series, window); the
    * output keeps the store's date-partitioned layout, so reads prune
    * identically.
    */
  def downsample(metrics: DataFrame, windowSec: Long): DataFrame = {
    require(windowSec > 0)
    // grouping includes `date` (to keep the store's partitioned layout);
    // a window straddling midnight would split one bucket_ts across two
    // dates and corrupt per-bucket first/last/min/max — only day-divisor
    // windows are well-defined (the tiers actually used: 300 s, 3600 s)
    require(86400L % windowSec == 0,
      s"downsample window ${windowSec}s must divide 86400 (a day): " +
        "non-divisor windows straddle the date partition boundary")
    val t = unix_timestamp(col("ts"))
    val bucket = (floor(t / windowSec) * windowSec).cast("long")
    val vfp = floor(col("val") * 1000000L)
    val pick = struct(t.as("t"), vfp.as("v"))
    metrics
      .withColumn("_pick", pick)
      .groupBy(col("date"), col("name"), col("tags"),
        bucket.as("bucket_ts"))
      .agg(count(lit(1)).as("cnt"),
        sum(vfp).as("sum_fp"),
        min(vfp).as("min_fp"),
        max(vfp).as("max_fp"),
        min(col("_pick")).getField("v").as("first_fp"),
        max(col("_pick")).getField("v").as("last_fp"))
  }

  /** NATIVE-HISTOGRAM downsampled tier — the 5-aggregate tier's sibling
    * for histogram-valued series, so a long-range latency panel reads
    * merged-bucket tier rows instead of one row per scrape: per
    * (date, series, `windowSec` window) the per-interval histograms
    * merge under the sparse-bucket sum (count/sum/zero added, bucket
    * maps unioned per index — the same algebra PromQL's
    * `sum(rate(h[w]))` aggregation uses cross-series, applied here
    * within a series across time). Feed it PER-INTERVAL histograms
    * (gauge native histograms, or counter histograms pre-differenced
    * to window deltas): merged deltas of disjoint intervals ARE the
    * coarser interval's histogram, so quantile/fraction/avg/stddev over
    * the tier are EXACT for any window-aligned read, not estimates.
    * Output rows wear the native store-view columns (h_count, h_sum_fp,
    * h_zero, h_buckets) plus `n_samples`, so the tier is directly
    * PromQL-evaluable (`bucket_ts` → `ts`) by the native-histogram
    * functions.
    *
    * Scale: one partial-combined shuffle on (date, series, window) —
    * collect_list runs map-side partial in ObjectHashAggregate, the
    * fold is per-row; a year-long p90 panel over a 6 h tier scans
    * ~1.5 k rows/series instead of every scrape.
    */
  def downsampleHist(hist: DataFrame, windowSec: Long): DataFrame = {
    require(windowSec > 0 && 86400L % windowSec == 0,
      s"downsample window ${windowSec}s must divide 86400 (a day): " +
        "non-divisor windows straddle the date partition boundary")
    val tsIsLong =
      hist.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val t = if (tsIsLong) col("ts") else unix_timestamp(col("ts"))
    val bucket = (floor(t / windowSec) * windowSec).cast("long")
    val dateCols =
      if (hist.columns.contains("date")) Seq(col("date")) else Nil
    val grouped = hist
      .groupBy((dateCols ++ Seq(col("name"), col("tags"),
        bucket.as("bucket_ts"))): _*)
      .agg(count(lit(1)).as("n_samples"),
        sum(col("h_count")).as("h_count"),
        sum(col("h_sum_fp")).as("h_sum_fp"),
        sum(col("h_zero")).as("h_zero"),
        collect_list(map_from_entries(col("h_buckets"))).as("_ms"))
    grouped.withColumn("h_buckets",
        bucketArray(sumBucketMaps(col("_ms"))))
      .drop("_ms")
  }

  /** The bucket-by-bucket sum of sparse bucket maps (idx → cnt), a
    * bucket missing from a map counting 0 (map_zip_with unions the
    * keys): `first` plus every map of the array `maps`, or, with no
    * `first`, the array's maps alone.
    */
  def sumBucketMaps(maps: Column, first: Option[Column] = None): Column = {
    val (zero, rest) = first match {
      case Some(f) => (f, maps)
      case None => (element_at(maps, 1),
        slice(maps, lit(2), greatest(size(maps) - 1, lit(0))))
    }
    aggregate(rest, zero, (acc, mm) => map_zip_with(acc, mm,
      (_, a, b) => coalesce(a, lit(0L)) + coalesce(b, lit(0L))))
  }

  /** A bucket map back to the canonical `h_buckets` array: the entries
    * whose count passes `keep` (by default: positive), as (idx, cnt)
    * structs sorted by idx.
    */
  def bucketArray(buckets: Column, keep: Column => Column = _ > 0): Column =
    sort_array(transform(
      filter(map_entries(buckets), e => keep(e.getField("value"))),
      e => struct(e.getField("key").as("idx"),
        e.getField("value").as("cnt"))))

  /** Materialize a downsampled tier with the store's own layout
    * discipline: date-partitioned, range-split across (date, name, tags)
    * so no single task sorts a whole day (see WritePipeline.append), and
    * sorted within files on (name, tags, bucket_ts) so tier reads get
    * row-group skipping on the same keys raw reads do. This is the
    * out-of-band compaction product the serve layer's auto-resolution
    * routing reads.
    */
  def writeDownsampled(metrics: DataFrame, windowSec: Long,
                       path: String): Unit = {
    downsample(metrics, windowSec)
      .repartitionByRange(col("date"), col("name"), col("tags"))
      .sortWithinPartitions(col("name"), col("tags"), col("bucket_ts"))
      .write.mode("overwrite").partitionBy("date").parquet(path)
  }

  /** Resolution selection for a read of `rangeSec` seconds: the
    * coarsest tier still yielding at least `targetPoints` points, 0 =
    * raw (the Thanos auto-downsampling rule, deterministic and
    * driver-side). With tiers 5 m/1 h and the default 250 points, a
    * dashboard range up to ~20 h reads raw, up to ~10 d the 5 m tier,
    * beyond that the 1 h tier.
    */
  def chooseResolution(rangeSec: Long,
                       tiers: Seq[Long] = Seq(300L, 3600L),
                       targetPoints: Long = 250L): Long = {
    require(rangeSec > 0 && targetPoints > 0)
    (0L +: tiers.sorted).filter(w => w == 0L || rangeSec / w >= targetPoints)
      .max
  }

  /** Exact re-aggregation over the downsampled tier: per-series stats
    * on a coarser `outSec` grid (must be a multiple of the tier window —
    * window-aligned, so sums of sums are the raw sums). avg is the
    * floored integer division of the re-summed fixed-point values; the
    * entry pins equality with the same query computed from RAW data.
    */
  def reaggregate(down: DataFrame, outSec: Long): DataFrame = {
    require(outSec > 0)
    val bucket = (floor(col("bucket_ts") / outSec) * outSec).cast("long")
    down
      .groupBy(col("name"), col("tags"), bucket.as("bucket_ts"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_fp")).as("sum_fp"),
        min(col("min_fp")).as("min_fp"),
        max(col("max_fp")).as("max_fp"))
      .withColumn("avg_fp", floor(col("sum_fp") / col("cnt")))
  }

  /** Storage compaction job: version-dedup then tier-rollup the stored
    * table and REWRITE it — the explicit-batch-job form of what
    * GraphiteMergeTree does during background merges. Writes to a staging
    * directory and swaps, so a crash mid-compact leaves the original
    * table intact (the job is idempotent and can simply rerun).
    *
    * Compacted rows return to the canonical 6-column schema with
    * `ts` = bucket start; per-date partitioning and in-partition
    * (name, tags, ts) ordering are preserved so reads keep pruning.
    */
  /** Rewrite width from facts the file listing already produced
    * (optimization guide §2: partitioning from data size, not a static
    * constant): the input's ON-DISK `bytes` bound per-task data volume
    * (post-rollup output never exceeds its input, so no counting pass is
    * needed), and the DATE-directory count bounds per-task output-file
    * juggling — a dynamic-partition write funnelled through one task
    * opens/closes every date directory's file serially (measured: a
    * width-1 rewrite of a 31-day sf0.1 store spent 0.7 s in one write
    * task), so each rewrite task gets at most ~2 date directories even
    * when the bytes alone would fit one task. Width 1 (small single-date
    * stores) additionally skips RangePartitioner's bound-sampling job; a
    * 100 TB store saturates the session cap via the bytes term.
    */
  private def rewriteWidth(spark: org.apache.spark.sql.SparkSession,
                           bytes: BigInt, dateDirs: Int): Int = {
    val perTask = BigInt(spark.conf
      .getOption("spark.graft.compact.bytesPerTask")
      .map(_.toLong).getOrElse(64L << 20))
    val cap = BigInt(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    (((bytes / perTask + 1) max BigInt((dateDirs + 1) / 2))
      min cap max BigInt(1)).toInt
  }

  /** [[compactDates]]' rewrite width: the bytes of the selected `date=`
    * directories, from the per-date listing the commit-file merge uses
    * ([[Admin.dataFiles]]). A path-based read's plan statistics would
    * report the whole table's bytes, since partition pruning only
    * applies when the scan is planned. */
  private[graft] def datesWidth(spark: org.apache.spark.sql.SparkSession,
                                tablePath: String, dates: Seq[String]): Int = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ds = dates.distinct
    val bytes = ds.map(d => Admin.dataFiles(fs,
      new org.apache.hadoop.fs.Path(root, s"date=$d")).map(_.getLen).sum).sum
    rewriteWidth(spark, BigInt(bytes), ds.length)
  }

  /** date= partition directories under a store path (one driver-side
    * listing — the same listing the scan itself performs). */
  private def dateDirCount(spark: org.apache.spark.sql.SparkSession,
                           tablePath: String): Int = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("date="))
  }

  def compact(spark: org.apache.spark.sql.SparkSession, tablePath: String,
              nowSec: Long): Unit = {
    val store = spark.read.parquet(tablePath)
    val rolled = rollup(dedupLatest(store), nowSec)
      .select(
        to_date(timestamp_seconds(col("bucket_ts"))).as("date"),
        col("name"), col("tags"), col("val"),
        timestamp_seconds(col("bucket_ts")).as("ts"),
        col("updated"))
    val staging = tablePath + ".compacting"
    // Range split over (date, name, tags), not hash-on-date: compaction
    // rewrites the WHOLE store, and a per-date hash funnel would sort
    // each day on one task — see WritePipeline.append for the full
    // rationale; files per date hold disjoint (name, tags) ranges so
    // row-group skipping survives. Width from the store's on-disk size.
    rolled
      .repartitionByRange(rewriteWidth(spark,
          store.queryExecution.optimizedPlan.stats.sizeInBytes,
          dateDirCount(spark, tablePath)),
        col("date"), col("name"), col("tags"))
      .sortWithinPartitions(col("name"), col("tags"), col("ts"))
      .write.mode("overwrite").partitionBy("date").parquet(staging)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(tablePath).getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(tablePath)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(staging), dst)
    ()
  }

  /** Incremental compaction: version-dedup + tier-rollup ONLY the given
    * `date` partitions and overwrite just those directories (dynamic
    * partition overwrite) — the per-partition merge MergeTree actually
    * performs, and the only form that survives 100 TB: the rollup tier a
    * row belongs to is a function of its age, so each day a date
    * partition crosses a tier boundary exactly once and only boundary-
    * crossing partitions (plus freshly written ones) need rework; the
    * rest of the table is untouched — no full-table read, no full
    * rewrite, no staging swap.
    */
  def compactDates(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                   dates: Seq[String], nowSec: Long): Unit = {
    val selected = spark.read.parquet(tablePath)
      .filter(col("date").isin(dates: _*)) // prunes to the named partitions
    val rolled = rollup(dedupLatest(selected), nowSec)
      .select(
        to_date(timestamp_seconds(col("bucket_ts"))).as("date"),
        col("name"), col("tags"), col("val"),
        timestamp_seconds(col("bucket_ts")).as("ts"),
        col("updated"))
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      rolled
        // width from the SELECTED partitions' on-disk size and count
        .repartitionByRange(datesWidth(spark, tablePath, dates),
          col("date"), col("name"), col("tags"))
        .sortWithinPartitions(col("name"), col("tags"), col("ts"))
        .write.mode("overwrite").partitionBy("date").parquet(tablePath)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Version dedup ≙ MergeTree `updated` version column: for each
    * (name, tags, ts) keep the newest `updated` (last write wins across
    * at-least-once replays), `val` descending as a deterministic tiebreak
    * for identical versions — i.e. the row with the lexicographic-max
    * (updated, val).
    *
    * Implemented as max_by over a groupBy rather than a row_number
    * window: an aggregation gets map-side partial combine (replay
    * duplicates collapse before the shuffle) and needs no per-group sort,
    * where the window form shuffles every raw row and sorts each
    * partition. Same keys, same winner, strictly less work — the
    * difference compounds at compaction scale.
    */
  def dedupLatest(metrics: DataFrame): DataFrame = {
    val keyCols = Seq("name", "tags", "ts")
    val others = metrics.columns.filterNot(keyCols.contains).toSeq
    metrics
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*),
        struct(col("updated"), col("val"))).as("_w"))
      .select(keyCols.map(col) ++ others.map(c => col(s"_w.$c").as(c)): _*)
  }
}
