package graft.operators

import graft.GraftExtensions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators beyond the reference's own surface: as-of join
  * and sessionization. These are the two relational shapes a metrics/event
  * store user reaches for first that plain SQL joins do badly.
  *
  * Both are built on the union+window pattern rather than a range join:
  * ONE shuffle on the key, a per-key linear sort pass, and no candidate
  * blow-up — a theta/range join would explode to |left|×|right-per-key|
  * intermediates before filtering, which is exactly the shape that dies at
  * 100 TB. The window frame is running (UNBOUNDED PRECEDING..CURRENT), so
  * Spark evaluates it in a single streaming pass per key.
  */
object TimeSeriesOps {

  /** As-of join: for each left row, attach the right side's value at the
    * greatest right timestamp ≤ the left timestamp, per key (the semantics
    * of DuckDB/QuestDB `ASOF JOIN`, kdb `aj`).
    *
    * Right rows are first collapsed to one per (key, ts) — max value — so
    * the match is deterministic when the right side carries duplicate
    * timestamps. The merge tags right rows side=0 and left rows side=1;
    * sorting by (ts, side) puts a same-timestamp right row BEFORE the left
    * row, giving `>=` (inclusive) as-of semantics. The right value rides
    * in a single-field struct BOX so the running `last(ignoreNulls)`
    * tracks the latest right ROW, not the latest non-null value — a
    * matched right row whose value is NULL yields NULL (true ASOF
    * semantics), never a stale earlier value.
    *
    * @param rightValAlias output column; must not collide with a left column
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, rightValCol: String,
               rightValAlias: String): DataFrame = {
    val groupCols = (keys :+ tsCol).map(col)
    val rightDedup = right.groupBy(groupCols: _*)
      .agg(max(col(rightValCol)).as(rightValAlias))
    val boxType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(rightValAlias,
        rightDedup.schema(rightValAlias).dataType)))
    val lSide = left
      .withColumn("_side", lit(1))
      .withColumn("_rbox", lit(null).cast(boxType))
    val rSide = rightDedup
      .withColumn("_side", lit(0))
      .withColumn("_rbox", struct(col(rightValAlias)))
      .drop(rightValAlias)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide, allowMissingColumns = true)
      .withColumn(rightValAlias,
        last(col("_rbox"), ignoreNulls = true).over(w)
          .getField(rightValAlias))
      .filter(col("_side") === 1)
      .drop("_side", "_rbox")
  }

  /** FORWARD as-of join: for each left row, the right side's value at
    * the SMALLEST right timestamp ≥ the left timestamp, per key — the
    * "next reading after the event" lookup (QuestDB `LT JOIN` mirrored,
    * kdb `aj` with reversed sort). Implemented by time negation over
    * [[asofJoin]]: backward-as-of on −ts is exactly forward-as-of on ts
    * (and ≤ flips to ≥ inclusively), so the union+window machinery —
    * one shuffle, no range blow-up — is reused verbatim, and the right
    * dedup picks max value per (key, ts) exactly as the backward form
    * does.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      tsCol: String, rightValCol: String,
                      rightValAlias: String): DataFrame = {
    val neg = "_neg_ts"
    val l = left.withColumn(neg, -col(tsCol))
    val r = right.withColumn(neg, -col(tsCol)).drop(tsCol)
    asofJoin(l.drop(tsCol), r, keys, neg, rightValCol, rightValAlias)
      .withColumn(tsCol, -col(neg))
      .drop(neg)
  }

  /** Interval (point-in-range) join: each left event at `tsCol` = t
    * matches the right intervals [startCol, endCol] with the same keys
    * that contain t. Spark plans a raw BETWEEN join as
    * BroadcastNestedLoopJoin (every event × every interval) the moment
    * the right side stops fitting in a broadcast — the classic range-join
    * blow-up. This instead chunks time into `bucketSec` buckets,
    * replicates each interval into the buckets it overlaps, and
    * EQUI-joins on (keys, bucket): shuffle volume is events + interval
    * replicas, and each event meets only the intervals sharing its
    * bucket. An event lives in exactly one bucket, so every matching
    * (event, interval) pair joins exactly once — no post-dedup.
    *
    * Pick `bucketSec` near the typical interval length: replication is
    * ceil(len/bucketSec)+1 per interval, while a too-small bucket costs
    * replicas and a too-large one degrades toward per-bucket cross
    * products. Both inputs keep their columns; the containment filter
    * runs on the joined row (map-side, after the equi-join prunes).
    *
    * Failure mode guarded: one very long (or sentinel-ended, e.g.
    * end = Long.MaxValue) interval would replicate into millions of
    * buckets — or overflow Spark's sequence length cap — and kill the
    * whole job. Any interval spanning more than `maxBucketsPerInterval`
    * buckets fails FAST with a descriptive error (raise_error, evaluated
    * before the explode) so the caller re-buckets or pre-clamps instead
    * of discovering the blow-up as an executor OOM mid-shuffle.
    */
  def intervalJoin(events: DataFrame, tsCol: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   keys: Seq[String], bucketSec: Long,
                   maxBucketsPerInterval: Long = 1L << 20): DataFrame = {
    require(bucketSec > 0 && maxBucketsPerInterval > 0)
    val evB = events.withColumn("_bucket",
      floor(col(tsCol) / bucketSec).cast("long"))
    val b0 = floor(col(startCol) / bucketSec).cast("long")
    val b1 = floor(col(endCol) / bucketSec).cast("long")
    // end < start would make sequence() count DOWN (a silent wrong-bucket
    // replication); such intervals can't contain anything — drop them
    val ivB = intervals.filter(col(startCol) <= col(endCol))
      .withColumn("_bucket", explode(sequence(b0,
        when(b1 - b0 < maxBucketsPerInterval, b1).otherwise(raise_error(
          format_string("intervalJoin: interval [%s, %s] spans more than " +
            s"$maxBucketsPerInterval buckets of $bucketSec s — re-bucket " +
            "or clamp sentinel end timestamps",
            col(startCol).cast("string"), col(endCol).cast("string")))
          .cast("long")))))
    evB.join(ivB, keys :+ "_bucket")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("_bucket")
  }

  /** Counter increase/rate with reset detection — the Prometheus
    * counter-semantics read transform (`increase()`/`rate()`): a counter
    * only ever goes up; an observed drop means the process restarted and
    * the counter began again near zero, so the post-reset sample's FULL
    * value is new increase (PromQL's extrapolatedRate reset rule). Per
    * (series keys, `bucketSec` bucket) this emits the reset-adjusted
    * increase and the per-second rate over the bucket.
    *
    * Determinism contract: adjacent-sample deltas are IEEE doubles both
    * engines compute identically from the same parquet values; each delta
    * is floored onto the 1e-6 fixed-point grid BEFORE summing, so the
    * per-bucket sum is exact long addition (order-free) and `rate` is an
    * exact integer division by `bucketSec` — no float accumulation
    * anywhere, the repo-wide exact-integer oracle convention.
    *
    * Attribution: a delta belongs to the bucket of its LATER sample (the
    * downsampled-counter convention); the lag runs per series across
    * bucket edges, so a bucket-straddling pair still contributes. The
    * first sample of a series contributes nothing (no prior).
    *
    * Scale shape: ONE shuffle on the series keys, a per-series linear
    * window pass (running frame), map-side delta arithmetic, then a
    * partial-combined agg whose cardinality is series × buckets — bounded
    * output, never row-scale on the second exchange. No cross-series
    * work exists anywhere.
    *
    * @param orderCols unique tie-breaks after the timestamp (pass an
    *                  event id: duplicate (series, ts) pairs would
    *                  otherwise make lag() order-dependent)
    */
  def counterIncrease(samples: DataFrame, keys: Seq[String],
                      tsSecCol: String, valCol: String, bucketSec: Long,
                      orderCols: Seq[String] = Nil): DataFrame = {
    require(bucketSec > 0)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(tsSecCol) +: orderCols.map(col)).map(_.asc): _*)
    // the lag lands in ONE projected column so a single Sort+Window pass
    // feeds both derived columns (embedding the window expr in two
    // withColumns would plan two passes — the CollapseWindow pitfall)
    val prev = lag(col(valCol), 1).over(w)
    val delta = col(valCol) - col("_prev")
    val adj = when(col("_prev").isNull, lit(null))
      .when(delta >= 0, delta).otherwise(col(valCol))
    // floor() everywhere a double narrows to long: Spark's cast
    // truncates toward zero but DuckDB's CAST rounds — floor is the one
    // narrowing both engines spell identically.
    val keyCols = keys.map(col) :+
      floor(col(tsSecCol).cast("long") / bucketSec).as("bucket")
    samples
      .select(col("*"), prev.as("_prev"))
      .withColumn("_adj_fp", floor(adj * 1000000L))
      .withColumn("_reset", (delta < 0).cast("long"))
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n_samples"),
        coalesce(sum(col("_reset")), lit(0L)).as("n_resets"),
        coalesce(sum(col("_adj_fp")), lit(0L)).as("increase_fp"),
        floor(coalesce(sum(col("_adj_fp")), lit(0L)) / bucketSec)
          .as("rate_fp"))
  }

  /** Instantaneous rate — PromQL `irate()`: per sample, the rate between
    * it and the immediately preceding sample of the same series, with
    * the counter reset rule (a drop means restart: the new value IS the
    * increase). The fast-moving-counter companion to [[counterIncrease]]
    * — dashboards use irate for spiky counters where a bucket average
    * flattens the signal.
    *
    * Determinism: the adjusted delta floors onto the 1e-6 grid, then ONE
    * IEEE division by the sample gap and a floor — both engines spell
    * floor(adj_fp / dt) identically. First samples (no prior) and
    * zero/negative gaps (duplicate timestamps) yield null. One shuffle,
    * one Sort+Window pass (both lags in one projection).
    */
  def instantRate(samples: DataFrame, keys: Seq[String], tsSecCol: String,
                  valCol: String,
                  orderCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(tsSecCol) +: orderCols.map(col)).map(_.asc): _*)
    val delta = col(valCol) - col("_prev")
    val adj = when(delta >= 0, delta).otherwise(col(valCol))
    val dt = col(tsSecCol).cast("long") - col("_prev_t")
    samples
      .select(col("*"), lag(col(valCol), 1).over(w).as("_prev"),
        lag(col(tsSecCol).cast("long"), 1).over(w).as("_prev_t"))
      .withColumn("irate_fp",
        when(col("_prev").isNull || dt <= 0, lit(null).cast("long"))
          .otherwise(floor(floor(adj * 1000000L) / dt)))
      .drop("_prev", "_prev_t")
  }

  /** Value-change count — PromQL `changes()`: per sample, how many times
    * the series' value CHANGED between consecutive samples within the
    * trailing `windowSec` seconds (inclusive). The flapping detector —
    * a gauge oscillating between states shows a high change count where
    * its range-vector average looks calm.
    *
    * Two staged window passes over ONE shuffle: the consecutive-change
    * flag (a lag, rows frame) must materialize before the trailing
    * RANGE-frame sum can read it — a window expression cannot nest
    * inside another. Change flags are exact (value equality on the
    * stored doubles, identical in both engines); the first sample of a
    * series carries flag 0 (PromQL counts transitions, not existence).
    *
    * Boundary exactness: PromQL only counts a transition when BOTH its
    * samples lie inside the range — the naive range-frame flag sum also
    * counts the oldest in-window sample's transition against a
    * predecessor OUTSIDE the window. In any frame, at most ONE row can
    * have its predecessor outside it (a row whose predecessor is
    * outside [T−w, T] is necessarily the frame's first row in sort
    * order), so the overcount at output row T is exactly
    * `[∃ i in frame: chg_i = 1 ∧ prev_t_i < T − w]` — evaluated
    * tie-safely as `min(prev_t + w | chg = 1) < T` over the same frame
    * (no dependence on RANGE-frame first_value tie-breaking, which
    * differs between engines on duplicate timestamps).
    */
  def changesOverTime(samples: DataFrame, keys: Seq[String],
                      tsSecCol: String, valCol: String, windowSec: Long,
                      orderCols: Seq[String] = Nil): DataFrame = {
    require(windowSec > 0)
    val wLag = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(tsSecCol) +: orderCols.map(col)).map(_.asc): _*)
    val wRange = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsSecCol).cast("long").asc)
      .rangeBetween(-windowSec, 0)
    val tLong = col(tsSecCol).cast("long")
    samples
      .select(col("*"), lag(col(valCol), 1).over(wLag).as("_prev"),
        lag(tLong, 1).over(wLag).as("_prev_t"))
      .withColumn("_chg",
        when(col("_prev").isNull || col(valCol) === col("_prev"), 0L)
          .otherwise(1L))
      .withColumn("_q",
        when(col("_chg") === 1L, col("_prev_t") + windowSec)
          .otherwise(lit(Long.MaxValue)))
      .select(col("*"), sum(col("_chg")).over(wRange).as("_raw"),
        min(col("_q")).over(wRange).as("_minq"))
      .withColumn("changes",
        col("_raw") - when(col("_minq") < tLong, 1L).otherwise(0L))
      .drop("_prev", "_prev_t", "_chg", "_q", "_raw", "_minq")
  }

  /** Per-series least-squares slope and extrapolation over a trailing
    * range window — PromQL `deriv()` and `predict_linear()`, the
    * second-most-common alert shape ("disk full in 4 h"). For every
    * sample, simple linear regression over the same series' samples in
    * the trailing `windowSec` seconds (inclusive):
    *   slope = (nΣty − Σt·Σy) / (nΣt² − (Σt)²)
    *   predict = ȳ + slope·(t_now − t̄ + horizonSec)
    * (slope is shift-invariant in t, so raw epoch seconds work — no
    * re-basing needed once the moment sums are exact.)
    *
    * Determinism contract: the five moment sums (n, Σt, Σy, Σty, Σt²)
    * accumulate as DECIMAL(38,0) — exact integer arithmetic, order-free
    * across partitions and engines, with headroom (t² ~ 3·10^18, ×10^4
    * samples ×n ≈ 3·10^26 ≪ 10^38) that long sums don't have. Only the
    * final slope/predict arithmetic drops to IEEE double, as a fixed
    * expression tree both engines evaluate identically, and the result
    * lands on the 1e-6 fixed-point grid via floor. A window with <2
    * distinct timestamps has denominator 0 → null slope/predict (the
    * PromQL "need two points" rule).
    *
    * Scale shape: ONE shuffle on the series keys; the RANGE frame is
    * time-bounded so window state is O(samples in `windowSec`) per
    * series; all five sums share one window spec (one sort, one pass).
    */
  def linearRegress(samples: DataFrame, keys: Seq[String], tsSecCol: String,
                    valCol: String, windowSec: Long,
                    horizonSec: Long): DataFrame = {
    require(windowSec > 0)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsSecCol).cast("long").asc)
      .rangeBetween(-windowSec, 0)
    // operands declare DECIMAL(18,0) so the products are DECIMAL(37,0)
    // in BOTH engines (38×38 products overflow DuckDB's cap outright and
    // trip Spark's precision-loss truncation)
    val dec = "decimal(18,0)"
    val t = col(tsSecCol).cast("long")
    val yFp = floor(col(valCol) * 1000000L)
    val n = count(lit(1)).over(w)
    val st = sum(t.cast(dec)).over(w)
    val sy = sum(yFp.cast(dec)).over(w)
    val stt = sum(t.cast(dec) * t.cast(dec)).over(w)
    val sty = sum(t.cast(dec) * yFp.cast(dec)).over(w)
    // all five sums in ONE projection so they land in a single Window
    // node over one sort — chained withColumns would interleave Projects
    // between Window ops and defeat CollapseWindow (measured: 4 separate
    // Sort+Window passes for the same spec)
    samples
      .select(col("*"), n.as("n_window"), st.as("_stD"), sy.as("_syD"),
        stt.as("_sttD"), sty.as("_styD"))
      .withColumn("_nd", col("n_window").cast("double"))
      .withColumn("_st", col("_stD").cast("double"))
      .withColumn("_sy", col("_syD").cast("double"))
      .withColumn("_stt", col("_sttD").cast("double"))
      .withColumn("_sty", col("_styD").cast("double"))
      .withColumn("_denom",
        col("_nd") * col("_stt") - col("_st") * col("_st"))
      .withColumn("_slope",
        when(col("_denom") === 0.0, lit(null).cast("double"))
          .otherwise((col("_nd") * col("_sty") - col("_st") * col("_sy"))
            / col("_denom")))
      .withColumn("deriv_fp", floor(col("_slope")))
      .withColumn("predict_fp",
        floor(col("_sy") / col("_nd") + col("_slope") *
          (t.cast("double") - col("_st") / col("_nd") +
            lit(horizonSec.toDouble))))
      .drop("_stD", "_syD", "_sttD", "_styD",
        "_nd", "_st", "_sy", "_stt", "_sty", "_denom", "_slope")
  }

  /** PromQL `histogram_quantile(q, rate(..._bucket[w]))` — quantile
    * estimation from cumulative histogram bucket counters: given
    * per-(series, le, time-bucket) increases (the output of
    * [[counterIncrease]] keyed on `keys :+ leCol`), estimate the
    * q-quantile per (series-minus-le, time-bucket) by linear
    * interpolation within the first `le` bucket whose cumulative count
    * reaches rank q·total (Prometheus promql/quantile.go semantics):
    *   - buckets ordered by `le` ascending; a running max repairs
    *     non-monotonic counts (scrape races produce them)
    *   - rank lands in the +Inf bucket → the highest finite `le`
    *   - rank lands in the first bucket → interpolate from lower bound 0
    *   - otherwise interpolate between the two bucket bounds by the
    *     rank's position inside the bucket
    * Time buckets with zero total observations emit nothing (PromQL's
    * NaN). Callers needing aligned series across sparse buckets run
    * [[gapFill]] upstream; the interpolation itself assumes each
    * (group, bucket) carries its full `le` ladder ending at +Inf.
    *
    * Determinism: counts are exact longs; the crossing predicate
    * compares long-derived doubles against rank = q·total (IEEE-exact,
    * same expression both engines); the single interpolation division is
    * the only inexact step and lands on the 1e-6 grid via floor. The
    * crossing bucket always has count strictly above its predecessor's
    * (integers straddling rank), so the division never sees zero.
    *
    * Scale shape: one window shuffle on (group keys, time bucket) —
    * cardinality series × buckets, already aggregate-sized, never
    * row-scale; the `le` ladder per partition is histogram-schema-sized
    * (10-100), so the two window passes (running max + lag) are trivial.
    *
    * @param bucketCounts output of [[counterIncrease]] over `keys :+
    *                     leCol`: one row per (keys, le, bucket)
    * @param cntCol       the per-bucket increase column (`increase_fp`)
    */
  def histogramQuantile(bucketCounts: DataFrame, keys: Seq[String],
                        leCol: String, bucketCol: String, cntCol: String,
                        q: Double): DataFrame = {
    require(q > 0 && q < 1, "q outside (0,1) is ±Inf by definition")
    val part = (keys :+ bucketCol).map(col)
    val wRun = Window.partitionBy(part: _*).orderBy(col(leCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(part: _*) // default frame: whole partition
    val wLag = Window.partitionBy(part: _*).orderBy(col(leCol).asc)
    // staged so no window expression nests inside another: the running
    // max materializes first, then the lags (one ordered Window node)
    // and the whole-partition max (its own unordered node) read the
    // materialized column
    val withRun = bucketCounts
      .select(col("*"), max(col(cntCol)).over(wRun).as("_rep"))
      .select(col("*"),
        lag(col(leCol), 1).over(wLag).as("_prev_le"),
        lag(col("_rep"), 1).over(wLag).as("_prev_rep"),
        max(col("_rep")).over(wAll).as("_total"))
    val rank = lit(q) * col("_total").cast("double")
    val repD = col("_rep").cast("double")
    val prevD = col("_prev_rep").cast("double")
    val crossing = repD >= rank &&
      (col("_prev_rep").isNull || prevD < rank)
    val res =
      when(col(leCol) === Double.PositiveInfinity, col("_prev_le"))
        .when(col("_prev_rep").isNull, col(leCol) * (rank / repD))
        .otherwise(col("_prev_le") + (col(leCol) - col("_prev_le")) *
          ((rank - prevD) / (repD - prevD)))
    withRun
      .filter(col("_total") > 0 && crossing)
      .select(part ++ Seq(col("_total").as("total_fp"),
        floor(res * 1000000L).as("quantile_fp")): _*)
  }

  /** Skew-proof two-phase counter increase — [[counterIncrease]] with the
    * salted-aggregation pattern applied to the WINDOW pass: the plain form
    * partitions by series key alone, so one pathological series (the
    * `__name__=up` cardinality trap — every target exports it) lands its
    * entire history on one task. Here time is pre-split into `sliceSec`
    * slices and the lag window runs per (series, slice) — a hot series
    * spreads across span/sliceSec tasks — then each slice's FIRST sample
    * recovers its cross-boundary delta from a slice-summary table (one row
    * per (series, slice): the slice's last sample), which is series×slices
    * sized, aggregate-small, and stitches slice edges with a second tiny
    * window pass. Output ≡ [[counterIncrease]] row-for-row (the entry pins
    * this with the SAME oracle).
    *
    * Cost: two shuffles of the sample stream (slice window + final bucket
    * agg, same as the plain form) plus one aggregate-sized shuffle for the
    * boundary table — the constant-factor price of removing the per-series
    * task ceiling. Use when series cardinality is low or skewed; the plain
    * form when series count ≫ cores.
    *
    * `sliceSec` must be a multiple of `bucketSec` so a slice never spans a
    * bucket edge's attribution (deltas attribute to the LATER sample's
    * bucket either way, so any alignment is correct — the multiple keeps
    * the mental model simple).
    */
  def counterIncreaseSalted(samples: DataFrame, keys: Seq[String],
                            tsSecCol: String, valCol: String, bucketSec: Long,
                            sliceSec: Long,
                            orderCols: Seq[String] = Nil): DataFrame = {
    require(bucketSec > 0 && sliceSec > 0 && sliceSec % bucketSec == 0)
    val keyCols = keys.map(col)
    val slice = floor(col(tsSecCol).cast("long") / sliceSec).cast("long")
    val ord = (col(tsSecCol) +: orderCols.map(col)).map(_.asc)
    val sliced = samples.withColumn("_slice", slice)
    // phase 1: per (series, slice) — the hot-series split
    val wSlice = Window.partitionBy(keyCols :+ col("_slice"): _*)
      .orderBy(ord: _*)
    // per-slice last sample value, by (ts, tie-breaks) order — the struct
    // max replays the window's ordering as a partial-combined aggregate
    val ordStruct = struct((col(tsSecCol) +: orderCols.map(col)) :+
      col(valCol): _*)
    // boundary table: for each slice PRESENT in the data, the last value
    // of the nearest preceding present slice (lag over present slices —
    // empty slices between samples are bridged exactly as the plain
    // form's series-wide lag bridges them; a series' first present slice
    // gets null = series start). One row per (series, present slice).
    val wB = Window.partitionBy(keyCols: _*).orderBy(col("_slice").asc)
    val bounds = sliced
      .groupBy(keyCols :+ col("_slice"): _*)
      .agg(max(ordStruct).as("_last"))
      .withColumn("_prev_last",
        lag(col(s"_last.$valCol"), 1).over(wB))
      .select(keyCols ++ Seq(col("_slice"), col("_prev_last")): _*)
    // phase 2: slice-local lag; each slice's first sample recovers its
    // cross-boundary prior from the boundary table
    val prevInSlice = lag(col(valCol), 1).over(wSlice)
    val joined = sliced
      .join(bounds, keys :+ "_slice", "left")
      .withColumn("_prev", coalesce(prevInSlice, col("_prev_last")))
    val delta = col(valCol) - col("_prev")
    val adj = when(col("_prev").isNull, lit(null))
      .when(delta >= 0, delta).otherwise(col(valCol))
    joined
      .withColumn("_adj_fp", floor(adj * 1000000L))
      .withColumn("_reset", (delta < 0).cast("long"))
      .groupBy(keyCols :+
        floor(col(tsSecCol).cast("long") / bucketSec).as("bucket"): _*)
      .agg(count(lit(1)).as("n_samples"),
        coalesce(sum(col("_reset")), lit(0L)).as("n_resets"),
        coalesce(sum(col("_adj_fp")), lit(0L)).as("increase_fp"),
        floor(coalesce(sum(col("_adj_fp")), lit(0L)) / bucketSec)
          .as("rate_fp"))
  }

  /** Sliding range-vector aggregates — the `*_over_time` family:
    * `count/sum/max/min/avg/last_over_time` for every sample over the
    * same series' trailing `windowSec` seconds (inclusive). A RANGE
    * frame keyed on the timestamp makes duplicate-timestamp handling
    * deterministic (every peer row is in frame regardless of sort
    * tie-breaks), and all six aggregates come from one window spec, so
    * Spark plans a single shuffle + sort per series. Sums run on the
    * 1e-6 fixed-point grid — exact long addition under any
    * frame-maintenance order (Spark re-accumulates, DuckDB uses segment
    * trees; floats would drift).
    *
    * `last_fp` (PromQL `last_over_time`) picks the in-frame sample with
    * the greatest timestamp; on duplicate timestamps the greatest VALUE
    * at that timestamp wins — a struct-max over (t, value), so the pick
    * is a total order both engines share, never a sort-tie accident.
    * `avg_fp` is the floored fixed-point mean floor(Σv_fp / n) (PromQL
    * avg_over_time up to the 1e-6 grid).
    *
    * Scale: the frame is time-bounded, so window state is O(samples in
    * `windowSec`) per series — the sliding pass never holds a series'
    * history the way UNBOUNDED PRECEDING frames do.
    */
  def rangeAgg(samples: DataFrame, keys: Seq[String], tsSecCol: String,
               valCol: String, windowSec: Long): DataFrame = {
    require(windowSec > 0)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsSecCol).cast("long").asc)
      .rangeBetween(-windowSec, 0)
    // one projection for all window expressions → ONE Sort+Window node
    // (chained withColumns interleave Projects and defeat
    // CollapseWindow: measured three separate sort passes)
    val lastPick = struct(col(tsSecCol).cast("long").as("t"),
      col("_val_fp").as("v"))
    samples
      .withColumn("_val_fp", floor(col(valCol) * 1000000L))
      .select(col("*"), count(lit(1)).over(w).as("n_window"),
        sum(col("_val_fp")).over(w).as("sum_fp"),
        max(col("_val_fp")).over(w).as("max_fp"),
        min(col("_val_fp")).over(w).as("min_fp"),
        max(lastPick).over(w).as("_lastp"))
      .withColumn("last_fp", col("_lastp").getField("v"))
      .withColumn("avg_fp", floor(col("sum_fp") / col("n_window")))
      .drop("_val_fp", "_lastp")
  }

  /** Skew-proof trailing range aggregates — [[rangeAgg]] with the salted
    * window: the plain form partitions by series key alone, so one hot
    * series' whole history sorts on one task. Here the window runs per
    * (series, `sliceSec` time slice), and correctness across slice edges
    * comes from REPLICATION instead of a summary join: every row in the
    * last `windowSec` of a slice is copied into the next slice as a
    * context-only row (`_emit=0`) — it participates in frames there but
    * emits nothing. An emitted row's trailing frame then sees exactly
    * the rows the unsliced window would (its own slice's rows plus the
    * replicated tail of the previous slice), so output ≡ [[rangeAgg]]
    * row-for-row — the entry pins this by sharing its oracle.
    *
    * Cost: ≤ windowSec/sliceSec extra replicated rows (bounded by one
    * window's worth per slice) and the same single shuffle — the
    * constant-factor price of removing the per-series task ceiling.
    * Requires sliceSec ≥ windowSec (context reaches back one slice).
    */
  def rangeAggSalted(samples: DataFrame, keys: Seq[String], tsSecCol: String,
                     valCol: String, windowSec: Long,
                     sliceSec: Long): DataFrame =
    saltedTrailingWindow(samples, keys, tsSecCol, windowSec, sliceSec)(
      (df, k) => rangeAgg(df, k, tsSecCol, valCol, windowSec))

  /** The skew-splitting combinator behind every `*Salted` trailing-window
    * form: run `plain` — ANY operator whose windows partition by the
    * given keys and look back at most `windowSec` seconds — per
    * (series, `sliceSec` time slice) instead of per series, so one hot
    * series' history spreads over history/sliceSec tasks instead of
    * sorting on one. Correctness across slice edges comes from
    * REPLICATION: every row in the last `windowSec` of a slice is copied
    * into the next slice as a context-only row (`_emit=0`) — it
    * participates in frames and lags there but emits nothing. An emitted
    * row's trailing frame then sees exactly the rows the unsliced window
    * would (its own slice's rows plus the replicated tail of the
    * previous one), so output ≡ the plain form row-for-row — each salted
    * entry pins this by sharing its plain sibling's oracle verbatim.
    *
    * The lookback contract extends to ROWS-frame lags the plain form
    * computes, PROVIDED a lag result older than `windowSec` cannot
    * affect any emitted output (e.g. [[changesOverTime]]: a transition
    * whose older endpoint is outside every containing frame is exactly
    * what its boundary correction subtracts, so a context-truncated lag
    * is output-equivalent). Operators needing UNBOUNDED lookback
    * (series-wide lag, e.g. [[instantRate]]) use the boundary-table
    * split ([[counterIncreaseSalted]], [[instantRateSalted]]) instead —
    * replication cannot bound them.
    *
    * Cost: ≤ windowSec/sliceSec extra replicated rows (one window's
    * worth per slice) and the same single shuffle — the constant-factor
    * price of removing the per-series task ceiling. Requires
    * sliceSec ≥ windowSec (context reaches back exactly one slice).
    */
  def saltedTrailingWindow(samples: DataFrame, keys: Seq[String],
                           tsSecCol: String, windowSec: Long, sliceSec: Long)(
      plain: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    require(windowSec > 0 && sliceSec >= windowSec,
      "context replication reaches back exactly one slice")
    val t = col(tsSecCol).cast("long")
    val slice = floor(t / sliceSec).cast("long")
    val own = samples.withColumn("_slice", slice)
      .withColumn("_emit", lit(1))
    // rows in a slice's trailing windowSec, re-addressed to the next
    // slice as frame context (their ts stays below every emitted row of
    // that slice, so own/context rows never collide)
    val ctx = samples
      .filter(t >= (slice + 1L) * sliceSec - windowSec)
      .withColumn("_slice", slice + 1L)
      .withColumn("_emit", lit(0))
    plain(own.unionByName(ctx), keys :+ "_slice")
      .filter(col("_emit") === 1)
      .drop("_slice", "_emit")
  }

  /** [[changesOverTime]] under the salted window — legal because the
    * boundary-exact form is insensitive to context truncation: a
    * replicated slice carries every predecessor within `windowSec`, and
    * a transition whose predecessor is older than that can never count
    * (the `min(prev_t + w) < T` correction removes it from every frame
    * it appears in), so a context-truncated lag (null prev → flag 0,
    * no correction candidate) yields the same output as the plain
    * series-wide lag (flag 1, corrected away).
    */
  def changesOverTimeSalted(samples: DataFrame, keys: Seq[String],
                            tsSecCol: String, valCol: String, windowSec: Long,
                            sliceSec: Long,
                            orderCols: Seq[String] = Nil): DataFrame =
    saltedTrailingWindow(samples, keys, tsSecCol, windowSec, sliceSec)(
      (df, k) => changesOverTime(df, k, tsSecCol, valCol, windowSec,
        orderCols))

  /** [[linearRegress]] under the salted window (pure trailing RANGE
    * frames — the replication contract applies directly). */
  def linearRegressSalted(samples: DataFrame, keys: Seq[String],
                          tsSecCol: String, valCol: String, windowSec: Long,
                          horizonSec: Long, sliceSec: Long): DataFrame =
    saltedTrailingWindow(samples, keys, tsSecCol, windowSec, sliceSec)(
      (df, k) => linearRegress(df, k, tsSecCol, valCol, windowSec,
        horizonSec))

  /** [[rangeStddev]] under the salted window. */
  def rangeStddevSalted(samples: DataFrame, keys: Seq[String],
                        tsSecCol: String, valCol: String, windowSec: Long,
                        sliceSec: Long): DataFrame =
    saltedTrailingWindow(samples, keys, tsSecCol, windowSec, sliceSec)(
      (df, k) => rangeStddev(df, k, tsSecCol, valCol, windowSec))

  /** [[rangeQuantile]] under the salted window. */
  def rangeQuantileSalted(samples: DataFrame, keys: Seq[String],
                          tsSecCol: String, valCol: String, windowSec: Long,
                          q: Double, sliceSec: Long,
                          outCol: String = "quantile"): DataFrame =
    saltedTrailingWindow(samples, keys, tsSecCol, windowSec, sliceSec)(
      (df, k) => rangeQuantile(df, k, tsSecCol, valCol, windowSec, q,
        outCol))

  /** [[instantRate]] split across (series, `sliceSec` slice) tasks —
    * irate's lookback is UNBOUNDED (the immediately preceding sample,
    * however old), so the replication combinator cannot bound its
    * context; instead the [[counterIncreaseSalted]] boundary-table
    * pattern: per (series, PRESENT slice) keep the last (ts, value) by
    * window order, lag that over present slices (bridging empty slices
    * exactly as the plain series-wide lag does), and let each slice's
    * first sample recover its cross-boundary predecessor from the
    * table. The boundary aggregate is partial-combined (aggregate-sized
    * shuffle); its window is per-series but over slice COUNT rows, not
    * samples. Output ≡ [[instantRate]] row-for-row — the entry shares
    * the plain oracle verbatim.
    */
  def instantRateSalted(samples: DataFrame, keys: Seq[String],
                        tsSecCol: String, valCol: String, sliceSec: Long,
                        orderCols: Seq[String] = Nil): DataFrame = {
    require(sliceSec > 0)
    val keyCols = keys.map(col)
    val t = col(tsSecCol).cast("long")
    val slice = floor(t / sliceSec).cast("long")
    val sliced = samples.withColumn("_slice", slice)
    // (ts, tie-breaks) prefix replays the window order; trailing (t, v)
    // ride along as the selected row's payload
    val ordStruct = struct((col(tsSecCol) +: orderCols.map(col)) ++
      Seq(t.as("_t"), col(valCol).as("_v")): _*)
    val wB = Window.partitionBy(keyCols: _*).orderBy(col("_slice").asc)
    val bounds = sliced
      .groupBy(keyCols :+ col("_slice"): _*)
      .agg(max(ordStruct).as("_last"))
      .select(keyCols ++ Seq(col("_slice"),
        lag(col("_last._t"), 1).over(wB).as("_prev_t_b"),
        lag(col("_last._v"), 1).over(wB).as("_prev_b")): _*)
    val wSlice = Window.partitionBy(keyCols :+ col("_slice"): _*)
      .orderBy((col(tsSecCol) +: orderCols.map(col)).map(_.asc): _*)
    val joined = sliced
      .join(bounds, keys :+ "_slice", "left")
      .select(col("*"), lag(col(valCol), 1).over(wSlice).as("_prev_in"),
        lag(t, 1).over(wSlice).as("_prev_t_in"))
      .withColumn("_prev", coalesce(col("_prev_in"), col("_prev_b")))
      .withColumn("_prev_t", coalesce(col("_prev_t_in"), col("_prev_t_b")))
    val delta = col(valCol) - col("_prev")
    val adj = when(delta >= 0, delta).otherwise(col(valCol))
    val dt = t - col("_prev_t")
    joined
      .withColumn("irate_fp",
        when(col("_prev").isNull || dt <= 0, lit(null).cast("long"))
          .otherwise(floor(floor(adj * 1000000L) / dt)))
      .drop("_prev_in", "_prev_t_in", "_prev", "_prev_t", "_prev_b",
        "_prev_t_b", "_slice")
  }

  /** Trailing-window population standard deviation — PromQL
    * `stddev_over_time` (and `stdvar_over_time` via the intermediate):
    * per sample, sqrt((n·Σy² − (Σy)²)/n²) over the same series' trailing
    * `windowSec` seconds. The burstiness signal dashboards pair with
    * averages.
    *
    * Determinism: Σy and Σy² accumulate as exact DECIMAL (the
    * linearRegress contract — y_fp² at 10²⁴ overflows long), and the
    * final expression is one fixed IEEE tree: doubles, one multiply-
    * subtract, one sqrt (correctly rounded per IEEE-754, so both engines
    * agree bit-for-bit), floored onto the 1e-6 grid. A negative
    * round-off residue clamps to 0. One shuffle, one Sort+Window pass.
    */
  def rangeStddev(samples: DataFrame, keys: Seq[String], tsSecCol: String,
                  valCol: String, windowSec: Long): DataFrame = {
    require(windowSec > 0)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsSecCol).cast("long").asc)
      .rangeBetween(-windowSec, 0)
    val dec = "decimal(19,0)"
    val y = floor(col(valCol) * 1000000L)
    samples
      .withColumn("_y", y)
      .select(col("*"), count(lit(1)).over(w).as("n_window"),
        sum(col("_y").cast("decimal(18,0)")).over(w).as("_s1"),
        sum(col("_y").cast(dec) * col("_y").cast(dec)).over(w).as("_s2"))
      .withColumn("_nd", col("n_window").cast("double"))
      .withColumn("_s1d", col("_s1").cast("double"))
      .withColumn("_s2d", col("_s2").cast("double"))
      .withColumn("stddev_fp",
        floor(sqrt(greatest(
          col("_nd") * col("_s2d") - col("_s1d") * col("_s1d"),
          lit(0.0))) / col("_nd")))
      .drop("_y", "_s1", "_s2", "_nd", "_s1d", "_s2d")
  }

  /** Trailing-window EXACT median — the robust *_over_time companion to
    * [[rangeAgg]]'s count/sum/max: per sample, percentile 0.5 over the
    * same trailing time-keyed RANGE frame. Exact interpolation (Spark
    * `percentile` ≙ DuckDB `quantile_cont`, the engine-parity the
    * quantile entries already pin) rather than a sketch: a trailing
    * frame is time-bounded per series, so the exact aggregate's buffer
    * IS the frame, and spike-robustness — median vs mean — is the
    * operator's point.
    */
  def rangeMedian(samples: DataFrame, keys: Seq[String], tsSecCol: String,
                  valCol: String, windowSec: Long): DataFrame =
    rangeQuantile(samples, keys, tsSecCol, valCol, windowSec, 0.5, "med")

  /** Trailing-window EXACT quantile — PromQL `quantile_over_time(q, v[w])`
    * generalized from [[rangeMedian]]: per sample, linear-interpolation
    * percentile `q` over the same series' trailing `windowSec` seconds
    * (inclusive). Exact, not a sketch: the trailing RANGE frame is
    * time-bounded per series, so the aggregate's buffer IS the frame —
    * state O(window), never O(history). Spark's `percentile` and DuckDB's
    * `quantile_cont` share the rank = q·(n−1) linear-interpolation
    * definition (the parity the quantile entries already pin), which is
    * also Prometheus's own quantile rule. One shuffle, one Sort+Window
    * pass.
    */
  def rangeQuantile(samples: DataFrame, keys: Seq[String], tsSecCol: String,
                    valCol: String, windowSec: Long, q: Double,
                    outCol: String = "quantile"): DataFrame = {
    require(windowSec > 0)
    require(q >= 0.0 && q <= 1.0)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsSecCol).cast("long").asc)
      .rangeBetween(-windowSec, 0)
    samples.withColumn(outCol, percentile(col(valCol), lit(q)).over(w))
  }

  /** Gap-filled downsampling onto a fixed `stepSec` grid with
    * last-observation-carried-forward bounded by `staleSec` — PromQL's
    * instant-vector lookback: a grid point takes the latest sample at or
    * before it, unless that sample is older than the staleness bound, in
    * which case the point reports no value (the reference's Prometheus
    * clients see exactly this when a series goes quiet).
    *
    * Shape: each sample OWNS the grid points in [its ts, next sample's
    * ts) — so instead of materializing the grid and as-of joining it
    * back (which sorts grid+samples per series; the grid dominates at
    * fine steps), one `lead`/`lag` window over the DEDUPED SAMPLES
    * computes every sample's covered grid-key span, and a map-side
    * sequence()+explode emits exactly those points, split at the
    * staleness cutoff into a fresh span (carries the sample) and a stale
    * span (nulls). The single pre-first-sample grid point (the grid
    * starts at floor(t0/step), below the first sample unless it sits on
    * the grid) comes from the first sample's leading span. Output
    * columns: the keys, `t` (grid second), `sample_ts`/`sample_val`
    * (latest in-lookback sample; null when stale or before the first
    * sample) and `fresh` (1/0).
    *
    * Scale: the shuffled/sorted volume is DISTINCT SAMPLES only — grid
    * volume (span/step per series, unbounded as step shrinks) exists
    * solely as map-side explode output and never hits an exchange or
    * sort. Requires an integer-second `tsSecCol` (the span arithmetic
    * is exact long math).
    */
  def gapFill(samples: DataFrame, keys: Seq[String], tsSecCol: String,
              valCol: String, stepSec: Long, staleSec: Long): DataFrame = {
    require(stepSec > 0 && staleSec >= 0)
    val keyCols = keys.map(col)
    // duplicate same-second samples collapse to the max value
    // (deterministic, same rule the as-of join form used)
    val dedup = samples
      .groupBy(keyCols :+ col(tsSecCol).cast("long").as("_sts"): _*)
      .agg(max(col(valCol)).as("_sval"))
    val w = Window.partitionBy(keyCols: _*).orderBy(col("_sts").asc)
    val nxt = lead(col("_sts"), 1).over(w)
    val prv = lag(col("_sts"), 1).over(w)
    val step = lit(stepSec)
    // first grid key at/after this sample (ceil), last grid key strictly
    // before the next sample (the next sample owns its own grid point —
    // inclusive >= as-of semantics); the series' last sample owns only
    // its own grid point, if it sits on the grid
    val kCov = floor((col("_sts") + (stepSec - 1)) / step).cast("long")
    val kEnd = when(nxt.isNull, floor(col("_sts") / step))
      .otherwise(floor((nxt - 1) / step)).cast("long")
    val kStale = floor((col("_sts") + staleSec) / step).cast("long")
    val kLead = floor(col("_sts") / step).cast("long")
    val spans = array(
      struct(kCov.as("lo"), least(kEnd, kStale).as("hi"),
        lit(1L).as("fresh")),
      struct((kStale + 1L).as("lo"), kEnd.as("hi"), lit(0L).as("fresh")),
      struct(when(prv.isNull, kLead).as("lo"), (kCov - 1L).as("hi"),
        lit(0L).as("fresh")))
    dedup
      .withColumn("_spans", spans)
      .select(keyCols ++ Seq(col("_sts"), col("_sval"),
        explode(filter(col("_spans"),
          sp => sp("lo").isNotNull && sp("lo") <= sp("hi"))).as("_sp")): _*)
      .select(keyCols ++ Seq(col("_sts"), col("_sval"),
        col("_sp.fresh").as("fresh"),
        explode(sequence(col("_sp.lo"), col("_sp.hi"))).as("_k")): _*)
      .select(keyCols ++ Seq((col("_k") * stepSec).as("t"),
        when(col("fresh") === 1L, col("_sts")).as("sample_ts"),
        when(col("fresh") === 1L, col("_sval")).as("sample_val"),
        col("fresh")): _*)
  }

  /** Alert firing spans — Prometheus alerting's `for:` semantics over
    * stored samples: a condition (value above a fixed-point threshold)
    * must hold for at least `minSamples` CONSECUTIVE samples of a
    * series before it counts as firing; this emits one row per maximal
    * firing span with its bounds and peak. Consecutiveness is by sample
    * ADJACENCY (no non-exceeding sample in between), which is the
    * alerting rule — wall-clock gaps are the staleness operator's job.
    *
    * Shape: one shuffle on the series keys drives both row-number
    * passes (the same (keys, ts, tie) order), the islands key is the
    * classic rank difference, and the span rollup is a partial-combined
    * agg on (keys, grp). Tie-break columns make the numbering — and so
    * the spans — fully deterministic under duplicate timestamps.
    */
  def alertSpans(samples: DataFrame, keys: Seq[String], tsSecCol: String,
                 valCol: String, thresholdFp: Long, minSamples: Int,
                 orderCols: Seq[String] = Nil): DataFrame = {
    require(minSamples >= 1)
    val keyCols = keys.map(col)
    val ord = (col(tsSecCol) +: orderCols.map(col)).map(_.asc)
    val wAll = Window.partitionBy(keyCols: _*).orderBy(ord: _*)
    val all = samples
      .withColumn("_vfp", floor(col(valCol) * 1000000L))
      .withColumn("_rn", row_number().over(wAll))
    val wFired = Window.partitionBy(keyCols: _*).orderBy(col("_rn"))
    all.filter(col("_vfp") > thresholdFp)
      .withColumn("_grp", col("_rn") - row_number().over(wFired))
      .groupBy(keyCols :+ col("_grp"): _*)
      .agg(min(col(tsSecCol)).as("start_ts"), max(col(tsSecCol)).as("end_ts"),
        count(lit(1)).as("n_samples"), max(col("_vfp")).as("peak_fp"))
      .filter(col("n_samples") >= minSamples)
      .select(keyCols ++ Seq(col("start_ts"), col("end_ts"),
        col("n_samples"), col("peak_fp")): _*)
  }

  /** LTTB downsampling (Steinarsson 2013, "Largest-Triangle-Three-
    * Buckets") — THE dashboard downsampler: reduce each series to
    * `nOut` points that preserve visual shape by keeping, per bucket,
    * the point forming the largest triangle with the PREVIOUSLY
    * selected point and the NEXT bucket's average. First and last
    * points are always kept; min-max keeps spikes, LTTB keeps shape.
    *
    * Determinism contract: duplicate timestamps collapse to max value
    * first; values ride the 1e-6 fixed-point grid and timestamps are
    * re-based per series (x − x0, so products stay far inside long:
    * area terms are bounded by bucketCount·span·y_fp ≲ 10^17 at a
    * 30-day 10^6-point series); the doubled-area comparison is exact
    * integer with the next-bucket average cleared of its division
    * (scaled through by the bucket size), ties to the earliest point.
    * The whole selection is engine-exact — no float ever compares.
    *
    * Shape: one shuffle groups each series' points into a sorted array
    * (a series that fits a dashboard query fits an array — the same
    * bounded-series contract as the read path's assembly); the greedy
    * bucket walk is sequential PER SERIES but embarrassingly parallel
    * across series, so it runs as one array fold per series row (the
    * MMR pattern). Series with ≤ nOut points pass through complete.
    *
    * @return (keys, rank 1-based, ts, v_fp) — the selected points in
    *         time order
    */
  def lttb(samples: DataFrame, keys: Seq[String], tsSecCol: String,
           valCol: String, nOut: Int): DataFrame = {
    require(nOut >= 3, "need at least first + one middle + last")
    val keyCols = keys.map(col)
    val m = nOut - 2 // middle bucket count
    val pts0 = samples
      .groupBy(keyCols :+ col(tsSecCol).cast("long").as("t"): _*)
      .agg(max(floor(col(valCol) * 1000000L)).as("v"))
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(struct(col("t"), col("v")))).as("pts"))
    val selected = element_at(transform(array(col("pts")), pts => {
      val nn = size(pts)
      val x0 = element_at(pts, 1).getField("t")
      def dx(i: Column) = element_at(pts, i.cast("int")).getField("t") - x0
      def y(i: Column) = element_at(pts, i.cast("int")).getField("v")
      val mi = nn - 2 // interior point count
      def bLo(i: Column) = (floor(i * mi / m) + 2).cast("int")
      def bHi(i: Column) = (floor((i + 1) * mi / m) + 1).cast("int")
      val folded = aggregate(sequence(lit(0), lit(m - 1)),
        struct(lit(1).as("prev"), array(lit(1)).as("sel")),
        (acc, i) => {
          val prev = acc.getField("prev")
          val anchor = aggregate(
            sequence(when(i === m - 1, nn).otherwise(bLo(i + 1)),
              when(i === m - 1, nn).otherwise(bHi(i + 1))),
            struct(lit(0L).as("sx"), lit(0L).as("sy"), lit(0L).as("c")),
            (a, j) => struct((a.getField("sx") + dx(j)).as("sx"),
              (a.getField("sy") + y(j)).as("sy"),
              (a.getField("c") + 1L).as("c")))
          // the anchor sums and previous point are bound ONCE per bucket
          // (lambda-variable let-binding): referencing the anchor
          // aggregate's fields directly inside the candidate lambda
          // would INLINE the whole O(bucket) anchor scan into every
          // candidate evaluation — the O(N²) this shape must not have
          val ctx = struct(anchor.as("an"),
            dx(prev).as("px"), y(prev).as("py"))
          element_at(transform(array(ctx), c0 => {
            val px = c0.getField("px")
            val py = c0.getField("py")
            val cnt = c0.getField("an").getField("c")
            val sx = c0.getField("an").getField("sx")
            val sy = c0.getField("an").getField("sy")
            val best = aggregate(sequence(bLo(i), bHi(i)),
              struct(lit(-1L).as("area"), lit(1).as("idx")),
              (b, j) => {
                val area2 = abs((cnt * px - sx) * (y(j) - py) -
                  (px - dx(j)) * (sy - cnt * py))
                when(area2 > b.getField("area"),
                  struct(area2.as("area"), j.as("idx"))).otherwise(b)
              })
            struct(best.getField("idx").as("prev"),
              concat(acc.getField("sel"),
                array(best.getField("idx"))).as("sel"))
          }), 1)
        })
      val idxs = when(nn <= nOut, sequence(lit(1), nn))
        .otherwise(concat(folded.getField("sel"), array(nn)))
      transform(idxs, i => element_at(pts, i.cast("int")))
    }), 1)
    pts0
      .select(keyCols :+ posexplode(selected).as(Seq("p", "s")): _*)
      .select(keyCols ++ Seq((col("p") + 1).cast("long").as("rank"),
        col("s.t").as("ts"), col("s.v").as("v_fp")): _*)
  }

  /** Sessionization: split each key's event stream into sessions separated
    * by gaps > `gapSec`. Adds `session_id` (1-based, per key, in time
    * order). Two window expressions over the SAME (key, order) window, so
    * Spark plans one shuffle + one sort for both.
    *
    * @param orderCols extra tie-break columns after the timestamp (pass a
    *                  unique event id for a fully deterministic numbering)
    */
  def sessionize(events: DataFrame, keyCol: String, tsSecCol: String,
                 gapSec: Long, orderCols: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsSecCol) +: orderCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(tsSecCol), 1).over(w)
    val isNew = when(prev.isNull || col(tsSecCol) - prev > gapSec, 1L)
      .otherwise(0L)
    events.withColumn("session_id", sum(isNew).over(wRun))
  }

  /** Prometheus-exact `rate()`/`increase()` — [[counterIncrease]] is the
    * plain within-bucket sum of reset-adjusted deltas; THIS adds the
    * boundary extrapolation the real engine applies (promql
    * extrapolatedRate): scale the raw increase by how much of the range
    * the samples actually cover, treating edge gaps larger than 1.1×
    * the average sample interval as half-interval overhangs, and — for
    * counters — never extrapolating back past the zero crossing implied
    * by the first sample's value. This is why Prometheus `increase()`
    * returns non-integers on integer counters; matching it exactly is
    * the point.
    *
    * Per (series, bucket = [b·bucketSec, (b+1)·bucketSec)):
    *   raw      = Σ adj(Δ) over consecutive IN-BUCKET pairs (resets add
    *              the post-reset value, the [[counterIncrease]] rule);
    *              with `isCounter = false` this is PromQL `delta()`:
    *              plain differences, telescoping to last − first
    *   increase = [[graft.expressions.Kernels.extrapolatedIncrease]] over
    *              range [b·bucketSec, (b+1)·bucketSec] — the one
    *              definition of the rule, shared with PromQL
    *              rate/increase/delta;  rate = increase/bucketSec
    * Buckets with n < 2 or lastTs ≤ firstTs yield NULL (Prometheus emits
    * nothing).
    *
    * Determinism: the kernel performs one fixed sequence of IEEE double
    * operations, spelled the same in the DuckDB oracle, over inputs
    * entering as exact longs (fp values, second timestamps); both
    * engines produce bit-identical doubles, floored onto the 1e-6 grid
    * at the end. One exchange total: the delta window partitions by
    * (keys, bucket) — the same key the final groupBy uses.
    */
  def extrapolatedRate(samples: DataFrame, keys: Seq[String],
                       tsSecCol: String, valCol: String, bucketSec: Long,
                       isCounter: Boolean = true,
                       orderCols: Seq[String] = Nil): DataFrame = {
    require(bucketSec > 0)
    val t = col(tsSecCol).cast("long")
    val bkt = floor(t / bucketSec).cast("long")
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols :+ col("_bkt"): _*)
      .orderBy((t +: orderCols.map(col)).map(_.asc): _*)
    val delta = col("_vfp") - col("_prev")
    // counters apply the reset rule (a drop restarts: the new value IS
    // the increase); gauges (PromQL delta()) take the plain difference —
    // summed over consecutive pairs it telescopes to last − first
    val adj =
      if (isCounter)
        when(col("_prev").isNull, lit(null))
          .when(delta >= 0, delta).otherwise(col("_vfp"))
      else
        when(col("_prev").isNull, lit(null)).otherwise(delta)
    val ordStruct = struct((t +: orderCols.map(col)) :+ col("_vfp").as("v"): _*)
    val grouped = samples
      .withColumn("_vfp", floor(col(valCol) * 1000000L))
      .withColumn("_bkt", bkt)
      .select(col("*"), lag(col("_vfp"), 1).over(w).as("_prev"))
      .withColumn("_adj", adj)
      .groupBy(keyCols :+ col("_bkt").as("bucket"): _*)
      .agg(count(lit(1)).as("n_samples"),
        min(t).as("_ft"), max(t).as("_lt"),
        min(ordStruct).as("_first"),
        coalesce(sum(col("_adj")), lit(0L)).as("_raw_fp"))
    extrapolatedFps(grouped, bucketSec, isCounter)
  }

  /** `increase_fp`/`rate_fp` (NULL below two samples or on a zero span)
    * from [[extrapolatedRate]]'s per-(keys, bucket) aggregate:
    * `n_samples`, `_ft`, `_lt`, `_first.v`, `_raw_fp`, `bucket`.
    */
  private[graft] def extrapolatedFps(grouped: DataFrame, bucketSec: Long,
                                     isCounter: Boolean): DataFrame = {
    val inc = GraftExtensions.extrapolatedIncrease(col("n_samples"),
      col("_ft"), col("_lt"), col("_first").getField("v"), col("_raw_fp"),
      col("bucket") * bucketSec, (col("bucket") + 1) * bucketSec, isCounter)
    grouped
      .withColumn("increase_fp", floor(inc * 1000000.0))
      .withColumn("rate_fp", floor(inc / bucketSec * 1000000.0))
      .drop("_ft", "_lt", "_first", "_raw_fp")
  }

  /** PromQL binary operation between two instant vectors with vector
    * matching — `left <op> on(matchKeys) right`, including the
    * many-to-one `group_left` form. The ratio/difference shape every
    * dashboard builds from two series sets: error-rate = errors/total,
    * share-of-whole, delta-vs-baseline.
    *
    * Semantics (Prometheus vector matching): rows pair when their
    * `matchKeys` values are equal; the output carries the CARRY side's
    * full label set plus `outCol` = `op(left value, right value)` —
    * `carry = "left"` is PromQL's one-to-one / `group_left` (the left
    * side is the fine "many" side and keeps its labels), `carry =
    * "right"` is `group_right` (the right side is the many side; the
    * op's argument order stays left-op-right, as in PromQL, where
    * grouping modifies cardinality, never operand order). Unmatched
    * rows drop (inner semantics, as PromQL). PromQL's cardinality rules
    * map as: the NON-carry side must be unique per match key — the
    * caller contract here, which aggregated inputs satisfy by
    * construction (PromQL raises on duplicate matches on the one-side;
    * with a non-unique one-side this join would multiply rows instead,
    * so feed it aggregates).
    *
    * Scale: ONE equi-join shuffle on the match keys. The one-side is an
    * aggregate at match-key granularity — strictly coarser than the
    * many-side in the group_left/right cases — so AQE converts to
    * broadcast whenever it fits; at 100 TB with two huge sides,
    * sort-merge on the match keys is the correct fallback and both
    * sides arrive pre-partitioned when the aggregates producing them
    * grouped on the same keys (no extra exchange: the groupBy's hash
    * partitioning is reused).
    */
  def vectorMatch(left: DataFrame, right: DataFrame, matchKeys: Seq[String],
                  op: (Column, Column) => Column,
                  leftVal: String = "value", rightVal: String = "value",
                  outCol: String = "result",
                  carry: String = "left"): DataFrame = {
    require(matchKeys.nonEmpty)
    carry match {
      case "left" =>
        val r = right.select(matchKeys.map(col) :+ col(rightVal).as("_rv"): _*)
        left.join(r, matchKeys, "inner")
          .withColumn(outCol, op(col(leftVal), col("_rv")))
          .drop("_rv")
      case "right" =>
        val l = left.select(matchKeys.map(col) :+ col(leftVal).as("_lv"): _*)
        right.join(l, matchKeys, "inner")
          .withColumn(outCol, op(col("_lv"), col(rightVal)))
          .drop("_lv")
      case other => throw new IllegalArgumentException(
        s"carry must be 'left' or 'right', got '$other'")
    }
  }

  /** PromQL `ignoring(...)` — the complement of `on(...)`: match on
    * every label BOTH sides carry EXCEPT the ignored ones (and the two
    * value columns). Excluding a label only one side carries is legal
    * and a no-op on the key set, exactly as in PromQL, where
    * `ignoring(x) group_right` is the usual spelling when the many-side
    * alone carries `x`. Delegates to [[vectorMatch]].
    */
  def vectorMatchIgnoring(left: DataFrame, right: DataFrame,
                          ignoring: Seq[String],
                          op: (Column, Column) => Column,
                          leftVal: String = "value",
                          rightVal: String = "value",
                          outCol: String = "result",
                          carry: String = "left"): DataFrame = {
    val keys = left.columns.toSeq.intersect(right.columns.toSeq)
      .filterNot(c => ignoring.contains(c) || c == leftVal || c == rightVal)
    require(keys.nonEmpty,
      s"ignoring(${ignoring.mkString(", ")}) leaves no shared label to match on")
    vectorMatch(left, right, keys, op, leftVal, rightVal, outCol, carry)
  }

  /** Double exponential smoothing — PromQL `holt_winters(v[w], sf, tf)`
    * (renamed `double_exponential_smoothing` in Prometheus 3): per
    * series, level `s` and trend `b` folded over the time-ordered
    * samples, yielding the smoothed level/trend after the last sample —
    * the trend-aware prediction dashboards use where `predict_linear`'s
    * single global slope washes out regime changes.
    *
    * Recurrence (Prometheus semantics): s₁ = x₁, b₁ = x₂ − x₁, then for
    * i ≥ 2:  sᵢ = sf·xᵢ + (1−sf)·(sᵢ₋₁ + bᵢ₋₁),
    *         bᵢ = tf·(sᵢ − sᵢ₋₁) + (1−tf)·bᵢ₋₁.
    * Series with fewer than two samples yield NULL (as PromQL drops
    * them).
    *
    * Determinism: the factors are exact rationals (`sfNum/sfDen`,
    * `tfNum/tfDen`) and the whole fold runs in 1e-6 fixed point with an
    * explicit floored division — `(a − pmod(a, d)) / d` — the one
    * integer-division spelling Spark and DuckDB share for negative
    * numerators (both engines' `%`/`/` truncate toward zero, and trend
    * `b` IS negative on falling series). Magnitudes stay ≤ den·|x_fp|
    * ≈ 2³³, exact in the double division. A recursive-CTE oracle replays
    * the identical integer recurrence.
    *
    * Scale: one shuffle (the per-series collect); the fold is a single
    * linear codegen'd `aggregate` over each series' array. Per-series
    * state is the array itself — in PromQL this operator only ever sees
    * one range-vector window of samples, so the array is window-bounded,
    * not history-bounded. That bound is enforced BY CONSTRUCTION, not
    * just documented: a series whose collected array exceeds `maxPoints`
    * fails FAST with a descriptive error (the [[intervalJoin]]
    * raise_error pattern, evaluated before the fold) instead of
    * surfacing as an executor OOM — callers fold whole histories by
    * raising the bound explicitly, never by accident.
    */
  def holtWinters(samples: DataFrame, keys: Seq[String], tsSecCol: String,
                  valCol: String, sfNum: Long, sfDen: Long, tfNum: Long,
                  tfDen: Long, orderCols: Seq[String] = Nil,
                  maxPoints: Long = 8192L): DataFrame = {
    require(sfNum > 0 && sfNum < sfDen, "0 < sf < 1")
    require(tfNum > 0 && tfNum < tfDen, "0 < tf < 1")
    require(maxPoints >= 2, "need at least two points to fold")
    val keyCols = keys.map(col)
    // floored integer division, identical in Spark and DuckDB: subtract
    // the positive modulus, then the division is exact (no rounding mode
    // left to disagree on)
    def fdiv(a: Column, d: Long): Column =
      ((a - pmod(a, lit(d))) / lit(d)).cast("long")
    val pts0 = samples
      .withColumn("_x", floor(col(valCol) * 1000000L).cast("long"))
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(struct(
        (col(tsSecCol).cast("long") +: orderCols.map(col)) :+
          col("_x").as("x"): _*))).as("_pts"),
        count(lit(1)).as("n_samples"))
    val pts = when(size(col("_pts")) <= maxPoints, col("_pts"))
      .otherwise(raise_error(format_string(
        "holtWinters: a series collected %s samples, over the " +
          s"$maxPoints-point bound — pre-window the input (PromQL only " +
          "ever folds one range-vector window) or raise maxPoints " +
          "explicitly",
        size(col("_pts")).cast("string"))))
    val x1 = element_at(pts, 1).getField("x")
    val x2 = element_at(pts, 2).getField("x")
    val folded = aggregate(
      slice(pts, lit(2), greatest(size(pts) - 1, lit(0))),
      struct(x1.as("s"), (x2 - x1).as("b")),
      (st, p) => {
        val s = st.getField("s"); val b = st.getField("b")
        val sNew = fdiv(lit(sfNum) * p.getField("x") +
          lit(sfDen - sfNum) * (s + b), sfDen)
        val bNew = fdiv(lit(tfNum) * (sNew - s) +
          lit(tfDen - tfNum) * b, tfDen)
        struct(sNew.as("s"), bNew.as("b"))
      })
    pts0.select(keyCols ++ Seq(col("n_samples"),
      when(col("n_samples") >= 2, folded.getField("s"))
        .otherwise(lit(null).cast("long")).as("smooth_fp"),
      when(col("n_samples") >= 2, folded.getField("b"))
        .otherwise(lit(null).cast("long")).as("trend_fp")): _*)
  }

  /** Quantile from NATIVE-HISTOGRAM exponential buckets — the sparse
    * (bucket index, per-bucket count) rows a decoded
    * `prompb.Histogram` yields (codec/NativeHist.scala), as opposed to
    * [[histogramQuantile]]'s cumulative `le` ladder. Bucket `idx`
    * covers fixed-point values in (2^(idx−1), 2^idx] — base-2
    * exponential over the store's 1e-6 grid, the schema-0 bucketization
    * the ingest fixture derives with exact integer bit-length (no libm,
    * so both engines agree bit-for-bit at every boundary). The
    * q-quantile interpolates LINEARLY inside the crossing bucket
    * between its exponential bounds (Prometheus's classic-bucket
    * interpolation rule applied to native bounds).
    *
    * Determinism: counts are exact longs; cum/total come from one
    * running-sum window; the bounds are exact powers of two (integer
    * exponents); the single interpolation division lands on the fp grid
    * via floor — the [[histogramQuantile]] discipline.
    *
    * Scale: one window shuffle on the group keys; each partition holds
    * a histogram's sparse bucket list (≤64 buckets at schema 0 for the
    * full long range) — aggregate-sized by construction.
    */
  def expHistogramQuantile(buckets: DataFrame, keys: Seq[String],
                           idxCol: String, cntCol: String, q: Double,
                           zeroCntCol: Option[String] = None): DataFrame = {
    require(q > 0 && q < 1, "q outside (0,1) is ±Inf by definition")
    val part = keys.map(col)
    val wRun = Window.partitionBy(part: _*).orderBy(col(idxCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(part: _*)
    val wOrd = Window.partitionBy(part: _*).orderBy(col(idxCol).asc)
    // zero-bucket observations (|v| ≤ zero_threshold) rank BELOW every
    // positive bucket: they offset the cumulative walk, and a rank that
    // lands inside them yields 0 (the bucket's midpoint on our
    // non-negative store). The column is per-group-constant (a
    // histogram field), zero when absent.
    val zc = zeroCntCol.map(col(_).cast("long")).getOrElse(lit(0L))
    val staged = buckets
      .select(col("*"), sum(col(cntCol)).over(wRun).as("_pcum"),
        row_number().over(wOrd).as("_rn"))
      .select(col("*"), (zc + col("_pcum")).as("_cum"),
        (zc + max(col("_pcum")).over(wAll)).as("_tot"))
    val rank = lit(q) * col("_tot").cast("double")
    val prevD = (col("_cum") - col(cntCol)).cast("double")
    val inZero = col("_rn") === 1 && rank <= zc.cast("double") && zc > 0L
    val crossing = (col("_cum").cast("double") >= rank && prevD < rank) ||
      inZero
    val lower = pow(lit(2.0), col(idxCol) - 1)
    val upper = pow(lit(2.0), col(idxCol))
    val res = when(inZero, lit(0.0))
      .otherwise(lower + (upper - lower) *
        ((rank - prevD) / col(cntCol).cast("double")))
    staged.filter(col("_tot") > 0 && crossing)
      .select(part ++ Seq(col("_tot").as("total"),
        floor(res).cast("long").as("quantile_fp")): _*)
  }
}
