package graft.promql

import graft.GraftExtensions
import graft.engine.Rollup
import graft.model.Schema
import graft.operators.LabelOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PromQL range-query evaluator: [[Ast.Expr]] → DataFrame plan over the
  * canonical metrics store (SURVEY §1.2: name, tags sorted "k=v" array,
  * val, ts). The reference delegates all of this to Prometheus itself and
  * only ever sees pre-compiled matchers (reference: main.go:322-372);
  * here the full language runs INSIDE Spark, so a grid query over a year
  * of data is one declarative plan — partition-pruned scan, series-window
  * lag, map-side grid explode, aggregate — instead of a step-by-step
  * driver loop.
  *
  * Evaluation model (PromQL semantics):
  *  - a range query evaluates at grid instants T = start + k·step,
  *    0 ≤ k ≤ (end−start)/step, all in whole seconds (the store grain);
  *  - an instant selector at T reads the latest sample with
  *    T − lookback < t ≤ T (default 5 m lookback);
  *  - a range selector `v[w]` at T reads all samples with T − w < t ≤ T.
  *
  * Execution shape — the part that must survive 100 TB:
  *  - SELECTORS NEVER SHUFFLE THE GRID. An instant selector dedups
  *    samples, takes one series-ordered window (`lead`) and map-side
  *    explodes each sample over exactly the grid instants it OWNS
  *    (latest-sample-wins makes ownership an interval). Output volume is
  *    the result size; the only exchanges are sample-sized.
  *  - RANGE FUNCTIONS compute consecutive-pair state (lag) ONCE per
  *    series before the grid explode, so the per-(series, T) aggregation
  *    is a plain partial-aggregated groupBy — no per-window re-sort. The
  *    explode factor is ⌈w/step⌉ (each sample falls in that many
  *    windows) — intrinsic to PromQL's overlapping-window semantics, paid
  *    as map-side rows feeding one exchange, never held in memory.
  *  - binary ops are ONE equi-join on (match key, T); aggregations ONE
  *    groupBy on (grouping labels, T) — both partial-combined.
  *  - A PER-ROW FORMULA IS ONE KERNEL. A Column `val` used k times is k
  *    copies of its tree, and filter pushdown copies guarded results
  *    again; the analyzer walks the tree at every DataFrame step, the
  *    optimizer once, AQE after every shuffle stage. rate/increase/delta
  *    spelled as Column DSL planned 1,279 expression nodes against 168
  *    for sum_over_time on the same plan shape; as
  *    [[graft.expressions.Kernels.extrapolatedIncrease]] it plans 270.
  *    Result guards reference their argument once for the same reason.
  *
  * Determinism contract (the repo-wide fixed-point discipline): values
  * travel as 1e-6 fixed-point longs; sums/counts are exact under any
  * partition order; double math happens only in per-row scalar
  * expressions evaluated identically by Spark and the DuckDB oracles,
  * then re-floors to the grid. Duplicate timestamps in one series pick
  * the greatest value (struct-max total order, both engines share it).
  *
  * Finite-store contract: the store ingests only finite doubles (F1,
  * reference: clickhouse/client.go:138-141 drops NaN/±Inf). The evaluator
  * preserves the invariant OUTWARD: any operation whose result is NaN or
  * ±Inf (division by zero, ln(0), 0^-1 …) DROPS that element rather than
  * materializing a non-finite — the vector analogue of the ingest filter,
  * and what keeps fixed-point longs sound end to end.
  */
object Eval {
  import Ast._

  /** Grid spec for a range query; times in epoch seconds.
    * `sliceSec` opts range functions into SKEW-SPLIT
    * evaluation (the saltedTrailingWindow pattern): the per-series lag
    * runs per (series, slice) with each slice's trailing window
    * replicated into the next as context-only rows, so one pathological
    * series (`up` — every target exports it) spreads across span/slice
    * tasks instead of sorting its whole history on one. Output is
    * row-identical to the unsliced form (the salted entry shares its
    * oracle verbatim); the price is the replicated tail plus one extra
    * exchange — the same constant-factor trade the operator-level
    * salted family ships. Requires sliceSec ≥ every range window used.
    */
  case class RangeSpec(startSec: Long, endSec: Long, stepSec: Long,
                       lookbackSec: Long = 300L,
                       sliceSec: Option[Long] = None) {
    require(stepSec > 0 && endSec >= startSec && lookbackSec > 0)
    require(sliceSec.forall(_ > 0))
    val kMax: Long = (endSec - startSec) / stepSec
  }

  private val FP = 1000000L
  private val FPD = 1000000.0

  /** Evaluation result: an instant-vector frame (tags, t, st, v_fp), a
    * scalar frame (t, v double), or a constant.
    */
  private sealed trait Val
  private case class VecV(df: DataFrame) extends Val
  private case class ScalV(df: DataFrame) extends Val
  private case class ConstV(v: Double) extends Val

  /** Parse + evaluate `query` over `metrics` (canonical store schema —
    * `name`, `tags`, `val`, `ts` timestamp or long seconds; an optional
    * `date` column is used for partition pruning). Returns
    * (tags: Array[String], t: Long, value: Double) sorted by nothing —
    * callers order at the edge.
    */
  def rangeQuery(metrics: DataFrame, query: String,
                 spec: RangeSpec): DataFrame = {
    val v = evalExpr(metrics, Parser.parse(query), spec) match {
      case VecV(df) => df
      case ScalV(df) =>
        df.select(array().cast("array<string>").as("tags"), col("t"),
          col("t").as("st"), floor(col("v") * FP).cast("long").as("v_fp"))
      case ConstV(c) =>
        grid(metrics, spec).select(array().cast("array<string>").as("tags"),
          col("t"), col("t").as("st"),
          lit(math.floor(c * FPD).toLong).as("v_fp"))
    }
    v.select(col("tags"), col("t"),
      (col("v_fp").cast("double") / FPD).as("value"))
  }

  /** Union explicit STALE-MARKER rows (name, tags, ts [, date]) into a
    * store view carrying a `stale` boolean: store rows get stale=false,
    * markers stale=true with a zero placeholder value. The evaluator's
    * scan then lets markers TERMINATE instant-selector ownership spans
    * (a dead target stops answering at its marker instead of coasting
    * through the full lookback) while range functions skip them —
    * Prometheus's staleness semantics over the canonical store. Columns
    * the store has but markers lack (val, updated, …) fill from ts/zero.
    */
  def withStaleMarkers(store: DataFrame, markers: DataFrame): DataFrame = {
    val mcols = store.schema.fields.toSeq.map { f =>
      if (markers.columns.contains(f.name)) col(f.name)
      else f.name match {
        case "val" => lit(0.0).as("val")
        case "val_fp" => lit(0L).as("val_fp")
        case "date" =>
          val ts =
            if (markers.schema("ts").dataType ==
                org.apache.spark.sql.types.LongType)
              timestamp_seconds(col("ts"))
            else col("ts")
          to_date(ts).as("date")
        case "updated" => col("ts").as("updated")
        case other => lit(null).cast(f.dataType).as(other)
      }
    }
    store.withColumn("stale", lit(false))
      .unionByName(markers.select(mcols :+ lit(true).as("stale"): _*))
  }

  /** Compile a `match[]`-style bare selector (no range/offset/@) into a
    * (name, tags) predicate — the metadata endpoints' filter
    * (/api/v1/labels, /label/<n>/values, /series).
    */
  def seriesPredicate(selector: String): Column =
    Parser.parse(selector) match {
      case s: Selector if s.rangeSec.isEmpty && s.offsetSec == 0L &&
          s.atSec.isEmpty =>
        (s.name.map(n => col("name") === n).toSeq ++
          s.matchers.map(matcherPred))
          .reduceOption(_ && _).getOrElse(lit(true))
      case _ => throw new IllegalArgumentException(
        "match[] must be a plain instant selector")
    }

  /** The grid as a frame (t). Driver-free: a range of k values. */
  private def grid(metrics: DataFrame, spec: RangeSpec): DataFrame =
    metrics.sparkSession.range(0L, spec.kMax + 1)
      .select((lit(spec.startSec) + col("id") * spec.stepSec).as("t"))

  // ---------------------------------------------------------------- AST

  private def evalExpr(m: DataFrame, e: Expr, spec: RangeSpec): Val =
    e match {
      case NumberLit(v) => ConstV(v)
      case StringLit(_) =>
        throw new IllegalArgumentException(
          "string literal where a vector/scalar is expected")
      case Unary(neg, x) =>
        evalExpr(m, x, spec) match {
          case ConstV(v) => ConstV(if (neg) -v else v)
          case ScalV(df) =>
            ScalV(if (neg) df.withColumn("v", -col("v")) else df)
          case VecV(df) =>
            VecV(if (neg)
              df.withColumn("v_fp", -col("v_fp"))
                .withColumn("tags", dropName(col("tags")))
            else df)
        }
      case s: Selector =>
        if (s.rangeSec.nonEmpty)
          throw new IllegalArgumentException(
            "range selector outside a range function")
        s.atSec match {
          case Some(at) =>
            // @ pins evaluation to one instant; the result repeats at
            // every grid step — computed ONCE, then pinned (no per-T
            // recompute)
            val t0 = resolveAt(at, spec)
            val one = selectorInstant(m, s.copy(atSec = None),
              RangeSpec(t0, t0, 1, spec.lookbackSec))
            VecV(pinToGrid(m, one, spec))
          case None => VecV(selectorInstant(m, s, spec))
        }
      case _: Subquery =>
        throw new IllegalArgumentException(
          "a subquery must feed a range function")
      case Agg(op, body, param, labels, without) =>
        evalAgg(m, op, body, param, labels, without, spec)
      case BinOp(op, l, r, boolMod, matching) =>
        evalBinOp(m, op, l, r, boolMod, matching, spec)
      case Call(fn, args) => evalCall(m, fn, args, spec)
    }

  // ---------------------------------------------------------- selectors

  /** PromQL-exact matcher predicate over (name, tags) — anchored regex
    * full-match, literal equality, absent-label-matches-empty. Distinct
    * from graft.compile.Matchers, which preserves the reference
    * ClickHouse dialect (unanchored regex, '|' splitting) for
    * remote-read compatibility.
    */
  private[promql] def matcherPred(mt: Matcher): Column = {
    val anchored = "^(?:" + mt.value + ")$"
    if (mt.label == Schema.MetricNameLabel) mt.op match {
      case MEq  => col("name") === mt.value
      case MNeq => col("name") =!= mt.value
      case MRe  => col("name").rlike(anchored)
      case MNre => !col("name").rlike(anchored)
    } else {
      val prefix = mt.label + "="
      val has = exists(col("tags"), x => x.startsWith(prefix))
      def full(x: Column) = x.substr(lit(prefix.length + 1), lit(Int.MaxValue))
      mt.op match {
        case MEq =>
          if (mt.value.isEmpty) !has
          else exists(col("tags"), x => x === prefix + mt.value)
        case MNeq =>
          if (mt.value.isEmpty) has
          else !exists(col("tags"), x => x === prefix + mt.value)
        case MRe =>
          val hit = exists(col("tags"),
            x => x.startsWith(prefix) && full(x).rlike(anchored))
          if (java.util.regex.Pattern.matches(anchored, "")) hit || !has
          else hit
        case MNre =>
          val hit = exists(col("tags"),
            x => x.startsWith(prefix) && full(x).rlike(anchored))
          if (java.util.regex.Pattern.matches(anchored, "")) !(hit || !has)
          else !hit
      }
    }
  }

  /** A selector's rows of `source` (the store view `m`, or a narrower
    * plan over it): the `date` partitions, the name and the matchers of
    * `s`, and the time window (lo, hi] — bounded on the RAW ts column
    * (not unix_timestamp(ts), which wraps the column in a function and
    * kills parquet predicate pushdown), exact at the store's second
    * grain (§1.2: ts is DateTime/seconds). Also returns the sample time
    * in epoch seconds, whether `ts` is stored as seconds or as a
    * timestamp.
    */
  private def selected(m: DataFrame, source: DataFrame, s: Selector,
                       lo: Long, hi: Long): (DataFrame, Column) = {
    val tsIsLong =
      m.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val tCol = if (tsIsLong) col("ts") else unix_timestamp(col("ts"))
    var df = source
    if (m.columns.contains("date"))
      df = df.filter(col("date") >= to_date(timestamp_seconds(lit(lo))) &&
        col("date") <= to_date(timestamp_seconds(lit(hi))))
    val tBound =
      if (tsIsLong) col("ts") > lo && col("ts") <= hi
      else col("ts") > timestamp_seconds(lit(lo)) &&
        col("ts") <= timestamp_seconds(lit(hi))
    val pred = s.matchers.map(matcherPred).foldLeft(tBound)(_ && _)
    val named = s.name match {
      case Some(n) => df.filter(col("name") === n)
      case None => df
    }
    (named.filter(pred), tCol)
  }

  /** Scan + normalize + dedup: (tags, t, v_fp), one row per (series,
    * second), greatest value wins on duplicates. Time bounds (and date
    * bounds when the store is date-partitioned) push into the scan.
    *
    * Stale markers (a `stale` boolean column on the store view, see
    * [[withStaleMarkers]]): with `keepStale` the output carries a
    * `_stale` flag (a live sample beats a marker at the same second);
    * without it marker rows are dropped after dedup — range functions
    * never see them, matching Prometheus range-selector filtering. A
    * store with no `stale` column takes the exact pre-existing plan.
    */
  private def scan(m: DataFrame, s: Selector, spec: RangeSpec,
                   reachBackSec: Long, keepStale: Boolean = false)
      : DataFrame = {
    val lo = spec.startSec - reachBackSec - s.offsetSec
    val hi = spec.endSec - s.offsetSec
    val one = graft.engine.ReadPipeline.oneTask(m, lo, hi)
    val (matched, tCol) = selected(m, one.getOrElse(m), s, lo, hi)
    // a store view may carry an already-quantized `val_fp` (the
    // downsampled-tier adapter does — its averages are exact longs and
    // the double round-trip could re-floor one grid step down)
    val vfp =
      if (m.columns.contains("val_fp")) col("val_fp")
      else floor(col("val") * FP).cast("long")
    // at most ONE exchange for the whole selector: hash-partitioning by
    // tags satisfies both the (tags, t) dedup's ClusteredDistribution
    // (subset rule) and the series window that follows — without it Spark
    // plans two sample-sized exchanges (dedup keys, then window keys). A
    // one-task read needs none: its single partition satisfies both
    def bySeries(d: DataFrame): DataFrame =
      if (one.isDefined) d else d.repartition(col("tags"))
    if (!m.columns.contains("stale"))
      bySeries(matched
        .select(col("tags"), tCol.as("t"), vfp.as("v_fp")))
        .groupBy(col("tags"), col("t"))
        .agg(max(col("v_fp")).as("v_fp"))
    else {
      // dedup rule with markers present: a LIVE sample at the same
      // (series, second) beats a marker (struct max orders live-first,
      // then greatest value) — a marker never shadows real data
      val deduped = bySeries(matched
        .select(col("tags"), tCol.as("t"), vfp.as("v_fp"),
          coalesce(col("stale"), lit(false)).as("_stale")))
        .groupBy(col("tags"), col("t"))
        .agg(max(struct((!col("_stale")).as("live"),
          col("v_fp").as("v"))).as("_m"))
        .select(col("tags"), col("t"), col("_m.v").as("v_fp"),
          (!col("_m.live")).as("_stale"))
      if (keepStale) deduped
      else deduped.filter(!col("_stale")).drop("_stale")
    }
  }

  /** Instant selector on the grid. Each deduped sample OWNS the grid
    * instants from its own time to just before the next sample (capped
    * by lookback): one series-window `lead`, then a map-side
    * sequence+explode emits exactly the owned instants — grid volume
    * never enters an exchange (the gapFill shape, SURVEY §2).
    */
  private def selectorInstant(m: DataFrame, s: Selector,
                              spec: RangeSpec): DataFrame = {
    // reach back the full lookback: a sample at exactly start−L+1 is
    // valid for T=start (window is (T−L, T], strict on the left).
    // Stale markers stay in the frame here: a marker's t participates
    // as the NEXT boundary terminating the previous sample's span, but
    // the marker row itself emits no instants (filtered after the lead)
    ownedInstants(scan(m, s, spec, spec.lookbackSec, keepStale = true),
      s.offsetSec, spec)
  }

  /** The ownership-span grid explode shared by scalar selectors and the
    * native-histogram derived-scalar path: samples (tags, t, v_fp
    * [, _stale]) → one row per (series, owned grid instant).
    */
  private def ownedInstants(samples: DataFrame, offsetSec: Long,
                            spec: RangeSpec): DataFrame = {
    val hasStale = samples.columns.contains("_stale")
    val te = col("t") + offsetSec
    // the lead only matters within the lookback (the owned span caps at
    // te+L−1 regardless), so the skew split needs FORWARD context: the
    // next slice's FIRST row per series stands in for a cross-boundary
    // lead; a next sample further than one slice away is further than
    // the lookback and the cap applies either way
    val leaded = spec.sliceSec match {
      case Some(sl) =>
        require(sl >= spec.lookbackSec,
          "sliceSec must cover the lookback (forward context reaches " +
            "exactly one slice)")
        val sliceOf = floor(col("t").cast("double") / sl).cast("long")
        val base = samples
          .withColumn("_slice", sliceOf).withColumn("_emit", lit(1))
        val fwd0 = samples.withColumn("_slice", sliceOf)
          .groupBy(col("tags"), col("_slice"))
          .agg(min(struct(col("t"), col("v_fp"))).as("_f"))
          .select(col("tags"), col("_f.t").as("t"),
            col("_f.v_fp").as("v_fp"), (col("_slice") - 1).as("_slice"),
            lit(0).as("_emit"))
        // context rows only contribute their t as the lead boundary —
        // a marker context is exactly as boundary-capable as a sample
        val fwd = if (hasStale) fwd0.withColumn("_stale", lit(false))
          else fwd0
        val wS = Window.partitionBy(col("tags"), col("_slice"))
          .orderBy(col("t").asc)
        val cols = Seq(col("tags"), col("t"), col("v_fp"), col("_emit")) ++
          (if (hasStale) Seq(col("_stale")) else Nil) :+
          lead(col("t"), 1).over(wS).as("_next")
        val led = base.unionByName(fwd)
          .repartition(col("tags"), col("_slice"))
          .select(cols: _*)
          .filter(col("_emit") === 1)
        if (hasStale) led.filter(!col("_stale")).drop("_stale") else led
      case None =>
        val w = Window.partitionBy(col("tags")).orderBy(col("t").asc)
        if (hasStale)
          samples.select(col("tags"), col("t"), col("v_fp"),
            col("_stale"), lead(col("t"), 1).over(w).as("_next"))
            .filter(!col("_stale")).drop("_stale")
        else
          samples.select(col("tags"), col("t"), col("v_fp"),
            lead(col("t"), 1).over(w).as("_next"))
    }
    val nextTe = col("_next") + offsetSec
    // owned instant range [te, min(nextTe-1, te+lookback-1)] ∩ [start,end]
    val upper = least(
      coalesce(nextTe - 1, lit(Long.MaxValue)),
      te + (spec.lookbackSec - 1), lit(spec.endSec))
    val kFirst = ceilDiv(greatest(te, lit(spec.startSec)) - spec.startSec,
      spec.stepSec)
    val kLast = floorDiv0(upper - spec.startSec, spec.stepSec)
    leaded
      .select(col("tags"), col("t").as("st"), col("v_fp"),
        kFirst.as("_k0"), kLast.as("_k1"))
      .filter(col("_k0") <= col("_k1") && col("_k1") >= 0)
      .select(col("tags"), col("st"), col("v_fp"),
        explode(sequence(greatest(col("_k0"), lit(0L)), col("_k1")))
          .as("_k"))
      .select(col("tags"),
        (lit(spec.startSec) + col("_k") * spec.stepSec).as("t"),
        col("st"), col("v_fp"))
  }

  // ------------------------------------------------- native histograms

  /** A NATIVE-HISTOGRAM store view carries, besides (name, tags, ts):
    * `h_count` (total observations), `h_sum_fp` (sum on the 1e-6 grid),
    * `h_zero` (zero-bucket count) and `h_buckets`
    * (array<struct<idx, cnt>>, schema-0 sparse buckets over fp values —
    * bucket idx covers (2^(idx−1), 2^idx] fp). The histogram functions
    * evaluate on these SAMPLES DIRECTLY — no classic le-flatten, no
    * bucket-series explosion through the store: the per-sample scalar
    * (quantile/count/sum/fraction) derives first, map-side, and only
    * then rides the ordinary ownership-span grid machinery. At 100 TB
    * that is one histogram row per (series, scrape) scanned instead of
    * #buckets classic rows.
    */
  private def hasNativeHist(m: DataFrame): Boolean =
    m.columns.contains("h_buckets")

  /** scan()'s native-histogram twin over the same [[selected]] rows:
    * one histogram per (series, second) (greatest (count, sum) wins on
    * duplicates — deterministic, and a histogram only ever grows within
    * one scrape instant). It keeps its exchange by tags even on a small
    * read (no `oneTask`): the `promql_native_plan_audit` entry counts
    * that exchange.
    */
  private def scanHist(m: DataFrame, s: Selector, spec: RangeSpec,
                       reachSec: Long = 0L): DataFrame = {
    // reach back the larger of the lookback and the range window — a
    // range selector's first grid instant reads samples from
    // start − w + 1, which can predate the lookback bound
    val lo = spec.startSec - math.max(spec.lookbackSec, reachSec) -
      s.offsetSec
    val (matched, tCol) = selected(m, m, s, lo, spec.endSec - s.offsetSec)
    matched
      .select(col("tags"), tCol.as("t"), struct(
        col("h_count").as("c"), col("h_sum_fp").as("s"),
        col("h_zero").as("z"), col("h_buckets").as("b")).as("_h"))
      .repartition(col("tags"))
      .groupBy(col("tags"), col("t"))
      .agg(max(col("_h")).as("_h"))
      .select(col("tags"), col("t"), col("_h.c").as("h_count"),
        col("_h.s").as("h_sum_fp"), col("_h.z").as("h_zero"),
        col("_h.b").as("h_buckets"))
  }

  /** One native-histogram function over an instant selector: derive the
    * per-SAMPLE scalar, then grid-evaluate it like any selector. `which`
    * ∈ count | sum | quantile | fraction.
    */
  private def nativeHistFn(m: DataFrame, s: Selector, spec: RangeSpec,
                           which: String, params: Seq[Double]): DataFrame =
    ownedInstants(histScalar(scanHist(m, s, spec), which, params),
        s.offsetSec, spec)
      .select(dropName(col("tags")).as("tags"), col("t"), col("st"),
        col("v_fp"))

  /** The per-HISTOGRAM scalar of one native-histogram function, from a
    * frame carrying (tags, t, h_count, h_sum_fp, h_zero, h_buckets) —
    * instant samples AND per-window deltas feed the same derivations.
    */
  private def histScalar(h: DataFrame, which: String,
                         params: Seq[Double]): DataFrame = {
    which match {
      case "count" =>
        h.select(col("tags"), col("t"), (col("h_count") * FP).as("v_fp"))
      case "sum" =>
        h.select(col("tags"), col("t"), col("h_sum_fp").as("v_fp"))
      case "avg" =>
        // mean observation: exact fp sum over the true count
        h.filter(col("h_count") > 0)
          .select(col("tags"), col("t"),
            floor(col("h_sum_fp").cast("double") /
              col("h_count").cast("double")).cast("long").as("v_fp"))
      case "stddev" | "stdvar" =>
        // spread ESTIMATE from the sparse buckets: every observation in
        // bucket i stands at the bucket's arithmetic midpoint
        // (2^(i−1)+2^i)/2 (exact in double for |i| ≤ 51), the zero
        // bucket at 0; the true mean comes from sum/count. Variance is
        // in fp² — the same fp²→fp conversions as the classic stdvar/
        // stddev aggregators, so both engines floor the same doubles.
        val mean = col("h_sum_fp").cast("double") /
          col("h_count").cast("double")
        def mid(b: Column) = (pow(lit(2.0), b.getField("idx") - 1) +
          pow(lit(2.0), b.getField("idx"))) / 2.0
        val ssq = aggregate(col("h_buckets"), lit(0.0),
          (acc, b) => acc + b.getField("cnt").cast("double") *
            (mid(b) - mean) * (mid(b) - mean)) +
          col("h_zero").cast("double") * mean * mean
        val varFp2 = ssq / col("h_count").cast("double")
        val out = if (which == "stdvar") floor(varFp2 / FPD)
          else floor(sqrt(varFp2))
        h.filter(col("h_count") > 0)
          .select(col("tags"), col("t"), out.cast("long").as("v_fp"))
      case "quantile" =>
        val exploded = h
          .select(col("tags"), col("t"), col("h_zero"),
            explode(col("h_buckets")).as("_b"))
          .select(col("tags"), col("t"), col("h_zero"),
            col("_b.idx").as("_idx"), col("_b.cnt").as("_cnt"))
        graft.operators.TimeSeriesOps.expHistogramQuantile(
            exploded, Seq("tags", "t"), "_idx", "_cnt", params.head,
            zeroCntCol = Some("h_zero"))
          .select(col("tags"), col("t"), col("quantile_fp").as("v_fp"))
      case "fraction" =>
        // estimated fraction of observations in (lo, hi]: exact integer
        // sums for whole buckets (2^idx is exact in double for idx ≤ 52,
        // so the bounds are exact) plus ONE linearly-interpolated
        // partial term per endpoint — the expression tree is fixed, so
        // both engines round alike
        val loFp = math.floor(params(0) * FPD).toLong
        val hiFp = math.floor(params(1) * FPD).toLong
        def upper(b: Column) = pow(lit(2.0), b.getField("idx"))
        def lower(b: Column) = pow(lit(2.0), b.getField("idx") - 1)
        def full(x: Long): Column =
          if (x <= 0) lit(0L)
          else aggregate(col("h_buckets"), lit(0L),
            (acc, b) => acc + when(upper(b) <= x, b.getField("cnt"))
              .otherwise(lit(0L))) + col("h_zero")
        def part(x: Long): Column =
          if (x <= 0) lit(0.0)
          else aggregate(col("h_buckets"), lit(0.0),
            (acc, b) => acc + when(lower(b) < x && upper(b) > x,
              b.getField("cnt").cast("double") *
                (lit(x) - lower(b)).cast("double") /
                (upper(b) - lower(b)).cast("double"))
              .otherwise(lit(0.0)))
        val num = (full(hiFp) - full(loFp)).cast("double") +
          (part(hiFp) - part(loFp))
        val frac = sdiv(num, col("h_count").cast("double"))
        h.filter(finiteD(frac))
          .select(col("tags"), col("t"),
            floor(frac * FP).cast("long").as("v_fp"))
      case x => throw new IllegalArgumentException(s"unknown hist fn $x")
    }
  }

  /** Per-(series, grid T) RESET-ADJUSTED window-delta histograms — the
    * shared core of the windowed native-histogram functions and their
    * aggregated forms. Prometheus's histogramRate discipline
    * (promql/functions.go): a counter reset happens between consecutive
    * samples when the count, the zero bucket, or ANY positive bucket
    * decreases; the window's increase is then
    *   last − first + Σ over reset pairs of the pre-reset histogram
    * (the per-bucket analogue of counterIncrease's chained adjusted
    * deltas — between resets the series is monotone, so the telescoping
    * sum collapses to exactly this). The consecutive-pair state (prev
    * histogram + reset flag) is computed ONCE per series with a lag
    * BEFORE the grid explode, the rangeFrame discipline; per (series, T)
    * the aggregation is then first/last plus a map-merged fold of the
    * in-window reset contributions. A reset against a sample OUTSIDE the
    * window does not contribute (the window's increase starts at its
    * first sample, as upstream). Windows with fewer than two samples, or
    * no growth, emit nothing (PromQL's empty-rate rule).
    *
    * `groupCol`, when set, threads an extra grouping column (the
    * by/without tag subset) through every stage so the aggregated form
    * can merge across series afterward without re-deriving it.
    */
  private def nativeHistWindowDeltas(h: DataFrame, offsetSec: Long,
                                     wSec: Long, spec: RangeSpec,
                                     groupCol: Option[Column] = None,
                                     isCounter: Boolean = true)
      : DataFrame = {
    val gCols = groupCol.map(_ => col("_g")).toSeq
    val hs = struct(col("h_count").as("c"), col("h_sum_fp").as("s"),
      col("h_zero").as("z"), col("h_buckets").as("b"))
    val base0 = h.select(
      (gCols ++ Seq(col("tags"), col("t"), hs.as("_h"))): _*)
    val w = Window.partitionBy((gCols :+ col("tags")): _*)
      .orderBy(col("t").asc)
    val cMap = map_from_entries(col("_h.b"))
    val lagged = base0
      .select((gCols ++ Seq(col("tags"), col("t"), col("_h"),
        lag(col("_h"), 1).over(w).as("_ph"),
        lag(col("t"), 1).over(w).as("_pt"))): _*)
      .withColumn("_reset",
        // delta() treats native histograms as GAUGES (upstream
        // histogramRate with isCounter=false): a shrinking bucket is a
        // legitimate negative delta, never a counter reset, so the
        // chained pre-reset contributions apply to rate/increase only
        if (!isCounter) lit(false)
        else col("_ph").isNotNull &&
          (col("_h.c") < col("_ph.c") || col("_h.z") < col("_ph.z") ||
            exists(col("_ph.b"), b =>
              coalesce(element_at(cMap, b.getField("idx")), lit(0L)) <
                b.getField("cnt"))))
    val te = col("t") + offsetSec
    val kFirst = ceilDiv(greatest(te, lit(spec.startSec)) - spec.startSec,
      spec.stepSec)
    val kLast = floorDiv0(
      least(te + (wSec - 1), lit(spec.endSec)) - spec.startSec, spec.stepSec)
    val gridT = lit(spec.startSec) + col("_k") * spec.stepSec
    // a reset pair contributes only when BOTH endpoints sit inside this
    // window: the current sample by explode construction, the previous
    // one by the strict (T−w, T] left bound
    val inWinReset = col("_reset") &&
      (col("_pt") + offsetSec > gridT - wSec)
    val agg = lagged
      .select((gCols ++ Seq(col("tags"), col("t"), col("_h"), col("_ph"),
        col("_pt"), col("_reset"), kFirst.as("_k0"),
        kLast.as("_k1"))): _*)
      .filter(col("_k0") <= col("_k1") && col("_k1") >= 0)
      .select((gCols ++ Seq(col("tags"), col("t").as("_st"), col("_h"),
        col("_ph"), col("_pt"), col("_reset"),
        explode(sequence(greatest(col("_k0"), lit(0L)), col("_k1")))
          .as("_k"))): _*)
      .select((gCols ++ Seq(col("tags"), gridT.as("t"), col("_st"),
        col("_h"),
        when(inWinReset, col("_ph")).as("_rh"))): _*)
      .groupBy((gCols ++ Seq(col("tags"), col("t"))): _*)
      .agg(count(lit(1)).as("n"),
        min_by(col("_h"), col("_st")).as("_f"),
        max_by(col("_h"), col("_st")).as("_l"),
        sum(coalesce(col("_rh.c"), lit(0L))).as("_rc"),
        sum(coalesce(col("_rh.s"), lit(0L))).as("_rs"),
        sum(coalesce(col("_rh.z"), lit(0L))).as("_rz"),
        collect_list(map_from_entries(col("_rh.b"))).as("_rms"))
      .filter(col("n") >= 2)
    // merged per-bucket delta: last ⊖ first ⊕ Σ reset prevs, folded as
    // sparse maps (map_zip_with unions keys), then re-sorted to the
    // canonical struct array; buckets that net to ≤ 0 drop (a zero
    // delta carries no observations)
    val negF = transform_values(map_from_entries(col("_f.b")),
      (_, v) => -v)
    val merged = Rollup.sumBucketMaps(concat(array(negF), col("_rms")),
      Some(map_from_entries(col("_l.b"))))
    // the delta frame wears the h-columns, so the SAME per-histogram
    // scalar derivations serve instants and windows alike
    val out = agg.select((gCols ++ Seq(col("tags"), col("t"),
      (col("_l.c") - col("_f.c") + col("_rc")).as("h_count"),
      (col("_l.s") - col("_f.s") + col("_rs")).as("h_sum_fp"),
      (col("_l.z") - col("_f.z") + col("_rz")).as("h_zero"),
      Rollup.bucketArray(merged,
        v => if (isCounter) v > 0 else v =!= 0).as("h_buckets"))): _*)
    // counter forms drop no-growth windows (PromQL's empty-rate rule);
    // the gauge form emits every ≥2-sample window, zero or negative
    // deltas included, exactly as upstream's Sub + Compact does
    if (isCounter)
      out.filter(col("h_count") > 0 && size(col("h_buckets")) > 0)
    else out
  }

  /** `histogram_quantile(q, rate|increase|delta(sel[w]))` over NATIVE
    * histogram samples — the production latency idiom, evaluated on the
    * sparse buckets directly via [[nativeHistWindowDeltas]] (which
    * chains reset-adjusted per-bucket deltas, so a service restart
    * inside the window yields the true increase, not a truncated one).
    * rate/increase/delta share one computation here: the quantile is
    * invariant under uniform bucket scaling, so the 1/window factor —
    * and Prometheus's boundary extrapolation, which scales every bucket
    * equally — cancel out exactly. What does NOT carry over to delta()
    * is reset chaining: delta() reads the histogram as a gauge
    * (upstream histogramRate, isCounter=false), so `rfn` picks the
    * plain last-minus-first form there.
    */
  private def nativeHistRangeFn(m: DataFrame, s: Selector, wSec: Long,
                                which: String, params: Seq[Double],
                                spec: RangeSpec,
                                rfn: String = "rate"): DataFrame =
    histScalar(nativeHistWindowDeltas(scanHist(m, s, spec, wSec),
        s.offsetSec, wSec, spec, isCounter = rfn != "delta"),
        which, params)
      .select(dropName(col("tags")).as("tags"), col("t"),
        col("t").as("st"), col("v_fp"))

  /** The inner shapes `histogram_*(sum|avg by (...) (X))` accepts on the
    * native path: a plain selector, or rate/increase/delta of one
    * (returned as the third element so the caller keeps the
    * counter-vs-gauge distinction).
    */
  private def histAggInner(e: Expr)
      : Option[(Selector, Option[Long], String)] =
    e match {
      case s: Selector if s.rangeSec.isEmpty => Some((s, None, "rate"))
      case Call(rfn, scala.collection.Seq(s: Selector))
          if s.rangeSec.nonEmpty &&
            Set("rate", "increase", "delta").contains(rfn) =>
        Some((s, s.rangeSec, rfn))
      case _ => None
    }

  /** CROSS-SERIES native-histogram aggregation —
    * `histogram_quantile(0.9, sum by (job) (rate(h[5m])))`, the fleet
    * latency panel, evaluated on sparse buckets end to end. Per grid T
    * each series contributes its instant histogram (ownership spans,
    * instant form) or its reset-adjusted window delta (range form); the
    * group merge is ONE partial-combined groupBy on (group tags, T) —
    * map-side collect of sparse bucket maps, then a map_zip_with fold
    * that unions bucket indexes, Prometheus's sparse-bucket merge under
    * sum/avg. Keys INCLUDE T, so the exchange distributes by
    * groups × grid and a low-cardinality `by (job)` never concentrates
    * a 100 TB store onto single tasks (the reason this is deliberately
    * NOT folded into the per-series exchange). Compared to the classic
    * le-flatten (`sum by (le) (rate(h_bucket[5m]))`), the scan and both
    * exchanges move one row per (series, scrape) instead of #buckets.
    *
    * `avg` rides the same merged-sum frame: quantile/fraction/avg/
    * stddev/stdvar are invariant under the uniform 1/n bucket scaling,
    * and count/sum divide the merged scalar by the group's series count
    * (exact: the fp longs are ≪ 2^52, so the double division floors
    * identically in both engines). count/sum over the RANGE form are
    * refused — Prometheus's rate/increase extrapolation is per series
    * and not scale-invariant; the scalarized
    * `sum(histogram_count(rate(h[w])))` path carries it exactly.
    */
  private def nativeHistAggFn(m: DataFrame, sel: Selector, spec: RangeSpec,
                              aggOp: String, labels: Seq[String],
                              without: Boolean, rangeWSec: Option[Long],
                              which: String, params: Seq[Double],
                              rfn: String = "rate")
      : DataFrame = {
    require(rangeWSec.isEmpty || !Set("count", "sum").contains(which),
      s"histogram_$which over an aggregated range function is not " +
        "scale-invariant; use the scalarized form, e.g. " +
        "sum(histogram_count(rate(h[w])))")
    val h = scanHist(m, sel, spec, rangeWSec.getOrElse(0L))
      .withColumn("_g", groupTags(col("tags"), labels, without))
    val perT = rangeWSec match {
      case Some(wSec) =>
        nativeHistWindowDeltas(h, sel.offsetSec, wSec, spec,
          groupCol = Some(col("_g")), isCounter = rfn != "delta")
      case None =>
        // instant form: each sample owns the grid instants from its own
        // time to just before the series' next sample (capped by
        // lookback) — ownedInstants with a histogram payload
        val w = Window.partitionBy(col("_g"), col("tags"))
          .orderBy(col("t").asc)
        val hs = struct(col("h_count").as("c"), col("h_sum_fp").as("s"),
          col("h_zero").as("z"), col("h_buckets").as("b"))
        val led = h.select(col("_g"), col("tags"), col("t"), hs.as("_h"))
          .withColumn("_next", lead(col("t"), 1).over(w))
        val te = col("t") + sel.offsetSec
        val upper = least(
          coalesce(col("_next") + sel.offsetSec - 1, lit(Long.MaxValue)),
          te + (spec.lookbackSec - 1), lit(spec.endSec))
        val kFirst = ceilDiv(
          greatest(te, lit(spec.startSec)) - spec.startSec, spec.stepSec)
        val kLast = floorDiv0(upper - spec.startSec, spec.stepSec)
        led
          .select(col("_g"), col("tags"), col("_h"),
            kFirst.as("_k0"), kLast.as("_k1"))
          .filter(col("_k0") <= col("_k1") && col("_k1") >= 0)
          .select(col("_g"), col("tags"), col("_h"),
            explode(sequence(greatest(col("_k0"), lit(0L)), col("_k1")))
              .as("_k"))
          .select(col("_g"), col("tags"),
            (lit(spec.startSec) + col("_k") * spec.stepSec).as("t"),
            col("_h.c").as("h_count"), col("_h.s").as("h_sum_fp"),
            col("_h.z").as("h_zero"), col("_h.b").as("h_buckets"))
    }
    val mergedRows = perT
      .groupBy(col("_g"), col("t"))
      .agg(sum(col("h_count")).as("_tc"), sum(col("h_sum_fp")).as("_ts"),
        sum(col("h_zero")).as("_tz"), count(lit(1)).as("_n"),
        collect_list(map_from_entries(col("h_buckets"))).as("_ms"))
    val hFrame = mergedRows.select(col("_g").as("tags"), col("t"),
      col("_tc").as("h_count"), col("_ts").as("h_sum_fp"),
      col("_tz").as("h_zero"),
      Rollup.bucketArray(Rollup.sumBucketMaps(col("_ms"))).as("h_buckets"),
      col("_n"))
    val scal = which match {
      case "count" if aggOp == "avg" =>
        hFrame.select(col("tags"), col("t"),
          floor(col("h_count").cast("double") * FP /
            col("_n").cast("double")).cast("long").as("v_fp"))
      case "sum" if aggOp == "avg" =>
        hFrame.select(col("tags"), col("t"),
          floor(col("h_sum_fp").cast("double") /
            col("_n").cast("double")).cast("long").as("v_fp"))
      case _ => histScalar(hFrame, which, params)
    }
    scal.select(col("tags"), col("t"), col("t").as("st"), col("v_fp"))
  }

  private def ceilDiv(num: Column, den: Long): Column =
    -floorDiv0(-num, den)
  private def floorDiv0(num: Column, den: Long): Column =
    floor(num.cast("double") / den).cast("long") // exact: |num| ≪ 2^52

  /** Samples (tags, t, v_fp) exploded to evaluation windows: one row per
    * (sample, grid T with T−w < t+offset ≤ T), with the consecutive-pair
    * state (prev value/time) computed ONCE per series BEFORE the
    * explode. Downstream range functions are plain aggregates over
    * (tags, T). Samples must be unique per (tags, t) — the selector scan
    * dedups; subquery inner grids are unique by construction.
    */
  private def rangeFrame(samples: DataFrame, offsetSec: Long, wSec: Long,
                         spec: RangeSpec): DataFrame = {
    val laged = spec.sliceSec match {
      case Some(sl) =>
        // skew-split lag: per (series, slice) with the previous slice's
        // trailing wSec replicated as context-only rows. Every emitted
        // pair's older endpoint lies within wSec of the newer one (the
        // pair-in-window rule filters the rest), so a slice-truncated
        // lag and the series-wide lag are output-identical — the
        // saltedTrailingWindow argument, entry-pinned by a shared
        // oracle.
        require(sl >= wSec,
          "sliceSec must cover the range window (context reaches back " +
            "exactly one slice)")
        val sliceOf = floor(col("t").cast("double") / sl).cast("long")
        val base = samples
          .withColumn("_slice", sliceOf).withColumn("_emit", lit(1))
        val ctx = samples
          .filter(col("t") - sliceOf * sl >= sl - wSec)
          .withColumn("_slice", sliceOf + 1).withColumn("_emit", lit(0))
        val wS = Window.partitionBy(col("tags"), col("_slice"))
          .orderBy(col("t").asc)
        // the EXPLICIT (tags, _slice) repartition is the whole point:
        // hash(tags) alone would satisfy the window's clustering via
        // the subset rule and the hot series would still sort on one
        // task — the skew split must be forced into the exchange
        base.unionByName(ctx)
          .repartition(col("tags"), col("_slice"))
          .select(col("tags"), col("t"), col("v_fp"), col("_emit"),
            lag(col("t"), 1).over(wS).as("_pt"),
            lag(col("v_fp"), 1).over(wS).as("_pv"))
          .filter(col("_emit") === 1)
          .drop("_emit")
      case None =>
        val w = Window.partitionBy(col("tags")).orderBy(col("t").asc)
        samples.select(col("tags"), col("t"), col("v_fp"),
          lag(col("t"), 1).over(w).as("_pt"),
          lag(col("v_fp"), 1).over(w).as("_pv"))
    }
    val te = col("t") + offsetSec
    val kFirst = ceilDiv(greatest(te, lit(spec.startSec)) - spec.startSec,
      spec.stepSec)
    val kLast = floorDiv0(
      least(te + (wSec - 1), lit(spec.endSec)) - spec.startSec, spec.stepSec)
    laged
      .select(col("*"), kFirst.as("_k0"), kLast.as("_k1"))
      .filter(col("_k0") <= col("_k1") && col("_k1") >= 0)
      .select(col("tags"), col("t"), col("v_fp"), col("_pt"), col("_pv"),
        explode(sequence(greatest(col("_k0"), lit(0L)), col("_k1")))
          .as("_k"))
      .select(col("tags"), (col("t") + offsetSec).as("te"),
        (lit(spec.startSec) + col("_k") * spec.stepSec).as("_gt"),
        col("t"), col("v_fp"),
        (col("_pt") + offsetSec).as("_pt"), col("_pv"))
  }

  /** Inner evaluation of `expr[w:step]`: run the sub-expression on its
    * own step-aligned grid reaching back `w` (+ offset) before the
    * outer range, and return its output as a samples frame for
    * [[rangeFrame]]. The inner grid aligns to ABSOLUTE multiples of the
    * inner step (PromQL's subquery alignment rule), not to the outer
    * start.
    */
  private def subquerySamples(m: DataFrame, sq: Subquery,
                              spec: RangeSpec): DataFrame = {
    val step = sq.stepSec.getOrElse(spec.stepSec)
    val lo = spec.startSec - sq.rangeSec - sq.offsetSec
    val innerStart = ((lo + step - 1) / step) * step // epoch secs ≥ 0
    val innerEnd = spec.endSec - sq.offsetSec
    require(innerStart <= innerEnd,
      "subquery range reaches past the query window")
    val innerSpec = RangeSpec(innerStart, innerEnd, step, spec.lookbackSec)
    evalExpr(m, sq.e, innerSpec) match {
      case VecV(df) => df.select(col("tags"), col("t"), col("v_fp"))
      case ScalV(df) => df.select(
        array().cast("array<string>").as("tags"), col("t"),
        floor(col("v") * FP).cast("long").as("v_fp"))
      case ConstV(c) => grid(m, innerSpec).select(
        array().cast("array<string>").as("tags"), col("t"),
        lit(math.floor(c * FPD).toLong).as("v_fp"))
    }
  }

  private def resolveAt(at: At, spec: RangeSpec): Long = at match {
    case AtTime(s) => s
    case AtStart => spec.startSec
    case AtEnd => spec.endSec
  }

  /** Repeat a one-instant result at every grid step (the `@` modifier's
    * evaluate-once semantics). The pinned side is series-sized.
    */
  private def pinToGrid(m: DataFrame, one: DataFrame,
                        spec: RangeSpec): DataFrame =
    grid(m, spec).withColumnRenamed("t", "_gpt")
      .crossJoin(one.drop("t"))
      .select(col("tags"), col("_gpt").as("t"), col("st"), col("v_fp"))

  // -------------------------------------------------------- range calls

  private val RangeFns = Set("rate", "increase", "delta", "irate", "idelta",
    "changes", "resets", "deriv", "predict_linear", "avg_over_time",
    "min_over_time", "max_over_time", "sum_over_time", "count_over_time",
    "last_over_time", "stddev_over_time", "stdvar_over_time",
    "quantile_over_time", "present_over_time", "absent_over_time",
    "holt_winters", "double_exponential_smoothing", "mad_over_time",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time")

  private def evalRangeFn(m: DataFrame, fn: String, args: Seq[Expr],
                          spec: RangeSpec): Val = {
    val (rangeExpr, extra) = fn match {
      case "quantile_over_time" =>
        (args(1), Seq(constArg(m, args(0), spec, fn)))
      case "predict_linear" =>
        (args(0), Seq(constArg(m, args(1), spec, fn)))
      case "holt_winters" | "double_exponential_smoothing" =>
        require(args.length == 3, s"$fn() expects (v[w], sf, tf)")
        (args(0), Seq(constArg(m, args(1), spec, fn),
          constArg(m, args(2), spec, fn)))
      case _ =>
        require(args.length == 1, s"$fn() expects one range-vector arg")
        (args(0), Nil)
    }
    rangeExpr match {
      case s: Selector if s.atSec.isDefined =>
        // @ on a range selector: evaluate the whole function at the
        // pinned instant once, repeat across the grid
        val t0 = resolveAt(s.atSec.get, spec)
        evalRangeFnOn(m, fn, s.copy(atSec = None), extra,
          RangeSpec(t0, t0, 1, spec.lookbackSec)) match {
          case VecV(df) => VecV(pinToGrid(m, df, spec))
          case other => other
        }
      case other => evalRangeFnOn(m, fn, other, extra, spec)
    }
  }

  private def evalRangeFnOn(m: DataFrame, fn: String, rangeExpr: Expr,
                            extra: Seq[Double], spec: RangeSpec): Val = {
    val (samples, wSec, offSec, sel) = rangeExpr match {
      case s: Selector =>
        val w = s.rangeSec.getOrElse(throw new IllegalArgumentException(
          s"$fn() needs a range selector or subquery"))
        (scan(m, s, spec, w), w, s.offsetSec, s)
      case sq: Subquery =>
        (subquerySamples(m, sq, spec), sq.rangeSec, sq.offsetSec,
          Selector(None, Nil, None, 0L)) // labels source for absent_*
      case _ => throw new IllegalArgumentException(
        s"$fn() needs a range selector or subquery")
    }
    val f = rangeFrame(samples, offSec, wSec, spec)
    val outTags = dropName(col("tags"))
    val grp = Seq(col("tags"), col("_gt"))
    // a consecutive pair is in-window iff its OLDER endpoint is too
    val pairIn = col("_pt").isNotNull && col("_pt") > col("_gt") - wSec
    val d = col("v_fp") - col("_pv")
    val counterAdj = when(!pairIn, lit(null))
      .when(d >= 0, d).otherwise(col("v_fp"))
    val gaugeAdj = when(!pairIn, lit(null)).otherwise(d)
    def finish(df: DataFrame, vCol: Column, keep: Column = lit(true)) =
      VecV(df.filter(keep && finiteFp(vCol))
        .select(outTags.as("tags"), col("_gt").as("t"), col("_gt").as("st"),
          vCol.cast("long").as("v_fp")))
    fn match {
      case "rate" | "increase" | "delta" =>
        val adj = if (fn == "delta") gaugeAdj else counterAdj
        val ord = struct(col("te").as("a"), col("v_fp").as("v"))
        val g = f.withColumn("_adj", adj)
          .groupBy(grp: _*)
          .agg(count(lit(1)).as("n"), min(col("te")).as("ft"),
            max(col("te")).as("lt"), min(ord).as("_first"),
            coalesce(sum(col("_adj")), lit(0L)).as("raw_fp"))
        finish(g, extrapolatedFp(fn, wSec))
      case "irate" | "idelta" =>
        // the row holding the window's LAST sample carries its own lag
        val pick = struct(col("te").as("a"), col("v_fp").as("v"),
          col("_pt").as("pt"), col("_pv").as("pv"))
        val g = f.filter(pairIn).groupBy(grp: _*).agg(max(pick).as("_l"))
        val lastD = col("_l.v") - col("_l.pv")
        val num = if (fn == "idelta") lastD
          else when(lastD >= 0, lastD).otherwise(col("_l.v"))
        val out = if (fn == "idelta") num
          else floor(sdiv(num.cast("double"),
            (col("_l.a") - col("_l.pt")).cast("double")))
        finish(g, out)
      case "changes" =>
        val flag = when(pairIn && col("v_fp") =!= col("_pv"), 1L)
          .otherwise(0L)
        finish(f.groupBy(grp: _*).agg(sum(flag).as("_c")),
          col("_c") * FP)
      case "resets" =>
        val flag = when(pairIn && col("v_fp") < col("_pv"), 1L).otherwise(0L)
        finish(f.groupBy(grp: _*).agg(sum(flag).as("_c")),
          col("_c") * FP)
      case "deriv" | "predict_linear" =>
        // exact decimal moment sums (the linearRegress discipline):
        // slope is shift-invariant in t, so raw epoch seconds are fine
        val tD = col("te").cast("decimal(38,0)")
        val yD = col("v_fp").cast("decimal(38,0)")
        val g = f.groupBy(grp: _*).agg(count(lit(1)).as("n"),
          sum(tD).as("st"), sum(yD).as("sy"),
          sum(tD * tD).as("stt"), sum(tD * yD).as("sty"))
        val nD = col("n").cast("double")
        val denom = col("n").cast("decimal(38,0)") * col("stt") -
          col("st") * col("st")
        val slopeFp = sdiv((col("n").cast("decimal(38,0)") * col("sty") -
          col("st") * col("sy")).cast("double"), denom.cast("double"))
        val out = if (fn == "deriv") floor(slopeFp)
          else {
            val horizon = lit(extra.head)
            val meanT = col("st").cast("double") / nD
            val meanY = col("sy").cast("double") / nD // fp grid already
            floor(meanY + slopeFp *
              (col("_gt").cast("double") - meanT + horizon))
          }
        finish(g, out, col("n") >= 2 && denom.cast("double") > 0.0)
      case "holt_winters" | "double_exponential_smoothing" =>
        // Prometheus smoothing fold on the 1e-6 grid: sf/tf quantized
        // to millionths, floored integer division at every step (the
        // TimeSeriesOps.holtWinters discipline — order-free across
        // engines). The per-(series, T) array is the range window, so
        // it is bounded by construction.
        val den = 1000000L
        val sfNum = Math.round(extra(0) * 1000000.0)
        val tfNum = Math.round(extra(1) * 1000000.0)
        require(sfNum > 0 && sfNum < den && tfNum > 0 && tfNum < den,
          s"$fn(): smoothing factors must be in (0, 1)")
        def fdiv(a: Column, d: Long): Column =
          ((a - pmod(a, lit(d))) / lit(d)).cast("long")
        val g = f.groupBy(grp: _*).agg(
          sort_array(collect_list(struct(col("te").as("a"),
            col("v_fp").as("x")))).as("_pts"),
          count(lit(1)).as("n"))
        val pts = col("_pts")
        val x1 = element_at(pts, 1).getField("x")
        val x2 = element_at(pts, 2).getField("x")
        val folded = aggregate(
          slice(pts, lit(2), greatest(size(pts) - 1, lit(0))),
          struct(x1.as("s"), (x2 - x1).as("b")),
          (st, p) => {
            val sm = st.getField("s"); val b = st.getField("b")
            val sNew = fdiv(lit(sfNum) * p.getField("x") +
              lit(den - sfNum) * (sm + b), den)
            val bNew = fdiv(lit(tfNum) * (sNew - sm) +
              lit(den - tfNum) * b, den)
            struct(sNew.as("s"), bNew.as("b"))
          })
        // when() evaluates the fold lazily: a single-sample window must
        // not touch element_at(pts, 2) (ANSI throws on out-of-bounds)
        finish(g, when(col("n") >= 2, folded.getField("s")))
      case "mad_over_time" =>
        // median absolute deviation (Prometheus 3 experimental):
        // median per window first, then the median of |x − med| — two
        // aggregate-sized passes joined on the group key
        val med = f.groupBy(grp: _*)
          .agg(percentile(col("v_fp"), lit(0.5)).as("_med"))
        val g = f.join(med, Seq("tags", "_gt"))
          .groupBy(grp: _*)
          .agg(percentile(abs(col("v_fp") - col("_med")), lit(0.5))
            .as("_mad"))
        finish(g, floor(col("_mad")))
      case "quantile_over_time" =>
        val g = f.groupBy(grp: _*)
          .agg(percentile(col("v_fp"), lit(extra.head)).as("_q"))
        finish(g, floor(col("_q")))
      case "present_over_time" =>
        finish(f.groupBy(grp: _*).agg(count(lit(1)).as("_n")), lit(FP))
      case "absent_over_time" =>
        VecV(absentFrame(m, f.select(col("_gt").as("t")).distinct(), sel,
          spec))
      case other =>
        val g = f.groupBy(grp: _*).agg(
          count(lit(1)).as("n"), sum(col("v_fp")).as("s"),
          min(col("v_fp")).as("mn"), max(col("v_fp")).as("mx"),
          max(struct(col("te").as("a"), col("v_fp").as("v"))).as("_lp"),
          // argmax/argmin sample time for the ts_of_* family — upstream
          // updates the winner on `<=`/`>=`, so ties on the value
          // resolve to the LATEST sample for BOTH max and min (min-by
          // value with the timestamp NEGATED inside the struct)
          max(struct(col("v_fp").as("v"), col("te").as("a"))).as("_mxp"),
          min(struct(col("v_fp").as("v"), (-col("te")).as("a"))).as("_mnp"),
          sum(col("v_fp").cast("decimal(38,0)") *
            col("v_fp").cast("decimal(38,0)")).as("ss"))
        val nD = col("n").cast("double")
        val meanD = col("s").cast("double") / nD
        val varFp2 = col("ss").cast("double") / nD - meanD * meanD
        other match {
          case "sum_over_time"   => finish(g, col("s"))
          case "count_over_time" => finish(g, col("n") * FP)
          case "min_over_time"   => finish(g, col("mn"))
          case "max_over_time"   => finish(g, col("mx"))
          case "avg_over_time"   => finish(g, floor(col("s") / col("n")))
          case "last_over_time"  => finish(g, col("_lp").getField("v"))
          case "stdvar_over_time" => finish(g, floor(varFp2 / FPD))
          case "stddev_over_time" => finish(g, floor(sqrt(varFp2)))
          // Prometheus 3.x's experimental ts_of_* family: the TIMESTAMP
          // (epoch seconds) of the last/extreme sample in the window
          case "ts_of_last_over_time" =>
            finish(g, col("_lp").getField("a") * FP)
          case "ts_of_max_over_time" =>
            finish(g, col("_mxp").getField("a") * FP)
          case "ts_of_min_over_time" =>
            finish(g, -col("_mnp").getField("a") * FP)
          case x => throw new IllegalArgumentException(s"unknown fn $x()")
        }
    }
  }

  // ------------------------------------------------------- aggregations

  private def groupTags(tags: Column, labels: Seq[String],
                        without: Boolean): Column =
    if (without) {
      val drop = (labels :+ Schema.MetricNameLabel).distinct
      filter(tags, x => drop.map(l => !x.startsWith(l + "="))
        .reduce(_ && _))
    } else if (labels.isEmpty) array().cast("array<string>")
    else filter(tags,
      x => labels.map(l => x.startsWith(l + "=")).reduce(_ || _))

  private def evalAgg(m: DataFrame, op: String, body: Expr,
                      param: Option[Expr], labels: Seq[String],
                      without: Boolean, spec: RangeSpec): Val = {
    val in = evalExpr(m, body, spec) match {
      case VecV(df) => df
      case _ => throw new IllegalArgumentException(
        s"$op() aggregates an instant vector")
    }
    val gt = groupTags(col("tags"), labels, without)
    op match {
      case "topk" | "bottomk" =>
        val k = constArg(m, param.get, spec, op).toLong
        require(k > 0, s"$op() needs k > 0")
        val ord =
          if (op == "topk")
            Seq(col("v_fp").desc, array_join(col("tags"), ",").asc)
          else Seq(col("v_fp").asc, array_join(col("tags"), ",").asc)
        val w = Window.partitionBy(col("_g"), col("t")).orderBy(ord: _*)
        VecV(in.withColumn("_g", gt)
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= k)
          .select(col("tags"), col("t"), col("st"), col("v_fp")))
      // limitk / limit_ratio (Prometheus's experimental sampling
      // aggregators): k-or-ratio SAMPLES of the input series, selection
      // keyed on a deterministic hash of the series labels so the same
      // series stay picked across grid steps (and across engines — md5
      // of the joined tag string, which the DuckDB oracle reproduces
      // verbatim; Prometheus likewise hashes the labelset, just with a
      // different hash function).
      case "limitk" =>
        val k = constArg(m, param.get, spec, op).toLong
        require(k > 0, "limitk() needs k > 0")
        val tagStr = array_join(col("tags"), ",")
        val w = Window.partitionBy(col("_g"), col("t"))
          .orderBy(md5(tagStr.cast("binary")).asc, tagStr.asc)
        VecV(in.withColumn("_g", gt)
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= k)
          .select(col("tags"), col("t"), col("st"), col("v_fp")))
      case "limit_ratio" =>
        val r = constArg(m, param.get, spec, op)
        require(r >= -1.0 && r <= 1.0, "limit_ratio() needs r in [-1, 1]")
        // hash-fraction = first 8 md5 hex chars, compared against the
        // PLAN-TIME threshold hex string (lexicographic = numeric on
        // fixed-width lowercase hex). r >= 0 keeps the low fraction,
        // r < 0 the complementary high one — Prometheus's contract that
        // limit_ratio(r, v) and limit_ratio(r-1, v) partition v.
        val frac8 = substring(
          md5(array_join(col("tags"), ",").cast("binary")), 1, 8)
        val keep =
          if (r >= 1.0 || r <= -1.0) lit(true)
          else if (r >= 0)
            frac8 < lit(f"${math.floor(r * 4294967296.0).toLong}%08x")
          else
            frac8 >= lit(
              f"${math.floor((1.0 + r) * 4294967296.0).toLong}%08x")
        VecV(in.filter(keep)
          .select(col("tags"), col("t"), col("st"), col("v_fp")))
      case "count_values" =>
        val label = param.get match {
          case StringLit(s) => s
          case _ => throw new IllegalArgumentException(
            "count_values() label must be a string literal")
        }
        // printed value = fp-grid double, trailing zeros trimmed — the
        // same text both engines derive from the same long
        val txt = printFp(col("v_fp"))
        val g = in.withColumn("_g", gt)
          .groupBy(col("_g"), col("t"),
            concat(lit(label + "="), txt).as("_pair"))
          .agg(count(lit(1)).as("n"))
        VecV(g.select(
          sort_array(array_union(col("_g"), array(col("_pair"))))
            .as("tags"),
          col("t"), col("t").as("st"), (col("n") * FP).as("v_fp")))
      case "quantile" =>
        val q = constArg(m, param.get, spec, op)
        val g = in.groupBy(gt.as("tags"), col("t"))
          .agg(percentile(col("v_fp"), lit(q)).as("_q"))
        VecV(g.select(col("tags"), col("t"), col("t").as("st"),
          floor(col("_q")).cast("long").as("v_fp")))
      case simple =>
        val g = in.groupBy(gt.as("tags"), col("t")).agg(
          count(lit(1)).as("n"), sum(col("v_fp")).as("s"),
          min(col("v_fp")).as("mn"), max(col("v_fp")).as("mx"),
          sum(col("v_fp").cast("decimal(38,0)") *
            col("v_fp").cast("decimal(38,0)")).as("ss"))
        val nD = col("n").cast("double")
        val meanD = col("s").cast("double") / nD
        val varFp2 = col("ss").cast("double") / nD - meanD * meanD
        val out = simple match {
          case "sum"    => col("s")
          case "count"  => col("n") * FP
          case "min"    => col("mn")
          case "max"    => col("mx")
          case "avg"    => floor(col("s") / col("n"))
          case "group"  => lit(FP)
          case "stdvar" => floor(varFp2 / FPD).cast("long")
          case "stddev" => floor(sqrt(varFp2)).cast("long")
          case x => throw new IllegalArgumentException(s"unknown agg $x()")
        }
        VecV(g.select(col("tags"), col("t"), col("t").as("st"),
          out.cast("long").as("v_fp")))
    }
  }

  // -------------------------------------------------------- binary ops

  private def evalBinOp(m: DataFrame, op: String, le: Expr, re: Expr,
                        boolMod: Boolean, matching: Option[Matching],
                        spec: RangeSpec): Val = {
    val lv = evalExpr(m, le, spec)
    val rv = evalExpr(m, re, spec)
    if (SetOps.contains(op)) return evalSetOp(op, lv, rv, matching)
    (lv, rv) match {
      case (ConstV(a), ConstV(b)) =>
        val r = scalarOp(op, a, b)
        if (CmpOps.contains(op)) {
          if (boolMod) ConstV(if (r != 0.0) 1.0 else 0.0)
          else throw new IllegalArgumentException(
            "comparisons between scalars need 'bool'")
        } else ConstV(r)
      case (VecV(l), VecV(r)) =>
        evalVecVec(op, l, r, boolMod, matching)
      case (VecV(l), _) =>
        val rCol = scalarColOf(rv)
        val joined = attachScalar(l, rv)
        vecScalar(op, joined, col("v_fp"), rCol, boolMod,
          leftIsVector = true)
      case (_, VecV(r)) =>
        val lCol = scalarColOf(lv)
        val joined = attachScalar(r, lv)
        vecScalar(op, joined, lCol, col("v_fp"), boolMod,
          leftIsVector = false)
      case (ScalV(l), ScalV(r)) =>
        val j = l.join(r.withColumnRenamed("v", "_rv"), "t")
        val out = dblOp(op, col("v"), col("_rv"))
        if (CmpOps.contains(op) && !boolMod)
          throw new IllegalArgumentException(
            "comparisons between scalars need 'bool'")
        ScalV(j.select(col("t"),
          (if (CmpOps.contains(op)) when(out =!= 0.0, 1.0).otherwise(0.0)
           else out).as("v")).filter(!isnan(col("v"))))
      case (ScalV(l), ConstV(b)) =>
        val out = dblOp(op, col("v"), lit(b))
        ScalV(l.select(col("t"),
          (if (CmpOps.contains(op)) when(out =!= 0.0, 1.0).otherwise(0.0)
           else out).as("v")).filter(!isnan(col("v"))))
      case (ConstV(a), ScalV(r)) =>
        val out = dblOp(op, lit(a), col("v"))
        ScalV(r.select(col("t"),
          (if (CmpOps.contains(op)) when(out =!= 0.0, 1.0).otherwise(0.0)
           else out).as("v")).filter(!isnan(col("v"))))
      case _ => throw new IllegalArgumentException(
        s"unsupported operand combination for $op")
    }
  }

  /** Vector ⊕ scalar: per-row double math, comparisons filter (or emit
    * 0/1 under bool); arithmetic and bool drop the metric name.
    */
  private def vecScalar(op: String, df: DataFrame, lCol: Column,
                        rCol: Column, boolMod: Boolean,
                        leftIsVector: Boolean): Val = {
    val lD = lCol.cast("double") / (if (leftIsVector) FPD else 1.0)
    val rD = rCol.cast("double") / (if (leftIsVector) 1.0 else FPD)
    if (CmpOps.contains(op)) {
      val keep = dblOp(op, lD, rD) =!= 0.0
      if (boolMod)
        VecV(df.select(dropName(col("tags")).as("tags"), col("t"),
          col("st"),
          when(keep, lit(FP)).otherwise(lit(0L)).as("v_fp")))
      else
        VecV(df.filter(keep)
          .select(col("tags"), col("t"), col("st"), col("v_fp")))
    } else {
      val out = dblOp(op, lD, rD)
      VecV(df.filter(finiteD(out))
        .select(dropName(col("tags")).as("tags"), col("t"), col("st"),
          floor(out * FP).cast("long").as("v_fp")))
    }
  }

  /** Vector-vector binop with PromQL vector matching. The match key is
    * the on() label subset (or all labels minus ignoring minus
    * __name__); ONE equi-join on (key, T). Output labels follow the
    * engine's documented contract: arithmetic/bool one-to-one carries
    * the match key; group_left/right carries the many side minus
    * __name__ plus include labels copied from the one side; filter
    * comparisons pass the left element through unchanged. The non-carry
    * side must be unique per (key, T) — aggregate it first (PromQL
    * raises on many-to-many; a violation here multiplies rows instead).
    */
  private def evalVecVec(op: String, l: DataFrame, r: DataFrame,
                         boolMod: Boolean,
                         matching: Option[Matching]): Val = {
    val m = matching.getOrElse(Matching(on = false, Nil, 0, Nil))
    def key(tags: Column): Column =
      if (m.on) groupTags(tags, m.labels, without = false)
      else groupTags(tags, m.labels, without = true)
    val lk = l.select(col("tags"), key(col("tags")).as("_k"), col("t"),
      col("st"), col("v_fp"))
    val rk = r.select(key(col("tags")).as("_k"), col("tags").as("_rtags"),
      col("t"), col("v_fp").as("_rv"))
    val j = lk.join(rk, Seq("_k", "t"))
    val lD = col("v_fp").cast("double") / FPD
    val rD = col("_rv").cast("double") / FPD
    val outTags: Column = m.side match {
      case 0 => col("_k")
      case 1 => carry(col("tags"), col("_rtags"), m.include)
      case 2 => carry(col("_rtags"), col("tags"), m.include)
    }
    if (CmpOps.contains(op)) {
      val keep = dblOp(op, lD, rD) =!= 0.0
      if (boolMod)
        VecV(j.select(outTags.as("tags"), col("t"), col("st"),
          when(keep, lit(FP)).otherwise(lit(0L)).as("v_fp")))
      else // filter semantics: the LEFT element passes through unchanged
        VecV(j.filter(keep)
          .select(col("tags"), col("t"), col("st"), col("v_fp")))
    } else {
      val out = dblOp(op, lD, rD)
      VecV(j.filter(finiteD(out))
        .select(outTags.as("tags"), col("t"), col("st"),
          floor(out * FP).cast("long").as("v_fp")))
    }
  }

  /** Many-side labels minus __name__, plus include labels copied from
    * the one side (overwriting any same-named label, as PromQL does).
    */
  private def carry(many: Column, one: Column,
                    include: Seq[String]): Column = {
    val base = dropName(many)
    if (include.isEmpty) base
    else {
      val cleaned = filter(base, x =>
        include.map(l => !x.startsWith(l + "=")).reduce(_ && _))
      val picked = filter(one, x =>
        include.map(l => x.startsWith(l + "=")).reduce(_ || _))
      sort_array(array_union(cleaned, picked))
    }
  }

  private def evalSetOp(op: String, lv: Val, rv: Val,
                        matching: Option[Matching]): Val = {
    val (l, r) = (lv, rv) match {
      case (VecV(a), VecV(b)) => (a, b)
      case _ => throw new IllegalArgumentException(
        s"set operator $op needs two instant vectors")
    }
    val m = matching.getOrElse(Matching(on = false, Nil, 0, Nil))
    def key(tags: Column): Column =
      if (m.on) groupTags(tags, m.labels, without = false)
      else if (m.labels.isEmpty) tags // default: full label identity
      else groupTags(tags, m.labels, without = true)
    val lk = l.withColumn("_k", key(col("tags")))
    val rKeys = r.select(key(col("tags")).as("_k"), col("t")).distinct()
    op match {
      case "and" =>
        VecV(lk.join(rKeys, Seq("_k", "t"), "left_semi").drop("_k"))
      case "unless" =>
        VecV(lk.join(rKeys, Seq("_k", "t"), "left_anti").drop("_k"))
      case "or" =>
        // rhs elements whose full label set is absent from lhs at T
        val lSets = l.select(col("tags"), col("t")).distinct()
        val extra = r.join(lSets, Seq("tags", "t"), "left_anti")
        VecV(l.unionByName(extra))
    }
  }

  // ----------------------------------------------------- instant calls

  private def evalCall(m: DataFrame, fn: String, args: Seq[Expr],
                       spec: RangeSpec): Val = {
    if (RangeFns.contains(fn)) return evalRangeFn(m, fn, args, spec)
    fn match {
      case "time" => ScalV(grid(m, spec)
        .select(col("t"), col("t").cast("double").as("v")))
      case "scalar" =>
        val v = vecArg(m, args(0), spec, fn)
        ScalV(v.groupBy(col("t"))
          .agg(count(lit(1)).as("_n"), max(col("v_fp")).as("_v"))
          .filter(col("_n") === 1)
          .select(col("t"), (col("_v").cast("double") / FPD).as("v")))
      case "vector" =>
        evalExpr(m, args(0), spec) match {
          case ConstV(c) =>
            VecV(grid(m, spec).select(
              array().cast("array<string>").as("tags"), col("t"),
              col("t").as("st"),
              lit(math.floor(c * FPD).toLong).as("v_fp")))
          case ScalV(df) =>
            VecV(df.select(array().cast("array<string>").as("tags"),
              col("t"), col("t").as("st"),
              floor(col("v") * FP).cast("long").as("v_fp")))
          case _ => throw new IllegalArgumentException(
            "vector() takes a scalar")
        }
      case "timestamp" =>
        val v = vecArg(m, args(0), spec, fn)
        VecV(v.select(dropName(col("tags")).as("tags"), col("t"),
          col("st"), (col("st") * FP).as("v_fp")))
      case "info" =>
        // Prometheus 3.x experimental info(): enrich every sample of
        // the base vector with the DATA labels of the info series
        // (default family target_info) sharing its identifying labels
        // (job, instance). A second selector argument picks the info
        // family and/or restricts the enrichment — its matchers both
        // FILTER the participating info series and NAME the data labels
        // to copy (the documented `info(v, {k8s_cluster_name="us"})`
        // shape). Samples with no matching info series pass through
        // unchanged; a data label already on the sample keeps the
        // sample's value; conflicting concurrent info series resolve
        // deterministically (max label set). Scale: the join key is
        // (job/instance, t) and the info side is target-cardinality —
        // a broadcast-able dimension join, never a data-sized shuffle.
        val v = vecArg(m, args(0), spec, fn)
        val infoSel = args.drop(1).headOption match {
          case None => Selector(Some("target_info"), Nil, None, 0L)
          case Some(s: Selector) if s.rangeSec.isEmpty =>
            if (s.name.isEmpty && !s.matchers.exists(_.label == "__name__"))
              s.copy(name = Some("target_info"))
            else s
          case _ => throw new IllegalArgumentException(
            "info() second argument must be an instant selector")
        }
        val copyNames = infoSel.matchers.map(_.label)
          .filter(_ != "__name__").distinct
        val idents = Seq("job", "instance")
        def identKey(tags: Column): Column =
          filter(tags, x =>
            idents.map(l => x.startsWith(l + "=")).reduce(_ || _))
        def dataOf(tags: Column): Column = {
          val nonIdent = filter(tags, x => (idents :+ "__name__")
            .map(l => !x.startsWith(l + "=")).reduce(_ && _))
          if (copyNames.isEmpty) nonIdent
          else filter(nonIdent, x =>
            copyNames.map(l => x.startsWith(l + "=")).reduce(_ || _))
        }
        val info2 = selectorInstant(m, infoSel, spec)
          .groupBy(identKey(col("tags")).as("_ik"), col("t").as("_it"))
          .agg(max(dataOf(col("tags"))).as("_dl"))
        val joined = v.withColumn("_bk", identKey(col("tags")))
          .join(info2,
            col("_bk") === col("_ik") && col("t") === col("_it"), "left")
          .withColumn("tags", when(col("_dl").isNull, col("tags"))
            .otherwise(sort_array(concat(col("tags"),
              filter(col("_dl"), x => !exists(col("tags"), b =>
                substring_index(b, "=", 1) ===
                  substring_index(x, "=", 1)))))))
          .select(col("tags"), col("t"), col("st"), col("v_fp"))
        VecV(joined)
      case "absent" =>
        val sel = args(0) match {
          case s: Selector => s
          case _ => throw new IllegalArgumentException(
            "absent() argument must be a selector in this engine")
        }
        val present = VecV(selectorInstant(m, sel, spec))
        VecV(absentFrame(m,
          present.df.select(col("t")).distinct(), sel, spec))
      case "histogram_quantile" =>
        val q = constArg(m, args(0), spec, fn)
        args(1) match {
          // a native-histogram store view evaluates the quantile on the
          // sparse-bucket SAMPLES directly — no classic le-flatten
          case s: Selector if hasNativeHist(m) =>
            VecV(nativeHistFn(m, s, spec, "quantile", Seq(q)))
          // the latency idiom: quantile of a windowed rate/increase of
          // native histograms — per-bucket deltas, then the rank search
          case Call(rfn, scala.collection.Seq(s: Selector))
              if hasNativeHist(m) && s.rangeSec.nonEmpty &&
                Set("rate", "increase", "delta").contains(rfn) =>
            VecV(nativeHistRangeFn(m, s, s.rangeSec.get, "quantile",
              Seq(q), spec, rfn))
          // the fleet panel: quantile of a CROSS-SERIES histogram sum —
          // sparse-bucket merge per (group, T), then the rank search
          case Agg(aop, inner, None, labels, without)
              if hasNativeHist(m) && Set("sum", "avg").contains(aop) &&
                histAggInner(inner).isDefined =>
            val (s2, wOpt, rfn2) = histAggInner(inner).get
            VecV(nativeHistAggFn(m, s2, spec, aop, labels, without, wOpt,
              "quantile", Seq(q), rfn2))
          case _ => VecV(histQuantile(vecArg(m, args(1), spec, fn), q))
        }
      case "histogram_count" | "histogram_sum" | "histogram_avg" |
           "histogram_stddev" | "histogram_stdvar" =>
        args(0) match {
          case sel: Selector if hasNativeHist(m) =>
            VecV(nativeHistFn(m, sel, spec, fn.stripPrefix("histogram_"),
              Nil))
          // histogram_count(rate(h[w])) / histogram_sum(rate(h[w])) —
          // the RPS-from-histograms idiom: the count/sum COMPONENT is
          // an ordinary counter series, so scalarize the store
          // (val_fp = the component) and reuse the Prometheus-exact
          // extrapolated rate machinery wholesale
          case Call(rfn, scala.collection.Seq(sel: Selector))
              if hasNativeHist(m) && sel.rangeSec.nonEmpty &&
                Set("rate", "increase", "delta", "irate", "idelta")
                  .contains(rfn) &&
                (fn == "histogram_count" || fn == "histogram_sum") =>
            val comp =
              if (fn == "histogram_count") col("h_count") * FP
              else col("h_sum_fp")
            val scalarized = m.select(
              (m.columns.filterNot(Set("h_count", "h_sum_fp", "h_zero",
                  "h_buckets", "val", "val_fp").contains)
                .map(col).toSeq :+ comp.as("val_fp") :+
                (comp / FPD).as("val")): _*)
            evalExpr(scalarized, Call(rfn, List(sel)), spec)
          // avg/stddev/stdvar of a windowed rate: ratios of deltas —
          // the window divisor and extrapolation cancel, so the
          // per-window DELTA histogram feeds the same derivations
          case Call(rfn, scala.collection.Seq(sel: Selector))
              if hasNativeHist(m) && sel.rangeSec.nonEmpty &&
                Set("rate", "increase", "delta").contains(rfn) =>
            VecV(nativeHistRangeFn(m, sel, sel.rangeSec.get,
              fn.stripPrefix("histogram_"), Nil, spec, rfn))
          case Agg(aop, inner, None, labels, without)
              if hasNativeHist(m) && Set("sum", "avg").contains(aop) &&
                histAggInner(inner).isDefined =>
            val (s2, wOpt, rfn2) = histAggInner(inner).get
            VecV(nativeHistAggFn(m, s2, spec, aop, labels, without, wOpt,
              fn.stripPrefix("histogram_"), Nil, rfn2))
          case _ => throw new IllegalArgumentException(
            s"$fn() needs a selector over a native-histogram store")
        }
      case "histogram_fraction" =>
        val lo = constArg(m, args(0), spec, fn)
        val hi = constArg(m, args(1), spec, fn)
        require(lo <= hi, "histogram_fraction: lower must be ≤ upper")
        args(2) match {
          case sel: Selector if hasNativeHist(m) =>
            VecV(nativeHistFn(m, sel, spec, "fraction", Seq(lo, hi)))
          case Call(rfn, scala.collection.Seq(sel: Selector))
              if hasNativeHist(m) && sel.rangeSec.nonEmpty &&
                Set("rate", "increase", "delta").contains(rfn) =>
            VecV(nativeHistRangeFn(m, sel, sel.rangeSec.get, "fraction",
              Seq(lo, hi), spec, rfn))
          case Agg(aop, inner, None, labels, without)
              if hasNativeHist(m) && Set("sum", "avg").contains(aop) &&
                histAggInner(inner).isDefined =>
            val (s2, wOpt, rfn2) = histAggInner(inner).get
            VecV(nativeHistAggFn(m, s2, spec, aop, labels, without, wOpt,
              "fraction", Seq(lo, hi), rfn2))
          case _ => throw new IllegalArgumentException(
            s"$fn() needs a selector over a native-histogram store")
        }
      case "label_replace" =>
        val v = vecArg(m, args(0), spec, fn)
        val ss = args.drop(1).map(strArg(_, fn))
        VecV(v.withColumn("tags",
          LabelOps.labelReplace(col("tags"), ss(0), ss(1), ss(2), ss(3))))
      case "label_join" =>
        val v = vecArg(m, args(0), spec, fn)
        val ss = args.drop(1).map(strArg(_, fn))
        VecV(v.withColumn("tags",
          LabelOps.labelJoin(col("tags"), ss(0), ss(1), ss.drop(2))))
      case "sort" | "sort_desc" =>
        // ordering is presentation-only on a set-valued frame; the
        // output edge orders deterministically
        VecV(vecArg(m, args(0), spec, fn))
      case "round" =>
        val to = if (args.length > 1) constArg(m, args(1), spec, fn)
          else 1.0
        require(to > 0, "round() divisor must be positive")
        mapFn(m, args(0), spec,
          d => floor(d / to + 0.5) * to)
      case "clamp" =>
        val lo = constArg(m, args(1), spec, fn)
        val hi = constArg(m, args(2), spec, fn)
        mapFn(m, args(0), spec, d => least(greatest(d, lit(lo)), lit(hi)))
      case "clamp_min" =>
        val lo = constArg(m, args(1), spec, fn)
        mapFn(m, args(0), spec, d => greatest(d, lit(lo)))
      case "clamp_max" =>
        val hi = constArg(m, args(1), spec, fn)
        mapFn(m, args(0), spec, d => least(d, lit(hi)))
      case "minute" | "hour" | "day_of_week" | "day_of_month" |
           "day_of_year" | "days_in_month" | "month" | "year" =>
        // calendar functions: the UTC field of the sample VALUE read as
        // epoch seconds; no argument = vector(time()) (the PromQL
        // default). Truncation toward zero matches time.Unix(int64(v)).
        val in = if (args.isEmpty)
          VecV(grid(m, spec).select(
            array().cast("array<string>").as("tags"), col("t"),
            col("t").as("st"), (col("t") * FP).as("v_fp")))
        else evalExpr(m, args(0), spec)
        val fieldOf: Column => Column = { sec =>
          val ts = timestamp_seconds(sec)
          fn match {
            case "minute" => minute(ts).cast("double")
            case "hour" => hour(ts).cast("double")
            // PromQL day_of_week: 0 = Sunday; Spark dayofweek: 1 = Sunday
            case "day_of_week" => (dayofweek(ts) - 1).cast("double")
            case "day_of_month" => dayofmonth(ts).cast("double")
            case "day_of_year" => dayofyear(ts).cast("double")
            case "days_in_month" => dayofmonth(last_day(ts)).cast("double")
            case "month" => month(ts).cast("double")
            case _ => year(ts).cast("double")
          }
        }
        in match {
          case VecV(df) =>
            val sec = (col("v_fp") / FP).cast("long")
            VecV(df.select(dropName(col("tags")).as("tags"), col("t"),
              col("st"), (fieldOf(sec) * FP).cast("long").as("v_fp")))
          case ScalV(df) =>
            ScalV(df.select(col("t"),
              fieldOf(col("v").cast("long")).as("v")))
          case ConstV(c) =>
            ConstV(evalDoubleFn(m, x => fieldOf(x.cast("long")), c))
        }
      case "abs"   => mapFn(m, args(0), spec, abs)
      case "ceil"  => mapFn(m, args(0), spec, ceil(_).cast("double"))
      case "floor" => mapFn(m, args(0), spec, floor(_).cast("double"))
      case "sqrt"  => mapFn(m, args(0), spec, sqrt)
      case "exp"   => mapFn(m, args(0), spec, exp)
      case "ln"    => mapFn(m, args(0), spec, log)
      case "log2"  => mapFn(m, args(0), spec, log2)
      case "log10" => mapFn(m, args(0), spec, log10)
      case "sgn"   => mapFn(m, args(0), spec, signum)
      case "sin"   => mapFn(m, args(0), spec, sin)
      case "cos"   => mapFn(m, args(0), spec, cos)
      case "tan"   => mapFn(m, args(0), spec, tan)
      case "asin"  => mapFn(m, args(0), spec, asin)
      case "acos"  => mapFn(m, args(0), spec, acos)
      case "atan"  => mapFn(m, args(0), spec, atan)
      case "sinh"  => mapFn(m, args(0), spec, sinh)
      case "cosh"  => mapFn(m, args(0), spec, cosh)
      case "tanh"  => mapFn(m, args(0), spec, tanh)
      // inverse hyperbolics (Go math identities; Spark has no builtins)
      case "asinh" => mapFn(m, args(0), spec,
        d => log(d + sqrt(d * d + 1.0)))
      case "acosh" => mapFn(m, args(0), spec,
        d => log(d + sqrt(d * d - 1.0)))
      case "atanh" => mapFn(m, args(0), spec,
        d => lit(0.5) * log((lit(1.0) + d) / (lit(1.0) - d)))
      case "deg"   => mapFn(m, args(0), spec, degrees)
      case "rad"   => mapFn(m, args(0), spec, radians)
      case "pi"    => ConstV(math.Pi)
      case "sort_by_label" | "sort_by_label_desc" =>
        // ordering is presentation-only on a set-valued frame; validate
        // the label arguments and pass the vector through
        args.drop(1).foreach(strArg(_, fn))
        VecV(vecArg(m, args(0), spec, fn))
      case other =>
        throw new IllegalArgumentException(s"unknown function $other()")
    }
  }

  /** Value-transform functions: per-row double map, metric name dropped
    * (they change what the value MEANS), non-finite results dropped
    * (finite-store contract).
    */
  private def mapFn(m: DataFrame, arg: Expr, spec: RangeSpec,
                    f: Column => Column): Val = {
    evalExpr(m, arg, spec) match {
      case VecV(df) =>
        val out = f(col("v_fp").cast("double") / FPD)
        VecV(df.filter(finiteD(out))
          .select(dropName(col("tags")).as("tags"), col("t"), col("st"),
            floor(out * FP).cast("long").as("v_fp")))
      case ScalV(df) =>
        val out = f(col("v"))
        ScalV(df.select(col("t"), out.as("v")).filter(!isnan(col("v"))))
      case ConstV(c) => ConstV(evalDoubleFn(m, f, c))
    }
  }

  /** Fold a column-level double function over a literal via a one-row
    * local plan — the SAME Catalyst expression the vector path runs, so
    * scalar and vector results cannot diverge. Constant-folds once per
    * query; never in a hot path.
    */
  private def evalDoubleFn(m: DataFrame, f: Column => Column,
                           c: Double): Double = {
    val row = m.sparkSession.range(1)
      .select(f(lit(c)).cast("double").as("v")).head()
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }

  /** PromQL histogram_quantile over an instant vector of `le`-labeled
    * cumulative bucket values: per (series-minus-le, T), running-max
    * monotonic repair, rank = q·total, interpolate inside the crossing
    * bucket (promql/quantile.go semantics — the grid twin of
    * TimeSeriesOps.histogramQuantile, which consumes windowed counter
    * increases instead).
    */
  private def histQuantile(in: DataFrame, q: Double): DataFrame = {
    require(q > 0 && q < 1, "q outside (0,1) is ±Inf by definition")
    val leStr = LabelOps.labelValue(col("tags"), "le")
    // a malformed (non-numeric) le value must SKIP its series, not 500:
    // under ANSI mode a plain cast throws, so gate it on a numeric-shape
    // match — unparseable le → null → the isNotNull filter drops it,
    // Prometheus's own behavior for junk bucket labels
    val leNum = when(
      leStr.rlike("^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"),
      leStr.cast("double"))
    val le = when(leStr === "+Inf" || leStr === "Inf",
      lit(Double.PositiveInfinity)).otherwise(leNum)
    val base = in
      .withColumn("_le", le)
      .filter(col("_le").isNotNull)
      .withColumn("_g", filter(col("tags"), x =>
        !x.startsWith("le=") &&
          !x.startsWith(Schema.MetricNameLabel + "=")))
    val part = Seq(col("_g"), col("t"))
    val wRun = Window.partitionBy(part: _*).orderBy(col("_le").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(part: _*)
    val wLag = Window.partitionBy(part: _*).orderBy(col("_le").asc)
    val staged = base
      .select(col("*"), max(col("v_fp")).over(wRun).as("_rep"))
      .select(col("*"),
        lag(col("_le"), 1).over(wLag).as("_ple"),
        lag(col("_rep"), 1).over(wLag).as("_prep"),
        max(col("_rep")).over(wAll).as("_tot"))
    val rank = lit(q) * col("_tot").cast("double")
    val repD = col("_rep").cast("double")
    val prevD = col("_prep").cast("double")
    val crossing = repD >= rank && (col("_prep").isNull || prevD < rank)
    val res = when(col("_le") === Double.PositiveInfinity, col("_ple"))
      .when(col("_prep").isNull, col("_le") * sdiv(rank, repD))
      .otherwise(col("_ple") + (col("_le") - col("_ple")) *
        sdiv(rank - prevD, repD - prevD))
    staged.filter(col("_tot") > 0 && crossing && finiteD(res))
      .select(col("_g").as("tags"), col("t"), col("t").as("st"),
        floor(res * FP).cast("long").as("v_fp"))
  }

  /** absent()/absent_over_time(): value 1 at every grid instant the
    * argument has no elements, labeled by the selector's EQ matchers
    * (PromQL's absent label derivation).
    */
  private def absentFrame(m: DataFrame, presentTs: DataFrame, s: Selector,
                          spec: RangeSpec): DataFrame = {
    val lbls = (s.name.map(n => Schema.MetricNameLabel + "=" + n).toSeq ++
      s.matchers.collect {
        case Matcher(l, MEq, v) if v.nonEmpty => l + "=" + v
      }).distinct.sorted
    grid(m, spec).join(presentTs, Seq("t"), "left_anti")
      .select(lit(lbls.toArray).cast("array<string>").as("tags"), col("t"),
        col("t").as("st"), lit(FP).as("v_fp"))
  }

  // ------------------------------------------------------------ helpers

  /** `rate`/`increase`/`delta` on the 1e-6 grid from the per-(series, T)
    * aggregate (`n`, `ft`, `lt`, `_first.v`, `raw_fp`, `_gt`): one
    * [[graft.expressions.Kernels.extrapolatedIncrease]] call over the
    * window (T − w, T]. NULL, which [[finiteFp]] drops, below two samples
    * or on a zero span.
    */
  private[graft] def extrapolatedFp(fn: String, wSec: Long): Column = {
    val inc = GraftExtensions.extrapolatedIncrease(col("n"), col("ft"),
      col("lt"), col("_first").getField("v"), col("raw_fp"),
      col("_gt") - wSec, col("_gt"), counter = fn != "delta")
    floor((if (fn == "rate") inc / wSec else inc) * FP)
  }

  /** ANSI-safe double division: null (dropped downstream) instead of the
    * ANSI DIVIDE_BY_ZERO error — the finite-store contract's spelling of
    * x/0, and what keeps the evaluator runnable under the session's ANSI
    * mode.
    */
  private def sdiv(a: Column, b: Column): Column =
    when(b =!= 0.0, a / b)
  private def smod(a: Column, b: Column): Column =
    when(b =!= 0.0, a % b)

  private def dropName(tags: Column): Column =
    filter(tags, x => !x.startsWith(Schema.MetricNameLabel + "="))

  /** Finite-result guard on a double column: NULL, NaN (Spark orders it
    * above every double) and ±Inf drop. Filter-only (NULL, not false, on
    * a NULL input), and it references `c` once, so filter pushdown
    * inlines one copy of the guarded expression, not one per comparison.
    */
  private[graft] def finiteD(c: Column): Column =
    abs(c) < Double.PositiveInfinity
  /** Same, applied before the long cast of a floored fp expression:
    * |x| ≥ 9.2e18 drops too (it would not fit the long).
    */
  private[graft] def finiteFp(c: Column): Column =
    abs(c.cast("double")) < 9.2e18

  /** Fixed-point long printed as PromQL prints the double: up to six
    * decimals, trailing zeros (and a bare dot) trimmed. Sign handled
    * separately so −0.5 doesn't lose it to integer truncation.
    */
  private def printFp(fp: Column): Column =
    regexp_replace(
      regexp_replace(
        concat(when(fp < 0, lit("-")).otherwise(lit("")),
          format_string("%d.%06d", (abs(fp) / FP).cast("long"),
            (abs(fp) % FP).cast("long"))),
        "0+$", ""),
      "\\.$", "")

  private def scalarOp(op: String, a: Double, b: Double): Double =
    op match {
      case "+" => a + b
      case "-" => a - b
      case "*" => a * b
      case "/" => a / b
      case "%" => a % b
      case "^" => math.pow(a, b)
      case "atan2" => math.atan2(a, b)
      case "==" => if (a == b) 1.0 else 0.0
      case "!=" => if (a != b) 1.0 else 0.0
      case "<" => if (a < b) 1.0 else 0.0
      case "<=" => if (a <= b) 1.0 else 0.0
      case ">" => if (a > b) 1.0 else 0.0
      case ">=" => if (a >= b) 1.0 else 0.0
      case x => throw new IllegalArgumentException(s"unknown operator $x")
    }

  private def dblOp(op: String, a: Column, b: Column): Column = op match {
    case "+" => a + b
    case "-" => a - b
    case "*" => a * b
    case "/" => sdiv(a, b)
    case "%" => smod(a, b)
    case "^" => pow(a, b)
    case "atan2" => atan2(a, b)
    case "==" => when(a === b, 1.0).otherwise(0.0)
    case "!=" => when(a =!= b, 1.0).otherwise(0.0)
    case "<" => when(a < b, 1.0).otherwise(0.0)
    case "<=" => when(a <= b, 1.0).otherwise(0.0)
    case ">" => when(a > b, 1.0).otherwise(0.0)
    case ">=" => when(a >= b, 1.0).otherwise(0.0)
    case x => throw new IllegalArgumentException(s"unknown operator $x")
  }

  private def scalarColOf(v: Val): Column = v match {
    case ConstV(c) => lit(c)
    case ScalV(_) => col("_sv")
    case _ => throw new IllegalStateException("not a scalar")
  }
  /** Join a per-T scalar frame onto a vector frame (constants attach as
    * literals with no join).
    */
  private def attachScalar(vec: DataFrame, s: Val): DataFrame = s match {
    case ConstV(_) => vec
    case ScalV(df) => vec.join(df.withColumnRenamed("v", "_sv"), "t")
    case _ => throw new IllegalStateException("not a scalar")
  }

  private def selArg(e: Expr, fn: String): Selector = e match {
    case s: Selector => s
    case _ => throw new IllegalArgumentException(
      s"$fn() expects a range selector argument")
  }
  private def vecArg(m: DataFrame, e: Expr, spec: RangeSpec,
                     fn: String): DataFrame =
    evalExpr(m, e, spec) match {
      case VecV(df) => df
      case _ => throw new IllegalArgumentException(
        s"$fn() expects an instant vector argument")
    }
  private def strArg(e: Expr, fn: String): String = e match {
    case StringLit(s) => s
    case _ => throw new IllegalArgumentException(
      s"$fn() expects a string literal")
  }
  /** Numeric parameter that must fold to a constant (k, q, horizon). */
  private def constArg(m: DataFrame, e: Expr, spec: RangeSpec,
                       fn: String): Double =
    evalExpr(m, e, spec) match {
      case ConstV(c) => c
      case _ => throw new IllegalArgumentException(
        s"$fn() parameter must be a constant scalar")
    }
}
