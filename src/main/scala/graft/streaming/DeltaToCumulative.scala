package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** DELTA→CUMULATIVE temporality conversion — the opt-in bridge for OTel
  * SDKs exporting delta sums/histograms (the Prometheus 3.x OTLP
  * receiver's otlp-deltatocumulative feature, re-expressed Spark-first).
  * A delta point carries the INCREMENT since the previous export; the
  * store's canonical samples are counter LEVELS — the conversion is a
  * per-series running sum with staleness-bounded state:
  *
  *   - per series, points accumulate in time order:
  *     cumulative(tᵢ) = Σ delta(t≤ᵢ) within the series' current run;
  *   - RESET ON GAP: a point arriving more than `maxStaleMs` after the
  *     series' previous point starts a fresh run at its own delta value
  *     (the receiver drops idle state after max_stale; downstream PromQL
  *     reads the level drop as an ordinary counter reset);
  *   - an out-of-order point (ts ≤ the series' last seen ts) is DROPPED,
  *     the receiver rule — summing it would corrupt every later level.
  *
  * Two equivalent forms, one contract ([[StreamingRate]]'s discipline
  * inverted — that op differentiates cumulative levels, this one
  * integrates deltas):
  *
  *   - [[statefulCumulate]]: Structured Streaming, one (ts, runningSum)
  *     pair of keyed state per live series — constant-size, partitioned
  *     by series key across executors, checkpointed. The 100 TB path:
  *     state never scales with history, only with live cardinality.
  *   - [[convertBatch]]: the batch twin over at-rest deltas — gap-break
  *     islands via lag(), running sum per island. Replay/backfill tool
  *     and the oracle the streaming form must match.
  *
  * The per-point rule itself is [[cumulate]], which the streaming forms
  * and the live `/otlp` receiver (`serve.Server`) all call.
  */
object DeltaToCumulative {

  /** A run's value type: how a delta adds onto the running level, and
    * an ordering under which, of two points at one timestamp, the
    * smaller is the one a run keeps (every form breaks the tie alike).
    */
  trait RunValue[V] extends Ordering[V] { def add(level: V, delta: V): V }

  /** A delta exp-histogram's increments: count/sum/zero companions and
    * the sparse positive buckets (OTLP/native index → increment). Two
    * points at one timestamp order by (count, sum).
    */
  case class HistDelta(count: Long, sum: Double, zero: Long,
                       buckets: Map[Int, Long])

  object RunValue {
    implicit val scalar: RunValue[Double] = new RunValue[Double] {
      def add(level: Double, delta: Double): Double = level + delta
      def compare(a: Double, b: Double): Int = java.lang.Double.compare(a, b)
    }
    implicit val hist: RunValue[HistDelta] = new RunValue[HistDelta] {
      def add(level: HistDelta, d: HistDelta): HistDelta =
        HistDelta(level.count + d.count, level.sum + d.sum,
          level.zero + d.zero, d.buckets.foldLeft(level.buckets) {
            case (acc, (i, c)) => acc + (i -> (acc.getOrElse(i, 0L) + c))
          })
      def compare(a: HistDelta, b: HistDelta): Int = {
        val c = java.lang.Long.compare(a.count, b.count)
        if (c != 0) c else java.lang.Double.compare(a.sum, b.sum)
      }
    }
  }

  /** The per-point rule of a delta run, written once for the streaming
    * forms and the live receiver: one series' `points`, taken in
    * (ts, value) order from the run `(lastTs, level)` left by earlier
    * points. A point at or before the last timestamp drops; one within
    * `maxStaleMs` of it adds onto the level; any other starts a fresh
    * run at its own delta. Returns each kept point with its cumulative
    * level, and the run after the last point.
    */
  def cumulate[P, V](run: Option[(Long, V)], points: Seq[P],
                     maxStaleMs: Long)(ts: P => Long, delta: P => V)
                    (implicit rv: RunValue[V])
      : (Seq[(P, V)], Option[(Long, V)]) = {
    var st = run
    val out = points.sortBy(p => (ts(p), delta(p)))(
        Ordering.Tuple2(Ordering.Long, rv)).flatMap { p =>
      val t = ts(p)
      val level = st match {
        case Some((lastTs, _)) if t <= lastTs => None
        case Some((lastTs, l)) if t - lastTs <= maxStaleMs =>
          Some(rv.add(l, delta(p)))
        case _ => Some(delta(p))
      }
      level.foreach(l => st = Some((t, l)))
      level.map(p -> _)
    }
    (out, st)
  }

  /** Keyed state per `series` across micro-batches, with an
    * EventTimeTimeout TTL so state tracks LIVE cardinality, not
    * all-time: each update arms a timeout `maxStaleMs` past the
    * series' own last event time (never at or below the watermark —
    * GroupState rejects that), and a fired timeout removes the state.
    * Semantics are unchanged by eviction: a post-gap point restarts
    * the run either way, and the eviction deadline is PER SERIES (its
    * own lastTs), so a live-but-lagging exporter never loses its run
    * to another series' clock — the watermark only gates when a silent
    * series' state may be dropped. `step` runs one micro-batch of one
    * series from its state.
    */
  private def keyedRuns[I: Encoder, S: Encoder, O: Encoder](
      deltas: DataFrame, maxStaleMs: Long, series: I => String,
      lastTs: S => Long)(step: (String, Seq[I], Option[S]) => (Seq[O], Option[S]))
      : Dataset[O] =
    deltas
      .withColumn("_ets", timestamp_millis(col("ts")))
      .withWatermark("_ets", s"$maxStaleMs milliseconds")
      .as[I]
      .groupByKey(series)(Encoders.STRING)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[I], state: GroupState[S]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (out, st) = step(key, rows.toSeq, state.getOption)
            st.foreach { s =>
              state.update(s)
              // every invocation clears the registered timeout — re-arm
              // the series' own staleness deadline each time
              state.setTimeoutTimestamp(math.max(lastTs(s) + maxStaleMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }

  /** One flat delta sample: `series` is the full sorted `k=v` label
    * join (the series identity), `ts` epoch milliseconds, `value` the
    * interval increment.
    */
  case class In(series: String, ts: Long, value: Double)
  case class RunState(lastTs: Long, running: Double)
  case class Out(series: String, ts: Long, value: Double)

  /** Streaming form: one (ts, runningSum) pair of keyed state per live
    * series ([[keyedRuns]]), each micro-batch cumulated by
    * [[cumulate]]. Duplicate timestamps within a series keep the
    * smallest value (deterministic tiebreak shared with
    * [[convertBatch]]); later same-ts points drop as out-of-order.
    */
  def statefulCumulate(deltas: DataFrame, maxStaleMs: Long): Dataset[Out] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    keyedRuns[In, RunState, Out](deltas, maxStaleMs, _.series, _.lastTs) {
      (series, rows, state) =>
        val (out, run) = cumulate(state.map(s => (s.lastTs, s.running)),
          rows, maxStaleMs)(_.ts, _.value)
        (out.map { case (r, level) => Out(series, r.ts, level) },
          run.map { case (t, level) => RunState(t, level) })
    }
  }

  /** One flat delta EXP-HISTOGRAM sample: per-interval increments of
    * the count/sum/zero companions and the sparse positive buckets
    * (OTLP/native index → increment). The conversion twins below apply
    * the scalar state rules PER BUCKET under one series-level run.
    */
  case class HistIn(series: String, ts: Long, count: Long, sum: Double,
                    zero: Long, buckets: Map[Int, Long])
  case class HistRunState(lastTs: Long, count: Long, sum: Double,
                          zero: Long, buckets: Map[Int, Long])
  case class HistOut(series: String, ts: Long, count: Long, sum: Double,
                     zero: Long, buckets: Map[Int, Long])

  /** [[statefulCumulate]]'s exponential-histogram twin: the same keyed
    * state and the same [[cumulate]] rule, with the running value a
    * [[HistDelta]] whose bucket map merges per point. Duplicate
    * timestamps keep the smallest (count, sum) — [[convertBatchExpHist]]'s
    * rule.
    */
  def statefulCumulateExpHist(deltas: DataFrame,
                              maxStaleMs: Long): Dataset[HistOut] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    keyedRuns[HistIn, HistRunState, HistOut](deltas, maxStaleMs, _.series,
        _.lastTs) { (series, rows, state) =>
      val (out, run) = cumulate(
        state.map(s => (s.lastTs, HistDelta(s.count, s.sum, s.zero, s.buckets))),
        rows, maxStaleMs)(_.ts, r => HistDelta(r.count, r.sum, r.zero, r.buckets))
      (out.map { case (r, h) =>
          HistOut(series, r.ts, h.count, h.sum, h.zero, h.buckets) },
        run.map { case (t, h) =>
          HistRunState(t, h.count, h.sum, h.zero, h.buckets) })
    }
  }

  /** [[convertBatch]]'s exponential-histogram twin over columns
    * (series, ts, count, sum, zero, buckets map<int,long>): islands
    * from the series-level gap rule, then running sums of the scalar
    * companions and a map_zip_with fold of the bucket maps per island.
    */
  def convertBatchExpHist(deltas: DataFrame,
                          maxStaleMs: Long): DataFrame = {
    val wOrd = Window.partitionBy(col("series")).orderBy(col("ts").asc)
    val base = deltas
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("series"), col("ts"))
          .orderBy(col("count").asc, col("sum").asc)))
      .filter(col("_rn") === 1).drop("_rn")
      .withColumn("_gap", col("ts") - lag(col("ts"), 1).over(wOrd))
      .withColumn("_isl", sum(when(col("_gap").isNull ||
        col("_gap") > maxStaleMs, 1L).otherwise(0L)).over(wOrd))
    val wRun = Window.partitionBy(col("series"), col("_isl"))
      .orderBy(col("ts").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val maps = collect_list(col("buckets")).over(wRun)
    base.select(col("series"), col("ts"),
      sum(col("count")).over(wRun).as("count"),
      sum(col("sum")).over(wRun).as("sum"),
      sum(col("zero")).over(wRun).as("zero"),
      aggregate(slice(maps, lit(2), greatest(size(maps) - 1, lit(0))),
        element_at(maps, 1),
        (acc, mm) => map_zip_with(acc, mm, (_, a, b) =>
          coalesce(a, lit(0L)) + coalesce(b, lit(0L)))).as("buckets"))
  }

  /** Batch twin over columns (series, ts, value): same contract, window
    * functions instead of keyed state. Islands break where the gap to
    * the previous point exceeds `maxStaleMs`; the running sum restarts
    * per island. Duplicate-ts points within a series keep the SMALLEST
    * value — a deterministic tiebreak shared with the streaming form
    * (later ones are out-of-order by the streaming rule).
    */
  def convertBatch(deltas: DataFrame, maxStaleMs: Long): DataFrame = {
    val wOrd = Window.partitionBy(col("series")).orderBy(col("ts").asc)
    deltas
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("series"), col("ts"))
          .orderBy(col("value").asc)))
      .filter(col("_rn") === 1)
      .withColumn("_gap", col("ts") - lag(col("ts"), 1).over(wOrd))
      .withColumn("_isl", sum(when(col("_gap").isNull ||
        col("_gap") > maxStaleMs, 1L).otherwise(0L)).over(wOrd))
      .withColumn("value", sum(col("value")).over(
        Window.partitionBy(col("series"), col("_isl"))
          .orderBy(col("ts").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("series"), col("ts"), col("value"))
  }
}
