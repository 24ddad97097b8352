package graft

import graft.operators.TimeSeriesOps
import graft.promql.Eval
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** The extrapolated-increase kernel against the Column formula it
  * replaced. The reference below is that formula verbatim (PromQL
  * `rate`/`increase`/`delta` in `Eval`, `TimeSeriesOps.extrapolatedRate`),
  * evaluated by Spark on the same generated per-window aggregates as the
  * production path: every output value must be equal and the same rows
  * must drop.
  */
object RateKernelProperties extends Properties("extrapolated-rate") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  // each case runs three Spark jobs over a batch of aggregates
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  /** One range window's aggregate; `first` = the first sample's fp value. */
  case class Agg(n: Long, ft: Long, lt: Long, first: Option[Long],
                 raw: Long, rangeStart: Long, rangeEnd: Long)

  /** (span, n) whose mean interval times 1.1 is an exact whole double:
    * a boundary gap of exactly that many seconds hits the threshold.
    */
  private val exactThresholds: IndexedSeq[(Long, Long, Long)] =
    for {
      span <- 1L to 600L
      k <- 1L to 40L
      thr = (span.toDouble / k) * 1.1
      if thr == math.rint(thr)
    } yield (span, k + 1, thr.toLong)

  private def aggGen(rangeStart: Long, rangeEnd: Long): Gen[Agg] = {
    val w = rangeEnd - rangeStart
    val n = Gen.frequency(2 -> Gen.const(1L), 3 -> Gen.const(2L),
      5 -> Gen.choose(3L, 1000L))
    val ft = Gen.frequency(2 -> Gen.const(rangeStart),
      2 -> Gen.const(rangeStart + 1), 5 -> Gen.choose(rangeStart, rangeEnd))
    val raw = Gen.frequency(2 -> Gen.const(0L),
      3 -> Gen.choose(-5000000000L, -1L), 5 -> Gen.choose(1L, 50000000000L),
      1 -> Gen.choose(1L << 60, Long.MaxValue / 2))
    val first = Gen.frequency(1 -> Gen.const(None),
      2 -> Gen.some(Gen.choose(-3000000000L, -1L)), 2 -> Gen.const(Some(0L)),
      5 -> Gen.some(Gen.choose(1L, 90000000000L)),
      1 -> Gen.some(Gen.choose(1L << 55, 1L << 62)))
    val free = for {
      nn <- n; f <- ft
      l <- Gen.frequency(2 -> Gen.const(f), 2 -> Gen.const(rangeEnd),
        2 -> Gen.const(rangeEnd - 1), 5 -> Gen.choose(f, rangeEnd))
      fv <- first; r <- raw
    } yield Agg(nn, f, l, fv, r, rangeStart, rangeEnd)
    // a boundary gap equal to 1.1 × the mean interval, at either edge
    val onThreshold = for {
      (span, nn, thr) <- Gen.oneOf(exactThresholds)
      atStart <- Gen.oneOf(true, false)
      fv <- first; r <- raw
    } yield {
      val f = if (atStart) rangeStart + thr else rangeEnd - thr - span
      Agg(nn, f, f + span, fv, r, rangeStart, rangeEnd)
    }
    if (w > 0) Gen.frequency(4 -> free, 1 -> onThreshold) else free
  }

  // ------------------------------------------------ PromQL (Eval) path

  private val FP = 1000000L
  private val FPD = 1000000.0
  private def sdiv(a: Column, b: Column): Column = when(b =!= 0.0, a / b)
  private def finiteFpRef(c: Column): Column =
    c.isNotNull && !isnan(c.cast("double")) &&
      c.cast("double") > -9.2e18 && c.cast("double") < 9.2e18

  /** The replaced `rate | increase | delta` branch: (value, keep). */
  private def promqlRef(fn: String, wSec: Long): (Column, Column) = {
    val si = (col("lt") - col("ft")).cast("double")
    val rawD = col("raw_fp") / FPD
    val fvD = col("_first").getField("v") / FPD
    val avgS = sdiv(si, (col("n") - 1).cast("double"))
    val ds0 = (col("ft") - (col("_gt") - wSec)).cast("double")
    val de0 = (col("_gt") - col("lt")).cast("double")
    val ds1 = if (fn == "delta") ds0
      else when(rawD > 0.0 && fvD >= 0.0, least(ds0, si * (fvD / rawD)))
        .otherwise(ds0)
    val thr = avgS * 1.1
    val ds = when(ds1 >= thr, avgS / 2.0).otherwise(ds1)
    val de = when(de0 >= thr, avgS / 2.0).otherwise(de0)
    val inc = rawD * sdiv(si + ds + de, si)
    val out = if (fn == "rate") inc / wSec else inc
    (floor(out * FP), col("n") >= 2 && si > 0.0)
  }

  private def promqlFrame(aggs: Seq[Agg]): DataFrame =
    aggs.zipWithIndex.map { case (a, i) =>
      (i, a.n, a.ft, a.lt, a.ft, a.first, a.raw, a.rangeEnd)
    }.toDF("id", "n", "ft", "lt", "fa", "fv", "raw_fp", "_gt")
      .select(col("*"), struct(col("fa").as("a"), col("fv").as("v"))
        .as("_first"))

  private def collectFp(df: DataFrame): Map[Int, Long] =
    df.as[(Int, Long)].collect().toMap

  /** `run` over the aggregate both ways Spark evaluates the kernel:
    * interpreted (the optimizer folds a filter and projection over a
    * local relation) and generated code (behind an exchange, with the
    * interpreted fallback off, so a codegen error fails the property).
    */
  private def bothPaths[T](g: DataFrame)(run: DataFrame => T): Seq[T] = {
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val interpreted = run(g)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try Seq(interpreted, run(g.repartition(2)))
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def promqlAgrees(fn: String, wSec: Long, aggs: Seq[Agg]): Boolean = {
    val g = promqlFrame(aggs)
    val (refV, keep) = promqlRef(fn, wSec)
    val ref = collectFp(g.filter(keep && finiteFpRef(refV))
      .select(col("id"), refV.cast("long")))
    val v = Eval.extrapolatedFp(fn, wSec)
    bothPaths(g)(h => collectFp(h.filter(Eval.finiteFp(v))
      .select(col("id"), v.cast("long")))).forall(_ == ref)
  }

  private val windowSec = Gen.oneOf(7L, 60L, 300L, 3600L)
  private def promqlBatch(wSec: Long): Gen[Seq[Agg]] = for {
    k <- Gen.choose(1, 80)
    aggs <- Gen.listOfN(k, Gen.choose(1000L, 4000000000L)
      .flatMap(gt => aggGen(gt - wSec, gt)))
  } yield aggs

  Seq("rate", "increase", "delta").foreach { fn =>
    property(s"PromQL $fn v_fp: kernel == Column formula, same rows dropped") =
      forAllNoShrink(windowSec.flatMap(w => promqlBatch(w).map(w -> _))) {
        case (w, aggs) => promqlAgrees(fn, w, aggs)
      }
  }

  // ------------------------------------- TimeSeriesOps.extrapolatedRate

  /** The replaced `extrapolatedRate` tail: increase_fp, rate_fp. */
  private def tsoRef(grouped: DataFrame, bucketSec: Long,
                     isCounter: Boolean): DataFrame = {
    val si = (col("_lt") - col("_ft")).cast("double")
    val rawD = col("_raw_fp") / lit(1000000.0)
    val fvD = col("_first").getField("v") / lit(1000000.0)
    val avg = si / (col("n_samples") - 1).cast("double")
    val ds0 = (col("_ft") - col("bucket") * bucketSec).cast("double")
    val de0 = ((col("bucket") + 1) * bucketSec - col("_lt")).cast("double")
    val ds1 = if (isCounter) {
      when(rawD > 0.0 && fvD >= 0.0, least(ds0, si * (fvD / rawD)))
        .otherwise(ds0)
    } else ds0
    val thr = avg * 1.1
    val ds = when(ds1 >= thr, avg / 2.0).otherwise(ds1)
    val de = when(de0 >= thr, avg / 2.0).otherwise(de0)
    val inc = rawD * ((si + ds + de) / si)
    val ok = col("n_samples") >= 2 && si > 0.0
    grouped
      .withColumn("increase_fp",
        when(ok, floor(inc * 1000000.0)).otherwise(lit(null)))
      .withColumn("rate_fp",
        when(ok, floor(inc / bucketSec * 1000000.0)).otherwise(lit(null)))
      .drop("_ft", "_lt", "_first", "_raw_fp")
  }

  private def tsoRows(df: DataFrame): Map[Int, (Option[Long], Option[Long])] =
    df.select(col("id"), col("increase_fp"), col("rate_fp"))
      .as[(Int, Option[Long], Option[Long])].collect()
      .map { case (i, inc, rate) => i -> (inc, rate) }.toMap

  private def tsoAgrees(bucketSec: Long, isCounter: Boolean,
                        buckets: Seq[(Long, Agg)]): Boolean = {
    val g = buckets.zipWithIndex.map { case ((b, a), i) =>
      (i, b, a.n, a.ft, a.lt, a.ft, a.first, a.raw)
    }.toDF("id", "bucket", "n_samples", "_ft", "_lt", "fa", "fv", "_raw_fp")
      .select(col("id"), col("bucket"), col("n_samples"), col("_ft"),
        col("_lt"), struct(col("fa").as("a"), col("fv").as("v"))
          .as("_first"), col("_raw_fp"))
    val ref = tsoRows(tsoRef(g, bucketSec, isCounter))
    bothPaths(g)(h => tsoRows(TimeSeriesOps.extrapolatedFps(h, bucketSec,
      isCounter))).forall(_ == ref)
  }

  private val bucketSec = Gen.oneOf(10L, 60L, 100L, 3600L)
  private def tsoBatch(b: Long): Gen[Seq[(Long, Agg)]] = for {
    k <- Gen.choose(1, 80)
    rows <- Gen.listOfN(k, Gen.choose(0L, 1000000L)
      .flatMap(bk => aggGen(bk * b, (bk + 1) * b).map(bk -> _)))
  } yield rows

  Seq(true -> "counter", false -> "gauge").foreach { case (isCounter, mode) =>
    property(s"TimeSeriesOps $mode increase_fp/rate_fp: kernel == Column " +
        "formula, same rows NULL") =
      forAllNoShrink(bucketSec.flatMap(b => tsoBatch(b).map(b -> _))) {
        case (b, rows) => tsoAgrees(b, isCounter, rows)
      }
  }
}
