package perfbench

import graft.codec.Prompb.{PLabel, PSample, PTimeSeries, PWriteRequest}

/** One series of the generated universe: a `job`/`instance` target
  * exposing counters and gauges, scraped every [[Gen.Interval]] seconds.
  */
final case class Series(idx: Int, name: String, job: String,
                        instance: String, counter: Boolean,
                        slope: Long, base: Long) {
  val labels: Seq[PLabel] = Seq(PLabel("__name__", name),
    PLabel("instance", instance), PLabel("job", job))
  val tags: Seq[String] = labels.map(l => s"${l.name}=${l.value}").sorted
  def labelMap: Map[String, String] = labels.map(l => l.name -> l.value).toMap
}

/** Everything the benchmark sends and expects is a pure function of the
  * seed: the series universe, each sample's value at each scrape, the
  * write batches and the read queries. Values are integers (counters) or
  * quarters (gauges), so they survive parquet and the wire exactly; a
  * small share of gauge samples are NaN, which the F1 filter must drop.
  *
  * Scrape `k` is at `epoch + k * Interval` seconds. The arithmetic below
  * is mirrored by [[Gen.valueColumn]] so the store preload can be
  * generated on the executors.
  */
final class Gen(val seed: Long) {
  import Gen._

  /** The UTC midnight the preloaded store straddles. */
  val midnight: Long = 1704067200L + Math.floorMod(seed, 97L) * 86400L
  /** Scrape 0: two days before [[midnight]], so every `k` used is >= 0. */
  val epoch: Long = midnight - 2 * 86400L
  private val seedMix: Long = Math.floorMod(seed * 2654435761L, 1000003L)

  val series: Vector[Series] = {
    val rnd = new java.util.Random(seed)
    (for {
      (job, j) <- Jobs.zipWithIndex
      i <- 0 until InstancesPerJob
      m <- 0 until MetricsPerTarget
    } yield {
      val counter = m < MetricsPerTarget / 2
      val name =
        if (counter) f"bench_requests_$m%02d_total"
        else f"bench_queue_depth_$m%02d"
      (job, f"host-$j%d$i%02d:9100", name, counter)
    }).zipWithIndex.map { case ((job, inst, name, counter), idx) =>
      Series(idx, name, job, inst, counter,
        slope = 1L + rnd.nextInt(10), base = 1000L * (1 + rnd.nextInt(1000)))
    }.toVector
  }

  def scrapeTime(k: Long): Long = epoch + k * Interval
  def scrapeIndex(tsSec: Long): Long = (tsSec - epoch) / Interval

  def value(s: Series, k: Long): Double =
    if (s.counter) (s.base + s.slope * k).toDouble
    else if (Math.floorMod(s.idx * 31L + k * 17L + seedMix, 997L) == 0L)
      Double.NaN
    else Math.floorMod(s.idx * 7919L + k * 104729L + seedMix, 400000L) / 4.0

  /** The same value function as a Spark column over `s` (series index),
    * `k` (scrape index), `counter`, `slope` and `base` columns.
    */
  def valueColumn: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val s = col("s"); val k = col("k")
    when(col("counter"), (col("base") + col("slope") * k).cast("double"))
      .when(pmod(s * 31L + k * 17L + lit(seedMix), lit(997L)) === 0L,
        lit(Double.NaN))
      .otherwise(pmod(s * 7919L + k * 104729L + lit(seedMix), lit(400000L))
        .cast("double") / 4.0)
  }

  /** One remote-write batch: `scrapes` consecutive scrapes from `k0` of
    * every series in `shard`, the way one Prometheus queue shard fills
    * a `max_samples_per_send` batch.
    */
  def batch(shard: Seq[Series], k0: Long, scrapes: Int): PWriteRequest =
    PWriteRequest(shard.map { s =>
      PTimeSeries(s.labels, (k0 until k0 + scrapes).map(k =>
        PSample(value(s, k), scrapeTime(k) * 1000L)))
    })

  val counters: Vector[Series] = series.filter(_.counter)
  val metricNames: Vector[String] = series.map(_.name).distinct.sorted
  val counterNames: Vector[String] = counters.map(_.name).distinct.sorted
}

object Gen {
  val Interval = 60L
  val Jobs: Seq[String] = Seq("api", "cache", "db", "queue", "web")
  val InstancesPerJob = 10
  val MetricsPerTarget = 20
  /** Prometheus's default `max_samples_per_send`. */
  val BatchSamples = 2000
}
