package perfbench

import graft.codec.Prompb
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness checks. Each returns the list of mismatches it found
  * (empty = correct), so one run reports every failing check at once.
  */
object Check {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The scrapes the store can hold: `[k0, written)`. A reader may rely on
    * those below its request's frontier; the rest may or may not be
    * visible yet.
    */
  final case class StoreSpan(k0: Long, written: Long)

  /** A SAMPLES remote-read answer against the generator: every sample the
    * store held when the request was sent must be there, nothing else
    * may be, and every value must be the generator's.
    */
  def read(g: Gen, o: Outcome, span: StoreSpan): Seq[String] = {
    val r = o.req.asInstanceOf[ReadReq]
    val tag = s"read #${r.id}"
    if (!o.ok) return Seq(s"$tag: HTTP ${o.status}")
    val resp = Prompb.decodeReadResponse(Prompb.snappyUncompress(o.body))
    val got = resp.results.head.timeseries
    val selected = g.series.filter(s => s.name == r.metric &&
      r.instances.contains(s.instance))
    val exactEnd = math.min(o.frontier, span.written)
    val errs = Seq.newBuilder[String]
    val byTags = selected.map(s => s.tags.mkString(",") -> s).toMap
    val seen = scala.collection.mutable.Set[Int]()
    got.foreach { ts =>
      val key = ts.labels.map(l => s"${l.name}=${l.value}").sorted.mkString(",")
      byTags.get(key) match {
        case None => errs += s"$tag: unexpected series $key"
        case Some(s) =>
          seen += s.idx
          val ks = ts.samples.map { p =>
            val tsSec = p.timestampMs / 1000L
            val k = g.scrapeIndex(tsSec)
            if (p.timestampMs % 1000L != 0 || g.scrapeTime(k) != tsSec ||
                tsSec < r.startSec || tsSec > r.endSec || k < span.k0 ||
                k >= span.written)
              errs += s"$tag: $key has unexpected sample at ${p.timestampMs}"
            else if (java.lang.Double.compare(p.value, g.value(s, k)) != 0)
              errs += s"$tag: $key at $tsSec is ${p.value}, wrote ${g.value(s, k)}"
            k
          }.toSet
          val missing = expectedKs(g, s, r.startSec, r.endSec, span.k0,
            exactEnd).filterNot(ks.contains)
          if (missing.nonEmpty)
            errs += s"$tag: $key misses ${missing.size} samples"
      }
    }
    selected.filterNot(s => seen.contains(s.idx)).foreach { s =>
      if (expectedKs(g, s, r.startSec, r.endSec, span.k0, exactEnd).nonEmpty)
        errs += s"$tag: missing series ${s.tags.mkString(",")}"
    }
    errs.result().take(5)
  }

  private def expectedKs(g: Gen, s: Series, startSec: Long, endSec: Long,
                         k0: Long, kEnd: Long): Seq[Long] = {
    val lo = math.max(k0, (startSec - g.epoch + Gen.Interval - 1) / Gen.Interval)
    val hi = math.min(kEnd - 1, (endSec - g.epoch) / Gen.Interval)
    (lo to hi).filter(k => !g.value(s, k).isNaN)
  }

  /** A `sum by (job) (rate(c[5m]))` matrix against the generator: the
    * counters rise linearly, so at every step whose whole window the
    * store held the answer is the job's summed slope per second; at steps
    * reaching past the acknowledged frontier a point may be missing or
    * lower (its window is partly unwritten), never higher.
    */
  def range(g: Gen, o: Outcome, span: StoreSpan): Seq[String] = {
    val q = o.req.asInstanceOf[RangeReq]
    val tag = s"query_range #${q.id}"
    if (!o.ok) return Seq(s"$tag: HTTP ${o.status}")
    val root = json.readTree(o.body)
    if (root.path("status").asText != "success")
      return Seq(s"$tag: status ${root.path("status").asText}")
    val exactEnd = math.min(o.frontier, span.written)
    val perJob = g.counters.filter(_.name == q.metric).groupBy(_.job)
      .map { case (j, ss) => j -> (ss.map(_.slope).sum.toDouble / Gen.Interval, ss.size) }
    val grid = (q.startSec to q.endSec by Requests.StepSec).toVector
    def exact(t: Long): Boolean = g.scrapeIndex(t) < exactEnd
    val errs = Seq.newBuilder[String]
    val jobsSeen = scala.collection.mutable.Set[String]()
    import scala.jdk.CollectionConverters._
    root.path("data").path("result").elements().asScala.foreach { series =>
      val metric = series.path("metric")
      val job = metric.path("job").asText
      jobsSeen += job
      if (metric.size != 1 || !perJob.contains(job))
        errs += s"$tag: unexpected series $metric"
      else {
        val (want, n) = perJob(job)
        val tol = 2e-6 * n + 1e-9 * want
        val pts = series.path("values").elements().asScala.map { p =>
          p.get(0).asLong -> p.get(1).asText.toDouble
        }.toMap
        pts.foreach { case (t, v) =>
          if (!grid.contains(t)) errs += s"$tag: $job off-grid point $t"
          else if (exact(t) && math.abs(v - want) > tol)
            errs += s"$tag: $job at $t is $v, expected $want"
          else if (!exact(t) && (v <= 0 || v > want + tol))
            errs += s"$tag: $job at $t is $v, outside (0, $want]"
        }
        grid.filter(t => exact(t) && !pts.contains(t)).take(1).foreach(t =>
          errs += s"$tag: $job misses point $t")
      }
    }
    if (grid.exists(exact))
      perJob.keys.filterNot(jobsSeen.contains).foreach(j =>
        errs += s"$tag: missing series job=$j")
    errs.result().take(5)
  }

  /** The store holds exactly the finite samples of the acknowledged
    * writes, with no loss and no duplicates (multiset equality over
    * name, tags, value and timestamp, from scrape `liveFrom` on). Rows
    * before it are the preload: `preloadRows` of them (unchecked if < 0).
    */
  def store(spark: SparkSession, g: Gen, path: String, acked: Seq[WriteReq],
            liveFrom: Long, preloadRows: Long): Seq[String] = {
    type Row4 = (String, Seq[String], Double, Long)
    def counts(rows: Iterable[Row4]): Map[Row4, Int] =
      rows.groupMapReduce(identity)(_ => 1)(_ + _)
    val expected = counts(for {
      w <- acked; s <- w.shard; k <- w.k0 until w.k0 + w.scrapes
      v = g.value(s, k) if !v.isNaN
    } yield (s.name, s.tags, v, g.scrapeTime(k)))
    val liveT = g.scrapeTime(liveFrom)
    val all = spark.read.parquet(path)
      .select(col("name"), col("tags"), col("val"), unix_timestamp(col("ts")).as("t"))
    val stored = counts(all.filter(col("t") >= liveT).collect().map(r =>
      (r.getString(0), r.getSeq[String](1).toSeq, r.getDouble(2), r.getLong(3))))
    val extra = stored.map { case (k, n) => math.max(0, n - expected.getOrElse(k, 0)) }.sum
    val lost = expected.map { case (k, n) => math.max(0, n - stored.getOrElse(k, 0)) }.sum
    val errs = Seq.newBuilder[String]
    if (extra != 0 || lost != 0)
      errs += s"store: $extra rows not written by an acknowledged request, $lost acknowledged rows missing"
    if (preloadRows >= 0) {
      val pre = all.filter(col("t") < liveT).count()
      if (pre != preloadRows) errs += s"store: preload holds $pre rows, wrote $preloadRows"
    }
    errs.result()
  }

  /** `/metrics` counters against the client's own counts. */
  def metrics(text: String, received: Long, sent: Long): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val r = metricValue(text, "received_samples_total")
    val s = metricValue(text, """sent_samples_total{remote="parquet"}""")
    if (r != received.toDouble) errs += s"/metrics: received_samples_total $r, client sent $received"
    if (s != sent.toDouble) errs += s"/metrics: sent_samples_total{parquet} $s, client sent $sent"
    errs.result()
  }

  def metricValue(text: String, series: String): Double =
    text.linesIterator.collectFirst {
      case l if l.startsWith(series + " ") => l.substring(series.length + 1).trim.toDouble
    }.getOrElse(0.0)

  /** Parquet files and bytes under a store directory. */
  def parquet(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val w = java.nio.file.Files.walk(root)
      try {
        val sizes = w.filter(_.toString.endsWith(".parquet"))
          .mapToLong(java.nio.file.Files.size(_)).toArray
        (sizes.length.toLong, sizes.sum)
      } finally w.close()
    }
  }

  /** Rows of two stores equal as multisets (the `updated` column, stamped
    * at commit time, is left out).
    */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = Seq("date", "name", "tags", "val", "ts").map(col)
    val x = a.select(cols: _*); val y = b.select(cols: _*)
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }
}
