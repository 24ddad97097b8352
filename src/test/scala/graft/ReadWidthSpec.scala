package graft

import graft.compile.Matchers.{EQ, LabelMatcher, PromQuery}
import graft.engine.{Admin, ReadPipeline, ResponseEdge, Tombstones, WritePipeline}
import graft.model.Schema.Sample
import graft.promql.Eval
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A read whose selected parquet is at most
  * `spark.sql.files.openCostInBytes` runs as one task: no exchange, one
  * job, for remote-read and PromQL alike. A larger read plans as before,
  * and both widths answer the same. */
class ReadWidthSpec extends SparkSpec {
  import spark.implicits._

  private val day1 = 1700006400L // 2023-11-15T00:00:00Z
  private val day2 = day1 + 86400L

  /** Four counters `m{job=j0..j3}` every 30 s: two hours of day 1 and
    * the whole of day 2 (the larger date). */
  private def samples: Seq[Sample] =
    for {
      (from, secs) <- Seq(day1 -> 7200L, day2 -> 86400L)
      j <- 0 until 4
      k <- 0L until secs / 30
    } yield Sample("m", Map("__name__" -> "m", "job" -> s"j$j"),
      (k * (j + 1)).toDouble, (from + k * 30) * 1000L)

  /** The store, its stale-marker table (j1 ends with a marker after its
    * last sample of day 1) and a tombstone over j2 in day 1's first hour. */
  private lazy val (table, stale, stones) = {
    val root = Files.createTempDirectory("graft_width")
    val table = root.resolve("metrics").toString
    WritePipeline.append(WritePipeline.toMetricRows(samples.toDF()), table,
      rowsHint = samples.size.toLong)
    val stale = root.resolve("stale").toString
    Seq(("m", Seq("__name__=m", "job=j1"), day1 + 7200L)).toDF("name", "tags", "s")
      .select(to_date(timestamp_seconds(col("s"))).as("date"), col("name"),
        col("tags"), timestamp_seconds(col("s")).as("ts"))
      .write.partitionBy("date").parquet(stale)
    (table, stale,
      Seq(Tombstones.Tombstone("""m{job="j2"}""", day1, day1 + 3600L)))
  }

  private def store: DataFrame =
    Tombstones.suppress(spark.read.parquet(table), stones)
  private def promqlStore: DataFrame =
    Eval.withStaleMarkers(store, spark.read.parquet(stale))

  /** The parquet bytes of one date of the store and its markers. */
  private def dateBytes(date: String): Long = {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    Seq(table, stale).map(t =>
      Admin.dataFiles(fs, new HPath(t, s"date=$date")).map(_.getLen).sum).sum
  }

  /** `f` under `spark.sql.files.openCostInBytes` = `bound`. */
  private def withBound[A](bound: Long)(f: => A): A = {
    spark.conf.set("spark.sql.files.openCostInBytes", bound.toString)
    try f finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  /** `f`'s result with the jobs and tasks it ran. */
  private def counted[A](f: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val group = java.util.UUID.randomUUID().toString
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "read width")
    try {
      val a = f
      org.apache.spark.graft.BenchInternals.flushListenerBus(sc)
      (a, jobs.get, tasks.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def query(loSec: Long, hiSec: Long) =
    PromQuery(loSec * 1000, hiSec * 1000, Seq(LabelMatcher(EQ, "__name__", "m")))

  private val promql = Seq("m", "rate(m[5m])", "sum by (job) (increase(m[10m]))")
  private def spec(loSec: Long, hiSec: Long) = Eval.RangeSpec(loSec, hiSec, 60L)

  /** A `/read` answer and a `query_range` answer (series sorted), as the
    * server computes them. */
  private def read(src: DataFrame, q: PromQuery) =
    ResponseEdge.toReadResponse(Seq(ReadPipeline.readMulti(Seq(src), q)), 100)
  private def range(src: DataFrame, expr: String, s: Eval.RangeSpec) =
    ResponseEdge.collectBoundedSeries(Eval.rangeQuery(src, expr, s), 100)
      .map(_.toString).sorted.toSeq

  test("width: a read below openCostInBytes plans no exchange and runs " +
       "as one job of one task, /read and query_range alike") {
    val (lo, hi) = (day1 + 600L, day1 + 6600L)
    assert(dateBytes("2023-11-15") <= (4L << 20))
    // listed (and schema-inferred) once, as the server caches its table
    val (src, psrc) = (store, promqlStore)
    val assembled = ReadPipeline.readMulti(Seq(src), query(lo, hi))
    assert(!plan(assembled).contains("Exchange"), plan(assembled))
    val (resp, rj, rt) = counted(read(src, query(lo, hi)))
    assert(resp.results.head.timeseries.size == 4)
    assert((rj, rt) == (1, 1))
    promql.foreach { e =>
      val res = Eval.rangeQuery(psrc, e, spec(lo, hi))
      assert(!plan(res).contains("Exchange"), s"$e\n${plan(res)}")
      val (rows, qj, qt) = counted(range(psrc, e, spec(lo, hi)))
      assert(rows.nonEmpty, e)
      assert((qj, qt) == (1, 1), e)
    }
  }

  test("width: a bound below the selected bytes restores the exchange " +
       "plan; both widths answer the same with tombstones and stale " +
       "markers present") {
    val (lo, hi) = (day1 + 600L, day2 + 3600L)
    val q = query(lo, hi)
    val narrow = (read(store, q), promql.map(range(promqlStore, _, spec(lo, hi))))
    val wide = withBound(1L) {
      val assembled = ReadPipeline.readMulti(Seq(store), q)
      assert(plan(assembled).contains("Exchange"), plan(assembled))
      val res = Eval.rangeQuery(promqlStore, "m", spec(lo, hi))
      assert(plan(res).contains("Exchange"), plan(res))
      (read(store, q), promql.map(range(promqlStore, _, spec(lo, hi))))
    }
    assert(narrow == wide)
    // the marker and the tombstone show: j1 stops at its marker where j0
    // extends over the lookback, and j2 starts an hour after j0
    val after = s"[${day1 + 7260L},"
    def instants(job: String) = narrow._2.head.filter(_.contains(s"job=$job")).head
    assert(instants("j0").contains(after) && !instants("j1").contains(after))
    def first(job: String) = narrow._1.results.head.timeseries
      .find(_.labels.exists(_.value == job)).get.samples.head.timestampMs
    assert(first("j2") >= first("j0") + 2400 * 1000L)
  }

  test("width: the decision is per read — a window on the small date of " +
       "a store whose other date is over the bound is one task") {
    val (small, large) = (dateBytes("2023-11-15"), dateBytes("2023-11-16"))
    assert(small < large)
    val (src, psrc) = (store, promqlStore)
    withBound(small) {
      val (lo, hi) = (day1 + 600L, day1 + 6600L)
      val (_, rj, rt) = counted(read(src, query(lo, hi)))
      assert((rj, rt) == (1, 1))
      val (_, qj, qt) = counted(range(psrc, "rate(m[5m])", spec(lo, hi)))
      assert((qj, qt) == (1, 1))
      // the same read over both dates selects more than the bound
      val both = ReadPipeline.readMulti(Seq(src), query(lo, day2 + 600L))
      assert(plan(both).contains("Exchange"), plan(both))
    }
  }
}
