package perfbench

import graft.GraftSession
import graft.engine.WritePipeline
import graft.serve.Server
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The serve-path benchmark: starts `graft.serve.Server` in-process on a
  * store it builds itself, drives it over HTTP with closed-loop clients,
  * checks every answer, and prints one JSON result line.
  *
  * {{{
  * perfbench.Main --workload ingest|mixed --seed N --seconds S --trace 0|1 --work-dir DIR
  * }}}
  *
  * Exits 1 when any correctness check fails.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, workDir: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work-dir"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    // exit explicitly either way: Spark's and the HTTP server's threads
    // would otherwise keep a failed run alive
    val code =
      try {
        val r = new Workload(o).run()
        println(r.json)
        if (r.correct) 0 else 1
      } catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    sys.exit(code)
  }
}

/** The result line; `metrics` holds (name, value, unit). */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${java.math.BigDecimal.valueOf(v).toPlainString}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Workload {
  val Names = Seq("ingest", "mixed")

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Closed-loop clients that run together. Each client's warm-up
    * requests are sent (by all clients together) before its measured ones.
    */
  final case class Phase(plans: Seq[Seq[Req]], frontier: Frontier)
}

final class Workload(o: Main.Opts) {
  import Workload._

  private val cores = Runtime.getRuntime.availableProcessors
  private val g = new Gen(o.seed)
  private val rnd = new java.util.Random(o.seed * 31 + o.workload.hashCode)
  private def dir(name: String) = new java.io.File(o.workDir, name).getAbsolutePath
  private val storeDir = dir("store")
  /** Longer than the data's age: every commit pays the sweep, nothing expires. */
  private val retentionSec = System.currentTimeMillis() / 1000 - g.epoch + 30 * 86400L

  /** The preloaded store (mixed) spans midnight - 2 h to midnight + 1 h. */
  private val preK0 = g.scrapeIndex(g.midnight - 2 * 3600L)
  private val preK1 = g.scrapeIndex(g.midnight + 3600L)
  private val preloaded = o.workload == "mixed"
  /** Set-up repetitions whose median is `setup_s`: more where one is cheap. */
  private val setupReps = if (preloaded) 3 else 5

  private val t00 = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%.1f] $s")

  // ------------------------------------------------------------ set-up
  private var spark: SparkSession = _
  private var server: Server = _

  private def newSession(): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores.toString)
      .appName("perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Writes the preload in the compacted layout, one append per date;
    * returns the rows written.
    */
  private def preload(path: String): Long = {
    val s = spark
    import s.implicits._
    val series = g.series.map(x => (x.idx.toLong, x.name, x.labelMap, x.counter,
      x.slope, x.base)).toDF("s", "name", "labels", "counter", "slope", "base")
    val kMid = g.scrapeIndex(g.midnight)
    Seq(preK0 -> kMid, kMid -> preK1).map { case (a, b) =>
      val flat = series.crossJoin(s.range(a, b).withColumnRenamed("id", "k"))
        .select(col("name"), col("labels"), g.valueColumn.as("value"),
          ((lit(g.epoch) + col("k") * Gen.Interval) * 1000L).as("timestampMs"))
      WritePipeline.append(WritePipeline.toMetricRows(
        WritePipeline.dropNonFinite(flat)), path, rowsHint = g.series.size * (b - a))
      (for (x <- g.series; k <- a until b if !g.value(x, k).isNaN) yield 1L).sum
    }.sum
  }

  /** Session start, store preload and server start, `setupReps` times
    * (each on a fresh session and store); returns the median seconds and
    * the preloaded row count.
    */
  private def setUp(): (Double, Long) = {
    var rows = 0L
    val secs = (1 to setupReps).map { rep =>
      if (server != null) server.stop()
      if (spark != null) spark.stop()
      deleteTree(new java.io.File(storeDir))
      val t0 = System.nanoTime()
      spark = newSession()
      if (preloaded) rows = preload(storeDir)
      server = new Server(spark, storeDir, retentionSec = retentionSec).start()
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $rep: $s%.2f s")
      s
    }
    (median(secs), rows)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ------------------------------------------------------------- plans
  private var nextId = 0
  private def id(): Int = { nextId += 1; nextId }

  /** Writers each owning a disjoint shard (series idx mod writers),
    * sending `warm + n` batches of [[Gen.BatchSamples]] samples from
    * scrape `k0` on; `rw2(w)` picks writer `w`'s protocol.
    */
  private def writers(n: Int, writers: Int, k0: Long, warm: Int,
                      rw2: Int => Boolean): Seq[Seq[WriteReq]] =
    (0 until writers).map { w =>
      val shard = g.series.filter(_.idx % writers == w)
      val scrapes = Gen.BatchSamples / shard.size
      (0 until warm + n).map { b =>
        Requests.writeReq(g, id(), w, b < warm, rw2(w), shard,
          k0 + b.toLong * scrapes, scrapes)
      }
    }

  /** Readers sending `warm + n` requests each over ranges drawn by
    * `ranges`: `/read` when `read(i)` holds for the i-th, else `query_range`.
    */
  private def readers(n: Int, clients: Int, firstClient: Int, warm: Int,
                      read: Int => Boolean, ranges: () => (Long, Long)): Seq[Seq[Req]] =
    (0 until clients).map { c =>
      (0 until warm + n).map { i =>
        val (s, e) = ranges()
        if (read(i)) Requests.readReq(g, rnd, id(), firstClient + c, i < warm, s, e)
        else Requests.rangeReq(g, rnd, id(), firstClient + c, i < warm, s, e)
      }
    }

  /** The workloads. Request counts scale with `--seconds` but are fixed
    * per client, so every commit sees the same store at each request.
    * Each phase starts with an unmeasured warm-up: one request per client,
    * one of each kind per mixed reader.
    *
    *  - ingest: empty store, three phases one after the other, so each
    *    endpoint is timed under a load of its own kind. Writes: 4 senders,
    *    senders 0-1 speaking remote-write 1 and 2-3 remote-write 2. Then
    *    4 readers sending `/read`, then 4 sending `query_range`, over 1 h
    *    ranges of what was just written (one small file per POST).
    *  - mixed: preloaded store; 2 remote-write 1 writers append the hours
    *    after its end while 2 readers alternate `/read` and `query_range`
    *    over the 2 h before the live edge (across midnight) plus the first
    *    live hour.
    *
    * Returns the phases, the first live scrape, and the store span.
    */
  private def plan(): (Seq[Phase], Long, Check.StoreSpan) = {
    val s = o.seconds
    o.workload match {
      case "ingest" =>
        val k0 = g.scrapeIndex(g.midnight - 4 * 3600L)
        val w = writers(n = math.max(8, s * 2 / 5), writers = 4, k0, warm = 1, rw2 = _ >= 2)
        val written = w.flatten.map(x => x.k0 + x.scrapes).max
        val lo = g.scrapeTime(k0) + Requests.RateWindowSec + Gen.Interval
        val hi = g.scrapeTime(written - 1)
        def range() = Requests.range(rnd, lo, hi, 3600L)
        val r = readers(n = math.max(1, s * 3 / 10), clients = 4, firstClient = 0, warm = 1,
          read = _ => true, ranges = () => range())
        val q = readers(n = math.max(1, s / 4), clients = 4, firstClient = 0, warm = 1,
          read = _ => false, ranges = () => range())
        (Seq(Phase(w, new Frontier(4, k0)), Phase(r, new Frontier(0, k0)),
          Phase(q, new Frontier(0, k0))), k0, Check.StoreSpan(k0, written))
      case "mixed" =>
        val live = g.scrapeTime(preK1)
        val w = writers(n = math.max(1, s), writers = 2, preK1, warm = 1, rw2 = _ => false)
        val written = w.flatten.map(x => x.k0 + x.scrapes).max
        val r = readers(n = math.max(2, s * 3 / 10 * 2), clients = 2, firstClient = 2, warm = 2,
          read = _ % 2 == 0, ranges = () => (live - 2 * 3600L, live + 3600L))
        (Seq(Phase(w ++ r, new Frontier(2, preK1))), preK1,
          Check.StoreSpan(preK0, written))
    }
  }

  // --------------------------------------------------------------- run
  def run(): Result = {
    val (setupS, preRows) = setUp()
    val (phases, liveK0, span) = plan()
    val counters = new SparkCounters
    if (o.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val gcMs0 = gcMs()
    val (files0, bytes0) = Check.parquet(storeDir)
    // the server's own parquet send timer, over the measured requests only
    var sendSec, sends = 0.0
    def sendTimer(): (Double, Double) = {
      val t = Load.get(server.boundPort, "/metrics")
      (Check.metricValue(t, """sent_batch_duration_seconds_sum{remote="parquet"}"""),
        Check.metricValue(t, """sent_batch_duration_seconds_count{remote="parquet"}"""))
    }
    val (warm, measured) = phases.map { p =>
      val load = new Load(server.boundPort, p.frontier)
      val w = load.run(p.plans.map(_.filter(_.warmup)))
      val (s0, n0) = sendTimer()
      val m = load.run(p.plans.map(_.filterNot(_.warmup)))
      val (s1, n1) = sendTimer()
      sendSec += s1 - s0; sends += n1 - n0
      (w, m)
    }.unzip match { case (a, b) => (a.flatten, b.flatten) }
    val gcDeltaMs = gcMs() - gcMs0
    log("load done")
    val all = warm ++ measured
    val writes = all.filter(_.req.isInstanceOf[WriteReq])
    val acked = writes.filter(_.ok).map(_.req.asInstanceOf[WriteReq])

    // ---- correctness
    val errors = Seq.newBuilder[String]
    all.foreach { x =>
      x.req match {
        case _: ReadReq => errors ++= Check.read(g, x, span)
        case _: RangeReq => errors ++= Check.range(g, x, span)
        case _: WriteReq => if (!x.ok) errors += s"write #${x.req.id}: HTTP ${x.status}"
      }
    }
    errors ++= Check.store(spark, g, storeDir, acked, liveK0, if (preloaded) preRows else -1L)
    log("answers checked")
    val metricsText = Load.get(server.boundPort, "/metrics")
    errors ++= Check.metrics(metricsText,
      writes.map(_.req.asInstanceOf[WriteReq].samples.toLong).sum,
      acked.map(_.samples.toLong).sum)

    // ---- metrics
    def lat(kind: Class[_]): Seq[Double] =
      measured.filter(x => kind.isInstance(x.req)).map(_.ms)
    val wLat = lat(classOf[WriteReq]); val rLat = lat(classOf[ReadReq])
    val qLat = lat(classOf[RangeReq])
    val mWrites = measured.filter(_.req.isInstanceOf[WriteReq])
    val ingestRate = mWrites.filter(_.ok).map(_.req.asInstanceOf[WriteReq].samples).sum /
      ((mWrites.map(_.endNs).max - mWrites.map(_.startNs).min) / 1e9)
    val ackedFinite = (for (w <- acked; x <- w.shard;
      k <- w.k0 until w.k0 + w.scrapes if !g.value(x, k).isNaN) yield 1L).sum
    val (files1, bytes1) = Check.parquet(storeDir)
    log(s"measured: ${wLat.size} writes, ${rLat.size} reads, ${qLat.size} query_range; " +
      s"${files1 - files0} parquet files added")
    Seq("write" -> classOf[WriteReq], "read" -> classOf[ReadReq], "query_range" -> classOf[RangeReq])
      .foreach { case (k, c) => log(s"$k ms in send order: " + all.filter(x => c.isInstance(x.req))
        .sortBy(_.startNs).map(x => (if (x.req.warmup) "w" else "") + x.ms.toInt).mkString(" ")) }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("ingest_samples_per_s", ingestRate, "1/s"),
        ("write_p50_ms", percentile(wLat, 0.5), "ms"),
        ("write_p90_ms", percentile(wLat, 0.9), "ms"),
        ("read_p50_ms", percentile(rLat, 0.5), "ms"),
        ("query_range_p50_ms", percentile(qLat, 0.5), "ms"),
        ("store_bytes_per_sample", (bytes1 - bytes0).toDouble / ackedFinite, "B"),
        ("retained_heap_mb", retainedHeapMb(), "MB"))
      else {
        val tracer = new Tracer
        val replay = new Replay(spark, tracer, counters, retentionSec)
        val (replayErrors, replayBytesPerSample) = replayAll(replay, all, acked)
        errors ++= replayErrors
        val sendMs = 1000 * sendSec / sends
        def per(kind: String, k: String) = replay.totals(k) / math.max(1, replay.n(kind))
        val readEdge = measured.filter(x => replay.engineMs.contains(x.req.id))
          .map(x => x.ms - replay.engineMs(x.req.id))
        tracer.write(new java.io.File(new java.io.File(o.workDir).getParentFile,
          s"spans-${o.workload}-${o.seed}.jsonl").getPath)
        Seq(
          ("serve.write_edge_ms", mean(wLat) - sendMs, "ms"),
          ("serve.read_edge_ms", mean(readEdge), "ms"),
          ("sinks.parquet_send_ms", sendMs, "ms"),
          ("sinks.commit_wait_ms", sendMs - tracer.mean("engine.write.append") -
            tracer.mean("engine.admin.retention"), "ms"),
          ("codec.write_decode_ms", tracer.mean("codec.write_decode"), "ms"),
          ("codec.read_encode_ms", tracer.mean("codec.read_encode"), "ms"),
          ("engine.write.row_build_ms", tracer.mean("engine.write.row_build"), "ms"),
          ("engine.write.append_ms", tracer.mean("engine.write.append"), "ms"),
          ("engine.write.jobs_per_post", per("write", "engine.write.jobs_per_post"), "count"),
          ("engine.write.tasks_per_post", per("write", "engine.write.tasks_per_post"), "count"),
          ("engine.write.executor_ms_per_post", per("write", "engine.write.executor_ms_per_post"), "ms"),
          ("engine.write.driver_gap_ms", per("write", "engine.write.driver_gap_ms"), "ms"),
          ("engine.write.files_per_post", (files1 - files0).toDouble / acked.size, "count"),
          ("engine.write.bytes_per_sample", replayBytesPerSample, "B"),
          ("engine.admin.retention_ms", tracer.mean("engine.admin.retention"), "ms"),
          ("compile.plan_ms", tracer.mean("compile.plan"), "ms"),
          ("engine.read.execute_ms", tracer.mean("engine.read.execute"), "ms"),
          ("engine.read.jobs_per_request", per("read", "engine.read.jobs_per_request"), "count"),
          ("engine.read.tasks_per_request", per("read", "engine.read.tasks_per_request"), "count"),
          ("engine.read.shuffle_bytes", per("read", "engine.read.shuffle_bytes"), "B"),
          ("engine.read.files_scanned", per("read", "engine.read.files_scanned"), "count"),
          ("engine.read.bytes_scanned", per("read", "engine.read.bytes_scanned"), "B"),
          ("engine.read.rows_scanned", per("read", "engine.read.rows_scanned"), "count"),
          ("engine.read.rows_per_sample_returned", replay.totals("engine.read.rows_scanned") /
            math.max(1.0, replay.totals("engine.read.samples_returned")), "ratio"),
          ("promql.parse_ms", tracer.mean("promql.parse"), "ms"),
          ("promql.plan_ms", tracer.mean("promql.plan"), "ms"),
          ("promql.execute_ms", tracer.mean("promql.execute"), "ms"),
          ("promql.jobs_per_query", per("query_range", "promql.jobs_per_query"), "count"),
          ("promql.rows_scanned", per("query_range", "promql.rows_scanned"), "count"),
          ("spark.gc_ms_per_request", gcDeltaMs / all.size, "ms"),
          ("trace.write_p50_ms", percentile(wLat, 0.5), "ms"),
          ("trace.read_p50_ms", percentile(rLat, 0.5), "ms"),
          ("trace.query_range_p50_ms", percentile(qLat, 0.5), "ms"))
      }
    log("metrics done")
    val errs = errors.result()
    errs.take(20).foreach(e => log(s"MISMATCH $e"))
    server.stop()
    spark.stop()
    val failed = all.count(!_.ok).toLong
    log("stopped")
    Result(errs.isEmpty && failed == 0, all.size.toLong, failed, metrics)
  }

  /** Replays every request in id order: acknowledged writes into a scratch
    * store (preloaded like the served one), reads against the served
    * store. Returns faithfulness mismatches: the scratch store must equal
    * the served one row for row, and each replayed answer must equal the
    * served answer (on the part of it that was settled when it was sent,
    * where writes ran alongside). Also returns the replayed writes' parquet
    * bytes per row.
    */
  private def replayAll(replay: Replay, all: Seq[Outcome],
                        acked: Seq[WriteReq]): (Seq[String], Double) = {
    val errs = Seq.newBuilder[String]
    val scratch = dir("replay-store")
    val preRows = if (preloaded) preload(scratch) else 0L
    val bytes0 = Check.parquet(scratch)._2
    acked.sortBy(_.id).foreach(w => replay.write(w, scratch))
    val bytesPerRow = (Check.parquet(scratch)._2 - bytes0).toDouble /
      (spark.read.parquet(scratch).count() - preRows)
    if (!Check.sameRows(spark.read.parquet(scratch), spark.read.parquet(storeDir)))
      errs += "replay: the replayed store differs from the served store"
    val table = replay.table(storeDir)
    all.sortBy(_.req.id).foreach { x =>
      val settled = (t: Long) => g.scrapeIndex(t) < x.frontier
      x.req match {
        case r: ReadReq =>
          def bySeries(ts: Seq[graft.codec.Prompb.PTimeSeries]) =
            ts.map(s => s.labels -> s.samples.filter(p => settled(p.timestampMs / 1000))).toMap
          val mine = bySeries(replay.read(r, table).results.flatMap(_.timeseries))
          val theirs = bySeries(graft.codec.Prompb.decodeReadResponse(
            graft.codec.Prompb.snappyUncompress(x.body)).results.flatMap(_.timeseries))
          if (mine.filter(_._2.nonEmpty) != theirs.filter(_._2.nonEmpty))
            errs += s"replay: read #${r.id} answers differently in-process"
        case q: RangeReq =>
          def cut(m: Replay.Matrix) = m.map { case (k, v) =>
            k -> v.filter(p => settled(p._1)) }.filter(_._2.nonEmpty)
          if (cut(Replay.matrix(replay.range(q, table))) != cut(Replay.matrix(x.body)))
            errs += s"replay: query_range #${q.id} answers differently in-process"
        case _ =>
      }
    }
    (errs.result().take(5), bytesPerRow)
  }

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }

  /** Heap in use after full collections, with the server and session up. */
  private def retainedHeapMb(): Double = {
    (1 to 2).foreach(_ => System.gc())
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
  }
}
