package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.codec.Prompb
import graft.codec.Prompb._
import graft.compile.Matchers
import graft.compile.Matchers.{EQ, LabelMatcher, NEQ, NRE, PromQuery, RE}
import graft.engine.{GroupCommit, Observability, ReadPipeline, ResponseEdge, WritePipeline}
import graft.promql.AstJson.jsonStr
import graft.serve.ApiEdge._
import graft.sinks.FanOut
import graft.streaming.DeltaToCumulative
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The HTTP front door — the reference's serve() loop re-expressed over
  * the Spark engine (reference: main.go:285-374):
  *
  *   POST /write   snappy+proto WriteRequest → flatten → F1 filter →
  *                 partitioned parquet append (+ optional extra sinks via
  *                 FanOut, each isolated like main.go:311-319)
  *   POST /read    snappy+proto ReadRequest → matcher compile → bucket
  *                 quantile agg → series assembly → ReadResponse bytes.
  *                 With `extraReaderPaths` configured, each query fans
  *                 out to every reader and A6-merges first-wins by
  *                 reader order (primary wins) — implementing the
  *                 reference's own multi-querier TODO (main.go:344-348
  *                 returns 500 for >1 reader)
  *   GET  /metrics Prometheus text exposition of the §2.7 counters
  *
  * Driver-hosted: the handlers run on the Spark driver and submit jobs;
  * at cluster scale this is exactly where the reference's single binary
  * sits (ingest parallelism comes from the executors, not the HTTP
  * layer — remote-write bodies are small; heavy lifting is the append
  * job). A production deployment would put the same handlers behind a
  * real server framework, unchanged.
  */
class Server(spark: SparkSession, tablePath: String,
             extraSinks: Seq[(String, DataFrame => graft.sinks.Transport.WriteStats)] = Nil,
             port: Int = 0, exactQuantiles: Boolean = false,
             metricsPath: String = "/metrics", readMaxSeries: Int = 500000,
             extraReaderPaths: Seq[String] = Nil,
             tierPaths: Seq[(Long, String)] = Nil,
             autoResTargetPoints: Long = 250L,
             chunkTierPath: Option[String] = None,
             histChunkTierPath: Option[String] = None,
             ruleGroups: Seq[graft.promql.Rules.RuleGroup] = Nil,
             enableAdminApi: Boolean = false,
             alertmanagerUrl: Option[String] = None,
             retentionSec: Long = 0L,
             scrapeTargets: Seq[String] = Nil,
             scrapeIntervalSec: Long = 60L,
             otlpConvertDelta: Boolean = false,
             otlpDeltaMaxStaleMs: Long = 300000L,
             otlpTargetInfo: Boolean = false,
             enableLifecycle: Boolean = false,
             rulesFile: Option[String] = None,
             ctZeroIngestion: Boolean = false,
             maxExemplarsPerSeries: Int = 0) {

  /** The LIVE rule set: starts as the constructor's groups and swaps
    * atomically on a successful `/-/reload`. A failed reload keeps
    * serving the old set (Prometheus's rule: a bad config never takes
    * down a working server). The notifier tick interval stays the
    * startup groups' minimum — reload changes WHAT evaluates, not the
    * loop cadence.
    */
  @volatile private var liveRules: Seq[graft.promql.Rules.RuleGroup] =
    ruleGroups

  require(tierPaths.forall(t => t._1 > 0 && 86400L % t._1 == 0),
    "tier windows must be positive day-divisors (the Rollup.downsample contract)")

  val received = new AtomicLong(0)
  val sent = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val failed = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val sendDuration =
    new java.util.concurrent.ConcurrentHashMap[String, Observability.DurationHistogram]()

  /** Metric-family metadata received on the write path (v1 WriteRequest
    * field 3, RW2 per-series Metadata): name → (type, help, unit).
    * Driver-memory by nature — one entry per metric FAMILY, the
    * cardinality of a /metrics page, not of the series set.
    */
  private val metadataStore =
    new java.util.concurrent.ConcurrentHashMap[String, graft.codec.WriteWire.PMetadata]()

  /** Exemplars land beside the main table (same layout discipline); the
    * side table exists only once a payload actually carries exemplars.
    */
  private[serve] def exemplarPath: String = tablePath + "_exemplars"

  /** Native-histogram samples land beside the main table in their
    * SPARSE form (count/sum/zero + positive buckets) in addition to the
    * classic le-flatten the scalar store keeps — the side table that
    * lets the chunked remote-read edge answer native-histogram series
    * with FLOAT_HISTOGRAM chunks instead of only the scalarized
    * fallback. Exists only once a payload actually carries native
    * histograms.
    */
  private[serve] def histPath: String = tablePath + "_hist"

  /** Stale markers (the explicit stale-NaN samples Prometheus writes
    * when a target disappears) land beside the main table as value-less
    * marker rows — the F1 filter keeps dropping ORDINARY NaN data, but
    * the marker's bit pattern is a SIGNAL, not a value, and the PromQL
    * evaluator needs it so instant selectors stop extending dead series
    * through the lookback window.
    */
  private[serve] def stalePath: String = tablePath + "_stale"

  /** Plan-cached store relations: requests reuse one resolved parquet
    * relation per table, the main table and each side table (schema
    * inference + file listing happen once) instead of re-planning
    * `spark.read.parquet` per request. The slot is dropped once per
    * commit — once per ingest group commit, however many requests the
    * group holds, and after each admin commit — so the next read lists
    * the new files; every write to these tables ends in such a drop,
    * since only [[committer]] writes the side tables. The DATA is not
    * pinned — only the relation — so executors still scan parquet with
    * full predicate pushdown per query.
    *
    * Invalidating swaps in a fresh [[TableSlot]] without taking the
    * Server monitor, so a commit never waits for a read that is
    * resolving a relation; a read that fetched the old slot keeps the
    * relation it listed, and every later read lists afresh.
    */
  private val cachedTable =
    new java.util.concurrent.atomic.AtomicReference(new TableSlot)

  /** One generation of [[cachedTable]]: each relation resolves at most
    * once per generation, on first use; a side table that holds no
    * `date=` partition yet is None. */
  private final class TableSlot {
    // recorded tombstones mask deleted samples on EVERY read surface (a
    // residual filter — admin-API-sized, never series-sized); both admin
    // endpoints invalidate this cache, so the masked view is always
    // current. Merges rename under the Server monitor, so the listing
    // is taken under it.
    lazy val table: DataFrame = Server.this.synchronized {
      graft.engine.Tombstones.suppress(
        graft.engine.Admin.readExcluding(spark, tablePath,
          reads.retiredFiles),
        graft.engine.Tombstones.load(spark, tablePath))
    }
    lazy val exemplars: Option[DataFrame] = side(exemplarPath)
    lazy val hist: Option[DataFrame] = side(histPath)
    lazy val stale: Option[DataFrame] = side(stalePath)

    private def side(path: String): Option[DataFrame] =
      Option(storeFs.globStatus(new org.apache.hadoop.fs.Path(path, "date=*")))
        .filter(_.nonEmpty).map(_ => spark.read.parquet(path))
  }

  /** Serializes every parquet COMMIT to the store and its side tables:
    * concurrent append jobs to one path share the Hadoop staging dir
    * (`_temporary/0`) and silently LOSE rows when they overlap (exposed
    * by the s3_remote_write_chain entry — concurrent remote-write
    * senders are the normal case, not the edge). Every ingest front door
    * commits through [[committer]], which holds this lock for a whole
    * group, side tables included; only the admin rewrites take it
    * directly. Nothing holds it across a network fetch.
    */
  private[graft] val appendLock = new Object

  /** Ingest parquet write jobs that landed
    * (`graft_parquet_commits_total`); fewer than the requests acknowledged
    * when concurrent requests shared a commit. */
  private val parquetCommits = new AtomicLong(0)

  /** Commit-file merges that landed (`graft_parquet_merges_total`). */
  private val parquetMerges = new AtomicLong(0)

  private val storeFs = new org.apache.hadoop.fs.Path(tablePath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every read of the main table runs through this: it re-plans a read
    * whose listed file vanished and keeps the inputs of merges from being
    * deleted under reads that may still open them. */
  private[graft] val reads = new ReadGuard(storeFs, () => invalidateTable())

  /** The `date` partitions the current ingest group wrote into; filled
    * by its writes and drained by its settle, both under [[appendLock]]. */
  private val groupDates = scala.collection.mutable.Set[java.time.LocalDate]()

  /** One ingest request as [[committer]] lands it: its flat samples
    * for the main table and its rows for each side table. */
  private final class Commit(val batch: WritePipeline.Batch,
                             val exemplars: Seq[Ingest.ExemplarRow],
                             val histograms: Seq[graft.codec.NativeHist.PHistSeries],
                             val staleMarkers: Seq[graft.model.Schema.Sample])

  /** A side-table write's failure: the request answers it as a failed
    * ingest step ([[Ingest.failure]]), not as a failed sample commit. */
  private final class SideTableFailure(cause: Throwable) extends Exception(cause)

  /** The committer's write of one side table: the members' `rows`, in
    * one write job by `land`; members without any write nothing. */
  private def sideTable[R](rows: Commit => Seq[R])(land: Seq[R] => Unit)
      : Seq[Commit] => Unit = { ms =>
    val rs = ms.flatMap(rows)
    if (rs.nonEmpty)
      try land(rs) catch { case e: Throwable => throw new SideTableFailure(e) }
  }

  /** The ingest committer ([[ingest]]), the one writer of the main and
    * side tables' ingest rows. Each request — a /write or /otlp POST, a
    * scraped page — builds its rows outside the lock and submits them;
    * whichever request takes [[appendLock]] commits every queued
    * request's rows table by table: exemplars, native histograms and
    * stale markers in one write job per table (one file per date for the
    * group), then samples in ONE write job (each request still in its own
    * file per date, as sequential appends would leave them). It then runs
    * one exemplar compaction if some series is over its bound, one
    * retention sweep, the commit-file merges of the dates it wrote
    * ([[mergeCommitted]]) and one [[invalidateTable]], in that order,
    * before any member is answered. A request wider than one write task
    * writes alone. When a shared job fails, each request is written again
    * alone, so one whose own rows fail the write fails only itself and
    * reaches no later table; a store failure fails every member.
    *
    * `updated`: members of one group share the commit's
    * `current_timestamp()`. Only POSTs in flight together share a group,
    * and those had no defined commit order before either; a closed-loop
    * sender never has two in flight, so last-write-wins dedup
    * ([[graft.engine.Rollup.dedupLatest]]) resolves every ordering a
    * client can observe as before.
    */
  private val committer = new GroupCommit[Commit](appendLock, Seq(
    sideTable(_.exemplars) { rows =>
      Ingest.exemplars(spark, rows).appendTo(exemplarPath)
      if (maxExemplarsPerSeries > 0)
        rows.groupBy(r => r._1 + "|" + r._2.mkString(",")).foreach {
          case (k, rs) => exemplarCounts.merge(k, rs.size.toLong, _ + _)
        }
    },
    sideTable(_.histograms)(Ingest.histograms(spark, _).appendTo(histPath)),
    sideTable(_.staleMarkers)(Ingest.staleMarkers(spark, _).appendTo(stalePath)),
    { members =>
      WritePipeline.appendGroup(spark, members.map(_.batch), tablePath)
      parquetCommits.incrementAndGet()
      members.foreach(m =>
        groupDates ++= WritePipeline.partitionDates(spark, m.batch.samples))
    }),
    alone = m => !WritePipeline.groupable(spark, m.batch.samples.size.toLong),
    settle = () =>
      // the retention sweep is a directory listing + partition drops —
      // cheap enough to run on every commit, like Prometheus's
      // head-truncation cadence. The SIDE tables age on the same
      // horizon: exemplars and stale markers past retention are as
      // unreadable as the samples they annotate, and would otherwise
      // grow forever. A table with no directory yet sweeps nothing.
      try {
        if (maxExemplarsPerSeries > 0 && exemplarCounts.values.stream()
            .anyMatch(c => c > 2L * maxExemplarsPerSeries))
          try compactExemplars()
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] exemplar compaction failed: $e") }
        if (retentionSec > 0) {
          val now = System.currentTimeMillis() / 1000
          Seq(tablePath, exemplarPath, stalePath, histPath).foreach(
            graft.engine.Admin.enforceRetention(_, retentionSec, now))
        }
        mergeCommitted(groupDates)
      } finally { groupDates.clear(); invalidateTable() })

  /** Queued ingest members not yet drained into a commit. */
  private[graft] def queuedWrites: Int = committer.queued

  /** Concatenate the small commit files of each of `dates`' `date=`
    * directories ([[graft.engine.Admin.mergeCommitFiles]]). Each merge
    * renames its file into place under this Server's monitor, the one
    * [[storedTable]] lists under, and retires its inputs to [[reads]],
    * which hides them from every later listing and deletes them once no
    * read that listed them is in flight: a read never loses a file to a
    * merge. A failed merge leaves its inputs and is logged, not raised:
    * the commit it follows has landed. Caller holds [[appendLock]] and
    * calls [[invalidateTable]] after. The side tables are not merged.
    */
  private def mergeCommitted(dates: Iterable[java.time.LocalDate]): Unit = {
    val land = new graft.engine.Admin.Landing {
      def apply(fs: org.apache.hadoop.fs.FileSystem, publish: () => Unit,
                inputs: Seq[org.apache.hadoop.fs.Path]): Unit = {
        Server.this.synchronized { publish(); reads.retire(inputs) }
        parquetMerges.incrementAndGet()
      }
      def retired(p: org.apache.hadoop.fs.Path) = reads.retired(p)
    }
    dates.foreach { d =>
      try graft.engine.Admin.mergeCommitFiles(storeFs,
        new org.apache.hadoop.fs.Path(tablePath, s"date=$d"), land)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] merge of date=$d failed: $e") }
    }
  }

  private[graft] def storedTable(): DataFrame = cachedTable.get.table

  /** Every configured reader, primary first (= highest merge priority).
    * Extra readers are re-resolved per request — unlike the primary,
    * nothing signals when an external backend's files change (no /write
    * flows through us), so caching their file listings would make
    * out-of-band appends silently invisible; the per-request listing
    * cost is a driver-side directory scan, negligible against the read
    * itself. */
  private[graft] def storedReaders(): Seq[DataFrame] =
    storedTable() +: extraReaderPaths.map(spark.read.parquet(_))

  /** Drop the cached relations; then [[reads]] may delete the retired
    * inputs only relations listed before this held. */
  private def invalidateTable(): Unit = {
    cachedTable.set(new TableSlot)
    reads.advance()
  }

  /** The PromQL evaluator's store view: the raw table, with any stale
    * markers unioned in as flagged rows ([[graft.promql.Eval
    * .withStaleMarkers]]) so instant selectors stop extending dead
    * series. Both relations come from one [[TableSlot]]; when no marker
    * has ever arrived this is exactly [[storedTable]] — zero added cost.
    */
  private[serve] def promqlTable(): DataFrame = {
    val slot = cachedTable.get
    slot.stale.fold(slot.table)(graft.promql.Eval.withStaleMarkers(slot.table, _))
  }

  private val http = HttpServer.create(new InetSocketAddress(port), 0)

  /** The bound port (useful when constructed with port 0). */
  def boundPort: Int = http.getAddress.getPort

  private[serve] def toPromQuery(q: PQuery): PromQuery =
    PromQuery(q.startMs, q.endMs, q.matchers.map { m =>
      val t = m.matchType match {
        case MatchType.EQ => EQ
        case MatchType.NEQ => NEQ
        case MatchType.RE => RE
        case MatchType.NRE => NRE
        case other => throw new IllegalArgumentException(s"unknown match type $other")
      }
      LabelMatcher(t, m.name, m.value)
    })

  /** `POST /write`: a snappy-framed remote-write body (RW1, or RW2 by
    * Content-Type), or a text page (`text/plain`, OpenMetrics — pushed
    * pages, federation relays; never snappy-framed), landed through
    * [[ingest]]. */
  private def handleWrite(ex: HttpExchange): Unit = ApiEdge.ingest(ex, ingest(_)._2) {
    val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .getOrElse("")
    if (Ingest.isText(ctype))
      Ingest.text(new String(readBody(ex), "UTF-8"), ctype,
        System.currentTimeMillis(), ctZeroIngestion)
    else Ingest.remoteWrite(Prompb.snappyUncompress(readBody(ex)), ctype,
      ctZeroIngestion)
  }

  /** OTLP/HTTP metrics receiver (`POST /otlp/v1/metrics`, plain protobuf
    * body — OTLP does not snappy-frame): one [[graft.codec.Otlp.decode]]
    * resolves the body to the same [[Ingest]] record as every other
    * front door, landed through [[ingest]].
    */
  private def handleOtlp(ex: HttpExchange): Unit = ApiEdge.ingest(ex, ingest(_)._2) {
    // OTel SDK HTTP exporters gzip by default — honor the header
    val raw = readBody(ex)
    val body =
      if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .exists(_.contains("gzip"))) {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw))
        try in.readAllBytes() finally in.close()
      } else raw
    // ONE walk decodes every facet. Target-info mode promotes
    // service.name/instance.id to job/instance and collects the
    // remaining resource attrs into a target_info series (the
    // Prometheus receiver mapping, the shape info() joins); default
    // mode flattens resource attrs into every series. Every facet
    // follows the SAME mapping — the upstream receiver applies it
    // before temporality conversion, so one resource's
    // delta-converted and cumulative series share one label schema
    // (and one conversion state key), and exemplars land under their
    // samples' identity. The delta target_info series bypasses
    // conversion: its value-1 samples are levels, not increments.
    val dec = graft.codec.Otlp.decode(body, otlpTargetInfo)
    val converted =
      if (!otlpConvertDelta || dec.deltas.timeseries.isEmpty) Nil
      else dec.deltaTargetInfo ++ convertDeltaSeries(dec.deltas.timeseries)
    // EXPONENTIAL HISTOGRAMS: cumulative points land directly; DELTA
    // points (opt-in) run per-bucket cumulation through the same
    // gap-reset/out-of-order state discipline as the scalar
    // conversion; both then land as native histograms
    val expNative = (dec.expHistograms ++
      (if (otlpConvertDelta) convertDeltaExpHist(dec.deltaExpHistograms)
       else Nil)).map(graft.codec.Otlp.expHistToNative)
    Ingest(graft.codec.WriteWire.DecodedWrite(
      Prompb.PWriteRequest(dec.cumulative.timeseries ++ converted),
      expNative, dec.exemplars, Nil))
  }

  /** Receiver-side delta→cumulative state (the otlpConvertDelta opt-in,
    * Prometheus's otlp-deltatocumulative feature): per live delta
    * series, the last seen sample timestamp, running level, and the
    * WALL-CLOCK receipt time of the last update. Driver-memory like
    * [[metadataStore]], bounded by live DELTA-series cardinality; the
    * executor-partitioned form for pipeline-scale streams is
    * [[graft.streaming.DeltaToCumulative]] (same contract, shared spec).
    */
  private[graft] val deltaRuns =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, Double, Long)]()

  /** An exp-histogram series' delta run, shaped as in [[deltaRuns]]:
    * its level is the running count/sum/zero and per-bucket counts
    * (OTLP indexes). */
  private[graft] type ExpRun = (Long, DeltaToCumulative.HistDelta, Long)

  private[graft] val deltaExpRuns =
    new java.util.concurrent.ConcurrentHashMap[String, ExpRun]()

  /** Injectable wall clock for [[deltaRuns]] eviction (test seam). */
  private[graft] var deltaWallClock: () => Long =
    () => System.currentTimeMillis()

  /** One request's delta points → their cumulative levels, by
    * [[DeltaToCumulative.cumulate]]: per series, in (time, value) order,
    * a run resets after a gap over `otlpDeltaMaxStaleMs` and an
    * out-of-order or repeated timestamp drops — so a request stores what
    * the streaming form stores for the same points. Serialized —
    * concurrent posts for one series must not interleave
    * read-modify-write on the run.
    */
  private def convertDeltas[P, V: DeltaToCumulative.RunValue](
      runs: java.util.concurrent.ConcurrentHashMap[String, (Long, V, Long)],
      points: Seq[P])(labels: P => Seq[Prompb.PLabel], tsMs: P => Long,
                      delta: P => V): Seq[(P, V)] = runs.synchronized {
    val now = deltaWallClock()
    val converted = points.groupBy(p => Ingest.seriesKey(labels(p))).toSeq
      .sortBy(_._1).flatMap { case (key, pts) =>
        val (kept, run) = DeltaToCumulative.cumulate(
          Option(runs.get(key)).map(r => (r._1, r._2)), pts,
          otlpDeltaMaxStaleMs)(tsMs, delta)
        if (kept.nonEmpty) run.foreach(r => runs.put(key, (r._1, r._2, now)))
        kept
      }
    // EVICT dead runs on each series' OWN staleness, measured in
    // WALL-CLOCK receipt time (the upstream deltatocumulative rule):
    // a series that has not POSTED for the staleness window can never
    // continue its run (a later arrival restarts anyway), so its state
    // is pure leak — while a live-but-lagging exporter whose SAMPLE
    // clock trails other series keeps its run as long as it keeps
    // posting, never losing it to another series' timestamps. Keeps
    // the map bounded by live delta-series cardinality (the streaming
    // form gets the same bound from its per-key state timeout).
    val it = runs.entrySet().iterator()
    while (it.hasNext) {
      if (now - it.next().getValue._3 > otlpDeltaMaxStaleMs)
        it.remove()
    }
    converted
  }

  private def convertDeltaSeries(series: Seq[Prompb.PTimeSeries])
      : Seq[Prompb.PTimeSeries] =
    convertDeltas(deltaRuns, for (ts <- series; s <- ts.samples)
        yield (ts.labels, s.timestampMs, s.value))(_._1, _._2, _._3)
      .map { case ((labels, t, _), level) =>
        Prompb.PTimeSeries(labels, Seq(Prompb.PSample(level, t)))
      }

  /** [[convertDeltaSeries]]'s exponential-histogram form: per-BUCKET
    * cumulation under one series-level run. Output points are
    * CUMULATIVE exp-histograms ready for the native flatten. The
    * posOffset/posCounts dense form re-derives from the running sparse
    * map each point (zero-count gaps inside the span stay, leading and
    * trailing zeros drop).
    */
  private def convertDeltaExpHist(points: Seq[graft.codec.Otlp.ExpHistPoint])
      : Seq[graft.codec.Otlp.ExpHistPoint] =
    convertDeltas(deltaExpRuns, points)(_.labels,
      p => Math.floorDiv(p.tsNano, 1000000L),
      p => DeltaToCumulative.HistDelta(p.count, p.sum, p.zeroCount,
        p.posCounts.zipWithIndex.collect {
          case (c, i) if c > 0L => (p.posOffset + i) -> c
        }.toMap)).map { case (p, r) =>
      val (off, dense) =
        if (r.buckets.isEmpty) (0, Seq.empty[Long])
        else {
          val lo = r.buckets.keys.min; val hi = r.buckets.keys.max
          (lo, (lo to hi).map(i => r.buckets.getOrElse(i, 0L)))
        }
      graft.codec.Otlp.ExpHistPoint(p.labels, p.tsNano, r.count, r.sum,
        p.hasSum, p.scale, r.zero, off, dense, 0, Nil)
    }

  /** Per-series newest ingested sample timestamp, whichever front door
    * it came through, tracked only under --ct-zero-ingestion: a CT-zero
    * candidate ingests ONLY when the receiver knows no sample at or
    * after its creation instant — injecting a zero behind existing data
    * would fabricate a counter reset (upstream's AppendCTZeroSample
    * out-of-order refusal).
    * Driver-memory, bounded by live series cardinality like
    * [[metadataStore]].
    */
  private[graft] val ctSeen =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def ctZeroFilter(candidates: Seq[Prompb.PTimeSeries],
                           ingesting: Seq[Prompb.PTimeSeries])
      : Seq[Prompb.PTimeSeries] = ctSeen.synchronized {
    val kept = candidates.filter { c =>
      val ct = c.samples.head.timestampMs
      Option(ctSeen.get(Ingest.seriesKey(c.labels))).forall(_ < ct)
    }
    ingesting.foreach { ts =>
      if (ts.samples.nonEmpty) {
        val k = Ingest.seriesKey(ts.labels)
        val mx = ts.samples.map(_.timestampMs).max
        val prev = Option(ctSeen.get(k)).getOrElse(Long.MinValue)
        if (mx > prev) ctSeen.put(k, mx)
      }
    }
    kept
  }

  /** The Prometheus stale-marker bit pattern (value/histogram.go's
    * StaleNaN): an ORDINARY NaN data value keeps the plain-NaN payload
    * and falls to the F1 filter; only this exact pattern is a marker.
    */
  private val StaleNaNBits = 0x7ff0000000000002L

  /** Appended-exemplar tallies per series since the last compaction —
    * driver memory, bounded by live exemplar-series cardinality. */
  private val exemplarCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Rewrite the exemplar side table keeping only the NEWEST
    * `maxExemplarsPerSeries` exemplars per series (ts, then value and
    * exemplar labels as deterministic tiebreaks) — the at-rest
    * equivalent of Prometheus's per-series circular buffer (the
    * max-exemplars discipline: a high-frequency exemplar producer must
    * not grow the side table linearly between retention sweeps), staged
    * and swapped like [[graft.engine.Rollup.compact]]. The committer runs
    * it in its settle only once some series doubles its budget, so the
    * cost amortizes over at least maxExemplarsPerSeries appends; a
    * failed rewrite is logged, not raised, like a failed merge: the
    * exemplars it follows have landed, and the next group retries it.
    * Caller holds `appendLock`.
    */
  private def compactExemplars(): Unit = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name"), col("tags"))
      .orderBy(col("ts").desc, col("val").desc,
        concat_ws(",", col("ex_tags")).desc)
    val kept = spark.read.parquet(exemplarPath)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxExemplarsPerSeries).drop("_rn")
      .select(col("date"), col("name"), col("tags"), col("ex_tags"),
        col("val"), col("ts"))
    val staging = exemplarPath + ".compacting"
    // kept-rows bound is a free driver-side fact (live exemplar series ×
    // the per-series cap), so the rewrite width derives from the data
    // like WritePipeline.append's rowsHint path
    val keptBound = exemplarCounts.size.toLong * maxExemplarsPerSeries
    kept
      .repartitionByRange(WritePipeline.rangeWidth(spark, keptBound),
        col("date"), col("name"), col("tags"))
      .sortWithinPartitions(col("name"), col("tags"), col("ts"))
      .write.mode("overwrite").partitionBy("date").parquet(staging)
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(exemplarPath)
    val fs = dst.getFileSystem(conf)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(staging), dst)
    exemplarCounts.clear()
    spark.read.parquet(exemplarPath)
      .groupBy(col("name"), col("tags")).count().collect()
      .foreach(r => exemplarCounts.put(
        r.getString(0) + "|" +
          r.getAs[scala.collection.Seq[String]](1).mkString(","),
        r.getLong(2)))
  }

  /** The one ingest tail. Every front door — /write's RW1, RW2, text
    * and OpenMetrics bodies, /otlp and the scrape loop — decodes its
    * request to an [[Ingest]] record outside every lock and lands it
    * here, each step once: metadata to the metadata store; native
    * histograms flattened to their classic `le` series; the CT-zero
    * splice; stale markers diverted from the samples; then the fan-out,
    * whose store sink submits the samples with the request's exemplar,
    * sparse native-histogram and stale-marker rows to [[committer]]
    * (which holds [[appendLock]] only for the commit). Returns the
    * samples received and, when the store did not commit them, its
    * error; a failure of any other step, a side table's included,
    * throws.
    */
  private def ingest(rec: Ingest): (Long, Option[String]) = {
    val dec = rec.write
    dec.metadata.foreach(md =>
      if (md.familyName.nonEmpty) metadataStore.put(md.familyName, md))
    val series = dec.scalars.timeseries ++
      dec.histograms.flatMap(graft.codec.NativeHist.toClassicSeries)
    // --ct-zero-ingestion: admitted candidates become synthetic zeros at
    // the creation instant, and every ingested series updates what the
    // no-earlier-sample rule knows
    val zeros = if (ctZeroIngestion) ctZeroFilter(rec.ctZero, series) else Nil
    val all = Ingest.samples(zeros ++ series)
    received.addAndGet(all.size.toLong)
    // stale markers divert BEFORE the value pipeline: they are
    // signals, not samples — F1 still sees (and drops) ordinary NaNs
    val (staleMarkers, samples) = all.partition(s =>
      java.lang.Double.doubleToRawLongBits(s.value) == StaleNaNBits)
    import spark.implicits._
    val flat = samples.toDF()
    var sideFailure: Option[Throwable] = None
    val table: (String, DataFrame => graft.sinks.Transport.WriteStats) =
      "parquet" -> { df =>
        // decode and the frame above stay concurrent; the commit
        // (shared with whichever POSTs are queued with this one) runs
        // under appendLock, and executors parallelize within it
        try committer.submit(new Commit(WritePipeline.Batch(samples, df),
          Ingest.exemplarRows(dec.exemplars), dec.histograms, staleMarkers))
        catch { case f: SideTableFailure =>
          sideFailure = Some(f.getCause); throw f.getCause }
        // The decoded request size IS the row count of `df` —
        // counting it again would launch a second Spark job per
        // micro-batch purely for the stat (the reference likewise
        // reports len(samples), reference main.go:sendSamples).
        graft.sinks.Transport.WriteStats(samples.size.toLong, 0L, None)
      }
    val outcomes = FanOut.fanOutStats(flat, table +: extraSinks)
    outcomes.foreach { o =>
      sent.computeIfAbsent(o.sink, _ => new AtomicLong).addAndGet(o.sent)
      failed.computeIfAbsent(o.sink, _ => new AtomicLong).addAndGet(o.failed)
      sendDuration.computeIfAbsent(o.sink, _ => new Observability.DurationHistogram)
        .observe(o.durationSec)
    }
    // a side-table failure answers as any failed ingest step does (400,
    // or 500 when fatal), not as the store sink's outcome
    sideFailure.foreach(throw _)
    // fan-out isolates per-sink failures (the request still answers
    // 200, pinned by s3_fanout_isolation); the store's own outcome is
    // what the RW2 written headers and the scrape target's health report
    (all.size.toLong, outcomes.find(_.sink == "parquet").flatMap(_.error))
  }

  /** Dashboard downsampling via URL query params on POST /read —
    * `?downsample=minmax&step=<sec>` reduces each series to its
    * per-step extreme points before response assembly (the raw-panel
    * reducer; retained points keep their original values, so zooming
    * re-queries refine, never re-draw). The proto body is untouched:
    * Prometheus remote-read clients don't model downsampling, and a
    * URL param lets a dashboard proxy opt in per request without
    * breaking protocol-conformant callers.
    */
  private[serve] def parseDownsample(p: Params): DataFrame => DataFrame =
    p.one("downsample") match {
      case Some("minmax") =>
        val step = p.one("step").map(_.toLong).getOrElse(3600L)
        ReadPipeline.minmaxDownsample(_, step)
      case Some("lttb") =>
        val points = p.one("points").map(_.toInt).getOrElse(200)
        ReadPipeline.lttbDownsample(_, points)
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unknown downsample '$other' (supported: minmax, lttb)")
      case None => identity
    }

  /** Resolution routing for one query (the Thanos auto-downsampling
    * rule the reference gets for free from GraphiteMergeTree,
    * README.md:64-87): pick the coarsest configured tier still yielding
    * ≥ `autoResTargetPoints` response points, 0/none = raw. The
    * `?resolution=` param overrides: `raw` forces the raw store, `auto`
    * (or absent) applies the rule, an explicit seconds value selects
    * that configured tier (unknown value → 400). Returns the chosen
    * (tierSec, tier DataFrame), or None for the raw path.
    *
    * Tier relations re-resolve per request like extraReaderPaths — the
    * compaction job that materializes tiers runs out of band, so nothing
    * signals this process when tier files change. /write appends land in
    * the RAW store only (tiers lag by one compaction cycle, the Thanos
    * deployment model); short-range queries — the ones that need fresh
    * data — route raw by construction.
    */
  /** Functions whose semantics need the raw COUNTER samples: the tiers
    * store per-window averages, and a rate over averages is not a rate —
    * a hinted counter read must fall through to raw (the Thanos rule:
    * rate needs the counter downsample aggregate, which these tiers
    * don't carry).
    */
  private val CounterHintFns =
    Set("rate", "increase", "irate", "idelta", "delta", "resets")

  /** Does the parsed query apply a counter function anywhere? Drives
    * the same raw-routing rail on /api/v1/query_range that ReadHints
    * .func drives on /read.
    */
  private def usesCounterFn(e: graft.promql.Ast.Expr): Boolean = {
    import graft.promql.Ast._
    e match {
      case Call(fn, args) =>
        CounterHintFns.contains(fn) || args.exists(usesCounterFn)
      case Agg(_, b, p, _, _) =>
        usesCounterFn(b) || p.exists(usesCounterFn)
      case BinOp(_, l, r, _, _) => usesCounterFn(l) || usesCounterFn(r)
      case Unary(_, x) => usesCounterFn(x)
      case Subquery(x, _, _, _) => usesCounterFn(x)
      case _ => false
    }
  }

  private[serve] def chooseTier(q: PromQuery, resParam: Option[String],
                                hintStepMs: Long = 0L,
                                hintFunc: String = ""): Option[(Long, DataFrame)] = {
    val tier = if (tierPaths.isEmpty) None else resParam match {
      case Some("raw") => None
      // the COUNTER rail fires whenever no param was given, whatever
      // the step: a hinted/parsed rate must read raw. An explicit
      // ?resolution=auto or =<sec> is the operator overriding by hand.
      case None if CounterHintFns.contains(hintFunc) => None
      // ReadHints routing: the client declared its evaluation step, so
      // the coarsest tier still finer-or-equal to that step loses
      // nothing the client would ever see; a step finer than every tier
      // reads raw. Only when NO param is present — an explicit
      // ?resolution=auto asks for the range-based rule by name.
      case None if hintStepMs > 0 =>
        tierPaths.map(_._1).filter(_ * 1000L <= hintStepMs).maxOption
          .flatMap(w => tierPaths.find(_._1 == w))
      case None | Some("auto") =>
        val rangeSec = (q.endMs - q.startMs) / 1000
        if (rangeSec <= 0) None
        else {
          val w = graft.engine.Rollup.chooseResolution(rangeSec,
            tierPaths.map(_._1), autoResTargetPoints)
          tierPaths.find(_._1 == w)
        }
      case Some(explicit) =>
        val w = explicit.toLong // NumberFormatException → 400
        Some(tierPaths.find(_._1 == w).getOrElse(
          throw new IllegalArgumentException(
            s"no downsampled tier at ${w}s (configured: " +
              s"${tierPaths.map(_._1).sorted.mkString(", ")})")))
    }
    tier.map { case (sec, path) => sec -> spark.read.parquet(path) }
  }

  /** Response-grid step for a tier read: the raw path's adaptive divStep
    * rounded UP to the next tier-window multiple — keeps the ≤ MaxSample
    * bucket bound AND the window alignment exact re-aggregation needs.
    */
  private[serve] def tierStep(q: PromQuery, tierSec: Long,
                              hintStepMs: Long = 0L): Long = {
    // a hinted read grids on the CLIENT's step (Prometheus will sample
    // the response at that step anyway); unhinted reads keep the
    // adaptive divStep bound
    val d = if (hintStepMs > 0) math.max(hintStepMs / 1000L, 1L)
            else Matchers.divStep(q)
    ((d + tierSec - 1) / tierSec) * tierSec
  }

  private def handleRead(ex: HttpExchange): Unit =
    plain(ex, form = false) { params =>
      val rr = Prompb.decodeReadRequest(Prompb.snappyUncompress(readBody(ex)))
      // ?response_type=streamed_xor_chunks&source=chunks — raw samples
      // straight from the at-rest chunk tier (the Prometheus/Thanos
      // remote-read semantic; day-aligned queries forward stored bytes
      // verbatim), as opposed to the default aggregating read below
      if (params.one("source").contains("chunks")) readChunkTier(ex, rr, params)
      else respond(ex, 200, reads(readStore(ex, rr, params)))
    }

  private def readChunkTier(ex: HttpExchange, rr: Prompb.PReadRequest,
                            params: Params): Unit = {
    if (!params.one("response_type").contains("streamed_xor_chunks"))
      throw new IllegalArgumentException(
        "source=chunks requires response_type=streamed_xor_chunks")
    if (chunkTierPath.isEmpty && histChunkTierPath.isEmpty)
      throw new IllegalArgumentException(
        "no chunk tier configured (chunkTierPath)")
    val force = params.one("chunk_path").contains("reencode")
    val pqs = rr.queries.map(toPromQuery)
    // the native-histogram tier serves beside the scalar one through
    // the same forwarder: FLOAT_HISTOGRAM frames after the XOR ones
    val (bodies, modes) = (chunkTierPath.toSeq ++ histChunkTierPath).map {
      path => ResponseEdge.encodeChunkedFromStore(spark.read.parquet(path),
        pqs, readMaxSeries, forceReencode = force)
    }.unzip
    ex.getResponseHeaders.set("X-Graft-Chunk-Source",
      modes.flatten.mkString(","))
    ex.getResponseHeaders.set("Content-Type",
      "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse")
    respond(ex, 200, bodies.flatten.toArray)
  }

  /** The default /read answer's body; its headers are set on `ex`. */
  private def readStore(ex: HttpExchange, rr: Prompb.PReadRequest,
                        params: Params): Array[Byte] = {
    val transform = parseDownsample(params)
    val resParam = params.one("resolution")
    val readers = storedReaders()
    val resolutions = Seq.newBuilder[Long]
    val steps = Seq.newBuilder[Long]
    val perQuery = rr.queries.map { q =>
      val pq = toPromQuery(q)
      // prompb.ReadHints: a stock Prometheus sends its evaluation step
      // in the proto — routing needs no graft-specific ?resolution=
      // param (which still overrides when present)
      val hintMs = q.hints.map(_.stepMs).getOrElse(0L)
      val hintFunc = q.hints.map(_.func).getOrElse("")
      chooseTier(pq, resParam, hintMs, hintFunc) match {
        case Some((tierSec, tier)) =>
          val outSec = tierStep(pq, tierSec, hintMs)
          resolutions += tierSec; steps += outSec
          ReadPipeline.assembleSeries(transform(
            ReadPipeline.tierBucketAgg(tier, pq, tierSec, outSec)))
        case None =>
          resolutions += 0L; steps += Matchers.divStep(pq)
          ReadPipeline.readMulti(readers, pq, exact = exactQuantiles,
            bucketTransform = transform)
      }
    }
    // routing audit, per query in request order: 0 = raw, else tier sec
    ex.getResponseHeaders.set("X-Graft-Resolution",
      resolutions.result().mkString(","))
    ex.getResponseHeaders.set("X-Graft-Step", steps.result().mkString(","))
    // STREAMED_XOR_CHUNKS negotiation (Remote-Read spec): the server
    // answers with the FIRST type in the request proto's
    // accepted_response_types it supports; an empty list is the legacy
    // SAMPLES contract. The explicit ?response_type= param overrides
    // in both directions so plain HTTP clients can opt in (or a
    // debugging client can force SAMPLES from a chunk-capable setup).
    // Chunked responses are framed ChunkedReadResponse messages with
    // Gorilla-compressed sample chunks, uncompressed outer body per
    // the spec.
    val wantChunks = params.one("response_type") match {
      case Some(t) => t == "streamed_xor_chunks"
      case None => rr.acceptedResponseTypes
        .find(t => t == Prompb.ResponseType.SAMPLES ||
          t == Prompb.ResponseType.STREAMED_XOR_CHUNKS)
        .contains(Prompb.ResponseType.STREAMED_XOR_CHUNKS)
    }
    if (wantChunks) {
      val scalarBody = ResponseEdge.encodeChunked(perQuery, readMaxSeries)
      // native-histogram series ride FLOAT_HISTOGRAM chunk frames
      // from the sparse side table — the native representation
      // survives streamed_xor_chunks instead of answering only
      // through the classic le-flatten (whose *_bucket/_count/_sum
      // names don't collide with the native series' own name, so
      // the two frame sets are disjoint by construction)
      val histBody = cachedTable.get.hist.fold(Array.empty[Byte])(
        ResponseEdge.encodeChunkedHist(_, rr.queries.map(toPromQuery),
          readMaxSeries))
      ex.getResponseHeaders.set("Content-Type",
        "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse")
      scalarBody ++ histBody
    } else {
      val body = Prompb.snappyCompress(Prompb.encodeReadResponse(
        ResponseEdge.toReadResponse(perQuery, readMaxSeries)))
      ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
      ex.getResponseHeaders.set("Content-Encoding", "snappy")
      body
    }
  }

  /** Prometheus's limit on a range query's grid: (end − start) / step. */
  private val MaxPointsPerSeries = 11000L

  /** `GET /api/v1/query_range?query=…&start=…&end=…&step=…` — the
    * Prometheus HTTP API's range query, answered by the in-engine PromQL
    * evaluator (graft.promql): the endpoint a Grafana datasource points
    * at. The reference can't serve this at all — it only speaks
    * remote-read and leaves PromQL to Prometheus (reference:
    * main.go:322-372); here the full language executes as one Spark plan
    * over the store.
    *
    * Times are epoch seconds (integer or fractional — truncated to the
    * store's second grain); `step` takes a duration (`30s`, `1h`) or
    * bare seconds. `lookback` (same formats, default 5 m) is this
    * server's explicit spelling of Prometheus's --query.lookback-delta.
    * Response is the standard JSON matrix envelope; sample values print
    * with minimal decimals (trailing zeros trimmed), timestamps as
    * integer seconds. Response assembly is driver-side by the same
    * contract as remote-read (S11) and enforces the same series budget
    * (413 over `readMaxSeries`). Malformed queries/params are the
    * client's fault: 400 with errorType=bad_data, per the API spec.
    */
  private def handleQueryRange(ex: HttpExchange): Unit =
    api(ex, reads) { p =>
      val query = p.need("query")
      val start = p.needTime("start")
      val end = p.needTime("end")
      val step = graft.promql.Parser.durationSec(p.need("step"))
      val lookback = p.lookback
      if (end < start)
        throw new IllegalArgumentException("end is before start")
      if (step <= 0)
        throw new IllegalArgumentException("zero or negative query " +
          "resolution step widths are not accepted. Try a positive integer")
      // Prometheus's per-series resolution cap: the grid is planned as
      // spark.range over every instant, so one request must not ask for
      // ~1e18 of them (a span past the long range counts as too many)
      val span = try Math.subtractExact(end, start)
        catch { case _: ArithmeticException => Long.MaxValue }
      if (span / step > MaxPointsPerSeries)
        throw new IllegalArgumentException("exceeded maximum resolution " +
          "of 11,000 points per timeseries. Try decreasing the query " +
          "resolution (?step=XX)")
      // auto-resolution, the same routing rule as /read: long ranges
      // answer from the coarsest downsampled tier still yielding enough
      // points (?resolution=raw|auto|<sec> overrides). The tier view
      // exposes window AVERAGES as samples at the window start with an
      // exact pre-quantized val_fp — gauge-shaped queries are
      // tier-exact; a query whose AST uses a COUNTER function
      // (rate/increase/…) routes RAW by default, because a rate over
      // averages is not a rate (explicit ?resolution= overrides, same
      // rail as hinted /read).
      val ast = graft.promql.Parser.parse(query)
      val tier = chooseTier(
        PromQuery(start * 1000, end * 1000, Nil),
        p.one("resolution"),
        hintFunc = if (usesCounterFn(ast)) "rate" else "")
      ex.getResponseHeaders.set("X-Graft-Resolution",
        tier.map(_._1).getOrElse(0L).toString)
      val source = tier match {
        case Some((_, df)) => tierMetricsView(df)
        case None => promqlTable()
      }
      // ?slice=<dur> opts into skew-split evaluation (hot-series
      // deployments: one runaway series no longer sorts on one task)
      val slice = p.duration("slice")
      val res = graft.promql.Eval.rangeQuery(source, query,
        graft.promql.Eval.RangeSpec(start, end, step, lookback, slice))
      // the series budget rides INTO the plan (CollectLimit on the
      // executors), the /read discipline — an over-budget
      // match-everything query costs the driver readMaxSeries+1
      // per-series rows and a clean 413, never the full matrix
      val rows = ResponseEdge.collectBoundedSeries(res, readMaxSeries)
      val series = rows.toSeq
        .map { r =>
          (r.getAs[scala.collection.Seq[String]]("tags"),
            r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("points"))
        }
        .sortBy(_._1.mkString(","))
        .map { case (tags, pts) =>
          // points arrive t-sorted (sort_array over struct(t, value))
          val values = pts.map { pt =>
            s"""[${pt.getAs[Long]("t")},${
              jsonStr(fmtValue(pt.getAs[Double]("value")))}]"""
          }.mkString("[", ",", "]")
          s"""{"metric":${labelsJson(tags)},"values":$values}"""
        }
      s"""{"resultType":"matrix","result":${
        series.mkString("[", ",", "]")}}"""
    }

  /** `GET /api/v1/query?query=…&time=…` — the instant query: one grid
    * step at `time`, resultType "vector". A thin wrapper over the same
    * evaluator as query_range (start = end = time, step 1).
    */
  private def handleInstantQuery(ex: HttpExchange): Unit =
    api(ex, reads) { p =>
      val t = p.needTime("time")
      val lookback = p.lookback
      // ?slice= opts into skew-split evaluation, same as query_range
      val slice = p.duration("slice")
      val res = graft.promql.Eval.rangeQuery(promqlTable(), p.need("query"),
        graft.promql.Eval.RangeSpec(t, t, 1, lookback, slice))
      // one grid instant ⇒ one row per series, so the budget applies
      // in-plan as on /read; sorting happens driver-side on the bounded rows
      val rows = ResponseEdge.collectBounded(res, readMaxSeries)
      val out = rows.sortBy(
        _.getAs[scala.collection.Seq[String]]("tags").mkString("\u0000"))
        .iterator.map { r =>
        s"""{"metric":${labelsJson(r.getAs[scala.collection.Seq[String]](
          "tags"))},"value":[${r.getAs[Long]("t")},${
          jsonStr(fmtValue(r.getAs[Double]("value")))}]}"""
      }.mkString("[", ",", "]")
      s"""{"resultType":"vector","result":$out}"""
    }

  /** Metadata endpoints — /api/v1/labels, /api/v1/label/<n>/values,
    * /api/v1/series: what a Grafana datasource calls to populate
    * selectors. `match[]` repeats union (the API contract); filters are
    * time bounds + compiled selector predicates, all pushed into the
    * scan; distinct label/series sets are aggregate-sized by definition
    * (the series endpoint additionally enforces the series budget).
    */
  private def handleMeta(ex: HttpExchange): Unit =
    api(ex, reads) { p =>
      import org.apache.spark.sql.functions._
      val path = ex.getRequestURI.getPath
      // match[] may repeat: the selectors union
      val matches = p.all("match[]")
      val start = p.needTime("start")
      val end = p.needTime("end")
      // ?limit= truncates deterministically (sort THEN limit, both
      // in-plan: TakeOrdered on the executors) — the Prometheus param
      val userLimit = p.one("limit").map(_.toInt).filter(_ > 0)
      def capped(df: DataFrame): DataFrame =
        userLimit.map(df.limit).getOrElse(df)
      var df = timeWindow(storedTable(), start, end)
      if (matches.nonEmpty)
        df = df.filter(matches.map(graft.promql.Eval.seriesPredicate)
          .reduce(_ || _))
      if (path.endsWith("/labels")) {
        capped(df
          .select(explode(col("tags")).as("kv"))
          .select(substring_index(col("kv"), "=", 1).as("k"))
          .distinct().orderBy(col("k")))
          .collect().map(r => jsonStr(r.getString(0)))
          .mkString("[", ",", "]")
      } else if (path.startsWith("/api/v1/label/") &&
          path.endsWith("/values")) {
        val label = path.stripPrefix("/api/v1/label/")
          .stripSuffix("/values")
        val prefix = label + "="
        capped(df
          .select(explode(col("tags")).as("kv"))
          .filter(col("kv").startsWith(prefix))
          .select(col("kv").substr(lit(prefix.length + 1),
            lit(Int.MaxValue)).as("v"))
          .distinct().orderBy(col("v")))
          .collect().map(r => jsonStr(r.getString(0)))
          .mkString("[", ",", "]")
      } else if (path.endsWith("/series")) {
        if (matches.isEmpty)
          throw new IllegalArgumentException(
            "series requires at least one match[]")
        // distinct tags bounded IN-PLAN (limit after the distinct, so
        // CollectLimit truncates on the executors); the deterministic
        // order is applied driver-side on the bounded rows. A user
        // ?limit= sorts FIRST (TakeOrdered) so the cut is stable.
        val distinctTags = df.select(col("tags")).distinct()
        ResponseEdge.collectBounded(userLimit.fold(distinctTags)(n =>
            distinctTags.orderBy(array_join(col("tags"), ",")).limit(n)),
            readMaxSeries)
          .map(_.getAs[scala.collection.Seq[String]]("tags"))
          .sortBy(_.mkString(",")).map(labelsJson).mkString("[", ",", "]")
      } else throw new IllegalArgumentException(s"unknown path $path")
    }

  /** `GET /api/v1/format_query?query=…` — parse + pretty-print (the
    * canonical, fully parenthesized form); a parse error is 400
    * bad_data with the parser's position message.
    */
  private def handleFormatQuery(ex: HttpExchange): Unit =
    api(ex, reads) { p =>
      jsonStr(graft.promql.Parser.print(
        graft.promql.Parser.parse(p.need("query"))))
    }

  /** `GET/POST /api/v1/query_exemplars?query=…&start=…&end=…` — the
    * exemplars stored beside the main table, filtered by a plain series
    * selector and time bounds (both pushed into the side table's scan),
    * grouped per series IN-PLAN with the same series budget as the
    * query endpoints. Returns the standard envelope: one object per
    * series with its exemplar list (labels, value, timestamp seconds).
    */
  private def handleQueryExemplars(ex: HttpExchange): Unit =
    api(ex, reads) { p =>
      import org.apache.spark.sql.functions._
      val query = p.need("query")
      // start/end are OPTIONAL here (the Prometheus API's own contract
      // for this endpoint — absent bounds mean "all time")
      val start = p.time("start").getOrElse(0L)
      val end = p.time("end").getOrElse(4102444800L) // year 2100: "unbounded"
      cachedTable.get.exemplars match {
        case None => "[]"
        case Some(exemplars) =>
          val perSeries = timeWindow(exemplars, start, end)
            .filter(graft.promql.Eval.seriesPredicate(query))
            .groupBy(col("tags"))
            .agg(sort_array(collect_list(struct(
              unix_timestamp(col("ts")).as("t"),
              col("ex_tags"), col("val")))).as("exs"))
          ResponseEdge.collectBounded(perSeries, readMaxSeries).toSeq
            .map { r =>
              (r.getAs[scala.collection.Seq[String]]("tags"),
                r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("exs"))
            }
            .sortBy(_._1.mkString(","))
            .map { case (tags, exs) =>
              val exJson = exs.map { e =>
                s"""{"labels":${labelsJson(
                  e.getAs[scala.collection.Seq[String]]("ex_tags"))},""" +
                  s""""value":${jsonStr(fmtValue(e.getAs[Double]("val")))},""" +
                  s""""timestamp":${e.getAs[Long]("t")}}"""
              }.mkString("[", ",", "]")
              s"""{"seriesLabels":${labelsJson(tags)},"exemplars":$exJson}"""
            }.mkString("[", ",", "]")
      }
    }

  /** `GET /api/v1/parse_query?query=…` — the AST as JSON (the endpoint
    * Prometheus 3.x exposes for editors/linters); a parse error is 400
    * with the offset-bearing message, like format_query.
    */
  private def handleParseQuery(ex: HttpExchange): Unit =
    api(ex, reads) { p =>
      graft.promql.AstJson.toJson(
        graft.promql.Parser.parse(p.need("query")))
    }

  /** `GET /api/v1/metadata` — the metric-family metadata received on the
    * write path (v1 WriteRequest.metadata, RW2 per-series Metadata), in
    * the Prometheus envelope Grafana's metric browser parses.
    */
  private def handleMetadata(ex: HttpExchange): Unit = {
    import scala.jdk.CollectionConverters._
    val entries = metadataStore.asScala.toSeq.sortBy(_._1).map {
      case (name, md) =>
        jsonStr(name) + ":[{" +
          s""""type":${jsonStr(md.metricType)},""" +
          s""""help":${jsonStr(md.help)},""" +
          s""""unit":${jsonStr(md.unit)}}]"""
    }
    ok(ex, entries.mkString("{", ",", "}"))
  }

  /** `GET /api/v1/rules` and `GET /api/v1/alerts` — the configured rule
    * groups and the CURRENT alert states, the management surface
    * Grafana's alert list and the Prometheus UI probe. Alert states
    * replay the rule on the group's interval grid ending at `?time=`
    * (epoch seconds; default: now) via [[graft.promql.Rules
    * .alertStatesAt]] — deterministic for tests, live for dashboards.
    */
  private def handleRules(ex: HttpExchange): Unit =
    api(ex, reads) { p =>
      val atSec = p.time("time").getOrElse(System.currentTimeMillis() / 1000L)
      val lookback = p.lookback
      val alertsOnly = ex.getRequestURI.getPath.endsWith("/alerts")
      def rfc3339(t: Long): String =
        java.time.Instant.ofEpochSecond(t).toString
      def kvJson(kvs: Seq[(String, String)]): String =
        kvs.sortBy(_._1).map { case (k, v) =>
          jsonStr(k) + ":" + jsonStr(v)
        }.mkString("{", ",", "}")
      val store = promqlTable()
      // evaluate each alert rule ONCE; both envelopes read the result
      val evaluated = liveRules.map { g =>
        val perAlert = g.alerts.map { ar =>
          val states = graft.promql.Rules.alertStatesAt(
            store, ar, atSec, g.intervalSec, lookback)
          val parsed = ResponseEdge.collectBounded(states, readMaxSeries)
            .toSeq.map { r =>
              (r.getAs[scala.collection.Seq[String]]("tags").toSeq,
                r.getAs[String]("state"), r.getAs[Double]("value"),
                r.getAs[Long]("activeAt"))
            }.sortBy(_._1.mkString(","))
          val alertJsons = parsed.map { case (tags, st, v, act) =>
            val labels = tags.map { kv =>
              val i = kv.indexOf('=')
              kv.substring(0, i) -> kv.substring(i + 1)
            }
            // per-instance expansion; the rule-level envelope below
            // carries the raw templates, as Prometheus serves them
            val annotations = ar.annotations.map { case (k, tmpl) =>
              k -> graft.promql.Rules.expandTemplate(tmpl, labels.toMap, v)
            }
            s"""{"labels":${kvJson(labels)},"annotations":${kvJson(annotations)},""" +
              s""""state":${jsonStr(st)},""" +
              s""""activeAt":${jsonStr(rfc3339(act))},""" +
              s""""value":${jsonStr(fmtValue(v))}}"""
          }
          (ar, parsed, alertJsons)
        }
        (g, perAlert)
      }
      val data =
        if (alertsOnly) {
          val alerts = evaluated.flatMap { case (_, perAlert) =>
            perAlert.flatMap(_._3)
          }
          s"""{"alerts":${alerts.mkString("[", ",", "]")}}"""
        } else {
          val gs = evaluated.map { case (g, perAlert) =>
            val ruleJsons = g.recording.map { rr =>
              s"""{"name":${jsonStr(rr.record)},"query":${jsonStr(rr.expr)},""" +
                s""""labels":${kvJson(rr.labels)},"health":"ok",""" +
                """"type":"recording"}"""
            } ++ perAlert.map { case (ar, parsed, alertJsons) =>
              val ruleState =
                if (parsed.isEmpty) "inactive"
                else if (parsed.exists(_._2 == "firing")) "firing"
                else "pending"
              s"""{"state":${jsonStr(ruleState)},"name":${jsonStr(ar.alert)},""" +
                s""""query":${jsonStr(ar.expr)},"duration":${ar.forSec},""" +
                s""""labels":${kvJson(ar.labels)},"annotations":${kvJson(ar.annotations)},""" +
                s""""alerts":${alertJsons.mkString("[", ",", "]")},""" +
                """"health":"ok","type":"alerting"}"""
            }
            s"""{"name":${jsonStr(g.name)},"file":"graft",""" +
              s""""rules":${ruleJsons.mkString("[", ",", "]")},""" +
              s""""interval":${g.intervalSec},"limit":0}"""
          }
          s"""{"groups":${gs.mkString("[", ",", "]")}}"""
        }
      data
    }

  /** `GET /federate?match[]=…&time=…` — hierarchical federation: the
    * latest sample (value + ITS OWN timestamp, ms) of every series
    * matching any `match[]` selector inside the lookback window, in the
    * Prometheus text exposition format a scraping parent ingests.
    * `# TYPE` comes from the metadata store when the family is known,
    * `untyped` otherwise (what Prometheus emits for unknown families).
    *
    * Scale: selector + time bounds push into the scan; last-sample is a
    * partial-aggregating `max(struct(ts, val))` per series (ties at one
    * second resolve to the max value, the store's dedup rule); the
    * series budget rides in-plan (`limit(maxSeries+1)` before collect).
    */
  private def handleFederate(ex: HttpExchange): Unit =
    plain(ex, form = true) { p => respond(ex, 200, reads {
      import org.apache.spark.sql.functions._
      val matches = p.all("match[]")
      if (matches.isEmpty)
        throw new IllegalArgumentException(
          "federate requires at least one match[]")
      val timeSec = p.time("time").getOrElse(System.currentTimeMillis() / 1000)
      val lookback = p.lookback
      val rows = ResponseEdge.collectBounded(timeWindow(storedTable(),
          timeSec - lookback, timeSec, loOpen = true)
        .filter(matches.map(graft.promql.Eval.seriesPredicate).reduce(_ || _))
        .groupBy(col("name"), col("tags"))
        .agg(max(struct(col("ts"), col("val"))).as("last"))
        .select(col("name"), col("tags"),
          unix_millis(col("last.ts")).as("t_ms"), col("last.val").as("v")),
        readMaxSeries)
      def escape(v: String): String = v.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case '\n' => "\\n"
        case c => c.toString
      }
      // Accept negotiation: an OpenMetrics scraper gets the OM render —
      // seconds timestamps, the OM `unknown` type spelling, and the
      // mandatory `# EOF` terminator (same rows, same values)
      val om = Option(ex.getRequestHeaders.getFirst("Accept"))
        .exists(_.contains("application/openmetrics-text"))
      val sb = new StringBuilder
      rows.toSeq
        .map(r => (r.getAs[String]("name"),
          r.getAs[scala.collection.Seq[String]]("tags"),
          r.getAs[Long]("t_ms"), r.getAs[Double]("v")))
        .sortBy { case (n, tg, _, _) => (n, tg.mkString(",")) }
        .foldLeft("") { case (prev, (name, tags, tMs, v)) =>
          if (name != prev) {
            val typ = Option(metadataStore.get(name))
              .map(_.metricType).filter(_.nonEmpty)
              .getOrElse(if (om) "unknown" else "untyped")
            sb ++= s"# TYPE $name $typ\n"
          }
          val labels = tags.filterNot(_.startsWith("__name__="))
            .map { kv =>
              val i = kv.indexOf('=')
              s"""${kv.substring(0, i)}="${escape(kv.substring(i + 1))}""""
            }
          sb ++= name
          if (labels.nonEmpty) sb ++= labels.mkString("{", ",", "}")
          val ts =
            if (!om) tMs.toString
            else if (tMs % 1000 == 0) (tMs / 1000).toString
            else (tMs / 1000.0).toString
          sb ++= s" ${fmtValue(v)} $ts\n"
          name
        }
      if (om) sb ++= "# EOF\n"
      ex.getResponseHeaders.set("Content-Type",
        if (om) "application/openmetrics-text; version=1.0.0; charset=utf-8"
        else "text/plain; version=0.0.4; charset=utf-8")
      sb.toString.getBytes("UTF-8")
    })}

  /** `GET /api/v1/status/tsdb` — cardinality statistics (what the
    * Prometheus UI's TSDB-status page and cardinality dashboards read):
    * head totals plus the top-10 `seriesCountByMetricName`,
    * `labelValueCountByLabelName`, `memoryInBytesByLabelName` (bytes of
    * label-value text held across series, the Prometheus measure's
    * parquet analogue), and `seriesCountByLabelValuePair`.
    *
    * Scale: ONE distinct-series frame feeds all four breakdowns
    * (distinct (name, tags) is aggregate-sized, the /series bound);
    * every top-10 is an executor-side partial agg + a driver take of 10
    * — `?limit=` overrides the 10, and ties break lexicographically so
    * the cut is deterministic.
    */
  private def handleStatusTsdb(ex: HttpExchange): Unit =
    api(ex, reads) { p =>
      import org.apache.spark.sql.functions._
      val topN = p.one("limit").map(_.toInt).getOrElse(10)
      val store = storedTable()
      val series = store.select(col("name"), col("tags")).distinct()
        .cache()
      try {
        val kv = series.select(col("name"),
          explode(col("tags")).as("kvp"))
          .filter(!col("kvp").startsWith("__name__="))
          .select(col("name"),
            substring_index(col("kvp"), "=", 1).as("k"),
            // the VALUE half only (a value containing '=' keeps its tail)
            expr("substring(kvp, instr(kvp, '=') + 1)").as("v"))
        def top(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
          df.orderBy(col("value").desc, col("name"))
            .limit(topN).collect().toSeq
            .map(r => (r.getAs[String]("name"), r.getAs[Long]("value")))
        val byMetric = top(series.groupBy(col("name"))
          .agg(count(lit(1)).as("value")).select(col("name"), col("value")))
        // ONE job computes every per-label-NAME stat: the result is
        // label-name-sized (the width of a /metrics page), so the
        // top-k and the numLabelPairs total derive driver-side
        val labelStats = kv.groupBy(col("k")).agg(
            count_distinct(col("v")).as("values"),
            sum(length(col("v")).cast("long")).as("bytes"))
          .collect().toSeq
          .map(r => (r.getAs[String]("k"), r.getAs[Long]("values"),
            r.getAs[Long]("bytes")))
        def topOf(xs: Seq[(String, Long)]): Seq[(String, Long)] =
          xs.sortBy { case (n, v) => (-v, n) }.take(topN)
        val valueCount = topOf(labelStats.map(x => (x._1, x._2)))
        val memBytes = topOf(labelStats.map(x => (x._1, x._3)))
        val numPairs = labelStats.map(_._2).sum
        val byPair = top(kv.groupBy(col("k"), col("v"))
          .agg(count(lit(1)).as("value"))
          .select(concat(col("k"), lit("="), col("v")).as("name"),
            col("value")))
        // head totals in one pass over the store (+ the series frame)
        val totals = store.agg(
          count(lit(1)).as("samples"),
          min(unix_millis(col("ts"))).as("minT"),
          max(unix_millis(col("ts"))).as("maxT")).head()
        val numSeries = series.count()
        def sec(xs: Seq[(String, Long)]): String = xs.map { case (n, v) =>
          s"""{"name":${jsonStr(n)},"value":$v}"""
        }.mkString("[", ",", "]")
        s"""{"headStats":{""" +
            s""""numSeries":$numSeries,"numLabelPairs":$numPairs,""" +
            s""""chunkCount":${totals.getAs[Long]("samples")},""" +
            s""""minTime":${totals.getAs[Long]("minT")},""" +
            s""""maxTime":${totals.getAs[Long]("maxT")}},""" +
            s""""seriesCountByMetricName":${sec(byMetric)},""" +
            s""""labelValueCountByLabelName":${sec(valueCount)},""" +
            s""""memoryInBytesByLabelName":${sec(memBytes)},""" +
            s""""seriesCountByLabelValuePair":${sec(byPair)}}"""
      } finally series.unpersist()
    }

  /** TSDB admin API — `/api/v1/admin/tsdb/delete_series` records
    * tombstones (selector + time range; reads mask immediately),
    * `/api/v1/admin/tsdb/clean_tombstones` rewrites the affected date
    * partitions and drops the records ([[graft.engine.Tombstones]]).
    * Gated behind `enableAdminApi` exactly like Prometheus's
    * `--web.enable-admin-api` (403 when off); both accept POST and PUT
    * (the Prometheus contract).
    */
  private def handleAdmin(ex: HttpExchange): Unit =
    json(ex) { p =>
      if (!enableAdminApi)
        throw new Status(403, "unavailable", "admin APIs disabled")
      if (ex.getRequestMethod != "POST" && ex.getRequestMethod != "PUT")
        throw new Status(405, "method_not_allowed", "use POST or PUT")
      val path = ex.getRequestURI.getPath
      if (path.endsWith("/delete_series")) {
        val matches = p.all("match[]")
        if (matches.isEmpty)
          throw new IllegalArgumentException(
            "delete_series requires at least one match[]")
        // Prometheus defaults to all of time (minTime/maxTime)
        val start = p.time("start").getOrElse(-2208988800L) // 1900-01-01
        val end = p.time("end").getOrElse(32503680000L)     // 3000-01-01
        if (end < start)
          throw new IllegalArgumentException("end is before start")
        // the tombstone table is parquet too — concurrent admin calls
        // share its staging dir, so the commit takes the same lock
        appendLock.synchronized {
          graft.engine.Tombstones.append(spark, tablePath,
            matches.map(graft.engine.Tombstones.Tombstone(_, start, end)))
        }
        invalidateTable()
        respond(ex, 204, Array.emptyByteArray)
      } else if (path.endsWith("/clean_tombstones")) {
        // the rewrite scans affected date= partitions, then rmTree's and
        // swaps them — a /write committing into one of those dirs between
        // the scan and the swap would have its fresh files deleted, so
        // the admin rewrite serializes with every other commit path
        // it reads the date directories directly, so retired merge
        // inputs must be gone first (no merge retires more under the lock)
        appendLock.synchronized {
          reads.awaitDrained()
          graft.engine.Tombstones.clean(spark, tablePath)
        }
        invalidateTable()
        respond(ex, 204, Array.emptyByteArray)
      } else if (path.endsWith("/snapshot")) {
        val name = p.one("name")
          .getOrElse(s"graft-${System.currentTimeMillis()}")
        // hardlink walk must not race an in-flight append's _temporary
        // staging files (they'd be linked into the snapshot or vanish
        // mid-walk), so it takes the same commit lock
        appendLock.synchronized {
          reads.awaitDrained()
          graft.engine.Admin.snapshot(tablePath, name)
        }
        ok(ex, s"""{"name":${jsonStr(name)}}""")
      } else throw new Status(404, "bad_data", s"unknown admin path $path")
    }

  /** A downsampled tier as a PromQL-readable store view: one sample per
    * (series, window) at the window start, value = the window's
    * fixed-point-exact average (`val_fp` carries the exact long; the
    * evaluator's scan prefers it over re-flooring a double). Keeps the
    * tier's `date` column so partition pruning applies unchanged.
    */
  private def tierMetricsView(tier: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val avgFp = floor(col("sum_fp") / col("cnt")).cast("long")
    tier.select(col("date"), col("name"), col("tags"),
      avgFp.as("val_fp"), (avgFp / 1000000.0).as("val"),
      col("bucket_ts").as("ts"))
  }

  /** Minimal-decimal value print (the 1e-6 grid makes it exact): what
    * Prometheus's FormatFloat('f', -1) produces for these values.
    */
  private def fmtValue(v: Double): String =
    java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  private def handleMetrics(ex: HttpExchange): Unit = {
    import scala.jdk.CollectionConverters._
    val counters =
      ("received_samples_total", Map.empty[String, String], received.get()) +:
        (sent.asScala.toSeq.sorted(Ordering.by((x: (String, AtomicLong)) => x._1))
          .map { case (k, v) => ("sent_samples_total", Map("remote" -> k), v.get()) } ++
          failed.asScala.toSeq.sorted(Ordering.by((x: (String, AtomicLong)) => x._1))
            .map { case (k, v) => ("failed_samples_total", Map("remote" -> k), v.get()) }) :+
        ("graft_parquet_commits_total", Map.empty[String, String], parquetCommits.get()) :+
        ("graft_parquet_merges_total", Map.empty[String, String], parquetMerges.get()) :+
        ("graft_read_retries_total", Map.empty[String, String], reads.retries.get())
    val histograms = sendDuration.asScala.toSeq.sortBy(_._1)
      .map { case (k, h) => h.text("sent_batch_duration_seconds", Map("remote" -> k)) }
    respond(ex, 200,
      (Observability.prometheusText(counters) + histograms.mkString)
        .getBytes("UTF-8"))
  }

  /** Concurrent request handling: Go's net/http serves every request on
    * its own goroutine (the reference relies on that default,
    * main.go:285-374), so concurrent remote-write POSTs and reads must
    * not queue behind each other here either. A bounded pool stands in
    * for goroutines — handlers submit Spark jobs, which are thread-safe;
    * the plan cache is the one shared mutable and is swapped atomically.
    */
  private val handlerPool = java.util.concurrent.Executors.newFixedThreadPool(
    8,
    new java.util.concurrent.ThreadFactory {
      private val n = new AtomicLong(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-http-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })

  /** One notification tick: evaluate every rule group at `atSec` and
    * POST the FIRING set to Alertmanager (`/api/v2/alerts`) — the same
    * [[graft.promql.Rules.alertStatesAt]] frame /api/v1/alerts serves,
    * so what pages and what the UI shows can never disagree. Returns
    * the number of alerts sent (0 when no URL is configured).
    */
  def notifyAlertmanager(
      atSec: Long = System.currentTimeMillis() / 1000): Int =
    alertmanagerUrl match {
      case Some(u) =>
        reads(graft.promql.Notifier.notifyOnce(promqlTable(), liveRules,
          u, atSec))
      case None => 0
    }

  /** The notification loop (ticks at the smallest group interval, like
    * Prometheus's rule manager); a failed tick logs and the next tick
    * retries — an unreachable Alertmanager must never kill the server.
    */
  @volatile private var notifier: Option[Thread] = None

  /** Per-target scrape state for /api/v1/targets: health ("up"/"down"/
    * "unknown"), last scrape time (epoch sec), last error. */
  private val targetState =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, String)]()
  scrapeTargets.foreach(u => targetState.put(u, ("unknown", 0L, "")))

  /** One scrape pass over every configured target (text-exposition
    * pages — a child's /federate, any /metrics); returns samples
    * received. Each page is fetched and decoded outside every lock and
    * lands through [[ingest]], so a slow target holds up no commit. A
    * failed target — its fetch, its decode or its store commit — logs,
    * records its error for /api/v1/targets, and the others proceed. */
  def scrapeOnce(): Long = scrapeTargets.map { url =>
    val nowSec = System.currentTimeMillis() / 1000
    try {
      val (n, storeError) = ingest(Scraper.page(url, ctZero = ctZeroIngestion))
      storeError.foreach(m => throw new java.io.IOException(m))
      targetState.put(url, ("up", nowSec, ""))
      n
    } catch {
      case scala.util.control.NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        targetState.put(url, ("down", nowSec, msg))
        System.err.println(s"[graft] scrape of $url failed: $msg")
        0L
    }
  }.sum

  /** `GET /api/v1/targets` — the scrape pool's state in the Prometheus
    * envelope (health, lastScrape, lastError per target). */
  private def handleTargets(ex: HttpExchange): Unit = {
    import scala.jdk.CollectionConverters._
    val actives = targetState.asScala.toSeq.sortBy(_._1).map {
      case (url, (health, lastSec, err)) =>
        val last = if (lastSec == 0) "1970-01-01T00:00:00Z"
          else java.time.Instant.ofEpochSecond(lastSec).toString
        s"""{"scrapeUrl":${jsonStr(url)},"health":${jsonStr(health)},""" +
          s""""lastScrape":${jsonStr(last)},"lastError":${jsonStr(err)},""" +
          s""""labels":{},"discoveredLabels":{}}"""
    }
    ok(ex, s"""{"activeTargets":${actives.mkString("[", ",", "]")},""" +
      """"droppedTargets":[]}""")
  }

  @volatile private var scraper: Option[Thread] = None

  def start(): Server = {
    // no merge is in flight before the first commit: a hidden merge file
    // now is one a crash left before its rename
    graft.engine.Admin.dropUnlandedMerges(storeFs,
      new org.apache.hadoop.fs.Path(tablePath))
    if (scrapeTargets.nonEmpty) {
      val t = new Thread(() => {
        try while (!Thread.interrupted()) {
          Thread.sleep(scrapeIntervalSec * 1000L)
          scrapeOnce()
        } catch { case _: InterruptedException => () }
      }, "graft-scraper")
      t.setDaemon(true)
      t.start()
      scraper = Some(t)
    }
    if (alertmanagerUrl.nonEmpty && ruleGroups.nonEmpty) {
      val tickMs = ruleGroups.map(_.intervalSec).min * 1000L
      val t = new Thread(() => {
        try while (!Thread.interrupted()) {
          Thread.sleep(tickMs)
          try notifyAlertmanager()
          catch { case e: Exception =>
            System.err.println(s"[graft] alertmanager notify failed: ${
              Option(e.getMessage).getOrElse(e.getClass.getName)}") }
        } catch { case _: InterruptedException => () }
      }, "graft-alertmanager-notifier")
      t.setDaemon(true)
      t.start()
      notifier = Some(t)
    }
    http.createContext("/write", (ex: HttpExchange) => handleWrite(ex))
    http.createContext("/otlp/v1/metrics", (ex: HttpExchange) => handleOtlp(ex))
    http.createContext("/read", (ex: HttpExchange) => handleRead(ex))
    http.createContext("/api/v1/query_range",
      (ex: HttpExchange) => handleQueryRange(ex))
    http.createContext("/api/v1/query",
      (ex: HttpExchange) =>
        // createContext prefix-matches: route query_range correctly even
        // though it shares this prefix (longest-prefix wins in the JDK
        // server, but guard against direct hits on the sub-path anyway)
        if (ex.getRequestURI.getPath == "/api/v1/query")
          handleInstantQuery(ex)
        else handleQueryRange(ex))
    http.createContext("/api/v1/query_exemplars",
      (ex: HttpExchange) => handleQueryExemplars(ex))
    http.createContext("/api/v1/metadata",
      (ex: HttpExchange) => handleMetadata(ex))
    http.createContext("/api/v1/rules",
      (ex: HttpExchange) => handleRules(ex))
    http.createContext("/api/v1/alerts",
      (ex: HttpExchange) => handleRules(ex))
    http.createContext("/api/v1/status/buildinfo",
      // the probe Grafana uses to detect a Prometheus-flavored API
      (ex: HttpExchange) => ok(ex,
        """{"version":"2.53.0","application":"graft","features":{}}"""))
    http.createContext("/api/v1/alertmanagers",
      (ex: HttpExchange) => {
        // the discovery view of the notification fan-out: the configured
        // receiver as activeAlertmanagers (Prometheus appends its POST
        // path to each discovered URL), none dropped
        val active = alertmanagerUrl.toSeq.map(u => s"""{"url":${jsonStr(
          u.stripSuffix("/") + "/api/v2/alerts")}}""").mkString(",")
        ok(ex, s"""{"activeAlertmanagers":[$active],""" +
          """"droppedAlertmanagers":[]}""")
      })
    http.createContext("/api/v1/status/flags",
      // the one flag clients act on is the admin-API gate
      (ex: HttpExchange) => ok(ex,
        s"""{"web.enable-admin-api":"$enableAdminApi",""" +
          s""""storage.tsdb.retention.time":"${retentionSec}s"}"""))
    http.createContext("/api/v1/status/runtimeinfo",
      (ex: HttpExchange) => ok(ex,
        s"""{"storagePath":${jsonStr(tablePath)},""" +
          s""""reloadConfigSuccess":true,""" +
          s""""goroutineCount":${Thread.activeCount()}}"""))
    http.createContext("/api/v1/format_query",
      (ex: HttpExchange) => handleFormatQuery(ex))
    http.createContext("/api/v1/parse_query",
      (ex: HttpExchange) => handleParseQuery(ex))
    http.createContext("/api/v1/labels",
      (ex: HttpExchange) => handleMeta(ex))
    http.createContext("/api/v1/label",
      (ex: HttpExchange) => handleMeta(ex))
    http.createContext("/api/v1/series",
      (ex: HttpExchange) => handleMeta(ex))
    http.createContext("/api/v1/admin/tsdb",
      (ex: HttpExchange) => handleAdmin(ex))
    http.createContext("/federate",
      (ex: HttpExchange) => handleFederate(ex))
    http.createContext("/api/v1/status/tsdb",
      (ex: HttpExchange) => handleStatusTsdb(ex))
    http.createContext("/api/v1/targets",
      (ex: HttpExchange) => handleTargets(ex))
    // k8s-style liveness/readiness, the Prometheus endpoints
    http.createContext("/-/reload", (ex: HttpExchange) => {
      // Prometheus's lifecycle endpoint, gated exactly like upstream
      if (!enableLifecycle)
        respond(ex, 403,
          "Lifecycle API is not enabled (--web.enable-lifecycle)"
            .getBytes("UTF-8"))
      else if (ex.getRequestMethod != "POST" &&
          ex.getRequestMethod != "PUT")
        respond(ex, 405, "method not allowed".getBytes("UTF-8"))
      else try {
        rulesFile.foreach { f =>
          val text = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f)), "UTF-8")
          liveRules = graft.promql.Rules.parseRuleFile(text)
        }
        respond(ex, 200, Array.emptyByteArray)
      } catch {
        case e: Exception => respond(ex, 500,
          (s"failed to reload rules: ${Option(e.getMessage)
            .getOrElse("parse error")}").getBytes("UTF-8"))
      }
    })
    http.createContext("/-/healthy", (ex: HttpExchange) =>
      respond(ex, 200, "graft is Healthy.\n".getBytes("UTF-8")))
    http.createContext("/-/ready", (ex: HttpExchange) =>
      respond(ex, 200, "graft is Ready.\n".getBytes("UTF-8")))
    http.createContext(metricsPath, (ex: HttpExchange) => handleMetrics(ex))
    http.setExecutor(handlerPool)
    http.start()
    this
  }

  def stop(): Unit = {
    scraper.foreach(_.interrupt())
    notifier.foreach(_.interrupt())
    http.stop(0)
    handlerPool.shutdown()
  }
}
