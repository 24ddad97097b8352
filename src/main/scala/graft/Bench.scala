package graft

import graft.promql.AstJson.jsonStr
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, fully materializing each result through the
  * `noop` sink (exercises the whole plan — a bare `.count()` lets Catalyst
  * prune projections and sorts), and emits ONE machine-parseable JSON line
  * on stdout AND to /tmp/bench.json (sbt buries stdout in `[info]` noise,
  * so the file is the reliable channel for the driver's parser).
  *
  * A warm-up run of the flagship query absorbs JVM/Spark startup so
  * per-query numbers are comparable round-over-round. Failures are NOT
  * swallowed: a failing query reports its wall time AND lands in "errors",
  * and the process exits nonzero.
  *
  * Each query reports the MIN over repeated trials — two normally, a
  * third when the first two both exceed 2 s. Single-trial timing under
  * ambient sandbox load produced phantom 4× regressions two rounds in a
  * row (r5 recorded 28.3 s for a query that takes 6.5 s; r6 on identical
  * code erased the "regression"); the min over trials is the standard
  * noise floor estimator — load spikes only ever ADD time.
  *
  * Two suite-hygiene disciplines (round 15), both born from the recurring
  * "in-suite inflation ghost" — late-alphabet entries reading 3-8× their
  * isolated wall time once the suite crossed ~300 entries, with NO code
  * change (r14: llm_dedup_recall 21.97 s in-suite vs 2.92 s isolated on
  * the same binary). An A/B ruled out any specific entry leaking state
  * (the five admin_* store-rewrite entries prepended to the dedup block
  * left it at isolated speed); the channel is cumulative driver-heap/
  * session debris over hundreds of entries that the per-query
  * clearCache+GC no longer contains:
  *
  *   1. SESSION RESTART every `SPARK_GRAFT_RESTART` entries (default 40):
  *      stop the SparkSession+SparkContext and build a fresh one, then
  *      re-warm with the flagship query so restart cost is never billed
  *      to the next measured entry. Bounds accumulated session state to
  *      one block regardless of suite length. JVM-level warmth (JIT, the
  *      process-static Janino codegen cache, the SparkEntry fixture
  *      registry — paths and plain models only, never session objects)
  *      survives restarts by construction.
  *
  *   2. ISOLATED-MINIMUM pass (`SPARK_GRAFT_ISOLATE` slowest entries,
  *      default 8, 0 disables): after the suite, re-run the slowest
  *      entries in one final fresh session and report them under
  *      "isolated" beside the in-suite numbers. Cross-round comparisons
  *      read the isolated floor; a real regression shows up in BOTH
  *      columns, residual suite noise only in one. Caveat: STREAMING
  *      entries can read HIGHER isolated than in-suite — the fresh
  *      session re-pays the streaming engine's fixed costs (state-store
  *      providers, micro-batch planner warm-up) that the long suite had
  *      amortized; for those entries the in-suite number is the
  *      representative one and the isolated column is a ceiling.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // Accumulates per-task GC/shuffle/spill across the whole process;
    // the isolated pass reads DELTAS around each trial (r16 verdict
    // item 2: wall time alone cannot separate "driver host under
    // shuffle/IO contention" from "plan regression" — the scan-shaped
    // canary is blind to exactly that axis).
    val taskMetrics = new org.apache.spark.graft.TaskMetricsListener

    // One shared engine definition — every plan-affecting setting (and
    // its rationale) lives in GraftSession.engineConfs, so the session
    // benched here is config-identical to the ones Verify dumps results
    // from and Explain/Prof audit. (The round-17 session-wide
    // InferFiltersFromGenerate exclusion is gone: the injected
    // FoldSizeOfCreateArray optimizer rule now removes the pathological
    // inferred filter per-expression instead.)
    def newSession(): SparkSession = {
      val s = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(taskMetrics)
      s
    }

    var spark = newSession()

    def restartSession(): Unit = {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = newSession()
      runOne("a1_bucket_quantile") // absorb context/codegen re-warm
      ()
    }

    def runOne(name: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, None)
      } catch {
        case e: Throwable =>
          ((System.nanoTime() - t0) / 1e9,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
      } finally {
        // The timed action is DONE — any job still running is a leaked
        // async future (AQE can abandon in-flight broadcast/subquery
        // builds when it replans; profiling caught a 4 s single-task
        // broadcast build from one trial still burning a core inside
        // the NEXT trial's window). Cancel them so one entry's debris
        // is never billed to the next entry's wall time.
        spark.sparkContext.cancelAllJobs()
        // Queries persist() intermediates for their own plan reuse; drop
        // them so storage-memory churn from one query can't distort the
        // next one's wall time. localCheckpoint blocks are NOT in the
        // cache manager — release every still-registered persistent RDD
        // explicitly (no entry reuses a checkpointed frame across
        // queries, so this is always safe here) instead of waiting on
        // the async ContextCleaner. Then collect garbage so accumulated
        // broadcast/shuffle debris from earlier queries isn't billed to
        // whichever query happens to trigger the GC.
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // memory-sink temp views pin their full result in driver memory;
        // drop any the query registered in THIS session, plus the
        // streaming entries' child-session views and the process-wide
        // state-store provider cache (a finished streaming query never
        // frees its in-memory state maps on its own — the r17 GC-wall
        // channel)
        spark.sessionState.catalog.getTempViewNames()
          .foreach(spark.catalog.dropTempView)
        SparkEntry.releaseStreamState()
        System.gc()
      }
    }

    /** All trial times: 2 trials normally, 3 when both initial trials
      * run over 2 s (long queries have the most absolute noise
      * exposure). An erroring trial short-circuits — the trials so far
      * and the error are the report. The reported number is the MIN;
      * the full list ships in the JSON so an inflated reading is
      * machine-distinguishable (all trials high = sustained ambient
      * load or a real regression; one high = a spike the min absorbed).
      */
    def runTrials(name: String,
                  run: String => (Double, Option[String]) = runOne)
        : (Seq[Double], Option[String]) = {
      val t1 = run(name)
      if (t1._2.isDefined) (Seq(t1._1), t1._2)
      else {
        val t2 = run(name)
        if (t2._2.isDefined) (Seq(t1._1, t2._1), t2._2)
        else {
          val best2 = math.min(t1._1, t2._1)
          if (best2 <= 2.0) (Seq(t1._1, t2._1), None)
          else {
            val t3 = run(name)
            (Seq(t1._1, t2._1, t3._1), t3._2)
          }
        }
      }
    }

    /** SHUFFLE-SHAPED canary: a fixed-size synthetic explode →
      * groupBy → forced sort-merge self-join, independent of the
      * entries and of sf. The flagship canary is scan-shaped and sat
      * at its usual floor while the driver's r16 dedup family read
      * 2.4–3.3× (shuffle-heavy entries) — this one exercises the
      * exchange/sort/spill path those entries live on, so
      * "environment" vs "regression" is adjudicable from the JSON
      * alone: dedup inflated + shuffle canary inflated = host;
      * shuffle canary at floor = look at the code.
      */
    def shuffleCanary(): Double = {
      val t0 = System.nanoTime()
      val base = spark.range(0L, 1500000L, 1L, 32)
        .selectExpr("id", "explode(sequence(0, 7)) AS j")
        .selectExpr("pmod(hash(id, j), 400000) AS k", "id")
      val agg = base.groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("id").as("s"))
      base.join(agg.hint("merge"), "k")
        .selectExpr("sum(s + id) AS t")
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      sec
    }

    def runBest(name: String): (Double, Option[String]) = {
      val (ts, err) = runTrials(name)
      (ts.min, err)
    }

    // Warm-up: flagship query, result discarded.
    runOne("a1_bucket_quantile")

    // SPARK_GRAFT_ONLY=a,b,c restricts the run (local profiling only; the
    // driver never sets it, so its runs always cover every query).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    val restartEvery = sys.env.get("SPARK_GRAFT_RESTART")
      .map(_.toInt).getOrElse(40)
    val results = names.zipWithIndex.map { case (n, i) =>
      if (restartEvery > 0 && i > 0 && i % restartEvery == 0)
        restartSession()
      n -> runBest(n)
    }

    // Isolated-minimum pass: the slowest K entries re-measured in one
    // final fresh session, so every round's JSON carries a noise floor
    // beside the in-suite numbers.
    val isolateK = sys.env.get("SPARK_GRAFT_ISOLATE")
      .map(_.toInt).getOrElse(8)
    // the r14 contamination sentinels always re-measure when present, so
    // every round's file carries the in-suite-vs-isolated A/B for the
    // block that historically inflated — even now that it's fast
    val sentinels = Seq("llm_dedup_recall", "llm_dedup_minhash",
      "llm_dedup_editdist", "llm_dedup_incremental", "llm_ann_opq_trained")
    // Per-entry the pass records every trial time AND a flagship-query
    // CANARY run taken immediately before the entry: the driver host's
    // ambient load inflated one isolated reading 17× in r15 (49.46 s
    // for a 2.8 s entry, min-of-3 — a sustained event), and without a
    // co-located reference there is no machine way to tell that from a
    // regression. An inflated entry whose adjacent canary is ALSO
    // inflated is host noise; canary at its usual floor = look at the
    // code.
    // name → (trial times, scan canary, shuffle canary, per-trial
    // [gc_ms, shuf_read_b, shuf_write_b, spill_mem_b, spill_disk_b],
    // error). Errors propagate (an erroring isolated re-run previously
    // contributed its short failure time as if it were a measurement).
    val isolated
        : Seq[(String, Seq[Double], Double, Double, Seq[Vector[Long]],
            Option[String])] =
      if (isolateK <= 0 || names.size <= 1) Nil
      else {
        val ok = results.filter(_._2._2.isEmpty)
        val slowest = ok.sortBy(-_._2._1).take(isolateK).map(_._1)
        val picks = (slowest ++
          sentinels.filter(s => ok.exists(_._1 == s))).distinct
        restartSession()
        shuffleCanary() // absorb its own codegen/JIT warm-up once
        picks.sorted.map { n =>
          val canary = runOne("a1_bucket_quantile")._1
          val shufCan = shuffleCanary()
          val trialMetrics = Seq.newBuilder[Vector[Long]]
          def metered(name: String): (Double, Option[String]) = {
            org.apache.spark.graft.BenchInternals
              .flushListenerBus(spark.sparkContext)
            val before = taskMetrics.snap
            val r = runOne(name)
            org.apache.spark.graft.BenchInternals
              .flushListenerBus(spark.sparkContext)
            trialMetrics +=
              taskMetrics.snap.lazyZip(before).map(_ - _).toVector
            r
          }
          val (ts, err) = runTrials(n, metered)
          (n, ts, canary, shufCan, trialMetrics.result(), err)
        }
      }

    val qs = results.map { case (k, (sec, _)) => s"${jsonStr(k)}:$sec" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, (_, Some(e))) => s"${jsonStr(k)}:${jsonStr(e)}" }
      .mkString("{", ",", "}")
    // an erroring re-run is NOT a measurement: it leaves the headline
    // isolated map (its trials + error still ship below)
    val iso = isolated.filter(_._6.isEmpty)
      .map { case (k, ts, _, _, _, _) => s"${jsonStr(k)}:${ts.min}" }
      .mkString("{", ",", "}")
    val isoTrials = isolated.map { case (k, ts, _, _, _, _) =>
      s"${jsonStr(k)}:${ts.mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val isoCanary = isolated.map { case (k, _, c, _, _, _) =>
      s"${jsonStr(k)}:$c" }
      .mkString("{", ",", "}")
    val isoShufCanary = isolated.map { case (k, _, _, sc, _, _) =>
      s"${jsonStr(k)}:$sc" }
      .mkString("{", ",", "}")
    // per-trial metric deltas, aligned index-for-index with
    // isolated_trials; bytes scaled to MB (3 decimals) to keep the
    // line readable
    def mb(b: Long): String = f"${b / 1048576.0}%.3f"
    val isoMetrics = isolated.map { case (k, _, _, _, ms, _) =>
      val rows = ms.map(m => s"""{"gc_ms":${m(0)},"shuffle_read_mb":${
        mb(m(1))},"shuffle_write_mb":${mb(m(2))},"spill_mem_mb":${
        mb(m(3))},"spill_disk_mb":${mb(m(4))}}""")
      s"${jsonStr(k)}:${rows.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val isoErrs = isolated.collect { case (k, _, _, _, _, Some(e)) =>
      s"${jsonStr(k)}:${jsonStr(e)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"isolated":$iso,"isolated_trials":$isoTrials,"isolated_canary":$isoCanary,"isolated_shuffle_canary":$isoShufCanary,"isolated_metrics":$isoMetrics,"isolated_errors":$isoErrs,"sf":${jsonStr(sfDir)}}"""

    Files.writeString(Paths.get("/tmp/bench.json"), json + "\n")
    println(json)
    spark.stop()
    if (results.exists(_._2._2.isDefined)) sys.exit(1)
  }
}
