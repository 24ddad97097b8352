package graft

import graft.engine.{GroupCommit, WritePipeline}
import graft.model.Schema.Sample
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** The /write group commit: the grouping step alone (a fake commit,
  * driven by latches, no Spark), then the layout a group leaves on disk.
  */
class GroupCommitSpec extends SparkSpec {

  /** A committer whose writes record each group they get and, for the
    * write holding `holdOn`, signal `entered` and wait for `release`;
    * `fail` picks the writes that throw, `alone` the members written
    * alone. */
  private final class Held(holdOn: String,
                           fail: Seq[String] => Boolean = _ => false,
                           alone: String => Boolean = _ => false) {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val writes = new ConcurrentLinkedQueue[Seq[String]]()
    val settles = new java.util.concurrent.atomic.AtomicInteger(0)
    val committer = new GroupCommit[String](new Object, Seq({ ms =>
      writes.add(ms)
      if (ms.contains(holdOn)) {
        entered.countDown()
        assert(release.await(30, TimeUnit.SECONDS))
      }
      if (fail(ms)) throw new IllegalStateException(s"write of $ms failed")
    }), alone, () => { settles.incrementAndGet(); () })

    /** Submit on a new thread; the thread's outcome lands in the map. */
    def submitAsync(m: String,
                    out: java.util.concurrent.ConcurrentHashMap[String, String])
    : Thread = {
      val t = new Thread(() => {
        val r = try { committer.submit(m); "ok" }
        catch { case e: IllegalStateException => e.getMessage }
        out.put(m, r)
      })
      t.start()
      t
    }

    /** Wait until `n` members are queued (not yet drained). */
    def awaitQueued(n: Int): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (committer.queued < n) {
        assert(System.nanoTime() < deadline, s"never saw $n queued")
        Thread.sleep(1)
      }
    }

    /** "a" commits and holds its write while `queued` queue behind it in
      * order; then all are released and joined. */
    def run(queued: String*): Map[String, String] = {
      val out = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val a = submitAsync("a", out)
      assert(entered.await(30, TimeUnit.SECONDS))
      val ts = queued.zipWithIndex.map { case (m, i) =>
        val t = submitAsync(m, out)
        awaitQueued(i + 1)
        t
      }
      release.countDown()
      (a +: ts).foreach(_.join(30000))
      out.asScala.toMap
    }
  }

  test("group commit: a lone caller commits alone, on its own thread, " +
       "without waiting") {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val groups = new ConcurrentLinkedQueue[Seq[Int]]()
    val settles = new java.util.concurrent.atomic.AtomicInteger(0)
    val committer = new GroupCommit[Int](new Object, Seq({ ms =>
      groups.add(ms); threads.add(Thread.currentThread())
    }), settle = () => { settles.incrementAndGet(); () })
    committer.submit(1)
    committer.submit(2)
    assert(groups.asScala.toSeq == Seq(Seq(1), Seq(2)))
    assert(threads.asScala.forall(_ eq Thread.currentThread()))
    assert(settles.get == 2)
    assert(committer.queued == 0)
  }

  test("group commit: callers queued behind a held commit form exactly " +
       "one group, in arrival order, settled once") {
    val h = new Held("a")
    val out = h.run("b", "c", "d")
    assert(h.writes.asScala.toSeq == Seq(Seq("a"), Seq("b", "c", "d")))
    assert(out == Map("a" -> "ok", "b" -> "ok", "c" -> "ok", "d" -> "ok"))
    assert(h.settles.get == 2)
  }

  test("group commit: a member whose write fails fails only itself — " +
       "the group's members are written again one by one") {
    val h = new Held("a", fail = _.contains("c"))
    val out = h.run("b", "c", "d")
    assert(h.writes.asScala.toSeq == Seq(Seq("a"), Seq("b", "c", "d"),
      Seq("b"), Seq("c"), Seq("d")))
    assert(out == Map("a" -> "ok", "b" -> "ok",
      "c" -> "write of List(c) failed", "d" -> "ok"))
    assert(h.settles.get == 2)
  }

  test("group commit: a failing store fails every member of its group, " +
       "and the next group still commits") {
    @volatile var storeDown = true
    val h = new Held("a", fail = ms => storeDown && !ms.contains("a"))
    val out = h.run("b", "c")
    assert(out == Map("a" -> "ok", "b" -> "write of List(b) failed",
      "c" -> "write of List(c) failed"))
    storeDown = false
    h.committer.submit("d")
    assert(h.writes.asScala.toSeq == Seq(Seq("a"), Seq("b", "c"),
      Seq("b"), Seq("c"), Seq("d")))
  }

  test("group commit: members named alone get a write each, after the " +
       "shared one") {
    val h = new Held("a", alone = _.startsWith("W"))
    val out = h.run("b", "W1", "c", "W2")
    assert(h.writes.asScala.toSeq == Seq(Seq("a"), Seq("b", "c"),
      Seq("W1"), Seq("W2")))
    assert(out.values.forall(_ == "ok") && out.size == 5)
  }

  test("group commit: a failing settle reaches every member") {
    val committer = new GroupCommit[Int](new Object, Seq(_ => ()),
      settle = () => throw new IllegalStateException("sweep failed"))
    val e = intercept[IllegalStateException](committer.submit(1))
    assert(e.getMessage == "sweep failed")
  }

  test("group commit: a group lands table by table, and a member that " +
       "failed a table reaches no later one") {
    val writes = new ConcurrentLinkedQueue[(Int, Seq[String])]()
    val release = new CountDownLatch(1)
    def table(i: Int): Seq[String] => Unit = { ms =>
      writes.add(i -> ms)
      if (ms.contains("a")) assert(release.await(30, TimeUnit.SECONDS))
      if (i == 0 && ms.contains("bad"))
        throw new IllegalStateException(s"table 0 of $ms failed")
    }
    val committer = new GroupCommit[String](new Object, Seq(table(0), table(1)))
    val out = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def submitAsync(m: String): Thread = {
      val t = new Thread(() => out.put(m,
        try { committer.submit(m); "ok" }
        catch { case e: IllegalStateException => e.getMessage }))
      t.start()
      t
    }
    val a = submitAsync("a")
    while (writes.isEmpty) Thread.sleep(1)
    val queued = Seq("b", "bad", "c").zipWithIndex.map { case (m, i) =>
      val t = submitAsync(m)
      while (committer.queued < i + 1) Thread.sleep(1)
      t
    }
    release.countDown()
    (a +: queued).foreach(_.join(30000))
    assert(writes.asScala.toSeq == Seq(0 -> Seq("a"), 1 -> Seq("a"),
      0 -> Seq("b", "bad", "c"), 0 -> Seq("b"), 0 -> Seq("bad"),
      0 -> Seq("c"), 1 -> Seq("b", "c")))
    assert(out.asScala.toMap == Map("a" -> "ok", "b" -> "ok",
      "bad" -> "table 0 of List(bad) failed", "c" -> "ok"))
  }

  /** Per `date=` directory: each parquet file's rows in file order
    * (all but `updated`, which records the commit time). */
  private def layout(table: Path): Map[String, Seq[Seq[String]]] =
    Files.list(table).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("date=")).map { dir =>
        dir.getFileName.toString ->
          Files.list(dir).iterator().asScala.toSeq
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => spark.read.parquet(f.toString)
              .select("name", "tags", "val", "ts").collect().map(_.toString).toSeq)
            .sortBy(_.mkString("|"))
      }.toMap

  test("group commit layout: a group of k batches leaves the files k " +
       "sequential appends leave, per date directory, rows in the same order") {
    import spark.implicits._
    val midnight = 1700006400000L // 2023-11-15T00:00:00Z
    // five writers' disjoint shards; batches 1 and 3 span midnight, and
    // batch 4 is wider than rowsPerTask, so it commits alone through its
    // own range split
    def batch(w: Int, rows: Int, startMs: Long): Seq[Sample] =
      (0 until rows).map { i =>
        val series = s"s${w * 100 + i % 8}"
        Sample("m", Map("__name__" -> "m", "series" -> series),
          if (i == 5) Double.NaN else i.toDouble, startMs + (i / 8) * 60000L)
      }
    val batches = Seq(
      batch(0, 40, midnight - 3600000L),
      batch(1, 48, midnight - 120000L),
      batch(2, 32, midnight + 60000L),
      batch(3, 40, midnight - 180000L),
      batch(4, 120, midnight + 600000L))
    val root = Files.createTempDirectory("graft_group_layout")
    val grouped = root.resolve("grouped")
    val sequential = root.resolve("sequential")
    spark.conf.set("spark.graft.append.rowsPerTask", "50")
    try {
      val (shared, alone) = batches.map(b => WritePipeline.Batch(b, b.toDF()))
        .partition(b => WritePipeline.groupable(spark, b.samples.size.toLong))
      assert(shared.size == 4 && alone.size == 1)
      WritePipeline.appendGroup(spark, shared, grouped.toString)
      alone.foreach(b => WritePipeline.appendGroup(spark, Seq(b), grouped.toString))
      batches.foreach(b => WritePipeline.append(
        WritePipeline.toMetricRows(WritePipeline.dropNonFinite(b.toDF())),
        sequential.toString, rowsHint = b.size.toLong))
    } finally spark.conf.unset("spark.graft.append.rowsPerTask")
    val want = layout(sequential)
    assert(want.keySet == Set("date=2023-11-14", "date=2023-11-15"))
    assert(want("date=2023-11-14").size == 3)
    assert(layout(grouped) == want)
    assert(want.values.flatten.map(_.size).sum ==
      batches.map(_.size).sum - batches.size)
  }
}
