package graft

import graft.engine.{Admin, Rollup, WritePipeline}
import graft.model.Schema.Sample
import java.nio.file.{Files, Path, Paths}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The commit-file merge: row groups concatenated byte for byte, by tier,
  * behind a hidden name. */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private val midnight = 1700006400000L // 2023-11-15T00:00:00Z
  private val day = "date=2023-11-14"

  private def fs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** Commit `i`: metric `m<i mod 4>`, 3 series × 8 one-minute scrapes,
    * an hour after commit i − 1, all before midnight. */
  private def batch(i: Int): Seq[Sample] =
    for (s <- 0 until 3; k <- 0 until 8) yield {
      val name = s"m${i % 4}"
      Sample(name, Map("__name__" -> name, "series" -> s"s$s"),
        i * 10.0 + k, midnight - 20 * 3600000L + i * 3600000L + k * 60000L)
    }

  private def commit(table: String, i: Int): Unit =
    WritePipeline.append(WritePipeline.toMetricRows(
      WritePipeline.dropNonFinite(batch(i).toDF())), table, rowsHint = 24L)

  private def names(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toVector.sorted
    finally s.close()
  }

  private def parquetNames(dir: Path): Seq[String] =
    names(dir).filter(n => n.endsWith(".parquet") && !n.startsWith("."))

  /** Every row group of a directory: its row count and, per column, the
    * statistics' min, max and null count. */
  private def rowGroups(dir: Path): Seq[String] =
    parquetNames(dir).flatMap { n =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new HPath(dir.resolve(n).toString),
          spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.map { b =>
        b.getRowCount.toString + b.getColumns.asScala.map { c =>
          val st = c.getStatistics
          s"${c.getPath}:${st.minAsString}:${st.maxAsString}:${st.getNumNulls}"
        }.mkString("[", ",", "]")
      } finally r.close()
    }.sorted

  private def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
  }

  private def allRows(df: DataFrame): Seq[String] =
    df.select("date", "name", "tags", "val", "ts", "updated").collect()
      .map(_.toString).toSeq.sorted

  /** A store of `n` commits into one date, and an unmerged copy of it. */
  private def twoStores(n: Int): (String, String) = {
    val root = Files.createTempDirectory("graft_merge")
    val merged = root.resolve("merged").toString
    (0 until n).foreach(commit(merged, _))
    copyTree(Paths.get(merged), root.resolve("plain"))
    (merged, root.resolve("plain").toString)
  }

  test("merge: the merged store holds the unmerged store's rows, row " +
       "groups and statistics, and Spark infers the same schema") {
    val (merged, plain) = twoStores(9)
    val dir = Paths.get(merged, day)
    assert(parquetNames(dir).size == 9)
    assert(Admin.mergeCommitFiles(fs, new HPath(dir.toString)) == 2)
    // 9 commit files → two of 4 row groups and the ninth
    assert(parquetNames(dir).map(_.takeWhile(_ != '-')).sorted ==
      Seq("merged", "merged", "part"))
    assert(parquetNames(dir).count(_.startsWith("merged-rg4-")) == 2)
    assert(rowGroups(dir).size == 9)
    assert(rowGroups(dir) == rowGroups(Paths.get(plain, day)))
    // no hidden leftovers: only the data files and their checksums
    assert(names(dir).forall(n => !n.startsWith(".") || n.endsWith(".crc")))
    assert(names(dir).count(_.endsWith(".crc")) == 3)
    val (m, p) = (spark.read.parquet(merged), spark.read.parquet(plain))
    assert(m.schema == p.schema)
    assert(m.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(allRows(m) == allRows(p))
  }

  test("merge: ts-range and name reads skip the same row groups as before") {
    val (merged, plain) = twoStores(8)
    Admin.mergeCommitFiles(fs, new HPath(Paths.get(merged, day).toString))
    assert(parquetNames(Paths.get(merged, day)).size == 2)
    /** (rows returned, rows the scan read) for a read of `table`. */
    def scanned(table: String, p: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(table).filter(p)
      val n = df.collect().length.toLong
      (n, df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.getOrElse(-1L))
    }
    // commits 2 and 3
    val ts = col("ts").between(
      new java.sql.Timestamp(midnight - 18 * 3600000L),
      new java.sql.Timestamp(midnight - 16 * 3600000L - 1000L))
    assert(scanned(merged, ts) == scanned(plain, ts))
    assert(scanned(merged, ts)._1 == 48L)
    // commits 1 and 5: the other six row groups are skipped by `name`
    val name = col("name") === "m1"
    assert(scanned(merged, name) == scanned(plain, name))
    assert(scanned(merged, name) == (48L, 48L))
  }

  test("merge: a failure while writing the merged file leaves every " +
       "input and no file a listing returns") {
    val (merged, _) = twoStores(4)
    val dir = Paths.get(merged, day)
    val before = names(dir)
    val failing = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def create(f: HPath, overwrite: Boolean) = {
        val out = super.create(f, overwrite)
        new org.apache.hadoop.fs.FSDataOutputStream(new java.io.OutputStream {
          private var n = 0
          def write(b: Int): Unit = {
            n += 1
            if (n > 100) throw new java.io.IOException("disk full")
            out.write(b)
          }
          override def close(): Unit = out.close()
        }, null)
      }
    }
    val e = intercept[java.io.IOException](
      Admin.mergeCommitFiles(failing, new HPath(dir.toString)))
    assert(e.getMessage.contains("disk full"))
    assert(names(dir) == before)
    assert(spark.read.parquet(merged).count() == 4 * 24)
  }

  test("merge: snapshots and reads skip a hidden merge file") {
    val (merged, _) = twoStores(2)
    val dir = Paths.get(merged, day)
    val input = dir.resolve(parquetNames(dir).head)
    Files.copy(input, dir.resolve(".merged-rg1-pending.parquet"))
    assert(Admin.snapshot(merged, "s") == 3) // two data files and _SUCCESS
    assert(parquetNames(Paths.get(merged + "_snapshots", "s", day)).size == 2)
    assert(!Files.exists(Paths.get(merged + "_snapshots", "s", day,
      ".merged-rg1-pending.parquet")))
    assert(spark.read.parquet(merged).count() == 2 * 24)
  }

  test("merge: a server starting over a store deletes the hidden merge " +
       "files a crash left before their rename, and nothing else") {
    val (table, _) = twoStores(2)
    val dir = Paths.get(table, day)
    val before = names(dir)
    // written through the checksummed local fs, as a merge writes it
    val out = fs.create(new HPath(dir.resolve(".merged-rg2-crashed.parquet")
      .toString))
    try out.write(Files.readAllBytes(dir.resolve(parquetNames(dir).head)))
    finally out.close()
    assert(names(dir).size == before.size + 2) // the file and its .crc
    val server = new graft.serve.Server(spark, table).start()
    try {
      assert(names(dir) == before)
      assert(server.storedTable().count() == 2 * 24)
    } finally server.stop()
    assert(Admin.dropUnlandedMerges(fs, new HPath(table + "_absent")) == 0)
  }

  test("merge: N ≤ 64 commits into one date leave at most 3·⌈log₄ N⌉ " +
       "files there, and 64 leave one") {
    val (table, _) = twoStores(1)
    val dir = Paths.get(table, day)
    val template = Files.copy(dir.resolve(parquetNames(dir).head),
      Files.createTempDirectory("graft_merge_t").resolve("commit.parquet"))
    val hdir = new HPath(dir.toString)
    var merges = 0
    (2 to 64).foreach { n =>
      Files.copy(template, dir.resolve(s"part-$n-${java.util.UUID.randomUUID()}.parquet"))
      merges += Admin.mergeCommitFiles(fs, hdir)
      val bound = 3 * math.ceil(math.log(n) / math.log(4) - 1e-9).toInt
      assert(parquetNames(dir).size <= bound, s"after $n commits")
    }
    assert(parquetNames(dir) == parquetNames(dir).filter(_.startsWith("merged-rg64-")))
    assert(merges == 16 + 4 + 1)
    assert(spark.read.parquet(table).count() == 64 * 24)
    // at the cap: more commits start a new tier 0 beside it
    Files.copy(template, dir.resolve("part-65.parquet"))
    assert(Admin.mergeCommitFiles(fs, hdir) == 0)
  }

  test("merge: files of another parquet schema are not concatenated") {
    val (table, _) = twoStores(3)
    val dir = Paths.get(table, day)
    // a fourth file whose `val` is a float: its parquet schema differs
    batch(3).toDF().select(
      to_date(timestamp_seconds((col("timestampMs") / 1000).cast("long"))).as("date"),
      col("name"), array(col("name")).as("tags"), col("value").cast("float").as("val"),
      timestamp_seconds((col("timestampMs") / 1000).cast("long")).as("ts"),
      current_timestamp().as("updated"))
      .coalesce(1).write.mode("append").partitionBy("date").parquet(table + "_f")
    val odd = Paths.get(table + "_f", day)
    Files.copy(odd.resolve(parquetNames(odd).head), dir.resolve("part-odd.parquet"))
    Thread.sleep(20)
    assert(Admin.mergeCommitFiles(fs, new HPath(dir.toString)) == 0)
    assert(parquetNames(dir).size == 4)
    // once the four newest files agree they merge, and the odd one stays
    (4 until 8).foreach(commit(table, _))
    assert(Admin.mergeCommitFiles(fs, new HPath(dir.toString)) == 1)
    assert(parquetNames(dir).count(_.startsWith("merged-rg4-")) == 1)
    assert(parquetNames(dir).size == 5)
    assert(parquetNames(dir).contains("part-odd.parquet"))
  }

  test("merge: a file larger than a commit file that no merge wrote " +
       "(a compacted rewrite) is never an input") {
    val (table, _) = twoStores(3)
    val dir = Paths.get(table, day)
    val big = Files.createTempDirectory("graft_merge_big").toString
    val rows = spark.range(200000).select(lit("m0").as("name"),
      map(lit("__name__"), lit("m0"), lit("series"),
        (col("id") % 50).cast("string")).as("labels"),
      rand(7).as("value"),
      (lit(midnight - 20 * 3600000L) + col("id") / 50 * 1000L).as("timestampMs"))
    WritePipeline.append(WritePipeline.toMetricRows(rows).coalesce(1), big,
      rowsHint = 200000L)
    val bigFile = Paths.get(big, day).resolve(parquetNames(Paths.get(big, day)).head)
    assert(Files.size(bigFile) > Admin.CommitFileMaxBytes)
    Files.copy(bigFile, dir.resolve("part-compacted.parquet"))
    Thread.sleep(20)
    commit(table, 3)
    // the newest four files hold it, yet the four commit files merge
    assert(Admin.mergeCommitFiles(fs, new HPath(dir.toString)) == 1)
    assert(parquetNames(dir).size == 2)
    assert(parquetNames(dir).contains("part-compacted.parquet"))
    assert(spark.read.parquet(table).count() == 4 * 24 + 200000)
  }

  test("merge: a failed rename leaves no hidden file and every input; a " +
       "failed input delete is raised, not ignored") {
    val (table, _) = twoStores(4)
    val dir = Paths.get(table, day)
    val before = names(dir)
    val noRename = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def rename(src: HPath, dst: HPath) = false
    }
    intercept[java.io.IOException](
      Admin.mergeCommitFiles(noRename, new HPath(dir.toString)))
    assert(names(dir) == before)
    val noDelete = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def delete(f: HPath, recursive: Boolean) =
        f.getName.startsWith(".") && super.delete(f, recursive)
    }
    val e = intercept[java.io.IOException](
      Admin.mergeCommitFiles(noDelete, new HPath(dir.toString)))
    assert(e.getMessage.contains("duplicated"))
  }

  test("merge: readExcluding hides the excluded files from the listing " +
       "and keeps the schema and the date column") {
    val (table, plain) = twoStores(4)
    val dir = Paths.get(table, day)
    val gone = parquetNames(dir).take(2).map(n => new HPath(dir.resolve(n).toString))
    val df = Admin.readExcluding(spark, table, gone)
    assert(df.count() == 2 * 24)
    assert(df.inputFiles.length == 2)
    assert(df.schema == spark.read.parquet(plain).schema)
    assert(Admin.readExcluding(spark, table, Nil).count() == 4 * 24)
  }

  test("merge: a read failure counts as a vanished file whether the " +
       "file was gone at open or at a later vectored read") {
    def failed(cause: Throwable) =
      new org.apache.spark.SparkException("Job aborted", cause)
    assert(Admin.vanishedFile(failed(
      new java.io.FileNotFoundException("part-0.parquet does not exist"))))
    assert(Admin.vanishedFile(failed(new RuntimeException("read failed",
      new java.nio.file.NoSuchFileException("part-0.parquet")))))
    assert(!Admin.vanishedFile(failed(new java.io.IOException("disk full"))))
    assert(!Admin.vanishedFile(new IllegalArgumentException("bad query")))
  }

  test("merge: 500 sweep-plus-merge cycles hold no directory open") {
    def fds(): Int = {
      val s = Files.list(Paths.get("/proc/self/fd"))
      try s.count().toInt finally s.close()
    }
    assume(Files.isDirectory(Paths.get("/proc/self/fd")))
    val (table, _) = twoStores(1)
    val dir = Paths.get(table, day)
    val template = Files.copy(dir.resolve(parquetNames(dir).head),
      Files.createTempDirectory("graft_merge_t").resolve("commit.parquet"))
    val hdir = new HPath(dir.toString)
    val before = fds()
    (1 to 500).foreach { i =>
      Files.copy(template, dir.resolve(s"part-c$i.parquet"))
      Admin.enforceRetention(table, 100L * 365 * 86400, midnight / 1000)
      Admin.mergeCommitFiles(fs, hdir)
    }
    // a leak of one descriptor per cycle would show as +500
    assert(fds() - before < 25, s"${fds() - before} descriptors more")
    assert(spark.read.parquet(table).count() == 501 * 24)
  }

  test("compactDates sizes its rewrite from the selected dates' bytes, " +
       "not the whole store's") {
    val table = Files.createTempDirectory("graft_cwidth").toString + "/m"
    (0 until 10).foreach { d =>
      batch(d).toDF().select(
        lit(java.sql.Date.valueOf(s"2024-01-${10 + d}")).as("date"),
        col("name"), array(col("name")).as("tags"), col("value").as("val"),
        timestamp_seconds(lit(1704844800L + d * 86400L) + col("timestampMs") % 3600000L / 1000)
          .as("ts"),
        current_timestamp().as("updated"))
        .write.mode("append").partitionBy("date").parquet(table)
    }
    def bytes(dates: Seq[String]): Long = dates.map { d =>
      Admin.dataFiles(fs, new HPath(s"$table/date=$d")).map(_.getLen).sum
    }.sum
    val two = Seq("2024-01-12", "2024-01-13")
    val all = (10 to 19).map(d => s"2024-01-$d")
    val perTask = bytes(two) / 2 + 1 // two dates' bytes fill 2 tasks
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set("spark.graft.compact.bytesPerTask", perTask.toString)
    try {
      assert(bytes(all) / perTask + 1 > 6)
      assert(Rollup.datesWidth(spark, table, two) == bytes(two) / perTask + 1)
      assert(Rollup.datesWidth(spark, table, two) == 2)
      Rollup.compactDates(spark, table, two, 1706659200L)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      spark.conf.unset("spark.graft.compact.bytesPerTask")
    }
    assert(spark.read.parquet(table).filter(!col("date").isin(two: _*)).count() == 8 * 24)
  }
}
