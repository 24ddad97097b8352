package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

/** Partition-level store administration: retention sweeps, snapshots and
  * commit-file merges (the rest of the Prometheus TSDB admin surface
  * beside [[Tombstones]]).
  *
  * All three are PURE FILE OPERATIONS on the date-partitioned layout —
  * no Spark job, no scan:
  *  - retention drops a `date=` directory only when EVERY sample in it
  *    is past the horizon (partition end ≤ now − retention), exactly
  *    Prometheus's block-granularity rule — at 100 TB a sweep is a
  *    directory listing plus a handful of recursive deletes, never a
  *    read of the data;
  *  - a snapshot HARDLINKS every data file into
  *    `<table>_snapshots/<name>/` (falling back to copy where the
  *    filesystem refuses links), Prometheus's snapshot trick: O(files)
  *    metadata writes, zero bytes copied, and immutable-once-written
  *    parquet makes the shared blocks safe (appends create NEW files;
  *    clean_tombstones and merges write new files and unlink, never
  *    mutate in place);
  *  - a merge ([[mergeCommitFiles]]) concatenates small commit files of
  *    one `date=` directory by copying their row groups byte for byte.
  */
object Admin {

  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  case class Sweep(droppedDates: Long, keptDates: Long)

  /** The entries of `dir`, with the directory stream closed. */
  private def entries(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def dateDirs(tablePath: String): Seq[(java.time.LocalDate, Path)] = {
    val root = Paths.get(tablePath)
    if (!Files.isDirectory(root)) return Nil
    entries(root)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("date="))
      .flatMap { p =>
        val v = p.getFileName.toString.stripPrefix("date=")
        try Some(java.time.LocalDate.parse(v) -> p)
        catch { case _: java.time.format.DateTimeParseException => None }
      }
  }

  /** Drop every date partition whose END (midnight after `date`) lies
    * at or before `nowSec − retentionSec`. Returns what happened. */
  def enforceRetention(tablePath: String, retentionSec: Long,
                       nowSec: Long): Sweep = {
    require(retentionSec > 0, "retention must be positive")
    val horizon = nowSec - retentionSec
    var dropped = 0L
    var kept = 0L
    dateDirs(tablePath).foreach { case (date, dir) =>
      val endSec = date.plusDays(1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
      if (endSec <= horizon) { rmTree(dir); dropped += 1 }
      else kept += 1
    }
    Sweep(dropped, kept)
  }

  /** Hardlink-snapshot the store into `<table>_snapshots/<name>`;
    * returns the number of files linked. Fails if the name exists
    * (snapshots are immutable). */
  def snapshot(tablePath: String, name: String): Long = {
    require(name.nonEmpty && !name.contains('/') && !name.contains(".."),
      s"bad snapshot name '$name'")
    val root = Paths.get(tablePath)
    require(Files.isDirectory(root), s"no store at $tablePath")
    val dest = Paths.get(tablePath + "_snapshots", name)
    require(!Files.exists(dest), s"snapshot '$name' already exists")
    Files.createDirectories(dest)
    var linked = 0L
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .foreach { p =>
        val rel = root.relativize(p)
        val target = dest.resolve(rel)
        Files.createDirectories(target.getParent)
        try Files.createLink(target, p)
        catch { case _: UnsupportedOperationException |
                     _: java.nio.file.FileSystemException =>
          Files.copy(p, target) }
        linked += 1
      }
    finally walk.close()
    linked
  }

  private[engine] def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toVector finally walk.close()
      all.reverseIterator.foreach(Files.delete)
    }

  // ------------------------------------------------------------ merges

  /** Files a merge concatenates: four of one tier make one of the next.
    * A fan-in of 4 copies each row group at most three times on its way
    * to [[MergeCapRowGroups]] (log₄ 64), while a directory never holds
    * more than three files per tier. */
  val MergeFanIn = 4

  /** Row groups at which a file stops merging: 64 commit files' worth.
    * It bounds the copies per row group (above) and the merged footer,
    * which every read of the file parses; larger files are the
    * compactor's ([[Rollup]]), which re-sorts instead of concatenating. */
  val MergeCapRowGroups = 64

  /** The largest file a merge takes for a commit file. A commit writes
    * one file of one row group per POST, 15 KB on average at remote-write
    * sizes (perfbench `ingest`); a larger file that no merge wrote is a
    * rewrite (compaction, `clean_tombstones`, a bulk load), which a merge
    * would copy under the commit lock up to three times, so it is left
    * to [[Rollup]]. */
  val CommitFileMaxBytes: Long = 1L << 20

  /** Merged files carry their row-group count in their name, so the
    * tiers are decided from a listing, without opening a footer. */
  private val MergedName = """merged-rg(\d+)-.*""".r

  /** The row groups of a merge input: a merged file's from its name, a
    * commit file's 1; `None` for a file that is neither. */
  private def rowGroups(f: FileStatus): Option[Int] = f.getPath.getName match {
    case MergedName(n) => Some(n.toInt)
    case _ if f.getLen <= CommitFileMaxBytes => Some(1)
    case _ => None
  }

  /** ⌊log₄ rowGroups⌋: a commit file is tier 0, four of them tier 1. */
  private def tier(rowGroups: Int): Int =
    (31 - Integer.numberOfLeadingZeros(rowGroups)) / 2

  /** The parquet files of one `date=` directory that a read lists:
    * names starting with `.` or `_` are skipped, as Spark's listing and
    * [[snapshot]] skip them. Also the per-date byte count
    * [[Rollup.compactDates]] sizes its rewrite from. */
  def dataFiles(fs: FileSystem, dir: HPath): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    }

  /** `spark.read.parquet(tablePath)` without the files `excluded` (the
    * inputs of merges, still on disk while reads that listed them run).
    * Spark's file listing applies Hadoop's input path filter, which the
    * read's options configure; with nothing excluded it is the plain
    * read. */
  def readExcluding(spark: org.apache.spark.sql.SparkSession,
                    tablePath: String,
                    excluded: Seq[HPath]): org.apache.spark.sql.DataFrame =
    if (excluded.isEmpty) spark.read.parquet(tablePath)
    else spark.read
      .option("mapreduce.input.pathFilter.class", classOf[Excluded].getName)
      .option(Excluded.Key, excluded.map(_.toUri.getPath).mkString("\n"))
      .parquet(tablePath)

  /** The path filter of [[readExcluding]]: rejects the paths listed,
    * one a line, under [[Excluded.Key]] of its configuration. */
  final class Excluded extends org.apache.hadoop.fs.PathFilter
      with org.apache.hadoop.conf.Configurable {
    private var conf: org.apache.hadoop.conf.Configuration = _
    private var paths = Set.empty[String]
    def setConf(c: org.apache.hadoop.conf.Configuration): Unit = {
      conf = c
      paths = c.get(Excluded.Key, "").split("\n").filter(_.nonEmpty).toSet
    }
    def getConf: org.apache.hadoop.conf.Configuration = conf
    def accept(p: HPath): Boolean = !paths(p.toUri.getPath)
  }
  object Excluded { val Key = "graft.read.excluded" }

  /** How a merged file lands: `apply` runs `publish`, the rename into
    * place, then removes the merge's inputs, at once or once no read can
    * still open them; until then [[retired]] names them, so no later
    * merge takes them again. */
  trait Landing {
    def apply(fs: FileSystem, publish: () => Unit, inputs: Seq[HPath]): Unit
    def retired(p: HPath): Boolean
  }

  /** Publish and delete the inputs at once: for a store no read is
    * scanning. */
  object DirectLanding extends Landing {
    def apply(fs: FileSystem, publish: () => Unit, inputs: Seq[HPath]): Unit = {
      publish()
      inputs.foreach(deleteInput(fs, _))
    }
    def retired(p: HPath) = false
  }

  /** Delete a merge input whose rows are already in the merged file. One
    * that is still there afterwards holds duplicates of those rows, so
    * that is a failure, not a no-op; one already gone (a retention
    * sweep, `clean_tombstones`) is not. */
  def deleteInput(fs: FileSystem, p: HPath): Unit =
    if (!fs.delete(p, false) && fs.exists(p))
      throw new java.io.IOException(
        s"cannot delete merged input $p: its rows are duplicated")

  /** Merge the small files of one `date=` directory until no tier below
    * [[MergeCapRowGroups]] holds [[MergeFanIn]] files. Each merge takes
    * the four newest files of the lowest full tier and concatenates
    * their row groups, in commit order, into one file: the bytes of each
    * column chunk, its statistics, page indexes and bloom filter are
    * copied, nothing is decoded, and the first input's key-value
    * metadata (Spark's row schema) is kept, so a read infers the same
    * schema and prunes the same row groups. Only inputs with one parquet
    * schema are merged; a tier whose newest four disagree waits for more
    * files. Only commit files and merged files are inputs
    * ([[CommitFileMaxBytes]]).
    *
    * The merged file is written under a `.`-prefixed name, which no
    * listing returns; `land` then renames it into place and retires the
    * inputs: the caller wraps the rename in whatever lock its listings
    * take, so no listing sees both. A failure before the rename deletes
    * the hidden file and leaves every input; a crash between the rename
    * and the deletes leaves duplicate rows, never lost ones (the
    * at-least-once contract [[Rollup.dedupLatest]] resolves). Returns the
    * number of merges that landed.
    *
    * All I/O goes through `fs`, so checksum sidecars (`.crc`) are
    * written, renamed and deleted with their files.
    */
  def mergeCommitFiles(fs: FileSystem, dir: HPath,
                       land: Landing = DirectLanding): Int = {
    @annotation.tailrec
    def loop(landed: Int): Int = {
      val tiers = dataFiles(fs, dir)
        .filter(f => !land.retired(f.getPath))
        .flatMap(f => rowGroups(f).filter(_ < MergeCapRowGroups).map(f -> _))
        .groupBy { case (_, groups) => tier(groups) }.toSeq.sortBy(_._1)
      val merged = tiers.iterator.filter(_._2.size >= MergeFanIn)
        .exists { case (_, files) =>
          concat(fs, dir, files.map(_._1).sortBy(f => (f.getModificationTime,
            f.getPath.getName)).takeRight(MergeFanIn), land)
        }
      if (merged) loop(landed + 1) else landed
    }
    loop(0)
  }

  /** Whether a read failed because a file its plan listed was deleted
    * under it, as a merge deletes its inputs: Spark reports a file gone
    * before it was opened with a `FileNotFoundException`, and one gone
    * after its footer was read with the `NoSuchFileException` of the
    * local filesystem's vectored read, which opens the file again by
    * name. Either way a re-planned read lists the merged file instead. */
  def vanishedFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException |
           _: java.nio.file.NoSuchFileException => true
      case _ => false
    }

  /** Concatenate `inputs` into one new file of `dir` if they share one
    * parquet schema; whether the merge landed. */
  private def concat(fs: FileSystem, dir: HPath, inputs: Seq[FileStatus],
                     land: Landing): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.util.CompressionConverter.TransParquetFileReader
    val conf = fs.getConf
    val readers = Vector.newBuilder[TransParquetFileReader]
    try {
      inputs.foreach(f => readers += new TransParquetFileReader(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf).build()))
      val rs = readers.result()
      val first = rs.head.getFooter.getFileMetaData
      val schema = first.getSchema
      if (!rs.forall(_.getFooter.getFileMetaData.getSchema == schema)) false
      else {
        val groups = rs.map(_.getFooter.getBlocks.size).sum
        val name = s"merged-rg$groups-${java.util.UUID.randomUUID()}.parquet"
        val hidden = new HPath(dir, "." + name)
        try {
          val w = new ParquetFileWriter(new FsOutput(fs, hidden), schema,
            ParquetFileWriter.Mode.CREATE, 0L, 0)
          try {
            w.start()
            rs.foreach { r =>
              r.getFooter.getBlocks.asScala.foreach { b =>
                w.startBlock(b.getRowCount)
                b.getColumns.asScala.foreach { c =>
                  w.appendColumnChunk(
                    schema.getColumnDescription(c.getPath.toArray),
                    r.getStream, c, r.readBloomFilter(c),
                    r.readColumnIndex(c), r.readOffsetIndex(c))
                }
                w.endBlock()
              }
            }
            w.end(first.getKeyValueMetaData)
          } finally w.close()
        } catch {
          case e: Throwable => fs.delete(hidden, false); throw e
        }
        land(fs, () =>
          if (!fs.rename(hidden, new HPath(dir, name))) {
            fs.delete(hidden, false)
            throw new java.io.IOException(s"cannot rename $hidden into place")
          }, inputs.map(_.getPath))
        true
      }
    } finally readers.result().foreach(_.close())
  }

  /** A parquet output file created through `fs` (parquet's own
    * `HadoopOutputFile` resolves the filesystem from the path). */
  private final class FsOutput(fs: FileSystem, path: HPath)
      extends org.apache.parquet.io.OutputFile {
    import org.apache.parquet.hadoop.util.HadoopStreams
    def create(blockSizeHint: Long) = HadoopStreams.wrap(fs.create(path, false))
    def createOrOverwrite(blockSizeHint: Long) =
      HadoopStreams.wrap(fs.create(path, true))
    def supportsBlockSize = false
    def defaultBlockSize = 0L
    override def getPath: String = path.toString
  }
}
