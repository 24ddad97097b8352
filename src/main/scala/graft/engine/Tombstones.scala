package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Series deletion — the Prometheus TSDB admin surface
  * (`/api/v1/admin/tsdb/delete_series` + `clean_tombstones`) re-expressed
  * over the parquet store.
  *
  * Prometheus deletes in two phases: `delete_series` only RECORDS a
  * tombstone (selector + time range) and reads mask matching samples;
  * `clean_tombstones` later rewrites the affected blocks and drops the
  * tombstones. The same split is exactly right at 100 TB:
  *
  *  - A tombstone is a PREDICATE, not a row set. The side table holds
  *    (selector string, startSec, endSec) — admin-API-sized (a handful of
  *    rows), never series-sized, so it loads driver-side for free and the
  *    read path applies it as a plain residual `filter(...)` folded into
  *    every scan: zero shuffle, zero join, and the query's own time/date
  *    pruning is untouched (the tombstone filter is AND-ed on top of the
  *    pushed bounds, it never widens the scan).
  *  - `clean` rewrites ONLY the date partitions a tombstone's time range
  *    can touch (partition pruning on the delete predicate), via dynamic
  *    partition overwrite — the other ~36,500 day-partitions of a decade
  *    at 100 TB are never read, let alone rewritten.
  *
  * Tombstones apply to the RAW store; downsampled tiers are rebuilt by
  * their own compaction cycle ([[Rollup]]) from the cleaned raw data —
  * the same eventual-consistency contract Prometheus has between head
  * and blocks.
  *
  * Selectors are plain instant-vector matchers compiled by
  * [[graft.promql.Eval.seriesPredicate]] (the `match[]` contract).
  */
object Tombstones {

  /** The side table lives beside the store, same discipline as the
    * exemplar and stale-marker tables. */
  def path(tablePath: String): String = tablePath + "_tombstones"

  /** One recorded deletion: samples of series matching `selector` with
    * startSec ≤ ts ≤ endSec are masked (then physically removed by
    * [[clean]]). */
  case class Tombstone(selector: String, startSec: Long, endSec: Long)

  /** Record tombstones (validates each selector compiles first, so a bad
    * request fails before anything is written). */
  def append(spark: SparkSession, tablePath: String,
             stones: Seq[Tombstone]): Unit = {
    require(stones.nonEmpty, "delete_series requires at least one match[]")
    stones.foreach(t => graft.promql.Eval.seriesPredicate(t.selector))
    import spark.implicits._
    stones.toDF("selector", "start_sec", "end_sec")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(path(tablePath))
  }

  /** Load the recorded tombstones — admin-API-sized by construction. */
  def load(spark: SparkSession, tablePath: String): Seq[Tombstone] = {
    val p = java.nio.file.Paths.get(path(tablePath))
    if (!java.nio.file.Files.exists(p)) Nil
    else spark.read.parquet(path(tablePath)).collect().toSeq
      .map(r => Tombstone(r.getAs[String]("selector"),
        r.getAs[Long]("start_sec"), r.getAs[Long]("end_sec")))
  }

  /** The masked-sample predicate for one tombstone (true = deleted). */
  private def deleted(t: Tombstone) =
    graft.promql.Eval.seriesPredicate(t.selector) &&
      col("ts") >= timestamp_seconds(lit(t.startSec)) &&
      col("ts") <= timestamp_seconds(lit(t.endSec))

  /** Mask tombstoned samples out of a store view — the read-path entry
    * point. A residual filter only: scans, pushed bounds, and partition
    * pruning are exactly what they were without tombstones. */
  def suppress(df: DataFrame, stones: Seq[Tombstone]): DataFrame =
    stones.map(deleted).reduceOption(_ || _) match {
      case Some(del) => df.filter(!del)
      case None => df
    }

  /** What [[clean]] did: partitions rewritten / dropped, tombstones
    * applied. */
  case class CleanStats(rewrittenDates: Long, droppedDates: Long,
                        tombstones: Int)

  /** Physically apply every recorded tombstone and drop the records —
    * `clean_tombstones`.
    *
    * Only date partitions overlapping some tombstone's [start, end] are
    * read and rewritten (dynamic partition overwrite keeps every other
    * partition's files untouched); a partition whose every row is
    * deleted gets its directory removed (dynamic overwrite writes
    * nothing for an empty partition, so the stale files must go
    * explicitly). Rewritten partitions keep the store's layout
    * discipline — range partitioning + (name, tags, ts) sort — so
    * row-group pruning survives the rewrite.
    */
  def clean(spark: SparkSession, tablePath: String): CleanStats = {
    val stones = load(spark, tablePath)
    if (stones.isEmpty) return CleanStats(0, 0, 0)
    val store = spark.read.parquet(tablePath)
    val del = stones.map(deleted).reduce(_ || _)
    // a tombstone can only touch dates inside its own [start, end] —
    // prune to those partitions before anything is scanned
    val touchable = stones.map(t =>
      col("date") >= to_date(timestamp_seconds(lit(t.startSec))) &&
        col("date") <= to_date(timestamp_seconds(lit(t.endSec))))
      .reduce(_ || _)
    // one job over the pruned partitions: which dates actually hold
    // deleted rows, and which of those keep at least one survivor
    val affected = store.filter(touchable)
      .groupBy(col("date"))
      .agg(sum(when(del, 1L).otherwise(0L)).as("dels"),
        sum(when(del, 0L).otherwise(1L)).as("keeps"))
      .filter(col("dels") > 0)
      .collect()
    val affectedDates = affected.map(_.getAs[java.sql.Date]("date"))
    val emptyDates = affected.filter(_.getAs[Long]("keeps") == 0L)
      .map(_.getAs[java.sql.Date]("date"))
    if (affectedDates.nonEmpty) {
      // survivors go to a scratch dir first (Spark refuses to overwrite
      // a path it is reading from), then the affected date directories
      // swap in one move each — every untouched partition's files are
      // never read, never rewritten. The scratch lives BESIDE the table
      // (system temp may be a different filesystem, and Files.move of a
      // directory cannot cross mounts).
      val rewrite = affectedDates.filterNot(emptyDates.contains)
      val scratch = tablePath + "_clean_tmp"
      Admin.rmTree(java.nio.file.Paths.get(scratch))
      // the affected-dates job already counted the survivors, so the
      // rewrite width derives from the DATA instead of the static
      // session width (WritePipeline.rangeWidth: an admin-API-sized
      // delete rewrites through one task with no range-bound sampling
      // job; a bulk retraction still fans out). The date-count floor
      // bounds per-task output-directory juggling the same way the
      // compactor does (Rollup.rewriteWidth): a one-task dynamic-
      // partition write opens every rewritten date's file serially.
      val keepRows = affected.map(_.getAs[Long]("keeps")).sum
      val width = math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
        math.max(WritePipeline.rangeWidth(spark, keepRows),
          (rewrite.length + 1) / 2))
      if (rewrite.nonEmpty)
        store.filter(col("date").isin(rewrite.toSeq: _*)).filter(!del)
          .repartitionByRange(width,
            col("date"), col("name"), col("tags"))
          .sortWithinPartitions(col("name"), col("tags"), col("ts"))
          .write.mode(SaveMode.Append).partitionBy("date").parquet(scratch)
      affectedDates.foreach { d =>
        Admin.rmTree(java.nio.file.Paths.get(tablePath, s"date=$d"))
      }
      rewrite.foreach { d =>
        java.nio.file.Files.move(
          java.nio.file.Paths.get(scratch, s"date=$d"),
          java.nio.file.Paths.get(tablePath, s"date=$d"))
      }
      Admin.rmTree(java.nio.file.Paths.get(scratch))
    }
    Admin.rmTree(java.nio.file.Paths.get(path(tablePath)))
    CleanStats(affectedDates.length - emptyDates.length,
      emptyDates.length, stones.size)
  }
}
