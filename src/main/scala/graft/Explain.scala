package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Plan-audit main: prints `explain("formatted")` for representative
  * queries so scan pushdown (PushedFilters/ReadSchema), broadcast choices,
  * and exchange counts can be inspected per round, preceded by one
  * `[plan-size]` line per entry with the analyzed and optimized
  * [[exprNodes]] counts, so a per-row formula blowing up shows without
  * reading plan text. A development tool, not one of the verified or
  * benchmarked mains.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {

  /** Expression nodes in a logical plan: every node of every expression
    * tree its operators hold (subquery plans not included). A Column
    * `val` used k times counts k times — the copies the analyzer,
    * optimizer and AQE each walk.
    */
  def exprNodes(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach(_.expressions.foreach(_.foreach(_ => n += 1)))
    n
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("a1_bucket_quantile", "llm_ann_cosine", "llm_dedup_minhash",
        "s4_write_roundtrip", "llm_text_stats", "llm_sem_dedup",
        "llm_ann_pq", "llm_bigram_lm")
    // the shared engine definition — the audited plans are the plans
    // Bench/Verify actually execute (including any SPARK_GRAFT_MIN_PART
    // override, which previously diverged here)
    val spark = GraftSession.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      val qe = df.queryExecution
      println(s"[plan-size] $n analyzed=${exprNodes(qe.analyzed)} " +
        s"optimized=${exprNodes(qe.optimizedPlan)}")
      df.explain("formatted")
    }
    spark.stop()
  }
}
