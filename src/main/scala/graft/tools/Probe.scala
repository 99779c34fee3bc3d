package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{RunMeter, SessionDefaults, SparkEntry}

/** Local profiling over the bench query set (not part of the driver
  * contract), on the session shape Bench measures:
  *
  *  - `plans`: rewrite PLANS.md with the formatted plans of the
  *    [[headline]] queries at the pin dir and width — the artifact
  *    PlanPinSpec diffs against;
  *  - `plan [regex]`: print `explain("formatted")` of each query;
  *  - `explain [regex]`: run each query cold and warm, then print the
  *    FINAL adaptive plan — what AQE actually ran, where `plan` shows
  *    only the static one;
  *  - `meter [regex]`: warm wall time plus the scheduler shape of each
  *    query (jobs, stages, tasks, task seconds, shuffle MB written and
  *    read) and its slowest stages — "compute-bound or
  *    stage-count-bound?" answered with numbers instead of plan reading.
  *
  * Data dir and cpus come from SPARK_GRAFT_SF_DIR/SPARK_GRAFT_CPUS as in
  * Bench; `plans` always uses [[PinDir]] and [[PinWidth]].
  *
  * Usage: sbt "runMain graft.tools.Probe plans|plan|explain|meter [regex]"
  */
object Probe {

  /** Where the plan pins are generated and checked: file statistics
    * feed broadcast decisions, so a plan regenerated at another scale or
    * width could legitimately differ — a false alarm, not a drift. */
  val PinDir = "/root/testdata/sf0.01"
  val PinWidth = 4
  val PlansFile = "PLANS.md"

  val headline = Seq(
    "available_by_range", "paged_listing", "sent_vs_total",
    "distribution_assign", "pricing_summary", "salted_group_stats",
    "revenue_topk",
    "region_revenue", "customer_running_spend", "event_sessions",
    "events_last_order", "event_bursts",
    "ingest_normalize", "ann_topk_brute", "ann_topk_lsh",
    "minhash_top_pairs", "embedding_norms", "token_stats",
    "lang_confusion", "embedding_nn_lsh", "pii_scrub",
    "line_dedup", "line_dedup_fp", "substring_spans", "quality_classifier",
    "incremental_dedup", "semantic_dedup_paper", "bpe_train_char",
    "ngram_jaccard_pairs", "stratified_sample", "oov_rate",
    "ngram_lm_perplexity", "token_chunks", "decontamination_bloom",
    "soft_dedup_weights", "bpe_compression",
    "fuzzy_name_join", "fuzzy_name_join_lsh", "leakage_safe_split",
    "per_source_cap", "source_overlap", "source_overlap_fp", "quantile_sketch",
    "doc_repetition", "decontamination", "corpus_filter_funnel", "token_budget_pack",
    "latest_event_per_user", "top_unshipped_orders", "media_near_dup",
    "bm25_search", "events_sessionize", "events_funnel", "dsir_weights",
    "ann_topk_sq8", "embedding_kmeans", "ann_topk_pq_refined",
    "pq_recall_gate", "bm25_rescore", "bm25_rescore_gate", "hybrid_rrf",
    "hybrid_rrf_per_query", "hybrid_recall_gate", "ann_topk_ivf_filtered",
    "ann_topk_ivf_filtered_auto", "bm25_search_filtered",
    "bm25_snippets", "bm25_rescore_per_query", "hybrid_rrf_rescored",
    "hybrid_rrf_filtered", "hybrid_rrf_per_query_filtered",
    "bm25_match_compound", "bm25_match_disjunctive", "bm25_match_cnf",
    "ann_topk_ivf_matched_auto",
    "hybrid_rrf_snippets")

  /** Ops whose per-plan counts define the scale shape — shuffles, scan
    * multiplicity, join strategies, row-multiplying operators. PlanPinSpec
    * counts these in each regenerated headline plan and diffs against the
    * committed PLANS.md, so a silent plan drift (a new Exchange, a
    * broadcast that stopped broadcasting, a join strategy flip) fails
    * `sbt test` instead of waiting for a human to reread the artifact.
    */
  val invariantOps: Seq[String] = Seq(
    "Exchange", "BroadcastExchange", "ReusedExchange",
    "Scan parquet", "BatchScan", "BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "Expand", "Generate", "WindowGroupLimit")

  private val detailHeader = """(?m)^\(\d+\) ([A-Za-z][A-Za-z ]*?)\s*$""".r

  /** Invariant-op histogram of a formatted plan (detail headers only —
    * expression/plan ids and per-run arguments never participate).
    */
  def planSignature(plan: String): Map[String, Int] = {
    val names = detailHeader.findAllMatchIn(plan).map(_.group(1).trim).toList
    invariantOps.map(op => op -> names.count(_ == op)).filter(_._2 > 0).toMap
  }

  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    require(Set("plans", "plan", "explain", "meter")(cmd),
      "usage: Probe plans|plan|explain|meter [regex]")
    val pins = cmd == "plans"
    val spark = SessionDefaults.local(if (pins) PinWidth else SessionDefaults.cpus)
    val sfDir = if (pins) PinDir else SessionDefaults.sfDir
    val filter = args.lift(1).getOrElse(".*").r
    val names = SparkEntry.benchQueries.keys.filter(filter.matches(_)).toSeq.sorted
    def query(name: String): DataFrame = SparkEntry.benchQueries(name)(spark, sfDir)
    def execute(name: String): Double = {
      val t0 = System.nanoTime()
      query(name).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    try cmd match {
      case "plans" =>
        val sb = new StringBuilder
        sb.append("# PLANS — formatted physical plans of headline queries\n\n")
        sb.append(s"Generated by `graft.tools.Probe plans` over `$sfDir`. ")
        sb.append("What to look for: `PushedFilters`/`ReadSchema` on every scan ")
        sb.append("(pushdown + pruning), `BroadcastHashJoin` against dims, ")
        sb.append("`partial_` aggregates below exchanges (map-side combine), ")
        sb.append("`WholeStageCodegen` spans around the custom kernels.\n")
        headline.foreach { name =>
          sb.append(s"\n## $name\n\n```\n${formatted(query(name))}```\n")
        }
        Files.writeString(Paths.get(PlansFile), sb.toString)
        println(s"wrote $PlansFile (${headline.size} plans)")

      case "plan" =>
        names.foreach(name => println(s"== $name ==\n${formatted(query(name))}"))

      case "explain" => names.foreach { name =>
        val cold = execute(name) // codegen+JIT warmup
        val warm = execute(name)
        // the noop write runs a CLONED QueryExecution, so read the final
        // adaptive plan from a frame executed via its OWN QueryExecution
        // (collect) — otherwise this prints the initial plan, pre-AQE
        val df = query(name)
        df.collect()
        val finalPlan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        println(f"=== $name: cold $cold%.2fs warm $warm%.2fs ===\n$finalPlan")
      }

      case "meter" =>
        // warm pass: NonFatal only (swallowing OOM/interrupts silently
        // profiled a failed query as cold — ADVICE r19), and name the
        // failure so a cold profile is explained
        names.foreach { name =>
          try execute(name)
          catch { case NonFatal(e) => println(s"$name warmup failed: $e") }
        }
        val meter = new RunMeter(spark)
        val secs = names.map { name =>
          try Some(meter.run(name)(execute(name)))
          catch { case NonFatal(e) => println(s"$name FAILED: $e"); None }
        }
        meter.settle()
        meter.close()
        println(f"${"query"}%-34s ${"sec"}%7s ${"jobs"}%5s ${"stage"}%5s ${"tasks"}%6s ${"taskSec"}%8s ${"shufWrMB"}%8s ${"shufRdMB"}%8s")
        names.lazyZip(secs).foreach { (name, sec) =>
          val w = meter.work(name)
          println(f"$name%-34s ${sec.getOrElse(Double.NaN)}%7.2f ${w.jobs}%5d ${w.stages}%5d ${w.tasks}%6d ${w.taskMs / 1e3}%8.2f ${w.shuffleWriteBytes / 1e6}%8.1f ${w.shuffleReadBytes / 1e6}%8.1f")
          w.stageDetail.take(8).foreach { s =>
            println(f"    stage ${s.id}%4d ${s.taskMs / 1e3}%7.2fs tasks=${s.tasks}%-4d ${s.name}")
          }
        }
    } finally spark.stop()
  }
}
