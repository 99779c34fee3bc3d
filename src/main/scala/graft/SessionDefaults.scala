package graft

import org.apache.spark.sql.SparkSession

/** Engine-side session defaults shared by the Bench and Verify mains
  * and by the `perfbench` harness (the tools under `graft.tools` build
  * their own sessions) — ONE config point, so the benchmarked config
  * and the correctness-gated config are the same session shape (ADVICE
  * r19: the cached-plan AQE conf lived only in Bench, so the gate
  * verified a config the bench no longer measured).
  */
object SessionDefaults {

  /** Scale-neutral engine defaults.
    *
    *  - `canChangeCachedPlanOutputPartitioning`: lets AQE coalesce
    *    CACHED plans too (guide §2.2). The iterative operators (BPE
    *    training, label-propagation dedup, incremental dedup) persist
    *    their loop state; under the compatibility default every cached
    *    round is pinned at the static shuffle-partition count —
    *    measured 32 scheduler tasks per round over kilobyte partitions
    *    at sf0.1. AQE decides from actual sizes at any scale factor or
    *    core count, so this is a justified engine default, not a local
    *    tuning (overridable via SPARK_GRAFT_CACHED_AQE).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      sys.env.getOrElse("SPARK_GRAFT_CACHED_AQE", "true"))
}
