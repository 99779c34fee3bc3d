package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Bench, Verify,
  * `tools.Probe` and the test session call [[local]]; the `perfbench`
  * harness calls [[configure]] on its own builder. So the benchmarked,
  * correctness-gated, profiled and tested sessions are one shape (ADVICE
  * r19: the cached-plan AQE conf lived only in Bench, so the gate
  * verified a config the bench no longer measured).
  */
object SessionDefaults {

  /** Fixture dir and core count of a driver-contract run. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Scale-neutral engine defaults: UTC, no UI, the graft SQL
    * extensions, and `canChangeCachedPlanOutputPartitioning`, which lets
    * AQE coalesce CACHED plans too (guide §2.2). The iterative operators
    * (BPE training, label-propagation dedup, incremental dedup) persist
    * their loop state; under the compatibility default every cached
    * round is pinned at the static shuffle-partition count — measured 32
    * scheduler tasks per round over kilobyte partitions at sf0.1. AQE
    * decides from actual sizes at any scale factor or core count, so
    * this is an engine default, not a local tuning.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** A `local[cpus]` session with `cpus` shuffle partitions and a
    * reliable checkpoint dir (local FS here; HDFS/object store on a real
    * cluster), so iterative ops (Dedup.connectedComponents) take their
    * fault-tolerant branch, not the executor-local fallback.
    *
    * The generated-class cache holds 1000 classes, not Spark's 100: one
    * such process runs far more than 100 distinct plans (the reference
    * queries, or a test JVM's suites), so at 100 the cache evicts
    * classes still in use and Janino recompiles them: ten
    * schedules of `IndexConflictWalkSpec`'s hybrid walk compiled 1858
    * classes in 58.6 s at 100 entries and 72 in 37.6 s at 1000 (4 CPUs).
    */
  def local(cpus: Int): SparkSession = {
    val spark = configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.codegen.cache.maxEntries", "1000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints")
    spark
  }
}
