package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates every input from the
  * seed, writes a plan file and starts this main with its path; the main
  * sets up, measures and writes raw results (ops, spans, counts, check
  * outputs) to the plan's `out` file. All statistics and the result line
  * are computed by `run.py`.
  *
  * Set-up time runs from JVM start to the first timed op: the session,
  * fixture and index builds, and warm-up.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val plan = Json.read(args(0))
    val work = plan.get("work").asText
    val cpus = plan.get("cpus").asInt
    val spark = graft.SessionDefaults.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .withExtensions(new graft.GraftExtensions))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val trace = new Trace(spark, plan.get("trace").asBoolean)
    val result = new Results
    try {
      plan.get("workload").asText match {
        case "warehouse_sql" | "llm_ops" =>
          new Suite(spark, plan, trace, result, jvmStartMs).run()
        case "manifest_dml" =>
          new Dml(spark, plan, trace, result, jvmStartMs).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      trace.settle()
      result("mem_live_mb") = Memory.peakMb
      result ++= trace.json
      Files.writeString(Paths.get(plan.get("out").asText), Json(result.toMap))
    } finally spark.stop()
  }

  /** Measured region: closed loops until `seconds` have passed; the op in
    * flight at the deadline completes. */
  def deadline(plan: JsonNode): Long =
    System.nanoTime() + (plan.get("seconds").asDouble * 1e9).toLong
}

/** Raw, ordered result fields written to the out file. */
final class Results extends scala.collection.mutable.LinkedHashMap[String, Any]

/** The JVM's memory in use, sampled at phase boundaries outside the timed
  * region: the heap still live after a full collection plus the non-heap
  * memory committed (metaspace, code cache). Spark drops the blocks of
  * broadcasts and shuffles that became unreachable from a cleaner thread,
  * after a collection has found them, so collections repeat until the heap
  * in use stops falling. */
object Memory {
  private var peak = 0L

  def sample(): Unit = synchronized {
    val mem = ManagementFactory.getMemoryMXBean
    def live(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var (last, now, rounds) = (Long.MaxValue, live(), 1)
    while (now < last - last / 100 && rounds < 5) {
      Thread.sleep(100)
      last = now
      now = live()
      rounds += 1
    }
    peak = math.max(peak, now + mem.getNonHeapMemoryUsage.getCommitted)
  }

  def peakMb: Double = synchronized(peak / 1048576.0)
}
