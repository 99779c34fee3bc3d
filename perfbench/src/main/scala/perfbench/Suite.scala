package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query-suite workloads over generated fixtures: `warehouse_sql` runs
  * `ReferenceQueries.all`, `llm_ops` the rest of `SparkEntry.benchQueries`,
  * in an order fixed by the seed (sorted by SHA-1 of `<seed>:<name>`).
  *
  * Set-up runs every query once as the correctness pass, which doubles as
  * the warm-up: oracled results go to parquet for the DuckDB compare, the
  * others to a row count and content hash. Each measured region then runs
  * as many whole passes as fit in its seconds, at least one, each query
  * timed as `queries` (building the DataFrame, including any eager driver
  * work) plus `exec` (a `noop` write, as the engine's own Bench does).
  * After measuring, the queries without an oracle run again and must
  * reproduce their count and hash.
  */
final class Suite(spark: SparkSession, plan: JsonNode, trace: Trace,
                  result: Results, jvmStartMs: Long) {
  private val data = plan.get("data").asText
  private val fns = graft.SparkEntry.benchQueries
  private val names = {
    val reference = graft.queries.ReferenceQueries.all.keySet
    val suite =
      if (plan.get("workload").asText == "warehouse_sql") reference.toSeq
      else fns.keys.filterNot(reference).toSeq
    val seed = plan.get("order_seed").asLong
    suite.sortBy(n => hex(java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$seed:$n".getBytes("UTF-8"))))
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  private val oracles = graft.SparkEntry.oracleSql

  private def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, hex(md.digest()))
  }

  private def query(name: String, traced: Boolean): Unit =
    trace.op("client", "query", name, traced) {
      val df = trace.span("queries") { fns(name)(spark, data) }
      trace.span("exec") {
        df.write.mode("overwrite").format("noop").save()
      }
      (0L, Map.empty)
    }

  private def check(kind: String, name: String, checkDir: String): OpRec =
    trace.op("check", kind, name) {
      val df = fns(name)(spark, data)
      if (oracles.contains(name)) {
        df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
        (0L, Map.empty)
      } else {
        val (n, h) = digest(df)
        (n, Map("hash" -> h))
      }
    }

  def run(): Unit = {
    val checkDir = plan.get("check_dir").asText
    // the check pass runs four queries at a time: it is set-up, not
    // measured, and warms the JVM and the codegen cache as well serially
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val recs = try names.map(name => pool.submit(() => check("check", name, checkDir)))
      .map(_.get) finally pool.shutdown()
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json(oracles.filter { case (k, _) => names.contains(k) }))
    result("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Memory.sample()

    // Whole passes, at least one, and another only if it fits. A traced
    // run times each query twice in a row, untraced and traced, the order
    // alternating, so that the tracing overhead is measured in this JVM.
    trace.region = "measured"
    val traced = plan.get("trace").asBoolean
    val end = Main.deadline(plan)
    var (pass, took) = (0, 0L)
    do {
      val t0 = System.nanoTime()
      names.zipWithIndex.foreach { case (name, i) =>
        if (!traced) query(name, traced = false)
        else {
          val first = (i + pass) % 2 == 0
          query(name, first)
          query(name, !first)
        }
      }
      took = System.nanoTime() - t0
      pass += 1
    } while (System.nanoTime() + took < end)
    trace.settle()
    Memory.sample()

    // the queries without an oracle must reproduce their count and hash
    trace.region = "after"
    val hashed = recs.filter(_.extra.contains("hash"))
    result("bench_only") = hashed.map { before =>
      val after = check("recheck", before.name, checkDir)
      before.name -> Seq(before, after).map(r => Seq(r.rows, r.extra.get("hash")))
    }.toMap
  }
}
