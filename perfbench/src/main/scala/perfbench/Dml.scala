package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

import graft.ops.Bm25Index
import graft.sinks.ManifestTable
import graft.sources.ManifestIndexSource

/** `manifest_dml`: one writer and one reader against a manifest table and
  * its BM25 index, both closed loops over the plan's seeded streams.
  *
  * Writer ops are SQL statements (`sinks`) and, in set-up, one
  * `Bm25Index.sync` (`ops`); traced runs add one `GRAFT MAINTAIN`
  * (`sinks`).
  * Reader ops are point lookups through the `graft_manifest` catalog and
  * `graft_search_text` calls: `spark.sql` (`sources`) then a collect
  * (`exec`).
  *
  * The index is synced once, in set-up: after non-append commits a sync is
  * a full rebuild, 15-30 s on this corpus, longer than a run may measure.
  * The reader's searches therefore see the index as of that sync. After
  * measuring, the harness records what the checks need: the full table,
  * `GRAFT VERIFY ... DEEP`, and searches on the synced index next to the
  * same searches on an index built from scratch over the table version
  * the sync reflects.
  */
final class Dml(spark: SparkSession, plan: JsonNode, trace: Trace,
                result: Results, jvmStartMs: Long) {
  private val table = plan.get("table").asText
  private val index = plan.get("index").asText
  private val writer = plan.get("writer").elements().asScala.toIndexedSeq
  private val reader = plan.get("reader").elements().asScala.toIndexedSeq
  private var (w, r) = (0, 0)

  /** (op id, files, bytes) each writer op added under the table and index
    * directories; listed around the op, outside its timing, when tracing. */
  private val written = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]

  private def files(): Map[String, Long] = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(table, index).flatMap { root =>
      val it = fs.listFiles(new Path(root), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(s => s.getPath.toString -> s.getLen).toSeq
    }.toMap
  }

  /** The table version the index was last synced to. */
  private var indexVersion = -1

  private def write(op: JsonNode, role: String = "writer",
                    traced: Boolean = false): Unit = {
    val kind = op.get("kind").asText
    val before = if (traced) files() else Map.empty[String, Long]
    val rec = trace.op(role, kind, kind, traced) {
      if (kind == "index")
        trace.span("ops") { Bm25Index.sync(spark, index, table, "doc_id", "text") }
      else trace.span("sinks") { spark.sql(op.get("sql").asText).collect() }
      (0L, Map.empty)
    }
    if (kind == "index" && rec.error.isEmpty)
      indexVersion = ManifestTable.versions(spark, table).max
    if (traced) {
      val added = files().filter { case (p, n) => !before.get(p).contains(n) }
      written.add(Seq(rec.id, added.size.toLong, added.values.sum))
    }
  }

  private def read(op: JsonNode, traced: Boolean = false): Unit =
    trace.op("reader", op.get("kind").asText, op.get("kind").asText, traced) {
      val df = trace.span("sources") { spark.sql(op.get("sql").asText) }
      (trace.span("exec") { df.collect().length.toLong }, Map.empty)
    }

  def run(): Unit = {
    ManifestIndexSource.ensureRegistered(spark)
    trace.op("setup", "table_write", "table_write") {
      trace.span("sinks") {
        ManifestTable.write(spark.read.parquet(plan.get("corpus").asText),
          table, "doc_id", plan.get("buckets").asInt)
      }
      (0L, Map.empty)
    }
    trace.op("setup", "index_build", "index_build") {
      trace.span("ops") {
        spark.sql(s"GRAFT CREATE TEXT INDEX '$index' FROM '$table' " +
          "KEY doc_id TEXT text").collect()
      }
      (0L, Map.empty)
    }
    val warm = plan.get("warmup").asInt
    while (w < warm) { write(writer(w)); w += 1 }
    while (r < 2 * warm) { read(reader(r)); r += 1 }
    result("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Memory.sample()

    // In traced runs every writer op is traced, and every other reader op:
    // the untraced ones are the base for the tracing overhead. The parity
    // flips with each read cycle, so both halves hold the same mix of
    // request kinds.
    val tracing = plan.get("trace").asBoolean
    val cycle = plan.get("read_cycle").asInt
    def region(name: String)(writes: => Unit): Unit = {
      trace.region = name
      val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
      val r0 = r
      val readerThread = new Thread(() =>
        while (writing.get && r < reader.size) {
          read(reader(r), tracing && (r - r0 + (r - r0) / cycle) % 2 == 0)
          r += 1
        })
      readerThread.start()
      try writes finally writing.set(false)
      readerThread.join()
      trace.settle()
    }
    region("measured") {
      val end = Main.deadline(plan)
      while (System.nanoTime() < end && w < writer.size) {
        write(writer(w), traced = tracing); w += 1
      }
    }
    Memory.sample()
    trace.region = "after"
    result("index_version") = indexVersion
    def step(name: String)(body: => Unit): Unit =
      trace.op("check", name, name) { body; (0L, Map.empty) }
    val fresh = s"${plan.get("work").asText}/fresh_index"
    step("fresh_index") {
      Bm25Index.build(spark, fresh,
        ManifestTable.readVersion(spark, table, indexVersion), "doc_id", "text")
    }
    val terms = spark.createDataFrame(
      Json.strings(plan.get("check_terms")).zipWithIndex.flatMap { case (t, q) =>
        t.split(" ").toSeq.map(x => (q.toLong, x))
      }).toDF("query_id", "term")
    def hits(idx: String) = Bm25Index.searchPerQuery(spark, idx, terms, 10)
      .collect().map(x => s"${x.getLong(0)}:${x.getLong(1)}:${x.getDouble(3)}")
      .sorted.toSeq
    step("search_pairs") { result("search_pairs") = Seq(hits(index), hits(fresh)) }
    // GRAFT MAINTAIN takes longer than a measured region, so only the
    // traced run measures it, once, with the reader running beside it.
    if (tracing) region("maintain") {
      write(plan.get("maintain"), "maintainer", traced = true)
    }

    step("table_read") {
      ManifestTable.read(spark, table)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${plan.get("check_dir").asText}/table")
    }
    // the deep audit takes longer than a measured region: traced runs only
    val deep = if (tracing) " DEEP" else ""
    step("verify") {
      result("verify") = spark.sql(s"GRAFT VERIFY '$table'$deep").collect()
        .map(x => Seq(x.getString(1), x.getString(2), x.getString(3))).toSeq
    }
    val d = spark.sql(s"GRAFT DESCRIBE '$table'").collect().head
    result("describe") = d.schema.fieldNames.zip(d.toSeq.map(String.valueOf)).toMap
    result("versions") = ManifestTable.versions(spark, table).size
    result("table_bytes") = files().filter(_._1.contains(table)).values.sum
    result("written") = written.asScala.toSeq
  }
}
