package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One timed operation: a query, a request or a statement. */
final case class OpRec(id: Long, region: String, role: String,
                       kind: String, name: String, traced: Boolean,
                       startUs: Long, endUs: Long, error: Option[String],
                       rows: Long, extra: Map[String, Any])

/** One span around a call into a layer. `parent` is 0 for an op's root. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startUs: Long, endUs: Long)

/** Records every op, and for traced ops the spans around each layer call
  * plus Spark's own counts for the same calls.
  *
  * Spans are held in memory and written once at exit. Each layer span sets
  * the Spark job description to `<op>|<layer>`, so jobs, stages, tasks and
  * SQL executions started inside it are attributed to that op and layer.
  *
  * `listen` registers the listeners that gather the counts; it is set for
  * traced runs. Within such a run each op is traced or not on its own
  * (`op(..., traced)`), so one JVM can time the same ops both ways and
  * measure what tracing costs.
  */
final class Trace(spark: SparkSession, listen: Boolean) {
  /** Label stamped on each op: `setup`, `measured`, `maintain` or `after`. */
  @volatile var region = "setup"
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  private def nowUs: Long = t0Us + (System.nanoTime() - t0Nanos) / 1000L

  private val ids = new AtomicLong
  private val ops = new ConcurrentLinkedQueue[OpRec]
  private val spans = new ConcurrentLinkedQueue[Span]
  /** The current thread's open spans: (op, span id, layer). */
  private val stack = new ThreadLocal[List[(Long, Long, String)]] {
    override def initialValue(): List[(Long, Long, String)] = Nil
  }

  /** Run `body` as one op, recording its wall time and any failure; when
    * `traced`, also its root span. Failures are recorded, not thrown. */
  def op(role: String, kind: String, name: String, traced: Boolean = false)(
      body: => (Long, Map[String, Any])): OpRec = {
    val id = ids.incrementAndGet()
    val start = nowUs
    if (traced) {
      stack.set((id, id, "op") :: Nil)
      spark.sparkContext.setJobDescription(s"$id|op")
    }
    val (rows, extra, err) =
      try { val (r, x) = body; (r, x, None) }
      catch { case NonFatal(e) =>
        (0L, Map.empty[String, Any], Some(e.getClass.getName))
      }
      finally if (traced) {
        stack.set(Nil)
        spark.sparkContext.setJobDescription(null)
      }
    val rec = OpRec(id, region, role, kind, name, traced, start, nowUs, err,
      rows, extra)
    ops.add(rec)
    if (traced) spans.add(Span(id, 0L, id, s"op.$kind", start, rec.endUs))
    rec
  }

  /** A layer call inside the current op. */
  def span[T](layer: String)(body: => T): T =
    if (stack.get().isEmpty) body
    else {
      val (op, parent, _) = stack.get().head
      val id = ids.incrementAndGet()
      stack.set((op, id, layer) :: stack.get())
      spark.sparkContext.setJobDescription(s"$op|$layer")
      val start = nowUs
      try body
      finally {
        spans.add(Span(id, parent, op, layer, start, nowUs))
        stack.set(stack.get().tail)
        val (o, _, up) = stack.get().head
        spark.sparkContext.setJobDescription(s"$o|$up")
      }
    }

  // ---- Spark-side counts, gathered only when tracing ----

  /** Per `<op>|<layer>` tag: jobs, stages, tasks, task run ms, scheduler
    * delay ms, shuffle read/write bytes, input bytes, spill bytes, GC ms,
    * SQL executions, and SQL executions that left no catalyst phases. */
  private val counts = new ConcurrentHashMap[String, Array[Double]]
  private val stageTag = new ConcurrentHashMap[Int, String]
  private val execTag = new ConcurrentHashMap[Long, String]
  /** Catalyst phases and plan scans, each keyed to the `<op>|<layer>` tag
    * of the SQL execution that ran them. */
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]
  private val scans = new ConcurrentLinkedQueue[Map[String, Any]]
  private val events = new AtomicLong

  private def add(tag: String, i: Int, v: Double): Unit =
    if (tag != null) counts.computeIfAbsent(tag, _ => new Array[Double](12))
      .synchronized { counts.get(tag)(i) += v }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Whether a job or SQL execution description is an `<op>|<layer>` tag. */
  private def isTag(d: String): Boolean = d.matches("\\d+\\|\\w+")

  if (listen) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        events.incrementAndGet()
        val tag = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(isTag).orNull
        if (tag != null) {
          add(tag, 0, 1)
          j.stageInfos.foreach(s => stageTag.put(s.stageId, tag))
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        events.incrementAndGet()
        add(stageTag.get(s.stageInfo.stageId), 1, 1)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        val tag = stageTag.get(t.stageId)
        val m = t.taskMetrics
        if (tag != null && m != null) {
          val i = t.taskInfo
          add(tag, 2, 1)
          add(tag, 3, m.executorRunTime)
          add(tag, 4, math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            i.gettingResultTime))
          add(tag, 5, m.shuffleReadMetrics.totalBytesRead)
          add(tag, 6, m.shuffleWriteMetrics.bytesWritten)
          add(tag, 7, m.inputMetrics.bytesRead)
          add(tag, 8, m.memoryBytesSpilled + m.diskBytesSpilled)
          add(tag, 9, m.jvmGCTime)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          events.incrementAndGet()
          // untraced executions carry Spark's call site here instead
          if (s.description != null && isTag(s.description))
            execTag.put(s.executionId, s.description)
        case x: SparkListenerSQLExecutionEnd =>
          events.incrementAndGet()
          val tag = execTag.remove(x.executionId)
          // the event's QueryExecution is Spark-internal API: reflection
          // keeps the harness compiling against the public surface
          val qe = Try(x.getClass.getMethod("qe").invoke(x)
            .asInstanceOf[QueryExecution]).toOption.orNull
          if (tag != null) {
            add(tag, 10, 1)
            if (qe == null || !record(tag, qe)) add(tag, 11, 1)
          }
        case _ =>
      }
    })
  }

  /** Catalyst phases from the tracker and scan counts from the executed
    * plan of one finished SQL execution; false when the tracker holds no
    * optimize or plan phase. Parsing and analysis run inside `spark.sql`,
    * the `sources` span. The tracker keeps one interval per phase, from
    * its first start to its last end. */
  private def record(tag: String, qe: QueryExecution): Boolean = {
    val found = qe.tracker.phases.toSeq
      .filter { case (p, _) => p == "optimization" || p == "planning" }
    found.foreach { case (p, s) =>
      phases.add(Map("tag" -> tag, "phase" -> p,
        "start_us" -> s.startTimeMs * 1000L, "end_us" -> s.endTimeMs * 1000L))
    }
    Try {
      var (n, files, rows) = (0L, 0L, 0L)
      Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec =>
          n += 1
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case b: BatchScanExec =>
          n += 1
          files += b.inputPartitions.size
          rows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      if (n > 0) scans.add(Map("tag" -> tag, "scans" -> n, "files" -> files,
        "rows" -> rows))
    }
    found.nonEmpty
  }

  /** Block until the asynchronous listener deliveries have stopped: the
    * event count must hold still over several consecutive polls. */
  def settle(): Unit = if (listen) {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  def json: Map[String, Any] = Map(
    "ops" -> ops.asScala.toSeq.sortBy(_.id).map(o => Map(
      "id" -> o.id, "region" -> o.region, "role" -> o.role, "kind" -> o.kind,
      "name" -> o.name, "traced" -> o.traced, "start_us" -> o.startUs, "end_us" -> o.endUs, "error" -> o.error,
      "rows" -> o.rows) ++ o.extra),
    "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs)),
    "phases" -> phases.asScala.toSeq,
    "scans" -> scans.asScala.toSeq,
    "counts" -> counts.asScala.map { case (k, v) => k -> v.toSeq })
}
