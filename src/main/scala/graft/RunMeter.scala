package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The engine's one job/stage attribution: a single `SparkListener`
  * that tallies the scheduler-side work of tagged bodies — jobs, stages,
  * tasks, executor run time, shuffle bytes and records, input records,
  * and the parquet scans planned by the SQL executions those jobs ran.
  * Bench, `tools.Probe meter` and the work-metric tests all read it.
  *
  * Isolation: sessions are shared by concurrent threads (parallel test
  * suites, a reader beside a writer), so `run(tag)` sets a job group on
  * the CALLING thread. The group is a thread-local property inherited by
  * every job that thread submits — broadcast and subquery jobs, and the
  * checkpoint and count jobs inside iterative operators — and carries a
  * per-meter prefix, so neither another thread's jobs nor another
  * meter's tags are ever credited. Job-start events map the group to its
  * stage ids and SQL execution ids; only those stages' tasks count.
  *
  * The listener bus is asynchronous: read counts after [[settle]], which
  * waits until the attributed events stop arriving. Bench settles once
  * at the end of its run, so no per-query wait enters a timing.
  */
final class RunMeter(spark: SparkSession) extends AutoCloseable {
  import RunMeter._

  private val sc = spark.sparkContext
  private val prefix = s"graft-meter-${java.util.UUID.randomUUID()}:"
  private val tallies = new ConcurrentHashMap[String, Tally]()
  private val stageTally = new ConcurrentHashMap[Int, Tally]()
  // planned scans of each live SQL execution, until one of its jobs
  // claims it for a tally (once) or it ends unclaimed
  private val execScans = new ConcurrentHashMap[Long, Int]()
  private val events = new LongAdder

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(prefix)).foreach { g =>
          val t = tallies.computeIfAbsent(g.stripPrefix(prefix), _ => new Tally)
          t.jobs.increment()
          j.stageIds.foreach(stageTally.put(_, t))
          Option(j.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => Option(execScans.remove(id.toLong)))
            .foreach(n => t.parquetScans.add(n.toLong))
          events.increment()
        }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Option(stageTally.get(s.stageInfo.stageId)).foreach { t =>
        t.stages.put(s.stageInfo.stageId, (stageName(s.stageInfo), s.stageInfo.numTasks))
        events.increment()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTally.get(e.stageId)).foreach { t =>
        t.tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          t.taskMs.add(m.executorRunTime)
          t.stageMs.computeIfAbsent(e.stageId, _ => new LongAdder)
            .add(m.executorRunTime)
          t.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
          t.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
          t.shuffleRecordsRead.add(m.shuffleReadMetrics.recordsRead)
          t.shuffleRecordsWritten.add(m.shuffleWriteMetrics.recordsWritten)
          t.inputRecords.add(m.inputMetrics.recordsRead)
        }
        events.increment()
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execScans.put(s.executionId, parquetScans(s.sparkPlanInfo))
      case s: SparkListenerSQLExecutionEnd => execScans.remove(s.executionId)
      case _ => ()
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` with every job it submits credited to `tag`. */
  def run[T](tag: String)(body: => T): T = {
    sc.setJobGroup(prefix + tag, s"graft $tag", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Quiet-wait: poll until two reads of the attributed-event count
    * 100 ms apart agree (at most 30 s). Every job of a returned `run`
    * has finished, so only the bus's delivery backlog remains. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var last = -1L
    var cur = events.sum()
    while (cur != last && System.nanoTime() < deadline) {
      last = cur
      Thread.sleep(100)
      cur = events.sum()
    }
  }

  /** The work credited to `tag` so far (all zero for an unseen tag). */
  def work(tag: String): Work = Option(tallies.get(tag)).fold(Work()) { t =>
    Work(t.jobs.sum, t.stages.size, t.tasks.sum, t.taskMs.sum,
      t.shuffleReadBytes.sum, t.shuffleWriteBytes.sum,
      t.shuffleRecordsRead.sum, t.shuffleRecordsWritten.sum,
      t.inputRecords.sum, t.parquetScans.sum,
      t.stages.asScala.toSeq.map { case (id, (name, n)) =>
        StageWork(id, name, n,
          Option(t.stageMs.get(id)).fold(0L)(_.sum))
      }.sortBy(s => (-s.taskMs, s.id)))
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object RunMeter {

  /** Work credited to one tag. Shuffle records are read + written: a
    * map-side-combined exchange counts its post-combine writes and the
    * reducer's reads — both collapse when a scale guard works and both
    * explode when it doesn't. */
  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskMs: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0, shuffleRecordsRead: Long = 0,
      shuffleRecordsWritten: Long = 0, inputRecords: Long = 0,
      parquetScans: Long = 0, stageDetail: Seq[StageWork] = Nil) {
    def shuffleRecords: Long = shuffleRecordsRead + shuffleRecordsWritten
  }

  /** One completed stage: its name (see [[stageName]]), task count and
    * summed executor run time. */
  final case class StageWork(id: Int, name: String, tasks: Int, taskMs: Long)

  /** Meter one body on a fresh meter: run, settle, read, detach. */
  def measure(spark: SparkSession)(body: => Unit): Work = {
    val meter = new RunMeter(spark)
    try {
      meter.run("body")(body)
      meter.settle()
      meter.work("body")
    } finally meter.close()
  }

  /** The operators a stage ran, in RDD order (`Scan parquet >
    * WholeStageCodegen (1) > Exchange`); the call-site line only for a
    * stage whose RDDs carry no operation scope. */
  private def stageName(info: StageInfo): String = {
    val ops = org.apache.spark.sql.GraftStageBridge.scopeNames(info)
    (if (ops.isEmpty) info.name.takeWhile(_ != '\n') else ops.mkString(" > ")).take(120)
  }

  private final class Tally {
    val jobs, tasks, taskMs, shuffleReadBytes, shuffleWriteBytes,
      shuffleRecordsRead, shuffleRecordsWritten, inputRecords,
      parquetScans = new LongAdder
    val stages = new ConcurrentHashMap[Int, (String, Int)]()
    val stageMs = new ConcurrentHashMap[Int, LongAdder]()
  }

  /** Parquet scan nodes in a planned SQL execution. InMemoryTableScan is
    * not descended into: SparkPlanInfo attaches the cached relation's
    * plan as its child (for the UI), so the original parquet node stays
    * visible under every cache read — and a cached read is exactly what
    * the driver-loop plan pins (Lloyd k-means, PQ codebook training)
    * must NOT count as a scan. */
  private def parquetScans(p: SparkPlanInfo): Int =
    if (p.nodeName.startsWith("InMemoryTableScan")) 0
    else (if (p.nodeName.startsWith("Scan parquet")) 1 else 0) +
      p.children.map(parquetScans).sum
}
