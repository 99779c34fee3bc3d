package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query seconds over the
  * SPARK_GRAFT_SF_DIR fixtures.
  *
  * Measurement notes:
  *  - the action is a `noop`-format write, which executes the FULL plan
  *    (a bare `count()` lets Catalyst drop sorts and projections — it
  *    would under-measure every query);
  *  - a full warmup pass (uncounted) runs every query once first: each
  *    DISTINCT plan pays its own whole-stage-codegen compile + JIT
  *    (~0.5-4 s in a fresh JVM — measured 4.3 s for a trivial groupBy as
  *    the JVM's first job vs 0.6 s warm), which is classloading cost,
  *    not query cost;
  *  - the reported time is the MIN of two measured passes per query:
  *    62 queries in one JVM see ±10% total noise from GC pauses and
  *    task-scheduling jitter, and min-of-N is the standard steady-state
  *    estimator for that noise shape (it can't hide real cost — every
  *    pass still executes the full plan).
  */
object Bench {

  /** Machine-state watermark: (1/5/15-min load averages, running JVM
    * count) from /proc. Five host-variance incidents in six rounds
    * (r6/r8/r9/r12/r13) were diagnosable only by re-running on a
    * provably idle box — the artifact itself recorded no machine state.
    * Stamped at start AND end of the run: the start stamp is the
    * external-load signal (a 1-min load > 0.5 before this JVM has done
    * anything means something else is, or just was, running — a
    * just-exited verify JVM leaves load ~1.5 and still inflates); the
    * end stamp mostly reflects the bench's own work and is kept for
    * the trail.
    */
  private def envStamp(): (Seq[Double], Int) = {
    val load =
      try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq.empty[Double] }
    val jvms =
      try {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.count { p =>
            p.getFileName.toString.forall(_.isDigit) &&
              (try java.nio.file.Files.readString(p.resolve("comm"))
                 .trim == "java"
               catch { case _: Throwable => false })
          }
        } finally s.close()
      } catch { case _: Throwable => -1 }
    (load, jvms)
  }

  private def envJson(start: (Seq[Double], Int),
                      end: (Seq[Double], Int)): String = {
    val loaded = start._1.headOption.exists(_ > 0.5)
    s"""{"load_start":${start._1.mkString("[", ",", "]")},""" +
      s""""jvms_start":${start._2},""" +
      s""""load_end":${end._1.mkString("[", ",", "]")},""" +
      s""""jvms_end":${end._2},"loaded":$loaded}"""
  }

  def main(args: Array[String]): Unit = {
    val envStart = envStamp()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine defaults (cached-plan AQE) come from SessionDefaults so
    // Bench and Verify run the SAME session shape (ADVICE r19)
    val spark = SessionDefaults.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // reliable checkpoint dir — same setup as Verify, so the benched
    // dedup_clusters runs the branch a real cluster would
    spark.sparkContext.setCheckpointDir(
      s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints")

    // optional arg: regex filter over query names (local profiling; the
    // driver always runs argless = the full set)
    val nameFilter = args.headOption.map(_.r).getOrElse(".*".r)
    val queryNames = SparkEntry.benchQueries.keys.filter(nameFilter.matches(_)).toSeq

    // scheduler-shape meter (VERDICT r19 #9): per-query stage-job
    // counts and summed executor task time ride into the bench JSON so
    // the core-scaling probe can tell "serial tiny-SF workload" (flat
    // c8/c32 ratios, parallelism ≈ 1) from "cores ignored", and
    // stage-count reduction — the real 100 TB lever — becomes a
    // tracked number. Attribution is by job DESCRIPTION tag (set per
    // execute, guide §1.5), so async listener delivery can never
    // credit a query with a neighbor's tail events; timings are
    // untouched (no per-query bus settling).
    val jobsByTag =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    val taskMsByTag =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tag = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (tag.nonEmpty) {
          jobsByTag.computeIfAbsent(tag,
            _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
          j.stageInfos.foreach(si => stageTag.put(si.stageId, tag))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val tag = stageTag.get(t.stageId)
        if (tag != null && t.taskMetrics != null)
          taskMsByTag.computeIfAbsent(tag,
              _ => new java.util.concurrent.atomic.AtomicLong)
            .addAndGet(t.taskMetrics.executorRunTime)
      }
    })

    def execute(name: String, tag: String): Unit = {
      spark.sparkContext.setJobDescription(tag)
      try SparkEntry.benchQueries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      finally spark.sparkContext.setJobDescription(null)
    }

    // warmup: every plan once, uncounted
    queryNames
      .foreach { q => try execute(q, s"warm:$q") catch { case _: Throwable => () } }

    // a failed pass records NO timing (min over failures would report a
    // fast crash as a fast query); failed queries are listed separately
    def measuredPass(pass: Int): Map[String, Either[String, Double]] =
      queryNames.map { name =>
        val t0 = System.nanoTime()
        try {
          execute(name, s"p$pass:$name")
          name -> Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable => name -> Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }.toMap

    val (p1, p2) = (measuredPass(1), measuredPass(2))
    val results = queryNames.flatMap { k =>
      (p1(k), p2(k)) match {
        case (Right(a), Right(b)) => Some(k -> math.min(a, b))
        case (Right(a), Left(_))  => Some(k -> a)
        case (Left(_), Right(b))  => Some(k -> b)
        case (Left(_), Left(_))   => None
      }
    }.toMap
    val failed = queryNames
      .filter(k => p1(k).isLeft && p2(k).isLeft).toSeq.sorted
    // a query that succeeded in ONE pass but failed the other is flaky —
    // its single timing is reported, but min-of-two must not silently
    // absorb the failure (a fast crash is not a fast query)
    val flaky = queryNames
      .filter(k => p1(k).isLeft != p2(k).isLeft).toSeq.sorted
      .map { k =>
        val msg = (p1(k).left.toSeq ++ p2(k).left.toSeq).head
        s"\"" + k + "\":\"" + msg.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // both raw pass timings per query, alongside the min the headline
    // uses: a tight [2.2,2.3] and a noisy [2.2,3.1] report the same min
    // but mean different things — three host-variance false alarms in
    // four rounds (r6/r8/r9 postmortems) were diagnosable only by
    // rerunning; with the spread in the artifact they self-diagnose
    val passes = queryNames.flatMap { k =>
      val ts = Seq(p1(k), p2(k)).collect { case Right(t) => t }
      if (ts.isEmpty) None
      else Some(s"\"" + k + "\":" + ts.mkString("[", ",", "]"))
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // one bus settle for the WHOLE run (listener delivery is async);
    // per-query settling would inflate every timing by the wait. Poll
    // the counters until two reads 100 ms apart agree, at most 1 s
    def counts(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      (jobsByTag.values.asScala.map(_.get).sum,
        taskMsByTag.values.asScala.map(_.get).sum)
    }
    val settleBy = System.nanoTime() + 1000L * 1000 * 1000
    var last = (-1L, -1L)
    var cur = counts()
    while (cur != last && System.nanoTime() < settleBy) {
      last = cur
      Thread.sleep(100)
      cur = counts()
    }
    // scheduler shape of the pass each query's reported min came from
    def minTag(k: String): String = (p1(k), p2(k)) match {
      case (Right(a), Right(b)) => if (a <= b) s"p1:$k" else s"p2:$k"
      case (Right(_), _) => s"p1:$k"
      case _ => s"p2:$k"
    }
    val stageJobs = results.keys.toSeq.sorted.flatMap { k =>
      Option(jobsByTag.get(minTag(k))).map(v => s"\"" + k + "\":" + v.get)
    }.mkString("{", ",", "}")
    val taskSec = results.keys.toSeq.sorted.flatMap { k =>
      Option(taskMsByTag.get(minTag(k))).map(v =>
        s"\"" + k + "\":" + v.get / 1e3)
    }.mkString("{", ",", "}")
    val env = envJson(envStart, envStamp())
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"errors":$errs,"flaky":${flaky.mkString("{", ",", "}")},"stage_jobs":$stageJobs,"task_sec":$taskSec,"env":$env,"sf":"$sfDir"}"""
    println(json)
    // stdout of a driver-run sbt process gets tail-truncated (~11 of 73
    // per-query timings were lost in round 3) — the file is the durable,
    // machine-readable copy for round-over-round regression tracking
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json + "\n")
    spark.stop()
  }
}
