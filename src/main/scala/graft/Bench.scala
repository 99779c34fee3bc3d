package graft

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

  /** The bench's one JSON line. `passes` holds both measured passes per
    * query (Right = seconds, Left = failure message); `work` is the run
    * meter's tally per `p<pass>:<query>` tag. Assembled by Jackson, so
    * any message — Spark's carry newlines and the analyzed plan — stays
    * one parseable line.
    */
  private[graft] def resultLine(names: Seq[String],
      passes: Seq[Map[String, Either[String, Double]]],
      work: String => RunMeter.Work, envStart: (Seq[Double], Int),
      envEnd: (Seq[Double], Int), sf: String): String = {
    import scala.collection.immutable.ListMap
    val sorted = names.sorted
    def times(k: String) = passes.map(_(k)).collect { case Right(t) => t }
    // a failed pass records NO timing (min over failures would report a
    // fast crash as a fast query); failed queries are listed separately
    val results = ListMap.from(sorted.flatMap { k =>
      times(k).minOption.map(k -> _)
    })
    // a query that succeeded in ONE pass but failed the other is flaky —
    // its single timing is reported, but min-of-two must not silently
    // absorb the failure (a fast crash is not a fast query)
    val failures = sorted.map(k => k -> passes.map(_(k)).collect { case Left(m) => m })
    val failed = failures.collect { case (k, fs) if fs.size == passes.size => k }
    val flaky = ListMap.from(failures.collect {
      case (k, fs) if fs.nonEmpty && fs.size < passes.size => k -> fs.head
    })
    // scheduler shape of the pass each query's reported min came from
    val minWork = results.map { case (k, t) =>
      k -> work(s"p${passes.indexWhere(_(k) == Right(t)) + 1}:$k")
    }.filter(_._2.jobs > 0)
    val env = ListMap("load_start" -> envStart._1, "jvms_start" -> envStart._2,
      "load_end" -> envEnd._1, "jvms_end" -> envEnd._2,
      "loaded" -> envStart._1.headOption.exists(_ > 0.5))
    json.writeValueAsString(ListMap(
      "metric" -> "total", "value" -> results.values.sum, "unit" -> "sec",
      "queries" -> results,
      // both raw pass timings per query, alongside the min the headline
      // uses: a tight [2.2,2.3] and a noisy [2.2,3.1] report the same
      // min but mean different things — three host-variance false
      // alarms in four rounds (r6/r8/r9) were diagnosable only by
      // rerunning; with the spread in the artifact they self-diagnose
      "passes" -> ListMap.from(sorted.map(k => k -> times(k)).filter(_._2.nonEmpty)),
      "errors" -> failed, "flaky" -> flaky,
      "stage_jobs" -> minWork.map { case (k, w) => k -> w.jobs },
      "task_sec" -> minWork.map { case (k, w) => k -> w.taskMs / 1e3 },
      "env" -> env, "sf" -> sf))
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val envStart = envStamp()
    val sfDir = SessionDefaults.sfDir
    val spark = SessionDefaults.local(SessionDefaults.cpus)

    // optional arg: regex filter over query names (local profiling; the
    // driver always runs argless = the full set)
    val nameFilter = args.headOption.map(_.r).getOrElse(".*".r)
    val queryNames = SparkEntry.benchQueries.keys.filter(nameFilter.matches(_)).toSeq

    // scheduler-shape meter (VERDICT r19 #9): per-query stage-job
    // counts and summed executor task time ride into the bench JSON so
    // the core-scaling probe can tell "serial tiny-SF workload" (flat
    // c8/c32 ratios, parallelism ≈ 1) from "cores ignored", and
    // stage-count reduction — the real 100 TB lever — becomes a
    // tracked number. One tag per query and pass; the meter settles
    // once after the run, so timings carry no per-query bus wait.
    val meter = new RunMeter(spark)
    def execute(name: String): Unit =
      SparkEntry.benchQueries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // warmup: every plan once, uncounted
    queryNames.foreach { q => try execute(q) catch { case _: Throwable => () } }

    def measuredPass(pass: Int): Map[String, Either[String, Double]] =
      queryNames.map { name =>
        val t0 = System.nanoTime()
        try {
          meter.run(s"p$pass:$name")(execute(name))
          name -> Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable => name -> Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }.toMap

    val passes = Seq(measuredPass(1), measuredPass(2))
    meter.settle()
    val line = resultLine(queryNames, passes, meter.work, envStart,
      envStamp(), sfDir)
    println(line)
    // stdout of a driver-run sbt process gets tail-truncated (~11 of 73
    // per-query timings were lost in round 3) — the file is the durable,
    // machine-readable copy for round-over-round regression tracking
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line + "\n")
    spark.stop()
  }
}
