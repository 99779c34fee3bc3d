package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.functions._

/** RunMeter attribution: a tagged body is credited exactly its own work,
  * whatever else runs on the session, and tags on one meter tally apart
  * (Bench's one-tag-per-query-and-pass use). */
class RunMeterSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sfDir/orders.parquet")
  private def body(): Unit =
    orders.groupBy("o_orderstatus").count().collect()
  private def other(): Unit =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum("l_quantity")).collect()

  test("a tagged body's jobs and tasks equal its solo run while another thread runs jobs on the session") {
    body()
    val solo = RunMeter.measure(spark)(body())
    val rounds = new AtomicInteger
    val stop = new AtomicBoolean
    val noise = new Thread(() => while (!stop.get) { orders.count(); rounds.incrementAndGet() })
    noise.start()
    try {
      while (rounds.get == 0) Thread.sleep(20)
      // retry until a metered body overlaps the other thread's jobs
      val overlapped = (1 to 5).exists { _ =>
        val before = rounds.get
        val busy = RunMeter.measure(spark)(body())
        assert((busy.jobs, busy.tasks) == (solo.jobs, solo.tasks))
        rounds.get > before
      }
      assert(solo.jobs > 0 && solo.tasks > 0)
      assert(overlapped, "the other thread must run jobs while the body is metered")
    } finally {
      stop.set(true)
      noise.join()
    }
  }

  test("tags on one meter accumulate separately") {
    body(); other()
    val (b, o) = (RunMeter.measure(spark)(body()), RunMeter.measure(spark)(other()))
    assert(o.jobs != b.jobs || o.tasks != b.tasks, "the two bodies must differ in shape")
    val meter = new RunMeter(spark)
    try {
      meter.run("a")(body())
      meter.run("b")(other())
      meter.run("a")(body())
      meter.settle()
      val (a, bb) = (meter.work("a"), meter.work("b"))
      assert((a.jobs, a.tasks) == (2 * b.jobs, 2 * b.tasks))
      assert((bb.jobs, bb.tasks) == (o.jobs, o.tasks))
      assert(meter.work("never-run") == RunMeter.Work())
    } finally meter.close()
  }
}
