package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.ManifestTable
import graft.sources.ManifestIndexSource

/** Equality-delete merge-on-read ([[ManifestTable.deleteKeys]]/
  * [[ManifestTable.merge]]) must be SEMANTICALLY INVISIBLE: every read
  * path (v1 parquet, keyed lookup, probe readBuckets, the DSv2 scan,
  * time travel, CDC diff) returns exactly what a copy-on-write of the
  * same operations would, while the manifests show the O(|keys|) write
  * shape. Sequencing is the correctness heart: a tombstone covers only
  * the dirs that existed at its commit, so later appends of the same
  * key are NEVER filtered (the resurrection bug Iceberg prevents with
  * sequence numbers). Rewrites fold tombstones away and restore the
  * metadata fast paths.
  */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = s"${Files.createTempDirectory("graft-mor")}/tbl"

  private def batch(ids: Range, tag: String): DataFrame =
    ids.map(i => (i.toLong, s"$tag-$i", i * 1.0)).toDF("id", "name", "score")

  private def contents(df: DataFrame): Set[(Long, String)] =
    df.select("id", "name").as[(Long, String)].collect().toSet

  private def expected(ids: Seq[(Long, String)]): Set[(Long, String)] = ids.toSet

  test("deleteKeys removes rows from every read path; snapshots and vacuum respect tombstones") {
    val path = tmp()
    ManifestTable.write(batch(0 until 40, "a"), path, "id", 4)
    ManifestTable.append(spark, path, batch(40 until 80, "b"), "id")
    val preDeleteV = ManifestTable.versions(spark, path).last

    ManifestTable.deleteKeys(spark, path,
      Seq(3L, 41L, 999L).toDF("id"), "id") // 999 absent: harmless
    val want = expected(
      (0 until 40).filter(_ != 3).map(i => (i.toLong, s"a-$i")) ++
      (40 until 80).filter(_ != 41).map(i => (i.toLong, s"b-$i")))

    assert(contents(ManifestTable.read(spark, path)) == want, "v1 read")
    assert(contents(ManifestIndexSource.read(spark, path)) == want, "DSv2 read")
    assert(ManifestTable.lookup(spark, path, "id", 3L).isEmpty, "lookup deleted")
    assert(contents(ManifestTable.lookup(spark, path, "id", 4L)) ==
      Set((4L, "a-4")), "lookup survivor")
    assert(contents(ManifestTable.readBuckets(spark, path,
      Seq(3L, 4L, 41L).toDF("id"))).intersect(Set((3L, "a-3"), (41L, "b-41"))).isEmpty,
      "readBuckets filters tombstoned keys")
    // snapshot isolation: the pre-delete version still has every row
    assert(contents(ManifestTable.readVersion(spark, path, preDeleteV))
      .contains((3L, "a-3")), "time travel must see pre-delete rows")
    // metadata count is disabled while tombstones live (it would overcount)
    assert(ManifestTable.rowCount(spark, path).isEmpty)
    // ...but SQL count(*) stays CORRECT via the real-scan fallback
    assert(spark.sql(
      s"SELECT count(*) FROM graft_manifest.`$path`").head().getLong(0) ==
      want.size.toLong)
    // vacuum must treat tombstone dirs as referenced
    ManifestTable.vacuum(spark, path, keepVersions = 1, dataGraceMs = 0L)
    assert(contents(ManifestTable.read(spark, path)) == want, "post-vacuum read")
  }

  test("a key re-inserted after its delete is not resurrected away (coverage sequencing)") {
    val path = tmp()
    ManifestTable.write(batch(0 until 20, "old"), path, "id", 2)
    ManifestTable.deleteKeys(spark, path, Seq(7L).toDF("id"), "id")
    // the new 7 lands in a dir the tombstone does NOT cover
    ManifestTable.append(spark, path,
      Seq((7L, "new-7", 0.0)).toDF("id", "name", "score"), "id")
    val got = contents(ManifestTable.read(spark, path))
    assert(got.contains((7L, "new-7")), "the re-inserted key must survive")
    assert(!got.contains((7L, "old-7")), "the old copy must stay deleted")
    assert(contents(ManifestIndexSource.read(spark, path)) == got, "DSv2 agrees")
    assert(contents(ManifestTable.lookup(spark, path, "id", 7L)) ==
      Set((7L, "new-7")))
  }

  test("a tombstoned read runs one broadcast job per tombstoned group, with no shuffle") {
    val path = tmp()
    ManifestTable.write(batch(0 until 40, "a"), path, "id", 4)
    // key 3 sits in both tombstone dirs, over the same data dirs
    ManifestTable.deleteKeys(spark, path, Seq(3L, 5L).toDF("id"), "id")
    ManifestTable.deleteKeys(spark, path, Seq(3L, 7L).toDF("id"), "id")
    val tombstoned = ManifestTable.describeManifest(spark, path)
      .tombstones.count(_._2.nonEmpty)
    var got = Set.empty[(Long, String)]
    val work = RunMeter.measure(spark) { got = contents(ManifestTable.read(spark, path)) }
    assert(got == expected((0 until 40).filterNot(Set(3, 5, 7))
      .map(i => (i.toLong, s"a-$i"))))
    // each of a bucket's dirs carries that bucket's tombstone set, so a
    // group per tombstoned bucket: its broadcast, plus the collect; a
    // schema-inferring tombstone read or a de-duplicating shuffle would
    // add jobs per group
    assert(work.jobs <= tombstoned + 1,
      s"${work.jobs} jobs for $tombstoned tombstoned groups: ${work.stageDetail.map(_.name)}")
    assert(work.shuffleRecords == 0, s"tombstone keys were shuffled: $work")
  }

  test("merge replaces matched keys and inserts new ones in ONE O(source) commit") {
    val path = tmp()
    ManifestTable.write(batch(0 until 50, "base"), path, "id", 4)
    val v0 = ManifestTable.versions(spark, path).last
    val source = Seq((10L, "upd-10", 1.0), (20L, "upd-20", 2.0),
      (100L, "ins-100", 3.0)).toDF("id", "name", "score")
    ManifestTable.merge(spark, path, source, "id")
    // exactly one commit, and no touched bucket was rewritten (pointers
    // only GROW — the O(source) shape)
    val v1 = ManifestTable.versions(spark, path).last
    assert(v1 == v0 + 1, "merge must be one atomic commit")
    val m0 = ManifestTable.readManifest(spark, path, v0)
    val m1 = ManifestTable.readManifest(spark, path, v1)
    m0.buckets.foreach { case (b, rels) =>
      assert(m1.buckets(b).startsWith(rels),
        s"bucket $b was rewritten — merge must only append") }

    val want = expected(
      (0 until 50).filterNot(Set(10, 20)).map(i => (i.toLong, s"base-$i")) ++
        Seq((10L, "upd-10"), (20L, "upd-20"), (100L, "ins-100")))
    assert(contents(ManifestTable.read(spark, path)) == want, "v1 read")
    val v2df = ManifestIndexSource.read(spark, path)
    assert(contents(v2df) == want, "DSv2 read")
    // merge-on-read is visible in EXPLAIN, and a projection WITHOUT the
    // key column still filters correctly (key read internally, projected
    // away)
    val plan = v2df.queryExecution.executedPlan.toString
    assert(plan.contains("mergeOnRead=true"), s"plan must show the mor scan:\n$plan")
    val names = spark.sql(
      s"SELECT name FROM graft_manifest.`$path` WHERE score >= 0")
      .as[String].collect().toSet
    assert(names == want.map(_._2), "non-key projection under merge-on-read")
  }

  test("rewrites fold tombstones: upsert per-bucket, OPTIMIZE table-wide; fast paths return") {
    val path = tmp()
    ManifestTable.write(batch(0 until 40, "a"), path, "id", 2)
    ManifestTable.merge(spark, path,
      Seq((1L, "m-1", 0.0), (2L, "m-2", 0.0)).toDF("id", "name", "score"), "id")
    assert(ManifestTable.currentManifest(spark, path)
      .tombstones.valuesIterator.exists(_.nonEmpty))

    // an upsert touching a tombstoned bucket folds that bucket's deletes
    ManifestTable.upsert(spark, path,
      Seq((1L, "u-1", 9.0)).toDF("id", "name", "score"), "id")
    val afterUpsert = contents(ManifestTable.read(spark, path))
    assert(afterUpsert.contains((1L, "u-1")) && !afterUpsert.contains((1L, "a-1"))
      && !afterUpsert.contains((1L, "m-1")))

    // OPTIMIZE folds the rest: no tombstones, metadata count restored,
    // plan back on the tombstone-free path, rows identical
    val before = contents(ManifestTable.read(spark, path))
    ManifestTable.optimize(spark, path, targetFileBytes = 1L << 30)
    val m = ManifestTable.currentManifest(spark, path)
    assert(!m.tombstones.valuesIterator.exists(_.nonEmpty),
      "optimize must fold every tombstone")
    assert(contents(ManifestTable.read(spark, path)) == before,
      "optimize must not change results")
    assert(ManifestTable.rowCount(spark, path).contains(before.size.toLong),
      "metadata count(*) must return once deletes are folded")
    val plan = ManifestIndexSource.read(spark, path)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("mergeOnRead"), "folded table must scan tombstone-free")
  }

  test("SQL DELETE FROM plans as an equality-delete commit; bare DELETE truncates; non-key shapes refuse") {
    val path = tmp()
    ManifestTable.write(batch(0 until 30, "a"), path, "id", 2)
    ManifestIndexSource.ensureRegistered(spark)
    val t = s"graft_manifest.`$path`"
    val v0 = ManifestTable.versions(spark, path).last

    spark.sql(s"DELETE FROM $t WHERE id = 5")
    spark.sql(s"DELETE FROM $t WHERE id IN (6, 7)")
    val m = ManifestTable.currentManifest(spark, path)
    assert(ManifestTable.versions(spark, path).last == v0 + 2,
      "each DELETE is one commit")
    assert(m.tombstones.valuesIterator.exists(_.nonEmpty),
      "SQL DELETE must land as equality-delete tombstones, not a rewrite")
    m.buckets.foreach { case (b, rels) =>
      assert(ManifestTable.readManifest(spark, path, v0).buckets(b) == rels,
        s"bucket $b rewritten — DELETE must be O(|keys|)") }
    assert(contents(ManifestTable.read(spark, path)) ==
      expected((0 until 30).filterNot(Set(5, 6, 7)).map(i => (i.toLong, s"a-$i"))))

    // a non-key predicate cannot be scoped to a metadata-only delete —
    // since r11 it takes the ROW-LEVEL path instead (scan finds the
    // matching keys, one delta commit tombstones them; RowLevelSqlSpec
    // pins that machinery): the row is gone, nothing is rewritten
    val preNonKey = ManifestTable.currentManifest(spark, path)
    spark.sql(s"DELETE FROM $t WHERE name = 'a-1'")
    assert(!contents(ManifestTable.read(spark, path)).contains((1L, "a-1")),
      "non-key DELETE must remove the matched row via the row-level path")
    preNonKey.buckets.foreach { case (b, rels) =>
      assert(rels.forall(ManifestTable.currentManifest(spark, path)
        .buckets.getOrElse(b, Seq.empty).contains),
        s"bucket $b rewritten — row-level DELETE must only add tombstones") }

    // bare DELETE = truncate: pointer-only commit, snapshot keeps history
    spark.sql(s"DELETE FROM $t")
    assert(ManifestTable.read(spark, path).isEmpty)
    assert(contents(ManifestTable.readVersion(spark, path, v0))
      .contains((5L, "a-5")), "pre-truncate snapshot must survive")
  }

  test("CDC diff reports equality deletes; append stream fails on them unless ignoreDeletes") {
    val path = tmp()
    ManifestTable.write(batch(0 until 20, "a"), path, "id", 2)
    val v1 = ManifestTable.versions(spark, path).last
    ManifestTable.deleteKeys(spark, path, Seq(5L).toDF("id"), "id")
    val v2 = ManifestTable.versions(spark, path).last
    val d = ManifestTable.diff(spark, path, "id", v1, v2)
      .select(col("change"), col("key").cast("string"))
      .as[(String, String)].collect().toSet
    assert(d == Set(("delete", "5")), s"diff must report the equality delete, got $d")

    // the append-only stream cannot represent the delete
    ManifestIndexSource.ensureRegistered(spark)
    val out = Files.createTempDirectory("graft-mor-out").toString
    val ckpt = Files.createTempDirectory("graft-mor-ck").toString
    def run(ignoreDeletes: Boolean): Unit = {
      val q = spark.readStream
        .option("startingVersion", 0)
        .option("ignoreDeletes", ignoreDeletes.toString)
        .table(s"graft_manifest.`$path`")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(ignoreDeletes = false) }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("equality-delete")),
      s"stream must fail on the tombstone commit: ${causes(e)}")
    // with ignoreDeletes the stream drains the ADDED dirs only
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    run(ignoreDeletes = true)
    val streamed = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(streamed == (0L until 20L).toSet,
      "ignoreDeletes streams added dirs (deletes not retracted, like Delta ignoreChanges)")
  }
}
