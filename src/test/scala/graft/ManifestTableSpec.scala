package graft

import java.nio.file.Files
import graft.sinks.ManifestTable

/** The manifest-commit protocol's three claims, asserted on disk state:
  * (1) maintenance IO is scoped to touched buckets (immutable data dirs
  * — untouched buckets' files are bit-identical across commits);
  * (2) the commit is atomic across buckets — an uncommitted staged
  * slice is invisible, and a crash before publish leaves the prior
  * version intact and readable;
  * (3) history is real — snapshot reads of version N survive later
  * commits until vacuum retires them.
  */
/** JVM-static gate for the interleaved-writer test: task closures
  * reference it by classloader, not by serialized state.
  */
object ManifestSpecGate {
  @volatile private var latch = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = latch = new java.util.concurrent.CountDownLatch(1)
  def await(): Unit = latch.await(120, java.util.concurrent.TimeUnit.SECONDS)
  def open(): Unit = latch.countDown()
}

class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def dataDirs(path: String): Set[String] = {
    val d = new java.io.File(s"$path/data")
    if (d.exists) d.listFiles.map(_.getName).toSet else Set.empty
  }

  private def seed(path: String, n: Int = 100, nB: Int = 8): Unit =
    ManifestTable.write(
      (0L until n.toLong).map(i => (i, s"name-$i", i * 10.0)).toDF("id", "name", "score"),
      path, "id", nB)

  test("manifest-carried row counts: exact metadata-only count(*) across the whole lifecycle") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path, n = 100, nB = 4)
    def expectRows(n: Long, what: String): Unit = {
      // metadata-only count agrees with an actual scan at every step
      assert(ManifestTable.rowCount(spark, path).contains(n),
        s"$what: rowCount=${ManifestTable.rowCount(spark, path)} expected $n")
      assert(ManifestTable.read(spark, path).count() == n, what)
    }
    expectRows(100, "after write")
    ManifestTable.append(spark, path,
      (100L until 120L).map(i => (i, s"a-$i", 0.0)).toDF("id", "name", "score"), "id")
    expectRows(120, "after append")
    ManifestTable.upsert(spark, path,
      Seq((5L, "up", 1.0), (200L, "new", 2.0)).toDF("id", "name", "score"), "id")
    expectRows(121, "after upsert (1 update + 1 insert)")
    ManifestTable.delete(spark, path, "id", 7L)
    expectRows(120, "after delete")
    ManifestTable.compact(spark, path, maxDirs = 1)
    expectRows(120, "after compact")
    // the count is pure metadata: every referenced dir carries a count
    val m = ManifestTable.currentManifest(spark, path)
    assert(m.buckets.values.flatten.forall(m.dirRows.contains),
      s"uncounted dirs in ${m.dirRows.keySet}")
    // and a manifest WITHOUT the field (pre-stats table) degrades to None
    assert(m.copy(dirRows = Map.empty).totalRows.isEmpty)
    // the DSv2 scan reports the manifest counts as numRows — and a
    // key-pruned slice reports the slice's rows, not the table's
    graft.sources.ManifestIndexSource.ensureRegistered(spark)
    def numRows(df: org.apache.spark.sql.DataFrame): Option[java.math.BigInteger] =
      df.queryExecution.optimizedPlan.stats.rowCount.map(_.bigInteger)
    val full = graft.sources.ManifestIndexSource.read(spark, path)
    assert(numRows(full).contains(java.math.BigInteger.valueOf(120)),
      s"scan numRows=${numRows(full)}")
    val slice = graft.sources.ManifestIndexSource.readBuckets(spark, path,
      Seq(3L).toDF("id"))
    assert(numRows(slice).exists(_.longValue < 120),
      s"pruned slice should report fewer rows: ${numRows(slice)}")
  }

  test("upsert commits all touched buckets atomically and leaves untouched files bit-identical") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    assert(ManifestTable.versions(spark, path) == Seq(1))
    val gensBefore = dataDirs(path)
    assert(gensBefore.size == 1)

    val ups = Seq((3L, "updated-3", 999.0), (200L, "new-200", 1.0))
      .toDF("id", "name", "score")
    ManifestTable.upsert(spark, path, ups, "id")
    assert(ManifestTable.versions(spark, path) == Seq(1, 2))
    // v1's generation is still fully present (immutability ⇒ untouched
    // buckets were not rewritten, they are the SAME files)
    assert(dataDirs(path).contains(gensBefore.head))

    val all = ManifestTable.read(spark, path)
    assert(all.count() == 101)
    assert(all.filter($"id" === 3L).select("name").as[String].head() == "updated-3")
    assert(all.filter($"id" === 200L).count() == 1)
    assert(all.filter($"id" === 5L).select("name").as[String].head() == "name-5")

    // time travel: v1 is the pre-upsert table
    val v1 = ManifestTable.readVersion(spark, path, 1)
    assert(v1.count() == 100)
    assert(v1.filter($"id" === 3L).select("name").as[String].head() == "name-3")
  }

  test("a staged-but-unpublished slice (crash before commit) is invisible; vacuum reclaims it") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    // simulate the crash point: data staged, publish never ran
    val orphan = ManifestTable.stageSlice(spark, path,
      Seq((3L, "poison", 0.0)).toDF("id", "name", "score")
        .withColumn("bucket", org.apache.spark.sql.functions.lit(0)))
    assert(orphan.nonEmpty && dataDirs(path).size == 2)
    val live = ManifestTable.read(spark, path)
    assert(live.count() == 100, "uncommitted slice leaked into a read")
    assert(live.filter($"name" === "poison").count() == 0)

    // the orphan is seconds old: with the default in-flight grace it
    // SURVIVES (it is indistinguishable from another writer's staged-
    // but-not-yet-committed data); a no-grace maintenance vacuum
    // reclaims it
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(dataDirs(path).size == 2,
      "vacuum deleted a fresh unreferenced dir despite the grace " +
        "(could be a concurrent writer's in-flight staging)")
    ManifestTable.vacuum(spark, path, keepVersions = 1, dataGraceMs = 0)
    assert(dataDirs(path).size == 1, "vacuum left the orphaned generation")
    assert(ManifestTable.read(spark, path).count() == 100)
  }

  test("vacuum data grace: an aged orphan is reclaimed, a fresh one survives") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    val orphan = ManifestTable.stageSlice(spark, path,
      Seq((7L, "staged", 1.0)).toDF("id", "name", "score")
        .withColumn("bucket", org.apache.spark.sql.functions.lit(0)))
    assert(orphan.nonEmpty && dataDirs(path).size == 2)
    // grace judges the NEWEST mtime in the tree (files land deep under
    // b=*/ and only their direct parent's mtime moves) — age every
    // entry of the orphan to get past it
    def ageTree(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000)
      if (f.isDirectory) f.listFiles().foreach(ageTree)
    }
    val live = ManifestTable.currentManifest(spark, path)
      .buckets.values.flatten.map(_.split('/')(1)).toSet
    new java.io.File(s"$path/data").listFiles()
      .filter(f => !live.contains(f.getName)).foreach(ageTree)
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(dataDirs(path).size == 1, "vacuum kept an aged orphan")
    assert(ManifestTable.read(spark, path).count() == 100)
  }

  test("publish is put-if-absent: racing commit of the same version fails loudly") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    // HDFS rename-if-absent is the real guard; locally POSIX rename
    // replaces, so the pre-existing destination surfaces via versions()
    // not colliding silently: publishing v1 again must be detectable.
    // Assert the protocol's local behavior: version list stays sorted
    // unique and read() resolves the latest.
    ManifestTable.publish(spark, path, ManifestTable.Manifest(2, 8, "id",
      "id BIGINT,name STRING,score DOUBLE,bucket INT", Map.empty))
    assert(ManifestTable.versions(spark, path) == Seq(1, 2))
    // v2 has no buckets — an atomic whole-table truncate
    assert(ManifestTable.read(spark, path).isEmpty)
  }

  test("delete rewrites one bucket, drops emptied buckets from the manifest") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path, n = 4, nB = 2) // few keys: emptying a bucket is plausible
    val before = ManifestTable.read(spark, path).select("id", "bucket")
      .as[(Long, Int)].collect().toMap
    val (victim, b) = before.head
    val sameBucket = before.count(_._2 == b)
    ManifestTable.delete(spark, path, "id", victim)
    val after = ManifestTable.read(spark, path)
    assert(after.filter($"id" === victim).count() == 0)
    assert(after.count() == 3)
    if (sameBucket == 1) // bucket emptied — dereferenced, not an empty dir
      assert(!after.select("bucket").as[Int].collect().contains(b))
    // history: v1 still has the victim
    assert(ManifestTable.readVersion(spark, path, 1)
      .filter($"id" === victim).count() == 1)
  }

  test("lookup reads only the key's bucket directory and type-checks the probe") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    val lk = ManifestTable.lookup(spark, path, "id", 42L)
    assert(lk.select("name").as[String].head() == "name-42")
    // manifest-level pruning: exactly one b=<i> directory in the scan
    val scanned = lk.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")
    val bucketDirs = "b=\\d+".r.findAllIn(scanned).toSet
    assert(bucketDirs.size <= 1, s"lookup scanned several buckets: $bucketDirs")

    val err = intercept[IllegalArgumentException] {
      ManifestTable.lookup(spark, path, "id", 42) // Int probe vs Long column
    }
    assert(err.getMessage.contains("does not match"))
  }

  test("diff between versions: insert/update/delete recovered from changed buckets only") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    ManifestTable.upsert(spark, path,
      Seq((3L, "updated-3", 999.0), (200L, "new-200", 1.0))
        .toDF("id", "name", "score"), "id")
    val victim = 7L
    ManifestTable.delete(spark, path, "id", victim)

    val d = ManifestTable.diff(spark, path, "id", 1, 3)
    val changes = d.select("change", "key").as[(String, Long)].collect().toSet
    assert(changes == Set(("update", 3L), ("insert", 200L), ("delete", victim)),
      s"unexpected change set: $changes")
    // IO scope: the diff reads only files under CHANGED buckets' dirs
    val scannedBuckets = d.inputFiles
      .flatMap(f => "b=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    val expected = Set(3L, 200L, victim).map(k =>
      (((org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(k, org.apache.spark.sql.types.LongType, 42L) % 8) + 8) % 8).toInt)
    assert(scannedBuckets == expected,
      s"diff scanned buckets $scannedBuckets, touched keys live in $expected")
  }

  test("null keys are refused loudly at write; keyed delete is O(one bucket)") {
    // CONTRACT (changed r11 with SQL row-level ops): keys are NOT NULL.
    // A null key is unreachable by every keyed op — equality never
    // matches null, so delete/upsert/lookup would silently skip it
    // forever — and Spark's row-level framework refuses nullable row
    // ids (the Iceberg identifier-field rule). The write fails loudly
    // instead of admitting a zombie row.
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    val rows = (0L until 20L).map(i => (java.lang.Long.valueOf(i), s"name-$i")) :+
      (null.asInstanceOf[java.lang.Long], "null-key-row")
    val e = intercept[Exception] {
      ManifestTable.write(rows.toDF("id", "name"), path, "id", 4)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("non-null keys")),
      s"want the non-null-key refusal, got: ${messages(e).mkString(" | ")}")

    // discovery is driver-side: deleting from a fresh table reads only
    // the victim's bucket (inputFiles of the rewrite slice)
    val p2 = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(p2)
    ManifestTable.delete(spark, p2, "id", 42L)
    // wrong-typed delete fails loudly even if the key's bucket is absent
    val err = intercept[IllegalArgumentException] {
      ManifestTable.delete(spark, p2, "id", "42")
    }
    assert(err.getMessage.contains("does not match"))
  }

  test("truncated version keeps its schema; readBuckets type-checks the probe frame") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    // atomic truncate: columns remain addressable on the empty version
    val m = ManifestTable.Manifest(2, 8, "id",
      "id BIGINT,name STRING,score DOUBLE,bucket INT", Map.empty)
    ManifestTable.publish(spark, path, m)
    val t = ManifestTable.read(spark, path)
    assert(t.isEmpty && t.filter($"id" === 1L).count() == 0) // resolves `id`

    val p2 = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(p2)
    val err = intercept[IllegalArgumentException] {
      ManifestTable.readBuckets(spark, p2,
        Seq(1, 2).toDF("id")) // Int probe frame vs Long key
    }
    assert(err.getMessage.contains("does not match"))
  }

  test("model walk: random upsert/delete/merge/deleteKeys/rebucket/compact/vacuum/optimize/SQL-update/SQL-merge/restore sequences match an in-memory map (seeded)") {
    val rnd = new scala.util.Random(421)
    graft.sources.ManifestIndexSource.ensureRegistered(spark)
    var restores = 0 // seed must actually exercise the rollback arm
    var renames = 0  // ...and the rename arm
    (1 to 2).foreach { _ =>
      val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
      var model = (0L until 30L).map(i => i -> (s"n$i", i * 1.0)).toMap
      ManifestTable.write(
        model.toSeq.map { case (k, (n, s)) => (k, n, s) }.toDF("id", "name", "score"),
        path, "id", 4)
      // row-level SQL statements must never DROP a pointer — they only
      // add staged dirs and tombstone entries (VERDICT r10 #1)
      def assertPointersGrow(pre: ManifestTable.Manifest): Unit = {
        val post = ManifestTable.currentManifest(spark, path)
        pre.buckets.foreach { case (b, rels) =>
          assert(rels.forall(post.buckets.getOrElse(b, Seq.empty).contains),
            s"bucket $b lost a pointer across a row-level statement") }
      }
      // per-version model snapshots: restore rolls table AND model back
      // together; vacuumed versions fall out of the candidate set the
      // same way they stop being restorable
      var snaps =
        Map(ManifestTable.currentManifest(spark, path).version -> model)
      (1 to 16).foreach { step =>
        rnd.nextInt(12) match {
          case 0 => // upsert a mix of existing + new keys
            val ks = Seq.fill(1 + rnd.nextInt(3))(rnd.nextLong(40))
            val rows = ks.map(k => (k, s"u$step-$k", step * 1.0))
            ManifestTable.upsert(spark, path,
              rows.toDF("id", "name", "score"), "id")
            rows.foreach { case (k, n, s) => model += k -> (n, s) }
          case 1 => // delete a key (existing or not)
            val k = rnd.nextLong(40)
            ManifestTable.delete(spark, path, "id", k)
            model -= k
          case 2 => ManifestTable.compact(spark, path, maxDirs = 2)
          case 3 => ManifestTable.vacuum(spark, path, keepVersions = 2)
          case 4 => ManifestTable.optimize(spark, path,
            clusterBy = if (step % 2 == 0) Some("score") else None)
          case 5 => // merge-on-read MERGE: replace-or-insert at O(source)
            val ks = Seq.fill(1 + rnd.nextInt(3))(rnd.nextLong(40)).distinct
            val rows = ks.map(k => (k, s"m$step-$k", step * 2.0))
            ManifestTable.merge(spark, path,
              rows.toDF("id", "name", "score"), "id")
            rows.foreach { case (k, n, s) => model += k -> (n, s) }
          case 6 => // bulk equality delete (existing and absent keys mixed)
            val ks = Seq.fill(1 + rnd.nextInt(4))(rnd.nextLong(45)).distinct
            ManifestTable.deleteKeys(spark, path, ks.toDF("id"), "id")
            ks.foreach(model -= _)
          case 7 => // online resize under live tombstones
            ManifestTable.rebucket(spark, path, 2 + rnd.nextInt(7))
          case 8 => // SQL UPDATE through the row-level delta path
            val k = rnd.nextLong(40)
            val pre = ManifestTable.currentManifest(spark, path)
            spark.sql(s"UPDATE graft_manifest.`$path` SET " +
              s"name = 'q$step', score = ${step * 3.0} WHERE id = $k")
            if (model.contains(k)) model += k -> (s"q$step", step * 3.0)
            assertPointersGrow(pre)
          case 9 => // SQL MERGE INTO (update-matched, insert-unmatched)
            val ks = Seq.fill(1 + rnd.nextInt(3))(rnd.nextLong(40)).distinct
            val rows = ks.map(k => (k, s"sm$step-$k", step * 4.0))
            rows.toDF("id", "name", "score")
              .createOrReplaceTempView("walk_merge_src")
            val pre = ManifestTable.currentManifest(spark, path)
            spark.sql(
              s"""MERGE INTO graft_manifest.`$path` t
                 |USING (SELECT id, name, score,
                 |       graft_manifest.bucket(${pre.nBuckets}, id) AS bucket
                 |       FROM walk_merge_src) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            rows.foreach { case (k, n, s) => model += k -> (n, s) }
            assertPointersGrow(pre)
          case 10 => // point-in-time rollback to any retained version
            val retained =
              ManifestTable.versions(spark, path).filter(snaps.contains)
            val v = retained(rnd.nextInt(retained.size))
            ManifestTable.restore(spark, path, v)
            model = snaps(v)
            restores += 1
          case 11 => // rename there-and-back: two full rewrites that
            // fold tombstones and regenerate all per-dir metadata —
            // the walk's fixed-name reads stay valid, the key column
            // round-trips through a rename half the time
            val c = if (step % 2 == 0) "id" else "name"
            ManifestTable.renameColumn(spark, path, c, s"${c}_rn")
            ManifestTable.renameColumn(spark, path, s"${c}_rn", c)
            renames += 1
        }
        val got = ManifestTable.read(spark, path)
          .select("id", "name", "score").as[(Long, String, Double)]
          .collect().map(t => t._1 -> (t._2, t._3)).toMap
        assert(got == model,
          s"state diverged at step $step: " +
            s"missing=${(model.keySet -- got.keySet).take(3)} " +
            s"extra=${(got.keySet -- model.keySet).take(3)} " +
            s"wrong=${model.keySet.intersect(got.keySet).filter(k => model(k) != got(k)).take(3)}")
        // a guard-era table never loses its writer feature level: every
        // op preserves the base's or (full rewrites) re-stamps it, and
        // restore targets are themselves guard-era snapshots here
        assert(ManifestTable.currentManifest(spark, path).writerVersion ==
          ManifestTable.CurrentWriterVersion,
          s"writer feature level regressed at step $step")
        snaps += ManifestTable.currentManifest(spark, path).version -> model
      }
    }
    assert(restores > 0, "seed never exercised the restore arm — reseed")
    assert(renames > 0, "seed never exercised the rename arm — reseed")
  }

  private def manifestFiles(path: String): Map[String, Int] = {
    val m = ManifestTable.currentManifest(spark, path)
    m.buckets.values.flatten.map { rel =>
      rel -> new java.io.File(s"$path/$rel").listFiles
        .count(_.getName.endsWith(".parquet"))
    }.toMap
  }

  private def plannedParts(path: String,
      filters: org.apache.spark.sql.sources.Filter*): Int = {
    val m = ManifestTable.currentManifest(spark, path)
    val b = new graft.sources.ManifestIndexTable(
        path, m, spark.sparkContext.hadoopConfiguration)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    b.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(filters.toArray)
    b.build().asInstanceOf[graft.sources.ManifestIndexScan]
      .planInputPartitions().count(
        _.asInstanceOf[graft.sources.ManifestBucketPartition].files.nonEmpty)
  }

  test("optimize: bin-packing folds a fragmented append log; rows identical; idempotent") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path, n = 200, nB = 4)
    (0 until 6).foreach { i =>
      ManifestTable.append(spark, path,
        (200L + i * 50 until 250L + i * 50)
          .map(j => (j, s"a-$j", j * 1.0)).toDF("id", "name", "score"), "id")
    }
    val before = ManifestTable.read(spark, path)
      .select("id", "name", "score").collect().map(_.toString).toSet
    val fragged = manifestFiles(path)
    assert(fragged.size >= 4 * 7, s"fixture not fragmented: $fragged")
    ManifestTable.optimize(spark, path)
    val m = ManifestTable.currentManifest(spark, path)
    // (a) file count drops to the target: one dir, one target-size file
    // per bucket (500 rows' bytes are far under 128 MB)
    assert(m.buckets.values.forall(_.size == 1),
      s"buckets not folded to one dir: ${m.buckets}")
    val packed = manifestFiles(path)
    assert(packed.values.sum == 4 && packed.values.forall(_ == 1),
      s"expected 1 file per bucket, got $packed")
    // (b) pre/post results identical
    assert(ManifestTable.read(spark, path)
      .select("id", "name", "score").collect().map(_.toString).toSet == before)
    // metadata recomputed for the rewritten dirs
    assert(m.buckets.values.flatten.forall(m.dirRows.contains))
    assert(ManifestTable.rowCount(spark, path).contains(500L))
    // idempotent: a second optimize finds nothing fragmented, commits nothing
    ManifestTable.optimize(spark, path)
    assert(ManifestTable.currentManifest(spark, path).version == m.version,
      "no-op optimize must not commit")
  }

  test("optimize clusterBy: range-sliced dirs tighten zone pruning; a concurrent append resolves per the conflict protocol") {
    import org.apache.spark.sql.sources.GreaterThan
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    // three commits each spanning the FULL score range: per-dir bounds
    // all cover [0,99] and a range predicate can prune nothing
    def batch(ids: Range) = ids.map(i =>
      (i.toLong, s"n-$i", (i % 100) * 1.0)).toDF("id", "name", "score")
    ManifestTable.write(batch(0 until 200), path, "id", 4)
    ManifestTable.append(spark, path, batch(200 until 400), "id")
    ManifestTable.append(spark, path, batch(400 until 600), "id")
    assert(plannedParts(path) == 12)
    assert(plannedParts(path, GreaterThan("score", 89.5)) == 12,
      "interleaved layout must not prune (every dir spans the range)")
    val before = ManifestTable.read(spark, path)
      .select("id", "name", "score").collect().map(_.toString).toSet
    // a concurrent append lands in optimize's stage→publish window on
    // the FIRST attempt; the lost race must restage against the new
    // manifest so the appended rows survive the rewrite
    @volatile var fired = 0
    ManifestTable.optimizePreCommitHook = () =>
      if (fired == 0) {
        fired = 1
        ManifestTable.append(spark, path, batch(600 until 650), "id")
      }
    try ManifestTable.optimize(spark, path, clusterBy = Some("score"), slices = 4)
    finally ManifestTable.optimizePreCommitHook = () => ()
    assert(fired == 1, "race hook never fired")
    val appended = (600 until 650).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"n-$i", (i % 100) * 1.0).toString).toSet
    assert(ManifestTable.read(spark, path)
      .select("id", "name", "score").collect().map(_.toString).toSet ==
      before ++ appended,
      "concurrent append's rows lost or duplicated by the rewrite")
    // 1 write + 2 appends + raced append + optimize retry commit
    assert(ManifestTable.versions(spark, path) == Seq(1, 2, 3, 4, 5),
      s"unexpected log: ${ManifestTable.versions(spark, path)}")
    val m = ManifestTable.currentManifest(spark, path)
    // (c) every bucket now holds `slices` range-ordered dirs and the
    // same predicate skips all but the top slice
    assert(m.buckets.values.forall(_.size == 4),
      s"buckets not range-sliced: ${m.buckets.view.mapValues(_.size).toMap}")
    assert(plannedParts(path) == 16)
    val pruned = plannedParts(path, GreaterThan("score", 89.5))
    assert(pruned == 4,
      s"clustering must confine score>89.5 to one slice per bucket, got $pruned")
    // pruned read still answers exactly
    graft.sources.ManifestIndexSource.ensureRegistered(spark)
    val got = spark.sql(
      s"SELECT count(*) FROM graft_manifest.`$path` WHERE score > 89.5")
    assert(got.head().getLong(0) ==
      ManifestTable.read(spark, path).filter($"score" > 89.5).count())
  }

  test("optimize zorderBy: 2-D box predicates prune dirs single-column clustering cannot; answers exact") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    // a full 64x64 grid: x and y uniform and INDEPENDENT (x = id mod 64,
    // y = id div 64), so single-column clustering on x leaves y bounds
    // spanning the whole domain in every dir
    def grid() = spark.range(4096).select($"id",
      ($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    val linear = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    val zorder = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    ManifestTable.write(grid(), linear, "id", 2)
    ManifestTable.write(grid(), zorder, "id", 2)
    ManifestTable.optimize(spark, linear, clusterBy = Some("x"), slices = 16)
    ManifestTable.optimize(spark, zorder, zorderBy = Seq("x", "y"), slices = 16)
    assert(plannedParts(linear) == 32 && plannedParts(zorder) == 32,
      "both layouts: 2 buckets x 16 slices")
    // the box x<16 AND y<16 is 1/16 of the space: x-clustering prunes
    // only via x (≥ 1/4 of slices survive, y unbounded); the z-curve
    // confines the box to the slices covering its quadrant
    val box = Seq(GreaterThanOrEqual("x", 0L), LessThanOrEqual("x", 15L),
      GreaterThanOrEqual("y", 0L), LessThanOrEqual("y", 15L))
    val keptLinear = plannedParts(linear, box: _*)
    val keptZ = plannedParts(zorder, box: _*)
    assert(keptZ < keptLinear,
      s"zorder must out-prune linear clustering on a 2-D box: z=$keptZ linear=$keptLinear")
    assert(keptZ <= 8, s"box = 1/16 of the z space, kept $keptZ of 32 dirs")
    // answers exact on both layouts, pre/post identical
    graft.sources.ManifestIndexSource.ensureRegistered(spark)
    Seq(linear, zorder).foreach { p =>
      val got = spark.sql(
        s"SELECT count(*) AS n, sum(id) AS s FROM graft_manifest.`$p` " +
          "WHERE x BETWEEN 0 AND 15 AND y BETWEEN 0 AND 15").head()
      assert(got.getLong(0) == 256L, s"$p box count")
      val expect = grid().filter($"x" <= 15 && $"y" <= 15)
        .agg(org.apache.spark.sql.functions.sum($"id")).head().getLong(0)
      assert(got.getLong(1) == expect, s"$p box sum")
      assert(ManifestTable.read(spark, p).count() == 4096L)
    }
  }

  test("rebucket: one atomic resize; keyed paths pick up the new modulus; history intact") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path, n = 300, nB = 2)
    ManifestTable.append(spark, path,
      (300L until 400L).map(j => (j, s"a-$j", j * 1.0)).toDF("id", "name", "score"), "id")
    val before = ManifestTable.read(spark, path)
      .select("id", "name", "score").collect().map(_.toString).toSet
    val preV = ManifestTable.versions(spark, path).last

    ManifestTable.rebucket(spark, path, 8)
    val m = ManifestTable.currentManifest(spark, path)
    assert(m.nBuckets == 8 && m.buckets.keySet.subsetOf((0 until 8).toSet))
    assert(m.buckets.size > 2, "rows must spread over the new buckets")
    assert(ManifestTable.read(spark, path)
      .select("id", "name", "score").collect().map(_.toString).toSet == before)
    // keyed paths re-derive the bucket from the current manifest
    assert(ManifestTable.lookup(spark, path, "id", 42L)
      .select("name").as[String].collect().toSeq == Seq("name-42"))
    assert(ManifestTable.lookup(spark, path, "id", 350L)
      .select("name").as[String].collect().toSeq == Seq("a-350"))
    assert(ManifestTable.readBuckets(spark, path, Seq(7L, 350L).toDF("id"))
      .filter($"id".isin(7L, 350L)).count() == 2)
    // old snapshot still reads under its own modulus
    assert(ManifestTable.readVersion(spark, path, preV)
      .select("id", "name", "score").collect().map(_.toString).toSet == before)
    // diff across a re-bucketing has no row-level semantics: refused
    intercept[IllegalArgumentException] {
      ManifestTable.diff(spark, path, "id", preV, m.version) }
    // no-op when already at the target
    ManifestTable.rebucket(spark, path, 8)
    assert(ManifestTable.currentManifest(spark, path).version == m.version)
  }

  test("two interleaved writers both commit: loser of the version race rebases and republishes") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    // writer A reads the v1 base, then BLOCKS inside its first Spark job
    // until writer B has committed v2 on top of the same base — the
    // deterministic lost-race shape. A's publish of v2 must conflict,
    // rebase its already-staged bucket pointers onto v2, and land v3.
    ManifestSpecGate.reset()
    val slowUpdates = Seq((200L, "from-A", 1.0)).toDF("id", "name", "score")
      .as[(Long, String, Double)]
      .mapPartitions { it => ManifestSpecGate.await(); it }
      .toDF("id", "name", "score")
    val a = new Thread(() =>
      ManifestTable.upsert(spark, path, slowUpdates, "id"))
    a.setDaemon(true)
    a.start()
    // let A enter the retry loop and read base v1 (its staging job is
    // parked on the gate)
    Thread.sleep(1500)
    ManifestTable.upsert(spark, path,
      Seq((300L, "from-B", 2.0)).toDF("id", "name", "score"), "id")
    assert(ManifestTable.versions(spark, path).contains(2))
    ManifestSpecGate.open()
    a.join(120000)
    assert(!a.isAlive, "writer A never finished")

    assert(ManifestTable.versions(spark, path) == Seq(1, 2, 3),
      "loser did not republish on a fresh version")
    val all = ManifestTable.read(spark, path)
    assert(all.filter($"id" === 200L).select("name").as[String].head() == "from-A")
    assert(all.filter($"id" === 300L).select("name").as[String].head() == "from-B",
      "rebase lost the other writer's commit")
    assert(all.count() == 102)
  }

  test("diff fails fast on an append-shaped (key-duplicate) table") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path, n = 10, nB = 2)
    // append the same keys again: per-key multiplicity 2 by design
    ManifestTable.append(spark, path,
      (0L until 10L).map(i => (i, s"dup-$i", 0.0)).toDF("id", "name", "score"), "id")
    val err = intercept[IllegalStateException] {
      ManifestTable.diff(spark, path, "id", 1, 2).collect()
    }
    assert(err.getMessage.contains("key-unique"), err.getMessage)
  }

  test("vacuum age floor: versions younger than retainMs survive a version-count retirement") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    ManifestTable.upsert(spark, path,
      Seq((1L, "u1", 1.0)).toDF("id", "name", "score"), "id")
    ManifestTable.upsert(spark, path,
      Seq((2L, "u2", 2.0)).toDF("id", "name", "score"), "id")
    assert(ManifestTable.versions(spark, path) == Seq(1, 2, 3))
    // keepVersions=1 would retire v1 and v2, but both were committed
    // seconds ago — the 1h age floor keeps them (RETAIN n HOURS)
    ManifestTable.vacuum(spark, path, keepVersions = 1, retainMs = 3600L * 1000)
    assert(ManifestTable.versions(spark, path) == Seq(1, 2, 3),
      "age floor did not protect young versions")
    assert(ManifestTable.readVersion(spark, path, 1).count() == 100)
    // a fresh .tmp- file (another writer's in-flight publish) survives
    // vacuum; only stale ones are reclaimed
    val tmp = new java.io.File(s"$path/_manifests/.tmp-inflight")
    java.nio.file.Files.writeString(tmp.toPath, "{}")
    ManifestTable.vacuum(spark, path, keepVersions = 1, retainMs = 3600L * 1000)
    assert(tmp.exists, "vacuum deleted a fresh in-flight tmp manifest")
    tmp.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000)
    ManifestTable.vacuum(spark, path, keepVersions = 1, retainMs = 3600L * 1000)
    assert(!tmp.exists, "vacuum kept a stale tmp manifest")
    // with no age floor the count rule applies as before
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(ManifestTable.versions(spark, path) == Seq(3))
  }

  test("vacuum keeps the retention window readable and deletes beyond it") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path)
    ManifestTable.upsert(spark, path,
      Seq((1L, "u1", 1.0)).toDF("id", "name", "score"), "id")
    ManifestTable.upsert(spark, path,
      Seq((2L, "u2", 2.0)).toDF("id", "name", "score"), "id")
    assert(ManifestTable.versions(spark, path) == Seq(1, 2, 3))
    ManifestTable.vacuum(spark, path, keepVersions = 2)
    assert(ManifestTable.versions(spark, path) == Seq(2, 3))
    // both retained versions fully readable (their data survived vacuum)
    assert(ManifestTable.readVersion(spark, path, 2).count() == 100)
    assert(ManifestTable.readVersion(spark, path, 3).count() == 100)
    assert(ManifestTable.readVersion(spark, path, 3)
      .filter($"id" === 2L).select("name").as[String].head() == "u2")
  }

  test("checkpointed log: 100+ commits, head reads touch O(1) log files; vacuum and streaming survive the boundary") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path, n = 8, nB = 4)                                        // v1
    // a long-lived append-log table: one commit per batch, 104 commits
    (2 to 104).foreach { v =>
      ManifestTable.append(spark, path,
        Seq((1000L + v, s"row-$v", v.toDouble)).toDF("id", "name", "score"), "id")
    }
    assert(ManifestTable.versions(spark, path) == (1 to 104),
      "every commit is a listed version")
    assert(new java.io.File(s"$path/_manifests/_last_checkpoint").exists,
      "periodic checkpoint was never written")

    // head discovery must NOT list the 104-file log: zero listings, and
    // probes bounded by the checkpoint interval (+2 slack for the
    // initial and verification probes)
    val (l0, p0) = (ManifestTable.logListings.get, ManifestTable.hintProbes.get)
    assert(ManifestTable.read(spark, path).count() == 8 + 103)
    val (l1, p1) = (ManifestTable.logListings.get, ManifestTable.hintProbes.get)
    assert(l1 == l0, s"head read listed the log ${l1 - l0} times")
    assert(p1 - p0 <= ManifestTable.CheckpointInterval + 2,
      s"head read probed ${p1 - p0} log files")

    // streaming tail ACROSS a checkpoint boundary: start below v100's
    // checkpoint, drain to the head — exactly the appended rows arrive
    graft.sources.ManifestIndexSource.ensureRegistered(spark)
    val base = Files.createTempDirectory("graft-ckpt-stream").toString
    spark.readStream.option("startingVersion", "95")
      .table(s"graft_manifest.`$path`")
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    val streamed = spark.read.parquet(s"$base/out")
      .select("id").as[Long].collect().toSeq.sorted
    assert(streamed == (96 to 104).map(1000L + _),
      s"stream across the checkpoint boundary emitted $streamed")

    // vacuum retires most of the log and refreshes the hint: the head
    // read afterwards is still listing-free and correct
    ManifestTable.vacuum(spark, path, keepVersions = 3, dataGraceMs = 0)
    assert(ManifestTable.versions(spark, path) == (102 to 104))
    val l2 = ManifestTable.logListings.get
    assert(ManifestTable.read(spark, path).count() == 8 + 103)
    assert(ManifestTable.currentManifest(spark, path).version == 104)
    assert(ManifestTable.logListings.get == l2,
      "post-vacuum head read fell back to a log listing")
    // a further commit after vacuum keeps working and stays discoverable
    ManifestTable.append(spark, path,
      Seq((9999L, "post-vacuum", 0.0)).toDF("id", "name", "score"), "id")
    assert(ManifestTable.headVersion(spark, path).contains(105))
    assert(ManifestTable.read(spark, path).count() == 8 + 104)
  }

  test("stagedCommitted spans ALL retained versions: a refusal cleanup must never delete dirs a superseded-but-retained version references (ADVICE r18)") {
    val path = s"${Files.createTempDirectory("graft-manifest")}/tbl"
    seed(path, n = 20, nB = 2) // version 1
    val v1Dirs = ManifestTable.readManifest(spark, path, 1)
      .buckets.values.flatten.toSeq
    assert(v1Dirs.nonEmpty)
    // a whole-table overwrite commits version 2, replacing EVERY head
    // bucket ref — the window ADVICE r18 names: if a writer of v1 hits
    // a post-commit checkpoint failure and its refusal cleanup runs
    // AFTER this overwrite, a head-only reference check would call
    // v1's dirs unreferenced and delete data retained version 1 (and
    // its time-travel reads) still resolve
    ManifestTable.write(
      (100L until 120L).map(i => (i, s"name-$i", i * 10.0))
        .toDF("id", "name", "score"), path, "id", 2)
    val headDirs = ManifestTable.readManifest(spark, path, 2)
      .buckets.values.flatten.toSet
    assert(v1Dirs.forall(!headDirs.contains(_)),
      "fixture: the overwrite must replace every head bucket ref")
    assert(ManifestTable.stagedCommitted(spark, path, v1Dirs),
      "dirs referenced by RETAINED version 1 are committed data even " +
        "though the head manifest no longer references them")
    // genuinely refused staging (no manifest references it) stays
    // deletable — the discard path must not go inert
    assert(!ManifestTable.stagedCommitted(spark, path,
      Seq("data/00000000-dead-beef-0000-000000000000/b=0")))
    // and version-1 snapshot reads still resolve
    assert(ManifestTable.readVersion(spark, path, 1).count() == 20)
  }

  test("memoDir: a load that races a change to the dir is returned but not memoized") {
    val dir = Files.createTempDirectory("graft-memo").toString
    Files.writeString(java.nio.file.Paths.get(dir, "a"), "1")
    val cache = new graft.sources.LruCache[(String, String), Int](8)
    var loads = 0
    def read(change: Boolean): Int = ManifestTable.memoDir(cache, spark, dir) {
      loads += 1
      if (change)
        Files.writeString(java.nio.file.Paths.get(dir, s"f$loads"), "x")
      loads
    }
    assert(read(change = true) == 1, "the loaded value is returned")
    assert(cache.size == 0, "a value loaded across a dir change is not put")
    assert(read(change = false) == 2, "the next call reloads")
    assert(read(change = false) == 2, "an undisturbed load is memoized")
    assert(loads == 2)
  }
}
