package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.queries.ExtendedQueries

/** Scale rehearsal under the exact degenerate shape the mega-bucket star
  * and partial-aggregation guards exist for: the sf0.1 documents table
  * unioned with ONE boilerplate block planted 50,000 times (the
  * "same footer on every page" corpus — the distribution crawl dedup
  * actually faces).
  *
  * Without the guards this corpus is quadratic: 50k identical docs share
  * every LSH band bucket (~2.5e9 candidate pairs materialized from one
  * bucket) and every 15-token window of the block repeats 50k times (a
  * gram-partition window would hand a single task 800k rows of one key).
  * With them, candidate volume per band collapses to a min-id-hub star
  * (~50k edges) and the repeated-gram count is absorbed by map-side
  * partial aggregation.
  *
  * THE GUARD IS A WORK METRIC, NOT A CLOCK. The assertions compare total
  * shuffle records moved (read + written, via [[RunMeter]]'s job-group
  * -scoped SparkListener): the degenerate corpus has 11× the rows of the
  * clean one, so a working guard keeps the degenerate run within a
  * small row-scaled multiple of clean (measured 1.1–10× across the six
  * queries), while a quadratic regression multiplies candidate volume by
  * 10²–10⁴× (the negative-control test below plants one and shows it).
  * Record counts are load-invariant and deterministic on fixed data —
  * wall-clock inside a parallel forked `sbt test` is neither, and the
  * previous seconds-based bound failed on sibling-suite load in two
  * consecutive rounds (r12 `minhash_top_pairs`, r13 `dedup_clusters`)
  * with the dedup code untouched. Wall times remain in `info()` for the
  * postmortem trail only.
  */
class DegenerateCorpusSpec extends SparkSpec {

  private val cleanDir = "/root/testdata/sf0.1"

  /** A working guard's degenerate-over-clean shuffle-record ratio is
    * bounded by a constant times the 11× row blowup; a quadratic one is
    * 10²–10⁴×. 50× splits those regimes with an order of magnitude of
    * headroom on each side (largest measured passing ratio: 10.0× on
    * `ngram_lm_perplexity`, where the planted docs multiply per-doc
    * scoring rows; the planted negative control measures ~1480×).
    */
  private val BoundFactor = 50L

  private val boiler = "all rights reserved contact us subscribe to our newsletter " +
    "for updates terms of service privacy policy cookie settings follow " +
    "us on social media copyright twenty twenty four example corporation"

  private lazy val degenerateDir: String = {
    val dir = Files.createTempDirectory("graft-degenerate-sf01").toString
    val clean = graft.model.Tables.documents(spark, cleanDir)
    import spark.implicits._
    val planted = spark.range(50000)
      .select(
        (col("id") + lit(10000000L)).as("doc_id"),
        lit(boiler).as("text"),
        lit("en").as("lang"),
        lit("boilerplate").as("source"),
        lit(boiler.length.toLong).as("n_chars"))
    clean.unionByName(planted)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def rehearse(name: String,
                       query: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
    // warm BOTH dirs before measuring: JIT/codegen, and any per-dir
    // fixture builds (incremental_dedup's persisted index) must not
    // count as probe work
    query(spark, cleanDir).collect()
    query(spark, degenerateDir).collect()
    val t0 = System.nanoTime()
    val clean = RunMeter.measure(spark)(query(spark, cleanDir).collect())
    val t1 = System.nanoTime()
    val degenerate = RunMeter.measure(spark)(query(spark, degenerateDir).collect())
    val t2 = System.nanoTime()
    val bound = BoundFactor * clean.shuffleRecords
    info(f"$name: clean ${clean.shuffleRecords}%,d shuffle records (${(t1 - t0) / 1e9}%.2fs), " +
      f"degenerate ${degenerate.shuffleRecords}%,d (${(t2 - t1) / 1e9}%.2fs) — " +
      f"ratio ${degenerate.shuffleRecords.toDouble / clean.shuffleRecords}%.1fx, bound ${BoundFactor}x")
    assert(degenerate.shuffleRecords <= bound,
      s"$name degenerate run moved ${degenerate.shuffleRecords} shuffle records vs " +
        s"clean ${clean.shuffleRecords} (> ${BoundFactor}x) — a quadratic guard " +
        "(mega-bucket star / partial-agg absorption) regressed")
  }

  test("minhash_top_pairs survives a 50k-copy boilerplate block within the work bound") {
    rehearse("minhash_top_pairs", ExtendedQueries.minhashTopPairs)
  }

  test("dedup_clusters survives a 50k-copy boilerplate block within the work bound") {
    rehearse("dedup_clusters", ExtendedQueries.dedupClusters)
  }

  test("substring_spans survives a 50k-copy boilerplate block within the work bound") {
    rehearse("substring_spans", ExtendedQueries.substringSpans)
  }

  test("incremental_dedup survives a 50k-copy boilerplate block within the work bound") {
    // 40k copies land in the index, 10k arrive as the probed batch: the
    // cross leg's hub cap and the intra leg's mega-bucket star both fire
    rehearse("incremental_dedup", ExtendedQueries.all("incremental_dedup"))
  }

  test("ngram_lm_perplexity survives a 50k-copy boilerplate block within the work bound") {
    // 50k identical docs multiply a handful of bigram KEYS by 50k
    // occurrences each — map-side partial aggregation absorbs the
    // repeats before the term shuffle, and the scoring join fans the
    // tiny probability table back out without a wide-key blowup
    rehearse("ngram_lm_perplexity", ExtendedQueries.ngramLmPerplexity)
  }

  test("soft_dedup_weights survives a 50k-copy boilerplate block within the work bound") {
    // one 50k-member cluster: the size window sees a single 50k-row
    // partition (linear), and every upstream stage is the dedup_clusters
    // funnel already rehearsed above
    rehearse("soft_dedup_weights", ExtendedQueries.softDedupWeights)
  }

  test("negative control: an un-capped mega bucket still trips the work metric") {
    // 3,000 identical docs, 4 bands — every band bucket holds all 3,000
    // (over the cap, like the rehearsal's 50k-member buckets are over
    // the production 4096). With the guard, each bucket collapses to a
    // 2,999-edge star; with the cap lifted (the regression this suite
    // exists to catch), the within-bucket self-join expands
    // 3,000·2,999/2 pairs per band and the distinct's exchange carries
    // them. The metric must separate the two by far more than the
    // rehearsal bound — otherwise the guard couldn't bite.
    val docs = spark.range(3000)
      .select(col("id").as("doc_id"), lit(boiler).as("text"))
    val prepared = Dedup.prepareMinhash(docs, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prepared.count() // materialize: both runs below read the same cache
    def pairsWork(cap: Int): RunMeter.Work = RunMeter.measure(spark) {
      Dedup.candidatePairs(prepared, "id", "bands", maxBucketSize = cap)
        .write.mode("overwrite").format("noop").save()
    }
    val guarded = pairsWork(1024)
    val unguarded = pairsWork(Int.MaxValue)
    prepared.unpersist(blocking = false)
    info(f"guarded ${guarded.shuffleRecords}%,d shuffle records, " +
      f"unguarded ${unguarded.shuffleRecords}%,d — " +
      f"ratio ${unguarded.shuffleRecords.toDouble / guarded.shuffleRecords}%.0fx")
    assert(unguarded.shuffleRecords > BoundFactor * guarded.shuffleRecords,
      s"planted quadratic moved only ${unguarded.shuffleRecords} shuffle records vs " +
        s"guarded ${guarded.shuffleRecords} — below the ${BoundFactor}x rehearsal " +
        "bound, so the work metric can no longer detect the regression " +
        "class this suite guards")
  }

  test("degenerate corpus results stay structurally sound (one 50k cluster, star-bounded pairs)") {
    import spark.implicits._
    // the planted block forms exactly one 50k-member exact-dup cluster
    val clusters = ExtendedQueries.dedupClusters(spark, degenerateDir)
      .as[(Long, Long)].collect().toMap
    assert(clusters.getOrElse(50000L, 0L) >= 1L,
      s"expected a 50k-member cluster, got $clusters")
    // and every planted doc is fully repeated-span covered
    val spans = ExtendedQueries.substringSpans(spark, degenerateDir)
      .filter(col("doc_id") >= 10000000L)
    val n = spans.count()
    assert(n == 50000L, s"all 50k planted docs must report repeated spans, got $n")
    val fullyCovered = spans.filter(col("n_rep_tokens") === col("n_windows") + lit(14)).count()
    assert(fullyCovered == 50000L, "planted docs must be wall-to-wall repeated spans")
  }
}
