package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Bm25Index, TextAnalysis}
import graft.queries.ExtendedQueries
import graft.sinks.ManifestTable

/** The persisted BM25 index must be a pure RELOCATION of the oracled
  * in-query kernel: same tokenizer, same exact tf/df/dl/global counts,
  * same k1/b/idf arithmetic — so build-then-search over the same
  * corpus ≡ `bm25_search` bit-for-bit, while the IO shape changes from
  * "explode the corpus per query" to "open only the query terms'
  * buckets". Appends tokenize only the batch and must be immediately
  * searchable with the folded-in globals.
  */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = s"${Files.createTempDirectory("graft-bm25idx")}/idx"

  test("persisted search ≡ oracled bm25_search; probes open only their buckets") {
    val docs = Tables.documents(spark, sfDir)
    val path = tmp()
    Bm25Index.build(spark, path, docs, "doc_id", "text", nBuckets = 8)

    // the same 3 query terms bm25_search derives (top global tf)
    val qterms = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("gtf"))
      .orderBy(desc("gtf"), col("term")).limit(3).select("term")

    val persisted = Bm25Index.search(spark, path, qterms, k = 20)
      .as[(Long, Long, Double)].collect().toSet
    val inQuery = ExtendedQueries.bm25Search(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(persisted == inQuery,
      "persisted path must reproduce the oracled kernel exactly")

    // per-query input: the rank-1..6 split term sets through the built
    // index reproduce the in-query per-query kernel's top-20 per query
    val (cands, qt) = ExtendedQueries.bm25PerQueryParts(docs)
    val perQuery = Bm25Index.searchPerQuery(spark, path, qt, k = 20)
      .select("query_id", "doc_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    val inQueryPerQuery = cands.select("query_id", "doc_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(perQuery.size == 40 && perQuery.map(_._1) == Set(0L, 1L),
      s"two queries × top-20 expected: ${perQuery.size} rows")
    assert(perQuery == inQueryPerQuery,
      "persisted searchPerQuery must reproduce the in-query per-query kernel")

    // IO scope: 3 terms hash into at most 3 of 8 buckets — the probed
    // read must not open every postings file
    val probed = ManifestTable.readBuckets(spark, s"$path/postings", qterms)
    val total = ManifestTable.read(spark, s"$path/postings").inputFiles.length
    assert(probed.inputFiles.length < total,
      s"probe opened all $total files — manifest cut absent")
  }

  test("searchRescored: proximity flips the order BM25 alone gets wrong; index ≡ in-query") {
    import spark.implicits._
    // planted corpus: doc 1 carries the query terms TIGHTLY (span 3),
    // doc 2 carries them twice each but scattered wall-to-wall — BM25
    // ranks 2 over 1 on term stats alone, proximity must flip it
    val filler = (1 to 30).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler alpha beta gamma $filler"),
      (2L, s"alpha $filler beta $filler gamma alpha $filler beta gamma x"),
      (3L, s"alpha $filler $filler"),
      (4L, s"$filler plain text $filler")
    ).toDF("doc_id", "text")
    val qterms = Seq("alpha", "beta", "gamma").toDF("term")
    val path = tmp()
    Bm25Index.build(spark, path, docs, "doc_id", "text", nBuckets = 4)
    val bm25 = Bm25Index.search(spark, path, qterms, k = 4)
      .as[(Long, Long, Double)].collect()
    assert(bm25.head._1 == 2L, s"fixture must make BM25 prefer doc 2: $bm25")
    val rescored = Bm25Index.searchRescored(spark, path, qterms, docs,
        "doc_id", "text", k = 4, c = 4)
      .as[(Long, Long, Long, Double)].collect()
    assert(rescored.head._1 == 1L,
      s"proximity must rank the tight doc first: ${rescored.toSeq}")
    val spans = rescored.map(r => r._1 -> r._3).toMap
    assert(spans(1L) == 3L, s"doc 1's terms are adjacent: ${spans(1L)}")
    assert(spans(3L) == 1L, "single matched term → span 1")
    assert(spans(2L) > 3L, s"doc 2's cover must be wide: ${spans(2L)}")
    // the persisted two-stage path ≡ composing the in-query pieces
    val composed = Bm25Index.proximityRescore(
        Bm25Index.search(spark, path, qterms, k = 4), docs, qterms,
        "doc_id", "text", topK = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(rescored.toSeq == composed)
  }

  test("append tokenizes only the batch; new docs searchable with folded stats") {
    val docs = Tables.documents(spark, sfDir)
    val (a, b) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
    val path = tmp()
    Bm25Index.build(spark, path, a, "doc_id", "text", nBuckets = 4)
    Bm25Index.append(spark, path, b, "doc_id", "text")

    // split-build must equal one-shot build: same postings, same stats
    val whole = tmp()
    Bm25Index.build(spark, whole, docs, "doc_id", "text", nBuckets = 4)
    val qterms = Seq("the", "of", "and").toDF("term")
    val split = Bm25Index.search(spark, path, qterms, k = 15)
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = Bm25Index.search(spark, whole, qterms, k = 15)
      .as[(Long, Long, Double)].collect().toSet
    assert(split == oneShot,
      "append must fold stats so split-build ≡ one-shot build")
    assert(split.nonEmpty, "common terms must match documents")
    // both halves of the corpus are reachable through one search
    val ids = split.map(_._1)
    assert(ids.exists(_ % 2 == 0) && ids.exists(_ % 2 != 0),
      s"built and appended docs must both surface, got: $ids")
  }

  private val mk = (r: Range, tag: String) =>
    r.map(i => (i.toLong, s"alpha beta $tag w$i " * (1 + i % 3))).toSeq

  test("sync: exactly-once maintenance from a manifest corpus; stats crash heals") {
    val corpus = tmp(); val idx = tmp()
    ManifestTable.write(mk(0 until 40, "one").toDF("doc_id", "text"),
      corpus, "doc_id", 2)
    assert(Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4),
      "first sync builds")
    // mode mixing refuses BOTH ways: sync() on a build()-made index is
    // guarded below the watermark read; append() on a sync-managed
    // index must refuse too (it would reset as_of to -1, dragging the
    // next sync's base to -1 and dying in readManifest opaquely)
    val mix = intercept[IllegalArgumentException] {
      Bm25Index.append(spark, idx,
        mk(900 until 905, "mix").toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(mix.getMessage.contains("sync"),
      s"append-on-synced must name the mode mix, got: ${mix.getMessage}")
    // the post-first-sync stats row, for the crash simulation below
    val statsV1 = spark.read.parquet(s"$idx/_stats")
      .select("n_docs", "total_toks", "as_of")
      .as[(Long, Long, Int)].collect().head
    ManifestTable.append(spark, corpus,
      mk(40 until 70, "two").toDF("doc_id", "text"), "doc_id")
    assert(Bm25Index.sync(spark, idx, corpus, "doc_id", "text"),
      "second sync folds the delta")
    assert(!Bm25Index.sync(spark, idx, corpus, "doc_id", "text"),
      "current index must report false")

    // synced index ≡ one-shot build over the same corpus
    val whole = tmp()
    Bm25Index.build(spark, whole, ManifestTable.read(spark, corpus),
      "doc_id", "text", nBuckets = 4)
    val q = Seq("alpha", "two").toDF("term")
    def res(p: String) = Bm25Index.search(spark, p, q, k = 25)
      .as[(Long, Long, Double)].collect().toSet
    assert(res(idx) == res(whole), "sync must equal one-shot build")

    // crash between postings append and stats write: roll the stats
    // file back to its true pre-delta row; the next sync no-ops the
    // postings (watermark already at head), re-derives the missing
    // stats delta from the corpus log, and heals — search equality
    // against the one-shot build is the pin
    Seq(statsV1).toDF("n_docs", "total_toks", "as_of")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/_stats")
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text")
    assert(res(idx) == res(whole), "healed stats must restore equality")

    // _stats destroyed entirely: search re-derives the globals from
    // the postings table (exact by construction); sync re-persists
    val fsys = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(idx, "_stats"), true)
    assert(res(idx) == res(whole), "search must survive a missing stats file")
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text")
    assert(res(idx) == res(whole), "sync must re-persist healed stats")

    // GRAFT REFRESH drives the same sync from the persisted def
    ManifestTable.append(spark, corpus,
      mk(70 until 80, "three").toDF("doc_id", "text"), "doc_id")
    val r = spark.sql(s"GRAFT REFRESH '$idx'").collect().head
    assert(r.getString(2) == "true", "SQL refresh must fold the delta")
    val r2 = spark.sql(s"GRAFT REFRESH '$idx'").collect().head
    assert(r2.getString(2) == "false", "current index must report false")
    assert(Bm25Index.search(spark, idx, Seq("three").toDF("term"), k = 5)
      .count() > 0, "SQL-refreshed delta must be searchable")

    // non-append corpus change refuses with the rebuild demand
    ManifestTable.deleteKeys(spark, corpus, Seq(3L).toDF("doc_id"), "doc_id")
    val e = intercept[IllegalArgumentException] {
      Bm25Index.sync(spark, idx, corpus, "doc_id", "text")
    }
    assert(e.getMessage.contains("REBUILD INDEX"))
  }

  test("SQL lifecycle: CREATE TEXT INDEX builds, REFRESH maintains") {
    val corpus = tmp(); val idx = tmp()
    ManifestTable.write(mk(0 until 30, "one").toDF("doc_id", "text"),
      corpus, "doc_id", 2)
    // a leftover def from a crashed first sync must not wedge creation
    val defPath = java.nio.file.Paths.get(idx, "_index.json")
    java.nio.file.Files.createDirectories(defPath.getParent)
    java.nio.file.Files.write(defPath,
      """{"kind":"bm25","sourcePath":"/stale"}""".getBytes)
    val created = spark.sql(s"GRAFT CREATE TEXT INDEX '$idx' FROM '$corpus' " +
      "KEY doc_id TEXT text BUCKETS 4").collect().head
    assert(created.getString(2) == "1",
      s"create must report the postings version, got ${created.getString(2)}")
    assert(Bm25Index.search(spark, idx, Seq("alpha").toDF("term"), k = 5)
      .count() > 0, "SQL-created index must answer")
    ManifestTable.append(spark, corpus,
      mk(30 until 45, "sqlnew").toDF("doc_id", "text"), "doc_id")
    // staleness surfaces through the standard verbs before the refresh:
    // VERIFY warns, MAINTAIN DRY advises, DESCRIBE shows the lag
    assert(spark.sql(s"GRAFT VERIFY '$idx'").collect()
      .find(_.getString(1) == "index_freshness").get.getString(2) == "WARN")
    assert(spark.sql(s"GRAFT MAINTAIN '$idx' DRY").collect()
      .exists(r => r.getString(1) == "refresh" && r.getString(3) == "false"))
    assert(spark.sql(s"GRAFT DESCRIBE '$idx'").collect().head.getString(1)
      .contains("as_of corpus v1 of v2"))
    assert(spark.sql(s"GRAFT REFRESH '$idx'").collect().head
      .getString(2) == "true")
    assert(Bm25Index.search(spark, idx, Seq("sqlnew").toDF("term"), k = 5)
      .count() > 0)
    // healed: freshness green, no refresh advised
    assert(spark.sql(s"GRAFT VERIFY '$idx'").collect()
      .find(_.getString(1) == "index_freshness").get.getString(2) == "ok")
    assert(!spark.sql(s"GRAFT MAINTAIN '$idx' DRY").collect()
      .exists(_.getString(1) == "refresh"))
  }

  test("GRAFT SEARCH TEXT queries the index from SQL; RESCORE runs the two-stage path") {
    val corpus = tmp(); val idx = tmp()
    ManifestTable.write(mk(0 until 40, "one").toDF("doc_id", "text"),
      corpus, "doc_id", 2)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4)
    val qterms = Seq("alpha", "beta", "one").toDF("term")
    val sql = spark.sql(
        s"GRAFT SEARCH TEXT '$idx' TERMS ('alpha', 'beta', 'one') TOP 5")
      .as[(Long, Long, Double)].collect().toSeq
    val api = Bm25Index.search(spark, idx, qterms, k = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(sql == api, "SQL search must equal the API search")
    val sqlRe = spark.sql(
        s"GRAFT SEARCH TEXT '$idx' TERMS ('alpha', 'beta', 'one') TOP 5 RESCORE FACTOR 4")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val apiRe = Bm25Index.searchRescored(spark, idx, qterms,
        ManifestTable.read(spark, corpus), "doc_id", "text", k = 5, c = 20)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sqlRe == apiRe, "SQL RESCORE must equal the two-stage API path")
    assert(sqlRe.nonEmpty && sqlRe.forall(_._3 >= 1L), "spans are positive")
  }

  test("continuous sync drains with AvailableNow; replays are no-ops") {
    val corpus = tmp(); val idx = tmp()
    ManifestTable.write(mk(0 until 30, "one").toDF("doc_id", "text"),
      corpus, "doc_id", 2)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4)
    ManifestTable.append(spark, corpus,
      mk(30 until 50, "late").toDF("doc_id", "text"), "doc_id")
    Bm25Index.startContinuous(spark, idx,
        s"${Files.createTempDirectory("graft-bm25-ck")}/ckpt",
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination(120000)
    assert(!Bm25Index.sync(spark, idx, corpus, "doc_id", "text"),
      "the stream must have folded the delta already")
    assert(Bm25Index.search(spark, idx, Seq("late").toDF("term"), k = 5)
      .count() > 0, "streamed delta must be searchable")
  }

  // --- r15: query-arity-general proximity sweep (VERDICT r14 #1) ---

  private def hintCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.size

  test("proximityRescore: a 4-term query's span covers ALL four terms") {
    import spark.implicits._
    // the regression fixture: under the old fixed 3-slot sweep, tidx is
    // row_number over alphabetical term order — alpha(1) beta(2)
    // delta(3) omega(4) — so omega updated no slot and doc 1's span
    // read 3 (the tight alpha-beta-delta prefix) instead of 11
    val far = (1 to 7).map(i => s"pad$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta delta $far omega"),           // 4 terms, span 11
      (2L, s"x y alpha beta delta omega z"),          // 4 terms, span 4
      (3L, s"alpha $far beta")                        // 2 terms, span 9
    ).toDF("doc_id", "text")
    val qterms = Seq("alpha", "beta", "delta", "omega").toDF("term")
    val path = tmp()
    Bm25Index.build(spark, path, docs, "doc_id", "text", nBuckets = 2)
    val res = Bm25Index.searchRescored(spark, path, qterms, docs,
        "doc_id", "text", k = 3, c = 3)
      .as[(Long, Long, Long, Double)].collect()
    val spans = res.map(r => r._1 -> r._3).toMap
    assert(spans(1L) == 11L,
      s"doc 1's min cover must reach the far 4th term (omega): $spans")
    assert(spans(2L) == 4L, s"doc 2's four terms are adjacent: $spans")
    assert(spans(3L) == 9L, s"doc 3 covers its two PRESENT terms: $spans")
    val matched = res.map(r => r._1 -> r._2).toMap
    assert(matched(1L) == 4L && matched(2L) == 4L,
      s"matched_terms counts all four: $matched")
    // the tight doc must outrank the scattered one on the boost
    assert(res.head._1 == 2L,
      s"span-4 doc outranks span-11 at equal matched_terms: ${res.toSeq}")
  }

  test("snippets: the highlighted excerpt is the FIRST minimal cover window ± pad, clamped, all hits marked") {
    import spark.implicits._
    val docs = Seq(
      // two minimal windows (alpha beta at 0-1 and again at 6-7): the
      // sweep records the FIRST in end-position order
      (1L, "alpha beta x y z w alpha beta tail1 tail2"),
      // window at the very START: the left pad must clamp to pos 0
      (2L, "alpha beta c d e f g"),
      // window at the very END: the right pad clamps to the last token
      (3L, "c d e f g alpha beta"),
      // an extra ALPHA inside the padded range but outside the cover
      // window is still a query-term hit — it gets marked too
      (4L, "alpha x alpha beta y z w v u")
    ).toDF("doc_id", "text")
    val qterms = Seq("alpha", "beta").toDF("term")
    val path = tmp()
    Bm25Index.build(spark, path, docs, "doc_id", "text", nBuckets = 2)
    val out = Bm25Index.searchRescored(spark, path, qterms, docs,
        "doc_id", "text", k = 4, c = 4, snippetPad = 2)
      .select("doc_id", "snippet").as[(Long, String)].collect().toMap
    assert(out(1L) == "[alpha] [beta] x y",
      s"first minimal window wins, right pad = 2: ${out(1L)}")
    assert(out(2L) == "[alpha] [beta] c d",
      s"left pad clamps at the document start: ${out(2L)}")
    assert(out(3L) == "f g [alpha] [beta]",
      s"right pad clamps at the document end: ${out(3L)}")
    assert(out(4L) == "[alpha] x [alpha] [beta] y z",
      s"every query-term hit inside the padded window is marked: ${out(4L)}")

    // pad 0 = the bare cover window; the rescored ordering columns are
    // byte-identical to the snippet-less call (the snippet is an ADDED
    // column, never a changed ranking)
    val plain = Bm25Index.searchRescored(spark, path, qterms, docs,
      "doc_id", "text", k = 4, c = 4)
    assert(plain.columns.toSeq ==
      Seq("doc_id", "matched_terms", "span", "rescored"),
      "snippet-less output schema must not grow a snippet column")
    val snip0 = Bm25Index.searchRescored(spark, path, qterms, docs,
      "doc_id", "text", k = 4, c = 4, snippetPad = 0)
    assert(snip0.drop("snippet").collect().map(_.toString).toSeq ==
      plain.collect().map(_.toString).toSeq,
      "snippet mode must not perturb the rescored ranking")
    assert(snip0.select("snippet").as[String].collect()
      .forall(sn => sn.startsWith("[") && sn.endsWith("]")),
      "pad 0 windows start and end on matched terms")
  }

  test("proximityRescorePerQuery: an arity bound below a query's term count fails loudly; measured arity just works") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma x y"),
      (2L, "alpha z beta gamma w")).toDF("doc_id", "text")
    val qt = Seq((0L, "alpha"), (0L, "beta"), (0L, "gamma"),
      (1L, "alpha")).toDF("query_id", "term")
    val path = tmp()
    Bm25Index.build(spark, path, docs, "doc_id", "text", nBuckets = 2)
    val cands = Bm25Index.searchPerQuery(spark, path, qt, k = 2)
      .select("query_id", "doc_id", "matched_terms", "score")
    // bound 2 < query 0's 3 distinct terms — must raise in-plan, never
    // silently min-cover a 2-term subset (the r14 bug class, per query)
    val e = intercept[Exception](
      Bm25Index.proximityRescorePerQuery(cands, docs, qt, "doc_id",
        "text", topK = 2, qArityBound = 2).collect())
    assert(e.getMessage != null &&
      (e.getMessage + Option(e.getCause).map(_.getMessage).mkString)
        .contains("arity bound"), s"got: $e")
    // measured (-1): one max-arity job sizes the state to 3 slots and
    // query 0's cover spans alpha..gamma
    val out = Bm25Index.proximityRescorePerQuery(cands, docs, qt,
        "doc_id", "text", topK = 2)
      .select("query_id", "doc_id", "span").as[(Long, Long, Long)]
      .collect().toSet
    assert(out.contains((0L, 1L, 3L)) && out.contains((0L, 2L, 4L)),
      s"per-query spans must cover each query's own terms: $out")
    assert(out.contains((1L, 1L, 1L)) && out.contains((1L, 2L, 1L)),
      s"a 1-term query's span is 1 regardless of the shared state: $out")
  }

  test("property: batch search and rescore equal their single-query calls over 10 random term sets") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val path = tmp()
    Bm25Index.build(spark, path, docs, "doc_id", "text", nBuckets = 8)
    // seeded random queries drawn from the corpus vocabulary (plus one
    // out-of-vocab term, which BM25 simply never matches)
    val vocab = docs.select(explode(graft.ops.TextAnalysis
        .tokens(col("text"))).as("t"))
      .groupBy("t").count().orderBy(desc("count"), col("t"))
      .limit(200).collect().map(_.getString(0))
    // q0 pinned to ONE term: the single-slot sweep regression (least()
    // refuses one argument — 1-term RESCORE crashed at analysis until
    // this test found it)
    val rnd = new scala.util.Random(163)
    val queries = (0L until 10L).map { q =>
      val n = if (q == 0L) 1 else 1 + rnd.nextInt(4)
      val ts = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).distinct ++
        (if (q == 7L) Seq("zz-never-in-corpus") else Nil)
      (q, ts)
    }
    val qt = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")

    val batch = Bm25Index.searchPerQuery(spark, path, qt, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).groupBy(_._1)
    val batchR = Bm25Index.searchRescoredPerQuery(spark, path, qt, docs,
        "doc_id", "text", k = 5, c = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getDouble(4))).groupBy(_._1)
    queries.foreach { case (q, ts) =>
      val single = Bm25Index.search(spark, path, ts.toDF("term"), k = 5)
        .collect().map(r => (q, r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
      assert(batch.getOrElse(q, Array.empty).toSeq.sorted == single,
        s"query $q ($ts): batch slice != single search")
      val singleR = Bm25Index.searchRescored(spark, path, ts.toDF("term"),
          docs, "doc_id", "text", k = 5, c = 10)
        .collect().map(r => (q, r.getLong(0), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
      assert(batchR.getOrElse(q, Array.empty).toSeq.sorted == singleR,
        s"query $q ($ts): batch rescore slice != single rescore")
    }

    // PER-QUERY FILTER leg (VERDICT r16 #4 done-criterion): each query
    // draws its own random lang restriction; the batch with an
    // allowed-PAIRS frame must equal N single calls each with that
    // query's shared-allowed set — search AND the rescored two-stage
    val langs = docs.select("lang").distinct().collect()
      .map(_.getString(0)).sorted
    val qLang = queries.map { case (q, _) =>
      q -> langs(rnd.nextInt(langs.length)) }.toMap
    val mf = graft.ops.MatchFilter(
      qLang.toSeq.map { case (q, l) => (q, l) }.toDF("query_id", "qlang"),
      "query_id", docs, "doc_id", Seq(("qlang", "lang")))
    val batchF = Bm25Index.searchPerQuery(spark, path, qt, k = 5,
        matchF = Some(mf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).groupBy(_._1)
    val batchFR = Bm25Index.searchRescoredPerQuery(spark, path, qt, docs,
        "doc_id", "text", k = 5, c = 10, matchF = Some(mf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getDouble(4))).groupBy(_._1)
    queries.foreach { case (q, ts) =>
      val allowed = Some(docs.filter(col("lang") === qLang(q))
        .select("doc_id"))
      val single = Bm25Index.search(spark, path, ts.toDF("term"), k = 5,
          allowed = allowed)
        .collect().map(r => (q, r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
      assert(batchF.getOrElse(q, Array.empty).toSeq.sorted == single,
        s"query $q (${qLang(q)}): per-query-filtered batch slice != " +
          "single filtered search")
      val singleR = Bm25Index.searchRescored(spark, path, ts.toDF("term"),
          docs, "doc_id", "text", k = 5, c = 10, allowed = allowed)
        .collect().map(r => (q, r.getLong(0), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
      assert(batchFR.getOrElse(q, Array.empty).toSeq.sorted == singleR,
        s"query $q (${qLang(q)}): per-query-filtered rescore slice != " +
          "single filtered rescore")
    }
  }

  test("proximityRescore: duplicate TERMS entries don't corrupt the sweep") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha x x x beta"),
      (2L, "alpha beta y")
    ).toDF("doc_id", "text")
    val path = tmp()
    Bm25Index.build(spark, path, docs, "doc_id", "text", nBuckets = 2)
    val clean = Seq("alpha", "beta").toDF("term")
    val dups = Seq("alpha", "beta", "alpha", "beta", "alpha").toDF("term")
    val a = Bm25Index.searchRescored(spark, path, clean, docs,
      "doc_id", "text", k = 2, c = 2).collect().toSeq
    val b = Bm25Index.searchRescored(spark, path, dups, docs,
      "doc_id", "text", k = 2, c = 2).collect().toSeq
    assert(a == b, s"dup terms must dedupe to the same result: $a vs $b")
    assert(a.map(_.getLong(2)).toSet == Set(5L, 2L),
      s"spans must be 5 and 2: $a")
  }

  test("proximityRescore: candidate id fetch is broadcast-hinted only under the row cap") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "beta alpha")).toDF("doc_id", "text")
    val qterms = Seq("alpha", "beta").toDF("term")
    val cands = Seq((1L, 2L, 1.0), (2L, 2L, 0.9))
      .toDF("doc_id", "matched_terms", "score")
    val small = Bm25Index.proximityRescore(cands, docs, qterms,
      "doc_id", "text", topK = 2, candBound = 2L)
    val large = Bm25Index.proximityRescore(cands, docs, qterms,
      "doc_id", "text", topK = 2, candBound = 50L * 1000 * 1000)
    assert(hintCount(small) == hintCount(large) + 1,
      s"above the cap the id-fetch hint must drop (AQE decides): " +
        s"small=${hintCount(small)} large=${hintCount(large)}")
    // and the un-hinted plan still computes the same answer
    assert(small.collect().toSeq == large.collect().toSeq)
  }

  test("proximityRescore: int-keyed cands surface as long doc_id (SQL schema contract)") {
    import spark.implicits._
    val docs = Seq((1, "alpha beta"), (2, "beta x alpha"))
      .toDF("doc_id", "text")
    val cands = Seq((1, 2, 1.0), (2, 2, 0.9))
      .toDF("doc_id", "matched_terms", "score")
    val qterms = Seq("alpha", "beta").toDF("term")
    val out = Bm25Index.proximityRescore(cands, docs, qterms,
      "doc_id", "text", topK = 2, candBound = 2L)
    import org.apache.spark.sql.types.LongType
    assert(out.schema("doc_id").dataType == LongType &&
      out.schema("matched_terms").dataType == LongType,
      s"rescore output must be long-keyed regardless of corpus key type: ${out.schema}")
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("RESCORE FACTOR widens the candidate cut; the wider cut flips the winner") {
    import spark.implicits._
    // docs 1-3: high term stats (tf 3+3) but alpha/beta occurrences
    // scattered (span 5, boost 0.4); doc 4: tf 1+1 — BELOW the BM25
    // top-2 — but adjacent terms (span 2, boost 1.0). With FACTOR 2
    // the cut never sees doc 4; FACTOR 8 admits it and proximity
    // makes it the winner. A fixed cut is exactly what decayed in the
    // pq_recall_gate measurements — FACTOR is the SQL knob for it.
    val scattered = "alpha x alpha x alpha y y y beta z beta z beta"
    val corpus = tmp(); val idx = tmp()
    ManifestTable.write(Seq(
        (1L, scattered), (2L, scattered + " w1"), (3L, scattered + " w1 w2"),
        (4L, "alpha beta f1 f2 f3 f4 f5 f6")
      ).toDF("doc_id", "text"), corpus, "doc_id", 2)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 2)
    val bm25 = Bm25Index.search(spark, idx,
      Seq("alpha", "beta").toDF("term"), k = 2)
      .as[(Long, Long, Double)].collect().map(_._1)
    assert(!bm25.contains(4L),
      s"fixture: doc 4 must sit OUTSIDE the BM25 top-2, got ${bm25.toSeq}")
    val narrow = spark.sql(
      s"GRAFT SEARCH TEXT '$idx' TERMS ('alpha', 'beta') TOP 1 RESCORE FACTOR 2")
      .collect().map(_.getLong(0)).toSeq
    val wide = spark.sql(
      s"GRAFT SEARCH TEXT '$idx' TERMS ('alpha', 'beta') TOP 1 RESCORE FACTOR 8")
      .collect().map(_.getLong(0)).toSeq
    assert(narrow.head != 4L,
      s"narrow cut cannot see doc 4: $narrow")
    assert(wide == Seq(4L),
      s"the wider cut must admit and crown the tight doc: $wide")
    // no FACTOR → the corpus-scaled default (floored at 2k here)
    val dflt = spark.sql(
      s"GRAFT SEARCH TEXT '$idx' TERMS ('alpha', 'beta') TOP 1 RESCORE")
      .collect().map(_.getLong(0)).toSeq
    assert(dflt == narrow, "4-doc corpus: scaled default floors at 2k = 2")
  }

  test("scaledCut grows with the corpus between the 2k floor and 64k cap") {
    import graft.sources.SearchRelations.scaledCut
    assert(scaledCut(4, 1) == 2, "floor: 2k")
    assert(scaledCut(600, 10) == 100, "interior: nDocs/6")
    assert(scaledCut(10L * 1000 * 1000, 10) == 640, "cap: 64k")
  }

  test("proximityRescore: a caller arity bound below the true term count fails loudly") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val cands = Seq((1L, 3L, 1.0)).toDF("doc_id", "matched_terms", "score")
    val qterms = Seq("alpha", "beta", "gamma").toDF("term")
    // qArity 2 against 3 distinct terms: the in-plan guard must explode
    // (the silent alternative is exactly the r14 shrunken-cover bug)
    val e = intercept[Exception] {
      Bm25Index.proximityRescore(cands, docs, qterms, "doc_id", "text",
        topK = 1, candBound = 1L, qArity = 2).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("qArity"),
      s"too-small bound must name the guard, got: $msgs")
    // and an over-estimate is harmless: extra slots stay inert
    val ok = Bm25Index.proximityRescore(cands, docs, qterms, "doc_id", "text",
      topK = 1, candBound = 1L, qArity = 7).collect()
    assert(ok.length == 1 && ok.head.getLong(2) == 3L,
      s"over-bound arity must still cover all terms: ${ok.toSeq}")
  }

  test("DESCRIBE surfaces the two-stage rescore cut and its regime (floor / scaled / saturated)") {
    import graft.sources.SearchRelations.scaledCut
    // the cut formula's three regimes — the saturated one is the scale
    // hazard DESCRIBE exists to surface: past nDocs = 6·64k the cap
    // binds and stage-2 recall quietly degrades with corpus growth
    assert(scaledCut(40, 10) == 20, "tiny corpus → floor 2k")
    assert(scaledCut(1998, 10) == 333, "mid corpus → corpus/6")
    assert(scaledCut(10L * 1000 * 1000, 10) == 640, "large corpus → cap 64k")
    assert(scaledCut(Long.MaxValue / 4, Int.MaxValue / 2) > 0,
      "extreme k must clamp, not wrap negative")

    // a 40-doc index reports the floor regime
    val corpusA = s"${Files.createTempDirectory("graft-cutA")}/t"
    val idxA = tmp()
    ManifestTable.write((0L until 40L).map(i => (i, s"alpha w$i common"))
      .toDF("doc_id", "text"), corpusA, "doc_id", 2)
    Bm25Index.sync(spark, idxA, corpusA, "doc_id", "text", nBuckets = 2)
    val cutA = spark.sql(s"GRAFT DESCRIBE '$idxA'").collect()
      .head.getString(13)
    assert(cutA == "c@k10=20 (floor 2k)", s"got: $cutA")

    // a 200-doc index reports the corpus-scaled regime with the cut
    val corpusB = s"${Files.createTempDirectory("graft-cutB")}/t"
    val idxB = tmp()
    ManifestTable.write((0L until 200L).map(i => (i, s"alpha w$i common"))
      .toDF("doc_id", "text"), corpusB, "doc_id", 2)
    Bm25Index.sync(spark, idxB, corpusB, "doc_id", "text", nBuckets = 2)
    val cutB = spark.sql(s"GRAFT DESCRIBE '$idxB'").collect()
      .head.getString(13)
    assert(cutB == "c@k10=33 (corpus-scaled)", s"got: $cutB")

    // plain tables and non-bm25 indexes keep the column empty
    assert(spark.sql(s"GRAFT DESCRIBE '$corpusB'").collect()
      .head.getString(13) == "")
  }
}
