package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{Bm25Index, IvfIndex, PqIndex, Similarity}
import graft.sinks.ManifestTable

/** `graft_search_text` / `graft_search_vector` as TABLE-VALUED
  * FUNCTIONS: search output must be a RELATION — joinable, filterable,
  * aggregatable inside ONE Catalyst plan — not driver-materialized
  * rows (VERDICT r14 #2: the reference's whole query idiom is
  * predicates stacked on a source; retrieval output that can't be
  * composed forfeits the optimizer on the most common follow-up
  * query). Pinned: TVF ≡ verb ≡ Scala API, and the join-back to the
  * corpus adds exactly ONE planned corpus scan to the search's own
  * plan — no re-execution, no driver round-trip.
  */
class SearchTvfSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = s"${Files.createTempDirectory("graft-tvf")}/t"

  private lazy val textFixture: (String, String) = {
    val corpus = tmp(); val idx = tmp()
    val docs = (0L until 40L).map(i =>
      (i, s"alpha beta word$i tail${i % 5} " * (1 + (i % 3).toInt)))
    ManifestTable.write(docs.toDF("doc_id", "text"), corpus, "doc_id", 2)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4)
    (corpus, idx)
  }

  test("graft_search_text: TVF ≡ GRAFT SEARCH verb ≡ Scala API") {
    val (_, idx) = textFixture
    val tvf = spark.sql(
        s"SELECT * FROM graft_search_text('$idx', 'alpha beta tail1', 5)")
      .as[(Long, Long, Double)].collect().toSeq
    val verb = spark.sql(
        s"GRAFT SEARCH TEXT '$idx' TERMS ('alpha', 'beta', 'tail1') TOP 5")
      .as[(Long, Long, Double)].collect().toSeq
    val api = Bm25Index.search(spark, idx,
        Seq("alpha", "beta", "tail1").toDF("term"), k = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(tvf == verb && verb == api,
      s"three surfaces, one answer: tvf=$tvf verb=$verb api=$api")
  }

  test("search output joins the corpus in ONE plan — exactly one extra scan") {
    val (corpus, idx) = textFixture
    val searchSql =
      s"SELECT * FROM graft_search_text('$idx', 'alpha beta tail1', 5)"
    val alone = RunMeter.measure(spark) {
      spark.sql(searchSql).collect()
    }.parquetScans
    ManifestTable.read(spark, corpus).createOrReplaceTempView("tvf_corpus")
    val joined = RunMeter.measure(spark) {
      spark.sql(
        s"""SELECT s.doc_id, d.text, s.score
           |FROM graft_search_text('$idx', 'alpha beta tail1', 5) s
           |JOIN tvf_corpus d USING (doc_id)
           |WHERE s.score > 0""".stripMargin).collect()
    }.parquetScans
    assert(joined == alone + 1,
      s"the corpus join must add exactly ONE planned scan to the search " +
        s"plan (search=$alone, joined=$joined) — more means the search " +
        "re-executed or the corpus was read twice")
    // and the composition actually answers
    val rows = spark.sql(
      s"""SELECT s.doc_id, d.text FROM
         |graft_search_text('$idx', 'alpha beta tail1', 5) s
         |JOIN tvf_corpus d USING (doc_id)""".stripMargin).collect()
    assert(rows.length == 5 && rows.forall(_.getString(1).contains("alpha")))
  }

  test("graft_search_text_rescored: TVF ≡ two-stage API; factor arg honored") {
    val (corpus, idx) = textFixture
    val tvf = spark.sql(
        s"""SELECT * FROM
           |graft_search_text_rescored('$idx', 'alpha beta tail1', 5, 4)"""
          .stripMargin)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val api = Bm25Index.searchRescored(spark, idx,
        Seq("alpha", "beta", "tail1").toDF("term"),
        ManifestTable.read(spark, corpus), "doc_id", "text", k = 5, c = 20)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(tvf == api, s"rescored TVF must equal the API: $tvf vs $api")
  }

  test("graft_search_vector: TVF ≡ API, refined via the 5th argument") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 120L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(64)(d =>
        ((if (d % 3 == c) 4.0 else 0.0) + rnd.nextDouble() * 0.8).toFloat))
    }
    val corpus = tmp(); val idx = tmp(); val qtab = tmp()
    ManifestTable.write(vecs.toDF("vec_id", "embedding"), corpus, "vec_id", 2)
    PqIndex.sync(spark, idx, corpus, "vec_id", "embedding",
      kLists = 4, nBuckets = 4)
    ManifestTable.write(vecs.take(3).toDF("vec_id", "embedding"), qtab,
      "vec_id", 2)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect()
        .sortBy(t => (t._1, t._4)).toSeq
    val tvf = sorted(spark.sql(
      s"SELECT * FROM graft_search_vector('$idx', '$qtab', 3, 2)"))
    val api = sorted(PqIndex.search(spark, idx,
        ManifestTable.read(spark, qtab), "vec_id", "embedding",
        topK = 3, nProbe = 2)
      .select($"query_id", $"neighbor_id", $"dist".as("score"), $"rank"))
    assert(tvf == api)
    val tvfRef = sorted(spark.sql(
      s"SELECT * FROM graft_search_vector('$idx', '$qtab', 3, 2, 8)"))
    val apiRef = sorted(PqIndex.searchRefined(spark, idx,
        ManifestTable.read(spark, qtab), ManifestTable.read(spark, corpus),
        "vec_id", "embedding", topK = 3, nProbe = 2, refineFactor = 8)
      .select($"query_id", $"neighbor_id", $"dist".as("score"), $"rank"))
    assert(tvfRef == apiRef, "5-arg form runs the exact re-rank")
    assert(tvfRef != tvf, "fixture must make refine actually re-rank")
    // vector search composes too: top-k neighbors per query via SQL agg
    ManifestTable.read(spark, corpus).createOrReplaceTempView("tvf_vec_corpus")
    val agg = spark.sql(
      s"""SELECT s.query_id, count(*) AS n
         |FROM graft_search_vector('$idx', '$qtab', 3, 2) s
         |JOIN tvf_vec_corpus c ON c.vec_id = s.neighbor_id
         |GROUP BY s.query_id""".stripMargin).collect()
    assert(agg.length == 3 && agg.forall(_.getLong(1) == 3L))
  }

  test("TVF argument errors are loud and name the usage") {
    val (_, idx) = textFixture
    val tooFew = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_search_text('$idx')").collect()
    }
    assert(tooFew.getMessage.contains("graft_search_text"),
      s"arity error must name the usage: ${tooFew.getMessage}")
    val badTerms = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_search_text('$idx', '  ', 5)").collect()
    }
    assert(badTerms.getMessage.contains("terms"),
      s"empty terms must be refused: ${badTerms.getMessage}")
    val notIndex = intercept[Exception] {
      spark.sql("SELECT * FROM graft_search_text('/tmp/nope-missing', 'a', 5)")
        .collect()
    }
    assert(notIndex != null)
  }

  test("hybrid RRF: verb ≡ TVF ≡ API; fusion surfaces docs from both lists") {
    import graft.sources.SearchRelations
    // corpora sharing one id space: docs 0-39 with text, vectors 0-39
    val rnd = new scala.util.Random(11)
    val corpus = tmp(); val tIdx = tmp(); val vIdx = tmp(); val qtab = tmp()
    val docs = (0L until 40L).map(i =>
      (i, s"alpha beta word$i tail${i % 5} " * (1 + (i % 3).toInt)))
    ManifestTable.write(docs.toDF("doc_id", "text"), corpus, "doc_id", 2)
    Bm25Index.sync(spark, tIdx, corpus, "doc_id", "text", nBuckets = 4)
    val vecs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) + rnd.nextDouble() * 0.5).toFloat))
    }
    val vcorpus = tmp()
    ManifestTable.write(vecs.toDF("vec_id", "embedding"), vcorpus, "vec_id", 2)
    graft.ops.IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(vecs.take(2).toDF("vec_id", "embedding"), qtab,
      "vec_id", 2)

    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getDouble(4), r.getLong(5)))
      .sortBy(t => (t._1, t._6)).toSeq

    val api = sorted(SearchRelations.hybrid(spark, tIdx, vIdx,
      Seq("alpha", "tail1"), qtab, k = 5))
    val verb = sorted(spark.sql(
      s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$vIdx' " +
        s"TERMS ('alpha', 'tail1') FROM '$qtab' TOP 5 PROBE 2"))
    val tvf = sorted(spark.sql(
      s"SELECT * FROM graft_search_hybrid('$tIdx', '$vIdx', " +
        s"'alpha tail1', '$qtab', 5, 2)"))
    assert(api == verb && verb == tvf,
      s"three hybrid surfaces, one answer:\napi=$api\nverb=$verb\ntvf=$tvf")
    assert(api.nonEmpty && api.map(_._1).distinct.length == 2,
      "both query rows fused")
    // fusion semantics: some fused doc carries ranks from BOTH lists or
    // the output mixes text-only and vector-only docs
    assert(api.exists(_._3 >= 0) && api.exists(_._4 >= 0),
      s"fusion must surface contributions from both lists: $api")
    // rrf arithmetic spot check: rank_text=t, rank_vec=v => 1/(60+t)+1/(60+v)
    api.foreach { case (_, _, t, v, rrf, _) =>
      val expect = (if (t >= 0) 1.0 / (60 + t) else 0.0) +
        (if (v >= 0) 1.0 / (60 + v) else 0.0)
      assert(math.abs(rrf - expect) < 1e-6, s"rrf mismatch: $rrf vs $expect")
    }
    // REFINE fuses the exact-re-ranked vector list (pq indexes); an
    // ivf vector index refuses the flag through the same honest path
    val refuse = intercept[Exception] {
      spark.sql(s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$vIdx' " +
        s"TERMS ('alpha') FROM '$qtab' TOP 3 REFINE").collect()
    }
    assert(refuse.getMessage.contains("REFINE applies to PQ indexes"))
    val pqIdx = tmp()
    graft.ops.PqIndex.sync(spark, pqIdx, vcorpus, "vec_id", "embedding",
      kLists = 4, nBuckets = 4)
    val hybridRefined = sorted(spark.sql(
      s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$pqIdx' " +
        s"TERMS ('alpha', 'tail1') FROM '$qtab' TOP 5 PROBE 2 REFINE FACTOR 8"))
    val apiRefined = sorted(SearchRelations.hybrid(spark, tIdx, pqIdx,
      Seq("alpha", "tail1"), qtab, k = 5, nProbe = 2, refine = true,
      refineFactor = 8))
    assert(hybridRefined == apiRefined, "REFINE verb must equal the API")
    val hybridAdc = sorted(SearchRelations.hybrid(spark, tIdx, pqIdx,
      Seq("alpha", "tail1"), qtab, k = 5, nProbe = 2))
    assert(hybridRefined != hybridAdc,
      "exact re-rank must actually change the fused vector ranks")

    // and the TVF composes: joinable back to the corpus in one plan
    ManifestTable.read(spark, corpus).createOrReplaceTempView("hybrid_corpus")
    val joined = spark.sql(
      s"""SELECT h.query_id, h.doc_id, d.text
         |FROM graft_search_hybrid('$tIdx', '$vIdx', 'alpha tail1',
         |                         '$qtab', 5, 2) h
         |JOIN hybrid_corpus d USING (doc_id)""".stripMargin).collect()
    assert(joined.length == api.length)
  }

  test("hybrid PER-QUERY terms: verb ≡ TVF ≡ API; distinct sets rank differently; empty lists fuse one-sided") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(23)
    val corpus = tmp(); val tIdx = tmp(); val vIdx = tmp()
    val qtab = tmp(); val vcorpus = tmp()
    // even docs carry 'evenword', odd docs 'oddword' — two provably
    // DISTINCT per-query text targets under a shared 'alpha'
    val docs = (0L until 40L).map { i =>
      val par = if (i % 2 == 0) "evenword" else "oddword"
      (i, s"alpha $par word$i tail${i % 5} " * (1 + (i % 3).toInt))
    }
    ManifestTable.write(docs.toDF("doc_id", "text"), corpus, "doc_id", 2)
    Bm25Index.sync(spark, tIdx, corpus, "doc_id", "text", nBuckets = 4)
    val vecs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) + rnd.nextDouble() * 0.5).toFloat))
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding"), vcorpus, "vec_id", 2)
    graft.ops.IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    // query 0 hunts even docs, query 1 odd docs, query 2 has NO terms
    val q = Seq(
      (0L, vecs(0)._2, "evenword alpha"),
      (1L, vecs(1)._2, "oddword alpha"),
      (2L, vecs(2)._2, ""))
    ManifestTable.write(q.toDF("vec_id", "embedding", "qterms"), qtab,
      "vec_id", 2)

    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getDouble(4), r.getLong(5)))
      .sortBy(t => (t._1, t._6)).toSeq

    val api = sorted(SearchRelations.hybridPerQuery(spark, tIdx, vIdx,
      qtab, "qterms", k = 5, nProbe = 2))
    val verb = sorted(spark.sql(
      s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$vIdx' " +
        s"TERMS COLUMN qterms FROM '$qtab' TOP 5 PROBE 2"))
    val tvf = sorted(spark.sql(
      s"SELECT * FROM graft_search_hybrid_col('$tIdx', '$vIdx', " +
        s"'$qtab', 'qterms', 5, 2)"))
    assert(api == verb && verb == tvf,
      s"three per-query surfaces, one answer:\napi=$api\nverb=$verb\ntvf=$tvf")

    // distinct term sets must produce DIFFERENT fused rankings
    val byQ = api.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L), s"all three queries fuse: $byQ")
    assert(byQ(0L).map(_._2) != byQ(1L).map(_._2),
      "queries with distinct term sets must rank differently")
    // query 2 (no terms) fuses vector-only: every rank_text is NULL
    assert(byQ(2L).nonEmpty && byQ(2L).forall(_._3 == -1L),
      s"empty term set must fuse vector-only: ${byQ(2L)}")
    assert(byQ(0L).exists(_._3 >= 0) && byQ(1L).exists(_._3 >= 0),
      "termed queries carry text ranks")

    // batch BM25 ≡ per-query composition of the single-query search
    val per = Bm25Index.searchPerQuery(spark, tIdx,
      Seq((0L, "evenword"), (0L, "alpha"), (1L, "oddword"), (1L, "alpha"))
        .toDF("query_id", "term"), k = 10)
    Seq(0L -> Seq("evenword", "alpha"), 1L -> Seq("oddword", "alpha"))
      .foreach { case (qid, terms) =>
        val single = Bm25Index.search(spark, tIdx, terms.toDF("term"), k = 10)
          .select("doc_id", "matched_terms", "score")
          .as[(Long, Long, Double)].collect().toSeq
        val batch = per.filter($"query_id" === qid).orderBy("rank")
          .select("doc_id", "matched_terms", "score")
          .as[(Long, Long, Double)].collect().toSeq
        assert(batch == single,
          s"per-query BM25 for query $qid must equal the single-query " +
            s"search on its terms:\nbatch=$batch\nsingle=$single")
      }

    // ARRAY<STRING> terms column works the same as the split STRING form
    val qtabArr = tmp()
    ManifestTable.write(
      q.map { case (i, v, t) =>
        (i, v, t.split("\\s+").filter(_.nonEmpty).toSeq) }
        .toDF("vec_id", "embedding", "qterms"),
      qtabArr, "vec_id", 2)
    val apiArr = sorted(SearchRelations.hybridPerQuery(spark, tIdx, vIdx,
      qtabArr, "qterms", k = 5, nProbe = 2))
    assert(apiArr == api, "array-typed terms column must match")
  }

  test("corpus-column predicates push INTO the corpus scan through the TVF join") {
    // the other half of the composability promise (VERDICT r15 #5):
    // SearchTvfSpec already pins "one extra planned scan"; here the
    // outer WHERE on a corpus column must land in the corpus scan's
    // PushedFilters, not linger as a post-join Filter
    val (corpus, idx) = textFixture
    ManifestTable.read(spark, corpus).createOrReplaceTempView("pushdown_corpus")
    val df = spark.sql(
      s"""SELECT s.doc_id, d.text, s.score
         |FROM graft_search_text('$idx', 'alpha beta tail1', 5) s
         |JOIN pushdown_corpus d USING (doc_id)
         |WHERE d.text LIKE 'alpha%'""".stripMargin)
    // sparkPlan, not executedPlan: AQE wraps the tree and hides the
    // scans from collect() until execution materializes stages
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the corpus scan reads `text`; the postings scans don't
    val corpusScans = scans.filter(_.output.exists(_.name == "text"))
    assert(corpusScans.nonEmpty, s"no corpus scan found:\n${df.queryExecution}")
    assert(corpusScans.exists(_.metadata.getOrElse("PushedFilters", "")
        .contains("StringStartsWith(text,alpha")),
      "the corpus predicate must reach the parquet scan's pushed " +
        s"filters; got: ${corpusScans.map(_.metadata.getOrElse("PushedFilters", ""))}")
    // and the composition still answers correctly
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(1).startsWith("alpha")))
  }

  test("fuseRrf: a query with an empty vector list still fuses text-only ranks") {
    import graft.sources.SearchRelations
    val t = Seq((10L, 1L), (11L, 2L)).toDF("doc_id", "rank_text")
    val v = Seq((0L, 10L, 1L)).toDF("query_id", "doc_id", "rank_vec")
    val ids = Seq(0L, 7L).toDF("query_id")
    // with the universe from the QUERIES relation, query 7 (no vector
    // list at all) keeps its text-only ranking (ADVICE r15)
    val out = SearchRelations.fuseRrf(t, v, k = 5, queryIds = Some(ids))
    val q7 = out.filter($"query_id" === 7).orderBy("rank").collect()
    assert(q7.length == 2 && q7.forall(_.isNullAt(3)),
      s"query 7 must fuse text-only: ${q7.toSeq}")
    assert(q7.head.getLong(1) == 10L,
      "text rank order must decide the text-only fusion")
    // the vRank-derived universe (no queryIds) is what dropped it
    assert(SearchRelations.fuseRrf(t, v, k = 5)
      .filter($"query_id" === 7).count() == 0)
  }

  test("filtered TEXT + HYBRID: pre-filter before rank, corpus-global df (survivor scores unchanged), one allowed set filters both hybrid lists") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(57)
    val corpus = tmp(); val tIdx = tmp()
    val vcorpus = tmp(); val vIdx = tmp(); val qtab = tmp()
    // even docs en, odd docs de; all docs share 'alpha'
    val docs = (0L until 40L).map { i =>
      val par = if (i % 2 == 0) "evenword" else "oddword"
      (i, s"alpha $par word$i tail${i % 5}",
        if (i % 2 == 0) "en" else "de")
    }
    ManifestTable.write(docs.toDF("doc_id", "text", "lang"), corpus,
      "doc_id", 2)
    Bm25Index.sync(spark, tIdx, corpus, "doc_id", "text", nBuckets = 4)

    // verb ≡ TVF ≡ API on the filtered text search
    def trows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val api = trows(SearchRelations.text(spark, tIdx,
      Seq("alpha", "evenword"), k = 10, filterPred = Some("lang = 'de'")))
    val verb = trows(spark.sql(s"GRAFT SEARCH TEXT '$tIdx' " +
      "TERMS ('alpha', 'evenword') TOP 10 FILTER (lang = 'de')"))
    val tvf = trows(spark.sql("SELECT * FROM graft_search_text_filtered(" +
      s"'$tIdx', 'alpha evenword', 10, 'lang = ''de''')"))
    assert(api == verb && verb == tvf,
      s"three filtered-text surfaces, one answer:\n$api\n$verb\n$tvf")
    assert(api.nonEmpty && api.forall(_._1 % 2 == 1),
      s"only de (odd) docs may return: $api")

    // THE filtered-search semantic: df/dl/N stay corpus-global, so a
    // surviving doc scores EXACTLY what it scores unfiltered —
    // filter-then-index would recompute df over de docs only and every
    // idf would shift
    val unfiltered = trows(SearchRelations.text(spark, tIdx,
      Seq("alpha", "evenword"), k = 40)).map(t => t._1 -> t._3).toMap
    assert(api.forall { case (id, _, score) => unfiltered(id) == score },
      s"survivor scores must be bit-identical to unfiltered: $api " +
        s"vs ${api.map(t => unfiltered(t._1))}")

    // rescored + filtered: stage-1 candidates are all eligible
    val resc = spark.sql(s"GRAFT SEARCH TEXT '$tIdx' " +
      "TERMS ('alpha', 'oddword') TOP 5 RESCORE FILTER (lang = 'de')")
      .collect().map(_.getLong(0)).toSeq
    assert(resc.nonEmpty && resc.forall(_ % 2 == 1),
      s"filtered rescore returns only eligible docs: $resc")

    // hybrid TERMS COLUMN + FILTER: ONE allowed set (from the TEXT
    // index's source, where the attributes live) filters BOTH lists
    val vecs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat))
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding"), vcorpus,
      "vec_id", 2)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(
      vecs.take(2).map { case (i, v) => (i, v, "alpha oddword") }
        .toDF("vec_id", "embedding", "qterms"), qtab, "vec_id", 2)
    val hyb = spark.sql(s"GRAFT SEARCH HYBRID TEXT '$tIdx' " +
      s"VECTOR '$vIdx' TERMS COLUMN qterms FROM '$qtab' " +
      "TOP 5 PROBE 4 FILTER (lang = 'de')").collect()
    assert(hyb.nonEmpty && hyb.forall(_.getLong(1) % 2 == 1),
      s"both fused lists must be pre-filtered to de docs: " +
        s"${hyb.map(r => (r.getLong(0), r.getLong(1))).toSeq}")
    // the vector list contributed eligible docs (not text-only fusion)
    assert(hyb.exists(!_.isNullAt(3)),
      "the ANN list must survive the filter, not just the text list")
    val hybTvf = spark.sql("SELECT * FROM graft_search_hybrid_col(" +
      s"'$tIdx', '$vIdx', '$qtab', 'qterms', 5, 4, 'lang = ''de''')")
      .collect()
    assert(hyb.map(_.toString).sorted.toSeq ==
      hybTvf.map(_.toString).sorted.toSeq,
      "hybrid verb ≡ TVF under FILTER")
  }

  test("filtered ANN: the predicate pre-filters BEFORE ranking, fills k, pushes into the corpus scan, and agrees across surfaces") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(41)
    val vcorpus = tmp(); val vIdx = tmp(); val qtab = tmp()
    // geometry: 4 gaussian clusters (i % 4); labels alternate WITHIN
    // each cluster ((i / 4) % 2 — cluster members are 4 apart), so any
    // unfiltered top-5 mixes labels and a post-join WHERE would
    // under-fill — the case pre-filtering exists for
    val vecs = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat), ((i / 4) % 2).toInt)
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding", "label"),
      vcorpus, "vec_id", 2)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(
      vecs.take(3).map { case (i, v, _) => (i, v) }
        .toDF("vec_id", "embedding"), qtab, "vec_id", 2)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq

    val api = SearchRelations.vector(spark, vIdx, qtab, k = 5,
      nProbe = 4, refine = false, refineFactor = 4,
      filterPred = Some("label = 1"))
    val verb = spark.sql(s"GRAFT SEARCH VECTOR '$vIdx' FROM '$qtab' " +
      "TOP 5 PROBE 4 FILTER (label = 1)")
    val tvf = spark.sql("SELECT * FROM graft_search_vector_filtered(" +
      s"'$vIdx', '$qtab', 5, 4, 'label = 1')")
    assert(rows(api) == rows(verb) && rows(verb) == rows(tvf),
      s"three surfaces, one filtered answer:\napi=${rows(api)}\n" +
        s"verb=${rows(verb)}\ntvf=${rows(tvf)}")

    // every neighbor satisfies the predicate, every query fills k —
    // the probed lists hold plenty of allowed docs (probe-all here)
    val out = rows(api)
    assert(out.forall(_._2 / 4 % 2 == 1), s"only label=1 neighbors: $out")
    assert(out.groupBy(_._1).forall(_._2.size == 5),
      s"pre-filtering must FILL the top-5 from allowed docs: $out")
    // …while rank-then-filter (the post-join WHERE) under-fills: the
    // unfiltered top-5 mixes labels by construction
    val post = SearchRelations.vector(spark, vIdx, qtab, k = 5,
        nProbe = 4, refine = false, refineFactor = 4)
      .filter(floor(col("neighbor_id") / 4) % 2 === 1)
    assert(post.groupBy("query_id").count()
        .filter(col("count") < 5).count() > 0,
      "fixture must make post-filtering visibly under-fill")

    // exactness regime: probe-all filtered IVF ≡ brute-force cosine
    // top-5 over the label-filtered corpus (self-exclusion matches)
    val emb = ManifestTable.read(spark, vcorpus)
    val brute = Similarity.bruteForceTopK(
        emb.filter(col("label") === 1), emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 5, queryBound = 3L)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(out == brute,
      s"probe-all filtered IVF must equal filtered brute force:\n" +
        s"ivf=$out\nbrute=$brute")

    // the predicate lands in the SOURCE CORPUS scan's pushed filters —
    // filtered ANN pays a pruned scan, not a post-join Filter
    // (sparkPlan, not executedPlan: AQE hides scans until execution)
    val scans = api.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val labelScans = scans.filter(
      _.metadata.getOrElse("PushedFilters", "").contains("label"))
    assert(labelScans.nonEmpty,
      s"no allowed-side scan with a label filter:\n" +
        scans.map(_.metadata.getOrElse("PushedFilters", "")))
    assert(labelScans.exists(_.metadata.getOrElse("PushedFilters", "")
        .contains("EqualTo(label,1)")),
      "the filter predicate must reach the corpus scan: " +
        s"${labelScans.map(_.metadata.getOrElse("PushedFilters", ""))}")

    // the PQ path honors the same pre-filter (ADC stage + refine)
    val pqIdx = tmp()
    PqIndex.sync(spark, pqIdx, vcorpus, "vec_id", "embedding",
      kLists = 4, nBuckets = 4)
    val pq = spark.sql("SELECT * FROM graft_search_vector_filtered(" +
      s"'$pqIdx', '$qtab', 5, 4, 'label = 1', 8)").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pq.nonEmpty && pq.forall(_._2 / 4 % 2 == 1),
      s"refined PQ filtered search must only return allowed docs: $pq")
  }
  test("PROBE AUTO: filter selectivity widens the probe to the exact regime; surfaces agree; unfiltered AUTO = default") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(43)
    val vcorpus = tmp(); val vIdx = tmp(); val qtab = tmp()
    // 4 clean gaussian clusters (i % 4); allowed docs live ONLY in
    // clusters 2 and 3 (label 1), queries come from cluster 0 — so a
    // FIXED default probe (2 lists, chosen by vector geometry alone)
    // sees few/none of the allowed docs, while AUTO measures
    // selectivity 1/2 → ceil(2·80/40) = 4 = nLists = the exact regime
    val vecs = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat), if (i % 4 >= 2) 1 else 0)
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding", "label"),
      vcorpus, "vec_id", 2)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(
      vecs.filter(_._1 % 4 == 0).take(3).map { case (i, v, _) => (i, v) }
        .toDF("vec_id", "embedding"), qtab, "vec_id", 2)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq

    // AUTO under the selective filter ≡ filtered brute force: the
    // measured selectivity saturates the probe at nLists, the exact
    // regime (self-exclusion matches searchTopK's)
    val auto = SearchRelations.vector(spark, vIdx, qtab, k = 5,
      nProbe = SearchRelations.ProbeAuto, refine = false,
      refineFactor = 4, filterPred = Some("label = 1"))
    val emb = ManifestTable.read(spark, vcorpus)
    val brute = Similarity.bruteForceTopK(
        emb.filter(col("label") === 1), emb.filter(col("vec_id") % 4 === 0)
          .filter(col("vec_id") < 12),
        "vec_id", "embedding", k = 5, queryBound = 3L)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(rows(auto) == brute,
      s"AUTO must reach the exact regime here:\nauto=${rows(auto)}\nbrute=$brute")

    // …where the FIXED default probe provably degrades on this
    // fixture: the 2 geometrically-nearest lists miss allowed docs
    val fixed = SearchRelations.vector(spark, vIdx, qtab, k = 5,
      nProbe = SearchRelations.DefaultProbe, refine = false,
      refineFactor = 4, filterPred = Some("label = 1"))
    val fixedFills = rows(fixed).groupBy(_._1).forall(_._2.size == 5)
    assert(rows(fixed) != brute || !fixedFills,
      "fixture must make the fixed default probe visibly under-fill " +
        s"or mis-rank: fixed=${rows(fixed)}")

    // all three surfaces resolve AUTO identically
    val verb = spark.sql(s"GRAFT SEARCH VECTOR '$vIdx' FROM '$qtab' " +
      "TOP 5 PROBE AUTO FILTER (label = 1)")
    val tvf = spark.sql("SELECT * FROM graft_search_vector_filtered(" +
      s"'$vIdx', '$qtab', 5, 'auto', 'label = 1')")
    assert(rows(verb) == rows(auto) && rows(tvf) == rows(auto),
      s"verb/tvf/api disagree:\nverb=${rows(verb)}\ntvf=${rows(tvf)}")

    // unfiltered AUTO is exactly the default probe (no widening, and
    // the selectivity count job is skipped — no filter, no allowed set)
    val unf = SearchRelations.vector(spark, vIdx, qtab, k = 5,
      nProbe = SearchRelations.ProbeAuto, refine = false, refineFactor = 4)
    val dflt = SearchRelations.vector(spark, vIdx, qtab, k = 5,
      nProbe = SearchRelations.DefaultProbe, refine = false,
      refineFactor = 4)
    assert(rows(unf) == rows(dflt), "unfiltered AUTO must equal PROBE 2")

    // the PQ path shares the resolution (hybrid inherits via vector())
    val pqIdx = tmp()
    PqIndex.sync(spark, pqIdx, vcorpus, "vec_id", "embedding",
      kLists = 4, nBuckets = 4)
    val pq = spark.sql(s"GRAFT SEARCH VECTOR '$pqIdx' FROM '$qtab' " +
      "TOP 5 PROBE AUTO FILTER (label = 1)").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pq.nonEmpty && pq.forall(_._2 % 4 >= 2),
      s"PQ AUTO filtered search must fill from allowed docs only: $pq")

    // the sentinel never leaks: an explicit nonsense probe still fails
    val e = intercept[IllegalArgumentException](
      SearchRelations.vector(spark, vIdx, qtab, k = 5, nProbe = -7,
        refine = false, refineFactor = 4))
    assert(e.getMessage.contains("PROBE must be >= 1 or AUTO"))
  }
  test("PROBE AUTO's selectivity count is cached per (source, snapshot, predicate): repeat plan builds are one job cheaper; a commit re-pays it") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(47)
    val vcorpus = tmp(); val vIdx = tmp(); val qtab = tmp()
    val vecs = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat), if (i % 4 >= 2) 1 else 0)
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding", "label"),
      vcorpus, "vec_id", 2)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(vecs.take(2).map { case (i, v, _) => (i, v) }
      .toDF("vec_id", "embedding"), qtab, "vec_id", 2)
    def build(): Unit = SearchRelations.vector(spark, vIdx, qtab, k = 5,
      nProbe = SearchRelations.ProbeAuto, refine = false,
      refineFactor = 4, filterPred = Some("label = 1"))
    // before r17 EVERY plan build (every EXPLAIN) re-ran the
    // allowed.count() — a full predicate-column scan per plan build at
    // 100 TB (VERDICT r16 next #5). Now the first build pays it and
    // caches under (source path, head snapshot version, predicate)
    val first = RunMeter.measure(spark) { build() }.jobs
    assert(SearchRelations.cachedSelectivities(vcorpus) >= 1,
      "first filtered-AUTO build must populate the selectivity cache")
    val second = RunMeter.measure(spark) { build() }.jobs
    assert(second < first,
      s"repeat build at the same snapshot must skip the count job: " +
        s"first=$first jobs, second=$second")
    // steady state: a third build schedules exactly the second's jobs
    val third = RunMeter.measure(spark) { build() }.jobs
    assert(third == second,
      s"steady-state builds must be job-stable: second=$second third=$third")
    // a different predicate is a different key — pays its own count
    val otherPred = RunMeter.measure(spark) {
      SearchRelations.vector(spark, vIdx, qtab, k = 5,
        nProbe = SearchRelations.ProbeAuto, refine = false,
        refineFactor = 4, filterPred = Some("label = 0"))
    }.jobs
    assert(otherPred > second,
      s"a new predicate must pay its own count: other=$otherPred vs $second")
    assert(SearchRelations.cachedSelectivities(vcorpus) >= 2)
    // a corpus COMMIT moves the head version: the stale entry cannot
    // serve the new snapshot, so the next build re-pays the count
    ManifestTable.append(spark,
      vcorpus, Seq((100L, Array.fill(16)(0.1f), 1))
        .toDF("vec_id", "embedding", "label"), "vec_id")
    val afterCommit = RunMeter.measure(spark) { build() }.jobs
    assert(afterCommit > second,
      s"a new snapshot must re-measure selectivity: after=$afterCommit " +
        s"vs steady $second")
  }
  test("SNIPPET: verb ≡ TVF ≡ API; needs RESCORE; hits bracketed") {
    import graft.sources.SearchRelations
    val (_, idx) = textFixture
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "rescored", "snippet").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    val api = SearchRelations.textRescored(spark, idx,
      Seq("alpha", "tail1"), k = 5, factor = Some(4), snippetPad = 2)
    val verb = spark.sql(s"GRAFT SEARCH TEXT '$idx' " +
      "TERMS ('alpha', 'tail1') TOP 5 RESCORE FACTOR 4 SNIPPET PAD 2")
    val tvf = spark.sql("SELECT * FROM graft_search_text_snippets(" +
      s"'$idx', 'alpha tail1', 5, 2, 4)")
    assert(rows(api) == rows(verb) && rows(verb) == rows(tvf),
      s"three surfaces, one snippet:\napi=${rows(api)}\n" +
        s"verb=${rows(verb)}\ntvf=${rows(tvf)}")
    assert(rows(api).nonEmpty && rows(api).forall { case (_, _, sn) =>
      sn.contains("[alpha]") && sn.contains("[tail1]") },
      s"snippets bracket both query terms: ${rows(api)}")

    // SNIPPET is the re-rank's cover window — without RESCORE it must
    // refuse loudly, not silently ignore the clause
    val e = intercept[Exception](spark.sql(
      s"GRAFT SEARCH TEXT '$idx' TERMS ('alpha') TOP 5 SNIPPET"))
    assert(e.getMessage.contains("SNIPPET requires RESCORE"),
      s"got: ${e.getMessage}")

    // default pad (no PAD clause / TVF pad arg) is 3 on both surfaces
    val verbD = spark.sql(s"GRAFT SEARCH TEXT '$idx' " +
      "TERMS ('alpha', 'tail1') TOP 5 RESCORE SNIPPET")
    val apiD = SearchRelations.textRescored(spark, idx,
      Seq("alpha", "tail1"), k = 5, factor = None, snippetPad = 3)
    assert(rows(verbD) == rows(apiD), "default PAD must be 3")
  }
  test("batch SEARCH TEXT (TERMS COLUMN): verb ≡ TVF ≡ API; each query ≡ its single-query call; snippets per (query, doc)") {
    import graft.sources.SearchRelations
    val (_, idx) = textFixture
    val qtab = tmp()
    // STRING terms column (split form); table keyed by qid
    ManifestTable.write(Seq(
      (0L, "alpha tail1"),
      (1L, "beta tail2 word7")).toDF("qid", "qterms"), qtab, "qid", 2)

    def plain(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "matched_terms", "score", "rank")
      .collect().map(_.toString).sorted.toSeq
    val api = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 5)
    val verb = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms " +
      s"FROM '$qtab' TOP 5")
    val tvf = spark.sql(
      s"SELECT * FROM graft_search_text_col('$idx', '$qtab', 'qterms', 5)")
    assert(plain(api) == plain(verb) && plain(verb) == plain(tvf),
      s"three surfaces, one batch answer:\napi=${plain(api)}\n" +
        s"verb=${plain(verb)}\ntvf=${plain(tvf)}")

    // the batch slice for each query must equal the SINGLE-query call
    // with that query's terms — one union probe, per-query semantics
    def slice(qid: Long) = api.filter(col("query_id") === qid)
      .select("doc_id", "matched_terms", "score")
      .collect().map(_.toString).sorted.toSeq
    def single(terms: Seq[String]) = Bm25Index.search(spark, idx,
        terms.toDF("term"), k = 5)
      .select(col("doc_id").cast("long"), col("matched_terms"), col("score"))
      .collect().map(_.toString).sorted.toSeq
    assert(slice(0L) == single(Seq("alpha", "tail1")),
      "query 0's batch slice must equal its single-query search")
    assert(slice(1L) == single(Seq("beta", "tail2", "word7")),
      "query 1's batch slice must equal its single-query search")

    // RESCORE + SNIPPET: the same three-surface agreement, and each
    // query's re-ranked slice equals its single-query textRescored
    def resc(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "matched_terms", "span", "rescored",
        "rank", "snippet")
      .collect().map(_.toString).sorted.toSeq
    val apiR = SearchRelations.textRescoredPerQuery(spark, idx, qtab,
      "qterms", k = 5, factor = Some(4), snippetPad = 2)
    val verbR = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms " +
      s"FROM '$qtab' TOP 5 RESCORE FACTOR 4 SNIPPET PAD 2")
    val tvfR = spark.sql("SELECT * FROM graft_search_text_col_rescored(" +
      s"'$idx', '$qtab', 'qterms', 5, 4, 2)")
    assert(resc(apiR) == resc(verbR) && resc(verbR) == resc(tvfR),
      s"rescored batch surfaces disagree:\napi=${resc(apiR)}\n" +
        s"verb=${resc(verbR)}\ntvf=${resc(tvfR)}")
    def sliceR(qid: Long) = apiR.filter(col("query_id") === qid)
      .select("doc_id", "matched_terms", "span", "rescored", "snippet")
      .collect().map(_.toString).sorted.toSeq
    def singleR(terms: Seq[String]) = SearchRelations.textRescored(spark,
        idx, terms, k = 5, factor = Some(4), snippetPad = 2)
      .select("doc_id", "matched_terms", "span", "rescored", "snippet")
      .collect().map(_.toString).sorted.toSeq
    assert(sliceR(0L) == singleR(Seq("alpha", "tail1")) &&
      sliceR(1L) == singleR(Seq("beta", "tail2", "word7")),
      "per-query rescored slices must equal the single-query re-rank " +
        s"(same sweep, same snippet):\n0=${sliceR(0L)}\nvs ${singleR(Seq("alpha", "tail1"))}")
    assert(resc(apiR).nonEmpty && apiR.select("snippet")
      .collect().forall(_.getString(0).contains("[")),
      "batch snippets bracket hits")
  }
  test("per-query MATCH filter: verb ≡ API; same terms + different filters rank disjoint docs; batch ≡ N single filtered calls; hybrid shares it") {
    import graft.sources.SearchRelations
    val corpus = tmp(); val idx = tmp(); val qtab = tmp()
    // even docs are 'de', odd 'en'; both queries ask the SAME terms —
    // only the per-query filter separates their top-k, so the two
    // slices must be DISJOINT (the VERDICT r16 #4 done-criterion:
    // different filters whose top-k provably differ)
    val docs = (0L until 40L).map(i =>
      (i, s"alpha beta word${i % 8} tail${i % 3}",
        if (i % 2 == 0) "de" else "en"))
    ManifestTable.write(docs.toDF("doc_id", "text", "lang"), corpus,
      "doc_id", 2)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4)
    ManifestTable.write(Seq(
      (0L, "alpha beta", "de"), (1L, "alpha beta", "en"))
      .toDF("qid", "qterms", "qlang"), qtab, "qid", 2)

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "matched_terms", "score")
      .collect().map(_.toString).sorted.toSeq
    val verb = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms " +
      s"FROM '$qtab' TOP 5 MATCH (qlang = lang)")
    val api = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 5, matchCols = Seq(graft.ops.MatchPair("qlang", "lang")))
    val tvf = spark.sql("SELECT * FROM graft_search_text_col(" +
      s"'$idx', '$qtab', 'qterms', 5, '', 'qlang = lang')")
    assert(rows(verb) == rows(api) && rows(tvf) == rows(api),
      s"MATCH verb ≡ API ≡ TVF:\nverb=${rows(verb)}\napi=${rows(api)}" +
        s"\ntvf=${rows(tvf)}")
    val byQ = api.select("query_id", "doc_id").as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, ds) => q -> ds.map(_._2).toSet }
    assert(byQ(0L).nonEmpty && byQ(1L).nonEmpty &&
      byQ(0L).forall(_ % 2 == 0) && byQ(1L).forall(_ % 2 == 1),
      s"each query must rank ONLY its own tenant's docs: $byQ")
    assert((byQ(0L) & byQ(1L)).isEmpty,
      "same terms, different filters: the top-k sets must be disjoint")

    // batch ≡ N single filtered calls (the shared-FILTER form, one
    // query at a time) — scores included, since df stays corpus-global
    Seq(0L -> "de", 1L -> "en").foreach { case (q, lang) =>
      val single = SearchRelations.text(spark, idx, Seq("alpha", "beta"),
          k = 5, filterPred = Some(s"lang = '$lang'"))
        .select("doc_id", "matched_terms", "score")
        .collect().map(_.toString).sorted.toSeq
      val slice = api.filter(col("query_id") === q)
        .select("doc_id", "matched_terms", "score")
        .collect().map(_.toString).sorted.toSeq
      assert(slice == single,
        s"query $q: batch MATCH slice must equal the single filtered " +
          s"call:\nslice=$slice\nsingle=$single")
    }

    // RESCORE composes: per-query re-rank over per-query-filtered cands
    val verbR = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN " +
      s"qterms FROM '$qtab' TOP 5 MATCH (qlang = lang) RESCORE FACTOR 4")
    Seq(0L -> "de", 1L -> "en").foreach { case (q, lang) =>
      val singleR = SearchRelations.textRescored(spark, idx,
          Seq("alpha", "beta"), k = 5, factor = Some(4),
          filterPred = Some(s"lang = '$lang'"))
        .select("doc_id", "matched_terms", "span", "rescored")
        .collect().map(_.toString).sorted.toSeq
      val sliceR = verbR.filter(col("query_id") === q)
        .select("doc_id", "matched_terms", "span", "rescored")
        .collect().map(_.toString).sorted.toSeq
      assert(sliceR == singleR,
        s"query $q: rescored MATCH slice != single filtered rescore")
    }

    // hybrid: ONE pairs frame filters BOTH fused lists
    val vIdx = tmp(); val vcorpus = tmp(); val qtabV = tmp()
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) + rnd.nextDouble() * 0.5).toFloat))
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding"), vcorpus,
      "vec_id", 2)
    graft.ops.IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(Seq(
      (0L, vecs(0)._2, "alpha beta", "de"),
      (1L, vecs(1)._2, "alpha beta", "en"))
      .toDF("vec_id", "embedding", "qterms", "qlang"), qtabV, "vec_id", 2)
    val hVerb = spark.sql(s"GRAFT SEARCH HYBRID TEXT '$idx' " +
      s"VECTOR '$vIdx' TERMS COLUMN qterms FROM '$qtabV' TOP 5 " +
      "PROBE 4 MATCH (qlang = lang)")
    val hApi = SearchRelations.hybridPerQuery(spark, idx, vIdx, qtabV,
      "qterms", k = 5, nProbe = 4, matchCols = Seq(graft.ops.MatchPair("qlang", "lang")))
    val hTvf = spark.sql("SELECT * FROM graft_search_hybrid_col(" +
      s"'$idx', '$vIdx', '$qtabV', 'qterms', 5, 4, '', 'qlang = lang')")
    def hrows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(_.toString).sorted.toSeq
    assert(hrows(hVerb) == hrows(hApi) && hrows(hTvf) == hrows(hApi),
      "hybrid MATCH verb ≡ API ≡ TVF")
    val hByQ = hApi.select("query_id", "doc_id").as[(Long, Long)]
      .collect().groupBy(_._1)
      .map { case (q, ds) => q -> ds.map(_._2).toSet }
    assert(hByQ(0L).nonEmpty && hByQ(0L).forall(_ % 2 == 0) &&
      hByQ(1L).nonEmpty && hByQ(1L).forall(_ % 2 == 1),
      s"hybrid MATCH must filter BOTH lists per query: $hByQ")
  }

  test("batch RESCORE enforces MaxSweepArity at the surface naming the query; plain batch takes the same width; TOP defaults agree") {
    import graft.sources.SearchRelations
    val (corpus, idx) = textFixture
    val qtab = tmp()
    // 65 distinct terms: past the sweep's 64-slot codegen ceiling,
    // well under the 1024-term query cap — before r17 this passed the
    // explode guard and died in an anonymous whole-batch require
    // (ADVICE r16)
    val wide = (0 to Bm25Index.MaxSweepArity).map(i => s"t$i").mkString(" ")
    ManifestTable.write(Seq((0L, "alpha tail1"), (7L, wide))
      .toDF("qid", "qterms"), qtab, "qid", 2)
    // the plain (non-rescored) batch form accepts the same width
    assert(spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms " +
      s"FROM '$qtab' TOP 5").collect().nonEmpty,
      "non-rescored batch must accept widths up to MaxQueryArity")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    // the RESCORE form refuses IN-PLAN, naming cap and query
    val e = intercept[Exception](spark.sql(
      s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms FROM '$qtab' " +
        "TOP 5 RESCORE").collect())
    assert(messages(e).exists(m =>
      m.contains("MaxSweepArity") && m.contains("'7'")),
      s"rescore surface must name the sweep cap AND the query, got: $e")
    // the hybrid RESCORE batch surface shares the tightened cap
    val vIdx = tmp(); val vcorpus = tmp(); val qtabV = tmp()
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(16)(d => (d + i % 4).toFloat)))
    ManifestTable.write(vecs.toDF("vec_id", "embedding"), vcorpus,
      "vec_id", 2)
    graft.ops.IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(Seq((0L, vecs(0)._2, "alpha"), (7L, vecs(7)._2,
      wide)).toDF("vec_id", "embedding", "qterms"), qtabV, "vec_id", 2)
    val eh = intercept[Exception](SearchRelations.hybridPerQuery(spark,
      idx, vIdx, qtabV, "qterms", k = 5, nProbe = 2,
      rescoreText = true).collect())
    assert(messages(eh).exists(m =>
      m.contains("MaxSweepArity") && m.contains("'7'")),
      s"hybrid rescore surface must share the sweep cap, got: $eh")
    // the direct API's measure path names the offending query too
    val qtWide = (0 to Bm25Index.MaxSweepArity).map(i => (7L, s"t$i"))
      .toDF("query_id", "term")
    val ea = intercept[Exception](Bm25Index.searchRescoredPerQuery(spark,
      idx, qtWide, ManifestTable.read(spark, corpus), "doc_id", "text",
      k = 5))
    assert(messages(ea).exists(m =>
      m.contains("MaxSweepArity") && m.contains("'7'")),
      s"API measure path must name the offending query, got: $ea")

    // the two forms of SEARCH TEXT share one implicit TOP (ADVICE r16:
    // TERMS (...) defaulted 20 while TERMS COLUMN defaulted 10)
    val defCol = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN " +
      s"qterms FROM '$qtab'")
    val top20Col = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN " +
      s"qterms FROM '$qtab' TOP 20")
    assert(defCol.collect().map(_.toString).sorted.toSeq ==
      top20Col.collect().map(_.toString).sorted.toSeq,
      "TERMS COLUMN default TOP must be 20, matching TERMS (...)")
  }

  test("hybrid RESCORE: the proximity-re-ranked text list enters fusion; surfaces agree; batch form matches") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(17)
    val corpus = tmp(); val tIdx = tmp(); val vIdx = tmp(); val qtab = tmp()
    // proximity must FLIP the text ranking: docs 0 and 1 have
    // IDENTICAL tf and dl (bit-equal BM25 scores — the tie breaks on
    // doc_id, so BM25-alone ranks doc 0 first), but doc 1 holds the
    // terms ADJACENT while doc 0 scatters them — the matched/span
    // boost (1.0 vs 2/32) flips the rescored order
    val far = (1 to 30).map(i => s"pad$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha $far beta $far alpha $far beta"),
      (1L, s"alpha beta alpha beta $far $far $far"),
      (2L, s"gamma $far"),
      (3L, s"alpha $far")) ++ (4L until 20L).map(i => (i, s"filler$i $far"))
    ManifestTable.write(docs.toDF("doc_id", "text"), corpus, "doc_id", 2)
    Bm25Index.sync(spark, tIdx, corpus, "doc_id", "text", nBuckets = 4)
    val vecs = (0L until 20L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) + rnd.nextDouble() * 0.5).toFloat))
    }
    val vcorpus = tmp()
    ManifestTable.write(vecs.toDF("vec_id", "embedding"), vcorpus, "vec_id", 2)
    graft.ops.IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(vecs.take(1).toDF("vec_id", "embedding"), qtab,
      "vec_id", 2)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getDouble(4), r.getLong(5)))
      .sortBy(t => (t._1, t._6)).toSeq

    val terms = Seq("alpha", "beta")
    val plainH = rows(SearchRelations.hybrid(spark, tIdx, vIdx,
      terms, qtab, k = 5))
    val rescH = rows(SearchRelations.hybrid(spark, tIdx, vIdx,
      terms, qtab, k = 5, rescoreText = true))
    // the two text orders provably differ (doc 1 overtakes doc 0), so
    // the fused rank_text columns must differ
    def textRankOf(rs: Seq[(Long, Long, Long, Long, Double, Long)], d: Long) =
      rs.find(_._2 == d).map(_._3).getOrElse(-1L)
    assert(textRankOf(rescH, 1L) < textRankOf(rescH, 0L) ||
      textRankOf(plainH, 0L) != textRankOf(rescH, 0L),
      s"rescore must change the fused text ranks:\nplain=$plainH\nresc=$rescH")
    // BM25-alone ties the two docs (same tf, same dl) and the id
    // tie-break puts the scattered doc 0 first — the re-rank flips it:
    // adjacency wins at equal term statistics
    assert(textRankOf(plainH, 0L) < textRankOf(plainH, 1L),
      s"fixture must make BM25 rank the scattered doc first: $plainH")
    assert(textRankOf(rescH, 1L) < textRankOf(rescH, 0L),
      s"the rescored list must favor the adjacent doc: $rescH")

    val verb = rows(spark.sql(
      s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$vIdx' " +
        s"TERMS ('alpha', 'beta') FROM '$qtab' TOP 5 PROBE 2 " +
        "RESCORE FACTOR 4"))
    val tvf = rows(spark.sql(
      s"SELECT * FROM graft_search_hybrid_rescored('$tIdx', '$vIdx', " +
        s"'alpha beta', '$qtab', 5, 2, 4)"))
    val apiF = rows(SearchRelations.hybrid(spark, tIdx, vIdx, terms,
      qtab, k = 5, rescoreText = true, rescoreFactor = Some(4)))
    assert(verb == apiF && tvf == apiF,
      s"rescored hybrid surfaces disagree:\nverb=$verb\ntvf=$tvf\napi=$apiF")

    // batch (TERMS COLUMN) rescored hybrid ≡ the single-query form for
    // a 1-query table carrying the same terms
    val qtab2 = tmp()
    ManifestTable.write(Seq((0L, "alpha beta", vecs.head._2))
      .toDF("vec_id", "qterms", "embedding"), qtab2, "vec_id", 2)
    val colVerb = rows(spark.sql(
      s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$vIdx' " +
        s"TERMS COLUMN qterms FROM '$qtab2' TOP 5 PROBE 2 " +
        "RESCORE FACTOR 4"))
    val colTvf = rows(spark.sql(
      "SELECT * FROM graft_search_hybrid_col_rescored(" +
        s"'$tIdx', '$vIdx', '$qtab2', 'qterms', 5, 2, 4)"))
    assert(colVerb == apiF && colTvf == apiF,
      s"batch rescored hybrid must equal the single-query form:\n" +
        s"colVerb=$colVerb\ncolTvf=$colTvf\napi=$apiF")

    // SNIPPET through hybrid RESCORE (VERDICT r16 next #6): the fused
    // rows carry the text re-rank's excerpt; every text-list doc's
    // snippet equals the TEXT surface's for the same doc (the cover
    // window is a (terms, doc) property, independent of ranking), and
    // vector-only docs fuse with a NULL snippet like their NULL
    // rank_text. All five surfaces agree.
    def snips(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "rank_text", "snippet")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val apiS = SearchRelations.hybrid(spark, tIdx, vIdx, terms, qtab,
      k = 5, rescoreText = true, rescoreFactor = Some(4), snippetPad = 2)
    val verbS = spark.sql(
      s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$vIdx' " +
        s"TERMS ('alpha', 'beta') FROM '$qtab' TOP 5 PROBE 2 " +
        "RESCORE FACTOR 4 SNIPPET PAD 2")
    val tvfS = spark.sql(
      s"SELECT * FROM graft_search_hybrid_rescored('$tIdx', '$vIdx', " +
        s"'alpha beta', '$qtab', 5, 2, 4, '', 2)")
    val colVerbS = spark.sql(
      s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$vIdx' " +
        s"TERMS COLUMN qterms FROM '$qtab2' TOP 5 PROBE 2 " +
        "RESCORE FACTOR 4 SNIPPET PAD 2")
    val colTvfS = spark.sql(
      "SELECT * FROM graft_search_hybrid_col_rescored(" +
        s"'$tIdx', '$vIdx', '$qtab2', 'qterms', 5, 2, 4, '', 2)")
    assert(snips(verbS) == snips(apiS) && snips(tvfS) == snips(apiS) &&
      snips(colVerbS) == snips(apiS) && snips(colTvfS) == snips(apiS),
      s"hybrid SNIPPET surfaces disagree:\napi=${snips(apiS)}\n" +
        s"verb=${snips(verbS)}\ntvf=${snips(tvfS)}\n" +
        s"colVerb=${snips(colVerbS)}\ncolTvf=${snips(colTvfS)}")
    // ≡ the text surface's snippet per doc; NULL exactly off-list
    val textSnips = SearchRelations.textRescored(spark, tIdx, terms,
        k = 20, factor = Some(4), snippetPad = 2)
      .select("doc_id", "snippet").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fusedRows = snips(apiS)
    assert(fusedRows.exists(_._3 > 0) && fusedRows.exists(_._3 < 0),
      s"fixture must fuse both text-list and vector-only docs: $fusedRows")
    fusedRows.foreach { case (_, d, rt, sn) =>
      if (rt > 0)
        assert(sn == textSnips(d),
          s"doc $d: hybrid snippet must equal the text surface's " +
            s"('$sn' vs '${textSnips(d)}')")
      else assert(sn == null,
        s"vector-only doc $d must carry a NULL snippet, got '$sn'")
    }
    assert(fusedRows.filter(_._3 > 0).forall(_._4.contains("[")),
      "text-list snippets bracket hits through the fusion")
    // SNIPPET without RESCORE refuses on both hybrid verbs
    val eh = intercept[Exception](spark.sql(
      s"GRAFT SEARCH HYBRID TEXT '$tIdx' VECTOR '$vIdx' " +
        s"TERMS ('alpha') FROM '$qtab' TOP 5 SNIPPET"))
    assert(eh.getMessage.contains("SNIPPET requires RESCORE"))
  }
  test("SNIPPET composes with FACTOR and FILTER on every surface; filtered snippets mark only query terms") {
    import graft.sources.SearchRelations
    val corpus = tmp(); val tIdx = tmp()
    val docs = (0L until 40L).map { i =>
      val par = if (i % 2 == 0) "evenword" else "oddword"
      (i, s"alpha $par word$i tail${i % 5}",
        if (i % 2 == 0) "en" else "de")
    }
    ManifestTable.write(docs.toDF("doc_id", "text", "lang"), corpus,
      "doc_id", 2)
    Bm25Index.sync(spark, tIdx, corpus, "doc_id", "text", nBuckets = 4)

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "rescored", "snippet").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    // all three clauses together, all three surfaces
    val api = rows(SearchRelations.textRescored(spark, tIdx,
      Seq("alpha", "oddword"), k = 5, factor = Some(2),
      filterPred = Some("lang = 'de'"), snippetPad = 1))
    val verb = rows(spark.sql(s"GRAFT SEARCH TEXT '$tIdx' " +
      "TERMS ('alpha', 'oddword') TOP 5 RESCORE FACTOR 2 " +
      "SNIPPET PAD 1 FILTER (lang = 'de')"))
    val sqlPred = "'lang = " + "''de''" + "'"
    val tvf = rows(spark.sql("SELECT * FROM graft_search_text_snippets(" +
      s"'$tIdx', 'alpha oddword', 5, 1, 2, $sqlPred)"))
    assert(api == verb && verb == tvf,
      s"SNIPPET x FACTOR x FILTER must agree:\napi=$api\nverb=$verb\ntvf=$tvf")
    // only de (odd) docs, full k, and the snippet is the 2-term cover
    // (alpha ... oddword are 1 apart) plus 1 pad each side
    assert(api.size == 5 && api.forall(_._1 % 2 == 1),
      s"filtered snippets must fill k from allowed docs only: $api")
    api.foreach { case (d, _, sn) =>
      assert(sn == s"[alpha] [oddword] word$d",
        s"doc $d: cover window [0,1] + right pad 1, left pad clamped: $sn")
    }

    // batch form: the same three clauses through TERMS COLUMN
    val qtab = tmp()
    ManifestTable.write(Seq((0L, "alpha oddword"))
      .toDF("qid", "qterms"), qtab, "qid", 2)
    val batch = spark.sql(s"GRAFT SEARCH TEXT '$tIdx' TERMS COLUMN " +
      s"qterms FROM '$qtab' TOP 5 RESCORE FACTOR 2 SNIPPET PAD 1 " +
      "FILTER (lang = 'de')")
      .select("doc_id", "rescored", "snippet").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(batch == api,
      s"batch TERMS COLUMN with all clauses must equal the single " +
        s"form:\nbatch=$batch\napi=$api")
  }

  test("compound MATCH (2 conjuncts): verb ≡ API ≡ TVF; intersection differs from either conjunct alone; batch ≡ N single compound-filtered calls") {
    import graft.sources.SearchRelations
    val corpus = tmp(); val idx = tmp(); val qtab = tmp()
    // lang halves the docs, cat quarters them: the compound match
    // selects the INTERSECTION — provably different from either
    // conjunct alone (VERDICT r17 next #4's done-criterion)
    val docs = (0L until 48L).map(i =>
      (i, s"alpha beta word${i % 8}",
        if (i % 2 == 0) "de" else "en",
        if (i % 4 < 2) "a" else "b"))
    ManifestTable.write(docs.toDF("doc_id", "text", "lang", "cat"),
      corpus, "doc_id", 2)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4)
    ManifestTable.write(Seq(
      (0L, "alpha beta", "de", "a"), (1L, "alpha beta", "en", "b"))
      .toDF("qid", "qterms", "qlang", "qcat"), qtab, "qid", 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "matched_terms", "score")
      .collect().map(_.toString).sorted.toSeq
    val api = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 8, matchCols = Seq(graft.ops.MatchPair("qlang", "lang"), graft.ops.MatchPair("qcat", "cat")))
    val verb = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN " +
      s"qterms FROM '$qtab' TOP 8 MATCH (qlang = lang, qcat = cat)")
    val tvf = spark.sql("SELECT * FROM graft_search_text_col(" +
      s"'$idx', '$qtab', 'qterms', 8, '', 'qlang = lang, qcat = cat')")
    assert(rows(verb) == rows(api) && rows(tvf) == rows(api),
      s"compound MATCH verb ≡ API ≡ TVF:\nverb=${rows(verb)}" +
        s"\napi=${rows(api)}\ntvf=${rows(tvf)}")
    // doc membership: q0 = (de, a) → i % 4 == 0; q1 = (en, b) → i % 4 == 3
    val byQ = api.select("query_id", "doc_id").as[(Long, Long)]
      .collect().groupBy(_._1)
      .map { case (q, ds) => q -> ds.map(_._2).toSet }
    assert(byQ(0L).nonEmpty && byQ(0L).forall(_ % 4 == 0) &&
      byQ(1L).nonEmpty && byQ(1L).forall(_ % 4 == 3),
      s"each query must rank ONLY the docs matching BOTH conjuncts: $byQ")
    // strictly narrower than either conjunct alone
    val langOnly = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 8, matchCols = Seq(graft.ops.MatchPair("qlang", "lang")))
    val catOnly = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 8, matchCols = Seq(graft.ops.MatchPair("qcat", "cat")))
    assert(rows(langOnly) != rows(api) && rows(catOnly) != rows(api),
      "the 2-conjunct top-k must differ from either single conjunct's")
    // batch ≡ N single compound-filtered calls (scores included — df
    // stays corpus-global under the per-query filter)
    Seq(0L -> ("de", "a"), 1L -> ("en", "b")).foreach { case (q, (l, c)) =>
      val single = SearchRelations.text(spark, idx, Seq("alpha", "beta"),
          k = 8, filterPred = Some(s"lang = '$l' AND cat = '$c'"))
        .select("doc_id", "matched_terms", "score")
        .collect().map(_.toString).sorted.toSeq
      val slice = api.filter(col("query_id") === q)
        .select("doc_id", "matched_terms", "score")
        .collect().map(_.toString).sorted.toSeq
      assert(slice == single,
        s"query $q: compound MATCH slice must equal the single " +
          s"compound-filtered call:\nslice=$slice\nsingle=$single")
    }
    // malformed specs fail at parse time, naming the grammar
    val bad = intercept[Exception] {
      spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms " +
        s"FROM '$qtab' TOP 8 MATCH (qlang = lang, qcat)").collect()
    }
    assert(bad.getMessage.contains("MATCH needs"),
      s"malformed MATCH must fail loudly at parse: ${bad.getMessage}")
  }

  test("MATCH is candidate-bound: shuffle records stay O(corpus + candidates), never queries × corpus, on a 1-value match key (VERDICT r17 #3)") {
    import graft.sources.SearchRelations
    val corpus = tmp(); val idx = tmp(); val qtab = tmp()
    val D = 4000; val Q = 20
    // ONE match value across the board — the retired pairs shape mints
    // Q × D = 80k pair rows and shuffles them (≥ 2·Q·D records); the
    // candidate-bound shape moves the corpus-attribute projection
    // (≈ 2·D) plus the candidates (~Q · D/100)
    val docs = (0L until D.toLong).map(i =>
      (i, s"term${i % 100} filler common", "xx"))
    ManifestTable.write(docs.toDF("doc_id", "text", "lang"), corpus,
      "doc_id", 4)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4)
    ManifestTable.write((0L until Q.toLong).map(q =>
      (q, s"term$q", "xx")).toDF("qid", "qterms", "qlang"), qtab, "qid", 2)
    def run(withMatch: Boolean): Unit =
      SearchRelations.textPerQueryRelation(spark, idx, qtab, "qterms",
        k = 5,
        matchCols = if (withMatch) Seq(graft.ops.MatchPair("qlang", "lang")) else Nil)
      .collect()
    // joins must be VISIBLE to the meter: suspend runtime broadcasts
    // (explicit in-kernel hints are batch-size-gated and identical on
    // both legs, so they cancel out of the comparison)
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val base = RunMeter.measure(spark) { run(withMatch = false) }
      val matched = RunMeter.measure(spark) { run(withMatch = true) }
      val extra = matched.shuffleRecords - base.shuffleRecords
      assert(extra < 10L * D,
        s"MATCH must add O(corpus + candidates) shuffle records, got " +
          s"extra=$extra over base=${base.shuffleRecords} (pairs shape would " +
          s"add >= ${2L * Q * D})")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("PROBE AUTO reads MATCH selectivity: a selective per-query match widens probes to the exact regime; count cached, repeat builds job-free (VERDICT r17 #5)") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(53)
    val vcorpus = tmp(); val tIdx = tmp(); val vIdx = tmp(); val qtab = tmp()
    // 4 clean clusters; every batch query MATCHes lang 'bb', whose docs
    // live ONLY in clusters 2/3 — query vectors come from cluster 0, so
    // the FIXED default probe (2 lists by geometry) sees few/no eligible
    // docs while AUTO measures the match key's per-value count (40/80)
    // and widens to ceil(2·80/40) = 4 = nLists, the exact regime.
    // Before r17 #5 AUTO read the SHARED filter's selectivity only and
    // this batch under-filled silently.
    val vecs = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat),
        "filler text", if (i % 4 >= 2) "bb" else "aa")
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding", "text", "lang"),
      vcorpus, "vec_id", 2)
    Bm25Index.sync(spark, tIdx, vcorpus, "vec_id", "text", nBuckets = 4)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    // query terms hit NO postings, so the fused list is the vector list
    // alone — the assertion reads pure ANN behavior through the fusion
    ManifestTable.write(Seq(
      (0L, vecs(0)._2, "zzz", "bb"), (4L, vecs(4)._2, "zzz", "bb"))
      .toDF("vec_id", "embedding", "qterms", "qlang"), qtab, "vec_id", 2)

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "rank_vec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    def build(p: Int) = SearchRelations.hybridPerQuery(spark, tIdx, vIdx,
      qtab, "qterms", k = 5, nProbe = p,
      matchCols = Seq(graft.ops.MatchPair("qlang", "lang")))

    val auto = rows(build(SearchRelations.ProbeAuto))
    val emb = ManifestTable.read(spark, vcorpus)
    val brute = Similarity.bruteForceTopK(
        emb.filter(col("lang") === "bb"),
        emb.filter(col("vec_id") === 0 || col("vec_id") === 4),
        "vec_id", "embedding", k = 5, queryBound = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(auto == brute,
      s"MATCH-aware AUTO must reach the exact regime — the same floor " +
        s"the shared-filter AUTO case pins:\nauto=$auto\nbrute=$brute")
    assert(SearchRelations.cachedMatchSelectivities(vcorpus) >= 1,
      "the MATCH per-value count must land in its cache")

    // the fixture must make the fixed default probe visibly worse
    val fixed = rows(build(SearchRelations.DefaultProbe))
    val fixedFills = fixed.groupBy(_._1).forall(_._2.size == 5)
    assert(fixed != brute || !fixedFills,
      s"fixture must under-fill or mis-rank at the fixed default " +
        s"probe: $fixed")

    // repeat plan builds at the same snapshots skip the count job
    val first = RunMeter.measure(spark) { build(SearchRelations.ProbeAuto) }.jobs
    val second = RunMeter.measure(spark) { build(SearchRelations.ProbeAuto) }.jobs
    assert(second <= first,
      s"repeat MATCH-AUTO build must not add jobs: first=$first second=$second")
    val third = RunMeter.measure(spark) { build(SearchRelations.ProbeAuto) }.jobs
    assert(third == second,
      s"steady-state MATCH-AUTO builds must be job-stable: $second vs $third")
  }

  test("MATCH comparison operators: per-row range conjuncts (qmin <= len) compose with equality; verb ≡ API ≡ TVF; batch ≡ N single filtered calls") {
    import graft.sources.SearchRelations
    import graft.ops.MatchPair
    val corpus = tmp(); val idx = tmp(); val qtab = tmp()
    // 'len' rises with doc id; each query row carries its OWN minimum —
    // eligibility is a per-row RANGE predicate (the r17 What's-missing
    // #1 "per-row predicate" idiom), conjoined with a tenant equality
    val docs = (0L until 40L).map(i =>
      (i, s"alpha beta word${i % 8}",
        if (i % 2 == 0) "de" else "en", i * 10))
    ManifestTable.write(docs.toDF("doc_id", "text", "lang", "len"),
      corpus, "doc_id", 2)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4)
    ManifestTable.write(Seq(
      (0L, "alpha beta", "de", 100L), (1L, "alpha beta", "en", 250L))
      .toDF("qid", "qterms", "qlang", "qmin"), qtab, "qid", 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "matched_terms", "score")
      .collect().map(_.toString).sorted.toSeq
    val api = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 8, matchCols =
        Seq(MatchPair("qlang", "lang"), MatchPair("qmin", "len", "<=")))
    val verb = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN " +
      s"qterms FROM '$qtab' TOP 8 MATCH (qlang = lang, qmin <= len)")
    val tvf = spark.sql("SELECT * FROM graft_search_text_col(" +
      s"'$idx', '$qtab', 'qterms', 8, '', 'qlang = lang, qmin <= len')")
    assert(rows(verb) == rows(api) && rows(tvf) == rows(api),
      s"range MATCH verb ≡ API ≡ TVF:\nverb=${rows(verb)}" +
        s"\napi=${rows(api)}\ntvf=${rows(tvf)}")
    // q0 = de AND len >= 100 → even ids >= 10; q1 = en AND len >= 250
    // → odd ids >= 25
    val byQ = api.select("query_id", "doc_id").as[(Long, Long)]
      .collect().groupBy(_._1)
      .map { case (q, ds) => q -> ds.map(_._2).toSet }
    assert(byQ(0L).nonEmpty && byQ(0L).forall(i => i % 2 == 0 && i >= 10) &&
      byQ(1L).nonEmpty && byQ(1L).forall(i => i % 2 == 1 && i >= 25),
      s"each query must rank only docs satisfying BOTH conjuncts: $byQ")
    // batch ≡ N single filtered calls with the equivalent predicate
    Seq(0L -> ("de", 100L), 1L -> ("en", 250L)).foreach { case (q, (l, mn)) =>
      val single = SearchRelations.text(spark, idx, Seq("alpha", "beta"),
          k = 8, filterPred = Some(s"lang = '$l' AND len >= $mn"))
        .select("doc_id", "matched_terms", "score")
        .collect().map(_.toString).sorted.toSeq
      val slice = api.filter(col("query_id") === q)
        .select("doc_id", "matched_terms", "score")
        .collect().map(_.toString).sorted.toSeq
      assert(slice == single,
        s"query $q: range-MATCH slice must equal the single filtered " +
          s"call:\nslice=$slice\nsingle=$single")
    }
    // an unknown operator fails at parse time
    val bad = intercept[Exception] {
      spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms " +
        s"FROM '$qtab' TOP 8 MATCH (qmin ~ len)").collect()
    }
    assert(bad.getMessage.contains("MATCH needs"),
      s"unknown MATCH operator must fail loudly: ${bad.getMessage}")
  }

  test("per-query MATCH on the pure VECTOR verb: verb ≡ TVF; each query ranks only its own tenant's vectors (exact regime ≡ filtered brute force)") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(61)
    val vcorpus = tmp(); val vIdx = tmp(); val qtab = tmp()
    // clusters 0/1 are tenant 'aa', clusters 2/3 tenant 'bb'; PROBE 4
    // = nLists = the exact regime, so the MATCHed verb must equal the
    // per-tenant filtered brute force exactly
    val vecs = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat),
        if (i % 4 < 2) "aa" else "bb")
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding", "lang"),
      vcorpus, "vec_id", 2)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(Seq(
      (0L, vecs(0)._2, "aa"), (2L, vecs(2)._2, "bb"))
      .toDF("vec_id", "embedding", "qlang"), qtab, "vec_id", 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    val verb = spark.sql(s"GRAFT SEARCH VECTOR '$vIdx' FROM '$qtab' " +
      "TOP 5 PROBE 4 MATCH (qlang = lang)")
    val tvf = spark.sql("SELECT * FROM graft_search_vector_matched(" +
      s"'$vIdx', '$qtab', 'qlang = lang', 5, 4)")
    assert(rows(verb) == rows(tvf),
      s"vector MATCH verb ≡ TVF:\nverb=${rows(verb)}\ntvf=${rows(tvf)}")
    val emb = ManifestTable.read(spark, vcorpus)
    val brute = Seq(0L -> "aa", 2L -> "bb").flatMap { case (q, l) =>
      graft.ops.Similarity.bruteForceTopK(
          emb.filter(col("lang") === l), emb.filter(col("vec_id") === q),
          "vec_id", "embedding", k = 5, queryBound = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    }.sortBy(t => (t._1, t._3))
    assert(rows(verb) == brute,
      s"MATCHed exact-regime ANN must equal the per-tenant filtered " +
        s"brute force:\nverb=${rows(verb)}\nbrute=$brute")
    // tenant isolation: query 0 never sees 'bb' vectors and vice versa
    val byQ = rows(verb).groupBy(_._1)
      .map { case (q, ds) => q -> ds.map(_._2).toSet }
    assert(byQ(0L).forall(_ % 4 < 2) && byQ(2L).forall(_ % 4 >= 2),
      s"each query must rank only its own tenant's vectors: $byQ")
  }

  test("MATCH disjunction: OR clauses in CNF — verb ≡ API ≡ TVF; top-k provably differs from each branch alone; batch ≡ N single OR-filtered calls (VERDICT r18 #3)") {
    import graft.sources.SearchRelations
    import graft.ops.MatchPair
    val corpus = tmp(); val idx = tmp(); val qtab = tmp()
    // lang and cat CROSS so the OR set is a strict superset of either
    // branch; identical texts make scores tie → ranks are pure doc_id
    // order over the eligible set, so membership differences are
    // VISIBLE in the top-k
    val docs = (0L until 40L).map(i =>
      (i, "alpha beta filler",
        if (i % 2 == 0) "de" else "en",
        if (i % 4 < 2) "a" else "b", i * 10))
    ManifestTable.write(docs.toDF("doc_id", "text", "lang", "cat", "len"),
      corpus, "doc_id", 2)
    Bm25Index.sync(spark, idx, corpus, "doc_id", "text", nBuckets = 4)
    ManifestTable.write(Seq(
      (0L, "alpha beta", "de", "a", 0L), (1L, "alpha beta", "en", "b", 0L))
      .toDF("qid", "qterms", "qlang", "qcat", "qmin"), qtab, "qid", 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "matched_terms", "score")
      .collect().map(_.toString).sorted.toSeq
    val orCols = Seq(MatchPair("qlang", "lang", orNext = true),
      MatchPair("qcat", "cat"))
    val api = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 8, matchCols = orCols)
    val verb = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN " +
      s"qterms FROM '$qtab' TOP 8 MATCH (qlang = lang OR qcat = cat)")
    val tvf = spark.sql("SELECT * FROM graft_search_text_col(" +
      s"'$idx', '$qtab', 'qterms', 8, '', 'qlang = lang OR qcat = cat')")
    assert(rows(verb) == rows(api) && rows(tvf) == rows(api),
      s"disjunctive MATCH verb ≡ API ≡ TVF:\nverb=${rows(verb)}" +
        s"\napi=${rows(api)}\ntvf=${rows(tvf)}")
    // q0 eligible: de OR a → i%2==0 OR i%4<2; q1: en OR b
    val byQ = api.select("query_id", "doc_id").as[(Long, Long)]
      .collect().groupBy(_._1)
      .map { case (q, ds) => q -> ds.map(_._2).toSet }
    assert(byQ(0L).nonEmpty &&
      byQ(0L).forall(i => i % 2 == 0 || i % 4 < 2) &&
      byQ(1L).nonEmpty &&
      byQ(1L).forall(i => i % 2 == 1 || i % 4 >= 2),
      s"each query must rank only docs satisfying its OR clause: $byQ")
    // the OR top-k provably differs from EITHER branch alone
    val langOnly = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 8, matchCols = Seq(MatchPair("qlang", "lang")))
    val catOnly = SearchRelations.textPerQueryRelation(spark, idx, qtab,
      "qterms", k = 8, matchCols = Seq(MatchPair("qcat", "cat")))
    assert(rows(langOnly) != rows(api) && rows(catOnly) != rows(api),
      "the OR top-k must differ from each single branch's")
    // batch ≡ N single calls filtered with the equivalent OR predicate
    Seq(0L -> ("de", "a"), 1L -> ("en", "b")).foreach { case (q, (l, c)) =>
      val single = SearchRelations.text(spark, idx, Seq("alpha", "beta"),
          k = 8, filterPred = Some(s"lang = '$l' OR cat = '$c'"))
        .select("doc_id", "matched_terms", "score")
        .collect().map(_.toString).sorted.toSeq
      val slice = api.filter(col("query_id") === q)
        .select("doc_id", "matched_terms", "score")
        .collect().map(_.toString).sorted.toSeq
      assert(slice == single,
        s"query $q: OR-MATCH slice must equal the single OR-filtered " +
          s"call:\nslice=$slice\nsingle=$single")
    }
    // CNF: an OR clause composes with a range conjunct — (de OR a)
    // AND len >= qmin, per row
    ManifestTable.upsert(spark, qtab, Seq(
      (0L, "alpha beta", "de", "a", 150L), (1L, "alpha beta", "en", "b", 250L))
      .toDF("qid", "qterms", "qlang", "qcat", "qmin"), "qid")
    val cnf = spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN " +
      s"qterms FROM '$qtab' TOP 8 " +
      "MATCH (qlang = lang OR qcat = cat, qmin <= len)")
    val byQ2 = cnf.select("query_id", "doc_id").as[(Long, Long)]
      .collect().groupBy(_._1)
      .map { case (q, ds) => q -> ds.map(_._2).toSet }
    assert(byQ2(0L).nonEmpty &&
      byQ2(0L).forall(i => (i % 2 == 0 || i % 4 < 2) && i * 10 >= 150) &&
      byQ2(1L).nonEmpty &&
      byQ2(1L).forall(i => (i % 2 == 1 || i % 4 >= 2) && i * 10 >= 250),
      s"CNF: every clause must hold — OR clause AND range conjunct: $byQ2")
    // a trailing OR names no right-hand side: parse-time failure
    val bad = intercept[Exception] {
      spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms " +
        s"FROM '$qtab' TOP 8 MATCH (qlang = lang OR)").collect()
    }
    assert(bad.getMessage.contains("MATCH"),
      s"trailing OR must fail loudly at parse: ${bad.getMessage}")
    // the whitespace/comma variants must not silently DEGRADE either:
    // Java's default split drops trailing empty tokens, so a typo'd
    // `OR ,` once parsed as a plain CONJUNCT list — the stricter AND
    // where the user asked for OR — with no error at all
    for (spec <- Seq("qlang = lang OR , qcat = cat", "qlang = lang,")) {
      val e = intercept[Exception] {
        spark.sql(s"GRAFT SEARCH TEXT '$idx' TERMS COLUMN qterms " +
          s"FROM '$qtab' TOP 8 MATCH ($spec)").collect()
      }
      assert(e.getMessage.contains("MATCH"),
        s"'$spec' must fail loudly at parse: ${e.getMessage}")
    }
  }

  test("split MATCH-selectivity cache: a NEW query batch plans with ZERO corpus scans — per-value counts amortize per corpus snapshot (VERDICT r18 #1)") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(71)
    val vcorpus = tmp(); val tIdx = tmp(); val vIdx = tmp(); val qtab = tmp()
    // the MATCH-AUTO pin's fixture shape: lang 'bb' docs live only in
    // clusters 2/3, query vectors come from cluster 0, so correctness
    // REQUIRES the measured selectivity to widen probes to the exact
    // regime — proving the cached counts still drive AUTO after the
    // split (split ≡ fused)
    val vecs = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat),
        "filler text", if (i % 4 >= 2) "bb" else "aa")
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding", "text", "lang"),
      vcorpus, "vec_id", 2)
    Bm25Index.sync(spark, tIdx, vcorpus, "vec_id", "text", nBuckets = 4)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    ManifestTable.write(Seq((0L, vecs(0)._2, "zzz", "bb"))
      .toDF("vec_id", "embedding", "qterms", "qlang"), qtab, "vec_id", 2)

    def build() = SearchRelations.hybridPerQuery(spark, tIdx, vIdx,
      qtab, "qterms", k = 5, nProbe = SearchRelations.ProbeAuto,
      matchCols = Seq(graft.ops.MatchPair("qlang", "lang")))

    // batch 1 pays the one corpus groupBy that fills the counts cache:
    // its plan-build jobs read the whole 80-row corpus
    val firstIn = RunMeter.measure(spark) { build() }.inputRecords
    assert(firstIn >= 80,
      s"the FIRST batch pays the per-value corpus count: read $firstIn")
    assert(SearchRelations.cachedMatchCounts(vcorpus) == 1,
      "the counts frame must be cached per corpus snapshot")

    // batch 2 = a FRESH queries snapshot (the production cadence that
    // made the old fused cache never hit) — its plan build must NOT
    // re-scan the corpus: the min-join reads the handful of persisted
    // count rows (plus the tiny queries/centroid frames), never the
    // corpus rows the fused cache re-read per batch
    ManifestTable.append(spark, qtab,
      Seq((4L, vecs(4)._2, "zzz", "bb"))
        .toDF("vec_id", "embedding", "qterms", "qlang"), "vec_id")
    val secondIn = RunMeter.measure(spark) { build() }.inputRecords
    assert(secondIn < 40,
      s"a new batch at the same corpus snapshot must not re-read the " +
        s"corpus (fused cache re-paid the full groupBy): read $secondIn")
    assert(SearchRelations.cachedMatchCounts(vcorpus) == 1,
      "the second batch reuses the one counts frame, not a duplicate")

    // and the cached counts still steer AUTO to the exact regime: the
    // two-query batch matches the per-tenant brute force exactly
    val auto = build().select("query_id", "doc_id", "rank_vec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    val emb = ManifestTable.read(spark, vcorpus)
    val brute = Similarity.bruteForceTopK(
        emb.filter(col("lang") === "bb"),
        emb.filter(col("vec_id") === 0 || col("vec_id") === 4),
        "vec_id", "embedding", k = 5, queryBound = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(auto == brute,
      s"split-cache AUTO must still reach the exact regime (split ≡ " +
        s"fused):\nauto=$auto\nbrute=$brute")

    // a corpus COMMIT supersedes the counts frame: the stale snapshot's
    // entry is evicted (and unpersisted), the new snapshot re-counts
    ManifestTable.append(spark, vcorpus,
      Seq((1000L, vecs(0)._2, "filler text", "bb"))
        .toDF("vec_id", "embedding", "text", "lang"), "vec_id")
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding")
    val thirdIn = RunMeter.measure(spark) { build() }.inputRecords
    assert(thirdIn >= 81 &&
      SearchRelations.cachedMatchCounts(vcorpus) == 1,
      s"a corpus commit must re-count once (81 rows) and supersede to " +
        s"ONE live counts frame: read=$thirdIn cached=${
          SearchRelations.cachedMatchCounts(vcorpus)}")
  }

  test("oversized MATCH-counts frames are NOT retained: a near-unique match key caches a sentinel, batches fall back to the bounded semi-join, AUTO stays exact") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(79)
    val vcorpus = tmp(); val tIdx = tmp(); val vIdx = tmp(); val qtab = tmp()
    // near-unique match key: one distinct `ref` per doc — the per-value
    // counts frame would be corpus-sized (80 rows here, corpus-scale in
    // production). Cap the retention ceiling BELOW it so the guard
    // trips at test scale.
    val vecs = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == c) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat),
        "filler text", s"r$i")
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding", "text", "ref"),
      vcorpus, "vec_id", 2)
    Bm25Index.sync(spark, tIdx, vcorpus, "vec_id", "text", nBuckets = 4)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    // query vector lives in cluster 0, its matched doc (ref r2) in
    // cluster 2 — only a widened probe reaches it, so correctness
    // PROVES the bounded path still feeds AUTO the measured min (1)
    ManifestTable.write(Seq((0L, vecs(0)._2, "zzz", "r2"))
      .toDF("vec_id", "embedding", "qterms", "qref"), qtab, "vec_id", 2)
    spark.conf.set(SearchRelations.MatchCountsCacheMaxRowsKey, "8")
    try {
      def build() = SearchRelations.hybridPerQuery(spark, tIdx, vIdx,
        qtab, "qterms", k = 5, nProbe = SearchRelations.ProbeAuto,
        matchCols = Seq(graft.ops.MatchPair("qref", "ref")))
      val firstIn = RunMeter.measure(spark) { build() }.inputRecords
      assert(firstIn >= 80,
        s"the first batch prices the counts frame (one corpus scan): " +
          s"read $firstIn")
      assert(SearchRelations.cachedMatchCounts(vcorpus) == 0 &&
        SearchRelations.cachedMatchCountSentinels(vcorpus) == 1,
        s"an oversized shape must retain NO frame, only the sentinel: " +
          s"frames=${SearchRelations.cachedMatchCounts(vcorpus)} " +
          s"sentinels=${SearchRelations.cachedMatchCountSentinels(vcorpus)}")
      // the matched doc is found despite living outside the query's
      // home cluster: min per-value count = 1 widened the probe
      val hits = build().select("query_id", "doc_id").as[(Long, Long)]
        .collect().toSet
      assert(hits == Set((0L, 2L)),
        s"bounded-path AUTO must reach the one eligible doc: $hits")
      // a FRESH batch at the oversized shape re-pays one bounded scan
      // (by design — no state retained), never re-prices the frame
      ManifestTable.append(spark, qtab,
        Seq((4L, vecs(4)._2, "zzz", "r3"))
          .toDF("vec_id", "embedding", "qterms", "qref"), "vec_id")
      val secondIn = RunMeter.measure(spark) { build() }.inputRecords
      assert(secondIn >= 80,
        s"a new batch takes the bounded semi-join (one corpus scan): " +
          s"read $secondIn")
      assert(SearchRelations.cachedMatchCounts(vcorpus) == 0 &&
        SearchRelations.cachedMatchCountSentinels(vcorpus) == 1,
        "the sentinel is cached once, no frame ever retained")
      // the per-batch memo still holds: a REPEAT plan build of the
      // same batch runs no corpus job at all
      val repeatIn = RunMeter.measure(spark) { build() }.inputRecords
      assert(repeatIn < 40,
        s"repeat plan builds of the same batch stay corpus-job-free: " +
          s"read $repeatIn")
    } finally spark.conf.unset(SearchRelations.MatchCountsCacheMaxRowsKey)
  }

  test("MATCH values absent from the corpus: AUTO resolves the base probe — the sentinel clamps to the indexed count, no overflow arithmetic (ADVICE r18)") {
    import graft.sources.SearchRelations
    val rnd = new scala.util.Random(73)
    val vcorpus = tmp(); val vIdx = tmp(); val qtab = tmp()
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(16)(d =>
        ((if (d % 4 == i % 4) 3.0 else 0.0) +
          rnd.nextDouble() * 0.5).toFloat), "aa")
    }
    ManifestTable.write(vecs.toDF("vec_id", "embedding", "lang"),
      vcorpus, "vec_id", 2)
    IvfIndex.sync(spark, vIdx, vcorpus, "vec_id", "embedding",
      k = 4, nBuckets = 4)
    // every batch value is a typo'd tenant: no corpus row matches
    ManifestTable.write(Seq((0L, vecs(0)._2, "zz"))
      .toDF("vec_id", "embedding", "qlang"), qtab, "vec_id", 2)
    val out = SearchRelations.vector(spark, vIdx, qtab, k = 5,
      nProbe = SearchRelations.ProbeAuto, refine = false,
      refineFactor = 8,
      matchCols = Seq(graft.ops.MatchPair("qlang", "lang")))
    assert(out.count() == 0,
      "an all-absent match batch has empty eligible sets at any probe")
    // the clamp itself, unit-level: eff = indexed resolves the base
    // probe; the unclamped sentinel would overflow pBase·corpus+eff−1
    assert(graft.ops.Ivf.autoProbe(2, 4, 40L, 40L) == 2)
  }
}
