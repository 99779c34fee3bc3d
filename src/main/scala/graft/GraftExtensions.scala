package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions._

/** Registers graft's custom expressions as SQL functions, so
  * `spark.sql("SELECT minhash_sig(text, 3, 64) ...")` works alongside the
  * Scala Column API.
  *
  * Two entry points:
  *  - session build: `.withExtensions(new GraftExtensions)` or
  *    `--conf spark.sql.extensions=graft.GraftExtensions`;
  *  - existing session: `GraftExtensions.register(spark)` (temp
  *    functions).
  *
  * Idempotent per builder, like Pathling's `SqlStrategy.setup`: a
  * builder extended twice (`SessionDefaults.configure` on a builder that
  * already carries the extension) must not stack a second parser.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    if (GraftExtensions.applied.put(ext, true) == null) {
      GraftExtensions.builders.foreach { case (name, builder) =>
        ext.injectFunction((
          FunctionIdentifier(name),
          new ExpressionInfo("graft", name),
          builder))
      }
      // composable search: table-valued functions that plant the
      // persisted-index search composition as a RELATION inside the
      // calling query's plan (join/filter/aggregate in one Catalyst
      // plan), vs the GRAFT SEARCH verbs' driver-materialized rows
      GraftExtensions.tableBuilders.foreach { case (name, builder) =>
        ext.injectTableFunction((
          FunctionIdentifier(name),
          new ExpressionInfo("graft", name),
          builder))
      }
      // maintenance SQL (GRAFT OPTIMIZE/VACUUM/REBUCKET/ADD COLUMNS) —
      // prefix-gated, everything else delegates to Spark's parser
      ext.injectParser((_, delegate) =>
        new graft.sources.GraftSqlParser(delegate))
    }
}

object GraftExtensions {

  private val applied = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]())

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name must be a long literal, got $other")
  }

  private def strArg(e: Expression, name: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$name must be a string literal, got $other")
  }

  /** The batch TVFs' per-query-filter argument: the verbs' MATCH spec
    * as a string — CNF, `'qcol = doccol [OR qcol2 = doccol2][, ...]'`
    * (comma = AND, OR within a clause; each query row eligible only
    * for corpus docs satisfying every clause); `''` → no per-query
    * filter.
    */
  private def matchSpec(raw: String): Seq[graft.ops.MatchPair] = {
    val t = raw.trim
    if (t.isEmpty) Nil
    else graft.sources.GraftSqlParser.parseMatchPairs(t)
  }

  /** Probe argument of the vector/hybrid TVFs: a positive int, or
    * `'auto'` / `-1` → [[graft.sources.SearchRelations.ProbeAuto]]
    * (selectivity-scaled widening, resolved at plan-build time — the
    * verbs' `PROBE AUTO`).
    */
  private def probeArg(e: Expression, name: String): Int = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _)
        if v.toString.equalsIgnoreCase("auto") =>
      graft.sources.SearchRelations.ProbeAuto
    case other => intArg(other, name)
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> (es => DotProductExpr(es(0), es(1))),
    "sig_agree" -> (es => SigAgreeExpr(es(0), es(1))),
    "poly_hash" -> (es => PolyHashExpr(es(0), longArg(es(1), "mod"))),
    "simhash" -> (es => SimHashExpr(es.head)),
    "repetition_stats" -> (es => RepetitionStatsExpr(es.head)),
    "lang_id" -> (es => LangIdExpr(es.head)),
    "stopword_hits" -> (es => StopwordHitsExpr(es.head)),
    "quantize_stats" -> (es => QuantizeStatsExpr(es.head)),
    "word_ngrams" -> (es => WordNgramsExpr(es(0), intArg(es(1), "n"))),
    "word_shingles" -> (es => WordShinglesExpr(es(0), intArg(es(1), "n"))),
    "minhash_sig" -> (es => MinHashSigExpr(es(0),
      intArg(es(1), "shingleN"), intArg(es(2), "numHashes"))),
    "minhash_bands" -> (es => MinHashBandsExpr(es(0),
      intArg(es(1), "shingleN"), intArg(es(2), "numHashes"), intArg(es(3), "bands"))),
    "minhash_from_shingles" -> (es =>
      MinHashFromShinglesExpr(es(0), intArg(es(1), "numHashes"))),
    "band_hashes" -> (es => SigBandHashesExpr(es(0), intArg(es(1), "bands"))),
    "jaccard" -> (es => JaccardExpr(es(0), es(1))),
    "adjacent_pairs" -> (es => AdjacentPairsExpr(es.head)),
    "char_symbols" -> (es => CharSymbolsExpr(es.head)),
    "bpe_merge" -> (es => BpeMergeExpr(es(0),
      strArg(es(1), "first"), strArg(es(2), "second")))
  )

  /** Table-valued search functions — `FROM graft_search_text(...)`.
    * Each builder runs at ANALYSIS time and returns the lazy logical
    * plan of the corresponding [[graft.sources.SearchRelations]]
    * composition, so the search participates in the outer query's
    * optimization (the search side is top-k-bounded → broadcast-able
    * against the corpus; outer filters push into the joined scans).
    * Arguments must be literals — the index path and query shape
    * decide the PLAN, they cannot vary per row.
    *
    * BY DESIGN the builders do driver work at ANALYSIS time: index
    * definitions/manifests are read to shape the plan, and
    * `graft_search_text_rescored` without a factor runs the index
    * stats read (a small Spark job) to compute the corpus-scaled cut —
    * so merely EXPLAINing a query containing a TVF pays that index IO,
    * and a missing/corrupt index surfaces as an analysis error rather
    * than an execution error. This is the cost of args-decide-the-plan
    * (the same trade `CREATE TABLE ... LOCATION` makes).
    *
    *  - `graft_search_text(idx, 'alpha beta', k)` →
    *    (doc_id, matched_terms, score)
    *  - `graft_search_text_rescored(idx, terms, k[, factor])` →
    *    (doc_id, matched_terms, span, rescored); candidate cut f·k, or
    *    corpus-scaled when omitted
    *  - `graft_search_text_snippets(idx, terms[, k[, pad[, factor[,
    *    pred]]]])` → the rescored columns plus `snippet`: the winning
    *    cover window ± pad tokens, query-term hits bracketed (the
    *    verbs' `RESCORE SNIPPET [PAD p]`)
    *  - `graft_search_text_col(idx, queriesPath, termsCol[, k[, pred]])`
    *    → batch BM25, per-query term sets from a queries-table column
    *    (the verbs' `TERMS COLUMN` form)
    *  - `graft_search_text_col_rescored(idx, queriesPath, termsCol[, k[,
    *    factor[, pad[, pred]]]])` → the batch two-stage re-rank;
    *    factor 0 = corpus-scaled cut, pad ≥ 0 adds per-(query, doc)
    *    snippets
    *  - `graft_search_vector(idx, queriesPath, k, probe[, refineFactor])`
    *    — probe may be `'auto'`/`-1`: selectivity-scaled widening
    *    (all vector/hybrid probe args accept it)
    *    → (query_id, neighbor_id, score, rank); a 5th arg runs the
    *    exact re-rank (pq indexes)
    *  - `graft_search_vector_filtered(idx, queriesPath, k, probe, pred[,
    *    refineFactor])` → filtered ANN: `pred` (SQL boolean over the
    *    index's source-corpus columns) pre-filters candidates BEFORE
    *    ranking — rank-then-filter under-fills, this doesn't
    *  - `graft_search_hybrid(tIdx, vIdx, terms, queriesPath[, k[, probe]])`
    *    → RRF fusion, ONE shared term set per call
    *  - `graft_search_hybrid_rescored(...)` / `graft_search_hybrid_col_
    *    rescored(...)` → the same fusions with the TEXT list
    *    proximity-RESCORED before ranks enter (the verbs' `RESCORE
    *    [FACTOR f]`; factor 0 = corpus-scaled cut)
    *  - `graft_search_hybrid_col(tIdx, vIdx, queriesPath, termsCol[, k[,
    *    probe]])` → RRF fusion with PER-QUERY term sets read from a
    *    column of the queries table (the batch form)
    *  - `graft_search_text_filtered(idx, terms, k, pred)` and the
    *    trailing optional `pred` of `_rescored` / `_hybrid` /
    *    `_hybrid_col` → filtered search: the predicate (SQL boolean
    *    over the source corpus — the TEXT index's source for the
    *    hybrid forms) pre-filters candidates BEFORE ranking; corpus
    *    statistics (df/dl/N) stay global
    */
  val tableBuilders: Seq[(String, Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    "graft_search_text" -> (es => {
      requireArity(es, 2, 3, "graft_search_text(index, terms[, k])")
      graft.sources.SearchRelations.text(SparkSession.active,
          strArg(es(0), "index_path"), termList(strArg(es(1), "terms")),
          if (es.size > 2) intArg(es(2), "k") else 20)
        .queryExecution.logical
    }),
    "graft_search_text_filtered" -> (es => {
      requireArity(es, 4, 4,
        "graft_search_text_filtered(index, terms, k, predicate) — " +
          "predicate is a SQL boolean expression over the index's " +
          "source-corpus columns; candidates pre-filter before ranking")
      graft.sources.SearchRelations.text(SparkSession.active,
          strArg(es(0), "index_path"), termList(strArg(es(1), "terms")),
          intArg(es(2), "k"),
          filterPred = Some(strArg(es(3), "predicate")))
        .queryExecution.logical
    }),
    "graft_search_text_rescored" -> (es => {
      requireArity(es, 2, 5,
        "graft_search_text_rescored(index, terms[, k[, factor[, " +
          "predicate]]])")
      graft.sources.SearchRelations.textRescored(SparkSession.active,
          strArg(es(0), "index_path"), termList(strArg(es(1), "terms")),
          if (es.size > 2) intArg(es(2), "k") else 10,
          if (es.size > 3) Some(intArg(es(3), "factor")) else None,
          filterPred =
            if (es.size > 4) Some(strArg(es(4), "predicate")) else None)
        .queryExecution.logical
    }),
    "graft_search_text_snippets" -> (es => {
      requireArity(es, 2, 6,
        "graft_search_text_snippets(index, terms[, k[, pad[, factor[, " +
          "predicate]]]]) — the rescored search plus a highlighted " +
          "cover-window excerpt (± pad tokens, default 3)")
      graft.sources.SearchRelations.textRescored(SparkSession.active,
          strArg(es(0), "index_path"), termList(strArg(es(1), "terms")),
          if (es.size > 2) intArg(es(2), "k") else 10,
          if (es.size > 4) Some(intArg(es(4), "factor")) else None,
          filterPred =
            if (es.size > 5) Some(strArg(es(5), "predicate")) else None,
          snippetPad = if (es.size > 3) intArg(es(3), "pad") else 3)
        .queryExecution.logical
    }),
    "graft_search_text_col" -> (es => {
      requireArity(es, 3, 6,
        "graft_search_text_col(index, queries_path, terms_col[, k[, " +
          "predicate[, match]]]) — batch BM25: per-query term sets " +
          "from a queries-table column; predicate '' = unfiltered; " +
          "match 'qcol = doccol[, ...]' = the per-query filter")
      graft.sources.SearchRelations.textPerQueryRelation(
          SparkSession.active,
          strArg(es(0), "index_path"), strArg(es(1), "queries_path"),
          strArg(es(2), "terms_col"),
          // default k matches the TERMS COLUMN verb's implicit TOP
          // (20) — ADVICE r16 aligned the verb forms; the TVF twin
          // must not re-open the divergence (review r17)
          if (es.size > 3) intArg(es(3), "k") else 20,
          filterPred =
            if (es.size > 4) Some(strArg(es(4), "predicate"))
              .filter(_.trim.nonEmpty)
            else None,
          matchCols =
            if (es.size > 5) matchSpec(strArg(es(5), "match")) else Nil)
        .queryExecution.logical
    }),
    "graft_search_text_col_rescored" -> (es => {
      requireArity(es, 3, 8,
        "graft_search_text_col_rescored(index, queries_path, terms_col" +
          "[, k[, factor[, pad[, predicate[, match]]]]]) — batch " +
          "two-stage retrieval; factor 0 = corpus-scaled cut, pad >= 0 " +
          "adds snippets, pad -1 (default) none; predicate '' = " +
          "unfiltered; match 'qcol = doccol[, ...]' = the per-query filter")
      val factor = if (es.size > 4) intArg(es(4), "factor") else 0
      graft.sources.SearchRelations.textRescoredPerQuery(
          SparkSession.active,
          strArg(es(0), "index_path"), strArg(es(1), "queries_path"),
          strArg(es(2), "terms_col"),
          // default k = 20, matching the verb (see graft_search_text_col)
          if (es.size > 3) intArg(es(3), "k") else 20,
          if (factor > 0) Some(factor) else None,
          filterPred =
            if (es.size > 6) Some(strArg(es(6), "predicate"))
              .filter(_.trim.nonEmpty)
            else None,
          matchCols =
            if (es.size > 7) matchSpec(strArg(es(7), "match")) else Nil,
          snippetPad = if (es.size > 5) intArg(es(5), "pad") else -1)
        .queryExecution.logical
    }),
    "graft_search_vector" -> (es => {
      requireArity(es, 2, 5,
        "graft_search_vector(index, queries_path[, k[, probe[, refine_factor]]])")
      graft.sources.SearchRelations.vector(SparkSession.active,
          strArg(es(0), "index_path"), strArg(es(1), "queries_path"),
          if (es.size > 2) intArg(es(2), "k") else 5,
          if (es.size > 3) probeArg(es(3), "probe") else 2,
          refine = es.size > 4,
          refineFactor = if (es.size > 4) intArg(es(4), "refine_factor") else 8)
        .queryExecution.logical
    }),
    "graft_search_hybrid" -> (es => {
      requireArity(es, 4, 7,
        "graft_search_hybrid(text_index, vector_index, terms, " +
          "queries_path[, k[, probe[, predicate]]])")
      graft.sources.SearchRelations.hybrid(SparkSession.active,
          strArg(es(0), "text_index"), strArg(es(1), "vector_index"),
          termList(strArg(es(2), "terms")), strArg(es(3), "queries_path"),
          if (es.size > 4) intArg(es(4), "k") else 10,
          nProbe = if (es.size > 5) probeArg(es(5), "probe") else 2,
          filterPred =
            if (es.size > 6) Some(strArg(es(6), "predicate")) else None)
        .queryExecution.logical
    }),
    "graft_search_hybrid_rescored" -> (es => {
      requireArity(es, 4, 9,
        "graft_search_hybrid_rescored(text_index, vector_index, terms, " +
          "queries_path[, k[, probe[, factor[, predicate[, pad]]]]]) — " +
          "hybrid fusion with the proximity-RESCORED text list; factor " +
          "0 = corpus-scaled cut; predicate '' = unfiltered; pad ≥ 0 " +
          "adds the snippet column through the fusion")
      val factor = if (es.size > 6) intArg(es(6), "factor") else 0
      graft.sources.SearchRelations.hybrid(SparkSession.active,
          strArg(es(0), "text_index"), strArg(es(1), "vector_index"),
          termList(strArg(es(2), "terms")), strArg(es(3), "queries_path"),
          if (es.size > 4) intArg(es(4), "k") else 10,
          nProbe = if (es.size > 5) probeArg(es(5), "probe") else 2,
          filterPred =
            if (es.size > 7) Some(strArg(es(7), "predicate"))
              .filter(_.trim.nonEmpty)
            else None,
          rescoreText = true,
          rescoreFactor = if (factor > 0) Some(factor) else None,
          snippetPad = if (es.size > 8) intArg(es(8), "pad") else -1)
        .queryExecution.logical
    }),
    "graft_search_hybrid_col_rescored" -> (es => {
      requireArity(es, 4, 10,
        "graft_search_hybrid_col_rescored(text_index, vector_index, " +
          "queries_path, terms_col[, k[, probe[, factor[, " +
          "predicate[, pad[, match]]]]]]) — the batch hybrid with " +
          "per-query proximity-rescored text lists; predicate '' = " +
          "unfiltered; pad >= 0 adds the snippet column through the " +
          "fusion; match 'qcol = doccol[, ...]' = the per-query filter")
      val factor = if (es.size > 6) intArg(es(6), "factor") else 0
      graft.sources.SearchRelations.hybridPerQuery(SparkSession.active,
          strArg(es(0), "text_index"), strArg(es(1), "vector_index"),
          strArg(es(2), "queries_path"), strArg(es(3), "terms_col"),
          if (es.size > 4) intArg(es(4), "k") else 10,
          nProbe = if (es.size > 5) probeArg(es(5), "probe") else 2,
          filterPred =
            if (es.size > 7) Some(strArg(es(7), "predicate"))
              .filter(_.trim.nonEmpty)
            else None,
          matchCols =
            if (es.size > 9) matchSpec(strArg(es(9), "match")) else Nil,
          rescoreText = true,
          rescoreFactor = if (factor > 0) Some(factor) else None,
          snippetPad = if (es.size > 8) intArg(es(8), "pad") else -1)
        .queryExecution.logical
    }),
    "graft_search_vector_matched" -> (es => {
      requireArity(es, 3, 6,
        "graft_search_vector_matched(index, queries_path, match[, k[, " +
          "probe[, predicate]]]) — per-query MATCH for pure ANN " +
          "batches; match 'qcol = doccol[, ...]' (operators: = != < " +
          "<= > >=); predicate '' = no shared filter")
      graft.sources.SearchRelations.vector(SparkSession.active,
          strArg(es(0), "index"), strArg(es(1), "queries_path"),
          k = if (es.size > 3) intArg(es(3), "k") else 5,
          nProbe = if (es.size > 4) probeArg(es(4), "probe")
                   else graft.sources.SearchRelations.DefaultProbe,
          refine = false, refineFactor = 8,
          filterPred =
            if (es.size > 5) Some(strArg(es(5), "predicate"))
              .filter(_.trim.nonEmpty)
            else None,
          matchCols = matchSpec(strArg(es(2), "match")))
        .queryExecution.logical
    }),
    "graft_search_vector_filtered" -> (es => {
      requireArity(es, 5, 6,
        "graft_search_vector_filtered(index, queries_path, k, probe, " +
          "predicate[, refine_factor]) — predicate is a SQL boolean " +
          "expression over the index's source-corpus columns")
      graft.sources.SearchRelations.vector(SparkSession.active,
          strArg(es(0), "index"), strArg(es(1), "queries_path"),
          intArg(es(2), "k"), probeArg(es(3), "probe"),
          refine = es.size > 5,
          refineFactor = if (es.size > 5) intArg(es(5), "refine_factor")
                         else 8,
          filterPred = Some(strArg(es(4), "predicate")))
        .queryExecution.logical
    }),
    "graft_search_hybrid_col" -> (es => {
      requireArity(es, 4, 8,
        "graft_search_hybrid_col(text_index, vector_index, " +
          "queries_path, terms_col[, k[, probe[, predicate[, " +
          "match]]]]) — predicate '' = unfiltered; match 'qcol = " +
          "doccol' = the per-query filter over both lists")
      graft.sources.SearchRelations.hybridPerQuery(SparkSession.active,
          strArg(es(0), "text_index"), strArg(es(1), "vector_index"),
          strArg(es(2), "queries_path"), strArg(es(3), "terms_col"),
          if (es.size > 4) intArg(es(4), "k") else 10,
          nProbe = if (es.size > 5) probeArg(es(5), "probe") else 2,
          filterPred =
            if (es.size > 6) Some(strArg(es(6), "predicate"))
              .filter(_.trim.nonEmpty)
            else None,
          matchCols =
            if (es.size > 7) matchSpec(strArg(es(7), "match")) else Nil)
        .queryExecution.logical
    })
  )

  private def requireArity(es: Seq[Expression], lo: Int, hi: Int,
                           usage: String): Unit =
    if (es.size < lo || es.size > hi)
      throw new IllegalArgumentException(
        s"expected $lo..$hi arguments: $usage — got ${es.size}")

  /** Terms in one string literal, comma- and/or whitespace-separated. */
  private def termList(raw: String): Seq[String] = {
    val ts = raw.split("[,\\s]+").map(_.trim).filter(_.nonEmpty).toSeq
    if (ts.isEmpty) throw new IllegalArgumentException(
      s"terms must be a non-empty 'alpha beta ...' string, got: '$raw'")
    ts
  }

  /** Register into an already-built session as temp functions. */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    tableBuilders.foreach { case (name, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
