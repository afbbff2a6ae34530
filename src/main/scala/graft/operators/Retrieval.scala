package graft.operators

import graft.Shared
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus: BM25 (Robertson/Spärck Jones),
  * the standard bag-of-words relevance score and the classic lexical
  * complement to the embedding-based rankers in [[Similarity]].
  *
  * Two lifecycles, same scores:
  *  - Ad-hoc ([[bm25]]): one corpus scan computes per-document term
  *    frequencies for the query terms only (the filter happens inside
  *    the token explode, so the shuffle carries ≤ |terms| rows per
  *    doc, not the vocabulary); document-frequency and corpus
  *    statistics are one-row frames broadcast back — no collect, no
  *    driver round-trip, no global inverted index.
  *  - Standing workload ([[ensureBm25Tables]] + [[bm25FromStats]]):
  *    the full postings ([[termStats]]), per-term document frequencies
  *    ([[docFreq]]) and corpus statistics ([[corpusStats]]) are built
  *    ONCE into catalog tables (the nightly-index pattern shared with
  *    [[Dedup.ensureNgramTables]] / [[graft.sources.Bucketed.ensure]]);
  *    serving scans only those tables, with the query-term filter
  *    pushed down into the postings scan.
  */
object Retrieval {

  /** Lower-cased whitespace token array per document. */
  private def tokensOf(textCol: String) =
    filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)

  /** Tokens exploded as `(doc_id, term, dl)` with `dl` = document token
    * length. */
  private def tokenRows(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).as("doc_id"), tokensOf(textCol).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))

  /** BM25 score of every matching document against a bag-of-words
    * query: `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
    * with `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`. Documents
    * containing no query term are absent (score 0). Output:
    * `(doc_id, score)`.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val rows = tokenRows(docs, idCol, textCol)

    // corpus stats as one-row broadcast frames — never collected.
    // avgdl comes from size(tokens) per row: a map-side aggregate with
    // no explode (the earlier explode+regroup form shuffled one row per
    // token of the whole corpus to compute one number) — and it counts
    // EVERY document, zero-token ones included, matching the standard
    // all-docs avgdl definition and the q54 oracle's dl CTE
    val corpus = docs.agg(count(lit(1)).as("n_docs"))
    val avgdl = docs.select(size(tokensOf(textCol)).as("dl"))
      .agg(avg(col("dl")).as("avgdl"))

    // tf over query terms only: the explode filter keeps the shuffle
    // narrow (≤ |terms| rows per doc)
    val tf = rows.filter(col("term").isInCollection(terms))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))

    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(corpus))
      .crossJoin(broadcast(avgdl))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score"))
  }

  /** Top-`n` BM25 hits, ranked by score descending with the id as a
    * deterministic tiebreak — planned as TakeOrderedAndProject
    * (per-partition top-n, no global sort shuffle). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], n: Int = 10, k1: Double = 1.2,
               b: Double = 0.75): DataFrame =
    bm25(docs, idCol, textCol, queryTerms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(n)

  // ---- build/serve split -------------------------------------------

  /** Full postings `(doc_id, term, tf, dl)` over the WHOLE vocabulary —
    * the standing inverted index a nightly build materializes. One
    * corpus scan; the shuffle key is (doc_id, term). */
  def termStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    termStatsFromTokens(docs.select(col(idCol).as("doc_id"),
      tokensOf(textCol).as("__toks")))

  /** The ONE postings aggregation, off a pre-tokenized
    * `(doc_id, __toks)` frame — shared by [[termStats]] and the
    * streaming absorb so the postings shape can never diverge
    * between the build-once and streaming tables. */
  private def termStatsFromTokens(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** Per-term document frequency `(term, df)` from [[termStats]]
    * postings. */
  def docFreq(stats: DataFrame): DataFrame =
    stats.groupBy("term").agg(count(lit(1)).as("df"))

  /** One-row corpus statistics `(n_docs, avgdl)`. Counts EVERY
    * document — zero-token docs included (they have no postings rows,
    * so this cannot be derived from [[termStats]]); matches the ad-hoc
    * [[bm25]] avgdl definition exactly. */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(size(tokensOf(textCol)).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

  /** BM25 served entirely off pre-built statistics frames — identical
    * scores to [[bm25]] (same formula, same stats, different
    * lifecycle). The query-term filter lands on the postings frame
    * first, so when `stats` is a parquet-backed catalog table the
    * predicate pushes down into the scan and only matching row groups
    * are read. */
  def bm25FromStats(stats: DataFrame, df: DataFrame, corpus: DataFrame,
                    queryTerms: Seq[String], k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    stats.filter(col("term").isInCollection(terms))
      .join(broadcast(df.filter(col("term").isInCollection(terms))), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score"))
  }

  /** [[bm25FromStats]] ranked top-`n` (TakeOrderedAndProject, like
    * [[bm25TopK]]). */
  def bm25TopKFromStats(stats: DataFrame, df: DataFrame, corpus: DataFrame,
                        queryTerms: Seq[String], n: Int = 10,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromStats(stats, df, corpus, queryTerms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(n)

  /** Reciprocal-rank fusion (the standard hybrid-search composition):
    * fuse any number of ranked candidate lists into
    * `rrf_score = Σ_lists 1/(kRrf + rank)`, dropping each list's score
    * scale entirely — which is the point: BM25 scores and cosines are
    * not commensurable, ranks are. Output: `(idCol, rrf_score,
    * n_lists)`, one row per distinct candidate.
    *
    * Inputs are per-query TOP-K lists (1-based `rankCol`), already
    * bounded by their producers ([[bm25TopK]],
    * [[Similarity.bruteForceTopK]], [[Similarity.lshTopK]], …) — so
    * the fusion is a union of tiny frames plus ONE hash aggregation:
    * no join, no window, nothing scales with the corpus. Rank
    * determinism is the caller's contract (rank on a rounded score
    * with an id tiebreak, the q24/q54 oracle discipline), because a
    * rank flip between equal-scored docs shifts `1/(k+rank)`. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    rankings.map(_.select(col(idCol), col(rankCol).cast("long").as("__rank")))
      .reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(sum(lit(1.0) / (lit(kRrf) + col("__rank"))).as("rrf_score"),
        count(lit(1)).as("n_lists"))
  }

  /** Build-once/serve-many lifecycle: write postings, docFreq and
    * corpus-stat tables unless they already exist (idempotent; the
    * [[Dedup.ensureNgramTables]] pattern — idempotency is keyed on
    * table EXISTENCE alone, so dataset identity must ride in the table
    * names). The corpus is read exactly once per build; every
    * subsequent query is three narrow table scans. */
  def ensureBm25Tables(spark: SparkSession, docs: => DataFrame, idCol: String,
                       textCol: String, statsTable: String, dfTable: String,
                       corpusTable: String): Unit = {
    if (!spark.catalog.tableExists(statsTable)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, statsTable)
      termStats(docs, idCol, textCol)
        .write.mode("overwrite").saveAsTable(statsTable)
    }
    if (!spark.catalog.tableExists(dfTable)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, dfTable)
      docFreq(spark.table(statsTable))
        .write.mode("overwrite").saveAsTable(dfTable)
    }
    if (!spark.catalog.tableExists(corpusTable)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, corpusTable)
      corpusStats(docs, textCol)
        .write.mode("overwrite").saveAsTable(corpusTable)
    }
  }

  // ---- streaming maintenance ---------------------------------------
  // The third lifecycle leg (build/serve/STREAM — the n-gram, MinHash
  // and IVFADC discipline): a continuously-arriving corpus appends
  // into a (postings, doc-length) table PAIR instead of refreshing
  // the build-once triple. df and corpus stats are NOT materialized —
  // both derive at serve time (df from the term-filtered postings
  // scan, n_docs/avgdl from one dlTable aggregate), so appends stay
  // per-DOC idempotent with no staged-swap machinery: unlike the
  // graph's out-degree, nothing already written changes when a new
  // document arrives.

  /** Append NEW documents' postings and doc-length rows to the
    * streaming BM25 pair — `statsTable` grows `(doc_id, term, tf,
    * dl)`, `dlTable` grows `(doc_id, dl)` (one row per doc INCLUDING
    * zero-token docs, which have no postings — that row is what keeps
    * the served `n_docs`/`avgdl` equal to [[corpusStats]] over
    * everything absorbed). `dlTable` doubles as the absorbed-doc
    * marker set: replays anti-join away on `doc_id` before a byte of
    * text tokenizes; a crash between the postings append and the
    * marker append re-tokenizes the batch next absorb and the
    * row-level anti-join against the postings' own doc ids drops the
    * duplicates (the [[graft.sources.Warc.appendToCdxTable]]
    * rows-first-markers-second ordering). Returns newly absorbed
    * docs. Serve any time with [[bm25TopKFromTables]]. */
  def appendToBm25Tables(spark: SparkSession, docs: DataFrame,
                         idCol: String, textCol: String,
                         statsTable: String, dlTable: String): Long = {
    val incoming = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .groupBy("doc_id").agg(first(col("__text")).as("__text"))
    // tokenize ONCE into the pinned frame — postings and dl rows
    // both derive from the same token column, so the CPU-heaviest
    // kernel runs one pass per doc, not two
    Shared.scope {
      val fresh = Shared.pin( // two consumers: postings job + dl-marker job
        (if (!spark.catalog.tableExists(dlTable)) incoming
         else incoming.join(spark.table(dlTable).select(col("doc_id")),
           Seq("doc_id"), "left_anti"))
          .select(col("doc_id"), tokensOf("__text").as("__toks")))
      val n = fresh.count()
      if (n == 0L) return 0L
      val postings = termStatsFromTokens(fresh) // the ONE postings shape
      if (!spark.catalog.tableExists(statsTable)) {
        graft.sources.Warehouse.clearOrphanLocation(spark, statsTable)
        postings.write.saveAsTable(statsTable)
      } else {
        postings.join(
            spark.table(statsTable).select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .write.mode("append").saveAsTable(statsTable)
      }
      // markers AFTER postings (crash between = re-tokenize + dedup)
      val dlRows = fresh.select(col("doc_id"),
        size(col("__toks")).as("dl"))
      if (!spark.catalog.tableExists(dlTable)) {
        graft.sources.Warehouse.clearOrphanLocation(spark, dlTable)
        dlRows.write.saveAsTable(dlTable)
      } else {
        dlRows.join(spark.table(dlTable).select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          .write.mode("append").saveAsTable(dlTable)
      }
      n
    }
  }

  /** BM25 served straight off the streaming pair: `df` derives from
    * the postings scan (the term filter pushes through the
    * [[docFreq]] aggregate into the scan — grouping-key filters
    * push below aggregates), corpus stats from ONE `dlTable`
    * aggregate (zero-token docs included, exactly the
    * [[corpusStats]] definition). Identical scores to [[bm25]] /
    * [[bm25FromStats]] over everything absorbed so far. */
  def bm25FromTables(spark: SparkSession, statsTable: String,
                     dlTable: String, queryTerms: Seq[String],
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val corpus = spark.table(dlTable)
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    bm25FromStats(spark.table(statsTable),
      docFreq(spark.table(statsTable)), corpus, queryTerms, k1, b)
  }

  /** [[bm25FromTables]] ranked top-`n` (TakeOrderedAndProject). */
  def bm25TopKFromTables(spark: SparkSession, statsTable: String,
                         dlTable: String, queryTerms: Seq[String],
                         n: Int = 10, k1: Double = 1.2,
                         b: Double = 0.75): DataFrame =
    bm25FromTables(spark, statsTable, dlTable, queryTerms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(n)

  // ---- batch retrieval + ranking evaluation ------------------------

  /** Batch doc-as-query retrieval: EVERY query row gets its top-`n`
    * BM25 hits in one job — the shape an evaluation harness or a
    * dedup-by-retrieval pass runs, instead of one driver round-trip
    * per query. Query docs tokenize to distinct (query, term) rows,
    * postings join them on `term` (one shuffle by term; each query's
    * candidate set is exactly the docs sharing >= 1 term), and ranking
    * is the bounded per-query top-k aggregate — ≤ n rows per
    * (partition, query) shuffle, the [[Similarity.knnJoin]] discipline.
    *
    * Two scale guards on the term side (both plan-asserted):
    *  - Document frequencies are SEMI-JOINED down to the distinct
    *    query-term set before they ride the candidate join: the full
    *    `docFreq` frame is |vocab| rows (100M+ terms on a web corpus —
    *    never broadcastable); the query-term slice is |query terms|
    *    rows and rides the query side of the join UNHINTED — when
    *    queries ≈ corpus (dedup-by-retrieval) that slice is the
    *    vocabulary again, so broadcasting is left to AQE's measured
    *    runtime size, never forced. No vocab-sized relation ever sits
    *    under a forced BroadcastExchange.
    *  - `maxDfFraction` df-caps the candidate join (the Lucene/CCNet
    *    stopword-pruning practice): a term present in more than that
    *    fraction of all documents scores idf ≈ 0 yet would enumerate
    *    one candidate row per (query containing it × document
    *    containing it) — |queries|×|docs| for a true stopword. Capped
    *    terms are dropped BELOW the join, where they can't explode it.
    *    Set 1.0 to disable (then scores are identical to the
    *    single-query [[bm25]], query by query — spec-pinned).
    *
    * Output: `(query_id, doc_id, score, rank)`. */
  def bm25JoinTopK(docs: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, queryIdCol: String,
                   queryTextCol: String, n: Int = 10, k1: Double = 1.2,
                   b: Double = 0.75,
                   excludeSelf: Boolean = false,
                   maxDfFraction: Double = 0.5): DataFrame = {
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0,1], got $maxDfFraction")
    val stats = termStats(docs, idCol, textCol)
    val dfreq = docFreq(stats)
    val cstats = corpusStats(docs, textCol)
    val qterms = tokenRows(queries, queryIdCol, queryTextCol)
      .select(col("doc_id").as("query_id"), col("term")).distinct()
    // query-term df slice: |query terms| rows, df-capped before the
    // candidate join. The one-row corpus stats broadcast supplies the
    // cap threshold; dfreq itself is never broadcast or carried whole.
    val qdf = dfreq
      .join(qterms.select("term").distinct(), Seq("term"), "left_semi")
      .crossJoin(broadcast(cstats.select(col("n_docs").as("__nd"))))
      .filter(col("df") <= lit(maxDfFraction) * col("__nd"))
      .select("term", "df")
    // df rides the (small) query side into the term-keyed join, so the
    // old per-candidate broadcast(dfreq) join disappears entirely.
    // Deliberately NO broadcast hint: for an eval batch the slice is
    // tiny and AQE broadcasts it from its measured runtime size, but
    // for a dedup-by-retrieval pass (every doc a query) the distinct
    // query-term set IS the vocabulary — force-broadcasting it would
    // ship a vocab-sized relation to every executor. Unhinted, the
    // worst case is the term-keyed shuffle join the candidate join
    // below already pays (spec-pinned in both regimes).
    val qtd = qterms.join(qdf, "term")
    val matched = stats.join(qtd, "term")
    val kept =
      if (excludeSelf) matched.filter(col("doc_id") =!= col("query_id"))
      else matched
    val perDoc = kept
      .crossJoin(broadcast(cstats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("score"))
    perDoc.groupBy("query_id")
      .agg(TopK.topK(n)(col("doc_id"), col("score")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Ranking-quality metrics of a retrieval run against a binary
    * relevance set — the eval loop every retrieval stack runs before
    * trusting an index change. Per query: `n_rel` relevant docs,
    * `hits_at_k` of them retrieved at rank ≤ k, `recall_at_k`, and
    * `mrr` (1/first-relevant-rank within k, 0 when none hit). Plain
    * relational algebra: one left join of the relevance set against
    * the run, one aggregate — fully SQL-expressible, which is what
    * lets the whole harness (run + truth + metrics) be cross-engine
    * oracled in q86.
    *
    * Input hygiene (guarded here, not assumed): duplicate
    * `(query_id, doc_id)` rows in `relevant` would inflate `n_rel` and
    * `hits_at_k`, and duplicate pairs in `run` would fan out the left
    * join — so the relevance set is deduplicated and the run collapses
    * to each pair's BEST (minimum) rank before joining. A well-formed
    * top-k run (unique pairs, one rank each) passes through unchanged. */
  /** Hard-negative mining for retriever/reranker training (the DPR
    * recipe, Karpukhin et al. 2020: "BM25 top results that are not
    * relevant make the strongest training negatives"): drop each
    * query's relevant docs from its retrieval run, keep the `nNeg`
    * best-ranked survivors, and re-number them 1..nNeg as `neg_rank`.
    *
    * Scale shape: the anti-join is keyed on (query, doc) pairs of an
    * already-bounded top-k run (|queries|·k rows, never the corpus),
    * and the re-rank window partitions that bounded set per query — ≤ k
    * rows through any one task. Input hygiene mirrors [[evalRanking]]:
    * the relevance set is deduplicated, and the run collapses to each
    * pair's best rank before mining, so duplicate inputs cannot fan
    * out or double-emit. */
  def mineHardNegatives(run: DataFrame, relevant: DataFrame,
                        nNeg: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rel = relevant.select(col("query_id"), col("doc_id")).distinct()
    val best = run.select(col("query_id"), col("doc_id"), col("rank"))
      .groupBy("query_id", "doc_id").agg(min(col("rank")).as("rank"))
    val w = Window.partitionBy("query_id").orderBy(col("rank"))
    best.join(rel, Seq("query_id", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= nNeg)
      .select(col("query_id"), col("doc_id"), col("neg_rank"))
  }

  def evalRanking(run: DataFrame, relevant: DataFrame, k: Int): DataFrame =
    relevant.select(col("query_id"), col("doc_id")).distinct()
      .join(run.select(col("query_id"), col("doc_id"), col("rank"))
          .groupBy("query_id", "doc_id").agg(min(col("rank")).as("rank")),
        Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_rel"),
        sum(when(col("rank").isNotNull && col("rank") <= k, 1L)
          .otherwise(0L)).as("hits_at_k"),
        coalesce(round(lit(1.0) / min(when(col("rank") <= k, col("rank"))), 6),
          lit(0.0)).as("mrr"))
      .withColumn("recall_at_k",
        round(col("hits_at_k").cast("double") / col("n_rel"), 6))
      .select("query_id", "n_rel", "hits_at_k", "recall_at_k", "mrr")

  /** EXACT phrase search — the positional-postings capability
    * bag-of-words BM25 cannot express: `(doc_id, n_matches,
    * first_pos)` for every document containing `phrase` as
    * consecutive tokens (the BM25 tokenization: lower, trim, split on
    * whitespace; positions 0-based). Overlapping occurrences all
    * count; repeated terms in the phrase are legal (the legs
    * self-join).
    *
    * Scale shape: one scan emits positional postings already FILTERED
    * to the phrase's terms (the filter sits under the first
    * exchange — postings for the other 99.99% of the vocabulary
    * never move); each phrase slot `i` becomes a leg keyed
    * `(doc, pos - i)`, and consecutive-position occurrence =
    * equi-join of all legs on `(doc, start)` — |phrase| co-keyed
    * joins, no window, no cartesian, no array materialization per
    * doc. At index-serve scale, feed the legs from a persisted
    * `(term, doc, pos)` postings table instead of the scan — same
    * join, the scan-side term filter becomes partition pruning.
    * Battery q107 oracles occurrences, counts, and first positions
    * against a direct array scan. */
  def phraseMatches(docs: DataFrame, idCol: String, textCol: String,
                    phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val terms = phrase.map(_.toLowerCase(java.util.Locale.ROOT))
    // posexplode the empty-filtered array so positions match tokensOf
    // exactly: trim() only strips spaces, so text leading with a tab or
    // newline would otherwise yield a "" token at pos 0 and shift every
    // reported position by one vs the documented tokenization
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(filter(split(lower(trim(col(textCol))), "\\s+"),
          t => length(t) > 0)).as(Seq("pos", "term")))
      .filter(col("term").isin(terms.distinct: _*))
    val legs = terms.zipWithIndex.map { case (t, i) =>
      toks.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_pos"))
  }
}
