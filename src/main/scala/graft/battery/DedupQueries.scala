package graft
package battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** The dedup and similarity family: exact, MinHash, SimHash, n-gram,
  * winnowing and substring near-dup detection, the ANN indexes (LSH,
  * IVF, PQ, IVFADC) and lexical retrieval (BM25 and its serve/stream
  * lifecycles).
  */
private[graft] object DedupQueries {
  import Common._

  /** Incremental n-gram index tables (q31c): the frozen-order
    * build/append lifecycle of [[graft.operators.Dedup
    * .ensureNgramIndexIncr]]. Same naming rules as
    * [[ngramIndexTables]]. */
  private[graft] def ngramIncrTables(s: SparkSession, dir: String)
      : graft.operators.Dedup.NgramIncrTables = {
    val tag = docsTag(s, dir) + "_n3_t50_incr"
    graft.operators.Dedup.NgramIncrTables(
      s"graft_q31c_inv_$tag", s"graft_q31c_df_$tag",
      s"graft_q31c_pinv_$tag", s"graft_q31c_cands_$tag")
  }

  /** Shared build-once BM25 statistics tables (q54b). */
  private[graft] def bm25Tables(s: SparkSession, dir: String): (String, String, String) = {
    val tag = docsTag(s, dir)
    (s"graft_q54b_stats_$tag", s"graft_q54b_df_$tag", s"graft_q54b_corpus_$tag")
  }

  /** Build-once IVFADC index tables for q88b (corpus = embeddings ∪
    * ann clones): cell-tagged code rows, the centroid frame, and the
    * PQ codebook frame — the three artifacts [[graft.operators.Similarity]]'s
    * persisted lifecycle serves from. The ensureBm25Tables idempotency
    * discipline: keyed on table existence, dataset identity in the
    * names. */
  private def ensureIvfPqTables(s: SparkSession, dir: String): (String, String, String) = {
    val tag = dataTag(s, dir, "embeddings")
    val (idxT, centT, cbT) =
      (s"graft_q88b_idx_$tag", s"graft_q88b_cent_$tag", s"graft_q88b_cb_$tag")
    if (!s.catalog.tableExists(idxT) || !s.catalog.tableExists(centT) ||
        !s.catalog.tableExists(cbT)) {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = emb.union(annClones(emb))
      val cm = graft.operators.Similarity.ivfCentroids(corpus, "vec_id",
        "embedding", nlist = 16)
      val model = graft.operators.Similarity.pqTrain(corpus, "vec_id", "embedding")
      graft.sources.Warehouse.clearOrphanLocation(s, centT)
      graft.operators.Similarity.centroidsToDF(s, cm)
        .write.mode("overwrite").saveAsTable(centT)
      graft.sources.Warehouse.clearOrphanLocation(s, cbT)
      graft.operators.Similarity.pqModelToDF(s, model)
        .write.mode("overwrite").saveAsTable(cbT)
      graft.sources.Warehouse.clearOrphanLocation(s, idxT)
      graft.operators.Similarity.ivfPqEncode(corpus, "vec_id", "embedding", cm, model)
        .write.mode("overwrite").saveAsTable(idxT)
    }
    (idxT, centT, cbT)
  }

  /** The q56/q56b corpus: documents plus docs 0-4 cloned at id+300000
    * with a sub-k marker suffix (contributes no shared 30-gram of its
    * own, so each clone must pair with its source via surviving
    * fingerprints). */
  private def winnowCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    docs.union(docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" winnowed clone mark")).as("text")))
  }

  /** 25 deterministic near-duplicate probe vectors for the ANN oracles
    * (q33/q33b/q35/q35b): clone j∈[0,5) of query q∈[0,5) has id
    * 100000 + 5q + j and the query's embedding with coordinate 0
    * shifted by +0.01·(j+1). The shift is double arithmetic followed by
    * one float cast — bit-identical to DuckDB's
    * `CAST(embedding[1] + 0.01*(j+1) AS FLOAT)` — so both engines score
    * the exact same vectors. Cosines land ≥ ~0.9987 while the corpus
    * max is ≈ 0.6: exact top-5 per query = its clone set. */
  private[graft] def annClones(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(4))).as("j"))
      .select((col("vec_id") * 5 + col("j") + 100000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0,
            (x.cast("double") + (col("j") + 1) * lit(0.01d)).cast("float"))
            .otherwise(x)).as("embedding"))

  /** Recursive-CTE restatement of the winnow gram-hash kernel
    * ([[graft.operators.Sketches.gramHashes]]): normalize, slide a
    * 30-char window, FNV-1a each window char-by-char, mix64-finish —
    * all in HUGEINT modular arithmetic (the SimhashSigCte technique),
    * signed back to BIGINT at the end so comparisons match the
    * engine's Long ordering. Ends in `hs(doc_id, pos, n, gh)` where
    * `n` is the gram count of the doc (window clamping needs it). */
  private val WinnowGramCte =
    """WITH RECURSIVE
       corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 300000 AS doc_id,
                text || ' winnowed clone mark' AS text
         FROM documents WHERE doc_id < 5),
       norm AS (
         SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
         FROM corpus),
       posu AS (
         SELECT doc_id, t, greatest(length(t) - 30 + 1, 1) AS n,
                unnest(range(greatest(length(t) - 30 + 1, 1))) AS p
         FROM norm),
       gpos AS (
         SELECT doc_id, CAST(p AS INTEGER) AS pos, n,
                substr(t, CAST(p AS INTEGER) + 1, least(30, length(t))) AS gram
         FROM posu),
       dgram AS (SELECT DISTINCT gram FROM gpos),
       fnv(gram, i, h) AS (
         SELECT gram, 0, CAST(14695981039346656037 AS HUGEINT) FROM dgram
         UNION ALL
         SELECT gram, i + 1,
                (xor(h, CAST(unicode(substr(gram, i + 1, 1)) AS HUGEINT))
                  * 1099511628211) % 18446744073709551616
         FROM fnv WHERE i < len(gram)),
       fh0 AS (SELECT gram, h FROM fnv WHERE i = len(gram)),
       w1 AS (SELECT gram, (h + 11400714819323198485) % 18446744073709551616 AS z FROM fh0),
       w2 AS (SELECT gram, xor(z, z // 1073741824) AS z FROM w1),
       w3 AS (SELECT gram,
                (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                 + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
              FROM w2),
       w4 AS (SELECT gram, xor(z, z // 134217728) AS z FROM w3),
       w5 AS (SELECT gram,
                (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                 + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
              FROM w4),
       ghash AS (SELECT gram,
                CAST(CASE WHEN xor(z, z // 2147483648) >= 9223372036854775808
                          THEN xor(z, z // 2147483648) - 18446744073709551616
                          ELSE xor(z, z // 2147483648) END AS BIGINT) AS gh
              FROM w5),
       hs AS (SELECT g.doc_id, g.pos, g.n, h.gh
              FROM gpos g JOIN ghash h USING (gram))
    """

  /** Shared q86/q94 retrieval-oracle prefix: near-dup relevance
    * truth (the q31 trigram machinery), per-doc BM25 stats, and the
    * per-query top-20 run `run20` — float op order matches the
    * engine exactly, so rank boundaries are stable cross-engine. */
  private val Bm25Run20Cte =
    """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS nws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(nws) < 3 THEN [array_to_string(nws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(nws) - 1),
                         i -> array_to_string(list_slice(nws, i, i + 2), ' '))) END AS grams
           FROM w),
         p0 AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         rel AS (
           SELECT doc_a AS query_id, doc_b AS doc_id FROM p0
           UNION ALL
           SELECT doc_b AS query_id, doc_a AS doc_id FROM p0),
         toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         qt AS (
           SELECT DISTINCT q.query_id, tr.term
           FROM (SELECT DISTINCT query_id FROM rel) q
           JOIN tr ON tr.doc_id = q.query_id),
         scored AS (
           SELECT qt.query_id, tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + (dl.dl / s.avgdl * 0.75 + 0.25) * 1.2)) AS score
           FROM qt JOIN tf USING (term) JOIN dfq USING (term)
           JOIN dl ON dl.doc_id = tf.doc_id
           CROSS JOIN stats s
           WHERE tf.doc_id != qt.query_id
           GROUP BY qt.query_id, tf.doc_id),
         run20 AS (
           SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id) AS rank
             FROM scored)
           WHERE rank <= 20)"""

  /** Shared CTE prefix computing every document's 64-bit SimHash in
    * DuckDB — an exact restatement of [[graft.operators.Sketches
    * .simhash]]: lowercase whitespace tokens, FNV-1a 64 per token
    * (recursive CTE over character positions), the mix64 finisher, and
    * the per-bit majority vote. Java's wrapping 64-bit arithmetic is
    * emulated in HUGEINT mod 2^64, with each multiply split at 2^32 so
    * no intermediate exceeds 127 bits. Valid because the corpus is
    * pure ASCII at every SF (checked), where DuckDB `lower`/`unicode`
    * agree with Java's per-char toLowerCase/char codes. */
  private val SimhashSigCte =
    """WITH RECURSIVE
       toks AS (
         SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           t -> len(t) > 0)) AS term
         FROM documents),
       dterm AS (SELECT DISTINCT term FROM toks),
       fnv(term, pos, h) AS (
         SELECT term, 0, CAST(14695981039346656037 AS HUGEINT) FROM dterm
         UNION ALL
         SELECT term, pos + 1,
                (xor(h, CAST(unicode(substr(term, pos + 1, 1)) AS HUGEINT)) * 1099511628211)
                  % 18446744073709551616
         FROM fnv WHERE pos < len(term)),
       fh0 AS (SELECT term, h FROM fnv WHERE pos = len(term)),
       m1 AS (SELECT term, (h + 11400714819323198485) % 18446744073709551616 AS z FROM fh0),
       m2 AS (SELECT term, xor(z, z // 1073741824) AS z FROM m1),
       m3 AS (SELECT term,
                (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                 + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
              FROM m2),
       m4 AS (SELECT term, xor(z, z // 134217728) AS z FROM m3),
       m5 AS (SELECT term,
                (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                 + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
              FROM m4),
       fh AS (SELECT term, xor(z, z // 2147483648) AS th FROM m5),
       bits(b, v) AS (
         SELECT 0, CAST(1 AS HUGEINT)
         UNION ALL SELECT b + 1, v * 2 FROM bits WHERE b < 63),
       votes AS (
         SELECT t.doc_id, bits.b, bits.v,
                sum(CASE WHEN (fh.th // bits.v) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         FROM toks t JOIN fh USING (term), bits
         GROUP BY t.doc_id, bits.b, bits.v),
       usig AS (
         SELECT doc_id, sum(CASE WHEN vote > 0 THEN v ELSE 0 END) AS u
         FROM votes GROUP BY doc_id),
       sig AS (
         SELECT d.doc_id,
                CAST(CASE WHEN coalesce(u.u, 0) >= 9223372036854775808
                          THEN coalesce(u.u, 0) - 18446744073709551616
                          ELSE coalesce(u.u, 0) END AS BIGINT) AS simhash
         FROM documents d LEFT JOIN usig u USING (doc_id))
    """

  /** All-pairs word-trigram Jaccard ground truth, shared verbatim by
    * q31 and q31b (the lifecycle variant must answer identically). */
  private val NgramJaccardOracleSql =
    """WITH w AS (
         SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
         FROM documents),
       g AS (
         SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                       i -> array_to_string(list_slice(ws, i, i + 2), ' '))) END AS grams
         FROM w),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS j
         FROM g a JOIN g b ON a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, round(j, 4) AS jaccard
       FROM pairs WHERE j >= 0.5 ORDER BY doc_a, doc_b"""

  /** Exact ANN ground truth under the injected-clone gap argument,
    * shared verbatim by q33/q33b/q35/q35b: the four plans (single-probe
    * LSH, multi-probe LSH, IVF, Lloyd-refined IVF) must all return the
    * same exact top-5 — the clones — because nothing else comes within
    * 0.39 cosine of a query. Clone construction mirrors [[annClones]]
    * bit-for-bit (double shift, one float cast). Rank on the unrounded-
    * to-4dp (6dp) score with vec_id tiebreak, exactly like the Spark
    * side's TopK ordering. */
  private val AnnCloneOracleSql =
    """WITH clones AS (
         SELECT vec_id * 5 + j + 100000 AS vec_id,
                list_transform(range(1, len(embedding) + 1),
                  i -> CAST(CASE WHEN i = 1 THEN embedding[i] + 0.01 * (j + 1)
                            ELSE embedding[i] END AS FLOAT)) AS embedding
         FROM embeddings CROSS JOIN (SELECT unnest(range(5)) AS j)
         WHERE vec_id < 5),
       all_e AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL SELECT vec_id, embedding FROM clones),
       q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, e.vec_id AS corpus_id,
                round(round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 6), 4) AS cosine,
                row_number() OVER (PARTITION BY q.query_id
                  ORDER BY round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 6) DESC, e.vec_id)
                  AS rank
         FROM all_e e JOIN q ON e.vec_id != q.query_id)
       SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
       FROM scored WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Brute-force all-pairs shingle-set Jaccard ground truth over the
    * q22 corpus (originals + 5 appended-words clones), shared verbatim
    * by q22 and q22b: the MinHash+LSH detector's verified output equals
    * this exactly because its candidate recall over the ≥0.8 pairs is
    * total here (30/30) and verification computes true Jaccard. 5-char
    * shingles of normalized text, distinct per doc — the engine's
    * [[graft.operators.Sketches.shingleHashes]] semantics restated on
    * strings. */
  private val MinhashPairsOracleSql =
    """WITH u AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text || ' appended words'
         FROM documents WHERE doc_id < 5),
       n AS (
         SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
         FROM u),
       s AS (
         SELECT doc_id, list_distinct(list_transform(
                  range(1, greatest(length(t) - 4, 1) + 1),
                  i -> substr(t, i, 5))) AS sh
         FROM n),
       p AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         FROM s a JOIN s b ON a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, round(j, 4) AS jaccard
       FROM p WHERE j >= 0.8 ORDER BY doc_a, doc_b"""

  val all: Seq[Query] = Seq(
    // Dedup: exact (hash-groupBy on content digest).
    Query("q19_exact_dedup", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("digest"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("digest")
    },
      """SELECT md5(text) AS digest, min(doc_id) AS keeper, count(1) AS n_copies
         FROM documents GROUP BY 1 ORDER BY digest"""),

    // Dedup: normalization-based (case/punct/whitespace-insensitive).
    Query("q20_norm_dedup", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(Text.fingerprintMd5(col("text")).as("digest"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("digest")
    },
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g'))) AS digest,
                min(doc_id) AS keeper, count(1) AS n_copies
         FROM documents GROUP BY 1 ORDER BY digest"""),

    // Dedup: MinHash+LSH near-dup pairs at the production threshold,
    // over the corpus plus five injected clones (docs 0-4 at id+100000
    // with two words appended). FULLY ORACLED (round 5): the output is
    // the exact-verified pair set — (doc_a, doc_b, true shingle-set
    // jaccard) — so DuckDB's brute-force all-pairs jaccard is a complete
    // oracle as long as LSH candidate recall is 100% on the true pairs,
    // which it is here (30/30 at sf0.01: every true pair ≥ 0.8 collides
    // in ≥1 of the 16 bands; deterministic for fixed data + the engine's
    // seeded coefficients). The engine's internal 64-bit hashes never
    // reach the output; hashed-shingle jaccard equals string-shingle
    // jaccard up to 2^-64 collisions.
    Query("q22_minhash_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val clones = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" appended words")).as("text"))
      graft.operators.Dedup.minhashDedup(docs.union(clones),
          "doc_id", "text", threshold = 0.8, numHashes = 128, bands = 16)
        .orderBy("doc_a", "doc_b")
    },
      MinhashPairsOracleSql),

    // q22 through the documented compute-once sketch lifecycle: the
    // sketch frame is pinned, so banding and both pair branches read
    // the pin (plan-asserted ExistingRDD scans) and the sketch kernel
    // runs once per document instead of up to 3x — the cluster default
    // for corpus-scale dedup. Identical pairs to q22, and oracled by the
    // same brute-force SQL — the lifecycle must not change the answer.
    Query("q22b_minhash_persisted", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val clones = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" appended words")).as("text"))
      val sk = Shared.pin(graft.operators.Dedup.minhashSketches(docs.union(clones),
        "doc_id", "text", numHashes = 128, bands = 16))
      graft.operators.Dedup.minhashDedupFromSketches(sk, threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    },
      // the persisted-sketch lifecycle must return exactly the one-shot
      // q22 answer — the same oracle string, bound once
      MinhashPairsOracleSql),

    // Dedup: per-document 64-bit SimHash fingerprints — FULLY oracled:
    // the DuckDB side restates the exact kernel (FNV-1a per token,
    // mix64 finisher, per-bit majority vote) with 64-bit wrapping
    // emulated in HUGEINT modular arithmetic (the corpus is pure ASCII
    // at every SF, so lower()/char-code semantics agree engine-to-
    // engine).
    Query("q23_simhash", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), graft.operators.Dedup.simhash(col("text")).as("simhash"))
        .orderBy("doc_id")
    },
      SimhashSigCte + "SELECT doc_id, simhash FROM sig ORDER BY doc_id"),

    // Similarity: exact brute-force cosine top-k against vec 0's
    // embedding (oracle via DuckDB list_cosine_similarity).
    Query("q24_knn_brute", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .collect().head.getSeq[Float](0)
      graft.operators.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 10)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      // Rank on round(cosine, 6) like the Spark side so near-ties cannot
      // flip row selection across engines.
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 4) AS cosine
         FROM embeddings, q
         ORDER BY round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 6) DESC, vec_id LIMIT 10"""),

    // Similarity: k-NN join, 5 query vectors × top-5 neighbors.
    Query("q25_knn_join", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.knnJoin(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS corpus_id,
                  round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 4) AS cosine,
                  row_number() OVER (PARTITION BY q.query_id
                    ORDER BY round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 6) DESC, e.vec_id)
                    AS rank
           FROM embeddings e JOIN q ON e.vec_id != q.query_id)
         SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
         FROM scored WHERE rank <= 5 ORDER BY query_id, rank"""),

    // Dedup: exact word-trigram Jaccard via inverted-index equi-join.
    // Deterministically complete (any pair ≥ threshold shares a gram),
    // so it carries a true all-pairs DuckDB oracle — the near-dup
    // family's hash-checked member.
    Query("q31_ngram_jaccard", (s, dir) => {
      graft.operators.Dedup.ngramJaccard(
          t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },
      NgramJaccardOracleSql),

    // q31 through the build-once/serve-many lifecycle, as catalog
    // TABLES (the q40b pattern): the inverted index and the PPJoin
    // candidate pairs are written on first call — the nightly index
    // build, one corpus read — and the timed serve side is exact
    // verification off those tables: no gram kernel, no corpus scan,
    // no candidate self-join (plan-asserted). Under the bench's
    // min-of-2 the second attempt measures pure serving. The round-3/4
    // in-memory persist() variants of this entry measured SLOWER than
    // one-shot at sf0.1 — a cache build is a materialization barrier
    // plus serialization on top of the same work, and the kernels are
    // cheap at this SF — which is exactly why the durable-table
    // lifecycle is the one worth benching: it is what amortizes at
    // 100 TB. Same oracle as q31 — the lifecycle must not change the
    // answer.
    Query("q31b_ngram_persisted", (s, dir) => {
      val (invT, candT) = ngramIndexTables(s, dir)
      graft.operators.Dedup.ensureNgramTables(s,
        t(s, dir, "documents"), "doc_id", "text", invT, candT,
        n = 3, threshold = 0.5)
      graft.operators.Dedup.ngramVerifiedPairs(s.table(invT), s.table(candT),
          threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },
      // the persisted-gram lifecycle must return exactly the one-shot q31
      // answer — the SAME oracle string, bound once so the two can never
      // drift apart
      NgramJaccardOracleSql),

    // Incremental-index lifecycle: the index is BUILT over 60% of the
    // corpus (doc_id % 5 < 3) under a frozen gram order, the other 40%
    // arrives as an APPEND touching only delta-sized rows — and serving
    // must still answer byte-identically to the one-shot q31 oracle
    // over the whole corpus. Pins the frozen-order completeness
    // argument (Dedup.ensureNgramIndexIncr) at driver level; the
    // multi-append + unseen-vocabulary cases are spec-pinned
    // (DedupSpec "incremental n-gram index").
    Query("q31c_ngram_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = ngramIncrTables(s, dir)
      graft.operators.Dedup.ensureNgramIndexIncr(s,
        docs.filter(col("doc_id") % 5 < 3), "doc_id", "text", tbl,
        n = 3, threshold = 0.5)
      graft.operators.Dedup.appendToNgramIndex(s,
        docs.filter(col("doc_id") % 5 >= 3), "doc_id", "text", tbl,
        n = 3, threshold = 0.5)
      graft.operators.Dedup.ngramVerifiedPairs(s.table(tbl.inv),
          s.table(tbl.cands), threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },
      // the incremental build+append lifecycle must return exactly the
      // one-shot q31 answer over the full corpus
      NgramJaccardOracleSql),

    // Dedup: SimHash pigeonhole pair search within Hamming radius 3 —
    // FULLY oracled now that the fingerprints themselves are (q23): the
    // oracle recomputes every signature and brute-forces all pairs at
    // bit_count(xor) <= 3, so the banding's completeness is checked
    // against ground truth on every driver run (DedupSpec's all-pairs
    // reconciliation remains as the spec-level cross-check).
    Query("q32_simhash_pairs", (s, dir) => {
      graft.operators.Dedup.simhashDedup(
          t(s, dir, "documents"), "doc_id", "text", radius = 3)
        .orderBy("doc_a", "doc_b")
    },
      // all-pairs brute force over the recomputed signatures: checks the
      // pigeonhole banding's completeness against ground truth
      SimhashSigCte +
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           ORDER BY doc_a, doc_b"""),

    // Similarity: LSH-bucketed ANN top-k, FULLY ORACLED by a gap
    // argument (the q34 pattern, VERDICT r3 #4): 5 near-identical clones
    // are injected per query vector (cosine ≥ 0.9987 vs organic max
    // ≈ 0.6), so the exact top-5 is the clone set and the LSH answer
    // must equal DuckDB's brute-force window — provided the 4-table
    // 12-plane index recovers every clone (per-clone miss ≈ 1e-5;
    // deterministic for this data + seed, verified at sf0.001/0.01/0.1).
    Query("q33_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.lshTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", dim = 64, k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      AnnCloneOracleSql),

    // q33 with query-side multi-probe: each query also probes every
    // bucket one sign-flip away in each table. Probing is additive, so
    // recall over the injected clones stays 1 and the SAME exact-top-5
    // oracle must hold — multi-probe can change only cost, not answers.
    Query("q33b_lsh_multiprobe", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.lshTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", dim = 64, k = 5,
          probeAdjacent = true)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      AnnCloneOracleSql),

    // Similarity: product-quantization ANN (Jégou et al. 2011 ADC) —
    // the memory-bound scale path: the shortlist scan touches 8-int
    // codes (32x smaller than the raw float[64]s), then an exact-
    // cosine rerank fetches raw vectors for the 50-candidate shortlist
    // alone. Same injected-clone gap argument and EXACT-top-5 oracle
    // as q33/q35: the clones quantize onto (nearly) the query's own
    // codes, so they dominate the ADC shortlist, and the rerank is
    // exact math — quantization error can only cost shortlist recall,
    // which the 0.99-vs-0.6 gap makes impossible here (error bounds
    // spec-pinned; verified at sf0.001/0.01/0.1).
    Query("q84_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.pqTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      AnnCloneOracleSql),

    // Similarity: IVFADC — the q35 coarse quantizer composed with the
    // q84 PQ/ADC scorer (Jégou et al. 2011's full system): each query
    // probes 8 of 16 cells and ADC-scans ONLY those cells' code rows,
    // so per-query cost is O(corpus·nprobe/nlist/32) instead of q84's
    // O(corpus/32). Correctness rides both parents' gap arguments at
    // once: a clone quantizes into (or within a hair of) its query's
    // best cell (q35's probe argument), dominates the probed ADC
    // shortlist (q84's ADC argument), and the exact-cosine rerank is
    // exact math — so the served top-5 is exactly the clone set under
    // the same EXACT oracle. nprobe = nlist ≡ exhaustive ADC is
    // spec-pinned in SimilaritySpec.
    Query("q88_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.ivfPqTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      AnnCloneOracleSql),

    // q88 through the persisted lifecycle: both quantizers and the
    // cell-tagged code table served from build-once catalog tables
    // (centroid frame via centroidsFromDF, codebooks via
    // pqModelFromDF) — the one-shot q88 rebuilds all three per call,
    // so at index scale this split is the difference between a query
    // and a rebuild. Same EXACT oracle: the serve path is identical
    // math over identical persisted state (spec-pinned equivalence in
    // SimilaritySpec's IVFADC lifecycle test).
    Query("q88b_ivfpq_persisted", (s, dir) => {
      val (idxT, centT, cbT) = ensureIvfPqTables(s, dir)
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cm = graft.operators.Similarity.centroidsFromDF(s.table(centT))
      val model = graft.operators.Similarity.pqModelFromDF(s.table(cbT))
      graft.operators.Similarity.ivfPqTopKFromIndex(s.table(idxT), cm,
          emb.union(annClones(emb)), emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", model, k = 5, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      // the persisted lifecycle must return exactly the one-shot q88
      // answer — the same oracle string, bound once
      AnnCloneOracleSql),

    // q88's STREAMED sibling (the q109 discipline for the ANN
    // family — the last index family to get the streaming leg): the
    // corpus + clones stream in 3 micro-batches into a persisted
    // IVFADC code table via per-vector-idempotent appends, encoding
    // against the FROZEN q88b centroids/codebooks (an ANN model is
    // trained once; only the code table grows). Serving off the
    // streamed table must answer the q88 exact-top-5 clone oracle
    // verbatim — streamed codes are bit-identical to a one-shot
    // encode (spec-pinned, with replay idempotence).
    Query("q88c_ivfpq_stream", (s, dir) => {
      import s.implicits._
      val (_, centT, cbT) = ensureIvfPqTables(s, dir)
      val tbl = s"graft_q88c_idx_${dataTag(s, dir, "embeddings")}"
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      if (!s.catalog.tableExists(tbl)) {
        val all = emb.union(annClones(emb)).as[(Long, Seq[Float])].collect()
        streamRows(s, all) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingIvfPqIndex(
            in.toDF("vec_id", "embedding"), "vec_id", "embedding",
            tbl, centT, cbT, ckpt)
        }
        s.catalog.refreshTable(tbl)
      }
      val cm = graft.operators.Similarity.centroidsFromDF(s.table(centT))
      val model = graft.operators.Similarity.pqModelFromDF(s.table(cbT))
      graft.operators.Similarity.ivfPqTopKFromIndex(s.table(tbl), cm,
          emb.union(annClones(emb)), emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", model, k = 5, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      // q88c: identical semantics again — the streamed append changes
      // where the codes come from, not one bit of their content.
      AnnCloneOracleSql),

    // Similarity: IVF coarse-quantized ANN, 5 queries probing 8 of 16
    // cells — same injected-clone gap argument and oracle as q33: a
    // clone is near-identical to its query, so it quantizes into (or
    // within a hair of) the query's own best cell, well inside the
    // 8-cell probe set, and the served top-5 is exactly the clone set.
    Query("q35_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.ivfTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      AnnCloneOracleSql),

    // q35 with 2 Lloyd refinement rounds on the centroid seeds: the
    // index build changes (distributed per-(cell,dim) means, decimal
    // partial sums), the serving contract must not — same oracle.
    Query("q35b_ivf_lloyd", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.Similarity.ivfTopK(emb.union(annClones(emb)),
          emb.filter(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8,
          lloydIters = 2)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    },
      AnnCloneOracleSql),

    // Similarity: embedding near-dup pairs with multi-table LSH over
    // deterministically injected near-duplicate vectors. Oracled: the
    // corpus has a wide similarity gap (max organic cosine ≈ 0.6 vs the
    // 0.99 threshold), so the exact-verified LSH output equals the
    // all-pairs ground truth (per-pair miss probability ~1e-6 for the
    // near-identical clones under 4 independent 12-plane tables).
    Query("q34_embedding_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val dups = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      graft.operators.Similarity.embeddingDedup(emb.union(dups),
          "vec_id", "embedding", dim = 64, threshold = 0.99)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("id_a", "id_b")
    },
      """WITH clones AS (
           SELECT vec_id + 100000 AS vec_id,
                  list_transform(range(1, len(embedding) + 1),
                    i -> CAST(CASE WHEN i = 1 THEN embedding[i] + 0.01 ELSE embedding[i] END AS FLOAT)) AS embedding
           FROM embeddings WHERE vec_id < 5),
         all_e AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id, embedding FROM clones)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                -- double rounding (6dp then 4dp) matches the Spark leg:
                -- embeddingDedup emits round(cosine, 6), q34 re-rounds to 4
                round(round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 6), 4) AS cosine
         FROM all_e a JOIN all_e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
         ORDER BY id_a, id_b"""),

    // Winnowing (MOSS) fingerprint pair detection: docs 0-4 cloned at
    // id+300000 with a short (< k chars, so it contributes no shared
    // gram of its own) marker appended; pairs = docs sharing ≥1 winnow
    // fingerprint at k=30, w=8. FULLY oracled (since round 8, the
    // q23/q32 pattern): the DuckDB side restates the gram-hash kernel
    // (FNV-1a over each 30-char window + mix64, in HUGEINT modular
    // arithmetic — WinnowGramCte) and replays the rolling-min pick in
    // SQL. Rightmost-min tie-breaking needs no emulation: tied window
    // positions share the hash VALUE, so each document's fingerprint
    // set is exactly its distinct per-window minima. q56b pins the
    // positional hash sequence itself row-by-row.
    Query("q56_winnow_pairs", (s, dir) => {
      val fp = winnowCorpus(s, dir)
        .select(col("doc_id"),
          explode(Text.winnowFingerprints(col("text"), k = 30, w = 8)).as("fp"))
        .distinct()
      fp.select(col("fp"), col("doc_id").as("doc_a"))
        .join(fp.select(col("fp"), col("doc_id").as("doc_b")), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .orderBy("doc_a", "doc_b")
    },
      // q56: replay the winnow selection in SQL over independently
      // recomputed gram hashes — each window [s, min(s+7, n-1)] takes
      // its minimum (rightmost-min tie-breaking is value-invisible),
      // distinct minima per doc are the fingerprints, pairs share >= 1.
      WinnowGramCte +
        """, wnd AS (
             SELECT doc_id, n, unnest(range(greatest(n - 8, 0) + 1)) AS s
             FROM (SELECT DISTINCT doc_id, n FROM gpos)),
           mins AS (
             SELECT w.doc_id, w.s, min(h.gh) AS fp
             FROM wnd w JOIN hs h ON h.doc_id = w.doc_id
               AND h.pos >= w.s AND h.pos <= least(w.s + 7, w.n - 1)
             GROUP BY w.doc_id, w.s),
           fps AS (SELECT DISTINCT doc_id, fp FROM mins)
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
           ORDER BY doc_a, doc_b"""),

    // The positional 30-gram hash sequence q56's winnow selects from,
    // emitted per (doc, pos) over the same clone-augmented corpus —
    // the side entry that lets the q56 oracle replay the selection
    // from inputs DuckDB has independently recomputed from the raw
    // text (hash kernel restated in SQL, never trusted from the
    // engine).
    Query("q56b_winnow_grams", (s, dir) =>
      winnowCorpus(s, dir)
        .select(col("doc_id"), Text.gramHashes(col("text"), k = 30).as("ghs"))
        .select(col("doc_id"), posexplode(col("ghs")).as(Seq("pos", "gh")))
        .orderBy("doc_id", "pos"),
      // q56b: the positional gram-hash sequence itself, row-by-row
      WinnowGramCte + "SELECT doc_id, pos, gh FROM hs ORDER BY doc_id, pos"),

    // Dedup: the near-dup corpus filter over the q22 corpus — survivors
    // per source (with an id checksum so the oracle pins the exact
    // survivor SET, not just counts) after dropping the higher-id side
    // of every verified pair. Oracled by the same recall-is-total
    // argument as q22: the detected pairs ARE the brute-force ≥0.8
    // pairs, so DuckDB can restate the whole filter.
    Query("q57_drop_near_dups", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val clones = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"), col("source"),
          concat(col("text"), lit(" appended words")).as("text"))
      graft.operators.Dedup.dropNearDuplicates(docs.union(clones),
          "doc_id", "text", threshold = 0.8)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    },
      // q57: the whole near-dup corpus filter restated in SQL — brute-
      // force ≥0.8 pair set (see MinhashPairsOracleSql), drop every
      // higher-id pair member, survivors per source with an id checksum.
      """WITH u AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, source, text || ' appended words'
           FROM documents WHERE doc_id < 5),
         n AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
           FROM u),
         s AS (
           SELECT doc_id, list_distinct(list_transform(
                    range(1, greatest(length(t) - 4, 1) + 1),
                    i -> substr(t, i, 5))) AS sh
           FROM n),
         drops AS (
           SELECT DISTINCT b.doc_id
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                 >= 0.8)
         SELECT source, count(1) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM u WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         GROUP BY source ORDER BY source"""),

    // Dedup: the corpus-filter form — survivors per source after exact
    // dedup over a corpus with injected verbatim copies.
    Query("q37_dedup_corpus", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 200000).as("doc_id"), col("source"), col("text"))
      graft.operators.Dedup.dropExactDuplicates(docs.union(copies), "doc_id", "text")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    },
      """WITH u AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 200000, source, text FROM documents WHERE doc_id < 50),
         k AS (SELECT md5(text) AS d, min(doc_id) AS keeper FROM u GROUP BY 1)
         SELECT source, count(1) AS n_docs
         FROM u JOIN k ON u.doc_id = k.keeper
         GROUP BY source ORDER BY source"""),

    // Lexical retrieval: BM25 top-20 for a bag-of-words query —
    // tf kept narrow (query terms only, filtered inside the token
    // explode), corpus stats broadcast one-row frames, final rank a
    // TakeOrderedAndProject. Oracle restates the formula in SQL.
    Query("q54_bm25", (s, dir) => {
      graft.operators.Retrieval.bm25TopK(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("the", "data", "model"), n = 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id"))
    },
      // q54: the BM25 formula restated in SQL (ln == Spark's log, both
      // natural); top-20 selected on the UNROUNDED score with doc_id
      // tiebreak in both engines, rounded only for the compare.
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('the', 'data', 'model') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id)
         SELECT doc_id, round(score, 4) AS score
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
         ORDER BY score DESC, doc_id"""),

    // BM25 build/serve split: postings + docFreq + corpus stats built
    // once into catalog tables (the q31b/q40b nightly-index lifecycle),
    // the query served entirely off them — the serve plan scans only
    // the stats tables (plan-asserted in PlanSpec) with the query-term
    // filter pushed into the postings scan. Same oracle as q54: the
    // lifecycle must not change the scores.
    Query("q54b_bm25_persisted", (s, dir) => {
      val (statsT, dfT, corpT) = bm25Tables(s, dir)
      graft.operators.Retrieval.ensureBm25Tables(s,
        t(s, dir, "documents"), "doc_id", "text", statsT, dfT, corpT)
      graft.operators.Retrieval.bm25TopKFromStats(
          s.table(statsT), s.table(dfT), s.table(corpT),
          Seq("the", "data", "model"), n = 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id"))
    },
      // q54b: identical oracle to q54 — the build/serve lifecycle must
      // not change a single score.
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('the', 'data', 'model') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id)
         SELECT doc_id, round(score, 4) AS score
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
         ORDER BY score DESC, doc_id"""),

    // The retrieval family's STREAMING leg (Maintenance.streamingBm25
    // → Retrieval.appendToBm25Tables — closing its build/serve/stream
    // triad like n-gram/MinHash/IVFADC/graph before it): documents
    // arrive in 3 micro-batches over MemoryStream, each absorbing
    // per-doc-idempotently into the (postings, doc-length) pair — df
    // and corpus stats are DERIVED at serve time (term-filtered
    // postings scan + one dl aggregate), so nothing already written
    // ever changes; a whole-corpus replay absorb must then be a
    // ZERO-doc no-op (required in-entry), and the served top-20
    // answers the q54 oracle VERBATIM — streamed arrival must not
    // move one score.
    Query("q139_bm25_stream", (s, dir) => {
      import s.implicits._
      val statsT = s"graft_q139_stats_${docsTag(s, dir)}"
      val dlT = s"graft_q139_dl_${docsTag(s, dir)}"
      if (!s.catalog.tableExists(dlT)) {
        val rows = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().sortBy(_._1)
        streamRows(s, rows) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingBm25(
            in.toDF("doc_id", "text"), "doc_id", "text",
            statsT, dlT, ckpt)
        }
      }
      val replayed = graft.operators.Retrieval.appendToBm25Tables(s,
        t(s, dir, "documents"), "doc_id", "text", statsT, dlT)
      require(replayed == 0L,
        s"replay absorb must be a no-op, absorbed $replayed docs")
      graft.operators.Retrieval.bm25TopKFromTables(s, statsT, dlT,
          Seq("the", "data", "model"), n = 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("doc_id"))
    },
      // q139: identical oracle to q54 — streamed arrival must not move
      // one score (df/corpus stats derive at serve time, so the pair of
      // tables answers exactly like the one-shot formula).
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('the', 'data', 'model') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id)
         SELECT doc_id, round(score, 4) AS score
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
         ORDER BY score DESC, doc_id"""),

    // Hybrid retrieval: BM25 top-20 (q54's query) fused with
    // brute-force cosine top-20 (q24's probe) by reciprocal-rank
    // fusion — the lexical+semantic composition every RAG-ish corpus
    // pipeline runs. Each leg is ranked under the oracle discipline
    // (rounded score, id tiebreak) so ranks — and therefore the fused
    // 1/(60+rank) sums — are engine-exact. The two legs share the
    // doc_id == vec_id convention of the testdata tables.
    Query("q68_hybrid_rrf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = graft.operators.Retrieval.bm25TopK(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("the", "data", "model"), n = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("score"), 4).desc, col("doc_id"))))
        .select("doc_id", "rank")
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .collect().head.getSeq[Float](0)
      val sem = graft.operators.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", qv, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("cosine"), 6).desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, sem), "doc_id", "rank")
        .orderBy(col("rrf_score").desc, col("doc_id"))
    },
      // q68: both legs restated (q54's BM25 CTE chain + q24's cosine
      // probe), ranked by (rounded score, id), fused as 1/(60+rank)
      // sums. The per-doc sum has at most two commutative terms, so the
      // doubles are engine-exact unrounded.
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                      t -> len(t) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr
                WHERE term IN ('the', 'data', 'model') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id),
         lex AS (
           SELECT doc_id,
                  row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank
           FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         semtop AS (
           SELECT vec_id, CAST(list_cosine_similarity(embedding, qv) AS DOUBLE) AS cosine
           FROM embeddings, q
           ORDER BY round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 6) DESC, vec_id
           LIMIT 20),
         sem AS (
           SELECT vec_id AS doc_id,
                  row_number() OVER (ORDER BY round(cosine, 6) DESC, vec_id) AS rank
           FROM semtop),
         unioned AS (SELECT doc_id, rank FROM lex
                     UNION ALL SELECT doc_id, rank FROM sem)
         SELECT doc_id, sum(1.0 / (60 + rank)) AS rrf_score,
                count(1) AS n_lists
         FROM unioned GROUP BY doc_id
         ORDER BY rrf_score DESC, doc_id"""),

    // Streaming near-dup index maintenance e2e: the whole corpus
    // DELIVERED AS A STREAM in 3 micro-batches through
    // Maintenance.streamingNgramIndex (replay-safe via appendToNgram-
    // Index's pinv commit-marker protocol), then served from the same
    // ngramVerifiedPairs surface every batch consumer uses — and the
    // answer must equal the from-scratch batch build over the corpus:
    // the q31 all-pairs oracle, verbatim. The driver-side collect
    // feeds the MemoryStream test harness (no Kafka wire in the
    // sandbox — the S5 situation), not the operator: on a real
    // cluster the stream IS the source and each micro-batch stays
    // distributed end-to-end.
    Query("q83_stream_neardup", (s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val tbl = graft.operators.Dedup.NgramIncrTables(
        s"graft_q83_inv_$tag", s"graft_q83_dfreq_$tag",
        s"graft_q83_pinv_$tag", s"graft_q83_cands_$tag")
      if (!s.catalog.tableExists(tbl.cands)) {
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .as[(Long, String)].collect()
        streamRows(s, docs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingNgramIndex(
            in.toDF("doc_id", "text"), "doc_id", "text", tbl, ckpt)
        }
        Seq(tbl.inv, tbl.dfreq, tbl.pinv, tbl.cands)
          .foreach(s.catalog.refreshTable)
      }
      graft.operators.Dedup.ngramVerifiedPairs(
          s.table(tbl.inv), s.table(tbl.cands), threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },
      // the STREAMED index maintenance loop must too — same oracle again
      NgramJaccardOracleSql),

    // Retrieval evaluation harness e2e: every doc with a verified
    // near-dup becomes a QUERY (its own text as the bag of words), the
    // near-dup partners are the binary relevance truth, bm25JoinTopK
    // retrieves top-20 per query in one job, and evalRanking scores
    // recall@10 / MRR per query. Fully oracled: DuckDB independently
    // recomputes the pair truth (the q31 machinery), the per-query
    // BM25 ranking (the q54 formula, same float op order), and the
    // metrics. Near-dup partners share most of their text, so they
    // score far above organic docs — rank boundaries are not
    // float-tie sensitive.
    Query("q86_retrieval_eval", (s, dir) => {
      // fanOut: same single-task-scan story as q94
      val docs = fanOut(t(s, dir, "documents").select("doc_id", "text"),
        "doc_id")
      val (invT, candT) = ngramIndexTables(s, dir)
      graft.operators.Dedup.ensureNgramTables(s, docs, "doc_id", "text",
        invT, candT, n = 3, threshold = 0.5)
      val pairs = graft.operators.Dedup.ngramVerifiedPairs(
        s.table(invT), s.table(candT), threshold = 0.5)
      // round-17: the relevance set is referenced from several plan
      // branches (query derivation + the eval join) and its old
      // self-union form evaluated the verify join once PER DIRECTION
      // PER BRANCH; the explode mirrors in one pass and the pin holds
      // the |near-dup pairs|-bounded frame (truth-set-sized, never
      // corpus-sized) so the verify join runs once per attempt.
      val rel = Shared.pin(pairs.select(explode(array(
          struct(col("doc_a").as("query_id"), col("doc_b").as("doc_id")),
          struct(col("doc_b").as("query_id"), col("doc_a").as("doc_id"))))
          .as("p"))
        .select(col("p.query_id"), col("p.doc_id")))
      val queries = docs.join(
        rel.select(col("query_id").as("doc_id")).distinct(), Seq("doc_id"))
      // df-cap disabled HERE only: the synthetic corpus draws from a
      // 31-term vocabulary where 30 terms sit in >50% of docs — by df
      // they all look like stopwords, yet they are the only content
      // there is, so any cap guts the ranking. Real Zipfian corpora
      // keep the 0.5 production default (capped path spec-pinned in
      // RetrievalSpec: stopword pruning below the join + plan shape).
      val run = graft.operators.Retrieval.bm25JoinTopK(docs, "doc_id", "text",
        queries, "doc_id", "text", n = 20, excludeSelf = true,
        maxDfFraction = 1.0)
      graft.operators.Retrieval.evalRanking(run, rel, k = 10)
        .orderBy("query_id")
    },
      // q86: pair truth (q31 machinery) + per-query BM25 run (q54
      // formula, engine float-op order mirrored) + metrics, all
      // recomputed from the raw corpus. The run disables the df-cap
      // (see the q86 entry comment — this fixture's 31-term vocabulary
      // makes df a content signal, not a stopword signal), so the
      // oracle applies none either.
      Bm25Run20Cte +
        """,
         m AS (
           SELECT rel.query_id,
                  CAST(count(1) AS BIGINT) AS n_rel,
                  CAST(sum(CASE WHEN r.rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
                  coalesce(round(1.0 / min(CASE WHEN r.rank <= 10 THEN r.rank END), 6),
                           0.0) AS mrr
           FROM rel LEFT JOIN run20 r
             ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
           GROUP BY rel.query_id)
         SELECT query_id, n_rel, hits_at_k,
                round(CAST(hits_at_k AS DOUBLE) / n_rel, 6) AS recall_at_k, mrr
         FROM m ORDER BY query_id"""),

    // Hard-negative mining off the same harness (the DPR training
    // recipe): each query's top-ranked BM25 hits that are NOT near-dup
    // relevant, re-numbered 1..5 — the training pairs a dense
    // retriever is fit on. Anti-join + bounded re-rank over the
    // already-bounded run; integer-only output so the oracle
    // hash-matches with no float exposure.
    Query("q94_hard_negatives", (s, dir) => {
      // fanOut on docs measured a wash here (2.4-3.1 s vs 2.6 s — the
      // enriched bm25 side re-derives and exchanges early anyway);
      // left on the plain scan
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val (invT, candT) = ngramIndexTables(s, dir)
      graft.operators.Dedup.ensureNgramTables(s, docs, "doc_id", "text",
        invT, candT, n = 3, threshold = 0.5)
      val pairs = graft.operators.Dedup.ngramVerifiedPairs(
        s.table(invT), s.table(candT), threshold = 0.5)
      // round-17: explode-mirror + pin — same rationale as q86
      // (the old self-union re-ran the verify join per direction per
      // consuming branch; rel is truth-set-sized)
      val rel = Shared.pin(pairs.select(explode(array(
          struct(col("doc_a").as("query_id"), col("doc_b").as("doc_id")),
          struct(col("doc_b").as("query_id"), col("doc_a").as("doc_id"))))
          .as("p"))
        .select(col("p.query_id"), col("p.doc_id")))
      // Round-17 de-noise (r16 VERDICT #5): the raw 31-term vocabulary
      // made EVERY query match EVERY doc, so the candidate join was
      // |queries|×|docs| no matter the plan and the bench figure was
      // data-degenerate noise (historic spread 4.8-9.3 s). The
      // RETRIEVAL side now scores an ENRICHED text — each word gets a
      // doc-group suffix (wordxG, G = doc_id%16), i.e. ~500 distinct
      // terms each in ~1/16 of the corpus — so the posting join is
      // sparse and the figure measures the real mining path. The
      // df-cap stays DISABLED (maxDfFraction=1.0): the fix is a
      // richer vocabulary, not a cap that would mask it. The
      // NEAR-DUP TRUTH is untouched (original text, the shared
      // trigram tables); the oracle enriches identically in SQL.
      val enriched = docs.select(col("doc_id"), concat_ws(" ",
        transform(split(col("text"), " "), w =>
          concat(w, lit("x"), pmod(col("doc_id"), lit(16)).cast("string"))))
        .as("text"))
      // a deterministic quarter of the truth queries (kept from the
      // degenerate era; the oracle applies the same filter on run20)
      val queries = enriched.join(
        rel.select(col("query_id").as("doc_id")).distinct()
          .filter(pmod(col("doc_id"), lit(4)) === 0), Seq("doc_id"))
      val run = graft.operators.Retrieval.bm25JoinTopK(enriched, "doc_id",
        "text", queries, "doc_id", "text", n = 20, excludeSelf = true,
        maxDfFraction = 1.0)
      graft.operators.Retrieval.mineHardNegatives(run, rel, nNeg = 5)
        .orderBy("query_id", "neg_rank")
    },
      // q94: the BM25 run over the GROUP-ENRICHED text (wordxG,
      // G = doc_id%16 — the round-17 de-noise; truth pairs stay on the
      // original text) with relevant pairs anti-joined away and the
      // survivors re-ranked 1..5 per query.
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS nws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(nws) < 3 THEN [array_to_string(nws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(nws) - 1),
                         i -> array_to_string(list_slice(nws, i, i + 2), ' '))) END AS grams
           FROM w),
         p0 AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         rel AS (
           SELECT doc_a AS query_id, doc_b AS doc_id FROM p0
           UNION ALL
           SELECT doc_b AS query_id, doc_a AS doc_id FROM p0),
         toks AS (
           SELECT doc_id, list_transform(
                    list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> len(t) > 0),
                    t -> t || 'x' || CAST(doc_id % 16 AS VARCHAR)) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
         stats AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         tr AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM tr GROUP BY doc_id, term),
         dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         qt AS (
           SELECT DISTINCT q.query_id, tr.term
           FROM (SELECT DISTINCT query_id FROM rel) q
           JOIN tr ON tr.doc_id = q.query_id),
         scored AS (
           SELECT qt.query_id, tf.doc_id,
                  sum(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2) /
                      (tf.tf + (dl.dl / s.avgdl * 0.75 + 0.25) * 1.2)) AS score
           FROM qt JOIN tf USING (term) JOIN dfq USING (term)
           JOIN dl ON dl.doc_id = tf.doc_id
           CROSS JOIN stats s
           WHERE tf.doc_id != qt.query_id
           GROUP BY qt.query_id, tf.doc_id),
         run20 AS (
           SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id) AS rank
             FROM scored)
           WHERE rank <= 20)""" +
        """,
         neg AS (
           SELECT r.query_id, r.doc_id, r.rank FROM run20 r
           WHERE r.query_id % 4 = 0
             AND NOT EXISTS (SELECT 1 FROM rel
                             WHERE rel.query_id = r.query_id
                               AND rel.doc_id = r.doc_id)),
         nr AS (
           SELECT query_id, doc_id,
                  CAST(row_number() OVER (PARTITION BY query_id
                                          ORDER BY rank) AS INTEGER) AS neg_rank
           FROM neg)
         SELECT query_id, doc_id, neg_rank
         FROM nr WHERE neg_rank <= 5
         ORDER BY query_id, neg_rank"""),

    // SemDeDup-style semantic dedup: k-means cells scope the pair
    // candidates instead of q34's data-oblivious LSH buckets. Same
    // clone fixture and the same FULL brute-force oracle as q34 — the
    // gap argument (organic cosine ceiling ~0.6 vs threshold 0.99)
    // plus the spec-pinned clone co-location make the cell-scoped
    // output equal the all-pairs truth.
    Query("q80_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val dups = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      graft.operators.Similarity.semanticDedupPairs(emb.union(dups),
          "vec_id", "embedding", nlist = 16, lloydIters = 2, threshold = 0.99)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("id_a", "id_b")
    },
      // q80: the q34 brute-force oracle verbatim — the cell-scoped
      // algorithm must reproduce the all-pairs truth on this fixture
      // (soundness by construction; completeness by spec-pinned clone
      // co-location).
      """WITH clones AS (
           SELECT vec_id + 100000 AS vec_id,
                  list_transform(range(1, len(embedding) + 1),
                    i -> CAST(CASE WHEN i = 1 THEN embedding[i] + 0.01 ELSE embedding[i] END AS FLOAT)) AS embedding
           FROM embeddings WHERE vec_id < 5),
         all_e AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id, embedding FROM clones)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 6), 4) AS cosine
         FROM all_e a JOIN all_e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
         ORDER BY id_a, id_b"""),

    // C4-style span dedup: scrub every repeated 10-word aligned span
    // (first corpus occurrence survives) and reassemble the documents
    // — the repeated-passage filter that EDITS docs instead of
    // dropping them. ~10% of this corpus's spans are repeats at every
    // SF, so the rewrite is non-trivial.
    Query("q71_span_dedup", (s, dir) =>
      graft.operators.Dedup.dedupSpans(
          t(s, dir, "documents"), "doc_id", "text", k = 10)
        .orderBy("doc_id"),
      // q71: same normalization, 10-word aligned spans, keep = first
      // (doc_id, seg_no) occurrence per distinct span (row_number where
      // the engine elects min-struct winners — same total order),
      // surviving spans rejoined in seg_no order.
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         seg AS (
           SELECT doc_id,
                  unnest(list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS INT)),
                    i -> {'seg_no': i,
                          'seg': array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ')})) AS s
           FROM w),
         segs AS (SELECT doc_id, s.seg_no AS seg_no, s.seg AS seg FROM seg),
         marked AS (
           SELECT doc_id, seg_no, seg,
                  row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
           FROM segs)
         SELECT doc_id, CAST(count(1) AS BIGINT) AS n_spans,
                CAST(count(1) FILTER (rn = 1) AS BIGINT) AS n_kept,
                coalesce(array_to_string(list(seg ORDER BY seg_no) FILTER (rn = 1), ' '),
                         '') AS text
         FROM marked GROUP BY doc_id ORDER BY doc_id"""),

    // Unaligned exact-substring dedup (Lee et al. 2021 semantics at
    // word granularity, k=3 so the 31-term synthetic vocabulary
    // actually collides): any 3-token window seen earlier in the
    // corpus — (doc_id, pos) order — is a repeat, covered positions
    // drop, first copies survive verbatim. The engine shuffles 8-byte
    // gram hashes; the oracle keys by the gram strings themselves, so
    // a hash-vs-content divergence (collision or kernel drift) fails
    // the gate. Output pins the rebuilt text by md5 plus the exact
    // drop count per doc.
    Query("q98_substring_dedup", (s, dir) =>
      graft.operators.Dedup.dedupSubstrings(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", k = 3)
        .select(col("doc_id"), md5(col("text")).as("kept_md5"),
          col("n_dropped"))
        .orderBy("doc_id"),
      // q98: the whole unaligned-substring pipeline re-derived keyed by
      // gram STRINGS — first occurrence via row_number over (doc_id,
      // pos), coverage = repeated window start + 0..k-1, survivors
      // reassembled from the ORIGINAL-case tokens in position order
      // (the engine hashes lowercased grams but splices original
      // tokens; whitespace splits are case-invariant so positions
      // align).
      """WITH wl AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              t -> len(t) > 0) AS ws,
                  list_filter(string_split_regex(text, '\s+'),
                              t -> len(t) > 0) AS wso
           FROM documents),
         g AS (SELECT doc_id, unnest(range(1, len(ws) - 1)) AS pos, ws
               FROM wl WHERE len(ws) >= 3),
         gr AS (SELECT doc_id, pos,
                       array_to_string(list_slice(ws, pos, pos + 2), ' ') AS gram
                FROM g),
         rep AS (SELECT doc_id, pos FROM (
                   SELECT doc_id, pos,
                          row_number() OVER (PARTITION BY gram
                                             ORDER BY doc_id, pos) AS rn
                   FROM gr) WHERE rn > 1),
         cov AS (SELECT DISTINCT rep.doc_id, rep.pos + r.range AS cp
                 FROM rep, range(0, 3) r),
         tk AS (SELECT doc_id, pos, wso[pos] AS tkn FROM (
                  SELECT doc_id, unnest(range(1, len(wso) + 1)) AS pos, wso
                  FROM wl)),
         sel AS (SELECT t.doc_id, t.pos, t.tkn, (c.cp IS NOT NULL) AS dr
                 FROM tk t LEFT JOIN cov c
                   ON c.doc_id = t.doc_id AND c.cp = t.pos),
         agg AS (SELECT doc_id,
                   coalesce(string_agg(tkn, ' ' ORDER BY pos)
                            FILTER (WHERE NOT dr), '') AS kept,
                   CAST(count(*) FILTER (WHERE dr) AS BIGINT) AS n_dropped
                 FROM sel GROUP BY doc_id)
         SELECT d.doc_id, md5(coalesce(a.kept, '')) AS kept_md5,
                CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id"""),

    // Image near-dup via perceptual hashing: synthesize textured
    // grayscale rasters (quadratic pixel formula — linear gradients
    // would make every dHash identical), PNG-encode, decode through
    // the REAL codec, dHash, and radius-search via pigeonhole banding
    // (Dedup.signaturePairs — never all-pairs). Ids < 25 get a
    // +1-brightness-offset clone at id+100000: measured clone
    // distance ≤ 6 bits, nearest non-clone ≥ 14, so radius 6 returns
    // exactly the clone pairs. The oracle replays pixels, sampling
    // grid, bit construction, and Hamming filter closed-form.
    Query("q102_image_dhash", (s, dir) => {
      import s.implicits._
      // fanOut: the PNG encode + decode kernels ran inside the
      // one-row-group scan's single task (see fanOut scaladoc)
      val media = fanOut(t(s, dir, "documents").select(col("doc_id")),
          "doc_id").as[Long]
        .flatMap { id =>
          val w = 16 + (id % 8).toInt
          val h = 12 + (id % 5).toInt
          val c = 1 + (id % 5)
          def row(mid: Long, off: Long) = graft.operators.Multimodal.MediaRow(
            mid,
            graft.operators.Multimodal.Codec.encodePng(
              graft.operators.Multimodal.Codec.grayImage(w, h)(
                (x, y) => ((3L * x * x + 7L * y * y + c * x * y + 29L * id
                  + off) % 256L).toInt)),
            "png")
          if (id < 25) Seq(row(id, 0L), row(id + 100000L, 1L))
          else Seq(row(id, 0L))
        }
      val sigs = graft.operators.Multimodal.imageDHash(media)
        .select(col("media_id").as("doc_id"), col("dhash").as("sig"))
      graft.operators.Dedup.signaturePairs(sigs, radius = 6)
        .orderBy("doc_a", "doc_b")
    },
      // q102: the perceptual-hash pipeline replayed closed-form — the
      // same quadratic pixel formula, the same floor-division sampling
      // grid, the same bit order (bit gy·8+gx, HUGEINT powers mapped to
      // the signed 64-bit space exactly like the engine's Long), and an
      // all-pairs Hamming filter (the oracle can afford what the engine
      // bands).
      """WITH RECURSIVE imgs AS (
           SELECT doc_id AS media_id, doc_id AS id, 0 AS off FROM documents
           UNION ALL
           SELECT doc_id + 100000, doc_id, 1 FROM documents WHERE doc_id < 25),
         pows(b, v) AS (
           SELECT 0, CAST(1 AS HUGEINT)
           UNION ALL SELECT b + 1, v * 2 FROM pows WHERE b < 63),
         grid AS (
           SELECT media_id, id, off, gy.gy, gx.gx,
                  16 + id % 8 AS w, 12 + id % 5 AS h, 1 + id % 5 AS c
           FROM imgs, generate_series(0, 7) AS gy(gy),
                      generate_series(0, 7) AS gx(gx)),
         bits AS (
           SELECT media_id, gy * 8 + gx AS b,
                  CASE WHEN
                    (3*(gx*w//9)*(gx*w//9) + 7*(gy*h//8)*(gy*h//8)
                      + c*(gx*w//9)*(gy*h//8) + 29*id + off) % 256
                    <
                    (3*((gx+1)*w//9)*((gx+1)*w//9) + 7*(gy*h//8)*(gy*h//8)
                      + c*((gx+1)*w//9)*(gy*h//8) + 29*id + off) % 256
                  THEN 1 ELSE 0 END AS bit
           FROM grid),
         usig AS (
           SELECT media_id, coalesce(sum(pows.v), 0) AS u
           FROM bits JOIN pows ON pows.b = bits.b
           WHERE bits.bit = 1 GROUP BY media_id),
         allsig AS (
           SELECT i.media_id,
                  CAST(coalesce(u.u, 0)
                       - CASE WHEN coalesce(u.u, 0) >= 9223372036854775808
                              THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS sig
           FROM imgs i LEFT JOIN usig u USING (media_id))
         SELECT a.media_id AS doc_a, b.media_id AS doc_b,
                CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         FROM allsig a JOIN allsig b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 6
         ORDER BY doc_a, doc_b"""),

    // Audio near-dup: q67-style synthetic WAVs with an id-dependent
    // magnitude ripple (so distinct ids decorrelate), fingerprinted
    // through the REAL codec by 64-frame energy deltas (integer-only,
    // amplitude-scale-invariant), radius-searched via the same
    // pigeonhole banding as text SimHash and image dHash. Ids < 25
    // get a 2x-amplitude clone at id+100000 — measured Hamming 0 (the
    // scale invariance), distinct ids almost all > 4. Oracle replays
    // waveform, frame energies, bit order, and the Hamming filter.
    Query("q104_audio_fingerprint", (s, dir) => {
      import s.implicits._
      // fanOut measured SLOWER here (1.6 -> 2.2 s isolated): the WAV
      // synth/codec kernel is cheap per row and the exchange +
      // 32-partition cache build cost more than the serial kernel —
      // left on the single-task scan (the q102/q112 image/video
      // kernels ARE heavy enough; see their fanOut)
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val n = 800 + (id % 13).toInt * 16
          val half = 4 + (id % 5).toInt
          val a = 1000 + (id % 7).toInt * 500
          val k = 1 + (id % 11).toInt
          def row(mid: Long, sc: Int) = graft.operators.Multimodal.MediaRow(
            mid,
            graft.operators.Multimodal.Codec.encodeWav(8000f, 1,
              Array.tabulate(n) { i =>
                val mag = a + (i * k) % 23
                (if ((i / half) % 2 == 0) mag else -(mag + 1)) * sc
              }),
            "wav")
          if (id < 25) Seq(row(id, 1), row(id + 100000L, 2))
          else Seq(row(id, 1))
        }
      val sigs = graft.operators.Multimodal.audioFingerprint(media)
        .select(col("media_id").as("doc_id"), col("afp").as("sig"))
      graft.operators.Dedup.signaturePairs(sigs, radius = 2)
        .orderBy("doc_a", "doc_b")
    },
      // q104: the audio pipeline closed-form — per-frame |sample| sums
      // over the same waveform formula (magnitude ripple +1 on the
      // negative half-cycle, clone rows scaled x2), energy-delta bits
      // 0..62 (always positive, no sign mapping needed), all-pairs
      // Hamming where the engine bands.
      """WITH RECURSIVE media AS (
           SELECT doc_id AS media_id, doc_id AS id, 1 AS sc FROM documents
           UNION ALL
           SELECT doc_id + 100000, doc_id, 2 FROM documents WHERE doc_id < 25),
         par AS (SELECT media_id, sc,
                        800 + (id % 13) * 16 AS n, 4 + id % 5 AS half,
                        1000 + (id % 7) * 500 AS a, 1 + id % 11 AS k
                 FROM media),
         fr AS (SELECT media_id, sc, half, a, k, n // 64 AS fl FROM par),
         en AS (SELECT media_id, f.f AS f,
                  sum(sc * (a + ((f.f * fl + i.i) * k) % 23 +
                      CASE WHEN ((f.f * fl + i.i) // half) % 2 = 1
                           THEN 1 ELSE 0 END)) AS e
                FROM fr, generate_series(0, 63) AS f(f),
                     generate_series(0, 15) AS i(i)
                WHERE i.i < fl
                GROUP BY media_id, f.f),
         pw(b, v) AS (
           SELECT 0, CAST(1 AS BIGINT)
           UNION ALL SELECT b + 1, v * 2 FROM pw WHERE b < 62),
         sig AS (SELECT e1.media_id,
                   CAST(coalesce(sum(CASE WHEN e1.e < e2.e THEN pw.v
                                          ELSE 0 END), 0) AS BIGINT) AS afp
                 FROM en e1
                 JOIN en e2 ON e2.media_id = e1.media_id AND e2.f = e1.f + 1
                 JOIN pw ON pw.b = e1.f
                 WHERE e1.f < 63
                 GROUP BY e1.media_id)
         SELECT a.media_id AS doc_a, b.media_id AS doc_b,
                CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.afp, b.afp)) <= 2
         ORDER BY doc_a, doc_b"""),

    // Exact phrase search over positional postings — the consecutive-
    // token semantics bag-of-words BM25 cannot express. The phrase
    // filter sits under the first exchange (only the two terms'
    // postings ever move); occurrences = equi-join of offset-shifted
    // legs on (doc, start). The oracle scans the token arrays
    // directly, so a positional off-by-one or a lost occurrence
    // breaks the hash.
    Query("q107_phrase_search", (s, dir) =>
      graft.operators.Retrieval.phraseMatches(
          t(s, dir, "documents"), "doc_id", "text", Seq("part", "filter"))
        .orderBy("doc_id"),
      // q107: direct array scan — every i with ws[i]='part' and
      // ws[i+1]='filter' (1-based lists; the engine's 0-based first_pos
      // is hits[1]-1). Overlaps all count.
      """WITH w AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              t -> len(t) > 0) AS ws
           FROM documents),
         m AS (
           SELECT doc_id,
                  list_filter(range(1, len(ws)),
                              i -> ws[i] = 'part' AND ws[i + 1] = 'filter') AS hits
           FROM w WHERE len(ws) >= 2)
         SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
                CAST(hits[1] - 1 AS INT) AS first_pos
         FROM m WHERE len(hits) > 0 ORDER BY doc_id"""),

    // Margin-based bitext mining (the LASER/CCMatrix parallel-corpus
    // recipe): the embeddings table split by label parity stands in
    // for two languages; pairs score by cosine OVER the mean of each
    // side's k-NN neighborhood, which suppresses hubs a raw cosine
    // threshold admits. Candidates are bounded forward+backward k-NN
    // unions — never a materialized cross product. Cosines enter at
    // the knnJoin 6-dp rounding, so the oracle replays ranking,
    // neighborhood means, and margins.
    Query("q108_bitext_margin", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.marginPairs(
          emb.filter(pmod(col("label"), lit(2)) === 0),
          emb.filter(pmod(col("label"), lit(2)) === 1),
          "vec_id", "embedding", k = 4, thresholdMilli = 1000L)
        .orderBy("id_a", "id_b")
    },
      // q108: forward/backward top-4 by (6-dp cosine desc, id asc) —
      // the q25 knnJoin tie discipline — then the margin in EXACT
      // integer micro/milli units (the 6-dp cosine lifts exactly to an
      // integer; the gate and the ratio are pure integer arithmetic, so
      // no rounding boundary can flip cross-engine).
      """WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0),
         b AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
         x AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                      CAST(round(round(CAST(list_cosine_similarity(a.embedding, b.embedding)
                                            AS DOUBLE), 6) * 1000000) AS BIGINT) AS c
               FROM a CROSS JOIN b),
         f AS (SELECT ia, ib, c FROM (
                 SELECT ia, ib, c,
                        row_number() OVER (PARTITION BY ia ORDER BY c DESC, ib) AS rn
                 FROM x) WHERE rn <= 4),
         w AS (SELECT ia, ib, c FROM (
                 SELECT ia, ib, c,
                        row_number() OVER (PARTITION BY ib ORDER BY c DESC, ia) AS rn
                 FROM x) WHERE rn <= 4),
         aa AS (SELECT ia, sum(c) AS sa, count(1) AS na FROM f GROUP BY ia),
         ab AS (SELECT ib, sum(c) AS sb, count(1) AS nb FROM w GROUP BY ib),
         cand AS (SELECT ia, ib, c FROM f UNION SELECT ia, ib, c FROM w),
         m AS (SELECT cand.ia, cand.ib,
                      cand.c * 2 * aa.na * ab.nb AS num,
                      aa.sa * ab.nb + ab.sb * aa.na AS den
               FROM cand JOIN aa USING (ia) JOIN ab USING (ib))
         SELECT ia AS id_a, ib AS id_b,
                CAST((num * 1000) // den AS BIGINT) AS margin_milli
         FROM m WHERE den > 0 AND num * 1000 >= 1000 * den
         ORDER BY id_a, id_b"""),

    // q22's STREAMED sibling (the q83 discipline for the MinHash
    // family): the corpus + clones stream in 3 micro-batches into a
    // persisted sketch table via per-doc-idempotent appends (no
    // ledger needed — replay appends nothing), then near-dup pairs
    // serve OFF THE TABLE and must match the q22 brute-force oracle
    // verbatim.
    Query("q109_stream_minhash", (s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val tbl = s"graft_q109_mh_$tag"
      if (!s.catalog.tableExists(tbl)) {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val clones = docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" appended words")).as("text"))
        val all = docs.union(clones).as[(Long, String)].collect()
        streamRows(s, all) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingMinhashSketches(
            in.toDF("doc_id", "text"), "doc_id", "text", tbl, ckpt)
        }
        s.catalog.refreshTable(tbl)
      }
      graft.operators.Dedup.minhashDedupFromSketches(s.table(tbl),
          threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    },
      // q109: the streamed sketch-table lifecycle must return exactly
      // the q22 batch answer.
      MinhashPairsOracleSql),

    // Video near-dup: synthetic 6-frame MJPEG clips (per-frame 9×8
    // step-walk textures driven by mix64(id, frame) — each dHash
    // comparison has a ±12 luminance margin, so JPEG noise cannot
    // flip it), with every id < 25 cloned at id+100000 through a REAL
    // decode→re-encode generation loop. Keyframes (every 2nd frame)
    // dHash and band via the shared signaturePairs machinery; the
    // per-pair coverage rollup must find exactly the clone pairs at
    // full coverage: measured clone keyframe distance 0 vs nearest
    // cross-video keyframe 11 bits over ALL sf0.1-scale pairs —
    // radius 4 sits in the gap with margin both ways, deterministic
    // for this data (the q33/q102 gap-argument discipline).
    Query("q112_video_neardup", (s, dir) => {
      import s.implicits._
      // fanOut: the MJPEG encode -> re-encode clone -> decode+dHash
      // pipeline ran inside the one-row-group scan's single task
      val media = fanOut(t(s, dir, "documents").select(col("doc_id")),
          "doc_id").as[Long]
        .flatMap { id =>
          def frame(f: Int) = graft.operators.Multimodal.Codec.encodeJpeg(
            graft.operators.Multimodal.Codec.grayImage(36, 16) { (x, y) =>
              val bits = graft.operators.Sketches.mix64(
                id * 131L + f * 7919L + 17L)
              var v = 128
              var i = 0
              while (i < x / 4) {
                v += (if (((bits >> (y / 2 * 8 + i)) & 1L) == 1L) 12 else -12)
                i += 1
              }
              v
            })
          val bos = new java.io.ByteArrayOutputStream()
          (0 until 6).foreach(f => bos.write(frame(f)))
          val src = bos.toByteArray
          def row(mid: Long, bytes: Array[Byte]) =
            graft.operators.Multimodal.MediaRow(mid, bytes, "jpg")
          if (id < 25) {
            // the clone is a true re-encode generation: demux, decode,
            // re-encode every frame — zero shared bytes with the source
            val rb = new java.io.ByteArrayOutputStream()
            graft.operators.Multimodal.Codec.splitMjpegFrames(src).foreach {
              case (_, fb) => rb.write(graft.operators.Multimodal.Codec
                .encodeJpeg(graft.operators.Multimodal.Codec.decode(fb).get))
            }
            Seq(row(id, src), row(id + 100000L, rb.toByteArray))
          } else Seq(row(id, src))
        }
      graft.operators.Multimodal.videoNearDupPairs(media, everyN = 2,
          radius = 4, minMatchMilli = 600)
        .orderBy("video_a", "video_b")
    },
      // q112: the clone structure in closed form — re-encoded clones
      // match all 3 of 3 keyframes (measured distance 0 with a wide
      // deterministic gap to the nearest cross-video keyframe), so the
      // output is exactly one full-coverage pair per cloned id.
      """SELECT doc_id AS video_a,
                doc_id + 100000 AS video_b,
                CAST(3 AS BIGINT) AS matched_a,
                CAST(3 AS BIGINT) AS matched_b,
                CAST(1000 AS BIGINT) AS match_milli
         FROM documents WHERE doc_id < 25 ORDER BY video_a"""),

    // Unicode normalization COMPOSED into the dedup path (q125 proves
    // the kernel; this proves the composition): each doc ships as two
    // byte-DIFFERENT, visually-identical variants — composed é +
    // curly quotes vs decomposed e‌+◌́ + ASCII quotes — and they must
    // collapse to ONE group under fingerprintMd5∘normalizeUnicode
    // while their raw digests stay distinct (n_raw_digests = 2 pins
    // that the collapse is the normalizer's doing, not an accident).
    Query("q131_normalized_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.select(col("doc_id").as("id"),
          concat(lit("café “q” "), col("text")).as("raw"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("id"),
          concat(lit("café \"q\" "), col("text")).as("raw")))
      variants
        .select(col("id"),
          graft.functions.Text.fingerprintMd5(
            graft.functions.Text.normalizeUnicode(col("raw"), form = "NFKC"))
            .as("digest"),
          md5(col("raw")).as("raw_digest"))
        .groupBy("digest")
        .agg(min("id").as("keeper"), count(lit(1)).as("n_copies"),
          countDistinct(col("raw_digest")).as("n_raw_digests"))
        .orderBy("digest")
    },
      // q131: the oracle re-derives the digest from the NORMALIZED
      // closed form (composed é, ASCII quotes — what NFKC+folding must
      // produce from both variants) through the q20 fingerprint
      // pipeline; n_copies = 2 per underlying text occurrence and
      // n_raw_digests = 2 pin that two byte-distinct variants collapsed.
      """SELECT md5(trim(regexp_replace(regexp_replace(
                  lower('café "q" ' || text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g'))) AS digest,
                min(doc_id) AS keeper,
                CAST(2 * count(1) AS BIGINT) AS n_copies,
                CAST(2 AS BIGINT) AS n_raw_digests
         FROM documents GROUP BY 1 ORDER BY digest""")
  )
}
