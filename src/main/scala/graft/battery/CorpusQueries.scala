package graft
package battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** The corpus and trainer family: text statistics, curation gates and
  * classifiers, sampling and mixtures, language models, tokenizers and
  * the packing/sharding seam that feeds a trainer.
  */
private[graft] object CorpusQueries {
  import Common._

  /** Shared build-once bigram language-model tables (q70b). */
  private[graft] def bigramTables(s: SparkSession, dir: String): (String, String, String) = {
    val tag = docsTag(s, dir)
    (s"graft_q70b_bigrams_$tag", s"graft_q70b_ctx_$tag", s"graft_q70b_vocab_$tag")
  }

  /** Build-once STREAMED bigram-LM state (q163/q162b): the corpus
    * delivered in 3 micro-batches through
    * [[graft.streaming.Maintenance.streamingBigramModel]] into the
    * standing (bigrams, tokens) table pair. The driver-side collect
    * feeds the MemoryStream test harness (the S5 situation), not the
    * operator. */
  private def ensureStreamedLmTables(s: SparkSession,
                                     dir: String): (String, String) = {
    import s.implicits._
    val tag = docsTag(s, dir)
    val (bigT, tokT) = (s"graft_q163_big_$tag", s"graft_q163_tok_$tag")
    if (!s.catalog.tableExists(bigT) || !s.catalog.tableExists(tokT)) {
      // Rebuild FROM SCRATCH whenever either table is missing: a crash
      // between creating bigT and tokT must not replay batches against
      // a stamped ledger, because the skip's correctness would then
      // hinge on the fresh collect() reproducing the old run's chunk
      // boundaries — parquet read order guarantees no such thing, and
      // a boundary shift silently under/over-counts bigrams. Dropping
      // the surviving half (plus the staging/ledger state: the ledger
      // is a table property on bigT, the swap uses a _staging sibling)
      // makes the rebuild a first-ever run with batch ids aligned to
      // THIS collect's chunks.
      Seq(bigT, s"${bigT}_staging", tokT).foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.sources.Warehouse.clearOrphanLocation(s, tbl)
      }
      val rows = t(s, dir, "documents").select("doc_id", "text")
        .as[(Long, String)].collect()
      streamRows(s, rows) { (in, ckpt) =>
        graft.streaming.Maintenance.streamingBigramModel(
          in.toDF("doc_id", "text"), "doc_id", "text", bigT, tokT, ckpt)
      }
      s.catalog.refreshTable(bigT)
      s.catalog.refreshTable(tokT)
    }
    (bigT, tokT)
  }

  /** q82's committed BPE merge list. Deliberately character-disjoint
    * and non-chaining (no merge output can feed another pair), which
    * collapses the greedy tokenizer to closed-form counting — the
    * property the DuckDB oracle replays and BpeSpec pins against
    * [[graft.operators.Bpe.tokenizeWord]] on adversarial words. */
  private[graft] val CommittedBpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("i", "n"), ("e", "</w>"))

  /** q171's 26 planted repetition fixtures — classes 2r (FIRE rule r)
    * and 2r+1 (NEAR-MISS pass) for each of the 13 Gopher rules in
    * [[graft.functions.Text.GopherRepetitionRules]] order. Every
    * filler word is unique within its document (4-char `uNNN`), so a
    * fixture carries EXACTLY its engineered repetition signal: the
    * fire class trips its own rule first in ladder order, the pass
    * class sits within a few permille UNDER every ceiling (e.g. the
    * dup_10gram pass is a repeated 10-gram in a 200-word doc — 100
    * permille, one word short of firing). Single-word repeated lines
    * avoid accidental repeated word n-grams; long single WORDS (not
    * word runs) push char fractions without touching gram stats. */
  private[graft] lazy val GopherFixtures: Seq[String] = {
    def u(i: Int) = f"u$i%03d"
    // k occurrences of `gram` each followed by floor((n-k*|g|)/k)
    // unique fillers, padded with fillers to exactly n words
    def gramDocK(gram: Seq[String], k: Int, nTotal: Int): String = {
      val ws = scala.collection.mutable.ArrayBuffer[String]()
      var fi = 0
      val gap = (nTotal - k * gram.size) / k
      for (_ <- 0 until k) {
        ws ++= gram
        for (_ <- 0 until gap) { ws += u(fi); fi += 1 }
      }
      while (ws.size < nTotal) { ws += u(fi); fi += 1 }
      ws.take(nTotal).mkString(" ")
    }
    val p = "p001"; val x = "x001"
    val l20 = (0 until 20).map(i => f"l$i%03d").mkString(" ")
    val w30 = "w" * 30
    val y50 = "y" * 50
    val g = Seq("a001", "b001", "c001", "d001", "e001", "f001", "g001",
      "h001", "i001", "j001")
    val top2Fire = {
      val ws = scala.collection.mutable.ArrayBuffer[String]()
      var fi = 0
      for (_ <- 0 until 5) {
        ws += g(0); ws += g(1)
        for (_ <- 0 until 3) { ws += u(fi); fi += 1 }
      }
      ws.mkString(" ")
    }
    Seq(
      Seq(p, u(1), p, u(2), p, u(3), p, u(4), u(5)).mkString("\n\n"),
      Seq(p, u(1), p, u(2), p, u(3), u(4), u(5), u(6), u(7))
        .mkString("\n\n"),
      (1 to 4).map(i => x + "\n" + u(i)).mkString("\n\n"),
      (Seq(x + "\n" + u(1), x + "\n" + u(2), x + "\n" + u(3),
        u(4) + "\n" + u(5), u(6) + "\n" + u(7))).mkString("\n\n"),
      Seq(l20, u(1), u(2), u(3), u(4), l20, u(5), u(6), u(7), u(8))
        .mkString("\n\n"),
      ((w30 +: (1 to 12).map(u)) ++ (w30 +: (13 to 24).map(u)))
        .mkString("\n\n"),
      (Seq(y50 + "\n" + u(1), y50 + "\n" + u(2)) ++ (3 to 8).map(u))
        .mkString("\n\n"),
      (Seq(w30 + "\n" + u(1), w30 + "\n" + u(2)) ++ (3 to 23).map(u))
        .mkString("\n\n"),
      top2Fire,
      gramDocK(g.take(2), 2, 22),
      gramDocK(g.take(3), 3, 33),
      gramDocK(g.take(3), 2, 34),
      gramDocK(g.take(4), 3, 60),
      gramDocK(g.take(4), 2, 52),
      gramDocK(g.take(5), 2, 55),
      gramDocK(g.take(5), 2, 67),
      gramDocK(g.take(6), 2, 82),
      gramDocK(g.take(6), 2, 86),
      gramDocK(g.take(7), 2, 103),
      gramDocK(g.take(7), 2, 108),
      gramDocK(g.take(8), 2, 128),
      gramDocK(g.take(8), 2, 134),
      gramDocK(g.take(9), 2, 156),
      gramDocK(g.take(9), 2, 164),
      gramDocK(g.take(10), 2, 190),
      gramDocK(g.take(10), 2, 200))
  }

  /** q82c's committed CHAINED merge list: rank 1 consumes rank 0's
    * output (`th`+`e`), so the greedy argmax apply loop's stage
    * structure is LIVE — the one interior q82's non-chaining list
    * collapsed away. Still closed-form: stage 0 is the q145
    * left-to-right scan, and because `the`'s alternation-preferred
    * regex match consumes exactly the (th, e) pairs stage 1 merges
    * (the 'e' it takes can never belong to a later 'th'), the WHOLE
    * two-stage trace equals ONE scan 'the|th|.'; the trailing
    * end-of-word merge then applies iff the last symbol is a BARE 'e'
    * (`LIKE '%e' AND NOT LIKE '%the'`). Rank ORDER is observable:
    * (th,e) at rank 1 beats (e,</w>) at rank 2 on words ending in
    * "the" — swapping them changes the output, which BpeSpec pins. */
  private[graft] val CommittedChainedBpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), ("e", "</w>"))

  /** q183's committed BYTE-level merge list (symbols in byte-char
    * space; ids: th=256, the=257, " t"=258, in=259, ing=260). Chained
    * ((th,e) consumes (t,h)'s output) AND space-crossing ((" ","t")
    * is live — the byte-level signature a word model cannot express):
    * on ` the` the rank-0 (t,h) consumes the `t` first so the space
    * stays bare, while on ` tin` rank-2 fires and the space lands
    * INSIDE the token — swap those ranks and ` the` tokenizes
    * differently, which ByteBpeSpec pins. Closed-form replay: within
    * a letter pre-token the greedy trace equals ONE `'the|th|ing|in|.'`
    * scan (the q82c alternation argument: no merge output feeds a
    * pattern that starts differently — `e`/`g`/`n`/`h` start
    * nothing), and the space rule is `[258] ++ scan(rest)` iff the
    * word starts `t` not followed by `h`, else `[32] ++ scan(word)`. */
  private[graft] val CommittedByteBpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), (" ", "t"), ("i", "n"), ("in", "g"))

  /** q87b's committed weak-label training set — a fixed literal corpus
    * (quality-prose vs spam boilerplate, the CCNet-style weak signal),
    * so the trained weights are a pure function of committed code and
    * identical at every scale factor. The battery entry RUNS
    * [[graft.operators.Classifier.trainLogistic]] on it at query time;
    * [[CommittedGateWeightsMilli]] is the spec-pinned snapshot of that
    * training's quantized output, and the q87b oracle scores under the
    * snapshot — so silent training drift fails BOTH the spec and the
    * oracle. */
  private[graft] val GateTrainingSet: Seq[(String, Double)] = Seq(
    ("the study presents a careful analysis of measured results", 1.0),
    ("researchers describe methods and report detailed findings", 1.0),
    ("the committee published a thorough technical review", 1.0),
    ("engineers document the design and its measured tradeoffs", 1.0),
    ("the survey summarizes evidence from many careful experiments", 1.0),
    ("a clear explanation of the algorithm and its proof", 1.0),
    ("the report lists sources and verifies every claim", 1.0),
    ("students learn from worked examples and precise definitions", 1.0),
    ("buy cheap pills now click here win money fast", 0.0),
    ("free prize winner click now limited offer act fast", 0.0),
    ("cheap loans instant cash no checks click today", 0.0),
    ("hot singles near you click this link now", 0.0),
    ("win big casino bonus spin now free coins", 0.0),
    ("miracle diet lose weight fast buy now cheap", 0.0),
    ("unsubscribe spam offer expires click claim your prize", 0.0),
    ("earn money from home fast easy clicks guaranteed", 0.0))

  /** Gate-classifier hyperparameters shared by the q87b entry, its
    * oracle, and the ClassifierSpec snapshot pin. dim is small so the
    * oracle's weight VALUES list stays readable. */
  private[graft] val GateDim = 64

  private[graft] val GateIters = 15

  private[graft] val GateLr = 1.0

  /** Committed snapshot of `quantizeMilli(trainLogistic(GateTrainingSet,
    * dim = GateDim, iters = GateIters, lr = GateLr))` — bit-stable by
    * the trainer's exact-decimal gradient discipline, re-derived and
    * asserted equal by ClassifierSpec on every run. The q87b oracle
    * scores under THESE values while the battery entry scores under a
    * fresh training run, so the two can only agree while training
    * reproduces the snapshot. */
  private[graft] val CommittedGateBiasMilli = -71L

  private[graft] val CommittedGateWeightsMilli: Array[Long] = Array(
    174, 0, 190, 435, 219, 0, 195, 176, 77, 0, 304, 143, -1080, -276,
    -279, -248, -381, 371, -270, 195, 205, -183, -214, 0, 319, -248, 0,
    140, -183, 279, -631, 195, 190, -270, 190, 95, 176, -357, -159, 590,
    1135, 0, 395, 0, 146, -384, -191, 0, 0, 0, -495, 455, -491, 118, 5,
    -495, 0, -431, 186, -270, -3, -558, 0, -270)

  /** Shared q89/q97 gram-space prefix: unigram+bigram grams with
    * multiplicity under the lower/\s+ tokenization, the recursive
    * FNV-1a∘mix64 bucket (mod 4096) of every distinct gram, ending in
    * `gr(doc_id, bucket)` — the exact feature space of
    * [[graft.operators.Dsir.gramBuckets]]. */
  private val GramBucketCte =
    """WITH RECURSIVE
           wl AS (
             SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> len(t) > 0) AS ws
             FROM documents),
           uni AS (SELECT doc_id, unnest(ws) AS gram FROM wl),
           big AS (SELECT doc_id,
                          unnest(list_transform(range(1, len(ws)),
                                                i -> ws[i] || ' ' || ws[i + 1])) AS gram
                   FROM wl),
           grams AS (SELECT doc_id, gram FROM uni
                     UNION ALL SELECT doc_id, gram FROM big),
           dgram AS (SELECT DISTINCT gram FROM grams),
           fnv(gram, pos, h) AS (
             SELECT gram, 0, CAST(14695981039346656037 AS HUGEINT) FROM dgram
             UNION ALL
             SELECT gram, pos + 1,
                    (xor(h, CAST(unicode(substr(gram, pos + 1, 1)) AS HUGEINT))
                      * 1099511628211) % 18446744073709551616
             FROM fnv WHERE pos < len(gram)),
           fh0 AS (SELECT gram, h FROM fnv WHERE pos = len(gram)),
           m1 AS (SELECT gram, (h + 11400714819323198485) % 18446744073709551616 AS z FROM fh0),
           m2 AS (SELECT gram, xor(z, z // 1073741824) AS z FROM m1),
           m3 AS (SELECT gram,
                    (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                     + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
                  FROM m2),
           m4 AS (SELECT gram, xor(z, z // 134217728) AS z FROM m3),
           m5 AS (SELECT gram,
                    (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                     + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
                  FROM m4),
           gb AS (SELECT gram, CAST(xor(z, z // 2147483648) % 4096 AS INTEGER) AS bucket FROM m5),
           gr AS (SELECT g.doc_id, gb.bucket FROM grams g JOIN gb USING (gram))"""

  /** Shared q97/q99 drift oracle: per-slice add-1-smoothed bucket
    * distributions over [[GramBucketCte]]'s feature space and the
    * exact pico-quantized midpoint-KL sums — q99's streamed state
    * must answer exactly like q97's one-shot computation. */
  private val JsDriftOracleSql = GramBucketCte +
    """,
           ac AS (SELECT gr.bucket, count(1) AS c
                  FROM gr JOIN documents d USING (doc_id)
                  WHERE d.lang = 'en' GROUP BY gr.bucket),
           bc AS (SELECT gr.bucket, count(1) AS c
                  FROM gr JOIN documents d USING (doc_id)
                  WHERE d.lang <> 'en' GROUP BY gr.bucket),
           tot AS (SELECT
                     coalesce((SELECT sum(c) FROM ac), 0) AS ta,
                     coalesce((SELECT sum(c) FROM bc), 0) AS tb),
           per AS (SELECT
                     CAST(coalesce(a.c, 0) + 1 AS DOUBLE) / (tot.ta + 4096) AS ma,
                     CAST(coalesce(b.c, 0) + 1 AS DOUBLE) / (tot.tb + 4096) AS mb
                   FROM (SELECT unnest(range(4096)) AS bk) bb
                   CROSS JOIN tot
                   LEFT JOIN ac a ON a.bucket = bb.bk
                   LEFT JOIN bc b ON b.bucket = bb.bk),
           q AS (SELECT
                   CAST(floor(ma * ln(2.0 * ma / (ma + mb)) * 1000000000000.0 + 0.5) AS BIGINT) AS ka,
                   CAST(floor(mb * ln(2.0 * mb / (ma + mb)) * 1000000000000.0 + 0.5) AS BIGINT) AS kb
                 FROM per)
         SELECT (SELECT CAST(ta AS BIGINT) FROM tot) AS grams_a,
                (SELECT CAST(tb AS BIGINT) FROM tot) AS grams_b,
                CAST(sum(ka) AS BIGINT) AS kl_a_pico,
                CAST(sum(kb) AS BIGINT) AS kl_b_pico,
                CAST(sum(ka) + sum(kb) AS BIGINT) AS js2_pico
         FROM q"""

  /** Shared token-hash prefix of the classifier oracles (q85/q87/
    * q87b): distinct (doc, term) rows plus each term's mix64∘FNV-1a
    * hash as unsigned HUGEINT `z` in `t5` — the exact
    * [[graft.operators.Sketches.tokenHashes]] kernel restated. */
  private val TokenHashCte =
    """WITH RECURSIVE
         toks0 AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                             t -> len(t) > 0)) AS term
           FROM documents),
         toks AS (SELECT DISTINCT doc_id, term FROM toks0),
         dterm AS (SELECT DISTINCT term FROM toks),
         fnv(term, pos, h) AS (
           SELECT term, 0, CAST(14695981039346656037 AS HUGEINT) FROM dterm
           UNION ALL
           SELECT term, pos + 1,
                  (xor(h, CAST(unicode(substr(term, pos + 1, 1)) AS HUGEINT))
                    * 1099511628211) % 18446744073709551616
           FROM fnv WHERE pos < len(term)),
         fh0 AS (SELECT term, h FROM fnv WHERE pos = len(term)),
         t1 AS (SELECT term, (h + 11400714819323198485) % 18446744073709551616 AS z FROM fh0),
         t2 AS (SELECT term, xor(z, z // 1073741824) AS z FROM t1),
         t3 AS (SELECT term,
                  (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                   + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
                FROM t2),
         t4 AS (SELECT term, xor(z, z // 134217728) AS z FROM t3),
         t5 AS (SELECT term,
                  (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                   + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
                FROM t4)"""

  /** Shared q85/q87 scoring CTE: token hash (mix64 of FNV-1a per
    * distinct term) + closed-form mix64 weight table + per-doc exact
    * integer sums, ending in `cscores(doc_id, n_feat, score_milli)`. */
  private val ClassifierScoreCte = TokenHashCte +
    """,
         bkt AS (SELECT term, CAST(xor(z, z // 2147483648) % 4096 AS INTEGER) AS j FROM t5),
         js AS (SELECT CAST(unnest(range(4096)) AS HUGEINT) AS j0),
         u1 AS (SELECT j0, (j0 + 11400714819323198485) % 18446744073709551616 AS z FROM js),
         u2 AS (SELECT j0, xor(z, z // 1073741824) AS z FROM u1),
         u3 AS (SELECT j0,
                  (((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296
                   + (z % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z
                FROM u2),
         u4 AS (SELECT j0, xor(z, z // 134217728) AS z FROM u3),
         u5 AS (SELECT j0,
                  (((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296
                   + (z % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z
                FROM u4),
         wj AS (SELECT CAST(j0 AS INTEGER) AS j,
                       CAST((xor(z, z // 2147483648) % 2048) - 1024 AS BIGINT) AS w
                FROM u5),
         agg AS (SELECT t.doc_id, CAST(count(1) AS BIGINT) AS n_feat,
                        CAST(sum(wj.w) AS BIGINT) AS score_milli
                 FROM toks t JOIN bkt USING (term) JOIN wj ON wj.j = bkt.j
                 GROUP BY t.doc_id),
         cscores AS (
           SELECT d.doc_id, coalesce(a.n_feat, CAST(0 AS BIGINT)) AS n_feat,
                  coalesce(a.score_milli, CAST(0 AS BIGINT)) AS score_milli
           FROM documents d LEFT JOIN agg a USING (doc_id))
      """

  /** q70/q70b shared oracle: the q31 gram normalization, per-doc
    * bigram occurrence counts, corpus bigram/context counts, Laplace
    * smoothing over the distinct-token vocabulary, and per-bigram
    * log-probs quantized to integer micro-nats before the (exact,
    * order-independent) per-doc sum. */
  private val BigramLmOracleSql =
    """WITH w AS (
         SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
         FROM documents),
       pairs AS (
         SELECT doc_id,
                unnest(list_transform(range(1, len(ws)),
                  i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS bg
         FROM w WHERE len(ws) >= 2),
       occ AS (
         SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(1) AS occ
         FROM pairs GROUP BY doc_id, bg.w1, bg.w2),
       cnt AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS cnt
               FROM occ GROUP BY w1, w2),
       ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx
               FROM cnt GROUP BY w1),
       voc AS (SELECT count(DISTINCT t) AS v
               FROM (SELECT unnest(ws) AS t FROM w)),
       contrib AS (
         SELECT o.doc_id, o.occ,
                CAST(round(ln((c.cnt + 1.0) / (x.ctx + 1.0 * voc.v)) * 1e6)
                     AS BIGINT) AS c
         FROM occ o JOIN cnt c USING (w1, w2) JOIN ctx x USING (w1)
              CROSS JOIN voc)
       SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
              CAST(sum(occ * c) AS BIGINT) AS sum_scaled,
              round(CAST(sum(occ * c) AS BIGINT) / 1e6 /
                    CAST(sum(occ) AS BIGINT), 4) AS avg_logprob
       FROM contrib GROUP BY doc_id ORDER BY doc_id"""

  /** q162: the q70 scoring chain, then the CCNet cut — cumulative
    * counts over each language's (avg_logprob) histogram in
    * DESCENDING score order, bucket = floor(rows_before · 3 / n) via
    * DuckDB's integer `//` (the engine side uses `div` — no float
    * quotient decides a boundary on either engine), whole value
    * blocks landing in one bucket. */
  private val PplBucketsOracleSql =
    """WITH w AS (
         SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
         FROM documents),
       pairs AS (
         SELECT doc_id,
                unnest(list_transform(range(1, len(ws)),
                  i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS bg
         FROM w WHERE len(ws) >= 2),
       occ AS (
         SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(1) AS occ
         FROM pairs GROUP BY doc_id, bg.w1, bg.w2),
       cnt AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS cnt
               FROM occ GROUP BY w1, w2),
       ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx
               FROM cnt GROUP BY w1),
       voc AS (SELECT count(DISTINCT t) AS v
               FROM (SELECT unnest(ws) AS t FROM w)),
       contrib AS (
         SELECT o.doc_id, o.occ,
                CAST(round(ln((c.cnt + 1.0) / (x.ctx + 1.0 * voc.v)) * 1e6)
                     AS BIGINT) AS c
         FROM occ o JOIN cnt c USING (w1, w2) JOIN ctx x USING (w1)
              CROSS JOIN voc),
       scored AS (
         SELECT doc_id,
                round(CAST(sum(occ * c) AS BIGINT) / 1e6 /
                      CAST(sum(occ) AS BIGINT), 4) AS avg_logprob
         FROM contrib GROUP BY doc_id),
       sl AS (
         SELECT s.doc_id, d.lang, s.avg_logprob
         FROM scored s JOIN documents d USING (doc_id)),
       hist AS (
         SELECT lang, avg_logprob, count(1) AS hc FROM sl GROUP BY 1, 2),
       cum AS (
         SELECT lang, avg_logprob,
                coalesce(sum(hc) OVER (PARTITION BY lang
                  ORDER BY avg_logprob DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
                sum(hc) OVER (PARTITION BY lang) AS n
         FROM hist),
       bk AS (
         SELECT lang, avg_logprob,
                CASE CAST((lo * 3) // n AS INTEGER)
                  WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                  ELSE 'tail' END AS bucket
         FROM cum)
       SELECT sl.doc_id, sl.lang, sl.avg_logprob, bk.bucket
       FROM sl JOIN bk USING (lang, avg_logprob)
       ORDER BY sl.doc_id"""

  val all: Seq[Query] = Seq(
    // Text: token counting per document (whitespace tokenizer).
    Query("q17_token_count", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE CAST(array_length(string_split_regex(trim(text), '\s+')) AS INTEGER) END AS n_tokens,
                n_chars
         FROM documents ORDER BY doc_id"""),

    // Text: corpus stats per source — mean word length + token totals.
    Query("q18_text_stats", (s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"),
          round(avg(Text.meanWordLength(col("text"))), 4).as("avg_word_len"))
        .orderBy("source")
    },
      """WITH toks AS (
           SELECT source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE CAST(list_aggregate(list_transform(string_split_regex(lower(trim(text)), '\s+'),
                         x -> length(x)), 'sum') AS DOUBLE)
                       / array_length(string_split_regex(trim(text), '\s+')) END AS mwl
           FROM documents)
         SELECT source, count(1) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                round(avg(mwl), 4) AS avg_word_len
         FROM toks GROUP BY source ORDER BY source"""),

    // U6: generator/explode — word frequency via explode + re-agg.
    Query("q21_word_freq", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    },
      """SELECT word, count(1) AS n FROM (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> length(x) > 0)) AS word
           FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 20"""),

    // Text: stopword-argmax language ID distribution.
    Query("q26_langid", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(Text.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")
    },
      """WITH toks AS (
           SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk
           FROM documents),
         hits AS (
           SELECT
             length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS en,
             length(list_filter(tk, x -> x IN ('le','la','les','de','des','du','et','ou','un','une','est','que','qui','dans','pour','sur','avec','au','ce','pas'))) AS fr,
             length(list_filter(tk, x -> x IN ('der','die','das','und','oder','ein','eine','ist','zu','den','von','mit','auf','für','im','nicht','sich','dem','sie','werden'))) AS de,
             length(list_filter(tk, x -> x IN ('el','la','los','las','de','y','o','un','una','es','que','en','por','para','con','no','se','del','al','como'))) AS es
           FROM toks)
         SELECT CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                     WHEN en = greatest(en, fr, de, es) THEN 'en'
                     WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                     WHEN de = greatest(en, fr, de, es) THEN 'de'
                     ELSE 'es' END AS lang_pred, count(1) AS n
         FROM hits GROUP BY 1 ORDER BY lang_pred"""),

    // Text: quality-score distribution per source.
    Query("q27_quality", (s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(round(avg(Text.qualityScore(col("text"))), 4).as("avg_quality"),
          round(min(Text.qualityScore(col("text"))), 4).as("min_quality"),
          count(lit(1)).as("n"))
        .orderBy("source")
    },
      """WITH toks AS (
           SELECT source, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS n,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk
           FROM documents),
         parts AS (
           SELECT source, n,
             CASE WHEN n = 0 THEN 0.0 ELSE least(CAST(n AS DOUBLE) / 50.0, 1.0) END AS ls,
             CASE WHEN length(text) = 0 THEN 1.0
                  ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)) * 10.0) END AS ps,
             CASE WHEN n = 0 THEN 0.0
                  ELSE least((CAST(length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS DOUBLE) / n) * 50.0, 1.0) END AS ss,
             CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) END AS mwl
           FROM toks),
         q AS (
           SELECT source,
             CASE WHEN n = 0 THEN 0.0
                  ELSE round((ls + ps + ss +
                    CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 WHEN mwl > 0.0 THEN 0.5 ELSE 0.0 END) / 4.0, 4) END AS qs
           FROM parts)
         SELECT source, round(avg(qs), 4) AS avg_quality, round(min(qs), 4) AS min_quality, count(1) AS n
         FROM q GROUP BY source ORDER BY source"""),

    // U4: the text library through the SQL text surface; must equal the
    // q17 Column path.
    Query("q36_sql_tokens", (s, dir) => {
      Text.registerSqlFunctions(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""SELECT doc_id, token_count(text) AS n_tokens, n_chars
               FROM documents ORDER BY doc_id""")
    },
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE CAST(array_length(string_split_regex(trim(text), '\s+')) AS INTEGER) END AS n_tokens,
                n_chars
         FROM documents ORDER BY doc_id"""),

    // Context-budget chunking: sliding 50-token windows, stride 40
    // (overlapping) — one JVM kernel pass per doc, exploded to one row
    // per chunk. Chunk text is md5'd so the oracle compares content
    // without hauling strings through the hash gate.
    Query("q52_chunking", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.Text.chunkByTokens(col("text"),
            chunkTokens = 50, stride = 40)))
        .select(col("doc_id"), col("pos").as("chunk_id"),
          graft.functions.Text.tokenCount(col("col")).as("n_tokens"),
          md5(col("col")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
      // q52: same window arithmetic over the same whitespace tokens;
      // DuckDB's list_slice is 1-based inclusive (end = start+len-1).
      """WITH g AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              t -> len(t) > 0) AS ws
           FROM documents),
         k AS (
           SELECT doc_id, ws,
                  greatest(CAST(ceil((len(ws) - 50) / 40.0) AS INT), 0) AS kmax
           FROM g WHERE len(ws) > 0),
         c AS (
           SELECT doc_id, unnest(range(0, kmax + 1)) AS chunk_id, ws FROM k)
         SELECT doc_id, chunk_id,
                len(list_slice(ws, chunk_id * 40 + 1, chunk_id * 40 + 50)) AS n_tokens,
                md5(array_to_string(list_slice(ws, chunk_id * 40 + 1,
                      chunk_id * 40 + 50), ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id"""),

    // Sequence packing: deterministic hash-shard, then contiguous
    // token-budget bins from a running window sum — the scalable
    // pack-then-split used for pretraining shards (true first-fit is
    // inherently sequential). Aggregated per bin for the oracle.
    Query("q53_packing", (s, dir) => {
      graft.operators.Packing.packContiguous(
          t(s, dir, "documents"), "doc_id", "n_chars",
          budget = 20000L, shards = 4)
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          min("doc_id").as("first_doc"))
        .orderBy("shard", "bin")
    },
      // q53: identical shard draw (md5 hex prefix -> int), identical
      // running-sum bin cut.
      """WITH p AS (
           SELECT doc_id, n_chars,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM documents),
         b AS (
           SELECT shard, doc_id, n_chars,
                  CAST(floor(coalesce(sum(n_chars) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 20000.0) AS BIGINT) AS bin
           FROM p)
         SELECT shard, bin, count(1) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                min(doc_id) AS first_doc
         FROM b GROUP BY shard, bin ORDER BY shard, bin"""),

    // Packed-sequence MATERIALIZATION (Packing.assembleSequences —
    // the step between q53's bin assignment and the trainer): each
    // bin's docs concatenate in pack order with a separator, and the
    // per-doc START OFFSETS surface as the boundary array an
    // attention/loss mask is built from. One hash aggregation, sort
    // inside the aggregate, offsets a one-pass HOF prefix sum — no
    // window. Oracle rebuilds every sequence and offset list in SQL
    // off the q53 packing CTE; one byte out of place in any
    // concatenation breaks its bin's md5.
    Query("q143_sequence_assembly", (s, dir) => {
      val packed = graft.operators.Packing.packContiguous(
        t(s, dir, "documents").select("doc_id", "n_chars", "text"),
        "doc_id", "n_chars", budget = 20000L, shards = 4)
      graft.operators.Packing.assembleSequences(packed,
          "doc_id", "text", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_chars"),
          md5(col("sequence")).as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .orderBy("shard", "bin")
    },
      // q143: the q53 packing CTE extended to full sequence rebuild —
      // string_agg in doc order with the \n\n separator, offsets an
      // exclusive prefix sum of (len+2) per bin, both aggregated in
      // doc order.
      """WITH p AS (
           SELECT doc_id, n_chars, text,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM documents),
         b AS (
           SELECT shard, doc_id, n_chars, text,
                  CAST(floor(coalesce(sum(n_chars) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 20000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, text,
                  coalesce(sum(len(text) + 2) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(len(string_agg(text, e'\n\n' ORDER BY doc_id))
                  AS BIGINT) AS seq_chars,
                md5(string_agg(text, e'\n\n' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv
         FROM o GROUP BY shard, bin ORDER BY shard, bin"""),

    // Deterministic fill-in-the-middle (Text.fimTransform — the
    // arXiv:2207.14255 infilling recipe, PSM order): a hash-gated
    // half of the corpus re-emits as <PRE>prefix<SUF>suffix<MID>
    // middle with hash-drawn cut points, the rest passes through
    // verbatim; every draw is an md5-prefix integer keyed on
    // (doc_id, salt) so the SAME docs transform with the SAME cuts
    // in any engine — the oracle restates gate, cuts, and the
    // re-assembled string wholesale in SQL.
    Query("q144_fim_transform", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.select(col("doc_id"),
          graft.functions.Text.fimTransform(col("doc_id"), col("text"))
            .as("out"))
        .select(col("doc_id"), md5(col("out")).as("fim_md5"),
          length(col("out")).cast("long").as("fim_chars"))
        .orderBy("doc_id")
    },
      // q144: gate, cuts, and the PSM re-assembly restated wholesale —
      // the md5-prefix draws are the Sampling discipline, so DuckDB
      // derives byte-identical transforms.
      """WITH d AS (
           SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimgate'), 1, 8))::BIGINT
                    % 100 AS gate,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimc1'), 1, 8))::BIGINT AS d1,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimc2'), 1, 8))::BIGINT AS d2
           FROM documents),
         c AS (
           SELECT doc_id, text, n, gate,
                  least(d1 % (n + 1), d2 % (n + 1)) AS lo,
                  greatest(d1 % (n + 1), d2 % (n + 1)) AS hi
           FROM d),
         t AS (
           SELECT doc_id,
                  CASE WHEN gate < 50 THEN
                    '<PRE>' || substr(text, 1, CAST(lo AS INT)) ||
                    '<SUF>' || substr(text, CAST(hi + 1 AS INT),
                                      CAST(n - hi AS INT)) ||
                    '<MID>' || substr(text, CAST(lo + 1 AS INT),
                                      CAST(hi - lo AS INT))
                  ELSE text END AS out
           FROM c)
         SELECT doc_id, md5(out) AS fim_md5,
                CAST(len(out) AS BIGINT) AS fim_chars
         FROM t ORDER BY doc_id"""),

    // Tokenized training shards (Bpe.tokenIds → Packing.packContiguous
    // on n_tokens → assembleTokenSequences): the corpus→batch
    // capstone — every document BPE-tokenizes to INTEGER IDS under the
    // committed merge list (deterministic codepoint-base id scheme, no
    // corpus-derived vocab), packs into token-budget bins, and each
    // bin materializes as ONE id sequence with an EOS (id 0) after
    // every document plus the offset boundary array — the literal
    // trainer feed q143 produced only the string form of. The oracle
    // replays tokenization closed-form: the committed merges are
    // character-disjoint and non-chaining, so the greedy tokenizer's
    // SYMBOL LIST (not just its count, as q82 exploits) equals a
    // single left-to-right regex scan 'th|in|.' plus the trailing-e
    // end-of-word merge — BpeSpec pins that equivalence on
    // adversarial words — then restates the q53 shard/bin arithmetic
    // and rebuilds every sequence and offset list; one id out of
    // place breaks its bin's md5.
    Query("q145_token_shards", (s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      val packed = graft.operators.Packing.packContiguous(
        toks, "doc_id", "n_tokens", budget = 5000L, shards = 4)
      graft.operators.Packing.assembleTokenSequences(packed,
          "doc_id", "token_ids", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          md5(array_join(transform(col("sequence"), _.cast("string")), ","))
            .as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .orderBy("shard", "bin")
    },
      // q145: tokenization replayed closed-form — the committed merges
      // are character-disjoint ('th'/'in' share no characters, so their
      // occurrences in a word can never overlap and merge ORDER is
      // immaterial) and non-chaining, so the greedy tokenizer's symbol
      // list equals one left-to-right non-overlapping scan 'th|in|.'
      // plus the trailing-e end-of-word merge; ids are the committed
      // scheme (1='</w>', 2..4=merge rank, 5+codepoint=base chars,
      // 0=EOS between docs). Shard/bin = the q53 arithmetic on token
      // counts; sequences and offsets rebuild like q143's.
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (
           SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, ids,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, ids,
                  coalesce(sum(len(ids) + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(sum(len(ids) + 1) AS BIGINT) AS seq_tokens,
                md5(string_agg(array_to_string(list_append(ids, 0), ','),
                    ',' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv
         FROM o GROUP BY shard, bin ORDER BY shard, bin"""),

    // CCNet perplexity bucketing — the head/middle/tail cut that
    // decides which slice of a crawl a trainer ever sees: every
    // document scores under the q70 corpus bigram LM, then each
    // LANGUAGE's score distribution cuts into thirds. NOT a
    // per-language ntile window (that serializes a 100 TB language
    // through one task): the distribution collapses to the bounded
    // (lang, 4-dp score) histogram, the cut is exact integer rank
    // arithmetic (`div`, never a float quotient), and value blocks
    // never split — ties land in one bucket on both engines. The
    // oracle replays scoring, histogram, cumulative ranks, and the
    // floor-div cut; one document in the wrong third breaks the hash.
    Query("q162_ppl_buckets", (s, dir) =>
      // fanOut: LM scoring kernel off the single-task scan
      graft.operators.LangModel.perplexityBuckets(
          fanOut(t(s, dir, "documents"), "doc_id"), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("avg_logprob"),
          when(col("bucket") === 0, lit("head"))
            .when(col("bucket") === 1, lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy("doc_id"),
      PplBucketsOracleSql),

    // The bigram-LM family's STREAMING leg (q70 build / q70b
    // persisted-serve / THIS — the triad discipline every index
    // family carries): the corpus streams in 3 micro-batches into a
    // standing (w1,w2,cnt) model table (additive merge under the
    // batch-id ledger — counts are not idempotent) plus a
    // distinct-token vocabulary table (anti-join appends — replay
    // absorbs nothing); context marginals and the vocab stat DERIVE
    // at serve time, so two tables are the whole state. Serving off
    // the streamed model must answer the q70 oracle VERBATIM —
    // streamed arrival must not move one micro-nat.
    Query("q163_lm_stream", (s, dir) => {
      val (bigT, tokT) = ensureStreamedLmTables(s, dir)
      graft.operators.LangModel.scoreFromTables(s,
          t(s, dir, "documents"), "doc_id", "text", bigT, tokT)
        .orderBy("doc_id")
    },
      // the streamed model must answer exactly as the one-shot train
      BigramLmOracleSql),

    // The bucket cut SERVED OFF THE STREAMED MODEL (q162 through the
    // q163 state): scoring reads the standing bigram/token tables,
    // the histogram cut runs unchanged on top — and the answer must
    // be the q162 oracle VERBATIM, because the streamed model scores
    // exactly like the one-shot train (q163's guarantee) and the cut
    // is a pure function of the scores. The head/middle/tail serve a
    // growing corpus runs between micro-batches, no retrain.
    Query("q162b_ppl_buckets_served", (s, dir) => {
      val (bigT, tokT) = ensureStreamedLmTables(s, dir)
      val docs = t(s, dir, "documents")
      // the SAME cut implementation q162 runs (bucketsFromScores) —
      // only the scoring source differs
      graft.operators.LangModel.bucketsFromScores(
          graft.operators.LangModel.scoreFromTables(s,
            docs, "doc_id", "text", bigT, tokT),
          docs, "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("avg_logprob"),
          when(col("bucket") === 0, lit("head"))
            .when(col("bucket") === 1, lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy("doc_id")
    },
      // the streamed-model serve of the cut must answer as the
      // one-shot q162 — same oracle, verbatim
      PplBucketsOracleSql),

    // License-header gate for code corpora (The Stack / StarCoder
    // keep-permissive step): five license regimes planted by
    // doc_id%6 — MIT, Apache-2.0, GPL-3.0, BSD-3-Clause, a
    // proprietary notice — and one left bare. Detection is pure
    // codegen (lower + contains over a BOUNDED 1500-char header
    // window), and the marker order is itself under test: the BSD
    // header ENDS with the same "all rights reserved" sentence the
    // proprietary notice leads with, so a detector that checks
    // proprietary first mislabels every BSD file. The oracle replays
    // the header synthesis and the full decision ladder.
    Query("q164_license_filter", (s, dir) => {
      val hdrs = array(
        lit("Permission is hereby granted, free of charge, to any person obtaining a copy of this software."),
        lit("Licensed under the Apache License, Version 2.0; you may not use this file except in compliance."),
        lit("This file is free software under the terms of the GNU General Public License as published."),
        lit("Redistribution and use in source and binary forms, with or without modification, are permitted. All rights reserved."),
        lit("Copyright 2026 MegaCorp. All rights reserved. Unauthorized copying is prohibited."))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(6)) < 5,
          concat(
            element_at(hdrs, pmod(col("doc_id"), lit(6)).cast("int") + 1),
            lit("\n"), col("text")))
          .otherwise(col("text")).as("text"))
      docs.select(col("doc_id"),
          graft.functions.Text.licenseInfo(col("text")).as("li"))
        .select(col("doc_id"), col("li.license").as("license"),
          col("li.permissive").as("permissive"))
        .orderBy("doc_id")
    },
      """WITH hx AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 6 AS INTEGER)
                    WHEN 0 THEN 'Permission is hereby granted, free of charge, to any person obtaining a copy of this software.' || chr(10) || text
                    WHEN 1 THEN 'Licensed under the Apache License, Version 2.0; you may not use this file except in compliance.' || chr(10) || text
                    WHEN 2 THEN 'This file is free software under the terms of the GNU General Public License as published.' || chr(10) || text
                    WHEN 3 THEN 'Redistribution and use in source and binary forms, with or without modification, are permitted. All rights reserved.' || chr(10) || text
                    WHEN 4 THEN 'Copyright 2026 MegaCorp. All rights reserved. Unauthorized copying is prohibited.' || chr(10) || text
                    ELSE text END AS text
           FROM documents),
         h AS (SELECT doc_id, lower(substr(text, 1, 1500)) AS h FROM hx),
         lic AS (
           SELECT doc_id,
                  CASE
                    WHEN h LIKE '%apache license%' AND h LIKE '%version 2.0%'
                      THEN 'apache-2.0'
                    WHEN h LIKE '%gnu general public license%' THEN 'gpl-3.0'
                    WHEN h LIKE '%permission is hereby granted, free of charge%'
                      THEN 'mit'
                    WHEN h LIKE '%redistribution and use in source and binary forms%'
                      THEN 'bsd-3-clause'
                    WHEN h LIKE '%all rights reserved%' THEN 'proprietary'
                    ELSE 'none' END AS license
           FROM h)
         SELECT doc_id, license,
                license IN ('mit', 'apache-2.0', 'bsd-3-clause') AS permissive
         FROM lic ORDER BY doc_id"""),

    // Cluster-balanced rebalance (the SemDeDup/DataComp "don't let
    // the dominant cluster eat the token budget" step), made
    // cross-engine EXACT end-to-end: label-seeded integer centroids
    // (grid-quantized element means, floor-divided — a pure function
    // of the member set), row-local integer-L2 argmin re-assignment
    // (codebook rides the closure, no join, no float compare), then
    // the q96 temperature machinery with the CLUSTER as the stratum
    // (n^0.5 quotas flatten dominant clusters; md5-smallest draw).
    // The per-cluster summary pins the kept SET through id checksums;
    // the oracle re-derives quantization, centroids, every argmin,
    // quotas, and membership from scratch.
    Query("q165_cluster_balance", (s, dir) =>
      graft.operators.Similarity.clusterBalance(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label",
          totalTarget = 200L)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("id_sum"),
          sum(col("vec_id") * col("vec_id")).as("id_sq_sum"))
        .orderBy("cluster"),
      // q165: quantization (round·1000), label-seeded integer
      // centroids (floor of exact integer sums), every vector's
      // integer-L2 argmin with (dist, cluster) tiebreak, then the q96
      // quota/selection replay with the cluster as the stratum. The
      // only float steps are the per-element round (house ulp risk)
      // and the centroid floor-div (gap ≥ 1/n, ~11 orders above double
      // rounding); everything else is exact integers. dim=64 pinned by
      // the embeddings fixture.
      """WITH q AS (
           SELECT vec_id, label,
                  list_transform(embedding,
                    e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS gq
           FROM embeddings),
         px AS (SELECT unnest(range(1, 65)) AS pos),
         cent AS (
           SELECT label AS cluster, pos,
                  CAST(floor(CAST(sum(gq[pos]) AS DOUBLE) / count(1))
                       AS BIGINT) AS cv
           FROM q CROSS JOIN px GROUP BY label, pos),
         cvecs AS (
           SELECT cluster, list(cv ORDER BY pos) AS cvec
           FROM cent GROUP BY cluster),
         dists AS (
           SELECT q.vec_id, c.cluster,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> (q.gq[i] - c.cvec[i]) * (q.gq[i] - c.cvec[i])))
                    AS BIGINT) AS dist
           FROM q CROSS JOIN cvecs c),
         assign AS (
           SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY dist, cluster) AS rk
             FROM dists) WHERE rk = 1),
         cnt AS (SELECT cluster, count(1) AS n FROM assign GROUP BY cluster),
         w AS (SELECT cluster, n,
                 CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0 + 0.5)
                      AS BIGINT) AS sw
               FROM cnt),
         tot AS (SELECT sum(sw) AS st FROM w),
         raw AS (SELECT cluster, n, (200 * sw) // tot.st AS q0,
                        (200 * sw) % tot.st AS rem
                 FROM w CROSS JOIN tot),
         lo AS (SELECT 200 - sum(q0) AS leftover FROM raw),
         bump AS (SELECT cluster, n, q0, rem,
                    row_number() OVER (ORDER BY rem DESC,
                      CAST(cluster AS VARCHAR)) AS rk
                  FROM raw),
         quota AS (SELECT cluster,
                     least(CASE WHEN rk <= (SELECT leftover FROM lo)
                                THEN q0 + 1 ELSE q0 END, n) AS qq
                   FROM bump),
         sel AS (SELECT a.vec_id, a.cluster,
                   row_number() OVER (PARTITION BY a.cluster
                     ORDER BY md5('graft' || CAST(a.vec_id AS VARCHAR)),
                       a.vec_id) AS rn
                 FROM assign a),
         kept AS (SELECT sel.vec_id, sel.cluster
                  FROM sel JOIN quota USING (cluster) WHERE sel.rn <= quota.qq)
         SELECT cluster, count(1) AS n_kept,
                CAST(sum(vec_id) AS BIGINT) AS id_sum,
                CAST(sum(vec_id * vec_id) AS BIGINT) AS id_sq_sum
         FROM kept GROUP BY cluster ORDER BY cluster"""),

    // Gate-attribution funnel (the curation stats page every real
    // pipeline publishes — which stage dropped what): the q61-style
    // corpus (plus 50 planted clones) runs the refine gates with
    // FIRST-FAIL attribution in pipeline order (lang → quality →
    // repetition → duplicate → kept), so counts sum to the input.
    // Every class is POPULATED by construction: doc_id%9==5 becomes
    // an English-but-punctuation-flooded text (langId still says en
    // — one stopword — so the charge lands on QUALITY, the ordering
    // subtlety), %9==7 a stopword-only repetition text that passes
    // quality and fails the dup-token ceiling; the floor is 0.7
    // because at the default 0.3 the quality gate is unreachable
    // once language passes (comp1+comp3 ≥ 1.04, comp4 ≥ 0.5). The
    // oracle replays every gate kernel (the q26/q27/q59 fragments),
    // the keeper map, and the first-fail collapse.
    Query("q166_gate_attribution", (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(9)) === 5,
          concat(lit("the "), repeat(lit("!? "), 40)))
        .when(pmod(col("doc_id"), lit(9)) === 7,
          repeat(lit("the "), 30))
        .otherwise(col("text")).as("text"))
      val u = base.unionByName(base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 400000L).as("doc_id"), col("text")))
      graft.operators.Corpus.gateAttribution(u, "doc_id", "text",
          minQuality = 0.7)
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("verdict")
    },
      // q166: the q61 gate chain replayed per-doc with FIRST-FAIL
      // attribution (pipeline order), the keeper map on gate-passing
      // docs only, and the funnel aggregate. Same planted clones, same
      // kernels — `kept` here must equal q61's survivor total.
      """WITH u0 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 9 = 5 THEN 'the ' || repeat('!? ', 40)
                       WHEN doc_id % 9 = 7 THEN repeat('the ', 30)
                       ELSE text END AS text
           FROM documents),
         u AS (
           SELECT doc_id, text FROM u0
           UNION ALL
           SELECT doc_id + 400000, text FROM u0 WHERE doc_id < 50),
         b AS (
           SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS tok,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk,
             trim(regexp_replace(regexp_replace(lower(text),
               '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
           FROM u),
         l AS (
           SELECT *,
             length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS en,
             length(list_filter(tk, x -> x IN ('le','la','les','de','des','du','et','ou','un','une','est','que','qui','dans','pour','sur','avec','au','ce','pas'))) AS fr,
             length(list_filter(tk, x -> x IN ('der','die','das','und','oder','ein','eine','ist','zu','den','von','mit','auf','für','im','nicht','sich','dem','sie','werden'))) AS de,
             length(list_filter(tk, x -> x IN ('el','la','los','las','de','y','o','un','una','es','que','en','por','para','con','no','se','del','al','como'))) AS es
           FROM b),
         p AS (
           SELECT doc_id, text,
             CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                  WHEN en = greatest(en, fr, de, es) THEN 'en'
                  WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                  WHEN de = greatest(en, fr, de, es) THEN 'de'
                  ELSE 'es' END AS lang,
             CASE WHEN tok = 0 THEN 0.0
                  ELSE round((
                    least(CAST(tok AS DOUBLE) / 50.0, 1.0) +
                    (CASE WHEN length(text) = 0 THEN 1.0
                          ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)) * 10.0) END) +
                    least((CAST(en AS DOUBLE) / tok) * 50.0, 1.0) +
                    (CASE WHEN len(tk) = 0 THEN 0.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) >= 3.0
                           AND CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) <= 10.0 THEN 1.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) > 0.0 THEN 0.5
                          ELSE 0.0 END)) / 4.0, 4) END AS q,
             CASE WHEN length(norm) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
                           / len(string_split(norm, ' ')) END AS df
           FROM l),
         v AS (
           SELECT doc_id, text,
             CASE WHEN text IS NULL THEN 'null_text'
                  WHEN lang != 'en' THEN 'lang'
                  WHEN q < 0.7 THEN 'quality'
                  WHEN df > 0.5 THEN 'repetition'
                  ELSE NULL END AS fail
           FROM p),
         f AS (SELECT doc_id, text FROM v WHERE fail IS NULL),
         k AS (SELECT md5(text) AS d, min(doc_id) AS keeper FROM f GROUP BY 1),
         verd AS (
           SELECT v.doc_id,
             coalesce(v.fail,
               CASE WHEN v.doc_id = k.keeper THEN 'kept'
                    ELSE 'duplicate' END) AS verdict
           FROM v LEFT JOIN k ON v.fail IS NULL AND md5(v.text) = k.d)
         SELECT verdict, count(1) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM verd GROUP BY verdict ORDER BY verdict"""),

    // Interleaved image–text documents (the MMC4/OBELICS training
    // format — image placeholders IN the main-content flow plus an
    // aligned, resolved image list): template pages carry a chrome
    // logo (must never emit), an image BETWEEN two kept paragraphs
    // (must splice exactly there), a dropped-short block, and a
    // trailing figure whose caption block also drops while its image
    // still emits — boilerplate TEXT dies, content images survive.
    // Captions exercise the figcaption-then-title-then-alt ladder;
    // URLs resolve relative and root-relative srcs against the page.
    // The oracle states the full interleaved string (placeholders,
    // newlines, block order) and both resolved URLs closed-form.
    Query("q168_interleaved_docs", (s, dir) => {
      val ks = pmod(col("doc_id"), lit(20)).cast("string")
      val ids = col("doc_id").cast("string")
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"), ks, lit(".example.com/dir/page"),
          ids, lit(".html")).as("url"),
        concat(
          lit("<html><head><title>Page "), ids, lit("</title></head><body>"),
          lit("<nav><a href=\"/\">Home sweet home navigation</a><img src=\"logo.png\"></nav>"),
          lit("<p>First paragraph of page "), ids,
          lit(" with enough characters to keep it.</p>"),
          lit("<img src=\"pics/a"), ids, lit(".jpg\" alt=\"Alt "), ids,
          lit("\">"),
          lit("<p>Second paragraph of page "), ids,
          lit(" is also long enough to keep around.</p>"),
          lit("<div>tiny</div>"),
          lit("<figure><img src=\"/f/b"), ids, lit(".png\"><figcaption>Cap "),
          ids, lit("</figcaption></figure></body></html>")).as("html"))
      graft.operators.Html.interleavedDocs(pages, "doc_id", "url", "html")
        .select(col("doc_id"), col("interleaved_text"),
          array_join(col("image_urls"), "|").as("image_urls_csv"),
          array_join(col("image_captions"), "|").as("captions_csv"),
          col("n_images"), col("n_kept"))
        .orderBy("doc_id")
    },
      // q168: the interleaved string, resolved URLs, caption ladder,
      // and counts stated verbatim from the template — a placeholder
      // out of position, a leaked chrome logo, or a dropped content
      // image breaks the hash.
      """WITH b AS (
           SELECT doc_id, CAST(doc_id % 20 AS VARCHAR) AS k,
                  CAST(doc_id AS VARCHAR) AS i
           FROM documents)
         SELECT doc_id,
                'First paragraph of page ' || i ||
                ' with enough characters to keep it.' || chr(10) ||
                '<|image_0|>' || chr(10) ||
                'Second paragraph of page ' || i ||
                ' is also long enough to keep around.' || chr(10) ||
                '<|image_1|>' AS interleaved_text,
                'https://site' || k || '.example.com/dir/pics/a' || i ||
                '.jpg|https://site' || k || '.example.com/f/b' || i ||
                '.png' AS image_urls_csv,
                'Alt ' || i || '|Cap ' || i AS captions_csv,
                CAST(2 AS INT) AS n_images, CAST(2 AS INT) AS n_kept
         FROM b ORDER BY doc_id"""),

    // Gopher repetition-rule battery (Rae et al. 2021 Table A1 — the
    // public repetition-filter recipe): 26 planted fixture classes,
    // one FIRE and one NEAR-MISS PASS per rule, each engineered so
    // exactly its own rule is the first to exceed its ceiling (fire)
    // or so every stat sits within a few permille UNDER every ceiling
    // (pass) — both directions of all 13 rules are live. Stats are
    // exact integer permilles from one JVM kernel pass
    // (Sketches.repetitionStats), so the oracle states every number
    // as a closed-form constant per class; the fired rule is the
    // shared Column ladder gateAttribution's named mode uses.
    Query("q171_gopher_repetition", (s, dir) => {
      val fixtures = array(GopherFixtures.map(lit): _*)
      val cls = pmod(col("doc_id"), lit(26)).cast("int")
      t(s, dir, "documents")
        .select(col("doc_id"), cls.as("cls"),
          element_at(fixtures, cls + 1).as("text"))
        .withColumn("st", graft.functions.Text.repetitionStats(col("text")))
        .select(col("doc_id"), col("cls"),
          coalesce(graft.functions.Text.gopherRepetitionRule(col("st")),
            lit("none")).as("verdict"),
          col("st.dup_para_pm"), col("st.dup_line_pm"),
          col("st.dup_para_char_pm"), col("st.dup_line_char_pm"),
          col("st.top2_pm"), col("st.top3_pm"), col("st.top4_pm"),
          col("st.dup5_pm"), col("st.dup6_pm"), col("st.dup7_pm"),
          col("st.dup8_pm"), col("st.dup9_pm"), col("st.dup10_pm"))
        .groupBy("cls", "verdict", "dup_para_pm", "dup_line_pm",
          "dup_para_char_pm", "dup_line_char_pm", "top2_pm", "top3_pm",
          "top4_pm", "dup5_pm", "dup6_pm", "dup7_pm", "dup8_pm",
          "dup9_pm", "dup10_pm")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("cls")
    },
      // q171: every fixture class's 13 repetition permilles and fired
      // rule stated as CLOSED-FORM constants (hand-derived from the
      // planted word geometry — e.g. class 0 is a one-word paragraph
      // appearing 4x among 9: 3 dup occurrences of 9 = 333 permille on
      // all four line/para stats); the corpus only contributes
      // membership counts and id sums per class.
      """WITH fx(cls, verdict, dup_para_pm, dup_line_pm, dup_para_char_pm,
                 dup_line_char_pm, top2_pm, top3_pm, top4_pm, dup5_pm,
                 dup6_pm, dup7_pm, dup8_pm, dup9_pm, dup10_pm) AS (VALUES
             (0,'dup_para',333,333,333,333,0,0,0,0,0,0,0,0,0),
             (1,'none',200,200,200,200,0,0,0,0,0,0,0,0,0),
             (2,'dup_line',0,375,0,375,0,0,0,0,0,0,0,0,0),
             (3,'none',0,200,0,200,0,0,0,0,0,0,0,0,0),
             (4,'dup_para_char',100,100,430,430,83,125,166,833,833,833,833,833,833),
             (5,'none',38,38,192,192,0,0,0,0,0,0,0,0,0),
             (6,'dup_line_char',0,100,0,378,0,0,0,0,0,0,0,0,0),
             (7,'none',0,40,0,197,0,0,0,0,0,0,0,0,0),
             (8,'top_2gram',0,0,0,0,400,0,0,0,0,0,0,0,0),
             (9,'none',0,0,0,0,181,0,0,0,0,0,0,0,0),
             (10,'top_3gram',0,0,0,0,181,272,0,0,0,0,0,0,0),
             (11,'none',0,0,0,0,117,176,0,0,0,0,0,0,0),
             (12,'top_4gram',0,0,0,0,100,150,200,0,0,0,0,0,0),
             (13,'none',0,0,0,0,76,115,153,0,0,0,0,0,0),
             (14,'dup_5gram',0,0,0,0,72,109,145,181,0,0,0,0,0),
             (15,'none',0,0,0,0,59,89,119,149,0,0,0,0,0),
             (16,'dup_6gram',0,0,0,0,48,73,97,146,146,0,0,0,0),
             (17,'none',0,0,0,0,46,69,93,139,139,0,0,0,0),
             (18,'dup_7gram',0,0,0,0,38,58,77,135,135,135,0,0,0),
             (19,'none',0,0,0,0,37,55,74,129,129,129,0,0,0),
             (20,'dup_8gram',0,0,0,0,31,46,62,125,125,125,125,0,0),
             (21,'none',0,0,0,0,29,44,59,119,119,119,119,0,0),
             (22,'dup_9gram',0,0,0,0,25,38,51,115,115,115,115,115,0),
             (23,'none',0,0,0,0,24,36,48,109,109,109,109,109,0),
             (24,'dup_10gram',0,0,0,0,21,31,42,105,105,105,105,105,105),
             (25,'none',0,0,0,0,20,30,40,100,100,100,100,100,100)),
         d AS (SELECT doc_id, CAST(doc_id % 26 AS INT) AS cls
               FROM documents)
         SELECT f.cls, f.verdict,
                CAST(f.dup_para_pm AS BIGINT) AS dup_para_pm,
                CAST(f.dup_line_pm AS BIGINT) AS dup_line_pm,
                CAST(f.dup_para_char_pm AS BIGINT) AS dup_para_char_pm,
                CAST(f.dup_line_char_pm AS BIGINT) AS dup_line_char_pm,
                CAST(f.top2_pm AS BIGINT) AS top2_pm,
                CAST(f.top3_pm AS BIGINT) AS top3_pm,
                CAST(f.top4_pm AS BIGINT) AS top4_pm,
                CAST(f.dup5_pm AS BIGINT) AS dup5_pm,
                CAST(f.dup6_pm AS BIGINT) AS dup6_pm,
                CAST(f.dup7_pm AS BIGINT) AS dup7_pm,
                CAST(f.dup8_pm AS BIGINT) AS dup8_pm,
                CAST(f.dup9_pm AS BIGINT) AS dup9_pm,
                CAST(f.dup10_pm AS BIGINT) AS dup10_pm,
                count(1) AS n_docs, CAST(sum(d.doc_id) AS BIGINT) AS id_sum
         FROM d JOIN fx f USING (cls)
         GROUP BY ALL ORDER BY f.cls"""),

    // The same fixtures through the FULL curation funnel with named
    // repetition rules (gateAttribution namedRepetition=true): fire
    // classes land on `repetition:<rule>`, pass classes flow through
    // to the exact-dedup stage (every doc of a class shares one text,
    // so each pass class keeps its min-id doc and marks the rest
    // duplicates). langs=und / minQuality=0 open the upstream gates —
    // the fixture words are gibberish by design and this battery
    // charges the repetition stage, not langId.
    Query("q171b_gopher_gate", (s, dir) => {
      val fixtures = array(GopherFixtures.map(lit): _*)
      // fanOut: the Gopher stats kernel off the single-task scan
      val docs = fanOut(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"),
          element_at(fixtures, pmod(col("doc_id"), lit(26)).cast("int") + 1)
            .as("text"))
      graft.operators.Corpus.gateAttribution(docs, "doc_id", "text",
          langs = Set("und"), minQuality = 0.0, namedRepetition = true)
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("verdict")
    },
      // q171b: the funnel — fire classes charge their named rule, pass
      // classes flow to exact dedup where the class's min doc_id is the
      // keeper (all docs of a class share one fixture text).
      """WITH fx(cls, fail) AS (VALUES
             (0,'repetition:dup_para'), (1,NULL),
             (2,'repetition:dup_line'), (3,NULL),
             (4,'repetition:dup_para_char'), (5,NULL),
             (6,'repetition:dup_line_char'), (7,NULL),
             (8,'repetition:top_2gram'), (9,NULL),
             (10,'repetition:top_3gram'), (11,NULL),
             (12,'repetition:top_4gram'), (13,NULL),
             (14,'repetition:dup_5gram'), (15,NULL),
             (16,'repetition:dup_6gram'), (17,NULL),
             (18,'repetition:dup_7gram'), (19,NULL),
             (20,'repetition:dup_8gram'), (21,NULL),
             (22,'repetition:dup_9gram'), (23,NULL),
             (24,'repetition:dup_10gram'), (25,NULL)),
         d AS (SELECT doc_id, CAST(doc_id % 26 AS INT) AS cls
               FROM documents),
         k AS (SELECT cls, min(doc_id) AS keeper FROM d GROUP BY 1),
         v AS (SELECT d.doc_id,
                      coalesce(f.fail,
                        CASE WHEN d.doc_id = k.keeper THEN 'kept'
                             ELSE 'duplicate' END) AS verdict
               FROM d JOIN fx f USING (cls) JOIN k USING (cls))
         SELECT verdict, count(1) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM v GROUP BY 1 ORDER BY 1"""),

    // FUZZY eval-set decontamination (the near-dup complement of
    // q159's exact 13-gram gate — Lee/Dodge style): doc_id%7==4 docs
    // are REPLACED by a lightly-edited benchmark item ("zz " prefix —
    // shingle Jaccard 0.9565, a paraphrase-leak an exact-gram gate
    // could miss), %7==5 docs EMBED a benchmark item diluted by their
    // own text (Jaccard ≤ ~0.66, below the 0.8 bar — flagged by q159's
    // exact gate, correctly NOT by this one). The bench side
    // broadcasts; candidates verify inline against the exact
    // hashed-shingle Jaccard; the oracle recomputes the BRUTE-FORCE
    // char-5-gram Jaccard of every doc against every bench item, so
    // an LSH recall miss is a correctness failure.
    Query("q172_fuzzy_decontamination", (s, dir) => {
      import s.implicits._
      val sents = (0 until 3).map(b =>
        (0 until 15).map(k => s"zq${('a' + b).toChar}$k").mkString(" "))
      val bench = sents.zipWithIndex
        .map { case (t, b) => (b.toLong, t) }.toDF("bench_id", "btext")
      val sentByMod3 = element_at(array(sents.map(lit): _*),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val planted = fanOut(t(s, dir, "documents"), "doc_id").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 4,
          concat(lit("zz "), sentByMod3))
        .when(pmod(col("doc_id"), lit(7)) === 5,
          concat(sentByMod3, lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
      graft.operators.Dedup.fuzzyContaminatedDocs(planted, "doc_id",
          "text", bench, "bench_id", "btext", threshold = 0.8)
        .orderBy("doc_id")
    },
      // q172: the BRUTE-FORCE pair truth (the q22 discipline, corpus x
      // bench instead of corpus self-join): every doc's char-5-gram
      // Jaccard against every bench item recomputed from scratch — the
      // LSH path must reproduce it exactly, so a banding recall miss is
      // a correctness failure, not a silent gap.
      """WITH bench(bench_id, btext) AS (VALUES
             (0, 'zqa0 zqa1 zqa2 zqa3 zqa4 zqa5 zqa6 zqa7 zqa8 zqa9 zqa10 zqa11 zqa12 zqa13 zqa14'),
             (1, 'zqb0 zqb1 zqb2 zqb3 zqb4 zqb5 zqb6 zqb7 zqb8 zqb9 zqb10 zqb11 zqb12 zqb13 zqb14'),
             (2, 'zqc0 zqc1 zqc2 zqc3 zqc4 zqc5 zqc6 zqc7 zqc8 zqc9 zqc10 zqc11 zqc12 zqc13 zqc14')),
         u AS (
           SELECT d.doc_id,
                  CASE WHEN d.doc_id % 7 = 4 THEN 'zz ' || b.btext
                       WHEN d.doc_id % 7 = 5 THEN b.btext || ' ' || d.text
                       ELSE d.text END AS text
           FROM documents d
           JOIN bench b ON b.bench_id = d.doc_id % 3),
         n AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
           FROM u),
         s AS (
           SELECT doc_id, list_distinct(list_transform(
                    range(1, greatest(length(t) - 4, 1) + 1),
                    i -> substr(t, i, 5))) AS sh
           FROM n),
         nb AS (
           SELECT bench_id, trim(regexp_replace(regexp_replace(lower(btext),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
           FROM bench),
         sb AS (
           SELECT bench_id, list_distinct(list_transform(
                    range(1, greatest(length(t) - 4, 1) + 1),
                    i -> substr(t, i, 5))) AS sh
           FROM nb),
         p AS (
           SELECT a.doc_id, b.bench_id,
                  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                    AS j
           FROM s a CROSS JOIN sb b)
         SELECT doc_id, CAST(count(1) AS BIGINT) AS n_bench_hits,
                round(max(j), 4) AS max_jaccard
         FROM p WHERE j >= 0.8
         GROUP BY doc_id ORDER BY doc_id"""),

    // C4 badwords/URL gate (Raffel et al. 2020 §2.2 — the public
    // blocklist recipe): whole-WORD content matches flag (including
    // across hyphen boundaries: "free-porn"), substring traps never
    // do ("sussex"/"essex"/"classy"), and the URL gate flags blocked
    // tokens in the source address. The funnel runs with every
    // upstream gate opened (langs=all, quality 0, dupTok 1.0) so the
    // blocklist is the only text gate: fire classes land on
    // `badwords`, pass classes flow to the exact-dedup keeper logic.
    Query("q173_c4_badwords", (s, dir) => {
      val cls = pmod(col("doc_id"), lit(6)).cast("int")
      val docs = fanOut(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), cls.as("cls"),
        when(cls === 0, concat(col("text"), lit(" viagra casino offers")))
          .when(cls === 1, concat(col("text"), lit(" Hot PORN! site")))
          .when(cls === 2, concat(col("text"), lit(" sussex essex classy")))
          .when(cls === 3, concat(col("text"), lit(" free-porn links")))
          .otherwise(col("text")).as("text"),
        when(cls === 4, lit("https://best-casino.example.com/play"))
          .otherwise(lit("https://news.example.com/page")).as("url"))
      val verd = graft.operators.Corpus.gateAttribution(
        docs.select("doc_id", "text"), "doc_id", "text",
        langs = Set("en", "fr", "de", "es", "und"), minQuality = 0.0,
        maxDupTokenFraction = 1.0,
        badwords = Some(graft.functions.Text.C4Badwords))
      docs.select(col("doc_id"), col("cls"),
          graft.functions.Text.blockedUrl(col("url")).as("url_blocked"))
        .join(verd, "doc_id")
        .groupBy("cls", "verdict", "url_blocked")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("cls", "verdict")
    },
      // q173: fire classes are closed-form ('badwords' for cls 0/1/3,
      // url_blocked only for cls 4); the pass classes' kept/duplicate
      // split replays the md5 keeper logic over the MODIFIED texts —
      // the q166 oracle discipline.
      """WITH d AS (
           SELECT doc_id, CAST(doc_id % 6 AS INT) AS cls,
                  CASE CAST(doc_id % 6 AS INT)
                    WHEN 0 THEN text || ' viagra casino offers'
                    WHEN 1 THEN text || ' Hot PORN! site'
                    WHEN 2 THEN text || ' sussex essex classy'
                    WHEN 3 THEN text || ' free-porn links'
                    ELSE text END AS text
           FROM documents),
         b AS (
           SELECT doc_id, cls, text,
                  cls IN (0, 1, 3) AS blocked,
                  cls = 4 AS url_blocked
           FROM d),
         k AS (
           SELECT md5(text) AS dk, min(doc_id) AS keeper
           FROM b WHERE NOT blocked GROUP BY 1),
         v AS (
           SELECT b.doc_id, b.cls, b.url_blocked,
                  CASE WHEN b.blocked THEN 'badwords'
                       WHEN b.doc_id = k.keeper THEN 'kept'
                       ELSE 'duplicate' END AS verdict
           FROM b LEFT JOIN k ON NOT b.blocked AND md5(b.text) = k.dk)
         SELECT cls, verdict, url_blocked, count(1) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM v GROUP BY ALL ORDER BY cls, verdict"""),

    // Multimodal trainer seam (q168's interleaved docs carried all
    // the way to the packed-shard form): placeholder LINES tokenize
    // to ONE reserved negative id each (text runs never merge across
    // an image boundary), the multimodal assembler flattens each
    // bin's refs in pack order, and the image LOOKASIDE table maps
    // every slot ordinal to its 0-based position in the landed
    // sequence + its ref — the ordinal contract a trainer's embedding
    // swap relies on. Three planted classes: no-image, trailing
    // image + caption run, and image-bracketed text. The oracle
    // rebuilds ids (q145 chain + [-2] splices), shard/bin arithmetic,
    // offsets, every slot position (per-doc placeholder index + doc
    // offset), and the ref order from scratch.
    Query("q174_multimodal_shards", (s, dir) => {
      val cls = pmod(col("doc_id"), lit(3)).cast("int")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(cls === 1,
          concat(col("text"), lit("\n<|image_0|>\nthe small table")))
        .when(cls === 2,
          concat(lit("<|image_0|>\n"), col("text"), lit("\n<|image_1|>")))
        .otherwise(col("text")).as("itext"),
        when(cls === 1, array(concat(lit("https://img.example.com/a"),
          col("doc_id").cast("string"), lit(".jpg"))))
        .when(cls === 2, array(
          concat(lit("https://img.example.com/b"),
            col("doc_id").cast("string"), lit(".png")),
          concat(lit("https://img.example.com/c"),
            col("doc_id").cast("string"), lit(".png"))))
        .otherwise(array().cast("array<string>")).as("urls"))
      val toks = graft.operators.Multimodal.tokenizeInterleaved(docs,
        "doc_id", "itext", "urls", CommittedBpeMerges)
      val packed = graft.operators.Packing.packContiguous(toks, "doc_id",
        "n_tokens", budget = 5000L, shards = 4)
      val seqs = graft.operators.Packing.assembleMultimodalSequences(
        packed, "doc_id", "token_ids", "image_refs", orderCol = "doc_id")
      val slots = graft.operators.Packing.imageSlotTable(seqs)
      val slotAgg = slots.groupBy("shard", "bin").agg(
        count(lit(1)).as("n_slots"),
        array_join(transform(
          array_sort(collect_list(struct(col("slot"), col("position")))),
          x => x.getField("position").cast("string")), ",")
          .as("positions_csv"),
        array_join(transform(
          array_sort(collect_list(struct(col("slot"), col("image_ref")))),
          x => x.getField("image_ref")), "|").as("refs_csv"))
      seqs.select(col("shard"), col("bin"), col("n_docs"),
          col("seq_tokens"),
          md5(array_join(transform(col("sequence"), _.cast("string")), ","))
            .as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .join(slotAgg, Seq("shard", "bin"), "left")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          col("seq_md5"), col("offsets_csv"),
          coalesce(col("n_slots"), lit(0L)).as("n_slots"),
          coalesce(col("positions_csv"), lit("")).as("positions_csv"),
          coalesce(col("refs_csv"), lit("")).as("refs_csv"))
        .orderBy("shard", "bin")
    },
      // q174: the q145 closed-form chain with the interleaved splices —
      // per-doc ids gain [-2] placeholders (cls1 also the fixed
      // "the small table" run: [2,4 | 120,114,102,113,113,1 |
      // 121,102,103,113,4] under the committed scheme), then shard/bin
      // arithmetic, offsets, global slot positions (per-doc placeholder
      // index + doc offset) and pack-order refs all rebuild from
      // scratch.
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS tids
           FROM w),
         mm AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 1 THEN list_concat(tids,
                      [-2, 2, 4, 120, 114, 102, 113, 113, 1,
                       121, 102, 103, 113, 4])
                    WHEN 2 THEN list_concat(list_prepend(-2, tids), [-2])
                    ELSE tids END AS ids,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 1 THEN ['https://img.example.com/a' ||
                                 CAST(doc_id AS VARCHAR) || '.jpg']
                    WHEN 2 THEN ['https://img.example.com/b' ||
                                   CAST(doc_id AS VARCHAR) || '.png',
                                 'https://img.example.com/c' ||
                                   CAST(doc_id AS VARCHAR) || '.png']
                    ELSE CAST([] AS VARCHAR[]) END AS refs
           FROM tok),
         p AS (
           SELECT doc_id, ids, refs, CAST(len(ids) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM mm),
         b AS (
           SELECT shard, doc_id, ids, refs,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, ids, refs,
                  coalesce(sum(len(ids) + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b),
         sl AS (
           SELECT shard, bin, doc_id, ids, refs, off,
                  list_transform(
                    list_filter(range(1, len(ids) + 1), i -> ids[i] = -2),
                    i -> i - 1 + off) AS poss
           FROM o)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(sum(len(ids) + 1) AS BIGINT) AS seq_tokens,
                md5(string_agg(array_to_string(list_append(ids, 0), ','),
                    ',' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv,
                CAST(coalesce(sum(len(poss)), 0) AS BIGINT) AS n_slots,
                coalesce(string_agg(array_to_string(poss, ','), ','
                    ORDER BY doc_id) FILTER (len(poss) > 0), '')
                  AS positions_csv,
                coalesce(string_agg(array_to_string(refs, '|'), '|'
                    ORDER BY doc_id) FILTER (len(refs) > 0), '')
                  AS refs_csv
         FROM sl GROUP BY shard, bin ORDER BY shard, bin"""),

    // The multimodal attribution ledger: per-source token AND image-
    // slot contributions, both recovered from the landed shard
    // geometry (offset spans scanned for placeholder ids — never
    // re-tokenized). The oracle restates tokens via the q145 chain
    // (+placeholders +sep) and slots from the planted class shape.
    Query("q174b_image_attribution", (s, dir) => {
      val cls = pmod(col("doc_id"), lit(3)).cast("int")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("source"),
        when(cls === 1,
          concat(col("text"), lit("\n<|image_0|>\nthe small table")))
        .when(cls === 2,
          concat(lit("<|image_0|>\n"), col("text"), lit("\n<|image_1|>")))
        .otherwise(col("text")).as("itext"),
        when(cls === 1, array(lit("a.jpg")))
        .when(cls === 2, array(lit("b.png"), lit("c.png")))
        .otherwise(array().cast("array<string>")).as("urls"))
      val toks = graft.operators.Multimodal.tokenizeInterleaved(docs,
        "doc_id", "itext", "urls", CommittedBpeMerges)
      val packed = graft.operators.Packing.packContiguous(toks, "doc_id",
        "n_tokens", budget = 5000L, shards = 4)
      val seqs = graft.operators.Packing.assembleMultimodalSequences(
        packed, "doc_id", "token_ids", "image_refs", orderCol = "doc_id")
      graft.operators.Packing.sequenceAttribution(seqs,
          docs.select("doc_id", "source"), "doc_id", "source",
          imageId = Some(graft.operators.Multimodal.ImagePlaceholderId))
        .orderBy("source")
    },
      // q174b: tokens restated via the same chain (+placeholders +sep),
      // image slots from the planted class shape (cls1 one, cls2 two).
      """WITH w AS (
           SELECT doc_id, source, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id, source,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS tids
           FROM w),
         mm AS (
           SELECT doc_id, source, CAST(doc_id % 3 AS INT) AS cls,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 1 THEN len(tids) + 14
                    WHEN 2 THEN len(tids) + 2
                    ELSE len(tids) END AS n_tok
           FROM tok)
         SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                CAST(sum(n_tok + 1) AS BIGINT) AS n_tokens_with_sep,
                CAST(sum(CASE cls WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END)
                  AS BIGINT) AS n_image_slots
         FROM mm GROUP BY source ORDER BY source"""),

    // Tokenizer fertility telemetry (tokens/char, tokens/word,
    // bytes/token per source — the mixture-design dashboard numbers):
    // token counts recovered from the LANDED q145 shard geometry
    // (offset deltas minus the separator — fertility describes the
    // tokenizer, not the packing convention), denominators from the
    // normalized text that fed it; every ratio an exact integer floor
    // division. The oracle restates tokens via the q145 closed-form
    // chain and the denominators from the same normalize expression.
    Query("q175_fertility_telemetry", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = graft.operators.Bpe.tokenIds(
        docs.select("doc_id", "text"), "doc_id", "text",
        CommittedBpeMerges)
      val seqs = graft.operators.Packing.assembleTokenSequences(
        graft.operators.Packing.packContiguous(toks, "doc_id", "n_tokens",
          budget = 5000L, shards = 4),
        "doc_id", "token_ids", orderCol = "doc_id")
      val norm = graft.functions.Text.normalizeText(col("text"))
      val meta = docs.select(col("doc_id"), col("source"),
        length(norm).cast("long").as("n_chars"),
        when(length(norm) === 0, lit(0L))
          .otherwise(size(split(norm, " ")).cast("long")).as("n_words"),
        octet_length(norm).cast("long").as("n_bytes"))
      graft.operators.Packing.fertilityTelemetry(seqs, meta, "doc_id",
          "source", "n_chars", "n_words", "n_bytes")
        .orderBy("source")
    },
      // q175: tokens via the q145 chain (no separator), denominators
      // from the same normalize, ratios exact integer floor divisions.
      """WITH nw AS (
           SELECT doc_id, source,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
           FROM documents),
         w AS (
           SELECT doc_id, source, norm,
                  list_filter(string_split(norm, ' '),
                    x -> length(x) > 0) AS ws
           FROM nw),
         tok AS (
           SELECT doc_id, source, norm,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS tids
           FROM w),
         a AS (
           SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                  CAST(sum(len(tids)) AS BIGINT) AS n_tokens,
                  CAST(sum(length(norm)) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN length(norm) = 0 THEN 0
                                ELSE len(string_split(norm, ' ')) END)
                    AS BIGINT) AS wd,
                  CAST(sum(strlen(norm)) AS BIGINT) AS b
           FROM tok GROUP BY source)
         SELECT source, n_docs, n_tokens,
                CAST(CASE WHEN c = 0 THEN NULL
                     ELSE (n_tokens * 1000) // c END AS BIGINT)
                  AS tokens_per_kchar,
                CAST(CASE WHEN wd = 0 THEN NULL
                     ELSE (n_tokens * 1000) // wd END AS BIGINT)
                  AS tokens_per_kword,
                CAST(CASE WHEN n_tokens = 0 THEN NULL
                     ELSE (b * 1000) // n_tokens END AS BIGINT)
                  AS bytes_per_token_milli
         FROM a ORDER BY source"""),

    // Best-fit-decreasing packing (Krell et al. 2021's histogram
    // formulation): sizes planted 70/50/25 (doc 0 the lone 70) so
    // every BFD move is arithmetic the oracle can restate — the 70-bin
    // absorbs exactly one 25 (best-fit chooses the TIGHTEST gap), the
    // 50s pair into full bins, the remaining 25s pack 4-to-a-bin with
    // a tail. The solver runs on the (shard, size) histogram and
    // emits run-length allocations; rows only pay a rank window.
    Query("q176_bestfit_packing", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") === 0, lit(70L))
          .when(pmod(col("doc_id"), lit(2)) === 1, lit(50L))
          .otherwise(lit(25L)).as("n_tokens"))
      graft.operators.Packing.packBestFit(docs, "doc_id", "n_tokens",
          budget = 100L, shards = 1)
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sz_sum"),
          sum("doc_id").as("id_sum"))
        .orderBy("bin")
    },
      // q176: the BFD assignment restated as pure rank arithmetic —
      // the 70-doc is bin 0; 50-rank r is bin 1 + r div 2 (an odd n50
      // leaves a half-filled 50-TAIL bin, remaining 50); the first
      // 25-doc joins bin 0 (the tightest gap, remaining 30), with an
      // odd n50 the next TWO 25s fill the 50-tail bin, and the rest
      // open bins of 4 after the 50 bins. Both n50 parities are stated
      // so the oracle expresses the ALGORITHM, not the battery data's
      // even-n50 accident.
      """WITH s AS (
           SELECT doc_id, CASE WHEN doc_id = 0 THEN 70
                               WHEN doc_id % 2 = 1 THEN 50
                               ELSE 25 END AS sz
           FROM documents),
         c AS (SELECT CAST(sum(CASE WHEN sz = 50 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n50 FROM s),
         r AS (SELECT doc_id, sz,
                 row_number() OVER (PARTITION BY sz ORDER BY doc_id) - 1
                   AS rk
               FROM s),
         a AS (SELECT doc_id, sz,
                 CASE WHEN sz = 70 THEN 0
                      WHEN sz = 50 THEN 1 + rk // 2
                      WHEN rk = 0 THEN 0
                      WHEN (SELECT n50 FROM c) % 2 = 1 AND rk <= 2
                        THEN 1 + ((SELECT n50 FROM c) - 1) // 2
                      WHEN (SELECT n50 FROM c) % 2 = 1
                        THEN 1 + ((SELECT n50 FROM c) + 1) // 2
                               + (rk - 3) // 4
                      ELSE 1 + (SELECT n50 FROM c) // 2 + (rk - 1) // 4
                 END AS bin
               FROM r)
         SELECT CAST(0 AS INT) AS shard, CAST(bin AS BIGINT) AS bin,
                count(1) AS n_docs, CAST(sum(sz) AS BIGINT) AS sz_sum,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM a GROUP BY bin ORDER BY bin"""),

    // The packing-efficiency report, best-fit vs contiguous on the
    // SAME fixture: BFD fills the gaps contiguous pays for in
    // straddle/padding — both rows exact integers, the contiguous row
    // replayed via the q53 window arithmetic.
    Query("q176b_packing_report", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") === 0, lit(70L))
          .when(pmod(col("doc_id"), lit(2)) === 1, lit(50L))
          .otherwise(lit(25L)).as("n_tokens"))
      val bfd = graft.operators.Packing.packingReport(
          graft.operators.Packing.packBestFit(docs, "doc_id", "n_tokens",
            budget = 100L, shards = 1), "n_tokens", 100L)
        .withColumn("method", lit("best_fit"))
      val ff = graft.operators.Packing.packingReport(
          graft.operators.Packing.packContiguous(docs, "doc_id",
            "n_tokens", budget = 100L, shards = 1), "n_tokens", 100L)
        .withColumn("method", lit("contiguous"))
      bfd.unionByName(ff)
        .select("method", "n_bins", "n_items", "packed_size",
          "fill_milli", "padding_waste")
        .orderBy("method")
    },
      // q176b: the BFD row from the same arithmetic (bins = 1 + n50/2 +
      // ceil((n25-1)/4)), the contiguous row replayed via the window
      // cumsum bin cut.
      """WITH s AS (
           SELECT doc_id, CASE WHEN doc_id = 0 THEN 70
                               WHEN doc_id % 2 = 1 THEN 50
                               ELSE 25 END AS sz
           FROM documents),
         tot AS (
           SELECT CAST(count(1) AS BIGINT) AS n_items,
                  CAST(sum(sz) AS BIGINT) AS packed,
                  CAST(sum(CASE WHEN sz = 50 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n50,
                  CAST(sum(CASE WHEN sz = 25 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n25
           FROM s),
         bfd AS (
           -- odd n50: the half-filled 50-tail bin absorbs 25-ranks
           -- 1..2, so only n25-3 open fresh 4-packs; even n50: n25-1
           SELECT 'best_fit' AS method,
                  CASE WHEN n50 % 2 = 1
                    THEN 1 + (n50 + 1) // 2 + (n25 - 3 + 3) // 4
                    ELSE 1 + n50 // 2 + (n25 - 1 + 3) // 4
                  END AS n_bins,
                  n_items, packed
           FROM tot),
         ffb AS (
           SELECT doc_id, sz,
                  CAST(floor(coalesce(sum(sz) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / 100.0) AS BIGINT) AS bin
           FROM s),
         ff AS (
           SELECT 'contiguous' AS method,
                  CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
                  (SELECT n_items FROM tot) AS n_items,
                  (SELECT packed FROM tot) AS packed
           FROM ffb),
         u AS (SELECT * FROM bfd UNION ALL SELECT * FROM ff)
         SELECT method, CAST(n_bins AS BIGINT) AS n_bins, n_items,
                packed AS packed_size,
                CAST((packed * 1000) // (n_bins * 100) AS BIGINT)
                  AS fill_milli,
                CAST(n_bins * 100 - packed AS BIGINT) AS padding_waste
         FROM u ORDER BY method"""),

    // SFT loss-mask seam (train-on-completions — the q144 FIM / q174
    // slot-table sibling): the q145 token chain gets a planted
    // prompt/completion boundary — doc_id%5==0 all-completion, ==1
    // all-prompt (empty span, separator untrained), ==2 NULL
    // (unlabeled pretraining doc -> trains in full), else half — and
    // the assembler emits per-doc [mask_start, mask_end) spans over
    // the packed sequence. The oracle rebuilds every span from the
    // closed-form chain geometry: a wrong offset, clamp, or
    // separator rule breaks the CSV hash.
    Query("q177_sft_loss_mask", (s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      val m = pmod(col("doc_id"), lit(5))
      val withB = toks.withColumn("prompt_tokens",
        when(m === 0, lit(0L))
          .when(m === 1, col("n_tokens").cast("long"))
          .when(m === 2, lit(null).cast("long"))
          .otherwise(expr("CAST(n_tokens AS BIGINT) div 2")))
      val packed = graft.operators.Packing.packContiguous(
        withB, "doc_id", "n_tokens", budget = 5000L, shards = 4)
      graft.operators.Packing.assembleSftSequences(packed,
          "doc_id", "token_ids", "prompt_tokens", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          aggregate(zip_with(col("mask_ends"), col("mask_starts"),
            (e, st) => e - st), lit(0L), (a, x) => a + x)
            .as("masked_tokens"),
          array_join(transform(col("mask_starts"), _.cast("string")), ",")
            .as("mask_starts_csv"),
          array_join(transform(col("mask_ends"), _.cast("string")), ",")
            .as("mask_ends_csv"))
        .orderBy("shard", "bin")
    },
      // q177: the q145 chain (tokens, shard, contiguous bin, offsets)
      // plus the planted boundary ladder; spans restated closed-form —
      // clamp to the doc length, +1 separator only when the completion
      // is non-empty, NULL boundary trains in full.
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (
           SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, n_tokens,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, n_tokens AS l,
                  coalesce(sum(n_tokens + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b),
         sp AS (
           SELECT shard, bin, doc_id, off, l,
                  least(CASE WHEN doc_id % 5 = 0 THEN 0
                             WHEN doc_id % 5 = 1 THEN l
                             WHEN doc_id % 5 = 2 THEN 0
                             ELSE l // 2 END, l) AS cb
           FROM o),
         m AS (
           SELECT shard, bin, doc_id, l,
                  off + cb AS ms,
                  CASE WHEN cb < l THEN off + l + 1 ELSE off + cb END AS me
           FROM sp)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(sum(l + 1) AS BIGINT) AS seq_tokens,
                CAST(sum(me - ms) AS BIGINT) AS masked_tokens,
                string_agg(CAST(ms AS VARCHAR), ',' ORDER BY doc_id)
                  AS mask_starts_csv,
                string_agg(CAST(me AS VARCHAR), ',' ORDER BY doc_id)
                  AS mask_ends_csv
         FROM m GROUP BY shard, bin ORDER BY shard, bin"""),

    // DPO preference-pair seam + length-bucketed dynamic batching
    // (Rafailov 2023 pairs; fairseq/HF group_by_length batches):
    // planted token geometry — prompt always 10 ids, chosen 59 (odd
    // doc_id) / 39 (even), rejected EMPTY for doc_id%3==0 (degenerate
    // pair: sep lands, mask empty) else 39 — so every pair's padded
    // size is 70 (odd) or 50 (even) and the batch walk is closed-form
    // rank arithmetic: 70s pair into budget-150 batches of 2, an odd
    // 70-count leaves an open slot the FIRST 50 fills (padded to 70),
    // the rest batch 3-to-a-batch. The oracle restates sequences,
    // masks, batch ids, and pad lengths from scratch.
    Query("q178_dpo_batches", (s, dir) => {
      val clen = when(pmod(col("doc_id"), lit(2)) === 1, lit(59L))
        .otherwise(lit(39L))
      val rlen = when(pmod(col("doc_id"), lit(3)) === 0, lit(0L))
        .otherwise(lit(39L))
      val pairs0 = t(s, dir, "documents").select(col("doc_id"),
        sequence(lit(1L), lit(10L)).as("prompt"),
        sequence(lit(101L), lit(100L) + clen).as("chosen"),
        when(rlen > 0, sequence(lit(201L), lit(200L) + rlen))
          .otherwise(array().cast("array<long>")).as("rejected"))
      val asm = graft.operators.Packing.assemblePreferencePairs(
        pairs0, "doc_id", "prompt", "chosen", "rejected")
      val sized = asm.withColumn("pair_tokens",
        greatest(col("n_tokens_chosen"), col("n_tokens_rejected")))
      graft.operators.Packing.batchByLength(sized, "doc_id",
          "pair_tokens", budget = 150L, shards = 1)
        .groupBy("shard", "batch", "pad_len")
        .agg(count(lit(1)).as("n_pairs"),
          sum("pair_tokens").as("payload_tokens"),
          sum("doc_id").as("id_sum"),
          sum("mask_start").as("mask_start_sum"),
          sum("mask_end_chosen").as("mask_end_chosen_sum"),
          sum("mask_end_rejected").as("mask_end_rejected_sum"),
          md5(array_join(array_sort(collect_list(concat_ws("|",
            format_string("%010d", col("doc_id")),
            array_join(transform(col("seq_chosen"), _.cast("string")), ","),
            array_join(transform(col("seq_rejected"), _.cast("string")),
              ",")))), ";")).as("pairs_md5"))
        .withColumn("padded_tokens", col("pad_len") * col("n_pairs"))
        .orderBy("batch")
    },
      // q178: pairs and batches restated from scratch — sequences via
      // range() off the planted lengths, masks via the completion rule,
      // batch ids as pure rank arithmetic over the 70/50 size classes
      // (both n70 parities stated: an odd 70-count leaves an open slot
      // the first 50 fills, padded to 70).
      """WITH s AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 1 THEN 59 ELSE 39 END AS clen,
                  CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 39 END AS rlen,
                  CASE WHEN doc_id % 2 = 1 THEN 70 ELSE 50 END AS sz
           FROM documents),
         c AS (SELECT CAST(sum(CASE WHEN sz = 70 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n70 FROM s),
         r AS (SELECT doc_id, clen, rlen, sz,
                 row_number() OVER (PARTITION BY sz ORDER BY doc_id) - 1
                   AS rk
               FROM s),
         a AS (SELECT doc_id, clen, rlen, sz,
                 CASE WHEN sz = 70 THEN rk // 2
                      WHEN (SELECT n70 FROM c) % 2 = 1 AND rk = 0
                        THEN ((SELECT n70 FROM c) - 1) // 2
                      WHEN (SELECT n70 FROM c) % 2 = 1
                        THEN ((SELECT n70 FROM c) + 1) // 2 + (rk - 1) // 3
                      ELSE (SELECT n70 FROM c) // 2 + rk // 3
                 END AS batch,
                 CASE WHEN sz = 70 OR
                        ((SELECT n70 FROM c) % 2 = 1 AND rk = 0)
                   THEN 70 ELSE 50 END AS pad_len
               FROM r),
         p AS (SELECT doc_id, batch, pad_len, sz,
                 printf('%010d', doc_id) || '|' ||
                 array_to_string(list_append(
                   range(1, 11) || range(101, 101 + clen), 0), ',')
                 || '|' ||
                 array_to_string(list_append(
                   range(1, 11) || range(201, 201 + rlen), 0), ',') AS pr,
                 10 + clen + 1 AS mec,
                 CASE WHEN rlen > 0 THEN 10 + rlen + 1 ELSE 10 END AS mer
               FROM a)
         SELECT CAST(0 AS INT) AS shard, CAST(batch AS BIGINT) AS batch,
                CAST(pad_len AS BIGINT) AS pad_len,
                count(1) AS n_pairs,
                CAST(sum(sz) AS BIGINT) AS payload_tokens,
                CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(10) AS BIGINT) AS mask_start_sum,
                CAST(sum(mec) AS BIGINT) AS mask_end_chosen_sum,
                CAST(sum(mer) AS BIGINT) AS mask_end_rejected_sum,
                md5(string_agg(pr, ';' ORDER BY doc_id)) AS pairs_md5,
                CAST(pad_len * count(1) AS BIGINT) AS padded_tokens
         FROM p GROUP BY batch, pad_len ORDER BY batch"""),

    // The batching-efficiency report over the q178 chain: group-by-
    // length pads NOTHING inside single-size batches, so the whole
    // corpus's padding waste is the one cross-class handoff batch
    // (20 tokens, odd n70) or zero (even n70) — the closed-form the
    // oracle states for both parities.
    Query("q178b_batching_report", (s, dir) => {
      val clen = when(pmod(col("doc_id"), lit(2)) === 1, lit(59L))
        .otherwise(lit(39L))
      val rlen = when(pmod(col("doc_id"), lit(3)) === 0, lit(0L))
        .otherwise(lit(39L))
      val pairs0 = t(s, dir, "documents").select(col("doc_id"),
        sequence(lit(1L), lit(10L)).as("prompt"),
        sequence(lit(101L), lit(100L) + clen).as("chosen"),
        when(rlen > 0, sequence(lit(201L), lit(200L) + rlen))
          .otherwise(array().cast("array<long>")).as("rejected"))
      val sized = graft.operators.Packing.assemblePreferencePairs(
          pairs0, "doc_id", "prompt", "chosen", "rejected")
        .withColumn("pair_tokens",
          greatest(col("n_tokens_chosen"), col("n_tokens_rejected")))
      graft.operators.Packing.batchingReport(
        graft.operators.Packing.batchByLength(sized, "doc_id",
          "pair_tokens", budget = 150L, shards = 1), "pair_tokens")
    },
      // q178b: the padded cost closed-form — 70s pair (ceil(n70/2)
      // batches), 50s triple, and the ONLY waste is the odd-n70
      // handoff batch's 20 tokens — which exists only when a 50 is
      // there to take the handoff slot (n50 >= 1; with n50 = 0 the
      // open 70-batch holds a single item at pad 70, waste 0).
      """WITH s AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 1 THEN 70 ELSE 50 END AS sz
           FROM documents),
         tot AS (
           SELECT CAST(sum(CASE WHEN sz = 70 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n70,
                  CAST(sum(CASE WHEN sz = 50 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n50,
                  CAST(count(1) AS BIGINT) AS n_items,
                  CAST(sum(sz) AS BIGINT) AS payload
           FROM s),
         r AS (
           SELECT (n70 + 1) // 2 +
                  CASE WHEN n70 % 2 = 1 THEN (n50 + 1) // 3
                       ELSE (n50 + 2) // 3 END AS n_batches,
                  n_items, payload,
                  payload + CASE WHEN n70 % 2 = 1 AND n50 >= 1
                            THEN 20 ELSE 0 END AS padded
           FROM tot)
         SELECT CAST(0 AS INT) AS shard,
                CAST(n_batches AS BIGINT) AS n_batches, n_items,
                payload AS payload_tokens,
                CAST(padded AS BIGINT) AS padded_tokens,
                CAST(payload * 1000 // padded AS BIGINT) AS fill_milli,
                CAST(padded - payload AS BIGINT) AS padding_waste
         FROM r"""),

    // Packed-sequence position ids (positions reset at every doc
    // boundary — the rotary/absolute-embedding contract for packed
    // training): derived purely from the landed offsets of the q145
    // shards, never re-tokenized. The oracle rebuilds every position
    // from the closed-form chain — an off-by-one at a boundary, a
    // separator outside its doc's span, or a length/geometry drift
    // breaks the CSV hash; the invariant columns (sum = Σ l(l+1)/2,
    // max = longest doc span - 1) cross-check the same geometry a
    // second way.
    Query("q179_position_ids", (s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      val packed = graft.operators.Packing.packContiguous(
        toks, "doc_id", "n_tokens", budget = 5000L, shards = 4)
      val seqs = graft.operators.Packing.assembleTokenSequences(packed,
        "doc_id", "token_ids", orderCol = "doc_id")
      graft.operators.Packing.positionIds(seqs)
        .select(col("shard"), col("bin"), col("seq_tokens"),
          aggregate(col("position_ids"), lit(0L), (a, x) => a + x)
            .as("pos_sum"),
          array_max(col("position_ids")).as("pos_max"),
          md5(array_join(transform(col("position_ids"), _.cast("string")),
            ",")).as("pos_md5"))
        .orderBy("shard", "bin")
    },
      // q179: positions restated per doc as range(0, len+1) in doc_id
      // order off the q145 chain; sum/max invariants from the same
      // lengths.
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (
           SELECT doc_id, CAST(len(ids) AS BIGINT) AS l,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, l,
                  CAST(floor(coalesce(sum(l) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p)
         SELECT shard, bin,
                CAST(sum(l + 1) AS BIGINT) AS seq_tokens,
                CAST(sum(l * (l + 1) // 2) AS BIGINT) AS pos_sum,
                CAST(max(l) AS BIGINT) AS pos_max,
                md5(string_agg(array_to_string(range(0, l + 1), ','),
                    ',' ORDER BY doc_id)) AS pos_md5
         FROM b GROUP BY shard, bin ORDER BY shard, bin"""),

    // Chat-template render + SFT boundary (the ChatML-shape contract:
    // messages -> one training string with committed turn markers,
    // and the prompt/completion boundary in TOKENS feeds q177's mask
    // seam): a three-turn conversation per doc, the prefix ending at
    // the final assistant header. The oracle rebuilds the exact
    // rendered bytes (md5) and both BPE token counts through the
    // q145 chain over the rendered strings — a marker byte, a
    // newline, or a non-prefix-stable tokenization breaks it.
    Query("q180_chat_render", (s, dir) => {
      val msgs = array(
        struct(lit("system").as("role"), lit("be helpful").as("content")),
        struct(lit("user").as("role"), col("text").as("content")),
        struct(lit("assistant").as("role"), col("text").as("content")))
      val df = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) === 1)
        .select(col("doc_id"),
          graft.functions.Text.renderChatMessages(msgs).as("rendered"),
          graft.functions.Text.chatPromptPrefix(msgs).as("prefix"))
      val tot = graft.operators.Bpe.tokenCount(df, "doc_id", "rendered",
          CommittedBpeMerges)
        .withColumnRenamed("n_bpe_tokens", "total_tokens")
      val pre = graft.operators.Bpe.tokenCount(df, "doc_id", "prefix",
          CommittedBpeMerges)
        .withColumnRenamed("n_bpe_tokens", "prompt_tokens")
      df.select(col("doc_id"), md5(col("rendered")).as("rendered_md5"))
        .join(tot, "doc_id").join(pre, "doc_id")
        .orderBy("doc_id")
    },
      // q180: the rendered bytes restated verbatim (md5) and both BPE
      // counts via the q145 chain over the rendered/prefix strings —
      // per word, token count = |th|in|.-pieces| plus one for the
      // appended </w> (zero when the word ends in 'e': the last piece
      // folds into e</w>).
      """WITH r AS (
           SELECT doc_id,
                  '<|im_start|>system' || chr(10) || 'be helpful<|im_end|>'
                    || chr(10) || '<|im_start|>user' || chr(10)
                    || coalesce(text, '') || '<|im_end|>' || chr(10)
                    || '<|im_start|>assistant' || chr(10)
                    || coalesce(text, '') || '<|im_end|>' || chr(10)
                    AS rendered,
                  '<|im_start|>system' || chr(10) || 'be helpful<|im_end|>'
                    || chr(10) || '<|im_start|>user' || chr(10)
                    || coalesce(text, '') || '<|im_end|>' || chr(10)
                    || '<|im_start|>assistant' || chr(10) AS prefix
           FROM documents WHERE doc_id % 7 = 1),
         tc AS (
           SELECT doc_id, rendered,
                  coalesce(list_sum(list_transform(
                    list_filter(string_split(trim(regexp_replace(
                      regexp_replace(lower(rendered), '[!-/:-@\[-`{-~]', '',
                        'g'), '\s+', ' ', 'g')), ' '),
                      x -> length(x) > 0),
                    wd -> len(regexp_extract_all(wd, 'th|in|.'))
                          + CASE WHEN wd LIKE '%e' THEN 0 ELSE 1 END)), 0)
                    AS total_tokens,
                  coalesce(list_sum(list_transform(
                    list_filter(string_split(trim(regexp_replace(
                      regexp_replace(lower(prefix), '[!-/:-@\[-`{-~]', '',
                        'g'), '\s+', ' ', 'g')), ' '),
                      x -> length(x) > 0),
                    wd -> len(regexp_extract_all(wd, 'th|in|.'))
                          + CASE WHEN wd LIKE '%e' THEN 0 ELSE 1 END)), 0)
                    AS prompt_tokens
           FROM r)
         SELECT doc_id, md5(rendered) AS rendered_md5,
                CAST(total_tokens AS BIGINT) AS total_tokens,
                CAST(prompt_tokens AS BIGINT) AS prompt_tokens
         FROM tc ORDER BY doc_id"""),

    // Rejection sampling / best-of-n (the Llama 2 RLHF candidate
    // filter): 8-candidate groups (prompt_id = doc_id div 8) with a
    // deterministic integer LCG reward both engines compute exactly;
    // the winner is the reward argmax (ties by id) and the margin —
    // winner minus runner-up — is NULL only for singleton groups
    // (the last, short group when |documents| % 8 == 1). One window
    // over bounded candidate sets.
    Query("q181_rejection_sample", (s, dir) => {
      val cands = t(s, dir, "documents").select(col("doc_id"),
        expr("doc_id div 8").as("prompt_id"),
        ((col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(1000003L))
          .as("reward"))
      graft.operators.Sampling.rejectionSample(cands, "prompt_id",
          "reward", "doc_id", keep = 1)
        .select("prompt_id", "doc_id", "reward", "margin")
        .orderBy("prompt_id")
    },
      // q181: winner + margin restated with the same LCG reward and the
      // same (reward DESC, id) order.
      """WITH c AS (
           SELECT doc_id, doc_id // 8 AS prompt_id,
                  (doc_id * 1103515245 + 12345) % 1000003 AS reward
           FROM documents),
         r AS (
           SELECT doc_id, prompt_id, reward,
                  row_number() OVER (PARTITION BY prompt_id
                    ORDER BY reward DESC, doc_id) AS rn,
                  lead(reward) OVER (PARTITION BY prompt_id
                    ORDER BY reward DESC, doc_id) AS nxt
           FROM c)
         SELECT CAST(prompt_id AS BIGINT) AS prompt_id, doc_id,
                CAST(reward AS BIGINT) AS reward,
                CAST(reward - nxt AS BIGINT) AS margin
         FROM r WHERE rn = 1 ORDER BY prompt_id"""),

    // Multi-turn chat SFT masks (the standard chat recipe: every
    // ASSISTANT turn's body — content + end marker — trains; user/
    // system turns and all role headers mask): a 5-turn conversation
    // per doc (system / user / assistant / user / assistant) where
    // the MIDDLE assistant turn is the main trainable span, planted
    // empty for doc_id%4==0 (trains just its <|im_end|>) and the
    // FINAL assistant turn empty for doc_id%3==0 — the final span
    // runs to the doc end, so it trains the packing separator too
    // (+1), which interior spans never do. Spans derive from
    // per-turn token counts (segment additivity; never re-tokenized),
    // re-based onto the q145-style packed sequence. The oracle
    // rebuilds every segment string, token count, cumulative
    // position, packing offset, and global span from scratch.
    Query("q182_multiturn_sft", (s, dir) => {
      val txt = coalesce(col("text"), lit(""))
      val midC = when(pmod(col("doc_id"), lit(4)) === 0, lit(""))
        .otherwise(txt)
      val finC = when(pmod(col("doc_id"), lit(3)) === 0, lit(""))
        .otherwise(txt)
      val msgs = array(
        struct(lit("system").as("role"), lit("be helpful").as("content")),
        struct(lit("user").as("role"), txt.as("content")),
        struct(lit("assistant").as("role"), midC.as("content")),
        struct(lit("user").as("role"), lit("continue").as("content")),
        struct(lit("assistant").as("role"), finC.as("content")))
      val base = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) < 2)
        .select(col("doc_id"),
          graft.functions.Text.renderChatMessages(msgs).as("rendered"),
          graft.functions.Text.chatTurnUnits(msgs).as("units"))
      val withSpans = graft.operators.Bpe.turnTokenCounts(base, "units",
          CommittedBpeMerges)
        .withColumn("spans", graft.functions.Text.turnMaskSpans(
          col("units"), col("turn_counts")))
        .withColumn("token_ids", graft.operators.Bpe.tokenIdsCol(s,
          col("rendered"), CommittedBpeMerges))
        .select(col("doc_id"), col("token_ids"),
          size(col("token_ids")).cast("long").as("n_tokens"), col("spans"))
      val packed = graft.operators.Packing.packContiguous(withSpans,
        "doc_id", "n_tokens", budget = 5000L, shards = 4)
      graft.operators.Packing.assembleSftSequencesMultiTurn(packed,
          "doc_id", "token_ids", "spans", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          col("n_spans"), col("masked_tokens"),
          array_join(transform(col("mask_spans"),
            z => concat_ws("-", z.getField("start").cast("string"),
              z.getField("end").cast("string"))), ",").as("spans_csv"))
        .orderBy("shard", "bin")
    },
      // q182: every segment string, per-segment token count, cumulative
      // position, packing offset (q177's closed form), and global span
      // rebuilt from scratch — assistant bodies only, the final span
      // (== doc end) +1 for the separator, interior spans untouched.
      """WITH d AS (
           SELECT doc_id, coalesce(text, '') AS txt,
                  CASE WHEN doc_id % 4 = 0 THEN ''
                       ELSE coalesce(text, '') END AS midc,
                  CASE WHEN doc_id % 3 = 0 THEN ''
                       ELSE coalesce(text, '') END AS finc
           FROM documents WHERE doc_id % 7 < 2),
         seg AS (
           SELECT doc_id, u.turn AS turn, u.part AS part,
                  u.role AS role, u.seg_txt AS seg_txt
           FROM d, UNNEST([
             {'turn': 0, 'part': 0, 'role': 'system',
              'seg_txt': '<|im_start|>system' || chr(10)},
             {'turn': 0, 'part': 1, 'role': 'system',
              'seg_txt': 'be helpful<|im_end|>' || chr(10)},
             {'turn': 1, 'part': 0, 'role': 'user',
              'seg_txt': '<|im_start|>user' || chr(10)},
             {'turn': 1, 'part': 1, 'role': 'user',
              'seg_txt': txt || '<|im_end|>' || chr(10)},
             {'turn': 2, 'part': 0, 'role': 'assistant',
              'seg_txt': '<|im_start|>assistant' || chr(10)},
             {'turn': 2, 'part': 1, 'role': 'assistant',
              'seg_txt': midc || '<|im_end|>' || chr(10)},
             {'turn': 3, 'part': 0, 'role': 'user',
              'seg_txt': '<|im_start|>user' || chr(10)},
             {'turn': 3, 'part': 1, 'role': 'user',
              'seg_txt': 'continue<|im_end|>' || chr(10)},
             {'turn': 4, 'part': 0, 'role': 'assistant',
              'seg_txt': '<|im_start|>assistant' || chr(10)},
             {'turn': 4, 'part': 1, 'role': 'assistant',
              'seg_txt': finc || '<|im_end|>' || chr(10)}
           ]) AS t(u)),
         cnt AS (
           SELECT doc_id, turn, part, role,
                  CAST(coalesce(list_sum(list_transform(
                    list_filter(string_split(trim(regexp_replace(
                      regexp_replace(lower(seg_txt),
                        '[!-/:-@\[-`{-~]', '', 'g'),
                      '\s+', ' ', 'g')), ' '), x -> length(x) > 0),
                    wd -> len(regexp_extract_all(wd, 'th|in|.'))
                          + CASE WHEN wd LIKE '%e' THEN 0 ELSE 1 END)),
                    0) AS BIGINT) AS c
           FROM seg),
         pos AS (
           SELECT doc_id, turn, part, role, c,
                  coalesce(sum(c) OVER (PARTITION BY doc_id
                    ORDER BY turn, part
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS p0
           FROM cnt),
         tot AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
           FROM cnt GROUP BY doc_id),
         p AS (
           SELECT doc_id, n,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tot),
         b AS (
           SELECT shard, doc_id, n,
                  CAST(floor(coalesce(sum(n) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, n,
                  coalesce(sum(n + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b),
         sp AS (
           SELECT doc_id, turn, p0 AS s, p0 + c AS e
           FROM pos WHERE part = 1 AND role = 'assistant' AND c > 0),
         g AS (
           SELECT o.shard, o.bin, sp.doc_id, sp.turn,
                  o.off + sp.s AS gs,
                  o.off + CASE WHEN sp.e = o.n AND sp.e > sp.s
                               THEN sp.e + 1 ELSE sp.e END AS ge
           FROM sp JOIN o USING (doc_id)),
         binstat AS (
           SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                  CAST(sum(n + 1) AS BIGINT) AS seq_tokens
           FROM o GROUP BY shard, bin),
         spanstat AS (
           SELECT shard, bin, CAST(count(1) AS INT) AS n_spans,
                  CAST(sum(ge - gs) AS BIGINT) AS masked_tokens,
                  string_agg(CAST(gs AS VARCHAR) || '-' || CAST(ge AS VARCHAR),
                    ',' ORDER BY doc_id, turn) AS spans_csv
           FROM g GROUP BY shard, bin)
         SELECT bs.shard, bs.bin, bs.n_docs, bs.seq_tokens,
                CAST(coalesce(ss.n_spans, 0) AS INT) AS n_spans,
                CAST(coalesce(ss.masked_tokens, 0) AS BIGINT)
                  AS masked_tokens,
                coalesce(ss.spans_csv, '') AS spans_csv
         FROM binstat bs LEFT JOIN spanstat ss USING (shard, bin)
         ORDER BY shard, bin"""),

    // In-context pretraining packing (Shi et al. 2023: order docs by
    // semantic similarity before packing so training sequences hold
    // RELATED documents): planted geometry — 50 clusters keyed
    // doc_id%50 (members FAR APART in id space, so id-order packing
    // scatters them), each on its own one-hot axis (the IVF model is
    // COSINE, so clusters separate by direction: dim c = 10000, all
    // other centroids score exactly 0), and within a cluster the
    // dim-50 position is the PERMUTATION ((doc_id div 50) * 7) % m,
    // m the cluster size — the greedy path (seed = smallest id, at
    // position 0) sweeps positions ascending, so ctx_rank IS that
    // permutation and an implementation that secretly ordered by id
    // would produce different ranks AND different bins. Cells shard
    // by cell % 2 (locality-preserving, never the md5-of-id draw).
    // The oracle restates cell, rank, shard, and every bin cut.
    Query("q184_incontext_pack", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs0 = t(s, dir, "documents").select(col("doc_id"),
          (lit(100L) + pmod(col("doc_id"), lit(3)) * 10L).as("n_tokens"),
          pmod(col("doc_id"), lit(50)).as("__c"),
          expr("doc_id div 50").as("__u0"))
        .withColumn("__m",
          count(lit(1)).over(Window.partitionBy(col("__c"))))
        .withColumn("emb", transform(sequence(lit(0), lit(50)), i =>
          when(i === col("__c").cast("int"), lit(10000f))
            .when(i === lit(50),
              (pmod(col("__u0") * 7L, col("__m")) * 10L).cast("float"))
            .otherwise(lit(0f))))
        .select("doc_id", "n_tokens", "emb")
      val centroids = (0 until 50)
        .map(c => Array.tabulate(51)(d => if (d == c) 1f else 0f)).toArray
      graft.operators.Packing.packInContext(docs0, "doc_id", "n_tokens",
          "emb", centroids, budget = 500L, shards = 2)
        .select(col("doc_id"), col("cell"), col("ctx_rank"), col("shard"),
          col("bin"))
        .orderBy("doc_id")
    },
      // q184: the planted permutation restated — cell = id%50, rank =
      // ((id div 50) * 7) % |cell|, shard = cell%2, bins from the
      // (cell, rank, id)-ordered running size sum.
      """WITH d AS (
           SELECT doc_id, CAST(doc_id % 50 AS INT) AS cell,
                  doc_id // 50 AS u0,
                  CAST(100 + (doc_id % 3) * 10 AS BIGINT) AS sz
           FROM documents),
         m AS (SELECT cell, count(1) AS mm FROM d GROUP BY cell),
         r AS (
           SELECT d.doc_id, d.cell, d.sz,
                  CAST((d.u0 * 7) % m.mm AS BIGINT) AS ctx_rank,
                  CAST(d.cell % 2 AS INT) AS shard
           FROM d JOIN m USING (cell))
         SELECT doc_id, cell, ctx_rank, shard,
                CAST(floor(coalesce(sum(sz) OVER (PARTITION BY shard
                       ORDER BY cell, ctx_rank, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / 500.0) AS BIGINT) AS bin
         FROM r ORDER BY doc_id"""),

    // Partition-scoped token shards (the q145 chain under
    // packContiguousBy): snapshot = doc_id div 150, two local shards
    // — the incremental-maintenance layout where appending a
    // snapshot can never move an earlier snapshot's bins (PackingSpec
    // pins the invariance; here the oracle restates the part-folded
    // shard ids and every bin cut).
    Query("q187_partitioned_shards", (s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
        .withColumn("snapshot", expr("doc_id div 150"))
      val packed = graft.operators.Packing.packContiguousBy(toks,
        "doc_id", "n_tokens", "snapshot", budget = 5000L, shards = 2)
      graft.operators.Packing.assembleTokenSequences(packed,
          "doc_id", "token_ids", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          md5(array_join(transform(col("sequence"), _.cast("string")), ","))
            .as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .orderBy("shard", "bin")
    },
      // q187: the q145 forms with the part-folded shard —
      // (id div 150)*2 + md5(id)%2 — and bins cut per shard.
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (
           SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n_tokens,
                  (doc_id // 150) * 2 +
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 2 AS BIGINT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, ids,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, ids,
                  coalesce(sum(len(ids) + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b)
         SELECT CAST(shard AS BIGINT) AS shard, bin,
                CAST(count(1) AS INT) AS n_docs,
                CAST(sum(len(ids) + 1) AS BIGINT) AS seq_tokens,
                md5(string_agg(array_to_string(list_append(ids, 0), ','),
                    ',' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv
         FROM o GROUP BY shard, bin ORDER BY shard, bin"""),

    // Conflict-free contrastive batches (the DPR/GTR/E5 in-batch-
    // negative constraint: no two pairs in a batch may share a
    // passage): pairs keyed by passage_id = doc_id%40 — 40 passages
    // with many pairs each, the collision-heavy regime — striped by
    // per-passage rank and batched 8 at a time within (shard,
    // stripe), passages sharded by md5 so a passage never splits.
    // The oracle restates shard, stripe, and batch with the same
    // windows; PackingSpec pins the no-collision property itself.
    Query("q186_contrastive_batches", (s, dir) => {
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(40)).as("passage_id"))
      graft.operators.Packing.batchDistinctBy(pairs, "doc_id",
          "passage_id", batchSize = 8, shards = 2)
        .select("doc_id", "passage_id", "shard", "stripe", "batch")
        .orderBy("doc_id")
    },
      // q186: shard (md5 of passage), per-passage stripe rank, and the
      // within-(shard,stripe) batch walk restated with the same
      // windows.
      """WITH p AS (
           SELECT doc_id, CAST(doc_id % 40 AS BIGINT) AS passage_id
           FROM documents),
         r AS (
           SELECT doc_id, passage_id,
                  CAST(('0x' || substr(md5(CAST(passage_id AS VARCHAR)),
                        1, 8))::BIGINT % 2 AS INT) AS shard,
                  CAST(row_number() OVER (PARTITION BY passage_id
                        ORDER BY doc_id) - 1 AS BIGINT) AS stripe
           FROM p)
         SELECT doc_id, passage_id, shard, stripe,
                CAST((row_number() OVER (PARTITION BY shard, stripe
                      ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch
         FROM r ORDER BY doc_id"""),

    // T5 span corruption (Raffel 2020 §3.1.4) over the q145 token
    // chain: spans placed DETERMINISTICALLY (equal segments, LCG
    // offset per (doc, k) — the q181 discipline), sentinels count up
    // from 1,000,000, target ends with the terminal sentinel. The
    // oracle rebuilds every input and target id closed-form — span
    // count, lengths, LCG starts, slices, sentinels — so one id out
    // of place breaks both md5s.
    Query("q185_span_corrupt", (s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      graft.operators.Denoising.spanCorrupt(toks, "doc_id", "token_ids",
          sentinelBase = 1000000L)
        .select(col("doc_id"), col("n_tokens"), col("n_input"),
          col("n_target"),
          md5(array_join(transform(col("input_ids"), _.cast("string")),
            ",")).as("input_md5"),
          md5(array_join(transform(col("target_ids"), _.cast("string")),
            ",")).as("target_md5"))
        .orderBy("doc_id")
    },
      // q185: the q145 id chain + the span arithmetic restated — noise
      // budget, span count, per-span lengths, LCG starts, inter-span
      // slices, sentinels, terminal sentinel.
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n FROM tok),
         c AS (
           SELECT doc_id, ids, n,
                  least((n * 15 + 50) // 100, n) AS n_noise
           FROM p),
         c2 AS (
           SELECT *, CASE WHEN n_noise > 0
                  THEN greatest((n_noise * 2 + 3) // 6, 1)
                  ELSE 0 END AS n_spans
           FROM c),
         c3 AS (
           SELECT *, CASE WHEN n_spans > 0 THEN n // n_spans ELSE 0 END AS seg,
                  CASE WHEN n_spans > 0 THEN n_noise // n_spans ELSE 0 END AS base,
                  CASE WHEN n_spans > 0 THEN n_noise % n_spans ELSE 0 END AS rem
           FROM c2),
         sp AS (
           SELECT doc_id, u.k AS k,
                  least(base + CASE WHEN u.k < rem THEN 1 ELSE 0 END,
                        seg) AS len0,
                  u.k * seg + ((doc_id * 1103515245 + 12345
                                + u.k * 2654435761) % 2147483647)
                    % (seg - least(base + CASE WHEN u.k < rem THEN 1
                                        ELSE 0 END, seg) + 1) AS start
           FROM c3, UNNEST(range(0, n_spans)) AS u(k)),
         sp2 AS (
           SELECT doc_id, k, start, len0,
                  coalesce(lag(start + len0) OVER (PARTITION BY doc_id
                    ORDER BY k), 0) AS pos
           FROM sp),
         agg AS (
           SELECT s.doc_id,
                  flatten(list(list_slice(c.ids, s.pos + 1, s.start)
                    || [1000000 + s.k] ORDER BY s.k)) AS in0,
                  max(s.start + s.len0) AS last_end,
                  flatten(list([1000000 + s.k]
                    || list_slice(c.ids, s.start + 1, s.start + s.len0)
                    ORDER BY s.k)) AS tgt0
           FROM sp2 s JOIN c3 c USING (doc_id)
           GROUP BY s.doc_id),
         outp AS (
           SELECT c.doc_id, c.n,
                  CASE WHEN c.n_spans > 0
                    THEN a.in0 || list_slice(c.ids, a.last_end + 1, c.n)
                    ELSE c.ids END AS input_ids,
                  CASE WHEN c.n_spans > 0
                    THEN a.tgt0 || [1000000 + c.n_spans]
                    ELSE CAST([] AS BIGINT[]) END AS target_ids
           FROM c3 c LEFT JOIN agg a USING (doc_id))
         SELECT doc_id, n AS n_tokens,
                CAST(len(input_ids) AS BIGINT) AS n_input,
                CAST(len(target_ids) AS BIGINT) AS n_target,
                md5(array_to_string(input_ids, ',')) AS input_md5,
                md5(array_to_string(target_ids, ',')) AS target_md5
         FROM outp ORDER BY doc_id"""),

    // Shard attribution ledger (the data-governance page: how many
    // tokens did each SOURCE contribute to the training batch): the
    // q145 shards' per-doc token shares are recovered from the landed
    // offset geometry itself (offset deltas, separator included —
    // never re-tokenized, so a corrupted offset array shows up as a
    // wrong attribution) and aggregate per source. The oracle
    // recomputes every share from the q145 closed-form scan +1 — the
    // two derivations must meet exactly.
    Query("q169_shard_attribution", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = graft.operators.Bpe.tokenIds(
        docs.select("doc_id", "text"), "doc_id", "text", CommittedBpeMerges)
      val seqs = graft.operators.Packing.assembleTokenSequences(
        graft.operators.Packing.packContiguous(toks, "doc_id", "n_tokens",
          budget = 5000L, shards = 4),
        "doc_id", "token_ids", orderCol = "doc_id")
      graft.operators.Packing.sequenceAttribution(seqs,
          docs.select("doc_id", "source"), "doc_id", "source")
        .orderBy("source")
    },
      // q169: per-doc token counts via the q145 closed-form scan, +1
      // separator each, grouped by source — the geometry-derived
      // attribution must reproduce them exactly.
      """WITH w AS (
           SELECT doc_id, source,
                  list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id, source,
                  CAST(coalesce(list_sum(list_transform(ws, wd ->
                    CASE WHEN wd LIKE '%e'
                      THEN len(regexp_extract_all(wd, 'th|in|.'))
                      ELSE len(regexp_extract_all(wd, 'th|in|.')) + 1
                    END)), 0) AS BIGINT) AS n_tokens
           FROM w)
         SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens + 1) AS BIGINT) AS n_tokens_with_sep
         FROM tok GROUP BY source ORDER BY source"""),

    // Detokenizer roundtrip (the q145 loop closed): every document
    // tokenizes to ids under the committed merge list and DECODES
    // BACK — and the decode must reproduce the normalized text
    // byte-for-byte (BPE merging only concatenates adjacent symbols,
    // so the id stream is lossless over normalized text by
    // construction; this entry makes the claim an oracle, not a
    // comment). The oracle recomputes n_tokens via the q145
    // closed-form scan and the decoded md5 as md5(normalized text) —
    // one swallowed character, doubled space, or mis-mapped id
    // breaks the hash.
    Query("q167_token_roundtrip", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = graft.operators.Bpe.tokenIds(docs, "doc_id", "text",
        CommittedBpeMerges)
      graft.operators.Bpe.decodeTokenIds(toks, "doc_id", "token_ids",
          CommittedBpeMerges)
        .join(toks.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          md5(col("decoded")).as("decoded_md5"))
        .orderBy("doc_id")
    },
      // q167: n_tokens via the q145 closed-form tokenizer scan;
      // decoded_md5 is md5 of the NORMALIZED text itself — the
      // roundtrip's losslessness stated as the oracle.
      """WITH n AS (
           SELECT doc_id,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
           FROM documents),
         w AS (
           SELECT doc_id,
                  list_filter(string_split(norm, ' '),
                    x -> length(x) > 0) AS ws,
                  norm
           FROM n),
         tok AS (
           SELECT doc_id, norm,
                  flatten(list_transform(ws, wd ->
                    CASE WHEN wd LIKE '%e'
                      THEN list_append(list_slice(
                             regexp_extract_all(wd, 'th|in|.'), 1,
                             len(regexp_extract_all(wd, 'th|in|.')) - 1),
                           'e</w>')
                      ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                           '</w>')
                    END)) AS toks
           FROM w)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                md5(norm) AS decoded_md5
         FROM tok ORDER BY doc_id"""),

    // Benchmark DECONTAMINATION (Dedup.contaminatedDocs — the GPT-3
    // 13-gram eval-overlap recipe): three synthetic-vocabulary
    // benchmark items (their words appear NOWHERE in the corpus's
    // 31-word vocabulary, so nothing matches accidentally) are planted
    // verbatim into every doc_id%7==3 document; exactly those docs
    // flag, each with the planted item's 3 distinct 13-grams
    // (15 words → 3 windows; boundary windows mixing corpus words are
    // NOT benchmark grams) and one benchmark item hit.
    Query("q159_decontamination", (s, dir) => {
      import s.implicits._
      val sents = (0 until 3).map(b =>
        (0 until 15).map(k => s"zq${('a' + b).toChar}$k").mkString(" "))
      val bench = sents.zipWithIndex
        .map { case (t, b) => (b.toLong, t) }.toDF("bench_id", "btext")
      val planted = fanOut(t(s, dir, "documents"), "doc_id").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 3,
          concat(col("text"), lit(" "),
            element_at(
              array(sents.map(lit): _*),
              (pmod(col("doc_id"), lit(3)) + 1).cast("int"))))
          .otherwise(col("text")).as("text"))
      graft.operators.Dedup.contaminatedDocs(planted, "doc_id", "text",
          bench, "bench_id", "btext", n = 13)
        .orderBy("doc_id")
    },
      // q159: contamination is exactly the planted set — 3 distinct
      // 13-grams (one 15-word item appended whole; boundary windows mix
      // corpus words and are not benchmark grams) and 1 benchmark item
      // per flagged doc.
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_hits,
                CAST(1 AS BIGINT) AS n_bench_items
         FROM documents WHERE doc_id % 7 = 3 ORDER BY doc_id"""),

    // Split-leakage audit (Sampling.splitLeakage — the C4-style check
    // that eval rows are not verbatim copies of training rows): exact
    // clones planted at doc_id+100000 for every doc_id%11==0, splits
    // assigned by ID (the naive keying), every clone group whose two
    // members hash into different splits reported with its sorted
    // split list. The oracle replays the md5-threshold split and the
    // text-grouping exactly; any accidental corpus-native duplicate
    // groups report identically on both sides.
    Query("q160_split_leakage", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val all = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      val sp = graft.operators.Sampling.splitAssign(all, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      graft.operators.Sampling.splitLeakage(sp, "doc_id", "text", "split")
        .orderBy("leader")
    },
      // q160: the md5-threshold split (q78's expression) over base +
      // clone rows, then leaking groups by TEXT equality — the oracle
      // tolerates corpus-native duplicates the same way the operator
      // does (both group by text).
      {
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = graft.operators.Sampling.thresholdHex(cums(0))
      val t2 = graft.operators.Sampling.thresholdHex(cums(1))
      s"""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 11 = 0),
         sp AS (
           SELECT doc_id, text,
                  CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t1'
                         THEN 'train'
                       WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t2'
                         THEN 'val'
                       ELSE 'test' END AS split
           FROM all_docs),
         d AS (
           SELECT text, split, min(doc_id) AS mn, count(1) AS c
           FROM sp GROUP BY text, split),
         g AS (
           SELECT min(mn) AS leader, CAST(sum(c) AS BIGINT) AS n_docs,
                  CAST(count(1) AS BIGINT) AS n_splits,
                  string_agg(split, ',' ORDER BY split) AS splits_csv
           FROM d GROUP BY text)
         SELECT leader, n_docs, n_splits, splits_csv
         FROM g WHERE n_splits > 1 ORDER BY leader"""
    }),

    // Deterministic hash sampling: membership is md5(salt||id) under a
    // hex threshold — the same rows in ANY engine/partitioning/rerun
    // (df.sample() can't oracle: per-partition RNG). Scan-side filter,
    // zero shuffle.
    Query("q49_hash_sample", (s, dir) => {
      graft.operators.Sampling.hashSample(
          t(s, dir, "documents"), "doc_id", fraction = 0.2)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // q49-q51: md5 is md5 in every engine — the oracles restate the
      // same membership rule and must select the exact same rows.
      // thresholds: floor(f * 16^8) in hex (0.2 -> 33333333).
      """SELECT doc_id, source FROM documents
         WHERE substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
         ORDER BY doc_id"""),

    // Deterministic stratified sampling: per-source fractions for
    // training-mixture reweighting, same md5 membership rule.
    Query("q50_stratified_sample", (s, dir) => {
      graft.operators.Sampling.stratifiedSample(
          t(s, dir, "events"), "event_id", "event_type",
          Map("click" -> 0.5, "view" -> 0.25, "error" -> 0.05))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(1) AS n, round(sum(value), 4) AS total_value
         FROM events
         WHERE CASE event_type
                 WHEN 'click' THEN substr(md5('graft' || CAST(event_id AS VARCHAR)), 1, 8) < '80000000'
                 WHEN 'view'  THEN substr(md5('graft' || CAST(event_id AS VARCHAR)), 1, 8) < '40000000'
                 WHEN 'error' THEN substr(md5('graft' || CAST(event_id AS VARCHAR)), 1, 8) < '0ccccccc'
                 ELSE FALSE END
         GROUP BY event_type ORDER BY event_type"""),

    // Fixed-size deterministic draw: the 64 smallest digests, planned
    // as TakeOrderedAndProject (per-partition top-n, no sort shuffle).
    Query("q51_fixed_sample", (s, dir) => {
      graft.operators.Sampling.fixedSizeSample(
          t(s, dir, "documents"), "doc_id", n = 64)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      """SELECT doc_id, source FROM (
           SELECT doc_id, source FROM documents
           ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 64)
         ORDER BY doc_id"""),

    // PII scrubbing: deterministic per-doc email/IP/phone injected into
    // each text, then redacted by the pure-Column regexp chain; the
    // oracle restates the same RE2-compatible patterns in DuckDB
    // (leftmost, replace-all). Scrubbed text compared by md5; per-kind
    // match counts audit that each pattern fired.
    Query("q58_pii_scrub", (s, dir) => {
      val withPii = t(s, dir, "documents")
        .withColumn("t2", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com"),
          lit(" or +3526211"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 ok")))
      withPii.select(col("doc_id"),
          md5(Text.scrubPii(col("t2"))).as("scrubbed_md5"),
          Text.piiCount(col("t2"), Text.EmailRe).as("n_email"),
          Text.piiCount(col("t2"), Text.Ipv4Re).as("n_ip"))
        .orderBy("doc_id")
    },
      // q58: same injected PII, same RE2-compatible patterns, same
      // email → IPv4 → phone replacement order ('g' = replace-all, which
      // is Spark's regexp_replace default).
      """WITH w AS (
           SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       || ' or +3526211' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ok' AS t2
           FROM documents)
         SELECT doc_id,
                md5(regexp_replace(regexp_replace(regexp_replace(t2,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
                      '\b(\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g'),
                      '\+?\d[\d() .-]{6,}\d', '[PII]', 'g')) AS scrubbed_md5,
                CAST(len(regexp_extract_all(t2,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
                CAST(len(regexp_extract_all(t2,
                      '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ip
         FROM w ORDER BY doc_id"""),

    // Gopher-style repetition statistics per source: duplicate-token
    // fraction and top-bigram share — the boilerplate/spam signals of a
    // corpus quality filter. Both are one-pass per-doc kernels (the
    // explode+count HOF form shuffled every bigram occurrence
    // corpus-wide to compute a per-document statistic — 6.9 s at sf0.1
    // vs 0.2 s for the kernel; spec-asserted equal). Docs with fewer
    // than 2 normalized words have no bigram (NULL share) and drop
    // out, stated identically in the oracle.
    Query("q59_repetition", (s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          Text.dupTokenFraction(col("text")).as("dup_frac"),
          Text.topNgramShare(col("text"), 2).as("top_bigram_frac"))
        .filter(col("top_bigram_frac").isNotNull)
        .groupBy("source")
        .agg(round(avg("dup_frac"), 4).as("avg_dup_frac"),
          round(avg("top_bigram_frac"), 4).as("avg_top_bigram"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    },
      // q59: identical normalization, bigram construction, and the same
      // docs-with-a-bigram inner-join semantics.
      """WITH n AS (
           SELECT doc_id, source,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
           FROM documents),
         ws AS (SELECT doc_id, source, t, string_split(t, ' ') AS w FROM n),
         dup AS (
           SELECT doc_id,
                  CASE WHEN length(t) = 0 THEN 0.0
                       ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END AS dup_frac
           FROM ws),
         bg AS (
           SELECT doc_id, source,
                  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
           FROM ws WHERE len(w) >= 2),
         bc AS (SELECT doc_id, source, bg, count(1) AS c FROM bg GROUP BY doc_id, source, bg),
         tb AS (SELECT doc_id, source, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
                FROM bc GROUP BY doc_id, source)
         SELECT source, round(avg(dup_frac), 4) AS avg_dup_frac,
                round(avg(top_bigram_frac), 4) AS avg_top_bigram,
                count(1) AS n_docs
         FROM tb JOIN dup USING (doc_id)
         GROUP BY source ORDER BY source"""),

    // The full refinement pass a data curator runs — language
    // allow-list, quality floor, repetition ceiling, exact dedup with
    // min-id survivors — over the corpus plus injected verbatim copies.
    // Every gate is an already-oracled per-doc signal; the oracle
    // restates the whole composition, and the id checksum pins the
    // exact survivor set.
    Query("q61_corpus_refine", (s, dir) => {
      // fanOut: the gate kernels off the single-task scan
      val docs = fanOut(t(s, dir, "documents"), "doc_id")
        .select("doc_id", "source", "text")
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 400000).as("doc_id"), col("source"), col("text"))
      graft.operators.Corpus.refine(docs.union(copies), "doc_id", "text",
          langs = Set("en"), minQuality = Some(0.3),
          maxDupTokenFraction = Some(0.5))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    },
      // q61: the refinement gates restate the q26/q27/q59 per-doc signal
      // fragments as predicates, then exact-dedup the survivors exactly
      // like q37's oracle.
      """WITH u AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 400000, source, text FROM documents WHERE doc_id < 50),
         b AS (
           SELECT doc_id, source, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS tok,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk,
             trim(regexp_replace(regexp_replace(lower(text),
               '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
           FROM u),
         l AS (
           SELECT *,
             length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS en,
             length(list_filter(tk, x -> x IN ('le','la','les','de','des','du','et','ou','un','une','est','que','qui','dans','pour','sur','avec','au','ce','pas'))) AS fr,
             length(list_filter(tk, x -> x IN ('der','die','das','und','oder','ein','eine','ist','zu','den','von','mit','auf','für','im','nicht','sich','dem','sie','werden'))) AS de,
             length(list_filter(tk, x -> x IN ('el','la','los','las','de','y','o','un','una','es','que','en','por','para','con','no','se','del','al','como'))) AS es
           FROM b),
         p AS (
           SELECT doc_id, source, text,
             CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                  WHEN en = greatest(en, fr, de, es) THEN 'en'
                  WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                  WHEN de = greatest(en, fr, de, es) THEN 'de'
                  ELSE 'es' END AS lang,
             CASE WHEN tok = 0 THEN 0.0
                  ELSE round((
                    least(CAST(tok AS DOUBLE) / 50.0, 1.0) +
                    (CASE WHEN length(text) = 0 THEN 1.0
                          ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)) * 10.0) END) +
                    least((CAST(en AS DOUBLE) / tok) * 50.0, 1.0) +
                    (CASE WHEN len(tk) = 0 THEN 0.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) >= 3.0
                           AND CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) <= 10.0 THEN 1.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) > 0.0 THEN 0.5
                          ELSE 0.0 END)) / 4.0, 4) END AS q,
             CASE WHEN length(norm) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
                           / len(string_split(norm, ' ')) END AS df
           FROM l),
         f AS (SELECT doc_id, source, text FROM p
               WHERE lang = 'en' AND q >= 0.3 AND df <= 0.5),
         k AS (SELECT md5(text) AS d, min(doc_id) AS keeper FROM f GROUP BY 1)
         SELECT source, count(1) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM f JOIN k ON f.doc_id = k.keeper
         GROUP BY source ORDER BY source"""),

    // Corpus health report — the one-row flagship a training-data
    // pipeline runs first on any new corpus: doc/token/BPE-token
    // volume, language share, quality and repetition means, exact-dup
    // pressure. One scan + one tiny digest agg, every signal from the
    // already-oracled scalar library (q17/q26/q27/q59 restated jointly
    // by the oracle). Also the battery exposure for tokenCountBpe,
    // which previously had specs but no driver-checked entry.
    Query("q60_corpus_report", (s, dir) => {
      val base = t(s, dir, "documents").select(
        Text.tokenCount(col("text")).cast("long").as("tok"),
        Text.tokenCountBpe(col("text")).cast("long").as("bpe"),
        Text.langId(col("text")).as("lang"),
        Text.qualityScore(col("text")).as("q"),
        Text.dupTokenFraction(col("text")).as("df"),
        md5(col("text")).as("digest"))
      val dupPressure = base.groupBy("digest").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_unique_texts"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
      base.agg(
          count(lit(1)).as("n_docs"),
          sum("tok").as("total_tokens"),
          sum("bpe").as("total_bpe_tokens"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          round(avg("q"), 4).as("avg_quality"),
          round(avg("df"), 4).as("avg_dup_frac"))
        .crossJoin(dupPressure)
    },
      // q60: the per-doc signal definitions are verbatim fragments of the
      // q17 (tokens), q26 (langId), q27 (quality), and q59 (dup fraction)
      // oracles, aggregated jointly.
      """WITH b AS (
           SELECT
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(string_split_regex(trim(text), '\s+')) END AS tok,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS tk,
             trim(regexp_replace(regexp_replace(lower(text),
               '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm,
             md5(text) AS digest, text
           FROM documents),
         l AS (
           SELECT *,
             length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS en,
             length(list_filter(tk, x -> x IN ('le','la','les','de','des','du','et','ou','un','une','est','que','qui','dans','pour','sur','avec','au','ce','pas'))) AS fr,
             length(list_filter(tk, x -> x IN ('der','die','das','und','oder','ein','eine','ist','zu','den','von','mit','auf','für','im','nicht','sich','dem','sie','werden'))) AS de,
             length(list_filter(tk, x -> x IN ('el','la','los','las','de','y','o','un','una','es','que','en','por','para','con','no','se','del','al','como'))) AS es
           FROM b),
         p AS (
           SELECT tok, bpe, digest,
             CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                  WHEN en = greatest(en, fr, de, es) THEN 'en'
                  WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                  WHEN de = greatest(en, fr, de, es) THEN 'de'
                  ELSE 'es' END AS lang,
             CASE WHEN tok = 0 THEN 0.0
                  ELSE round((
                    least(CAST(tok AS DOUBLE) / 50.0, 1.0) +
                    (CASE WHEN length(text) = 0 THEN 1.0
                          ELSE greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)) * 10.0) END) +
                    least((CAST(en AS DOUBLE) / tok) * 50.0, 1.0) +
                    (CASE WHEN len(tk) = 0 THEN 0.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) >= 3.0
                           AND CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) <= 10.0 THEN 1.0
                          WHEN CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS DOUBLE) / len(tk) > 0.0 THEN 0.5
                          ELSE 0.0 END)) / 4.0, 4) END AS q,
             CASE WHEN length(norm) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
                           / len(string_split(norm, ' ')) END AS df
           FROM l),
         dup AS (
           SELECT CAST(count(1) AS BIGINT) AS n_unique_texts,
                  CAST(count_if(c > 1) AS BIGINT) AS n_dup_groups
           FROM (SELECT digest, count(1) AS c FROM p GROUP BY digest)),
         stats AS (
           SELECT CAST(count(1) AS BIGINT) AS n_docs,
                  CAST(sum(tok) AS BIGINT) AS total_tokens,
                  CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
                  CAST(count_if(lang = 'en') AS BIGINT) AS n_en,
                  round(avg(q), 4) AS avg_quality,
                  round(avg(df), 4) AS avg_dup_frac
           FROM p)
         SELECT * FROM stats CROSS JOIN dup"""),

    // Benchmark decontamination (the GPT-3/Llama eval-overlap rule):
    // hold out every 25th document as the "benchmark", flag each
    // remaining training doc sharing any word 4-gram with it. n=4 is
    // this corpus's signal point (n=5 leaves one organic pair at
    // sf0.01; the classic n=13 needs real benchmark prompts); the
    // operator itself defaults to 13. Eval grams broadcast; the corpus
    // is scanned once.
    Query("q69_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contaminationMatches(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 4)
        .orderBy("train_id", "eval_id")
    },
      // q69: the q31 gram normalization verbatim at n=4, then a plain
      // train×eval intersect — the oracle can afford all-pairs where the
      // engine broadcasts the (small) eval gram set.
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(ws) < 4 THEN [array_to_string(ws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 2),
                         i -> array_to_string(list_slice(ws, i, i + 3), ' '))) END AS grams
           FROM w),
         pairs AS (
           SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
                  len(list_intersect(a.grams, b.grams)) AS shared
           FROM g a JOIN g b ON a.doc_id % 25 != 0 AND b.doc_id % 25 = 0)
         SELECT train_id, eval_id, CAST(shared AS BIGINT) AS n_shared
         FROM pairs WHERE shared > 0 ORDER BY train_id, eval_id"""),

    // Bigram-LM perplexity quality scoring (the CCNet-style gate):
    // train add-one-smoothed bigram counts on the corpus, score every
    // doc's average token log-probability. Per-bigram log-probs are
    // rounded to integer micro-nats BEFORE summing, so the per-doc
    // aggregation is order-independent integer arithmetic — the trick
    // that makes a many-term float sum hash-oracleable.
    Query("q70_lm_score", (s, dir) =>
      graft.operators.LangModel.perplexityScore(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      // q70/q70b: the gram normalization, then Laplace bigram log-probs
      // in integer micro-nats (CAST(round(ln·1e6) AS BIGINT)) so the
      // per-doc sum is exact integer arithmetic in both engines; only
      // the final avg re-enters doubles. Integer sums CAST to BIGINT
      // (DuckDB sums BIGINT → HUGEINT → pandas float otherwise).
      BigramLmOracleSql),

    // q70 through the build-once/serve-many lifecycle (the q31b/q54b
    // catalog-table pattern): model tables written once, the timed
    // serve is one corpus scan joined against narrow count tables.
    // Same oracle as q70 — the lifecycle must not change the answer.
    Query("q70b_lm_persisted", (s, dir) => {
      val (bigT, ctxT, vocT) = bigramTables(s, dir)
      graft.operators.LangModel.ensureBigramTables(s,
        t(s, dir, "documents"), "doc_id", "text", bigT, ctxT, vocT)
      graft.operators.LangModel.scoreFromModel(
          graft.operators.LangModel.docBigramOcc(
            t(s, dir, "documents"), "doc_id", "text"),
          s.table(bigT), s.table(ctxT), s.table(vocT))
        .orderBy("doc_id")
    },
      BigramLmOracleSql),

    // Epoch-weighted training mixture: the up-sampling half of data
    // recipes (q50 covers fractions ≤ 1) — source weights > 1 emit
    // whole copies plus a deterministic fractional draw, all
    // scan-side. Output keeps (doc_id, source, epoch) so the oracle
    // pins exactly which copies exist.
    Query("q72_epoch_mixture", (s, dir) =>
      graft.operators.Sampling.epochMixture(
          t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4, "src3" -> 0.0))
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch"),
      // q72: weights restated as (whole copies, fractional md5
      // threshold) — 2.5 → (2, 0x80000000), 0.4 → (0, 0x66666666) — the
      // engine's thresholdHex values; membership re-derived per doc.
      """WITH wts AS (
           SELECT * FROM (VALUES ('src0', 2, '80000000'), ('src1', 1, '00000000'),
                                 ('src2', 0, '66666666'), ('src3', 0, '00000000'))
                AS t(source, nfull, frac)),
         epochs AS (SELECT unnest(range(0, 3)) AS epoch)
         SELECT d.doc_id, d.source, CAST(e.epoch AS BIGINT) AS epoch
         FROM documents d JOIN wts w USING (source) CROSS JOIN epochs e
         WHERE e.epoch < w.nfull OR (e.epoch = w.nfull AND
               substr(md5('graft_e' || CAST(d.doc_id AS VARCHAR)), 1, 8) < w.frac)
         ORDER BY d.doc_id, e.epoch"""),

    // Real BPE subword tokenization — the APPLY side, fully oracled
    // under a COMMITTED merge list. The three merges are chosen
    // character-disjoint and non-chaining (no merge output feeds
    // another pair), so the greedy lowest-rank-first tokenizer
    // degenerates to closed-form arithmetic any engine can replay:
    // tokens(word) = len+1 − occ('th') − occ('in') − endswith('e'),
    // with occ = single-pass non-overlapping count (= SQL replace) —
    // exactly the symbol-level semantics, because a merged symbol is
    // atomic and can never re-pair (BpeSpec pins the equivalence on
    // adversarial words). TRAINING stays covered by q82b (the
    // distributed histogram, hash-oracled) and BpeSpec's hand-derived
    // merge trace — the greedy argmax loop itself is the only
    // non-SQL-expressible remnant.
    Query("q82_bpe_tokens", (s, dir) =>
      graft.operators.Bpe.tokenCount(t(s, dir, "documents"),
          "doc_id", "text", CommittedBpeMerges)
        .orderBy("doc_id"),
      // q82: BPE tokenization under the committed merge list replayed as
      // closed-form arithmetic — tokens(word) = len+1 − occ('th') −
      // occ('in') − endswith('e'). occ via single-pass replace (the same
      // non-overlapping left-to-right semantics as the symbol-level
      // merge, because merged symbols are atomic); word split via the
      // engine's normalizeText restated (the q82b normalization).
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
         per AS (
           SELECT doc_id,
                  length(word) + 1
                    - (length(word) - length(replace(word, 'th', ''))) // 2
                    - (length(word) - length(replace(word, 'in', ''))) // 2
                    - CASE WHEN word LIKE '%e' THEN 1 ELSE 0 END AS n
           FROM tok)
         SELECT d.doc_id, CAST(coalesce(sum(p.n), 0) AS BIGINT) AS n_bpe_tokens
         FROM documents d LEFT JOIN per p USING (doc_id)
         GROUP BY d.doc_id ORDER BY d.doc_id"""),

    // The GENERAL greedy BPE apply path under a CHAINED merge list
    // (rank 1 consumes rank 0's output — the stage structure q82's
    // character-disjoint list collapsed away, the battery's last
    // spec-only interior): every token ID of every document under
    // CommittedChainedBpeMerges, md5-pinned per doc. The oracle
    // replays the full two-stage greedy trace closed-form — see the
    // merge list's doc for why one 'the|th|.' scan equals it — so one
    // id out of place, one rank misordered (priority between (th,e)
    // and (e,</w>) is observable on words ending in "the"), breaks
    // the hash.
    Query("q82c_bpe_chained", (s, dir) =>
      graft.operators.Bpe.tokenIds(t(s, dir, "documents"),
          "doc_id", "text", CommittedChainedBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"), _.cast("string")),
            ",")).as("ids_md5"))
        .orderBy("doc_id"),
      // q82c: the chained two-stage greedy trace closed-form. Stage 0
      // (t,h) is a left-to-right non-overlapping scan; stage 1 (th,e)
      // consumes exactly the pairs the alternation-preferred 'the'
      // match takes (its 'e' can never belong to a later 'th'), so both
      // stages equal ONE scan 'the|th|.'; stage 2's end-of-word merge
      // fires iff the last symbol is a BARE 'e' — a word ending "the"
      // keeps '</w>' separate because rank 1 already took the 'e'
      // (the rank-priority observable). Ids: 1='</w>', 2='th', 3='the',
      // 4='e</w>', 5+codepoint=base.
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e' AND NOT wd LIKE '%the'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'the|th|.'), 1,
                               len(regexp_extract_all(wd, 'the|th|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'the|th|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'the' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w)
         SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
                md5(array_to_string(ids, ',')) AS ids_md5
         FROM tok ORDER BY doc_id"""),

    // The byte-level tokenizer feeding the UNCHANGED trainer chain
    // (the q145 contract): ByteBpe ids -> contiguous pack ->
    // assembled sequences with offsets — the packing geometry under
    // the byte model, restated closed-form end to end (byte ids via
    // the q183 scan + space rule, then the q145 shard/bin/offset
    // forms verbatim).
    Query("q183b_byte_token_shards", (s, dir) => {
      val toks = graft.operators.ByteBpe.byteTokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedByteBpeMerges)
      val packed = graft.operators.Packing.packContiguous(
        toks, "doc_id", "n_tokens", budget = 5000L, shards = 4)
      graft.operators.Packing.assembleTokenSequences(packed,
          "doc_id", "token_ids", orderCol = "doc_id")
        .select(col("shard"), col("bin"), col("n_docs"), col("seq_tokens"),
          md5(array_join(transform(col("sequence"), _.cast("string")), ","))
            .as("seq_md5"),
          array_join(transform(col("offsets"), _.cast("string")), ",")
            .as("offsets_csv"))
        .orderBy("shard", "bin")
    },
      // q183b: the q183 corpus-side byte ids (no planted suffix)
      // through the q145 shard/bin/offset forms verbatim.
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t1 AS (
           SELECT doc_id, ws[1] AS w0,
                  list_slice(ws, 2, len(ws)) AS rest
           FROM w),
         tok AS (
           SELECT doc_id,
                  list_transform(regexp_extract_all(w0, 'the|th|ing|in|.'),
                    s -> CASE s WHEN 'the' THEN 257 WHEN 'th' THEN 256
                                WHEN 'ing' THEN 260 WHEN 'in' THEN 259
                                ELSE ascii(s) END)
                  || flatten(list_transform(rest, wd ->
                       CASE WHEN substr(wd, 1, 1) = 't'
                                 AND substr(wd, 2, 1) != 'h'
                         THEN [258] || list_transform(
                                regexp_extract_all(substr(wd, 2),
                                  'the|th|ing|in|.'),
                                s -> CASE s WHEN 'the' THEN 257
                                            WHEN 'th' THEN 256
                                            WHEN 'ing' THEN 260
                                            WHEN 'in' THEN 259
                                            ELSE ascii(s) END)
                         ELSE [32] || list_transform(
                                regexp_extract_all(wd, 'the|th|ing|in|.'),
                                s -> CASE s WHEN 'the' THEN 257
                                            WHEN 'th' THEN 256
                                            WHEN 'ing' THEN 260
                                            WHEN 'in' THEN 259
                                            ELSE ascii(s) END)
                       END)) AS ids
           FROM t1),
         p AS (
           SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 4 AS INT) AS shard
           FROM tok),
         b AS (
           SELECT shard, doc_id, ids,
                  CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 5000.0) AS BIGINT) AS bin
           FROM p),
         o AS (
           SELECT shard, bin, doc_id, ids,
                  coalesce(sum(len(ids) + 1) OVER (
                    PARTITION BY shard, bin ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS off
           FROM b)
         SELECT shard, bin, CAST(count(1) AS INT) AS n_docs,
                CAST(sum(len(ids) + 1) AS BIGINT) AS seq_tokens,
                md5(string_agg(array_to_string(list_append(ids, 0), ','),
                    ',' ORDER BY doc_id)) AS seq_md5,
                string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
                  AS offsets_csv
         FROM o GROUP BY shard, bin ORDER BY shard, bin"""),

    // The byte trainer's distributed half (q82b's sibling): the
    // pre-token histogram GPT-2 trains on — first word bare, every
    // later word with its leading space (this corpus's pre-token
    // shape) — tail-pruned at minCount=2. The greedy merge loop
    // itself (shared with the word trainer, end-of-word disabled)
    // stays spec-pinned, the q82 treatment.
    Query("q183d_byte_histogram", (s, dir) =>
      graft.operators.ByteBpe.pretokenHistogram(
          t(s, dir, "documents").select("doc_id", "text"), "text",
          minCount = 2L)
        .orderBy("pretoken"),
      // q183d: the pre-token histogram restated — first word bare,
      // the rest ' '-prefixed, counted, minCount=2 prune.
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         seg AS (
           SELECT ws[1] AS p FROM w
           UNION ALL
           SELECT ' ' || u.wd
           FROM w, UNNEST(list_slice(ws, 2, len(ws))) AS u(wd))
         SELECT p AS pretoken, CAST(count(1) AS BIGINT) AS n
         FROM seg WHERE length(p) > 0
         GROUP BY p HAVING count(1) >= 2 ORDER BY pretoken"""),

    // Byte-level detokenize roundtrip — q167's sibling with the
    // STRONGER claim: no normalization anywhere, so decode∘encode is
    // the identity on the RAW text and the oracle is simply
    // md5(text) (n_tokens still restated via the byte scan — a
    // wrong id count can't hide behind the identity).
    Query("q183c_byte_roundtrip", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val toks = graft.operators.ByteBpe.byteTokenIds(docs, "doc_id",
        "text", CommittedByteBpeMerges)
      graft.operators.ByteBpe.decodeByteTokenIds(toks, "doc_id",
          "token_ids", CommittedByteBpeMerges)
        .join(toks.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          md5(col("decoded")).as("decoded_md5"))
        .orderBy("doc_id")
    },
      // q183c: decode∘encode is the IDENTITY on raw text (no
      // normalization in the byte model), so decoded_md5 is literally
      // md5(text); n_tokens restated via the byte scan + space rule.
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t1 AS (
           SELECT doc_id, ws[1] AS w0,
                  list_slice(ws, 2, len(ws)) AS rest
           FROM w),
         tok AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(w0, 'the|th|ing|in|.'))
                       AS BIGINT)
                  + CAST(coalesce(list_sum(list_transform(rest, wd ->
                      CASE WHEN substr(wd, 1, 1) = 't'
                                AND substr(wd, 2, 1) != 'h'
                        THEN 1 + len(regexp_extract_all(substr(wd, 2),
                               'the|th|ing|in|.'))
                        ELSE 1 + len(regexp_extract_all(wd,
                               'the|th|ing|in|.'))
                      END)), 0) AS BIGINT) AS n_tokens
           FROM t1)
         SELECT t.doc_id, t.n_tokens, md5(d.text) AS decoded_md5
         FROM tok t JOIN documents d USING (doc_id)
         ORDER BY t.doc_id"""),

    // UL2 mixture-of-denoisers (Tay et al. 2022, public): one batch
    // mixes the R-denoiser (the q185 short-span corruption), the
    // X-denoiser (extreme: half the tokens in long spans), and the
    // S-denoiser (PrefixLM: continue the final quarter), selected by
    // doc_id%3, each input prefixed with its mode token (2000000+m)
    // and all three sharing the q185 sentinel grammar so one decoder
    // contract serves the mixture. Every id restated closed-form per
    // mode.
    Query("q185b_ul2_mixture", (s, dir) => {
      val toks = graft.operators.Bpe.tokenIds(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", CommittedBpeMerges)
      val m = pmod(col("doc_id"), lit(3))
      def shape(df: org.apache.spark.sql.DataFrame, modeId: Long,
                tag: String) =
        df.select(col("doc_id"), lit(tag).as("mode"), col("n_tokens"),
          concat(array(lit(2000000L + modeId)), col("input_ids"))
            .as("input_ids"),
          col("target_ids"))
      val r = shape(graft.operators.Denoising.spanCorrupt(
        toks.filter(m === 0), "doc_id", "token_ids",
        sentinelBase = 1000000L, densityPct = 15, meanSpan = 3), 0, "R")
      val x = shape(graft.operators.Denoising.spanCorrupt(
        toks.filter(m === 1), "doc_id", "token_ids",
        sentinelBase = 1000000L, densityPct = 50, meanSpan = 8), 1, "X")
      val sd = shape(graft.operators.Denoising.prefixLmSplit(
        toks.filter(m === 2), "doc_id", "token_ids",
        sentinelBase = 1000000L), 2, "S")
      r.unionByName(x).unionByName(sd)
        .select(col("doc_id"), col("mode"), col("n_tokens"),
          size(col("input_ids")).cast("long").as("n_input"),
          size(col("target_ids")).cast("long").as("n_target"),
          md5(array_join(transform(col("input_ids"), _.cast("string")),
            ",")).as("input_md5"),
          md5(array_join(transform(col("target_ids"), _.cast("string")),
            ",")).as("target_md5"))
        .orderBy("doc_id")
    },
      // q185b: the q185 span arithmetic per mode (R: 15%/3, X: 50%/8),
      // the S mode's quarter split, mode tokens 2000000+m prepended,
      // shared sentinel grammar.
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0) AS ws
           FROM documents),
         tok AS (
           SELECT doc_id,
                  flatten(list_transform(ws, wd ->
                    list_transform(
                      CASE WHEN wd LIKE '%e'
                        THEN list_append(list_slice(
                               regexp_extract_all(wd, 'th|in|.'), 1,
                               len(regexp_extract_all(wd, 'th|in|.')) - 1),
                             'e</w>')
                        ELSE list_append(regexp_extract_all(wd, 'th|in|.'),
                             '</w>')
                      END,
                      t -> CASE t WHEN '</w>' THEN 1 WHEN 'th' THEN 2
                                  WHEN 'in' THEN 3 WHEN 'e</w>' THEN 4
                                  ELSE 5 + unicode(t) END))) AS ids
           FROM w),
         p AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n,
                      doc_id % 3 AS md
               FROM tok),
         c AS (
           SELECT doc_id, ids, n, md,
                  CASE md WHEN 0 THEN least((n * 15 + 50) // 100, n)
                          WHEN 1 THEN least((n * 50 + 50) // 100, n)
                  END AS n_noise
           FROM p),
         c2 AS (
           SELECT *, CASE WHEN md = 2 THEN NULL
                  WHEN n_noise > 0 THEN
                    CASE md WHEN 0 THEN greatest((n_noise * 2 + 3) // 6, 1)
                            WHEN 1 THEN greatest((n_noise * 2 + 8) // 16, 1)
                    END
                  ELSE 0 END AS n_spans
           FROM c),
         c3 AS (
           SELECT *, CASE WHEN n_spans > 0 THEN n // n_spans ELSE 0 END AS seg,
                  CASE WHEN n_spans > 0 THEN n_noise // n_spans ELSE 0 END AS base,
                  CASE WHEN n_spans > 0 THEN n_noise % n_spans ELSE 0 END AS rem
           FROM c2 WHERE md IN (0, 1)),
         sp AS (
           SELECT doc_id, u.k AS k,
                  least(base + CASE WHEN u.k < rem THEN 1 ELSE 0 END,
                        seg) AS len0,
                  u.k * seg + ((doc_id * 1103515245 + 12345
                                + u.k * 2654435761) % 2147483647)
                    % (seg - least(base + CASE WHEN u.k < rem THEN 1
                                        ELSE 0 END, seg) + 1) AS start
           FROM c3, UNNEST(range(0, n_spans)) AS u(k)),
         sp2 AS (
           SELECT doc_id, k, start, len0,
                  coalesce(lag(start + len0) OVER (PARTITION BY doc_id
                    ORDER BY k), 0) AS pos
           FROM sp),
         agg AS (
           SELECT s.doc_id,
                  flatten(list(list_slice(c.ids, s.pos + 1, s.start)
                    || [1000000 + s.k] ORDER BY s.k)) AS in0,
                  max(s.start + s.len0) AS last_end,
                  flatten(list([1000000 + s.k]
                    || list_slice(c.ids, s.start + 1, s.start + s.len0)
                    ORDER BY s.k)) AS tgt0
           FROM sp2 s JOIN c3 c USING (doc_id)
           GROUP BY s.doc_id),
         outrx AS (
           SELECT c.doc_id, CASE c.md WHEN 0 THEN 'R' ELSE 'X' END AS mode,
                  c.n,
                  CASE WHEN c.n_spans > 0
                    THEN [2000000 + c.md] || a.in0
                         || list_slice(c.ids, a.last_end + 1, c.n)
                    ELSE [2000000 + c.md] || c.ids END AS input_ids,
                  CASE WHEN c.n_spans > 0
                    THEN a.tgt0 || [1000000 + c.n_spans]
                    ELSE CAST([] AS BIGINT[]) END AS target_ids
           FROM c3 c LEFT JOIN agg a USING (doc_id)),
         s2 AS (
           SELECT doc_id, n, ids,
                  n - greatest(n // 4, 1) AS spl
           FROM p WHERE md = 2 AND n > 0),
         outs AS (
           SELECT doc_id, 'S' AS mode, n,
                  [2000002] || list_slice(ids, 1, spl) || [1000000]
                    AS input_ids,
                  [1000000] || list_slice(ids, spl + 1, n) || [1000001]
                    AS target_ids
           FROM s2
           UNION ALL
           SELECT doc_id, 'S', n, [2000002], CAST([] AS BIGINT[])
           FROM p WHERE md = 2 AND n = 0),
         unioned AS (
           SELECT * FROM outrx UNION ALL SELECT * FROM outs)
         SELECT doc_id, mode, n AS n_tokens,
                CAST(len(input_ids) AS BIGINT) AS n_input,
                CAST(len(target_ids) AS BIGINT) AS n_target,
                md5(array_to_string(input_ids, ',')) AS input_md5,
                md5(array_to_string(target_ids, ',')) AS target_md5
         FROM unioned ORDER BY doc_id"""),

    // BYTE-level BPE apply (GPT-2: regex pre-tokenization + greedy
    // byte-pair merges; no normalize, no end-of-word, spaces inside
    // tokens): every id of every document md5-pinned under the
    // committed space-crossing chained merges. A constant planted
    // suffix exercises the regex branches the [a-z ] corpus lacks —
    // contraction, digit run, multi-byte UTF-8 (café), the/tin/thing
    // merge interplay, trailing whitespace run — and contributes
    // FIXED ids the oracle states literally; the corpus part is the
    // closed-form scan + space rule (see CommittedByteBpeMerges).
    Query("q183_byte_bpe", (s, dir) =>
      graft.operators.ByteBpe.byteTokenIds(
          t(s, dir, "documents").select(col("doc_id"),
            concat(col("text"), lit(" it's 42 café the tin thing  "))
              .as("text")),
          "doc_id", "text", CommittedByteBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"), _.cast("string")),
            ",")).as("ids_md5"))
        .orderBy("doc_id"),
      // q183: the byte-level greedy trace closed-form over the [a-z ]
      // corpus — GPT-2 pre-tokens are the first word bare + ' word'
      // for the rest; within a letter pre-token the merge trace equals
      // one 'the|th|ing|in|.' scan (no merge output feeds another
      // pattern's start), and the (space,t) merge fires iff the word
      // starts 't' NOT followed by 'h' (rank 0 takes the t first
      // otherwise). The planted constant suffix contributes its fixed
      // ids verbatim: ' it'(32,105,116) ''s'(39,115) ' 42'(32,52,50)
      // ' café'(32,99,97,102,195,169 — é is two bytes) ' the'(32,257)
      // ' tin'(258,259) ' thing'(32,256,260) trailing '  '(32,32).
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t1 AS (
           SELECT doc_id, ws[1] AS w0,
                  list_slice(ws, 2, len(ws)) AS rest
           FROM w),
         ids AS (
           SELECT doc_id,
                  list_transform(regexp_extract_all(w0, 'the|th|ing|in|.'),
                    s -> CASE s WHEN 'the' THEN 257 WHEN 'th' THEN 256
                                WHEN 'ing' THEN 260 WHEN 'in' THEN 259
                                ELSE ascii(s) END)
                  || flatten(list_transform(rest, wd ->
                       CASE WHEN substr(wd, 1, 1) = 't'
                                 AND substr(wd, 2, 1) != 'h'
                         THEN [258] || list_transform(
                                regexp_extract_all(substr(wd, 2),
                                  'the|th|ing|in|.'),
                                s -> CASE s WHEN 'the' THEN 257
                                            WHEN 'th' THEN 256
                                            WHEN 'ing' THEN 260
                                            WHEN 'in' THEN 259
                                            ELSE ascii(s) END)
                         ELSE [32] || list_transform(
                                regexp_extract_all(wd, 'the|th|ing|in|.'),
                                s -> CASE s WHEN 'the' THEN 257
                                            WHEN 'th' THEN 256
                                            WHEN 'ing' THEN 260
                                            WHEN 'in' THEN 259
                                            ELSE ascii(s) END)
                       END))
                  || [32,105,116,39,115,32,52,50,32,99,97,102,195,169,
                      32,257,258,259,32,256,260,32,32]
                    AS ids
           FROM t1)
         SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
                md5(array_to_string(ids, ',')) AS ids_md5
         FROM ids ORDER BY doc_id"""),

    // Streaming corpus telemetry: per-source doc/token counts + KMV
    // distinct-token and Misra-Gries top-term sketches absorbed from a
    // document stream in 3 micro-batches through the batch-id-ledgered
    // staged swap (the q76/q83 maintenance discipline) — every column
    // is mergeable, so state stays |sources| rows and history is never
    // re-read. In the unsaturated regime (31-term vocab << k/capacity)
    // every sketch is complete, so the report equals the exact SQL
    // truth regardless of batching.
    Query("q93_stream_telemetry", (s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val state = s"graft_q93_tel_$tag"
      if (!s.catalog.tableExists(state)) {
        val docs = t(s, dir, "documents").select("doc_id", "source", "text")
          .as[(Long, String, String)].collect()
        streamRows(s, docs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingTelemetry(
            in.toDF("doc_id", "source", "text"), "source", "text",
            state, ckpt)
        }
        s.catalog.refreshTable(state)
      }
      graft.operators.Telemetry.report(s.table(state), "source")
        .orderBy("source")
    },
      // q93: unsaturated sketches are complete, so the streamed
      // telemetry report equals plain per-source SQL: doc/token counts,
      // exact distinct tokens, and the top term under (count desc, term)
      // — independent of how the stream was batched.
      """WITH toks AS (
           SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                             x -> length(x) > 0)) AS term
           FROM documents),
         per AS (
           SELECT source, count(1) AS n_tokens,
                  count(DISTINCT term) AS ndv_tokens
           FROM toks GROUP BY source),
         dcs AS (SELECT source, count(1) AS n_docs FROM documents GROUP BY source),
         tc AS (SELECT source, term, count(1) AS n FROM toks GROUP BY source, term),
         top AS (SELECT source, term AS top_term, n AS top_n,
                        row_number() OVER (PARTITION BY source
                                           ORDER BY n DESC, term) AS rn
                 FROM tc)
         SELECT d.source, d.n_docs, p.n_tokens, p.ndv_tokens,
                t.top_term, CAST(t.top_n AS BIGINT) AS top_n
         FROM dcs d JOIN per p USING (source) JOIN top t USING (source)
         WHERE t.rn = 1 ORDER BY d.source"""),

    // Learned-gate scoring plumbing under CLOSED-FORM weights — the
    // fastText/CCNet quality-classifier serve path (tokenize → hash →
    // bucket → weight lookup → aggregate) with a deterministic
    // mix64-derived weight table both engines recompute independently;
    // integer milli-unit weights make each doc's score an EXACT
    // integer sum, so the oracle hash-matches with no float rounding.
    // The trained-weights path differs only in the table used
    // (Classifier.trainLogistic — iterative-greedy, not
    // SQL-expressible; ClassifierSpec pins determinism + distilled-
    // rule holdout accuracy).
    Query("q85_classifier_score", (s, dir) =>
      graft.operators.Classifier.scoreMilli(t(s, dir, "documents"),
          "doc_id", "text",
          graft.operators.Classifier.pseudoWeightsMilli(4096))
        .orderBy("doc_id"),
      // q85: both the token hash AND the weight table recomputed from
      // scratch — mix64∘FNV per distinct term (the q23 machinery),
      // mix64 over range(4096) for the closed-form weights, exact
      // integer sums per doc.
      ClassifierScoreCte +
        "SELECT doc_id, n_feat, score_milli FROM cscores ORDER BY doc_id"),

    // Quality-budgeted curation under the gate: keep each source's top
    // half by the q85 linear score (ties by doc_id — deterministic),
    // report survivors per source with an id checksum so the oracle
    // pins the exact kept SET. One window partitioning carries both
    // the rank and the group size — one shuffle on source, the
    // stratified-sample scale shape.
    Query("q87_gated_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.operators.Classifier.scoreMilli(
          docs.select("doc_id", "text"), "doc_id", "text",
          graft.operators.Classifier.pseudoWeightsMilli(4096))
        .join(docs.select("doc_id", "source"), "doc_id")
      graft.operators.Sampling.topFractionBy(scored, "source", "score_milli",
          "doc_id", fraction = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum("score_milli").as("score_sum"))
        .orderBy("source")
    },
      // q87: the q85 scores gated per source — rank and count in one
      // window partitioning, keep ceil(n/2), aggregate the survivors.
      ClassifierScoreCte +
        """, csrc AS (
             SELECT s.doc_id, s.score_milli, d.source
             FROM cscores s JOIN documents d USING (doc_id)),
           crk AS (
             SELECT doc_id, source, score_milli,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY score_milli DESC, doc_id) AS rn,
                    count(1) OVER (PARTITION BY source) AS n
             FROM csrc)
           SELECT source, CAST(count(1) AS BIGINT) AS n_kept,
                  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                  CAST(sum(score_milli) AS BIGINT) AS score_sum
           FROM crk WHERE rn <= ceil(n * 0.5)
           GROUP BY source ORDER BY source"""),

    // q87's trained sibling: the distributed trainer runs AT QUERY
    // TIME on the committed literal training set (weights are a pure
    // function of committed code — identical at every sf), its output
    // quantizes to exact integer milli-units, and the corpus is gated
    // per source by the LEARNED score. The oracle scores under the
    // spec-pinned snapshot of this exact training run
    // (CommittedGateWeightsMilli), so silent training drift fails
    // ClassifierSpec's snapshot pin AND this hash gate.
    Query("q87b_trained_gate", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val (w, b) = graft.operators.Classifier.trainLogistic(
        GateTrainingSet.toDF("text", "label"), "text", "label",
        dim = GateDim, iters = GateIters, lr = GateLr)
      val (wm, bm) = graft.operators.Classifier.quantizeMilli(w, b)
      val scored = graft.operators.Classifier.scoreMilli(
          docs.select("doc_id", "text"), "doc_id", "text", wm)
        .select(col("doc_id"), (col("score_milli") + bm).as("score_milli"))
        .join(docs.select("doc_id", "source"), "doc_id")
      graft.operators.Sampling.topFractionBy(scored, "source", "score_milli",
          "doc_id", fraction = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum("score_milli").as("score_sum"))
        .orderBy("source")
    },
      // q87b: the q87 gate under the LEARNED weights — scored from the
      // committed training snapshot (VALUES list below), bucketed mod 64
      // on the same mix64 token hash, bias added per doc, then the same
      // per-source ceil(n/2) selection. The engine trains fresh at query
      // time; agreement with this oracle is exactly the statement that
      // training reproduced the committed snapshot.
      TokenHashCte +
      s""",
         bkt AS (SELECT term, CAST(xor(z, z // 2147483648) % $GateDim AS INTEGER) AS j FROM t5),
         wj(j, w) AS (VALUES ${CommittedGateWeightsMilli.zipWithIndex
           .map { case (w, j) => s"($j, $w)" }.mkString(", ")}),
         agg AS (SELECT t.doc_id, CAST(sum(wj.w) AS BIGINT) AS s
                 FROM toks t JOIN bkt USING (term) JOIN wj ON wj.j = bkt.j
                 GROUP BY t.doc_id),
         cscores AS (
           SELECT d.doc_id,
                  coalesce(a.s, CAST(0 AS BIGINT)) + ($CommittedGateBiasMilli) AS score_milli
           FROM documents d LEFT JOIN agg a USING (doc_id)),
         csrc AS (
           SELECT s.doc_id, s.score_milli, d.source
           FROM cscores s JOIN documents d USING (doc_id)),
         crk AS (
           SELECT doc_id, source, score_milli,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY score_milli DESC, doc_id) AS rn,
                  count(1) OVER (PARTITION BY source) AS n
           FROM csrc)
         SELECT source, CAST(count(1) AS BIGINT) AS n_kept,
                CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(score_milli) AS BIGINT) AS score_sum
         FROM crk WHERE rn <= ceil(n * 0.5)
         GROUP BY source ORDER BY source"""),

    // The DISTRIBUTED half of BPE alone — the (word, count) histogram
    // the driver-side merge loop trains on — is plain SQL (normalize +
    // split + explode + group-by), so it gets its own fully-oracled
    // entry: DuckDB recomputes the histogram from the raw corpus,
    // shrinking q82's unavoidable no_oracle surface to the greedy
    // merge loop only (which BpeSpec pins by hand-derived trace).
    Query("q82b_bpe_histogram", (s, dir) =>
      graft.operators.Bpe.wordHistogram(t(s, dir, "documents"), "text",
          minCount = 2L)
        .orderBy("word"),
      // q82b: DuckDB recomputes the BPE word histogram from the raw
      // corpus — normalizeText (lower, strip ASCII punct, collapse
      // whitespace) then split/unnest/group — with the same minCount=2
      // tail prune.
      """SELECT word, count(1) AS n FROM (
           SELECT unnest(list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[!-/:-@\[-`{-~]', '', 'g'),
                    '\s+', ' ', 'g')), ' '),
                  x -> length(x) > 0)) AS word
           FROM documents)
         GROUP BY word HAVING count(1) >= 2 ORDER BY word"""),

    // DSIR importance scoring (Xie et al. 2023): fit add-1-smoothed
    // hashed unigram+bigram multinomials over a TARGET slice (source
    // 'src0') and the whole corpus, score every doc by its exact
    // integer micro log-ratio sum. Fully oracled: DuckDB re-derives
    // the gram set (with multiplicity), the mix64∘FNV bucket of every
    // distinct gram, both distributions, the quantized per-bucket
    // ratio — same ln-argument decomposition on the same integers —
    // and each doc's integer score. Selection composes downstream
    // (topFractionBy / fixedSizeSample on score_micro).
    Query("q89_dsir_score", (s, dir) => {
      val docs = t(s, dir, "documents")
      val lr = graft.operators.Dsir.fitLogRatioMicro(
        docs.filter(col("source") === "src0").select("text"),
        docs.select("text"), "text", dim = 4096)
      graft.operators.Dsir.importanceScoreMicro(docs, "doc_id", "text", lr)
        .orderBy("doc_id")
    },
      // q89: the whole DSIR pipeline re-derived — grams with
      // multiplicity (unigrams + "w1 w2" bigrams of the lower/\s+
      // tokenization), the recursive FNV+mix64 bucket of every distinct
      // gram, target ('src0') and source distributions, the micro-
      // quantized per-bucket log ratio with the SAME ln-argument
      // decomposition and floor(x·1e6 + 0.5) the engine computes
      // driver-side, and exact integer per-doc sums. Gram→bucket chain
      // shared with q97 (GramBucketCte).
      GramBucketCte +
      """,
           tcnt AS (SELECT gr.bucket, count(1) AS c
                    FROM gr JOIN documents d ON d.doc_id = gr.doc_id
                    WHERE d.source = 'src0' GROUP BY gr.bucket),
           scnt AS (SELECT bucket, count(1) AS c FROM gr GROUP BY bucket),
           tot AS (SELECT
                     (SELECT count(1) FROM gr g JOIN documents d ON d.doc_id = g.doc_id
                      WHERE d.source = 'src0') AS tt,
                     (SELECT count(1) FROM gr) AS st),
           lr AS (SELECT CAST(bb.b AS INTEGER) AS bucket,
                    CAST(floor((ln(coalesce(t.c, 0) + 1) - ln(tot.tt + 4096)
                                - ln(coalesce(s.c, 0) + 1) + ln(tot.st + 4096))
                               * 1000000 + 0.5) AS BIGINT) AS lrm
                  FROM (SELECT unnest(range(4096)) AS b) bb
                  CROSS JOIN tot
                  LEFT JOIN tcnt t ON t.bucket = bb.b
                  LEFT JOIN scnt s ON s.bucket = bb.b),
           per AS (SELECT gr.doc_id, count(1) AS n_grams,
                          CAST(sum(lr.lrm) AS BIGINT) AS score
                   FROM gr JOIN lr USING (bucket) GROUP BY gr.doc_id)
         SELECT d.doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(p.score, 0) AS BIGINT) AS score_micro
         FROM documents d LEFT JOIN per p USING (doc_id)
         ORDER BY d.doc_id"""),

    // Token-budget curation: keep each source's best-scoring docs
    // (classifier gate, ties by id) until a per-source weight budget
    // is spent — the "take N tokens of web" mixture primitive. Weight
    // here is n_chars so the DuckDB oracle needs no tokenizer; the
    // operator is the skew-safe two-pass threshold select (histogram
    // window over distinct scores, crossing-class ties only), spec-
    // pinned equal to the naive one-window cumulative-sum form.
    Query("q90_token_budget", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.operators.Classifier.scoreMilli(
          docs.select("doc_id", "text"), "doc_id", "text",
          graft.operators.Classifier.pseudoWeightsMilli(4096))
        .join(docs.select("doc_id", "source", "n_chars"), "doc_id")
      graft.operators.Sampling.tokenBudgetBy(scored, "source", "score_milli",
          "doc_id", "n_chars", budget = 4000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum("n_chars").as("chars_kept"), sum("score_milli").as("score_sum"))
        .orderBy("source")
    },
      // q90: the q85 scores under a per-source WEIGHT budget — a doc is
      // kept iff the source's running n_chars total (score desc, id asc
      // order) including it stays <= 4000. One cumulative-sum window; the
      // engine's skew-safe two-pass threshold form is spec-pinned equal.
      ClassifierScoreCte +
        """, csrc AS (
             SELECT s.doc_id, s.score_milli, d.source, d.n_chars
             FROM cscores s JOIN documents d USING (doc_id)),
           ccum AS (
             SELECT doc_id, source, score_milli, n_chars,
                    sum(n_chars) OVER (PARTITION BY source
                                       ORDER BY score_milli DESC, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum
             FROM csrc)
           SELECT source, CAST(count(1) AS BIGINT) AS n_kept,
                  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                  CAST(sum(n_chars) AS BIGINT) AS chars_kept,
                  CAST(sum(score_milli) AS BIGINT) AS score_sum
           FROM ccum WHERE cum <= 4000
           GROUP BY source ORDER BY source"""),

    // Misra-Gries heavy hitters: the corpus's top terms from a bounded
    // ≤capacity-entry counter map — a partial aggregate whose exchange
    // carries sketches, never token occurrences (the 100 TB altern-
    // ative to a full |vocab|-keyed shuffle). capacity=2048 dwarfs the
    // fixture vocabulary, so no decrement ever fires and the counts
    // are EXACT == the q21 groupBy truth (same tokenization); FreqSpec
    // pins the saturated ε-bound + no-false-negative guarantees the
    // battery can't see.
    Query("q92_heavy_hitters", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(graft.functions.Text.tokens(col("text"))).as("term"))
        .agg(graft.operators.Freq.frequentTerms(2048)(col("term")).as("fi"))
        .select(explode(col("fi")).as("tc"))
        .select(col("tc.term").as("term"), col("tc.count").as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(20),
      // q92: with capacity >> vocabulary the MG sketch never decrements,
      // so its counts equal the exact groupBy truth (q21's tokenization).
      """SELECT term, count(1) AS n FROM (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> length(x) > 0)) AS term
           FROM documents)
         GROUP BY term ORDER BY n DESC, term LIMIT 20"""),

    // Deterministic train/val/test split: labels are a pure function
    // of doc_id (md5 draw vs cumulative thresholds), so reruns and
    // engines agree row-for-row — which is exactly what the oracle
    // checks.
    Query("q78_split_assign", (s, dir) =>
      graft.operators.Sampling.splitAssign(
          t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id"),
      // q78/q78b: thresholds generated through the same scanLeft +
      // thresholdHex arithmetic splitAssign uses, so the oracle can
      // never disagree on a boundary digest. q78b's cluster map is the
      // q48 recursive-CTE oracle, left-joined as the split key.
      {
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = graft.operators.Sampling.thresholdHex(cums(0))
      val t2 = graft.operators.Sampling.thresholdHex(cums(1))
      s"""SELECT doc_id,
                 CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t1'
                        THEN 'train'
                      WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t2'
                        THEN 'val'
                      ELSE 'test' END AS split
          FROM documents ORDER BY doc_id"""
    }),

    // Leakage-free variant: the split key is the near-dup CLUSTER
    // representative (n-gram Jaccard pairs off the shared q31b index
    // tables → connected components), so every member of a duplicate
    // cluster lands in the same split and eval never scores on a
    // near-copy of a training row.
    Query("q78b_split_leakfree", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val comp = s.table(ensureComponentsTable(s, dir))
      val withRep = docs.join(comp, docs("doc_id") === comp("node"), "left")
        .select(docs("doc_id"),
          coalesce(col("component"), docs("doc_id")).as("rep"))
      graft.operators.Sampling.splitAssign(withRep, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          keyCol = Some("rep"))
        .select("doc_id", "rep", "split")
        .orderBy("doc_id")
    },
      {
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = graft.operators.Sampling.thresholdHex(cums(0))
      val t2 = graft.operators.Sampling.thresholdHex(cums(1))
      s"""WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\\[-`{-~]', '', 'g'), '\\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' '))) END AS grams
           FROM w),
         jp AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         e AS (SELECT doc_a AS u, doc_b AS v FROM jp
               UNION SELECT doc_b, doc_a FROM jp),
         reach(node, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
         comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         rep AS (
           SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
           FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
         SELECT doc_id, rep,
                CASE WHEN substr(md5('graft' || CAST(rep AS VARCHAR)), 1, 8) < '$t1'
                       THEN 'train'
                     WHEN substr(md5('graft' || CAST(rep AS VARCHAR)), 1, 8) < '$t2'
                       THEN 'val'
                     ELSE 'test' END AS split
         FROM rep ORDER BY doc_id"""
    }),

    // Sharded training-data export: the deterministic global shuffle
    // (shard + intra-shard position are pure functions of doc_id, see
    // Sampling.shardAssign). 16 shards so the oracle can express
    // `mod 16` as the digest's 8th hex digit without hex→int support.
    Query("q75_shard_export", (s, dir) =>
      graft.operators.Sampling.shardAssign(
          t(s, dir, "documents"), "doc_id", numShards = 16)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id"),
      // q75: shard = (32-bit digest prefix) mod 16 = the prefix's LOW
      // hex digit (char 8), read as its digit value via strpos; position
      // recomputed with the same (digest, id) window order.
      """WITH d AS (
           SELECT doc_id,
                  md5('graft' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         s AS (
           SELECT doc_id, h,
                  strpos('0123456789abcdef', substr(h, 8, 1)) - 1 AS shard
           FROM d)
         SELECT doc_id, CAST(shard AS INT) AS shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
                     AS INT) AS pos
         FROM s ORDER BY doc_id"""),

    // Temperature-scaled mixture (the mT5 n^α sampling rule) at
    // α = 0.5: quotas are exact-integer largest-remainder shares of
    // n_i^0.5 (sqrt is IEEE correctly-rounded, the 2^20 weight scaling
    // exact), selection is the per-source md5-smallest draw via the
    // skew-safe digest-prefix two-pass. The per-source summary pins
    // the kept SET through id checksums; the oracle re-derives
    // weights, apportionment, and membership from scratch.
    Query("q96_temperature_mixture", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source")
      graft.operators.Sampling.temperatureMixture(
          docs, "doc_id", "source", totalTarget = 200L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
          sum(col("doc_id") * col("doc_id")).as("id_sq_sum"))
        .orderBy("source")
    },
      // q96: weights, apportionment, and membership re-derived from
      // scratch: s_i = floor(sqrt(n_i)·2^20 + 0.5) (sqrt is IEEE
      // correctly-rounded — bit-identical to Math.sqrt), quotas by
      // integer largest remainder (ties rem DESC then source ASC),
      // capped at n_i, and each source keeps its quota smallest
      // (md5('graft'||id), id) draws.
      """WITH cnt AS (SELECT source, count(1) AS n FROM documents GROUP BY source),
         w AS (SELECT source, n,
                 CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS s
               FROM cnt),
         tot AS (SELECT sum(s) AS st FROM w),
         raw AS (SELECT source, n, (200 * s) // tot.st AS q0,
                        (200 * s) % tot.st AS rem
                 FROM w CROSS JOIN tot),
         lo AS (SELECT 200 - sum(q0) AS leftover FROM raw),
         bump AS (SELECT source, n, q0, rem,
                    row_number() OVER (ORDER BY rem DESC, source) AS rk
                  FROM raw),
         quota AS (SELECT source,
                     least(CASE WHEN rk <= (SELECT leftover FROM lo)
                                THEN q0 + 1 ELSE q0 END, n) AS q
                   FROM bump),
         sel AS (SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                     ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
                 FROM documents),
         kept AS (SELECT sel.doc_id, sel.source
                  FROM sel JOIN quota USING (source) WHERE sel.rn <= quota.q)
         SELECT source, count(1) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(doc_id * doc_id) AS BIGINT) AS id_sq_sum
         FROM kept GROUP BY source ORDER BY source"""),

    // Corpus drift monitor: 2×Jensen-Shannon divergence in exact
    // pico-nat integers between the English slice and the rest, over
    // the q89 hashed unigram+bigram space (same FNV∘mix64 kernel, so
    // the oracle replays buckets, smoothing, the fixed float
    // expression tree, and the integer sums). One row out.
    Query("q97_js_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dsir.jsDivergencePico(
        docs.filter(col("lang") === "en").select("text"),
        docs.filter(col("lang") =!= "en").select("text"),
        "text", dim = 4096)
    },
      // q97: the drift monitor replayed — the q89 gram/bucket chain
      // (GramBucketCte), per-slice add-1-smoothed bucket distributions,
      // the IDENTICAL float expression tree for the two midpoint-KL
      // terms (every op correctly rounded except ln, whose ≤1-ulp
      // spread is ~4 orders under the pico quantization step), and
      // exact integer pico sums.
      JsDriftOracleSql),

    // q97's STREAMED sibling: per-lang gram-bucket counts maintained
    // from a 3-batch document stream through the batch-id-ledgered
    // staged swap (the q93 discipline — count merges are not
    // idempotent), then the drift served OFF THE STATE: slice, re-sum
    // by bucket, same pico arithmetic. The oracle is q97's verbatim —
    // streamed state must answer exactly like the one-shot pass.
    Query("q99_stream_drift", (s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val state = s"graft_q99_drift_$tag"
      if (!s.catalog.tableExists(state)) {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
          .as[(Long, String, String)].collect()
        streamRows(s, docs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingDriftCounts(
            in.toDF("doc_id", "lang", "text"), "lang", "text",
            state, ckpt, dim = 4096)
        }
        s.catalog.refreshTable(state)
      }
      val st = s.table(state)
      graft.operators.Dsir.jsDivergencePicoFromCounts(
        st.filter(col("lang") === "en")
          .groupBy("bucket").agg(sum("cnt").as("cnt")),
        st.filter(col("lang") =!= "en")
          .groupBy("bucket").agg(sum("cnt").as("cnt")),
        dim = 4096)
    },
      // q99: the STREAMED drift state must answer exactly like the
      // one-shot q97 computation — same oracle, verbatim.
      JsDriftOracleSql),

    // Boilerplate line removal under injected noise: a header and a
    // footer on EVERY doc (df = 100% > 60% → dropped, all
    // occurrences) and a 'subscribe now' line on every second doc
    // (df = 50% < 60% → kept) — the C4-style line-frequency filter
    // with the threshold demonstrably live in both directions. Body
    // lines are whole original texts (their exact-dup df is far below
    // the bar). Output pins the rebuilt text by md5 + drop counts.
    Query("q101_boilerplate_lines", (s, dir) => {
      val noisy = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("COOKIE NOTICE\n"), col("text"),
          lit("\nfooter: (c) example"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("\nsubscribe now"))
            .otherwise(lit(""))).as("text"))
      graft.operators.Dedup.dropBoilerplateLines(noisy, "doc_id", "text",
          maxDocFraction = 0.6)
        .select(col("doc_id"), md5(col("text")).as("kept_md5"),
          col("n_dropped"))
        .orderBy("doc_id")
    },
      // q101: the line-frequency filter replayed keyed by the trimmed
      // line strings — same injected noise, df over DISTINCT docs,
      // empty keys exempt, all occurrences of a boilerplate line drop,
      // survivors rejoined by \n in position order.
      """WITH t2 AS (
           SELECT doc_id,
                  'COOKIE NOTICE' || chr(10) || text || chr(10) ||
                  'footer: (c) example' ||
                  CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe now'
                       ELSE '' END AS text
           FROM documents),
         wl AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t2),
         ln AS (SELECT doc_id, pos, ls[pos] AS line, trim(ls[pos]) AS k
                FROM (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls
                      FROM wl)),
         nn AS (SELECT count(1) AS n FROM t2),
         dfl AS (SELECT k, count(DISTINCT doc_id) AS df FROM ln
                 WHERE k <> '' GROUP BY k),
         boiler AS (SELECT k FROM dfl CROSS JOIN nn
                    WHERE df >= 2 AND df > n * 0.6),
         agg AS (SELECT doc_id,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE k NOT IN (SELECT k FROM boiler)), '') AS kept,
                   CAST(count(*) FILTER (WHERE k IN (SELECT k FROM boiler)) AS BIGINT)
                     AS n_dropped
                 FROM ln GROUP BY doc_id)
         SELECT doc_id, md5(kept) AS kept_md5, n_dropped
         FROM agg ORDER BY doc_id"""),

    // Code-file quality filters (the BigCode/StarCoder "The Stack"
    // recipe): line-length shape + alphanumeric density as pure
    // builtin Columns (whole-stage codegen, no UDF), with a
    // 300-char minified line injected into every third doc so the
    // keep-rule is live in both directions. kept gates on the ROUNDED
    // outputs in both engines, so the hash compare is exact.
    Query("q103_code_filters", (s, dir) => {
      val noisy = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit("\n"), repeat(lit("x"), 300)))
          .otherwise(col("text")).as("text"))
      noisy.select(col("doc_id"), Text.codeStats(col("text")).as("s"))
        .select(col("doc_id"), col("s.n_lines"), col("s.max_line_len"),
          col("s.avg_line_len"), col("s.alnum_frac"),
          (col("s.max_line_len") <= 250 && col("s.avg_line_len") <= 250.0 &&
            col("s.alnum_frac") >= 0.25).as("kept"))
        .orderBy("doc_id")
    },
      // q103: the code filters restated verbatim — same line split,
      // length shapes, alnum regex, 4-dp rounding, and the keep-rule
      // over the rounded values.
      """WITH t3 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0
                       THEN text || chr(10) || repeat('x', 300)
                       ELSE text END AS text
           FROM documents),
         st AS (
           SELECT doc_id,
                  string_split(text, chr(10)) AS lines,
                  length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum,
                  length(text) AS tlen
           FROM t3),
         v AS (
           SELECT doc_id,
                  CAST(len(lines) AS INTEGER) AS n_lines,
                  CAST(coalesce(list_aggregate(list_transform(lines, l -> length(l)), 'max'), 0) AS INTEGER) AS max_line_len,
                  round(CAST(list_aggregate(list_transform(lines, l -> length(l)), 'sum') AS DOUBLE)
                        / len(lines), 4) AS avg_line_len,
                  CASE WHEN tlen = 0 THEN 0.0
                       ELSE round(CAST(alnum AS DOUBLE) / tlen, 4) END AS alnum_frac
           FROM st)
         SELECT doc_id, n_lines, max_line_len, avg_line_len, alnum_frac,
                (max_line_len <= 250 AND avg_line_len <= 250.0
                 AND alnum_frac >= 0.25) AS kept
         FROM v ORDER BY doc_id"""),

    // Export integrity end-to-end: shard the corpus to real parquet
    // dirs WITH a checksum manifest, then re-audit the written files
    // against it. The oracle re-derives the shard assignment (q75's
    // md5 digit rule) and the integer moments from the raw table —
    // so a row lost, duplicated, or misplaced between write and
    // re-read breaks the hash, and `ok` must be uniformly true.
    Query("q105_export_manifest", (s, dir) => {
      val out = callDir(s"q105_export_${docsTag(s, dir)}")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.operators.Sampling.writeShardedWithManifest(docs, "doc_id", 16, out)
      // the moments are DECIMAL(38,0) of the mod-P fold; battery ids
      // are far below P, so the values equal plain Σid/Σid² — cast to
      // long for a stable cross-engine output schema
      graft.operators.Sampling.verifyShardedExport(s, out, "doc_id")
        .withColumn("id_sum", col("id_sum").cast("long"))
        .withColumn("id_sq_sum", col("id_sq_sum").cast("long"))
        .orderBy("shard")
    },
      // q105: the q75 shard rule re-derived (32-bit digest prefix mod
      // 16 = low hex digit of char 8) with the three integer moments
      // per shard; ok must be uniformly true — the engine's written
      // files must reconcile with an independently recomputed manifest.
      """WITH s AS (
           SELECT doc_id,
                  strpos('0123456789abcdef',
                         substr(md5('graft' || CAST(doc_id AS VARCHAR)), 8, 1)) - 1
                    AS shard
           FROM documents)
         SELECT CAST(shard AS INT) AS shard,
                count(1) AS n_rows,
                CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(doc_id * doc_id) AS BIGINT) AS id_sq_sum,
                true AS ok
         FROM s GROUP BY shard ORDER BY shard"""),

    // Unicode normalization + web folding (Text.normalizeUnicode,
    // NFKC): five regimes cycling by doc_id — (0) decomposed
    // e+combining-acute must compose, (1) curly quotes / em-dash /
    // ellipsis fold to ASCII, (2) NBSP→space and zero-width removal,
    // (3) NFKC compat folds (fullwidth letters, the ﬁ ligature),
    // (4) C0/C1 control removal with \t preserved. Every output
    // string is stated literally; one unfolded glyph breaks the hash.
    Query("q125_unicode_normalize", (s, dir) => {
      val mk = udf { (id: Long, text: String) =>
        ((id % 5).toInt: @unchecked) match {
          case 0 => s"cafe\u0301 au lait $text"
          case 1 => s"“q” ‘a’ x—y… $id"
          case 2 => s"a\u00A0b\u200Bc $text"
          case 3 => s"ＡＢＣ ﬁle $id"
          case 4 => s"x\u0007y\u009Fz\t$text"
        }
      }
      t(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("raw"))
        .select(col("doc_id"),
          graft.functions.Text.normalizeUnicode(col("raw"), form = "NFKC")
            .as("normalized"))
        .orderBy("doc_id")
    },
      // q125: the normalized strings literally — the composed é proves
      // NFC composition (the input rode a combining acute), ASCII
      // quotes/dash/ellipsis prove the web folds, 'ABC file' proves the
      // NFKC compat folds, and the bare 'xyz' + tab proves control
      // stripping preserved \t.
      """SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN 'café au lait ' || text
                  WHEN 1 THEN '"q" ''a'' x-y... ' || CAST(doc_id AS VARCHAR)
                  WHEN 2 THEN 'a bc ' || text
                  WHEN 3 THEN 'ABC file ' || CAST(doc_id AS VARCHAR)
                  ELSE 'xyz' || chr(9) || text
                END AS normalized
         FROM documents ORDER BY doc_id"""),

    // The full pairwise drift dashboard: JS divergence between EVERY
    // language-slice pair in one plan (densified bucket grid
    // self-joined on bucket — never |groups|² separate passes), exact
    // pico integers, each cell bit-equal to the two-slice q97-style
    // call (spec-pinned). 5 languages → 10 cells.
    Query("q110_drift_matrix", (s, dir) => {
      val counts = graft.operators.Dsir.bucketCountsBy(
        t(s, dir, "documents"), "lang", "text", dim = 4096)
      graft.operators.Dsir.jsDriftMatrixPico(counts, "lang", dim = 4096)
        .orderBy("group_a", "group_b")
    },
      // q110: the pairwise drift matrix — per-lang bucket counts over
      // the shared gram chain, densified with smoothing mass, the
      // identical float expression tree per bucket pair, exact integer
      // pico sums per cell.
      GramBucketCte +
      """,
           lc AS (SELECT d.lang, gr.bucket, count(1) AS c
                  FROM gr JOIN documents d USING (doc_id)
                  GROUP BY d.lang, gr.bucket),
           lt AS (SELECT lang, sum(c) AS t FROM lc GROUP BY lang),
           langs AS (SELECT DISTINCT lang FROM documents),
           dense AS (SELECT l.lang, bb.bk AS bucket,
                       CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (lt.t + 4096) AS m
                     FROM langs l
                     CROSS JOIN (SELECT unnest(range(4096)) AS bk) bb
                     JOIN lt ON lt.lang = l.lang
                     LEFT JOIN lc c ON c.lang = l.lang AND c.bucket = bb.bk),
           p AS (SELECT a.lang AS ga, b.lang AS gb,
                   CAST(floor(a.m * ln(2.0 * a.m / (a.m + b.m)) * 1000000000000.0 + 0.5) AS BIGINT) AS ka,
                   CAST(floor(b.m * ln(2.0 * b.m / (a.m + b.m)) * 1000000000000.0 + 0.5) AS BIGINT) AS kb
                 FROM dense a JOIN dense b
                   ON a.bucket = b.bucket AND a.lang < b.lang)
         SELECT ga AS group_a, gb AS group_b,
                CAST(sum(ka) + sum(kb) AS BIGINT) AS js2_pico
         FROM p GROUP BY ga, gb ORDER BY ga, gb""")
  )
}
