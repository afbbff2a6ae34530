package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Large-scale document deduplication operators (the LLM-training-data
  * pipeline surface; see PAPERS.md for the published MinHash/SimHash
  * background). Plan shapes that survive 100 TB:
  *
  *  - exact:     one hash-shuffle on a 128-bit digest
  *  - MinHash:   one single-pass JVM sketch per doc ([[Sketches]]);
  *               LSH banding turns all-pairs into per-bucket joins
  *  - SimHash:   64-bit fingerprint + pigeonhole banding for radius-k
  *               Hamming search
  *  - n-gram:    exact Jaccard verification for candidate pairs only
  *
  * All-pairs verification never happens: candidates come from bucket
  * joins, so the shuffle is proportional to collisions, not n². The
  * sketch computation is a Scala UDF rather than higher-order-function
  * Columns: Spark HOFs evaluate as interpreted CodegenFallback and
  * re-materialize nested array subtrees per lambda (the round-1
  * 771.9 s/505-doc incident); one JVM pass is ~10^4× cheaper and stays
  * fully distributed (per-row function, no driver involvement).
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** Exact dedup: keeper = min id per content digest. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_copies"))

  /** Normalized exact dedup (case/punct/whitespace-insensitive). */
  def normalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(Text.fingerprintMd5(col(textCol)).as("digest"))
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_copies"))

  /** Streaming exact dedup: admit only the first occurrence of each
    * content digest, with state bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark` evicts digests older than the
    * horizon — a duplicate arriving beyond it is admitted again; that
    * bounded-state trade is what makes streaming dedup possible at all).
    * The ingestion-side guard for a training-data pipeline: dedup at
    * collection time, full-corpus [[minhashDedup]] offline. */
  def streamingExact(df: DataFrame, textCol: String, tsCol: String,
                     watermark: String = "10 minutes"): DataFrame = {
    // Fixed reserved work-column name: dropDuplicatesWithinWatermark
    // keys its state store by this field, so the name must be stable
    // across checkpoint restarts (a randomized name only worked because
    // Spark's state schema check happens to ignore field names).
    val digest = "_graft_digest"
    require(!df.columns.contains(digest),
      s"streamingExact reserves the column name $digest; rename or drop it first")
    df.withColumn(digest, md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(digest)
      .drop(digest)
  }

  /** Corpus filter: keep exactly one representative (the smallest id)
    * per exact-duplicate group — the consumable form of [[exact]] for a
    * training-data pipeline. Left-semi join on keeper ids: no payload
    * duplication, survivors keep all their columns. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(exact(df, idCol, textCol).select(col("keeper").as(idCol)),
      Seq(idCol), "left_semi")

  /** Corpus filter: drop the higher-id side of every verified near-dup
    * pair from [[minhashDedup]] (chains collapse toward the smallest id:
    * for a–b–c the survivors are exactly {a}). Left-anti join on the
    * dropped-id set. */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.8, numHashes: Int = 128,
                         bands: Int = 16, shingleK: Int = 5): DataFrame =
    df.join(
      minhashDedup(df, idCol, textCol, threshold, numHashes, bands, shingleK)
        .select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Corpus filter with TRANSITIVE cluster semantics: connected
    * components over the verified pair set ([[Components]]), keep the
    * smallest id per cluster, singletons untouched. Differs from
    * [[dropNearDuplicates]]'s drop-every-`doc_b` rule whenever a
    * non-minimal node appears only on the `doc_a` side — e.g. pairs
    * {(b,c),(a,c)} cluster to {a,b,c} with survivor {a}, while the
    * pairwise rule keeps {a,b}. At corpus scale this is the correct
    * semantics: near-duplication is transitive through hub documents
    * even when the hub pair itself was never a candidate. */
  def dropNearDuplicateClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                                aCol: String = "doc_a",
                                bCol: String = "doc_b"): DataFrame =
    dropNearDuplicateClustersFromComponents(df, idCol,
      Components.connectedComponents(pairs, aCol, bCol))

  /** [[dropNearDuplicateClusters]] over a PRE-COMPUTED `(node,
    * component)` frame (e.g. a build-once components catalog table) —
    * the fixpoint is the expensive part of the cluster rule, and every
    * consumer of one corpus's pair graph shares the same components,
    * so production pipelines materialize them once per corpus build
    * and serve every dedup/split job from the narrow table. */
  def dropNearDuplicateClustersFromComponents(df: DataFrame, idCol: String,
                                              comp: DataFrame): DataFrame = {
    val nonRoots = comp.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(nonRoots, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination (the GPT-3/Llama eval-overlap rule):
    * every `(train_id, eval_id, n_shared)` pair where a training
    * document shares at least one word n-gram with a benchmark/eval
    * document, `n_shared` = the DISTINCT shared grams. Same gram
    * discipline as [[ngramIndex]]: [[Sketches.wordNgrams]] kernel
    * (normalized, per-doc distinct; short docs contribute their whole
    * text as one gram), grams hashed to 64-bit longs (collision odds
    * ~|g|²/2⁶⁵ per pair — negligible).
    *
    * Scale shape: benchmark sets are small BY CONSTRUCTION (an eval
    * suite is thousands of documents, the corpus is billions), so the
    * exploded eval gram frame is broadcast and the corpus is read
    * exactly once with no corpus-side shuffle before the match — only
    * matched `(train_id, eval_id)` gram hits (rare by definition)
    * reach the counting aggregation. */
  def contaminationMatches(train: DataFrame, evalDocs: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 13): DataFrame = {
    val gramsUdf = udf((text: String) => Sketches.wordNgrams(text, n))
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
          explode(gramsUdf(col(textCol))).as("gram_str"))
        .select(col(as), xxhash64(col("gram_str")).as("gram"))
    grams(train, "train_id")
      .join(broadcast(grams(evalDocs, "eval_id")), "gram")
      .groupBy("train_id", "eval_id")
      // wordNgrams is per-doc distinct, so (doc, gram) rows are unique
      // and this count is exactly |grams(a) ∩ grams(b)|
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Corpus filter form of [[contaminationMatches]]: drop every
    * training document that shares any word n-gram with the eval set
    * (left-anti on the flagged-id set — survivors keep all columns). */
  def dropContaminated(train: DataFrame, evalDocs: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 13): DataFrame =
    train.join(
      contaminationMatches(train, evalDocs, idCol, textCol, n)
        .select(col("train_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** C4-style span-level dedup: segment each document's normalized
    * tokens into fixed `k`-word aligned spans (last span may be
    * shorter), keep the FIRST occurrence of each distinct span across
    * the whole corpus — first = smallest `(doc_id, seg_no)` — and
    * reassemble every document from its surviving spans in order. This
    * is the intra-corpus repeated-passage scrub (boilerplate, license
    * headers, navigation chrome) that document-level dedup cannot
    * express: it edits documents instead of dropping them. Output
    * `(doc_id, n_spans, n_kept, text)` — `text` is the surviving
    * normalized spans rejoined (empty string when every span lost).
    *
    * Scale shape: one corpus scan exploded to spans, one hash shuffle
    * on the span string electing winners (`min(struct(doc_id,
    * seg_no))` — no window function over the corpus), a same-key join
    * back (reuses the span-keyed exchange), and one doc-grain
    * aggregation to reassemble. The span STRING is the shuffle key so
    * the correctness gate is collision-free; at extreme scale the key
    * can be swapped for a 128-bit fingerprint carrying the string as
    * payload — same plan shape. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 10): DataFrame = {
    require(k > 0, s"span width must be positive, got $k")
    val spansUdf = udf((text: String) => {
      val norm = Sketches.normalize(text)
      if (norm.isEmpty) Array.empty[String]
      else norm.split(' ').grouped(k).map(_.mkString(" ")).toArray
    })
    val spans = docs.select(col(idCol).as("doc_id"),
      posexplode(spansUdf(col(textCol))).as(Seq("seg_no", "seg")))
    val winners = spans
      .groupBy("seg")
      .agg(min(struct(col("doc_id"), col("seg_no"))).as("w"))
      .select(col("seg"), col("w.doc_id").as("w_doc"),
        col("w.seg_no").as("w_seg"))
    spans.join(winners, Seq("seg"))
      .withColumn("keep",
        col("doc_id") === col("w_doc") && col("seg_no") === col("w_seg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("seg_no"), col("seg"))))),
            e => e("seg")),
          " ").as("text"))
  }

  /** Boilerplate LINE removal — the C4/RefinedWeb line-frequency
    * filter: a (trimmed, non-empty) line occurring in more than
    * `maxDocFraction` of documents (and at least `minDocs` of them)
    * is boilerplate — cookie banners, nav headers, subscribe footers —
    * and EVERY occurrence is dropped, unlike [[dedupSubstrings]]'
    * keep-first rule, because boilerplate is noise in its first copy
    * too. Empty/whitespace lines are never counted or dropped (they
    * are document structure). Trimming applies to the KEY only;
    * surviving lines keep their original bytes, rejoined by `\n`
    * (dropped lines leave no placeholder). Output
    * `(doc_id, text, n_dropped)`.
    *
    * Scale shape: one scan explodes lines with positions; document
    * frequencies aggregate over DISTINCT (line, doc) with map-side
    * combine; the boilerplate set is tiny by construction — at most
    * `avg_lines_per_doc / maxDocFraction` distinct lines can exceed
    * the threshold — so it broadcasts back as a flag join, and
    * reassembly is one doc-grain aggregation (the [[dedupSpans]]
    * collect-sort pattern). The line STRING is the shuffle key so the
    * correctness gate is collision-free (battery q101 replays it by
    * string); swap in a 128-bit fingerprint at extreme scale, same
    * plan. */
  def dropBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                           maxDocFraction: Double = 0.5,
                           minDocs: Int = 2): DataFrame = {
    require(maxDocFraction > 0 && maxDocFraction <= 1,
      s"maxDocFraction must be in (0, 1], got $maxDocFraction")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"))
    // posexplode_outer, not posexplode: split(NULL) is NULL and the
    // inner variant would elide the row entirely, silently dropping
    // NULL-text documents from the output. With _outer the doc keeps
    // one (null, null) line row and reassembles to text "" with
    // n_dropped 0 — every input doc_id appears in the output.
    val lines = base.select(col("doc_id"),
        posexplode_outer(split(col("__text"), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("__k", trim(col("line")))
    val nDocs = base.agg(count(lit(1)).as("__n"))
    val boiler = lines.filter(col("__k") =!= "")
      .select(col("doc_id"), col("__k")).distinct()
      .groupBy("__k").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") >= minDocs &&
        col("__df") > col("__n") * maxDocFraction)
      .select(col("__k"), lit(true).as("__b"))
    lines.join(broadcast(boiler), Seq("__k"), "left")
      .groupBy("doc_id")
      .agg(
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__b").isNull, struct(col("pos"), col("line"))))),
            e => e("line")),
          "\n").as("text"))
      .select(col("doc_id"), col("text"), col("n_dropped"))
  }

  /** Positional k-word-gram hashes of the lower/\s+ tokenization:
    * entry `i` (0-based) is the mix64∘FNV-1a hash of tokens
    * `i..i+k-1` joined by a single space, lowercased per char — the
    * [[Dsir.gramBuckets]] bigram hash generalized to k words, so a
    * SQL oracle can key by the gram STRING (equality of grams ==
    * equality of hashes, modulo 2^-64 collisions). One JVM pass, no
    * intermediate strings. */
  private[operators] def positionalGramHashes(text: String, k: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val starts = Array.newBuilder[Int]
    val ends = Array.newBuilder[Int]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && Sketches.isRegexWs(text.charAt(i))) i += 1
      val s = i
      while (i < n && !Sketches.isRegexWs(text.charAt(i))) i += 1
      if (i > s) { starts += s; ends += i }
    }
    val st = starts.result(); val en = ends.result()
    val m = st.length
    if (m < k) return Array.emptyLongArray
    val out = new Array[Long](m - k + 1)
    var w = 0
    while (w <= m - k) {
      var h = 0xcbf29ce484222325L
      var t = 0
      while (t < k) {
        if (t > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        var j = st(w + t)
        val e = en(w + t)
        while (j < e) {
          h ^= Character.toLowerCase(text.charAt(j)).toLong
          h *= 0x100000001b3L
          j += 1
        }
        t += 1
      }
      out(w) = Sketches.mix64(h)
      w += 1
    }
    out
  }

  /** UNALIGNED exact-substring dedup — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better")
    * semantics at word granularity: any k-token window whose content
    * already occurred earlier in the corpus (first occurrence = the
    * lexicographically least `(doc_id, pos)` holding that gram; ties
    * impossible) is a REPEAT, and every token position covered by at
    * least one repeated window is dropped. The first copy of a
    * duplicated run survives verbatim — including within a single
    * document, so self-repetition ("a b c a b c", k=3) collapses too.
    * Complements [[dedupSpans]], which only sees k-aligned segment
    * boundaries. Output `(doc_id, text, n_dropped)` with surviving
    * tokens joined by single spaces (inter-token whitespace is
    * normalized; token case/punctuation preserved). Removal is not
    * idempotent by nature: splicing survivors can mint new adjacent
    * k-grams — run to fixpoint if that matters.
    *
    * Scale shape: one kernel pass emits positional gram hashes (the
    * 8-byte hash is the shuffle key, never the gram text); first
    * occurrences are a `min(struct(doc_id, pos))` hash-keyed
    * aggregate with map-side combine; the join back reuses the same
    * key; coverage explodes k positions per REPEATED window only,
    * then aggregates per doc (a covered-position set is bounded by
    * document length). No window functions over the corpus, nothing
    * driver-side. Battery q98 replays the whole pipeline in DuckDB
    * keyed by the gram strings themselves.
    */
  def dedupSubstrings(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8): DataFrame = {
    require(k >= 2, s"window width must be >= 2, got $k")
    val gramsUdf = udf { (text: String) => positionalGramHashes(text, k) }
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"))
    val grams = base.select(col("doc_id"),
        posexplode(gramsUdf(col("__text"))).as(Seq("__p0", "__h")))
      .select(col("doc_id"), (col("__p0") + 1).as("pos"), col("__h"))
    val first = grams.groupBy("__h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__f"))
    val covered = grams.join(first, "__h")
      .filter(!(col("doc_id") === col("__f.doc_id") &&
        col("pos") === col("__f.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cp"))
      .groupBy("doc_id").agg(collect_set(col("cp")).as("__cov"))
    val rebuild = udf { (text: String, cov: Seq[Int]) =>
      // NULL-in-NULL-out, mirroring positionalGramHashes' null guard —
      // a null-text doc has no grams, so it must pass through, not NPE
      if (text == null) (null: String, 0L) else {
      val covSet = cov.toSet
      val sb = new java.lang.StringBuilder
      var dropped = 0
      var pos = 0
      var i = 0
      val n = text.length
      while (i < n) {
        while (i < n && Sketches.isRegexWs(text.charAt(i))) i += 1
        val s = i
        while (i < n && !Sketches.isRegexWs(text.charAt(i))) i += 1
        if (i > s) {
          pos += 1
          if (covSet.contains(pos)) dropped += 1
          else {
            if (sb.length > 0) sb.append(' ')
            sb.append(text, s, i)
          }
        }
      }
      (sb.toString, dropped.toLong)
      }
    }
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        rebuild(col("__text"),
          coalesce(col("__cov"), array().cast("array<int>"))).as("r"))
      .select(col("doc_id"), col("r._1").as("text"),
        col("r._2").as("n_dropped"))
  }

  // ---------------------------------------------------------- MinHash

  /** Scala-UDF sketch column: struct(sig, bands, shingles), one JVM pass
    * per document. Coefficient tables are closed over (serialized to
    * executors once per task, not per row). */
  private def sketchCol(textCol: Column, numHashes: Int, bands: Int, shingleK: Int): Column = {
    val (as, bs) = Sketches.coefficients(numHashes)
    udf((text: String) => Sketches.sketch(text, shingleK, bands, as, bs)).apply(textCol)
  }

  /** Per-document sketch frame `(doc_id, mh: struct(sig, bands,
    * shingles))` — the shared root of every MinHash plan.
    *
    * NOTE on plan shape: [[minhashDedup]] references this frame from
    * several join branches and Spark does not deduplicate common
    * subplans, so a full dedup evaluates the sketch kernel up to 3×
    * over the corpus (banding + each pair side). That is the deliberate
    * trade against shuffling 2 KB sketch payloads through the band
    * self-join (the kernel is ~60 µs/doc; the shuffle would dominate at
    * scale). For compute-once, persist this frame yourself and run
    * [[minhashDedupFromSketches]] off it — you own the lifecycle:
    * {{{
    *   val sk = Dedup.minhashSketches(docs, "doc_id", "text").persist()
    *   try Dedup.minhashDedupFromSketches(sk, threshold = 0.8).collect()
    *   finally sk.unpersist()
    * }}}
    * At cluster scale, write the sketches to a table once and run
    * banding/verification off that. */
  def minhashSketches(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 128, bands: Int = 16,
                      shingleK: Int = 5): DataFrame = {
    // fail at plan time, not per-row on an executor (see Sketches.bandHashes)
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must be >= 1 and divide numHashes ($numHashes)")
    df.select(col(idCol).as("doc_id"),
      sketchCol(col(textCol), numHashes, bands, shingleK).as("mh"))
  }

  /** Append NEW documents' MinHash sketches to a persisted sketch
    * TABLE (created on first call) — the streaming-maintenance half
    * of the q22b lifecycle, idempotent PER DOCUMENT: already-sketched
    * ids anti-join away, so an at-least-once `foreachBatch` channel
    * replaying a batch appends nothing (the [[appendToNgramIndex]]
    * replay discipline). Serve any time with
    * [[minhashDedupFromSketches]]`(spark.table(table))` — identical
    * answers to a from-scratch sketch build over everything delivered
    * so far (battery q109 pins the streamed lifecycle against the
    * q22 brute-force oracle). Requires ids unique across the corpus.
    * Sketch parameters must be fixed for a table's lifetime — they
    * are baked into every stored row. */
  def appendToSketchTable(spark: SparkSession, newDocs: DataFrame,
                          idCol: String, textCol: String, table: String,
                          numHashes: Int = 128, bands: Int = 16,
                          shingleK: Int = 5): Unit = {
    val sk = minhashSketches(newDocs, idCol, textCol, numHashes, bands,
      shingleK)
    if (!spark.catalog.tableExists(table)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, table)
      sk.write.saveAsTable(table)
    } else {
      sk.join(spark.table(table).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .write.mode("append").saveAsTable(table)
    }
  }

  /** Deduped candidate id pairs (doc_a < doc_b) from shared LSH band
    * buckets; carries ids only through the self-join. */
  private def bandedPairs(sk: DataFrame): DataFrame = {
    val banded = sk.select(col("doc_id"), posexplode(col("mh.bands")))
      .toDF("doc_id", "band_id", "band_hash")
    banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** MinHash signature column: `numHashes` universal-hash permutations
    * over the hashed shingle set, computed in one pass per document. */
  def minhashSignature(textCol: Column, numHashes: Int = 128, shingleK: Int = 5): Column = {
    val (as, bs) = Sketches.coefficients(numHashes)
    udf((text: String) =>
      Sketches.signature(Sketches.shingleHashes(text, shingleK), as, bs)).apply(textCol)
  }

  /** Estimated Jaccard from two signatures (fraction of agreeing
    * components). One JVM pass per pair; semantics mirror the HOF form
    * it replaces (kept as [[minhashSimilarityExpr]], spec-equal): NULL
    * signature → NULL, matches counted over the shared prefix when
    * lengths differ, denominator is the LEFT signature's length. */
  def minhashSimilarity(sigA: Column, sigB: Column): Column =
    udf { (a: Seq[Long], b: Seq[Long]) =>
      if (a == null || b == null) null
      else {
        val n = math.min(a.length, b.length)
        var m = 0
        var i = 0
        while (i < n) { if (a(i) == b(i)) m += 1; i += 1 }
        Double.box(m.toDouble / a.length)
      }
    }.apply(sigA, sigB)

  /** Pure-Column (HOF) form of [[minhashSimilarity]] — interpreted
    * CodegenFallback, for cross-checking the kernel only. */
  private[graft] def minhashSimilarityExpr(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => (a === b).cast("int")), x => x === 1))
      .cast("double") / size(sigA)

  /** Full MinHash+LSH near-dup detection with exact shingle-set Jaccard
    * verification of candidates. Returns pairs ≥ threshold. Verification
    * compares distinct hashed-shingle sets (identical to string-set
    * Jaccard up to 64-bit collisions) and touches only docs that appear
    * in a candidate pair — never the full corpus cross product. For a
    * compute-once sketch lifecycle, see [[minhashSketches]]. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, numHashes: Int = 128,
                   bands: Int = 16, shingleK: Int = 5): DataFrame =
    // Round-17: pin the sketch frame. [[minhashDedupFromSketches]]
    // references its input from three plan branches (band pairs + both
    // shingle join-backs), and Spark re-executes common subplans per
    // branch — the one-shot form re-ran the 128-hash shingle kernel
    // over the corpus three times (measured 2.2 s -> 1.1 s at sf0.1
    // with the pin). The serve lifecycles (sketch TABLE, q22b/q109)
    // already amortize across calls; this pins the within-call fan-out
    // for the ad-hoc form. The pinned frame is released with the
    // session's cache (the battery clears per attempt); long-lived
    // sessions should prefer the table lifecycle anyway.
    minhashDedupFromSketches(
      minhashSketches(df, idCol, textCol, numHashes, bands, shingleK)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      threshold)

  /** [[minhashDedup]] over a pre-built (possibly persisted) sketch frame
    * from [[minhashSketches]]. */
  def minhashDedupFromSketches(sk: DataFrame, threshold: Double = 0.8): DataFrame = {
    val sh = sk.select(col("doc_id"), col("mh.shingles").as("sh"))
    bandedPairs(sk)
      .join(sh.toDF("doc_a", "sh_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** FUZZY benchmark decontamination (the near-duplicate complement
    * of [[contaminatedDocs]]'s exact 13-gram recipe — Lee et al. 2021
    * / Dodge et al. 2021 style): flag every training document whose
    * shingle-set Jaccard against ANY benchmark item reaches
    * `threshold`, catching paraphrased/lightly-edited eval leaks an
    * exact gram match misses. One row per contaminated doc:
    * `(doc_id, n_bench_hits, max_jaccard)`; compose as a left-anti
    * join to drop (the DedupSpec composition).
    *
    * Scale shape — the [[contaminatedDocs]] asymmetry with the
    * [[minhashSketches]] machinery: the benchmark side is eval-sized,
    * so its banded sketch rows BROADCAST; the corpus side is one
    * scan-side sketch kernel pass whose NARROW banded rows (no
    * shingle payload) join the broadcast WITHOUT an exchange.
    * Candidate (doc, bench) pairs then DEDUP before the exact
    * hashed-shingle Jaccard verify — shingle arrays attach once per
    * candidate pair via a semi-joined kernel re-run over just the
    * candidate docs, never riding ×`bands` exploded rows through the
    * join projection. The only corpus shuffle is the final
    * |contaminated|-keyed aggregation. Recall is
    * the LSH collision curve 1-(1-s^r)^b — near-certain at the
    * near-clone similarities this gate exists for (s=0.95: miss rate
    * ~3e-8 at 128/16); the battery plants s≈0.956 clones and oracles
    * against the BRUTE-FORCE pair truth, so a recall miss is a
    * correctness failure, not a silent gap. */
  def fuzzyContaminatedDocs(corpus: DataFrame, idCol: String,
                            textCol: String, bench: DataFrame,
                            benchIdCol: String, benchTextCol: String,
                            threshold: Double = 0.8, numHashes: Int = 128,
                            bands: Int = 16, shingleK: Int = 5): DataFrame = {
    // candidate pass: NARROW banded rows only — (doc_id, band_id,
    // band_hash), never the shingle array, which would otherwise ride
    // every one of its doc's `bands` exploded rows through the join
    // projection (the round-15 ADVICE). Candidates dedup to distinct
    // (doc, bench) pairs and localCheckpoint — the frame is bounded
    // by true contamination + the LSH false-positive tail, and
    // materializing it keeps the band-join subtree from re-executing
    // under the verify pass's semi-join (this makes the call EAGER).
    val cBands = minhashSketches(corpus, idCol, textCol, numHashes, bands,
        shingleK)
      .select(col("doc_id"), posexplode(col("mh.bands")))
      .toDF("doc_id", "band_id", "band_hash")
    val bBands = minhashSketches(bench, benchIdCol, benchTextCol, numHashes,
        bands, shingleK)
      .select(col("doc_id").as("bench_id"), posexplode(col("mh.bands")))
      .toDF("bench_id", "band_id", "band_hash")
    val cand = cBands.join(broadcast(bBands), Seq("band_id", "band_hash"))
      .select("doc_id", "bench_id").distinct()
      .localCheckpoint()
    // verify pass: shingles attach to the DEDUPED candidate set — the
    // kernel re-runs only on semi-joined candidate docs (the corpus
    // scan repeats, the sketch work does not), and both small sides
    // broadcast so the corpus never exchanges; the only shuffle is
    // the |contaminated|-keyed aggregation
    val candIds = broadcast(
      cand.select(col("doc_id").as("__cand_id")).distinct())
    val candSh = minhashSketches(
        corpus.join(candIds, col(idCol) === col("__cand_id"), "left_semi"),
        idCol, textCol, numHashes, bands, shingleK)
      .select(col("doc_id"), col("mh.shingles").as("sh"))
    val bSh = minhashSketches(bench, benchIdCol, benchTextCol, numHashes,
        bands, shingleK)
      .select(col("doc_id").as("bench_id"), col("mh.shingles").as("bsh"))
    cand.join(broadcast(candSh), "doc_id")
      .join(broadcast(bSh), "bench_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh"), col("bsh"))).cast("double") /
          size(array_union(col("sh"), col("bsh"))))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("n_bench_hits"),
        round(max(col("jaccard")), 4).as("max_jaccard"))
  }

  // ---------------------------------------------------------- SimHash

  /** 64-bit SimHash fingerprint over whitespace tokens: per-bit
    * majority vote of token hashes. Single JVM pass per document
    * ([[Sketches.simhash]]): each token is hashed exactly once and all
    * 64 bit-counters update from that hash — the round-1 Column version
    * re-evaluated the token-hash array inside each of the 64 per-bit
    * lambdas plus a second packing pass. */
  def simhash(textCol: Column): Column =
    udf((text: String) => Sketches.simhash(text)).apply(textCol)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a Hamming radius, via pigeonhole
    * banding (split 64 bits into `radius+1` chunks: any pair within the
    * radius must agree on at least one chunk — no all-pairs scan). */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
                   radius: Int = 3): DataFrame =
    signaturePairs(
      df.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sig")),
      radius)

  /** Hamming-radius pairs over ANY 64-bit signature frame
    * `(doc_id, sig)` — SimHash text fingerprints, [[Multimodal]]
    * image dHashes, any 64-bit sketch — via pigeonhole banding:
    * signatures within Hamming distance `radius` agree exactly on at
    * least one of `radius + 1` disjoint bit chunks, so candidates
    * come from `radius + 1` chunk-equality joins (each one shuffle on
    * (chunk_id, chunk)), never an all-pairs product; exact Hamming
    * verification then filters candidates. */
  def signaturePairs(sigs: DataFrame, radius: Int): DataFrame = {
    // radius >= 64 gives width = 0: every chunk mask is the constant 0,
    // all docs collide in every chunk, and candidate generation
    // degenerates to the O(n²) cross product (the bandHashes failure
    // mode). The pigeonhole argument itself holds for any width >= 1.
    require(radius >= 0 && radius <= 63,
      s"signaturePairs radius must be in [0, 63], got $radius")
    val chunks = radius + 1
    val width = 64 / chunks
    // radius=0 → width=64, where (1L << 64) wraps to 1 and the mask
    // would be the constant 0 — the exact degeneracy the guard above
    // exists to stop; a full-width chunk needs the all-ones mask
    val mask = if (width == 64) -1L else (1L << width) - 1
    val withSig = sigs.select(col("doc_id"), col("sig"))
    // Round-17: pin the banded frame — the chunk self-join references
    // it from BOTH sides, and Spark re-executes the common subplan per
    // side, which re-ran whatever kernel produced `sigs` (a SimHash
    // text pass, a PNG/WAV/MJPEG decode) twice per call. The pinned
    // frame is (radius+1)·|docs| narrow rows; released with the
    // session cache (battery clears per attempt).
    val banded = withSig.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftright", col("sig"), c * lit(width))
          .bitwiseAND(lit(mask)))))
      .withColumnRenamed("pos", "chunk_id").withColumnRenamed("col", "chunk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= radius)
      .groupBy("doc_a", "doc_b").agg(first("hamming").as("hamming"))
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact word n-gram Jaccard ≥ threshold with PPJoin-style prefix
    * filtering. The naive inverted index indexes EVERY gram, so one
    * corpus-wide common gram ("the x y") makes its bucket quadratic —
    * measured 35 s on 5k template docs, unbounded at 100 TB. Prefix
    * filtering indexes only each doc's `|g| - ⌈t·|g|⌉ + 1` rarest grams
    * (global rarest-first canonical order): the standard prefix-filter
    * lemma guarantees any pair with overlap ≥ ⌈t·max(|a|,|b|)⌉ shares a
    * prefix gram, so recall stays exact while hot grams drop out of the
    * index (they are everyone's suffix). A size-ratio filter
    * (`min ≥ t·max`) prunes before the verification join, and exact
    * Jaccard verifies only surviving candidate pairs. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5): DataFrame =
    ngramJaccardFromIndex(ngramIndex(df, idCol, textCol, n), threshold)

  /** Exploded inverted-index frame `(doc_id, gram BIGINT, sz)` — the
    * shared root of every n-gram-Jaccard plan and its compute-once
    * cache format. One gram-kernel JVM pass per doc (the HOF form
    * costs ~3 ms/doc interpreted and re-evaluates once per plan
    * branch); grams are hashed to 64-bit longs so the cached/joined
    * rows are three primitives wide instead of a string array —
    * the round-3 `(doc_id, array<string>)` cache format deserialized
    * fat arrays on every consumer branch and lost 1.65× to recompute.
    * Collisions: a pair's Jaccard shifts only if two distinct grams
    * *shared by that pair's docs* collide (~|g|²/2⁶⁵ ≈ 1e-15 per pair
    * for few-hundred-word docs) — negligible even at corpus scale.
    *
    * Same compute-once note as [[minhashSketches]]: the one-shot
    * [[ngramJaccard]] references this frame from several plan branches
    * (frequency agg, prefix index, restricted overlap index) and Spark
    * does not deduplicate common subplans, so the gram kernel re-runs
    * per branch. For corpus scale, persist this frame (or write it to
    * a table) and run [[ngramJaccardFromIndex]] off it:
    * {{{
    *   val inv = Dedup.ngramIndex(docs, "doc_id", "text").persist()
    *   try Dedup.ngramJaccardFromIndex(inv, threshold = 0.5).collect()
    *   finally inv.unpersist()
    * }}}
    * Docs with fewer than `n` words contribute one gram — the whole
    * normalized text ([[Sketches.wordNgrams]]) — so verbatim short-doc
    * copies still pair at jaccard 1 (and the DuckDB oracle agrees). */
  def ngramIndex(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 3): DataFrame = {
    val gramsUdf = udf((text: String) => Sketches.wordNgrams(text, n))
    df.select(col(idCol).as("doc_id"), gramsUdf(col(textCol)).as("grams"))
      .select(col("doc_id"), size(col("grams")).as("sz"),
        explode(col("grams")).as("gram_str"))
      .select(col("doc_id"), xxhash64(col("gram_str")).as("gram"), col("sz"))
  }

  /** Benchmark DECONTAMINATION (Brown et al. 2020, Appendix C — the
    * public GPT-3 recipe; every serious LLM pipeline since runs a
    * variant): flag every training document sharing at least one word
    * n-gram (default n = 13, the GPT-3 choice) with an evaluation
    * benchmark, so eval items are HELD OUT of the training corpus
    * instead of leaking into it and inflating downstream scores. One
    * row per CONTAMINATED doc: `(doc_id, n_hits, n_bench_items)` —
    * distinct (matching gram, benchmark item) pairs and distinct
    * benchmark items hit; compose as a left-anti join against the
    * corpus to drop (the DedupSpec composition).
    *
    * Scale shape: the benchmark side is eval-sized (thousands of
    * items, never corpus-sized), so its distinct gram hashes
    * BROADCAST; the corpus side is one scan-side gram kernel + a
    * broadcast semi-join + one |contaminated|-keyed hash aggregation —
    * the 100 TB corpus never shuffles and never self-joins. Gram
    * hashing is [[ngramIndex]]'s 64-bit xxhash64: a collision flags a
    * doc spuriously at ~|grams|²/2⁶⁴ — the harmless direction
    * (over-removal) at negligible rate. Docs or bench items shorter
    * than n words contribute their whole normalized text as one gram
    * ([[Sketches.wordNgrams]]), so a short eval item still catches its
    * verbatim copies. Battery q159 oracles planted contamination
    * closed-form.
    *
    * This is the DOC-LEVEL AGGREGATE view of the same machinery as
    * [[contaminationMatches]] (the per-pair view, battery q69) and
    * [[dropContaminated]] (the filter view) — one implementation,
    * three consumption shapes: `n_hits` = Σ shared grams across
    * benchmark items, `n_bench_items` = distinct items hit. */
  def contaminatedDocs(docs: DataFrame, idCol: String, textCol: String,
                       bench: DataFrame, benchIdCol: String,
                       benchTextCol: String, n: Int = 13): DataFrame =
    contaminationMatches(
        docs.select(col(idCol), col(textCol)),
        bench.select(col(benchIdCol).as(idCol),
          col(benchTextCol).as(textCol)),
        idCol, textCol, n)
      .groupBy("train_id")
      .agg(sum(col("n_shared")).as("n_hits"),
        count(lit(1)).as("n_bench_items"))
      .select(col("train_id").as("doc_id"), col("n_hits"),
        col("n_bench_items"))

  /** [[ngramJaccard]] over a pre-built (possibly persisted) inverted
    * index from [[ngramIndex]].
    *
    * Plan-shape warning for the compute-once lifecycle: this DAG
    * references `cands` from three downstream branches (candDocs ×2 +
    * the final verification join) and `inv` from five, and Spark
    * re-executes common subplans per branch — the one-shot plan runs
    * the candidate self-join ~5× and the index subtree 22×. Persisting
    * `inv` alone (the round-3/4 lifecycle) still re-runs the candidate
    * join per branch, which is why it measured SLOWER than recompute.
    * The winning lifecycle persists BOTH branch points:
    * {{{
    *   val inv   = Dedup.ngramIndex(docs, "doc_id", "text").persist()
    *   val cands = Dedup.ngramCandidates(inv, threshold = 0.5).persist()
    *   try Dedup.ngramVerifiedPairs(inv, cands, threshold = 0.5).collect()
    *   finally { cands.unpersist(); inv.unpersist() }
    * }}} */
  def ngramJaccardFromIndex(inv: DataFrame, threshold: Double = 0.5): DataFrame =
    // Round-18 (guide §3.3/§5 — truncate re-executed subtrees without
    // the in-memory-cache barrier that measured SLOWER here in rounds
    // 3/4/17): the candidate frame is referenced three times
    // downstream (candDocs ×2 + the verification join) and each
    // reference re-ran the prefix self-join AND its whole inv subtree
    // (gram kernel included; the one-shot plan ran the index subtree
    // ~22×). localCheckpoint materializes each branch point once as
    // raw partitions — no columnar cache encode/decode, which is what
    // made persist() lose to recompute here in rounds 3/4/17 — so the
    // gram kernel and the candidate self-join execute exactly once per
    // call (the [[contaminatedDocs]] cand-frame discipline). Measured
    // at sf0.1: 3.5-3.7 s → 2.3-3.1 s isolated; checkpointing
    // ngramVerifiedPairs' restricted index as well was a wash and is
    // left out (it would also tax the table-served lifecycle).
    { val inv0 = inv.localCheckpoint()
      ngramVerifiedPairs(inv0,
        ngramCandidates(inv0, threshold).localCheckpoint(), threshold) }

  /** Build-once/serve-many lifecycle for the n-gram index: write the
    * inverted index ([[ngramIndex]]) and its PPJoin candidate pair set
    * ([[ngramCandidates]]) to catalog tables unless they already exist
    * (idempotent, the [[graft.sources.Bucketed.ensure]] pattern). This
    * is the nightly index build at corpus scale — the corpus is read
    * exactly once, and every downstream dedup consumer
    * ([[ngramVerifiedPairs]], cluster assignment, survivor filters)
    * starts from narrow pre-computed rows without re-running the gram
    * kernel or the candidate self-join. In-memory `persist()` of the
    * same frames measured SLOWER than recompute at sf0.1 (the cache
    * build is a materialization barrier plus serialization on top of
    * the same work); durable tables amortize across queries and
    * sessions, which is the lifecycle that actually matters.
    *
    * Idempotency is keyed on table EXISTENCE alone — `n`/`threshold`
    * are not re-checked against an existing build. Callers whose
    * parameters can vary must encode them in the table names (as the
    * battery does), or the first builder silently wins. */
  def ensureNgramTables(spark: SparkSession, docs: => DataFrame, idCol: String,
                        textCol: String, invTable: String, candsTable: String,
                        n: Int = 3, threshold: Double = 0.5): Unit = {
    if (!spark.catalog.tableExists(invTable)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, invTable)
      ngramIndex(docs, idCol, textCol, n)
        .write.mode("overwrite").saveAsTable(invTable)
    }
    if (!spark.catalog.tableExists(candsTable)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, candsTable)
      ngramCandidates(spark.table(invTable), threshold)
        .write.mode("overwrite").saveAsTable(candsTable)
    }
  }

  /** Catalog table names for one incremental n-gram index: inverted
    * index rows, the FROZEN document-frequency order, the stored
    * prefix rows, and the candidate pair set. */
  case class NgramIncrTables(inv: String, dfreq: String, pinv: String,
                             cands: String)

  /** Incremental build-once/append-many lifecycle for the n-gram
    * index — the form a 100 TB corpus actually runs: the nightly full
    * rebuild of [[ensureNgramTables]] re-reads every document, while a
    * production corpus only ever GROWS, so the index should absorb the
    * day's new documents as a delta touching new-doc text plus
    * narrow index rows, never the corpus.
    *
    * Exactness rests on one property of the PPJoin prefix filter: the
    * completeness lemma holds for ANY global total order on grams
    * applied consistently to every document — df-ascending is only the
    * efficiency heuristic. So the build FREEZES its document-frequency
    * order in a table, and every later append ranks its new docs'
    * grams under that frozen order (grams the build never saw rank
    * rarest, at df 0, ties broken by gram value — still one total
    * order shared by all docs ever indexed). Old docs' stored prefixes
    * therefore stay valid forever, and an append only (1) indexes the
    * new docs, (2) computes their prefixes under the frozen order,
    * (3) joins new prefixes against the stored prefix table for
    * candidate pairs touching a new doc — old-old pairs are already in
    * the table. Serving is unchanged: [[ngramVerifiedPairs]] over the
    * inv + cands tables answers identically to a from-scratch build
    * (battery q31c pins this against the q31 oracle).
    *
    * The trade is efficiency drift, not correctness: as the corpus
    * grows, frozen df diverges from true df, prefixes stop being the
    * truly-rarest grams, and candidate counts creep up — the classic
    * incremental-index aging curve. A periodic full rebuild (drop the
    * tables, [[ensureNgramIndexIncr]] again) restores the optimal
    * order, exactly like re-clustering an aging IVF index.
    *
    * Appends are idempotent per document: docs whose ids are already
    * fully indexed are skipped (one ids-only anti-join against the
    * `pinv` commit marker — see [[appendToNgramIndex]]'s resumable
    * commit protocol), so replaying yesterday's batch cannot
    * double-index rows — ids must be unique across the corpus for
    * this to hold. */
  def ensureNgramIndexIncr(spark: SparkSession, docs: => DataFrame,
                           idCol: String, textCol: String,
                           tbl: NgramIncrTables,
                           n: Int = 3, threshold: Double = 0.5): Unit = {
    if (!spark.catalog.tableExists(tbl.inv)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, tbl.inv)
      ngramIndex(docs, idCol, textCol, n)
        .write.mode("overwrite").saveAsTable(tbl.inv)
    }
    if (!spark.catalog.tableExists(tbl.dfreq)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, tbl.dfreq)
      spark.table(tbl.inv).groupBy("gram").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").saveAsTable(tbl.dfreq)
    }
    if (!spark.catalog.tableExists(tbl.pinv)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, tbl.pinv)
      prefixUnderOrder(spark.table(tbl.inv), spark.table(tbl.dfreq), threshold)
        .write.mode("overwrite").saveAsTable(tbl.pinv)
    }
    if (!spark.catalog.tableExists(tbl.cands)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, tbl.cands)
      val p = spark.table(tbl.pinv)
      prefixPairJoin(p, p, threshold)
        .write.mode("overwrite").saveAsTable(tbl.cands)
    }
  }

  /** Absorb `newDocs` into an incremental n-gram index built by
    * [[ensureNgramIndexIncr]]. Already-indexed ids are skipped. Cost:
    * one pass over the (deduped) new docs' text + delta-sized joins
    * against the stored narrow tables — the corpus is never re-read. */
  def appendToNgramIndex(spark: SparkSession, newDocs: DataFrame,
                         idCol: String, textCol: String,
                         tbl: NgramIncrTables,
                         n: Int = 3, threshold: Double = 0.5): Unit = {
    // Crash-resumable commit protocol: the three appends cannot be
    // atomic, so `pinv` is the COMMIT MARKER — written last, and the
    // freshness anti-join keys off it. A doc with prefix rows therefore
    // has its inv rows and candidate pairs fully appended; a doc
    // stranded by a crash in any earlier window is re-processed on
    // replay, with per-table healing anti-joins (below) absorbing
    // whatever the crashed attempt already wrote. Every delta frame is
    // a pure function of (doc text, frozen dfreq), so a replay
    // recomputes byte-identical rows. This is what makes the streaming
    // maintenance loop (Maintenance.streamingNgramIndex) replay-safe
    // over an at-least-once foreachBatch channel with no batch ledger.
    // (A doc with >= 1 gram always has >= 1 prefix row, so the marker
    // covers every doc the index can ever answer for.)
    val fresh = newDocs.join(
      spark.table(tbl.pinv).select(col("doc_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
    // localCheckpoint, not persist: the delta's LINEAGE reads the very
    // tables the append writes (the idempotency anti-join reads `pinv`),
    // and writing a table invalidates caches built over it — a lazily
    // re-evaluated delta would then anti-join its own docs away and
    // append nothing. Checkpointing materializes the delta-sized frames
    // and CUTS that lineage before any table is touched. (On a real
    // cluster with executor-loss concerns, reliable `checkpoint` is the
    // drop-in alternative, as in [[Components.connected]].)
    val delta = ngramIndex(fresh, idCol, textCol, n).localCheckpoint()
    try {
      if (delta.isEmpty) return
      // heal: skip rows of docs a crashed attempt already put in inv
      delta.join(spark.table(tbl.inv).select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        .write.mode("append").saveAsTable(tbl.inv)
      val pNew = prefixUnderOrder(delta, spark.table(tbl.dfreq), threshold)
        .localCheckpoint()
      try {
        // every delta pair touches >= 1 fresh doc. ONE gram join with
        // the delta on the build side — a fresh doc's id can fall on
        // either side of the canonical `<`, so instead of running the
        // join twice (once per orientation, the round-6 shape, ~2x the
        // candidate work) the pair is orientation-normalized AFTER the
        // match: least/greatest on the ids, sizes swapped to follow.
        // The stored side is pinv ∪ pNew explicitly (pinv is the
        // commit marker and does not hold the delta yet); fresh-fresh
        // pairs match twice and collapse in the distinct the pair join
        // always needed.
        val pAll = spark.table(tbl.pinv).unionByName(pNew)
        val nSide = pNew.select(col("gram"), col("doc_id").as("id_n"), col("sz").as("sz_n"))
        val aSide = pAll.select(col("gram"), col("doc_id").as("id_o"), col("sz").as("sz_o"))
        val pairs = nSide.join(aSide, "gram")
          .filter(col("id_n") =!= col("id_o"))
          .filter(greatest(col("sz_n"), col("sz_o")) * threshold <=
            least(col("sz_n"), col("sz_o")))
          .select(
            least(col("id_n"), col("id_o")).as("doc_a"),
            greatest(col("id_n"), col("id_o")).as("doc_b"),
            when(col("id_n") < col("id_o"), col("sz_n")).otherwise(col("sz_o")).as("sz_a"),
            when(col("id_n") < col("id_o"), col("sz_o")).otherwise(col("sz_n")).as("sz_b"))
          .distinct()
        // heal: a crash between the cands and pinv appends leaves the
        // pairs committed but the marker absent — drop what is already
        // there (ngramVerifiedPairs joins cands by pair, so duplicate
        // rows would duplicate answers)
        pairs.join(spark.table(tbl.cands).select("doc_a", "doc_b"),
            Seq("doc_a", "doc_b"), "left_anti")
          .write.mode("append").saveAsTable(tbl.cands)
        // commit: the marker goes last
        pNew.write.mode("append").saveAsTable(tbl.pinv)
      } finally pNew.unpersist()
    } finally delta.unpersist()
  }

  /** Prefix rows `(doc_id, sz, gram)` of an [[ngramIndex]] frame under
    * an explicit (frozen) `(df, gram)` total order; grams absent from
    * `dfreq` rank rarest at df 0. */
  private def prefixUnderOrder(inv: DataFrame, dfreq: DataFrame,
                               threshold: Double): DataFrame =
    inv.join(dfreq, Seq("gram"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy("doc_id", "sz")
      .agg(slice(
        array_sort(collect_list(struct(col("df"), col("gram")))),
        lit(1),
        greatest(col("sz") - ceil(col("sz") * threshold).cast("int") + 1, lit(1)))
        .as("pref"))
      .select(col("doc_id"), col("sz"), explode(col("pref.gram")).as("gram"))

  /** Candidate pairs between two prefix frames: gram equi-join +
    * size-ratio prune, `doc_a < doc_b`. */
  private def prefixPairJoin(pa: DataFrame, pb: DataFrame,
                             threshold: Double): DataFrame =
    pa.select(col("gram"), col("doc_id").as("doc_a"), col("sz").as("sz_a"))
      .join(pb.select(col("gram"), col("doc_id").as("doc_b"), col("sz").as("sz_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .filter(greatest(col("sz_a"), col("sz_b")) * threshold <=
        least(col("sz_a"), col("sz_b")))
      .select("doc_a", "doc_b", "sz_a", "sz_b").distinct()

  /** PPJoin candidate pairs `(doc_a, doc_b, sz_a, sz_b)` from an
    * [[ngramIndex]] frame: prefix-filtered inverted-index self-join +
    * size-ratio prune. The second branch point of the n-gram plan —
    * persist it alongside `inv` for the compute-once lifecycle (see
    * [[ngramJaccardFromIndex]]). */
  def ngramCandidates(inv: DataFrame, threshold: Double = 0.5): DataFrame = {
    // global canonical order: ascending document frequency, then gram
    val dfreq = inv.groupBy("gram").agg(count(lit(1)).as("df"))
    val prefix = inv.join(dfreq, "gram")
      .groupBy("doc_id", "sz")
      .agg(slice(
        array_sort(collect_list(struct(col("df"), col("gram")))),
        lit(1),
        greatest(col("sz") - ceil(col("sz") * threshold).cast("int") + 1, lit(1)))
        .as("pref"))
    val pinv = prefix.select(col("doc_id"), col("sz"),
      explode(col("pref.gram")).as("gram"))
    // sizes ride along through the candidate join so verification needs
    // no join-back against a per-doc size table
    pinv.select(col("gram"), col("doc_id").as("doc_a"), col("sz").as("sz_a"))
      .join(pinv.select(col("gram"), col("doc_id").as("doc_b"), col("sz").as("sz_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .filter(greatest(col("sz_a"), col("sz_b")) * threshold <=
        least(col("sz_a"), col("sz_b")))
      .select("doc_a", "doc_b", "sz_a", "sz_b").distinct()
  }

  /** Exact-Jaccard verification of a candidate pair set against the
    * inverted index: overlap counted from the index restricted to docs
    * that appear in a candidate pair — counts shuffle, never gram
    * arrays; at scale candidate docs ≪ corpus so the reduction bites. */
  def ngramVerifiedPairs(inv: DataFrame, cands: DataFrame,
                         threshold: Double = 0.5): DataFrame = {
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val rinv = inv.join(candDocs, "doc_id").select("doc_id", "gram")
    val overlap = rinv.select(col("gram"), col("doc_id").as("doc_a"))
      .join(rinv.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    cands.join(overlap, Seq("doc_a", "doc_b"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("sz_a") + col("sz_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }
}
