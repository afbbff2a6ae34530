package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Bpe, Corpus, Packing, Sampling}
import graft.sources.Tables

/** The runnable end-to-end slice for the TRAINING-DATA surface (the
  * complement of [[PipelineDemo]]'s reference dataflow): one `main`
  * that takes a raw document corpus to packed training shards —
  *
  *   health report (q60 shape) → `Corpus.refine` (language/quality/
  *   repetition gates + exact dedup) → `Text.scrubPii` → sliding-window
  *   chunking (`Text.chunkByTokens`) → token-budget packing
  *   (`Packing.packContiguous`) → parquet shards partitioned by shard
  *   → the CCNet gate (`LangModel.perplexityBuckets` — each
  *     language's tail-perplexity third never reaches tokenization)
  *   → the TRAINER FEED: `Text.fimTransform` ahead of tokenization,
  *     corpus-learned BPE merges (`Bpe.trainMerges`), per-doc token
  *     ids (`Bpe.tokenIds`), packing, integer sequences with offset
  *     boundary arrays (`Packing.assembleTokenSequences`), exported
  *     via `Sampling.writeShardedWithManifest` and re-audited
  *   → compliance takedown arriving AFTER the shards landed
  *     (`Corpus.applyTakedowns` on the corpus, `cascadeTakedown`
  *     through the derived shard table, `takedownAudit` receipts —
  *     the q137 discipline in its real-world ordering)
  *
  * Every stage is an existing, individually-oracled library call; this
  * object only composes them, so it is both the "first thing a data
  * curator runs" and the subject of the composition e2e spec. */
object CorpusDemo {

  final case class Result(inputDocs: Long, survivors: Long, chunks: Long,
                          bins: Long, report: DataFrame,
                          takedownRemovedDocs: Long,
                          chunksAfterTakedown: Long,
                          takedownReceipts: DataFrame,
                          fimTransformed: Long, tokenSequences: Long,
                          tokenSeqDocs: Long, tokenAuditOk: Boolean,
                          pplTailDropped: Long)

  /** What one trainer-feed run landed. */
  final case class TrainerFeed(fimTransformed: Long, tokenSequences: Long,
                               tokenSeqDocs: Long, tokenAuditOk: Boolean)

  /** The TRAINER FEED (q144+q145 composed in production order) over
    * ANY refined `(doc_id, text)` corpus: fill-in-the-middle AHEAD of
    * tokenization (FIM rewrites the TEXT — tokenizing first would
    * orphan the sentinels), real BPE merges learned from this corpus,
    * per-document token ids, token-budget packing, ONE integer
    * sequence per bin with EOS separators and offset boundary arrays,
    * exported as manifest-audited shards at `outDir/token_shards` —
    * the literal batch a trainer maps. ONE implementation shared by
    * [[run]] (the curation demo) and [[CrawlToTrainer]] (the
    * crawl→corpus seam), so the two pipelines cannot drift. */
  def trainerFeed(spark: SparkSession, refinedDocs: DataFrame,
                  outDir: String, budgetTokens: Long = 2000L,
                  shards: Int = 4, numMerges: Int = 64): TrainerFeed = {
    // the changed-flag derives from the already-transformed column —
    // fimTransform runs ONCE per row per action, not once in the
    // trainer path and again inside a counting filter
    val fimmed = refinedDocs
      .select(col("doc_id"), col("text").as("fim_orig"),
        Text.fimTransform(col("doc_id"), col("text")).as("text"))
      .withColumn("fim_changed", col("text") =!= col("fim_orig"))
      .drop("fim_orig")
    val fimTransformed = fimmed.filter(col("fim_changed")).count()
    val merges = Bpe.trainMerges(fimmed, "text", numMerges = numMerges,
      minCount = 2L)
    val tokenized = Bpe.tokenIds(fimmed, "doc_id", "text", merges)
    // position_ids ride the export too — the trainer contract's third
    // column (boundary-reset positions, pure geometry off the offsets)
    val seqs = Packing.positionIds(Packing.assembleTokenSequences(
      Packing.packContiguous(tokenized, "doc_id", "n_tokens",
        budget = budgetTokens, shards = shards),
      "doc_id", "token_ids", orderCol = "doc_id"))
    // pack coordinates rename out of the way: the export's OWN shard
    // assignment (writeSharded's deterministic draw) owns `shard`.
    // seq_id = bin·|shards| + shard — collision-free for ANY bin depth
    // (shard < shards by construction; a shard·K + bin scheme would
    // alias once a shard accumulated K bins)
    val seqRows = seqs.select(
      (col("bin") * lit(shards.toLong) + col("shard")).as("seq_id"),
      col("shard").as("pack_shard"), col("bin").as("pack_bin"),
      col("doc_ids"), col("offsets"), col("sequence"),
      col("position_ids"), col("n_docs"), col("seq_tokens"))
    Sampling.writeShardedWithManifest(seqRows, "seq_id", shards,
      s"$outDir/token_shards")
    val tokenAuditOk = Sampling.verifyShardedExport(spark,
        s"$outDir/token_shards", "seq_id")
      .filter(!col("ok")).isEmpty
    // an EMPTY corpus lands an empty export (no shard subtrees, so no
    // schema to read back): zeros, not a crash — and the NULL-sum
    // coalesce covers the empty-frame read (round-13 ADVICE, closed at
    // BOTH layers)
    val (tokenSequences, tokenSeqDocs) =
      Sampling.readShardedExportOpt(spark, s"$outDir/token_shards") match {
        case None => (0L, 0L)
        case Some(landedSeqs) =>
          (landedSeqs.count(),
            landedSeqs.agg(coalesce(sum("n_docs"), lit(0L)))
              .head.getLong(0))
      }
    TrainerFeed(fimTransformed, tokenSequences, tokenSeqDocs, tokenAuditOk)
  }

  /** Run the full curation slice: read `documents` under `sfDir`,
    * write packed chunk shards under `outDir`. `chunkTokens`/`stride`
    * size the retrieval windows; `budgetTokens` is the per-bin packing
    * target. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          chunkTokens: Int = 50, stride: Int = 40,
          budgetTokens: Long = 2000L, shards: Int = 4): Result = Shared.scope {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "lang", "text")
    val inputDocs = docs.count()

    // 1. PII scrubbing FIRST, then gates + exact dedup (q61 shape):
    //    two docs identical up to their embedded identifiers become
    //    byte-identical after the scrub, so the digest dedup collapses
    //    them — scrubbing after dedup would let every PII variant
    //    through as a distinct text. Pinned: the count and the chunk
    //    pipeline below both consume it, and the gate kernels + digest
    //    shuffle are the expensive stage.
    val refined = Shared.pin(Corpus.refine(
        docs.withColumn("text", Text.scrubPii(col("text"))),
        "doc_id", "text"))
    val survivors = refined.count()

    // 2. sliding-window chunks, one row per chunk (q52 shape). The
    //    order key is a fixed-width string, unique and sortable for any
    //    (doc, chunk) — an arithmetic doc*K+chunk id would collide once
    //    a document yields more than K chunks
    val chunks = refined
      .select(col("doc_id"), col("source"),
        posexplode(Text.chunkByTokens(col("text"), chunkTokens, stride)))
      .select(col("doc_id"), col("source"), col("pos").as("chunk_id"),
        col("col").as("chunk"),
        Text.tokenCount(col("col")).cast("long").as("n_tokens"))
      .withColumn("item_key",
        format_string("%019d-%09d", col("doc_id"), col("chunk_id")))

    // 3. contiguous token-budget packing into shards (q53 shape) —
    //    SHARDED BY DOCUMENT and ordered by (doc, chunk), so a doc's
    //    overlapping windows stay contiguous in one shard's bins
    //    instead of hash-scattering across all of them
    val packed = Packing.packContiguous(chunks, "doc_id", "n_tokens",
      budget = budgetTokens, shards = shards, orderCol = Some("item_key"))

    // 4. land the shards columnar, partitioned for per-shard reads
    packed.select("shard", "bin", "item_key", "doc_id", "chunk_id",
        "source", "chunk", "n_tokens")
      .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/shards")

    // 4b. the CCNet gate ahead of the trainer feed (q162 shape): the
    //     LM trains on the refined corpus itself, each language's
    //     score distribution cuts into thirds over the bounded
    //     histogram, and the TAIL (worst-perplexity) third never
    //     reaches tokenization — the CCNet keep-head-and-middle
    //     recipe. Docs too short to score (no bigrams) KEEP — the
    //     neutral default for the unjudged, the Frontier.qualityScore
    //     convention. The chunk shards above stay ungated: retrieval
    //     windows serve search, the perplexity gate is an LM-training
    //     concern.
    // pinned: the count here plus trainerFeed's ≥4 actions (FIM
    // count, merge-training collect, tokenize→pack→write, audit)
    // would otherwise each re-run the whole LM-scoring + cut chain
    val tailIds = graft.operators.LangModel.perplexityBuckets(
        refined, "doc_id", "text", "lang")
      .filter(col("bucket") === 2).select("doc_id")
    val feedDocs = Shared.pin(refined.select("doc_id", "text")
      .join(tailIds, Seq("doc_id"), "left_anti"))
    val pplTailDropped = survivors - feedDocs.count()

    // 4c. the TRAINER FEED — the shared [[trainerFeed]] leg over the
    //     gated corpus (see its doc: q144+q145 composed in
    //     production order, FIM ahead of tokenization, corpus-learned
    //     merges, manifest-audited integer sequence shards). Every
    //     gated survivor packs into exactly one bin — the e2e
    //     conservation the spec reconciles against
    //     `survivors - pplTailDropped`.
    val feed = trainerFeed(spark, feedDocs,
      outDir, budgetTokens = budgetTokens, shards = shards)

    val out = spark.read.parquet(s"$outDir/shards")
    val report = out.groupBy("shard")
      .agg(countDistinct(col("bin")).as("n_bins"),
        count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("total_tokens"))
      .orderBy("shard")
    // bins are shard-local, so the global bin count is the report's sum
    val bins = report.agg(sum("n_bins")).collect().head.getLong(0)
    val chunkCount = out.count()

    // 5. a compliance takedown arriving AFTER the shards landed — the
    //    real-world ordering: rules purge the CORPUS, then CASCADE by
    //    survivor whitelist through every derived table (here the
    //    landed shard frame), with per-rule receipts filed. Rules are
    //    a host + a domain kind over the corpus's URL space (one
    //    deliberately written with a trailing slash — real opt-out
    //    lists do that, and the rule keying must absorb it).
    val docsWithUrl = docs.withColumn("url",
      concat(lit("https://www.site"), pmod(col("doc_id"), lit(20)),
        lit(".example.com/dir/page"), col("doc_id"), lit(".html")))
    val rules = spark.createDataFrame(Seq(
      ("host", "www.site3.example.com"),
      ("domain", "site4.example.com/"))).toDF("kind", "value")
    val afterTakedown = Corpus.applyTakedowns(docsWithUrl, "url", rules)
    val takedownRemoved = inputDocs - afterTakedown.count()
    val cascaded = Corpus.cascadeTakedown(out, "doc_id",
      afterTakedown.select("doc_id"), "doc_id")
    val receipts = Corpus.takedownAudit(docsWithUrl, "url", rules)

    Result(inputDocs, survivors, chunkCount, bins, report,
      takedownRemoved, cascaded.count(), receipts,
      feed.fimTransformed, feed.tokenSequences, feed.tokenSeqDocs,
      feed.tokenAuditOk, pplTailDropped)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1)
      else graft.sources.Scratch.dir("graft-corpus-demo").toString
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .appName("graft-corpus-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = run(spark, sfDir, outDir)
      println(s"input docs:  ${r.inputDocs}")
      println(s"survivors:   ${r.survivors}")
      println(s"chunks:      ${r.chunks}")
      println(s"packed bins: ${r.bins}")
      r.report.show(20, truncate = false)
      println(s"takedown: ${r.takedownRemovedDocs} docs purged, " +
        s"${r.chunksAfterTakedown}/${r.chunks} chunks survive the cascade")
      r.takedownReceipts.show(truncate = false)
      println(s"trainer feed: ${r.pplTailDropped} tail-perplexity docs " +
        s"gated, ${r.fimTransformed} docs FIM-transformed, " +
        s"${r.tokenSequences} token sequences over ${r.tokenSeqDocs} docs, " +
        s"audit=${r.tokenAuditOk}")
      println(s"shards at: $outDir/shards; token shards at: " +
        s"$outDir/token_shards")
    } finally spark.stop()
  }
}
