package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions.{coalesce, col, lit}
import graft.operators.Rollup
import graft.sources.{Lake, Warehouse}

/** Continuous warehouse maintenance: the batch-oracled merge
  * primitives (q76 incremental rollup, q77 lake upsert) driven from a
  * stream, one micro-batch at a time, with the replay semantics each
  * one needs.
  *
  * `foreachBatch` re-delivers a batch after a crash (at-least-once),
  * so the two legs differ on purpose:
  *
  *  - the lake upsert is idempotent BY CONSTRUCTION — latest-wins on
  *    (key, version) makes re-applying a batch a no-op — so replay
  *    needs no bookkeeping;
  *  - the rollup merge is NOT idempotent (re-merging an increment
  *    double-counts), so each commit stamps the batch id into the
  *    state table's properties and a replayed batch is detected and
  *    skipped — exactly-once effect on top of an at-least-once
  *    channel, the same ledger trick warehouse sinks use.
  *
  * The state table swap is staged: merge writes to `<state>_staging`
  * (materializing the result while the old state is still readable),
  * then the old table drops and the staging table renames in. At 100
  * TB the state table is |distinct keys| rows — the stream merges
  * increments the size of a micro-batch's key set, never history.
  */
object Maintenance {

  private[streaming] val LastBatchProp = "graft.maintenance.lastBatch"

  private def batchProp(spark: SparkSession, table: String): Option[Long] =
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
      .properties.get(LastBatchProp).map(_.toLong)

  /** Merge one micro-batch's partial rollup state into `stateTable`,
    * exactly once: a batch id at or below the table's high-water mark
    * is a replay and is skipped. Returns whether the merge applied.
    *
    * Crash safety of the swap: the high-water property is stamped on
    * the staging table BEFORE the old state drops, so "state missing
    * but a stamped staging exists" uniquely identifies a crash between
    * the drop and the rename — recovery adopts the staging table
    * (it already holds the merged state and the mark). A staging
    * table WITHOUT the stamp can only coexist with a live state table
    * (or a first-ever batch whose state is just the increment), so
    * dropping it below is never a state loss. */
  def refreshRollupState(spark: SparkSession, stateTable: String,
                         incr: DataFrame, batchId: Long): Boolean =
    refreshLedgered(spark, stateTable, incr, batchId)(Rollup.merge(_, _))

  /** The ledgered staged-swap behind [[refreshRollupState]], with the
    * merge pluggable — any mergeable state frame (rollup states,
    * [[graft.operators.Telemetry]] sketches) gets the same
    * exactly-once + crash-safe swap semantics. */
  private[streaming] def refreshLedgered(spark: SparkSession, stateTable: String,
                                         incr: DataFrame, batchId: Long)(
      mergeFn: (DataFrame, DataFrame) => DataFrame,
      writeFn: (DataFrame, String) => Unit =
        (df, t) => df.write.saveAsTable(t)): Boolean = {
    val stagingName = s"${stateTable}_staging"
    if (!spark.catalog.tableExists(stateTable) &&
        spark.catalog.tableExists(stagingName) &&
        batchProp(spark, stagingName).isDefined) {
      spark.sql(s"ALTER TABLE $stagingName RENAME TO $stateTable")
      spark.catalog.refreshTable(stateTable)
    }
    val exists = spark.catalog.tableExists(stateTable)
    if (exists) {
      val last = batchProp(spark, stateTable)
      if (last.exists(_ >= batchId)) return false
    }
    val merged = if (exists) mergeFn(spark.table(stateTable), incr) else incr
    val staging = stagingName
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    Warehouse.clearOrphanLocation(spark, staging)
    writeFn(merged, staging)
    spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES ('$LastBatchProp'='$batchId')")
    spark.sql(s"DROP TABLE IF EXISTS $stateTable")
    Warehouse.clearOrphanLocation(spark, stateTable)
    spark.sql(s"ALTER TABLE $staging RENAME TO $stateTable")
    // the swap moved files under the table's old cached listing —
    // without this, the next read resolves deleted part files
    spark.catalog.refreshTable(stateTable)
    true
  }

  /** The micro-batch loop under every `streamingX` below: a
    * checkpointed `foreachBatch` that skips empty micro-batches and
    * hands each non-empty one, with its batch id (the ledgered merges'
    * replay key), to `absorb`. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      absorb: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) absorb(batch.toDF(), batchId)
      }
      .start()

  /** Keep an hourly rollup state table continuously refreshed from a
    * stream. Query the live rollup any time with
    * `Rollup.report(spark.table(stateTable))` — after a
    * `REFRESH TABLE` if the reading session is not the one running
    * the stream: the swap rewrites the table's files, and Spark's
    * standard cross-session semantics for externally-rewritten
    * tables apply (each session caches its own file listing). The
    * stream's own session is refreshed here. */
  def streamingRollup(stream: DataFrame, tsCol: String, valCol: String,
                      keyCols: Seq[String], stateTable: String,
                      checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val incr = Rollup.hourlyState(batch, tsCol, valCol, keyCols)
      refreshRollupState(batch.sparkSession, stateTable, incr, batchId)
    }

  /** Keep a [[graft.operators.Telemetry]] state table (per-group
    * doc/token counts + KMV distinct + Misra-Gries heavy-hitter
    * sketches) continuously refreshed from a document stream — the
    * corpus-monitoring loop: each micro-batch contributes one
    * |groups|-row mergeable increment; history is never re-read and
    * state size never depends on corpus size. Counts and MG merges
    * are not idempotent, so this rides the same batch-id ledger +
    * staged swap as [[streamingRollup]] (exactly-once effect on the
    * at-least-once `foreachBatch` channel, crash-in-swap recovery
    * included). Query any time with
    * `Telemetry.report(spark.table(stateTable), groupCol, k)`. */
  def streamingTelemetry(stream: DataFrame, groupCol: String, textCol: String,
                         stateTable: String, checkpoint: String,
                         k: Int = 4096, capacity: Int = 4096): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val incr = graft.operators.Telemetry.telemetry(
        batch, groupCol, textCol, k, capacity)
      refreshLedgered(batch.sparkSession, stateTable, incr, batchId)(
        graft.operators.Telemetry.merge(_, _, groupCol, k, capacity))
    }

  /** Keep per-group hashed-gram bucket counts
    * ([[graft.operators.Dsir.bucketCountsBy]]) continuously merged
    * from a document stream — the live state behind the JS-divergence
    * drift monitor: at any time, filter the state to two slices,
    * re-sum by bucket, and feed
    * [[graft.operators.Dsir.jsDivergencePicoFromCounts]] — equal to
    * the one-shot computation over everything delivered so far
    * (battery q99 pins the streamed state against the q97 oracle).
    * Counts ADD on merge (not idempotent), so the increment rides the
    * same batch-id ledger as [[streamingTelemetry]]; state is
    * ≤ |groups|·dim rows regardless of corpus size. */
  def streamingDriftCounts(stream: DataFrame, groupCol: String,
                           textCol: String, stateTable: String,
                           checkpoint: String, dim: Int = 4096): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val incr = graft.operators.Dsir.bucketCountsBy(
        batch, groupCol, textCol, dim)
      refreshLedgered(batch.sparkSession, stateTable, incr, batchId) {
        (st, inc) =>
          val s2 = st.select(col(groupCol), col("bucket"),
            col("cnt").as("__sc"))
          val i2 = inc.select(col(groupCol), col("bucket"),
            col("cnt").as("__ic"))
          s2.join(i2, Seq(groupCol, "bucket"), "full_outer")
            .select(col(groupCol), col("bucket"),
              (coalesce(col("__sc"), lit(0L)) +
                coalesce(col("__ic"), lit(0L))).as("cnt"))
      }
    }

  /** Absorb one document batch into the streamed bigram-LM model
    * state: the (w1, w2, cnt) table merges ADDITIVELY (counts are not
    * idempotent, so the increment rides the batch-id ledger + staged
    * swap), and the distinct-token vocabulary table appends via
    * anti-join (idempotent per token, no ledger). Token append runs
    * even when the ledger skips the bigram merge: a crash between the
    * two leaves a stamped bigram table and missing tokens, and the
    * redelivered batch completes exactly the token half. Context
    * counts and the vocab stat are DERIVED at serve time
    * ([[graft.operators.LangModel.scoreFromTables]]), so two tables
    * are the whole state and no marginal can drift. */
  def absorbBigramBatch(spark: SparkSession, batch: DataFrame,
                        idCol: String, textCol: String,
                        bigramsTable: String, tokensTable: String,
                        batchId: Long): Unit = {
    import graft.operators.LangModel
    val incr = LangModel.bigramCounts(
      LangModel.docBigramOcc(batch, idCol, textCol))
    refreshLedgered(spark, bigramsTable, incr, batchId) { (st, inc) =>
      val s2 = st.select(col("w1"), col("w2"), col("cnt").as("__sc"))
      val i2 = inc.select(col("w1"), col("w2"), col("cnt").as("__ic"))
      s2.join(i2, Seq("w1", "w2"), "full_outer")
        .select(col("w1"), col("w2"),
          (coalesce(col("__sc"), lit(0L)) +
            coalesce(col("__ic"), lit(0L))).as("cnt"))
    }
    val toks = LangModel.distinctTokens(batch, textCol)
    if (!spark.catalog.tableExists(tokensTable)) {
      Warehouse.clearOrphanLocation(spark, tokensTable)
      toks.write.saveAsTable(tokensTable)
    } else {
      // MATERIALIZE the novel-token delta before appending: the plan
      // anti-joins against the very table it appends to, and while
      // Spark lists the table's files before the commit in the happy
      // path, a stage retry AFTER a partial commit could re-list and
      // observe its own output (re-deriving an empty delta mid-write).
      // localCheckpoint severs the lineage at a |batch vocab|-bounded
      // frame, so the append's input is fixed before any file lands.
      val delta = toks.join(spark.table(tokensTable), Seq("t"), "left_anti")
        .localCheckpoint(true)
      try delta.write.mode("append").saveAsTable(tokensTable)
      finally delta.unpersist()
    }
  }

  /** Keep the bigram-LM model continuously trained from a document
    * stream — the streaming leg of the q70/q70b lifecycle: each
    * micro-batch's bigram counts merge into the standing model and
    * its novel tokens extend the vocabulary; the corpus is never
    * re-read and state is |bigram vocab| + |token vocab| rows
    * regardless of corpus size. Serving is concurrent and unchanged:
    * `LangModel.scoreFromTables(spark, docs, …)` between (or during)
    * batches answers exactly as a from-scratch train over everything
    * delivered so far — battery q163 pins the streamed model against
    * the q70 oracle verbatim. */
  def streamingBigramModel(stream: DataFrame, idCol: String, textCol: String,
                           bigramsTable: String, tokensTable: String,
                           checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      absorbBigramBatch(batch.sparkSession, batch, idCol, textCol,
        bigramsTable, tokensTable, batchId)
    }

  /** Keep a persisted MinHash sketch table
    * ([[graft.operators.Dedup.appendToSketchTable]]) continuously
    * absorbed from a document stream — the streaming half of the q22b
    * sketch lifecycle: each micro-batch's new documents append their
    * sketches; the corpus is never re-read and serving
    * (`Dedup.minhashDedupFromSketches(spark.table(table))`) answers
    * exactly like a from-scratch batch sketch build (battery q109
    * pins it against the q22 brute-force oracle). Replay-safe without
    * a ledger: appends are idempotent per document (ids anti-join),
    * the [[streamingNgramIndex]] discipline. */
  def streamingMinhashSketches(stream: DataFrame, idCol: String,
                               textCol: String, table: String,
                               checkpoint: String,
                               numHashes: Int = 128, bands: Int = 16,
                               shingleK: Int = 5): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      graft.operators.Dedup.appendToSketchTable(batch.sparkSession,
        batch, idCol, textCol, table, numHashes, bands, shingleK)
    }

  /** Keep an incremental n-gram near-dup index
    * ([[graft.operators.Dedup.ensureNgramIndexIncr]]) continuously
    * absorbed from a document stream — the maintenance loop a growing
    * corpus actually runs: each micro-batch's new documents extend the
    * inverted index, frozen-order prefixes, and candidate pairs as a
    * delta; the corpus is never re-read. The first non-empty batch
    * initializes the index (and freezes the document-frequency order)
    * from itself.
    *
    * Replay-safe without a ledger, the [[streamingUpsert]] argument:
    * appends are idempotent PER DOCUMENT (an ids-only anti-join skips
    * already-indexed docs), so the at-least-once `foreachBatch`
    * channel re-delivering a batch after a crash appends nothing.
    * Requires doc ids unique across the corpus — same contract as the
    * batch lifecycle.
    *
    * Serving is unchanged and concurrent:
    * `Dedup.ngramVerifiedPairs(spark.table(inv), spark.table(cands))`
    * between (or during) batches answers exactly as a from-scratch
    * batch build over everything delivered so far — battery q83 pins
    * the streamed build against the q31 all-pairs oracle. */
  def streamingNgramIndex(stream: DataFrame, idCol: String, textCol: String,
                          tbl: graft.operators.Dedup.NgramIncrTables,
                          checkpoint: String,
                          n: Int = 3, threshold: Double = 0.5): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      graft.operators.Dedup.ensureNgramIndexIncr(
        spark, batch, idCol, textCol, tbl, n, threshold)
      graft.operators.Dedup.appendToNgramIndex(
        spark, batch, idCol, textCol, tbl, n, threshold)
    }

  /** Keep a persisted IVFADC code table continuously absorbed from a
    * vector stream — the last index family to get the streaming leg
    * (MinHash: [[streamingMinhashSketches]], n-gram:
    * [[streamingNgramIndex]]). The coarse centroids and PQ codebooks
    * are FROZEN catalog tables from the one-time batch build
    * ([[graft.operators.Similarity.centroidsToDF]] /
    * [[graft.operators.Similarity.pqModelToDF]]): each micro-batch
    * reloads them (two tiny bounded reads — nlist·dim + m·ksub rows)
    * and encodes only its own vectors, so the corpus is never re-read
    * and the model never drifts mid-stream. Replay-safe without a
    * ledger: appends are idempotent per vector id
    * ([[graft.operators.Similarity.appendToIvfPqIndex]]).
    *
    * Serving is unchanged and concurrent:
    * `Similarity.ivfPqTopKFromIndex(spark.table(indexTable), …)`
    * between (or during) batches answers exactly as a one-shot encode
    * over everything delivered so far — battery q88c pins the
    * streamed lifecycle against the q88 exact-top-5 clone oracle. */
  def streamingIvfPqIndex(stream: DataFrame, idCol: String, vecCol: String,
                          indexTable: String, centroidTable: String,
                          codebookTable: String,
                          checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val cm = graft.operators.Similarity
        .centroidsFromDF(spark.table(centroidTable))
      val model = graft.operators.Similarity
        .pqModelFromDF(spark.table(codebookTable))
      graft.operators.Similarity.appendToIvfPqIndex(spark,
        batch, idCol, vecCol, indexTable, cm, model)
    }

  /** Keep a persisted crawl-frontier table
    * ([[graft.operators.Frontier.appendToFrontierTable]]) continuously
    * absorbed from a discovered-URL stream — the streaming half of
    * the crawl loop: each micro-batch's newly discovered URLs
    * canonicalize and append (idempotent PER URL — replays and
    * re-discoveries anti-join away, priority fixed at first
    * discovery); scheduling
    * ([[graft.operators.Frontier.scheduleFromTable]]) answers exactly
    * like a batch [[graft.operators.Frontier.schedule]] over
    * everything discovered so far (battery q124 pins it against the
    * q121 batch oracle). */
  def streamingFrontier(stream: DataFrame, urlCol: String,
                        scoreCol: String, table: String,
                        checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      graft.operators.Frontier.appendToFrontierTable(
        batch.sparkSession, batch, urlCol, scoreCol, table)
    }

  /** Keep a persisted CDX capture catalog
    * ([[graft.sources.Warc.appendToCdxTable]]) continuously absorbed
    * from a stream of NEWLY-LANDED segment paths — the streaming half
    * of the capture-index story (a continuous crawl publishes segment
    * sets per batch; CommonCrawl refreshes its index per crawl the
    * same way): each micro-batch's distinct paths absorb through the
    * filename-keyed skip-then-anti-join append, so replays and
    * re-announcements of a segment are per-FILE no-ops and no
    * already-indexed byte is ever re-read; ranged-read serving
    * ([[graft.sources.Warc.fetchByCdx]] over `spark.table(table)`)
    * answers exactly like a one-shot
    * [[graft.sources.Warc.cdxIndex]] over everything landed so far
    * (battery q138 pins it against the q136 oracle verbatim). */
  def streamingCdx(stream: DataFrame, pathCol: String, table: String,
                   checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      val paths = batch.select(pathCol).distinct()
        .collect().map(_.getString(0)) // |segments|-bounded
      // ONE absorb for the whole micro-batch — one skip-set read,
      // one index job, one append; per-path absorbs would rescan
      // the growing catalog once per announced path
      graft.sources.Warc.appendToCdxTable(batch.sparkSession, table,
        paths.sorted.toSeq)
    }

  /** Keep a persisted takedown-rules table
    * ([[graft.operators.Corpus.appendToTakedownTable]]) continuously
    * absorbed from a rule stream — the compliance family's streaming
    * leg: notices arrive as `(kind, value)` rows, file append-only
    * and (kind, value)-idempotently, and the corpus re-purges
    * against `spark.table(table)` with
    * [[graft.operators.Corpus.applyTakedowns]] whenever it ships
    * (battery q141 streams the q137 rule set in 2 batches and
    * answers the q137 oracle verbatim). */
  def streamingTakedowns(stream: DataFrame, kindCol: String,
                         valueCol: String, table: String,
                         checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      graft.operators.Corpus.appendToTakedownTable(batch.sparkSession,
        batch.select(col(kindCol).as("kind"), col(valueCol).as("value")),
        table)
    }

  /** Keep the streaming BM25 pair
    * ([[graft.operators.Retrieval.appendToBm25Tables]]) continuously
    * absorbed from a document stream — the retrieval family's
    * streaming-maintenance leg, closing its build/serve/stream triad
    * (n-gram, MinHash, IVFADC and the graph already have all three).
    * Per-DOC idempotent (the dlTable marker anti-join), so an
    * at-least-once `foreachBatch` replay absorbs nothing; serve any
    * time with [[graft.operators.Retrieval.bm25TopKFromTables]]
    * (battery q139 streams the documents in 3 batches and answers
    * the q54 oracle verbatim). */
  def streamingBm25(stream: DataFrame, idCol: String, textCol: String,
                    statsTable: String, dlTable: String,
                    checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      graft.operators.Retrieval.appendToBm25Tables(
        batch.sparkSession, batch, idCol, textCol,
        statsTable, dlTable)
    }

  /** Merge one micro-batch of raw `(src, dst)` link pairs into a
    * [[graft.operators.Graph.ensureEdgeTable]]-shaped edge table,
    * exactly once. Graph appends are NOT per-row idempotent — a new
    * edge changes the out-degree folded into EVERY existing row of
    * its source — so this rides the batch-id ledger + staged swap
    * (the q76/q93 discipline), not the sketch families' anti-join
    * append. The staging write keeps the table bucketed by `src`, so
    * the q95b shuffle-free serve property survives every refresh.
    * After an applied merge the `<table>_nodes` list is recomputed
    * (idempotent — see [[graft.operators.Graph.refreshNodesTable]];
    * a crash between swap and refresh is repaired by the next batch).
    * Returns whether the merge applied (false = replay, skipped). */
  def refreshGraphEdges(spark: SparkSession, table: String,
                        pairs: DataFrame, srcCol: String, dstCol: String,
                        batchId: Long, buckets: Int = 32): Boolean = {
    val incr = graft.operators.Graph.edgesWithOutDegree(pairs, srcCol, dstCol)
    val applied = refreshLedgered(spark, table, incr, batchId)(
      graft.operators.Graph.mergeEdgeState,
      (df, t) => df.write.bucketBy(buckets, "src").sortBy("src")
        .saveAsTable(t))
    if (applied) graft.operators.Graph.refreshNodesTable(spark, table)
    applied
  }

  /** Keep a PageRank edge-table pair continuously absorbed from a
    * link-pair stream — the graph family's streaming-maintenance leg,
    * closing the last build/serve/streaming triad (n-gram, MinHash,
    * and IVFADC already have all three). Serve any time with
    * [[graft.operators.Graph.pageRankMicroFromTable]] (battery q95c
    * streams the trade graph in 3 ledgered batches and answers the
    * q95 unrolled oracle verbatim). */
  def streamingGraphEdges(stream: DataFrame, srcCol: String, dstCol: String,
                          table: String, checkpoint: String,
                          buckets: Int = 32): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      refreshGraphEdges(batch.sparkSession, table, batch,
        srcCol, dstCol, batchId, buckets)
    }

  /** Keep a WET interchange archive continuously written from a
    * refined-text stream — the streaming half of the q123 export sink
    * (the archive a continuous crawl actually emits: CommonCrawl
    * publishes WET segment sets per crawl batch, not one monolith):
    * each micro-batch writes its own `batch-<id>/` subtree through
    * [[graft.sources.Warc.writeTextSegments]] (per-record gzip
    * members, manifest, rename-on-commit). Replay-safe WITHOUT a
    * ledger: the subtree write is a whole-directory overwrite keyed by
    * the batch id, so a re-delivered batch rewrites byte-identical
    * segments in place. Audit the whole tree any time with
    * [[graft.sources.Warc.auditAllTextSegments]] (battery q133 streams
    * the corpus in 3 batches and answers the q123 roundtrip oracle
    * verbatim). */
  def streamingTextSegments(stream: DataFrame, uriCol: String,
                            textCol: String, root: String,
                            checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      graft.sources.Warc.writeTextSegments(
        batch, uriCol, textCol, s"$root/batch-$batchId")
    }

  /** The WAT sibling of [[streamingTextSegments]]: keep a streaming
    * WAT metadata archive — one `batch-<id>` subtree of
    * `metadata`-type segments per non-empty micro-batch, written by
    * [[graft.sources.Warc.writeWatSegments]] (same per-record gzip
    * members, manifest, rename-on-commit). Replay-safe the same way:
    * a re-delivered batch overwrites its own subtree byte-identically.
    * Audit with `Warc.auditAllTextSegments(…, recordType =
    * "metadata")` (battery q150 streams the q146 WAT rows in 3
    * batches and answers the q146 oracle verbatim). */
  def streamingWatSegments(stream: DataFrame, uriCol: String,
                           jsonCol: String, root: String,
                           checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      graft.sources.Warc.writeWatSegments(
        batch, uriCol, jsonCol, s"$root/batch-$batchId")
    }

  /** Keep a standing anchor-postings table continuously absorbed from
    * a PAGE stream — the anchor family's streaming-maintenance leg
    * (build q157 / serve q158 / stream q161, the lifecycle triad every
    * index family here carries): each micro-batch's pages append their
    * [[graft.operators.Html.anchorTextEdges]] rows per-source-page
    * idempotently ([[graft.operators.Html.appendToAnchorTable]] —
    * replays anti-join away on the marker set before any HTML scans).
    * Serve profiles any time with
    * [[graft.operators.Html.anchorProfileFromTable]] (battery q161
    * streams the q157 fixture in 3 batches and answers the q157
    * oracle verbatim). */
  def streamingAnchorEdges(stream: DataFrame, idCol: String,
                           urlCol: String, htmlCol: String,
                           table: String, checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      graft.operators.Html.appendToAnchorTable(
        batch.sparkSession, batch, idCol, urlCol, htmlCol,
        table)
    }

  /** Keep a persisted component catalog
    * ([[graft.operators.Components.appendToComponentsTable]])
    * continuously absorbed from a near-duplicate PAIR stream — the
    * cluster half of the streaming dedup story (q83/q109 stream the
    * pairs; this keeps their transitive clusters current): each
    * micro-batch reduces to a representative-level graph and merges
    * through the path-compressed remap, so per-batch work is
    * O(|batch| + |merges|), never the corpus. Replay-safe: a
    * re-delivered batch resolves to self-loops and appends nothing.
    * Serve any time with
    * [[graft.operators.Components.componentsFromTable]] (battery q126
    * pins streamed == from-scratch clustering). */
  def streamingComponents(stream: DataFrame, aCol: String, bCol: String,
                          table: String, checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      graft.operators.Components.appendToComponentsTable(
        batch.sparkSession, batch, aCol, bCol, table)
    }

  /** Continuously MERGE a stream of updates into a partitioned lake
    * tree (CDC apply). Replay-safe without bookkeeping: Lake.upsert
    * is latest-wins, so re-applying a delivered batch changes
    * nothing. */
  def streamingUpsert(stream: DataFrame, path: String, keyCols: Seq[String],
                      partitionCol: String, versionCol: String,
                      checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      Lake.upsert(batch.sparkSession, path, batch,
        keyCols, partitionCol, versionCol)
    }
}
