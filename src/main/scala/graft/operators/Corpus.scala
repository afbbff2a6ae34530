package graft.operators

import graft.Shared
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text

/** End-to-end corpus refinement — the canonical preprocessing pass of
  * a training-data pipeline, composing the library's per-document
  * signals and dedup filters into the one call a data curator actually
  * runs:
  *
  *   language allow-list → quality floor → repetition ceiling
  *     → exact dedup (min-id survivor) → optional near-dup dedup
  *
  * Plan shape: the three signal predicates are per-row kernels fused
  * into ONE scan-side filter projection (no shuffle until dedup), the
  * exact dedup is a single digest shuffle + left-semi survivor join,
  * and the optional MinHash near-dup pass only ever touches the
  * already-filtered survivors. Each stage is individually oracled in
  * the battery (q26 language, q27 quality, q59 repetition, q19/q37
  * exact dedup, q22/q57 near-dup); the composition itself is q61.
  */
object Corpus {

  /** Refined corpus: rows of `df` that pass every signal gate, with
    * exactly one representative (smallest id) per duplicate group.
    * Gates with `None`/empty are skipped entirely (no wasted kernel
    * pass). NULL-text rows never survive, regardless of which gates
    * are enabled — without an explicit base gate they would slip
    * through disabled signal gates and then exact-dedup against each
    * other on a shared null digest, silently discarding all but one.
    * Near-dup dedup is off by default — it is a candidate-join
    * pass worth its cost on raw web-scale corpora, redundant after
    * strict exact dedup on already-clean ones. */
  def refine(df: DataFrame, idCol: String, textCol: String,
             langs: Set[String] = Set("en"),
             minQuality: Option[Double] = Some(0.3),
             maxDupTokenFraction: Option[Double] = Some(0.5),
             dropNearDups: Boolean = false,
             nearDupThreshold: Double = 0.8,
             badwords: Option[Seq[String]] = None,
             gopherRepetition: Boolean = false): DataFrame = {
    // round-18: dropExactDuplicates references its input twice (the
    // keeper aggregate and the semi-join's left side) and Spark
    // re-executes common subplans per branch — every enabled gate
    // kernel (langId, qualityScore, dupTokenFraction, …) ran twice
    // over the corpus. Pinning materializes the gated rows once (raw
    // partitions, no columnar-cache barrier — the q31 discipline), so
    // each kernel runs exactly once per call.
    val filtered = Shared.pin(signalGates(df, textCol, langs, minQuality,
      maxDupTokenFraction, badwords, gopherRepetition))
    val exact = Dedup.dropExactDuplicates(filtered, idCol, textCol)
    if (dropNearDups)
      Dedup.dropNearDuplicates(exact, idCol, textCol, nearDupThreshold)
    else exact
  }

  /** The per-row gate filter shared by [[refine]] and
    * [[refineStream]] — stateless, so it applies identically to batch
    * frames and streams. `badwords` adds the C4 blocklist gate
    * ([[Text.containsBlockedWord]] — whole-word match, Raffel et al.
    * 2020 §2.2); off by default, like near-dup dedup. `gopherRepetition`
    * adds the full Rae et al. 2021 Table A1 rule ladder
    * ([[Text.gopherFiredRule]] — one kernel pass) ahead of the
    * dup-token ceiling, matching [[gateAttribution]]'s
    * `namedRepetition` mode gate-for-gate so the funnel's `kept`
    * count equals [[refine]]'s survivor count under EITHER flag
    * setting, provided the flags agree. */
  private def signalGates(df: DataFrame, textCol: String, langs: Set[String],
                          minQuality: Option[Double],
                          maxDupTokenFraction: Option[Double],
                          badwords: Option[Seq[String]] = None,
                          gopherRepetition: Boolean = false): DataFrame = {
    val gates = Seq(
      Some(col(textCol).isNotNull),
      if (langs.nonEmpty)
        Some(Text.langId(col(textCol)).isin(langs.toSeq: _*)) else None,
      minQuality.map(Text.qualityScore(col(textCol)) >= _),
      badwords.map(w => !Text.containsBlockedWord(col(textCol), w)),
      if (gopherRepetition)
        Some(Text.gopherFiredRule(col(textCol)).isNull) else None,
      maxDupTokenFraction.map(Text.dupTokenFraction(col(textCol)) <= _)
    ).flatten
    gates.reduceOption(_ && _).map(df.filter).getOrElse(df)
  }

  /** Gate-attribution funnel — the curation diagnostic every real
    * pipeline publishes alongside its corpus (which stage dropped
    * what): per document, each [[refine]] gate's verdict plus the
    * exact-dedup outcome, collapsed to the FIRST failing stage in
    * pipeline order (`null_text` → `lang` → `quality` → `badwords`
    * (when enabled) → `repetition` → `duplicate` → `kept`).
    * First-fail attribution matches what the
    * sequential pipeline actually does — a doc failing two gates
    * charges the one that fired — so funnel counts always sum to the
    * input and `kept` equals [[refine]]'s survivor count by
    * construction.
    *
    * Plan shape: the per-row signal kernels are ONE scan-side
    * projection, each kernel appearing at exactly ONE plan site
    * (PlanSpec-pinned), and that projection is pinned
    * ([[graft.Shared.pin]]) before the funnel fans out — the duplicate
    * verdict needs the keeper-per-digest map (the q19 digest hash-agg restricted to
    * gate-passing docs, identical semantics to [[refine]]'s dedup
    * stage) joined back on the digest, which makes the verdict plan
    * reference the flagged frame from THREE arms (outer left join +
    * both sides of the keeper join). Without the pin each arm
    * re-runs every kernel — with the Gopher ladder that was a ~30×
    * kernel multiplication (the round-15 q171b defect, 26.5 s for a
    * 1 s kernel). The pin also means this call is EAGER: the
    * gate kernels run when [[gateAttribution]] is invoked, and the
    * materialized frame carries only `(id, digest, flags, rule)` —
    * document text never persists. Output is per-doc
    * `(doc_id, verdict)`; aggregate downstream as needed.
    *
    * With `namedRepetition` the single dup-token ceiling becomes the
    * full Gopher rule ladder ([[Text.GopherRepetitionRules]] — the
    * Rae et al. 2021 Table A1 set) followed by the dup-token ceiling
    * as a final `dup_token` rule, and the repetition verdict names
    * WHICH rule fired (`repetition:dup_para`, `repetition:top_2gram`,
    * …) — the funnel detail a mixture-design dashboard needs. The
    * ladder runs as ONE kernel call ([[Text.gopherFiredRule]] — the
    * Column composition of 13 `when`s over the stats struct re-ran
    * the kernel per branch; codegen subexpression elimination does
    * not hoist across nested CaseWhen arms). Default off: the verdict
    * VOCABULARY changes under this flag, so existing funnels keep
    * their plain `repetition` label unless they opt in. The `kept`
    * count equals [[refine]]'s survivor count when refine's
    * `gopherRepetition` flag matches `namedRepetition` (CorpusSpec
    * pins both pairings). */
  def gateAttribution(df: DataFrame, idCol: String, textCol: String,
                      langs: Set[String] = Set("en"),
                      minQuality: Double = 0.3,
                      maxDupTokenFraction: Double = 0.5,
                      namedRepetition: Boolean = false,
                      badwords: Option[Seq[String]] = None): DataFrame = {
    val flagged = Shared.pin(gateFlagged(df, idCol, textCol, langs, minQuality,
      maxDupTokenFraction, namedRepetition, badwords))
    val passing = flagged
      .filter(col("__nn") && col("__lang") && col("__q") && col("__bw") &&
        col("__rule").isNull)
      .select(col(idCol), col("__d"))
    val keepers = passing.groupBy("__d")
      .agg(min(col(idCol)).as("__keeper"))
    val dupStatus = passing.join(keepers, "__d")
      .select(col(idCol), (col(idCol) === col("__keeper")).as("__isKeeper"))
    val repVerdict =
      if (namedRepetition) concat(lit("repetition:"), col("__rule"))
      else col("__rule")
    flagged.join(dupStatus, Seq(idCol), "left")
      .select(col(idCol),
        when(!col("__nn"), lit("null_text"))
          .when(!col("__lang"), lit("lang"))
          .when(!col("__q"), lit("quality"))
          .when(!col("__bw"), lit("badwords"))
          .when(col("__rule").isNotNull, repVerdict)
          .when(!col("__isKeeper"), lit("duplicate"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** The one-pass gate projection behind [[gateAttribution]] —
    * un-checkpointed, exposed for the PlanSpec pin that every gate
    * kernel (langId, quality, the repetition rule) occurs at exactly
    * ONE site in the plan. Carries the dedup digest instead of the
    * text so the checkpointed frame is small: `(id, __d, __nn,
    * __lang, __q, __bw, __rule)`. `__rule` is referenced (never
    * recomputed) downstream; deriving `isNull` flags here would put a
    * second kernel reference in the projection, which CollapseProject
    * happily duplicates. */
  private[graft] def gateFlagged(df: DataFrame, idCol: String,
                                 textCol: String, langs: Set[String],
                                 minQuality: Double,
                                 maxDupTokenFraction: Double,
                                 namedRepetition: Boolean,
                                 badwords: Option[Seq[String]]): DataFrame = {
    // coalesce evaluates lazily left-to-right, so the dup-token
    // Column only runs for docs the ladder passes
    val firedRule =
      if (namedRepetition)
        coalesce(
          Text.gopherFiredRule(col(textCol)),
          when(Text.dupTokenFraction(col(textCol)) > maxDupTokenFraction,
            lit("dup_token")))
      else
        when(Text.dupTokenFraction(col(textCol)) > maxDupTokenFraction,
          lit("repetition"))
    // the C4 blocklist sits between quality and repetition in the
    // funnel — the refine pipeline's gate order (signalGates);
    // disabled it is a constant TRUE and the verdict never appears
    val bwPass = badwords
      .map(w => !Text.containsBlockedWord(col(textCol), w))
      .getOrElse(lit(true))
    df.select(col(idCol), md5(col(textCol)).as("__d"),
      col(textCol).isNotNull.as("__nn"),
      Text.langId(col(textCol)).isin(langs.toSeq: _*).as("__lang"),
      (Text.qualityScore(col(textCol)) >= minQuality).as("__q"),
      bwPass.as("__bw"),
      firedRule.as("__rule"))
  }

  /** Streaming form of [[refine]] for ingestion-time curation: the
    * same per-row signal gates (they are stateless Column predicates,
    * so the plans are identical to batch), then watermark-bounded
    * exact dedup via [[Dedup.streamingExact]] — the first occurrence
    * of each surviving text is admitted, later copies within the
    * watermark horizon are dropped. Near-dup dedup stays offline:
    * its candidate self-join has no incremental streaming form, which
    * is exactly why the bronze→offline-refine split exists. */
  def refineStream(df: DataFrame, textCol: String, tsCol: String,
                   langs: Set[String] = Set("en"),
                   minQuality: Option[Double] = Some(0.3),
                   maxDupTokenFraction: Option[Double] = Some(0.5),
                   watermark: String = "10 minutes",
                   badwords: Option[Seq[String]] = None): DataFrame =
    Dedup.streamingExact(
      signalGates(df, textCol, langs, minQuality, maxDupTokenFraction,
        badwords),
      textCol, tsCol, watermark)

  /** Per-document diff between two corpus snapshots — the audit pass a
    * versioned corpus runs before shipping a refresh ("what did this
    * crawl actually change?"): `(doc_id, status, chars_a, chars_b)`
    * with `status` ∈ `added` (only in `b`), `removed` (only in `a`),
    * `changed` (both, text differs), `unchanged`. Content equality is
    * md5-of-text (NULL text hashes as NULL and compares null-safely,
    * so a text going NULL↔non-NULL is `changed`). One id-keyed
    * full-outer join; per-doc digests ride the scan projection — at
    * any corpus size this is one shuffle of (id, digest, length)
    * triples, never of document bodies. Compose with
    * [[Dsir.jsDivergencePico]] for the distributional half of the
    * audit (battery q97) — q100 gates both the per-status membership
    * and the char deltas. */
  def snapshotDiff(a: DataFrame, b: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    // presence flags, NOT the hashes, decide added/removed — a NULL
    // text yields a NULL digest but the row still EXISTS on its side
    def prep(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol).as("doc_id"),
        md5(col(textCol)).as(s"__h$tag"),
        length(col(textCol)).as(s"chars_$tag"),
        lit(true).as(s"__p$tag"))
    prep(a, "a").join(prep(b, "b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__pa").isNull, lit("added"))
          .when(col("__pb").isNull, lit("removed"))
          .when(col("__ha") <=> col("__hb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("chars_a"), lit(0)).as("chars_a"),
        coalesce(col("chars_b"), lit(0)).as("chars_b"))
  }

  // ----------------------------------------------------------------
  // Compliance takedowns — the removal half of corpus stewardship.
  // A 100 TB training lake receives opt-out lists, DMCA notices, and
  // publisher domain blocks continuously; this applies them as FOUR
  // rule kinds over the document URL, each matched in canonical
  // space so a rule written with tracking params or odd casing still
  // hits:
  //   url    — exact canonical URL
  //   host   — exact host (of the canonical form)
  //   domain — the WHOLE domain tree via SURT-key prefix (the reason
  //            SURT exists: `example.com` kills `www.example.com`,
  //            `a.b.example.com`, … but never `examples.com`)
  //   prefix — canonical-URL string prefix (a path subtree)
  // ----------------------------------------------------------------

  // host/domain rule values are NAMES, but real takedown lists write
  // them with trailing slashes or stray paths ("example.com/") — strip
  // everything from the first "/" so the synthesized URL stays
  // well-formed (an un-stripped trailing slash yields the SURT
  // "com,example)//", which no document key can ever prefix-match)
  private def hostKey(value: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    Url.host(concat(lit("http://"),
      regexp_replace(value, "/.*$", ""), lit("/")))

  private def domainKey(value: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_replace(
      Url.surt(concat(lit("http://"),
        regexp_replace(value, "/.*$", ""), lit("/"))),
      "\\)/$", "")

  private def takedownRuleFrames(rules: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val r = rules.select(lower(col("kind")).as("kind"), col("value"))
    def keyed(kind: String, key: org.apache.spark.sql.Column) =
      broadcast(r.filter(col("kind") === kind)
        .select(key.as("__r")).filter(col("__r").isNotNull).distinct())
    (keyed("url", Url.canonical(col("value"))),
      keyed("host", hostKey(col("value"))),
      // domain → its SURT key up to the `)` — matched as `key,`
      // (subdomain) or `key)` (the domain itself), so label
      // boundaries are exact and `site4` never matches `site40`
      keyed("domain", domainKey(col("value"))),
      keyed("prefix", Url.canonical(col("value"))))
  }

  /** Documents of `df` that survive every takedown rule (see the rule
    * table above; `rules` has columns `kind`, `value`). Matching is
    * canonical-space on both sides — the rule value is canonicalized/
    * SURT-keyed the same way the document URL is.
    *
    * Plan shape: the doc URL canonicalizes ONCE into three derived
    * match keys on the scan projection, then one LEFT ANTI join per
    * rule kind, every rule side explicitly `broadcast()` — takedown
    * lists are thousands of rows against billions of documents, so
    * no shuffle of the corpus ever happens: url/host rules anti-join
    * on equality (hash), domain/prefix rules on `startsWith` (a
    * broadcast nested-loop scan of O(|rules|) string prefix tests
    * per row — the price of subtree semantics, bounded by the
    * broadcast's size, and still shuffle-free). Rows whose URL does
    * not canonicalize (NULL keys) SURVIVE url/host/domain/prefix
    * matching by construction — a takedown cannot match garbage; gate
    * such rows upstream if they must not ship. */
  def applyTakedowns(df: DataFrame, urlCol: String,
                     rules: DataFrame): DataFrame = {
    val (urlR, hostR, domR, preR) = takedownRuleFrames(rules)
    val tagged = df
      .withColumn("__canon", Url.canonical(col(urlCol)))
      .withColumn("__host", Url.host(col(urlCol)))
      .withColumn("__surt", Url.surt(col(urlCol)))
    tagged
      .join(urlR, tagged("__canon") === urlR("__r"), "left_anti")
      .join(hostR, col("__host") === hostR("__r"), "left_anti")
      .join(domR,
        col("__surt").startsWith(concat(domR("__r"), lit(","))) ||
          col("__surt").startsWith(concat(domR("__r"), lit(")"))) ||
          // apex host on a NON-DEFAULT port: SURT key is
          // `com,example:8080)/...` — matches neither `key,` nor
          // `key)`. Port digits cannot alias another label, so the
          // `:` disjunct keeps label boundaries exact.
          col("__surt").startsWith(concat(domR("__r"), lit(":"))),
        "left_anti")
      .join(preR, col("__canon").startsWith(preR("__r")), "left_anti")
      .drop("__canon", "__host", "__surt")
  }

  /** Per-rule match counts — the receipt a compliance process files
    * ("every rule acted / rule X matched nothing, investigate"):
    * one row per rule, `(kind, value, n_matched)`, zero-matched rules
    * INCLUDED. Same broadcast shapes as [[applyTakedowns]], inner
    * instead of anti, aggregated to |rules| rows. */
  def takedownAudit(df: DataFrame, urlCol: String,
                    rules: DataFrame): DataFrame = {
    val (urlR, hostR, domR, preR) = takedownRuleFrames(rules)
    val tagged = df
      .withColumn("__canon", Url.canonical(col(urlCol)))
      .withColumn("__host", Url.host(col(urlCol)))
      .withColumn("__surt", Url.surt(col(urlCol)))
      .select("__canon", "__host", "__surt")
    val r = rules.select(lower(col("kind")).as("kind"), col("value"))
    def counted(kind: String, ruleKeys: DataFrame, key: String,
                cond: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
                  => org.apache.spark.sql.Column) =
      tagged.join(ruleKeys, cond(col(key), ruleKeys("__r")), "inner")
        .groupBy(col("__r")).agg(count(lit(1)).as("n_matched"))
        .join(r.filter(col("kind") === kind)
          .withColumn("__k",
            if (kind == "url" || kind == "prefix")
              Url.canonical(col("value"))
            else if (kind == "host") hostKey(col("value"))
            else domainKey(col("value"))),
          col("__r") === col("__k"), "right_outer")
        .select(col("kind"), col("value"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"))
    counted("url", urlR, "__canon", _ === _)
      .unionByName(counted("host", hostR, "__host", _ === _))
      .unionByName(counted("domain", domR, "__surt", (k, rr) =>
        k.startsWith(concat(rr, lit(","))) ||
          k.startsWith(concat(rr, lit(")"))) ||
          k.startsWith(concat(rr, lit(":"))))) // non-default-port apex
      .unionByName(counted("prefix", preR, "__canon", _ startsWith _))
  }

  /** Cascade a takedown through a DERIVED table (minhash index,
    * components catalog, embedding shard, …): keep only rows whose id
    * survives in the purged corpus — a LEFT SEMI against the
    * survivor ids, the whitelist form (an anti against purged ids
    * would silently KEEP rows for ids that never existed in the
    * corpus at all). */
  def cascadeTakedown(derived: DataFrame, idCol: String,
                      survivors: DataFrame,
                      survivorIdCol: String): DataFrame =
    derived.join(
      survivors.select(col(survivorIdCol).as("__sid")).distinct(),
      col(idCol) === col("__sid"), "left_semi")

  /** Accumulate takedown rules into a PERSISTED, append-only rules
    * TABLE — the standing form a compliance process actually runs
    * (opt-out lists, DMCA notices, and domain blocks arrive
    * continuously; the corpus re-purges against EVERYTHING received
    * so far, never against one notice at a time). Idempotence is
    * keyed on the verbatim `(kind, value)` pair: in-batch duplicates
    * collapse, already-filed rules anti-join away, so an
    * at-least-once replay appends nothing. Rules file VERBATIM —
    * canonicalization happens at match time inside
    * [[applyTakedowns]]/[[takedownAudit]], so the table stays a
    * faithful compliance record of what was received (and a keying
    * fix later re-keys every rule, not just future ones). Serve any
    * time with `applyTakedowns(df, urlCol, spark.table(table))`.
    * Returns newly filed rules. */
  def appendToTakedownTable(spark: org.apache.spark.sql.SparkSession,
                            rules: DataFrame, table: String): Long = {
    val incoming = rules
      .select(lower(col("kind")).as("kind"), col("value"))
      .filter(col("kind").isNotNull && col("value").isNotNull)
      .distinct()
    val fresh =
      if (!spark.catalog.tableExists(table)) incoming
      else incoming.join(spark.table(table), Seq("kind", "value"),
        "left_anti")
    Shared.scope {
      val staged = Shared.pin(fresh) // counted AND written
      val n = staged.count()
      if (n == 0L) return 0L
      if (!spark.catalog.tableExists(table)) {
        graft.sources.Warehouse.clearOrphanLocation(spark, table)
        staged.write.saveAsTable(table)
      } else staged.write.mode("append").saveAsTable(table)
      n
    }
  }
}
