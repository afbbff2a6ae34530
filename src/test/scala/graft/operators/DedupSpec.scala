package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** 20 real docs + injected duplicates:
    * 1000 = near-copy of doc 0 (2 words changed)
    * 1001 = exact copy of doc 1
    * 1002 = case/punctuation variant of doc 2
    */
  private lazy val corpus = {
    val base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text").filter($"doc_id" < 20)
    val rows = base.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val words = rows(0).split(" ")
    val nearDup = (words.take(words.length - 2) :+ "changed" :+ "words").mkString(" ")
    val injected = Seq(
      (1000L, nearDup),
      (1001L, rows(1)),
      (1002L, rows(2).toUpperCase + "!!!")).toDF("doc_id", "text")
    base.union(injected).cache()
  }

  test("exact dedup finds the verbatim copy only") {
    val d = Dedup.exact(corpus, "doc_id", "text").filter($"n_copies" > 1).collect()
    assert(d.length == 1)
    assert(d.head.getLong(1) == 1L && d.head.getLong(2) == 2L) // keeper=1, copies=2
  }

  test("normalized dedup additionally catches the case/punct variant") {
    val d = Dedup.normalized(corpus, "doc_id", "text").filter($"n_copies" > 1)
      .orderBy("keeper").collect()
    assert(d.map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("minhash signature estimates true shingle jaccard within 0.15") {
    val pair = corpus.filter($"doc_id" === 0).select($"text".as("ta"))
      .crossJoin(corpus.filter($"doc_id" === 1000).select($"text".as("tb")))
      .select(
        Dedup.minhashSimilarity(
          Dedup.minhashSignature($"ta"), Dedup.minhashSignature($"tb")).as("est"),
        (size(array_intersect(graft.functions.Text.shingles($"ta", 5),
          graft.functions.Text.shingles($"tb", 5))).cast("double") /
          size(array_union(graft.functions.Text.shingles($"ta", 5),
            graft.functions.Text.shingles($"tb", 5)))).as("true_j"))
      .collect().head
    val (est2, truth) = (pair.getDouble(0), pair.getDouble(1))
    assert(truth > 0.8, s"fixture near-dup jaccard=$truth")
    assert(math.abs(est2 - truth) < 0.15, s"est=$est2 true=$truth")
  }

  test("minhashSimilarity kernel equals the HOF form, edges included") {
    val cases = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L)),   // identical
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 8L)),   // half agree
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 2L)),           // right shorter
      (Seq(1L, 2L), Seq(1L, 2L, 3L, 4L)),           // left shorter
      (Seq(1L, 2L, 3L, 4L), null)                   // null side
    ).toDF("a", "b")
    val rows = cases.select(
      Dedup.minhashSimilarity($"a", $"b").as("k"),
      Dedup.minhashSimilarityExpr($"a", $"b").as("e")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getDouble(0) == r.getDouble(1)),
        s"kernel=${r.get(0)} hof=${r.get(1)}")
    }
  }

  test("minhash+LSH dedup finds near-dup and exact pairs, no false positives") {
    val pairs = Dedup.minhashDedup(corpus, "doc_id", "text", threshold = 0.8)
      .orderBy("doc_a").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // shingles are over NORMALIZED text, so the case/punct variant of
    // doc 2 is a (full-jaccard) near-dup too
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 1000L), (1L, 1001L), (2L, 1002L)))
    assert(pairs.find(_._1 == 1).get._3 == 1.0) // exact copy: jaccard 1
  }

  test("persisted sketch frame yields identical pairs through a cached plan") {
    val plain = Dedup.minhashDedup(corpus, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sk = Dedup.minhashSketches(corpus, "doc_id", "text").persist()
    try {
      val mat = Dedup.minhashDedupFromSketches(sk, threshold = 0.8)
      assert(mat.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        == plain)
      assert(mat.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
        "compute-once path must read the cached sketch frame")
    } finally sk.unpersist()
  }

  test("streaming exact dedup: first occurrence only, state watermark-bounded") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = Dedup.streamingExact(
      mem.toDF().toDF("ts", "text"), "text", "ts", watermark = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
      mem.addData((t(0), "alpha"), (t(1), "beta"), (t(2), "alpha"))
      q.processAllAvailable()
      mem.addData((t(3), "alpha"), (t(4), "gamma"))
      q.processAllAvailable()
      val texts = spark.sql("SELECT text FROM stream_dedup")
        .collect().map(_.getString(0)).sorted
      assert(texts.toSeq == Seq("alpha", "beta", "gamma"),
        s"duplicates within the watermark must drop: ${texts.toSeq}")
    } finally q.stop()
  }

  test("corpus filters: exact and near-dup survivors") {
    val exactSurvivors = Dedup.dropExactDuplicates(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // only the verbatim copy (1001) drops; near/normalized variants stay
    assert(exactSurvivors == (0L until 20L).toSet + 1000L + 1002L)
    val nearSurvivors = Dedup.dropNearDuplicates(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // all three injected variants drop (higher id in each verified pair)
    assert(nearSurvivors == (0L until 20L).toSet)
  }

  test("simhash: exact copy distance 0, near-dup within radius, others far") {
    val sigs = corpus.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(1001L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1000L)) <= 6, s"near-dup hamming=${ham(sigs(0L), sigs(1000L))}")
    // unrelated docs are far apart
    assert(ham(sigs(3L), sigs(4L)) > 10)
  }

  test("simhash LSH pair search finds the exact copy via pigeonhole bands") {
    val pairs = Dedup.simhashDedup(corpus, "doc_id", "text", radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 1001L)))
  }

  test("simhash pigeonhole search reconciles with brute force over the corpus") {
    // The banding lemma promises EXACT radius search (no misses, no
    // extras). Reconcile against the all-pairs sweep on the real sf0.01
    // corpus: 500 docs, 124,750 pairs. This is the correctness net for
    // q32, which stays rows-only in the oracle battery — the corpus's
    // Hamming histogram is continuous through the radius boundary
    // (23 pairs at ≤3, 31 at 4, 87 at 5, ...), so the pair set depends
    // on this engine's exact fingerprints and a hash-independent SQL
    // oracle cannot exist.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val sigs = docs.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 3
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b), h)
    }).toSet
    val got = Dedup.simhashDedup(docs, "doc_id", "text", radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected,
      s"missed=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.size == 23, s"corpus drifted: ${expected.size} pairs")
  }

  test("radius 0: the full-width chunk masks the whole signature, exact matches only") {
    // width=64 needs the all-ones mask ((1L << 64) - 1 wraps to 0 and
    // would collide everything — the regression this test pins)
    val pairs = Dedup.simhashDedup(corpus, "doc_id", "text", radius = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 1001L, 0)), s"missed the exact copy: ${pairs.toSeq}")
    assert(pairs.forall(_._3 == 0), "radius 0 admitted a nonzero distance")
  }

  test("degenerate simhash radius is rejected at plan time") {
    // radius >= 64 → chunk width 0 → constant chunks → O(n²) candidates
    intercept[IllegalArgumentException] {
      Dedup.simhashDedup(corpus, "doc_id", "text", radius = 64)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashDedup(corpus, "doc_id", "text", radius = -1)
    }
  }

  test("invalid band counts are rejected at plan time") {
    // bands must divide numHashes: a remainder silently drops signature
    // slots; bands > numHashes makes every band hash constant (all docs
    // collide → O(n²) candidates)
    intercept[IllegalArgumentException] {
      Dedup.minhashSketches(corpus, "doc_id", "text", numHashes = 128, bands = 15)
    }
    intercept[IllegalArgumentException] {
      Sketches.bandHashes(new Array[Long](128), 200)
    }
    intercept[IllegalArgumentException] {
      Sketches.bandHashes(new Array[Long](128), 0)
    }
  }

  test("streaming exact dedup rejects input that shadows its state column") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(java.sql.Timestamp, String, String)]
    // the digest column name is part of the checkpointed state schema, so
    // it is a fixed reserved name — colliding input must fail loudly
    intercept[IllegalArgumentException] {
      Dedup.streamingExact(
        mem.toDF().toDF("ts", "text", "_graft_digest"), "text", "ts")
    }
  }

  test("ngram jaccard catches near-dup; plans contain no cartesian product") {
    val pairs = Dedup.ngramJaccard(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1000L)) && pairs.contains((1L, 1001L)))
    val plan = Dedup.ngramJaccard(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "ngram join must be an equi-join")
  }

  test("incremental n-gram index: multi-append equals full rebuild, frozen order survives unseen vocabulary") {
    val tbl = Dedup.NgramIncrTables("graft_test_incr_inv", "graft_test_incr_df",
      "graft_test_incr_pinv", "graft_test_incr_cands")
    def dropAll(): Unit = Seq(tbl.inv, tbl.dfreq, tbl.pinv, tbl.cands)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    try {
      // two clones in entirely unseen vocabulary arrive in DIFFERENT
      // appends: their grams rank at frozen df 0, and the pair must
      // still be found (frozen-order completeness, not just replay)
      val zz = (1 to 40).map(i => s"zq$i").mkString(" ")
      val extra = Seq((2000L, zz), (2001L, zz + " tail marker here")).toDF("doc_id", "text")
      val full = corpus.union(extra)
      val chunks = Seq(
        corpus.filter($"doc_id" % 3 === 0),
        corpus.filter($"doc_id" % 3 === 1).union(extra.filter($"doc_id" === 2000L)),
        corpus.filter($"doc_id" % 3 === 2).union(extra.filter($"doc_id" === 2001L)))
      Dedup.ensureNgramIndexIncr(spark, chunks.head, "doc_id", "text", tbl)
      chunks.tail.foreach(c =>
        Dedup.appendToNgramIndex(spark, c, "doc_id", "text", tbl))
      def serve() = Dedup.ngramVerifiedPairs(
          spark.table(tbl.inv), spark.table(tbl.cands), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val incr = serve()
      val oneShot = Dedup.ngramJaccard(full, "doc_id", "text", n = 3, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(incr == oneShot,
        s"incremental != full rebuild: only-incr=${incr -- oneShot} only-full=${oneShot -- incr}")
      assert(incr.exists(p => p._1 == 2000L && p._2 == 2001L),
        "unseen-vocabulary near-dup pair across appends must be found")
      // replaying an already-absorbed batch is a no-op
      Dedup.appendToNgramIndex(spark, chunks(1), "doc_id", "text", tbl)
      assert(serve() == incr, "replayed append must not change the answer")
    } finally dropAll()
  }

  test("appendToNgramIndex releases the delta frames it pins") {
    val tbl = Dedup.NgramIncrTables("graft_test_rel_inv", "graft_test_rel_df",
      "graft_test_rel_pinv", "graft_test_rel_cands")
    def dropAll(): Unit = Seq(tbl.inv, tbl.dfreq, tbl.pinv, tbl.cands)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    try {
      Dedup.ensureNgramIndexIncr(spark, corpus.filter($"doc_id" % 2 === 0),
        "doc_id", "text", tbl)
      val pinv0 = spark.table(tbl.pinv).count()
      val before = persistedRdds
      Dedup.appendToNgramIndex(spark, corpus.filter($"doc_id" % 2 === 1),
        "doc_id", "text", tbl)
      assert((persistedRdds -- before).isEmpty, "append left its pins stored")
      assert(spark.table(tbl.pinv).count() > pinv0, "the delta was not appended")
    } finally dropAll()
  }

  test("decontamination: overlap pairs exact, eval side broadcast, filter drops flagged only") {
    // eval doc e1 shares the 4-gram "alpha beta gamma delta" with t1
    // (case/punct variant — the gram discipline normalizes), e2 shares
    // its whole sub-4-word text with t3; t2 shares nothing.
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "tiny doc"),
      (4L, "ALPHA, beta GAMMA delta! unrelated tail here")
    ).toDF("doc_id", "text")
    val evalDocs = Seq(
      (100L, "prefix words alpha beta gamma delta"),
      (101L, "tiny doc")
    ).toDF("doc_id", "text")
    val m = Dedup.contaminationMatches(train, evalDocs, "doc_id", "text", n = 4)
    val got = m.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 100L) -> 1L, (4L, 100L) -> 1L, (3L, 101L) -> 1L),
      s"got $got")
    // the eval gram set must be the broadcast side
    assert(m.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val survivors = Dedup.dropContaminated(train, evalDocs, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(2L))
  }

  test("span dedup: first occurrence survives, later repeats scrubbed, docs reassemble in order") {
    // k=2 spans — doc 1: [a b][c d][e f]; doc 2: [a b][x y]; doc 3
    // repeats its own span and doc 1's; doc 4 is a full copy of doc 2
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b x y"),
      (3L, "p q p q c d"),
      (4L, "A, b x: y!")        // normalizes to doc 2's text
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(docs, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 3L, "a b c d e f")))  // all first occurrences
    assert(got(2L) == ((2L, 1L, "x y")))          // "a b" lost to doc 1
    assert(got(3L) == ((3L, 1L, "p q")))          // self-repeat + "c d" scrubbed
    assert(got(4L) == ((2L, 0L, "")))             // every span seen before
    // no window function over the corpus; winner election is an agg
    val plan = Dedup.dedupSpans(docs, "doc_id", "text", k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(600))
    intercept[IllegalArgumentException](
      Dedup.dedupSpans(docs, "doc_id", "text", k = 0))
  }

  test("dedupSubstrings: unaligned repeats drop, first copies survive, case preserved") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z w"),          // all first occurrences
      (2L, "q x y z r"),        // "x y z" at pos 2 repeats doc 1 pos 1
      (3L, "a b c a b c"),      // self-repeat: window at pos 4 == pos 1
      (4L, "A B C d"),          // hashes lowercase-equal to doc 3's run…
      (5L, "t u"),              // shorter than k: untouched
      (6L, "")                  // empty: untouched
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSubstrings(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("x y z w", 0L)))
    // doc 2: repeated window at pos 2 covers 2,3,4 → "q" and "r" survive
    assert(got(2L) == (("q r", 3L)))
    // doc 3: window pos 4 ("a b c") repeats pos 1 → 4,5,6 drop
    assert(got(3L) == (("a b c", 3L)))
    // doc 4: "A B C" == "a b c" (doc 3 pos 1 is first) → 1,2,3 drop;
    // surviving token keeps ORIGINAL case
    assert(got(4L) == (("d", 3L)))
    assert(got(5L) == (("t u", 0L)))
    assert(got(6L) == (("", 0L)))
  }

  test("dedupSubstrings / dropBoilerplateLines: NULL text degrades, never throws") {
    import spark.implicits._
    val docs = Seq((1L, "x y z w"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // rebuild UDF mirrors positionalGramHashes' null guard: NULL in,
    // NULL out, zero dropped — the whole job must not NPE
    val sub = Dedup.dedupSubstrings(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2)))).toMap
    assert(sub(1L) == ((Some("x y z w"), 0L)))
    assert(sub(2L) == ((None, 0L)))
    // posexplode_outer keeps the NULL-text doc in the output (empty
    // text, nothing dropped) instead of silently eliding it
    val boiler = Dedup.dropBoilerplateLines(docs, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(boiler.size == 2, s"NULL-text doc vanished: $boiler")
    assert(boiler(2L) == (("", 0L)))
  }

  test("appendToSketchTable: per-doc idempotent; streamed-in-pieces equals one-shot pairs") {
    import spark.implicits._
    val tbl = "graft_sketch_append_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.sources.Warehouse.clearOrphanLocation(spark, tbl)
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val clones = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" appended words")).as("text"))
    val all = docs.union(clones)
    // three appends with an OVERLAP (replay simulation): batch 2
    // re-delivers part of batch 1
    val b1 = all.filter(col("doc_id") % 3 === 0)
    val b2 = all.filter(col("doc_id") % 3 <= 1) // replays all of b1's %3==0
    val b3 = all
    Seq(b1, b2, b3).foreach(b =>
      Dedup.appendToSketchTable(spark, b, "doc_id", "text", tbl))
    // no doc sketched twice despite the replays
    val n = spark.table(tbl).count()
    assert(n == all.count(), s"replayed appends duplicated sketches: $n")
    val streamed = Dedup.minhashDedupFromSketches(spark.table(tbl), 0.8)
      .collect().map(_.toString).sorted.toSeq
    val oneShot = Dedup.minhashDedup(all, "doc_id", "text", 0.8)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == oneShot, "streamed sketch table diverged from batch build")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("dropBoilerplateLines: high-df lines drop everywhere, threshold and empties respected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "HEADER\nbody one\nHEADER\n\npromo"),  // in-doc repeat of HEADER
      (2L, "HEADER\nbody two\npromo"),
      (3L, "HEADER\nbody three"),
      (4L, "HEADER\nbody four\n  HEADER  ")       // trims to the same key
    ).toDF("doc_id", "text")
    // HEADER df=4/4 > 0.6 -> dropped (ALL occurrences, trimmed match
    // included); promo df=2/4=0.5 < 0.6 -> kept; empty line kept
    val got = Dedup.dropBoilerplateLines(docs, "doc_id", "text", 0.6)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("body one\n\npromo", 2L)))
    assert(got(2L) == (("body two\npromo", 1L)))
    assert(got(3L) == (("body three", 1L)))
    assert(got(4L) == (("body four", 2L)))
    // lower the bar: promo crosses too
    val strict = Dedup.dropBoilerplateLines(docs, "doc_id", "text", 0.4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strict(1L) == "body one\n" && strict(2L) == "body two")
    // minDocs floor: on a 1-doc corpus nothing can be boilerplate
    val solo = Dedup.dropBoilerplateLines(
      Seq((9L, "only\nonly")).toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .head()
    assert(solo.getString(1) == "only\nonly" && solo.getLong(2) == 0L)
  }

  test("dedupSubstrings: partition-independent; winner election is an agg, not a window") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    def run(parts: Int) = Dedup.dedupSubstrings(docs.repartition(parts),
        "doc_id", "text", k = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(run(1) == run(13), "kept text moved under repartitioning")
    val plan = Dedup.dedupSubstrings(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "first-occurrence election grew a window:\n" +
      plan.take(600))
    intercept[IllegalArgumentException](
      Dedup.dedupSubstrings(docs, "doc_id", "text", k = 1))
  }

  test("normalizeUnicode ahead of the fingerprint collapses visually-identical byte-variants") {
    import graft.functions.Text
    // composed é + curly quotes vs decomposed e+◌́ + ASCII quotes vs
    // NBSP/zero-width decoration: three byte-distinct renderings of
    // the SAME page text
    val variants = Seq(
      (1L, "café “quoted” body"),
      (2L, "café \"quoted\" body"),
      (3L, "café​ \"quoted\" body"),
      (4L, "a genuinely different body")).toDF("id", "raw")
    val digests = variants.select(col("id"),
        Text.fingerprintMd5(col("raw")).as("raw_fp"),
        Text.fingerprintMd5(Text.normalizeUnicode(col("raw"), form = "NFKC"))
          .as("norm_fp"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    // raw fingerprints do NOT collapse the variants: curly quotes,
    // the combining mark, ZWSP, and NBSP all survive normalizeText
    assert(digests.map(_._2).distinct.length == 4,
      s"raw fingerprints unexpectedly collapsed: $digests")
    // normalized fingerprints collapse 1=2=3 and keep 4 apart
    assert(digests(0)._3 == digests(1)._3 && digests(1)._3 == digests(2)._3,
      s"variants did not collapse: $digests")
    assert(digests(3)._3 != digests(0)._3)
  }

  test("contaminatedDocs: 13-gram overlap flags, short bench items match verbatim copies, anti-join decontaminates") {
    val w = (1 to 20).map(i => s"w$i") // 20 distinct corpus words
    val benchSent = (1 to 15).map(i => s"b$i").mkString(" ") // 15 bench words
    val benchSent2 = (1 to 15).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      // clean: shares no 13-gram with any bench item
      (1L, w.mkString(" ")),
      // contaminated: the 15-word bench item rides mid-document →
      // its 3 distinct grams all hit (boundary grams mix w-words and
      // are not bench grams)
      (2L, (w.take(5) ++ benchSent.split(" ") ++ w.drop(5)).mkString(" ")),
      // verbatim copy of a SHORT bench item (< 13 words → whole-text
      // gram) with case/punct slop the normalization absorbs; a short
      // item can only catch short verbatim docs — by design, the
      // GPT-3 fallback
      (3L, "The Secret Eval Answer!"),
      // hits TWO long bench items back to back: 3 grams each, the
      // boundary windows mixing b/c words match neither
      (4L, benchSent + " " + benchSent2))
      .toDF("doc_id", "text")
    val bench = Seq((10L, benchSent), (11L, "the secret eval answer"),
      (12L, benchSent2)).toDF("bench_id", "btext")
    val got = Dedup.contaminatedDocs(docs, "doc_id", "text",
        bench, "bench_id", "btext", n = 13)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 3L, 1L), (3L, 1L, 1L), (4L, 6L, 2L)),
      got.toString)
    // the composition: left-anti drops exactly the contaminated docs
    val kept = docs.join(
        Dedup.contaminatedDocs(docs, "doc_id", "text", bench,
          "bench_id", "btext", n = 13).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L), kept.toString)
    // scale shape: the benchmark side broadcasts; the corpus side
    // never exchanges (scan → broadcast join → one hash agg)
    val p = Dedup.contaminatedDocs(docs, "doc_id", "text", bench,
      "bench_id", "btext", n = 13).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("fuzzyContaminatedDocs: near-clones flag at their exact Jaccard, dilution passes, anti-join decontaminates, bench broadcasts") {
    val benchSent = (0 until 15).map(i => s"zqa$i").mkString(" ")
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, filler),                       // clean, disjoint vocabulary
      (2L, "zz " + benchSent),            // light edit: J = 0.9565
      (3L, benchSent),                    // verbatim copy: J = 1.0
      (4L, benchSent + " " + filler))     // diluted embed: J < 0.8
      .toDF("doc_id", "text")
    val bench = Seq((10L, benchSent)).toDF("bench_id", "btext")
    val got = Dedup.fuzzyContaminatedDocs(docs, "doc_id", "text",
        bench, "bench_id", "btext", threshold = 0.8)
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    // J(doc2) pinned against the brute-force char-5-gram truth: the
    // bench sentence has 66 distinct 5-grams, the "zz " prefix adds
    // exactly 3 seam grams -> 66/69 = 0.9565
    assert(got.map(x => (x._1, x._2)) == Seq((2L, 1L), (3L, 1L)),
      got.toString)
    assert(got(0)._3 == 0.9565 && got(1)._3 == 1.0, got.toString)
    // the composition: left-anti keeps the clean doc AND the diluted
    // one (the exact 13-gram gate's job, not this one's)
    val kept = docs.join(
        Dedup.fuzzyContaminatedDocs(docs, "doc_id", "text", bench,
          "bench_id", "btext", threshold = 0.8).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L, 4L), kept.toString)
    // scale shape: the shingle columns join onto the DEDUPED candidate
    // set (an ExistingRDD scan — the checkpointed distinct pairs), all
    // sides broadcast; no sort-merge join or cartesian product
    val p = Dedup.fuzzyContaminatedDocs(docs, "doc_id", "text", bench,
      "bench_id", "btext").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("ExistingRDD"),
      "verify must read the checkpointed candidate pairs:\n" + p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }
}
