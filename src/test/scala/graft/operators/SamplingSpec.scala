package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "documents")

  test("hashSample is deterministic and partitioning-independent") {
    val a = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs.repartition(13), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("hashSample hits the target fraction within binomial tolerance") {
    val n = docs.count().toDouble
    Seq(0.1, 0.5, 0.9).foreach { f =>
      val k = Sampling.hashSample(docs, "doc_id", f).count().toDouble
      val sd = math.sqrt(n * f * (1 - f))
      assert(math.abs(k - n * f) <= 5 * sd, s"f=$f got $k of $n (5sd=${5 * sd})")
    }
    assert(Sampling.hashSample(docs, "doc_id", 0.0).count() == 0)
    assert(Sampling.hashSample(docs, "doc_id", 1.0).count() == n.toLong)
  }

  test("different salts draw (near-)independent samples") {
    val a = Sampling.hashSample(docs, "doc_id", 0.5, salt = "s1")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs, "doc_id", 0.5, salt = "s2")
      .select("doc_id").as[Long].collect().toSet
    val n = docs.count().toDouble
    val overlap = (a & b).size.toDouble
    // independent 50% samples overlap on ~25% of rows
    assert(math.abs(overlap - n * 0.25) < 5 * math.sqrt(n * 0.25 * 0.75),
      s"overlap $overlap of $n")
    assert(a !== b)
  }

  test("stratifiedSample applies per-stratum fractions and drops absent strata") {
    val out = Sampling.stratifiedSample(docs, "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.0))
    val bySource = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val webTotal = docs.filter($"source" === "src0").count()
    assert(bySource.get("src0").contains(webTotal)) // fraction 1.0: all rows
    assert(!bySource.contains("src1"))             // fraction 0.0: none
    assert(bySource.keySet === Set("src0"))        // unlisted strata dropped
    // and a listed stratum samples by the same rule as hashSample
    val half = Sampling.stratifiedSample(docs, "doc_id", "source",
      Map("src2" -> 0.4)).select("doc_id").as[Long].collect().toSet
    val ref = Sampling.hashSample(docs.filter($"source" === "src2"), "doc_id", 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(half === ref)
  }

  test("fixedSizeSample returns exactly n deterministic rows via top-n, not a global sort") {
    val a = Sampling.fixedSizeSample(docs, "doc_id", 64)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.fixedSizeSample(docs.repartition(7), "doc_id", 64)
      .select("doc_id").as[Long].collect().toSet
    assert(a.size == 64 && a === b)
    // n larger than the table: the whole table
    assert(Sampling.fixedSizeSample(docs, "doc_id", 1000000).count() == docs.count())
    val plan = Sampling.fixedSizeSample(docs, "doc_id", 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("the sample predicate reaches the scan as a pushed/codegen filter — no shuffle") {
    val plan = Sampling.hashSample(docs, "doc_id", 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n${plan.take(600)}")
    // toString renders whole-stage codegen spans as "*(n)" prefixes
    assert(plan.contains("*(1) Filter"), plan.take(600))
  }

  test("epochMixture: whole copies + one fractional draw, absent strata drop, no shuffle") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "d"))
      .toDF("id", "src")
    val got = Sampling.epochMixture(df, "id", "src",
        Map("a" -> 2.5, "b" -> 1.0, "c" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // every 'a' row appears at epochs 0 and 1; epoch 2 is a 50% draw
    assert(Set(1L, 2L).flatMap(i => Set(i -> 0L, i -> 1L)).subsetOf(got))
    assert(got.filter(_._1 == 3L) == Set(3L -> 0L))   // b: exactly 1 copy
    assert(!got.exists(_._1 == 4L))                   // c: weight 0
    assert(!got.exists(_._1 == 5L))                   // d: absent stratum
    got.filter(t => t._1 <= 2 && t._2 == 2L).foreach { case (id, _) =>
      // the fractional copy obeys the md5 threshold exactly
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft_e$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      assert(hex < "80000000", s"id $id kept epoch 2 but hex $hex")
    }
    // fractional weights match the binomial expectation on a real corpus
    val big = Sampling.epochMixture(docs, "doc_id", "source",
      Map("src0" -> 3.5))
    val n = big.count()
    val base = docs.filter($"source" === "src0").count()
    assert(n >= base * 3 && n <= base * 4)
    val plan = big.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(600))
    intercept[IllegalArgumentException](
      Sampling.epochMixture(df, "id", "src", Map.empty))
    intercept[IllegalArgumentException](
      Sampling.epochMixture(df, "id", "src", Map("a" -> -1.0)))
  }

  test("splitAssign: total labeling, target fractions, partitioning-independent") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Sampling.splitAssign(docs, "doc_id", splits).select("doc_id", "split")
    val b = Sampling.splitAssign(docs.repartition(7), "doc_id", splits)
      .select("doc_id", "split")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val n = docs.count().toDouble
    val byLabel = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.values.sum == n.toLong, "not a total labeling")
    splits.foreach { case (name, f) =>
      val got = byLabel.getOrElse(name, 0L) / n
      // 3-sigma binomial tolerance at n=500
      assert(math.abs(got - f) <= 3 * math.sqrt(f * (1 - f) / n),
        s"$name: got $got want ~$f")
    }
    intercept[IllegalArgumentException](
      Sampling.splitAssign(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4)))
  }

  test("splitAssign on a cluster representative never splits a near-dup pair") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
    val comp = Components.connectedComponents(pairs, "doc_a", "doc_b")
    val withRep = docs.join(comp, docs("doc_id") === comp("node"), "left")
      .select(docs("doc_id"), coalesce(col("component"), docs("doc_id")).as("rep"))
    val split = Sampling.splitAssign(withRep, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), keyCol = Some("rep"))
    val straddlers = pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb"))
    assert(pairs.count() > 0, "fixture lost its near-dup pairs")
    assert(straddlers.count() == 0, "near-dup pairs split across train/eval")
  }

  test("shardAssign is a deterministic total assignment, independent of input partitioning") {
    val a = Sampling.shardAssign(docs, "doc_id", 16)
      .select("doc_id", "shard", "pos")
    val b = Sampling.shardAssign(docs.repartition(7), "doc_id", 16)
      .select("doc_id", "shard", "pos")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // total: every row assigned, positions are 0..count-1 per shard
    val n = docs.count()
    assert(a.count() == n)
    val perShard = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .collect()
    perShard.foreach { r =>
      assert(r.getLong(1) == r.getInt(3) + 1 && r.getInt(2) == 0,
        s"positions not dense in shard ${r.getInt(0)}: $r")
    }
    // balance: md5 spreads uniformly; no shard more than 2x the mean
    val sizes = perShard.map(_.getLong(1))
    assert(sizes.max <= 2 * n / 16, s"skewed shards: ${sizes.toSeq}")
  }

  test("writeSharded: one file per shard directory, rows in pos order inside each file") {
    val tmp = graft.sources.Scratch.dir("graft_shards").toString
    Sampling.writeSharded(docs, "doc_id", 16, tmp)
    val dirs = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("shard="))
    assert(dirs.length == 16, s"expected 16 shard dirs, got ${dirs.length}")
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: expected 1 file, got ${files.length}")
      // a single small parquet file reads back in its written row order
      val pos = spark.read.parquet(files.head.getPath)
        .select("pos").collect().map(_.getInt(0)).toSeq
      assert(pos == pos.sorted, s"${d.getName} not in pos order")
      assert(pos.head == 0 && pos.last == pos.size - 1)
    }
  }

  test("topFractionBy keeps each group's ceil(frac*n) best, ties by id") {
    val df = Seq(
      // group a: 3 rows, scores 30 > 20 > 10 -> keep ceil(1.5)=2 best
      (1L, "a", 30L), (2L, "a", 20L), (3L, "a", 10L),
      // group b: tie on score 5 -> lowest id wins the single slot
      (10L, "b", 5L), (11L, "b", 5L),
      // group c: singleton always survives at frac > 0
      (20L, "c", -7L))
      .toDF("id", "grp", "score")
    val kept = Sampling.topFractionBy(df, "grp", "score", "id", fraction = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 10L, 20L), s"kept $kept")
    // fraction 1 keeps everything; fraction 0 keeps nothing
    assert(Sampling.topFractionBy(df, "grp", "score", "id", 1.0).count() == 6)
    assert(Sampling.topFractionBy(df, "grp", "score", "id", 0.0).count() == 0)
  }

  test("topFractionBy equals the single-window form on a dominant skewed group") {
    // one group carries 90% of the rows with heavy score ties (the
    // web-crawl mixture shape the two-pass threshold select exists
    // for); a small group and a null-key group ride along
    val rows =
      (0 until 9000).map(i => (i.toLong, "big", (i % 7).toLong)) ++
      (0 until 100).map(i => (10000L + i, "small", (i % 3).toLong)) ++
      (0 until 50).map(i => (20000L + i, null.asInstanceOf[String], 1L))
    val df = rows.toDF("id", "grp", "score").repartition(8)
    for (f <- Seq(0.25, 0.5, 0.9)) {
      val got = Sampling.topFractionBy(df, "grp", "score", "id", f)
        .select("id").as[Long].collect().toSet
      // reference: the old one-window form, inline
      import org.apache.spark.sql.expressions.Window
      val ranked = Window.partitionBy("grp").orderBy(col("score").desc, col("id"))
      val want = df
        .withColumn("__rn", row_number().over(ranked))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("grp")))
        .filter(col("__rn") <= ceil(col("__n") * f))
        .select("id").as[Long].collect().toSet
      assert(got == want, s"fraction $f: kept set diverged from the window form")
    }
  }

  test("topFractionBy plan: no window runs over the raw input — only histogram and tie windows") {
    val df = (0 until 1000).map(i => (i.toLong, s"g${i % 3}", (i % 11).toLong))
      .toDF("id", "grp", "score")
    val out = Sampling.topFractionBy(df, "grp", "score", "id", 0.5)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Window => LWindow}
    val wins = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    // every window must sit above an Aggregate (the histogram) or a
    // Filter (the tie set) — a window whose subtree has neither is the
    // old full-group sort over raw rows
    wins.foreach { w =>
      val gated = w.child.collectFirst {
        case f: Filter => f
        case a: Aggregate => a
      }.isDefined
      assert(gated, "a window runs over ungated raw input:\n" + w.toString.take(600))
    }
    // NULL scores: sort after every non-null score, like the desc
    // window default
    val withNulls = Seq((1L, "a", Some(5L)), (2L, "a", Some(4L)),
      (3L, "a", None), (4L, "a", None))
      .toDF("id", "grp", "score")
    val kept = Sampling.topFractionBy(withNulls, "grp", "score", "id", 0.75)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"null-score ordering broke: $kept")
  }

  test("tokenBudgetBy keeps the score-ordered prefix whose running weight fits the budget") {
    val df = Seq(
      // group a, budget 10: scores 30(w4) > 20(w5) > 10(w5) ->
      // 4, then 4+5=9 fits, 9+5=14 overflows -> keep ids 1,2
      (1L, "a", 30L, 4L), (2L, "a", 20L, 5L), (3L, "a", 10L, 5L),
      // group b: tie at score 5, ids 10(w6),11(w6) -> 6 fits,
      // 12 overflows -> lowest id wins
      (10L, "b", 5L, 6L), (11L, "b", 5L, 6L),
      // group c: total weight 3 <= 10 -> no crossing, keep all
      (20L, "c", -7L, 3L))
      .toDF("id", "grp", "score", "w")
    val kept = Sampling.tokenBudgetBy(df, "grp", "score", "id", "w", 10L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 10L, 20L), s"kept $kept")
    // budget 0 keeps only zero-weight prefixes (none here)
    assert(Sampling.tokenBudgetBy(df, "grp", "score", "id", "w", 0L).count() == 0)
    // a zero-weight row rides free ahead of the crossing
    val zw = Seq((1L, "a", 9L, 0L), (2L, "a", 8L, 7L), (3L, "a", 7L, 7L))
      .toDF("id", "grp", "score", "w")
    val zk = Sampling.tokenBudgetBy(zw, "grp", "score", "id", "w", 7L)
      .select("id").as[Long].collect().toSet
    assert(zk == Set(1L, 2L), s"zero-weight row mishandled: $zk")
  }

  test("tokenBudgetBy equals the single-window cumsum form on a dominant skewed group") {
    // one group carries 90% of the rows with heavy score ties; a small
    // group, a null-key group, and null scores/weights ride along
    val rows =
      (0 until 9000).map(i => (i.toLong, "big", (i % 7).toLong, (i % 5).toLong + 1)) ++
      (0 until 100).map(i => (10000L + i, "small", (i % 3).toLong, 2L)) ++
      (0 until 50).map(i => (20000L + i, null.asInstanceOf[String], 1L, 1L))
    val df = rows.toDF("id", "grp", "score", "w").repartition(8)
    for (b <- Seq(0L, 37L, 5000L, 1000000L)) {
      val got = Sampling.tokenBudgetBy(df, "grp", "score", "id", "w", b)
        .select("id").as[Long].collect().toSet
      import org.apache.spark.sql.expressions.Window
      val ordered = Window.partitionBy("grp")
        .orderBy(col("score").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df
        .withColumn("__cum", sum(coalesce(col("w"), lit(0L))).over(ordered))
        .filter(col("__cum") <= b)
        .select("id").as[Long].collect().toSet
      assert(got == want, s"budget $b: kept set diverged from the window form " +
        s"(got ${got.size}, want ${want.size})")
    }
    // null scores order last; null weights count 0
    val withNulls = Seq(
      (1L, "a", Some(5L), Some(4L)), (2L, "a", Some(4L), None),
      (3L, "a", None, Some(2L)), (4L, "a", None, Some(9L)))
      .toDF("id", "grp", "score", "w")
    val kept = Sampling.tokenBudgetBy(withNulls, "grp", "score", "id", "w", 6L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"null score/weight ordering broke: $kept")
  }

  test("tokenBudgetBy honors per-group budget frames and gates every window") {
    val df = (0 until 1200).map(i => (i.toLong, s"g${i % 3}", (i % 11).toLong, 3L))
      .toDF("id", "grp", "score", "w")
    val budgets = Seq(("g0", 30L), ("g1", 300L), ("g2", 1000000L))
      .toDF("grp", "budget")
    val out = Sampling.tokenBudgetBy(df, "grp", "score", "id", "w", budgets)
    val perGroup = out.groupBy("grp").agg(sum("w").as("tw"))
      .as[(String, Long)].collect().toMap
    assert(perGroup("g0") <= 30L && perGroup("g0") > 30L - 3L)
    assert(perGroup("g1") <= 300L && perGroup("g1") > 300L - 3L)
    assert(perGroup("g2") == 1200L, s"unbounded group clipped: $perGroup")
    // plan: every window sits above the histogram Aggregate or the tie
    // Filter — never over raw input rows
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Window => LWindow}
    val wins = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val gated = w.child.collectFirst {
        case f: Filter => f
        case a: Aggregate => a
      }.isDefined
      assert(gated, "a window runs over ungated raw input:\n" + w.toString.take(600))
    }
  }

  test("topFractionBy/tokenBudgetBy: continuous scores — bounded class histogram, exact selection") {
    // 90%-skew fixture with CONTINUOUS scores: every row a distinct
    // double spanning ~30 binades (heavy-tailed, like perplexities).
    // A raw-score histogram would be |rows| here; the class histogram
    // must stay ≤ 2^classBits while the kept set stays bit-identical
    // to the single-window reference.
    val rows =
      (0 until 9000).map(i =>
        (i.toLong, "big", math.sin(i * 0.7318) * math.exp((i % 31) - 15.0))) ++
      (0 until 300).map(i => (10000L + i, "small", 1.0 / (i + 3))) ++
      (0 until 50).map(i => (20000L + i, null.asInstanceOf[String], i * 0.01))
    val df = rows.toDF("id", "grp", "score").repartition(8)
    import org.apache.spark.sql.expressions.Window
    val bits = 8 // tiny class space: ≤256 classes vs 9350 distinct scores
    val nCls = df.filter(col("grp") === "big")
      .select(shiftright(graft.expressions.ScalarExpressions
        .sortableBits(col("score")), 64 - bits))
      .distinct().count()
    assert(nCls <= (1L << bits) && nCls < 9000,
      s"class space not bounded: $nCls classes")
    for (f <- Seq(0.25, 0.7)) {
      val got = Sampling.topFractionBy(df, "grp", "score", "id", f, classBits = bits)
        .select("id").as[Long].collect().toSet
      val ranked = Window.partitionBy("grp").orderBy(col("score").desc, col("id"))
      val want = df
        .withColumn("__rn", row_number().over(ranked))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("grp")))
        .filter(col("__rn") <= ceil(col("__n") * f))
        .select("id").as[Long].collect().toSet
      assert(got == want, s"fraction $f: continuous-score kept set diverged")
    }
    // budget form on the same fixture (weight = id % 5 + 1)
    val wdf = df.withColumn("w", col("id") % 5 + 1)
    for (b <- Seq(41L, 7000L)) {
      val got = Sampling.tokenBudgetBy(wdf, "grp", "score", "id", "w", b, classBits = bits)
        .select("id").as[Long].collect().toSet
      val ordered = Window.partitionBy("grp")
        .orderBy(col("score").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = wdf
        .withColumn("__cum", sum(col("w")).over(ordered))
        .filter(col("__cum") <= b)
        .select("id").as[Long].collect().toSet
      assert(got == want, s"budget $b: continuous-score kept set diverged")
    }
    // gated-window plan shape holds on the continuous path too: every
    // window sits above the class-histogram Aggregate or the boundary
    // Filter, never over raw input rows
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Window => LWindow}
    val plan = Sampling.topFractionBy(df, "grp", "score", "id", 0.5)
    val wins = plan.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val gated = w.child.collectFirst {
        case f: Filter => f
        case a: Aggregate => a
      }.isDefined
      assert(gated, "a window runs over ungated raw input:\n" + w.toString.take(600))
    }
    // special values route like Spark's double order: NaN largest,
    // ±0.0 equal (id tiebreak)
    val edge = Seq((1L, "e", Double.NaN), (2L, "e", Double.PositiveInfinity),
      (3L, "e", 0.0), (4L, "e", -0.0)).toDF("id", "grp", "score")
    val keptEdge = Sampling.topFractionBy(edge, "grp", "score", "id", 0.75, classBits = bits)
      .select("id").as[Long].collect().toSet
    assert(keptEdge == Set(1L, 2L, 3L), s"special-value ordering broke: $keptEdge")
  }

  test("export manifest: clean audit passes; a tampered shard is flagged precisely") {
    import spark.implicits._
    val dir = graft.sources.Scratch.dir("graft_export_spec").toString
    val df = (0L until 400L).map(i => (i, s"doc $i")).toDF("id", "text")
    Sampling.writeShardedWithManifest(df, "id", 8, dir)
    val clean = Sampling.verifyShardedExport(spark, dir, "id")
    assert(clean.count() == 8L)
    assert(clean.filter(!col("ok")).count() == 0L, "clean export must audit ok")
    // tamper: drop shard 3's data file entirely
    val shard3 = new java.io.File(s"$dir/shard=3")
    shard3.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val audited = Sampling.verifyShardedExport(spark, dir, "id")
      .collect().map(r => r.getInt(0) -> r.getBoolean(4)).toMap
    assert(!audited(3), "the gutted shard must flag")
    assert((0 to 7).filter(_ != 3).forall(audited(_)),
      s"only shard 3 should flag: $audited")
  }

  test("export manifest: overflow-safe for raw 64-bit hash ids (incl. negative)") {
    import spark.implicits._
    // ids at the extremes of Long: unfolded Σid² would overflow ANSI
    // Long arithmetic on the very first row — the mod-P fold + decimal
    // sums must stay exact, audit clean, and still catch a lost row
    val dir = graft.sources.Scratch.dir("graft_export_hash").toString
    val ids = Seq(Long.MaxValue, Long.MinValue + 1, -1L, 0L,
      7450580853294637803L, -8122186245280505352L) ++
      (1L to 200L).map(i => i * 40499421617L - 4000000000000L)
    val df = ids.map(i => (i, s"doc $i")).toDF("id", "text")
    Sampling.writeShardedWithManifest(df, "id", 4, dir)
    val clean = Sampling.verifyShardedExport(spark, dir, "id")
    assert(clean.filter(!col("ok")).isEmpty, "hash-id export must audit ok")
    // remove one row's worth of a shard by rewriting it short
    val all = spark.read.parquet(dir)
    val victim = all.select("shard").as[Int].head()
    val trimmed = all.filter(col("shard") === victim)
      .orderBy("id").limit(1).select("id").as[Long].head()
    val rest = all.filter(col("shard") === victim && col("id") =!= trimmed)
      .drop("shard")
    val tmp = graft.sources.Scratch.dir("graft_export_rewrite").toString
    rest.write.mode("overwrite").parquet(tmp)
    val sdir = new java.io.File(s"$dir/shard=$victim")
    sdir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) => java.nio.file.Files.move(f.toPath,
          new java.io.File(sdir, s"part-rw-$i.parquet").toPath)
      }
    val audited = Sampling.verifyShardedExport(spark, dir, "id")
      .collect().map(r => r.getInt(0) -> r.getBoolean(4)).toMap
    assert(!audited(victim), "the trimmed shard must flag")
    assert(audited.count(!_._2) == 1, s"only one shard should flag: $audited")
  }

  test("temperatureQuotas: hand-computed largest-remainder apportionment") {
    // perfect squares → exact sqrt weights 10:5:2:1 (scaling cancels)
    val counts = Seq("a" -> 100L, "b" -> 25L, "c" -> 4L, "d" -> 1L)
    assert(Sampling.temperatureQuotas(counts, 18L) ==
      Seq("a" -> 10L, "b" -> 5L, "c" -> 2L, "d" -> 1L))
    // T=10: raw floors 5,2,1,0 rem 10,14,2,10 of 18; leftover 2 bumps
    // b (rem 14) then a (rem 10, ties d — 'a' < 'd' wins)
    assert(Sampling.temperatureQuotas(counts, 10L) ==
      Seq("a" -> 6L, "b" -> 3L, "c" -> 1L, "d" -> 0L))
    // quota caps at the stratum size; the surplus is NOT redistributed
    val capped = Sampling.temperatureQuotas(Seq("a" -> 1L, "b" -> 100L), 50L)
    assert(capped.toMap.apply("a") == 1L)
    assert(capped.map(_._2).sum < 50L)
    // alpha < 1 over-represents the low-resource stratum vs proportional
    val q = Sampling.temperatureQuotas(counts, 10L).toMap
    assert(q("d").toDouble / 1L >= 0.0 &&
      q("b").toDouble / 25L > q("a").toDouble / 100L,
      s"temperature must up-weight low-resource strata: $q")
    intercept[IllegalArgumentException](
      Sampling.temperatureQuotas(Seq("a" -> 1L, "a" -> 2L), 5L))
  }

  test("temperatureMixture: kept set == per-stratum smallest digests, exactly quota-many") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed: g0 dominates; prefixLen=1 forces real prefix boundaries
    val df = (0 until 900).map(i => (i.toLong, if (i < 700) "g0" else s"g${1 + i % 2}"))
      .toDF("id", "grp")
    val kept = Sampling.temperatureMixture(df, "id", "grp", totalTarget = 120L,
      prefixLen = 1)
    val counts = df.groupBy("grp").count().as[(String, Long)].collect().toSeq
    val quotas = Sampling.temperatureQuotas(counts, 120L).toMap
    // naive reference: rank by (md5 digest, id) within each stratum
    val w = Window.partitionBy("grp")
      .orderBy(md5(concat(lit("graft"), col("id").cast("string"))), col("id"))
    val want = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= quotas.foldLeft(lit(0L)) { case (acc, (g, q)) =>
        when(col("grp") === g, lit(q)).otherwise(acc) })
      .select("id").as[Long].collect().toSet
    val got = kept.select("id").as[Long].collect().toSet
    assert(got == want, s"kept set diverged (got ${got.size}, want ${want.size})")
    val perG = kept.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(perG == quotas.filter(_._2 > 0), s"per-stratum sizes: $perG vs $quotas")
  }

  test("temperatureMixture: partition-independent; null strata dropped; windows gated") {
    import spark.implicits._
    val base = (0 until 300).map(i =>
      (i.toLong, if (i % 29 == 0) null else s"s${i % 4}")).toDF("id", "grp")
    def ids(parts: Int) = Sampling.temperatureMixture(
        base.repartition(parts), "id", "grp", 80L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids(1) == ids(17), "membership moved under repartitioning")
    assert(Sampling.temperatureMixture(base.filter(col("grp").isNull),
      "id", "grp", 10L).count() == 0L)
    // skew-safety: every window sits above an Aggregate or a Filter,
    // never over the raw input
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Window => LWindow}
    val plan = Sampling.temperatureMixture(base, "id", "grp", 80L)
      .queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val gated = w.child.collectFirst {
        case f: Filter => f
        case a: Aggregate => a
      }.isDefined
      assert(gated, "a window runs over ungated raw input:\n" + w.toString.take(600))
    }
  }

  test("splitLeakage: duplicate groups spanning splits report; same-split and singleton groups do not; rep-keyed splits leak zero") {
    import spark.implicits._
    // explicit split labels pin the semantics without hash dependence
    val labeled = Seq(
      (1L, "same text", "train"), (2L, "same text", "test"),
      (3L, "same text", "train"),
      (4L, "unique text", "train"),
      (5L, "other text", "val"), (6L, "other text", "val"))
      .toDF("doc_id", "text", "split")
    val got = Sampling.splitLeakage(labeled, "doc_id", "text", "split")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L, "test,train")), got.toString)
    // the regression composition: a CLUSTER-REPRESENTATIVE-keyed split
    // (the q78b discipline) puts every duplicate in one split — the
    // audit over it must report ZERO leaking groups, while the naive
    // id-keyed split over the same clones leaks some
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val all = docs.unionByName(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val naive = Sampling.splitAssign(all, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(Sampling.splitLeakage(naive, "doc_id", "text", "split")
      .count() > 0, "the naive split should leak on this fixture")
    val withRep = all.withColumn("rep",
      when(col("doc_id") >= 100000L, col("doc_id") - 100000L)
        .otherwise(col("doc_id")))
    val keyed = Sampling.splitAssign(withRep, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      keyCol = Some("rep"))
    assert(Sampling.splitLeakage(keyed, "doc_id", "text", "split")
      .isEmpty, "rep-keyed splits must never leak exact duplicates")
  }

  test("valueRankBuckets: value-block rank intervals, ties never split") {
    // group g, scores desc: 9.0×2, 7.0×1, 5.0×3, 3.0×1 → n=7
    // lo: 9→0, 7→2, 5→3, 3→6; bucket = lo*3 div 7 → 0, 0, 1, 2
    val df = Seq(
      (1L, "g", 9.0), (2L, "g", 9.0), (3L, "g", 7.0), (4L, "g", 5.0),
      (5L, "g", 5.0), (6L, "g", 5.0), (7L, "g", 3.0),
      // second group: 2 values × 1 row → buckets 0 and 1 of 3
      (8L, "h", 1.0), (9L, "h", 0.5)
    ).toDF("id", "grp", "score")
    val got = Sampling.valueRankBuckets(df, "grp", "score", 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1, 6L -> 1,
      7L -> 2, 8L -> 0, 9L -> 1), s"got $got")
    // ascending flips the ends, ties still whole: 3.0→0, 5.0×3→0 ...
    val asc = Sampling.valueRankBuckets(df.filter(col("grp") === "g"),
        "grp", "score", 3, descending = false)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    assert(asc == Map(7L -> 0, 4L -> 0, 5L -> 0, 6L -> 0, 3L -> 1,
      1L -> 2, 2L -> 2), s"got $asc")
    // one bucket: everything is bucket 0
    assert(Sampling.valueRankBuckets(df, "grp", "score", 1)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
  }

  test("rejectionSample: deterministic argmax with id ties, per-pick margin, NULL margin on singletons") {
    import spark.implicits._
    val cands = Seq(
      (1L, 10L, 5L), (2L, 10L, 9L), (3L, 10L, 9L), (4L, 10L, 1L),
      (5L, 20L, 7L)) // singleton group
      .toDF("doc_id", "prompt_id", "reward")
    val top1 = Sampling.rejectionSample(cands, "prompt_id", "reward",
        "doc_id")
      .select("prompt_id", "doc_id", "reward", "margin", "pick_rank")
      .as[(Long, Long, Long, Option[Long], Int)].collect().toSet
    // the 9-reward tie resolves to the smaller id; its margin vs the
    // other 9 is ZERO — the "reward model couldn't separate" flag —
    // and the singleton's winner has no margin at all
    assert(top1 == Set((10L, 2L, 9L, Some(0L), 0),
      (20L, 5L, 7L, None, 0)), top1.toString)
    // best-of-2: pick ranks in order, each margin the gap to the NEXT
    // candidate (id3's runner-up is the 5)
    val top2 = Sampling.rejectionSample(cands, "prompt_id", "reward",
        "doc_id", keep = 2)
      .filter($"prompt_id" === 10L).orderBy("pick_rank")
      .select("doc_id", "margin").as[(Long, Option[Long])].collect().toSeq
    assert(top2 == Seq((2L, Some(0L)), (3L, Some(4L))), top2.toString)
  }
}
