package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
  private lazy val dim = 64

  private def vecOf(id: Long): Seq[Float] =
    emb.filter($"vec_id" === id).select("embedding")
      .collect().head.getSeq[Float](0)

  test("brute-force top-k: query vector ranks itself first with cosine 1") {
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", vecOf(0), k = 10)
      .collect()
    assert(top.length == 10)
    assert(top.head.getLong(0) == 0L && math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val sims = top.map(_.getDouble(1))
    assert(sims.sliding(2).forall(p => p(0) >= p(1)), "descending order")
  }

  test("brute-force matches a driver-side exact computation") {
    val q = vecOf(0).map(_.toDouble).toArray
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = all.map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding", vecOf(0), k = 5)
      .collect().map(_.getLong(0))
    assert(got.toSeq == expected.toSeq)
  }

  test("knn join: every query gets k ranked neighbors, self excluded") {
    val queries = emb.filter($"vec_id".isin(0, 1, 2))
    val knn = Similarity.knnJoin(emb, queries, "vec_id", "vec_id", "embedding", k = 5)
      .collect()
    assert(knn.length == 15)
    assert(!knn.exists(r => r.getLong(0) == r.getLong(1)), "self excluded")
    val byQuery = knn.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val ranked = rows.sortBy(_.getInt(3))
      assert(ranked.map(_.getInt(3)).toSeq == (1 to 5))
      val sims = ranked.map(_.getDouble(2))
      assert(sims.sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("knn join broadcast: plan broadcasts the query side") {
    val queries = emb.filter($"vec_id".isin(0, 1, 2))
    val plan = Similarity.knnJoin(emb, queries, "vec_id", "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), "query side must broadcast")
  }

  test("LSH top-k: results agree with direct cosine; candidates share buckets") {
    val queries = emb.filter($"vec_id".isin(0, 1, 2, 3, 4))
    val got = Similarity.lshTopK(emb, queries, "vec_id", "vec_id", "embedding",
      dim, k = 5, planes = 4).collect()
    assert(got.nonEmpty, "4 planes / 16 buckets over 500 vectors must collide")
    // every reported cosine matches an independent computation
    val cache = collection.mutable.Map.empty[Long, Array[Double]]
    def v(id: Long) = cache.getOrElseUpdate(id, vecOf(id).map(_.toDouble).toArray)
    got.foreach { r =>
      val (qid, cid, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val a = v(qid); val b = v(cid)
      val d = a.zip(b).map(p => p._1 * p._2).sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      assert(math.abs(d - c) < 1e-4, s"cosine($qid,$cid)")
    }
  }

  test("codegen cosine expression is bit-identical to the HOF form and codegen'd") {
    val q = vecOf(0)
    val hof = Similarity.dot($"embedding", typedlit(q)) /
      (Similarity.norm($"embedding") * Similarity.norm(typedlit(q)))
    val rows = emb.select($"vec_id",
        graft.expressions.VectorExpressions.cosineF($"embedding", typedlit(q)).as("native"),
        hof.as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: native=${r.getDouble(1)} hof=${r.getDouble(2)}")
    }
    // mismatched lengths → NULL (zip_with padding semantics)
    val bad = emb.limit(1).select(
      graft.expressions.VectorExpressions.cosineF($"embedding",
        typedlit(Seq(1.0f, 2.0f))).as("c")).collect().head
    assert(bad.isNullAt(0))
    // a NULL element anywhere → NULL (HOF: null element nulls the fold)
    val nullElem = spark.sql(
      """SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS a,
                array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS b""")
      .select(graft.expressions.VectorExpressions.cosineF($"a", $"b").as("c"),
        graft.expressions.VectorExpressions.dotF($"a", $"b").as("d"))
      .collect().head
    assert(nullElem.isNullAt(0) && nullElem.isNullAt(1))
    // the expression must run inside whole-stage codegen, not fall back:
    // the compact plan marks codegen'd operators with a `*(stage)` prefix
    val plan = emb.select(
      graft.expressions.VectorExpressions.cosineF($"embedding", typedlit(q)))
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[fvec_cosine.*"), plan)
  }

  test("native cosine/dot accept array<double> (parity with the HOF forms)") {
    // embeddings widened to double must analyze and agree with the HOF
    // computation (pre-round-2 callers used the generic HOF on doubles)
    val dbl = emb.limit(50).select($"vec_id",
      $"embedding".cast("array<double>").as("dvec"))
    val q = vecOf(0).map(_.toDouble)
    val rows = dbl.select($"vec_id",
        graft.expressions.VectorExpressions.cosineF($"dvec", typedlit(q)).as("native"),
        (Similarity.dot($"dvec", typedlit(q)) /
          (Similarity.norm($"dvec") * Similarity.norm(typedlit(q)))).as("hof"),
        graft.expressions.VectorExpressions.dotF($"dvec", typedlit(q)).as("ndot"),
        Similarity.dot($"dvec", typedlit(q)).as("hdot"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12, s"cosine vec ${r.getLong(0)}")
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1e-12, s"dot vec ${r.getLong(0)}")
    }
    // mixed float/double also analyzes (promoted to double arithmetic)
    val mixed = emb.limit(5).select(
      graft.expressions.VectorExpressions.cosineF($"embedding",
        typedlit(q)).as("c")).collect()
    assert(mixed.forall(r => math.abs(r.getDouble(0)) <= 1.0 + 1e-9))
  }

  test("knn join plan: bounded top-k aggregate, no per-query window exchange") {
    val queries = emb.filter($"vec_id".isin(0, 1, 2))
    val plan = Similarity.knnJoin(emb, queries, "vec_id", "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "per-query window rank funnels all scored rows to one partition per query")
    assert(plan.contains("ObjectHashAggregate"),
      "top-k must plan as a partial (map-side combine) aggregate")
    // partial_topkaggregator before the exchange = map-side combine
    assert(plan.toLowerCase.contains("partial_topkaggregator"),
      "aggregate must run in partial mode before the shuffle")
  }

  test("LSH: null vectors go unbucketed (no crash); dim mismatch errors loudly") {
    val withNull = emb.select("vec_id", "embedding")
      .union(Seq((8888L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val sigs = withNull.select($"vec_id",
      Similarity.hyperplaneSignature($"embedding", dim, planes = 4).as("sig"))
    assert(sigs.filter($"vec_id" === 8888L).collect().head.isNullAt(1))
    assert(sigs.filter($"sig".isNotNull).count() == emb.count())
    val err = intercept[Exception] {
      emb.select(Similarity.hyperplaneSignature($"embedding", dim = 32, planes = 4))
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("LSH multi-table OR-amplification lifts recall past the single-table ceiling") {
    // Deterministic on fixed data + seeded hyperplanes: recall@5 vs the
    // exact answer for 5 queries. One 4-plane table caps per-neighbor
    // recall at p_agree^4 with no second chance (measured 0.16 here);
    // 4 independent tables lift it to 1-(1-p)^4 (measured 0.36). The
    // 0.3 bound separates them: the single-table design cannot pass it.
    val queries = emb.filter($"vec_id" < 5)
    def recallAt(tables: Int): Double = {
      val got = Similarity.lshTopK(emb, queries, "vec_id", "vec_id", "embedding",
        dim, k = 5, planes = 4, tables = tables).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      (0 until 5).map { qid =>
        val exact = Similarity.bruteForceTopK(
          emb.filter($"vec_id" =!= qid.toLong), "vec_id", "embedding",
          vecOf(qid.toLong), k = 5).collect().map(_.getLong(0)).toSet
        (exact & got.getOrElse(qid.toLong, Set.empty)).size / 5.0
      }.sum / 5.0
    }
    val single = recallAt(1)
    val multi = recallAt(4)
    assert(multi > single,
      s"OR-amplification must add recall: single=$single multi=$multi")
    assert(multi >= 0.3, s"multi-table recall@5 below bound: $multi")
    assert(single < 0.3,
      s"single-table unexpectedly passes the bound ($single) — bound is stale")
  }

  test("LSH multi-probe recovers neighbors a single exact-bucket table misses") {
    // same deterministic setup: query-side 1-bit-flip probing must lift
    // recall over the exact-bucket single table at zero corpus cost
    val queries = emb.filter($"vec_id" < 5)
    def recallAt(adjacent: Boolean): Double = {
      val got = Similarity.lshTopK(emb, queries, "vec_id", "vec_id", "embedding",
        dim, k = 5, planes = 4, tables = 1, probeAdjacent = adjacent).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      (0 until 5).map { qid =>
        val exact = Similarity.bruteForceTopK(
          emb.filter($"vec_id" =!= qid.toLong), "vec_id", "embedding",
          vecOf(qid.toLong), k = 5).collect().map(_.getLong(0)).toSet
        (exact & got.getOrElse(qid.toLong, Set.empty)).size / 5.0
      }.sum / 5.0
    }
    val exactOnly = recallAt(false)
    val probed = recallAt(true)
    assert(probed > exactOnly,
      s"multi-probe must add recall: exact=$exactOnly probed=$probed")
  }

  test("IVF top-k: ranked per-query results with usable recall vs brute force") {
    val queries = emb.filter($"vec_id".isin(0, 1, 2, 3, 4))
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 8).collect()
    assert(ivf.nonEmpty)
    val byQuery = ivf.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L, 4L), "every query answered")
    byQuery.values.foreach { rows =>
      val ranked = rows.sortBy(_.getInt(3))
      assert(ranked.map(_.getInt(3)).toSeq == (1 to ranked.length))
      val sims = ranked.map(_.getDouble(2))
      assert(sims.sliding(2).forall(p => p(0) >= p(1)))
    }
    assert(!ivf.exists(r => r.getLong(0) == r.getLong(1)), "self excluded")
    // recall@5 against the exact answer, averaged over the 5 queries
    val recalls = (0 until 5).map { qid =>
      val exact = Similarity.bruteForceTopK(
        emb.filter($"vec_id" =!= qid.toLong), "vec_id", "embedding",
        vecOf(qid.toLong), k = 5).collect().map(_.getLong(0)).toSet
      val got = byQuery(qid.toLong).map(_.getLong(1)).toSet
      (exact & got).size / 5.0
    }
    val avgRecall = recalls.sum / recalls.size
    assert(avgRecall >= 0.5, s"IVF nprobe=8/16 recall too low: $recalls")
  }

  test("IVF cell assignment stays O(1) in the plan as nlist grows") {
    // The kernel closes over the centroid matrix; the plan must carry
    // ONE cell-assignment call per side regardless of nlist — the
    // per-centroid literal-cosine chain this replaced grew the
    // expression tree (and codegen) linearly with nlist and evaluated
    // it twice (best cell + probe cells).
    val big = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val queries = big.filter($"vec_id" < 3)
    def planOf(nlist: Int): String =
      Similarity.ivfTopK(big, queries, "vec_id", "vec_id", "embedding",
        k = 5, nlist = nlist, nprobe = 4)
        .queryExecution.executedPlan.toString
    val p16 = planOf(16)
    val p256 = planOf(256)
    assert(!p256.contains("fvec_cosine") ||
      "fvec_cosine".r.findAllIn(p256).size == "fvec_cosine".r.findAllIn(p16).size,
      "per-centroid cosine chain leaked back into the plan")
    // 16x the centroids must not inflate the plan (literal chains did)
    assert(p256.length <= p16.length + 256,
      s"plan grew with nlist: ${p16.length} -> ${p256.length}")
    // and the big-nlist index still executes and answers every query
    val rows = Similarity.ivfTopK(big, queries, "vec_id", "vec_id", "embedding",
      k = 5, nlist = 256, nprobe = 16).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
  }

  test("nearestCells kernel matches the independent greatest-chain semantics") {
    // property check against the replaced plan form: greatest(struct
    // (sim, cell)) over per-centroid codegen'd cosines — including the
    // tie rule (higher cell wins) and probe ordering
    val centroids = emb.filter($"vec_id" < 8).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val sims = centroids.toSeq.map(c =>
      graft.expressions.VectorExpressions.cosineF($"embedding", typedlit(c.toSeq)))
    val chainBest = greatest(sims.zipWithIndex.map { case (s, i) =>
      struct(s.as("sim"), lit(i).as("cell")) }: _*).getField("cell")
    val chainProbe = slice(reverse(array_sort(array(
        sims.zipWithIndex.map { case (s, i) =>
          struct(s.as("sim"), lit(i).as("cell")) }: _*))), 1, 3)
      .getField("cell")
    val rows = emb.select($"vec_id", chainBest.as("cb"), chainProbe.as("cp"),
        $"embedding").collect()
    rows.foreach { r =>
      val vec = r.getSeq[Float](3)
      val kernel = Sketches.nearestCells(vec, centroids, 3)
      assert(kernel.head == r.getInt(1),
        s"best cell diverged for vec ${r.getLong(0)}")
      assert(kernel.toSeq == r.getSeq[Int](2),
        s"probe order diverged for vec ${r.getLong(0)}")
    }
  }

  test("degenerate LSH parameters are rejected at plan time") {
    intercept[IllegalArgumentException] {
      Sketches.signMatrix(tables = 1, planes = 65, dim = 8)
    }
    intercept[IllegalArgumentException] {
      Sketches.signMatrix(tables = 0, planes = 8, dim = 8)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAssign(emb, "vec_id", "embedding", Array.empty)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromIndex(emb, Array.empty, emb, "vec_id", "embedding")
    }
  }

  test("IVF persisted-index lifecycle serves identically to the one-shot form") {
    // build once (centroids + assignment), round-trip the centroids
    // through their storable frame, serve two query batches off the
    // persisted index — results must equal the one-shot ivfTopK, which
    // rebuilds the index per call
    val cm = Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist = 16)
    val roundTripped = Similarity.centroidsFromDF(
      Similarity.centroidsToDF(spark, cm))
    assert(roundTripped.map(_.toSeq).toSeq == cm.map(_.toSeq).toSeq,
      "centroids must survive the storable-frame round trip")
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", roundTripped)
      .persist()
    try {
      for (batch <- Seq(Seq(0L, 1L, 2L), Seq(3L, 4L))) {
        val queries = emb.filter($"vec_id".isin(batch: _*))
        val served = Similarity.ivfTopKFromIndex(assigned, roundTripped,
          queries, "vec_id", "embedding", k = 5, nprobe = 8).collect()
          .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
        val oneShot = Similarity.ivfTopK(emb, queries, "vec_id", "vec_id",
          "embedding", k = 5, nlist = 16, nprobe = 8).collect()
          .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
        assert(served == oneShot, s"batch $batch diverged")
      }
    } finally assigned.unpersist()
  }

  test("IVF Lloyd refinement keeps determinism and does not hurt recall") {
    val queries = emb.filter($"vec_id".isin(0, 1, 2, 3, 4))
    def run() = Similarity.ivfTopK(emb, queries, "vec_id", "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 8, lloydIters = 2).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val a = run(); val b = run()
    assert(a == b, "refined index must stay deterministic")
    def recallOf(rows: Set[(Long, Int, Long)]): Double = (0 until 5).map { qid =>
      val exact = Similarity.bruteForceTopK(
        emb.filter($"vec_id" =!= qid.toLong), "vec_id", "embedding",
        vecOf(qid.toLong), k = 5).collect().map(_.getLong(0)).toSet
      val got = rows.filter(_._1 == qid).map(_._3)
      (exact & got).size / 5.0
    }.sum / 5
    val base = Similarity.ivfTopK(emb, queries, "vec_id", "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(recallOf(a) >= recallOf(base) - 0.2,
      s"refined=${recallOf(a)} seeded=${recallOf(base)}")
  }

  test("embedding dedup multi-table OR-amplification finds all injected near-dups") {
    val dups = (0 until 5).map { j =>
      val v = vecOf(j.toLong)
      (9990L + j, v.zipWithIndex.map { case (x, i) => if (i == j) x + 0.01f else x })
    }
    val withDups = emb.select("vec_id", "embedding")
      .union(dups.toDF("vec_id", "embedding"))
    val pairs = Similarity.embeddingDedup(withDups, "vec_id", "embedding", dim,
      threshold = 0.99).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { j =>
      assert(pairs.contains((j.toLong, 9990L + j)), s"missing pair $j")
    }
  }

  test("embedding dedup finds an injected near-duplicate vector") {
    val v0 = vecOf(0)
    val dup = v0.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val withDup = emb.select("vec_id", "embedding")
      .union(Seq((9999L, dup)).toDF("vec_id", "embedding"))
    val pairs = Similarity.embeddingDedup(withDup, "vec_id", "embedding", dim,
      threshold = 0.99, planes = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 9999L)), s"pairs=${pairs.toSeq}")
  }

  test("int8 quantization: bounded roundtrip error, high top-k recall, zero-safe") {
    val quant = emb.select($"vec_id", Similarity.quantizeInt8($"embedding").as("qe"),
      $"embedding")
    // roundtrip cosine error is bounded corpus-wide
    val minCos = quant
      .select(Similarity.cosine(Similarity.dequantizeInt8($"qe"), $"embedding").as("c"))
      .agg(min("c")).collect().head.getDouble(0)
    assert(minCos > 0.999, f"worst roundtrip cosine $minCos%.6f")
    // top-10 recall of the int8 scorer vs the exact float path
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", vecOf(0), k = 10)
      .collect().map(_.getLong(0)).toSet
    val viaInt8 = Similarity.bruteForceTopKInt8(
        quant.select($"vec_id", $"qe"), "vec_id", "qe", vecOf(0), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert((exact & viaInt8).size >= 8, s"recall ${(exact & viaInt8).size}/10")
    // componentwise reconstruction error obeys the quantization bound:
    // |x_i - q_i/scale| <= 0.5/scale = max|x|/254 (+ float slack)
    val violations = quant.select(
        array_max(zip_with(Similarity.dequantizeInt8($"qe"), $"embedding",
          (a, b) => abs(a - b))).as("err"),
        (array_max(transform($"embedding", x => abs(x))) / 254.0 + 1e-6).as("bound"))
      .filter($"err" > $"bound").count()
    assert(violations == 0L)
    // the query itself (cosine 1) always survives quantization at rank 1
    assert(Similarity.bruteForceTopKInt8(quant.select($"vec_id", $"qe"),
      "vec_id", "qe", vecOf(0), k = 1).collect().head.getLong(0) == 0L)
    // zero vectors: scale-1 codes, null score, no division by zero
    val z = Seq((7777L, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding")
      .select($"vec_id", Similarity.quantizeInt8($"embedding").as("qe"))
    assert(z.select($"qe.scale").collect().head.getFloat(0) == 1.0f)
    val zTop = Similarity.bruteForceTopKInt8(z, "vec_id", "qe", vecOf(0), k = 1)
      .collect()
    assert(zTop.isEmpty || zTop.head.isNullAt(1))
  }

  test("semanticDedup: clones co-locate with their sources and the cell-scoped pairs equal brute force") {
    val fixture = emb.select($"vec_id", $"embedding").union(
      emb.filter($"vec_id" < 5)
        .select(($"vec_id" + 100000).as("vec_id"),
          transform($"embedding", (x, i) =>
            when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding")))
    // completeness leg of the q80 oracle argument: every clone lands
    // in its source's cell, so no true pair straddles cells
    val centroids = Similarity.ivfCentroids(fixture, "vec_id", "embedding",
      nlist = 16, lloydIters = 2)
    val cells = Similarity.ivfAssign(fixture, "vec_id", "embedding", centroids)
      .select("corpus_id", "cell").as[(Long, Int)].collect().toMap
    (0L until 5L).foreach { id =>
      assert(cells(id) == cells(id + 100000),
        s"clone of $id split across cells ${cells(id)} vs ${cells(id + 100000)}")
    }
    // soundness + completeness together: cell-scoped == all-pairs
    val got = Similarity.semanticDedupPairs(fixture, "vec_id", "embedding",
        nlist = 16, lloydIters = 2, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = fixture.toDF("id_a", "vec_a")
    val b = fixture.toDF("id_b", "vec_b")
    val brute = a.crossJoin(b).filter($"id_a" < $"id_b")
      .filter(Similarity.cosine($"vec_a", $"vec_b") >= 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == brute, s"cell-scoped ${got.size} pairs != brute ${brute.size}")
    assert(brute == (0L until 5L).map(i => (i, i + 100000)).toSet)
  }

  test("q33/q35 oracle gap: injected clones dominate every organic cosine") {
    // The ANN oracles are valid only while exact top-5 per query == its
    // clone set. Guard the separation itself, at every SF the driver
    // touches: the WORST clone cosine must clear the BEST organic
    // cosine by a wide margin, so no plausible testdata drift can
    // silently flip a rank and break four green oracles.
    Seq("0.001", "0.01", "0.1").foreach { sf =>
      val e = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
        .select("vec_id", "embedding")
      val clones = graft.battery.DedupQueries.annClones(e)
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      def scored(corpus: org.apache.spark.sql.DataFrame) = corpus
        .join(broadcast(q), $"vec_id" =!= $"query_id")
        .select(Similarity.cosine($"embedding", $"qv").as("c"))
      val minClone = clones.join(broadcast(q),
          floor(($"vec_id" - 100000L) / 5).cast("long") === $"query_id".cast("long"))
        .select(Similarity.cosine($"embedding", $"qv").as("c"))
        .agg(min("c")).collect().head.getDouble(0)
      val maxOrganic = scored(e).agg(max("c")).collect().head.getDouble(0)
      assert(minClone > maxOrganic + 0.2,
        f"sf$sf: clone floor $minClone%.4f vs organic ceiling $maxOrganic%.4f — gap argument at risk")
    }
  }

  test("pq: deterministic codebooks, ADC error bound, shortlist-monotone recall") {
    val model = Similarity.pqTrain(emb, "vec_id", "embedding")
    val model2 = Similarity.pqTrain(emb.repartition(7), "vec_id", "embedding")
    def flat(m: Similarity.PqModel): Seq[Float] =
      m.codebooks.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
    assert(flat(model) == flat(model2), "PQ training depends on partitioning")

    // Cauchy-Schwarz ADC bound, recomputed independently driver-side:
    // with q normalized, |cosine(q,x) - ADC(q,x)| <= ||x_norm - x_hat||
    // — the approximation error never exceeds the reconstruction error.
    def l2n(v: Seq[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat).toArray
    }
    def reconOf(v: Array[Float]): Array[Float] =
      (0 until model.m).flatMap { j =>
        model.codebooks(j).minBy { cent =>
          cent.indices.map(i => math.pow(v(j * model.dsub + i) - cent(i), 2)).sum
        }.toSeq
      }.toArray
    def dotd(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => a(i).toDouble * b(i)).sum
    val sample = emb.filter($"vec_id" < 40).select("vec_id", "embedding")
      .collect().map(r => l2n(r.getSeq[Float](1)))
    for (q <- sample.take(5); x <- sample) {
      val xh = reconOf(x)
      val cos = dotd(q, x)
      val adc = dotd(q, xh)
      val recon = math.sqrt(x.indices.map(i => math.pow(x(i) - xh(i), 2)).sum)
      assert(math.abs(cos - adc) <= recon + 1e-6,
        f"ADC error ${math.abs(cos - adc)}%.4f exceeded recon bound $recon%.4f")
    }

    // Shortlist is the recall knob, and exhaustive shortlist closes the
    // loop exactly: every true top-5 member inside the shortlist
    // survives the exact rerank (only 4 vectors can beat it), so recall
    // is monotone in the shortlist, and shortlist >= |corpus| makes the
    // serve EQUAL the exact kNN join row-for-row.
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", model)
    val queries = emb.filter($"vec_id" < 20)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = Similarity.knnJoin(emb, queries, "vec_id", "vec_id", "embedding", k = 5)
    val bruteSets = topSets(brute)
    def recall(shortlist: Int): Double = {
      val got = topSets(Similarity.pqTopKFromIndex(codes, emb, queries,
        "vec_id", "vec_id", "embedding", model, k = 5, shortlist = shortlist))
      val rs = bruteSets.toSeq.map { case (q, b) =>
        (b & got.getOrElse(q, Set.empty)).size.toDouble / b.size
      }
      rs.sum / rs.size
    }
    val r50 = recall(50)
    val r200 = recall(200)
    assert(r50 >= 0.5, f"recall@5 with shortlist=50 collapsed: $r50%.3f")
    assert(r200 >= r50, f"recall not monotone in shortlist: $r200%.3f < $r50%.3f")
    val n = emb.count().toInt
    val exhaustive = Similarity.pqTopKFromIndex(codes, emb, queries,
      "vec_id", "vec_id", "embedding", model, k = 5, shortlist = n)
    val a = exhaustive.select("query_id", "corpus_id", "cosine", "rank")
      .collect().map(_.toString).sorted.toSeq
    val b = brute.select("query_id", "corpus_id", "cosine", "rank")
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "exhaustive-shortlist PQ serve != exact kNN join")
  }

  test("ivfpq: composed index matches its parents; nprobe = nlist IS the exhaustive ADC serve") {
    val model = Similarity.pqTrain(emb, "vec_id", "embedding")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist = 16)
    val index = Similarity.ivfPqEncode(emb, "vec_id", "embedding", cents, model)
    val queries = emb.filter($"vec_id" < 20)

    // one-pass encode == ivfAssign cells + pqEncode codes, row for row
    val cells = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", model)
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    index.collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == cells(id), s"cell diverged for $id")
      assert(r.getSeq[Int](2) == codeMap(id), s"codes diverged for $id")
    }

    // probing EVERY cell covers each code row exactly once, so the
    // serve must equal the exhaustive ADC scan row-for-row — the
    // composition can only RESTRICT the scan, never rescore it
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("query_id", "corpus_id", "cosine", "rank")
        .collect().map(_.toString).sorted.toSeq
    val exhaustive = Similarity.pqTopKFromIndex(codes, emb, queries,
      "vec_id", "vec_id", "embedding", model, k = 5, shortlist = 50)
    val probedAll = Similarity.ivfPqTopKFromIndex(index, cents, emb, queries,
      "vec_id", "vec_id", "embedding", model, k = 5, nprobe = 16,
      shortlist = 50)
    assert(rows(probedAll) == rows(exhaustive),
      "nprobe = nlist diverged from the exhaustive ADC serve")

    // recall is monotone in nprobe (more probed cells never lose
    // candidates) and a single probe still answers every query
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bruteSets = topSets(
      Similarity.knnJoin(emb, queries, "vec_id", "vec_id", "embedding", k = 5))
    def recall(nprobe: Int): Double = {
      val got = topSets(Similarity.ivfPqTopKFromIndex(index, cents, emb,
        queries, "vec_id", "vec_id", "embedding", model, k = 5,
        nprobe = nprobe, shortlist = 50))
      val rs = bruteSets.toSeq.map { case (q, b) =>
        (b & got.getOrElse(q, Set.empty)).size.toDouble / b.size
      }
      rs.sum / rs.size
    }
    assert(recall(16) >= recall(4),
      "recall not monotone in nprobe")
    val one = Similarity.ivfPqTopKFromIndex(index, cents, emb, queries,
      "vec_id", "vec_id", "embedding", model, k = 5, nprobe = 1,
      shortlist = 50)
    assert(one.select("query_id").distinct().count() == 20,
      "a query lost all candidates under nprobe = 1")

    intercept[IllegalArgumentException](
      Similarity.ivfPqTopKFromIndex(index, Array.empty, emb, queries,
        "vec_id", "vec_id", "embedding", model))
    intercept[IllegalArgumentException](
      Similarity.ivfPqTopKFromIndex(index, cents, emb, queries,
        "vec_id", "vec_id", "embedding", model, nprobe = 0))
  }

  test("IVFADC persisted-index lifecycle serves identically to the one-shot form") {
    // both quantizers round-trip through storable frames, the
    // codes+cells table round-trips through CELL-PARTITIONED parquet
    // (the scan-pruning layout a large index ships), and two query
    // batches served off the read-back index equal the one-shot
    // ivfPqTopK, which rebuilds everything per call
    val cm = Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist = 16)
    val model = Similarity.pqTrain(emb, "vec_id", "embedding")
    val m2 = Similarity.pqModelFromDF(Similarity.pqModelToDF(spark, model))
    assert(m2.m == model.m && m2.dsub == model.dsub)
    assert(m2.codebooks.flatten.flatten.toSeq ==
      model.codebooks.flatten.flatten.toSeq,
      "PQ codebooks must survive the storable-frame round trip")
    val cm2 = Similarity.centroidsFromDF(Similarity.centroidsToDF(spark, cm))
    val dir = graft.sources.Scratch.dir("graft_ivfpq")
      .toString + "/index"
    Similarity.ivfPqEncode(emb, "vec_id", "embedding", cm, model)
      .write.partitionBy("cell").parquet(dir)
    val index = spark.read.parquet(dir)
    for (batch <- Seq(Seq(0L, 1L, 2L), Seq(3L, 4L))) {
      val queries = emb.filter($"vec_id".isin(batch: _*))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
        df.collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
      val served = rows(Similarity.ivfPqTopKFromIndex(index, cm2, emb,
        queries, "vec_id", "vec_id", "embedding", m2, k = 5, nprobe = 8))
      val oneShot = rows(Similarity.ivfPqTopK(emb, queries, "vec_id",
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8))
      assert(served == oneShot, s"batch $batch diverged off the persisted index")
    }
    // a corrupt codebook frame is rejected, not silently misaligned
    val broken = Similarity.pqModelToDF(spark, model).filter(!(col("j") === 0 && col("c") === 0))
    intercept[IllegalArgumentException](Similarity.pqModelFromDF(broken))
  }

  test("appendToIvfPqIndex: replays are idempotent; streamed codes equal the one-shot encode") {
    val tbl = "graft_simspec_ivfpq_append"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.sources.Warehouse.clearOrphanLocation(spark, tbl)
    // model frozen once — the append contract — and round-tripped
    // through the storable frames the streaming wrapper reloads from
    val cm = Similarity.centroidsFromDF(Similarity.centroidsToDF(spark,
      Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist = 16)))
    val model = Similarity.pqModelFromDF(Similarity.pqModelToDF(spark,
      Similarity.pqTrain(emb, "vec_id", "embedding")))
    // three appends with an OVERLAP (replay simulation): batch 2
    // re-delivers all of batch 1
    val b1 = emb.filter(col("vec_id") % 3 === 0)
    val b2 = emb.filter(col("vec_id") % 3 <= 1)
    val b3 = emb
    Seq(b1, b2, b3).foreach(b =>
      Similarity.appendToIvfPqIndex(spark, b, "vec_id", "embedding",
        tbl, cm, model))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Seq[Int])] =
      df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet
    val streamed = spark.table(tbl)
    assert(streamed.count() == emb.count(),
      "replayed appends duplicated code rows")
    // streamed-in-pieces must equal a one-shot encode BIT-FOR-BIT —
    // cells and codes both
    assert(rows(streamed) ==
      rows(Similarity.ivfPqEncode(emb, "vec_id", "embedding", cm, model)),
      "streamed codes diverged from the one-shot encode")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("marginPairs: true pairs outscore hub matches; exact integers survive repartitioning") {
    import spark.implicits._
    // two "languages": B holds a near-clone of a0 plus a HUB close to
    // everything in A (the failure mode absolute cosine admits); the
    // clone pair's margin must dominate the hub's best margin
    def v(xs: Float*) = xs.toArray
    val aSide = Seq(
      (0L, v(1f, 0f, 0f, 0f)), (1L, v(0f, 1f, 0f, 0f)),
      (2L, v(0f, 0f, 1f, 0f)), (3L, v(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val bSide = Seq(
      (10L, v(0.99f, 0.01f, 0f, 0f)),       // near-clone of a0
      (11L, v(0.5f, 0.5f, 0.5f, 0.5f)),     // hub: cos 0.5 to every a
      (12L, v(0f, 0.2f, 0.9f, 0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.marginPairs(aSide, bSide, "vec_id", "embedding",
        k = 2, thresholdMilli = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val clone = pairs((0L, 10L))
    val hubBest = pairs.collect { case ((_, 11L), m) => m }.max
    assert(clone > hubBest,
      s"clone margin $clone must beat the hub's best $hubBest")
    assert(clone > 1000L, s"a true pair must clear margin 1.0: $clone")
    // exact integers: invariant under input partitioning
    val one = Similarity.marginPairs(aSide, bSide, "vec_id", "embedding", k = 2)
      .collect().map(_.toString).sorted.toSeq
    val other = Similarity.marginPairs(aSide.repartition(7), bSide.repartition(3),
        "vec_id", "embedding", k = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(one == other, "margins moved under repartitioning")
  }

  test("integer centroids, argmin assignment, and cluster-balanced rebalance") {
    def v(xs: Float*) = xs.toArray
    // two seeded groups; one vector (id 4) sits nearer group 1's
    // centroid than its own label's — re-assignment must move it
    val emb = Seq(
      (0L, v(1.0f, 0.0f), 0), (1L, v(1.2f, 0.1f), 0),
      (2L, v(-1.0f, 0.0f), 1), (3L, v(-1.2f, -0.1f), 1),
      (4L, v(-0.9f, 0.1f), 0)
    ).toDF("vec_id", "embedding", "label")
    // centroids: label 0 mean of (1000,0),(1200,100),(-900,100) =
    // (1300/3, 200/3) floored → (433, 66); label 1 mean of
    // (-1000,0),(-1200,-100) = (-1100, -50) — floor on NEGATIVE sums
    // must round toward -inf, not zero
    val cents = Similarity.integerCentroids(emb, "embedding", "label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(cents(0) == Seq(433L, 66L), s"got ${cents(0)}")
    assert(cents(1) == Seq(-1100L, -50L), s"got ${cents(1)}")
    val assigned = Similarity.assignIntClusters(emb, "vec_id", "embedding",
        cents.toSeq.map { case (k, cv) => k -> cv })
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1),
      s"got $assigned")
    // equidistant vector: the (dist, cluster) struct ordering breaks
    // the tie toward the smaller cluster id
    val tie = Similarity.assignIntClusters(
        Seq((9L, v(0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding",
        Seq(0 -> Seq(500L, 0L), 1 -> Seq(-500L, 0L)))
      .head()
    assert(tie.getInt(1) == 0, s"tie must resolve to cluster 0: $tie")
    // the composition caps per-cluster takes at quota AND at n, and
    // is invariant under repartitioning (exact integers end-to-end)
    val bal = Similarity.clusterBalance(emb, "vec_id", "embedding",
        "label", totalTarget = 3L)
      .collect().map(_.getLong(0)).sorted.toSeq
    val bal2 = Similarity.clusterBalance(emb.repartition(5), "vec_id",
        "embedding", "label", totalTarget = 3L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(bal == bal2 && bal.size == 3, s"got $bal vs $bal2")
    // a non-integral label column must FAIL at execution, not silently
    // cast to NULL clusters (which would NPE the driver centroid map
    // or quietly merge all uncastable labels into one null group)
    val badLabels = Seq((0L, v(1.0f, 0.0f), "groupA"))
      .toDF("vec_id", "embedding", "label")
    val err = intercept[Exception] {
      Similarity.integerCentroids(badLabels, "embedding", "label").collect()
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("not integral"),
      s"expected the fail-fast label error, got: ${err.getMessage}")
  }
}
