package graft.operators

import graft.Shared
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), the training-data similarity surface:
  *
  *  - brute-force cosine top-k — the exact baseline; one pass,
  *    TakeOrdered, no shuffle of the corpus
  *  - k-NN join — broadcast the (small) query set, rank per query via a
  *    bounded top-k aggregate ([[TopK]]) with map-side partial combine,
  *    NOT a window (a window funnels all Q·N scored rows into one
  *    partition per query — the round-1 skew ceiling)
  *  - random-hyperplane LSH — the scale path: bucket the corpus once,
  *    probe buckets instead of scanning; recall tunable via
  *    (planes, tables) with multi-table OR-amplification
  *
  * The cosine/dot kernels are native Catalyst expressions with
  * `doGenCode` ([[graft.expressions.VectorExpressions]]) — they run
  * inside whole-stage codegen as a tight primitive loop. The generic
  * `zip_with`/`aggregate` HOF forms are kept for arbitrary numeric
  * arrays (they evaluate as interpreted CodegenFallback; the float
  * kernels are bit-identical to them, spec-asserted).
  */
object Similarity {

  /** Generic HOF dot (any numeric array type; interpreted eval). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** Generic HOF norm (any numeric array type; interpreted eval). */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  /** Codegen'd cosine for `array<float>` embedding columns (the hot
    * path); bit-identical to `dot(a,b)/(norm(a)*norm(b))` on floats. */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosineF(a, b)

  /** Exact top-k by cosine against one query vector; TakeOrdered keeps
    * only k rows per partition then merges — no global sort. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int = 10): DataFrame = {
    val q = typedlit(query)
    corpus
      .select(col(idCol).as("vec_id"),
        round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Turn a grouped top-k array back into ranked rows
    * (query_id, corpus_id, cosine, rank). */
  private def explodeRanked(grouped: DataFrame): DataFrame =
    grouped
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("corpus_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))

  /** k-NN join: every query row gets its k nearest corpus rows. The
    * query side is broadcast (it's the small side by construction);
    * per-query ranking via bounded top-k partial aggregation — the
    * shuffle carries ≤ k rows per (partition, query), not the full
    * scored cross product. */
  def knnJoin(corpus: DataFrame, queries: DataFrame, corpusId: String,
              queryId: String, vecCol: String, k: Int = 10): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("cvec"), col("qvec")), 6))
    explodeRanked(
      scored.groupBy("query_id")
        .agg(TopK.topK(k)(col("corpus_id"), col("cosine")).as("top")))
  }

  /** Random-hyperplane signature: `planes` sign bits packed into a
    * long. Hyperplane components are a deterministic seeded ±1 matrix
    * closed over by the UDF (shipped once per task, not per row); the
    * projection is one JVM pass per row — the HOF form evaluated
    * planes × dim interpreted lambdas per row. */
  def hyperplaneSignature(vecCol: Column, dim: Int, planes: Int = 16,
                          seed: Int = 42): Column = {
    val m = Sketches.signMatrix(1, planes, dim, seed.toLong)
    udf { (vec: Seq[Float]) =>
      val sigs = Sketches.hyperplaneSignatures(vec, m)
      if (sigs == null) null else Long.box(sigs.head)
    }.apply(vecCol)
  }

  /** All `tables` sign-LSH signatures in one pass (multi-table
    * OR-amplification without re-projecting per table). */
  private def hyperplaneSignatureTables(vecCol: Column, dim: Int, planes: Int,
                                        tables: Int, seed: Long = 42L): Column = {
    val m = Sketches.signMatrix(tables, planes, dim, seed)
    udf((vec: Seq[Float]) => Sketches.hyperplaneSignatures(vec, m)).apply(vecCol)
  }

  /** Per-table probe bucket lists for the QUERY side: the exact bucket
    * plus, with `probeAdjacent`, every bucket one sign-flip away
    * (classic multi-probe LSH — a near-threshold neighbor that
    * disagrees on exactly one plane is recovered without paying for
    * another table). Query-side only: the corpus stays one bucket per
    * table, so the index cost is unchanged and only the tiny broadcast
    * side fans out ×(planes+1). */
  private def probeBucketTables(vecCol: Column, dim: Int, planes: Int,
                                tables: Int, probeAdjacent: Boolean,
                                seed: Long = 42L): Column = {
    val m = Sketches.signMatrix(tables, planes, dim, seed)
    udf { (vec: Seq[Float]) =>
      val sigs = Sketches.hyperplaneSignatures(vec, m)
      if (sigs == null) null
      else if (!probeAdjacent) sigs.map(Array(_))
      else sigs.map(s => s +: Array.tabulate(planes)(p => s ^ (1L << p)))
    }.apply(vecCol)
  }

  /** LSH-bucketed ANN top-k with multi-table OR-amplification: the
    * corpus is hashed once into sign buckets under `tables` independent
    * hyperplane tables (all signatures from one JVM pass per row); each
    * query probes its bucket in EVERY table. A single table caps
    * per-neighbor recall at p = p_agree^planes with no second chance —
    * misses are systematic for near-threshold neighbors at scale; T
    * independent tables lift it to 1-(1-p)^T while `planes` keeps each
    * bucket narrow. `probeAdjacent` adds query-side multi-probe: each
    * query also probes every bucket one sign-flip away in each table —
    * recall rises again (a neighbor disagreeing on exactly one plane is
    * recovered) for ×(planes+1) fan-out of only the broadcast side; the
    * corpus index is untouched.
    *
    * Plan shape: the query side is small by construction, so the bucket
    * join BROADCASTS it and scoring happens inline — ONE corpus scan,
    * zero corpus shuffle (a pair colliding in several tables re-scores
    * a cheap codegen'd cosine rather than forcing a join-back). The
    * dedup to one row per (query, candidate) then shuffles only
    * candidate pairs. [[embeddingDedup]] inverts this — ids only, then
    * join vectors back — because its band SELF-join is shuffle-based
    * and carrying vectors through it would shuffle the corpus; here
    * join-back would be the extra corpus scan + by-id shuffle. Ranking
    * via bounded top-k aggregation (same scale rationale as
    * [[knnJoin]]). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, corpusId: String,
              queryId: String, vecCol: String, dim: Int, k: Int = 10,
              planes: Int = 12, tables: Int = 4,
              probeAdjacent: Boolean = false): DataFrame = {
    val cb = corpus.select(col(corpusId).as("corpus_id"), col(vecCol).as("cvec"),
        posexplode(hyperplaneSignatureTables(col(vecCol), dim, planes, tables)))
      .toDF("corpus_id", "cvec", "table_id", "bucket")
    val qb = queries.select(col(queryId).as("query_id"), col(vecCol).as("qvec"),
        posexplode(
          probeBucketTables(col(vecCol), dim, planes, tables, probeAdjacent)))
      .toDF("query_id", "qvec", "table_id", "buckets")
      .select(col("query_id"), col("qvec"), col("table_id"),
        explode(col("buckets")).as("bucket"))
    val scored = cb.join(broadcast(qb), Seq("table_id", "bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("cvec"), col("qvec")), 6))
      // one row per candidate pair no matter how many tables it hit
      .groupBy("query_id", "corpus_id").agg(first("cosine").as("cosine"))
    explodeRanked(
      scored.groupBy("query_id")
        .agg(TopK.topK(k)(col("corpus_id"), col("cosine")).as("top")))
  }

  /** One-pass cell assignment closing over the centroid matrix
    * ([[Sketches.nearestCells]]): all `nlist` similarities per row from
    * one kernel call. The alternative — a literal `greatest(struct(sim,
    * idx)…)` chain of per-centroid cosine calls — bakes `nlist` branches
    * into the expression tree (a plan/codegen blow-up at a realistic
    * nlist≈4096) and is evaluated separately for best-cell and
    * probe-cell branches; the kernel is O(plan)=1 regardless of nlist
    * and bit-identical in assignment order (spec-asserted). */
  private def probeCellsUdf(centroids: Array[Array[Float]], nprobe: Int) =
    udf { (vec: Seq[Float]) => Sketches.nearestCells(vec, centroids, nprobe) }

  private def bestCellUdf(centroids: Array[Array[Float]]) =
    udf { (vec: Seq[Float]) =>
      val cells = Sketches.nearestCells(vec, centroids, 1)
      if (cells == null) null else Int.box(cells(0))
    }

  /** IVF(-flat) approximate nearest neighbors: coarse-quantize the
    * corpus into `nlist` cells, then each query probes only its
    * `nprobe` nearest cells — the candidate scan is corpus/nlist·nprobe
    * of the data instead of all of it.
    *
    * Centroids seed from `nlist` corpus vectors picked by hashed id
    * (deterministic), optionally refined by `lloydIters` k-means rounds:
    * each round is one distributed assignment + per-(cell, dim) mean —
    * a shuffle of dims, not vectors — with only the nlist×dim centroid
    * table collected to the driver (the index-build pattern; the serving
    * plan is unchanged). Cell assignment is one [[Sketches.nearestCells]]
    * kernel call per row — one corpus scan, no shuffle until the
    * equi-join on cell id. Ranking reuses the bounded top-k aggregate
    * (map-side combine, no per-query window). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, corpusId: String,
              queryId: String, vecCol: String, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 4, lloydIters: Int = 0): DataFrame = {
    val cm = ivfCentroids(corpus, corpusId, vecCol, nlist, lloydIters)
    ivfTopKFromIndex(ivfAssign(corpus, corpusId, vecCol, cm), cm,
      queries, queryId, vecCol, k, nprobe)
  }

  /** Driver-side half of an IVF index: the nlist×dim centroid matrix.
    * Seeds are `nlist` corpus vectors picked by hashed id
    * (deterministic), optionally refined by `lloydIters` k-means rounds:
    * each round is one distributed assignment + per-(cell, dim) mean —
    * a shuffle of dims, not vectors — with only the centroid table
    * collected to the driver. Persist alongside the [[ivfAssign]] frame
    * via [[centroidsToDF]]/[[centroidsFromDF]]. */
  def ivfCentroids(corpus: DataFrame, corpusId: String, vecCol: String,
                   nlist: Int = 16, lloydIters: Int = 0): Array[Array[Float]] = {
    var centroids: Array[Seq[Float]] = corpus
      .select(col(vecCol)).orderBy(xxhash64(col(corpusId)), col(corpusId))
      .limit(nlist).collect().map(_.getSeq[Float](0))
    (0 until lloydIters).foreach { _ =>
      val means = lloydMeans(corpus, vecCol, centroids.map(_.toArray))
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        means.get(i) match {
          // a ragged member vector can leave a dimension uncovered — the
          // seed component stands in rather than failing the build
          case Some(dims) => old.indices.map(d =>
            dims.get(d).map(_.toFloat).getOrElse(old(d)))
          case None => old // empty cell keeps its seed
        }
      }
    }
    centroids.map(_.toArray)
  }

  /** One Lloyd round: per-(cell, dim) means of the corpus under the
    * current centroids, as one primitive-loop pass per partition.
    *
    * Plan shape matters twice here. (1) The obvious
    * `select(cellUdf, posexplode(vec)).groupBy(cell, pos)` form
    * re-evaluates the cell kernel once per EXPLODED DIM — dim× per row,
    * each call scoring all nlist centroids (measured 6 s/round on 2k
    * 64-dim vectors; the kernel itself is sub-second). The
    * mapPartitions kernel assigns each vector exactly once and folds it
    * into per-cell accumulators in the same loop, so the shuffle
    * carries ≤ nlist×dim rows per partition — dims, never vectors.
    * (2) Determinism: shuffle/partition arrival order is not stable, so
    * float partial sums are not reproducible. Each value's exact binary
    * expansion is rounded HALF_UP at decimal scale 15 and accumulated
    * in exact BigDecimal arithmetic per partition, then merged as exact
    * decimal sums across partitions — the refined centroids, and
    * therefore the whole index build, are bit-stable run to run. (This
    * quantization is NOT guaranteed bit-identical to Spark's
    * `cast(decimal)` — shortest-decimal semantics, ±1 ulp at scale 15 —
    * so an index persisted by the pre-kernel implementation should be
    * served as-is via [[centroidsFromDF]]/[[ivfTopKFromIndex]], not
    * compared against a rebuild.) */
  private def lloydMeans(corpus: DataFrame, vecCol: String,
                         cents: Array[Array[Float]]): Map[Int, Map[Int, Double]] = {
    import corpus.sparkSession.implicits._
    val partials = corpus.select(col(vecCol)).as[Seq[Float]].mapPartitions { it =>
      val nlist = cents.length
      val sums = new Array[Array[java.math.BigDecimal]](nlist)
      val cnts = new Array[Array[Long]](nlist)
      def ensure(c: Int, d: Int): Unit = {
        if (sums(c) == null) {
          sums(c) = Array.fill(d)(java.math.BigDecimal.ZERO)
          cnts(c) = new Array[Long](d)
        } else if (sums(c).length < d) {
          val old = sums(c).length
          sums(c) = java.util.Arrays.copyOf(sums(c), d)
          java.util.Arrays.fill(sums(c).asInstanceOf[Array[AnyRef]], old, d,
            java.math.BigDecimal.ZERO)
          cnts(c) = java.util.Arrays.copyOf(cnts(c), d)
        }
      }
      it.foreach { vec =>
        if (vec != null) {
          val c = Sketches.nearestCells(vec, cents, 1)(0)
          ensure(c, vec.length)
          var d = 0
          while (d < vec.length) {
            sums(c)(d) = sums(c)(d).add(new java.math.BigDecimal(vec(d).toDouble)
              .setScale(15, java.math.RoundingMode.HALF_UP))
            cnts(c)(d) += 1L
            d += 1
          }
        }
      }
      (0 until nlist).iterator.filter(sums(_) != null)
        .map(c => (c, cnts(c).toSeq, sums(c).map(BigDecimal(_)).toSeq))
    }.toDF("cell", "cnts", "sums")
    partials
      .select(col("cell"), posexplode(arrays_zip(col("cnts"), col("sums"))))
      .select(col("cell"), col("pos"),
        col("col.cnts").as("cnt"), col("col.sums").as("s"))
      .filter(col("cnt") > 0)
      .groupBy("cell", "pos")
      .agg((sum(col("s")) / sum(col("cnt"))).cast("double").as("m"))
      // round-18: the per-cell map is assembled on the DRIVER from the
      // ≤ nlist×dim collected rows — the old second groupBy(cell) was
      // one more exchange + stage per Lloyd round for a regrouping of
      // ~1k rows (guide §2.4). The division (the only rounding-
      // sensitive step) stays in Spark, so refined centroids are
      // bit-identical to the two-aggregate form.
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cell, rows) =>
        cell -> rows.map(r => r.getInt(1) -> r.getDouble(2)).toMap
      }
  }

  /** Distributed half of an IVF index: `(corpus_id, cvec, cell)` — every
    * corpus row tagged with its nearest centroid in one kernel pass.
    * Write this once (parquet, ideally partitioned/bucketed by `cell`)
    * and serve all query batches off it with [[ivfTopKFromIndex]]; the
    * one-shot [[ivfTopK]] re-assigns the corpus on every call, which at
    * 100 TB is the index build cost paid per query batch. */
  def ivfAssign(corpus: DataFrame, corpusId: String, vecCol: String,
                centroids: Array[Array[Float]]): DataFrame = {
    // fail at plan time, not per-row on an executor (an empty index —
    // e.g. a wrong/empty centroid-table path — would otherwise AIOOBE
    // in every task)
    require(centroids.nonEmpty, "IVF centroid matrix is empty")
    corpus.select(col(corpusId).as("corpus_id"), col(vecCol).as("cvec"),
      bestCellUdf(centroids)(col(vecCol)).as("cell"))
  }

  /** Serve ANN top-k off a pre-built IVF index ([[ivfAssign]] frame +
    * centroid matrix): queries probe their `nprobe` nearest cells, the
    * candidate scan is the matching cells only, ranking via the bounded
    * top-k aggregate (map-side combine, no per-query window). */
  def ivfTopKFromIndex(assigned: DataFrame, centroids: Array[Array[Float]],
                       queries: DataFrame, queryId: String, vecCol: String,
                       k: Int = 10, nprobe: Int = 4): DataFrame = {
    // empty index → silently zero rows for every query; nprobe < 1 →
    // per-row executor NegativeArraySizeException (or silent emptiness)
    require(centroids.nonEmpty, "IVF centroid matrix is empty")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qvec"),
      explode(probeCellsUdf(centroids, nprobe)(col(vecCol))).as("cell"))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("cvec"), col("qvec")), 6))
    explodeRanked(
      scored.groupBy("query_id")
        .agg(TopK.topK(k)(col("corpus_id"), col("cosine")).as("top")))
  }

  /** Centroid matrix as a tiny `(cell, vector)` frame — write it next
    * to the [[ivfAssign]] table to persist the whole index. */
  def centroidsToDF(spark: org.apache.spark.sql.SparkSession,
                    centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "vector")
  }

  /** PQ codebook tensor as a storable `(j, c, vector)` frame —
    * persist it next to the code table (and the [[centroidsToDF]]
    * frame, for IVFADC) to make the whole index servable from disk. */
  def pqModelToDF(spark: org.apache.spark.sql.SparkSession,
                  model: PqModel): DataFrame = {
    import spark.implicits._
    (for { j <- model.codebooks.indices; c <- model.codebooks(j).indices }
      yield (j, c, model.codebooks(j)(c).toSeq)).toDF("j", "c", "vector")
  }

  /** Inverse of [[pqModelToDF]]. Validates the (j, c) grid is complete
    * and the subvectors rectangular: a lost or duplicated row would
    * otherwise silently shift codebook entries against a persisted
    * code table (the [[centroidsFromDF]] discipline). */
  def pqModelFromDF(df: DataFrame): PqModel = {
    val rows = df.select("j", "c", "vector").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray))
    require(rows.nonEmpty, "PQ codebook frame is empty")
    val byKey = rows.toMap
    val m = rows.map(_._1._1).max + 1
    val ksub = rows.map(_._1._2).max + 1
    require(byKey.size == rows.length && rows.length == m * ksub,
      s"PQ codebook frame is corrupt: ${rows.length} rows for a ${m}x$ksub grid")
    val dsub = byKey((0, 0)).length
    require(byKey.values.forall(_.length == dsub),
      "PQ codebook frame has ragged subvectors")
    PqModel(m, dsub, Array.tabulate(m, ksub)((j, c) => byKey((j, c))))
  }

  /** Inverse of [[centroidsToDF]]. The cell ids must be exactly
    * 0..n-1: a frame with a lost or duplicated row would otherwise
    * silently shift every later cell's vector and misalign the index
    * against its [[ivfAssign]] frame. */
  def centroidsFromDF(df: DataFrame): Array[Array[Float]] = {
    val rows = df.select("cell", "vector").collect().sortBy(_.getInt(0))
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"centroid frame is corrupt: expected cell $i, found ${r.getInt(0)}")
    }
    rows.map(_.getSeq[Float](1).toArray)
  }

  // ------------------------------------------------- int8 quantization

  // q as Seq[Byte]: the encoder maps it to array<tinyint> (Array[Byte]
  // would serialize as one opaque binary value). Qualified-private, not
  // plain private: a plain-private nested class is package-private in
  // bytecode, which Janino's generated UnsafeProjection (in its own
  // package) cannot touch — every quantized row then silently falls
  // back to interpreted projection ("Expr codegen error" WARNs).
  private[graft] final case class Quantized(scale: Float, q: Seq[Byte])

  /** Symmetric per-vector int8 quantization of an embedding column:
    * `struct(scale float, q array<tinyint>)` with
    * `scale = 127 / max|x|` and `q_i = round(x_i · scale)` — a 4×
    * memory cut for the corpus-resident half of ANN serving (the IVF
    * assignment table, LSH bucket payloads). One JVM pass per row: the
    * HOF form put the max-abs subtree inside the per-element lambda,
    * which interpreted evaluation re-runs per element — O(d²) per row,
    * the repo's canonical HOF-recompute trap. Zero vectors quantize
    * with scale 1 (all-zero codes); a denormal-tiny max|x| caps the
    * scale at Float.MaxValue with codes clamped to ±127 instead of
    * overflowing to Inf (which ANSI mode turns into a job-killing
    * CAST_OVERFLOW). Recovery is `x_i ≈ q_i / scale`; for unit-norm
    * data the cosine error is ~1e-3 — spec-bounded, and
    * [[bruteForceTopKInt8]] measures the recall cost directly. */
  def quantizeInt8(vec: Column): Column =
    udf { (v: scala.collection.Seq[Float]) =>
      if (v == null) null
      else {
        var mx = 0.0
        var i = 0
        while (i < v.length) { val a = math.abs(v(i).toDouble); if (a > mx) mx = a; i += 1 }
        val scale: Float =
          if (mx == 0.0) 1.0f
          else {
            val s = 127.0 / mx
            if (s > Float.MaxValue.toDouble) Float.MaxValue else s.toFloat
          }
        val codes = new Array[Byte](v.length)
        i = 0
        while (i < v.length) {
          val r = math.round(v(i).toDouble * scale)
          codes(i) = math.max(-127L, math.min(127L, r)).toByte
          i += 1
        }
        Quantized(scale, codes.toSeq)
      }
    }.apply(vec)

  /** Inverse of [[quantizeInt8]] (up to rounding): `array<float>`. */
  def dequantizeInt8(qs: Column): Column =
    transform(qs.getField("q"),
      b => (b.cast("float") / qs.getField("scale")).cast("float"))

  /** Exact top-k by cosine against one float query, scored directly on
    * int8-quantized corpus vectors — one JVM pass per row over the byte
    * codes (no dequantized float array is ever materialized), then
    * TakeOrdered like [[bruteForceTopK]]. The quality/memory trade is
    * measured, not assumed: SimilaritySpec bounds the roundtrip cosine
    * error and the top-k recall vs the float path. */
  def bruteForceTopKInt8(corpus: DataFrame, idCol: String, qCol: String,
                         query: Seq[Float], k: Int = 10): DataFrame = {
    val qArr = query.toArray
    // the per-vector scale cancels exactly out of cosine, so the hot
    // loop scores integer codes directly (dot and norm over q_i) and
    // the constant query norm is hoisted out of the kernel
    val qNorm = math.sqrt(qArr.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    val score = udf { (q: scala.collection.Seq[Byte]) =>
      if (q == null || qNorm == 0) null
      else {
        val n = math.min(q.length, qArr.length)
        var dot = 0.0
        var nc = 0L
        var i = 0
        while (i < n) {
          val c = q(i).toInt
          dot += c.toDouble * qArr(i); nc += c.toLong * c
          i += 1
        }
        if (nc == 0) null
        else Double.box(dot / (math.sqrt(nc.toDouble) * qNorm))
      }
    }
    corpus
      .select(col(idCol).as("vec_id"),
        round(score(col(qCol).getField("q")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold among bucket
    * collisions, with multi-table OR-amplification (the embedding leg
    * of the dedup suite). A single sign-LSH table caps recall and — at
    * 2^planes global buckets — goes quadratic inside giant buckets at
    * scale (round-1 verdict #5); `tables` independent, differently
    * seeded tables multiply recall (P ≈ 1-(1-p)^T) while `planes` keeps
    * each bucket narrow. Candidate ids are deduped across tables before
    * the exact cosine verification join. */
  def embeddingDedup(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int, threshold: Double = 0.95,
                     planes: Int = 12, tables: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = c.select(col("id"),
        posexplode(hyperplaneSignatureTables(col("vec"), dim, planes, tables)))
      .toDF("id", "table_id", "bucket")
    val pairs = banded.select(col("table_id"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("table_id"), col("bucket"), col("id").as("id_b")),
        Seq("table_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(c.toDF("id_a", "vec_a"), "id_a")
      .join(c.toDF("id_b", "vec_b"), "id_b")
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Product-quantization model (Jégou, Douze, Schmid 2011, "Product
    * quantization for nearest neighbor search" — public): `m`
    * subspaces of `dsub` dims, each with a `ksub`-centroid codebook
    * trained on L2-NORMALIZED corpus vectors (so ADC inner-product
    * sums approximate cosine). `codebooks(j)(c)` is centroid `c` of
    * subspace `j`. */
  final case class PqModel(m: Int, dsub: Int, codebooks: Array[Array[Array[Float]]])

  private def l2normalize(vec: scala.collection.Seq[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < vec.length) { s += vec(i).toDouble * vec(i); i += 1 }
    val n = math.sqrt(s)
    val out = new Array[Float](vec.length)
    if (n > 0) { i = 0; while (i < vec.length) { out(i) = (vec(i) / n).toFloat; i += 1 } }
    out
  }

  /** Nearest codebook entry (squared L2) for the subvector of `v` at
    * `off`; ties break to the LOWEST index, so encoding is a pure
    * deterministic function of (vector, codebooks). */
  private def nearestCode(v: Array[Float], off: Int, cb: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cb.length) {
      val cent = cb(c)
      var d = 0.0; var i = 0
      while (i < cent.length) {
        val diff = v(off + i) - cent(i); d += diff * diff; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Driver-side half of a PQ index: the m×ksub×dsub codebook tensor
    * (a few KB — broadcast-sized at any corpus scale). Seeds are the
    * first `ksub` hashed-id corpus vectors sliced per subspace (the
    * [[ivfCentroids]] determinism recipe), refined by `lloydIters`
    * k-means rounds run for ALL m subspaces in ONE corpus pass per
    * round: the mapPartitions kernel assigns every subvector and folds
    * it into per-(subspace, centroid, dim) accumulators in the same
    * loop, so the shuffle carries ≤ m·ksub·dsub rows per partition —
    * codebook cells, never vectors. Partial sums use the exact-decimal
    * discipline of [[ivfCentroids]]' Lloyd (scale-15 HALF_UP
    * BigDecimal), so the trained model is bit-stable run to run
    * regardless of partitioning. */
  def pqTrain(corpus: DataFrame, corpusId: String, vecCol: String,
              m: Int = 8, ksub: Int = 16, lloydIters: Int = 2): PqModel = {
    val seedRows = corpus.select(col(vecCol))
      .orderBy(xxhash64(col(corpusId)), col(corpusId))
      .limit(ksub).collect().map(r => l2normalize(r.getSeq[Float](0)))
    require(seedRows.nonEmpty, "pqTrain needs a non-empty corpus")
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    var cb: Array[Array[Array[Float]]] = Array.tabulate(m, ksub) { (j, c) =>
      java.util.Arrays.copyOfRange(
        seedRows(c % seedRows.length), j * dsub, (j + 1) * dsub)
    }
    (0 until lloydIters).foreach { _ =>
      val bcb = cb
      import corpus.sparkSession.implicits._
      val partials = corpus.select(col(vecCol)).as[Seq[Float]].mapPartitions { it =>
        val sums = Array.fill(m, ksub, dsub)(java.math.BigDecimal.ZERO)
        val cnts = Array.ofDim[Long](m, ksub)
        it.foreach { vec =>
          if (vec != null && vec.length == dim) {
            val v = l2normalize(vec)
            var j = 0
            while (j < m) {
              val c = nearestCode(v, j * dsub, bcb(j))
              var d = 0
              while (d < dsub) {
                sums(j)(c)(d) = sums(j)(c)(d).add(
                  new java.math.BigDecimal(v(j * dsub + d).toDouble)
                    .setScale(15, java.math.RoundingMode.HALF_UP))
                d += 1
              }
              cnts(j)(c) += 1L
              j += 1
            }
          }
        }
        for { j <- (0 until m).iterator; c <- (0 until ksub).iterator
              if cnts(j)(c) > 0 }
          yield (j, c, cnts(j)(c), sums(j)(c).map(BigDecimal(_)).toSeq)
      }.toDF("j", "c", "cnt", "sums")
      val means = partials
        .select(col("j"), col("c"), col("cnt"), posexplode(col("sums")))
        .groupBy("j", "c", "pos")
        .agg((sum(col("col")) / sum(col("cnt"))).cast("double").as("mval"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      cb = Array.tabulate(m, ksub) { (j, c) =>
        val cur = cb(j)(c)
        Array.tabulate(dsub)(d =>
          means.get((j, c, d)).map(_.toFloat).getOrElse(cur(d)))
      }
    }
    PqModel(m, dsub, cb)
  }

  /** Distributed half of the PQ index: one code row per corpus vector,
    * `m` small ints — at m=8 over float[64] that is a 32x shrink of
    * what the ANN scan touches, which is the whole point: the code
    * table stays memory-resident at corpus scales where the raw
    * vectors cannot. Vectors of the wrong length (ragged/null) are
    * dropped, matching the other index builders. */
  def pqEncode(corpus: DataFrame, corpusId: String, vecCol: String,
               model: PqModel): DataFrame = {
    val enc = udf { (vec: Seq[Float]) =>
      if (vec == null || vec.length != model.m * model.dsub) null
      else {
        val v = l2normalize(vec)
        val out = new Array[Int](model.m)
        var j = 0
        while (j < model.m) {
          out(j) = nearestCode(v, j * model.dsub, model.codebooks(j)); j += 1
        }
        out
      }
    }
    corpus.select(col(corpusId).as("corpus_id"), enc(col(vecCol)).as("codes"))
      .filter(col("codes").isNotNull)
  }

  /** ADC serve with exact rerank — the two-stage pattern production PQ
    * serving uses. Stage 1 scans ONLY the code table: each query row
    * carries an m×ksub lookup table of per-subspace inner products
    * (built from the normalized query, so the ADC sum approximates
    * cosine), every code row scores as m table lookups, and the
    * bounded top-k aggregate keeps a `shortlist`-sized candidate set
    * per query. Stage 2 fetches raw vectors for the shortlist alone
    * (a broadcast semi-fetch — |queries|·shortlist rows, never the
    * corpus) and reranks by exact cosine. Quantization error can cost
    * recall only if a true neighbor misses the shortlist; returned
    * ranks and scores are exact math, same output contract as the
    * other ANN serves. */
  /** Per-subspace inner-product lookup table of one (normalized)
    * query against the codebooks — the ADC table each code row is
    * scored through as m array lookups. */
  private def pqLutUdf(model: PqModel) =
    udf { (qvec: Seq[Float]) =>
      if (qvec == null || qvec.length != model.m * model.dsub) null
      else {
        val q = l2normalize(qvec)
        Array.tabulate(model.m) { j =>
          Array.tabulate(model.codebooks(j).length) { c =>
            val cent = model.codebooks(j)(c)
            var s = 0.0; var i = 0
            while (i < cent.length) { s += q(j * model.dsub + i).toDouble * cent(i); i += 1 }
            s.toFloat
          }
        }
      }
    }

  private val pqAdcUdf =
    udf { (lut: Seq[Seq[Float]], cs: Seq[Int]) =>
      var s = 0.0; var j = 0
      while (j < cs.length) { s += lut(j)(cs(j)); j += 1 }
      s
    }

  /** Stage 2 of every PQ serve: fetch raw vectors for the
    * `(query_id, corpus_id)` shortlist alone (broadcast semi-fetch —
    * |queries|·shortlist rows, never the corpus) and rerank by exact
    * cosine. */
  private def rerankShortlist(short: DataFrame, corpus: DataFrame,
                              queries: DataFrame, corpusId: String,
                              queryId: String, vecCol: String,
                              k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"), col(vecCol).as("cvec"))
    val fetched = c.join(broadcast(short), Seq("corpus_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(vecCol).as("qvec"))), Seq("query_id"))
      .withColumn("cosine", round(cosine(col("cvec"), col("qvec")), 6))
    explodeRanked(
      fetched.groupBy("query_id")
        .agg(TopK.topK(k)(col("corpus_id"), col("cosine")).as("top")))
  }

  def pqTopKFromIndex(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                      corpusId: String, queryId: String, vecCol: String,
                      model: PqModel, k: Int = 10,
                      shortlist: Int = 50): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("lut", pqLutUdf(model)(col("qvec")))
      .filter(col("lut").isNotNull)
      .select("query_id", "lut")
    val short = codes.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("adc", pqAdcUdf(col("lut"), col("codes")))
      .groupBy("query_id")
      .agg(TopK.topK(shortlist)(col("corpus_id"), col("adc")).as("top"))
      .select(col("query_id"), explode(col("top")).as("cand"))
      .select(col("query_id"), col("cand.id").as("corpus_id"))
    rerankShortlist(short, corpus, queries, corpusId, queryId, vecCol, k)
  }

  /** One-shot PQ ANN: train + encode + serve. Production splits the
    * lifecycle ([[pqTrain]]/[[pqEncode]] once, [[pqTopKFromIndex]] per
    * query batch); this is the battery/benchmark composition. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, corpusId: String,
             queryId: String, vecCol: String, k: Int = 10, m: Int = 8,
             ksub: Int = 16, lloydIters: Int = 2,
             shortlist: Int = 50): DataFrame = {
    val model = pqTrain(corpus, corpusId, vecCol, m, ksub, lloydIters)
    pqTopKFromIndex(pqEncode(corpus, corpusId, vecCol, model), corpus, queries,
      corpusId, queryId, vecCol, model, k, shortlist)
  }

  // ------------------------------------------------- IVFADC (IVF × PQ)

  /** Distributed half of an IVFADC index (Jégou et al. 2011, the
    * IVFADC system layout): every corpus vector carries BOTH its
    * coarse IVF cell and its PQ codes, computed in ONE corpus pass —
    * persist it partitioned by `cell` and the serve scan reads only
    * probed cells. Cell assignment matches [[ivfAssign]] bit-for-bit
    * (same [[Sketches.nearestCells]] kernel on the raw vector); codes
    * match [[pqEncode]] (L2-normalized, lowest-index tie break). PQ
    * here quantizes the full normalized vector, not the cell residual:
    * the codebooks stay cell-independent, so the SAME model serves
    * exhaustive ADC ([[pqTopKFromIndex]]) and probed ADC, and
    * `nprobe = nlist` is exactly the exhaustive scan (spec-pinned).
    * Wrong-length/null vectors are dropped, like every index builder
    * here. */
  def ivfPqEncode(corpus: DataFrame, corpusId: String, vecCol: String,
                  centroids: Array[Array[Float]], model: PqModel): DataFrame = {
    require(centroids.nonEmpty, "IVF centroid matrix is empty")
    val enc = udf { (vec: Seq[Float]) =>
      if (vec == null || vec.length != model.m * model.dsub) null
      else {
        val cell = Sketches.nearestCells(vec, centroids, 1)(0)
        val v = l2normalize(vec)
        val codes = new Array[Int](model.m)
        var j = 0
        while (j < model.m) {
          codes(j) = nearestCode(v, j * model.dsub, model.codebooks(j)); j += 1
        }
        (cell, codes)
      }
    }
    corpus.select(col(corpusId).as("corpus_id"), enc(col(vecCol)).as("r"))
      .filter(col("r").isNotNull)
      .select(col("corpus_id"), col("r._1").as("cell"), col("r._2").as("codes"))
  }

  /** Append NEW vectors to a persisted IVFADC code table (created on
    * first call) — the streaming-maintenance half of the q88b
    * lifecycle, completing the build/serve/streaming triad the MinHash
    * ([[Dedup.appendToSketchTable]]) and n-gram families already
    * have. New vectors encode against the FROZEN coarse centroids and
    * PQ codebooks — an ANN index's model is trained once and only the
    * code table grows (the FAISS `add` discipline; retraining is a
    * rebuild, not an append) — so every appended row is bit-identical
    * to what a one-shot [[ivfPqEncode]] over the same corpus would
    * emit (spec-pinned). Idempotent PER VECTOR: already-indexed ids
    * anti-join away, so an at-least-once `foreachBatch` channel
    * replaying a batch appends nothing (the
    * [[Dedup.appendToSketchTable]] replay discipline). Serve any time
    * with [[ivfPqTopKFromIndex]]`(spark.table(table), …)` — battery
    * q88c pins the streamed lifecycle against the q88 exact-top-5
    * clone oracle. Requires ids unique across the corpus. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         newVecs: DataFrame, idCol: String, vecCol: String,
                         indexTable: String,
                         centroids: Array[Array[Float]],
                         model: PqModel): Unit = {
    val enc = ivfPqEncode(newVecs, idCol, vecCol, centroids, model)
    if (!spark.catalog.tableExists(indexTable)) {
      graft.sources.Warehouse.clearOrphanLocation(spark, indexTable)
      enc.write.saveAsTable(indexTable)
    } else {
      enc.join(spark.table(indexTable).select(col("corpus_id")),
          Seq("corpus_id"), "left_anti")
        .write.mode("append").saveAsTable(indexTable)
    }
  }

  /** IVFADC serve — the composition that fixes exhaustive ADC's wrong
    * asymptotic: [[pqTopKFromIndex]] scans EVERY code row per query
    * (O(corpus) per query, just 32× cheaper per row), while here each
    * query probes only its `nprobe` nearest cells, so the ADC scan
    * touches ~corpus·nprobe/nlist code rows — the plan a 10⁹-vector
    * corpus requires (IVFADC, Jégou et al. 2011). Probe-cell explode
    * happens on the (tiny) broadcast query side; the cell equi-join
    * restricts the code scan BELOW the ADC scoring projection
    * (plan-asserted), then the usual two-stage finish: bounded
    * `shortlist` top-k per query, exact-cosine rerank over fetched raw
    * vectors. Recall knobs: `nprobe` (cell recall) × `shortlist` (ADC
    * recall); `nprobe = nlist` degenerates to the exhaustive ADC scan
    * and must return IDENTICAL rows to [[pqTopKFromIndex]]
    * (spec-pinned equivalence). */
  def ivfPqTopKFromIndex(index: DataFrame, centroids: Array[Array[Float]],
                         corpus: DataFrame, queries: DataFrame,
                         corpusId: String, queryId: String, vecCol: String,
                         model: PqModel, k: Int = 10, nprobe: Int = 4,
                         shortlist: Int = 50): DataFrame = {
    require(centroids.nonEmpty, "IVF centroid matrix is empty")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("lut", pqLutUdf(model)(col("qvec")))
      .filter(col("lut").isNotNull)
      .select(col("query_id"), col("lut"),
        explode(probeCellsUdf(centroids, nprobe)(col("qvec"))).as("cell"))
    val short = index.join(broadcast(q), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("adc", pqAdcUdf(col("lut"), col("codes")))
      .groupBy("query_id")
      .agg(TopK.topK(shortlist)(col("corpus_id"), col("adc")).as("top"))
      .select(col("query_id"), explode(col("top")).as("cand"))
      .select(col("query_id"), col("cand.id").as("corpus_id"))
    rerankShortlist(short, corpus, queries, corpusId, queryId, vecCol, k)
  }

  /** One-shot IVFADC: train both quantizers + encode + serve.
    * Production splits the lifecycle ([[ivfCentroids]]/[[pqTrain]]/
    * [[ivfPqEncode]] once — centroids via [[centroidsToDF]] next to
    * the cell-partitioned code table — then [[ivfPqTopKFromIndex]]
    * per query batch); this is the battery/benchmark composition. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, corpusId: String,
                queryId: String, vecCol: String, k: Int = 10,
                nlist: Int = 16, nprobe: Int = 4, lloydIters: Int = 0,
                m: Int = 8, ksub: Int = 16, pqLloydIters: Int = 2,
                shortlist: Int = 50): DataFrame = {
    val cents = ivfCentroids(corpus, corpusId, vecCol, nlist, lloydIters)
    val model = pqTrain(corpus, corpusId, vecCol, m, ksub, pqLloydIters)
    ivfPqTopKFromIndex(ivfPqEncode(corpus, corpusId, vecCol, cents, model),
      cents, corpus, queries, corpusId, queryId, vecCol, model, k, nprobe,
      shortlist)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — public): coarse-quantize the corpus into k-means
    * cells and compare embeddings ONLY within their cell. Where
    * [[embeddingDedup]]'s sign-LSH buckets are oblivious to the data's
    * actual cluster structure, the k-means cells follow it, so the
    * quadratic verification work concentrates where the semantic
    * duplicates actually live. Scale shape: candidate pairs are
    * per-cell (nlist caps the largest bucket at ~|corpus|/nlist under
    * balanced cells), ids+vectors shuffle once on `cell`, and the
    * exact-cosine verify is the same codegen'd kernel as everywhere
    * else. A pair of true duplicates in DIFFERENT cells is missed —
    * the recall knob is nlist (and Lloyd refinement tightens cells);
    * SimilaritySpec pins co-location for the q80 clone fixture, which
    * is what upgrades the battery entry to the full brute-force
    * oracle via the q34 gap argument. */
  def semanticDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         nlist: Int = 16, lloydIters: Int = 0,
                         threshold: Double = 0.95): DataFrame = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nlist, lloydIters)
    // round-18: the cell self-join references the assigned frame from
    // both sides and Spark re-executes the common subplan per side —
    // the corpus scan + nearest-cell kernel ran twice per call.
    // Pinning materializes it once (raw partitions, no columnar cache
    // barrier — the q31 discipline).
    val assigned = Shared.pin(ivfAssign(corpus, idCol, vecCol, centroids))
    val a = assigned.select(col("cell"), col("corpus_id").as("id_a"),
      col("cvec").as("vec_a"))
    val b = assigned.select(col("cell"), col("corpus_id").as("id_b"),
      col("cvec").as("vec_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix parallel-corpus recipe — public): candidate pairs
    * between two embedding sets scored by the RATIO of their cosine
    * to the mean of each side's k-NN neighborhood —
    * `margin(x, y) = 2·cos(x,y) / (avgₖ(x→B) + avgₖ(y→A))` — which
    * suppresses hubs (vectors close to everything) that absolute
    * cosine thresholds admit. Candidates are the union of forward and
    * backward k-NN pairs (each bounded: ≤ k·|A| + k·|B| rows — never
    * the cross product; the only all-pairs work is inside
    * [[knnJoin]]'s bounded top-k aggregation). Output
    * `(id_a, id_b, margin)` with margin ≥ `threshold`, rounded 4 dp.
    * Cosines enter at [[knnJoin]]'s 6-dp rounding, so the q108 oracle
    * replays ranking, neighborhood means, and margins cross-engine.
    * At 10⁹-vector scale, swap the knnJoin legs for the IVF/IVFADC
    * serve paths — the margin arithmetic is unchanged. */
  def marginPairs(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
                  k: Int = 4, thresholdMilli: Long = 1000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the 6-dp cosine lifts EXACTLY to integer micro-units (it sits
    // within 1e-9 of the integer), and from there the margin is pure
    // integer arithmetic: margin = 2·c·n_a·n_b / (s_a·n_b + s_b·n_a)
    // (the count-weighted form — a side with fewer than k neighbors
    // averages over what it has). The ≥-threshold gate is an exact
    // integer comparison, so a margin landing on a rounding boundary
    // can never flip between engines — the float form lost 2 of 374
    // battery rows to exactly that.
    val micro = round(col("cosine") * 1e6).cast("long").as("__c")
    // Round-17 note: pinning these two k-NN legs (each is referenced
    // by a neighborhood-mean aggregate and the pair union) was tried
    // and MEASURED SLOWER at sf0.1 (2.2 s -> 4.2 s isolated) — the
    // cache materialization barrier costs more than the per-branch
    // re-execution of the bounded k-NN join here. Left recomputing.
    val fwd = knnJoin(b, a, idCol, idCol, vecCol, k)
      .select(col("query_id").as("id_a"), col("corpus_id").as("id_b"), micro)
    val bwd = knnJoin(a, b, idCol, idCol, vecCol, k)
      .select(col("corpus_id").as("id_a"), col("query_id").as("id_b"), micro)
    val sideA = fwd.groupBy("id_a")
      .agg(sum(col("__c")).as("__sa"), count(lit(1)).as("__na"))
    val sideB = bwd.groupBy("id_b")
      .agg(sum(col("__c")).as("__sb"), count(lit(1)).as("__nb"))
    // both directions carry the same micro cosine, so distinct
    // collapses pairs found both ways
    fwd.unionByName(bwd).distinct()
      .join(broadcast(sideA), "id_a")
      .join(broadcast(sideB), "id_b")
      .withColumn("__num", col("__c") * 2 * col("__na") * col("__nb"))
      .withColumn("__den",
        col("__sa") * col("__nb") + col("__sb") * col("__na"))
      .filter(col("__den") > 0 &&
        col("__num") * 1000L >= lit(thresholdMilli) * col("__den"))
      .select(col("id_a"), col("id_b"),
        expr("(__num * 1000) div __den").as("margin_milli"))
  }

  /** Embedding quantized onto a fixed integer grid
    * (`round(x·scale)` per element, as `array<long>`) — the
    * cross-engine-exact coordinate system for cluster ASSIGNMENT:
    * once coordinates are integers, squared L2 distances and their
    * argmin are exact integer arithmetic on any engine, so an
    * assignment never flips on a float-summation ulp the way raw
    * float distances can. One rounding per element is the only float
    * step (the same ≤1-ulp risk class every 4-dp oracle carries);
    * everything downstream is integers. */
  def gridQuantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, e => round(e.cast("double") * scale, 0).cast("long"))

  /** Integer cluster centroids seeded by an existing grouping column
    * (one Lloyd half-step: per-group element-wise MEAN of the
    * grid-quantized vectors, floor-divided — all integer sums, so
    * the centroid is a pure function of the group's member SET,
    * independent of partitioning and aggregation order). Output
    * `(cluster, centroid array<long>)`, |groups| rows. */
  def integerCentroids(corpus: DataFrame, vecCol: String, byCol: String,
                       scale: Int = 1000): DataFrame =
    // byCol must be integral: the seed labels ARE the cluster ids and
    // the driver-side centroid map reads them as Int. try_cast + an
    // explicit raise_error (instead of a bare ANSI cast) so a NULL
    // label fails the same loud way a malformed one does — a silent
    // NULL cluster would NPE at the driver collect, or quietly merge
    // every uncastable label into one null centroid group.
    corpus.select(
        when(col(byCol).try_cast("int").isNull,
          raise_error(concat(lit(s"integerCentroids: $byCol label not " +
            "integral (or NULL): "), coalesce(col(byCol).cast("string"),
            lit("NULL")))).cast("int"))
          .otherwise(col(byCol).try_cast("int")).as("cluster"),
        posexplode(gridQuantize(col(vecCol), scale)))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      // floor(double) is exact here: |s/n - m| ≥ 1/n for integers,
      // ~11 orders above the double quotient's rounding
      .select(col("cluster"), col("pos"),
        floor(col("s").cast("double") / col("n")).cast("long").as("cv"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv"))))
        .as("pc"))
      .select(col("cluster"),
        transform(col("pc"), x => x.getField("cv")).as("centroid"))

  /** Assign every vector to its nearest integer centroid — the IVF
    * coarse-assign shape with the codebook riding the task closure
    * (|clusters|-bounded, the [[ivfTopK]] contract), so assignment
    * is ONE row-local JVM kernel pass: quantize once, k exact
    * integer squared-L2 distances, argmin with a smaller-cluster-id
    * tiebreak. No join, no shuffle, no float compare anywhere.
    *
    * A JVM kernel, not an HOF chain, deliberately: the quantized
    * vector feeds every per-centroid distance, and Catalyst's
    * projection collapse inlines a `withColumn` subtree into each of
    * the k consumers — the repo's canonical HOF-recompute trap,
    * measured here too (k× re-quantization took the sf0.1 assign to
    * 4.3 s; the kernel is one pass). Rounding is half-away-from-zero
    * to match [[gridQuantize]]'s column form and the DuckDB oracle
    * (`math.round` floors negative halves — ties that exact are
    * measure-zero on float·scale, but the two forms must not
    * disagree by construction). */
  def assignIntClusters(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: Seq[(Int, Seq[Long])],
                        scale: Int = 1000): DataFrame = {
    require(centroids.nonEmpty, "assignIntClusters needs >= 1 centroid")
    val cents = centroids.sortBy(_._1).map { case (c, v) => (c, v.toArray) }
      .toArray
    val assignUdf = udf { (v: scala.collection.Seq[Float]) =>
      if (v == null) null
      else {
        val q = new Array[Long](v.length)
        var i = 0
        while (i < v.length) {
          val x = v(i).toDouble * scale
          q(i) = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
          i += 1
        }
        var bc = cents(0)._1
        var bd = Long.MaxValue
        var c = 0
        while (c < cents.length) {
          val cv = cents(c)._2
          // a dimension mismatch must FAIL, not silently score the
          // common prefix — a wrong-dim codebook would otherwise
          // mis-cluster every vector while looking valid
          require(cv.length == q.length,
            s"centroid ${cents(c)._1} has dim ${cv.length}, vector has ${q.length}")
          var d = 0L
          var j = 0
          while (j < q.length) { val t = q(j) - cv(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; bc = cents(c)._1 } // id order ⇒ ties keep first
          c += 1
        }
        (bc, bd)
      }
    }
    corpus.withColumn("__a", assignUdf(col(vecCol)))
      .select(col(idCol), col("__a._1").as("cluster"),
        col("__a._2").as("dist"))
  }

  /** Cluster-balanced corpus rebalance (the SemDeDup/DataComp
    * pipeline's "don't let the dominant cluster eat the token
    * budget" step): seed integer centroids from `byCol`, re-assign
    * every vector to its nearest centroid, then draw a
    * temperature-scaled mixture OVER THE CLUSTERS
    * ([[Sampling.temperatureMixture]] with the cluster id as the
    * stratum — n^α quotas flatten dominant clusters, the md5 draw
    * keeps selection engine-exact). Driver state: the |clusters|-row
    * centroid map + the mixture's |clusters|-row count map, both
    * bounded; everything row-scale is scan-side. */
  def clusterBalance(corpus: DataFrame, idCol: String, vecCol: String,
                     byCol: String, totalTarget: Long, alpha: Double = 0.5,
                     scale: Int = 1000): DataFrame = {
    // bounded collect: |distinct byCol| centroid rows
    val cents = integerCentroids(corpus, vecCol, byCol, scale)
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq).toSeq
    val assigned = assignIntClusters(corpus, idCol, vecCol, cents, scale)
    Sampling.temperatureMixture(assigned, idCol, "cluster", totalTarget,
      alpha)
  }
}
