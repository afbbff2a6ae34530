package graft.operators

import graft.Shared
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-style linear text classifier over hashed bag-of-words
  * features — the learned quality/domain gate of a curation pipeline
  * (the CCNet / fastText filtering pattern, public knowledge: Joulin
  * et al. 2016, Wenzek et al. 2019): score every document with a
  * linear model over `dim` hashed token buckets, train the weights by
  * distributed full-batch logistic regression.
  *
  * Scale shape: a document's features are its distinct-token hashes
  * bucketed mod `dim` (the hashing trick — no vocabulary table, no
  * shuffle to build one), scoring is one narrow pass with the
  * weight vector broadcast in the UDF closure, and each training
  * iteration is ONE corpus pass producing per-bucket gradient partial
  * sums (≤ dim+1 rows per partition — buckets, never documents).
  * Gradient partials follow the exact-decimal discipline of the Lloyd
  * kernels (scale-15 HALF_UP BigDecimal, merged as exact decimal
  * sums), so the learned weights are bit-stable under repartitioning.
  *
  * The token hash is [[Sketches.tokenHashes]] — mix64 ∘ FNV-1a over
  * lowercase whitespace tokens, the exact kernel the SimHash oracle
  * already restates in recursive SQL — which is what lets the scoring
  * plumbing (tokenize → hash → bucket → weight lookup → aggregate) be
  * fully DuckDB-oracled end-to-end under closed-form weights
  * (battery q85). Training itself is iterative-greedy and not
  * SQL-expressible; ClassifierSpec pins it by determinism and by
  * distilling known-learnable labeling rules to high holdout accuracy
  * (this synthetic corpus carries no organic semantic labels; real
  * deployments train on real weak labels, e.g. "wiki-like vs crawl").
  */
object Classifier {

  /** Feature buckets of one document: DISTINCT token hashes mod `dim`
    * (power of two — the mask form is what the SQL oracle's unsigned
    * `% dim` reproduces bit-for-bit on the same hashes). Collisions
    * keep their multiplicity: a bucket shared by two distinct tokens
    * counts twice, the standard hashing-trick semantics. */
  private[operators] def buckets(text: String, dim: Int): Array[Int] =
    Sketches.tokenHashes(text).map(th => (th & (dim - 1)).toInt)

  private def requirePow2(dim: Int): Unit =
    require(dim >= 2 && (dim & (dim - 1)) == 0,
      s"dim must be a power of two for hash-mask bucketing, got $dim")

  /** Deterministic closed-form weight table in integer milli-units:
    * `w(j) = (mix64(j) mod 2048) - 1024 ∈ [-1024, 1023]` — a fixed
    * pseudo-random projection any engine can recompute (the q85 oracle
    * restates mix64 over `range(dim)` in HUGEINT SQL). Integer weights
    * make the document score an EXACT integer sum — no float rounding
    * to diverge across engines. */
  def pseudoWeightsMilli(dim: Int): Array[Long] = {
    requirePow2(dim)
    Array.tabulate(dim)(j => (Sketches.mix64(j.toLong) & 2047L) - 1024L)
  }

  /** Per-document linear score under an explicit integer weight table:
    * `(doc_id, n_feat, score_milli)` with `score_milli = Σ w(bucket)`
    * over the doc's distinct tokens. One narrow pass; the weight table
    * rides the UDF closure (broadcast-sized at any dim). */
  def scoreMilli(docs: DataFrame, idCol: String, textCol: String,
                 weightsMilli: Array[Long]): DataFrame = {
    val dim = weightsMilli.length
    requirePow2(dim)
    val kernel = udf { (text: String) =>
      val bs = buckets(text, dim)
      var s = 0L
      var i = 0
      while (i < bs.length) { s += weightsMilli(bs(i)); i += 1 }
      (bs.length.toLong, s)
    }
    docs.select(col(idCol).as("doc_id"), kernel(col(textCol)).as("r"))
      .select(col("doc_id"), col("r._1").as("n_feat"),
        col("r._2").as("score_milli"))
  }

  /** Distributed full-batch logistic regression over hashed binary
    * (counted) features: `iters` passes, each emitting per-bucket
    * exact-decimal gradient partials; only the (dim+1)-row gradient is
    * collected per iteration. Returns (weights, bias).
    *
    * Small-set fast path (round-17 optimization, guide §5 "the driver
    * should do almost no data work" — and, symmetrically, Spark should
    * do no DRIVER-SIZED work): a quality-gate training set is labeled
    * data, bounded by annotation budget, not corpus scale — the q87b
    * battery set is 20 committed literal rows that START on the driver
    * (`Seq(...).toDF`), yet each of the 15 iterations paid a full
    * Spark job (mapPartitions → decimal-sum exchange → collect), ~2 s
    * of pure scheduling at sf0.1. When the training set fits a small
    * bound (≤ `LocalTrainMax` rows) it is collected ONCE and the same
    * iteration loop runs in-JVM. Bit-identical by construction: the
    * per-row double math (bucket order, `exp`) is byte-for-byte the
    * same code path, and the gradient accumulation is EXACT decimal
    * arithmetic in both paths — java.math.BigDecimal addition is
    * associative/commutative on exact values, so per-partition
    * grouping vs one local array cannot change the sum, and Spark's
    * `sum(decimal).cast(double)` and `BigDecimal.doubleValue` are both
    * correctly-rounded conversions of that exact sum
    * (ClassifierSpec's repartition-invariance + committed-snapshot
    * pins re-verify this equivalence on every run). Corpus-scale
    * inputs keep the distributed loop unchanged. */
  private val LocalTrainMax =
    sys.env.getOrElse("GRAFT_LOCAL_TRAIN_MAX", "65536").toLong

  /** Byte companion to the row bound (round-18, the round-17 verdict's
    * scale note): 65k rows of RAW DOCUMENT TEXT can be gigabytes, and a
    * row count alone would collect them onto the driver. The local
    * path additionally requires the set's total text bytes under this
    * bound (default 64 MB — comfortably inside any driver heap, and
    * far above every annotation-budget training set); the byte check
    * is one tiny aggregate over the already-pinned ≤65k-row frame,
    * paid only on the small-row path that was about to collect anyway. */
  private val LocalTrainMaxBytes =
    sys.env.getOrElse("GRAFT_LOCAL_TRAIN_MAX_BYTES", (64L << 20).toString).toLong

  def trainLogistic(docs: DataFrame, textCol: String, labelCol: String,
                    dim: Int = 4096, iters: Int = 15,
                    lr: Double = 1.0,
                    localTrainMax: Long = LocalTrainMax,
                    localTrainMaxBytes: Long = LocalTrainMaxBytes): (Array[Double], Double) = {
    requirePow2(dim)
    import docs.sparkSession.implicits._
    Shared.scope {
      val data = Shared.pin(docs.select(col(textCol), col(labelCol).cast("double"))
        .as[(String, Double)])
      val nRows = data.count()
      val n = nRows.toDouble
      require(n > 0, "trainLogistic needs a non-empty corpus")
      if (nRows <= localTrainMax &&
          data.toDF("__t", "__y")
            .agg(coalesce(sum(octet_length(col("__t")).cast("long")), lit(0L)))
            .head().getLong(0) <= localTrainMaxBytes) {
        // hashed features computed once (pure function of text — the
        // distributed path recomputes them per iteration, same values)
        val local = data.collect().map { case (text, y) =>
          (buckets(text, dim), y)
        }
        var w = new Array[Double](dim)
        var b = 0.0
        for (_ <- 0 until iters) {
          val g = Array.fill(dim + 1)(java.math.BigDecimal.ZERO)
          local.foreach { case (bs, y) =>
            var s = b
            var i = 0
            while (i < bs.length) { s += w(bs(i)); i += 1 }
            val p = 1.0 / (1.0 + math.exp(-s))
            val r = new java.math.BigDecimal(p - y)
              .setScale(15, java.math.RoundingMode.HALF_UP)
            i = 0
            while (i < bs.length) { g(bs(i)) = g(bs(i)).add(r); i += 1 }
            g(dim) = g(dim).add(r)
          }
          val bw = w
          w = Array.tabulate(dim)(j => bw(j) - lr / n * g(j).doubleValue)
          b = b - lr / n * g(dim).doubleValue
        }
        return (w, b)
      }
      var w = new Array[Double](dim)
      var b = 0.0
      for (_ <- 0 until iters) {
        val bw = w
        val bb = b
        val grads = data.mapPartitions { it =>
          val g = Array.fill(dim + 1)(java.math.BigDecimal.ZERO)
          it.foreach { case (text, y) =>
            val bs = buckets(text, dim)
            var s = bb
            var i = 0
            while (i < bs.length) { s += bw(bs(i)); i += 1 }
            val p = 1.0 / (1.0 + math.exp(-s))
            val r = new java.math.BigDecimal(p - y)
              .setScale(15, java.math.RoundingMode.HALF_UP)
            i = 0
            while (i < bs.length) { g(bs(i)) = g(bs(i)).add(r); i += 1 }
            g(dim) = g(dim).add(r)
          }
          (0 to dim).iterator.filter(g(_).signum != 0)
            .map(j => (j, BigDecimal(g(j))))
        }.toDF("j", "g")
          .groupBy("j").agg(sum(col("g")).cast("double").as("g"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        w = Array.tabulate(dim)(j => w(j) - lr / n * grads.getOrElse(j, 0.0))
        b = b - lr / n * grads.getOrElse(dim, 0.0)
      }
      (w, b)
    }
  }

  /** Learned float weights quantized to integer milli-units
    * (`round(w·1000)`) — the bridge from [[trainLogistic]] to the
    * exact-integer [[scoreMilli]] serve path: gating decisions become
    * exact integer comparisons any engine reproduces bit-for-bit
    * (the q85/q87b oracle discipline), at a quantization cost of
    * ≤ 0.5 milli-units per feature — irrelevant to a keep/drop gate.
    * Deterministic because the trained weights are (exact-decimal
    * gradient partials, scaladoc above). */
  def quantizeMilli(weights: Array[Double], bias: Double): (Array[Long], Long) =
    (weights.map(w => math.round(w * 1000.0)), math.round(bias * 1000.0))

  /** Score documents under learned weights: `(doc_id, prob)` with
    * `prob = sigmoid(b + Σ w(bucket))`, rounded to 6. */
  def scoreLogistic(docs: DataFrame, idCol: String, textCol: String,
                    weights: Array[Double], bias: Double): DataFrame = {
    val dim = weights.length
    requirePow2(dim)
    val kernel = udf { (text: String) =>
      val bs = buckets(text, dim)
      var s = bias
      var i = 0
      while (i < bs.length) { s += weights(bs(i)); i += 1 }
      1.0 / (1.0 + math.exp(-s))
    }
    docs.select(col(idCol).as("doc_id"),
      round(kernel(col(textCol)), 6).as("prob"))
  }
}
