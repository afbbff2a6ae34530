package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Classifier semantics behind q85: the scoring kernel matches an
  * independent driver-side recount, training is bit-deterministic
  * under repartitioning, and the training loop distills a
  * known-learnable labeling rule to high holdout accuracy. (The
  * synthetic corpus carries no organic semantic labels — lang/source
  * are assigned independently of the word soup — so the spec trains
  * on a rule that IS a function of the text, which is exactly what a
  * linear model over hashed bag-of-words can and must learn.)
  */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.sources.Tables
    .load(spark, "/root/testdata/sf0.01", "documents")
    .select("doc_id", "text").cache()

  test("scoreMilli equals an independent driver-side recount") {
    val w = Classifier.pseudoWeightsMilli(4096)
    assert(w.forall(x => x >= -1024 && x <= 1023))
    val got = Classifier.scoreMilli(docs.limit(50), "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val naive = docs.limit(50).collect().map { r =>
      val toks = Option(r.getString(1)).getOrElse("")
        .toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
      // independent recount via the spec's own hash path: distinct
      // tokens -> Sketches hash -> mask bucket -> weight sum
      val hs = toks.map(t => graft.operators.Sketches.tokenHashes(t).head).distinct
      (r.getLong(0), (hs.length.toLong, hs.map(h => w((h & 4095L).toInt)).sum))
    }.toMap
    assert(got == naive)
  }

  test("training is deterministic and distills a token-presence rule") {
    // target: the vocab token with document frequency nearest 50% —
    // robust to testdata regeneration
    val total = docs.count().toDouble
    val target = docs
      .select(explode(array_distinct(
        split(lower(col("text")), "\\s+"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("gap", abs(col("df") / total - 0.5))
      .orderBy(col("gap"), col("term")).limit(1)
      .collect().head.getString(0)
    val labeled = docs.withColumn("y",
      array_contains(split(lower(col("text")), "\\s+"), target).cast("int"))
    val prev = labeled.agg(avg("y")).head.getDouble(0)
    assert(prev > 0.2 && prev < 0.8, s"fixture drifted: prevalence $prev")

    val train = labeled.filter(abs(hash(col("doc_id"))) % 5 =!= 0)
    val test = labeled.filter(abs(hash(col("doc_id"))) % 5 === 0)
    val (w1, b1) = Classifier.trainLogistic(train, "text", "y",
      dim = 4096, iters = 60, lr = 4.0)
    val (w2, b2) = Classifier.trainLogistic(train.repartition(7), "text", "y",
      dim = 4096, iters = 60, lr = 4.0)
    assert(w1.toSeq == w2.toSeq && b1 == b2,
      "learned weights depend on partitioning")

    val scored = Classifier.scoreLogistic(test, "doc_id", "text", w1, b1)
      .join(test.select(col("doc_id"), col("y")), "doc_id")
    val acc = scored
      .select(avg(((col("prob") > 0.5).cast("int") === col("y")).cast("int")))
      .head.getDouble(0)
    val majority = math.max(prev, 1 - prev)
    assert(acc >= 0.95 && acc > majority,
      f"holdout accuracy $acc%.3f (majority baseline $majority%.3f) — " +
        "the separable presence rule was not learned")
  }

  test("small-set local fast path equals the distributed gradient loop bit-for-bit") {
    // round-17 optimization: training sets under localTrainMax rows
    // run the iteration loop in-JVM (one collect, zero per-iteration
    // jobs). The exact-decimal gradient argument says grouping cannot
    // change a single bit — this pins it by running the SAME set
    // through both paths (localTrainMax = 0 forces the Spark loop).
    val train = graft.battery.CorpusQueries.GateTrainingSet.toDF("text", "label")
    val (wl, bl) = Classifier.trainLogistic(train, "text", "label",
      dim = graft.battery.CorpusQueries.GateDim, iters = graft.battery.CorpusQueries.GateIters,
      lr = graft.battery.CorpusQueries.GateLr)
    val (wd, bd) = Classifier.trainLogistic(train, "text", "label",
      dim = graft.battery.CorpusQueries.GateDim, iters = graft.battery.CorpusQueries.GateIters,
      lr = graft.battery.CorpusQueries.GateLr, localTrainMax = 0L)
    assert(bl == bd, s"bias diverged: local $bl vs distributed $bd")
    assert(wl.toSeq == wd.toSeq,
      "weights diverged between the local and distributed paths: " +
        wl.zip(wd).zipWithIndex.filter { case ((a, c), _) => a != c }
          .take(8).map { case ((a, c), j) => s"j=$j local=$a dist=$c" }
          .mkString(", "))
  }

  test("q87b gate training reproduces the committed milli-weight snapshot") {
    // the q87b oracle scores under graft.battery.CorpusQueries.CommittedGateWeightsMilli
    // while the battery entry trains fresh — this pin is what makes
    // that agreement a theorem instead of a coincidence. Any trainer
    // change that shifts a single milli-unit fails here first.
    val train = graft.battery.CorpusQueries.GateTrainingSet.toDF("text", "label")
    val (w, b) = Classifier.trainLogistic(train, "text", "label",
      dim = graft.battery.CorpusQueries.GateDim, iters = graft.battery.CorpusQueries.GateIters,
      lr = graft.battery.CorpusQueries.GateLr)
    val (wm, bm) = Classifier.quantizeMilli(w, b)
    assert(bm == graft.battery.CorpusQueries.CommittedGateBiasMilli,
      s"bias drifted: $bm vs committed ${graft.battery.CorpusQueries.CommittedGateBiasMilli}")
    assert(wm.toSeq == graft.battery.CorpusQueries.CommittedGateWeightsMilli.toSeq,
      "trained weights drifted from the committed snapshot: " +
        wm.zip(graft.battery.CorpusQueries.CommittedGateWeightsMilli)
          .zipWithIndex.filter { case ((a, c), _) => a != c }
          .take(8).map { case ((a, c), j) => s"j=$j got=$a want=$c" }
          .mkString(", "))
    // the learned gate actually separates its training classes (the
    // quantized integer scores preserve the sign structure)
    val scored = Classifier.scoreMilli(
      train.withColumn("doc_id", monotonically_increasing_id()),
      "doc_id", "text", wm)
    val withLabel = scored.join(
      train.withColumn("doc_id", monotonically_increasing_id())
        .select(col("doc_id"), col("label")), "doc_id")
    val sep = withLabel
      .select(min(when(col("label") === 1.0, col("score_milli"))).as("minPos"),
        max(when(col("label") === 0.0, col("score_milli"))).as("maxNeg"))
      .head
    assert(sep.getLong(0) > sep.getLong(1),
      s"quantized gate no longer separates: minPos=${sep.getLong(0)} maxNeg=${sep.getLong(1)}")
  }

  test("byte bound forces the distributed loop and the result is unchanged") {
    // round-18: the local fast path is row-AND-byte bounded — 65k rows
    // of raw document text can be driver-killing gigabytes. Zero byte
    // budget pushes even the tiny gate set down the distributed loop;
    // exact-decimal gradients keep the two paths bit-identical.
    val train = graft.battery.CorpusQueries.GateTrainingSet.toDF("text", "label")
    val (wl, bl) = Classifier.trainLogistic(train, "text", "label",
      dim = graft.battery.CorpusQueries.GateDim, iters = 3, lr = graft.battery.CorpusQueries.GateLr)
    val (wd, bd) = Classifier.trainLogistic(train, "text", "label",
      dim = graft.battery.CorpusQueries.GateDim, iters = 3, lr = graft.battery.CorpusQueries.GateLr,
      localTrainMaxBytes = 0L)
    assert(bl == bd, s"bias diverged under the byte-bound fallback: $bl vs $bd")
    assert(wl.toSeq == wd.toSeq,
      "weights diverged between the byte-bounded and local paths")
  }
}
