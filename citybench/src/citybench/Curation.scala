package citybench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A query of the operator library (`SparkEntry.queries`) run a few times
  * over a small documents table staged from the seed, with every result
  * compared to a plain-Scala reference. `q31_ngram_jaccard` (word-trigram
  * Jaccard ≥ 0.5 over all document pairs) is used because its exact
  * answer is cheap to compute outside Spark. The documents are random
  * words from a large vocabulary, so unrelated documents share no
  * trigram, plus edited copies of earlier documents whose Jaccard spreads
  * around the threshold, verbatim copies, and documents shorter than
  * three words, which pair only with verbatim copies. */
final class CurationLeg(spark: SparkSession, seed: Long) {
  import CurationLeg._

  private val docs: IndexedSeq[(Long, String)] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    def words(n: Int) = IndexedSeq.fill(n)(s"w${rnd.nextInt(Vocabulary)}")
    val base = (0 until Originals).map(i => (i + 1L) -> words(MinWords + rnd.nextInt(MaxWords - MinWords)))
    val edited = (0 until Edits).map { i =>
      val src = base(rnd.nextInt(base.size))._2
      val text = (0 until 1 + rnd.nextInt(3)).foldLeft(src)((t, _) => t.updated(rnd.nextInt(t.size), s"x${rnd.nextInt(Vocabulary)}"))
      (Originals + i + 1L) -> text
    }
    val copies = (0 until Copies).map(i => (Originals + Edits + i + 1L) -> base(rnd.nextInt(base.size))._2)
    val short = (0 until Shorts).map(i => (Originals + Edits + Copies + i + 1L) -> words(1 + i % 2))
    val shortCopies = short.take(Shorts / 2).zipWithIndex.map { case ((_, t), i) =>
      (Originals + Edits + Copies + Shorts + i + 1L) -> t }
    (base ++ edited ++ copies ++ short ++ shortCopies).map { case (id, ws) => id -> ws.mkString(" ") }
  }

  /** (doc_a, doc_b) → Jaccard of their word-trigram sets, for every pair
    * at or above the threshold. */
  private val reference: Map[(Long, Long), Double] = {
    val grams = docs.map { case (id, text) =>
      val ws = text.split(' ')
      id -> (if (ws.length < 3) Set(text) else ws.sliding(3).map(_.mkString(" ")).toSet)
    }
    (for {
      (a, ga) <- grams
      (b, gb) <- grams if a < b
      shared = (ga intersect gb).size if shared > 0
      j = shared.toDouble / (ga.size + gb.size - shared) if j >= Threshold
    } yield (a, b) -> j).toMap
  }

  private var dir: String = _

  def stage(dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Runs the query once and returns its time in ms. It runs early in
    * the JVM, so the time includes the query's code generation. */
  def run(probe: Probe): Double = {
    val t0 = Clock.nowMs
    val rows = probe.call(s"operators.$Query", "q")(_ => SparkEntry.queries(Query)(spark, dir).collect())
    val ms = Clock.nowMs - t0
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val wrong = (reference.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      (reference.get(k), got.get(k)) match {
        case (Some(want), Some(j)) if math.abs(want - j) <= 0.000051 => None
        case (want, j) => Some(s"$Query: pair $k expected Jaccard $want, got $j")
      }
    }
    attempted += 1
    if (wrong.nonEmpty || rows.length != got.size) { failed += 1; failures ++= wrong.take(5) }
    ms
  }
}

object CurationLeg {
  val Query = "q31_ngram_jaccard"
  val Threshold = 0.5
  val Vocabulary = 5000
  val Originals = 200
  val Edits = 60
  val Copies = 10
  val Shorts = 10
  val MinWords = 12
  val MaxWords = 40
}
