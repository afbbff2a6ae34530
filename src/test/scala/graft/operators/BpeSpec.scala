package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE semantics behind the rows-only q82 entry: the merge loop
  * matches a hand-derived trace, tokenization is a lossless
  * segmentation, counts are monotone in the merge budget, and the
  * whole thing is deterministic under repartitioning.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("merge loop reproduces the hand-derived trace, ties broken lexicographically") {
    // hist {ab:3, abc:2} — derived by hand:
    //   pairs (a,b):5 (b,</w>):3 (b,c):2 (c,</w>):2  → merge (a,b)
    //   pairs (ab,</w>):3 (ab,c):2 (c,</w>):2        → merge (ab,</w>)
    //   tie (ab,c):2 vs (c,</w>):2 → lexicographic   → merge (ab,c)
    //   then                                           merge (abc,</w>)
    val merges = Bpe.trainOnHistogram(Seq(("ab", 3L), ("abc", 2L)), 4)
    assert(merges == Seq(("a", "b"), ("ab", "</w>"), ("ab", "c"), ("abc", "</w>")))
    // budget past exhaustion stops early instead of looping
    assert(Bpe.trainOnHistogram(Seq(("ab", 3L), ("abc", 2L)), 100).size == 4)
  }

  test("tokenizeWord applies merges by rank and segments losslessly") {
    val merges = Seq(("a", "b"), ("ab", "</w>"), ("ab", "c"), ("abc", "</w>"))
    val rank = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    assert(Bpe.tokenizeWord("ab", rank) == Vector("ab</w>"))
    assert(Bpe.tokenizeWord("abc", rank) == Vector("abc</w>"))
    assert(Bpe.tokenizeWord("abx", rank) == Vector("ab", "x", "</w>"))
    // lossless segmentation on words with untrained chars
    val toks = Bpe.tokenizeWord("cabbage", rank)
    assert(toks.mkString == "cabbage</w>")
  }

  private lazy val docs =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  test("corpus training is deterministic and counts are monotone in the merge budget") {
    val m50 = Bpe.trainMerges(docs, "text", 50)
    val m50again = Bpe.trainMerges(docs.repartition(5), "text", 50)
    assert(m50 == m50again, "merge list depends on partitioning")
    val m10 = Bpe.trainMerges(docs, "text", 10)
    assert(m50.take(10) == m10, "merge prefix not stable across budgets")
    val c10 = Bpe.tokenCount(docs, "doc_id", "text", m10)
      .agg(sum("n_bpe_tokens")).head.getLong(0)
    val c50 = Bpe.tokenCount(docs, "doc_id", "text", m50)
      .agg(sum("n_bpe_tokens")).head.getLong(0)
    assert(c50 <= c10, s"more merges must not grow the token count: $c50 > $c10")
    // every merge strictly reduces the corpus token count it targets
    assert(c50 < c10, "50-merge vocab failed to compress at all")
  }

  test("minCount prunes the histogram tail, not the learned merges") {
    // top pair counts dwarf hapax words here, so pruning count-1 words
    // must leave the early merges untouched (the scaladoc claim)
    val pruned = Bpe.wordHistogram(docs, "text", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val full = Bpe.wordHistogram(docs, "text", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pruned.size <= full.size)
    val a = Bpe.trainOnHistogram(full, 10)
    val b = Bpe.trainOnHistogram(pruned, 10)
    assert(a == b, "tail pruning changed the early merges on this corpus")
  }

  test("committed q82 merges: greedy tokenization equals the closed-form count") {
    // the merges are character-disjoint and non-chaining, so
    // tokens(word) = len+1 − occ('th') − occ('in') − endswith('e')
    // with occ = non-overlapping left-to-right count — the identity the
    // DuckDB oracle replays via replace(). Adversarial words cover:
    // repeated self-adjacent pairs, merge-created adjacency that must
    // NOT re-pair (merged symbols are atomic), multiple merges in one
    // word, and the end-of-word merge.
    val merges = graft.battery.CorpusQueries.CommittedBpeMerges
    val rank = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    def occ(w: String, p: String): Int = (w.length - w.replace(p, "").length) / 2
    def closedForm(w: String): Int =
      w.length + 1 - occ(w, "th") - occ(w, "in") -
        (if (w.endsWith("e")) 1 else 0)
    val words = Seq("ththth", "tthh", "thh", "tht", "ine", "thin", "inin",
      "tin", "e", "the", "thine", "einstein", "ninth", "neither", "x",
      "in", "th", "intthin")
    words.foreach { w =>
      assert(Bpe.tokenizeWord(w, rank).length == closedForm(w),
        s"'$w': ${Bpe.tokenizeWord(w, rank)} vs closed-form ${closedForm(w)}")
    }
  }

  test("committed merges: the token STRING list equals the q145 regex-scan replay") {
    // the q145 oracle needs more than the count identity: the greedy
    // tokenizer's SYMBOL LIST must equal one left-to-right
    // non-overlapping scan 'th|in|.' plus the trailing-e end-of-word
    // merge. Holds because 'th' and 'in' are character-disjoint
    // (occurrences can never overlap, so merge order is immaterial)
    // and non-chaining (merged symbols never re-pair).
    val merges = graft.battery.CorpusQueries.CommittedBpeMerges
    val rank = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    def regexScan(w: String): Vector[String] = {
      val re = "th|in|.".r.findAllIn(w).toVector
      if (w.endsWith("e")) re.dropRight(1) :+ "e</w>" else re :+ "</w>"
    }
    val words = Seq("ththth", "tthh", "thh", "tht", "ine", "thin", "inin",
      "tin", "e", "the", "thine", "einstein", "ninth", "neither", "x",
      "in", "th", "intthin", "ithn", "inth", "tinh", "hth", "te")
    words.foreach { w =>
      assert(Bpe.tokenizeWord(w, rank) == regexScan(w),
        s"'$w': ${Bpe.tokenizeWord(w, rank)} vs scan ${regexScan(w)}")
    }
  }

  test("tokenId scheme: reserved sep, </w>, merge ranks, codepoint base; tokenIds composes") {
    val merges = graft.battery.CorpusQueries.CommittedBpeMerges
    assert(Bpe.SepId == 0L)
    assert(Bpe.tokenId("</w>", merges) == 1L)
    assert(Bpe.tokenId("th", merges) == 2L)
    assert(Bpe.tokenId("in", merges) == 3L)
    assert(Bpe.tokenId("e</w>", merges) == 4L)
    assert(Bpe.tokenId("a", merges) == 5L + 'a'.toLong)
    assert(Bpe.tokenId("z", merges) == 5L + 'z'.toLong)
    // per-doc id sequences: normalization + word order + the scheme,
    // NULL text to the empty array
    val docs = Seq((1L, "The thin"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Bpe.tokenIds(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
      .select("token_ids", "n_tokens")
      .as[(Seq[Long], Long)].collect()
    // "the" -> th, e</w> = [2, 4]; "thin" -> th, in, </w> = [2, 3, 1]
    assert(got(0) == ((Seq(2L, 4L, 2L, 3L, 1L), 5L)), got(0).toString)
    assert(got(1) == ((Seq.empty[Long], 0L)), got(1).toString)
    // count agreement with the proven tokenCount surface
    val viaCount = Bpe.tokenCount(docs, "doc_id", "text", merges)
      .orderBy("doc_id").select("n_bpe_tokens").as[Long].collect().toSeq
    assert(viaCount == Seq(5L, 0L))
  }

  test("chained merges: stage structure live, rank priority observable, q82c scan equivalence") {
    val chained = graft.battery.CorpusQueries.CommittedChainedBpeMerges
    val rank = chained.zipWithIndex.toMap
    def toks(w: String) = Bpe.tokenizeWord(w, rank)
    // chaining is LIVE: rank 1 consumes rank 0's output
    assert(toks("the") == Vector("the", "</w>"))
    // ...and rank ORDER decides: with (e,</w>) promoted ABOVE (th,e)
    // the same word tokenizes differently — the greedy loop's
    // priority structure is what q82c pins, not just the token set
    val swapped = Seq(("t", "h"), ("e", "</w>"), ("th", "e"))
      .zipWithIndex.toMap
    assert(Bpe.tokenizeWord("the", swapped) == Vector("th", "e</w>"))
    // adversarial words: every overlap/boundary shape the q82c oracle
    // scan must agree on — verified against the regex-replay rule
    // (one 'the|th|.' scan, then e</w> iff the last symbol is bare e)
    def replay(w: String): Vector[String] = {
      val syms = "the|th|.".r.findAllIn(w).toVector
      if (syms.nonEmpty && syms.last == "e") syms.init :+ "e</w>"
      else syms :+ "</w>"
    }
    val words = Seq("the", "tthe", "ththe", "thethe", "ethe", "thee",
      "eth", "te", "t", "e", "h", "thte", "theth", "tht", "thhe",
      "athexthe", "thethee")
    words.foreach { w =>
      assert(toks(w) == replay(w), s"$w: ${toks(w)} != ${replay(w)}")
    }
    // id scheme under the chained list: outputs take 2+rank
    assert(Bpe.tokenId("th", chained) == 2L)
    assert(Bpe.tokenId("the", chained) == 3L)
    assert(Bpe.tokenId("e</w>", chained) == 4L)
    assert(Bpe.tokenId("a", chained) == 5L + 'a'.toLong)
  }

  test("decodeTokenIds inverts tokenIds for ANY merge list — committed, chained, learned") {
    import spark.implicits._
    val texts = Seq(
      "the thin theme then in tin e the",      // adversarial boundary words
      "a b c xyz the in inn thth ethe",
      "  Doubled   Spaces   and CAPS, punct!! ",
      "",                                       // empty
      "e"                                       // single boundary char
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = texts.toDF("doc_id", "text")
    val learned = Bpe.trainMerges(docs, "text", numMerges = 12)
    for (merges <- Seq(graft.battery.CorpusQueries.CommittedBpeMerges,
        graft.battery.CorpusQueries.CommittedChainedBpeMerges, learned)) {
      val toks = Bpe.tokenIds(docs, "doc_id", "text", merges)
      val got = Bpe.decodeTokenIds(toks, "doc_id", "token_ids", merges)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.foreach { case (id, t) =>
        val expect = graft.operators.Sketches.normalize(t)
        assert(got(id) == expect,
          s"merge list $merges doc $id: '${got(id)}' != '$expect'")
      }
    }
    // null ids decode to null; a corrupt out-of-range id degrades to
    // U+FFFD instead of throwing
    val weird = Seq((1L, Array(5L + 'h'.toLong, 1L, Long.MaxValue - 3)))
      .toDF("doc_id", "token_ids")
    val d = Bpe.decodeTokenIds(weird, "doc_id", "token_ids",
      graft.battery.CorpusQueries.CommittedBpeMerges)
      .head().getString(1)
    assert(d == "h �", s"got '$d'")
  }
}
