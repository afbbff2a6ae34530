package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ByteBpeSpec extends SparkSpec {
  import spark.implicits._

  private val M = graft.battery.CorpusQueries.CommittedByteBpeMerges
  private def rank = M.zipWithIndex.toMap

  test("pretokenize: every GPT-2 regex branch, losslessly partitioning the text") {
    // contractions split off; letters/digits/punct take ONE leading
    // space; an interior whitespace run keeps its LAST space for the
    // next word; a trailing run is one pre-token
    val t = "I've it's 42x #tag!  two  spaces\tend  "
    val got = ByteBpe.pretokenize(t)
    assert(got == Vector("I", "'ve", " it", "'s", " 42", "x", " #", "tag",
      "!", " ", " two", " ", " spaces", "\t", "end", "  "), got)
    assert(got.mkString == t) // lossless partition
    // unicode letters ride the letter branch; emoji are punct-class
    val u = "héllo wörld 🎉ok"
    val gu = ByteBpe.pretokenize(u)
    assert(gu == Vector("héllo", " wörld", " 🎉", "ok"), gu)
    assert(gu.mkString == u)
    assert(ByteBpe.pretokenize("") == Vector.empty)
  }

  test("merge apply: space-crossing and chained merges, rank priority observable") {
    def ids(s: String): Seq[Long] =
      Seq((1L, s)).toDF("id", "t")
        .select(ByteBpe.byteTokenIdsCol(spark, col("t"), M).as("ids"))
        .as[Seq[Long]].head()
    // ' the': rank-0 (t,h) consumes the t, so the space stays bare
    assert(ids("x the") == Seq('x'.toLong, 32L, 257L))
    // ' tin': no 'th' -> rank-2 (space,t) fires, space INSIDE the token
    assert(ids("x tin") == Seq('x'.toLong, 258L, 259L))
    // ' thing': th + ing, chained (in,g) consumes (i,n)'s output
    assert(ids("x thing") == Seq('x'.toLong, 32L, 256L, 260L))
    // rank priority is observable: swapping (t,h) and (space,t)
    // changes ' the' — the space grabs the t before th can form
    val swapped = Seq((" ", "t"), ("th", "e"), ("t", "h"), ("i", "n"),
      ("in", "g"))
    val sw = Seq((1L, "x the")).toDF("id", "t")
      .select(ByteBpe.byteTokenIdsCol(spark, col("t"), swapped).as("ids"))
      .as[Seq[Long]].head()
    // under the swapped list (space,t) is rank 0 -> id 256; the
    // point is the SHAPE diverges: [x, ' t', h, e] vs [x, ' ', the]
    assert(sw == Seq('x'.toLong, 256L, 'h'.toLong, 'e'.toLong), sw)
    // multi-byte UTF-8 falls back to raw bytes (é = C3 A9)...
    assert(ids("café") == Seq(99L, 97L, 102L, 195L, 169L))
    // ...unless a merge list targets those bytes explicitly
    val eMerge = Seq(("Ã", "©"))
    val em = Seq((1L, "café")).toDF("id", "t")
      .select(ByteBpe.byteTokenIdsCol(spark, col("t"), eMerge).as("ids"))
      .as[Seq[Long]].head()
    assert(em == Seq(99L, 97L, 102L, 256L), em)
    // 4-byte emoji: four base ids
    assert(ids("🎉").length == 4)
    // NULL text -> empty ids (packing-offset alignment)
    val n = Seq((1L, null: String)).toDF("id", "t")
      .select(ByteBpe.byteTokenIdsCol(spark, col("t"), M).as("ids"))
      .as[Seq[Long]].head()
    assert(n == Seq.empty)
  }

  test("decode is the EXACT inverse on arbitrary text; corrupt ids degrade loudly") {
    val texts = Seq(
      "the quick brown fox", "I've it's 42x #tag!  two  spaces",
      "héllo wörld 🎉 汉字 \t\nmixed", "", "   ", "t", " t", " tthe tinge")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val enc = ByteBpe.byteTokenIds(df, "id", "text", M)
    val dec = ByteBpe.decodeByteTokenIds(enc, "id", "token_ids", M)
      .join(df, "id").select("id", "decoded", "text")
      .as[(Long, String, String)].collect()
    dec.foreach { case (i, d, t) =>
      assert(d == t, s"roundtrip broke on #$i: ${d} vs ${t}")
    }
    // an id outside [0, 256+|merges|) decodes to U+FFFD, not a crash
    val bad = Seq((1L, Seq(116L, 9999L, 104L))).toDF("id", "token_ids")
    val d = ByteBpe.decodeByteTokenIds(bad, "id", "token_ids", M)
      .select("decoded").as[String].head()
    assert(d == "t�h", d.toList.map(_.toInt).toString)
  }

  test("byte trainer: hand-derived merges from a tiny corpus, space-crossing merge learned, roundtrip under learned merges") {
    val docs = Seq((1L, "aa aa aa"), (2L, "aa ab"))
      .toDF("doc_id", "text")
    // pre-token histogram: 'aa':2 (first words), ' aa':2, ' ab':1
    val hist = ByteBpe.pretokenHistogram(docs, "text")
      .as[(String, Long)].collect().toMap
    assert(hist == Map("aa" -> 2L, " aa" -> 2L, " ab" -> 1L), hist)
    // greedy trace: (a,a)=4 wins; then the SPACE-CROSSING (' ','aa')=2;
    // then the count-1 tie (' ','a') vs ('a','b') resolves to the
    // lexicographically smaller pair — the space
    val merges = ByteBpe.trainMerges(docs, "text", numMerges = 3)
    assert(merges == Seq(("a", "a"), (" ", "aa"), (" ", "a")), merges)
    // decode∘encode is still the identity under LEARNED merges
    val uni = Seq((1L, "aa aab héllo 🎉")).toDF("doc_id", "text")
    val enc = ByteBpe.byteTokenIds(uni, "doc_id", "text", merges)
    val dec = ByteBpe.decodeByteTokenIds(enc, "doc_id", "token_ids", merges)
      .select("decoded").as[String].head()
    assert(dec == "aa aab héllo 🎉", dec)
  }

  test("tokenizePretoken equals an independent brute-force greedy on random [a-z ] strings") {
    // reference: recompute with an O(n^3) obvious implementation
    def ref(p: String): Vector[String] = {
      var syms = p.map(_.toString).toVector
      var done = false
      while (!done) {
        val cands = syms.indices.dropRight(1)
          .flatMap(i => rank.get((syms(i), syms(i + 1))).map(r => (r, i)))
        if (cands.isEmpty) done = true
        else {
          val (_, i) = cands.minBy(c => (c._1, c._2))
          syms = (syms.take(i) :+ (syms(i) + syms(i + 1))) ++ syms.drop(i + 2)
        }
      }
      syms
    }
    val rnd = new scala.util.Random(42)
    val alphabet = " thinge"
    (1 to 500).foreach { _ =>
      val s = Vector.fill(1 + rnd.nextInt(12))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(ByteBpe.tokenizePretoken(s, rank) == ref(s), s"on '$s'")
    }
  }
}
