package graft.functions

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val rows = Seq(
      ("hello world", 2, 2),
      ("  padded   tokens  ", 2, 2),
      ("", 0, 0),
      ("   ", 0, 0),
      ("don't stop-me now!", 3, 8), // don ' t stop - me now !
      ("abc123 x", 2, 3))           // abc 123 x
    val got = rows.map(_._1).toDF("t")
      .select(Text.tokenCount($"t"), Text.tokenCountBpe($"t")).collect()
    rows.zip(got).foreach { case ((t, ws, bpe), r) =>
      assert(r.getInt(0) == ws, s"ws('$t')")
      assert(r.getInt(1) == bpe, s"bpe('$t')")
    }
  }

  test("punct ratio and mean word length") {
    val r = Seq("ab, cd!").toDF("t")
      .select(Text.punctRatio($"t"), Text.meanWordLength($"t")).collect().head
    assert(math.abs(r.getDouble(0) - 2.0 / 7.0) < 1e-12)
    assert(r.getDouble(1) == 3.0) // "ab," (3) + "cd!" (3)
  }

  test("stopword ratio") {
    val r = Seq("the cat sat on the mat").toDF("t")
      .select(Text.stopwordRatio($"t")).collect().head.getDouble(0)
    assert(math.abs(r - 3.0 / 6.0) < 1e-12) // the, on, the
  }

  test("langId picks the dominant stopword language") {
    val cases = Seq(
      "the quick brown fox jumps over the lazy dog" -> "en",
      "le chat est sur la table avec le chien" -> "fr",
      "der hund und die katze sind nicht im haus" -> "de",
      "el perro y el gato en la casa como siempre" -> "es",
      "zzz qqq xxx" -> "und",
      "" -> "und")
    val got = cases.map(_._1).toDF("t").select(Text.langId($"t")).collect()
    cases.zip(got).foreach { case ((t, exp), r) =>
      assert(r.getString(0) == exp, s"langId('$t')")
    }
  }

  test("quality score ranks natural text above junk") {
    val natural = "the cat sat on the mat and looked at the dog for a while " * 3
    val junk = "@@@@ #### !!!! %%%% ^^^^ &&&&"
    val got = Seq(natural, junk, "").toDF("t")
      .select(Text.qualityScore($"t")).collect().map(_.getDouble(0))
    assert(got(0) > 0.8, s"natural=${got(0)}")
    assert(got(1) < 0.4, s"junk=${got(1)}")
    assert(got(2) == 0.0)
    val nullRow = Seq[Option[String]](None).toDF("t")
      .select(Text.qualityScore($"t")).collect().head
    assert(nullRow.isNullAt(0))
  }

  test("normalization + fingerprint stability") {
    val got = Seq("Hello,  World!", "hello world", "other").toDF("t")
      .select(Text.fingerprint($"t"), Text.fingerprintMd5($"t")).collect()
    assert(got(0).getLong(0) == got(1).getLong(0))   // same after normalize
    assert(got(0).getString(1) == got(1).getString(1))
    assert(got(0).getLong(0) != got(2).getLong(0))
  }

  test("shingles and word n-grams") {
    val r = Seq("abcdef").toDF("t").select(Text.shingles($"t", 5)).collect().head
    assert(r.getSeq[String](0).toSet == Set("abcde", "bcdef"))
    val shortr = Seq("abc").toDF("t").select(Text.shingles($"t", 5)).collect().head
    assert(shortr.getSeq[String](0) == Seq("abc"))
    val ng = Seq("a b c d").toDF("t").select(Text.wordNgrams($"t", 3)).collect().head
    assert(ng.getSeq[String](0).toSet == Set("a b c", "b c d"))
  }

  test("property: JVM normalize kernel == Column normalizeText on printable ASCII") {
    // three operators (MinHash shingles, word n-grams, fingerprints) rely
    // on this equivalence — pin it over 500 random printable-ASCII strings
    import org.scalacheck.Gen
    val printable = Gen.listOf(Gen.choose(' ', '~')).map(_.mkString)
    val seed = org.scalacheck.rng.Seed(42L)
    val samples = Iterator.iterate((printable(Gen.Parameters.default, seed), seed)) {
      case (_, s) => val s2 = s.next; (printable(Gen.Parameters.default, s2), s2)
    }.take(500).flatMap(_._1).toSeq :+ "" :+ "  a  b  " :+ "!,;.:" :+ "A  B!!C"
    val viaColumn = samples.toDF("t").select(Text.normalizeText($"t"))
      .collect().map(_.getString(0))
    samples.map(graft.operators.Sketches.normalize).zip(viaColumn)
      .zip(samples).foreach { case ((jvm, col_), in) =>
        assert(jvm == col_, s"normalize mismatch on ${in.take(60)}: jvm=$jvm col=$col_")
      }
    // and the JVM gram kernel equals the Column word-ngram form
    val viaColGrams = samples.toDF("t").select(Text.wordNgrams($"t", 3))
      .collect().map(_.getSeq[String](0).toVector)
    samples.map(s => graft.operators.Sketches.wordNgrams(s, 3).toVector)
      .zip(viaColGrams).zip(samples).foreach { case ((jvm, col_), in) =>
        assert(jvm == col_, s"ngram mismatch on ${in.take(60)}")
      }
  }

  test("SQL-surface text functions equal the Column forms over the corpus (U4)") {
    Text.registerSqlFunctions(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
      .union(Seq((90001L, ""), (90002L, "   "), (90003L, "The, quick; brown!"),
        (90004L, "\tfoo"), (90005L, "foo\t"), (90006L, " a\tb "))
        .toDF("doc_id", "text"))
    docs.createOrReplaceTempView("text_spec_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, token_count(text) AS tc, lang_id(text) AS li,
                quality_score(text) AS qs, normalize_text(text) AS nt,
                fingerprint_md5(text) AS fp
         FROM text_spec_docs ORDER BY doc_id""").collect()
    // the Expr forms are the independent implementation (pure-Column
    // HOFs); langId/qualityScore proper share the SQL kernels
    val viaCol = docs.select($"doc_id", Text.tokenCount($"text"),
        Text.langIdExpr($"text"), Text.qualityScoreExpr($"text"),
        Text.normalizeText($"text"), Text.fingerprintMd5($"text"))
      .orderBy("doc_id").collect()
    viaSql.zip(viaCol).foreach { case (s, c) =>
      assert(s.toSeq == c.toSeq, s"doc ${s.get(0)}: sql=${s.toSeq} col=${c.toSeq}")
    }
    // the round-4/5 additions: stopword_ratio, mean_word_length,
    // winnow_fingerprints, minhash_similarity — each equal to its
    // Column/kernel form over the same corpus
    val viaSql2 = spark.sql(
      """SELECT doc_id, stopword_ratio(text) AS sr, mean_word_length(text) AS mwl,
                winnow_fingerprints(text) AS wf
         FROM text_spec_docs ORDER BY doc_id""").collect()
    val viaCol2 = docs.select($"doc_id", Text.stopwordRatioExpr($"text"),
        Text.meanWordLengthExpr($"text"),
        Text.winnowFingerprints($"text"))
      .orderBy("doc_id").collect()
    viaSql2.zip(viaCol2).foreach { case (s, c) =>
      assert(s.toSeq == c.toSeq, s"doc ${s.get(0)}: sql=${s.toSeq} col=${c.toSeq}")
    }
    val mh = spark.sql(
      """SELECT minhash_similarity(array(1L,2L,3L,4L), array(1L,9L,3L,4L)),
                minhash_similarity(array(1L,2L), array(1L,2L,3L,4L)),
                minhash_similarity(NULL, array(1L))""").collect().head
    assert(mh.getDouble(0) == 0.75)
    assert(mh.getDouble(1) == 1.0) // shared-prefix match / LEFT length
    assert(mh.isNullAt(2))
    val nulls = spark.sql(
      """SELECT token_count(CAST(NULL AS STRING)), lang_id(CAST(NULL AS STRING)),
                quality_score(CAST(NULL AS STRING)), fingerprint_md5(CAST(NULL AS STRING)),
                stopword_ratio(CAST(NULL AS STRING)), mean_word_length(CAST(NULL AS STRING)),
                winnow_fingerprints(CAST(NULL AS STRING))""")
      .collect().head
    (0 until 7).foreach(i => assert(nulls.isNullAt(i)))
  }

  test("property: normalizeUnicode is IDEMPOTENT over a generated unicode corpus") {
    // the invariant downstream fingerprints rest on: a second
    // normalization pass must be a fixed point in every form
    val rnd = new scala.util.Random(11)
    val pool = ("abc XYZ 09 \t\n" +
      "́é“”‘’–—…" +
      " ​﻿Ａﬁ中😀").toCharArray
    Seq("NFC", "NFKC", "NFD", "NFKD").foreach { form =>
      (0 until 300).foreach { i =>
        val s = new String((0 until rnd.nextInt(40))
          .map(_ => pool(rnd.nextInt(pool.length))).toArray)
        val once = Text.normalizeUnicodeScalar(s, form, fold = true)
        val twice = Text.normalizeUnicodeScalar(once, form, fold = true)
        assert(once == twice,
          s"$form not a fixed point on iter $i: ${s.map(_.toInt.toHexString)}")
      }
    }
  }

  test("chunkByTokens: coverage, overlap, short-tail, and empty-text invariants") {
    def chunks(text: String, size: Int, stride: Int): Seq[Seq[String]] =
      Seq(text).toDF("t")
        .select(Text.chunkByTokens($"t", size, stride).as("c"))
        .collect().head.getSeq[String](0).map(_.split(" ").toSeq.filter(_.nonEmpty))
    val toks = (1 to 107).map(i => s"w$i")
    val got = chunks(toks.mkString(" "), 50, 40)
    // starts every 40 tokens until the tail is covered
    assert(got.map(_.head) === Seq("w1", "w41", "w81"))
    assert(got.take(2).forall(_.size == 50))
    assert(got.last.size == 27) // 107 - 80: short tail allowed
    // every token appears in at least one chunk; consecutive chunks
    // overlap by size - stride
    assert(got.flatten.toSet === toks.toSet)
    assert((got(0).toSet & got(1).toSet).size == 10)
    // stride == size partitions exactly
    val part = chunks(toks.mkString(" "), 50, 50)
    assert(part.map(_.size) === Seq(50, 50, 7))
    assert(part.flatten === toks)
    // degenerate inputs
    assert(chunks("", 50, 40).isEmpty)
    assert(chunks("   ", 50, 40).isEmpty)
    assert(chunks("one two", 50, 40).map(_.size) === Seq(2))
    intercept[IllegalArgumentException](Text.chunkByTokens($"t", 50, 51))
    intercept[IllegalArgumentException](Text.chunkByTokens($"t", 0, 0))
  }

  test("winnowing fingerprints: shared-substring guarantee and edit locality") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(7)
    def letters(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = letters(40)
    val a = letters(200) + shared + letters(200)
    val b = letters(200) + shared + letters(200)
    // guarantee: a shared substring of length >= w+k-1 (= 8 here) must
    // produce at least one shared fingerprint
    assert((Sketches.winnow(a).toSet & Sketches.winnow(b).toSet).nonEmpty)
    // locality: an edit at the tail leaves the early pick sequence
    // untouched (whole-doc digests flip entirely)
    val edited = a.dropRight(10) + letters(10)
    val (fa, fe) = (Sketches.winnow(a), Sketches.winnow(edited))
    val common = fa.zip(fe).takeWhile(p => p._1 == p._2).length
    assert(common >= fa.length - 30,
      s"edit at the tail rewrote the prefix: common=$common of ${fa.length}")
    assert(Text.fingerprintMd5Scalar(a) != Text.fingerprintMd5Scalar(edited))
    // fingerprints are a subset of the k-gram hash universe
    assert(Sketches.winnow(a).toSet.subsetOf(Sketches.shingleHashes(a, 5).toSet))
    // edges: short text falls back to the whole-string shingle; the
    // Column form is null-safe and agrees with the kernel
    assert(Sketches.winnow("ab").toSeq == Sketches.shingleHashes("ab", 5).toSeq)
    val rows = Seq((1L, a), (2L, "ab"), (3L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select($"id", Text.winnowFingerprints($"t").as("fp")).orderBy("id").collect()
    assert(rows(0).getSeq[Long](1) == Sketches.winnow(a).toSeq)
    assert(rows(2).isNullAt(1))
  }

  test("winnow's distinct values are the per-window minima over gramHashes") {
    // The relationship the q56 oracle replays in SQL: rightmost-min
    // tie-breaking and the consecutive-pick dedup are both invisible
    // at the distinct-VALUE level, so winnow's fingerprint set must
    // equal { min(hs[s, min(s+w, n))) : s in 0..max(n-w, 0) } exactly.
    import graft.operators.Sketches
    val rnd = new scala.util.Random(11)
    def letters(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    // 3-letter alphabet forces hash-value ties in windows
    for (len <- Seq(0, 3, 5, 12, 40, 300); k <- Seq(5, 30); w <- Seq(4, 8)) {
      val text = letters(len)
      val hs = Sketches.gramHashes(text, k)
      val n = hs.length
      val expect = (0 to math.max(n - w, 0))
        .map(s => hs.slice(s, math.min(s + w, n)).min).toSet
      assert(Sketches.winnow(text, k, w).toSet == expect,
        s"len=$len k=$k w=$w")
    }
  }

  test("scrubPii: every pattern redacts, passes don't cascade, SQL mirrors Column") {
    val rows = Seq(
      (1L, "mail a.b+c@ex-ample.co.uk now"),
      (2L, "ip 192.168.0.1 end"),
      (3L, "call +352 621 123 456 ok"),
      (4L, "clean text with the number 7"),
      (5L, null.asInstanceOf[String])).toDF("id", "t")
    val got = rows.select($"id", Text.scrubPii($"t").as("s")).orderBy("id").collect()
    assert(got(0).getString(1) == "mail [PII] now")
    assert(got(1).getString(1) == "ip [PII] end")
    assert(got(2).getString(1) == "call [PII] ok")
    assert(got(3).getString(1) == "clean text with the number 7") // short digits untouched
    assert(got(4).isNullAt(1))
    // audit counts see each pattern independently
    val counts = rows.filter($"id" <= 3).select(
      Text.piiCount($"t", Text.EmailRe), Text.piiCount($"t", Text.Ipv4Re))
      .orderBy($"t").collect()
    assert(counts.map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((1, 0), (0, 1), (0, 0)))
    // the SQL surface states the same function
    Text.registerSqlFunctions(spark)
    rows.createOrReplaceTempView("pii_rows")
    val sql = spark.sql("SELECT scrub_pii(t) AS s FROM pii_rows ORDER BY id").collect()
    got.zip(sql).foreach { case (a, b) =>
      assert(a.isNullAt(1) == b.isNullAt(0))
      if (!a.isNullAt(1)) assert(a.getString(1) == b.getString(0))
    }
  }

  test("topNgramShare kernel equals the explode+count HOF form over the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
      .union(Seq((90011L, "la la la la"), (90012L, "one"), (90013L, ""),
        (90014L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val viaHof = docs.select($"doc_id",
        explode(Text.wordNgramsAll($"text", 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max($"c").cast("double") / sum($"c")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaKernel = docs.select($"doc_id", Text.topNgramShare($"text", 2).as("f"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else Double.box(r.getDouble(1)))).toMap
    // kernel NULL exactly where the HOF form has no bigram rows
    assert(viaKernel.filter(_._2 == null).keySet == viaKernel.keySet -- viaHof.keySet)
    viaHof.foreach { case (id, f) =>
      assert(math.abs(viaKernel(id).doubleValue - f) < 1e-12, s"doc $id")
    }
    assert(viaKernel(90011L).doubleValue == 1.0) // "la la" every time
  }

  test("chunkByTokens kernel equals the HOF form over the corpus, edges included") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("text")
      .union(Seq("", "   ", "one two three", null.asInstanceOf[String]).toDF("text"))
    Seq((50, 40), (50, 50), (512, 512)).foreach { case (c, s) =>
      val both = docs.select(Text.chunkByTokens($"text", c, s).as("k"),
        Text.chunkByTokensExpr($"text", c, s).as("h")).collect()
      both.foreach { r =>
        val k = if (r.isNullAt(0)) null else r.getSeq[String](0)
        val h = if (r.isNullAt(1)) null else r.getSeq[String](1)
        assert(k == h, s"chunk=$c stride=$s: $k vs $h")
      }
    }
  }

  test("property: topNgramShare equals a naive recount on random token soups") {
    import org.scalacheck.Gen
    val gen = Gen.listOf(Gen.oneOf("la", "the", "data", "spam", "x", "be-bop"))
      .map(_.mkString(" "))
    val seed = org.scalacheck.rng.Seed(7L)
    val samples = Iterator.iterate((gen(Gen.Parameters.default, seed), seed)) {
      case (_, s) => val s2 = s.next; (gen(Gen.Parameters.default, s2), s2)
    }.take(300).flatMap(_._1).toSeq :+ "" :+ "one" :+ "a a a a" :+ "  A, a!  a "
    samples.foreach { s =>
      val ws = graft.operators.Sketches.normalize(s).split(" ").filter(_.nonEmpty)
      val expect: java.lang.Double =
        if (ws.length < 2) null
        else {
          val bgs = ws.sliding(2).map(_.mkString(" ")).toSeq
          Double.box(bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.size)
        }
      val got = graft.operators.Sketches.topNgramShare(s, 2)
      assert(got == expect ||
        (got != null && expect != null && math.abs(got - expect) < 1e-15),
        s"'${s.take(40)}': got $got expect $expect")
    }
  }

  test("dupTokenFraction: repetition signal on normalized tokens") {
    val got = Seq(("a a b", 1), ("once upon a time", 2), ("", 3), ("  ", 4),
        ("Stop, stop; STOP!", 5))
      .toDF("t", "id")
      .select($"id", Text.dupTokenFraction($"t").as("f")).orderBy("id").collect()
      .map(_.getDouble(1))
    assert(math.abs(got(0) - (1.0 - 2.0 / 3)) < 1e-12)
    assert(got(1) == 0.0)
    assert(got(2) == 0.0 && got(3) == 0.0)
    assert(math.abs(got(4) - (1.0 - 1.0 / 3)) < 1e-12) // normalization folds case/punct
  }

  test("q56 winnow pairs: guarantee bracket holds and injected clones are found") {
    import graft.operators.Sketches
    val dir = "/root/testdata/sf0.001"
    // q56 has no SQL oracle (pairs sharing exactly-30..36-char runs are
    // selection-dependent) — this bracket is its correctness pin:
    //   pairs sharing a >= w+k-1 = 37-char normalized run  ⊆  detected
    //   detected  ⊆  pairs sharing a >= k = 30-char normalized run
    val got = SparkEntry.queries("q56_winnow_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val all = docs ++ docs.filter(_._1 < 5)
      .map { case (id, t) => (id + 300000L) -> (t + " winnowed clone mark") }
    def sharedGramPairs(len: Int): Set[(Long, Long)] = {
      val byGram = scala.collection.mutable.HashMap.empty[String, List[Long]]
      all.foreach { case (id, t) =>
        val n = Sketches.normalize(t)
        val grams = if (n.length < len) Set(n)
                    else (0 to n.length - len).map(i => n.substring(i, i + len)).toSet
        grams.foreach(g => byGram(g) = id :: byGram.getOrElse(g, Nil))
      }
      byGram.values.filter(_.size > 1).flatMap(ids =>
        ids.combinations(2).map(p => (p.min, p.max))).toSet
    }
    val guaranteed = sharedGramPairs(37)
    val possible = sharedGramPairs(30)
    assert(guaranteed.subsetOf(got),
      s"winnow missed guaranteed pairs: ${(guaranteed -- got).take(5)}")
    assert(got.subsetOf(possible),
      s"winnow invented pairs with no shared 30-gram: ${(got -- possible).take(5)}")
    // the five injected clones share their whole (>= 37-char) original
    (0L until 5L).foreach(i => assert(got.contains((i, i + 300000L))))
  }

  test("langId/qualityScore kernels equal the HOF forms; no interpreted HOF in plan") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
      .union(Seq((90001L, ""), (90002L, "   "),
        (90003L, "la la the the und und"), // en/fr stopword tie → en
        (90004L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val rows = docs.select($"doc_id",
        Text.langId($"text").as("li_k"), Text.langIdExpr($"text").as("li_e"),
        Text.qualityScore($"text").as("qs_k"), Text.qualityScoreExpr($"text").as("qs_e"),
        Text.meanWordLength($"text").as("mwl_k"), Text.meanWordLengthExpr($"text").as("mwl_e"),
        Text.stopwordRatio($"text").as("swr_k"), Text.stopwordRatioExpr($"text").as("swr_e"))
      .collect()
    // NULL text: the kernel is NULL-in→NULL-out like the SQL surface;
    // the HOF form leaked "und" (null hits fall through the when-chain
    // to the default) — a quirk, not a contract, so nulls compare
    // kernel-only here
    assert(rows.filter(_.isNullAt(1)).map(_.getLong(0)).toSeq == Seq(90004L))
    rows.filter(r => !r.isNullAt(1)).foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"langId doc ${r.getLong(0)}: kernel=${r.get(1)} hof=${r.get(2)}")
      assert(r.isNullAt(3) == r.isNullAt(4) &&
        (r.isNullAt(3) || r.getDouble(3) == r.getDouble(4)),
        s"quality doc ${r.getLong(0)}: kernel=${r.get(3)} hof=${r.get(4)}")
      assert(r.isNullAt(5) == r.isNullAt(6) &&
        (r.isNullAt(5) || r.getDouble(5) == r.getDouble(6)),
        s"mwl doc ${r.getLong(0)}: kernel=${r.get(5)} hof=${r.get(6)}")
      assert(r.isNullAt(7) == r.isNullAt(8) &&
        (r.isNullAt(7) || r.getDouble(7) == r.getDouble(8)),
        s"swr doc ${r.getLong(0)}: kernel=${r.get(7)} hof=${r.get(8)}")
    }
    // the kernel plan must carry no interpreted lambda evaluation — the
    // HOF forms ran filter(tokens(text)) per language / per component
    val plan = docs.select(Text.langId($"text"), Text.qualityScore($"text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("codeStats: line shapes, alnum density, empty and null texts") {
    val rows = Seq(
      (1L, "ab\ncdef\n"),     // lines [ab, cdef, ""]: max 4, avg 2.0
      (2L, ""),               // one empty line, zero density
      (3L, null.asInstanceOf[String]),
      (4L, "a-b c_d!")        // 4 alnum of 8 chars
    ).toDF("doc_id", "text")
    val got = rows.select($"doc_id", Text.codeStats($"text").as("s"))
      .select($"doc_id", $"s.n_lines", $"s.max_line_len",
        $"s.avg_line_len", $"s.alnum_frac")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((3, 4, 2.0, 0.75)))  // 6 alnum of 8 chars
    assert(got(2L) == ((1, 0, 0.0, 0.0)))
    assert(got(3L) == ((1, 0, 0.0, 0.0)))   // null coalesces to empty
    assert(got(4L) == ((1, 8, 8.0, 0.5)))
  }

  test("normalizeUnicode: forms, web foldings, controls, NULL; SQL surface agrees") {
    def k(s: String, form: String = "NFC", fold: Boolean = true) =
      Text.normalizeUnicodeScalar(s, form, fold)
    // canonical composition: decomposed e + combining acute == composed é
    assert(k("cafe\u0301") == "caf\u00e9") // decomposed-done
    assert(k("caf\u00e9") == "caf\u00e9")
    // NFKC compat foldings the NFC form must NOT do
    assert(k("ＡＢＣ１２", "NFKC") == "ABC12")
    assert(k("ﬁle", "NFKC") == "file")
    assert(k("Ａ", "NFC") == "Ａ")
    // web foldings: quotes, dashes, ellipsis, NBSP, zero-width
    assert(k("“q” ‘a’ x—y…") ==
      "\"q\" 'a' x-y...")
    assert(k("a​b c﻿d") == "ab cd")
    // controls: C0 except \t\n\r and all C1 vanish
    assert(k("abc\td\ne") == "abc\td\ne")
    // fold=false leaves the web characters alone (but still normalizes)
    assert(k("“q” café", fold = false) ==
      "“q” café")
    assert(k(null) == null)
    intercept[IllegalArgumentException](
      Text.normalizeUnicode(col("t"), form = "NFX"))
    // Column + SQL surfaces answer the kernel
    import spark.implicits._
    graft.functions.Text.registerSqlFunctions(spark)
    val df = Seq(("café — ok", 1)).toDF("t", "i")
    val viaCol = df.select(Text.normalizeUnicode(col("t")).as("n"))
      .as[String].head()
    df.createOrReplaceTempView("normspec")
    val viaSql = spark.sql("SELECT normalize_unicode(t, 'NFC') FROM normspec")
      .as[String].head()
    assert(viaCol == "café - ok" && viaSql == viaCol)
  }

  test("fimTransform: content-preserving PSM splits, deterministic, gate fractions, edge texts") {
    val docs = (1L to 200L).map(i => (i, s"doc $i body " + ("x" * (i % 37).toInt)))
      .toDF("doc_id", "text")
    val out = docs.select($"doc_id", $"text",
        Text.fimTransform($"doc_id", $"text").as("out")).collect()
    var transformed = 0
    out.foreach { r =>
      val (t, o) = (r.getString(1), r.getString(2))
      if (o != t) {
        transformed += 1
        // PSM frame: the three parts re-assemble to EXACTLY the
        // original text (prefix ++ middle ++ suffix)
        val m = "(?s)^<PRE>(.*)<SUF>(.*)<MID>(.*)$".r
        o match {
          case m(pre, suf, mid) => assert(pre + mid + suf == t,
            s"content not preserved for ${r.getLong(0)}")
          case _ => fail(s"malformed FIM frame: $o")
        }
      }
    }
    // the hash gate transforms roughly half (50% of 200, binomial)
    assert(transformed > 60 && transformed < 140, s"gate off: $transformed/200")
    // deterministic: same draws on a different partitioning
    val again = docs.repartition(7).select($"doc_id",
      Text.fimTransform($"doc_id", $"text").as("out"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach(r => assert(again(r.getLong(0)) == r.getString(2)))
    // pFimPct 0 = identity, 100 = every doc framed; empty text safe
    val edge = Seq((1L, ""), (2L, "ab")).toDF("doc_id", "text")
    val id0 = edge.select(Text.fimTransform($"doc_id", $"text", pFimPct = 0))
      .as[String].collect()
    assert(id0.toSeq == Seq("", "ab"))
    val all = edge.select(Text.fimTransform($"doc_id", $"text", pFimPct = 100))
      .as[String].collect()
    assert(all.forall(_.startsWith("<PRE>")))
    assert(all(0) == "<PRE><SUF><MID>", "empty text frames empty parts")
    // null passes through null
    val n = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(Text.fimTransform($"doc_id", $"text", pFimPct = 100))
      .as[String].collect()
    assert(n.toSeq == Seq(null))
  }

  test("licenseInfo: marker ladder, BSD-before-proprietary order, bounded header window") {
    def lic(t: String): (String, Boolean) = {
      val r = Seq(Tuple1(t)).toDF("text")
        .select(Text.licenseInfo($"text").as("li"))
        .select($"li.license", $"li.permissive").head()
      (r.getString(0), r.getBoolean(1))
    }
    assert(lic("// Permission is hereby granted, free of charge, to anyone\ncode") == ("mit", true))
    assert(lic("Licensed under the Apache License, Version 2.0\ncode") == ("apache-2.0", true))
    assert(lic("terms of the GNU General Public License\ncode") == ("gpl-3.0", false))
    // the BSD header ENDS with the proprietary notice's lead sentence
    // — a proprietary-first ladder mislabels it
    assert(lic("Redistribution and use in source and binary forms, with or without modification, are permitted. All rights reserved.") == ("bsd-3-clause", true))
    assert(lic("Copyright 2026 X. All rights reserved.") == ("proprietary", false))
    assert(lic("plain code, no header") == ("none", false))
    assert(lic(null.asInstanceOf[String]) == ("none", false))
    // a marker buried past the header window must not relicense
    assert(lic(("x" * 2000) + " permission is hereby granted, free of charge") == ("none", false))
    // and one just inside it does
    assert(lic("   Permission is hereby granted, free of charge" + ("x" * 2000)) == ("mit", true))
  }

  test("C4 badwords gate: whole-word matches only, hyphen boundaries, URL tokens, NULL") {
    def blocked(t: String): Boolean =
      Seq(Tuple1(t)).toDF("t").select(Text.containsBlockedWord($"t"))
        .head().getBoolean(0)
    assert(blocked("win big at the casino tonight"))
    assert(blocked("Hot PORN! site"))          // case + punctuation
    assert(blocked("free-porn links"))         // hyphen is a boundary
    assert(!blocked("sussex and essex are classy counties")) // substrings
    assert(!blocked("a perfectly clean sentence"))
    assert(!blocked(""))
    // NULL text: gate is NULL (refine's isNotNull base gate owns it)
    assert(Seq(Tuple1(null.asInstanceOf[String])).toDF("t")
      .select(Text.containsBlockedWord($"t")).head().isNullAt(0))
    def urlBlocked(u: String): Boolean =
      Seq(Tuple1(u)).toDF("u").select(Text.blockedUrl($"u"))
        .head().getBoolean(0)
    assert(urlBlocked("https://best-casino.example.com/play"))
    assert(urlBlocked("https://news.example.com/viagra-study"))
    assert(!urlBlocked("https://sussex.example.com/news"))
  }

  test("repetitionStats: hand-derived permilles, overlap-once coverage, lexicographic ties, ladder order") {
    def st(t: String): Seq[Long] = {
      val r = Seq(Tuple1(t)).toDF("text")
        .select(Text.repetitionStats($"text").as("st")).select("st.*").head()
      (0 until 13).map(r.getLong)
    }
    def rule(t: String): String =
      Seq(Tuple1(t)).toDF("text")
        .select(Text.gopherRepetitionRule(Text.repetitionStats($"text")))
        .head().getString(0)
    // lines "aa bb","aa bb","cc dd": 1 dup of 3 = 333; dup chars 5 of
    // 15 = 333; one paragraph (single \n only) so para stats 0; words
    // aa bb aa bb cc dd: top 2-gram "aa bb" covers positions
    // {0,1,2,3} = 8 chars of 12 = 666
    assert(st("aa bb\naa bb\ncc dd") ==
      Seq(0L, 333L, 0L, 333L, 666L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    // ladder: dup_line (333 > 300) outranks top_2gram (666 > 200)
    assert(rule("aa bb\naa bb\ncc dd") == "dup_line")
    // overlapping occurrences cover each position ONCE: "a b a b a b"
    // has "a b" at 0,2,4 covering all six words = 1000, and
    // "a b a" at 0,2 covering five of six = 833
    assert(st("a b a b a b").slice(4, 7) == Seq(1000L, 833L, 1000L))
    // count tie ("a a" and "bb cc" both occur twice) resolves to the
    // lexicographically SMALLEST gram: "a a" covers 3 chars of 11 =
    // 272, not "bb cc"'s 8 of 11 = 727
    assert(st("a a a bb cc bb cc")(4) == 272L)
    // paragraphs split on \n\n: "one","two","one" = 333 everywhere
    assert(st("one\n\ntwo\n\none").take(4) ==
      Seq(333L, 333L, 333L, 333L))
    assert(rule("one\n\ntwo\n\none") == "dup_para")
    // words are NORMALIZED (case folded, punctuation stripped):
    // "Stop! stop, STOP." is stop stop stop -> top 2-gram 1000
    assert(st("Stop! stop, STOP.")(4) == 1000L)
    // empty text: all zeros, no rule; NULL text: NULL struct
    assert(st("") == Seq.fill(13)(0L))
    assert(rule("") == null)
    assert(Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .select(Text.repetitionStats($"text")).head().isNullAt(0))
    // the q171 fixture battery end-to-end: every class's fired rule
    // is exactly the engineered one (fire classes) or none (passes)
    val expect = Text.GopherRepetitionRules.map(_._1)
      .flatMap(n => Seq(n, null))
    graft.battery.CorpusQueries.GopherFixtures.zip(expect).zipWithIndex.foreach {
      case ((fx, want), cls) =>
        assert(rule(fx) == want, s"fixture class $cls")
    }
  }

  test("gopherFiredRule: the single-kernel form equals the Column ladder on every fixture class") {
    // the funnel uses the one-pass kernel (gopherFiredRule); the q171
    // battery uses the struct + Column ladder — pin them equal over
    // all 26 fire/near-miss classes so a threshold or field-order
    // drift between the two forms can never ship
    val df = graft.battery.CorpusQueries.GopherFixtures.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("cls", "text")
    df.select($"cls",
        Text.gopherFiredRule($"text").as("kernel"),
        Text.gopherRepetitionRule(Text.repetitionStats($"text")).as("ladder"))
      .collect().foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"class ${r.getLong(0)}: kernel=${r.getString(1)} ladder=${r.getString(2)}")
      }
    // NULL text → NULL rule; empty text → no rule
    val edge = Seq(Tuple1(null.asInstanceOf[String]), Tuple1(""))
      .toDF("text").select(Text.gopherFiredRule($"text")).collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("chat template: exact ChatML bytes, NULL-turn resilience, token-level prefix stability of the SFT boundary") {
    val msgs = array(
      struct(lit("system").as("role"), lit("be brief").as("content")),
      struct(lit("user").as("role"), lit("the weather?").as("content")),
      struct(lit("assistant").as("role"), lit("rainy then fine")
        .as("content")))
    val df = Seq(Tuple1(1L)).toDF("doc_id").select($"doc_id",
      Text.renderChatMessages(msgs).as("rendered"),
      Text.chatPromptPrefix(msgs).as("prefix"))
    val r = df.head()
    assert(r.getString(1) ==
      "<|im_start|>system\nbe brief<|im_end|>\n" +
        "<|im_start|>user\nthe weather?<|im_end|>\n" +
        "<|im_start|>assistant\nrainy then fine<|im_end|>\n",
      r.getString(1))
    assert(r.getString(2) ==
      "<|im_start|>system\nbe brief<|im_end|>\n" +
        "<|im_start|>user\nthe weather?<|im_end|>\n" +
        "<|im_start|>assistant\n", r.getString(2))
    // a NULL content/role renders empty, never nulls the conversation
    val withNull = Seq(Tuple1(1L)).toDF("doc_id").select(
      Text.renderChatMessages(array(
        struct(lit(null).cast("string").as("role"),
          lit(null).cast("string").as("content")))).as("x"))
      .head().getString(0)
    assert(withNull == "<|im_start|>\n<|im_end|>\n", withNull)
    // prefix stability: the full rendering's BPE ids EXTEND the
    // prefix's ids exactly (the prefix ends at whitespace, and the
    // tokenizer is word-bounded) — the property that makes
    // n_tokens(prefix) a geometry-exact assembleSftSequences boundary
    val ids = graft.operators.Bpe.tokenIds(
        df.select($"doc_id", $"rendered"), "doc_id", "rendered",
        graft.battery.CorpusQueries.CommittedBpeMerges)
      .select("token_ids").as[Seq[Long]].head()
    val pIds = graft.operators.Bpe.tokenIds(
        df.select($"doc_id", $"prefix"), "doc_id", "prefix",
        graft.battery.CorpusQueries.CommittedBpeMerges)
      .select("token_ids").as[Seq[Long]].head()
    assert(ids.startsWith(pIds) && ids.size > pIds.size,
      s"prefix ids must be a strict prefix: $pIds vs $ids")
    // empty conversation: empty render, empty prefix
    val empty = Seq(Tuple1(1L)).toDF("doc_id").select(
      Text.renderChatMessages(array().cast(
        "array<struct<role string, content string>>")).as("a"),
      Text.chatPromptPrefix(array().cast(
        "array<struct<role string, content string>>")).as("b"))
      .head()
    assert(empty.getString(0) == "" && empty.getString(1) == "")
  }

  test("chatTurnUnits + turnMaskSpans: segment concat reproduces the render, counts are additive, spans index the real token array") {
    val msgs = array(
      struct(lit("system").as("role"), lit("be brief!").as("content")),
      struct(lit("user").as("role"), lit("what's the weather, now?")
        .as("content")),
      struct(lit("assistant").as("role"), lit("rainy then fine")
        .as("content")),
      struct(lit("assistant").as("role"), lit("").as("content")),
      struct(lit("user").as("role"), lit("thanks").as("content")))
    val df = Seq(Tuple1(1L)).toDF("doc_id").select($"doc_id",
      Text.renderChatMessages(msgs).as("rendered"),
      Text.chatTurnUnits(msgs).as("units"))
    // 1. concatenating every unit's header+body IS the rendering
    val rebuilt = df.select(aggregate($"units", lit(""), (acc, u) =>
      concat(acc, u.getField("header"), u.getField("body"))).as("x"))
      .head().getString(0)
    assert(rebuilt == df.head().getString(1), rebuilt)
    // 2. per-turn counts sum to the full rendering's token count
    //    (segment additivity — every boundary is whitespace)
    val counted = graft.operators.Bpe.turnTokenCounts(df, "units",
      graft.battery.CorpusQueries.CommittedBpeMerges)
    val counts = counted.selectExpr(
        "transform(turn_counts, c -> array(c.header_tokens, c.body_tokens))")
      .as[Seq[Seq[Long]]].head().map(a => (a(0), a(1)))
    val fullIds = graft.operators.Bpe.tokenIds(
        df.select($"doc_id", $"rendered"), "doc_id", "rendered",
        graft.battery.CorpusQueries.CommittedBpeMerges)
      .select("token_ids").as[Seq[Long]].head()
    assert(counts.map(c => c._1 + c._2).sum == fullIds.size,
      s"$counts vs ${fullIds.size}")
    // 3. spans cover exactly the assistant bodies, positioned where
    //    tokenizing the literal prefixes says they are
    val spans = counted.select(Text.turnMaskSpans($"units",
        $"turn_counts").as("sp"))
      .selectExpr("transform(sp, z -> array(z.start, z.end))")
      .as[Seq[Seq[Long]]].head().map(a => (a(0), a(1)))
    def nTok(s: String): Long = {
      val d = Seq((1L, s)).toDF("id", "t")
      graft.operators.Bpe.tokenIds(d, "id", "t",
        graft.battery.CorpusQueries.CommittedBpeMerges).select("n_tokens").as[Long].head()
    }
    val render = df.head().getString(1)
    // turn 2 (first assistant): [after its header, end of its body)
    val pre2 = "<|im_start|>system\nbe brief!<|im_end|>\n" +
      "<|im_start|>user\nwhat's the weather, now?<|im_end|>\n"
    val hdr = "<|im_start|>assistant\n"
    val body2 = "rainy then fine<|im_end|>\n"
    // turn 3 (empty assistant): trains just its <|im_end|> marker
    val pre3 = pre2 + hdr + body2
    val body3 = "<|im_end|>\n"
    assert(spans == Seq(
      (nTok(pre2 + hdr), nTok(pre2 + hdr + body2)),
      (nTok(pre3 + hdr), nTok(pre3 + hdr + body3))), spans)
    // adjacent assistant turns produce DISTINCT spans separated by
    // the second turn's header width
    assert(spans(1)._1 - spans(0)._2 == nTok(hdr), spans)
    assert(spans.last._2 < nTok(render)) // trailing user turn masked
    // 4. no assistant turns -> no spans; empty conversation -> none
    val noA = array(
      struct(lit("user").as("role"), lit("hi").as("content")))
    def spansOf(m: org.apache.spark.sql.Column): Seq[(Long, Long)] = {
      val d0 = Seq(Tuple1(1L)).toDF("doc_id")
        .select(Text.chatTurnUnits(m).as("units"))
      graft.operators.Bpe.turnTokenCounts(d0, "units",
          graft.battery.CorpusQueries.CommittedBpeMerges)
        .select(Text.turnMaskSpans($"units", $"turn_counts").as("sp"))
        .selectExpr("transform(sp, z -> array(z.start, z.end))")
        .as[Seq[Seq[Long]]].head().map(a => (a(0), a(1)))
    }
    assert(spansOf(noA).isEmpty)
    assert(spansOf(array().cast(
      "array<struct<role string, content string>>")).isEmpty)
  }
}
