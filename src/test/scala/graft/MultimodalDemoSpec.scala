package graft

import org.apache.spark.sql.functions._

/** [[MultimodalDemo]] composition: the counts must reconcile end to
  * end — every payload decodes, every injected clone is found in its
  * own modality, and the export audits clean. */
class MultimodalDemoSpec extends SparkSpec {

  test("media in == fingerprinted; clones all pair; export audits ok") {
    val out = graft.sources.Scratch.dir("graft_mm_spec").toString
    val r = MultimodalDemo.run(spark, "/root/testdata/sf0.001", out,
      cloneEvery = 10)
    val nDocs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").count()
    val nClones = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
        "documents").filter(pmod(col("doc_id"), lit(10)) === 0).count()
    assert(r.inputMedia == nDocs + nClones, s"synthesis drifted: $r")
    // every payload decodes into exactly one modality's fingerprints
    assert(r.images + r.audio == r.inputMedia, s"a payload failed to decode: $r")
    // at least one pair per injected clone (its base), clones always
    // the larger id so they all drop; coincidental same-texture pairs
    // may drop a few bases too — survivors is bounded both ways
    assert(r.dupPairs >= nClones, s"missed clone pairs: $r (expected >= $nClones)")
    assert(r.survivors <= r.inputMedia - nClones, s"a clone survived: $r")
    assert(r.survivors > 0, s"everything dropped: $r")
    assert(r.auditOk, s"export audit failed: $r")
    // the LAION leg: one pair mined per IMAGE (clones included — the
    // pages embed them all), then the perceptual dedup prunes the
    // pairs to EXACTLY the surviving images — tied against the landed
    // media export itself (both modalities lose coincidental
    // same-texture bases, so the image share must come from the
    // export, not arithmetic on the totals)
    assert(r.imagePairs == r.images, s"pair mining drifted: $r")
    val keptImages = spark.read.parquet(s"$out/media")
      .filter(col("format") === "png").count()
    assert(r.pairSurvivors == keptImages,
      s"pair dedup must track image survivors ($keptImages): $r")
    assert(r.pairSurvivors > 0 && r.pairSurvivors < r.imagePairs)
    assert(r.pairAuditOk, s"pair export audit failed: $r")
    // the landed pair table carries the alt and figcaption fields
    val pairs = spark.read.parquet(s"$out/pairs")
    assert(pairs.filter(col("alt_text").isNull ||
      col("caption").isNull).count() == 0,
      "every mined pair must carry alt and caption")
    assert(pairs.filter(!col("image_url")
      .startsWith("https://img.example.com/media/m")).count() == 0,
      "image URLs must resolve against the page URL")
    // the interleaved leg: one document per image page, each holding
    // exactly one placeholder between the two kept paragraphs, the
    // kept set tracking the image survivors, and a clean audit
    assert(r.interleavedDocs == r.images, s"interleaved synthesis drifted: $r")
    val keptImages2 = spark.read.parquet(s"$out/media")
      .filter(col("format") === "png").count()
    assert(r.interleavedKept == keptImages2,
      s"interleaved kept must track image survivors ($keptImages2): $r")
    assert(r.interleavedAuditOk, s"interleaved export audit failed: $r")
    val inter = spark.read.parquet(s"$out/interleaved")
    assert(inter.filter(col("n_images") =!= 1 || col("n_kept") =!= 2)
      .count() == 0, "every interleaved doc: 1 image, 2 kept paragraphs")
    assert(inter.filter(!col("interleaved_text")
      .contains("\n<|image_0|>\n")).count() == 0,
      "the placeholder must sit between the paragraphs")
    assert(inter.filter(element_at(col("image_captions"), 1)
      .startsWith("figure ")).count() == inter.count(),
      "figcaption must win the caption ladder")
    // the trainer seam: one image slot per kept doc, every slot ref
    // resolved, per-source attribution agreeing — reconciled inside
    // the demo against the kept docs' own image counts
    assert(r.trainerSequences > 0, s"no trainer sequences assembled: $r")
    assert(r.trainerImageSlots == r.interleavedKept,
      s"one slot per kept single-image doc: $r")
    assert(r.slotsReconcileOk, s"slot ledger failed to reconcile: $r")
  }
}
