package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Html, Multimodal, Sampling}
import graft.sources.Tables

/** The runnable end-to-end slice for the MULTIMODAL surface: one
  * `main` that takes a mixed media corpus to an audited, deduplicated
  * export —
  *
  *   synthesize media (real PNG + WAV payloads, with injected
  *   near-clones) → `Multimodal.mediaTable` (sniff/meta) →
  *   per-modality perceptual fingerprints (`imageDHash`,
  *   `audioFingerprint`) → Hamming radius search
  *   (`Dedup.signaturePairs`, one banding path for both modalities) →
  *   drop every non-minimum clone → sharded export with a checksum
  *   manifest (`Sampling.writeShardedWithManifest`) → one-scan audit
  *   (`verifyShardedExport`)
  *
  * Every stage is an existing, individually-oracled library call
  * (q102/q104/q105 machinery); this object only composes them, and
  * the composition spec reconciles the counts end to end. */
object MultimodalDemo {

  final case class Result(inputMedia: Long, images: Long, audio: Long,
                          dupPairs: Long, survivors: Long,
                          auditOk: Boolean,
                          imagePairs: Long, pairSurvivors: Long,
                          pairAuditOk: Boolean,
                          interleavedDocs: Long, interleavedKept: Long,
                          interleavedAuditOk: Boolean,
                          trainerSequences: Long, trainerImageSlots: Long,
                          slotsReconcileOk: Boolean)

  /** Run the slice: synthesize media rows off the `documents` ids in
    * `sfDir` (every `cloneEvery`-th id gets a perceptual near-clone at
    * id+10_000_000), dedup both modalities, export survivors' metadata
    * sharded under `outDir/media` (the image-text pairs under
    * `outDir/pairs`, the interleaved docs under `outDir/interleaved`),
    * and audit each export. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          cloneEvery: Int = 10, shards: Int = 8): Result = Shared.scope {
    import spark.implicits._
    val ids = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]

    // 1. synthesize: even ids carry PNGs, odd ids WAVs (both REAL
    //    codec payloads); selected ids get a near-clone — +1 pixel
    //    brightness for images, 2x amplitude for audio (each lands
    //    within the fingerprint radius of its base, q102/q104 shape)
    val media = Shared.pin(ids.flatMap { id =>
      def png(off: Long) = {
        val w = 16 + (id % 8).toInt; val h = 12 + (id % 5).toInt
        val c = 1 + (id % 5)
        Multimodal.Codec.encodePng(Multimodal.Codec.grayImage(w, h)(
          (x, y) => ((3L * x * x + 7L * y * y + c * x * y + 29L * id + off)
            % 256L).toInt))
      }
      def wav(sc: Int) = {
        val n = 800 + (id % 13).toInt * 16
        val half = 4 + (id % 5).toInt
        val a = 1000 + (id % 7).toInt * 500
        val k = 1 + (id % 11).toInt
        Multimodal.Codec.encodeWav(8000f, 1, Array.tabulate(n) { i =>
          val mag = a + (i * k) % 23
          (if ((i / half) % 2 == 0) mag else -(mag + 1)) * sc
        })
      }
      val isImage = id % 2 == 0
      val base = Multimodal.MediaRow(id, if (isImage) png(0) else wav(1),
        if (isImage) "png" else "wav")
      if (id % cloneEvery == 0)
        Seq(base, Multimodal.MediaRow(id + 10000000L,
          if (isImage) png(1) else wav(2), base.format))
      else Seq(base)
    })
    val inputMedia = media.count()

    // 2. metadata + per-modality fingerprints off the REAL decodes
    val meta = Multimodal.mediaTable(media.toDF(), "media_id", "content")
    val imgSigs = Multimodal.imageDHash(media.filter(_.format == "png"))
      .select(col("media_id").as("doc_id"), col("dhash").as("sig"))
    val audSigs = Multimodal.audioFingerprint(media.filter(_.format == "wav"))
      .select(col("media_id").as("doc_id"), col("afp").as("sig"))
    val images = imgSigs.count()
    val audio = audSigs.count()

    // 3. one banding path for both modalities; drop every pair's
    //    larger id (clone ids are minted above every base id)
    val pairs = Shared.pin(Dedup.signaturePairs(imgSigs, radius = 6)
      .unionByName(Dedup.signaturePairs(audSigs, radius = 2)))
    val dupPairs = pairs.count()
    val drops = pairs.select(col("doc_b").as("media_id")).distinct()
    val kept = Shared.pin(meta.join(drops, Seq("media_id"), "left_anti")
      .select("media_id", "n_bytes", "format", "content_hash"))
    val survivors = kept.count()

    // 4. audited export of the surviving media metadata
    val mediaDir = s"$outDir/media"
    Sampling.writeShardedWithManifest(kept, "media_id", shards, mediaDir)
    val auditOk = Sampling.verifyShardedExport(spark, mediaDir, "media_id")
      .filter(!col("ok")).isEmpty

    // 5. the LAION leg: synthesized pages EMBED the image media as
    //    <img src alt> inside captioned figures; Html.imageTextPairs
    //    mines the (image_url, alt, caption) pairs, the media id joins
    //    back off the canonical URL (a production pipeline joins on
    //    the FETCHED bytes' fingerprint — the URL embeds the id in
    //    this fixture), and the perceptual dedup above prunes the
    //    PAIRS: a pair whose image is a dropped near-clone follows its
    //    image out of the export. The pair table is the multimodal
    //    training artifact, manifest-audited like every export here.
    val pages = imgSigs.select(col("doc_id").as("media_id"))
      .select(col("media_id"),
        concat(lit("https://img.example.com/g/page"), col("media_id"),
          lit(".html")).as("url"),
        concat(lit("<figure><img src=\"/media/m"), col("media_id"),
          lit(".png\" alt=\"render "), col("media_id"),
          lit("\"><figcaption>figure "), col("media_id"),
          lit("</figcaption></figure>")).as("html"))
    // pinned: the count, the kept-join's build side, the sharded write
    // (twice internally: data + manifest) and the survivor count would
    // otherwise each re-run the pair-mining kernel over every page
    val pairRows = Shared.pin(Html.imageTextPairs(pages, "media_id", "url", "html")
      .select(regexp_extract(col("image_url"), "m(\\d+)\\.png", 1)
          .cast("long").as("media_id"),
        col("image_url"), col("alt_text"), col("caption")))
    val imagePairs = pairRows.count()
    val pairsKept = pairRows.join(kept.select("media_id"), Seq("media_id"))
    val pairsDir = s"$outDir/pairs"
    Sampling.writeShardedWithManifest(pairsKept, "media_id", shards,
      pairsDir)
    val pairSurvivors = pairsKept.count()
    val pairAuditOk = Sampling.verifyShardedExport(spark, pairsDir,
        "media_id")
      .filter(!col("ok")).isEmpty

    // 6. the INTERLEAVED leg (the MMC4/OBELICS shape): the same image
    //    media embedded in RUNNING TEXT — two content paragraphs
    //    around the captioned figure — assembles to
    //    text-with-placeholder documents whose aligned image list
    //    follows the dedup verdicts exactly like the pairs above (a
    //    document whose image dropped as a near-clone leaves the
    //    export with it). Manifest-audited like every artifact here.
    val iPages = imgSigs.select(col("doc_id").as("media_id"))
      .select(col("media_id"),
        concat(lit("https://img.example.com/g/page"), col("media_id"),
          lit(".html")).as("url"),
        concat(
          lit("<p>Opening paragraph for media item "), col("media_id"),
          lit(" with enough length to keep it.</p>"),
          lit("<figure><img src=\"/media/m"), col("media_id"),
          lit(".png\" alt=\"render "), col("media_id"),
          lit("\"><figcaption>figure "), col("media_id"),
          lit("</figcaption></figure>"),
          lit("<p>Closing paragraph for media item "), col("media_id"),
          lit(" is also long enough to keep.</p>")).as("html"))
    val interRows = Shared.pin(Html.interleavedDocs(iPages, "media_id", "url", "html")
      .select(col("doc_id").as("media_id"), col("interleaved_text"),
        col("image_urls"), col("image_captions"), col("n_images"),
        col("n_kept")))
    val interleavedDocs = interRows.count()
    val interKept = interRows.join(kept.select("media_id"), Seq("media_id"))
    val interDir = s"$outDir/interleaved"
    Sampling.writeShardedWithManifest(interKept, "media_id", shards,
      interDir)
    val interleavedKept = interKept.count()
    val interleavedAuditOk = Sampling.verifyShardedExport(spark, interDir,
        "media_id")
      .filter(!col("ok")).isEmpty

    // 7. the TRAINER SEAM: the kept interleaved docs tokenize
    //    (placeholder lines -> one reserved id each), pack, and
    //    assemble into multimodal sequences with the image LOOKASIDE
    //    table — and the slot ledger must reconcile with the docs it
    //    came from: total slots == the kept docs' total image count,
    //    per-source slot attribution sums to the same figure.
    val interToks = graft.operators.Multimodal.tokenizeInterleaved(
      interKept.select(col("media_id"), col("interleaved_text"),
        col("image_urls")),
      "media_id", "interleaved_text", "image_urls",
      Seq(("t", "h"), ("i", "n"), ("e", "</w>")))
    val interSeqs = Shared.pin(graft.operators.Packing.assembleMultimodalSequences(
      graft.operators.Packing.packContiguous(interToks, "media_id",
        "n_tokens", budget = 256L, shards = 2),
      "media_id", "token_ids", "image_refs", orderCol = "media_id"))
    val slotTable = graft.operators.Packing.imageSlotTable(interSeqs)
    val trainerSequences = interSeqs.count()
    val trainerImageSlots = slotTable.count()
    val keptImages = interKept.agg(coalesce(sum(col("n_images")), lit(0L)))
      .head().getLong(0)
    val attributedSlots = graft.operators.Packing.sequenceAttribution(
        interSeqs, interToks.select(col("media_id"),
          lit("media").as("src")), "media_id", "src",
        imageId = Some(graft.operators.Multimodal.ImagePlaceholderId))
      .agg(coalesce(sum(col("n_image_slots")), lit(0L))).head().getLong(0)
    val slotsReconcileOk = trainerImageSlots == keptImages &&
      attributedSlots == keptImages &&
      slotTable.filter(col("image_ref").isNull).isEmpty

    Result(inputMedia, images, audio, dupPairs, survivors, auditOk,
      imagePairs, pairSurvivors, pairAuditOk,
      interleavedDocs, interleavedKept, interleavedAuditOk,
      trainerSequences, trainerImageSlots, slotsReconcileOk)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1)
      else graft.sources.Scratch.dir("graft_mm_demo").toString
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, sfDir, outDir)
    println(s"media=${r.inputMedia} images=${r.images} audio=${r.audio} " +
      s"dup_pairs=${r.dupPairs} survivors=${r.survivors} audit_ok=${r.auditOk} " +
      s"image_pairs=${r.imagePairs}->${r.pairSurvivors} " +
      s"pair_audit=${r.pairAuditOk} " +
      s"interleaved=${r.interleavedDocs}->${r.interleavedKept} " +
      s"interleaved_audit=${r.interleavedAuditOk} " +
      s"trainer_seqs=${r.trainerSequences} " +
      s"image_slots=${r.trainerImageSlots} " +
      s"slots_reconcile=${r.slotsReconcileOk} out=$outDir")
    spark.stop()
  }
}
