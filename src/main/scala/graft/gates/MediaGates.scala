package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Materialize, Multimodal}

import Shared._

/** Multimodal operators: media metadata, image, audio and video
  * fingerprints and their incremental and mixed-media dedup.
  */
private[graft] object MediaGates {

  /** Multimodal metadata over an opaque binary payload (typed meta
    * struct). This oracle row covers the metadata/plumbing layer; the
    * REAL image/audio decode (ImageIO pixel stats, javax.sound PCM
    * stats — [[graft.pipeline.Multimodal.decodePartitioned]]) is
    * spec-tested instead, since DuckDB cannot re-derive codec output.
    */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val payload = Multimodal.payloadOf(col("text"))
    docsNarrow(s, dir).select(
        col("doc_id") +: Multimodal.metaColumns(payload)
          :+ md5(payload).as("payload_md5"): _*)
      .orderBy("doc_id")
  }

  /** A REAL 16×16 24-bit BMP whose 256 grayscale pixels are an md5
    * stream keyed by `id` (pixel p reads byte p%16 of
    * md5("img:" + id + ":" + p/16)) — decodable by the JDK's ImageIO,
    * deterministic across executors/retries, and visually uncorrelated
    * across ids (so average-hashes of different ids are ~uniform
    * 64-bit values). `variant = 1` XORs pixel (0, 0)'s value with 1 —
    * a DIFFERENT image one luminance unit away, the minimal perceptual
    * near-duplicate. Row order is BMP bottom-up; rows are 48 bytes
    * (16·3), already 4-aligned, so no padding.
    */
  private def syntheticBmp16(id: Long, variant: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val px = new Array[Int](256)
    var blk = 0
    while (blk < 16) {
      val h = md.digest(s"img:$id:$blk".getBytes("UTF-8"))
      var b = 0
      while (b < 16) { px(blk * 16 + b) = h(b) & 0xff; b += 1 }
      blk += 1
    }
    if (variant == 1) px(0) ^= 1
    val out = new Array[Byte](14 + 40 + 768)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, out.length); le32(10, 54)
    le32(14, 40); le32(18, 16); le32(22, 16)
    out(26) = 1; out(28) = 24 // planes, bpp (compression 0, default)
    le32(34, 768)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        // bottom-up storage: file row 0 is image row 15
        val v = px((15 - y) * 16 + x).toByte
        val o = 54 + (y * 16 + x) * 3
        out(o) = v; out(o + 1) = v; out(o + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** Image perceptual-hash near-dup — the dedup family extended to the
    * image modality ([[graft.pipeline.Multimodal.averageHash]]: REAL
    * ImageIO decode → g×g integer luminance grid → aHash), gated in
    * the composed-parity style. Per document TWO real BMPs are
    * synthesized ([[syntheticBmp16]]): the base image and a
    * one-luminance-unit twin — different bytes, near-identical
    * pixels. The gate pins, against DuckDB-re-derived populations:
    * (1) every payload decodes as a real 16×16 image (metadata path);
    * (2) every aHash equals an INDEPENDENT in-query integer fold over
    * the emitted luminance grid (same `Σ div 64` mean, same
    * strict-greater bit rule — one differing bit reds the row);
    * (3) [[graft.pipeline.Dedup.simHashNearPairs]] Hamming banding at
    * k = 8 finds EVERY base↔twin pair (perceptual robustness: a
    * one-unit pixel edit moves one grid cell by at most one level) and
    * (4) NO cross-document pair (md5-stream images are visually
    * uncorrelated, so inter-doc Hamming concentrates at ~32 — verified
    * deterministic at every fixture SF). No all-pairs stage anywhere:
    * the pairing is the same pigeonhole band join the text SimHash
    * path scales on.
    */
  private def qImagePhash(s: SparkSession, dir: String): DataFrame = {
    val bmp = udf((id: Long, v: Int) => syntheticBmp16(id, v))
    val imgs = twoVariants(s, dir)
      .withColumn("img", bmp(col("doc_id"), col("variant")))
    val metaOk = udf((b: Array[Byte]) => {
      val m = graft.pipeline.Multimodal.ImageCodec.meta(b)
      m._1 == "image/bmp" && m._2 == 16 && m._3 == 16
    })
    // decode once: the stats aggregate and BOTH sides of the pair join
    // branch from this frame, so without materialising it each branch
    // would re-synthesize and re-decode every image (measured ~3× the
    // decode wall at 10×sf0.1) — persisting the THIN post-decode frame
    // (ids + two longs + two flags, never the pixels) is exactly the
    // decode-once posture a corpus-scale media pipeline runs
    val hashed = Materialize(withHashFold(
        Multimodal.averageHash(imgs, "img"), "lum_grid")
      .withColumn("__img_ok", metaOk(col("img")))
      .select(col("doc_id"), col("variant"), col("ahash"), col("__hsql"),
        col("__img_ok")))
    val stats = hashed.agg(
      count(lit(1)).as("n_images"),
      sum(when(col("__img_ok"), 1L).otherwise(0L)).as("n_decoded"),
      sum(when(col("ahash") === col("__hsql"), 1L).otherwise(0L))
        .as("n_hash_parity"))
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select((col("doc_id") * 2 + col("variant")).as("img_id"),
        col("ahash")),
      "img_id", "ahash", k = 8)
    val pairStats = twinCrossCounts(pairs, "id_a", "id_b", "pairs")
    // n_docs = n_images / 2 (two variants per doc) — from the
    // materialised stats frame, not a separate corpus count job
    stats.crossJoin(pairStats) // 1×1 scalar attach
      .select((col("n_images") / 2).cast("long").as("n_docs"),
        col("n_images"),
        col("n_decoded"), col("n_hash_parity"),
        col("n_twin_pairs"), col("n_cross_pairs"))
  }

  /** A REAL RIFF/WAVE file (PCM16 mono, 8 kHz, 512 frames) whose samples
    * are an md5 stream keyed by `id` (frame p reads little-endian short
    * 2·(p%8) of md5("aud:" + id + ":" + p/8)) — decodable by the JDK's
    * `javax.sound.sampled`, deterministic across executors/retries, and
    * acoustically uncorrelated across ids (so energy-window hashes of
    * different ids are ~uniform 64-bit values). `variant = 1` XORs
    * frame 0's sample with 1 — a DIFFERENT clip one sample-LSB away,
    * the minimal audible near-duplicate.
    */
  private def syntheticWav(id: Long, variant: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sm = new Array[Int](512)
    var blk = 0
    while (blk < 64) {
      val h = md.digest(s"aud:$id:$blk".getBytes("UTF-8"))
      var p = 0
      while (p < 8) {
        sm(blk * 8 + p) =
          (((h(2 * p + 1) & 0xff) << 8) | (h(2 * p) & 0xff)).toShort.toInt
        p += 1
      }
      blk += 1
    }
    if (variant == 1) sm(0) ^= 1
    val out = new Array[Byte](44 + 1024)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def tag(off: Int, t: String): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = t.charAt(i).toByte; i += 1 }
    }
    tag(0, "RIFF"); le32(4, 36 + 1024); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16)
    out(20) = 1 // PCM
    out(22) = 1 // mono
    le32(24, 8000); le32(28, 16000) // rate, byte rate
    out(32) = 2; out(34) = 16 // block align, bits
    tag(36, "data"); le32(40, 1024)
    var i = 0
    while (i < 512) {
      out(44 + 2 * i) = (sm(i) & 0xff).toByte
      out(44 + 2 * i + 1) = ((sm(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Audio-fingerprint near-dup — the dedup family's THIRD modality
    * (text SimHash, image aHash, now audio:
    * [[graft.pipeline.Multimodal.audioFingerprint]] — REAL
    * `javax.sound` PCM decode → 64 integer span energies → aHash over
    * the loudness envelope), gated in the `q_image_phash`
    * composed-parity style. Per document TWO real WAVs are synthesized
    * ([[syntheticWav]]): the base clip and a one-LSB twin — different
    * bytes, near-identical waveform. The gate pins, against
    * DuckDB-re-derived populations: (1) every payload decodes as real
    * 8 kHz mono 512-frame audio (metadata path); (2) every fingerprint
    * equals an INDEPENDENT in-query integer fold over the emitted
    * energy windows (same `Σ div 64` mean, same strict-greater bit rule
    * — one differing bit reds the row); (3)
    * [[graft.pipeline.Dedup.simHashNearPairs]] Hamming banding at k = 4
    * finds EVERY base↔twin pair (envelope robustness: a one-LSB sample
    * edit moves one window's energy by ≤ 2·|s|+1 ≪ the inter-window
    * spread) and (4) NO cross-document pair (md5-stream clips are
    * acoustically uncorrelated — inter-doc Hamming concentrates at
    * ~32; verified deterministic at every fixture SF). No all-pairs
    * stage anywhere — the same pigeonhole band join the text and image
    * paths scale on.
    */
  private def qAudioFingerprint(s: SparkSession, dir: String): DataFrame = {
    val wav = udf((id: Long, v: Int) => syntheticWav(id, v))
    val clips = twoVariants(s, dir)
      .withColumn("clip", wav(col("doc_id"), col("variant")))
    val metaOk = udf((b: Array[Byte]) => {
      val m = graft.pipeline.Multimodal.AudioCodec.meta(b)
      m._1 == "audio/wav" && m._2 == 8000 && m._3 == 1 && m._4 == 512
    })
    // decode once (the image row's posture): stats and both pair-join
    // sides branch from the THIN materialised frame — without it each
    // branch re-synthesizes and re-decodes every clip, and the
    // javax.sound SPI lookup is the measured cost leader at 10×sf0.1
    val hashed = Materialize(withHashFold(
        Multimodal.audioFingerprint(clips, "clip"), "energy_windows")
      .withColumn("__clip_ok", metaOk(col("clip")))
      .select(col("doc_id"), col("variant"), col("afp"), col("__hsql"),
        col("__clip_ok")))
    val stats = hashed.agg(
      count(lit(1)).as("n_audio"),
      sum(when(col("__clip_ok"), 1L).otherwise(0L)).as("n_decoded"),
      sum(when(col("afp") === col("__hsql"), 1L).otherwise(0L))
        .as("n_fp_parity"))
    // blocks = 6 (Manku multi-block banding): ~21-bit combination keys
    // instead of ~13-bit single chunks — at 10× the corpus the k = 4
    // candidate volume otherwise outgrows the decode scan (measured;
    // see Dedup.simHashNearPairs)
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select((col("doc_id") * 2 + col("variant")).as("clip_id"),
        col("afp")),
      "clip_id", "afp", k = 4, blocks = 6)
    val pairStats = twinCrossCounts(pairs, "id_a", "id_b", "pairs")
    // n_docs = n_audio / 2 (two variants per doc) — from the
    // materialised stats frame, not a separate corpus count job
    stats.crossJoin(pairStats) // 1×1 scalar attach
      .select((col("n_audio") / 2).cast("long").as("n_docs"),
        col("n_audio"),
        col("n_decoded"), col("n_fp_parity"),
        col("n_twin_pairs"), col("n_cross_pairs"))
  }

  /** A REAL ISO-BMFF (MP4) container — `ftyp(isom)` + `moov(mvhd v0,
    * trak(tkhd v0 320×240, mdia/minf/stbl/stsz))` + an empty `mdat` —
    * whose 256-entry sample-size table is an md5 stream keyed by `id`
    * (entry p reads big-endian u16 2·(p%8) of md5("vid:" + id + ":" +
    * p/8), mapped to 64 + u16 % 1024): parseable by the repo's own box
    * walker AND any ISO/IEC 14496-12 reader, deterministic across
    * executors/retries, and size-uncorrelated across ids (so
    * bitrate-envelope hashes of different ids are ~uniform 64-bit
    * values). mvhd carries timescale 1000 / duration 10240 → 10 240 ms;
    * sample payloads are declared but not embedded — the CMAF/DASH
    * init-segment posture, where `moov` metadata travels separately
    * from media segments (the fingerprint is a pure function of the
    * size table, which IS present). `variant = 1` grows sample 0 by
    * one byte — a DIFFERENT bitstream one byte away, the minimal
    * container-level near-duplicate.
    */
  private def syntheticMp4(id: Long, variant: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sz = new Array[Int](256)
    var blk = 0
    while (blk < 32) {
      val h = md.digest(s"vid:$id:$blk".getBytes("UTF-8"))
      var p = 0
      while (p < 8) {
        val u16 = ((h(2 * p) & 0xff) << 8) | (h(2 * p + 1) & 0xff)
        sz(blk * 8 + p) = 64 + (u16 % 1024)
        p += 1
      }
      blk += 1
    }
    if (variant == 1) sz(0) += 1
    // box sizes bottom-up: stsz 8+12+4*256, stbl/minf/mdia each +8,
    // tkhd 8+84, trak 8+92+1068, mvhd 8+100, moov 8+108+1168
    val out = new Array[Byte](16 + 1284 + 8)
    var o = 0
    def be32(v: Int): Unit = {
      out(o) = ((v >> 24) & 0xff).toByte; out(o + 1) = ((v >> 16) & 0xff).toByte
      out(o + 2) = ((v >> 8) & 0xff).toByte; out(o + 3) = (v & 0xff).toByte
      o += 4
    }
    def tag(t: String): Unit = { var i = 0; while (i < 4) { out(o) = t.charAt(i).toByte; o += 1; i += 1 } }
    def zeros(n: Int): Unit = o += n // array is zero-initialised
    be32(16); tag("ftyp"); tag("isom"); be32(0)
    be32(1284); tag("moov")
    be32(108); tag("mvhd"); zeros(4) // version 0 + flags
    zeros(8) // creation, modification
    be32(1000); be32(10240) // timescale, duration
    zeros(100 - 20) // rate..next_track_id
    be32(1168); tag("trak")
    be32(92); tag("tkhd"); zeros(4)
    zeros(72) // creation..matrix (4+4+4+4+4+8+2+2+2+2+36 after vf)
    be32(320 << 16); be32(240 << 16) // 16.16 width, height
    be32(1068); tag("mdia")
    be32(1060); tag("minf")
    be32(1052); tag("stbl")
    be32(1044); tag("stsz"); zeros(4)
    be32(0); be32(256) // per-entry sizes follow
    var i = 0
    while (i < 256) { be32(sz(i)); i += 1 }
    be32(8); tag("mdat")
    out
  }

  /** Video-fingerprint near-dup — the dedup family's FOURTH modality
    * (text SimHash, image aHash, audio energy hashing, now video:
    * [[graft.pipeline.Multimodal.videoFingerprint]] — REAL ISO-BMFF
    * box-walk → `stsz` sample-size table → 64 integer bitrate-envelope
    * sums → aHash), gated in the `q_audio_fingerprint` composed-parity
    * style. The JDK ships no video frame decoder, so the fingerprint
    * is the honest decode-free one: the ENCODED BITSTREAM's size
    * envelope, invariant under re-muxing and disturbed by any
    * re-encode. Per document TWO real MP4 containers are synthesized
    * ([[syntheticMp4]]): the base clip and a twin whose first sample
    * is one byte larger. The gate pins, against DuckDB-re-derived
    * populations: (1) every payload's container really parses
    * (video/mp4, 320×240, 10 240 ms — the mvhd/tkhd walk); (2) every
    * fingerprint equals an INDEPENDENT in-query integer fold over the
    * emitted size windows (same `Σ div 64` mean, same strict-greater
    * bit rule — one differing bit reds the row); (3)
    * [[graft.pipeline.Dedup.simHashNearPairs]] Hamming banding at
    * k = 4 under Manku blocks = 6 finds EVERY base↔twin pair (envelope
    * robustness: a one-byte sample edit moves one window's sum by 1 ≪
    * the inter-window spread) and (4) NO cross-document pair
    * (md5-stream size tables are uncorrelated — inter-doc Hamming
    * concentrates at ~32; verified deterministic at every fixture SF).
    * No all-pairs stage anywhere — the same pigeonhole band join the
    * text, image and audio paths scale on.
    */
  private def qVideoFingerprint(s: SparkSession, dir: String): DataFrame = {
    val mp4 = udf((id: Long, v: Int) => syntheticMp4(id, v))
    val clips = twoVariants(s, dir)
      .withColumn("clip", mp4(col("doc_id"), col("variant")))
    val metaOk = udf((b: Array[Byte]) => {
      val m = graft.pipeline.Multimodal.VideoCodec.meta(b)
      m._1 == "video/mp4" && m._2 == 320 && m._3 == 240 && m._4 == 10240
    })
    // decode once (the image/audio rows' posture): stats and both
    // pair-join sides branch from the THIN materialised frame
    val hashed = Materialize(withHashFold(
        Multimodal.videoFingerprint(clips, "clip"), "size_windows")
      .withColumn("__clip_ok", metaOk(col("clip")))
      .select(col("doc_id"), col("variant"), col("vfp"), col("__hsql"),
        col("__clip_ok")))
    val stats = hashed.agg(
      count(lit(1)).as("n_videos"),
      sum(when(col("__clip_ok"), 1L).otherwise(0L)).as("n_parsed"),
      sum(when(col("vfp") === col("__hsql"), 1L).otherwise(0L))
        .as("n_fp_parity"))
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select((col("doc_id") * 2 + col("variant")).as("clip_id"),
        col("vfp")),
      "clip_id", "vfp", k = 4, blocks = 6)
    val pairStats = twinCrossCounts(pairs, "id_a", "id_b", "pairs")
    // n_docs = n_videos / 2 (two variants per doc) — from the
    // materialised stats frame, not a separate corpus count job
    stats.crossJoin(pairStats) // 1×1 scalar attach
      .select((col("n_videos") / 2).cast("long").as("n_docs"),
        col("n_videos"),
        col("n_parsed"), col("n_fp_parity"),
        col("n_twin_pairs"), col("n_cross_pairs"))
  }

  /** Media KEEP-BEST — the survivor policy the text family already has
    * (`q_dedup_near_best` / `q_semdedup_best`), completed for media:
    * among near-duplicate clips a real pipeline keeps the
    * HIGHEST-BITRATE copy (resolution/bitrate is the media quality
    * signal the way the q_quality formula is for text). The video
    * fingerprint pair graph (the `q_video_fingerprint` machinery)
    * feeds [[graft.pipeline.Dedup.connectedComponents]]; each clique
    * keeps its max-total-sample-size member, ties to the lower id. The
    * synthesized twin is exactly ONE BYTE bigger than its base, so the
    * bitrate rule must pick the twin in EVERY clique — a sharp value
    * claim, not just counts: the gate pins n_components == n_docs
    * (every base↔twin clique found), n_survivors == n_docs, and
    * n_survivors_twin == n_docs (every survivor is the odd clip — the
    * policy provably selected on quality, not id order), all against
    * DuckDB-re-derived populations.
    */
  private def qMediaDedupBest(s: SparkSession, dir: String): DataFrame = {
    val mp4 = udf((id: Long, v: Int) => syntheticMp4(id, v))
    val clips = twoVariants(s, dir)
      .withColumn("clip", mp4(col("doc_id"), col("variant")))
    // thin post-walk frame: the pair join and the quality rank both
    // branch from it (decode-once posture)
    val hashed = Materialize(Multimodal.videoFingerprint(clips, "clip")
      .select((col("doc_id") * 2 + col("variant")).as("clip_id"),
        col("vfp"),
        expr("aggregate(size_windows, CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("__bitrate")))
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select("clip_id", "vfp"), "clip_id", "vfp",
      k = 4, blocks = 6)
    val comps = graft.pipeline.Dedup.connectedComponents(pairs)
    // per clique: keep max (__bitrate, -clip_id) — quality first, ties
    // to the lower id (a total order, the text family's rule)
    val survivors = comps.join(hashed, col("id") === col("clip_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("__bitrate"), (-col("clip_id")).as("__nid")))
        .as("__best"))
      .select((-col("__best.__nid")).as("survivor_id"))
    // n_docs = half the materialised clip frame — rides the same plan
    // as the other stats branches instead of a separate corpus count
    val mediaStats = hashed.agg(
      (count(lit(1)) / 2).cast("long").as("n_docs"))
    val compStats = comps.agg(
      count(lit(1)).as("n_clustered"),
      countDistinct(col("cluster_id")).as("n_components"))
    val survStats = survivors.agg(
      count(lit(1)).as("n_survivors"),
      sum(when(col("survivor_id") % 2 === 1, 1L).otherwise(0L))
        .as("n_survivors_twin"))
    mediaStats.crossJoin(compStats).crossJoin(survStats) // 1×1 attach
      .select(col("n_docs"), col("n_clustered"),
        col("n_components"), col("n_survivors"),
        col("n_survivors_twin"))
  }

  /** MIXED-MODALITY media dedup — the capstone the four single-modality
    * rows build to, because it is the shape a real lake has: ONE binary
    * column interleaving images, audio and video, with nothing upstream
    * knowing each row's modality.
    * [[graft.pipeline.Multimodal.mediaFingerprint]] sniffs the
    * container per row (the CompositeCodec dispatch rule) and routes to
    * that modality's 64-slot integer envelope (luminance grid / energy
    * windows / stsz bitrate envelope), hashed by the ONE shared
    * integer aHash rule — so a SINGLE in-query SQL fold re-derives
    * every row's hash from its emitted windows regardless of modality.
    * Per document the modality is `doc_id % 3` (image BMP / audio WAV /
    * video MP4, the exact synthesizers of the single-modality gates)
    * with the base clip and its minimal twin. The gate pins, against
    * DuckDB-re-derived populations: (1) every payload is dispatched to
    * its EXPECTED modality; (2) every fingerprint equals the uniform
    * independent fold; (3) Hamming banding at the image row's k = 8
    * finds EVERY base↔twin pair; (4) NO cross-document pair and —
    * the mixed-specific claim — (5) NO pair crosses modalities (a
    * luminance grid and a loudness envelope share no geometry; the
    * equal-`modality` rule the operator documents must hold in the
    * data). Same pigeonhole band join; no all-pairs stage.
    */
  private def qMediaDedupMixed(s: SparkSession, dir: String): DataFrame = {
    val payload = udf((id: Long, v: Int) => (id % 3) match {
      case 0 => syntheticBmp16(id, v)
      case 1 => syntheticWav(id, v)
      case _ => syntheticMp4(id, v)
    })
    val clips = twoVariants(s, dir)
      .withColumn("clip", payload(col("doc_id"), col("variant")))
    val hashed = Materialize(withHashFold(
        Multimodal.mediaFingerprint(clips, "clip"), "media_windows")
      .withColumn("__mod_ok",
        col("modality") === when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
      .select(col("doc_id"), col("variant"), col("mfp"), col("__hsql"),
        col("__mod_ok")))
    val stats = hashed.agg(
      count(lit(1)).as("n_media"),
      sum(when(col("__mod_ok"), 1L).otherwise(0L)).as("n_modality_ok"),
      sum(when(col("mfp") === col("__hsql"), 1L).otherwise(0L))
        .as("n_fp_parity"))
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select((col("doc_id") * 2 + col("variant")).as("clip_id"),
        col("mfp")),
      "clip_id", "mfp", k = 8)
    // clip_id div 2 = doc_id, so a pair's modalities are arithmetic:
    // (doc_id % 3) on each side — no join back needed
    val pairStats = pairs
      .withColumn("__doc_a", shiftright(col("id_a"), 1))
      .withColumn("__doc_b", shiftright(col("id_b"), 1))
      .agg(
        coalesce(sum(when(col("__doc_a") === col("__doc_b"), 1L)
          .otherwise(0L)), lit(0L)).as("n_twin_pairs"),
        coalesce(sum(when(col("__doc_a") =!= col("__doc_b"), 1L)
          .otherwise(0L)), lit(0L)).as("n_cross_pairs"),
        coalesce(sum(when(col("__doc_a") % 3 =!= col("__doc_b") % 3, 1L)
          .otherwise(0L)), lit(0L)).as("n_cross_modality"))
    // n_docs = n_media / 2 (exactly two variants per doc) — derived
    // from the already-materialised stats frame instead of a separate
    // corpus count job
    stats.crossJoin(pairStats) // 1×1 scalar attach
      .select((col("n_media") / 2).cast("long").as("n_docs"),
        col("n_media"),
        col("n_modality_ok"), col("n_fp_parity"),
        col("n_twin_pairs"), col("n_cross_pairs"),
        col("n_cross_modality"))
  }

  /** Each doc's two synthesized clips (`variant` 0 and 1). */
  private def twoVariants(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"))
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("variant"))

  /** `df` plus the in-query integer aHash fold over its `windows`
    * array: the `Σ div 64` mean (`__mean`) and the strict-greater bit
    * rule (`__hsql`) every media fingerprint is checked against.
    */
  private def withHashFold(df: DataFrame, windows: String): DataFrame =
    df.withColumn("__mean",
        expr(s"aggregate($windows, CAST(0 AS BIGINT), (a, x) -> a + x)" +
          " div 64"))
      .withColumn("__hsql",
        expr("aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->" +
          s" acc + IF(element_at($windows, i + 1) > __mean," +
          " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"))

  /** One row: how many `pairs` join two clips of one doc
    * (`n_twin_<what>`) and how many join two docs
    * (`n_cross_<what>`). Clip ids `a`/`b` are doc_id · 2 + variant.
    */
  private def twinCrossCounts(pairs: DataFrame, a: String, b: String,
      what: String): DataFrame =
    pairs.agg(
      coalesce(sum(when(shiftright(col(a), 1) ===
        shiftright(col(b), 1), 1L).otherwise(0L)), lit(0L))
        .as(s"n_twin_$what"),
      coalesce(sum(when(shiftright(col(a), 1) =!=
        shiftright(col(b), 1), 1L).otherwise(0L)), lit(0L))
        .as(s"n_cross_$what"))

  /** INCREMENTAL media near-dup — the serving form
    * ([[graft.pipeline.Dedup.hammingPairsAgainstIndex]], the
    * fingerprint analog of `q_dedup_incr`'s MinHash index probe), one
    * shape for every modality: the base clips (`synth` variant 0,
    * hashed by `fingerprint` into `hash`) are landed as a PERSISTED
    * thin (`<item>_id`, hash) parquet index under `scratch` — decoded
    * exactly once, never rescanned — and the ingest batch (every
    * document's minimal twin) probes it through the batch row's `k` /
    * `blocks` banding. The gate pins, against DuckDB-re-derived
    * populations: every probe finds EXACTLY its base twin
    * (n_twin_matches == n_docs), no probe matches a foreign document
    * (n_cross_matches == 0), and the landed index row count. Per-batch
    * work scales with the batch and the matched buckets — the landed
    * corpus contributes only the band-join shuffle of its thin hash
    * rows, the q_dedup_incr / q_ivf_*_append posture.
    */
  private def qMediaIncr(item: String, scratch: String,
      synth: (Long, Int) => Array[Byte],
      fingerprint: (DataFrame, String) => DataFrame, hash: String, k: Int,
      blocks: Int)(s: SparkSession, dir: String): DataFrame = {
    val payload = udf(synth)
    def frame(variant: Int) = fingerprint(
        docs(s, dir).select(col("doc_id"))
          .withColumn(item, payload(col("doc_id"), lit(variant))), item)
      .select((col("doc_id") * 2 + variant).as(s"${item}_id"), col(hash))
    val path = scratchDir(scratch)
    frame(0).write.mode("overwrite").parquet(s"$path/idx")
    val idx = s.read.parquet(s"$path/idx")
    val matches = graft.pipeline.Dedup.hammingPairsAgainstIndex(
      idx, frame(1), s"${item}_id", hash, k = k, blocks = blocks)
    twinCrossCounts(matches, "id_index", "id_probe", "matches")
      .crossJoin(idx.agg(count(lit(1)).as("n_indexed"))) // 1×1 attach
      // n_docs == n_indexed (exactly one base row lands per doc) —
      // derived in-plan, not a separate corpus count job
      .select(col("n_indexed").as("n_docs"), col("n_indexed"),
        col("n_twin_matches"), col("n_cross_matches"))
  }

  /** The incremental gates' contract: every probe twin matches exactly
    * its landed base, nothing else.
    */
  private val mediaIncrOracleSql =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_indexed,
       |  CAST(COUNT(*) AS BIGINT) AS n_twin_matches,
       |  CAST(0 AS BIGINT) AS n_cross_matches
       |FROM documents""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_multimodal_meta", qMultimodalMeta, {
      val h = "md5(text)"
      s"""SELECT doc_id,
         |octet_length(CAST(text AS BLOB)) AS n_bytes,
         |${nibSql(h, 1)} * 16 + ${nibSql(h, 2)} + 64 AS width,
         |${nibSql(h, 3)} * 16 + ${nibSql(h, 4)} + 64 AS height,
         |${nibSql(h, 5)} + 1 AS n_frames,
         |md5(text) AS payload_md5
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    Gate("q_image_phash", qImagePhash,
      // composed-parity contract: DuckDB re-derives the populations;
      // on the Spark side every synthesized BMP must have really
      // decoded (ImageIO metadata), every aHash must equal the
      // independent integer fold over its emitted luminance grid, the
      // banded Hamming join must find every base<->twin pair at k=8,
      // and no cross-document pair may appear
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_images,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_decoded,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_hash_parity,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_pairs
         |FROM documents""".stripMargin),
    Gate("q_audio_fingerprint", qAudioFingerprint,
      // composed-parity contract, audio modality: DuckDB re-derives the
      // populations; on the Spark side every synthesized WAV must have
      // really decoded (javax.sound metadata), every fingerprint must
      // equal the independent integer fold over its emitted energy
      // windows, the banded Hamming join must find every base<->twin
      // pair at k=4, and no cross-document pair may appear
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_audio,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_decoded,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_fp_parity,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_pairs
         |FROM documents""".stripMargin),
    // blocks = 6 (Manku multi-block banding), as the batch audio row
    Gate("q_audio_fingerprint_incr", qMediaIncr("clip", "q-audio-fp-incr",
      syntheticWav, Multimodal.audioFingerprint(_, _), "afp", 4, 6),
      mediaIncrOracleSql),
    Gate("q_image_phash_incr", qMediaIncr("img", "q-image-phash-incr",
      syntheticBmp16, Multimodal.averageHash(_, _), "ahash", 8, 0),
      mediaIncrOracleSql),
    Gate("q_video_fingerprint", qVideoFingerprint,
      // composed-parity contract, video modality: every synthesized
      // MP4 container must really parse (mvhd/tkhd box walk), every
      // bitrate-envelope fingerprint must equal the independent
      // integer fold over its emitted stsz size windows, the banded
      // Hamming join must find every base<->twin pair at k=4, and no
      // cross-document pair may appear
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_videos,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_parsed,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_fp_parity,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_pairs
         |FROM documents""".stripMargin),
    Gate("q_video_fingerprint_incr", qMediaIncr("clip", "q-video-fp-incr",
      syntheticMp4, Multimodal.videoFingerprint(_, _), "vfp", 4, 6),
      mediaIncrOracleSql),
    Gate("q_media_dedup_mixed", qMediaDedupMixed,
      // the mixed-lake contract: every interleaved payload dispatched
      // to its expected modality, every hash re-derived by the ONE
      // uniform fold, every twin paired, zero cross-document and zero
      // cross-modality pairs
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_media,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_modality_ok,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_fp_parity,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_modality
         |FROM documents""".stripMargin),
    Gate("q_media_dedup_best", qMediaDedupBest,
      // the media keep-best contract: every base<->twin clique found
      // (n_components == n_docs, 2n clips clustered), one survivor per
      // clique, and EVERY survivor is the one-byte-bigger twin — the
      // bitrate rule provably selected on quality, not id order
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_clustered,
         |  CAST(COUNT(*) AS BIGINT) AS n_components,
         |  CAST(COUNT(*) AS BIGINT) AS n_survivors,
         |  CAST(COUNT(*) AS BIGINT) AS n_survivors_twin
         |FROM documents""".stripMargin),
  )
}
