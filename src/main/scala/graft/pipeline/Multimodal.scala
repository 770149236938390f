package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column handling: image/audio/video payloads ride through the
  * pipeline as opaque `binary` columns with a typed metadata struct, and
  * decode/feature-extraction runs as a *partition-batched* transformation —
  * the executor-side loop that amortises codec init across a partition.
  *
  * Image decode is REAL (JDK-only `javax.imageio`: PNG/JPEG/GIF/BMP);
  * payloads that aren't a decodable image fall back deterministically to an
  * opaque-bytes profile (octet-stream mime, 0×0 dims, byte histogram) — the
  * decode is total, never throws, and is stable across executors/retries,
  * which a distributed codec must be (a task retry that decodes differently
  * corrupts downstream joins). Audio decode is REAL too (`javax.sound`:
  * WAV/AIFF/AU); video has no JDK frame decoder, so [[VideoCodec]] walks the
  * REAL ISO-BMFF container (metadata + the `stsz` sample-size table, the
  * decode-free bitstream fingerprint) and only frame PIXELS fall back to the
  * opaque-bytes profile.
  */
object Multimodal {

  /** Typed media metadata carried next to the opaque payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** Executor-side media decoder contract: total functions from bytes to
    * metadata/features. Implementations MUST be deterministic — Spark
    * retries tasks, and a retry that decodes differently breaks exactness
    * guarantees downstream.
    */
  trait MediaCodec extends Serializable {
    def meta(bytes: Array[Byte]): (String, Int, Int, Int)
    def features(bytes: Array[Byte], dim: Int): Array[Float]
  }

  /** Real image decode via the JDK's `javax.imageio` — no external codecs.
    * Magic-byte sniff (PNG/JPEG/GIF/BMP) then a full pixel decode; images
    * yield (mime, width, height, 1) and a luminance histogram, anything
    * else yields ("application/octet-stream", 0, 0, 0) and an L1-normalised
    * byte histogram. `ImageIO` lookup is cached per JVM, so the per-row
    * cost is the decode itself; [[decodePartitioned]] batches rows per
    * partition around it.
    */
  object ImageCodec extends MediaCodec {
    private def sniff(b: Array[Byte]): Option[String] =
      if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G') Some("image/png")
      else if (b.length >= 3 && (b(0) & 0xff) == 0xff &&
        (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff) Some("image/jpeg")
      else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8') Some("image/gif")
      else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') Some("image/bmp")
      else None

    /** Full-decode counter (per-JVM, test observability only): the
      * decode-once contract of [[mediaFingerprint]] is asserted against
      * it — one atomic add per real `ImageIO` decode is noise next to
      * the decode itself.
      */
    private[graft] val decodeCount =
      new java.util.concurrent.atomic.AtomicLong(0L)

    private def decode(b: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      decodeCount.incrementAndGet()
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
      catch { case _: Exception => None }
    }

    /** Sniff-gated decode for sibling operators ([[luminanceGrid]]):
      * Some(pixels) only for a payload that both sniffs as and decodes
      * as an image; None sends callers to their opaque-bytes fallback.
      */
    private[pipeline] def decodeImage(b: Array[Byte])
        : Option[java.awt.image.BufferedImage] =
      if (sniff(b).isDefined) decode(b) else None

    def meta(bytes: Array[Byte]): (String, Int, Int, Int) =
      sniff(bytes).flatMap(m => decode(bytes).map(img =>
        (m, img.getWidth, img.getHeight, 1)))
        .getOrElse(("application/octet-stream", 0, 0, 0))

    /** Images: `dim`-bucket luminance (BT.601) histogram over the decoded
      * pixels; non-images: `dim`-bucket byte histogram. Both L1-normalised.
      */
    def features(bytes: Array[Byte], dim: Int): Array[Float] =
      (if (sniff(bytes).isDefined) decode(bytes) else None) match {
        case Some(img) =>
          val counts = new Array[Float](dim)
          val (w, h) = (img.getWidth, img.getHeight)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
                + 114 * (rgb & 0xff)) / 1000
              counts(lum * dim / 256) += 1f
              x += 1
            }
            y += 1
          }
          val total = math.max(w * h, 1).toFloat
          var j = 0
          while (j < dim) { counts(j) /= total; j += 1 }
          counts
        case None =>
          val counts = new Array[Float](dim)
          var i = 0
          while (i < bytes.length) {
            counts((bytes(i) & 0xff) % dim) += 1f; i += 1
          }
          val total = math.max(bytes.length, 1).toFloat
          var j = 0
          while (j < dim) { counts(j) /= total; j += 1 }
          counts
      }
  }

  /** Real audio decode via the JDK's `javax.sound.sampled` — no external
    * codecs. Container sniff (WAV/AIFF/AU) then a PCM decode; audio yields
    * `(mime, sampleRateHz, channels, frames)` in the positional meta tuple
    * (the struct's `width`/`height` slots carry rate/channels — the tuple
    * is positional by design so one schema serves every modality) and a
    * `dim`-bucket RMS energy envelope as features. Non-audio payloads fall
    * back to the same opaque-bytes profile as [[ImageCodec]]. Total and
    * deterministic, as [[MediaCodec]] requires.
    */
  object AudioCodec extends MediaCodec {
    /** Cached `javax.sound` SPI providers. Every
      * `AudioSystem.getAudioInputStream` call routes its provider
      * lookup through `JDK13Services.getProviders`, a GLOBALLY
      * SYNCHRONIZED accessor — a 32-thread decode stage serializes on
      * that one lock and runs SLOWER than the serial scan it replaced
      * (measured on q_audio_fingerprint: ~5 ms/decode under contention
      * vs ~0.15 ms uncontended). The provider set is immutable for the
      * life of the JVM, so list it once and run the same
      * try-each-reader / find-converter loops AudioSystem runs,
      * lock-free.
      */
    private lazy val audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val b = List.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) b += it.next()
      // the JDK's SoftMidiAudioFileReader PROBES via
      // MidiSystem.getMidiFileReaders -> JDK13Services.getProviders
      // (globally synchronized) on every rejected payload — a
      // 32-thread decode stage self-dumped with 31 threads BLOCKED on
      // that lock. The container readers (WAV/AIFF/AU) and the MIDI
      // reader accept disjoint formats, so trying MIDI last changes
      // no result and takes the lock off every real audio decode.
      val (midi, rest) = b.result()
        .partition(_.getClass.getName.toLowerCase.contains("midi"))
      rest ::: midi
    }

    private lazy val audioConverters: List[javax.sound.sampled.spi.FormatConversionProvider] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.FormatConversionProvider])
        .iterator()
      val b = List.newBuilder[javax.sound.sampled.spi.FormatConversionProvider]
      while (it.hasNext) b += it.next()
      b.result()
    }

    /** [[javax.sound.sampled.AudioSystem.getAudioInputStream]] over the
      * cached readers: first provider that accepts the payload wins
      * (each attempt gets a fresh zero-copy ByteArrayInputStream, so no
      * mark/reset coupling between providers).
      */
    private def openStream(b: Array[Byte])
        : javax.sound.sampled.AudioInputStream = {
      var rs = audioReaders
      while (rs.nonEmpty) {
        try return rs.head.getAudioInputStream(
          new java.io.ByteArrayInputStream(b))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
        rs = rs.tail
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "no installed audio file reader accepts the payload")
    }

    /** `AudioSystem.getAudioInputStream(target, in)` over the cached
      * converters — same contract: the source stream passes through
      * untouched when it already matches, else the first supporting
      * conversion provider wraps it, else IllegalArgumentException.
      */
    private def convertStream(
        target: javax.sound.sampled.AudioFormat,
        in: javax.sound.sampled.AudioInputStream)
        : javax.sound.sampled.AudioInputStream = {
      if (in.getFormat.matches(target)) return in
      var cs = audioConverters
      while (cs.nonEmpty) {
        if (cs.head.isConversionSupported(target, in.getFormat))
          return cs.head.getAudioInputStream(target, in)
        cs = cs.tail
      }
      throw new IllegalArgumentException(
        s"unsupported audio conversion: ${in.getFormat} -> $target")
    }

    private def sniff(b: Array[Byte]): Option[String] =
      if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E') Some("audio/wav")
      else if (b.length >= 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' &&
        b(3) == 'M' && b(8) == 'A' && b(9) == 'I' && b(10) == 'F') Some("audio/aiff")
      else if (b.length >= 4 && b(0) == '.' && b(1) == 's' && b(2) == 'n' &&
        b(3) == 'd') Some("audio/basic")
      else None

    /** PCM samples normalised to [-1, 1], averaged across channels:
      * the [[pcm16]] channel sums over 32768 and the channel count.
      * Each sample's s / 32768.0 is exact, so this equals averaging the
      * normalised samples, bit for bit.
      */
    private def samples(b: Array[Byte]): Option[Array[Double]] =
      pcm16Frames(b).map { case (pcm, ch) => pcm.map(_ / 32768.0 / ch) }

    /** Raw 16-bit PCM frames as INTEGERS (per frame, the SUM of channel
      * samples — integer-exact for any channel count, unlike a /ch
      * average): the exact-arithmetic form for paths that must be
      * re-derivable bit-for-bit by a second engine
      * ([[Multimodal.energyWindows]] / `q_audio_fingerprint`).
      */
    private[pipeline] def pcm16(b: Array[Byte]): Option[Array[Int]] =
      pcm16Frames(b).map(_._1)

    /** [[pcm16]]'s frames and the channel count. The stream is
      * converted to 16-bit signed little-endian PCM via
      * `javax.sound.sampled` first, so every container variant (WAV,
      * 8-bit, big-endian AIFF, µ-law AU) lands in one code path.
      */
    private def pcm16Frames(b: Array[Byte]): Option[(Array[Int], Int)] =
      try {
        val in = openStream(b)
        val f = in.getFormat
        val target = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          f.getSampleRate, 16, f.getChannels, 2 * f.getChannels,
          f.getSampleRate, false)
        val pcm = convertStream(target, in)
        val bytes = pcm.readAllBytes()
        val ch = f.getChannels
        val n = bytes.length / (2 * ch)
        val out = new Array[Int](n)
        var i = 0
        while (i < n) {
          var sum = 0
          var c = 0
          while (c < ch) {
            val off = 2 * (i * ch + c)
            sum += ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort
            c += 1
          }
          out(i) = sum
          i += 1
        }
        Some((out, ch))
      } catch { case _: Exception => None }

    private[pipeline] def isAudioContainer(b: Array[Byte]): Boolean =
      sniff(b).isDefined

    def meta(bytes: Array[Byte]): (String, Int, Int, Int) =
      sniff(bytes).flatMap { m =>
        try {
          val in = openStream(bytes)
          val f = in.getFormat
          Some((m, f.getSampleRate.toInt, f.getChannels,
            in.getFrameLength.toInt))
        } catch { case _: Exception => None }
      }.getOrElse(("application/octet-stream", 0, 0, 0))

    /** Audio: `dim`-segment RMS energy envelope (each bucket the RMS of
      * its equal-length span of samples); non-audio: ImageCodec's
      * opaque-bytes histogram, so the fallback is codec-independent.
      */
    def features(bytes: Array[Byte], dim: Int): Array[Float] =
      (if (sniff(bytes).isDefined) samples(bytes) else None) match {
        case Some(s) if s.nonEmpty =>
          val out = new Array[Float](dim)
          var j = 0
          while (j < dim) {
            val lo = (s.length.toLong * j / dim).toInt
            val hi = math.max((s.length.toLong * (j + 1) / dim).toInt, lo + 1)
            var acc = 0.0
            var i = lo
            while (i < math.min(hi, s.length)) { acc += s(i) * s(i); i += 1 }
            out(j) = math.sqrt(acc / math.max(hi - lo, 1)).toFloat
            j += 1
          }
          out
        case _ => ImageCodec.features(bytes, dim)
      }
  }

  /** REAL video container metadata via a hand-rolled ISO-BMFF (MP4/MOV)
    * box walker — the JDK ships no video codec, but the container
    * STRUCTURE is plain length-prefixed boxes (ISO/IEC 14496-12):
    * `ftyp` identifies the brand, `moov/mvhd` carries
    * timescale + duration, and the first `trak/tkhd` the presentation
    * width/height as 16.16 fixed-point. The positional meta tuple is
    * (mime, width, height, durationMs); FRAME pixels would need an
    * external decoder, so features fall back to the deterministic
    * opaque-bytes histogram — honest metadata, no fake decode. Total:
    * any malformed/truncated box tree degrades to the opaque profile,
    * never throws.
    */
  object VideoCodec extends MediaCodec {
    private def u32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def u64(b: Array[Byte], o: Int): Long =
      (u32(b, o) << 32) | u32(b, o + 4)
    private def boxType(b: Array[Byte], o: Int): String =
      new String(b, o + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

    private def sniff(b: Array[Byte]): Option[String] =
      if (b.length >= 12 && boxType(b, 0) == "ftyp") {
        val brand = new String(b, 8, 4,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        Some(if (brand.startsWith("qt")) "video/quicktime" else "video/mp4")
      } else None

    /** First box named `name` in `[from, to)`: its (payload start,
      * box end), or None when an inconsistent size comes first.
      */
    private def findBox(b: Array[Byte], from: Int, to: Int,
        name: String): Option[(Int, Int)] =
      findBoxes(b, from, to, name, 1).headOption

    /** The first `limit` boxes named `name` in `[from, to)` (all by
      * default), in file order: each one's (payload start, box end).
      * Size 0 = "to end of enclosing box", size 1 = 64-bit largesize;
      * an inconsistent size stops the walk at what was found so far.
      */
    private def findBoxes(b: Array[Byte], from: Int, to: Int,
        name: String, limit: Int = Int.MaxValue): Seq[(Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var o = from
      while (o + 8 <= to && out.size < limit) {
        val size0 = u32(b, o)
        val (hdr, size) =
          if (size0 == 1 && o + 16 <= to) (16L, u64(b, o + 8))
          else (8L, if (size0 == 0) (to - o).toLong else size0)
        if (size < hdr || o + size > to) return out.toSeq
        if (boxType(b, o) == name) out += (((o + hdr).toInt, (o + size).toInt))
        o += size.toInt
      }
      out.toSeq
    }

    def meta(bytes: Array[Byte]): (String, Int, Int, Int) =
      sniff(bytes).flatMap { m =>
        try for {
          (moovS, moovE) <- findBox(bytes, 0, bytes.length, "moov")
          (mvhdS, _) <- findBox(bytes, moovS, moovE, "mvhd")
        } yield {
          // mvhd v0: timescale@12, 32-bit duration@16;
          // v1: 64-bit times — timescale@20, duration@24
          val (ts, dur) =
            if ((bytes(mvhdS) & 0xff) == 1)
              (u32(bytes, mvhdS + 20), u64(bytes, mvhdS + 24))
            else (u32(bytes, mvhdS + 12), u32(bytes, mvhdS + 16))
          val durMs = if (ts > 0) dur * 1000 / ts else 0L
          // tkhd v0: 16.16 width@76/height@80; v1 (64-bit times): @88/@92.
          // A QuickTime file may legally put an audio or hint trak before
          // the video trak (and only visual tracks carry nonzero tkhd
          // dimensions), so scan ALL traks and take the first tkhd with
          // nonzero width AND height, not the first trak blindly.
          val wh = findBoxes(bytes, moovS, moovE, "trak").iterator
            .flatMap { case (trakS, trakE) =>
              findBox(bytes, trakS, trakE, "tkhd").flatMap {
                case (tkS, tkE) =>
                  val base =
                    if ((bytes(tkS) & 0xff) == 1) tkS + 88 else tkS + 76
                  if (base + 8 > tkE) None
                  else {
                    val tw = (u32(bytes, base) >> 16).toInt
                    val th = (u32(bytes, base + 4) >> 16).toInt
                    if (tw > 0 && th > 0) Some((tw, th)) else None
                  }
              }
            }.nextOption()
          val (w, h) = wh.getOrElse((0, 0))
          (m, w, h, durMs.toInt)
        } catch { case _: Exception => None }
      }.getOrElse(("application/octet-stream", 0, 0, 0))

    /** The container's sample-size table (`stsz`, ISO/IEC 14496-12
      * §8.7.3): one entry per media sample (frame/chunk), in decode
      * order — walked from the FIRST trak whose
      * `mdia/minf/stbl/stsz` parses (uniform-size and per-entry
      * layouts both handled). This is the honest decode-free handle on
      * the ENCODED BITSTREAM: re-muxing rewrites every metadata box
      * but carries the sample payloads (and so their sizes) verbatim,
      * while any re-encode perturbs nearly every size — which is why
      * size sequences are the standard container-level near-duplicate
      * fingerprint when no frame decoder is available. None on
      * non-ISO-BMFF payloads or any malformed/truncated/implausible
      * table (sizes stay what the file declares; nothing is invented).
      */
    def sampleSizes(bytes: Array[Byte]): Option[Array[Long]] =
      sniff(bytes).flatMap { _ =>
        try {
          findBox(bytes, 0, bytes.length, "moov").flatMap {
            case (moovS, moovE) =>
              findBoxes(bytes, moovS, moovE, "trak").iterator.flatMap {
                case (tS, tE) =>
                  for {
                    (mdS, mdE) <- findBox(bytes, tS, tE, "mdia")
                    (mnS, mnE) <- findBox(bytes, mdS, mdE, "minf")
                    (sbS, sbE) <- findBox(bytes, mnS, mnE, "stbl")
                    (szS, szE) <- findBox(bytes, sbS, sbE, "stsz")
                    sizes <- parseStsz(bytes, szS, szE)
                  } yield sizes
              }.nextOption()
          }
        } catch { case _: Exception => None }
      }

    /** `stsz` payload: version/flags(4), uniform sample_size(4),
      * sample_count(4), then per-entry u32 sizes iff uniform == 0. Any
      * count the box can't physically hold aborts (None) — a truncated
      * table must not silently fingerprint as a shorter clip.
      */
    private def parseStsz(b: Array[Byte], from: Int, to: Int)
        : Option[Array[Long]] = {
      if (from + 12 > to) return None
      val uniform = u32(b, from + 4)
      val count = u32(b, from + 8)
      // the uniform layout carries no entries, so the count cannot be
      // checked against the box size — cap it instead (2^24 samples
      // ≈ 78 h at 60 fps): a corrupt 20-byte box declaring 2^31
      // samples must not materialize a 16 GiB array on an executor
      if (count < 1 || count > (1 << 24)) return None
      if (uniform != 0) Some(Array.fill(count.toInt)(uniform))
      else if (from + 12 + 4 * count > to) None
      else Some(Array.tabulate(count.toInt)(i => u32(b, from + 12 + 4 * i)))
    }

    /** No JDK frame decoder exists — the deterministic opaque-bytes
      * histogram, the same fallback every codec shares.
      */
    def features(bytes: Array[Byte], dim: Int): Array[Float] =
      ImageCodec.features(bytes, dim)
  }

  /** Modality-dispatching codec: images through [[ImageCodec]], audio
    * through [[AudioCodec]], MP4/MOV containers through [[VideoCodec]],
    * everything else the deterministic opaque profile. The default codec
    * for mixed-modality corpora — one [[decodePartitioned]] pass handles
    * a lake directory of interleaved payloads without a per-modality
    * pre-split.
    */
  object CompositeCodec extends MediaCodec {
    private def isAudio(b: Array[Byte]): Boolean =
      AudioCodec.meta(b)._1 != "application/octet-stream"
    private def isVideo(b: Array[Byte]): Boolean =
      VideoCodec.meta(b)._1 != "application/octet-stream"
    def meta(bytes: Array[Byte]): (String, Int, Int, Int) =
      if (isAudio(bytes)) AudioCodec.meta(bytes)
      else if (isVideo(bytes)) VideoCodec.meta(bytes)
      else ImageCodec.meta(bytes)
    def features(bytes: Array[Byte], dim: Int): Array[Float] =
      if (isAudio(bytes)) AudioCodec.features(bytes, dim)
      else if (isVideo(bytes)) VideoCodec.features(bytes, dim)
      else ImageCodec.features(bytes, dim)
  }

  /** Stand-in payload column: the UTF-8 bytes of a text column (fixtures
    * carry no real media; the binary-column plumbing is what's exercised).
    */
  def payloadOf(text: Column): Column = text.cast("binary")

  /** Pure-Column synthetic metadata for payloads with no embedded metadata
    * (oracle-portable md5-nibble formulas over the bytes) — the
    * oracle-checkable stand-in exercised by q_multimodal_meta, since the
    * fixtures carry text payloads, not media. Real images go through
    * [[ImageCodec]]/[[decodePartitioned]] instead.
    */
  def metaColumns(payload: Column): Seq[Column] = {
    def nib(i: Int): Column =
      conv(substring(md5(payload), i, 1), 16, 10).cast("int")
    Seq(octet_length(payload).as("n_bytes"),
      (nib(1) * 16 + nib(2) + 64).as("width"),
      (nib(3) * 16 + nib(4) + 64).as("height"),
      (nib(5) + 1).as("n_frames"))
  }

  /** Deterministic frame-sample offsets: `n` byte offsets spread evenly
    * through the payload (a video codec would decode the frames at these
    * offsets). Pure Column arithmetic — the sampling plan is real; frame
    * decode would plug into [[decodePartitioned]]'s codec.
    */
  def frameSampleOffsets(payload: Column, n: Int): Column = {
    // 64-bit arithmetic: octet_length is 32-bit and len*i overflows ANSI
    // int math for multi-GB payloads (the actual video use case)
    val len = octet_length(payload).cast("bigint")
    array((0 until n).map(i =>
      floor(len * lit(i.toLong) / lit(n.toLong)).cast("bigint")): _*)
  }

  /** "Resize": re-derives features at a different resolution (bucket
    * count) — the same batched executor loop with different codec
    * parameters, as a real post-resize feature recompute would be.
    */
  def resizeFeatures(df: DataFrame, payloadCol: String,
      newDim: Int): DataFrame = decodePartitioned(df, payloadCol, newDim)

  /** g×g integer average-luminance grid of a decoded image — the
    * perceptual fingerprint [[averageHashOf]] derives from. Cell value =
    * floor(Σ luminance / pixel count) over the pixels mapping to the
    * cell (pixel (x, y) → cell (y·g/h, x·g/w), the same integer bucket
    * rule as [[ImageCodec.features]]); luminance is the BT.601 integer
    * form (299r + 587g + 114b)/1000. INTEGER-ONLY end to end, so a
    * second engine (or an in-query SQL fold — the `q_image_phash`
    * parity) re-derives the downstream hash from the emitted grid
    * exactly. Non-image payloads fall back deterministically to a
    * g²-bucket byte-histogram "grid" (counts), total and stable across
    * retries like every [[MediaCodec]] path; a null payload is the
    * caller's null (standard column semantics via the UDF wrapper).
    */
  def luminanceGrid(bytes: Array[Byte], g: Int): Array[Long] = {
    require(g >= 1 && g * g <= 64,
      s"grid must satisfy 1 <= g*g <= 64 for a 64-bit hash (got g=$g)")
    ImageCodec.decodeImage(bytes) match {
      case Some(img) => luminanceGridOf(img, g)
      case None => byteHistogram(bytes, g * g)
    }
  }

  /** The decoded-image half of [[luminanceGrid]] — split out so callers
    * that already hold the decoded pixels ([[mediaFingerprint]]'s
    * decode-once dispatch) never pay a second `ImageIO` decode.
    */
  private def luminanceGridOf(img: java.awt.image.BufferedImage,
      g: Int): Array[Long] = {
    val cells = g * g
    val sums = new Array[Long](cells)
    val counts = new Array[Long](cells)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      val row = y * g / h * g
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (299 * ((rgb >> 16) & 0xff) +
          587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
        val c = row + x * g / w
        sums(c) += lum
        counts(c) += 1
        x += 1
      }
      y += 1
    }
    var j = 0
    while (j < cells) {
      sums(j) = if (counts(j) > 0) sums(j) / counts(j) else 0L
      j += 1
    }
    sums
  }

  /** The shared opaque-payload fallback every envelope uses: an
    * `n`-bucket byte histogram — total, deterministic, never throws.
    */
  private def byteHistogram(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < bytes.length) { out((bytes(i) & 0xff) % n) += 1L; i += 1 }
    out
  }

  /** Average-hash (aHash) of a [[luminanceGrid]]: bit i set iff
    * grid(i) is strictly above the integer mean Σ/len. The classic
    * perceptual near-dup fingerprint: robust to re-encoding and small
    * pixel edits (the grid averages them out), so Hamming distance on
    * the hash ranks visual similarity — paired at corpus scale by the
    * SAME pigeonhole banding as text SimHash
    * ([[Dedup.simHashNearPairs]]). Integer-only, so any engine
    * re-derives it from the grid bit-for-bit. Fails fast unless the
    * grid has 1 to 64 cells: a longer one would wrap `1L << i`.
    */
  def averageHashOf(grid: Array[Long]): Long = {
    require(grid.length >= 1 && grid.length <= 64,
      s"grid must have 1 to 64 cells for a 64-bit hash (got ${grid.length})")
    var sum = 0L
    var i = 0
    while (i < grid.length) { sum += grid(i); i += 1 }
    val mean = sum / grid.length
    var h = 0L
    i = 0
    while (i < grid.length) {
      if (grid(i) > mean) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Column form: adds `lum_grid` (array<bigint>, the g×g integer
    * luminance grid) and `ahash` (bigint, its average-hash) next to the
    * payload. Two closure UDFs (no inline-literal expression trees —
    * the fused stage stays JIT-compiled), narrow — no shuffle; feed
    * `ahash` to [[Dedup.simHashNearPairs]] for banded visual near-dup
    * pairs with NO all-pairs stage. Null payloads yield null grid/hash
    * (standard column semantics).
    */
  def averageHash(df: DataFrame, payloadCol: String, g: Int = 8)
      : DataFrame = {
    require(g >= 1 && g * g <= 64,
      s"grid must satisfy 1 <= g*g <= 64 for a 64-bit hash (got g=$g)")
    val gridUdf = udf((b: Array[Byte]) =>
      if (b == null) null else luminanceGrid(b, g))
    val hashUdf = udf((grid: Seq[Long]) =>
      if (grid == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(averageHashOf(grid.toArray)))
    df.withColumn("lum_grid", gridUdf(col(payloadCol)))
      .withColumn("ahash", hashUdf(col("lum_grid")))
  }

  /** Integer per-window PCM energies over a REAL `javax.sound` decode —
    * the audio analog of [[luminanceGrid]]: the payload's 16-bit frames
    * ([[AudioCodec.pcm16]]: per frame the integer SUM of channel
    * samples) are cut into `w` equal spans and each span contributes
    * Σ sample² as a BIGINT. Exact integer arithmetic end to end, so a
    * second engine (or an in-query SQL fold — the `q_audio_fingerprint`
    * parity) re-derives the downstream hash from the emitted energies
    * bit-for-bit. Loudness-envelope energies are the classic robust
    * audio fingerprint primitive (Haitsma & Kalker 2002's energy-band
    * hashing, collapsed to the time axis — no FFT needed for
    * near-duplicate detection of re-encoded/retouched clips).
    * Non-audio payloads fall back to a w-bucket byte histogram exactly
    * like [[luminanceGrid]]'s non-image path — total, deterministic,
    * never throws.
    */
  def energyWindows(bytes: Array[Byte], w: Int): Array[Long] = {
    require(w >= 1 && w <= 64,
      s"window count must satisfy 1 <= w <= 64 for a 64-bit hash (got $w)")
    val out = new Array[Long](w)
    (if (AudioCodec.isAudioContainer(bytes)) AudioCodec.pcm16(bytes)
     else None) match {
      case Some(s) if s.nonEmpty => energiesOf(s, w)
      case _ =>
        var i = 0
        while (i < bytes.length) {
          out((bytes(i) & 0xff) % w) += 1L
          i += 1
        }
        out
    }
  }

  /** The decoded-PCM half of [[energyWindows]] — split out so callers
    * that already hold the samples ([[mediaFingerprint]]'s decode-once
    * dispatch) never pay a second `javax.sound` stream-open (the
    * per-call `AudioSystem` SPI lookup is the measured cost leader of
    * every audio row).
    */
  private def energiesOf(s: Array[Int], w: Int): Array[Long] =
    spanSums(s.length, w)(i => s(i).toLong * s(i))

  /** `term(i)` summed over each of `w` near-equal spans of `n` items
    * (span j = [n·j/w, n·(j+1)/w), at least one item wide).
    */
  private def spanSums(n: Int, w: Int)(term: Int => Long): Array[Long] = {
    val out = new Array[Long](w)
    var j = 0
    while (j < w) {
      val lo = (n.toLong * j / w).toInt
      val hi = math.max((n.toLong * (j + 1) / w).toInt, lo + 1)
      var acc = 0L
      var i = lo
      while (i < math.min(hi, n)) { acc += term(i); i += 1 }
      out(j) = acc
      j += 1
    }
    out
  }

  /** Column form of the audio fingerprint: adds `energy_windows`
    * (array<bigint>, the `w` integer span energies) and `afp` (bigint,
    * their [[averageHashOf]] — bit i set iff window i's energy is
    * strictly above the integer mean). Narrow, no shuffle, two closure
    * UDFs (no inline-literal expression trees); feed `afp` to
    * [[Dedup.simHashNearPairs]] for banded audio near-dup pairs with NO
    * all-pairs stage — the same pigeonhole machinery as text SimHash
    * and image aHash, closing the third modality of the dedup family.
    * Null payloads yield null energies/hash (standard column
    * semantics).
    */
  def audioFingerprint(df: DataFrame, payloadCol: String, w: Int = 64)
      : DataFrame = {
    require(w >= 1 && w <= 64,
      s"window count must satisfy 1 <= w <= 64 for a 64-bit hash (got $w)")
    val winUdf = udf((b: Array[Byte]) =>
      if (b == null) null else energyWindows(b, w))
    val hashUdf = udf((ws: Seq[Long]) =>
      if (ws == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(averageHashOf(ws.toArray)))
    df.withColumn("energy_windows", winUdf(col(payloadCol)))
      .withColumn("afp", hashUdf(col("energy_windows")))
  }

  /** Integer per-window sums over an ISO-BMFF container's sample-size
    * table ([[VideoCodec.sampleSizes]]) — the video analog of
    * [[energyWindows]]: the `stsz` size sequence (one integer per
    * encoded frame/chunk, in decode order) is cut into `w` equal spans
    * and each span contributes Σ sizes as a BIGINT — the clip's
    * BITRATE ENVELOPE. Exact integer arithmetic end to end, so a
    * second engine (or an in-query SQL fold — the
    * `q_video_fingerprint` parity) re-derives the downstream hash from
    * the emitted windows bit-for-bit. The JDK ships no video frame
    * decoder, so this fingerprints the encoded bitstream itself: the
    * envelope is invariant under re-muxing (sample payloads travel
    * verbatim; every metadata box may change) and disturbed by any
    * re-encode — the honest container-level near-dup primitive.
    * Non-ISO-BMFF payloads (and malformed tables) fall back to a
    * w-bucket byte histogram exactly like [[energyWindows]]'s
    * non-audio path — total, deterministic, never throws.
    */
  def sizeWindows(bytes: Array[Byte], w: Int): Array[Long] = {
    require(w >= 1 && w <= 64,
      s"window count must satisfy 1 <= w <= 64 for a 64-bit hash (got $w)")
    VideoCodec.sampleSizes(bytes) match {
      case Some(s) if s.nonEmpty => windowSums(s, w)
      case _ => byteHistogram(bytes, w)
    }
  }

  /** The parsed-table half of [[sizeWindows]] — split out so callers
    * that already walked the `stsz` table ([[mediaFingerprint]]'s
    * decode-once dispatch) never pay a second box walk.
    */
  private def windowSums(s: Array[Long], w: Int): Array[Long] =
    spanSums(s.length, w)(s(_))

  /** Column form of the video fingerprint: adds `size_windows`
    * (array<bigint>, the `w` integer bitrate-envelope sums) and `vfp`
    * (bigint, their [[averageHashOf]] — bit i set iff window i's sum
    * is strictly above the integer mean). Narrow, no shuffle, two
    * closure UDFs; feed `vfp` to [[Dedup.simHashNearPairs]] /
    * [[Dedup.hammingPairsAgainstIndex]] for banded video near-dup with
    * NO all-pairs stage — the same pigeonhole machinery as text
    * SimHash, image aHash and audio energy hashing, closing the FOURTH
    * modality of the dedup family. Null payloads yield null
    * windows/hash (standard column semantics).
    */
  def videoFingerprint(df: DataFrame, payloadCol: String, w: Int = 64)
      : DataFrame = {
    require(w >= 1 && w <= 64,
      s"window count must satisfy 1 <= w <= 64 for a 64-bit hash (got $w)")
    val winUdf = udf((b: Array[Byte]) =>
      if (b == null) null else sizeWindows(b, w))
    val hashUdf = udf((ws: Seq[Long]) =>
      if (ws == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(averageHashOf(ws.toArray)))
    df.withColumn("size_windows", winUdf(col(payloadCol)))
      .withColumn("vfp", hashUdf(col("size_windows")))
  }

  /** The per-row modality of a payload — a REFINEMENT of (not identical
    * to) the [[CompositeCodec]] dispatch rule, exposed for
    * fingerprinting: `audio` (parseable RIFF/AIFF/AU header), else
    * `video` (walkable ISO-BMFF metadata OR a parseable `stsz` sample
    * table — two arms CompositeCodec does not have), else `image`
    * (actually decodable by `javax.imageio`, not just sniffable), else
    * `opaque`. Deterministic and total like every codec path.
    */
  def modalityOf(bytes: Array[Byte]): String =
    if (AudioCodec.meta(bytes)._1 != "application/octet-stream") "audio"
    // either walkable movie metadata (mvhd) or a parseable sample
    // table (stsz) makes it a video container — a media-segment
    // sidecar may carry one without the other
    else if (VideoCodec.meta(bytes)._1 != "application/octet-stream" ||
        VideoCodec.sampleSizes(bytes).nonEmpty) "video"
    else if (ImageCodec.decodeImage(bytes).isDefined) "image"
    else "opaque"

  /** [[modalityOf]] and the modality's 64-slot envelope in ONE decode —
    * the fused per-row body behind [[mediaFingerprint]]. The split
    * modality-then-windows UDF pair decoded image payloads TWICE
    * (classification decode + grid decode) and walked every MP4 box
    * tree twice (`sampleSizes` for dispatch, again for the envelope) —
    * the dominant per-row cost on an image/video-heavy lake. Identical
    * dispatch rule and identical windows to the split form on every
    * payload (spec-pinned).
    */
  private[graft] def mediaModalityWindows(b: Array[Byte], w: Int,
      g: Int): (String, Array[Long]) = {
    // audio: ONE javax.sound stream-open — decode the PCM first and
    // classify from its success (a successful decode implies the header
    // parse modalityOf tests); only the rare opens-but-unreadable
    // payload falls back to the header-only classification. The split
    // form paid TWO SPI stream-opens per audio row (classify + decode),
    // and the AudioSystem SPI lookup is the measured cost leader of
    // every audio-bearing corpus.
    val audioDecoded =
      if (AudioCodec.isAudioContainer(b)) AudioCodec.pcm16(b) else None
    audioDecoded match {
      case Some(s) =>
        ("audio", if (s.nonEmpty) energiesOf(s, w) else byteHistogram(b, w))
      case None if AudioCodec.isAudioContainer(b) &&
          AudioCodec.meta(b)._1 != "application/octet-stream" =>
        // stream opens (header parses) but the PCM read fails — the
        // split form's exact dispatch/envelope for this edge
        ("audio", byteHistogram(b, w))
      case _ =>
        // walk the stsz table ONCE for dispatch + envelope alike; the
        // cheap walk result short-circuits ahead of the metadata walk
        val ss = VideoCodec.sampleSizes(b)
        if (ss.nonEmpty ||
            VideoCodec.meta(b)._1 != "application/octet-stream")
          ("video", ss match {
            case Some(s) if s.nonEmpty => windowSums(s, w)
            case _ => byteHistogram(b, w)
          })
        else ImageCodec.decodeImage(b) match {
          // decode ONCE, grid straight off the pixels
          case Some(img) => ("image", luminanceGridOf(img, g))
          case None => ("opaque", byteHistogram(b, w))
        }
    }
  }

  /** The MIXED-MODALITY fingerprint — what a real media lake needs: a
    * 100 TB corpus directory interleaves images, audio and video in one
    * binary column, and nothing upstream knows each row's modality. One
    * narrow pass sniffs the container per row ([[modalityOf]] — the
    * [[CompositeCodec]] dispatch rule) and routes to that modality's
    * 64-slot integer envelope — [[energyWindows]] (audio loudness),
    * [[sizeWindows]] (video bitrate), [[luminanceGrid]] at g = √w
    * (image luminance; `w` must be a square) — then [[averageHashOf]],
    * the SAME integer hash rule for all three, so ONE in-query SQL
    * fold re-derives every row's hash from its emitted windows
    * regardless of modality (the `q_media_dedup_mixed` parity).
    * Opaque payloads take the shared byte-histogram fallback. Hashes
    * are only COMPARABLE within a modality (a luminance grid and a
    * loudness envelope share no geometry), so near-dup pairing keeps
    * only equal-`modality` pairs out of the banding — the
    * `q_media_dedup_mixed` gate pins that rule. Adds `modality`
    * (string), `media_windows` (array<bigint>) and `mfp` (bigint); a
    * null payload yields null for all three (standard column
    * semantics). Narrow, no shuffle, closure UDFs — classification and
    * envelope come from ONE decode per row
    * ([[mediaModalityWindows]]; decode-once is spec-asserted against
    * the real ImageIO decode counter).
    */
  def mediaFingerprint(df: DataFrame, payloadCol: String, w: Int = 64)
      : DataFrame = {
    val g = math.sqrt(w.toDouble).toInt
    require(g * g == w && w >= 1 && w <= 64,
      s"window count must be a square in [1, 64] for the unified " +
        s"image-grid path (got $w)")
    // ONE UDF computes (modality, windows) from ONE decode; the field
    // extractions below collapse into the same projection, where
    // whole-stage codegen's subexpression elimination evaluates the
    // UDF once per row (plan- and count-asserted in the spec)
    val mwUdf = udf((b: Array[Byte]) =>
      if (b == null) null else mediaModalityWindows(b, w, g))
    val hashUdf = udf((ws: Seq[Long]) =>
      if (ws == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(averageHashOf(ws.toArray)))
    df.withColumn("__mw", mwUdf(col(payloadCol)))
      .withColumn("modality", col("__mw._1"))
      .withColumn("media_windows", col("__mw._2"))
      .withColumn("mfp", hashUdf(col("media_windows")))
      .drop("__mw")
  }

  /** Partition-batched decode: the executor-side loop that amortises codec
    * init across a whole partition (the `mapPartitions` analog of a
    * batch-iterating Pandas UDF). Narrow — no shuffle; output schema is
    * input + meta struct + `features array<float>`.
    */
  def decodePartitioned(df: DataFrame, payloadCol: String,
      featureDim: Int = 16, codec: MediaCodec = ImageCodec): DataFrame = {
    val schema = df.schema
      .add("meta", mediaMetaType, nullable = false)
      .add("features", ArrayType(FloatType, containsNull = false),
        nullable = false)
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      // per-partition codec init would go here (once, not per row)
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val (mime, w, h, f) = codec.meta(bytes)
        Row.fromSeq(r.toSeq :+ Row(mime, w, h, f) :+
          codec.features(bytes, featureDim).toSeq)
      }
    }(enc)
  }
}
