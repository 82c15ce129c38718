package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines. Media payloads are opaque `binary` columns + a typed
  * metadata struct; decode / feature-extract / resize / frame-sample run
  * as partition-local batch transforms over typed Datasets — the Scala
  * analog of `mapInPandas` (one iterator per partition, vectorizable,
  * no per-row JVM↔interpreter round-trips).
  *
  * The IMAGE path is a real codec: [[ImageCodec]] decodes PNG/JPEG/
  * BMP/GIF through JDK `javax.imageio` (ships with the JDK — zero new
  * dependencies) and computes exact pixel statistics; [[pngMedia]]
  * synthesizes genuine PNGs so the decode is exercised end-to-end and
  * oracle-checked (q155, q157). The AUDIO path is a real codec too
  * (round 13): [[WavCodec]] decodes WAV/PCM containers through JDK
  * `javax.sound.sampled` (the JDK's audio framework — WAVE/AIFF/AU
  * file parsers ship in `java.desktop`), and [[wavMedia]] synthesizes
  * genuine 16-bit PCM WAVs so the decode is oracle-checked end-to-end
  * (q158). Only COMPRESSED audio (mp3/aac — the JDK ships no such
  * decoder) and opaque video containers keep the byte-statistic
  * stand-in ([[ByteStatCodec]]), clearly marked, with all the
  * production plumbing — schemas, typed encoders, batch iteration,
  * output shapes — identical to the real paths.
  *
  * Scale: media rows are large (MBs); decode/feature transforms are
  * per-row and shuffle-free — at a 100 TB image lake the cost is
  * decode CPU, embarrassingly parallel across file splits. Repartition
  * by `media_id` ONLY when a downstream join needs co-location;
  * otherwise let file splits drive parallelism with
  * `spark.sql.files.maxPartitionBytes` sized so one task holds a few
  * dozen payloads in memory.
  */
object Multimodal {

  /** Typed media row: payload + metadata travel together. */
  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  final case class MediaFeature(
      media_id: Long, kind: String, n_bytes: Long, feature: Array[Float])

  final case class Frame(
      media_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Decoded-image statistics row (q155): dims read from the DECODED
    * raster (validated against declared metadata), exact integer pixel
    * sum and a position-weighted checksum that pins every sample to
    * its row-major slot — a transposed or row-swapped decode cannot
    * pass. */
  final case class ImageStats(
      media_id: Long, decoded_w: Int, decoded_h: Int,
      n_px: Long, px_sum: Long, px_check: Long)

  /** Real image codec over JDK `javax.imageio` (PNG/JPEG/BMP/GIF
    * readers ship in every JDK). PNG is lossless, so [[syntheticPng]]
    * → [[stats]] round-trips exact sample values. */
  object ImageCodec {

    // ImageIO's default ImageInputStream/ImageOutputStream wraps cache
    // to DISK (/tmp FileCacheImageInputStream) — 32 concurrent decode
    // tasks per executor would contend on tmp-file create/delete for
    // payloads that are already fully in memory as byte arrays. Turn
    // the global cache off once at class load: every decode/encode here
    // goes through MemoryCacheImageInputStream instead (pure in-memory,
    // no filesystem touch, no cross-task contention).
    javax.imageio.ImageIO.setUseCache(false)

    /** Deterministic 8-bit grayscale PNG: sample at (x, y) is
      * `(seed + y*width + x) mod 256` — the row-major flat index
      * offset by the seed, so every pixel value AND position is
      * independently checkable (the q155 oracle regenerates the grid
      * arithmetically in DuckDB). */
    def syntheticPng(seed: Long, width: Int, height: Int): Array[Byte] = {
      require(width > 0 && height > 0, s"bad dims ${width}x$height")
      val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          raster.setSample(x, y, 0,
            java.lang.Math.floorMod(seed + y.toLong * width + x, 256L).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Decode or fail loudly: ImageIO returns null when no registered
      * reader claims the bytes — silently treating garbage as a
      * zero-pixel image is how a curation pipeline ships junk. */
    def decode(payload: Array[Byte]): BufferedImage = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      require(img != null,
        "payload is not a decodable image (no ImageIO reader claims it)")
      img
    }

    /** Exact first-band pixel statistics of a decoded image:
      * `px_sum = Σ v(i)`, `px_check = Σ i·v(i)` over row-major index
      * `i = y*w + x`. Integer-exact: `px_check ≤ 255·n(n−1)/2 ≈
      * 128·n²`, so n ≤ 2^27 pixels (134 MPx — beyond any training
      * image) keeps it under 2^63; the require guards the bound
      * instead of overflowing silently. */
    def stats(payload: Array[Byte]): (Int, Int, Long, Long) = {
      val img = decode(payload)
      val r = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      require(w.toLong * h <= (1L << 27),
        s"image too large for exact int64 checksum: ${w}x$h")
      var sum = 0L
      var check = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = r.getSample(x, y, 0).toLong
          sum += v
          check += (y.toLong * w + x) * v
          x += 1
        }
        y += 1
      }
      (w, h, sum, check)
    }

    /** Feature vector from the DECODED raster: per-band mean and
      * variance (population), flattened `[mean0, var0, mean1, …]` and
      * fitted to `k` (zero-padded / truncated) — a fixed declared
      * shape like any embedding column. */
    def feature(payload: Array[Byte], k: Int): Array[Float] = {
      val img = decode(payload)
      val r = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      val n = w.toLong * h
      val bands = r.getNumBands
      val out = new Array[Float](k)
      var b = 0
      while (b < bands && 2 * b < k) {
        var sum = 0L
        var sumSq = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = r.getSample(x, y, b).toLong
            sum += v
            sumSq += v * v
            x += 1
          }
          y += 1
        }
        val mean = sum.toDouble / n
        out(2 * b) = mean.toFloat
        if (2 * b + 1 < k)
          out(2 * b + 1) = (sumSq.toDouble / n - mean * mean).toFloat
        b += 1
      }
      out
    }
  }

  /** Decoded-audio statistics row (q158): frame count and rate read
    * from the DECODED stream (validated against declared metadata),
    * exact integer sample sum and a position-weighted checksum that
    * pins every sample to its slot — a byte-swapped, truncated, or
    * resampled decode cannot pass. */
  final case class AudioStats(
      media_id: Long, sample_rate: Int, n_samples: Long,
      s_sum: Long, s_check: Long)

  /** Real audio codec over JDK `javax.sound.sampled` (the WAVE/AIFF/AU
    * file parsers ship in `java.desktop`; PCM is lossless, so
    * [[syntheticWav]] → [[stats]] round-trips exact sample values).
    * The readers are stateless and fully in-memory — no disk cache to
    * contend on at 32-way parallelism (unlike ImageIO's default). */
  object WavCodec {

    /** Samples per declared metadata frame: 10 ms at 16 kHz — the
      * conventional speech-pipeline hop, and the contract tying the
      * MediaRow `n_frames` column to the decoded stream length. */
    val SamplesPerFrame = 160

    /** The platform WAVE reader, resolved ONCE through the public
      * `AudioFileReader` SPI. `AudioSystem.getAudioInputStream`
      * funnels EVERY call through a globally `synchronized` provider
      * lookup (`JDK13Services.getProviders`), which serializes a
      * 32-way decode stage — measured 45× slower than a cached reader
      * under 16 threads (20k decodes: 0.91 s vs 0.02 s), and it made
      * q158/q159 the slowest queries of the 100× sweep (~60 s; ~2 s
      * after this cache). The reader instance is a stateless parser,
      * safe to share across tasks. */
    private lazy val wavReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
      val probe = syntheticWav(0, 1, 8000)
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      var found: Option[javax.sound.sampled.spi.AudioFileReader] = None
      while (found.isEmpty && it.hasNext) {
        val r = it.next()
        try {
          r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close()
          found = Some(r)
        } catch { case _: Exception => () }
      }
      found
    }

    /** Deterministic 16-bit mono PCM WAV: sample i is
      * `(seed + 37·i) mod 65536 − 32768` — position-dependent (37 is
      * coprime to 65536, so consecutive samples differ) and
      * regenerable arithmetically in DuckDB (the q158 oracle). The
      * 44-byte RIFF/WAVE header is written by hand (byte-identical to
      * `AudioSystem.write`'s output — MultimodalSpec pins that) so the
      * encode never takes the AudioSystem global lock either. */
    def syntheticWav(seed: Long, nSamples: Int, sampleRate: Int): Array[Byte] = {
      require(nSamples > 0 && sampleRate > 0,
        s"bad audio dims n=$nSamples rate=$sampleRate")
      val dataLen = nSamples * 2
      val out = new Array[Byte](44 + dataLen)
      def ascii(o: Int, s: String): Unit = {
        var j = 0; while (j < s.length) { out(o + j) = s.charAt(j).toByte; j += 1 }
      }
      def w16(o: Int, v: Int): Unit = {
        out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      }
      def w32(o: Int, v: Int): Unit = { w16(o, v & 0xffff); w16(o + 2, v >>> 16) }
      ascii(0, "RIFF"); w32(4, 36 + dataLen); ascii(8, "WAVE")
      ascii(12, "fmt "); w32(16, 16)
      w16(20, 1) /* PCM */ ; w16(22, 1) /* mono */
      w32(24, sampleRate); w32(28, sampleRate * 2) /* byte rate */
      w16(32, 2) /* block align */ ; w16(34, 16) /* bits */
      ascii(36, "data"); w32(40, dataLen)
      var i = 0
      while (i < nSamples) {
        val v = java.lang.Math.floorMod(seed + 37L * i, 65536L) - 32768L
        out(44 + 2 * i) = (v & 0xff).toByte
        out(44 + 2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      out
    }

    /** Decode or fail loudly: a payload no audio reader claims (or a
      * non-PCM16 encoding this codec doesn't own) must never flow
      * silently into a training manifest as zero samples. The cached
      * WAVE reader is the fast path; anything it rejects falls back to
      * the full `AudioSystem` probe (AIFF/AU PCM still decodes, just
      * on the slow path) before failing. */
    def decode(payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
      def slowPath() =
        javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
      val in =
        try wavReader match {
          case Some(r) =>
            try r.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
            catch {
              case _: javax.sound.sampled.UnsupportedAudioFileException =>
                slowPath()
            }
          case None => slowPath()
        }
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              "payload is not a decodable audio container " +
                "(no javax.sound.sampled reader claims it)", e)
        }
      val f = in.getFormat
      require(f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          && f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian,
        s"unsupported audio encoding $f (this codec owns 16-bit mono " +
          "little-endian PCM; compressed audio has no JDK decoder)")
      in
    }

    /** Decode and drain a payload into its raw PCM16 sample bytes,
      * guarded: the container's declared frame length must be known,
      * non-negative, within the exact-int64 checksum bound (n ≤ 2^23
      * samples — ~8.7 min at 16 kHz, beyond any training clip), and
      * the drained byte count must match it. EVERY consumer of decoded
      * samples goes through here, so a lying container (unknown length
      * -1, truncated data chunk, >2^31-frame stream) fails loudly on
      * all paths instead of only in [[stats]] (round-13 advice: the
      * energy path skipped these guards and `.toInt` on an unknown
      * length silently emitted zero frames). */
    def pcm16(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val in = decode(payload)
      val nL = in.getFrameLength
      require(nL >= 0 && nL <= (1L << 23),
        s"audio length unusable for exact int64 checksums: $nL samples " +
          "(unknown/negative, or past the 2^23 bound)")
      val n = nL.toInt
      val bytes = in.readAllBytes()
      require(bytes.length == 2 * n,
        s"decoded ${bytes.length} bytes for $n declared frames")
      (in.getFormat.getSampleRate.toInt, n, bytes)
    }

    /** Exact sample statistics of a decoded stream:
      * `s_sum = Σ v(i)`, `s_check = Σ i·v(i)` over the sample index.
      * `|s_check| ≤ 32768·n(n−1)/2`, so the [[pcm16]] bound n ≤ 2^23
      * keeps it under 2^63 instead of overflowing silently. */
    def stats(payload: Array[Byte]): (Int, Long, Long, Long) = {
      val (rate, n, bytes) = pcm16(payload)
      var sum = 0L
      var check = 0L
      var i = 0
      while (i < n) {
        val v = ((bytes(2 * i + 1).toLong << 8) | (bytes(2 * i) & 0xffL))
        sum += v
        check += i.toLong * v
        i += 1
      }
      (rate, n.toLong, sum, check)
    }
  }

  /** Decoded-video statistics row (q160): dims and frame count read
    * from the DECODED container (validated against declared metadata
    * AND against every decoded frame), exact integer pixel sum and a
    * position-weighted checksum over the per-video global sample index
    * `i = f·w·h + y·w + x` — a wrong pixel VALUE, POSITION, or frame
    * ORDER (swapped/dropped/duplicated frames) cannot pass. */
  final case class VideoStats(
      media_id: Long, decoded_w: Int, decoded_h: Int, n_frames: Int,
      px_sum: Long, px_check: Long)

  /** Decoded-video motion feature row (q161): the per-frame means a
    * curation pipeline turns into a motion proxy — first frame's pixel
    * sum, total L1 frame-delta, and the hottest single frame-to-frame
    * delta, all exact integer sums of DECODED samples. */
  final case class VideoMotion(
      media_id: Long, n_frames: Int, first_frame_sum: Long,
      motion_l1: Long, peak_delta: Long)

  /** Real video codec: MJPEG-in-AVI, decoded with ZERO new
    * dependencies — the AVI container is a RIFF parse (the same
    * chunk grammar whose WAVE sibling [[WavCodec]] hand-writes
    * byte-parity-pinned), and MJPEG frames are baseline JPEGs the
    * JDK's own `javax.imageio` decodes.
    *
    * WHY the synthetic frames are per-8×8-block-constant grayscale at
    * writer quality 1.0: libjpeg-quality-100 quantization tables are
    * all ones, and a constant 8×8 block's forward DCT is a single
    * integer DC coefficient (every AC butterfly cancels exactly), so
    * encode→decode round-trips the block EXACTLY — JPEG is lossless on
    * this subspace of images. Probed empirically before this design
    * was committed: 0 sample mismatches across dims including
    * non-multiples of 8 (edge replication keeps a partial block
    * constant). That gives MJPEG the property PNG gave q155 and PCM
    * gave q158: the DuckDB oracle regenerates every DECODED value
    * arithmetically, so a lying encode or decode anywhere breaks the
    * hash.
    *
    * Threading (the round-13 WavCodec lesson, probed up front this
    * time): `ImageIO.read` showed NO AudioSystem-style global provider
    * lock (32k threaded decodes: 0.35 s via ImageIO.read vs 0.28 s via
    * a cached SPI), but a REUSED reader instance halves per-frame cost
    * again (64k decodes under 16 threads: 0.68 s fresh-reader vs
    * 0.35 s reused) — so the SPIs are resolved once and each
    * per-partition task reuses ONE reader/writer across a video's
    * frames. Reader/writer instances are not thread-safe and are never
    * shared across tasks. */
  object MjpegAviCodec {

    /** Declared stream rate: 10 fps — dwScale/dwRate in `strh`, and
      * the contract tying `n_frames` metadata to wall-clock length. */
    val Fps = 10

    private lazy val jpegReaderSpi: javax.imageio.spi.ImageReaderSpi = {
      val it = javax.imageio.spi.IIORegistry.getDefaultInstance
        .getServiceProviders(classOf[javax.imageio.spi.ImageReaderSpi], true)
      var found: Option[javax.imageio.spi.ImageReaderSpi] = None
      while (found.isEmpty && it.hasNext) {
        val s = it.next()
        if (s.getFormatNames.exists(_.equalsIgnoreCase("jpeg"))) found = Some(s)
      }
      found.getOrElse(throw new IllegalStateException(
        "no JPEG ImageReader SPI registered in this JDK"))
    }

    private lazy val jpegWriterSpi: javax.imageio.spi.ImageWriterSpi = {
      val it = javax.imageio.spi.IIORegistry.getDefaultInstance
        .getServiceProviders(classOf[javax.imageio.spi.ImageWriterSpi], true)
      var found: Option[javax.imageio.spi.ImageWriterSpi] = None
      while (found.isEmpty && it.hasNext) {
        val s = it.next()
        if (s.getFormatNames.exists(_.equalsIgnoreCase("jpeg"))) found = Some(s)
      }
      found.getOrElse(throw new IllegalStateException(
        "no JPEG ImageWriter SPI registered in this JDK"))
    }

    /** Sample value of every pixel in 8×8 block `block` (row-major
      * over the ceil(w/8)-wide block grid) of frame `frame`:
      * `(seed + 31·frame + block) mod 256`. 31 is odd → consecutive
      * frames differ in every block (motion everywhere); +1 per block
      * → spatial structure. The q160/q161 oracles regenerate this grid
      * arithmetically in DuckDB. */
    def blockValue(seed: Long, frame: Int, block: Int): Int =
      java.lang.Math.floorMod(seed + 31L * frame + block, 256L).toInt

    private def frameImage(seed: Long, f: Int, w: Int, h: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      val cpr = (w + 7) / 8
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, blockValue(seed, f, (y / 8) * cpr + (x / 8)))
          x += 1
        }
        y += 1
      }
      img
    }

    /** Deterministic MJPEG-in-AVI container: `nFrames` per-block-
      * constant grayscale frames, each a genuine baseline JPEG
      * (quality 1.0 — the exactness argument above), wrapped in a
      * hand-written RIFF/AVI with the standard `hdrl` (avih + strl
      * with 'vids'/'MJPG' strh + BITMAPINFOHEADER strf) and `movi`
      * ('00dc' chunks, word-aligned) lists. ONE writer instance
      * serves all frames (the probe's 2× amortization). */
    def syntheticMjpegAvi(seed: Long, nFrames: Int, w: Int, h: Int): Array[Byte] = {
      require(nFrames > 0 && w > 0 && h > 0,
        s"bad video dims n=$nFrames ${w}x$h")
      val writer = jpegWriterSpi.createWriterInstance()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(1.0f)
      val frames =
        try (0 until nFrames).map { f =>
          val bos = new java.io.ByteArrayOutputStream()
          val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          writer.setOutput(out)
          writer.write(null,
            new javax.imageio.IIOImage(frameImage(seed, f, w, h), null, null), param)
          out.flush()
          bos.toByteArray
        }
        finally writer.dispose()
      val moviData = 4 + frames.map(fb => 8 + fb.length + (fb.length & 1)).sum
      val hdrlData = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
      val riffData = 4 + (8 + hdrlData) + (8 + moviData)
      val buf = java.nio.ByteBuffer.allocate(8 + riffData)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
      fcc("RIFF"); buf.putInt(riffData); fcc("AVI ")
      fcc("LIST"); buf.putInt(hdrlData); fcc("hdrl")
      fcc("avih"); buf.putInt(56)
      buf.putInt(1000000 / Fps) // dwMicroSecPerFrame
      buf.putInt(0)             // dwMaxBytesPerSec
      buf.putInt(0)             // dwPaddingGranularity
      buf.putInt(0)             // dwFlags (no idx1 — decoders stream movi)
      buf.putInt(nFrames)       // dwTotalFrames
      buf.putInt(0)             // dwInitialFrames
      buf.putInt(1)             // dwStreams
      buf.putInt(0)             // dwSuggestedBufferSize
      buf.putInt(w); buf.putInt(h)
      buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0) // dwReserved[4]
      fcc("LIST"); buf.putInt(4 + 64 + 48); fcc("strl")
      fcc("strh"); buf.putInt(56)
      fcc("vids"); fcc("MJPG")
      buf.putInt(0)                     // dwFlags
      buf.putShort(0); buf.putShort(0)  // wPriority, wLanguage
      buf.putInt(0)                     // dwInitialFrames
      buf.putInt(1)                     // dwScale
      buf.putInt(Fps)                   // dwRate
      buf.putInt(0)                     // dwStart
      buf.putInt(nFrames)               // dwLength (frames, for vids)
      buf.putInt(0)                     // dwSuggestedBufferSize
      buf.putInt(-1)                    // dwQuality (default)
      buf.putInt(0)                     // dwSampleSize (0: varying)
      buf.putShort(0); buf.putShort(0)  // rcFrame left, top
      buf.putShort(w.toShort); buf.putShort(h.toShort)
      fcc("strf"); buf.putInt(40)       // BITMAPINFOHEADER
      buf.putInt(40); buf.putInt(w); buf.putInt(h)
      buf.putShort(1); buf.putShort(24) // biPlanes, biBitCount
      fcc("MJPG")                       // biCompression
      buf.putInt(w * h * 3)             // biSizeImage (nominal)
      buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
      fcc("LIST"); buf.putInt(moviData); fcc("movi")
      frames.foreach { fb =>
        fcc("00dc"); buf.putInt(fb.length); buf.put(fb)
        if ((fb.length & 1) == 1) buf.put(0.toByte) // RIFF word alignment
      }
      buf.array()
    }

    private def u32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Parsed + validated container shape. `moviStart`/`moviEnd`
      * bracket the frame-chunk region. */
    final case class AviInfo(w: Int, h: Int, nFrames: Int,
                             moviStart: Int, moviEnd: Int)

    /** Walk the RIFF structure and fail loudly on anything a decoder
      * must not guess through: wrong magic, a size field that lies
      * about the payload, a handler this codec doesn't own (only
      * 'MJPG' — other compressed video has no JDK decoder), stream
      * header dims disagreeing with the main header, or a missing
      * movi list. */
    def parse(payload: Array[Byte]): AviInfo = {
      require(payload.length >= 12 && fourcc(payload, 0) == "RIFF" &&
          fourcc(payload, 8) == "AVI ",
        "payload is not a RIFF/AVI container (no decoder claims it)")
      val riffSize = u32(payload, 4)
      require(riffSize == payload.length - 8,
        s"RIFF size field lies: $riffSize vs ${payload.length - 8} actual")
      var avihW, avihH, avihFrames, streams, strfW, strfH, strhLen = -1
      var handler, strfComp: String = null
      var moviStart, moviEnd = -1

      def parseStrl(from: Int, end: Int): Unit = {
        var off = from
        while (off + 8 <= end) {
          val id = fourcc(payload, off); val sz = u32(payload, off + 4)
          require(sz >= 0 && off + 8 + sz <= end, s"truncated chunk $id")
          if (id == "strh") {
            require(fourcc(payload, off + 8) == "vids",
              s"stream type '${fourcc(payload, off + 8)}' is not video")
            handler = fourcc(payload, off + 12)
            strhLen = u32(payload, off + 8 + 32) // dwLength (frames)
          } else if (id == "strf") {
            strfW = u32(payload, off + 12)
            strfH = u32(payload, off + 16)
            strfComp = fourcc(payload, off + 24)
          }
          off += 8 + sz + (sz & 1)
        }
      }

      def parseHdrl(from: Int, end: Int): Unit = {
        var off = from
        while (off + 8 <= end) {
          val id = fourcc(payload, off); val sz = u32(payload, off + 4)
          require(sz >= 0 && off + 8 + sz <= end, s"truncated chunk $id")
          if (id == "avih") {
            avihFrames = u32(payload, off + 8 + 16) // dwTotalFrames
            streams = u32(payload, off + 8 + 24)    // dwStreams
            avihW = u32(payload, off + 8 + 32)      // dwWidth
            avihH = u32(payload, off + 8 + 36)      // dwHeight
          } else if (id == "LIST" && fourcc(payload, off + 8) == "strl")
            parseStrl(off + 12, off + 8 + sz)
          off += 8 + sz + (sz & 1)
        }
      }

      var off = 12
      while (off + 8 <= payload.length) {
        val id = fourcc(payload, off); val sz = u32(payload, off + 4)
        require(sz >= 0 && off + 8 + sz <= payload.length,
          s"truncated chunk $id")
        if (id == "LIST") {
          val lt = fourcc(payload, off + 8)
          if (lt == "hdrl") parseHdrl(off + 12, off + 8 + sz)
          else if (lt == "movi") { moviStart = off + 12; moviEnd = off + 8 + sz }
        }
        off += 8 + sz + (sz & 1)
      }
      require(avihW > 0 && avihH > 0 && avihFrames > 0,
        s"missing/empty avih header (${avihW}x$avihH, $avihFrames frames)")
      require(streams == 1, s"$streams streams (this codec owns single-stream video)")
      require(handler == "MJPG" && strfComp == "MJPG",
        s"video fourcc '$handler'/'$strfComp' has no JDK decoder " +
          "(this codec owns MJPG; other compressed video keeps the " +
          "labeled byte-statistic stand-in)")
      require(strfW == avihW && strfH == avihH,
        s"stream format dims ${strfW}x$strfH != container ${avihW}x$avihH")
      require(strhLen == avihFrames,
        s"stream header declares $strhLen frames, container $avihFrames")
      require(moviStart >= 0, "no movi list — container holds no frames")
      AviInfo(avihW, avihH, avihFrames, moviStart, moviEnd)
    }

    /** Container-level frame extraction: the '00dc' JPEG payloads in
      * stream order, WITHOUT decoding — what a frame-sampling stage
      * ships to a downstream image model. */
    def frameChunks(payload: Array[Byte]): Iterator[(Int, Array[Byte])] = {
      val info = parse(payload)
      new Iterator[(Int, Array[Byte])] {
        private var off = info.moviStart
        private var f = 0
        def hasNext: Boolean = {
          val more = off + 8 <= info.moviEnd
          if (!more) require(f == info.nFrames,
            s"container declares ${info.nFrames} frames, movi holds $f")
          more
        }
        def next(): (Int, Array[Byte]) = {
          val id = fourcc(payload, off); val sz = u32(payload, off + 4)
          require(sz >= 0 && off + 8 + sz <= info.moviEnd,
            s"truncated movi chunk $id")
          require(id == "00dc",
            s"unexpected movi chunk '$id' (single-stream MJPEG expected)")
          val bytes = java.util.Arrays.copyOfRange(payload, off + 8, off + 8 + sz)
          val out = (f, bytes)
          f += 1
          off += 8 + sz + (sz & 1)
          out
        }
      }
    }

    /** Decode every frame through ONE reused JPEG reader, folding
      * `op(acc, frameIdx, raster)` over the stream. Validates each
      * decoded frame's dims against the container and the final frame
      * count against the declared total — a truncated or padded movi
      * list aborts, never flows silently. */
    def foldFrames[A](payload: Array[Byte], z: A)(
        op: (A, Int, java.awt.image.Raster) => A): A = {
      val info = parse(payload)
      val reader = jpegReaderSpi.createReaderInstance()
      try {
        var acc = z
        var off = info.moviStart
        var f = 0
        while (off + 8 <= info.moviEnd) {
          val id = fourcc(payload, off); val sz = u32(payload, off + 4)
          require(sz >= 0 && off + 8 + sz <= info.moviEnd,
            s"truncated movi chunk $id")
          require(id == "00dc",
            s"unexpected movi chunk '$id' (single-stream MJPEG expected)")
          reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(payload, off + 8, sz)), true, true)
          val img = reader.read(0)
          require(img.getWidth == info.w && img.getHeight == info.h,
            s"frame $f decoded ${img.getWidth}x${img.getHeight} != " +
              s"container ${info.w}x${info.h}")
          acc = op(acc, f, img.getRaster)
          f += 1
          off += 8 + sz + (sz & 1)
        }
        require(f == info.nFrames,
          s"container declares ${info.nFrames} frames, movi holds $f")
        acc
      } finally reader.dispose()
    }

    /** Exact pixel statistics of the decoded stream: `px_sum = Σ v(i)`,
      * `px_check = Σ i·v(i)` over the per-video global row-major index
      * `i = f·w·h + y·w + x` — frame ORDER is pinned, not just content.
      * `px_check ≤ 255·N(N−1)/2`, so N = frames·w·h ≤ 2^27 samples
      * keeps it under 2^63; the require fires on the PARSED header,
      * before any decode work. */
    def stats(payload: Array[Byte]): (Int, Int, Int, Long, Long) = {
      val info = parse(payload)
      require(info.nFrames.toLong * info.w * info.h <= (1L << 27),
        s"video too large for exact int64 checksum: ${info.nFrames} " +
          s"frames of ${info.w}x${info.h} (2^27 sample bound)")
      val wh = info.w.toLong * info.h
      val (sum, check) = foldFrames(payload, (0L, 0L)) {
        case ((s0, c0), f, r) =>
          var s = s0; var c = c0
          val base = f * wh
          var y = 0
          while (y < info.h) {
            var x = 0
            while (x < info.w) {
              val v = r.getSample(x, y, 0).toLong
              s += v
              c += (base + y.toLong * info.w + x) * v
              x += 1
            }
            y += 1
          }
          (s, c)
      }
      (info.w, info.h, info.nFrames, sum, check)
    }

    /** Per-frame pixel sums of the decoded stream (the q161 inputs),
      * under the same [[stats]] bound. */
    def frameSums(payload: Array[Byte]): (Int, Int, Array[Long]) = {
      val info = parse(payload)
      require(info.nFrames.toLong * info.w * info.h <= (1L << 27),
        s"video too large for exact int64 checksum: ${info.nFrames} " +
          s"frames of ${info.w}x${info.h} (2^27 sample bound)")
      val sums = new Array[Long](info.nFrames)
      foldFrames(payload, ()) { (_, f, r) =>
        var s = 0L
        var y = 0
        while (y < info.h) {
          var x = 0
          while (x < info.w) { s += r.getSample(x, y, 0); x += 1 }
          y += 1
        }
        sums(f) = s
      }
      (info.w, info.h, sums)
    }
  }

  /** Byte-statistic stand-in features for modalities the JDK ships no
    * decoder for (COMPRESSED audio — mp3/aac — and non-MJPEG video
    * containers):
    * windowed byte energies, deterministic in the payload. Clearly a
    * fake — a real pipeline links an audio codec here; the Spark-side
    * plumbing (schema, batching, output shape) is identical either
    * way. */
  object ByteStatCodec {
    def feature(payload: Array[Byte], k: Int): Array[Float] = {
      val out = new Array[Float](k)
      var i = 0
      while (i < payload.length) {
        out(i % k) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      out
    }

    /** "Sample" every `stride`-th frame of a fake video container whose
      * frames are fixed-size byte slices. */
    def sampleFrames(payload: Array[Byte], frameSize: Int, stride: Int): Iterator[(Int, Array[Byte])] =
      payload.grouped(frameSize).zipWithIndex
        .filter { case (_, idx) => idx % stride == 0 }
        .map { case (bytes, idx) => (idx, bytes) }
  }

  /** Build a deterministic synthetic media table from `documents`: the
    * payload is the utf-8 text bytes (opaque-binary plumbing — q25/q26
    * byte-level stats), metadata derived from doc stats. Real
    * pipelines read `binaryFile` sources or parquet with a binary
    * column instead; [[pngMedia]] is the variant with DECODABLE image
    * payloads. */
  def syntheticMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      (pmod(col("doc_id"), lit(64)) + 16).cast("int").as("width"),
      (pmod(col("doc_id"), lit(48)) + 16).cast("int").as("height"),
      lit(16000).as("sample_rate"),
      // long-clip tail (round-13 verdict #7): every 97th clip is 1875
      // frames — 300k samples, an 18.75 s utterance at 16 kHz — so the
      // decode benches price realistic clip lengths, not only the
      // ≤0.3 s shorts the 1–30 frame mod produces
      when(pmod(col("doc_id"), lit(97)) === 0, lit(1875))
        .otherwise(pmod(col("doc_id"), lit(30)) + 1)
        .cast("int").as("n_frames"))

  /** [[syntheticMedia]] with REAL payloads on image rows: a genuine
    * grayscale PNG (seed `media_id mod 256`, declared dims) produced
    * by the same `ImageIO` stack that decodes it. Partition-local map
    * — the encode is the fixture's cost, not a shuffle. */
  def pngMedia(docs: DataFrame): Dataset[MediaRow] = {
    val rows = asMediaRows(syntheticMedia(docs))
    import rows.sparkSession.implicits._
    rows.mapPartitions(_.map { r =>
      if (r.kind == "image")
        r.copy(payload = ImageCodec.syntheticPng(
          java.lang.Math.floorMod(r.media_id, 256L), r.width, r.height))
      else r
    })
  }

  /** [[syntheticMedia]] with REAL payloads on audio rows: a genuine
    * 16-bit mono PCM WAV (seed `media_id mod 65536`, declared
    * sample_rate, `n_frames × SamplesPerFrame` samples) produced by
    * the same `javax.sound.sampled` stack that decodes it.
    * Partition-local map — the encode is the fixture's cost, not a
    * shuffle. */
  def wavMedia(docs: DataFrame): Dataset[MediaRow] = {
    val rows = asMediaRows(syntheticMedia(docs))
    import rows.sparkSession.implicits._
    rows.mapPartitions(_.map { r =>
      if (r.kind == "audio")
        r.copy(payload = WavCodec.syntheticWav(
          java.lang.Math.floorMod(r.media_id, 65536L),
          r.n_frames * WavCodec.SamplesPerFrame, r.sample_rate))
      else r
    })
  }

  /** [[syntheticMedia]] with REAL payloads on video rows: a genuine
    * MJPEG-in-AVI container (seed `media_id mod 256`) produced by the
    * same RIFF writer + `ImageIO` JPEG stack that decodes it.
    * Video-row metadata is adjusted to the container's own shape:
    * dims snap DOWN to the JPEG MCU grid (multiples of 8 — full 8×8
    * blocks keep the oracle's closed-form exact; the codec itself
    * handles odd dims), and the frame count keeps the 1–30-frame clip
    * shape WITHOUT the audio long tail — a 1875-frame video would be
    * 1875 full JPEG decodes per row, and the per-frame overhead (not
    * per-sample, as audio is) would make the tail the whole benchmark.
    * Partition-local map — the encode is the fixture's cost, not a
    * shuffle. */
  def aviMedia(docs: DataFrame): Dataset[MediaRow] = {
    val rows = asMediaRows(syntheticMedia(docs))
    import rows.sparkSession.implicits._
    rows.mapPartitions(_.map { r =>
      if (r.kind == "video") {
        val w8 = r.width / 8 * 8
        val h8 = r.height / 8 * 8
        val nf = (java.lang.Math.floorMod(r.media_id, 30L) + 1).toInt
        r.copy(width = w8, height = h8, n_frames = nf,
          payload = MjpegAviCodec.syntheticMjpegAvi(
            java.lang.Math.floorMod(r.media_id, 256L), nf, w8, h8))
      } else r
    })
  }

  /** Decode every video row and emit exact pixel statistics, failing
    * loudly when the decoded dims or frame count disagree with the
    * declared metadata (a lying metadata column must never flow
    * silently into a training manifest). Partition-local,
    * shuffle-free — at a 100 TB video lake this plan is pure decode
    * CPU across file splits. */
  def decodeVideoStats(media: Dataset[MediaRow]): Dataset[VideoStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").mapPartitions(_.map { r =>
      val (w, h, nf, sum, check) = MjpegAviCodec.stats(r.payload)
      require(w == r.width && h == r.height,
        s"decoded dims ${w}x$h != declared ${r.width}x${r.height} " +
          s"for media ${r.media_id}")
      require(nf == r.n_frames,
        s"decoded $nf frames != declared ${r.n_frames} for media ${r.media_id}")
      VideoStats(r.media_id, w, h, nf, sum, check)
    })
  }

  /** Decode every video row and emit the motion-proxy features a
    * curation pipeline consumes: first frame's pixel sum, total L1
    * frame-delta `Σ|s_f − s_{f−1}|`, and the hottest single delta —
    * exact integer sums of decoded samples (zero for single-frame
    * clips). Same lying-metadata contract and shuffle-free shape as
    * [[decodeVideoStats]]. */
  def decodeVideoMotion(media: Dataset[MediaRow]): Dataset[VideoMotion] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").mapPartitions(_.map { r =>
      val (w, h, sums) = MjpegAviCodec.frameSums(r.payload)
      require(w == r.width && h == r.height,
        s"decoded dims ${w}x$h != declared ${r.width}x${r.height} " +
          s"for media ${r.media_id}")
      require(sums.length == r.n_frames,
        s"decoded ${sums.length} frames != declared ${r.n_frames} " +
          s"for media ${r.media_id}")
      var l1 = 0L
      var peak = 0L
      var f = 1
      while (f < sums.length) {
        val d = math.abs(sums(f) - sums(f - 1))
        l1 += d
        if (d > peak) peak = d
        f += 1
      }
      VideoMotion(r.media_id, sums.length, sums(0), l1, peak)
    })
  }

  /** REAL frame sampling for MJPEG-AVI rows: every `stride`-th frame's
    * JPEG payload, extracted at the CONTAINER level (a RIFF walk — no
    * decode), one output row per kept frame. The shape a frame-
    * sampling stage ships to an image model; [[sampleVideoFrames]]
    * remains the byte-slice stand-in for opaque containers. */
  def sampleAviFrames(media: Dataset[MediaRow], stride: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      MjpegAviCodec.frameChunks(r.payload)
        .filter { case (idx, _) => idx % stride == 0 }
        .map { case (idx, bytes) => Frame(r.media_id, idx, bytes) }
    }
  }

  /** [[syntheticMedia]] with REAL payloads on ALL THREE decodable
    * modalities in ONE partition-local pass — genuine PNGs on image
    * rows, 16-bit PCM WAVs on audio rows, MJPEG-AVIs on video rows
    * (with the [[aviMedia]] metadata adjustments). The fixture for
    * whole-lake operators ([[mediaVerdicts]], q162) that would
    * otherwise pay the synthesis once per modality branch. */
  def realMedia(docs: DataFrame): Dataset[MediaRow] = {
    val rows = asMediaRows(syntheticMedia(docs))
    import rows.sparkSession.implicits._
    rows.mapPartitions(_.map { r =>
      r.kind match {
        case "image" =>
          r.copy(payload = ImageCodec.syntheticPng(
            java.lang.Math.floorMod(r.media_id, 256L), r.width, r.height))
        case "audio" =>
          r.copy(payload = WavCodec.syntheticWav(
            java.lang.Math.floorMod(r.media_id, 65536L),
            r.n_frames * WavCodec.SamplesPerFrame, r.sample_rate))
        case _ =>
          val w8 = r.width / 8 * 8
          val h8 = r.height / 8 * 8
          val nf = (java.lang.Math.floorMod(r.media_id, 30L) + 1).toInt
          r.copy(width = w8, height = h8, n_frames = nf,
            payload = MjpegAviCodec.syntheticMjpegAvi(
              java.lang.Math.floorMod(r.media_id, 256L), nf, w8, h8))
      }
    })
  }

  /** Per-media curation verdict (q162):
    * `ok` = the payload decoded AND agreed with its declared metadata;
    * `keep` = it passed the modality's quality gate. */
  final case class MediaVerdict(
      media_id: Long, kind: String, ok: Boolean, reason: String, keep: Boolean)

  /** Modality-dispatching decode + quality gate over a media lake —
    * ONE partition-local pass that decodes each row with its real
    * codec, cross-checks declared metadata, and applies the
    * modality's curation rule, all integer-exact so the q162 oracle
    * replays every verdict arithmetically:
    *   - image: resolution floor (≥ 2048 px) AND decoded mean
    *     brightness in the mid band (120·n ≤ Σv ≤ 136·n) — the
    *     blank/clipped-image drop;
    *   - audio: duration floor (≥ 3 frames = 30 ms) AND mean sample
    *     energy ≥ 2^28 (Σv² ≥ 2^28·n) — the silence drop;
    *   - video: ≥ 2 frames AND total L1 frame-delta ≥ n_frames−1 —
    *     the static-clip drop.
    *
    * Unlike the per-modality `decode*` operators (which ABORT on a
    * lying row — the analytics contract), this face NEVER throws on a
    * bad row: a payload that fails to decode or disagrees with its
    * metadata comes back `ok = false` with the reason, because at
    * ingestion time one rotten row must quarantine, not kill the
    * pipeline. Shuffle-free; at 100 TB the plan is pure decode CPU
    * across file splits. */
  def mediaVerdicts(media: Dataset[MediaRow]): Dataset[MediaVerdict] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(verdictFor))
  }

  /** The quarantine-don't-abort catch in a directly-testable unit:
    * a failing `body` becomes an ok=false verdict ONLY for non-fatal
    * throwables. Spark cancels tasks by interrupting them, and a kill
    * signal arriving mid-decode must propagate as the cancellation it
    * is — catching it would mint a bogus quarantine verdict for a row
    * that was never rotten (and commit it, under at-least-once replay,
    * FOREVER). InterruptedException is not matched by NonFatal; fatal
    * VM errors (OOM, stack overflow) likewise pass through. The match
    * is `Exception if NonFatal` rather than bare NonFatal (r15
    * advice): NonFatal alone also swallows non-fatal ERRORS
    * (AssertionError et al.), which are engine bugs, not rotten rows —
    * quarantine is for decode/metadata failures only, and those
    * surface as Exceptions. MultimodalSpec drives this with an
    * injected interrupt, which a Dataset round-trip can't. */
  private[graft] def quarantining(mediaId: Long, kind: String)
                                 (body: => MediaVerdict): MediaVerdict =
    try body catch {
      case e: Exception if scala.util.control.NonFatal(e) =>
        MediaVerdict(mediaId, kind, ok = false,
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName),
          keep = false)
    }

  /** One row's verdict (the unit [[mediaVerdicts]] maps). */
  private[graft] def verdictFor(r: MediaRow): MediaVerdict =
    quarantining(r.media_id, r.kind) { r.kind match {
        case "image" =>
          val (w, h, sum, _) = ImageCodec.stats(r.payload)
          require(w == r.width && h == r.height,
            s"decoded dims ${w}x$h != declared ${r.width}x${r.height}")
          val n = w.toLong * h
          MediaVerdict(r.media_id, r.kind, ok = true, "",
            keep = n >= 2048L && 120L * n <= sum && sum <= 136L * n)
        case "audio" =>
          val (rate, n, bytes) = WavCodec.pcm16(r.payload)
          require(rate == r.sample_rate,
            s"decoded rate $rate != declared ${r.sample_rate}")
          require(n.toLong == r.n_frames.toLong * WavCodec.SamplesPerFrame,
            s"decoded $n samples != declared ${r.n_frames} frames")
          var total = 0L
          var i = 0
          while (i < n) {
            val v = (bytes(2 * i + 1).toLong << 8) | (bytes(2 * i) & 0xffL)
            total += v * v
            i += 1
          }
          MediaVerdict(r.media_id, r.kind, ok = true, "",
            keep = r.n_frames >= 3 && total >= 268435456L * n)
        case "video" =>
          val (w, h, sums) = MjpegAviCodec.frameSums(r.payload)
          require(w == r.width && h == r.height,
            s"decoded dims ${w}x$h != declared ${r.width}x${r.height}")
          require(sums.length == r.n_frames,
            s"decoded ${sums.length} frames != declared ${r.n_frames}")
          var l1 = 0L
          var f = 1
          while (f < sums.length) {
            l1 += math.abs(sums(f) - sums(f - 1)); f += 1
          }
          MediaVerdict(r.media_id, r.kind, ok = true, "",
            keep = sums.length >= 2 && l1 >= (sums.length - 1).toLong)
        case other =>
          MediaVerdict(r.media_id, other, ok = false,
            s"unknown modality '$other'", keep = false)
      }
    }

  /** Decode every audio row and emit exact sample statistics, failing
    * loudly when the decoded rate or length disagrees with the
    * declared metadata (a lying metadata column must never flow
    * silently into a training manifest). Partition-local,
    * shuffle-free — at a 100 TB audio lake this plan is pure decode
    * CPU across file splits. */
  def decodeAudioStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions(_.map { r =>
      val (rate, n, sum, check) = WavCodec.stats(r.payload)
      require(rate == r.sample_rate,
        s"decoded rate $rate != declared ${r.sample_rate} for media ${r.media_id}")
      require(n == r.n_frames.toLong * WavCodec.SamplesPerFrame,
        s"decoded $n samples != declared ${r.n_frames} frames x " +
          s"${WavCodec.SamplesPerFrame} for media ${r.media_id}")
      AudioStats(r.media_id, rate, n, sum, check)
    })
  }

  /** Decoded-audio energy row (q159): the feature a VAD / audio
    * quality gate consumes — total energy and the hottest 10 ms frame,
    * both exact integer sums of squared decoded samples. */
  final case class AudioEnergy(
      media_id: Long, n_frames: Int, e_total: Long, e_max_frame: Long)

  /** Decode every audio row and emit exact frame-energy features:
    * `e_total = Σ v²` over all samples, `e_max_frame = max over 10 ms
    * frames of Σ v²` within the frame. Integer-exact (v² ≤ 2^30, so a
    * 2^23-sample clip stays under 2^53) and shuffle-free. Same lying-
    * metadata contract as [[decodeAudioStats]]: the guarded
    * [[WavCodec.pcm16]] drain plus a declared-vs-decoded cross-check,
    * so a truncated or mislabeled clip aborts instead of flowing into
    * a VAD as silence. */
  def decodeAudioEnergy(media: Dataset[MediaRow]): Dataset[AudioEnergy] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions(_.map { r =>
      val (rate, n, bytes) = WavCodec.pcm16(r.payload)
      require(rate == r.sample_rate,
        s"decoded rate $rate != declared ${r.sample_rate} for media ${r.media_id}")
      require(n.toLong == r.n_frames.toLong * WavCodec.SamplesPerFrame,
        s"decoded $n samples != declared ${r.n_frames} frames x " +
          s"${WavCodec.SamplesPerFrame} for media ${r.media_id}")
      var total = 0L
      var maxFrame = 0L
      var frame = 0L
      var i = 0
      while (i < n) {
        val v = (bytes(2 * i + 1).toLong << 8) | (bytes(2 * i) & 0xffL)
        frame += v * v
        total += v * v
        i += 1
        if (i % WavCodec.SamplesPerFrame == 0 || i == n) {
          if (frame > maxFrame) maxFrame = frame
          frame = 0L
        }
      }
      AudioEnergy(r.media_id,
        (n + WavCodec.SamplesPerFrame - 1) / WavCodec.SamplesPerFrame,
        total, maxFrame)
    })
  }

  /** Decode every image row and emit exact pixel statistics, failing
    * loudly when the decoded dims disagree with the declared metadata
    * (a lying metadata column must never flow silently into a
    * training manifest). Partition-local, shuffle-free. */
  def decodeImageStats(media: Dataset[MediaRow]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions(_.map { r =>
      val (w, h, sum, check) = ImageCodec.stats(r.payload)
      require(w == r.width && h == r.height,
        s"decoded dims ${w}x$h != declared ${r.width}x${r.height} " +
          s"for media ${r.media_id}")
      ImageStats(r.media_id, w, h, w.toLong * h, sum, check)
    })
  }

  /** Partition-local batched feature extraction (mapInPandas analog):
    * one iterator per partition. Images go through the REAL decoder
    * ([[ImageCodec.feature]] — per-band mean/variance of the decoded
    * raster); audio/video use the byte-statistic stand-in. Output
    * keeps a stable, declared shape (fixed-length feature vector). */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 8): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val feat = r.kind match {
          case "image" => ImageCodec.feature(r.payload, dim)
          case _       => ByteStatCodec.feature(r.payload, dim)
        }
        MediaFeature(r.media_id, r.kind, r.payload.length.toLong, feat)
      }
    }
  }

  /** Frame sampling for video rows: one output row per kept frame —
    * a generator (flatMap), partition-local, no shuffle. */
  def sampleVideoFrames(media: Dataset[MediaRow], frameSize: Int = 32,
                        stride: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      ByteStatCodec.sampleFrames(r.payload, frameSize, stride)
        .map { case (idx, bytes) => Frame(r.media_id, idx, bytes) }
    }
  }

  /** DataFrame → typed media rows (schema gate at the boundary). */
  def asMediaRows(df: DataFrame): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col("media_id"), col("kind"), col("payload"),
      col("width"), col("height"), col("sample_rate"), col("n_frames"))
      .as[MediaRow]
  }
}
