package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A decoded media record: the typed output of the decode stage.
  * `decoded_real` marks whether the features came from a REAL JDK codec
  * path (ImageIO / javax.sound / Y4M / GIF) or the deterministic stub —
  * downstream consumers must never mistake fabricated features for
  * measured ones.
  */
final case class MediaFeatures(
    doc_id: Long, kind: String, byte_len: Long,
    width: Int, height: Int, n_frames: Int, features: Array[Float],
    decoded_real: Boolean)

/** Multimodal-column plumbing: image/audio/video travel as opaque
  * `binary` columns with typed metadata; decode / feature-extract runs
  * partition-batched on executors.
  *
  * The IMAGE branch is a real decoder: JDK-only `javax.imageio`
  * (PNG/JPEG/GIF/BMP) yields true dimensions plus pixel statistics —
  * per-channel means and a 4-bin luminance histogram — with no external
  * dependency. Payloads that aren't a decodable image (the synthetic
  * corpus stores utf-8 text in the binary column) fall back to the
  * deterministic fake, so the plumbing stays runnable on any input.
  * The AUDIO branch is real too: JDK-only `javax.sound.sampled`
  * (WAV/AIFF/AU containers, PCM payloads) yields the true sample rate,
  * channel count and frame count plus an 8-segment RMS envelope.
  * The VIDEO branch is real for uncompressed Y4M (header + raw planar
  * YUV) and for animated GIF (the one compressed container the JDK
  * fully decodes); only the remaining compressed codecs (H.264 & co.)
  * fall to the deterministic stub, whose kernel is swappable for a
  * JNI/ffmpeg codec in production with an identical call-site shape.
  */
object Multimodal {

  // ImageIO defaults to a disk-backed stream cache; executors decoding
  // small in-memory payloads want the heap path (set once per JVM).
  private lazy val imageIoReady: Unit = javax.imageio.ImageIO.setUseCache(false)

  /** Attach a binary payload column (here: utf-8 of `text` — the corpus
    * has no real media) plus kind metadata derived from the source id.
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("source"),
      col("text").cast("binary").as("payload"),
      // pmod, not %: Spark % keeps the dividend's sign, so a negative
      // doc_id would index 0/-1 and throw or wrap instead of cycling.
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"))

  /** Real image decode via JDK `javax.imageio`: true (width, height) and
    * an 8-dim feature vector — mean R, G, B, A in [0,1] and a 4-bin
    * luminance histogram as pixel fractions. None when the bytes aren't a
    * format ImageIO can read (caller falls back to the stub).
    */
  private[operators] def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Float])] =
    try {
      imageIoReady
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val feats = new Array[Float](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val argb = img.getRGB(x, y) // sRGB regardless of storage model
            val r = (argb >>> 16) & 0xFF
            val g = (argb >>> 8) & 0xFF
            val b = argb & 0xFF
            feats(0) += r; feats(1) += g; feats(2) += b; feats(3) += (argb >>> 24) & 0xFF
            // integer Rec.601 luma, bucketed into 4 bins of 64
            feats(4 + (((r * 299 + g * 587 + b * 114) / 1000) >> 6)) += 1f
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        var i = 0
        while (i < 4) { feats(i) /= n * 255f; i += 1 }
        while (i < 8) { feats(i) /= n; i += 1 }
        Some((w, h, feats))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Real audio decode via JDK `javax.sound.sampled`: WAV/AIFF/AU
    * containers with 8-bit or 16-bit PCM. Returns (sampleRate, channels,
    * frames, features) where features is the 8-segment RMS envelope of
    * the mono-folded signal in [0,1] — the cheap length-stable fingerprint
    * a curation pipeline filters on (silence, clipping, uniform noise).
    * None when the bytes aren't a JDK-readable audio container/encoding
    * (caller falls back to the stub).
    */
  /** Resolve a JDK audio stream to LINEAR PCM: G.711 μ-law/A-law
    * (8-bit log-companded telephony codecs — the lossy re-encode the
    * JDK transcodes without any external codec dependency) pass through
    * `AudioSystem`'s converter to PCM_SIGNED 16; PCM streams return
    * unchanged. Closing the returned stream closes the source.
    */
  private def toPcmStream(ais: javax.sound.sampled.AudioInputStream)
      : javax.sound.sampled.AudioInputStream = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val enc = ais.getFormat.getEncoding
    if (enc == AudioFormat.Encoding.ULAW || enc == AudioFormat.Encoding.ALAW) {
      val f = ais.getFormat
      AudioSystem.getAudioInputStream(
        new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, f.getSampleRate, 16,
          f.getChannels, f.getChannels * 2, f.getSampleRate, false), ais)
    } else ais
  }

  /** Re-encode a PCM payload through the G.711 μ-law codec (8-bit log
    * companding, ~2% worst-case amplitude error) and back into a WAVE
    * container — the JDK-legal LOSSY re-encode. Used to plant
    * "distributed as a companded telephony file" near-dup variants in
    * the audio corpus; the decode side ingests the companded file
    * through [[toPcmStream]] like any other payload.
    */
  private[graft] def toMulawWav(payload: Array[Byte]): Array[Byte] =
    toCompandedWav(payload, javax.sound.sampled.AudioFormat.Encoding.ULAW)

  /** A-law sibling (the European G.711 variant — slightly different
    * companding curve, same 8-bit budget); both ride [[toCompandedWav]].
    */
  private[graft] def toAlawWav(payload: Array[Byte]): Array[Byte] =
    toCompandedWav(payload, javax.sound.sampled.AudioFormat.Encoding.ALAW)

  private def toCompandedWav(payload: Array[Byte],
      enc: javax.sound.sampled.AudioFormat.Encoding): Array[Byte] = {
    val src = javax.sound.sampled.AudioSystem
      .getAudioInputStream(new java.io.ByteArrayInputStream(payload))
    try {
      val f = src.getFormat
      val companded = new javax.sound.sampled.AudioFormat(enc,
        f.getSampleRate, 8, f.getChannels, f.getChannels, f.getSampleRate, false)
      val conv = javax.sound.sampled.AudioSystem.getAudioInputStream(companded, src)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(conv,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    } finally src.close()
  }

  private[operators] def decodeAudio(payload: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
    try {
      val ais = toPcmStream(javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(payload)))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val ok = (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) &&
          (bits == 8 || bits == 16)
        if (!ok) None
        else {
          val data = ais.readAllBytes()
          val channels = fmt.getChannels
          val bytesPerFrame = (bits / 8) * channels
          val frames = data.length / bytesPerFrame
          if (frames == 0) None
          else {
            // mono-fold each frame to one amplitude in [-1,1], accumulate
            // squared sums into 8 equal time segments
            val sums = new Array[Double](8)
            val counts = new Array[Long](8)
            var f = 0
            while (f < frames) {
              val seg = ((f.toLong * 8) / frames).toInt
              var c = 0
              var acc = 0.0
              while (c < channels) {
                val base = f * bytesPerFrame + c * (bits / 8)
                val sample =
                  if (bits == 8) {
                    if (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
                      data(base).toDouble / 128.0
                    else ((data(base) & 0xFF) - 128).toDouble / 128.0
                  } else {
                    val v = if (fmt.isBigEndian)
                        (data(base).toInt << 8) | (data(base + 1) & 0xFF)
                      else (data(base + 1).toInt << 8) | (data(base) & 0xFF)
                    v.toShort.toDouble / 32768.0
                  }
                acc += sample
                c += 1
              }
              val mono = acc / channels
              sums(seg) += mono * mono
              counts(seg) += 1
              f += 1
            }
            val feats = new Array[Float](8)
            var i = 0
            while (i < 8) {
              feats(i) = if (counts(i) == 0) 0f
                else math.sqrt(sums(i) / counts(i)).toFloat
              i += 1
            }
            Some((fmt.getSampleRate.toInt, channels, frames, feats))
          }
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Real video decode for the UNCOMPRESSED interchange format: Y4M
    * (YUV4MPEG2 — the mplayer/ffmpeg raw-video standard). The container
    * is an ASCII parameter line ("YUV4MPEG2 W.. H.. F.. C..\n") followed
    * by "FRAME\n"-delimited raw planar YUV — no codec involved, so the
    * JDK alone can read it; only COMPRESSED codecs (H.264 & co.) remain
    * out of reach and fall back to the stub. Returns (width, height,
    * frames, features) with features = the 8-segment temporal mean-luma
    * envelope in [0,1] — the cheap fingerprint that catches black clips,
    * static slates and hard cuts. Supports C420* (incl. jpeg/paldv/
    * mpeg2 taggings), C422, C444 and Cmono plane layouts; None on
    * anything else (caller falls back to the stub).
    */
  private[operators] def decodeVideo(payload: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
    try {
      val magic = "YUV4MPEG2 ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      if (payload.length < magic.length ||
          !java.util.Arrays.equals(payload, 0, magic.length, magic, 0, magic.length))
        return None
      val nl = payload.indexOf('\n'.toByte)
      if (nl < 0) return None
      val header = new String(payload, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
      var w = -1; var h = -1; var cs = "420"
      header.split(' ').drop(1).foreach { p =>
        if (p.nonEmpty) p.charAt(0) match {
          case 'W' => w = p.substring(1).toInt
          case 'H' => h = p.substring(1).toInt
          case 'C' => cs = p.substring(1)
          case _   => () // F/I/A/X parameters don't affect plane layout
        }
      }
      if (w <= 0 || h <= 0) return None
      val ySize = w.toLong * h
      val cW = (w + 1) / 2
      val cH = (h + 1) / 2
      val frameSize: Long =
        if (cs.startsWith("420")) ySize + 2L * cW * cH
        else if (cs.startsWith("422")) ySize + 2L * cW * h
        else if (cs.startsWith("444")) 3L * ySize
        else if (cs.startsWith("mono")) ySize
        else return None
      if (ySize > Int.MaxValue) return None
      // walk FRAME markers, collecting each frame's mean luma
      val means = scala.collection.mutable.ArrayBuffer.empty[Double]
      var pos = nl + 1
      while (pos < payload.length) {
        val markerEnd = payload.indexOf('\n'.toByte, pos)
        if (markerEnd < 0 || markerEnd + 1 + frameSize > payload.length) {
          // truncated tail: keep the complete frames already parsed
          if (means.isEmpty) return None else pos = payload.length
        } else {
          val marker = new String(payload, pos, markerEnd - pos,
            java.nio.charset.StandardCharsets.US_ASCII)
          if (!marker.startsWith("FRAME")) return None
          var sum = 0L
          var i = markerEnd + 1
          val yEnd = markerEnd + 1 + ySize.toInt
          while (i < yEnd) { sum += payload(i) & 0xFF; i += 1 }
          means += sum.toDouble / ySize / 255.0
          pos = markerEnd + 1 + frameSize.toInt
        }
      }
      if (means.isEmpty) None
      else Some((w, h, means.length, lumaEnvelope(means.toArray)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 64-bit spatio-temporal video fingerprint (the TIRI shape): 8
    * frames sampled evenly across the clip; per frame, 8 horizontal
    * luma bands; bit = band mean > frame mean. Mean-relative bits
    * absorb global regrades the way [[aHash]] does spatially; the
    * temporal axis catches re-cuts the per-frame envelope misses.
    * Y4M only (the real, codec-free decode path); None otherwise.
    */
  private[graft] def videoFingerprint(payload: Array[Byte]): Option[Long] =
    try {
      val magic = "YUV4MPEG2 ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      if (payload.length < magic.length ||
          !java.util.Arrays.equals(payload, 0, magic.length, magic, 0, magic.length))
        return None
      val nl = payload.indexOf('\n'.toByte)
      if (nl < 0) return None
      val header = new String(payload, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
      var w = -1; var h = -1; var cs = "420"
      header.split(' ').drop(1).foreach { p =>
        if (p.nonEmpty) p.charAt(0) match {
          case 'W' => w = p.substring(1).toInt
          case 'H' => h = p.substring(1).toInt
          case 'C' => cs = p.substring(1)
          case _   => ()
        }
      }
      if (w <= 0 || h <= 0 || h < 8) return None
      val ySize = w.toLong * h
      val cW = (w + 1) / 2
      val cH = (h + 1) / 2
      val frameSize: Long =
        if (cs.startsWith("420")) ySize + 2L * cW * cH
        else if (cs.startsWith("422")) ySize + 2L * cW * h
        else if (cs.startsWith("444")) 3L * ySize
        else if (cs.startsWith("mono")) ySize
        else return None
      if (ySize > Int.MaxValue) return None
      // collect every frame's 8 horizontal band means
      val bands = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      var pos = nl + 1
      while (pos < payload.length) {
        val markerEnd = payload.indexOf('\n'.toByte, pos)
        if (markerEnd < 0 || markerEnd + 1 + frameSize > payload.length) {
          if (bands.isEmpty) return None else pos = payload.length
        } else {
          val marker = new String(payload, pos, markerEnd - pos,
            java.nio.charset.StandardCharsets.US_ASCII)
          if (!marker.startsWith("FRAME")) return None
          val bm = new Array[Double](8)
          var b = 0
          while (b < 8) {
            val y0 = (b.toLong * h / 8).toInt
            val y1 = ((b + 1).toLong * h / 8).toInt
            var sum = 0L
            var i = markerEnd + 1 + y0 * w
            val end = markerEnd + 1 + y1 * w
            while (i < end) { sum += payload(i) & 0xFF; i += 1 }
            bm(b) = sum.toDouble / ((y1 - y0).toLong * w)
            b += 1
          }
          bands += bm
          pos = markerEnd + 1 + frameSize.toInt
        }
      }
      if (bands.isEmpty) return None
      // 8 frames sampled evenly; bit(f, b) = band > frame mean
      var bits = 0L
      var k = 0
      while (k < 8) {
        val f = (k.toLong * bands.length / 8).toInt
        val bm = bands(f)
        val mean = bm.sum / 8
        var b = 0
        while (b < 8) {
          if (bm(b) > mean) bits |= 1L << (k * 8 + b)
          b += 1
        }
        k += 1
      }
      Some(bits)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Video near-duplicate pairs by the spatio-temporal fingerprint:
    * decode → [[videoFingerprint]] per row, then the shared slice-banded
    * [[Dedup.hammingPairs]] join — the video sibling of the image
    * aHash/pHash and audio fingerprint paths.
    */
  def videoNearDups(withPayloads: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs(sliced(maxHamming)(hashFrame(withPayloads, "video", videoFingerprint)),
      maxHamming).orderBy("a_id", "b_id")

  /** Deterministic Y4M clip for the video near-dup surface: 32×32
    * C420, 16 frames in 8 temporal segments; each (segment, band)
    * luma level from md5 — the video analog of [[synthBlockPng]]'s
    * block patterns. `jitter` is the planted near-dup regrade: +6
    * global lift + md5-seeded per-(segment, band) ±3 wobble.
    */
  private[graft] def synthY4m(seed: Long, jitter: Boolean): Array[Byte] = {
    val W = 32; val H = 32; val Frames = 16
    val header = s"YUV4MPEG2 W$W H$H F25:1 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val frameMarker = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val ySize = W * H
    val cSize = (W / 2) * (H / 2)
    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    for (f <- 0 until Frames) {
      out.write(frameMarker)
      val seg = f / 2
      val y = new Array[Byte](ySize)
      for (b <- 0 until 8) {
        val g0 = (md5U32(s"vid:$seed:$seg:$b") % 256).toInt
        val g = if (!jitter) g0 else {
          val wob = (md5U32(s"vidj:$seed:$seg:$b") % 7).toInt - 3
          math.max(0, math.min(255, g0 + 6 + wob))
        }
        for (row <- b * 4 until b * 4 + 4; x <- 0 until W)
          y(row * W + x) = g.toByte
      }
      out.write(y)
      val c = Array.fill[Byte](cSize)(128.toByte)
      out.write(c); out.write(c)
    }
    out.toByteArray
  }

  /** 8-segment temporal envelope of a per-frame mean-luma series — the
    * common video fingerprint fold (Y4M and animated GIF share it).
    */
  private def lumaEnvelope(means: Array[Double]): Array[Float] = {
    val frames = means.length
    val sums = new Array[Double](8)
    val counts = new Array[Int](8)
    var f = 0
    while (f < frames) {
      val seg = (f.toLong * 8 / frames).toInt
      sums(seg) += means(f); counts(seg) += 1
      f += 1
    }
    val feats = new Array[Float](8)
    var i = 0
    while (i < 8) {
      feats(i) = if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat
      i += 1
    }
    feats
  }

  /** Real multi-frame decode for animated GIF via the JDK's ImageIO GIF
    * reader (`getNumImages`/`read(i)` walk the frame sequence — the one
    * COMPRESSED container the JDK can fully decode). Returns (width,
    * height, frames, features) shaped exactly like [[decodeVideo]]:
    * features = the 8-segment temporal mean-luma envelope. Frames with
    * partial-canvas deltas (GIF disposal optimization) contribute the
    * luma of their OWN raster — the envelope fingerprints the deltas,
    * which is the signal a curation filter wants (static clips → flat
    * envelope either way). None for non-GIF bytes or reader failures.
    */
  private[operators] def decodeGif(payload: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
    try {
      imageIoReady
      // GIF87a/89a magic — don't spin up reader discovery for other bytes
      if (payload.length < 6 || payload(0) != 'G' || payload(1) != 'I' || payload(2) != 'F')
        return None
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          // seekForwardOnly=false: getNumImages(true) must scan the file
          reader.setInput(iis, false, true)
          val n = reader.getNumImages(true)
          if (n <= 0) return None
          var w = 0; var h = 0
          val means = new Array[Double](n)
          var f = 0
          while (f < n) {
            val img = reader.read(f)
            if (f == 0) { w = img.getWidth; h = img.getHeight }
            val fw = img.getWidth; val fh = img.getHeight
            var sum = 0L
            var y = 0
            while (y < fh) {
              var x = 0
              while (x < fw) {
                val argb = img.getRGB(x, y)
                sum += (((argb >>> 16) & 0xFF) * 299 + ((argb >>> 8) & 0xFF) * 587 +
                  (argb & 0xFF) * 114) / 1000
                x += 1
              }
              y += 1
            }
            means(f) = sum.toDouble / (fw.toLong * fh) / 255.0
            f += 1
          }
          Some((w, h, n, lumaEnvelope(means)))
        } finally reader.dispose()
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** STUB decode kernel — deterministic fake standing in for the codec
    * families the JDK lacks (compressed video), and the fallback for
    * undecodable image/audio/video bytes. Replace the body (only) with
    * e.g. ffmpeg bindings; signature and call-site shape stay identical.
    */
  private[operators] def decodeStub(kind: String, payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val len = payload.length
    val h   = java.util.Arrays.hashCode(payload)
    val width  = 16 + math.abs(h % 640)
    val height = 16 + math.abs((h / 640) % 480)
    val frames = if (kind == "video") 1 + math.abs(h % 64) else 1
    // 8-dim fake feature vector folded from the bytes, deterministic.
    val feats = new Array[Float](8)
    var i = 0
    while (i < len) { feats(i % 8) += (payload(i) & 0xFF) / 255.0f; i += 1 }
    (width, height, frames, feats)
  }

  /** Perceptual average-hash of a real decoded image: area-average the
    * luma plane onto an 8×8 grid, then one bit per cell — set iff the
    * cell is strictly brighter than the grid mean (compared as
    * `cell·64 > total`, exact integers — no float mean to disagree
    * about). Near-identical images differ in a few bits; unrelated
    * images differ in ~32. None when the bytes aren't a decodable
    * image.
    */
  private[operators] def aHash(payload: Array[Byte]): Option[Long] =
    try {
      imageIoReady
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        // integer luma sum and pixel count per 8x8 target cell
        val sums = new Array[Long](64)
        val cnts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val cy = y * 8 / h
          var x = 0
          while (x < w) {
            val argb = img.getRGB(x, y)
            val r = (argb >>> 16) & 0xFF
            val g = (argb >>> 8) & 0xFF
            val b = argb & 0xFF
            val cell = cy * 8 + x * 8 / w
            sums(cell) += (r * 299 + g * 587 + b * 114) / 1000
            cnts(cell) += 1
            x += 1
          }
          y += 1
        }
        // per-cell average scaled to a common denominator (lcm-free:
        // compare cell_i/cnt_i against mean via cross-multiplication)
        val cells = new Array[Long](64)
        var i = 0
        while (i < 64) { cells(i) = if (cnts(i) == 0) 0L else sums(i) * 1000 / cnts(i); i += 1 }
        val total = cells.sum
        var hash = 0L
        i = 0
        while (i < 64) {
          if (cells(i) * 64 > total) hash |= (1L << (63 - i))
          i += 1
        }
        Some(hash)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Perceptual DCT-hash (pHash) of a real decoded image: luma
    * area-averaged onto a 32×32 grid, 2-D DCT-II, then one bit per
    * coefficient of the lowest-frequency 8×8 block — set iff the
    * coefficient exceeds the MEDIAN of the 63 non-DC coefficients (DC
    * is excluded from both the median and the bits; bit 63 stays 0).
    * Robust where [[aHash]] is blind: aHash thresholds raw luma cells
    * against their mean, so any spatially-smooth luma warp (vignette,
    * gradient overlay) flips whole runs of cells, while the DCT
    * concentrates such warps into a few low-frequency coefficients and
    * the median threshold shrugs them off. Deterministic per payload
    * (pure double math, no order dependence); None when the bytes
    * aren't a decodable image.
    */
  private[graft] def pHash(payload: Array[Byte]): Option[Long] =
    try {
      imageIoReady
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val n = 32
        val sums = new Array[Double](n * n)
        val cnts = new Array[Long](n * n)
        var y = 0
        while (y < h) {
          val cy = y * n / h
          var x = 0
          while (x < w) {
            val argb = img.getRGB(x, y)
            val r = (argb >>> 16) & 0xFF
            val g = (argb >>> 8) & 0xFF
            val b = argb & 0xFF
            val cell = cy * n + x * n / w
            sums(cell) += (r * 299 + g * 587 + b * 114) / 1000.0
            cnts(cell) += 1
            x += 1
          }
          y += 1
        }
        val grid = Array.tabulate(n * n)(i =>
          if (cnts(i) == 0) 0.0 else sums(i) / cnts(i))
        // separable 2-D DCT-II, only the 8 lowest frequencies per axis
        val cos = Array.tabulate(8, n)((u, i) =>
          math.cos((2 * i + 1) * u * math.Pi / (2.0 * n)))
        val rows = Array.tabulate(n, 8)((y2, u) => {
          var s = 0.0; var x2 = 0
          while (x2 < n) { s += grid(y2 * n + x2) * cos(u)(x2); x2 += 1 }
          s
        })
        val coef = Array.tabulate(8, 8)((v, u) => {
          var s = 0.0; var y2 = 0
          while (y2 < n) { s += rows(y2)(u) * cos(v)(y2); y2 += 1 }
          s
        })
        val ac = (for (v <- 0 until 8; u <- 0 until 8 if v != 0 || u != 0)
          yield coef(v)(u)).toArray
        val med = { val s = ac.sorted; s(31) } // median of 63 values
        var hash = 0L
        var bit = 0
        for (v <- 0 until 8; u <- 0 until 8 if v != 0 || u != 0) {
          if (coef(v)(u) > med) hash |= (1L << (62 - bit))
          bit += 1
        }
        Some(hash)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Slice banding for the dense image/video hash spaces:
    * [[Dedup.sliceBands]], whose 4×16 pigeonhole is complete only up to
    * Hamming 3 — a wider radius is refused rather than silently lossy.
    */
  private def sliced(maxHamming: Int): DataFrame => DataFrame = {
    require(maxHamming <= 3, s"4x16 banding is complete only to Hamming 3, got $maxHamming")
    Dedup.sliceBands(_)
  }

  /** Melody-contour candidate bands for an audio signature frame
    * (doc_id, h64, c: array of the 7 quantized pitch intervals): three
    * OVERLAPPING 3-interval bands (cells 0-2, 2-4, 4-6), so any single
    * interval landing in a neighboring quantization cell still leaves
    * ≥ 1 band intact. The contour is pitch-INVARIANT (global pitch
    * scale cancels in frequency ratios — the query-by-humming trick),
    * which is what makes the candidate volume linear on corpora whose
    * per-segment spectral-pattern space is coarse: the measured
    * slice-banded candidate curve was quadratic (70M candidate pairs
    * at 50k synthetic clips — SCALING.md media section) because ≤ ~36
    * segment patterns exist, while realized 3-interval contours number
    * in the thousands (measured candidates: 1.6k at 5k docs, 21k at
    * 50k — dup-structure-sized, not corpus-squared).
    */
  private[graft] def contourBanded(sig: DataFrame): DataFrame = {
    val bands = Seq(0 -> Seq(0, 1, 2), 1 -> Seq(2, 3, 4), 2 -> Seq(4, 5, 6))
    sig.select(col("doc_id"), col("h64"), col("c"),
        explode(array(bands.map { case (b, idx) =>
          struct(lit(b).as("band"),
            concat_ws(":", idx.map(i =>
              element_at(col("c"), i + 1).cast("string")): _*).as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("h64"), col("c"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Image near-duplicate pairs by average-hash: decode → [[aHash]] per
    * row (executor-local), then the slice-banded [[Dedup.hammingPairs]]
    * join. Undecodable payloads drop out before the join.
    */
  def imageNearDups(withPayloads: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs(sliced(maxHamming)(hashFrame(withPayloads, "image", aHash)),
      maxHamming).orderBy("a_id", "b_id")

  /** Image near-duplicate pairs by DCT-hash: decode → [[pHash]] per
    * row, then the same slice-banded join — the luma-warp-robust
    * sibling of [[imageNearDups]] (run both; their edge union feeds
    * consensus resolution like the text families).
    */
  def imagePhashNearDups(withPayloads: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs(sliced(maxHamming)(hashFrame(withPayloads, "image", pHash)),
      maxHamming).orderBy("a_id", "b_id")

  /** The `(doc_id, h64)` fingerprint frame of one media kind: `fp` runs
    * per row on the executors over the rows of that `kind`; undecodable
    * payloads (`None`) drop out. Exposed so the groups recall
    * companions can map docs to families without a second decode pass.
    * Audio's `(doc_id, h64, c)` signature frame is
    * [[audioSignatureFrame]].
    */
  private[graft] def hashFrame(withPayloads: DataFrame, kind: String,
      fp: Array[Byte] => Option[Long]): DataFrame = {
    import withPayloads.sparkSession.implicits._
    withPayloads
      .filter(col("kind") === kind)
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) => fp(p).map(h => (id, h)) })
      .toDF("doc_id", "h64")
  }

  /** Near-duplicates in the GROUP shape — the `dup_clusters` contract
    * for every media signature space: rows with identical `keys`
    * collapse to ONE family row (rep = min doc_id) BEFORE the candidate
    * join, so output is sized by distinct signatures, never by member
    * pairs. Exact families emit (rep, rep, 0, n, n, n·(n−1)/2); near
    * edges join family REPRESENTATIVES through `band` and the same
    * [[Dedup.hammingPairs]] verify as the pair shape (the accept set is
    * identical: equal signatures band identically) and carry both
    * family sizes. `keys` is `h64` for the image/video hashes (with
    * slice bands) and `h64, c` for audio (with [[contourBanded]]).
    */
  private[graft] def nearDupGroups(sig: DataFrame, keys: Seq[String],
      band: DataFrame => DataFrame, maxHamming: Int): DataFrame = {
    // groups feeds FOUR consumers (exact families, the rep frame behind
    // the banded self-join, and the two size joins); materialize it so
    // the decode upstream runs once, not once per consumer
    val groups = Materialize(sig.groupBy(keys.map(col): _*)
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs")))
    val exact = groups.filter(col("n_docs") >= 2)
      .select(col("rep_id").as("a_id"), col("rep_id").as("b_id"),
        lit(0).as("hamming"), col("n_docs").as("n_a"), col("n_docs").as("n_b"),
        ((col("n_docs") * (col("n_docs") - 1)) / 2).cast("long").as("n_pairs"))
    val reps = groups.select(col("rep_id").as("doc_id") +: keys.map(col): _*)
    val near = Dedup.hammingPairs(band(reps), maxHamming)
      .join(groups.select(col("rep_id").as("a_id"), col("n_docs").as("n_a")), "a_id")
      .join(groups.select(col("rep_id").as("b_id"), col("n_docs").as("n_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("hamming"), col("n_a"), col("n_b"),
        (col("n_a") * col("n_b")).cast("long").as("n_pairs"))
    exact.unionByName(near).orderBy("a_id", "b_id")
  }

  /** Image near-duplicates in the GROUP shape (pHash families). */
  def imageNearDupGroups(withPayloads: DataFrame, maxHamming: Int = 3): DataFrame =
    nearDupGroups(hashFrame(withPayloads, "image", pHash), Seq("h64"),
      sliced(maxHamming), maxHamming)

  /** Video near-duplicates in the GROUP shape (TIRI-bit families). */
  def videoNearDupGroups(withPayloads: DataFrame, maxHamming: Int = 3): DataFrame =
    nearDupGroups(hashFrame(withPayloads, "video", videoFingerprint), Seq("h64"),
      sliced(maxHamming), maxHamming)

  /** Kind-dispatched 64-bit perceptual fingerprint — one entry point
    * for the streaming admission path ([[graft.streaming.StreamingMediaDedup]]):
    * image → DCT pHash, audio → time×frequency FFT fingerprint,
    * video → spatio-temporal TIRI bits. None for unknown kinds or
    * undecodable payloads (the caller drops the row, never fails the
    * stream).
    */
  def mediaFingerprint(kind: String, payload: Array[Byte]): Option[Long] = kind match {
    case "image" => pHash(payload)
    case "audio" => audioFingerprint(payload)
    case "video" => videoFingerprint(payload)
    case _       => None
  }

  /** True iff the payload ACTUALLY decodes through a real JDK codec path
    * for its declared kind — the exact branch condition [[decode]] uses.
    * This is the honest stub boundary: `false` means any downstream
    * features for this row came from the deterministic fake kernel, not
    * a measurement (e.g. an H.264 elementary stream, whose codec the JDK
    * lacks, is `false` even though it is a perfectly real video).
    */
  def decodesReal(kind: String, payload: Array[Byte]): Boolean = kind match {
    case "image" => decodeImage(payload).isDefined
    case "audio" => decodeAudio(payload).isDefined
    case "video" => decodeVideo(payload).orElse(decodeGif(payload)).isDefined
    case _       => false
  }

  /** Decode stage: binary column in, typed Dataset out. Runs per
    * partition on executors — at 100 TB this is the stage you'd size
    * `maxPartitionBytes` around, and the decode batch never leaves the
    * executor.
    */
  def decode(withPayloads: DataFrame): Dataset[MediaFeatures] = {
    import withPayloads.sparkSession.implicits._
    withPayloads
      .select(col("doc_id").cast("long"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val (w, h, f, feats, real) =
            if (kind == "image") decodeImage(payload) match {
              case Some((w, h, fs)) => (w, h, 1, fs, true)
              case None             =>
                val (sw, sh, sf, sfs) = decodeStub(kind, payload); (sw, sh, sf, sfs, false)
            }
            else if (kind == "audio") decodeAudio(payload) match {
              // audio maps (rate, channels, frames) onto the spatial slots
              case Some((rate, ch, fr, fs)) => (rate, ch, fr, fs, true)
              case None                     =>
                val (sw, sh, sf, sfs) = decodeStub(kind, payload); (sw, sh, sf, sfs, false)
            }
            else decodeVideo(payload).orElse(decodeGif(payload)) match {
              case Some((w, h, fr, fs)) => (w, h, fr, fs, true)
              case None                 =>
                val (sw, sh, sf, sfs) = decodeStub(kind, payload); (sw, sh, sf, sfs, false)
            }
          MediaFeatures(id, kind, payload.length.toLong, w, h, f, feats, real)
        }
      }
  }

  /** REAL pixel resize for image payloads: decode via ImageIO, Java2D
    * bilinear scale into the aspect-preserving bounding box, PNG
    * re-encode. Runs per partition on executors (the decode/encode
    * batch never leaves the task); payloads that are not decodable
    * images — or already fit the box — pass through byte-identical
    * with `resized = false`. Output schema: (doc_id, kind, payload,
    * width, height, resized) where width/height are the OUTPUT
    * dimensions (0×0 for undecodable payloads).
    */
  def resizePayloads(withPayloads: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    require(maxW > 0 && maxH > 0, s"bounding box must be positive, got ${maxW}x$maxH")
    import withPayloads.sparkSession.implicits._
    withPayloads
      .select(col("doc_id").cast("long"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, p) =>
        val out =
          try {
            imageIoReady
            val img =
              if (kind != "image") null
              else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
            if (img == null) (p, 0, 0, false)
            else {
              val w = img.getWidth; val h = img.getHeight
              val scale = math.min(1.0,
                math.min(maxW.toDouble / w, maxH.toDouble / h))
              if (scale >= 1.0) (p, w, h, false)
              else {
                val nw = math.min(maxW, math.max(1, math.round(w * scale).toInt))
                val nh = math.min(maxH, math.max(1, math.round(h * scale).toInt))
                val dst = new java.awt.image.BufferedImage(nw, nh,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g = dst.createGraphics()
                g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, nw, nh, null)
                g.dispose()
                val baos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(dst, "png", baos)
                (baos.toByteArray, nw, nh, true)
              }
            }
          } catch { case scala.util.control.NonFatal(_) => (p, 0, 0, false) }
        (id, kind, out._1, out._2, out._3, out._4)
      })
      .toDF("doc_id", "kind", "payload", "width", "height", "resized")
  }

  /** REAL audio resample for JDK-decodable PCM payloads (WAV/AIFF/AU,
    * 8/16-bit): linear-interpolation rate conversion per channel,
    * re-encoded as 16-bit little-endian PCM WAV via `AudioSystem`.
    * Executor-local like [[resizePayloads]]; non-audio kinds and
    * undecodable bytes pass through byte-identical with
    * `resampled = false`. Output: (doc_id, kind, payload, sample_rate,
    * n_frames, resampled) — rate/frames are the OUTPUT clock (0 for
    * pass-through rows).
    */
  def resamplePayloads(withPayloads: DataFrame, targetHz: Int): DataFrame = {
    require(targetHz > 0, s"target rate must be positive, got $targetHz")
    import withPayloads.sparkSession.implicits._
    withPayloads
      .select(col("doc_id").cast("long"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, p) =>
        val out =
          try {
            if (kind != "audio") (p, 0, 0L, false)
            else decodePcm(p) match {
              case None => (p, 0, 0L, false)
              case Some((srcRate, channels, samples)) =>
                if (srcRate == targetHz) (p, srcRate, samples(0).length.toLong, false)
                else {
                  val srcN = samples(0).length
                  val dstN = math.max(1, (srcN.toLong * targetHz / srcRate).toInt)
                  val pcm = new Array[Byte](dstN * channels * 2)
                  var f = 0
                  while (f < dstN) {
                    // source position of output frame f (exact rational)
                    val srcPos = f.toDouble * srcRate / targetHz
                    val i0 = math.min(srcN - 1, srcPos.toInt)
                    val i1 = math.min(srcN - 1, i0 + 1)
                    val frac = srcPos - i0
                    var c = 0
                    while (c < channels) {
                      val s = samples(c)(i0) * (1 - frac) + samples(c)(i1) * frac
                      val q = math.max(-32768, math.min(32767, math.round(s * 32767.0))).toInt
                      val base = (f * channels + c) * 2
                      pcm(base) = (q & 0xFF).toByte
                      pcm(base + 1) = ((q >> 8) & 0xFF).toByte
                      c += 1
                    }
                    f += 1
                  }
                  val fmt = new javax.sound.sampled.AudioFormat(
                    targetHz.toFloat, 16, channels, true, false)
                  val baos = new java.io.ByteArrayOutputStream()
                  javax.sound.sampled.AudioSystem.write(
                    new javax.sound.sampled.AudioInputStream(
                      new java.io.ByteArrayInputStream(pcm), fmt, dstN.toLong),
                    javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
                  (baos.toByteArray, targetHz, dstN.toLong, true)
                }
            }
          } catch { case scala.util.control.NonFatal(_) => (p, 0, 0L, false) }
        (id, kind, out._1, out._2, out._3, out._4)
      })
      .toDF("doc_id", "kind", "payload", "sample_rate", "n_frames", "resampled")
  }

  /** In-place iterative radix-2 Cooley–Tukey FFT. `re.length` must be a
    * power of two. Deterministic (fixed summation order), no external
    * libs — the DSP kernel [[audioSpectral]] runs per payload.
    */
  private[operators] def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    var j = 0
    var i = 1
    while (i < n) { // bit-reversal permutation
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var base = 0
      while (base < n) {
        var cr = 1.0; var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(base + k); val ui = im(base + k)
          val xr = re(base + k + len / 2); val xi = im(base + k + len / 2)
          val vr = xr * cr - xi * ci
          val vi = xr * ci + xi * cr
          re(base + k) = ur + vr; im(base + k) = ui + vi
          re(base + k + len / 2) = ur - vr; im(base + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi; ci = cr * wi + ci * wr; cr = ncr
          k += 1
        }
        base += len
      }
      len <<= 1
    }
  }

  /** Real spectral signature of a PCM payload: Hann-windowed 1024-point
    * frames, magnitude spectra accumulated over up to 32 frames, folded
    * into 8 equal bands of [0, Nyquist] — the audio analog of the 8×8
    * luma grid behind [[aHash]]. Returns (dominantHz, 8 band weights
    * summing to 1); None for undecodable audio or clips shorter than
    * one 64-sample frame. Silence reports dominantHz 0 and uniform
    * weights rather than NaNs.
    */
  private[operators] def audioSpectral(payload: Array[Byte]): Option[(Int, Array[Float])] =
    decodePcm(payload).flatMap { case (rate, channels, chans) =>
      val n = chans(0).length
      val frame = math.min(1024, java.lang.Integer.highestOneBit(n))
      if (frame < 64) None
      else {
        val half = frame / 2
        val mag = new Array[Double](half)
        val maxFrames = math.min(32, n / frame)
        var fi = 0
        while (fi < maxFrames) {
          val re = new Array[Double](frame)
          val im = new Array[Double](frame)
          var s = 0
          while (s < frame) {
            var acc = 0.0
            var c = 0
            while (c < channels) { acc += chans(c)(fi * frame + s); c += 1 }
            val hann = 0.5 * (1 - math.cos(2 * math.Pi * s / (frame - 1)))
            re(s) = (acc / channels) * hann
            s += 1
          }
          fft(re, im)
          var k = 0
          while (k < half) { mag(k) += math.sqrt(re(k) * re(k) + im(k) * im(k)); k += 1 }
          fi += 1
        }
        // dominant bin over k ≥ 1 (DC is amplitude offset, not pitch)
        var best = 1
        var k = 2
        while (k < half) { if (mag(k) > mag(best)) best = k; k += 1 }
        val bands = new Array[Double](8)
        k = 1
        while (k < half) { bands((k * 8) / half) += mag(k); k += 1 }
        val total = bands.sum
        val weights =
          if (total == 0.0) Array.fill(8)(0.125f)
          else bands.map(b => (b / total).toFloat)
        val dominantHz = if (total == 0.0) 0 else (best.toLong * rate / frame).toInt
        Some((dominantHz, weights))
      }
    }

  /** 64-bit time×frequency audio fingerprint of a PCM payload: 8 time
    * segments × 8 spectral bands; per segment, Hann-windowed 256-point
    * magnitude spectra (up to 4 frames, the [[audioSpectral]] kernel)
    * fold into 8 equal bands of [0, Nyquist], and bit (s, b) is set
    * iff band b carries MORE than 1/8 of segment s's spectral energy.
    * An energy-SHARE rule, deliberately NOT [[aHash]]'s global-median
    * rule: the 64-cell median sits among the near-zero leakage cells,
    * where FFT scalloping under a small pitch shift flips bits freely
    * — measured (numpy prototype on the synth corpus): median bits
    * 25–27% recall at ±2% pitch, share bits 90%, with cross-content
    * Hamming never below 8 and noise-vs-tone ≥ 25, the margins the
    * h ≤ 3 accept rides on. Gain-invariant by construction (shares).
    * None for undecodable audio or clips shorter than one frame per
    * segment.
    */
  private[graft] def audioFingerprint(payload: Array[Byte]): Option[Long] =
    audioSegmentMags(payload).map(shareBitsOf)

  /** The per-segment magnitude spectra behind the whole audio surface:
    * 8 segments × (up to 4) Hann-windowed 256-point frames, magnitudes
    * summed per segment — ONE DSP pass that both the 64-bit share
    * fingerprint and the melody contour read. None for undecodable
    * audio or clips shorter than one frame per segment.
    */
  private[operators] def audioSegmentMags(payload: Array[Byte])
      : Option[Array[Array[Double]]] =
    decodePcm(payload).flatMap { case (_, channels, chans) =>
      val n = chans(0).length
      val Segs = 8
      val frame = 256
      val half = frame / 2
      val segn = n / Segs
      if (segn < frame) None
      else {
        val mags = Array.ofDim[Double](Segs, half)
        var s = 0
        while (s < Segs) {
          val mag = mags(s)
          val nf = math.min(4, segn / frame)
          var fi = 0
          while (fi < nf) {
            val re = new Array[Double](frame)
            val im = new Array[Double](frame)
            var i = 0
            while (i < frame) {
              var acc = 0.0
              var c = 0
              while (c < channels) { acc += chans(c)(s * segn + fi * frame + i); c += 1 }
              val hann = 0.5 * (1 - math.cos(2 * math.Pi * i / (frame - 1)))
              re(i) = (acc / channels) * hann
              i += 1
            }
            fft(re, im)
            var k = 0
            while (k < half) { mag(k) += math.sqrt(re(k) * re(k) + im(k) * im(k)); k += 1 }
            fi += 1
          }
          s += 1
        }
        Some(mags)
      }
    }

  /** Share bits of the segment spectra: bit (s, b) set iff band b
    * carries more than 1/8 of segment s's spectral energy (the
    * documented energy-SHARE rule and its measured margins).
    */
  private def shareBitsOf(mags: Array[Array[Double]]): Long = {
    val Bands = 8
    val half = mags(0).length
    var hash = 0L
    var s = 0
    while (s < mags.length) {
      val mag = mags(s)
      val e = new Array[Double](Bands)
      var k = 1
      while (k < half) { e((k * Bands) / half) += mag(k); k += 1 }
      val total = e.sum
      if (total > 0) {
        var b = 0
        while (b < Bands) {
          if (e(b) / total > 1.0 / Bands) hash |= 1L << (s * Bands + b)
          b += 1
        }
      }
      s += 1
    }
    hash
  }

  /** Sub-bin dominant frequency per segment: FFT argmax over k ≥ 1
    * refined by parabolic interpolation of the LOG-magnitude peak
    * (±0.5 bin) — integer bins alone put ~10 % log-ratio error on low
    * notes, and raw-magnitude parabolas keep a ~0.1-semitone bias for
    * Hann-windowed tones, both past the half-semitone contour cells;
    * the log-parabola was MEASURED (numpy, this round's prototype) to
    * take the planted-pair contour band hit from 96.8 % to 100 % at
    * 5k clips. Returns fractional bin indices, one per segment.
    */
  private def dominantBins(mags: Array[Array[Double]]): Array[Double] =
    mags.map { mag =>
      val half = mag.length
      var best = 1
      var k = 2
      while (k < half) { if (mag(k) > mag(best)) best = k; k += 1 }
      val delta =
        if (best >= 1 && best < half - 1 && mag(best) > 0) {
          val (a, b, c) =
            if (mag(best - 1) > 0 && mag(best + 1) > 0)
              (math.log(mag(best - 1)), math.log(mag(best)), math.log(mag(best + 1)))
            else (mag(best - 1), mag(best), mag(best + 1))
          val denom = a - 2 * b + c
          if (denom != 0.0) math.max(-0.5, math.min(0.5, 0.5 * (a - c) / denom))
          else 0.0
        } else 0.0
      best + delta
    }

  /** Full audio signature: the 64-bit share fingerprint plus the
    * 7-interval melody contour — consecutive segments' dominant-pitch
    * ratios in half-semitone cells, cell = ⌊12·log₂(f_{s+1}/f_s)/0.5⌋.
    * A GLOBAL pitch shift (the planted ×1.02 near-dup transformation)
    * cancels exactly in each ratio, so the contour is the
    * pitch-invariant candidate key the near-dup join needs; the share
    * bits stay the exact-verification payload. Measured on the synth
    * corpus (numpy prototype, round 14, log-parabolic interp):
    * planted pairs share ≥ 1 contour band 100 % / 99.5 % at 5k/50k
    * clips, full recall through the h ≤ 3 verify 89.8 % / 86.2 %
    * (floor 70 — the Hamming verify is the binding constraint), and
    * candidates are dup-structure-sized (2.0k / 24.5k) instead of
    * corpus-squared (0.7M / 70M under the former hash-slice banding).
    *
    * Constants re-validated beyond the clean-shift corpus (round 15,
    * VibratoChordSpec): under 6 Hz / 2 % performance VIBRATO the
    * half-semitone cell HOLDS — zero contour-band misses across 200
    * planted pairs, 97 % of cells identical, drift ≤ 1 cell — so no
    * cell-width re-parametrization is needed; vibrato's cost is
    * share-bit smear in the Hamming verify (77 % vs 92 % plain over
    * 100 seeds, floor 70). POLYPHONY (a major third on both sides)
    * is absorbed: 93 %. These classes are planted in the registered
    * `audio_neardup` corpus, so the floors re-measure them every run.
    *
    * INHARMONIC PERCUSSIVE TIMBRE measured (round-15 continuation,
    * VibratoChordSpec RichTimbre cases; 6 stiffness-stretched partials,
    * 1/n^1.2 rolloff, percussive decay): the contour key HOLDS (0 band
    * misses, drift ≤ 1 cell, 97 % cells identical over 100 pairs) —
    * no re-parametrization — but the share-bit Hamming verify gates
    * TIMBRAL identity: a pitch-shifted rich re-performance admits 36 %
    * (the inharmonic comb crosses share-band boundaries under ×1.02)
    * and cross-timbre same-melody pairs admit 0 % — i.e. the gate
    * separates "same recording, re-rendered" from "same melody,
    * different instrument", which is the correct near-DUP semantics.
    * Rich clips are planted as corpus distractors (never truth pairs);
    * a melody-level (cover-song) matcher would accept on the contour
    * instead — a different operator, deliberately not this one.
    */
  private[graft] def audioSignature(payload: Array[Byte])
      : Option[(Long, Array[Int])] =
    audioSegmentMags(payload).map { mags =>
      val share = shareBitsOf(mags)
      val dom = dominantBins(mags)
      val contour = Array.tabulate(mags.length - 1) { s =>
        val st = 12.0 * (math.log(dom(s + 1) / dom(s)) / math.log(2.0))
        math.floor(st / 0.5).toInt
      }
      (share, contour)
    }

  /** Audio near-duplicate pairs: decode → [[audioSignature]] per row
    * (executor-local DSP), MELODY-CONTOUR candidate bands
    * ([[contourBanded]] — pitch-invariant, linear candidate volume on
    * coarse spectral-pattern spaces where hash-slice banding measured
    * quadratic), exact 64-bit share-fingerprint Hamming ≤ 3 verify.
    * Never all-pairs; undecodable payloads drop out before the join.
    */
  def audioNearDups(withPayloads: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs(contourBanded(audioSignatureFrame(withPayloads)), maxHamming)
      .orderBy("a_id", "b_id")

  /** The (doc_id, h64, c) signature frame behind both audio near-dup
    * shapes — exposed so the recall companion can map docs to their
    * signature families without re-deriving the decode pipeline.
    */
  private[graft] def audioSignatureFrame(withPayloads: DataFrame): DataFrame = {
    import withPayloads.sparkSession.implicits._
    withPayloads
      .filter(col("kind") === "audio")
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        audioSignature(p).map { case (h, c) => (id, h, c) } })
      .toDF("doc_id", "h64", "c")
  }

  /** Melody-level (COVER) matcher — the operator the rich-timbre
    * measurement pointed at: same pitch-invariant contour candidate
    * bands as [[audioNearDups]], but the VERIFY is the contour itself
    * (every one of the 7 interval cells within ±1 half-semitone cell)
    * instead of the timbral share bits. Accepts "same melody, different
    * instrument/rendition" — query-by-humming / cover-identification
    * semantics — which the near-dup verify correctly refuses (measured
    * 0 % cross-timbre admits there). A near-dup is trivially also a
    * cover, so the accept set is a superset of the near-dup pairs.
    * Emits (a_id, b_id, drift = max cell delta).
    *
    * Scale shape: the near-dup join's own candidate self-join
    * ([[Dedup.bandCandidates]] over [[contourBanded]] —
    * dup-structure-sized, never all-pairs), row-local verify over the
    * 7-cell arrays, distinct on the pair.
    */
  def audioCoverMatches(withPayloads: DataFrame): DataFrame =
    Dedup.bandCandidates(contourBanded(audioSignatureFrame(withPayloads)), "c")
      .select(col("doc_id").as("a_id"), col("b_id"),
        aggregate(zip_with(col("c"), col("b_c"),
          (x, y) => abs(x - y)), lit(0), (acc, v) => greatest(acc, v))
          .as("drift"))
      .filter(col("drift") <= 1)
      .distinct()
      .orderBy("a_id", "b_id")

  /** Audio near-duplicates in the GROUP shape: identical signatures
    * (share fingerprint AND contour) collapse to ONE family row
    * (rep = min doc_id) before the candidate join, so the output is
    * sized by distinct signatures — exact families emit
    * (rep, rep, hamming 0, sizes, member-pair count); near edges join
    * family REPRESENTATIVES through the same contour bands + Hamming
    * verify as the pair shape and carry both family sizes.
    */
  def audioNearDupGroups(withPayloads: DataFrame, maxHamming: Int = 3): DataFrame =
    nearDupGroups(audioSignatureFrame(withPayloads), Seq("h64", "c"), contourBanded, maxHamming)

  private def md5U32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** 44-byte RIFF header + PCM16LE mono payload — a REAL WAV container
    * the JDK decode path parses like any external file.
    */
  private def pcm16Wav(samples: Array[Double], rate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(rate); bb.putInt(rate * 2)
    bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    samples.foreach { x =>
      val v = math.max(-1.0, math.min(1.0, x))
      bb.putShort((v * 32767).toShort)
    }
    bb.array()
  }

  /** Deterministic WAV synthesis for the audio near-dup surface (the
    * corpus carries no real audio): 0.5 s of 8 kHz mono PCM16 — one
    * md5-seeded note plus its musical fifth per eighth-segment, with
    * an md5 gain envelope. `pitch` scales every note; ×1.02 is the
    * planted near-dup transformation the fingerprint must absorb.
    * Clips round-trip through the REAL RIFF/PCM decode path.
    *
    * Two realism knobs close the "constants are synth-tuned" caveat at
    * [[audioSignature]] by being MEASURED rather than assumed:
    * `vibrato` frequency-modulates every note at 6 Hz with the given
    * fractional depth (performance vibrato — FM sidebands sit ±6 Hz
    * around the carrier, well inside one 31.25 Hz FFT bin at depth
    * 0.02 for most of the note range, so the dominant-pitch estimate
    * and the share bands move little); `chord` adds a major third
    * (1.25 f) at 0.3 amplitude under the 0.35 fundamental (polyphony —
    * the dominant bin stays the fundamental, but the third's energy
    * claims extra share bits, which is why chord variants are planted
    * on BOTH sides of a pair: same arrangement, shifted performance).
    */
  private[graft] def synthToneWav(seed: Long, pitch: Double,
      vibrato: Double = 0.0, chord: Boolean = false,
      rich: Boolean = false, noise: Double = 0.0): Array[Byte] = {
    val Rate = 8000
    val N = 4000
    val Segs = 8
    val VibHz = 6.0
    // rich timbre: 6 inharmonic partials (piano-like stiffness
    // stretching, partial n at f·n·√(1+B·n²)) with 1/n^1.2 rolloff and
    // a percussive per-note decay envelope — the "inharmonic timbres,
    // percussion" realism named untested at [[audioSignature]]
    val RichParts = 6
    val RichB = 4e-4
    val segn = N / Segs
    val samples = new Array[Double](N)
    var s = 0
    while (s < Segs) {
      val f = (150 + md5U32(s"$seed:$s") % 1850) * pitch
      val gain = 0.4 + 0.6 * ((md5U32(s"$seed:${100 + s}") % 100) / 99.0)
      var i = 0
      while (i < segn) {
        val t = i.toDouble / Rate
        // FM phase: ∫2πf(1 + v·sin(2π·VibHz·τ))dτ — the carrier stays
        // at f, the excursion is ±v·f
        val ph =
          if (vibrato > 0.0)
            2 * math.Pi * f * t -
              (f * vibrato / VibHz) * (math.cos(2 * math.Pi * VibHz * t) - 1)
          else 2 * math.Pi * f * t
        var x =
          if (rich) {
            val env = math.exp(-2.5 * i / segn) * 0.7 + 0.3 // attack→decay
            var acc = 0.0
            var n = 1
            while (n <= RichParts) {
              val stretch = math.sqrt(1.0 + RichB * n * n)
              acc += 0.35 * math.pow(n, -1.2) * math.sin(n * stretch * ph)
              n += 1
            }
            env * acc
          } else 0.35 * math.sin(ph) + 0.2 * math.sin(1.5 * ph)
        if (chord) x += 0.3 * math.sin(2 * math.Pi * 1.25 * f * t)
        samples(s * segn + i) = gain * x
        i += 1
      }
      s += 1
    }
    // deterministic additive room noise at the given amplitude: an
    // xorshift64* stream seeded from the clip seed, so any engine/run
    // synthesizes the identical noisy clip
    if (noise > 0.0) {
      var st = md5U32(s"$seed:noise") * 2862933555777941757L + 3037000493L
      var i = 0
      while (i < N) {
        st ^= st << 13; st ^= st >>> 7; st ^= st << 17
        val u = ((st * 0x2545f4914f6cdd1dL) >>> 11).toDouble / (1L << 53).toDouble
        samples(i) += noise * (2.0 * u - 1.0)
        i += 1
      }
    }
    pcm16Wav(samples, Rate)
  }

  /** Deterministic block-pattern PNG for the image near-dup surface
    * (the corpus parquet carries no real images; the PNG encode/decode
    * the hashes run through is real JDK ImageIO): 64×64 gray, 8×8
    * blocks each leveled by md5(seed, block) — a dense pattern space
    * (256⁶⁴ block layouts), so distinct seeds never collide the way
    * the coarse audio melody space occasionally does. `jitter` is the
    * planted near-dup transformation: a small md5-seeded per-block
    * brightness wobble (±3) plus a +6 global lift — the re-encode /
    * slight-regrade edit a perceptual hash must absorb (a pure global
    * lift alone would leave the mean-relative aHash bits EXACTLY
    * unchanged and prove nothing).
    */
  private[graft] def synthBlockPng(seed: Long, jitter: Boolean): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(blockRaster(seed, jitter), "png", baos)
    baos.toByteArray
  }

  /** The same planted raster as a REAL JPEG (ImageIO's native writer,
    * explicit quality 0.9) — the mixed-format slice of the image
    * near-dup corpus: a planted pair whose sides re-encoded through
    * DIFFERENT codecs (PNG lossless vs JPEG lossy) is exactly the
    * duplicate class a perceptual hash exists to catch, and the 8×8
    * flat blocks align with JPEG's DCT blocks so the loss stays in the
    * low bits the pHash median rule absorbs (ImageNearDupSpec pins the
    * cross-codec distance).
    */
  private[graft] def synthBlockJpeg(seed: Long, jitter: Boolean): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.9f)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(blockRaster(seed, jitter), null, null), param)
    } finally { ios.close(); writer.dispose() }
    baos.toByteArray
  }

  private def blockRaster(seed: Long, jitter: Boolean): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (by <- 0 until 8; bx <- 0 until 8) {
      val g0 = (md5U32(s"img:$seed:$by:$bx") % 256).toInt
      val g = if (!jitter) g0 else {
        val w = (md5U32(s"imgj:$seed:$by:$bx") % 7).toInt - 3
        math.max(0, math.min(255, g0 + 6 + w))
      }
      val rgb = (g << 16) | (g << 8) | g
      for (y <- by * 8 until by * 8 + 8; x <- bx * 8 until bx * 8 + 8)
        img.setRGB(x, y, rgb)
    }
    img
  }

  /** Deterministic uniform-noise WAV (the reject case in the specs):
    * an LCG seeded from md5, samples in [−0.5, 0.5].
    */
  private[graft] def synthNoiseWav(seed: Long): Array[Byte] = {
    val N = 4000
    var state = md5U32(s"$seed:99") | 1L
    val samples = Array.fill(N) {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    pcm16Wav(samples, 8000)
  }

  /** Spectral feature table over a payload frame: real FFT-banded audio
    * signatures for decodable audio rows, pass-through nulls otherwise.
    * Executor-local per-row DSP (no shuffle); the frame's schema is the
    * plumbing a 100 TB audio corpus would carry into an audio-quality
    * gate or a cheap audio near-dup key (band-weight rounding).
    */
  def spectralPayloads(withPayloads: DataFrame): DataFrame = {
    import withPayloads.sparkSession.implicits._
    withPayloads
      .select(col("doc_id").cast("long"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, p) =>
        val sp = if (kind == "audio") audioSpectral(p) else None
        sp match {
          case Some((dom, w)) => (id, kind, true, dom, w)
          case None           => (id, kind, false, 0, Array.empty[Float])
        }
      })
      .toDF("doc_id", "kind", "decoded", "dominant_hz", "band_weights")
  }

  /** Decode a JDK-readable PCM container to per-channel [-1,1] doubles:
    * (sampleRate, channels, samples[channel][frame]). Same acceptance
    * rules as [[decodeAudio]] (PCM signed/unsigned, 8/16-bit).
    */
  private def decodePcm(payload: Array[Byte]): Option[(Int, Int, Array[Array[Double]])] =
    try {
      // μ-law/A-law payloads transcode to linear PCM16 first
      val ais = toPcmStream(javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(payload)))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val ok = (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) &&
          (bits == 8 || bits == 16)
        if (!ok) None
        else {
          val data = ais.readAllBytes()
          val channels = fmt.getChannels
          val bytesPerFrame = (bits / 8) * channels
          val frames = data.length / bytesPerFrame
          if (frames == 0) None
          else {
            val out = Array.ofDim[Double](channels, frames)
            var f = 0
            while (f < frames) {
              var c = 0
              while (c < channels) {
                val base = f * bytesPerFrame + c * (bits / 8)
                out(c)(f) =
                  if (bits == 8) {
                    if (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
                      data(base).toDouble / 128.0
                    else ((data(base) & 0xFF) - 128).toDouble / 128.0
                  } else {
                    val v = if (fmt.isBigEndian)
                        (data(base).toInt << 8) | (data(base + 1) & 0xFF)
                      else (data(base + 1).toInt << 8) | (data(base) & 0xFF)
                    v.toShort.toDouble / 32768.0
                  }
                c += 1
              }
              f += 1
            }
            Some((fmt.getSampleRate.toInt, channels, out))
          }
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Resize stage over DECODED metadata (no pixel access — the cheap
    * planner-side sibling of [[resizePayloads]]): scale the spatial
    * metadata to fit a bounding box, aspect-preserving. Typed shape,
    * per-partition execution, and downstream schema match the pixel
    * path.
    */
  def resize(decoded: Dataset[MediaFeatures], maxW: Int, maxH: Int): Dataset[MediaFeatures] = {
    require(maxW > 0 && maxH > 0, s"bounding box must be positive, got ${maxW}x$maxH")
    import decoded.sparkSession.implicits._
    decoded.mapPartitions(_.map { m =>
      val scale = math.min(1.0, math.min(maxW.toDouble / m.width, maxH.toDouble / m.height))
      // round (not truncate) and clamp: extreme aspect ratios still land
      // as close to the true scaled shape as an integer grid allows
      m.copy(width = math.min(maxW, math.max(1, math.round(m.width * scale).toInt)),
        height = math.min(maxH, math.max(1, math.round(m.height * scale).toInt)))
    })
  }

  /** Frame-sample stage: every `stride`-th frame index per video row,
    * exploded to one row per sampled frame. Stills emit frame 0 only.
    * Row-count amplification happens AFTER the (expensive) decode, which
    * is the ordering that matters at scale.
    */
  def sampleFrames(decoded: Dataset[MediaFeatures], stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive, got $stride")
    decoded.toDF()
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames") - 1, lit(0)), lit(stride))))
      .select(col("doc_id"), col("kind"), col("frame_idx"), col("width"), col("height"))
  }
}
