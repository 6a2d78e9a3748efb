package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Dataset}

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video payloads ride as opaque `binary` columns with typed metadata;
  * decode / feature-extraction runs batched per partition.
  *
  * Every modality decodes for REAL with JDK-only code: images via
  * `javax.imageio` (PNG/JPEG), audio via a manual RIFF/PCM-16 parser,
  * video via the GVID frame container + per-frame imageio. The `feature`
  * column is likewise real — computed from the DECODED content (RGB
  * histogram counts, fixed-band amplitude sums), never from raw payload
  * bytes, and integer-exact so it hash-gates (q104).
  *
  * Scale notes: media rows are orders of magnitude wider than text rows —
  * partition by byte budget (`maxRecordsPerFile` / salted keys), never by
  * row count alone, and keep features in a separate narrow table joined
  * by content hash so re-extraction doesn't rewrite payloads.
  */
object Multimodal {

  // ImageIO defaults to a FILE-backed stream cache: one temp file created
  // and deleted per decode, hammering executor local disk; in-memory
  // payloads never need it. Every ImageIO call of the engine goes through
  // this object ([[readImage]], [[pngBytes]]), whose initializer runs
  // once per JVM before any of them.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRecord(
      media_id: Long,
      modality: String,       // image | audio | video
      payload: Array[Byte],
      source_uri: String)

  final case class MediaFeatures(
      media_id: Long,
      modality: String,
      n_bytes: Long,
      content_hash: String,
      is_decoded: Boolean,        // image branch: payload decoded by imageio
      image_width: Option[Long],
      image_height: Option[Long],
      mean_r: Option[Double],     // per-channel pixel means, 0-255 scale
      mean_g: Option[Double],
      mean_b: Option[Double],
      audio_sample_rate: Option[Long],  // audio branch: real RIFF/PCM parse
      audio_n_samples: Option[Long],
      audio_mean_amp: Option[Double],   // mean |sample| over 16-bit PCM
      // REAL content-derived feature vector, computed from the decoded
      // media (never from raw payload bytes): image/video → 12-dim RGB
      // histogram counts (HistBins per channel, video summed over
      // frames); audio → 8-dim fixed-band |amplitude| sums (AudioBands).
      // All values are exact integers (they hash-gate: q104). Empty for
      // undecodable payloads.
      feature: Array[Float])

  /** Wrap any table with a string/binary column as a media table — used by
    * the testdata plumbing (documents.text as fake payloads).
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
                   modality: String): Dataset[MediaRecord] =
    asMediaTable(df, idCol, payloadCol, lit(modality))

  /** The synthetic fixture record of `id` in `modality`: a
    * [[syntheticPng]] image, a [[syntheticWav]] clip or a
    * [[syntheticVideo]] of (id % 4) + 2 frames, with source
    * `synthetic://id` — the q71–q73, q101 and q104 corpora, whose oracles
    * regenerate every payload arithmetically from the id.
    */
  def syntheticRecord(id: Long, modality: String): MediaRecord = {
    val payload = modality match {
      case "image" => syntheticPng(id)
      case "audio" => syntheticWav(id)
      case "video" => syntheticVideo(id, (id % 4).toInt + 2)
    }
    MediaRecord(id, modality, payload, s"synthetic://$id")
  }

  /** Column-valued modality variant (e.g. routed per row from metadata). */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
                   modality: org.apache.spark.sql.Column): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      modality.as("modality"),
      col(payloadCol).cast(BinaryType).as("payload"),
      concat(lit("testdata://"), col(idCol).cast(StringType)).as("source_uri"))
      .as[MediaRecord]
  }

  /** Bins per channel of the image/video histogram feature (bin =
    * channel value div 64): the feature vector is
    * [R₀..R₃, G₀..G₃, B₀..B₃] pixel counts — 12 dims.
    */
  val HistBins = 4

  /** Number of fixed time bands of the audio feature (sample i of n maps
    * to band i·Bands div n): the feature vector is the per-band sum of
    * |amplitude| — integer-exact, so it hash-gates (q104).
    */
  val AudioBands = 8

  /** Full image stats from one decode pass: dims, per-channel means
    * (0-255 scale), and the [[HistBins]]-per-channel histogram counts.
    */
  final case class ImageStats(width: Int, height: Int,
                              meanR: Double, meanG: Double, meanB: Double,
                              hist: Array[Long])

  /** REAL image decode + stats: `javax.imageio` (PNG/JPEG — JDK built-in),
    * or None when the payload isn't a decodable image — an undecodable
    * byte string is a data condition, not a task failure.
    */
  def imageStats(payload: Array[Byte]): Option[ImageStats] =
    readImage(payload) { img =>
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      val hist = new Array[Long](3 * HistBins)
      val binShift = 8 - Integer.numberOfTrailingZeros(HistBins) // value >> 6 for 4 bins
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          sr += r; sg += g; sb += b
          hist(r >> binShift) += 1
          hist(HistBins + (g >> binShift)) += 1
          hist(2 * HistBins + (b >> binShift)) += 1
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      ImageStats(w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, hist)
    }

  /** The one image decoder (`javax.imageio`: PNG/JPEG, JDK built-in):
    * `f` of the decoded image, or None for a null, empty or undecodable
    * payload — an undecodable byte string is a data condition, not a
    * task failure.
    */
  private def readImage[T](payload: Array[Byte])(f: java.awt.image.BufferedImage => T): Option[T] =
    if (payload == null || payload.isEmpty) None
    else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))).map(f)
    catch { case _: Exception => None }

  /** The one image encoder: `img` as PNG bytes (lossless, so a decode
    * gives back the exact pixels).
    */
  private def pngBytes(img: java.awt.image.RenderedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Compatibility view of [[imageStats]]: (width, height, mean_r, mean_g,
    * mean_b) with means on the 0-255 scale.
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Double, Double, Double)] =
    imageStats(payload).map(s => (s.width, s.height, s.meanR, s.meanG, s.meanB))

  /** Deterministic PNG fixture: (id%7+1)×(id%5+1) pixels of the constant
    * color ((id·3)%256, (id·5)%256, (id·7)%256). PNG is lossless, so the
    * decoded means equal the constants exactly — which is what lets the
    * decode path itself hash-gate against a DuckDB oracle computing the
    * same arithmetic from the id (q71).
    */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = (id % 7).toInt + 1
    val h = (id % 5).toInt + 1
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val rgb = (((id * 3) % 256).toInt << 16) | (((id * 5) % 256).toInt << 8) |
      ((id * 7) % 256).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    pngBytes(img)
  }

  /** Deterministic PATTERNED PNG fixture for perceptual hashing (q127):
    * 36×32 grayscale gradient whose shape is set by the id's FAMILY
    * (`id % 16` — 16 distinct slope/offset patterns) and perturbed by its
    * VARIANT (`id / 16` — +60 brightness on a sparse variant-keyed pixel
    * lattice). Members of one family are perceptual near-duplicates of
    * each other (dHash Hamming 0–7) while cross-family distances
    * concentrate around 24 bits — the structure a perceptual-dedup
    * operator exists to find, and (PNG being lossless) one a DuckDB
    * oracle can reproduce arithmetically from the id alone.
    */
  def syntheticPatternPng(id: Long): Array[Byte] = {
    val f = (id % 16).toInt
    val v = (id / 16).toInt
    val img = new java.awt.image.BufferedImage(
      36, 32, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 36) {
        var g = (x * (3 + f % 5) + y * (5 + f % 7) + f * 37) % 180 + 10
        if ((x * 7 + y * 11 + v * 53) % 23 == v % 23) g += 60
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    pngBytes(img)
  }

  /** Perceptual difference hash (dHash) over REAL decoded pixels: the
    * image is block-reduced to a 9×8 luminance grid (floor-mapped cells —
    * exact 4×4 blocks for the 36×32 fixtures) and each of the 64 bits
    * records whether cell (r,c) is darker than its right neighbor —
    * brightness GRADIENTS, which survive re-encoding, mild blur and
    * uniform brightness shifts, where q63's exact content_hash does not.
    * Luminance is the integer sum r+g+b, and neighboring cells are
    * compared by MEAN via cross-multiplication (sum_a·cnt_b <
    * sum_b·cnt_a — still exact integer arithmetic, so the hash stays
    * oracle-reproducible): floor-mapped cells have unequal pixel counts
    * whenever width/height aren't multiples of 9/8, and a raw-sum
    * comparison would bias a 1-pixel-wider cell ~10–25% brighter than
    * its neighbor, flipping gradient bits on arbitrary-size images.
    * For exact-multiple sizes (the 36×32 fixtures) cnt_a = cnt_b and
    * the mean comparison reduces to the sum comparison bit-for-bit.
    * Bit k = r*8+c, packed LSB-first into one long. None for
    * undecodable payloads.
    */
  def dHash64(payload: Array[Byte]): Option[Long] =
    readImage(payload) { img =>
      val w = img.getWidth
      val h = img.getHeight
      val cell = new Array[Long](9 * 8)
      val cnt  = new Array[Long](9 * 8)
      var y = 0
      while (y < h) {
        val r = y * 8 / h
        var x = 0
        while (x < w) {
          val c = x * 9 / w
          val rgb = img.getRGB(x, y)
          val k = r * 9 + c
          cell(k) +=
            ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          cnt(k) += 1
          x += 1
        }
        y += 1
      }
      var bits = 0L
      var rr = 0
      while (rr < 8) {
        var cc = 0
        while (cc < 8) {
          val a = rr * 9 + cc
          val b = a + 1
          // mean_a < mean_b via cross-multiplication: sums ≤ 765·w·h/72
          // and counts ≤ ceil(w/9)·ceil(h/8), so the products stay far
          // below Long overflow for any image ImageIO can hold in memory
          if (cell(a) * cnt(b) < cell(b) * cnt(a))
            bits |= 1L << (rr * 8 + cc)
          cc += 1
        }
        rr += 1
      }
      bits
    }

  /** REAL audio decode — 16-bit PCM mono WAV via manual RIFF chunk
    * parsing (pure JDK byte work, no codec library): returns
    * (sampleRate, nSamples, mean |amplitude|). The amplitude sum is
    * integer-exact, so the mean is a deterministic double — which is what
    * lets the audio path hash-gate (q101) the way lossless PNG lets the
    * image path (q71). None for anything that isn't such a WAV.
    */
  def decodeWav(payload: Array[Byte]): Option[(Int, Long, Double)] =
    wavStats(payload, 1).map { case (rate, n, mean, _) => (rate, n, mean) }

  /** [[decodeWav]] plus fixed-band amplitude sums: sample i of n belongs
    * to band i·bands div n; each band's value is the INTEGER sum of
    * |amplitude| over its samples — exact, SQL-reproducible arithmetic
    * (q104's audio feature).
    */
  def wavStats(payload: Array[Byte], bands: Int): Option[(Int, Long, Double, Array[Long])] =
    try {
      if (payload == null || payload.length < 44) return None
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(at: Int): String = new String(payload, at, 4, "US-ASCII")
      if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
      var pos = 12
      var rate = -1
      var bits = -1
      var channels = -1
      var data: Option[(Int, Int)] = None // (offset, length)
      while (pos + 8 <= payload.length && (rate < 0 || data.isEmpty)) {
        val id   = tag(pos)
        val len  = bb.getInt(pos + 4)
        val body = pos + 8
        // a negative declared length would keep pos from advancing (infinite
        // loop on an executor task); a length past the payload is malformed
        if (len < 0 || body + len > payload.length) return None
        if (id == "fmt ") {
          if (len < 16) return None // truncated fmt would misread rate/bits
          if (bb.getShort(body) != 1) return None // PCM only
          channels = bb.getShort(body + 2).toInt
          rate = bb.getInt(body + 4)
          bits = bb.getShort(body + 14).toInt
        } else if (id == "data") data = Some((body, len))
        pos = body + len + (len & 1) // chunks are word-aligned
      }
      data match {
        case Some((off, len))
            if rate > 0 && bits == 16 && channels == 1 &&
              off + len <= payload.length =>
          val n = len / 2
          var sum = 0L
          val bandSums = new Array[Long](bands)
          var i = 0
          while (i < n) {
            val amp = math.abs(bb.getShort(off + i * 2).toLong)
            sum += amp
            bandSums(((i.toLong * bands) / n).toInt) += amp
            i += 1
          }
          if (n == 0) None else Some((rate, n.toLong, sum.toDouble / n, bandSums))
        case _ => None
      }
    } catch { case _: Exception => None }

  /** Time bands of the perceptual audio fingerprint: 65 bands → 64
    * adjacent-band comparisons → one 64-bit hash ([[audioFingerprint64]]).
    */
  val FingerprintBands = 65

  /** Perceptual audio fingerprint over REAL decoded PCM — the audio
    * analog of [[dHash64]] (a chromaprint-style band-ENERGY-sequence
    * hash, JDK-only so time bands stand in for spectral bands): the
    * signal is reduced to [[FingerprintBands]] fixed time bands of
    * |amplitude| sums (the [[wavStats]] band reduction) and bit k of the
    * hash records whether band k is quieter than band k+1 — the energy
    * ENVELOPE's up/down shape, which survives re-encoding, small edits
    * and uniform gain where q63's exact content_hash does not. Bands are
    * compared by MEAN via cross-multiplication (sum_a·cnt_b <
    * sum_b·cnt_a, with counts derived arithmetically from n — exact
    * integer work, so the hash is oracle-reproducible; products stay
    * below Long overflow for any clip under ~1e8 samples). For
    * band-aligned lengths (the 260-sample fixtures) counts are equal and
    * the mean comparison reduces to the sum comparison bit-for-bit.
    * None for anything that isn't a mono PCM-16 WAV.
    */
  def audioFingerprint64(payload: Array[Byte]): Option[Long] =
    wavStats(payload, FingerprintBands).map { case (_, n, _, bands) =>
      // samples i of band b: floor(i·B/n) = b ⟺ i ∈ [ceil(bn/B), ceil((b+1)n/B))
      def cnt(b: Int): Long =
        ((b + 1) * n + FingerprintBands - 1) / FingerprintBands -
          (b * n + FingerprintBands - 1) / FingerprintBands
      var bits = 0L
      var k = 0
      while (k < 64) {
        if (bands(k) * cnt(k + 1) < bands(k + 1) * cnt(k)) bits |= 1L << k
        k += 1
      }
      bits
    }

  /** Deterministic FAMILY WAV fixture for perceptual audio dedup (q135):
    * 260 samples (mono PCM-16, rate 8000) of a sawtooth whose STEP and
    * OFFSET are set by the id's family (`id % 16` — 16 distinct energy
    * envelopes) and perturbed by its variant (`id / 16` — +500 amplitude
    * on a sparse variant-keyed sample lattice, ~2 of 260 samples).
    * Members of one family are perceptual near-duplicates
    * ([[audioFingerprint64]] Hamming 0–6, measured) while cross-family
    * distances concentrate around 28 bits (min 22) — and the arithmetic
    * is pure integer work a DuckDB oracle reproduces from the id alone.
    */
  def syntheticToneWav(id: Long): Array[Byte] = {
    val f = (id % 16).toInt
    val v = id / 16
    val n = 260
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)
      .putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(n * 2)
    var i = 0
    while (i < n) {
      var s = ((i.toLong * (17 + 26 * f) + 97L * f) % 2001) - 1000
      if ((i * 7 + v * 53) % 131 == v % 131) s += 500
      bb.putShort(s.toShort)
      i += 1
    }
    bb.array()
  }

  /** Deterministic WAV fixture: mono 16-bit PCM, rate 8000 + (id%4)·4000,
    * (id%50)+10 samples of ((id·31 + i·17) mod 2001) − 1000 — all integer
    * arithmetic a SQL oracle reproduces from the id (q101), and every
    * value round-trips exactly through 16-bit PCM.
    */
  def syntheticWav(id: Long): Array[Byte] = {
    val rate = 8000 + ((id % 4).toInt * 4000)
    val n    = (id % 50).toInt + 10
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)                 // PCM, mono
      .putInt(rate).putInt(rate * 2)           // byte rate = rate·block
      .putShort(2).putShort(16)                // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(n * 2)
    var i = 0
    while (i < n) {
      bb.putShort((((id * 31 + i * 17) % 2001) - 1000).toShort)
      i += 1
    }
    bb.array()
  }

  /** REAL image resize: decode, scale to `width`×`height` with
    * Graphics2D, re-encode as PNG. None when the payload isn't a
    * decodable image. Headless-safe (BufferedImage needs no display).
    */
  def resizeImage(payload: Array[Byte], width: Int, height: Int): Option[Array[Byte]] = {
    // programmer errors fail loudly BEFORE readImage, whose catch exists
    // only to classify undecodable DATA as None
    require(width >= 1 && height >= 1, s"resize target must be positive: ${width}x$height")
    readImage(payload) { src =>
      // preserve alpha: drawing an RGBA source onto a 3-channel buffer
      // composites transparency onto black; PNG re-encode keeps alpha
      val destType =
        if (src.getColorModel.hasAlpha) java.awt.image.BufferedImage.TYPE_INT_ARGB
        else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
      val dst = new java.awt.image.BufferedImage(width, height, destType)
      val g = dst.createGraphics()
      try g.drawImage(src, 0, 0, width, height, null)
      finally g.dispose()
      pngBytes(dst)
    }
  }

  /** Batched image resize over a media table — the `mapInPandas`-shaped
    * batch op: every image payload
    * rewritten to a `width`×`height` PNG; non-images and undecodable
    * payloads pass through unchanged.
    */
  def resizeAll(media: Dataset[MediaRecord], width: Int, height: Int): Dataset[MediaRecord] = {
    require(width >= 1 && height >= 1, s"resize target must be positive: ${width}x$height")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        if (r.modality != "image") r
        else resizeImage(r.payload, width, height)
          .map(p => r.copy(payload = p)).getOrElse(r)
      }
    }
  }

  final case class FrameFeatures(
      media_id: Long,
      frame_idx: Long,
      frame_width: Long,
      frame_height: Long,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double)

  /** Minimal deterministic video CONTAINER: "GVID" magic, frame count,
    * then length-prefixed PNG frames. A stand-in for a real codec (none
    * in this environment): the container parse + per-frame imageio decode
    * are real; only the format is synthetic. Frame f of video `id` is
    * [[syntheticPng]] of `id·31 + f` — id-derived dims/colors, so frame
    * sampling is oracle-checkable arithmetically.
    */
  def syntheticVideo(id: Long, nFrames: Int): Array[Byte] =
    buildGvid((0 until nFrames).map(f => syntheticPng(id * 31 + f)))

  private def buildGvid(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + frames.map(_.length + 4).sum)
    bb.put("GVID".getBytes("US-ASCII")).putInt(frames.size)
    frames.foreach { p => bb.putInt(p.length); bb.put(p) }
    bb.array()
  }

  /** Number of frames in the q164 pattern video for dense sequence id
    * `seq` — 3 to 5, so family members differ in length.
    */
  def patternVideoFrameCount(seq: Long): Int = ((seq % 3) + 3).toInt

  /** Frame key of frame `f` in pattern video `seq`: consecutive ids in
    * blocks of 8 share a 16-key family block (seq div 8), frame keys are
    * consecutive within it, and odd ids shift by one — so same-parity
    * family members share their full frame prefix (exact frame-hash
    * containment 1.0) while cross-parity members overlap partially.
    * Offset + frame index stays < 16, so key blocks never collide across
    * families; families are id-dense and BOUNDED (≤ 8 members), keeping
    * the q164 frame-hash join linear in corpus size.
    */
  def patternFrameKey(seq: Long, f: Int): Long = (seq / 8) * 16 + f + (seq % 2)

  /** q164 synthetic pattern video: a GVID of [[syntheticPatternPng]]
    * frames at [[patternFrameKey]] keys — container parse and per-frame
    * imageio decode are real; frame dims/pixels replay arithmetically in
    * the oracle exactly like q127's stills.
    */
  def syntheticPatternVideo(seq: Long): Array[Byte] =
    buildGvid((0 until patternVideoFrameCount(seq))
      .map(f => syntheticPatternPng(patternFrameKey(seq, f))))

  /** Parse a GVID container, copying out only the frames `keep` selects
    * (skipped frames advance the buffer position WITHOUT copying their
    * bytes — video rows are the widest in the corpus, and materializing
    * (every−1)/every frames just to drop them would dominate sampling
    * cost). Empty for anything that isn't a GVID payload — undecodable
    * media is a data condition.
    */
  def selectVideoFrames(payload: Array[Byte], keep: Int => Boolean): Seq[(Int, Array[Byte])] =
    if (payload == null || payload.length < 8 ||
        new String(payload, 0, 4, "US-ASCII") != "GVID") Seq.empty
    else try {
      val bb = java.nio.ByteBuffer.wrap(payload); bb.position(4)
      val n   = bb.getInt()
      val out = Seq.newBuilder[(Int, Array[Byte])]
      var i = 0
      while (i < n) {
        val len = bb.getInt()
        if (keep(i)) {
          val f = new Array[Byte](len); bb.get(f); out += ((i, f))
        } else bb.position(bb.position() + len)
        i += 1
      }
      out.result()
    } catch { case _: Exception => Seq.empty }

  /** All frame payloads of a GVID container. */
  def videoFrames(payload: Array[Byte]): Seq[Array[Byte]] =
    selectVideoFrames(payload, _ => true).map(_._2)

  /** Frame sampling — the video leg of the batch-UDF family: every
    * `every`-th frame of each video row is decoded (REAL imageio per
    * frame) and emitted as its own feature row. One wide payload row in,
    * N narrow frame rows out; decode init amortized per partition. At
    * scale, video rows are the widest in the corpus — partition by byte
    * budget before this op, never by row count.
    */
  def sampleFrames(media: Dataset[MediaRecord], every: Int): Dataset[FrameFeatures] = {
    require(every >= 1, "sampleFrames needs every >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.filter(_.modality == "video").flatMap { r =>
        selectVideoFrames(r.payload, _ % every == 0).iterator
          .flatMap { case (f, frame) =>
            decodeImage(frame).map { case (w, h, mr, mg, mb) =>
              FrameFeatures(r.media_id, f.toLong, w.toLong, h.toLong, mr, mg, mb)
            }
          }
      }
    }
  }

  /** Batched per-partition feature extraction — mapPartitions so a real
    * codec can amortize model/codec init once per partition (the Scala
    * rendering of a `mapInPandas` batch UDF). Every modality decodes for
    * REAL (imageio / RIFF parser / GVID+imageio) and the `feature`
    * column is computed from the decoded content — RGB histogram counts
    * for image/video, fixed-band amplitude sums for audio; empty when
    * the payload doesn't decode (a data condition, not a task failure).
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition init happens here (digest instance; a real audio/
      // video codec would load its native state once per partition too).
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        md.reset()
        val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
        val hash  = md.digest(bytes).map("%02x".format(_)).mkString
        val img   = if (r.modality == "image") imageStats(r.payload) else None
        val aud   =
          if (r.modality == "audio") wavStats(r.payload, AudioBands) else None
        // video feature: histogram summed over ALL frames (each frame a
        // real imageio decode); a container with zero decodable frames
        // counts as undecodable
        val vid: Option[Array[Long]] =
          if (r.modality != "video") None
          else {
            val hists = videoFrames(r.payload).flatMap(imageStats).map(_.hist)
            if (hists.isEmpty) None
            else Some(hists.reduce { (a, b) =>
              Array.tabulate(a.length)(i => a(i) + b(i))
            })
          }
        val feature: Array[Float] =
          img.map(_.hist).orElse(vid).map(_.map(_.toFloat))
            .orElse(aud.map(_._4.map(_.toFloat)))
            .getOrElse(Array.emptyFloatArray)
        MediaFeatures(r.media_id, r.modality, bytes.length.toLong, hash,
          is_decoded = img.isDefined || aud.isDefined || vid.isDefined,
          image_width = img.map(_.width.toLong),
          image_height = img.map(_.height.toLong),
          mean_r = img.map(_.meanR),
          mean_g = img.map(_.meanG),
          mean_b = img.map(_.meanB),
          audio_sample_rate = aud.map(_._1.toLong),
          audio_n_samples = aud.map(_._2),
          audio_mean_amp = aud.map(_._3),
          feature)
      }
    }
  }
}
