package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media is carried as an opaque `binary` column plus typed metadata —
  * the layout a 100 TB training pipeline needs: the binary never leaves
  * the executor, decode/feature steps run per-partition, and metadata
  * (not pixels) drives partitioning and filtering.
  *
  * IMAGE decode is REAL: `decodeImages`/`imageThumbnails` use
  * JDK-native `javax.imageio` (PNG/JPEG/GIF/BMP — no external
  * dependency) for dimensions, mean-color features, and resized
  * thumbnails. AUDIO PCM decode is REAL (`wavPcmFeatures` — raw
  * integer samples, no codec needed). VIDEO frame decode is REAL for
  * the JDK-decodable formats (`gifFrames`/`aviMjpegFrames`/
  * `videoFrames` — animated GIF via the multi-frame ImageIO reader,
  * Motion-JPEG-in-AVI via a RIFF walk + the ImageIO JPEG codec).
  * H.264/H.265/VP9 payloads remain the DOCUMENTED stub — no JDK codec
  * exists; those files get metadata-level curation (`mp4Tracks`,
  * `containerMetadata`) and zero frame rows by contract. `decodeHeader`
  * keeps the deterministic synthetic "GRFT" container for plumbing
  * tests; the Spark-side shape — schema, Dataset encoders,
  * mapPartitions batching, explode for frame sampling — is identical
  * on every path, so swapping in an external codec is a local change.
  *
  * Synthetic container layout (big-endian ints):
  *   bytes 0-3  magic "GRFT"
  *   bytes 4-7  width, 8-11 height, 12-15 frame count
  *   bytes 16+  payload
  */
object Multimodal {

  final case class MediaMeta(width: Int, height: Int, nFrames: Int, valid: Boolean)
  final case class MediaRow(media_id: Long, media_type: String, content: Array[Byte])
  final case class DecodedRow(media_id: Long, media_type: String,
                              content: Array[Byte], meta: MediaMeta)

  implicit private val mediaEnc: Encoder[MediaRow] = Encoders.product[MediaRow]
  implicit private val decodedEnc: Encoder[DecodedRow] = Encoders.product[DecodedRow]

  /** STUB codec boundary: header parse only. A real implementation
    * replaces the body (e.g. ImageIO/ffmpeg) without touching the
    * Spark plumbing around it.
    */
  def decodeHeader(bytes: Array[Byte]): MediaMeta = {
    def int(off: Int): Int =
      ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
        ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
    if (bytes.length >= 16 && bytes(0) == 'G' && bytes(1) == 'R' &&
        bytes(2) == 'F' && bytes(3) == 'T')
      MediaMeta(int(4), int(8), int(12), valid = true)
    else MediaMeta(0, 0, 0, valid = false)
  }

  /** Encode the synthetic container (test/data-gen helper). */
  def encode(width: Int, height: Int, nFrames: Int, payload: Array[Byte]): Array[Byte] = {
    def be(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    "GRFT".getBytes("UTF-8") ++ be(width) ++ be(height) ++ be(nFrames) ++ payload
  }

  /** Per-partition decode: binary → typed metadata. mapPartitions (not
    * per-row UDF) so a real codec can amortize native init per batch —
    * the Scala analogue of mapInPandas batch shape.
    */
  def decode(ds: Dataset[MediaRow]): Dataset[DecodedRow] =
    ds.mapPartitions { it =>
      // real impl: initialize the codec ONCE here, reuse across rows
      it.map(r => DecodedRow(r.media_id, r.media_type, r.content, decodeHeader(r.content)))
    }

  /** DataFrame-level decode keeping schema explicit for SQL users. */
  def withMetadata(df: DataFrame): DataFrame = {
    decode(df.as[MediaRow]).toDF()
  }

  /** Frame sampling: one output row per sampled frame index (stride
    * sampling). The payload is NOT duplicated: frame rows carry ids +
    * indices; a downstream per-partition decode fetches pixels. This is
    * the join-back-later layout that keeps the shuffle narrow at scale.
    */
  def sampleFrames(decoded: DataFrame, stride: Int): DataFrame =
    decoded
      .filter(col("meta.valid") && col("meta.nFrames") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("meta.nFrames") - 1, lit(stride))).as("frame_idx"))

  /** Resize stub: metadata transform, payload passthrough (a real
    * implementation rewrites content in the same mapPartitions pass).
    */
  def resize(decoded: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = least(lit(1.0), lit(maxSide).cast("double") / greatest(w, h, lit(1)))
    decoded
      .withColumn("resized_width", floor(w * scale).cast("int"))
      .withColumn("resized_height", floor(h * scale).cast("int"))
  }

  final case class FeatureRow(media_id: Long, features: Array[Float])

  /** Feature extraction: binary payload → fixed-width float vector, per
    * partition (codec init amortized across the batch, same shape as
    * decode). The STUB computes a 16-bin byte histogram of the payload,
    * L1-normalized — deterministic and shaped exactly like a real
    * embedding, so the output feeds EmbeddingSearch directly (tested:
    * media → features → cosine top-k end to end). A real extractor
    * replaces the histogram with a model forward pass.
    */
  def extractFeatures(ds: Dataset[MediaRow], dim: Int = 16): Dataset[FeatureRow] = {
    implicit val enc: Encoder[FeatureRow] = Encoders.product[FeatureRow]
    ds.mapPartitions { it =>
      // real impl: load the feature model ONCE per partition here
      it.map { r =>
        val meta = decodeHeader(r.content)
        val payload = if (meta.valid) r.content.drop(16) else r.content
        val hist = new Array[Float](dim)
        payload.foreach(b => hist((b & 0xff) % dim) += 1f)
        val total = math.max(payload.length, 1).toFloat
        var i = 0
        while (i < dim) { hist(i) /= total; i += 1 }
        FeatureRow(r.media_id, hist)
      }
    }
  }

  final case class AudioStats(media_id: Long, n_samples: Int, rms: Double, peak: Int)

  /** Audio stats stub: treat the payload as signed 8-bit PCM samples
    * and compute RMS + peak per row, per partition (same batch shape as
    * decode — a real implementation swaps in an audio decoder and
    * computes over real samples). Demonstrates the audio face of the
    * multimodal plumbing: binary in, typed acoustic features out,
    * nothing but metadata crosses a shuffle.
    */
  def audioStats(ds: Dataset[MediaRow]): Dataset[AudioStats] = {
    implicit val enc: Encoder[AudioStats] = Encoders.product[AudioStats]
    ds.mapPartitions { it =>
      it.map { r =>
        val meta = decodeHeader(r.content)
        val samples = if (meta.valid) r.content.drop(16) else r.content
        var sumSq = 0.0
        var peak = 0
        samples.foreach { b =>
          val v = b.toInt
          sumSq += v.toDouble * v
          if (math.abs(v) > peak) peak = math.abs(v)
        }
        val n = math.max(samples.length, 1)
        AudioStats(r.media_id, samples.length, math.sqrt(sumSq / n), peak)
      }
    }
  }

  // ---------------------------------------------------------------------
  // REAL image decode — JDK-native javax.imageio (PNG/JPEG/GIF/BMP), no
  // external dependency. This replaces the stub codec for the image
  // modality; video/audio keep the synthetic-container stubs (no codec
  // libraries in the JDK). Same plumbing discipline: binary stays on
  // the executor, mapPartitions batches, typed metadata out.
  // ---------------------------------------------------------------------

  final case class ImageMeta(media_id: Long, valid: Boolean, format: String,
                             width: Int, height: Int,
                             mean_r: Double, mean_g: Double, mean_b: Double)

  /** Container format sniffed from magic bytes — cheap, no decode. */
  def imageFormat(bytes: Array[Byte]): String =
    if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
        bytes(2) == 'N' && bytes(3) == 'G') "png"
    else if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff) "jpeg"
    else if (bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') "gif"
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') "bmp"
    else "unknown"

  /** Decode one image: dimensions + mean RGB. Returns valid=false (all
    * zeros) on undecodable bytes — corrupt media must never kill a
    * 100 TB ingest (same contract as the CSV/JSONL quarantine paths).
    */
  def decodeImage(id: Long, bytes: Array[Byte]): ImageMeta = {
    val fmt = imageFormat(bytes)
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) ImageMeta(id, valid = false, fmt, 0, 0, 0, 0, 0)
      else {
        val w = img.getWidth; val h = img.getHeight
        var r = 0L; var g = 0L; var b = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = math.max(w.toLong * h, 1L).toDouble
        ImageMeta(id, valid = true, fmt, w, h, r / n, g / n, b / n)
      }
    } catch { case _: Exception => ImageMeta(id, valid = false, fmt, 0, 0, 0, 0, 0) }
  }

  /** Per-partition REAL decode: binary → dimensions + mean-color
    * features. ImageIO's disk cache is disabled once per partition
    * (per-image tmp-file spooling would thrash executor-local disk at
    * ingest scale; heap buffers are the right trade for thumbnails and
    * metadata).
    */
  def decodeImages(ds: Dataset[MediaRow]): Dataset[ImageMeta] = {
    implicit val enc: Encoder[ImageMeta] = Encoders.product[ImageMeta]
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map(r => decodeImage(r.media_id, r.content))
    }
  }

  /** Real thumbnail: decode, scale so max(side) == maxSide (never
    * upscale), re-encode PNG. Output rows carry the resized payload +
    * new dimensions; undecodable inputs are dropped (route them via
    * [[decodeImages]].valid for quarantine accounting).
    */
  final case class ThumbRow(media_id: Long, width: Int, height: Int, content: Array[Byte])

  def imageThumbnails(ds: Dataset[MediaRow], maxSide: Int): Dataset[ThumbRow] = {
    require(maxSide >= 1, s"maxSide must be >= 1, got $maxSide")
    implicit val enc: Encoder[ThumbRow] = Encoders.product[ThumbRow]
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.content))
          if (img == null) None
          else {
            val scale = math.min(1.0, maxSide.toDouble / math.max(math.max(img.getWidth, img.getHeight), 1))
            val w = math.max((img.getWidth * scale).toInt, 1)
            val h = math.max((img.getHeight * scale).toInt, 1)
            val out = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val gfx = out.createGraphics()
            gfx.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            gfx.drawImage(img, 0, 0, w, h, null)
            gfx.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            Some(ThumbRow(r.media_id, w, h, bos.toByteArray))
          }
        } catch { case _: Exception => None }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Perceptual image dedup: dHash (difference hash) — the standard
  // near-dup signature for image corpora. Re-encoded, resized, or
  // uniformly brightness-shifted copies of an image keep the same
  // hash (the hash reads the SIGN of adjacent luminance gradients,
  // which survives monotone per-pixel transforms and box downsampling)
  // while unrelated images land ~32 bits apart. Pairing then reuses
  // the engine's banded-LSH shape: 16-bit bands → bucket join →
  // exact Hamming confirm — shuffles carry (band, id) pairs, never
  // pixels.
  // ---------------------------------------------------------------------

  final case class ImageHashRow(media_id: Long, valid: Boolean, dhash: Long)

  /** 64-bit dHash from a 9-wide × 8-tall luminance box grid given as
    * exact integer (sum, area) pairs, row-major. Bit `y*8+x` is set
    * iff mean(x+1, y) > mean(x, y). Mean comparison is EXACT integer
    * arithmetic — quotient first, then cross-multiplied remainders
    * (remainders are < area, so the products stay far under 2^63 for
    * any real image) — no float rounding, deterministic on any JVM.
    */
  private[ext] def packDHash(sums: Array[Long], areas: Array[Long]): Long = {
    require(sums.length == 72 && areas.length == 72, "9x8 grid required")
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val l = y * 9 + x
        val r = l + 1
        val ql = sums(l) / areas(l); val rl = sums(l) % areas(l)
        val qr = sums(r) / areas(r); val rr = sums(r) % areas(r)
        val gt = qr > ql || (qr == ql && rr * areas(l) > rl * areas(r))
        if (gt) h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** REAL per-partition dHash: ImageIO decode → integer luminance
    * (ITU-R 601 weights ×1000) box-summed onto the 9×8 grid (pixel x
    * lands in column x*9/w — exact integer box partition, no AWT
    * interpolation in the loop) → [[packDHash]]. Undecodable bytes
    * yield valid=false, hash 0 — corrupt media never kills the ingest.
    */
  def imageDHash(ds: Dataset[MediaRow]): Dataset[ImageHashRow] = {
    implicit val enc: Encoder[ImageHashRow] = Encoders.product[ImageHashRow]
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        // the catch wraps ONLY the codec boundary: a decode failure is
        // expected corpus dirt, but an exception out of the hash loop
        // below would be a bug and must surface, not masquerade as
        // corrupt media
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(row.content))
          catch { case _: Exception => null }
        // sub-grid images (w<9 or h<8) have no 9x8 gradient field to
        // read — explicitly invalid, not an accidental division by a
        // zero-area cell
        if (img == null || img.getWidth < 9 || img.getHeight < 8)
          ImageHashRow(row.media_id, valid = false, 0L)
        else {
          val w = img.getWidth; val h = img.getHeight
          val sums = new Array[Long](72)
          val areas = new Array[Long](72)
          var y = 0
          while (y < h) {
            val by = (y.toLong * 8 / h).toInt
            var x = 0
            while (x < w) {
              val bx = (x.toLong * 9 / w).toInt
              val p = img.getRGB(x, y)
              val lum = 299L * ((p >> 16) & 0xff) +
                587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
              val cell = by * 9 + bx
              sums(cell) += lum
              areas(cell) += 1L
              x += 1
            }
            y += 1
          }
          ImageHashRow(row.media_id, valid = true, packDHash(sums, areas))
        }
      }
    }
  }

  /** dHash over the deterministic synthetic grid: the first 72 payload
    * bytes of a GRFT container ARE the 9×8 luminance grid (area 1 per
    * cell). This is the oracle-checkable face (gate q128 re-derives
    * grid, comparisons, bit pack, banding, and Hamming join in SQL);
    * the pixel path above is the same [[packDHash]] fed box sums.
    */
  def syntheticGridDHash(ds: Dataset[MediaRow]): Dataset[ImageHashRow] = {
    implicit val enc: Encoder[ImageHashRow] = Encoders.product[ImageHashRow]
    ds.mapPartitions(_.map { row =>
      val meta = decodeHeader(row.content)
      val payload = if (meta.valid) row.content.drop(16) else Array.empty[Byte]
      if (payload.length < 72) ImageHashRow(row.media_id, valid = false, 0L)
      else {
        val sums = Array.tabulate(72)(j => (payload(j) & 0xff).toLong)
        val areas = Array.fill(72)(1L)
        ImageHashRow(row.media_id, valid = true, packDHash(sums, areas))
      }
    })
  }

  /** Near-duplicate image pairs from a (id, dhash) frame: 64/bands-bit
    * band keys bucket the candidates (a pair within Hamming distance
    * d < bands is GUARANTEED to share a band — pigeonhole; beyond
    * that, banding is the standard recall/cost trade), then the exact
    * `bit_count(xor)` distance confirms survivors. Shuffles carry
    * (band value, id) rows and the ≤ pairs join — never image bytes.
    */
  def dHashNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                        bands: Int = 4, maxDist: Int = 6): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxDist >= 0 && maxDist <= 64, s"maxDist in [0,64], got $maxDist")
    val slice = 64 / bands
    val mask = if (slice == 64) -1L else (1L << slice) - 1L
    val banded = hashes.select(
      col(idCol).as("__ph_id"), col(hashCol).as("__ph_h"),
      explode(array((0 until bands).map(k =>
        struct(lit(k).as("b"),
          shiftrightunsigned(col(hashCol), k * slice)
            .bitwiseAND(lit(mask)).as("v"))): _*)).as("__band"))
      .select(col("__ph_id"), col("__ph_h"),
        col("__band.b").as("__b"), col("__band.v").as("__v"))
    val left = banded.select(col("__b"), col("__v"),
      col("__ph_id").as("id1"), col("__ph_h").as("h1"))
    val right = banded.select(col("__b").as("__b2"), col("__v").as("__v2"),
      col("__ph_id").as("id2"), col("__ph_h").as("h2"))
    left.join(right,
        col("__b") === col("__b2") && col("__v") === col("__v2") &&
          col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // ---------------------------------------------------------------------
  // REAL audio/video container metadata — pure-JVM walks of the two
  // ubiquitous PUBLIC container formats: WAV (RIFF chunks, Microsoft
  // multimedia file format) and MP4 (ISO/IEC 14496-12 box/atom
  // structure). No codec is involved — container METADATA (duration,
  // tracks, sample layout) is a header walk, which is exactly what a
  // 100 TB curation pass filters on (drop sub-second clips, cap
  // durations, route by track count) before any expensive decode.
  // Payload DECODE stays stubbed (no JDK codec exists); the dispatch
  // in containerMetadata routes wav/mp4/GRFT/unknown uniformly.
  // ---------------------------------------------------------------------

  final case class ContainerMeta(media_id: Long, valid: Boolean, container: String,
                                 duration_ms: Long, n_tracks: Int, sample_rate: Int,
                                 channels: Int, bits_per_sample: Int, n_samples: Long)

  private def invalidMeta(id: Long, kind: String) =
    ContainerMeta(id, valid = false, kind, 0L, 0, 0, 0, 0, 0L)

  /** WAV metadata from the RIFF chunk list: `fmt ` supplies the sample
    * layout, `data` the payload size; duration follows. Little-endian
    * throughout (RIFF); tolerant of extra chunks (LIST, fact, cue) —
    * real-world WAVs carry them — and of a truncated final chunk.
    */
  def wavMetadata(id: Long, bytes: Array[Byte]): ContainerMeta = {
    def le16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def le32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return invalidMeta(id, "wav")
    var off = 12
    var sampleRate = 0; var channels = 0; var bits = 0; var dataSize = -1L
    var walking = true
    while (walking && off + 8 <= bytes.length) {
      val ckId = tag(off)
      val ckSize = le32(off + 4)
      val body = off + 8
      if (ckId == "fmt " && body + 16 <= bytes.length) {
        channels = le16(body + 2)
        sampleRate = le32(body + 4).toInt
        bits = le16(body + 14)
      } else if (ckId == "data") {
        // size may overrun a truncated file — clamp to what's present
        dataSize = math.min(ckSize, (bytes.length - body).toLong)
      }
      // chunks are word-aligned: odd sizes carry a pad byte. Advance in
      // LONG arithmetic — a hostile 32-bit size near 2^32 truncated to
      // Int goes negative and would stall or reverse the walk (corrupt
      // media must never hang a 100 TB ingest); any advance past the
      // buffer just ends the walk with whatever was parsed so far.
      val next = body.toLong + ckSize + (ckSize & 1L)
      if (next <= off || next > bytes.length.toLong) walking = false
      else off = next.toInt
    }
    if (sampleRate <= 0 || channels <= 0 || bits <= 0 || dataSize < 0)
      return invalidMeta(id, "wav")
    val bytesPerFrame = channels * (bits / 8)
    val nSamples = if (bytesPerFrame > 0) dataSize / bytesPerFrame else 0L
    val durationMs = if (sampleRate > 0) nSamples * 1000L / sampleRate else 0L
    ContainerMeta(id, valid = true, "wav", durationMs, 1, sampleRate,
      channels, bits, nSamples)
  }

  /** MP4 metadata from the ISO box tree: `moov/mvhd` supplies
    * timescale + duration (version 0: 32-bit fields, version 1:
    * 64-bit), each `moov/trak` is one track. Big-endian (ISO); walks
    * ONLY the top level and moov's children — sibling boxes (mdat,
    * free, ftyp payload) are skipped by size, never read, so the walk
    * is O(#boxes) regardless of media size. 64-bit largesize boxes
    * (size field == 1) are followed; size 0 ("to end of file") closes
    * the level.
    */
  private def be32At(bytes: Array[Byte], o: Int): Long =
    ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
      ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)

  /** (bodyStart, bodyEnd, type) for each ISO box in [from, to) — the
    * shared walker behind [[mp4Metadata]] and [[mp4Tracks]]. Sibling
    * payloads are skipped by size, never read; 64-bit largesize boxes
    * followed; size 0 (to end) closes the level.
    */
  private def mp4Boxes(bytes: Array[Byte], from: Int, to: Int): Seq[(Int, Int, String)] = {
    def be64(o: Int): Long = (be32At(bytes, o) << 32) | be32At(bytes, o + 4)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var off = from
    var open = true
    while (open && off + 8 <= to) {
      val size32 = be32At(bytes, off)
      val tpe = new String(bytes, off + 4, 4, "US-ASCII")
      val (body, end) =
        if (size32 == 1L && off + 16 <= to) (off + 16, off + be64(off + 8))
        else if (size32 == 0L) (off + 8, to.toLong) // box extends to end
        else (off + 8, off + size32)
      if (end < body || end > to) open = false
      else {
        out += ((body, end.toInt, tpe))
        off = end.toInt
        if (size32 == 0L) open = false
      }
    }
    out.toSeq
  }

  def mp4Metadata(id: Long, bytes: Array[Byte]): ContainerMeta = {
    def be32(o: Int): Long = be32At(bytes, o)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    def boxes(from: Int, to: Int): Seq[(Int, Int, String)] = mp4Boxes(bytes, from, to)
    if (bytes.length < 8) return invalidMeta(id, "mp4")
    val top = boxes(0, bytes.length)
    if (!top.exists(_._3 == "ftyp")) return invalidMeta(id, "mp4")
    top.find(_._3 == "moov") match {
      case None => invalidMeta(id, "mp4")
      case Some((mBody, mEnd, _)) =>
        val children = boxes(mBody, mEnd)
        val nTracks = children.count(_._3 == "trak")
        children.find(_._3 == "mvhd") match {
          case Some((b, e, _)) if e - b >= 4 =>
            val version = bytes(b) & 0xff
            val (timescale, duration) =
              if (version == 1 && e - b >= 4 + 16 + 12)
                (be32(b + 4 + 16), be64(b + 4 + 20)) // v1: 8-byte times
              else if (version == 0 && e - b >= 4 + 8 + 8)
                (be32(b + 4 + 8), be32(b + 4 + 12)) // v0: 4-byte times
              else (0L, 0L)
            // a sign-bit or absurd 64-bit duration must route through
            // the invalid path like every other malformed header, not
            // come back valid with a negative/overflowed duration_ms
            if (timescale <= 0 || duration < 0 || duration > Long.MaxValue / 1000L)
              invalidMeta(id, "mp4")
            else ContainerMeta(id, valid = true, "mp4",
              duration * 1000L / timescale, nTracks, 0, 0, 0, 0L)
          case _ => invalidMeta(id, "mp4")
        }
    }
  }

  final case class TrackMeta(media_id: Long, track_id: Long, duration_ms: Long,
                             width: Double, height: Double)

  /** Per-TRACK metadata from the `moov/trak/tkhd` boxes: track id,
    * duration (tkhd durations are in the MOVIE timescale from mvhd),
    * and presentation width/height (16.16 fixed-point — nonzero for
    * video tracks, zero for audio). Pure header walk like
    * [[mp4Metadata]] — this is what lets a 100 TB curation pass route
    * by RESOLUTION (drop sub-720p, split portrait/landscape, separate
    * audio-only) before any codec touches a payload. v0 (32-bit
    * times) and v1 (64-bit) tkhd layouts both handled; malformed
    * boxes yield no row rather than a bogus one.
    */
  def mp4Tracks(id: Long, bytes: Array[Byte]): Seq[TrackMeta] = {
    def be32(o: Int): Long = be32At(bytes, o)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    if (bytes.length < 8) return Seq.empty
    val top = mp4Boxes(bytes, 0, bytes.length)
    if (!top.exists(_._3 == "ftyp")) return Seq.empty
    top.find(_._3 == "moov").toSeq.flatMap { case (mBody, mEnd, _) =>
      val children = mp4Boxes(bytes, mBody, mEnd)
      // movie timescale for duration conversion (0 → durations stay 0)
      val timescale = children.find(_._3 == "mvhd").map { case (b, e, _) =>
        val v = bytes(b) & 0xff
        if (v == 1 && e - b >= 4 + 16 + 4) be32(b + 4 + 16)
        else if (v == 0 && e - b >= 4 + 8 + 4) be32(b + 4 + 8)
        else 0L
      }.getOrElse(0L)
      children.filter(_._3 == "trak").flatMap { case (tBody, tEnd, _) =>
        mp4Boxes(bytes, tBody, tEnd).find(_._3 == "tkhd").flatMap { case (b, e, _) =>
          val v = bytes(b) & 0xff
          // v0: flags(3) ctime(4) mtime(4) id(4) res(4) dur(4) … w@76 h@80, body 84
          // v1: 8-byte times → id@20, dur@28(8) … w@88 h@92, body 96
          val ok0 = v == 0 && e - b >= 84
          val ok1 = v == 1 && e - b >= 96
          if (!ok0 && !ok1) None
          else {
            val trackId = if (v == 0) be32(b + 12) else be32(b + 20)
            val dur = if (v == 0) be32(b + 20) else be64(b + 28)
            val wOff = if (v == 0) b + 76 else b + 88
            val width = be32(wOff) / 65536.0
            val height = be32(wOff + 4) / 65536.0
            val durMs =
              if (timescale > 0 && dur >= 0 && dur <= Long.MaxValue / 1000L)
                dur * 1000L / timescale
              else 0L
            Some(TrackMeta(id, trackId, durMs, width, height))
          }
        }
      }
    }
  }

  /** Per-partition track extraction: one output row per track. The
    * explode happens executor-side; only typed per-track metadata —
    * never payload bytes — crosses into the downstream plan.
    */
  def trackTable(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[TrackMeta] = Encoders.product[TrackMeta]
    ds.mapPartitions(_.flatMap(r => mp4Tracks(r.media_id, r.content))).toDF()
  }

  // ---------------------------------------------------------------------
  // MP4 SAMPLE-TABLE walk (stsd/stsz/stts/stco — public ISO BMFF,
  // 14496-12): exact per-track codec fourcc, sample count, payload
  // bytes, chunk count, duration in the track's OWN media timescale
  // (mdhd — not the movie timescale tkhd durations use), and the
  // exact average bitrate. This is the half of H.264/HEVC curation no
  // JDK codec is needed for: a 100 TB video pass routes by
  // codec/bitrate/duration from ~1 KB of moov bytes per file while
  // the payload (mdat) is skipped by size, never read (VERDICT r13
  // item 6). Like mp4Tracks, malformed boxes yield NO row — never a
  // bogus one.
  // ---------------------------------------------------------------------

  final case class SampleStats(media_id: Long, track_id: Long, codec: String,
                               media_timescale: Long, n_samples: Long,
                               total_bytes: Long, n_chunks: Long,
                               duration_ms: Long, bitrate_bps: Long)

  /** Per-track sample-table statistics from
    * `moov/trak/mdia/{mdhd,minf/stbl/{stsd,stsz,stts,stco|co64}}`.
    *
    *  - stsd: first entry's fourcc = the codec (avc1/hvc1/mp4a/…)
    *  - stsz: uniform `sample_size` or the per-sample table, summed
    *    exactly
    *  - stts: Σ count·delta = duration in MEDIA timescale units; the
    *    Σ count cross-check against stsz's sample_count must agree or
    *    the track yields no row (a desynced sample table is malformed)
    *  - stco/co64: chunk count (32- and 64-bit offset forms)
    *
    * bitrate_bps = total_bytes·8000 / duration_ms — exact integer
    * division, safe for payloads to a terabyte.
    */
  def mp4SampleStats(id: Long, bytes: Array[Byte]): Seq[SampleStats] = {
    def be32(o: Int): Long = be32At(bytes, o)
    if (bytes.length < 8) return Seq.empty
    val top = mp4Boxes(bytes, 0, bytes.length)
    if (!top.exists(_._3 == "ftyp")) return Seq.empty
    top.find(_._3 == "moov").toSeq.flatMap { case (mBody, mEnd, _) =>
      mp4Boxes(bytes, mBody, mEnd).filter(_._3 == "trak").flatMap {
        case (tBody, tEnd, _) =>
          val tk = mp4Boxes(bytes, tBody, tEnd)
          val trackId = tk.find(_._3 == "tkhd").flatMap { case (b, e, _) =>
            val v = bytes(b) & 0xff
            if (v == 0 && e - b >= 16) Some(be32(b + 12))
            else if (v == 1 && e - b >= 24) Some(be32(b + 20))
            else None
          }
          tk.find(_._3 == "mdia").flatMap { case (dBody, dEnd, _) =>
            val md = mp4Boxes(bytes, dBody, dEnd)
            // mdhd: v0 = vf(4) ctime(4) mtime(4) ts(4) dur(4);
            //       v1 = vf(4) ctime(8) mtime(8) ts(4) dur(8)
            val timescale = md.find(_._3 == "mdhd").flatMap { case (b, e, _) =>
              val v = bytes(b) & 0xff
              if (v == 0 && e - b >= 16) Some(be32(b + 12))
              else if (v == 1 && e - b >= 24) Some(be32(b + 20))
              else None
            }
            val stbl = md.find(_._3 == "minf").toSeq
              .flatMap { case (b, e, _) => mp4Boxes(bytes, b, e) }
              .find(_._3 == "stbl")
              .map { case (b, e, _) => mp4Boxes(bytes, b, e) }
            for {
              tid <- trackId
              ts <- timescale if ts > 0
              boxesIn <- stbl
              codec <- boxesIn.find(_._3 == "stsd").flatMap { case (b, e, _) =>
                // vf(4) entry_count(4), then first entry: size(4) fourcc(4)
                if (e - b >= 16 && be32(b + 4) >= 1)
                  Some(new String(bytes, b + 12, 4, "US-ASCII"))
                else None
              }
              // uniform path: both fields are unsigned 32-bit, so the
              // product can wrap a Long on crafted headers — overflow
              // routes to the no-row path (exact arithmetic or nothing,
              // the walk's contract); the per-sample path is bounded by
              // the box size (count <= len/4, tot <= 2^61)
              szStats <- boxesIn.find(_._3 == "stsz").flatMap { case (b, e, _) =>
                if (e - b < 12) None
                else {
                  val uniform = be32(b + 4)
                  val count = be32(b + 8)
                  if (uniform != 0L)
                    try Some((count, Math.multiplyExact(uniform, count)))
                    catch { case _: ArithmeticException => None }
                  else if (e - b >= 12 + 4 * count) {
                    var i = 0L; var tot = 0L
                    while (i < count) { tot += be32(b + 12 + 4 * i.toInt); i += 1 }
                    Some((count, tot))
                  } else None
                }
              }
              // stts accumulates unvalidated 32-bit count·delta
              // products — a crafted table can wrap the sum positive,
              // which the >= 0 guard below cannot see; exact adds only
              ttsStats <- boxesIn.find(_._3 == "stts").flatMap { case (b, e, _) =>
                if (e - b < 8) None
                else {
                  val n = be32(b + 4)
                  if (e - b < 8 + 8 * n) None
                  else try {
                    var i = 0L; var cnt = 0L; var dur = 0L
                    while (i < n) {
                      val o = b + 8 + 8 * i.toInt
                      cnt = Math.addExact(cnt, be32(o))
                      dur = Math.addExact(dur,
                        Math.multiplyExact(be32(o), be32(o + 4)))
                      i += 1
                    }
                    Some((cnt, dur))
                  } catch { case _: ArithmeticException => None }
                }
              }
              nChunks <- boxesIn.collectFirst {
                case (b, e, "stco") if e - b >= 8 => be32(b + 4)
                case (b, e, "co64") if e - b >= 8 => be32(b + 4)
              }
              // desynced stsz/stts sample counts = malformed, no row;
              // the grace bounds keep the *1000 and *8000 scalings
              // below exact
              if szStats._1 == ttsStats._1 && ttsStats._2 >= 0 &&
                ttsStats._2 <= Long.MaxValue / 1000L &&
                szStats._2 <= Long.MaxValue / 8000L
            } yield {
              val durMs = ttsStats._2 * 1000L / ts
              val bps = if (durMs > 0) szStats._2 * 8000L / durMs else 0L
              SampleStats(id, tid, codec, ts, szStats._1, szStats._2,
                nChunks, durMs, bps)
            }
          }
      }
    }
  }

  /** Per-partition sample-stats extraction — the [[trackTable]] shape:
    * one row per track, payload bytes never leave the executor.
    */
  def sampleStatsTable(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[SampleStats] = Encoders.product[SampleStats]
    ds.mapPartitions(_.flatMap(r => mp4SampleStats(r.media_id, r.content))).toDF()
  }

  // ---------------------------------------------------------------------
  // H.264 SPS HEADER parse (public ITU-T H.264 §7.3.2.1.1 through the
  // ISO 14496-15 avcC record in the stsd sample entry): TRUE coded
  // resolution, profile and level — no codec involved, the SPS is a
  // few dozen Exp-Golomb-coded header bits. tkhd width/height is the
  // PRESENTATION size and can lie about the coded stream; a 100 TB
  // route-by-resolution video pass needs the coded numbers. Scaling
  // lists (seq_scaling_matrix_present_flag = 1) are the one header
  // shape not walked — rare in practice and irrelevant to geometry,
  // but their length is content-dependent, so such an SPS yields NO
  // row rather than a misparsed one (the house malformed contract).
  // ---------------------------------------------------------------------

  final case class CodedVideo(media_id: Long, track_id: Long,
                              profile_idc: Int, level_idc: Int,
                              coded_width: Long, coded_height: Long)

  /** MSB-first bit reader over RBSP bytes; every read is an Option so
    * a truncated SPS propagates to no-row instead of garbage.
    */
  private final class BitReader(bytes: Array[Byte]) {
    private var bit = 0
    def u(n: Int): Option[Long] = {
      if (bit + n > bytes.length * 8) None
      else {
        var v = 0L
        var i = 0
        while (i < n) {
          v = (v << 1) | ((bytes(bit >> 3) >> (7 - (bit & 7))) & 1)
          bit += 1; i += 1
        }
        Some(v)
      }
    }
    def u1(): Option[Long] = u(1)
    /** Exp-Golomb unsigned: leading zeros z (≤ 31 — a longer run is
      * not a header field, it is garbage), then z info bits.
      */
    def ue(): Option[Long] = {
      var z = 0
      var leading = u1()
      while (leading.contains(0L) && z <= 31) { z += 1; leading = u1() }
      if (!leading.contains(1L) || z > 31) None
      else if (z == 0) Some(0L)
      else u(z).map(info => (1L << z) - 1 + info)
    }
    /** Exp-Golomb signed: k ↦ (−1)^(k+1) · ⌈k/2⌉. */
    def se(): Option[Long] =
      ue().map(k => if (k % 2 == 1) (k + 1) / 2 else -(k / 2))
  }

  /** Strip emulation-prevention bytes (00 00 03 → 00 00) from a NAL
    * payload — the inverse of the escaping [[encodeSps]] performs.
    */
  private def rbspUnescape(nal: Array[Byte], from: Int): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](nal.length - from)
    var zeros = 0
    var i = from
    while (i < nal.length) {
      val b = nal(i)
      if (zeros >= 2 && b == 3) zeros = 0 // emulation prevention byte: drop
      else {
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toArray
  }

  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  /** Parse one SPS NAL unit (header byte included):
    * (profile_idc, level_idc, coded_width, coded_height), or None on
    * any malformed/truncated/unsupported shape. Geometry per
    * §7.4.2.1.1: width = 16·(pic_width_in_mbs_minus1+1) −
    * CropUnitX·(crop_left+crop_right) and the frame-height analogue
    * with the (2 − frame_mbs_only_flag) field scaling; crop units
    * from the chroma format (SubWidthC/SubHeightC; ChromaArrayType 0
    * ⇒ unit 1).
    */
  def h264SpsParse(nal: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    if (nal.length < 4 || (nal(0) & 0x1f) != 7) return None // must be SPS
    val r = new BitReader(rbspUnescape(nal, 1))
    for {
      profile <- r.u(8)
      _ <- r.u(8) // constraint flags + reserved_zero_2bits
      level <- r.u(8)
      _ <- r.ue() // seq_parameter_set_id
      chromaSep <-
        if (HighProfiles(profile.toInt)) for {
          cf <- r.ue() if cf <= 3
          sep <- if (cf == 3) r.u1() else Some(0L)
          _ <- r.ue() // bit_depth_luma_minus8
          _ <- r.ue() // bit_depth_chroma_minus8
          _ <- r.u1() // qpprime_y_zero_transform_bypass_flag
          sm <- r.u1() if sm == 0L // scaling lists: documented no-row
        } yield (cf, sep)
        else Some((1L, 0L)) // chroma_format_idc defaults to 4:2:0
      _ <- r.ue() // log2_max_frame_num_minus4
      poc <- r.ue()
      _ <- poc match {
        case 0L => r.ue()
        case 1L => for {
          _ <- r.u1(); _ <- r.se(); _ <- r.se()
          n <- r.ue() if n <= 255
          _ <- (1L to n).foldLeft(Option(0L))((acc, _) => acc.flatMap(_ => r.se()))
        } yield 0L
        case _ => Some(0L)
      }
      _ <- r.ue() // max_num_ref_frames
      _ <- r.u1() // gaps_in_frame_num_value_allowed_flag
      wMbs <- r.ue()
      hMus <- r.ue()
      frameMbsOnly <- r.u1()
      _ <- if (frameMbsOnly == 0L) r.u1() else Some(0L) // mb_adaptive
      _ <- r.u1() // direct_8x8_inference_flag
      cropFlag <- r.u1()
      crops <-
        if (cropFlag == 1L) for {
          l <- r.ue(); rr <- r.ue(); t <- r.ue(); b <- r.ue()
        } yield (l, rr, t, b)
        else Some((0L, 0L, 0L, 0L))
    } yield {
      val (chroma, sep) = chromaSep
      val chromaArrayType = if (sep == 1L) 0L else chroma
      val (subW, subH) = chroma match {
        case 1L => (2L, 2L); case 2L => (2L, 1L); case _ => (1L, 1L)
      }
      val cropUnitX = if (chromaArrayType == 0L) 1L else subW
      val cropUnitY =
        (if (chromaArrayType == 0L) 1L else subH) * (2L - frameMbsOnly)
      val w = 16L * (wMbs + 1) - cropUnitX * (crops._1 + crops._2)
      val h = (2L - frameMbsOnly) * 16L * (hMus + 1) -
        cropUnitY * (crops._3 + crops._4)
      (profile.toInt, level.toInt, w, h)
    }
  }.filter { case (_, _, w, h) => w > 0 && h > 0 }

  /** Parse one H.265 SPS NAL unit (2-byte NAL header included):
    * (profile_idc, level_idc, coded_width, coded_height), or None on
    * any malformed/truncated shape — the HEVC sibling of
    * [[h264SpsParse]] (ITU-T H.265 §7.3.2.2.1). Simpler geometry than
    * H.264: pic_width/height_in_luma_samples are DIRECT Exp-Golomb
    * fields (any even value, not macroblock multiples) and the
    * conformance window subtracts SubWidthC/SubHeightC-scaled
    * offsets. The profile_tier_level block is walked exactly —
    * including sub-layer PTL skips when sps_max_sub_layers_minus1 > 0
    * (their length is flag-determined, 88/8 bits per present block).
    */
  def h265SpsParse(nal: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    // nal_unit_type is bits 1-6 of byte 0; SPS_NUT = 33
    if (nal.length < 5 || ((nal(0) >> 1) & 0x3f) != 33) return None
    val r = new BitReader(rbspUnescape(nal, 2))
    for {
      _ <- r.u(4) // sps_video_parameter_set_id
      maxSubM1 <- r.u(3)
      _ <- r.u1() // sps_temporal_id_nesting_flag
      // profile_tier_level: general block is 2+1+5+32+4+43+1 = 88
      // bits then the 8-bit level
      _ <- r.u(2) // general_profile_space
      _ <- r.u1() // general_tier_flag
      profile <- r.u(5)
      _ <- r.u(32) // profile_compatibility_flags
      _ <- r.u(48) // source flags(4) + reserved_zero_43bits + inbld(1)
      level <- r.u(8)
      subFlags <- (1L to maxSubM1).foldLeft(Option(List.empty[(Long, Long)])) {
        (acc, _) => acc.flatMap(l => for { p <- r.u1(); v <- r.u1() } yield l :+ (p, v))
      }
      _ <- if (maxSubM1 > 0) r.u((8 - maxSubM1.toInt) * 2) else Some(0L)
      _ <- subFlags.foldLeft(Option(0L)) { case (acc, (pp, lp)) =>
        acc.flatMap(_ => for {
          _ <- if (pp == 1L) r.u(88) else Some(0L)
          x <- if (lp == 1L) r.u(8) else Some(0L)
        } yield x)
      }
      _ <- r.ue() // sps_seq_parameter_set_id
      chroma <- r.ue() if chroma <= 3
      sep <- if (chroma == 3L) r.u1() else Some(0L)
      w <- r.ue()
      h <- r.ue()
      confFlag <- r.u1()
      crops <-
        if (confFlag == 1L) for {
          l <- r.ue(); rr <- r.ue(); t <- r.ue(); b <- r.ue()
        } yield (l, rr, t, b)
        else Some((0L, 0L, 0L, 0L))
    } yield {
      val chromaArrayType = if (sep == 1L) 0L else chroma
      val (subW, subH) = chroma match {
        case 1L => (2L, 2L); case 2L => (2L, 1L); case _ => (1L, 1L)
      }
      val cw = if (chromaArrayType == 0L) 1L else subW
      val ch = if (chromaArrayType == 0L) 1L else subH
      (profile.toInt, level.toInt,
        w - cw * (crops._1 + crops._2), h - ch * (crops._3 + crops._4))
    }
  }.filter { case (_, _, w, h) => w > 0 && h > 0 }

  /** Per-track coded-video geometry from the stsd sample entry's
    * avcC record: descend `moov/trak/mdia/minf/stbl/stsd`, take the
    * first entry when its fourcc is an AVC form (avc1/avc3), walk its
    * child boxes past the 78-byte VisualSampleEntry fields, and parse
    * the record's first SPS NAL. HEVC forms (hvc1/hev1) descend the
    * hvcC record's NAL arrays to the SPS (type 33) and parse via
    * [[h265SpsParse]]. Tracks without a parseable SPS yield no row —
    * never a presentation-size guess.
    */
  /** First SPS NAL (type 33) inside an hvcC record body [cb, ce):
    * 22 fixed header bytes, numOfArrays, then per array 1 type byte +
    * 2-byte NAL count + length-prefixed NALs (ISO 14496-15 §8.3.3.1).
    * Any malformed length ends the walk with None.
    */
  private def hvccFirstSps(bytes: Array[Byte], cb: Int, ce: Int): Option[Array[Byte]] = {
    def be16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    if (ce - cb < 23) return None
    val nArrays = bytes(cb + 22) & 0xff
    var off = cb + 23
    var a = 0
    while (a < nArrays && off + 3 <= ce) {
      val nalType = bytes(off) & 0x3f
      val nNalus = be16(off + 1)
      off += 3
      var n = 0
      while (n < nNalus && off + 2 <= ce) {
        val len = be16(off)
        if (off + 2 + len > ce) return None
        if (nalType == 33 && len >= 2)
          return Some(java.util.Arrays.copyOfRange(bytes, off + 2, off + 2 + len))
        off += 2 + len
        n += 1
      }
      a += 1
    }
    None
  }

  def mp4CodedVideo(id: Long, bytes: Array[Byte]): Seq[CodedVideo] = {
    def be16(o: Int): Int =
      ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    if (bytes.length < 8) return Seq.empty
    val top = mp4Boxes(bytes, 0, bytes.length)
    if (!top.exists(_._3 == "ftyp")) return Seq.empty
    top.find(_._3 == "moov").toSeq.flatMap { case (mBody, mEnd, _) =>
      mp4Boxes(bytes, mBody, mEnd).filter(_._3 == "trak").flatMap {
        case (tBody, tEnd, _) =>
          val tk = mp4Boxes(bytes, tBody, tEnd)
          val trackId = tk.find(_._3 == "tkhd").flatMap { case (b, e, _) =>
            val v = bytes(b) & 0xff
            if (v == 0 && e - b >= 16) Some(be32At(bytes, b + 12))
            else if (v == 1 && e - b >= 24) Some(be32At(bytes, b + 20))
            else None
          }
          val stsd = tk.find(_._3 == "mdia").toSeq
            .flatMap { case (b, e, _) => mp4Boxes(bytes, b, e) }
            .filter(_._3 == "minf")
            .flatMap { case (b, e, _) => mp4Boxes(bytes, b, e) }
            .filter(_._3 == "stbl")
            .flatMap { case (b, e, _) => mp4Boxes(bytes, b, e) }
            .find(_._3 == "stsd")
          for {
            tid <- trackId.toSeq
            (b, e, _) <- stsd.toSeq
            // vf(4) entry_count(4), first entry: size(4) fourcc(4)
            if e - b >= 16 && be32At(bytes, b + 4) >= 1
            entryStart = b + 8
            entrySize = be32At(bytes, entryStart)
            entryEnd = entryStart + entrySize.toInt
            if entrySize >= 16 && entryEnd <= e
            fourcc = new String(bytes, entryStart + 4, 4, "US-ASCII")
            // children start after the 78-byte VisualSampleEntry
            // (8 sample-entry + 70 visual fields)
            if entryStart + 86 <= entryEnd
            children = mp4Boxes(bytes, entryStart + 86, entryEnd)
            parsed <- (fourcc match {
              case "avc1" | "avc3" =>
                for {
                  (cb, ce, _) <- children.filter(_._3 == "avcC")
                  // avcC: ver(1) profile(1) compat(1) level(1)
                  // lenSize(1) numSps(1, low 5 bits), then per SPS:
                  // len(2) + NAL
                  if ce - cb >= 8 && (bytes(cb + 5) & 0x1f) >= 1
                  spsLen = be16(cb + 6)
                  if cb + 8 + spsLen <= ce
                  p <- h264SpsParse(java.util.Arrays.copyOfRange(
                    bytes, cb + 8, cb + 8 + spsLen)).toSeq
                } yield p
              case "hvc1" | "hev1" =>
                for {
                  (cb, ce, _) <- children.filter(_._3 == "hvcC")
                  sps <- hvccFirstSps(bytes, cb, ce).toSeq
                  p <- h265SpsParse(sps).toSeq
                } yield p
              case _ => Seq.empty
            })
          } yield CodedVideo(id, tid, parsed._1, parsed._2, parsed._3, parsed._4)
      }
    }
  }

  /** Per-partition coded-video extraction — one row per AVC track
    * with a parseable SPS; binary never leaves the executor.
    */
  def codedVideoTable(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[CodedVideo] = Encoders.product[CodedVideo]
    ds.mapPartitions(_.flatMap(r => mp4CodedVideo(r.media_id, r.content))).toDF()
  }

  /** Test/data-gen helper: a REAL SPS NAL (header byte 0x67, RBSP
    * escaped, trailing bits) for a 4:2:0 frame-coded stream —
    * profile 66 (baseline header shape) or any [[HighProfiles]] id
    * (chroma/bit-depth fields present, no scaling lists); crop
    * right/bottom in chroma units (CropUnitX = CropUnitY = 2 here).
    */
  /** MSB-first bit writer with Exp-Golomb, RBSP stop/align, and NAL
    * emulation-prevention escaping — the encode-side dual of
    * [[BitReader]]/[[rbspUnescape]], shared by both SPS encoders.
    */
  private final class BitWriter {
    private val bits = new scala.collection.mutable.ArrayBuffer[Int]
    def u(v: Long, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits += ((v >> i) & 1L).toInt)
    def ue(v: Long): Unit = {
      val z = 63 - java.lang.Long.numberOfLeadingZeros(v + 1)
      u(0L, z); u(v + 1, z + 1)
    }
    /** stop bit + byte-align, then escape into a NAL after `header`. */
    def toNal(header: Array[Byte]): Array[Byte] = {
      u(1L, 1) // rbsp_stop_one_bit
      while (bits.length % 8 != 0) bits += 0
      val rbsp = bits.grouped(8)
        .map(g => g.foldLeft(0)((a, b) => (a << 1) | b).toByte).toArray
      val out = new scala.collection.mutable.ArrayBuffer[Byte](rbsp.length + 4)
      out ++= header
      var zeros = 0
      rbsp.foreach { b =>
        if (zeros >= 2 && (b & 0xff) <= 3) { out += 3; zeros = 0 }
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      out.toArray
    }
  }

  def encodeSps(profileIdc: Int, levelIdc: Int, picWidthInMbsMinus1: Long,
                picHeightInMapUnitsMinus1: Long, cropRight: Long = 0L,
                cropBottom: Long = 0L): Array[Byte] = {
    require(profileIdc == 66 || profileIdc == 77 || HighProfiles(profileIdc))
    val w = new BitWriter
    w.u(profileIdc.toLong, 8); w.u(0L, 8); w.u(levelIdc.toLong, 8)
    w.ue(0L) // sps_id
    if (HighProfiles(profileIdc)) {
      w.ue(1L) // chroma_format_idc 4:2:0
      w.ue(0L); w.ue(0L) // bit depths
      w.u(0L, 1) // qpprime
      w.u(0L, 1) // no scaling matrix
    }
    w.ue(0L) // log2_max_frame_num_minus4
    w.ue(2L) // pic_order_cnt_type 2 (no dependent fields)
    w.ue(1L) // max_num_ref_frames
    w.u(0L, 1) // gaps flag
    w.ue(picWidthInMbsMinus1); w.ue(picHeightInMapUnitsMinus1)
    w.u(1L, 1) // frame_mbs_only_flag
    w.u(1L, 1) // direct_8x8_inference_flag
    val crop = cropRight > 0 || cropBottom > 0
    w.u(if (crop) 1L else 0L, 1)
    if (crop) { w.ue(0L); w.ue(cropRight); w.ue(0L); w.ue(cropBottom) }
    w.u(0L, 1) // vui_parameters_present_flag
    // NAL header 0x67: nal_ref_idc 3, type 7 (SPS)
    w.toNal(Array(0x67.toByte))
  }

  /** Test/data-gen helper: a REAL H.265 SPS NAL (2-byte header, type
    * 33) for a 4:2:0 stream with zero sub-layers — luma geometry is
    * written DIRECTLY (any even sizes), conformance-window crops in
    * chroma units.
    */
  def encodeSpsHevc(profileIdc: Int, levelIdc: Int, widthLuma: Long,
                    heightLuma: Long, cropRight: Long = 0L,
                    cropBottom: Long = 0L): Array[Byte] = {
    require(profileIdc >= 0 && profileIdc <= 31 && levelIdc >= 0 && levelIdc <= 255)
    val w = new BitWriter
    w.u(0L, 4) // sps_video_parameter_set_id
    w.u(0L, 3) // sps_max_sub_layers_minus1
    w.u(1L, 1) // sps_temporal_id_nesting_flag
    // profile_tier_level, general block only (zero sub-layers)
    w.u(0L, 2); w.u(0L, 1); w.u(profileIdc.toLong, 5)
    w.u(0L, 32) // compatibility flags
    w.u(0L, 48) // source flags + reserved_zero_43bits + inbld
    w.u(levelIdc.toLong, 8)
    w.ue(0L) // sps_seq_parameter_set_id
    w.ue(1L) // chroma_format_idc 4:2:0
    w.ue(widthLuma); w.ue(heightLuma)
    val crop = cropRight > 0 || cropBottom > 0
    w.u(if (crop) 1L else 0L, 1)
    if (crop) { w.ue(0L); w.ue(cropRight); w.ue(0L); w.ue(cropBottom) }
    w.ue(0L); w.ue(0L) // bit_depth_luma/chroma_minus8
    // NAL header: type 33 in bits 1-6 of byte 0, temporal_id_plus1 = 1
    w.toNal(Array((33 << 1).toByte, 1.toByte))
  }

  // ---------------------------------------------------------------------
  // MP3 FRAME-HEADER walk (public MPEG-1/2/2.5 audio framing): exact
  // frame count, duration, sample layout, average bitrate, and VBR
  // detection WITHOUT any audio codec — each frame's length is fully
  // determined by its 4-byte header, so the walk hops header to
  // header in O(#frames) and never inflates a sample (VERDICT r13
  // item 7). This is route-by-quality for compressed audio: drop
  // sub-64kbps, split VBR/CBR, bucket by duration — beside
  // wavMetadata's PCM face.
  // ---------------------------------------------------------------------

  final case class Mp3Meta(media_id: Long, valid: Boolean, n_frames: Long,
                           duration_ms: Long, sample_rate: Int, channels: Int,
                           n_samples: Long, bitrate_bps: Long, vbr: Boolean)

  private def invalidMp3(id: Long) =
    Mp3Meta(id, valid = false, 0L, 0L, 0, 0, 0L, 0L, vbr = false)

  // bitrate tables in kbps, index 1-14 (0 = free-format, 15 = bad —
  // both stop the walk: a free-format frame's length is not derivable
  // from its header)
  private val Mp3BitrateV1 = Array(
    Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448), // L1
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),    // L2
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))     // L3
  private val Mp3BitrateV2 = Array(
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),    // L1
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),         // L2
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))         // L3
  private val Mp3SampleRate = Map(
    3 -> Array(44100, 48000, 32000), // MPEG1
    2 -> Array(22050, 24000, 16000), // MPEG2
    0 -> Array(11025, 12000, 8000))  // MPEG2.5

  /** Decode one MPEG audio frame header at `off`:
    * (frameLen, sampleRate, samplesPerFrame, bitrate_kbps, channels),
    * or None if the 4 bytes are not a valid sized frame header.
    */
  private def mp3Frame(bytes: Array[Byte], off: Int): Option[(Int, Int, Int, Int, Int)] = {
    if (off + 4 > bytes.length) return None
    val b0 = bytes(off) & 0xff; val b1 = bytes(off + 1) & 0xff
    val b2 = bytes(off + 2) & 0xff; val b3 = bytes(off + 3) & 0xff
    if (b0 != 0xff || (b1 & 0xe0) != 0xe0) return None
    val versionBits = (b1 >> 3) & 0x3 // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    val layerBits = (b1 >> 1) & 0x3   // 1=LIII, 2=LII, 3=LI
    val brIdx = (b2 >> 4) & 0xf
    val srIdx = (b2 >> 2) & 0x3
    val padding = (b2 >> 1) & 0x1
    val mode = (b3 >> 6) & 0x3        // 3 = mono
    if (versionBits == 1 || layerBits == 0 || brIdx == 0 || brIdx == 15 ||
        srIdx == 3) return None
    val layer = 3 - layerBits // 0=LI, 1=LII, 2=LIII
    val kbps = (if (versionBits == 3) Mp3BitrateV1 else Mp3BitrateV2)(layer)(brIdx)
    val rate = Mp3SampleRate(versionBits)(srIdx)
    val bitrate = kbps * 1000
    val (frameLen, samples) = layer match {
      case 0 => ((12 * bitrate / rate + padding) * 4, 384)
      case 1 => (144 * bitrate / rate + padding, 1152)
      case _ => // Layer III: 576 samples under MPEG2/2.5
        if (versionBits == 3) (144 * bitrate / rate + padding, 1152)
        else (72 * bitrate / rate + padding, 576)
    }
    if (frameLen < 4) None
    else Some((frameLen, rate, samples, kbps, if (mode == 3) 1 else 2))
  }

  /** Walk every complete frame: ID3v2 prefix skipped by its syncsafe
    * size (+footer when flagged), then header-to-header hops until
    * the first non-frame byte (an ID3v1 trailer or truncated final
    * frame simply ends the walk). Valid iff ≥ 1 complete frame.
    * Duration is exact per sample-rate group (Σ samples·1000/rate);
    * `vbr` is true iff frames carry more than one bitrate index.
    */
  def mp3Metadata(id: Long, bytes: Array[Byte]): Mp3Meta = {
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      off = 10 + size + (if ((bytes(5) & 0x10) != 0) 10 else 0)
    }
    var frames = 0L
    var totalBytes = 0L
    var channels = 0
    var firstRate = 0
    val samplesByRate = scala.collection.mutable.LongMap.empty[Long]
    val bitrates = scala.collection.mutable.Set.empty[Int]
    var walking = true
    while (walking) {
      mp3Frame(bytes, off) match {
        case Some((len, rate, samples, kbps, ch)) if off + len <= bytes.length =>
          frames += 1; totalBytes += len
          samplesByRate(rate.toLong) = samplesByRate.getOrElse(rate.toLong, 0L) + samples
          bitrates += kbps
          if (frames == 1L) { channels = ch; firstRate = rate }
          off += len
        case _ => walking = false
      }
    }
    if (frames == 0L) invalidMp3(id)
    else {
      val durMs = samplesByRate.map { case (r, n) => n * 1000L / r }.sum
      val nSamples = samplesByRate.values.sum
      val bps = if (durMs > 0) totalBytes * 8000L / durMs else 0L
      Mp3Meta(id, valid = true, frames, durMs, firstRate, channels,
        nSamples, bps, vbr = bitrates.size > 1)
    }
  }

  /** True iff the bytes start with an ID3v2 tag or a valid sized MPEG
    * audio frame header — strict enough that GRFT/JPEG/PNG payloads
    * never misroute here.
    */
  def isMp3(bytes: Array[Byte]): Boolean =
    (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') ||
      mp3Frame(bytes, 0).isDefined

  /** Per-partition MP3 extraction — one typed row per input. */
  def mp3Table(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[Mp3Meta] = Encoders.product[Mp3Meta]
    ds.mapPartitions(_.map(r => mp3Metadata(r.media_id, r.content))).toDF()
  }

  // ---------------------------------------------------------------------
  // ID3v2 TAG walk (public id3.org spec, v2.3/v2.4): title/artist/
  // album from the text frames an audio curation pass keys provenance
  // on — the audio sibling of the EXIF walk. [[mp3Metadata]] SKIPS
  // the tag by its syncsafe size; this walk goes INSIDE it: frames
  // are (id(4), size(4 — plain big-endian in v2.3, syncsafe in
  // v2.4), flags(2), body), a text frame's body is an encoding byte
  // + text (latin-1, UTF-8, and BOM'd UTF-16 supported), and a zero
  // byte where a frame id should start is the padding area — walk
  // over. Malformed structure reads invalid, never a guess.
  // ---------------------------------------------------------------------

  final case class Id3Meta(media_id: Long, valid: Boolean, version: Int,
                           title: String, artist: String, album: String)

  private def invalidId3(id: Long) = Id3Meta(id, valid = false, 0, "", "", "")

  def id3Tags(id: Long, bytes: Array[Byte]): Id3Meta = {
    if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' || bytes(2) != '3')
      return invalidId3(id)
    val ver = bytes(3) & 0xff
    if (ver != 3 && ver != 4) return invalidId3(id)
    val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
      ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
    val end = math.min(10 + size, bytes.length)
    var off = 10
    var title = ""; var artist = ""; var album = ""
    var walking = true
    while (walking && off + 10 <= end) {
      if (bytes(off) == 0) walking = false // padding area
      else {
        val fid = new String(bytes, off, 4, "US-ASCII")
        val fsize =
          if (ver == 4)
            ((bytes(off + 4) & 0x7f) << 21) | ((bytes(off + 5) & 0x7f) << 14) |
              ((bytes(off + 6) & 0x7f) << 7) | (bytes(off + 7) & 0x7f)
          else ((bytes(off + 4) & 0xff) << 24) | ((bytes(off + 5) & 0xff) << 16) |
            ((bytes(off + 6) & 0xff) << 8) | (bytes(off + 7) & 0xff)
        // Long arithmetic: a v2.3 fsize near Int.MaxValue wraps
        // `off + 10 + fsize` negative and slips past an Int bound
        // check (the v2.4 syncsafe path is capped at 2^28 by
        // construction) — same wrapped-offset class as the EXIF/mp4
        // guards
        if (fsize < 0 || off.toLong + 10L + fsize > end) walking = false
        else {
          if (fid.startsWith("T") && fsize >= 1) {
            val enc = bytes(off + 10) & 0xff
            val body = java.util.Arrays.copyOfRange(bytes, off + 11, off + 10 + fsize)
            val text = (enc match {
              case 0 => Some(new String(body, "ISO-8859-1"))
              case 1 => Some(new String(body, "UTF-16")) // BOM-routed
              case 3 => Some(new String(body, "UTF-8"))
              case _ => None // UTF-16BE w/o BOM (2) and unknowns: skip
            }).map(_.stripSuffix("\u0000")).getOrElse("")
            fid match {
              case "TIT2" => title = text
              case "TPE1" => artist = text
              case "TALB" => album = text
              case _ => ()
            }
          }
          off += 10 + fsize
        }
      }
    }
    Id3Meta(id, valid = true, ver, title, artist, album)
  }

  /** Test/data-gen helper: a REAL ID3v2.3/2.4 tag (version-correct
    * frame sizes, chosen text encodings, optional padding) — prepend
    * to [[encodeMp3]] output for a tagged stream.
    */
  def encodeId3(version: Int, frames: Seq[(String, Int, String)],
                padding: Int = 0): Array[Byte] = {
    require(version == 3 || version == 4)
    val body = frames.flatMap { case (fid, enc, text) =>
      require(fid.length == 4 && (enc == 0 || enc == 1 || enc == 3))
      val tb = enc match {
        case 0 => text.getBytes("ISO-8859-1")
        case 1 => Array[Byte](0xfe.toByte, 0xff.toByte) ++ text.getBytes("UTF-16BE")
        case _ => text.getBytes("UTF-8")
      }
      val fsize = tb.length + 1
      val sz =
        if (version == 4) Seq(((fsize >> 21) & 0x7f).toByte, ((fsize >> 14) & 0x7f).toByte,
          ((fsize >> 7) & 0x7f).toByte, (fsize & 0x7f).toByte)
        else Seq(((fsize >> 24) & 0xff).toByte, ((fsize >> 16) & 0xff).toByte,
          ((fsize >> 8) & 0xff).toByte, (fsize & 0xff).toByte)
      fid.getBytes("US-ASCII").toSeq ++ sz ++ Seq[Byte](0, 0) ++
        Seq(enc.toByte) ++ tb.toSeq
    } ++ Seq.fill(padding)(0.toByte)
    val size = body.length
    require(size < (1 << 28))
    "ID3".getBytes("US-ASCII") ++ Array(version.toByte, 0.toByte, 0.toByte,
      ((size >> 21) & 0x7f).toByte, ((size >> 14) & 0x7f).toByte,
      ((size >> 7) & 0x7f).toByte, (size & 0x7f).toByte) ++ body
  }

  /** Per-partition ID3 extraction — one typed row per input. */
  def id3Table(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[Id3Meta] = Encoders.product[Id3Meta]
    ds.mapPartitions(_.map(r => id3Tags(r.media_id, r.content))).toDF()
  }

  // ---------------------------------------------------------------------
  // JPEG EXIF walk (public JPEG/JFIF segment framing + the TIFF 6.0
  // IFD layout inside APP1): orientation, camera make/model, capture
  // time and the declared pixel dimensions — WITHOUT decoding a
  // pixel. Orientation is the load-bearing field: a rotation-unaware
  // pipeline computes wrong dHashes/thumbnails for the ~1/8 of camera
  // imagery stored rotated; make/model/time drive provenance screens.
  // Both TIFF byte orders (II/MM) are walked; a malformed segment or
  // IFD yields the invalid row, never a guess.
  // ---------------------------------------------------------------------

  final case class ExifMeta(media_id: Long, valid: Boolean, byte_order: String,
                            orientation: Int, make: String, model: String,
                            datetime: String, pixel_width: Long,
                            pixel_height: Long)

  private def invalidExif(id: Long) =
    ExifMeta(id, valid = false, "", 0, "", "", "", 0L, 0L)

  /** Walk SOI → segments to the first `Exif\0\0` APP1, then the TIFF
    * IFD0 (+ the Exif sub-IFD behind tag 0x8769): orientation
    * (0x0112), make/model (0x010F/0x0110), DateTimeOriginal (0x9003,
    * falling back to 0x0132), PixelX/YDimension (0xA002/0xA003).
    * ASCII values read through their offset cells with the trailing
    * NUL stripped; SHORT/LONG scalars read inline per the byte order.
    * Missing tags read as 0/""; a structurally malformed file reads
    * invalid.
    */
  def jpegExif(id: Long, bytes: Array[Byte]): ExifMeta = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return invalidExif(id)
    // hop segments to APP1/Exif
    var off = 2
    var tiff = -1
    var tiffEnd = -1
    var hopping = true
    while (hopping && off + 4 <= bytes.length) {
      if ((bytes(off) & 0xff) != 0xff) hopping = false
      else {
        val marker = bytes(off + 1) & 0xff
        if (marker == 0xd9 || marker == 0xda) hopping = false // EOI/SOS
        else {
          val len = ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
          if (len < 2 || off + 2 + len > bytes.length) hopping = false
          else {
            if (marker == 0xe1 && len >= 8 &&
                new String(bytes, off + 4, 4, "US-ASCII") == "Exif" &&
                bytes(off + 8) == 0 && bytes(off + 9) == 0) {
              tiff = off + 10
              tiffEnd = off + 2 + len
              hopping = false
            } else off += 2 + len
          }
        }
      }
    }
    if (tiff < 0 || tiffEnd - tiff < 8) return invalidExif(id)
    val big = new String(bytes, tiff, 2, "US-ASCII") match {
      case "MM" => true
      case "II" => false
      case _ => return invalidExif(id)
    }
    def u16(o: Int): Int =
      if (big) ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
      else ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)
    def u32(o: Int): Long =
      if (big) ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
      else ((bytes(o + 3) & 0xffL) << 24) | ((bytes(o + 2) & 0xffL) << 16) |
        ((bytes(o + 1) & 0xffL) << 8) | (bytes(o) & 0xffL)
    if (u16(tiff + 2) != 42) return invalidExif(id)
    // one IFD → (tag → entry offset); entries are 12 bytes
    def ifdEntries(ifdOff: Int): Map[Int, Int] = {
      val abs = tiff + ifdOff
      // ifdOff comes from an unvalidated 32-bit cell: a crafted value
      // can wrap negative through toInt — below-origin is malformed,
      // same as past-the-end
      if (abs < tiff || abs + 2 > tiffEnd) return Map.empty
      val n = u16(abs)
      if (abs + 2 + 12 * n + 4 > tiffEnd) return Map.empty
      (0 until n).map(i => u16(abs + 2 + 12 * i) -> (abs + 2 + 12 * i)).toMap
    }
    def shortOrLong(e: Int): Long =
      if (u16(e + 2) == 3) u16(e + 8).toLong else u32(e + 8)
    def ascii(e: Int): String = {
      val n = u32(e + 4).toInt
      if (n <= 0) return ""
      val at = if (n <= 4) e + 8 else tiff + u32(e + 8).toInt
      // Long arithmetic: `at + n` wraps when a crafted offset cell
      // puts `at` near Int.MaxValue (still >= tiff, so the first
      // check passes) — the sibling of the ifdEntries wrap guard
      if (at < tiff || at.toLong + n > tiffEnd) return ""
      new String(bytes, at, n, "US-ASCII").stripSuffix("\u0000")
    }
    val ifd0 = ifdEntries(u32(tiff + 4).toInt)
    if (ifd0.isEmpty) return invalidExif(id)
    val sub = ifd0.get(0x8769).map(e => ifdEntries(u32(e + 8).toInt))
      .getOrElse(Map.empty)
    ExifMeta(id, valid = true, if (big) "MM" else "II",
      ifd0.get(0x0112).map(e => u16(e + 8)).getOrElse(0),
      ifd0.get(0x010f).map(ascii).getOrElse(""),
      ifd0.get(0x0110).map(ascii).getOrElse(""),
      sub.get(0x9003).map(ascii)
        .orElse(ifd0.get(0x0132).map(ascii)).getOrElse(""),
      sub.get(0xa002).map(shortOrLong).getOrElse(0L),
      sub.get(0xa003).map(shortOrLong).getOrElse(0L))
  }

  /** Test/data-gen helper: a REAL JPEG prefix (SOI + Exif APP1 with a
    * TIFF IFD0 + Exif sub-IFD, either byte order, long ASCII values
    * through offset cells) + EOI. Layout mirrors what cameras write.
    */
  def encodeJpegExif(orientation: Int, make: String, model: String,
                     dateTime: String, width: Long, height: Long,
                     bigEndian: Boolean): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    def u16(v: Int): Seq[Byte] = {
      val b = Seq(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      if (bigEndian) b else b.reverse
    }
    def u32(v: Long): Seq[Byte] = {
      val b = Seq(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      if (bigEndian) b else b.reverse
    }
    // entries: (tag, type, count, inline-or-offset builder)
    final case class Entry(tag: Int, tpe: Int, count: Long,
                           inline: Option[Seq[Byte]], data: Option[Array[Byte]])
    def shortEntry(tag: Int, v: Int) =
      Entry(tag, 3, 1L, Some(u16(v) ++ Seq[Byte](0, 0)), None)
    def longEntry(tag: Int, v: Long) = Entry(tag, 4, 1L, Some(u32(v)), None)
    def asciiEntry(tag: Int, s: String) = {
      val b = (s + "\u0000").getBytes("US-ASCII")
      if (b.length <= 4) Entry(tag, 2, b.length.toLong,
        Some(b.toSeq.padTo(4, 0.toByte)), None)
      else Entry(tag, 2, b.length.toLong, None, Some(b))
    }
    // TIFF body assembled relative to the TIFF origin
    val tiffBuf = new scala.collection.mutable.ArrayBuffer[Byte]
    tiffBuf ++= (if (bigEndian) "MM" else "II").getBytes("US-ASCII")
    tiffBuf ++= u16(42)
    tiffBuf ++= u32(8L) // IFD0 right after the header
    def writeIfd(entries: Seq[Entry], ifdOff: Int): Unit = {
      // data area starts after count(2) + entries + nextIFD(4)
      var dataOff = ifdOff + 2 + 12 * entries.length + 4
      val datas = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      tiffBuf ++= u16(entries.length)
      entries.foreach { e =>
        tiffBuf ++= u16(e.tag); tiffBuf ++= u16(e.tpe); tiffBuf ++= u32(e.count)
        e.inline match {
          case Some(b) => tiffBuf ++= b
          case None =>
            tiffBuf ++= u32(dataOff.toLong)
            datas += e.data.get
            dataOff += e.data.get.length
        }
      }
      tiffBuf ++= u32(0L) // no next IFD
      datas.foreach(tiffBuf ++= _)
    }
    // IFD0: make, model, orientation, pointer to the Exif sub-IFD
    // (sub-IFD offset computed after IFD0's layout is known)
    val ifd0 = Seq(
      asciiEntry(0x010f, make), asciiEntry(0x0110, model),
      shortEntry(0x0112, orientation))
    val ifd0DataLen = ifd0.flatMap(_.data).map(_.length).sum
    val subIfdOff = 8 + 2 + 12 * (ifd0.length + 1) + 4 + ifd0DataLen
    writeIfd(ifd0 :+ longEntry(0x8769, subIfdOff.toLong), 8)
    writeIfd(Seq(asciiEntry(0x9003, dateTime),
      longEntry(0xa002, width), longEntry(0xa003, height)), subIfdOff)
    val app1 = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiffBuf
    out ++= Array(0xff.toByte, 0xd8.toByte) // SOI
    out ++= Array(0xff.toByte, 0xe1.toByte) // APP1
    val len = app1.length + 2
    out += ((len >> 8) & 0xff).toByte; out += (len & 0xff).toByte
    out ++= app1
    out ++= Array(0xff.toByte, 0xd9.toByte) // EOI
    out.toArray
  }

  /** Per-partition EXIF extraction — one typed row per input. */
  def exifTable(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[ExifMeta] = Encoders.product[ExifMeta]
    ds.mapPartitions(_.map(r => jpegExif(r.media_id, r.content))).toDF()
  }

  // ---------------------------------------------------------------------
  // FLAC STREAMINFO walk (public FLAC format spec): exact sample rate,
  // channels, bit depth, total samples and duration from the mandatory
  // first metadata block — no decoder involved, the block is 34 bytes
  // of fixed-width big-endian fields behind the fLaC magic. Completes
  // the route-by-quality audio family next to WAV (PCM), MP3 (MPEG
  // framing) and MP4 (sample tables): lossless flag, bit depth and
  // rate are exactly the admission signals an audio curation pass
  // keys on. Like every walk here: malformed yields no valid row.
  // ---------------------------------------------------------------------

  final case class FlacMeta(media_id: Long, valid: Boolean, sample_rate: Int,
                            channels: Int, bits_per_sample: Int,
                            n_samples: Long, duration_ms: Long,
                            min_block_size: Int, max_block_size: Int)

  private def invalidFlac(id: Long) =
    FlacMeta(id, valid = false, 0, 0, 0, 0L, 0L, 0, 0)

  /** Walk the metadata blocks behind `fLaC`: each block header is
    * 1 byte (bit 7 = last, bits 0-6 = type) + 24-bit length; the walk
    * requires a complete 34-byte STREAMINFO (type 0) as the FIRST
    * block (the spec mandates it) and reads:
    * min/max block size (16+16), min/max frame size (24+24, skipped),
    * then the packed 64 bits: sample rate (20), channels−1 (3),
    * bits-per-sample−1 (5), total samples (36). duration_ms is exact
    * integer: samples·1000 / rate. A zero sample rate is malformed by
    * spec.
    */
  def flacMetadata(id: Long, bytes: Array[Byte]): FlacMeta = {
    if (bytes.length < 4 + 4 + 34 ||
        !(bytes(0) == 'f' && bytes(1) == 'L' && bytes(2) == 'a' && bytes(3) == 'C'))
      return invalidFlac(id)
    val hdr = bytes(4) & 0xff
    val blockLen = ((bytes(5) & 0xff) << 16) | ((bytes(6) & 0xff) << 8) |
      (bytes(7) & 0xff)
    if ((hdr & 0x7f) != 0 || blockLen != 34) return invalidFlac(id)
    val b = 8
    def be16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    val minBlock = be16(b)
    val maxBlock = be16(b + 2)
    // bytes 10..17 after the frame sizes: rate(20) ch(3) bps(5) samples(36)
    val packed = (0 until 8).foldLeft(0L)((a, i) =>
      (a << 8) | (bytes(b + 10 + i) & 0xffL))
    val rate = (packed >>> 44).toInt
    val channels = ((packed >>> 41) & 0x7).toInt + 1
    val bps = ((packed >>> 36) & 0x1f).toInt + 1
    val nSamples = packed & 0xfffffffffL
    if (rate == 0) invalidFlac(id)
    else FlacMeta(id, valid = true, rate, channels, bps, nSamples,
      nSamples * 1000L / rate, minBlock, maxBlock)
  }

  /** Test/data-gen helper: a REAL FLAC header — magic + STREAMINFO
    * (marked last; frame data is not needed by any metadata walk and
    * is omitted, exactly like [[encodeMp4Sampled]] omits mdat).
    */
  def encodeFlac(sampleRate: Int, channels: Int, bitsPerSample: Int,
                 nSamples: Long, minBlock: Int = 4096,
                 maxBlock: Int = 4096): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20))
    require(channels >= 1 && channels <= 8)
    require(bitsPerSample >= 1 && bitsPerSample <= 32)
    require(nSamples >= 0 && nSamples < (1L << 36))
    val out = new scala.collection.mutable.ArrayBuffer[Byte](42)
    out ++= "fLaC".getBytes("US-ASCII")
    out += 0x80.toByte // last block, type 0 (STREAMINFO)
    out ++= Array[Byte](0, 0, 34)
    def be16(v: Int): Unit = { out += (v >> 8).toByte; out += v.toByte }
    be16(minBlock); be16(maxBlock)
    out ++= Array[Byte](0, 0, 0, 0, 0, 0) // min/max frame size: unknown
    val packed = (sampleRate.toLong << 44) | ((channels - 1L) << 41) |
      ((bitsPerSample - 1L) << 36) | nSamples
    (7 to 0 by -1).foreach(i => out += ((packed >> (8 * i)) & 0xff).toByte)
    out ++= new Array[Byte](16) // MD5 of the (absent) audio: zeros
    out.toArray
  }

  // ---------------------------------------------------------------------
  // OGG page walk (public Ogg framing spec + the Vorbis/Opus
  // identification headers): page count, stream codec, channels,
  // sample rate and EXACT duration from page headers alone — the
  // granule position of the final page of an audio stream is its
  // total PCM sample count (Vorbis: at the stream rate; Opus: at
  // 48 kHz minus the pre-skip), so no packet beyond the first-page ID
  // header is ever inspected and payloads are hopped by the lacing
  // table. CRCs are NOT verified (this is a metadata walk, not a
  // demuxer); a page claiming more segment data than the file holds
  // ends the walk, and validity requires >= 1 complete page with a
  // recognized ID header.
  // ---------------------------------------------------------------------

  final case class OggMeta(media_id: Long, valid: Boolean, codec: String,
                           sample_rate: Int, channels: Int, n_pages: Long,
                           n_samples: Long, duration_ms: Long)

  private def invalidOgg(id: Long) =
    OggMeta(id, valid = false, "", 0, 0, 0L, 0L, 0L)

  def oggMetadata(id: Long, bytes: Array[Byte]): OggMeta = {
    def le32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def le64(o: Int): Long = le32(o) | (le32(o + 4) << 32)
    def isPage(o: Int): Boolean = o + 27 <= bytes.length &&
      bytes(o) == 'O' && bytes(o + 1) == 'g' && bytes(o + 2) == 'g' &&
      bytes(o + 3) == 'S' && bytes(o + 4) == 0
    if (!isPage(0)) return invalidOgg(id)
    var off = 0
    var pages = 0L
    var lastGranule = 0L
    var firstBody: Array[Byte] = Array.emptyByteArray
    var walking = true
    while (walking && isPage(off)) {
      val nSegs = bytes(off + 26) & 0xff
      if (off + 27 + nSegs > bytes.length) walking = false
      else {
        var body = 0
        (0 until nSegs).foreach(i => body += bytes(off + 27 + i) & 0xff)
        val end = off + 27 + nSegs + body
        if (end > bytes.length) walking = false
        else {
          pages += 1
          val g = le64(off + 6)
          if (g >= 0) lastGranule = g // -1 marks a continuation page
          if (pages == 1L)
            firstBody = java.util.Arrays.copyOfRange(bytes, off + 27 + nSegs, end)
          off = end
        }
      }
    }
    if (pages == 0L) return invalidOgg(id)
    // exact-arithmetic-or-no-row (the mp4SampleStats contract): a
    // crafted 63-bit granule would wrap `lastGranule * 1000L`,
    // emitting a valid=true row with a garbage duration — malformed
    // instead
    if (lastGranule > Long.MaxValue / 1000L) return invalidOgg(id)
    // identification header of the first packet: Vorbis or Opus
    val f = firstBody
    if (f.length >= 16 && f(0) == 1 && f(1) == 'v' && f(2) == 'o' &&
        f(3) == 'r' && f(4) == 'b' && f(5) == 'i' && f(6) == 's') {
      val channels = f(11) & 0xff
      val rate = ((f(12) & 0xffL) | ((f(13) & 0xffL) << 8) |
        ((f(14) & 0xffL) << 16) | ((f(15) & 0xffL) << 24)).toInt
      if (rate <= 0 || channels == 0) invalidOgg(id)
      else OggMeta(id, valid = true, "vorbis", rate, channels, pages,
        lastGranule, lastGranule * 1000L / rate)
    } else if (f.length >= 12 && new String(f, 0, 8, "US-ASCII") == "OpusHead") {
      val channels = f(9) & 0xff
      val preSkip = (f(10) & 0xffL) | ((f(11) & 0xffL) << 8)
      val samples = math.max(0L, lastGranule - preSkip)
      if (channels == 0) invalidOgg(id)
      // Opus granules are ALWAYS at 48 kHz regardless of input rate
      else OggMeta(id, valid = true, "opus", 48000, channels, pages,
        samples, samples * 1000L / 48000L)
    } else invalidOgg(id)
  }

  /** Test/data-gen helper: a REAL Ogg stream — an ID-header page
    * (Vorbis or Opus) followed by data pages whose granule positions
    * accumulate `samplesPerPage`; CRCs zeroed (the walk documents it
    * does not verify them), lacing tables sized to the (zero) payload.
    */
  def encodeOgg(codec: String, sampleRate: Int, channels: Int,
                nDataPages: Int, samplesPerPage: Long,
                preSkip: Int = 0): Array[Byte] = {
    require(codec == "vorbis" || codec == "opus")
    require(nDataPages >= 1 && samplesPerPage >= 0 && channels >= 1)
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    def le(v: Long, n: Int): Unit =
      (0 until n).foreach(i => out += ((v >> (8 * i)) & 0xff).toByte)
    def page(granule: Long, headerType: Int, seq: Long,
             packet: Array[Byte]): Unit = {
      out ++= "OggS".getBytes("US-ASCII")
      out += 0 // version
      out += headerType.toByte
      le(granule, 8); le(0x4753L, 4) // serial
      le(seq, 4); le(0L, 4) // crc zeroed
      // lacing: 255-chunks + terminator (packet < 255*255 here)
      val full = packet.length / 255
      out += (full + 1).toByte
      (0 until full).foreach(_ => out += 0xff.toByte)
      out += (packet.length % 255).toByte
      out ++= packet
    }
    val idHeader =
      if (codec == "vorbis") {
        val h = new scala.collection.mutable.ArrayBuffer[Byte]
        h += 1; h ++= "vorbis".getBytes("US-ASCII")
        h ++= new Array[Byte](4) // version 0
        h += channels.toByte
        (0 until 4).foreach(i => h += ((sampleRate >> (8 * i)) & 0xff).toByte)
        h ++= new Array[Byte](13) // bitrates, blocksizes, framing
        h.toArray
      } else {
        val h = new scala.collection.mutable.ArrayBuffer[Byte]
        h ++= "OpusHead".getBytes("US-ASCII")
        h += 1 // version
        h += channels.toByte
        h += (preSkip & 0xff).toByte; h += ((preSkip >> 8) & 0xff).toByte
        (0 until 4).foreach(i => h += ((sampleRate >> (8 * i)) & 0xff).toByte)
        h ++= new Array[Byte](3) // gain, mapping family
        h.toArray
      }
    page(0L, 0x02, 0L, idHeader) // beginning-of-stream
    (1 to nDataPages).foreach { p =>
      val eos = if (p == nDataPages) 0x04 else 0x00
      page(samplesPerPage * p + (if (codec == "opus") preSkip else 0),
        eos, p.toLong, Array.emptyByteArray)
    }
    out.toArray
  }

  /** Per-partition FLAC / Ogg extraction — one typed row per input. */
  def flacTable(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[FlacMeta] = Encoders.product[FlacMeta]
    ds.mapPartitions(_.map(r => flacMetadata(r.media_id, r.content))).toDF()
  }

  def oggTable(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[OggMeta] = Encoders.product[OggMeta]
    ds.mapPartitions(_.map(r => oggMetadata(r.media_id, r.content))).toDF()
  }

  /** Container-metadata extraction across modalities: sniffs AVI /
    * WAV / MP4 / MP3 / legacy GRFT per row and runs the matching
    * header walk — same mapPartitions batch shape as [[decode]],
    * binary never leaves the executor, one typed metadata row out per
    * input.
    */
  def containerMetadata(ds: Dataset[MediaRow]): Dataset[ContainerMeta] = {
    implicit val enc: Encoder[ContainerMeta] = Encoders.product[ContainerMeta]
    ds.mapPartitions { it =>
      it.map { r =>
        val b = r.content
        if (isAvi(b))
          aviMetadata(r.media_id, b)
        else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
          wavMetadata(r.media_id, b)
        else if (b.length >= 8 && new String(b, 4, 4, "US-ASCII") == "ftyp")
          mp4Metadata(r.media_id, b)
        else if (b.length >= 4 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') {
          val m = flacMetadata(r.media_id, b)
          if (m.valid)
            ContainerMeta(r.media_id, valid = true, "flac", m.duration_ms, 1,
              m.sample_rate, m.channels, m.bits_per_sample, m.n_samples)
          else invalidMeta(r.media_id, "flac")
        } else if (b.length >= 5 && b(0) == 'O' && b(1) == 'g' && b(2) == 'g' &&
            b(3) == 'S' && b(4) == 0) {
          val m = oggMetadata(r.media_id, b)
          if (m.valid)
            ContainerMeta(r.media_id, valid = true, "ogg", m.duration_ms, 1,
              m.sample_rate, m.channels, 0, m.n_samples)
          else invalidMeta(r.media_id, "ogg")
        } else {
          // the MP3 sniff (ID3 prefix or one valid frame header) can
          // hit non-audio payloads whose first bytes spell "ID3" — so
          // a sniffed-but-invalid walk FALLS THROUGH to the remaining
          // sniffs instead of pinning the container label to "mp3"
          val m3 = if (isMp3(b)) mp3Metadata(r.media_id, b) else invalidMp3(r.media_id)
          if (m3.valid)
            ContainerMeta(r.media_id, valid = true, "mp3", m3.duration_ms, 1,
              m3.sample_rate, m3.channels, 0, m3.n_samples)
          else {
            val m = decodeHeader(b)
            if (m.valid)
              ContainerMeta(r.media_id, valid = true, "grft", 0L, 1, 0, 0, 0, m.nFrames.toLong)
            else invalidMeta(r.media_id, "unknown")
          }
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // REAL WAV PCM payload decode — integer PCM samples are raw in the
  // `data` chunk the RIFF walk above locates; no codec is involved, so
  // the decode is pure-JVM byte arithmetic: 8-bit unsigned, 16/24/32-bit
  // signed little-endian (the WAV PCM layouts). Features (RMS, peak,
  // zero-crossings, exact sample count) are what an audio curation pass
  // filters on — silence/clipping detection, level gates — before any
  // model sees a waveform. (Video frames: see the REAL video frame
  // decode section below — GIF/MJPEG are JDK-decodable; H.264 is not.)
  // ---------------------------------------------------------------------

  final case class PcmFeatures(media_id: Long, valid: Boolean, sample_rate: Int,
                               channels: Int, bits_per_sample: Int, n_frames: Long,
                               duration_ms: Long, rms: Double, peak: Double,
                               zero_crossings: Long, mean: Double)

  private def invalidPcm(id: Long) =
    PcmFeatures(id, valid = false, 0, 0, 0, 0L, 0L, 0.0, 0.0, 0L, 0.0)

  /** Locate the `data` chunk body: (start offset, clamped byte length).
    * The shared walk behind every payload-decode path. Keeps the LAST
    * `data` chunk when a (legal-if-unusual) file carries several —
    * the SAME first/last rule as [[wavMetadata]]'s size field, so the
    * decoded samples and the reported n_samples/duration always refer
    * to the same bytes. The walk ends (returning whatever was found)
    * on a malformed advance, again mirroring the metadata walk.
    */
  private def wavDataChunk(bytes: Array[Byte]): Option[(Int, Long)] = {
    def le32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    var off = 12
    var found: Option[(Int, Long)] = None
    var walking = true
    while (walking && off + 8 <= bytes.length) {
      val ckSize = le32(off + 4)
      if (new String(bytes, off, 4, "US-ASCII") == "data")
        found = Some((off + 8, math.min(ckSize, (bytes.length - off - 8).toLong)))
      val next = off + 8L + ckSize + (ckSize & 1L)
      if (next <= off || next > bytes.length.toLong) walking = false
      else off = next.toInt
    }
    found
  }

  /** Sample i (interleaved order) of a PCM payload as a raw signed
    * integer. WAV layouts: 8-bit is UNSIGNED with bias 128; 16/24/32
    * are signed little-endian.
    */
  private def pcmRaw(bytes: Array[Byte], dataStart: Int, bits: Int, i: Long): Long = {
    val o = dataStart + (i * (bits / 8)).toInt
    bits match {
      case 8 => (bytes(o) & 0xffL) - 128L
      case 16 => ((bytes(o) & 0xffL) | (bytes(o + 1).toLong << 8)).toShort.toLong
      case 24 =>
        val v = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16)
        if ((v & 0x800000L) != 0) v - 0x1000000L else v
      case _ =>
        (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | (bytes(o + 3).toLong << 24)
    }
  }

  private def pcmLayoutOk(meta: ContainerMeta): Boolean =
    meta.valid && meta.n_samples > 0 && meta.channels > 0 &&
      (meta.bits_per_sample == 8 || meta.bits_per_sample == 16 ||
        meta.bits_per_sample == 24 || meta.bits_per_sample == 32)

  /** Decode one WAV's PCM payload and reduce it to acoustic features
    * in ONE STREAMING PASS — samples are read off the byte array and
    * never materialized (a long clip costs no per-row buffer).
    * Normalization to [-1, 1] follows the AudioSystem convention
    * (divide by the type's max magnitude). Frames are
    * channel-interleaved; RMS/peak/mean run over all channels'
    * samples, zero-crossings count per-channel sign changes summed (a
    * stereo file's channels cross independently). Corrupt or
    * non-integer-PCM bytes return valid=false — the quarantine
    * contract every decode path shares.
    */
  def wavPcmFeatures(id: Long, bytes: Array[Byte]): PcmFeatures = {
    val meta = wavMetadata(id, bytes)
    if (!pcmLayoutOk(meta)) return invalidPcm(id)
    val bits = meta.bits_per_sample
    wavDataChunk(bytes) match {
      case None => invalidPcm(id)
      case Some((dataStart, dataLen)) =>
        val nSamplesAll = dataLen / (bits / 8) // across channels
        if (nSamplesAll <= 0) return invalidPcm(id)
        val maxMag = (1L << (bits - 1)).toDouble // 128 / 32768 / 2^23 / 2^31
        var i = 0L
        var sumSq = 0.0
        var sum = 0.0
        var peak = 0.0
        var crossings = 0L
        // previous sign per channel (0 until first nonzero); channel
        // count is bounded by the fmt chunk's 16-bit field
        val prevSign = new Array[Int](meta.channels)
        while (i < nSamplesAll) {
          val raw = pcmRaw(bytes, dataStart, bits, i)
          val s = raw / maxMag
          sumSq += s * s
          sum += s
          val mag = math.abs(s)
          if (mag > peak) peak = mag
          val ch = (i % meta.channels).toInt
          val sign = java.lang.Long.signum(raw)
          if (sign != 0) {
            if (prevSign(ch) != 0 && sign != prevSign(ch)) crossings += 1
            prevSign(ch) = sign
          }
          i += 1
        }
        PcmFeatures(id, valid = true, meta.sample_rate, meta.channels, bits,
          meta.n_samples, meta.duration_ms,
          math.sqrt(sumSq / nSamplesAll), peak, crossings, sum / nSamplesAll)
    }
  }

  /** Per-partition real PCM decode: WAV binary → acoustic features.
    * Same mapPartitions batch shape as [[decodeImages]]; the payload
    * never leaves the executor, one typed feature row out per input.
    */
  def wavFeatures(ds: Dataset[MediaRow]): Dataset[PcmFeatures] = {
    implicit val enc: Encoder[PcmFeatures] = Encoders.product[PcmFeatures]
    ds.mapPartitions(_.map(r => wavPcmFeatures(r.media_id, r.content)))
  }

  /** Fixed-width embedding from a WAV's PCM payload: per-band RMS over
    * `dim` equal time slices of the (channel-mixed) waveform — a
    * deterministic acoustic envelope, shaped exactly like the image
    * path's mean-color features so it feeds [[EmbeddingSearch]]
    * directly (audio near-dup / similarity clustering). Invalid or
    * non-PCM inputs are dropped (route them through [[wavFeatures]]
    * first for quarantine accounting).
    */
  def wavEmbeddings(ds: Dataset[MediaRow], dim: Int = 16): Dataset[FeatureRow] = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    implicit val enc: Encoder[FeatureRow] = Encoders.product[FeatureRow]
    ds.mapPartitions(_.flatMap { r =>
      val meta = wavMetadata(r.media_id, r.content)
      if (!pcmLayoutOk(meta) || meta.n_samples < dim) None
      else wavDataChunk(r.content).map { case (dataStart, dataLen) =>
        val bits = meta.bits_per_sample
        val maxMag = (1L << (bits - 1)).toDouble
        val nFrames = dataLen / (bits / 8) / meta.channels
        val out = new Array[Float](dim)
        var b = 0
        while (b < dim) {
          val lo = b.toLong * nFrames / dim
          val hi = (b + 1).toLong * nFrames / dim
          var sumSq = 0.0
          var i = lo * meta.channels
          val end = hi * meta.channels
          while (i < end) {
            val s = pcmRaw(r.content, dataStart, bits, i) / maxMag
            sumSq += s * s
            i += 1
          }
          out(b) = math.sqrt(sumSq / math.max(end - lo * meta.channels, 1L)).toFloat
          b += 1
        }
        FeatureRow(r.media_id, out)
      }
    })
  }

  /** Test/data-gen helper: a REAL RIFF/WAVE file (PCM fmt + data
    * chunks) with the given layout — the bytes any standard WAV reader
    * accepts.
    */
  def encodeWav(sampleRate: Int, channels: Int, bitsPerSample: Int,
                pcm: Array[Byte]): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val byteRate = sampleRate * channels * bitsPerSample / 8
    val blockAlign = channels * bitsPerSample / 8
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(sampleRate) ++ le32(byteRate) ++ le16(blockAlign) ++ le16(bitsPerSample)
    val data = "data".getBytes("US-ASCII") ++ le32(pcm.length) ++ pcm ++
      (if ((pcm.length & 1) == 1) Array[Byte](0) else Array.emptyByteArray)
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** Test/data-gen helper: a REAL minimal MP4 (ftyp + moov(mvhd +
    * n×trak) + mdat) with version-0 mvhd fields.
    */
  def encodeMp4(timescale: Int, duration: Int, nTracks: Int,
                payload: Array[Byte] = Array.emptyByteArray,
                trackDims: Seq[(Int, Int, Int)] = Seq.empty): Array[Byte] = {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(tpe: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8) ++ tpe.getBytes("US-ASCII") ++ body
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(512) ++
      "isomiso2".getBytes("US-ASCII"))
    // mvhd v0: version+flags, ctime, mtime, timescale, duration, then
    // rate/volume/reserved/matrix/predefined/nextTrackId (zeros suffice
    // for a metadata walk; total body = 100 bytes per spec)
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++
      be32(duration) ++ Array.fill[Byte](80)(0))
    // tkhd v0 body (84 bytes): vf, ctime, mtime, track_ID, reserved,
    // duration, then 52 bytes (reserved/layer/group/volume/matrix),
    // width and height as 16.16 fixed-point. trackDims plants
    // (duration, width, height) per track; absent entries stay zero.
    val traks = (0 until nTracks).map { i =>
      val (dur, w, h) = if (i < trackDims.length) trackDims(i) else (0, 0, 0)
      box("trak", box("tkhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(i + 1) ++
        be32(0) ++ be32(dur) ++ Array.fill[Byte](52)(0) ++
        be32(w << 16) ++ be32(h << 16)))
    }.toArray.flatten
    val moov = box("moov", mvhd ++ traks)
    val mdat = box("mdat", payload)
    ftyp ++ moov ++ mdat
  }

  /** Test/data-gen helper: a REAL minimal MP4 whose traks carry FULL
    * sample tables (mdia/mdhd + minf/stbl/{stsd,stsz,stts,stco}) —
    * the fixture [[mp4SampleStats]] walks. Per track: codec fourcc,
    * media timescale, per-sample sizes (uniform encoded as the stsz
    * uniform field when all equal and `forceSizeTable` is false),
    * stts (count, delta) runs, and chunk offsets. Payload bytes are
    * irrelevant to the walk (skipped by size) and omitted.
    */
  /** @param sps optional SPS NAL per track index: the sample entry is
    *             emitted as a full 78-byte VisualSampleEntry with an
    *             `avcC` child carrying the NAL (real ISO 14496-15
    *             layout); absent → the minimal 16-byte entry as before
    */
  def encodeMp4Sampled(movieTimescale: Int, movieDuration: Int,
                       tracks: Seq[(String, Int, Seq[Long], Seq[(Long, Long)], Int)],
                       forceSizeTable: Boolean = false,
                       sps: Map[Int, Array[Byte]] = Map.empty): Array[Byte] = {
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def box(tpe: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ tpe.getBytes("US-ASCII") ++ body
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(512L) ++
      "isomiso2".getBytes("US-ASCII"))
    val mvhd = box("mvhd", be32(0L) ++ be32(0L) ++ be32(0L) ++
      be32(movieTimescale.toLong) ++ be32(movieDuration.toLong) ++
      Array.fill[Byte](80)(0))
    val traks = tracks.zipWithIndex.map {
      case ((codec, mediaTs, sizes, sttsRuns, nChunks), i) =>
        val tkhd = box("tkhd", be32(0L) ++ be32(0L) ++ be32(0L) ++
          be32(i + 1L) ++ be32(0L) ++ be32(0L) ++ Array.fill[Byte](60)(0))
        val mdhd = box("mdhd", be32(0L) ++ be32(0L) ++ be32(0L) ++
          be32(mediaTs.toLong) ++
          be32(sttsRuns.map { case (c, d) => c * d }.sum))
        val stsd = sps.get(i) match {
          case Some(nal) =>
            // full VisualSampleEntry (8 sample-entry fields + 70
            // visual fields) + the decoder-config record matching the
            // codec fourcc: avcC (ver/profile/compat/level,
            // lengthSizeMinusOne 0xff = reserved6+3, numSps 0xe1 =
            // reserved3+1, len(2) + NAL, numPps 0) or hvcC (22-byte
            // header, one array of one type-33 NAL)
            val rec =
              if (codec == "hvc1" || codec == "hev1")
                box("hvcC", Array[Byte](1, // configurationVersion
                  0, 0, 0, 0, 0,           // PTL summary (walker-opaque)
                  0, 0, 0, 0, 0, 0, 0,     // constraint flags + level
                  0xf0.toByte, 0,          // min_spatial_segmentation
                  0xfc.toByte,             // parallelismType
                  0xfd.toByte,             // chromaFormat 4:2:0
                  0xf8.toByte, 0xf8.toByte, // bit depths
                  0, 0,                    // avgFrameRate
                  0x0f.toByte,             // flags + lengthSizeMinusOne
                  1,                       // numOfArrays
                  (0x80 | 33).toByte, 0, 1, // SPS array, 1 NAL
                  ((nal.length >> 8) & 0xff).toByte, (nal.length & 0xff).toByte) ++
                  nal)
              else
                box("avcC", Array[Byte](1, nal(1), nal(2), nal(3),
                  0xff.toByte, 0xe1.toByte,
                  ((nal.length >> 8) & 0xff).toByte, (nal.length & 0xff).toByte) ++
                  nal ++ Array[Byte](0))
            box("stsd", be32(0L) ++ be32(1L) ++
              box(codec, Array.fill[Byte](78)(0) ++ rec))
          case None =>
            box("stsd", be32(0L) ++ be32(1L) ++ box(codec, Array.fill[Byte](8)(0)))
        }
        val uniform = sizes.nonEmpty && !forceSizeTable && sizes.distinct.size == 1
        val stsz =
          if (uniform) box("stsz", be32(0L) ++ be32(sizes.head) ++ be32(sizes.length.toLong))
          else box("stsz", be32(0L) ++ be32(0L) ++ be32(sizes.length.toLong) ++
            sizes.flatMap(be32).toArray)
        val stts = box("stts", be32(0L) ++ be32(sttsRuns.length.toLong) ++
          sttsRuns.flatMap { case (c, d) => be32(c) ++ be32(d) }.toArray)
        val stco = box("stco", be32(0L) ++ be32(nChunks.toLong) ++
          (0 until nChunks).flatMap(j => be32(1000L + j)).toArray)
        val stbl = box("stbl", stsd ++ stsz ++ stts ++ stco)
        val minf = box("minf", stbl)
        val mdia = box("mdia", mdhd ++ minf)
        box("trak", tkhd ++ mdia)
    }.toArray.flatten
    ftyp ++ box("moov", mvhd ++ traks)
  }

  /** Test/data-gen helper: a REAL MPEG audio stream — each requested
    * frame is a correctly-sized MPEG1/2 Layer III frame (header + zero
    * payload); optional ID3v2 prefix with a syncsafe size. Frames:
    * (bitrateIdx, sampleRateIdx, mpeg1, mono).
    */
  def encodeMp3(frames: Seq[(Int, Int, Boolean, Boolean)],
                id3Bytes: Int = 0): Array[Byte] = {
    val id3 =
      if (id3Bytes <= 0) Array.emptyByteArray
      else "ID3".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0,
        ((id3Bytes >> 21) & 0x7f).toByte, ((id3Bytes >> 14) & 0x7f).toByte,
        ((id3Bytes >> 7) & 0x7f).toByte, (id3Bytes & 0x7f).toByte) ++
        Array.fill[Byte](id3Bytes)(0)
    val body = frames.flatMap { case (brIdx, srIdx, mpeg1, mono) =>
      val versionBits = if (mpeg1) 3 else 2
      val b1 = (0xe0 | (versionBits << 3) | (1 << 1) | 1).toByte // Layer III
      val b2 = ((brIdx << 4) | (srIdx << 2)).toByte              // no padding
      val b3 = (if (mono) 0xc0 else 0x00).toByte
      val kbps = (if (mpeg1) Mp3BitrateV1 else Mp3BitrateV2)(2)(brIdx)
      val rate = Mp3SampleRate(versionBits)(srIdx)
      val len = if (mpeg1) 144 * kbps * 1000 / rate else 72 * kbps * 1000 / rate
      Array(0xff.toByte, b1, b2, b3) ++ Array.fill[Byte](len - 4)(0)
    }.toArray
    id3 ++ body
  }

  // ---------------------------------------------------------------------
  // PNG ancillary-chunk walk (public PNG spec, RFC 2083 / ISO 15948):
  // the provenance + true-DPI fields a curation pass keys on BEFORE
  // any pixel decode — tEXt Software/Author (generator screening:
  // synthetic-image farms stamp themselves here), iTXt Comment with
  // its language tag (UTF-8 provenance), and pHYs pixels-per-unit
  // (the TRUE physical density; scanned-document routing needs DPI,
  // not pixel count). Chunk framing is length + type + data + CRC;
  // CRCs are NOT verified (metadata walk, not a decoder — the Ogg
  // discipline), IHDR must be first and IEND must close the stream
  // or the bytes read invalid, and every offset bound is checked in
  // Long arithmetic (the wrapped-offset lesson of the EXIF/ID3/mp4
  // walks: a crafted 32-bit length must read invalid, never index
  // out of bounds).
  // ---------------------------------------------------------------------

  final case class PngChunkMeta(media_id: Long, valid: Boolean,
                                width: Long, height: Long, bit_depth: Int,
                                color_type: Int, n_chunks: Long,
                                ppu_x: Long, ppu_y: Long, unit: Int,
                                software: String, author: String,
                                comment_lang: String, comment: String)

  private def invalidPng(id: Long) =
    PngChunkMeta(id, valid = false, 0L, 0L, 0, 0, 0L, 0L, 0L, 0, "", "", "", "")

  private val PngSig: Array[Int] = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  def pngChunks(id: Long, bytes: Array[Byte]): PngChunkMeta = {
    if (bytes.length < 8 || (0 until 8).exists(i => (bytes(i) & 0xff) != PngSig(i)))
      return invalidPng(id)
    def be32(o: Int): Long = ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
      ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    var off = 8
    var nChunks = 0L
    var w = 0L; var h = 0L; var bit = 0; var color = 0
    var ppuX = 0L; var ppuY = 0L; var unit = 0
    var software = ""; var author = ""; var cLang = ""; var comment = ""
    var sawIhdr = false; var sawIend = false; var malformed = false
    var walking = true
    while (walking) {
      if (off.toLong + 8 > bytes.length) { malformed = true; walking = false }
      else {
        val len = be32(off) // unsigned 32-bit, read as Long
        val typ = new String(bytes, off + 4, 4, "US-ASCII")
        // Long bound: a crafted len near 2^31 must end the walk as
        // malformed, not wrap an Int offset
        if (len > Int.MaxValue - 12 || off.toLong + 12L + len > bytes.length) {
          malformed = true; walking = false
        } else {
          val d0 = off + 8
          val dLen = len.toInt
          if (nChunks == 0L && typ != "IHDR") { malformed = true; walking = false }
          else {
            typ match {
              case "IHDR" =>
                if (dLen < 13) { malformed = true; walking = false }
                else {
                  sawIhdr = true
                  w = be32(d0); h = be32(d0 + 4)
                  bit = bytes(d0 + 8) & 0xff; color = bytes(d0 + 9) & 0xff
                }
              case "pHYs" =>
                if (dLen >= 9) {
                  ppuX = be32(d0); ppuY = be32(d0 + 4); unit = bytes(d0 + 8) & 0xff
                }
              case "tEXt" =>
                val nul = (d0 until d0 + dLen).indexWhere(bytes(_) == 0) match {
                  case -1 => -1
                  case i => d0 + i
                }
                if (nul >= 0) {
                  val key = new String(bytes, d0, nul - d0, "ISO-8859-1")
                  val value = new String(bytes, nul + 1, d0 + dLen - nul - 1,
                    "ISO-8859-1")
                  key match {
                    case "Software" => if (software.isEmpty) software = value
                    case "Author" => if (author.isEmpty) author = value
                    case _ => ()
                  }
                }
              case "iTXt" =>
                // keyword\0 cflag cmethod lang\0 translated\0 text
                var p = d0
                val end = d0 + dLen
                def untilNul(): Option[String] = {
                  val s = p
                  while (p < end && bytes(p) != 0) p += 1
                  if (p >= end) None
                  else { val r = new String(bytes, s, p - s, "UTF-8"); p += 1; Some(r) }
                }
                (for {
                  key <- untilNul()
                  // compressed iTXt (flag != 0) is skipped, not guessed
                  cflag = if (p < end) bytes(p) & 0xff else -1
                  _ = { p += 2 } // flag + method
                  lang <- if (cflag == 0) untilNul() else None
                  _ <- untilNul() // translated keyword
                } yield (key, lang, new String(bytes, p, end - p, "UTF-8")))
                  .foreach { case (key, lang, text) =>
                    if (key == "Comment" && comment.isEmpty) {
                      cLang = lang; comment = text
                    }
                  }
              case "IEND" => sawIend = true; walking = false
              case _ => ()
            }
            if (walking || sawIend) nChunks += 1
            off += 12 + dLen
          }
        }
      }
    }
    // IEND must CLOSE the stream (the header-comment contract, ADVICE
    // r16): trailing bytes after IEND — polyglot payloads, appended
    // garbage — read invalid, not valid-with-a-tail
    if (malformed || !sawIhdr || !sawIend || off != bytes.length) invalidPng(id)
    else PngChunkMeta(id, valid = true, w, h, bit, color, nChunks,
      ppuX, ppuY, unit, software, author, cLang, comment)
  }

  /** Per-partition PNG chunk extraction — one typed row per input. */
  def pngChunkTable(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[PngChunkMeta] = Encoders.product[PngChunkMeta]
    ds.mapPartitions(_.map(r => pngChunks(r.media_id, r.content))).toDF()
  }

  /** Test/data-gen helper: a REAL PNG with ancillary chunks — valid
    * CRC32 per chunk (java.util.zip.CRC32 — ImageIO accepts the
    * output), an 8-bit RGB IHDR, a real zlib IDAT of zero scanlines,
    * the requested tEXt/iTXt/pHYs chunks, IEND. Chunk order: IHDR,
    * tEXt*, iTXt*, pHYs?, IDAT, IEND.
    */
  def encodePngMeta(width: Int, height: Int,
                    texts: Seq[(String, String)] = Seq.empty,
                    itxts: Seq[(String, String, String)] = Seq.empty,
                    phys: Option[(Long, Long, Int)] = None): Array[Byte] = {
    require(width >= 1 && height >= 1)
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    PngSig.foreach(b => out += b.toByte)
    def be32(v: Long): Seq[Byte] = Seq(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out ++= be32(data.length.toLong)
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out ++= tb; out ++= data; out ++= be32(crc.getValue)
    }
    chunk("IHDR", (be32(width.toLong) ++ be32(height.toLong) ++
      Seq[Byte](8, 2, 0, 0, 0)).toArray)
    texts.foreach { case (k, v) =>
      chunk("tEXt", k.getBytes("ISO-8859-1") ++ Array[Byte](0) ++
        v.getBytes("ISO-8859-1"))
    }
    itxts.foreach { case (k, lang, text) =>
      chunk("iTXt", k.getBytes("UTF-8") ++ Array[Byte](0, 0, 0) ++
        lang.getBytes("US-ASCII") ++ Array[Byte](0, 0) ++
        text.getBytes("UTF-8"))
    }
    phys.foreach { case (x, y, u) =>
      chunk("pHYs", (be32(x) ++ be32(y) ++ Seq(u.toByte)).toArray)
    }
    // real zlib IDAT: height filter-0 scanlines of RGB zeros
    val raw = new Array[Byte](height * (1 + 3 * width))
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](raw.length + 64)
    val n = defl.deflate(buf)
    defl.end()
    chunk("IDAT", java.util.Arrays.copyOf(buf, n))
    chunk("IEND", Array.emptyByteArray)
    out.toArray
  }

  // ---------------------------------------------------------------------
  // Matroska/WebM EBML header walk (public Matroska spec / RFC 8794
  // EBML): the dominant FREE video container — the one the MP4 box
  // walk cannot route. Elements are ID-VINT + size-VINT + payload;
  // the walk descends EBML-header → Segment → Info/Tracks, skips
  // everything else (SeekHead, Clusters) by size hop, and emits one
  // typed row per TrackEntry with the file-level routing fields
  // (DocType webm/matroska, TimestampScale, WritingApp). Geometry
  // and channel counts are EBML uints (exact); SamplingFrequency is
  // an EBML float — read only when it is EXACTLY integral Hz, else
  // the track reads malformed (the exact-arithmetic-or-no-row
  // contract). All offset bounds in Long; malformed structure yields
  // NO rows, never a guess.
  // ---------------------------------------------------------------------

  final case class MkvTrack(media_id: Long, valid: Boolean, doc_type: String,
                            timestamp_scale: Long, writing_app: String,
                            track_number: Long, track_type: Int,
                            codec_id: String, pixel_width: Long,
                            pixel_height: Long, channels: Long,
                            sampling_rate: Long)

  def mkvTracks(id: Long, bytes: Array[Byte]): Seq[MkvTrack] = {
    val n = bytes.length
    // VINT length from the first byte's leading-zero count (RFC 8794).
    // Bounds-guarded BEFORE the dereference (ADVICE r16): empty input,
    // a bare 4-byte EBML-ID prefix, a header-only stream (readId at
    // o == n), or a last element ending exactly at the buffer end all
    // reach here with o >= n — the walk must yield no rows, not throw
    // out of the Spark task.
    def vlen(o: Int): Int = {
      if (o < 0 || o >= n) return -1
      val b = bytes(o) & 0xff
      if (b == 0) -1
      else 8 - (31 - Integer.numberOfLeadingZeros(b)) // 1xxx→1 … 0000_0001→8
    }
    // element ID: marker bits KEPT (IDs are compared as encoded)
    def readId(o: Int): (Long, Int) = {
      val l = vlen(o)
      if (l < 1 || l > 4 || o.toLong + l > n) return (-1L, 0)
      var v = 0L
      (0 until l).foreach(i => v = (v << 8) | (bytes(o + i) & 0xffL))
      (v, l)
    }
    // size: marker bit stripped; all-ones payload = unknown (-1)
    def readSize(o: Int): (Long, Int) = {
      val l = vlen(o)
      if (l < 1 || l > 8 || o.toLong + l > n) return (-2L, 0)
      var v = (bytes(o) & 0xffL) & ((1L << (8 - l)) - 1)
      (1 until l).foreach(i => v = (v << 8) | (bytes(o + i) & 0xffL))
      val allOnes = (1L << (7 * l)) - 1
      (if (v == allOnes) -1L else v, l)
    }
    def uint(o: Int, len: Int): Long = {
      var v = 0L
      (0 until len).foreach(i => v = (v << 8) | (bytes(o + i) & 0xffL))
      v
    }
    // EBML strings may be NUL-padded (RFC 8794) -- trim at the pad
    def str(o: Int, len: Int): String =
      new String(bytes, o, len, "UTF-8").takeWhile(_ != '\u0000')
    // walk one master element's children, dispatching by encoded ID
    def children(o: Int, end: Long)(f: (Long, Int, Int) => Boolean): Boolean = {
      var p = o
      while (p.toLong < end) {
        val (eid, il) = readId(p)
        if (il == 0) return false
        val (sz, sl) = readSize(p + il)
        if (sl == 0 || sz < 0) return false // unknown size only at Segment
        val d = p + il + sl
        if (d.toLong + sz > end) return false
        if (!f(eid, d, sz.toInt)) return false
        p = d + sz.toInt
      }
      true
    }
    // --- EBML header ---------------------------------------------------
    val (hid, hil) = readId(0)
    if (hid != 0x1A45DFA3L) return Seq.empty
    val (hsz, hsl) = readSize(hil)
    if (hsl == 0 || hsz < 0 || hil.toLong + hsl + hsz > n) return Seq.empty
    var docType = ""
    if (!children(hil + hsl, (hil + hsl).toLong + hsz) { (eid, d, sz) =>
      if (eid == 0x4282L) docType = str(d, sz)
      true
    }) return Seq.empty
    // --- Segment -------------------------------------------------------
    val so = hil + hsl + hsz.toInt
    val (sid, sil) = readId(so)
    if (sid != 0x18538067L) return Seq.empty
    val (ssz, ssl) = readSize(so + sil)
    if (ssl == 0) return Seq.empty
    val sBody = so + sil + ssl
    // unknown segment size (streamed files): extends to end of buffer
    val sEnd = if (ssz == -1L) n.toLong else sBody.toLong + ssz
    if (sEnd > n) return Seq.empty
    var tsScale = 1000000L // spec default
    var writingApp = ""
    val tracks = scala.collection.mutable.ArrayBuffer.empty[MkvTrack]
    var structOk = true
    if (!children(sBody, sEnd) { (eid, d, sz) =>
      eid match {
        case 0x1549A966L => // Info
          if (!children(d, d.toLong + sz) { (iid, di, szi) =>
            iid match {
              case 0x2AD7B1L => tsScale = uint(di, szi)
              case 0x5741L => writingApp = str(di, szi)
              case _ => ()
            }
            true
          }) structOk = false
        case 0x1654AE6BL => // Tracks
          if (!children(d, d.toLong + sz) { (tid, dt, szt) =>
            if (tid == 0xAEL) { // TrackEntry
              var num = 0L; var ttype = 0; var codec = ""
              var pw = 0L; var ph = 0L; var ch = 0L; var rate = 0L
              var trackOk = true
              val ok = children(dt, dt.toLong + szt) { (fid, df, szf) =>
                fid match {
                  case 0xD7L => num = uint(df, szf)
                  case 0x83L => ttype = uint(df, szf).toInt
                  case 0x86L => codec = str(df, szf)
                  case 0xE0L => // Video
                    // a structurally malformed sub-block (bad VINT,
                    // child overrunning its parent) must fail the
                    // track, not emit partial geometry (ADVICE r16)
                    if (!children(df, df.toLong + szf) { (vid, dv, szv) =>
                      vid match {
                        case 0xB0L => pw = uint(dv, szv)
                        case 0xBAL => ph = uint(dv, szv)
                        case _ => ()
                      }
                      true
                    }) trackOk = false
                  case 0xE1L => // Audio
                    if (!children(df, df.toLong + szf) { (aid, da, sza) =>
                      aid match {
                        case 0x9FL => ch = uint(da, sza)
                        case 0xB5L => // float SamplingFrequency
                          val f = sza match {
                            case 4 => java.lang.Float.intBitsToFloat(
                              uint(da, 4).toInt).toDouble
                            case 8 => java.lang.Double.longBitsToDouble(uint(da, 8))
                            case _ => Double.NaN
                          }
                          // exact integral Hz or the track is malformed
                          if (f.isNaN || f < 0 || f > 1e12 ||
                              f != math.rint(f)) trackOk = false
                          else rate = f.toLong
                        case _ => ()
                      }
                      true
                    }) trackOk = false
                  case _ => ()
                }
                true
              }
              if (ok && trackOk)
                tracks += MkvTrack(id, valid = true, docType, tsScale,
                  writingApp, num, ttype, codec, pw, ph, ch, rate)
              else structOk = false
            }
            true
          }) structOk = false
        case _ => () // SeekHead, Cluster, Cues, … hopped by size
      }
      true
    }) return Seq.empty
    if (!structOk) Seq.empty
    else tracks.toSeq.map(t => t.copy(timestamp_scale = tsScale,
      writing_app = writingApp, doc_type = docType))
  }

  /** Per-partition Matroska/WebM extraction — one row per track. */
  def mkvTable(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc: Encoder[MkvTrack] = Encoders.product[MkvTrack]
    ds.mapPartitions(_.flatMap(r => mkvTracks(r.media_id, r.content))).toDF()
  }

  /** Test/data-gen helper: a REAL Matroska/WebM header — EBML header
    * with DocType, Segment with Info (TimestampScale, WritingApp) and
    * Tracks; minimal-length VINT sizes, uints minimal-width, the
    * audio SamplingFrequency as an 8-byte EBML float. Tracks:
    * (number, isVideo, codecId, a, b) where video a/b =
    * width/height, audio a/b = channels/rateHz.
    */
  def encodeMkv(docType: String, timestampScale: Long, writingApp: String,
                tracks: Seq[(Long, Boolean, String, Long, Long)]): Array[Byte] = {
    def vint(v: Long): Array[Byte] = {
      var l = 1
      while (l < 8 && v >= (1L << (7 * l)) - 1) l += 1
      val out = new Array[Byte](l)
      var x = v | (1L << (7 * l))
      (0 until l).foreach { i =>
        out(l - 1 - i) = (x & 0xff).toByte; x >>= 8
      }
      out
    }
    def idBytes(eid: Long): Array[Byte] = {
      val l = if (eid <= 0xffL) 1 else if (eid <= 0xffffL) 2
        else if (eid <= 0xffffffL) 3 else 4
      (0 until l).map(i => ((eid >> (8 * (l - 1 - i))) & 0xff).toByte).toArray
    }
    def el(eid: Long, payload: Array[Byte]): Array[Byte] =
      idBytes(eid) ++ vint(payload.length.toLong) ++ payload
    def uintB(v: Long): Array[Byte] = {
      var l = 1
      while (l < 8 && v >= (1L << (8 * l))) l += 1
      (0 until l).map(i => ((v >> (8 * (l - 1 - i))) & 0xff).toByte).toArray
    }
    def floatB(v: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).map(i => ((bits >> (8 * (7 - i))) & 0xff).toByte).toArray
    }
    val header = el(0x1A45DFA3L,
      el(0x4286L, uintB(1L)) ++ el(0x4282L, docType.getBytes("UTF-8")) ++
        el(0x4287L, uintB(if (docType == "webm") 4L else 4L)))
    val info = el(0x1549A966L,
      el(0x2AD7B1L, uintB(timestampScale)) ++
        el(0x5741L, writingApp.getBytes("UTF-8")))
    val trackEntries = tracks.map { case (num, isVideo, codec, a, b) =>
      val base = el(0xD7L, uintB(num)) ++
        el(0x83L, uintB(if (isVideo) 1L else 2L)) ++
        el(0x86L, codec.getBytes("US-ASCII"))
      val media =
        if (isVideo) el(0xE0L, el(0xB0L, uintB(a)) ++ el(0xBAL, uintB(b)))
        else el(0xE1L, el(0x9FL, uintB(a)) ++ el(0xB5L, floatB(b.toDouble)))
      el(0xAEL, base ++ media)
    }.toArray.flatten
    val segment = el(0x18538067L, info ++ el(0x1654AE6BL, trackEntries))
    header ++ segment
  }

  /** Test/data-gen helper: a real PNG with a pixel function. */
  def encodePng(width: Int, height: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // ---------------------------------------------------------------------
  // REAL video frame decode — the JDK-decodable half of the video
  // modality: animated GIF (the multi-frame ImageIO reader) and
  // Motion-JPEG-in-AVI (a RIFF walk — the wavMetadata discipline — to
  // the `movi` list, where every '##dc'/'##db' chunk is a standalone
  // JPEG the ImageIO codec decodes). H.264/H.265/VP9 payloads remain
  // the DOCUMENTED stub: no JDK codec exists, and faking one would put
  // fake numbers behind a real-looking API — those files still flow
  // through [[mp4Tracks]]/[[containerMetadata]] for metadata-level
  // curation (route by resolution/duration BEFORE any decode), and
  // [[videoFrames]] returns zero rows for them by contract.
  // ---------------------------------------------------------------------

  final case class FrameMeta(media_id: Long, frame_idx: Int, width: Int, height: Int,
                             mean_r: Double, mean_g: Double, mean_b: Double)

  private def frameMeta(id: Long, idx: Int,
                        img: java.awt.image.BufferedImage): FrameMeta = {
    val w = img.getWidth; val h = img.getHeight
    var r = 0L; var g = 0L; var b = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        x += 1
      }
      y += 1
    }
    val n = math.max(w.toLong * h, 1L).toDouble
    FrameMeta(id, idx, w, h, r / n, g / n, b / n)
  }

  /** Animated-GIF frames via the JDK's multi-image GIF reader: every
    * `stride`-th frame decoded to dimensions + mean RGB. Frames are
    * decoded AS STORED (no disposal-method composition — per-frame
    * features don't need the composited canvas, and compositing would
    * force decoding every skipped frame, defeating stride sampling).
    * Corrupt frames are skipped, not fatal (the quarantine contract).
    */
  def gifFrames(id: Long, bytes: Array[Byte], stride: Int = 1): Seq[FrameMeta] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    if (imageFormat(bytes) != "gif") return Seq.empty
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return Seq.empty
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          (0 until n by stride).flatMap { i =>
            try Some(frameMeta(id, i, reader.read(i)))
            catch { case _: Exception => None }
          }
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: Exception => Seq.empty }
  }

  /** RIFF/AVI sniff: 'RIFF' …size… 'AVI '. */
  def isAvi(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "AVI "

  private def aviLe32(bytes: Array[Byte], o: Int): Long =
    (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)

  /** Walk the RIFF chunks of [from, to): LIST chunks recurse (hdrl,
    * movi, and movi's optional 'rec ' groupings), plain chunks hit the
    * callback. Same hostile-size hygiene as [[wavMetadata]]: long
    * arithmetic advance, malformed step ends the walk.
    */
  private def riffWalk(bytes: Array[Byte], from: Int, to: Int)
                      (f: (String, Int, Int) => Unit): Unit = {
    var off = from
    var walking = true
    while (walking && off + 8 <= to) {
      val ckId = new String(bytes, off, 4, "US-ASCII")
      val ckSize = aviLe32(bytes, off + 4)
      val body = off + 8
      val bodyEnd = math.min(body + ckSize, to.toLong).toInt
      if (ckId == "LIST" && body + 4 <= to)
        riffWalk(bytes, body + 4, bodyEnd)(f)
      else if (body <= bodyEnd) f(ckId, body, bodyEnd)
      val next = body.toLong + ckSize + (ckSize & 1L)
      if (next <= off || next > to.toLong) walking = false
      else off = next.toInt
    }
  }

  /** AVI container metadata from the `avih` main header: frame cadence
    * (µs per frame), total frames, and canvas dimensions — duration
    * follows. The video-side sibling of [[wavMetadata]]; n_samples
    * carries the frame count, sample_rate the integer fps.
    */
  def aviMetadata(id: Long, bytes: Array[Byte]): ContainerMeta = {
    if (!isAvi(bytes)) return invalidMeta(id, "avi")
    var usPerFrame = 0L; var totalFrames = 0L; var streams = 0L
    var found = false
    riffWalk(bytes, 12, bytes.length) { (ckId, body, bodyEnd) =>
      if (ckId == "avih" && bodyEnd - body >= 28 && !found) {
        found = true
        usPerFrame = aviLe32(bytes, body)
        totalFrames = aviLe32(bytes, body + 16)
        streams = aviLe32(bytes, body + 24)
      }
    }
    if (!found) invalidMeta(id, "avi")
    else ContainerMeta(id, valid = true, "avi",
      duration_ms = usPerFrame * totalFrames / 1000L,
      n_tracks = streams.toInt,
      sample_rate = if (usPerFrame > 0) (1000000L / usPerFrame).toInt else 0,
      channels = 0, bits_per_sample = 0, n_samples = totalFrames)
  }

  /** Motion-JPEG frames from an AVI: every compressed video chunk
    * ('##dc'; '##db' uncompressed-flagged chunks also carry JPEG bytes
    * in MJPEG files) in stream order, every `stride`-th decoded via
    * the REAL ImageIO JPEG codec. Non-JPEG payloads (a '##dc' chunk
    * holding H.264 NALs) fail the magic sniff and are skipped — which
    * is exactly the documented-stub contract, enforced per chunk.
    */
  def aviMjpegFrames(id: Long, bytes: Array[Byte], stride: Int = 1): Seq[FrameMeta] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    if (!isAvi(bytes)) return Seq.empty
    val out = Seq.newBuilder[FrameMeta]
    var idx = 0
    riffWalk(bytes, 12, bytes.length) { (ckId, body, bodyEnd) =>
      val isFrame = ckId.length == 4 &&
        ckId(0).isDigit && ckId(1).isDigit &&
        ckId(2) == 'd' && (ckId(3) == 'c' || ckId(3) == 'b')
      if (isFrame) {
        val len = bodyEnd - body
        if (idx % stride == 0 && len >= 3 &&
            (bytes(body) & 0xff) == 0xff && (bytes(body + 1) & 0xff) == 0xd8) {
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes, body, len))
            if (img != null) out += frameMeta(id, idx, img)
          } catch { case _: Exception => () }
        }
        idx += 1
      }
    }
    out.result()
  }

  /** Per-partition frame decode across the JDK-decodable video formats:
    * animated GIF and MJPEG-in-AVI route to their REAL decoders;
    * everything else (H.264-in-MP4 and friends) yields zero rows by
    * the documented-stub contract. Same mapPartitions shape as
    * [[decodeImages]]; payload bytes never leave the executor.
    */
  def videoFrames(ds: Dataset[MediaRow], stride: Int = 1): Dataset[FrameMeta] = {
    implicit val enc: Encoder[FrameMeta] = Encoders.product[FrameMeta]
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        if (imageFormat(r.content) == "gif") gifFrames(r.media_id, r.content, stride)
        else if (isAvi(r.content)) aviMjpegFrames(r.media_id, r.content, stride)
        else Seq.empty
      }
    }
  }

  final case class FrameEmbedding(media_id: Long, frame_idx: Int, features: Array[Float])

  /** Fixed-width per-frame embedding: `dim`-bin luma histogram
    * (ITU-R 601 integer weights), L1-normalized — the video sibling of
    * [[wavEmbeddings]], shaped to feed [[EmbeddingSearch]] directly
    * (frame near-dup, scene clustering, frame-level decontamination).
    */
  def videoFrameEmbeddings(ds: Dataset[MediaRow], stride: Int = 1,
                           dim: Int = 16): Dataset[FrameEmbedding] = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    implicit val enc: Encoder[FrameEmbedding] = Encoders.product[FrameEmbedding]
    def hist(id: Long, idx: Int, img: java.awt.image.BufferedImage): FrameEmbedding = {
      val out = new Array[Float](dim)
      val w = img.getWidth; val h = img.getHeight
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          val luma = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
            114 * (p & 0xff)) / 1000
          out(luma * dim / 256) += 1f
          x += 1
        }
        y += 1
      }
      val n = math.max(w.toLong * h, 1L).toFloat
      var i = 0
      while (i < dim) { out(i) /= n; i += 1 }
      FrameEmbedding(id, idx, out)
    }
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        if (imageFormat(r.content) == "gif") {
          try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(r.content))
            try {
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) Seq.empty
              else {
                val reader = readers.next()
                try {
                  reader.setInput(iis)
                  (0 until reader.getNumImages(true) by stride).flatMap { i =>
                    try Some(hist(r.media_id, i, reader.read(i)))
                    catch { case _: Exception => None }
                  }
                } finally reader.dispose()
              }
            } finally iis.close()
          } catch { case _: Exception => Seq.empty }
        } else if (isAvi(r.content)) {
          val frames = Seq.newBuilder[FrameEmbedding]
          var idx = 0
          riffWalk(r.content, 12, r.content.length) { (ckId, body, bodyEnd) =>
            val isFrame = ckId.length == 4 &&
              ckId(0).isDigit && ckId(1).isDigit &&
              ckId(2) == 'd' && (ckId(3) == 'c' || ckId(3) == 'b')
            if (isFrame) {
              val len = bodyEnd - body
              if (idx % stride == 0 && len >= 3 &&
                  (r.content(body) & 0xff) == 0xff && (r.content(body + 1) & 0xff) == 0xd8) {
                try {
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(r.content, body, len))
                  if (img != null) frames += hist(r.media_id, idx, img)
                } catch { case _: Exception => () }
              }
              idx += 1
            }
          }
          frames.result()
        } else Seq.empty
      }
    }
  }

  /** Test/data-gen helper: a REAL animated GIF — the JDK GIF sequence
    * writer, one image per frame (what any GIF decoder, not just ours,
    * reads back).
    */
  def encodeGifAnimated(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "need at least one frame")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { img =>
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Test/data-gen helper: a REAL minimal MJPEG-in-AVI — RIFF('AVI '
    * LIST(hdrl avih LIST(strl strh strf)) LIST(movi 00dc…)) with each
    * frame a standalone ImageIO-encoded JPEG.
    */
  def encodeAviMjpeg(width: Int, height: Int, usPerFrame: Int,
                     frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if ((body.length & 1) == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(tpe: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", tpe.getBytes("US-ASCII") ++ body)
    val jpegs = frames.map { img =>
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val avih = chunk("avih", le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(jpegs.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width) ++ le32(height) ++ Array.fill[Byte](16)(0))
    val strh = chunk("strh", "vids".getBytes("US-ASCII") ++
      "MJPG".getBytes("US-ASCII") ++ Array.fill[Byte](48)(0))
    // strf = BITMAPINFOHEADER (40 bytes)
    val strf = chunk("strf", le32(40) ++ le32(width) ++ le32(height) ++
      le16(1) ++ le16(24) ++ "MJPG".getBytes("US-ASCII") ++
      le32(width * height * 3) ++ Array.fill[Byte](16)(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi", jpegs.toArray.flatMap(j => chunk("00dc", j)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** Synthesize a deterministic media table (no binary testdata table
    * exists; generation is seeded by media_id so plans are reproducible).
    */
  def syntheticTable(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    spark.range(n.toLong).map { i =>
      val w = 64 + (i % 16).toInt * 32
      val h = 64 + (i % 9).toInt * 48
      val frames = 1 + (i % 30).toInt
      val payload = Array.tabulate((i % 64).toInt + 16)(j => ((i * 31 + j) % 251).toByte)
      MediaRow(i, if (i % 3 == 0) "video" else "image", encode(w, h, frames, payload))
    }
  }
}
