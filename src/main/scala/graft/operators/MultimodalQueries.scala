package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.HintBridge
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata, with decode / feature-extraction / frame-sampling as
  * per-partition batch transforms (north-star surface).
  *
  * The decode step is a REAL pure-JVM container parse over three
  * public formats whose headers need no codec library: BMP
  * (BITMAPINFOHEADER width/height), WAV (RIFF chunk walk →
  * channels/rate/data size → duration), and YUV4MPEG2 (plain-text
  * header + FRAME markers → dimensions/frame count). [[synthesizeMedia]]
  * builds genuine container bytes with parameters derived from doc_id,
  * so the DuckDB oracle recomputes the expected features from the
  * fixture keys while [[decodeFeatures]] reads them from the bytes —
  * the contract a real codec would satisfy. Deeper decode (pixel/PCM
  * content) would slot into the same per-partition loop.
  *
  * Scale: payload bytes never shuffle — decode is a narrow map; only
  * extracted (small) features flow into joins/aggs downstream. For
  * real media, set `spark.sql.files.maxPartitionBytes` so one
  * partition's payloads fit executor memory.
  */
object MultimodalQueries {

  /** Deterministic fake "media" payload derived from document text:
    * utf-8 bytes standing in for an encoded image/audio blob. */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("source").as("origin"),
        octet_length(col("text")).as("n_bytes")).as("meta"))

  // ---------------------------------------------------------------
  // container synthesis: REAL format bytes, parameters from doc_id
  // ---------------------------------------------------------------

  private def le16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
  }
  private def le32(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
    b.write((v >> 16) & 0xff); b.write((v >> 24) & 0xff)
  }
  private def ascii(b: java.io.ByteArrayOutputStream, s: String): Unit =
    b.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** Uncompressed 24-bpp BMP (BITMAPFILEHEADER + BITMAPINFOHEADER). */
  def bmpBytes(w: Int, h: Int, seed: Long): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4 // rows pad to 4-byte boundary
    val size = 54 + rowSize * h
    val b = new java.io.ByteArrayOutputStream(size)
    ascii(b, "BM"); le32(b, size); le32(b, 0); le32(b, 54)
    le32(b, 40); le32(b, w); le32(b, h); le16(b, 1); le16(b, 24)
    le32(b, 0); le32(b, rowSize * h); le32(b, 2835); le32(b, 2835)
    le32(b, 0); le32(b, 0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < rowSize) { b.write((((seed + y * rowSize + x) * 31) & 0xff).toInt); x += 1 }
      y += 1
    }
    b.toByteArray
  }

  /** Canonical PCM WAV (RIFF / fmt / data). */
  def wavBytes(channels: Int, rate: Int, nSamples: Int, seed: Long): Array[Byte] = {
    val dataBytes = nSamples * channels * 2
    val b = new java.io.ByteArrayOutputStream(44 + dataBytes)
    ascii(b, "RIFF"); le32(b, 36 + dataBytes); ascii(b, "WAVE")
    ascii(b, "fmt "); le32(b, 16); le16(b, 1); le16(b, channels)
    le32(b, rate); le32(b, rate * channels * 2); le16(b, channels * 2); le16(b, 16)
    ascii(b, "data"); le32(b, dataBytes)
    var i = 0
    while (i < nSamples * channels) { le16(b, ((seed + i) * 2654435761L & 0xffff).toInt); i += 1 }
    b.toByteArray
  }

  /** YUV4MPEG2 stream (plain-text header, 4:2:0 FRAME chunks). */
  def y4mBytes(w: Int, h: Int, frames: Int, seed: Long): Array[Byte] = {
    val frameBytes = w * h * 3 / 2
    val b = new java.io.ByteArrayOutputStream(64 + frames * (6 + frameBytes))
    ascii(b, s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1\n")
    var f = 0
    while (f < frames) {
      ascii(b, "FRAME\n")
      var i = 0
      while (i < frameBytes) { b.write((((seed + f * 131 + i) * 31) & 0xff).toInt); i += 1 }
      f += 1
    }
    b.toByteArray
  }

  /** (doc_id, kind, payload) with REAL container bytes per modality —
    * image→BMP, audio→WAV, video→Y4M — sized/shaped by doc_id so the
    * oracle can recompute the expected decode from the fixture keys. */
  def synthesizeMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = docs.select("doc_id").rdd.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      (id % 3) match {
        case 0 =>
          Row(id, "image", bmpBytes((4 + id % 16).toInt, (4 + (id / 3) % 16).toInt, id))
        case 1 =>
          Row(id, "audio", wavBytes((1 + id % 2).toInt, 8000, (8 * (100 + id % 400)).toInt, id))
        case _ =>
          Row(id, "video", y4mBytes((2 * (4 + id % 16)).toInt, (2 * (4 + (id / 5) % 16)).toInt,
            (1 + id % 5).toInt, id))
      }
    })
    spark.createDataFrame(rdd, schema)
  }

  // ---------------------------------------------------------------
  // container parsing: format detected from magic bytes alone
  // ---------------------------------------------------------------

  final case class MediaInfo(
      format: String, width: Option[Int], height: Option[Int], durationMs: Option[Long])

  private def rdLe16(p: Array[Byte], o: Int): Int =
    (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
  private def rdLe32(p: Array[Byte], o: Int): Int =
    (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) | ((p(o + 2) & 0xff) << 16) | ((p(o + 3) & 0xff) << 24)
  private def asciiAt(p: Array[Byte], o: Int, s: String): Boolean =
    o + s.length <= p.length && s.indices.forall(i => p(o + i) == s.charAt(i).toByte)

  /** Y4M 4:2:0 frame size from UNTRUSTED header dimensions, in long
    * arithmetic: `w*h*3/2` in Int overflows for crafted W/H, turning
    * the frame-walk step negative — an executor-side infinite loop (or
    * a wild negative index). The frame must fit the payload anyway, so
    * that is the bound. */
  private def y4mFrameBytes(w: Int, h: Int, payloadLen: Int): Int = {
    require(w > 0 && h > 0, s"malformed Y4M: dimensions ${w}x$h")
    // Bound w*h BEFORE scaling by 3/2: w.toLong*h fits a Long, but *3
    // can wrap it negative (W=H≈2^31), and a negative fb would pass the
    // `fb <= payloadLen` check below. A valid luma plane alone can
    // never exceed the payload, so w*h <= payloadLen is a sound gate.
    require(w.toLong * h <= payloadLen, s"malformed Y4M: ${w}x$h frame exceeds payload")
    val fb = w.toLong * h * 3 / 2
    require(fb <= payloadLen, s"malformed Y4M: ${w}x$h frame exceeds payload")
    fb.toInt
  }

  /** Pure-JVM header parse. Detects the container from its magic bytes
    * (never trusts metadata), walks the real header structures. */
  def parseMediaHeader(p: Array[Byte]): MediaInfo = {
    if (asciiAt(p, 0, "BM")) {
      // BITMAPINFOHEADER: signed LE32 width@18, height@22 (negative
      // height = top-down rows in the wild; dimensions are |value|)
      MediaInfo("bmp", Some(math.abs(rdLe32(p, 18))), Some(math.abs(rdLe32(p, 22))), None)
    } else if (asciiAt(p, 0, "RIFF") && asciiAt(p, 8, "WAVE")) {
      // RIFF chunk walk (chunks pad to even length). The declared size
      // is an UNSIGNED 32-bit field from untrusted bytes: unbounded, a
      // value near 2^31 would overflow the step to <= 0 and stall the
      // walk forever — every chunk must fit inside the payload.
      var off = 12
      var channels = -1; var rate = -1; var bits = -1; var dataLen = -1L
      while (off + 8 <= p.length && (channels < 0 || dataLen < 0)) {
        val sz = rdLe32(p, off + 4).toLong & 0xffffffffL
        require(sz <= p.length - off - 8, s"malformed WAV: chunk at $off overruns payload")
        if (asciiAt(p, off, "fmt ")) {
          channels = rdLe16(p, off + 10); rate = rdLe32(p, off + 12); bits = rdLe16(p, off + 22)
        } else if (asciiAt(p, off, "data")) dataLen = sz
        off += (8 + sz + (sz & 1)).toInt
      }
      require(channels > 0 && rate > 0 && bits > 0 && dataLen >= 0, "malformed WAV")
      val bytesPerSec = rate.toLong * channels * (bits / 8)
      MediaInfo("wav", None, None, Some(dataLen * 1000L / bytesPerSec))
    } else if (asciiAt(p, 0, "YUV4MPEG2")) {
      val nl = p.indexOf('\n'.toByte)
      require(nl > 0, "malformed Y4M header")
      val params = new String(p, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
        .split(' ').drop(1)
      def tag(c: Char): Option[String] =
        params.find(_.headOption.contains(c)).map(_.tail)
      val w = tag('W').get.toInt
      val h = tag('H').get.toInt
      val Array(fNum, fDen) = tag('F').get.split(':').map(_.toLong)
      val frameBytes = y4mFrameBytes(w, h, p.length) // overflow-checked
      var off = nl + 1
      var frames = 0L
      while (off < p.length) {
        require(asciiAt(p, off, "FRAME"), s"expected FRAME marker at $off")
        var e = off + 5
        while (e < p.length && p(e) != '\n'.toByte) e += 1 // frame params, if any
        require(e < p.length, s"malformed Y4M: unterminated FRAME header at $off")
        off = e + 1 + frameBytes
        require(off <= p.length, s"malformed Y4M: truncated frame at $off")
        frames += 1
      }
      MediaInfo("y4m", Some(w), Some(h), Some(frames * 1000L * fDen / fNum))
    } else throw new IllegalArgumentException("unknown container format")
  }

  /** Content-level features — the decode contract past the header:
    * samples, not just structure. One field per modality, the others
    * None. */
  final case class MediaContent(
      meanLuma: Option[Double], pcmRms: Option[Double], frameCrc: Option[Long])

  /** Pure-JVM CONTENT parse: walks the same container structures as
    * [[parseMediaHeader]] but reads the sample regions.
    *
    *  - BMP → mean BT.601 luma over the decoded BGR pixels (padding
    *    bytes excluded). The per-pixel luma is kept on the integer
    *    per-mille grid (299·R + 587·G + 114·B) and summed as a long, so
    *    the mean is ONE exact-integer division — order-free and
    *    engine-portable (the q90 lesson applied to pixels).
    *  - WAV → RMS over the signed 16-bit PCM samples; the sum of
    *    squares is an exact long, then one divide + IEEE sqrt.
    *  - Y4M → order-sensitive frame checksum: Σ (frame_idx+1) · (sum of
    *    that frame's plane bytes) — exact integer throughout.
    *
    * Same trust model as the header parse: format from magic bytes,
    * every region bounds-checked before reading. */
  def parseMediaContent(p: Array[Byte]): MediaContent = {
    if (asciiAt(p, 0, "BM")) {
      val pix = rdLe32(p, 10)
      val w = math.abs(rdLe32(p, 18)); val h = math.abs(rdLe32(p, 22))
      // row stride in LONG arithmetic: a crafted width overflows w*3 in
      // Int to a negative stride that defeats the overrun check below
      val rowSizeL = (w.toLong * 3 + 3) / 4 * 4
      // Divisional overrun check: `pix + rowSizeL * h` can wrap Long
      // for crafted w,h near 2^31 (≈6.4e9 × 2.1e9 > Long.Max), slipping
      // past a direct `<= p.length` compare. Division cannot overflow.
      require(w > 0 && h > 0 && pix >= 54 && pix < p.length &&
        rowSizeL <= p.length - pix &&
        h.toLong <= (p.length - pix) / rowSizeL, "malformed BMP: pixel array overruns payload")
      val rowSize = rowSizeL.toInt // fits: bounded by p.length above
      var lumaPm = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val o = pix + y * rowSize + 3 * x
          val blue = p(o) & 0xff; val green = p(o + 1) & 0xff; val red = p(o + 2) & 0xff
          lumaPm += 299L * red + 587L * green + 114L * blue
          x += 1
        }
        y += 1
      }
      MediaContent(Some(lumaPm.toDouble / (1000.0 * w * h)), None, None)
    } else if (asciiAt(p, 0, "RIFF") && asciiAt(p, 8, "WAVE")) {
      var off = 12
      var bits = -1; var dataOff = -1; var dataLen = -1L
      while (off + 8 <= p.length && (bits < 0 || dataOff < 0)) {
        val sz = rdLe32(p, off + 4).toLong & 0xffffffffL
        require(sz <= p.length - off - 8, s"malformed WAV: chunk at $off overruns payload")
        if (asciiAt(p, off, "fmt ")) bits = rdLe16(p, off + 22)
        else if (asciiAt(p, off, "data")) { dataOff = off + 8; dataLen = sz }
        off += (8 + sz + (sz & 1)).toInt
      }
      require(bits == 16 && dataOff > 0, "malformed WAV: need 16-bit PCM data")
      val n = (dataLen / 2).toInt
      require(n > 0, "malformed WAV: empty data chunk (RMS undefined)")
      var ssq = 0L
      var i = 0
      while (i < n) {
        val v = rdLe16(p, dataOff + 2 * i)
        val s = if (v >= 0x8000) v - 0x10000 else v
        ssq += s.toLong * s
        i += 1
      }
      MediaContent(None, Some(math.sqrt(ssq.toDouble / n)), None)
    } else if (asciiAt(p, 0, "YUV4MPEG2")) {
      val nl = p.indexOf('\n'.toByte)
      require(nl > 0, "malformed Y4M header")
      val params = new String(p, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
        .split(' ').drop(1)
      def tag(c: Char): Option[String] =
        params.find(_.headOption.contains(c)).map(_.tail)
      val w = tag('W').get.toInt
      val h = tag('H').get.toInt
      val frameBytes = y4mFrameBytes(w, h, p.length) // overflow-checked
      var off = nl + 1
      var frame = 0L
      var crc = 0L
      while (off < p.length) {
        require(asciiAt(p, off, "FRAME"), s"expected FRAME marker at $off")
        var e = off + 5
        while (e < p.length && p(e) != '\n'.toByte) e += 1
        require(e < p.length, s"malformed Y4M: unterminated FRAME header at $off")
        val start = e + 1
        require(start + frameBytes <= p.length, s"malformed Y4M: truncated frame at $off")
        var fsum = 0L
        var i = 0
        while (i < frameBytes) { fsum += p(start + i) & 0xff; i += 1 }
        frame += 1
        crc += frame * fsum
        off = start + frameBytes
      }
      MediaContent(None, None, Some(crc))
    } else throw new IllegalArgumentException("unknown container format")
  }

  private val contentSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = true),
    StructField("pcm_rms", DoubleType, nullable = true),
    StructField("frame_crc", LongType, nullable = true)))

  /** Per-partition content decode — same batching contract as
    * [[decodeFeatures]], one level deeper into the payload. */
  def contentFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val rdd = media.select("doc_id", "kind", "payload").rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val c = parseMediaContent(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), r.getString(1),
            c.meanLuma.map(Double.box).orNull,
            c.pcmRms.map(Double.box).orNull,
            c.frameCrc.map(Long.box).orNull)
        }
      }
    spark.createDataFrame(rdd, contentSchema)
  }

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Per-partition decode + feature extraction (batched where a real
    * codec would be initialized once per partition). Expects the
    * (doc_id, kind, payload) shape of [[synthesizeMedia]]. */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val rdd = media.select("doc_id", "kind", "payload").rdd
      .mapPartitions { rows =>
        // per-partition init point: a real impl opens the codec here
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val info = parseMediaHeader(payload)
          Row(r.getLong(0), r.getString(1), info.format, payload.length,
            info.width.map(Int.box).orNull, info.height.map(Int.box).orNull,
            info.durationMs.map(Long.box).orNull)
        }
      }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Frame sampling: split a payload into fixed-size "frames" and keep
    * every `everyN`-th — the video-frame-sample plumbing. */
  def frameSample(media: DataFrame, frameBytes: Int, everyN: Int): DataFrame =
    media
      .withColumn("frame_idx",
        explode(expr(
          s"sequence(0, greatest((octet_length(payload) - 1) div $frameBytes, 0))")))
      .filter(col("frame_idx") % everyN === 0)
      .select(col("doc_id"), col("frame_idx"),
        substring(col("payload"), col("frame_idx") * frameBytes + 1, lit(frameBytes)).as("frame"))

  // ---------------------------------------------------------------
  // perceptual hashing: dHash over decoded BMP pixels (q127)
  // ---------------------------------------------------------------

  /** Grid dHash over a BMP payload: sample a 9×8 nearest-neighbor grid
    * of integer lumas (299R+587G+114B, undivided — stays integer) from
    * the DECODED pixel array, set bit j·8+i when the right neighbor is
    * brighter. Returned as 4 × 16-bit blocks (q113's representation:
    * per-block int xor/bit_count is exact and sign-safe everywhere,
    * a composed signed 64-bit value is not). Grid rows follow STORED
    * row order (BMP is bottom-up on screen — a uniform vertical flip,
    * irrelevant to dedup). Nearest-neighbor sampling, not
    * interpolation: engine-exact, and for thumbnails the standard
    * fidelity trade. */
  def bmpDHashBlocks(p: Array[Byte]): Array[Int] = {
    require(asciiAt(p, 0, "BM"), "not a BMP")
    val pix = rdLe32(p, 10)
    val w = math.abs(rdLe32(p, 18)); val h = math.abs(rdLe32(p, 22))
    val rowSizeL = (w.toLong * 3 + 3) / 4 * 4
    require(w > 0 && h > 0 && pix >= 54 && pix < p.length &&
      rowSizeL <= p.length - pix &&
      h.toLong <= (p.length - pix) / rowSizeL, "malformed BMP: pixel array overruns payload")
    val rowSize = rowSizeL.toInt
    def luma(x: Int, y: Int): Int = {
      val o = pix + y * rowSize + 3 * x
      299 * (p(o + 2) & 0xff) + 587 * (p(o + 1) & 0xff) + 114 * (p(o) & 0xff)
    }
    val blocks = new Array[Int](4)
    var j = 0
    while (j < 8) {
      val y = j * h / 8
      var i = 0
      while (i < 8) {
        if (luma((i + 1) * w / 9, y) > luma(i * w / 9, y)) {
          val bit = j * 8 + i
          blocks(bit / 16) |= 1 << (bit % 16)
        }
        i += 1
      }
      j += 1
    }
    blocks
  }

  /** Image corpus with planted near-duplicates: every image doc
    * (doc_id % 3 == 0) plus a twin (doc_id + Ids.VariantOffset) — an exact
    * byte copy for doc_id % 6 == 0, otherwise the first pixel's blue
    * byte nudged +8 (flips ≤ 2 dHash bits: only comparisons crossing
    * the perturbed grid cell can change). The multimodal analogue of
    * the dedup family's variant corpus — ground truth derived purely
    * from the driver tables. */
  def imageCorpusWithTwins(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = docs.select("doc_id").where("doc_id % 3 = 0").rdd.mapPartitions(_.flatMap { r =>
      val id = r.getLong(0)
      val orig = bmpBytes((4 + id % 16).toInt, (4 + (id / 3) % 16).toInt, id)
      val twin = orig.clone()
      if (id % 6 != 0) twin(54) = (((twin(54) & 0xff) + 8) & 0xff).toByte
      Seq(Row(id, orig), Row(id + Ids.VariantOffset, twin))
    })
    spark.createDataFrame(rdd, schema)
  }

  // ---------------------------------------------------------------
  // audio fingerprinting: energy-contour hash over PCM (q131)
  // ---------------------------------------------------------------

  /** Energy-contour audio fingerprint over a WAV payload: the PCM
    * samples split into 65 windows (sample i → window 65·i/n — the
    * same nearest-neighbor partition rule as q127's pixel grid),
    * per-window energy = exact Σ s² (long, overflow-safe: ≤ 2^13
    * samples × 2^30), bit j set when window j+1's energy exceeds
    * window j's. A 64-bit sign-of-derivative contour — robust to
    * uniform gain changes in spirit, exact-integer in arithmetic —
    * returned as 4 × 16-bit blocks (q113/q127's representation: int
    * xor/bit_count is exact and sign-safe everywhere). Same trust
    * model as [[parseMediaContent]]: RIFF chunk walk, every region
    * bounds-checked. */
  def wavFingerprintBlocks(p: Array[Byte]): Array[Int] = {
    require(asciiAt(p, 0, "RIFF") && asciiAt(p, 8, "WAVE"), "not a WAV")
    var off = 12
    var bits = -1; var dataOff = -1; var dataLen = -1L
    while (off + 8 <= p.length && (bits < 0 || dataOff < 0)) {
      val sz = rdLe32(p, off + 4).toLong & 0xffffffffL
      require(sz <= p.length - off - 8, s"malformed WAV: chunk at $off overruns payload")
      if (asciiAt(p, off, "fmt ")) bits = rdLe16(p, off + 22)
      else if (asciiAt(p, off, "data")) { dataOff = off + 8; dataLen = sz }
      off += (8 + sz + (sz & 1)).toInt
    }
    require(bits == 16 && dataOff > 0, "malformed WAV: need 16-bit PCM data")
    val n = (dataLen / 2).toInt
    require(n >= 65, s"fingerprint needs >= 65 PCM samples, got $n")
    val energy = new Array[Long](65)
    var i = 0
    while (i < n) {
      val v = rdLe16(p, dataOff + 2 * i)
      val s0 = if (v >= 0x8000) v - 0x10000 else v
      energy((i.toLong * 65 / n).toInt) += s0.toLong * s0
      i += 1
    }
    val blocks = new Array[Int](4)
    var j = 0
    while (j < 64) {
      if (energy(j + 1) > energy(j)) blocks(j / 16) |= 1 << (j % 16)
      j += 1
    }
    blocks
  }

  /** Audio corpus with planted near-duplicates: every audio doc
    * (doc_id % 3 == 1) plus a twin (doc_id + Ids.VariantOffset) — an exact
    * byte copy for doc_id % 6 == 1, otherwise the first data byte
    * (sample 0's low byte) shifted +16 mod 256. The perturbation
    * touches window 0's energy only, so at most fingerprint bit 0
    * (the E₁>E₀ comparison) flips: Hamming ≤ 1 by construction. */
  def audioCorpusWithTwins(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = docs.select("doc_id").where("doc_id % 3 = 1").rdd.mapPartitions(_.flatMap { r =>
      val id = r.getLong(0)
      val orig = wavBytes((1 + id % 2).toInt, 8000, (8 * (100 + id % 400)).toInt, id)
      val twin = orig.clone()
      if (id % 6 != 1) twin(44) = (((twin(44) & 0xff) + 16) & 0xff).toByte
      Seq(Row(id, orig), Row(id + Ids.VariantOffset, twin))
    })
    spark.createDataFrame(rdd, schema)
  }

  // ---------------------------------------------------------------
  // video frame hashing: per-frame aHash over Y4M luma planes (q133)
  // ---------------------------------------------------------------

  private val frameHashSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("h0", IntegerType, nullable = false),
    StructField("h1", IntegerType, nullable = false),
    StructField("h2", IntegerType, nullable = false),
    StructField("h3", IntegerType, nullable = false)))

  /** Per-frame aHash over a Y4M payload: for every FRAME, sample an
    * 8×8 nearest-neighbor grid (x = i·w/8, y = j·h/8) from the LUMA
    * plane (the first w·h bytes — chroma is subsampled and noisier),
    * set bit j·8+i when the sampled value × 64 exceeds the grid total
    * (the mean-threshold rule kept exact-integer by scaling instead of
    * dividing). One 64-bit hash per frame, as 4 × 16-bit blocks.
    * Same trust model as [[parseMediaContent]]'s Y4M walk. */
  def y4mFrameAHashes(p: Array[Byte]): Seq[(Int, Array[Int])] = {
    require(asciiAt(p, 0, "YUV4MPEG2"), "not a Y4M")
    val nl = p.indexOf('\n'.toByte)
    require(nl > 0, "malformed Y4M header")
    val params = new String(p, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
      .split(' ').drop(1)
    def tag(c: Char): Option[String] =
      params.find(_.headOption.contains(c)).map(_.tail)
    val w = tag('W').get.toInt
    val h = tag('H').get.toInt
    require(w >= 8 && h >= 8, s"aHash grid needs >= 8x8 luma, got ${w}x$h")
    val frameBytes = y4mFrameBytes(w, h, p.length) // overflow-checked
    val out = Seq.newBuilder[(Int, Array[Int])]
    var off = nl + 1
    var frame = 0
    while (off < p.length) {
      require(asciiAt(p, off, "FRAME"), s"expected FRAME marker at $off")
      var e = off + 5
      while (e < p.length && p(e) != '\n'.toByte) e += 1
      require(e < p.length, s"malformed Y4M: unterminated FRAME header at $off")
      val start = e + 1
      require(start + frameBytes <= p.length, s"malformed Y4M: truncated frame at $off")
      val v = new Array[Int](64)
      var total = 0
      var j = 0
      while (j < 8) {
        val y = j * h / 8
        var i = 0
        while (i < 8) {
          val x = i * w / 8
          val s = p(start + y * w + x) & 0xff
          v(j * 8 + i) = s
          total += s
          i += 1
        }
        j += 1
      }
      val blocks = new Array[Int](4)
      var bit = 0
      while (bit < 64) {
        if (v(bit) * 64 > total) blocks(bit / 16) |= 1 << (bit % 16)
        bit += 1
      }
      out += ((frame, blocks))
      frame += 1
      off = start + frameBytes
    }
    out.result()
  }

  /** Video corpus with planted near-duplicates: every video doc
    * (doc_id % 3 == 2) plus a twin (doc_id + Ids.VariantOffset) — an exact
    * byte copy for doc_id % 6 == 2, otherwise frame 0's first luma
    * byte (grid cell (0,0)) shifted +32 mod 256: only frame 0's hash
    * can change, so the twin shares ≥ frames−1 frame hashes. */
  def videoCorpusWithTwins(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = docs.select("doc_id").where("doc_id % 3 = 2").rdd.mapPartitions(_.flatMap { r =>
      val id = r.getLong(0)
      val orig = y4mBytes((2 * (4 + id % 16)).toInt, (2 * (4 + (id / 5) % 16)).toInt,
        (1 + id % 5).toInt, id)
      val twin = orig.clone()
      if (id % 6 != 2) {
        val planeStart = orig.indexOf('\n'.toByte) + 1 + 6 // header \n + "FRAME\n"
        twin(planeStart) = (((twin(planeStart) & 0xff) + 32) & 0xff).toByte
      }
      Seq(Row(id, orig), Row(id + Ids.VariantOffset, twin))
    })
    spark.createDataFrame(rdd, schema)
  }

  /** Per-partition decode→hash: payload bytes in, one row per frame
    * out — pixels die in the map; 12 bytes/frame shuffle. */
  def videoFrameHashFrame(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val rdd = corpus.select("doc_id", "payload").rdd.mapPartitions(_.flatMap { r =>
      val id = r.getLong(0)
      y4mFrameAHashes(r.getAs[Array[Byte]]("payload")).map { case (f, b) =>
        Row(id, f, b(0), b(1), b(2), b(3))
      }
    })
    spark.createDataFrame(rdd, frameHashSchema)
  }

  /** q133's body, factored so q136 can reuse the matched-pair frame:
    * per-frame hashes → frame-hash equi-join → per-pair match counts
    * with both videos' frame totals attached. */
  private[graft] def videoMatchPairs(s: SparkSession, d: String): DataFrame = {
    val frames = videoFrameHashFrame(s,
      videoCorpusWithTwins(Tables.documents(s, d))).localCheckpoint()
    val nfr = frames.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
    val a = frames.select(col("doc_id").as("doc_a"),
      col("h0"), col("h1"), col("h2"), col("h3"))
    val b = frames.select(col("doc_id").as("doc_b"), col("h0").as("g0"),
      col("h1").as("g1"), col("h2").as("g2"), col("h3").as("g3"))
    val matches = a.join(b,
        a("h0") === b("g0") && a("h1") === b("g1") &&
          a("h2") === b("g2") && a("h3") === b("g3") &&
          col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_matched"))
    matches
      .join(broadcast(nfr.select(col("doc_id").as("doc_a"), col("n_frames").as("n_frames_a"))), Seq("doc_a"))
      .join(broadcast(nfr.select(col("doc_id").as("doc_b"), col("n_frames").as("n_frames_b"))), Seq("doc_b"))
      .select("doc_a", "doc_b", "n_matched", "n_frames_a", "n_frames_b")
      .orderBy("doc_a", "doc_b")
  }

  /** q133's closed-form oracle: luma byte i of frame f is
    * ((oid + f·131 + i) · 31) & 255 (the synthesis formula), the twin
    * perturbation is a CASE on frame 0's byte 0, and the per-frame
    * aHash + frame-match join is replayed in exact integer SQL. */
  private def q133OracleSql: String =
    s"""WITH vids AS (
        SELECT doc_id AS oid, v,
          doc_id + CASE WHEN v = 1 THEN ${Ids.VariantOffset} ELSE 0 END AS doc_id,
          2 * (4 + doc_id % 16) AS w, 2 * (4 + (doc_id // 5) % 16) AS h,
          1 + doc_id % 5 AS fr
        FROM documents, (VALUES (0), (1)) t(v) WHERE doc_id % 3 = 2),
      frames AS (SELECT doc_id, oid, v, w, h, fr, unnest(range(fr)) AS f FROM vids),
      grid AS (SELECT doc_id, oid, v, w, f, j, i,
          (j * h) // 8 AS y, (i * w) // 8 AS x
        FROM frames, unnest(range(8)) tj(j), unnest(range(8)) ti(i)),
      lum AS (SELECT doc_id, f, j * 8 + i AS bit,
          CASE WHEN v = 1 AND oid % 6 <> 2 AND f = 0 AND x = 0 AND y = 0
            THEN ((((oid) * 31) & 255) + 32) & 255
            ELSE ((oid + f * 131 + y * w + x) * 31) & 255 END AS s
        FROM grid),
      tot AS (SELECT doc_id, f, sum(s) AS total FROM lum GROUP BY doc_id, f),
      fhash AS (
        SELECT l.doc_id, l.f,
          CAST(sum(CASE WHEN bit // 16 = 0 AND s * 64 > total THEN 1 << (bit % 16) ELSE 0 END) AS INT) AS h0,
          CAST(sum(CASE WHEN bit // 16 = 1 AND s * 64 > total THEN 1 << (bit % 16) ELSE 0 END) AS INT) AS h1,
          CAST(sum(CASE WHEN bit // 16 = 2 AND s * 64 > total THEN 1 << (bit % 16) ELSE 0 END) AS INT) AS h2,
          CAST(sum(CASE WHEN bit // 16 = 3 AND s * 64 > total THEN 1 << (bit % 16) ELSE 0 END) AS INT) AS h3
        FROM lum l JOIN tot USING (doc_id, f) GROUP BY l.doc_id, l.f),
      nfr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames FROM fhash GROUP BY doc_id),
      matches AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_matched
        FROM fhash a JOIN fhash b
          ON a.doc_id < b.doc_id AND a.h0 = b.h0 AND a.h1 = b.h1
            AND a.h2 = b.h2 AND a.h3 = b.h3
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b, n_matched,
        na.n_frames AS n_frames_a, nb.n_frames AS n_frames_b
      FROM matches
      JOIN nfr na ON na.doc_id = doc_a
      JOIN nfr nb ON nb.doc_id = doc_b
      ORDER BY doc_a, doc_b"""

  /** q131's closed-form oracle: PCM sample i of clip `oid` is
    * ((oid + i) · 2654435761) & 0xffff (q101's formula), the twin
    * perturbation is a CASE on the first sample's low byte, and the
    * window/energy/bit pipeline is replayed in exact integer SQL. The
    * oracle joins all-pairs (oracle-side only): pigeonhole
    * completeness makes the result sets identical. */
  /** The audio-fingerprint closed-form CTE chain, ending in
    * `aublocks(doc_id, v, h0..h3)` — shared by q131's pair oracle and
    * q137's incremental-ledger oracle. */
  private val audioBlocksCtes: String =
    s"""auds AS (
        SELECT doc_id AS oid, v,
          doc_id + CASE WHEN v = 1 THEN ${Ids.VariantOffset} ELSE 0 END AS doc_id,
          (1 + doc_id % 2) * 8 * (100 + doc_id % 400) AS n
        FROM documents, (VALUES (0), (1)) t(v) WHERE doc_id % 3 = 1),
      sampi AS (SELECT doc_id, oid, v, n, unnest(range(n)) AS i FROM auds),
      sraw AS (SELECT doc_id, oid, v, n, i,
          (((oid + i) * 2654435761) & 65535) AS raw FROM sampi),
      spert AS (SELECT doc_id, v, n, i,
          CASE WHEN v = 1 AND oid % 6 <> 1 AND i = 0
            THEN ((raw // 256) * 256) + ((raw % 256 + 16) % 256)
            ELSE raw END AS raw
        FROM sraw),
      ssgn AS (SELECT doc_id, v, (i * 65) // n AS w,
          CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s FROM spert),
      energy AS (SELECT doc_id, v, w, sum(s * s) AS e FROM ssgn GROUP BY doc_id, v, w),
      aubits AS (SELECT a.doc_id, a.v, a.w AS bit,
          CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bv
        FROM energy a JOIN energy b ON a.doc_id = b.doc_id AND b.w = a.w + 1
        WHERE a.w < 64),
      aublocks AS (
        SELECT doc_id, v,
          CAST(sum(CASE WHEN bit // 16 = 0 THEN bv << (bit % 16) ELSE 0 END) AS INT) AS h0,
          CAST(sum(CASE WHEN bit // 16 = 1 THEN bv << (bit % 16) ELSE 0 END) AS INT) AS h1,
          CAST(sum(CASE WHEN bit // 16 = 2 THEN bv << (bit % 16) ELSE 0 END) AS INT) AS h2,
          CAST(sum(CASE WHEN bit // 16 = 3 THEN bv << (bit % 16) ELSE 0 END) AS INT) AS h3
        FROM aubits GROUP BY doc_id, v)"""

  private def q131OracleSql: String =
    s"""WITH $audioBlocksCtes
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
           + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) AS INT) AS hamming
      FROM aublocks a JOIN aublocks b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
          + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= 3
      ORDER BY doc_a, doc_b"""

  /** The closed-form dHash oracle: recomputes every block from the
    * synthesis formula (payload byte at pixel-array offset o is
    * ((doc_id + o) · 31) & 255, twin perturbation as a CASE), so the
    * Spark side's REAL byte-decode path must agree bit-for-bit. */
  /** The image-dHash closed-form CTE chain, ending in
    * `imblocks(doc_id, v, h0..h3)` — shared by q127's pair oracle and
    * q137's incremental-ledger oracle. */
  private val imageBlocksCtes: String =
    s"""imgs AS (
        SELECT doc_id AS oid, v,
          doc_id + CASE WHEN v = 1 THEN ${Ids.VariantOffset} ELSE 0 END AS doc_id,
          4 + doc_id % 16 AS w, 4 + (doc_id // 3) % 16 AS h,
          ((4 + doc_id % 16) * 3 + 3) // 4 * 4 AS row_size
        FROM documents, (VALUES (0), (1)) t(v) WHERE doc_id % 3 = 0),
      imgrid AS (
        SELECT doc_id, oid, v, w, h, row_size, j, i,
          (i * w) // 9 AS x, (j * h) // 8 AS y
        FROM imgs, unnest(range(8)) tj(j), unnest(range(9)) ti(i)),
      imlum AS (
        SELECT doc_id, v, j, i,
          299 * (((oid + y * row_size + 3 * x + 2) * 31) & 255)
          + 587 * (((oid + y * row_size + 3 * x + 1) * 31) & 255)
          + 114 * (CASE WHEN v = 1 AND oid % 6 <> 0 AND x = 0 AND y = 0
              THEN (((oid * 31) & 255) + 8) & 255
              ELSE ((oid + y * row_size + 3 * x) * 31) & 255 END) AS l
        FROM imgrid),
      imbits AS (
        SELECT a.doc_id, a.v, a.j * 8 + a.i AS bit,
          CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bv
        FROM imlum a JOIN imlum b ON a.doc_id = b.doc_id AND a.j = b.j AND b.i = a.i + 1
        WHERE a.i < 8),
      imblocks AS (
        SELECT doc_id, v,
          CAST(sum(CASE WHEN bit // 16 = 0 THEN bv << (bit % 16) ELSE 0 END) AS INT) AS h0,
          CAST(sum(CASE WHEN bit // 16 = 1 THEN bv << (bit % 16) ELSE 0 END) AS INT) AS h1,
          CAST(sum(CASE WHEN bit // 16 = 2 THEN bv << (bit % 16) ELSE 0 END) AS INT) AS h2,
          CAST(sum(CASE WHEN bit // 16 = 3 THEN bv << (bit % 16) ELSE 0 END) AS INT) AS h3
        FROM imbits GROUP BY doc_id, v)"""

  private def q127OracleSql: String =
    s"""WITH $imageBlocksCtes
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
           + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) AS INT) AS hamming
      FROM imblocks a JOIN imblocks b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
          + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= 3
      ORDER BY doc_a, doc_b"""

  /** q137's oracle: the image + audio block chains union into one
    * modality-tagged frame; v = 0 rows are the persisted corpus
    * ledger, v = 1 rows the incoming batch; candidates join within
    * modality, exact Hamming ≤ 3 gates, best match per new item by
    * (hamming, corpus id). */
  private def q137OracleSql: String =
    s"""WITH $imageBlocksCtes,
      $audioBlocksCtes,
      allb AS (SELECT doc_id, 'image' AS modality, v, h0, h1, h2, h3 FROM imblocks
               UNION ALL
               SELECT doc_id, 'audio' AS modality, v, h0, h1, h2, h3 FROM aublocks),
      corpus AS (SELECT * FROM allb WHERE v = 0),
      batch AS (SELECT * FROM allb WHERE v = 1),
      ver AS (SELECT b.doc_id AS new_id, b.modality, c.doc_id AS dup_of,
          CAST(bit_count(xor(b.h0, c.h0)) + bit_count(xor(b.h1, c.h1))
             + bit_count(xor(b.h2, c.h2)) + bit_count(xor(b.h3, c.h3)) AS INT) AS hamming
        FROM batch b JOIN corpus c ON b.modality = c.modality)
      SELECT new_id, modality, dup_of, hamming
      FROM (SELECT *, row_number() OVER (PARTITION BY new_id
          ORDER BY hamming, dup_of) AS rn
        FROM ver WHERE hamming <= 3) t
      WHERE rn = 1 ORDER BY new_id"""

  val defs: Seq[QueryDef] = Seq(

    // ---- metadata projection over the binary payload (oracled)
    QueryDef(
      "q53_multimodal_meta",
      (s, d) => withBinaryPayload(Tables.documents(s, d))
        .select(col("doc_id"), col("meta.kind").as("kind"),
          octet_length(col("payload")).as("payload_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio'
             ELSE 'video' END AS kind,
        CAST(octet_length(encode(text)) AS INT) AS payload_bytes,
        md5(text) AS payload_md5
        FROM documents ORDER BY doc_id""")),

    // ---- full decode pipeline: real BMP/WAV/Y4M container bytes in,
    //      header-parsed features out. The oracle recomputes every
    //      feature from the same doc_id-derived synthesis parameters —
    //      the parser must read matching values from the actual bytes
    //      (magic detection, RIFF chunk walk, Y4M frame scan).
    QueryDef(
      "q54_multimodal_decode",
      (s, d) => decodeFeatures(s, synthesizeMedia(Tables.documents(s, d)))
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id, doc_id % 3 AS k FROM documents)
        SELECT doc_id, 'image' AS kind, 'bmp' AS format,
          CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS INT) AS n_bytes,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(NULL AS BIGINT) AS duration_ms
        FROM (SELECT doc_id, 4 + doc_id % 16 AS w, 4 + (doc_id // 3) % 16 AS h
              FROM p WHERE k = 0)
        UNION ALL
        SELECT doc_id, 'audio', 'wav',
          CAST(44 + ns * ch * 2 AS INT),
          CAST(NULL AS INT), CAST(NULL AS INT),
          CAST(ns // 8 AS BIGINT)
        FROM (SELECT doc_id, 1 + doc_id % 2 AS ch, 8 * (100 + doc_id % 400) AS ns
              FROM p WHERE k = 1)
        UNION ALL
        SELECT doc_id, 'video', 'y4m',
          CAST(length('YUV4MPEG2 W' || w || ' H' || h || ' F25:1 Ip A1:1') + 1
            + fr * (6 + w * h * 3 // 2) AS INT),
          CAST(w AS INT), CAST(h AS INT),
          CAST(fr * 40 AS BIGINT)
        FROM (SELECT doc_id, 2 * (4 + doc_id % 16) AS w,
                2 * (4 + (doc_id // 5) % 16) AS h, 1 + doc_id % 5 AS fr
              FROM p WHERE k = 2)
        ORDER BY doc_id"""),
      doc = "real container bytes → per-partition header parse → typed features"),

    // ---- content-level decode: past the headers into the samples.
    //      The synthesized payloads' content is deterministic
    //      arithmetic, so the oracle regenerates every pixel/sample/
    //      plane byte from the fixture keys and recomputes the same
    //      features the parser must read out of the actual bytes.
    //      All three features ride exact integer aggregation (luma on
    //      the per-mille grid, PCM sum-of-squares, plane-byte sums)
    //      with ONE final float op — order-free and engine-portable.
    QueryDef(
      "q101_multimodal_content",
      (s, d) => contentFeatures(s, synthesizeMedia(Tables.documents(s, d)))
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id, doc_id % 3 AS k FROM documents),
        img AS (SELECT doc_id, 4 + doc_id % 16 AS w, 4 + (doc_id // 3) % 16 AS h
                FROM p WHERE k = 0),
        imgy AS (SELECT doc_id, w, ((w * 3 + 3) // 4) * 4 AS row_size,
                   unnest(range(h)) AS y FROM img),
        imgyx AS (SELECT doc_id, row_size, y, unnest(range(w)) AS x FROM imgy),
        img_luma AS (SELECT doc_id,
            SUM(299 * (((doc_id + y * row_size + 3 * x + 2) * 31) & 255)
              + 587 * (((doc_id + y * row_size + 3 * x + 1) * 31) & 255)
              + 114 * (((doc_id + y * row_size + 3 * x) * 31) & 255)) AS luma_pm,
            COUNT(*) AS n_px
          FROM imgyx GROUP BY doc_id),
        aud AS (SELECT doc_id, (1 + doc_id % 2) * 8 * (100 + doc_id % 400) AS n
                FROM p WHERE k = 1),
        audi AS (SELECT doc_id, unnest(range(n)) AS i FROM aud),
        auds AS (SELECT doc_id, CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
          FROM (SELECT doc_id, (((doc_id + i) * 2654435761) & 65535) AS v FROM audi)),
        aud_rms AS (SELECT doc_id,
            sqrt(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)) AS rms
          FROM auds GROUP BY doc_id),
        vid AS (SELECT doc_id, 2 * (4 + doc_id % 16) AS w,
                  2 * (4 + (doc_id // 5) % 16) AS h, 1 + doc_id % 5 AS fr
                FROM p WHERE k = 2),
        vidf AS (SELECT doc_id, w * h * 3 // 2 AS fb, unnest(range(fr)) AS f FROM vid),
        vidfi AS (SELECT doc_id, f, unnest(range(fb)) AS i FROM vidf),
        vid_crc AS (SELECT doc_id,
            CAST(SUM((f + 1) * (((doc_id + f * 131 + i) * 31) & 255)) AS BIGINT) AS crc
          FROM vidfi GROUP BY doc_id)
        SELECT p.doc_id,
          CASE WHEN k = 0 THEN 'image' WHEN k = 1 THEN 'audio' ELSE 'video' END AS kind,
          CAST(luma_pm AS DOUBLE) / (1000 * n_px) AS mean_luma,
          rms AS pcm_rms,
          crc AS frame_crc
        FROM p
        LEFT JOIN img_luma USING (doc_id)
        LEFT JOIN aud_rms USING (doc_id)
        LEFT JOIN vid_crc USING (doc_id)
        ORDER BY p.doc_id"""),
      doc = "content decode: BMP mean luma / WAV PCM RMS / Y4M frame checksums from the sample bytes"),

    // ---- frame sampling. The frame *positions and sizes* are pure
    //      integer arithmetic over octet_length, so DuckDB reproduces
    //      them exactly (the binary frame content itself stays
    //      Spark-side; its length is what the oracle pins).
    QueryDef(
      "q55_multimodal_frames",
      (s, d) => frameSample(withBinaryPayload(Tables.documents(s, d)), 64, 2)
        .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
          octet_length(col("frame")).as("frame_bytes"))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH p AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        f AS (SELECT doc_id, n,
            CAST(unnest(range(greatest((n - 1) // 64, 0) + 1)) AS INT) AS frame_idx
          FROM p)
        SELECT doc_id, frame_idx,
          CAST(least(64, n - frame_idx * 64) AS INT) AS frame_bytes
        FROM f WHERE frame_idx % 2 = 0
        ORDER BY doc_id, frame_idx"""),
      doc = "payload → fixed-size frames → every-2nd sample"),

    // ---- perceptual-hash image dedup: q101's real BMP decode meets
    //      q113's pigeonhole pair mining. dHash blocks from DECODED
    //      pixel bytes (MediaDedupIndex.fingerprints, the media
    //      tier's one decoder); candidates and the exact Hamming
    //      verify are ProbeFold.hammingPairs' block self-join keyed
    //      within modality — provably complete, never all-pairs, the
    //      verify inline on the ride-along signature. The oracle
    //      recomputes the hash from the synthesis formula and may use
    //      all-pairs (oracle-side only): pigeonhole completeness means
    //      the result sets are identical.
    //      Scale: pixels die in the decode map (8 bytes/image
    //      shuffle); the block join shuffles on 65,536-value keys; at
    //      web scale hot blocks (e.g. flat images hashing to 0) get
    //      more/permuted blocks — same plan shape, q113's remedy.
    QueryDef(
      "q127_image_phash_dedup",
      (s, d) => ProbeFold.hammingPairs(MediaDedupIndex.fingerprints(s,
        imageCorpusWithTwins(Tables.documents(s, d))).localCheckpoint(), "modality"),
      Some(q127OracleSql),
      doc = "perceptual-hash image dedup: grid dHash over decoded BMP pixels, pigeonhole block join, exact Hamming ≤ 3 pairs"),

    // ---- audio fingerprint dedup: the WAV twin of q127. PCM samples
    //      decode to a 64-bit energy-contour fingerprint per clip
    //      (exact-integer window energies, sign-of-derivative bits),
    //      decoded by the same MediaDedupIndex.fingerprints; near-dup
    //      pairs via the same ProbeFold.hammingPairs block join.
    //      Scale: samples die in the decode map — 8 bytes/clip
    //      shuffle; candidates are block-value equi-joins, provably
    //      complete for Hamming ≤ 3, never all-pairs.
    QueryDef(
      "q131_audio_fingerprint_dedup",
      (s, d) => ProbeFold.hammingPairs(MediaDedupIndex.fingerprints(s,
        audioCorpusWithTwins(Tables.documents(s, d))).localCheckpoint(), "modality"),
      Some(q131OracleSql),
      doc = "audio fingerprint dedup: 65-window PCM energy contour → 64-bit fingerprint, pigeonhole block join, exact Hamming ≤ 3 pairs"),

    // ---- video near-dup mining: per-frame aHash over decoded Y4M
    //      luma planes, then video pairs scored by how many frame
    //      hashes they share — an EQUI-join on the 64-bit frame hash
    //      (Catalyst extracts the 4 block keys), never frame×frame
    //      distance. Pixels die in the decode map (12 bytes/frame
    //      shuffle); at web scale the hash join self-balances because
    //      hash values spread, with q113's permuted-block remedy for
    //      degenerate flat-frame corpora.
    QueryDef(
      "q133_video_framehash_dedup",
      (s, d) => videoMatchPairs(s, d),
      Some(q133OracleSql),
      doc = "video near-dup mining: per-frame aHash over Y4M luma planes, frame-hash equi-join, matched-frame counts per video pair"),

    // ---- cross-modal dedup ledger: the media capstone. Image (q127),
    //      audio (q131) and MAJORITY-frame video (q133) near-dup pairs
    //      union into one edge list, connected components label the
    //      clusters (q77's machinery — CC runs over candidate-pair
    //      members only, never the full corpus), and every member is
    //      tagged with its modality and cluster size: the
    //      keep-one-per-cluster manifest a multimodal curation run
    //      reads. Scale: each modality's pair mining is its own
    //      audited bounded shape; CC adds q77's O(log d) pointer jumps
    //      over pair-member nodes only.
    QueryDef(
      "q136_media_dedup_clusters",
      (s, d) => {
        def pairsOf(media: DataFrame) = ProbeFold.hammingPairs(
          MediaDedupIndex.fingerprints(s, media).localCheckpoint(), "modality").select("doc_a", "doc_b")
        val img = pairsOf(imageCorpusWithTwins(Tables.documents(s, d)))
        val aud = pairsOf(audioCorpusWithTwins(Tables.documents(s, d)))
        val vid = videoMatchPairs(s, d)
          .filter(col("n_matched") * 2 >= col("n_frames_a") + col("n_frames_b"))
          .select("doc_a", "doc_b")
        val pairs = img.unionByName(aud).unionByName(vid)
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val cc = ConnectedComponents.run(edges)
        // q77's join: the sizes side never broadcasts, so the build side
        // does not follow which of the two shuffle stages ends first
        val sizes = HintBridge.noBroadcast(
          cc.groupBy("cluster").agg(count(lit(1)).as("cluster_size")))
        cc.join(sizes, Seq("cluster"))
          .withColumn("orig",
            when(col("node") >= Ids.VariantOffset, col("node") - Ids.VariantOffset).otherwise(col("node")))
          .withColumn("modality", expr(
            "CASE CAST(orig % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"))
          .select(col("node").as("doc_id"), col("modality"),
            col("cluster"), col("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
        imgp AS (SELECT doc_a, doc_b FROM ($q127OracleSql) t1),
        audp AS (SELECT doc_a, doc_b FROM ($q131OracleSql) t2),
        vidp AS (SELECT doc_a, doc_b FROM ($q133OracleSql) t3
          WHERE n_matched * 2 >= n_frames_a + n_frames_b),
        pairs AS (SELECT * FROM imgp UNION ALL SELECT * FROM audp
          UNION ALL SELECT * FROM vidp),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        reach AS (SELECT node, node AS lbl FROM nodes
                  UNION
                  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
        cc AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
        sizes AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY cluster)
        SELECT cc.node AS doc_id,
          CASE CAST((CASE WHEN cc.node >= ${Ids.VariantOffset} THEN cc.node - ${Ids.VariantOffset} ELSE cc.node END) % 3 AS INT)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
          cc.cluster, sizes.cluster_size
        FROM cc JOIN sizes ON cc.cluster = sizes.cluster
        ORDER BY doc_id"""),
      doc = "cross-modal media dedup ledger: image/audio/video near-dup edges unioned, CC cluster labels + sizes per member, modality-tagged"),

    // ---- incremental media dedup (q137): q102's persisted-index flow
    //      applied to the media tier. The corpus's image + audio
    //      fingerprints live in ONE crash-atomic StateStore ledger
    //      (8 hash bytes + modality tag per item); the incoming batch
    //      (the planted twins) decodes only its own payloads and
    //      pigeonhole-joins against the store WITHIN modality. The
    //      query runs the full flow — build + batch — so the bench
    //      prices the real persistence, not a cache hit. Corpus
    //      payloads are never re-decoded at batch time
    //      (MediaDedupSpec pins this across a fresh ledger read).
    QueryDef(
      "q137_incremental_media_dedup",
      (s, d) => {
        def mediaAll = imageCorpusWithTwins(Tables.documents(s, d))
          .unionByName(audioCorpusWithTwins(Tables.documents(s, d)))
        val dir = s"${sys.props("java.io.tmpdir")}/graft-q137-index-${
          java.lang.Integer.toHexString(d.hashCode)}"
        MediaDedupIndex.build(s, mediaAll.filter(col("doc_id") < Ids.VariantOffset), dir)
        MediaDedupIndex.dedupBatch(s, mediaAll.filter(col("doc_id") >= Ids.VariantOffset), dir)
      },
      Some(q137OracleSql),
      doc = "incremental media dedup: batch fingerprints vs the persisted modality-tagged hash ledger, best corpus match per new item"),

    // ---- image resolution bucketing (q141): q140's dynamic-batching
    //      audit on the vision side — multimodal training batches pad
    //      images to a common shape, so the loader groups by a
    //      rounded-up resolution bucket (multiples of 8, the patch/
    //      alignment granularity) and prices the per-bucket pixel
    //      padding waste. Dimensions come from the REAL header decode
    //      (q54's parser), the oracle recomputes them from the
    //      synthesis closed form — the decode contract again. Exact
    //      integers; one decode map + a tiny agg.
    QueryDef(
      "q141_image_resolution_buckets",
      (s, d) => decodeFeatures(s, synthesizeMedia(Tables.documents(s, d)))
        .filter(col("format") === "bmp")
        .withColumn("bw", expr("CAST(((width + 7) div 8) * 8 AS BIGINT)"))
        .withColumn("bh", expr("CAST(((height + 7) div 8) * 8 AS BIGINT)"))
        .groupBy("bw", "bh")
        .agg(count(lit(1)).as("n_images"),
          sum(col("width").cast("long") * col("height")).as("real_px"),
          (count(lit(1)) * col("bw") * col("bh")).as("padded_px"))
        .withColumn("pad_waste_r",
          round(lit(1.0) - col("real_px").cast("double") / col("padded_px").cast("double"), 4))
        .select("bw", "bh", "n_images", "real_px", "padded_px", "pad_waste_r")
        .orderBy("bw", "bh"),
      Some("""WITH img AS (SELECT doc_id, 4 + doc_id % 16 AS w, 4 + (doc_id // 3) % 16 AS h
          FROM documents WHERE doc_id % 3 = 0),
        b AS (SELECT w, h, ((w + 7) // 8) * 8 AS bw, ((h + 7) // 8) * 8 AS bh FROM img)
        SELECT CAST(bw AS BIGINT) AS bw, CAST(bh AS BIGINT) AS bh,
          CAST(count(*) AS BIGINT) AS n_images,
          CAST(sum(w * h) AS BIGINT) AS real_px,
          CAST(count(*) * bw * bh AS BIGINT) AS padded_px,
          round(1.0 - CAST(sum(w * h) AS DOUBLE) / (count(*) * bw * bh), 4) AS pad_waste_r
        FROM b GROUP BY bw, bh ORDER BY bw, bh"""),
      doc = "image resolution bucketing: decoded dimensions rounded to 8-multiples, per-bucket pixel padding-waste — the vision-side dynamic-batching audit")
  )
}
