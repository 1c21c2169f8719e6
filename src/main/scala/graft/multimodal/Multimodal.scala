package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages. ALL THREE decode paths are REAL: `javax.imageio`
  * decodes genuine BMPs (q63), `javax.sound.sampled` decodes genuine
  * RIFF-WAVE PCM (q64), and a RIFF/AVI walk demuxes genuine
  * MJPEG-in-AVI containers whose frames ImageIO decodes (q69) — every path
  * JDK-bundled, no external codec, all under the driver gate. The one
  * remaining stand-in is [[decodeBytes]], the generic-binary featurizer for
  * payloads with NO JDK codec at all. The reference's analog is the TIFF
  * metadata scan + tesseract shell-out (reference:
  * modules/image_ocr.py:11-36).
  */
object Multimodal {

  /** Typed metadata carried next to every binary payload. */
  final case class MediaMeta(kind: String, width: Int, height: Int,
                             durationMs: Int, codec: String)
  final case class MediaRow(media_id: Long, payload: Array[Byte], meta: MediaMeta)

  /** Deterministic synthetic media table: payload bytes derived from the id
    * (no external data); stands in for `binaryFile` reads of real blobs. */
  def synthetic(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      val len = 64 + (id % 64).toInt
      val bytes = Array.tabulate[Byte](len)(i => ((id * 31 + i * 7) % 251).toByte)
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      MediaRow(id, bytes, MediaMeta(kind, 640 + (id % 4).toInt * 160,
        480, if (kind == "image") 0 else 1000 + (id % 9000).toInt, "fake"))
    }.toDF()
  }

  /** S3 — the REAL distributed blob source: `binaryFile` reads a directory
    * of media files as (path, modificationTime, length, content), exactly
    * the reference's os.listdir + per-file open re-expressed as a Spark
    * data source (reference: modules/image_ocr.py:11-36 walks a TIFF dir
    * and shells tesseract per file). Media kind/codec come from the file
    * extension; width/height/duration stay 0 until the decode stage fills
    * them. This path is under the oracle gate (q75: real BMP/WAV/AVI
    * fixture files on disk → binaryFile → kind routing → the real
    * q63/q64/q69 decoders). */
  def fromBinaryFiles(spark: SparkSession, dir: String): DataFrame = {
    // extension comes from the BASENAME: splitting the full path on '.'
    // would make any dotted directory ('/data/v1.2/img0001') or
    // extensionless file yield a garbage codec
    val base = element_at(split(col("path"), "/"), -1)
    val ext = when(base.contains("."),
      lower(element_at(split(base, "\\."), -1))).otherwise(lit(""))
    val kind = when(ext.isin("png", "jpg", "jpeg", "tif", "tiff", "bmp"), "image")
      .when(ext.isin("wav", "mp3", "flac"), "audio")
      .when(ext.isin("mp4", "avi", "mkv"), "video")
      .otherwise("binary")
    spark.read.format("binaryFile").load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        col("path"),
        col("content").as("payload"),
        struct(kind.as("kind"), lit(0).as("width"), lit(0).as("height"),
          lit(0).as("durationMs"), ext.as("codec")).as("meta"))
  }

  /** S3-analog of `img_info` (modules/image_ocr.py:11-26): metadata
    * distribution without touching payload bytes — column pruning means the
    * binary column is never read from disk for this query. */
  def metaDistribution(media: DataFrame): DataFrame =
    media.select(col("meta.kind").as("kind"), col("meta.codec").as("codec"))
      .groupBy("kind", "codec").count()

  // ------------------------------------------------------------- decode stub

  /** GENERIC-BINARY FEATURIZER (deterministic stand-in) — the fallback for
    * payload kinds with NO JDK codec (exotic containers, unknown binaries);
    * every kind the JDK CAN decode has a real tier: [[decodeImage]] (q63),
    * [[decodeAudio]] (q64), [[decodeVideoFrames]] (q69). Real deployments
    * swap `decodeBytes` for an actual decoder behind the same signature;
    * the partitioning, batching and schema around it are the tested, real
    * part. Output: fixed-size feature vector (byte histogram moments). */
  def decodeBytes(payload: Array[Byte]): Array[Float] = {
    // >>> fake: replace with e.g. ImageIO/ffmpeg bindings in production <<<
    if (payload == null || payload.isEmpty) return Array.fill(8)(0f)
    val hist = new Array[Int](8)
    payload.foreach(b => hist((b & 0xFF) >> 5) += 1)
    hist.map(h => h.toFloat / payload.length)
  }

  /** Feature-extraction stage: mapPartitions batch shape (the real thing a
    * Pandas-UDF / mapInPandas port needs) — one decoder instance per
    * partition, rows streamed through it. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds = media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      // per-partition decoder init would happen here (lazy val in closure)
      it.map { case (id, bytes) => (id, decodeBytes(bytes)) }
    }.toDF("media_id", "features")
  }

  // ---------------------------------------------------------- REAL decode

  /** REAL image decode tier: the "no codec libraries" constraint
    * only covers EXTERNAL codecs — `javax.imageio` ships in the JDK and
    * reads BMP/PNG/JPEG/GIF. The synthetic corpus below emits GENUINE
    * 24-bit uncompressed BMPs assembled arithmetically from the row id; the
    * decode stage reads them back through ImageIO; and the driver's DuckDB
    * oracle replays the pixel arithmetic — so the gate proves an actual
    * decoder round-trip (headers, bottom-up row order, row padding, channel
    * order), not a fake. The histogram stub [[decodeBytes]] remains the
    * stand-in for the one kind the JDK cannot decode (video codecs;
    * audio got its own real tier below). */

  /** Deterministic pixel channels, TOP-DOWN image coordinates. Mod 251 (a
    * prime < 256) keeps values byte-safe and the oracle replay exact. */
  @inline private def rCh(id: Long, x: Int, y: Int): Int = ((id * 31 + y * 17 + x * 7) % 251).toInt
  @inline private def gCh(id: Long, x: Int, y: Int): Int = ((id * 13 + y * 11 + x * 5) % 251).toInt
  @inline private def bCh(id: Long, x: Int, y: Int): Int = ((id * 29 + y * 23 + x * 3) % 251).toInt
  private def bmpW(id: Long): Int = 4 + (id % 4).toInt
  private def bmpH(id: Long): Int = 3 + (id % 3).toInt

  /** A genuine 24-bit BI_RGB BMP of the arithmetic raster — byte layout
    * lives in [[encodeBmp24]] (one writer, no drift). Widths 4–7 exercise
    * every padding case (0–3 pad bytes). */
  def bmpBytes(id: Long): Array[Byte] = {
    val w = bmpW(id); val h = bmpH(id)
    encodeBmp24(w, h, Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (rCh(id, x, y) << 16) | (gCh(id, x, y) << 8) | bCh(id, x, y)
    })
  }

  /** Deterministic synthetic table of REAL BMP payloads. */
  def syntheticBmp(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      MediaRow(id, bmpBytes(id),
        MediaMeta("image", bmpW(id), bmpH(id), 0, "bmp"))
    }.toDF()
  }

  /** Pixel budget for [[decodeImage]]: a header may truthfully parse while
    * declaring absurd dimensions (decompression bomb) — reject BEFORE
    * allocating the raster, because the resulting OutOfMemoryError is an
    * Error no quarantine catch should swallow. */
  val MaxDecodePixels: Long = 64L * 1024 * 1024

  /** REAL decode: ImageIO → (width, height, per-channel pixel-mean in ppm,
    * per-channel POSITION-WEIGHTED sum). Integer math throughout so the
    * oracle replay is bit-exact (NOTES trap: never gate float summation
    * order). The weighted sum — Σ channel(x,y) · (y·w + x + 1) — is what
    * makes the gate prove pixel POSITIONS, not just totals: a plain sum is
    * permutation-invariant, so a vertically-flipped or mirrored decode
    * would pass it. Undecodable or over-budget
    * bytes → None (quarantine semantics — dimensions are checked from the
    * HEADER, before raster allocation, so a bomb cannot OOM the task). */
  def decodeImage(payload: Array[Byte])
      : Option[(Int, Int, Long, Long, Long, Long)] =
    readImage(payload).map { img =>
      val w = img.getWidth; val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L; var wsum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val px = img.getRGB(x, y) // ARGB, top-down
          val r = (px >> 16) & 0xFF; val g = (px >> 8) & 0xFF; val b = px & 0xFF
          sr += r; sg += g; sb += b
          wsum += r.toLong * (y.toLong * w + x + 1)
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      (w, h, sr * 1000000L / n, sg * 1000000L / n, sb * 1000000L / n, wsum)
    }

  /** The guarded ImageIO read shared by [[decodeImage]] and [[resize]]:
    * header-first dimension budget (a bomb cannot OOM the task — rejected
    * BEFORE raster allocation), stream/reader closed on every path. */
  private def readImage(payload: Array[Byte])
      : Option[java.awt.image.BufferedImage] = {
    if (payload == null || payload.isEmpty) return None
    try {
      // iis closed in try/finally INCLUDING the no-reader early return:
      // with ImageIO's default useCache=true each stream can be a
      // disk-backed FileCacheImageInputStream whose temp file + fd are
      // otherwise reclaimed only at GC — a file-handle churn at the
      // documented per-row scale.
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val w = reader.getWidth(0); val h = reader.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels) return None
          Some(reader.read(0))
        } finally reader.dispose()
      } finally iis.close()
    } catch {
      // NonFatal, not just IOException: ImageIO plugins throw
      // IndexOutOfBounds/IllegalArgument on corrupt data; genuine Errors
      // (OOM) still propagate — the dimension
      // budget above is what prevents them for bomb inputs.
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** A genuine 24-bit BI_RGB BMP from a row-major TOP-DOWN ARGB raster —
    * the [[bmpBytes]] layout (bottom-up BGR rows, 4-byte padding)
    * generalized to arbitrary pixels; [[resize]]'s re-encode side. */
  def encodeBmp24(w: Int, h: Int, argb: Array[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && argb.length == w * h,
      s"encodeBmp24: ${w}x$h needs ${w * h} pixels, got ${argb.length}")
    val rowBytes = w * 3
    val pad = (4 - rowBytes % 4) % 4
    val imageSize = (rowBytes + pad) * h
    val fileSize = 54 + imageSize
    val out = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putShort(0).putShort(0).putInt(54)
    out.putInt(40).putInt(w).putInt(h) // positive height = bottom-up
      .putShort(1).putShort(24).putInt(0) // planes, bpp, BI_RGB
      .putInt(imageSize).putInt(0).putInt(0).putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) { // bottom-up row order
      var x = 0
      while (x < w) {
        val px = argb(y * w + x)
        out.put((px & 0xFF).toByte).put(((px >> 8) & 0xFF).toByte)
          .put(((px >> 16) & 0xFF).toByte)
        x += 1
      }
      var p = 0
      while (p < pad) { out.put(0.toByte); p += 1 }
      y -= 1
    }
    out.array()
  }

  /** Per-payload resize kernel: guarded decode → nearest-neighbor
    * resample on the exact integer map sx = ⌊x·sw/w⌋, sy = ⌊y·sh/h⌋ (no
    * float filtering, so every output pixel is a replayable source
    * pixel) → 24-bit BMP re-encode. None = quarantine (undecodable). */
  def resizeImagePayload(payload: Array[Byte], dstW: Int, dstH: Int)
      : Option[Array[Byte]] = {
    require(dstW > 0 && dstH > 0 && dstW.toLong * dstH <= MaxDecodePixels,
      s"resize to ${dstW}x$dstH exceeds the pixel budget")
    readImage(payload).map { img =>
      val sw = img.getWidth; val sh = img.getHeight
      val out = new Array[Int](dstW * dstH)
      var y = 0
      while (y < dstH) {
        // long products: x·sw / y·sh overflow Int for legitimate budgets
        // (8192-wide source × 300k target), and a wrapped negative index
        // would escape the quarantine as an uncaught bounds exception
        val sy = ((y.toLong * sh) / dstH).toInt
        var x = 0
        while (x < dstW) {
          out(y * dstW + x) = img.getRGB(((x.toLong * sw) / dstW).toInt, sy)
          x += 1
        }
        y += 1
      }
      encodeBmp24(dstW, dstH, out)
    }
  }

  /** Image feature extraction over the REAL decoder — mapPartitions so a
    * swapped-in heavyweight decoder has a per-partition init point (the
    * documented batch shape; plain .map has none);
    * undecodable payloads surface as decoded=false rows. */
  def extractImageFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init goes here (lazy val in closure)
        it.map { case (id, bytes) =>
          decodeImage(bytes) match {
            case Some((w, h, r, g, b, ws)) => (id, true, w, h, r, g, b, ws)
            case None => (id, false, 0, 0, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "width", "height", "r_ppm", "g_ppm",
        "b_ppm", "r_wsum")
  }

  /** Deterministic 16-bit PCM samples: centered on 0, byte-exact to
    * replay (2003 is prime; values in [-1001, 1001] fit 16-bit signed). */
  @inline private def pcmSample(id: Long, i: Int): Int =
    (((id * 31 + i * 7) % 2003) - 1001).toInt
  private def wavSamples(id: Long): Int = 50 + (id % 50).toInt

  /** A genuine RIFF/WAVE file: 44-byte canonical header (PCM, mono,
    * 16-bit, 8 kHz) + little-endian samples. */
  def wavBytes(id: Long): Array[Byte] = {
    val n = wavSamples(id)
    val dataSize = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(8000) // sample rate
      .putInt(8000 * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) { out.putShort(pcmSample(id, i).toShort); i += 1 }
    out.array()
  }

  /** Deterministic synthetic table of REAL WAV payloads. */
  def syntheticWav(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      MediaRow(id, wavBytes(id),
        MediaMeta("audio", 0, 0, wavSamples(id) * 1000 / 8000, "wav"))
    }.toDF()
  }

  /** REAL audio decode: `javax.sound.sampled` (JDK-bundled) parses the WAV
    * container and PCM encoding → (sampleRateHz, nSamples, sum, sumAbs,
    * position-weighted sum Σ sᵢ·(i+1)) — all integers, so the oracle replay
    * is bit-exact, and the weighted sum pins sample ORDER (a plain sum is
    * permutation-invariant). Guards require PCM_SIGNED explicitly: a
    * 16-bit mono little-endian PCM_UNSIGNED stream would otherwise pass
    * and be silently misread as signed. Undecodable bytes → None. */
  def decodeAudio(payload: Array[Byte]): Option[(Int, Long, Long, Long, Long)] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = in.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 || fmt.isBigEndian)
        return None
      val bytes = in.readAllBytes()
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var sum = 0L; var sumAbs = 0L; var wsum = 0L; var n = 0L
      while (buf.remaining() >= 2) {
        val s = buf.getShort.toLong
        sum += s; sumAbs += math.abs(s); wsum += s * (n + 1); n += 1
      }
      Some((fmt.getSampleRate.toInt, n, sum, sumAbs, wsum))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Audio feature extraction over the REAL decoder — mapPartitions (the
    * per-partition decoder-init batch shape), undecodable rows flagged. */
  def extractAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeAudio(bytes) match {
            case Some((sr, n, sum, sumAbs, ws)) =>
              (id, true, sr, n, sum, sumAbs, ws)
            case None => (id, false, 0, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("media_id", "decoded", "sample_rate", "n_samples", "sum_pcm",
        "sum_abs_pcm", "wsum_pcm")
  }

  // ---------------------------------------------------- REAL video decode

  /** REAL video decode tier: genuine MJPEG-in-AVI files. The
    * JDK ships no video DEMUXER, so the RIFF/AVI container walk is ours
    * (the same ~100-line RIFF machinery the q64 WAV builder already
    * exercises, bounds-checked chunk by chunk) — but the per-frame PIXEL
    * decode is `javax.imageio`'s independent JPEG codec, exactly the
    * honesty split that made q63/q64 real. Frames are uniform-gray JPEGs at
    * 8 discrete levels spaced 32 apart; uniform gray is DC-only, so the JDK
    * codec round-trips it EXACTLY (measured: min=max=v at quality 0.9), and
    * the gate still quantizes to the level grid so any ≤±13 codec wobble
    * can never flip a green row — the gate claims JPEG semantics, not JPEG
    * bit-exactness. Per-frame levels vary with frame index, so a reversed
    * or resequenced container walk cannot pass the oracle. */

  /** Gate arithmetic: frame f of video id carries uniform gray level
    * (id·7 + f·13) mod 8 → pixel value 16 + 32·level. */
  @inline private def frameLevel(id: Long, f: Int): Int = ((id * 7 + f * 13) % 8).toInt
  private def aviFrameCount(id: Long): Int = 3 + (id % 4).toInt
  private val FrameW = 16
  private val FrameH = 16

  /** The 8 canonical frame JPEGs, encoded once per JVM (deterministic:
    * fixed input, fixed quality, fixed JDK encoder tables). */
  private lazy val levelJpegs: Array[Array[Byte]] = Array.tabulate(8) { l =>
    val v = 16 + 32 * l
    val img = new java.awt.image.BufferedImage(FrameW, FrameH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < FrameH) {
      var x = 0
      while (x < FrameW) { img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.9f)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { ios.close(); w.dispose() }
    bos.toByteArray
  }

  /** A genuine RIFF/AVI MJPEG file: hdrl (avih + strl{strh 'vids'/'MJPG',
    * strf BITMAPINFOHEADER}), movi with one '00dc' chunk per JPEG frame
    * (even-padded, per the RIFF rule the WAV path also obeys). 10 fps. */
  def aviBytes(id: Long): Array[Byte] = {
    val frames = (0 until aviFrameCount(id)).map(f => levelJpegs(frameLevel(id, f)))
    val moviBody = frames.map(fb => 8 + fb.length + (fb.length & 1)).sum
    val maxFrame = frames.map(_.length).max
    val hdrlSize = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val riffBody = 4 + (8 + hdrlSize) + (8 + 4 + moviBody)
    val out = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String): Unit = { out.put(s.getBytes("US-ASCII")); () }
    fcc("RIFF"); out.putInt(riffBody); fcc("AVI ")
    fcc("LIST"); out.putInt(hdrlSize); fcc("hdrl")
    fcc("avih"); out.putInt(56)
    out.putInt(100000) // dwMicroSecPerFrame (10 fps)
      .putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
      .putInt(frames.length).putInt(0).putInt(1) // totalFrames, initial, streams
      .putInt(maxFrame).putInt(FrameW).putInt(FrameH)
      .putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
    fcc("LIST"); out.putInt(4 + (8 + 56) + (8 + 40)); fcc("strl")
    fcc("strh"); out.putInt(56)
    fcc("vids"); fcc("MJPG")
    out.putInt(0).putShort(0).putShort(0).putInt(0) // flags, prio, lang, initFrames
      .putInt(1).putInt(10) // dwScale / dwRate = 10 fps
      .putInt(0).putInt(frames.length).putInt(maxFrame)
      .putInt(-1).putInt(0) // quality (default), sampleSize (0 = per-frame)
      .putShort(0).putShort(0).putShort(FrameW.toShort).putShort(FrameH.toShort)
    fcc("strf"); out.putInt(40)
    out.putInt(40).putInt(FrameW).putInt(FrameH).putShort(1).putShort(24)
    fcc("MJPG")
    out.putInt(maxFrame).putInt(0).putInt(0).putInt(0).putInt(0)
    fcc("LIST"); out.putInt(4 + moviBody); fcc("movi")
    frames.foreach { fb =>
      fcc("00dc"); out.putInt(fb.length); out.put(fb)
      if ((fb.length & 1) == 1) out.put(0.toByte)
    }
    out.array()
  }

  /** Deterministic synthetic table of REAL MJPEG-AVI payloads. */
  def syntheticAvi(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      MediaRow(id, aviBytes(id),
        MediaMeta("video", FrameW, FrameH, aviFrameCount(id) * 100, "mjpeg"))
    }.toDF()
  }

  /** Frame-count budget for [[decodeVideoFrames]] — the container-level
    * analog of [[MaxDecodePixels]]: a tiny crafted AVI can DECLARE millions
    * of chunks; the walk stops cold instead of looping a task for hours. */
  val MaxVideoFrames: Int = 4096

  /** REAL video decode: walk the RIFF/AVI structure (bounds-checked; LIST
    * recursion; even-padded chunks), collect '00dc'/'00db' frame chunks IN
    * CONTAINER ORDER, decode each through [[decodeImage]] (ImageIO — with
    * its pixel budget and NonFatal quarantine), and quantize the red-channel
    * mean onto the 32-wide level grid. Returns one (width, height, level)
    * per frame; None = quarantine (not an AVI, malformed walk, over budget,
    * or any frame undecodable — a video with ANY bad frame is suspect). */
  def decodeVideoFrames(payload: Array[Byte]): Option[Vector[(Int, Int, Int)]] = {
    if (payload == null || payload.length < 12) return None
    try {
      val buf = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      if (fourcc() != "RIFF") return None
      val declared = buf.getInt
      if (declared < 4 || declared > payload.length - 8) return None
      if (fourcc() != "AVI ") return None
      val frames = Vector.newBuilder[Array[Byte]]
      var n = 0
      def walk(end: Int): Boolean = { // false = malformed
        var ok = true
        while (ok && buf.position() + 8 <= end) {
          val id = fourcc()
          val size = buf.getInt
          // overflow-safe: 'position + size > end' wraps negative for a
          // crafted size near Int.MaxValue and would bypass the guard,
          // reaching the ~2GB allocation below as an OOM Error the
          // NonFatal quarantine deliberately does not swallow
          if (size < 0 || size > end - buf.position()) ok = false
          else {
            val chunkEnd = buf.position() + size
            if (id == "LIST" && size >= 4) {
              fourcc() // list type — movi/hdrl/strl all walked uniformly
              ok = walk(chunkEnd)
            } else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
                (id.substring(2) == "dc" || id.substring(2) == "db")) {
              n += 1
              if (n > MaxVideoFrames) return false
              val fb = new Array[Byte](size)
              buf.get(fb)
              frames += fb
            }
            // even padding — clamped to the walk window: a spec-valid AVI
            // whose FINAL chunk is odd-sized may legally end without the
            // RIFF pad byte, and stepping past the limit would throw and
            // quarantine an otherwise well-formed container
            buf.position(math.min(chunkEnd + (size & 1), end))
          }
        }
        ok
      }
      if (!walk(8 + declared)) return None
      val found = frames.result()
      if (found.isEmpty) return None // an AVI with zero frames is suspect
      val decoded = found.map(decodeImage)
      if (decoded.exists(_.isEmpty)) None
      else Some(decoded.map(_.get).map { case (w, h, rPpm, _, _, _) =>
        // rPpm = floor(mean_r · 10^6); grid spacing 32 with values at
        // 16 + 32·l keeps a ±13-level codec wobble inside the cell
        (w, h, (rPpm / 32000000L).toInt)
      })
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Video frame-feature extraction over the REAL decoder — mapPartitions
    * (per-partition decoder-init batch shape), one row per decoded frame in
    * container order; undecodable containers flagged as one decoded=false
    * row (quarantine, never dropped silently). */
  def extractVideoFrames(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeVideoFrames(bytes) match {
            case Some(frames) => frames.iterator.zipWithIndex.map {
              case ((w, h, level), f) => (id, true, f, w, h, level)
            }
            case None => Iterator.single((id, false, -1, 0, 0, 0))
          }
        }
      }
      .toDF("media_id", "decoded", "frame_idx", "width", "height", "level")
  }

  /** REAL resize stage — the payload itself is rewritten (decode →
    * integer nearest-neighbor resample → 24-bit BMP re-encode), not just
    * the metadata. mapPartitions batch shape (decoder
    * init point); undecodable payloads pass through byte-untouched with
    * resized=false — quarantine, never dropped. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"), col("meta"))
      .as[(Long, Array[Byte], MediaMeta)]
      .mapPartitions { it =>
        it.map { case (id, bytes, meta) =>
          resizeImagePayload(bytes, w, h) match {
            case Some(resized) =>
              (id, resized, meta.copy(width = w, height = h, codec = "bmp"),
                true)
            case None => (id, bytes, meta, false) // byte-untouched quarantine
          }
        }
      }
      .toDF("media_id", "payload", "meta", "resized")
  }

  /** Frame-sample stage: every video row explodes into ceil(duration/stepMs)
    * frame rows keyed (media_id, frame_idx) — the row-explosion shape a real
    * frame sampler needs (the REAL per-frame decode lives in
    * [[extractVideoFrames]]; this stage is the timestamp-grid planner).
    * Zero/unknown-duration videos (every row fromBinaryFiles emits until
    * decode fills durations) produce ZERO frames per the contract — a
    * greatest(…, 0) floor would emit one spurious frame each. */
  def frameSample(media: DataFrame, stepMs: Int): DataFrame =
    media.filter(col("meta.kind") === "video" && col("meta.durationMs") > 0)
      .withColumn("frame_idx",
        explode(sequence(lit(0),
          ceil(col("meta.durationMs").cast("double") / stepMs).cast("int") - 1)))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx") * stepMs).as("frame_ts_ms"))
}
