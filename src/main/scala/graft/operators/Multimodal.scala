package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, processed partition-wise with typed Datasets.
  *
  * IMAGE decode is REAL: `decode` runs `javax.imageio` (JDK built-in —
  * PNG/JPEG/BMP/GIF) on any payload whose bytes parse as an image, and
  * only falls back to the deterministic pseudo-decode when they don't.
  * AUDIO decode is REAL too: `decodeAudio` parses RIFF/WAVE through
  * `javax.sound.sampled` (JDK built-in) — header metadata and PCM sample
  * statistics come from the actual decoded stream. Only COMPRESSED
  * audio/video codecs (mp3/h264/...) remain out of scope — the container
  * ships no codec libraries — and the video path keeps its deterministic
  * fake behind the real Spark-side contract: schema (binary + struct
  * metadata), partition-preserving mapPartitions with batched iterators,
  * fixed-shape feature vectors, and frame sampling via posexplode.
  *
  * At 100 TB the decode step is the dominant cost and is embarrassingly
  * parallel: mapPartitions keeps it scan-side (no shuffle), and the output
  * is a fixed ~few-hundred-bytes row regardless of media size, so
  * downstream stages shuffle features, never bytes.
  */
object Multimodal {

  case class MediaRow(media_id: Long, media_type: String, content: Array[Byte])
  case class DecodedMedia(
      media_id: Long, media_type: String,
      width: Int, height: Int, channels: Int,
      n_bytes: Long, checksum: Long, features: Array[Float])

  val FeatureDim = 16

  /** Fan a CPU-bound per-row stage out by ROWS, not input bytes. Spark
    * sizes scan partitions by FILE bytes, so a few MB of encoded blobs
    * arrive in one partition — but decode/resample work per row is
    * 100-1000× the input (a 224×224 raster is 150 KB derived from a
    * ~1 KB PNG), so a byte-sized scan serializes the whole stage on one
    * core (measured: multimodal_resize 4.6 s single-threaded at sf0.1).
    * Widen ONLY when the input has fewer partitions than cores
    * ([[Par.partitions]]' plan-time estimate); at real scale the scan is
    * already wide and this is a no-op — no shuffle. A light per-row
    * stage (decode: ~50 µs/row) only pays for the widen shuffle when the
    * input is sizable AND narrow; a heavy one (224×224 resample: ~1
    * ms/row) wins even on a one-partition scan (measured 7× at sf0.1).
    */
  private def widenForCpu(df: DataFrame,
      heavyPerRow: Boolean = true): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    Par.partitions(df, target) match {
      case Some(est) if (heavyPerRow || est > 1) && est < target => df.repartition(target)
      case _ => df
    }
  }

  /** Build a media table from any table with an id + string column: the
    * string bytes stand in for encoded media (deterministic fake payload).
    */
  def mediaTable(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("media_type"),
      col(payloadCol).cast("binary").as("content"))

  /** Deterministic RGB PNG for `id`: dimensions and the constant fill
    * color are pure arithmetic on the id (`w = 8 + id%16`,
    * `h = 8 + id%13`, `rgb = (id%256, id*7%256, id*13%256)`), so an
    * independent engine can predict exactly what a REAL decoder must
    * recover — that's what makes `multimodal_decode` oracle-checkable.
    * Encoded with `javax.imageio` (JDK built-in; works headless).
    */
  def syntheticPng(id: Long): Array[Byte] = {
    // every output field is a function of (id mod 256, id mod 13): w = 8 +
    // id%16 and 16 | 256, and r/g/b reduce mod 256 — so there are only
    // 256×13 = 3328 distinct payloads. Memoize the encode executor-side;
    // encoding (writer lookup + deflate) per ROW had dominated both
    // multimodal fixtures' wall-clock at sf1, which measured the
    // generator, not the decoder under test.
    val key = (java.lang.Math.floorMod(id, 256L) * 13 +
      java.lang.Math.floorMod(id, 13L)).toInt
    pngCache.computeIfAbsent(key, _ => encodePng(id))
  }

  private val pngCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()

  private def encodePng(id: Long): Array[Byte] = {
    val w = 8 + java.lang.Math.floorMod(id, 16L).toInt
    val h = 8 + java.lang.Math.floorMod(id, 13L).toInt
    val r = java.lang.Math.floorMod(id, 256L).toInt
    val g = java.lang.Math.floorMod(id * 7, 256L).toInt
    val b = java.lang.Math.floorMod(id * 13, 256L).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    // constant fill straight into the raster buffer (BGR byte order)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var i = 0
    while (i < buf.length) {
      buf(i) = b.toByte; buf(i + 1) = g.toByte; buf(i + 2) = r.toByte
      i += 3
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Deterministic 8-bit PCM WAV for `id`: mono, 8 kHz,
    * `n = 64 + id%128` samples with `sample[i] = (i·(1 + id%7) + id%13)
    * mod 256` — pure integer arithmetic, so an independent engine can
    * predict every statistic a REAL decoder must recover (the audio
    * analog of [[syntheticPng]]). Encoded as a standard RIFF/WAVE
    * container that `javax.sound.sampled` parses.
    */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = 64 + java.lang.Math.floorMod(id, 128L).toInt
    val step = 1 + java.lang.Math.floorMod(id, 7L).toInt
    val base = java.lang.Math.floorMod(id, 13L).toInt
    val data = new Array[Byte](n)
    var i = 0
    while (i < n) {
      data(i) = ((i * step + base) % 256).toByte
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream(44 + n)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("RIFF".getBytes); w32(36 + n); out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); w32(16)
    w16(1) /* PCM */ ; w16(1) /* mono */ ; w32(8000) /* rate */
    w32(8000) /* byte rate */ ; w16(1) /* block align */ ; w16(8) /* bits */
    out.write("data".getBytes); w32(n)
    out.write(data)
    out.toByteArray
  }

  /** Media table of REAL encoded WAVs (one per row), executor-side. */
  def audioTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, "audio", syntheticWav(id))))
      .toDF()
  }

  case class DecodedAudio(media_id: Long, sample_rate: Int, channels: Int,
      n_samples: Long, mean_amp: Double, min_amp: Int, max_amp: Int)

  /** RIFF chunk walk for 8-bit PCM WAV — the hot decode path. Returns
    * null for anything it doesn't handle (wrong magic, compressed, 16-bit,
    * truncated), and the caller falls back to `javax.sound.sampled`.
    * A real parser, validated against the JDK codec in OperatorSpec;
    * `AudioSystem.getAudioInputStream` probes the provider registry per
    * call, which dominated wall-clock at millions of small clips.
    */
  private def parseWav8(b: Array[Byte], mediaId: Long): DecodedAudio = {
    def r32(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    def r16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def tag(o: Int, s: String): Boolean =
      b(o) == s(0) && b(o + 1) == s(1) && b(o + 2) == s(2) && b(o + 3) == s(3)
    if (b.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return null
    var off = 12
    var rate = -1; var channels = -1; var bits = -1
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= b.length && (rate < 0 || dataOff < 0)) {
      val sz = r32(off + 4)
      if (tag(off, "fmt ")) {
        if (r16(off + 8) != 1) return null // not plain PCM
        channels = r16(off + 10); rate = r32(off + 12); bits = r16(off + 22)
      } else if (tag(off, "data")) { dataOff = off + 8; dataLen = sz }
      off += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (rate < 0 || dataOff < 0 || bits != 8 ||
        dataOff + dataLen > b.length) return null
    var sum = 0L; var mn = 255; var mx = 0
    var i = dataOff
    val end = dataOff + dataLen
    while (i < end) {
      val v = b(i) & 0xff
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    DecodedAudio(mediaId, rate, channels, dataLen.toLong,
      if (dataLen > 0) sum.toDouble / dataLen else 0.0, mn, mx)
  }

  /** REAL audio decode: the RIFF/PCM chunk walker handles the common
    * 8-bit WAV case in-line; anything else goes through
    * `javax.sound.sampled` (JDK built-in — 16-bit, other containers).
    * Rows whose bytes parse as neither are dropped (a real pipeline
    * routes them to quarantine). Partition-wise, no shuffle, fixed-size
    * output rows.
    */
  def decodeAudio(spark: SparkSession, media: DataFrame): Dataset[DecodedAudio] = {
    import spark.implicits._
    // no widenForCpu here: the WAV chunk walk is ~1 µs/row — the widen
    // shuffle would cost more than the work it parallelizes
    media.as[MediaRow].mapPartitions(_.flatMap { row =>
      val fast =
        try parseWav8(row.content, row.media_id)
        catch { case scala.util.control.NonFatal(_) => null }
      if (fast != null) Some(fast)
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(row.content))
        val fmt = ais.getFormat
        val bytes = ais.readAllBytes()
        var sum = 0L; var mn = 255; var mx = 0
        var i = 0
        while (i < bytes.length) {
          val v = bytes(i) & 0xff
          sum += v; if (v < mn) mn = v; if (v > mx) mx = v
          i += 1
        }
        val n = bytes.length.toLong
        Some(DecodedAudio(row.media_id, fmt.getSampleRate.toInt,
          fmt.getChannels, n,
          if (n > 0) sum.toDouble / n else 0.0, mn, mx))
      } catch {
        case scala.util.control.NonFatal(_) => None
      }
    })
  }

  /** Deterministic MJPEG-style video container for `id`: magic "GFV0",
    * little-endian frame count and per-frame byte lengths, then `n`
    * concatenated REAL PNGs (frame k is [[syntheticPng]] of `id + k`, so
    * an oracle predicts every frame's dims and fill color). The simplest
    * honest stand-in for an uncompressed video container — the frames are
    * real encoded images, only inter-frame compression is out of scope.
    */
  def syntheticVideo(id: Long, nFrames: Int = 4): Array[Byte] = {
    val frames = Array.tabulate(nFrames)(k => syntheticPng(id + k))
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    out.write("GFV0".getBytes)
    w32(nFrames)
    frames.foreach(f => w32(f.length))
    frames.foreach(out.write)
    out.toByteArray
  }

  /** Media table of REAL video containers (one per row), executor-side. */
  def videoTable(df: DataFrame, idCol: String, nFrames: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, "video", syntheticVideo(id, nFrames))))
      .toDF()
  }

  case class DecodedFrame(media_id: Long, frame_idx: Int,
      width: Int, height: Int, mean_r: Int, mean_g: Int, mean_b: Int)

  /** REAL video frame decode: parse the GFV0 container, slice out each
    * frame's bytes, and run the real image decoder on every frame. Rows
    * that aren't a parseable container are dropped. Per-frame output is
    * fixed-size — downstream stages shuffle frame features, never frame
    * bytes.
    */
  def decodeVideoFrames(spark: SparkSession, media: DataFrame): Dataset[DecodedFrame] = {
    import spark.implicits._
    widenForCpu(media).as[MediaRow].mapPartitions(_.flatMap { row =>
      val b = row.content
      if (b == null || b.length < 8 ||
          b(0) != 'G' || b(1) != 'F' || b(2) != 'V' || b(3) != '0') Iterator.empty
      else try {
        def r32(off: Int): Int =
          (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
            ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
        val n = r32(4)
        val lens = Array.tabulate(n)(k => r32(8 + 4 * k))
        var off = 8 + 4 * n
        (0 until n).iterator.flatMap { k =>
          val fb = java.util.Arrays.copyOfRange(b, off, off + lens(k))
          off += lens(k)
          val img = readImage(fb)
          if (img == null) None
          else {
            val w = img.getWidth; val h = img.getHeight
            var sr = 0L; var sg = 0L; var sb = 0L
            if (img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR) {
              val buf = img.getRaster.getDataBuffer
                .asInstanceOf[java.awt.image.DataBufferByte].getData
              var i = 0
              while (i < buf.length) {
                sb += buf(i) & 0xff; sg += buf(i + 1) & 0xff; sr += buf(i + 2) & 0xff
                i += 3
              }
            } else {
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
                  x += 1
                }
                y += 1
              }
            }
            val np = w.toLong * h
            Some(DecodedFrame(row.media_id, k, w, h,
              (sr / np).toInt, (sg / np).toInt, (sb / np).toInt))
          }
        }.toVector
      } catch {
        case scala.util.control.NonFatal(_) => Iterator.empty
      }
    })
  }

  /** Media table of REAL encoded PNGs, one per row of `df`, generated
    * executor-side (mapPartitions — the bytes never route through the
    * driver, matching how a real pipeline would scan already-encoded
    * blobs).
    */
  def imageTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, "image", syntheticPng(id))))
      .toDF()
  }

  /** Thread-local PNG reader: `ImageIO.read` does a plugin-registry scan
    * and allocates a fresh reader PER CALL — measurable at millions of
    * small images. One reader per executor thread, `setInput` per payload.
    */
  private val pngReader =
    new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader = {
        val it = javax.imageio.ImageIO.getImageReadersByFormatName("png")
        if (it.hasNext) it.next() else null
      }
    }

  /** Decode any supported format; PNG payloads (signature-sniffed) reuse
    * the thread-local reader, everything else takes the general
    * registry path. Returns null when the bytes aren't a parseable image.
    */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    if (bytes.length > 8 && (bytes(0) & 0xff) == 0x89 &&
        bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') {
      val rd = pngReader.get()
      if (rd != null) {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          rd.setInput(iis)
          return rd.read(0)
        } catch {
          case scala.util.control.NonFatal(_) => // corrupt → general path
        } finally iis.close()
      }
    }
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
  }

  /** Real image decode via `javax.imageio`: dimensions, channel count, and
    * mean R/G/B (features 0-2, scaled to [0,1]) come from the actual
    * decoded raster. Returns None when the bytes aren't a parseable image
    * (the caller falls back to the pseudo-decode).
    */
  private def decodeImage(row: MediaRow, bytes: Array[Byte]): Option[DecodedMedia] =
    try {
      val img = readImage(bytes)
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val ch = img.getColorModel.getNumComponents
        var sumR = 0L; var sumG = 0L; var sumB = 0L
        // fast path: PNG/JPEG decode to TYPE_3BYTE_BGR — sum straight off
        // the raster's backing byte buffer (getRGB does a per-pixel
        // colorspace conversion and dominated decode wall-clock at scale)
        if (img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR) {
          val buf = img.getRaster.getDataBuffer
            .asInstanceOf[java.awt.image.DataBufferByte].getData
          var i = 0
          val end = w * h * 3
          while (i < end) {
            sumB += buf(i) & 0xff
            sumG += buf(i + 1) & 0xff
            sumR += buf(i + 2) & 0xff
            i += 3
          }
        } else {
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sumR += (rgb >> 16) & 0xff; sumG += (rgb >> 8) & 0xff; sumB += rgb & 0xff
              x += 1
            }
            y += 1
          }
        }
        val n = w.toLong * h
        val cks = fnv1a(bytes)
        val feats = new Array[Float](FeatureDim)
        feats(0) = (sumR.toDouble / n / 255.0).toFloat
        feats(1) = (sumG.toDouble / n / 255.0).toFloat
        feats(2) = (sumB.toDouble / n / 255.0).toFloat
        var j = 3
        while (j < FeatureDim) { feats(j) = pseudoFeature(cks, j); j += 1 }
        Some(DecodedMedia(row.media_id, row.media_type, w, h, ch,
          bytes.length.toLong, cks, feats))
      }
    } catch {
      // corrupt payloads: some ImageIO plugins throw (IIOException, even
      // RuntimeException on truncated streams) instead of returning null
      case scala.util.control.NonFatal(_) => None
    }

  private def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  private def pseudoFeature(seed: Long, j: Int): Float = {
    // splitmix64 stream over the checksum: stable fake "embedding" dim
    var z = seed + 0x9e3779b97f4a7c15L * (j + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    ((z ^ (z >>> 31)) & 0xffffff).toFloat / 0xffffff.toFloat
  }

  /** Decode one row: REAL `javax.imageio` decode for image payloads that
    * parse; deterministic pseudo-decode otherwise (audio/video stubs and
    * non-image bytes). The partition-iterator shape (reuse buffers, stream
    * rows) is the at-scale contract either way.
    */
  /** Magic-byte sniff (PNG/JPEG/GIF/BMP) before attempting a real decode:
    * ImageIO's failure path is a full plugin-registry probe per call,
    * which dominated the pseudo-decode fixture (arbitrary non-image
    * payloads) at sf1. Real decoders sniff containers the same way.
    */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    b.length > 8 && (
      ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) ||
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b(0) == 'B' && b(1) == 'M'))

  private def decodeOne(row: MediaRow): DecodedMedia = {
    val bytes = if (row.content == null) Array.empty[Byte] else row.content
    if (row.media_type == "image" && looksLikeImage(bytes)) {
      decodeImage(row, bytes) match {
        case Some(d) => return d
        case None => // not a real image — fall through to the pseudo path
      }
    }
    // rolling 64-bit checksum (FNV-1a), also the seed for fake dimensions
    val h = fnv1a(bytes)
    val w = 64 + (math.abs(h) % 1024).toInt
    val ht = 64 + (math.abs(h >> 10) % 1024).toInt
    val ch = if (row.media_type == "audio") 1 else 3
    val feats = Array.tabulate(FeatureDim)(pseudoFeature(h, _))
    DecodedMedia(row.media_id, row.media_type, w, ht, ch, bytes.length.toLong, h, feats)
  }

  /** Decode/feature-extract, partition-wise. No shuffle; output row size is
    * fixed and small.
    */
  def decode(spark: SparkSession, media: DataFrame): Dataset[DecodedMedia] = {
    import spark.implicits._
    widenForCpu(media, heavyPerRow = false).as[MediaRow]
      .mapPartitions(_.map(decodeOne))
  }

  /** REAL image resize: decode via `javax.imageio`, resample with
    * deterministic nearest-neighbor (src = floor(dst·srcDim/dstDim) — our
    * own loop, not AWT's smoothing scaler, so every JVM produces identical
    * rasters), then re-extract features from the resampled raster. The
    * checksum hashes the resampled RGB bytes, so any raster-geometry bug
    * (off-by-one sampling, axis swap, out-of-bounds black rows) changes
    * observable output. Non-image payloads take the pseudo path via
    * [[resize]]. Partition-wise, no shuffle, fixed-size output rows.
    */
  def resizeImages(spark: SparkSession, media: DataFrame, targetW: Int,
      targetH: Int): Dataset[DecodedMedia] = {
    import spark.implicits._
    widenForCpu(media).as[MediaRow].mapPartitions(_.map { row =>
      val bytes = if (row.content == null) Array.empty[Byte] else row.content
      val img =
        if (row.media_type == "image" && looksLikeImage(bytes))
          try readImage(bytes)
          catch { case scala.util.control.NonFatal(_) => null }
        else null
      if (img == null) resizeOnePseudo(decodeOne(row), targetW, targetH)
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new Array[Byte](targetW * targetH * 3)
        var sumR = 0L; var sumG = 0L; var sumB = 0L
        // same raster fast path as decodeImage: read source pixels straight
        // off the TYPE_3BYTE_BGR backing buffer; getRGB's per-pixel
        // colorspace conversion dominated resize wall-clock at sf1
        val bgr =
          if (img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            img.getRaster.getDataBuffer
              .asInstanceOf[java.awt.image.DataBufferByte].getData
          else null
        // NN upscaling repeats each source row ~targetH/h times (a
        // 224-target over a 8-20px source replicates 11-28×): compute
        // each UNIQUE source row once (sx map hoisted — two integer
        // divisions per pixel were the inner-loop cost), then arraycopy
        // the rendered row for every repeat. Byte-identical to the
        // per-pixel loop (same floor sampling), ~10× less pixel math.
        val sxm = new Array[Int](targetW)
        var sxi = 0
        while (sxi < targetW) { sxm(sxi) = sxi * w / targetW; sxi += 1 }
        var lastSy = -1
        var rowR = 0L; var rowG = 0L; var rowB = 0L
        var y = 0
        while (y < targetH) {
          val sy = y * h / targetH
          val base = y * targetW * 3
          if (sy == lastSy) {
            // sy is monotonic in y: the previous output row is this row
            System.arraycopy(out, base - targetW * 3, out, base, targetW * 3)
          } else {
            lastSy = sy
            rowR = 0L; rowG = 0L; rowB = 0L
            var x = 0
            while (x < targetW) {
              val sx = sxm(x)
              val i = base + x * 3
              var r = 0; var g = 0; var b = 0
              if (bgr != null) {
                val s = (sy * w + sx) * 3
                b = bgr(s) & 0xff; g = bgr(s + 1) & 0xff; r = bgr(s + 2) & 0xff
              } else {
                val rgb = img.getRGB(sx, sy)
                r = (rgb >> 16) & 0xff; g = (rgb >> 8) & 0xff; b = rgb & 0xff
              }
              out(i) = r.toByte; out(i + 1) = g.toByte; out(i + 2) = b.toByte
              rowR += r; rowG += g; rowB += b
              x += 1
            }
          }
          sumR += rowR; sumG += rowG; sumB += rowB
          y += 1
        }
        val n = targetW.toLong * targetH
        val cks = fnv1a(out)
        val feats = new Array[Float](FeatureDim)
        feats(0) = (sumR.toDouble / n / 255.0).toFloat
        feats(1) = (sumG.toDouble / n / 255.0).toFloat
        feats(2) = (sumB.toDouble / n / 255.0).toFloat
        var j = 3
        while (j < FeatureDim) { feats(j) = pseudoFeature(cks, j); j += 1 }
        DecodedMedia(row.media_id, row.media_type, targetW, targetH,
          img.getColorModel.getNumComponents, bytes.length.toLong, cks, feats)
      }
    })
  }

  private def resizeOnePseudo(m: DecodedMedia, targetW: Int,
      targetH: Int): DecodedMedia = {
    val scale = (targetW.toDouble * targetH) / math.max(m.width.toLong * m.height, 1L)
    val h2 = VectorOps.mix64(m.checksum ^ (targetW.toLong << 32 | targetH.toLong))
    DecodedMedia(m.media_id, m.media_type, targetW, targetH, m.channels,
      m.n_bytes, h2, m.features.map(f => (f * scale).toFloat))
  }

  /** STUB resize: deterministic "rescale" of decoded media to target
    * dimensions. A real deployment swaps the body for an image kernel; the
    * contract — typed map, no shuffle, output dims fixed so downstream
    * batching is uniform — is the real part.
    */
  def resize(decoded: Dataset[DecodedMedia], targetW: Int,
      targetH: Int): Dataset[DecodedMedia] = {
    import decoded.sparkSession.implicits._
    decoded.map(resizeOnePseudo(_, targetW, targetH))
  }

  /** Frame sampling: split the payload into `n` fixed-stride "frames"
    * (stub for video frame extraction); posexplode keeps lineage columnar.
    */
  def sampleFrames(media: DataFrame, n: Int = 4): DataFrame = {
    val frameLen = greatest((length(col("content")) / n).cast("int"), lit(1))
    media
      .filter(col("media_type") === "video")
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), lit(n - 1)), i =>
          col("content").substr((i * frameLen + 1).cast("int"), lit(1024)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_bytes")
      .filter(length(col("frame_bytes")) > 0)
  }
}
