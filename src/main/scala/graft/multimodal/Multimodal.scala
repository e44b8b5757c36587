package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.layout.MediaOcr

/** Multimodal columns for a training-data pipeline: image/audio/video as
  * opaque BINARY columns with typed metadata.
  *
  * Decode status (round 3): REAL decoders for
  *   - 24-bit BMP and 16-bit PCM WAV — hand-parsed (header + raw
  *     samples, no codec needed), deterministic across JVMs;
  *   - JPEG / PNG / GIF / TIFF — via the JDK's own javax.imageio
  *     readers, which this sandbox's JDK 17 ships (round-2 verdict:
  *     the earlier "no codecs in this container" claim was wrong for
  *     images); same luma/histogram/aHash feature path as BMP.
  * Only genuinely absent codecs stay STUBBED with a deterministic
  * byte-level fake: compressed AUDIO (MP3/AAC — javax.sound ships no
  * MP3 SPI) and VIDEO containers. The `decoded`
  * output column says which path a row took. The Spark-side plumbing is
  * identical either way: schema, per-partition batch shape
  * (mapPartitions over iterators, the Scala analogue of mapInPandas),
  * partitioning, and the feature-vector output contract (Array[Float],
  * ready for the SimilarityQ operators).
  */
object Multimodal {

  final case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      width: Int,    // images/video
      height: Int,
      sample_rate: Int) // audio

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      /** 16-bin histogram, L1-normalized — the embedding stand-in.
        * Real pixel-luma bins for decoded BMP; byte bins otherwise. */
      features: Array[Float],
      /** real pixel/sample statistic for decoded formats; byte-level
        * deterministic fake for codec formats */
      mean_luma: Float,
      n_frames: Int,
      /** 1 = a real decoder parsed the payload; 0 = stub path */
      decoded: Int)

  /** A real, valid 24-bit uncompressed BMP with deterministic pixels. */
  def genBmp(id: Long, w: Int, h: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val dataSize = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54) // reserved, pixel offset
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var rng = MediaOcr.hash64(s"px:$id")
    var i = 0
    while (i < dataSize) {
      buf.put((rng >>> ((i % 8) * 8)).toByte)
      if (i % 8 == 7) rng = MediaOcr.hash64(s"px:$id:$i")
      i += 1
    }
    buf.array()
  }

  /** A real, valid 16-bit mono PCM WAV with deterministic samples. */
  def genWav(id: Long, sampleRate: Int, nSamples: Int): Array[Byte] = {
    val dataSize = nSamples * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(dataSize)
    var rng = MediaOcr.hash64(s"smp:$id")
    var i = 0
    while (i < nSamples) {
      buf.putShort((rng >>> ((i % 4) * 16)).toShort)
      if (i % 4 == 3) rng = MediaOcr.hash64(s"smp:$id:$i")
      i += 1
    }
    buf.array()
  }

  /** A real YUV4MPEG2 (Y4M) uncompressed video: the plain-text stream
    * header + FRAME-delimited raw C420 planes — a PUBLIC container with
    * no codec, so video decode and frame sampling run on REAL parsed
    * frames (H.264/VP9 etc. remain honestly absent; the opaque stub
    * stays for those). Y planes are per-pixel splitmix noise keyed by
    * (contentKey, frame, index) so distinct videos never collide under
    * aHash; U/V planes sit at neutral 128. */
  def genY4m(contentKey: Long, w: Int, h: Int, nFrames: Int): Array[Byte] = {
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new java.io.ByteArrayOutputStream(
      header.length + nFrames * (6 + w * h * 3 / 2))
    out.write(header)
    val frameHdr = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var f = 0
    while (f < nFrames) {
      out.write(frameHdr)
      val n = w * h
      var rng = 0L
      var i = 0
      while (i < n) {
        if (i % 8 == 0) rng = MediaOcr.hash64(s"y4m:$contentKey:$f:$i")
        out.write(((rng >>> ((i % 8) * 8)) & 0xFF).toInt)
        i += 1
      }
      var c = 0
      val cn = 2 * (w / 2) * (h / 2)
      while (c < cn) { out.write(128); c += 1 }
      f += 1
    }
    out.toByteArray
  }

  /** Walk a Y4M container calling `onFrame(frameIdx, yPlaneOffset)` per
    * frame; returns (w, h, nFrames) or None on any structural mismatch
    * (bad magic/header, non-C420, truncated plane). */
  private def walkY4m(payload: Array[Byte])(onFrame: (Int, Int, Int, Int) => Unit): Option[(Int, Int, Int)] = {
    val magic = "YUV4MPEG2 ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    if (payload.length < magic.length || !payload.startsWith(magic)) return None
    val hdrEnd = payload.indexOf('\n'.toByte)
    if (hdrEnd < 0) return None
    val hdr = new String(payload, 0, hdrEnd, java.nio.charset.StandardCharsets.US_ASCII)
    val toks = hdr.split(' ').drop(1)
    val w = toks.find(_.startsWith("W")).flatMap(t => t.drop(1).toIntOption).getOrElse(return None)
    val h = toks.find(_.startsWith("H")).flatMap(t => t.drop(1).toIntOption).getOrElse(return None)
    val cs = toks.find(_.startsWith("C")).getOrElse("C420")
    if (!cs.startsWith("C420") || w <= 0 || h <= 0 || w % 2 != 0 || h % 2 != 0) return None
    val ySize = w * h
    val cSize = (w / 2) * (h / 2)
    val fm = "FRAME".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var off = hdrEnd + 1
    var frames = 0
    while (off < payload.length) {
      if (off + fm.length > payload.length ||
        !java.util.Arrays.equals(payload.slice(off, off + fm.length), fm)) return None
      val nl = payload.indexOf('\n'.toByte, off)
      if (nl < 0) return None
      off = nl + 1
      if (off + ySize + 2 * cSize > payload.length) return None
      onFrame(frames, off, w, h)
      off += ySize + 2 * cSize
      frames += 1
    }
    if (frames == 0) None else Some((w, h, frames))
  }

  /** REAL Y4M decode: (w, h, nFrames, mean luma 0-1, 16-bin L1 luma
    * histogram) over every frame's Y plane. */
  def decodeY4m(payload: Array[Byte]): Option[(Int, Int, Int, Float, Array[Float])] = {
    val hist = new Array[Long](16)
    var sum = 0L
    var n = 0L
    val dims = walkY4m(payload) { (_, yOff, w, h) =>
      var i = 0
      val ySize = w * h
      while (i < ySize) {
        val v = payload(yOff + i) & 0xFF
        hist(v / 16) += 1
        sum += v
        i += 1
      }
      n += ySize
    }
    dims.map { case (w, h, frames) =>
      (w, h, frames, (sum.toDouble / n / 255.0).toFloat,
        hist.map(x => (x.toDouble / n).toFloat))
    }
  }

  /** Per-SAMPLED-frame 64-bit aHash of a Y4M video (frames 0, stride,
    * 2*stride, …): the Y plane pools into 8x8 cell means thresholded at
    * the frame mean — the exact image-aHash convention, so the blocked
    * Hamming machinery applies per frame unchanged. */
  def y4mFrameHashes(payload: Array[Byte], stride: Int = 2): Option[Vector[(Int, Long)]] = {
    val acc = Vector.newBuilder[(Int, Long)]
    walkY4m(payload) { (f, yOff, w, h) =>
      if (f % stride == 0) {
        val cellSum = Array.ofDim[Double](8, 8)
        val cellCnt = Array.ofDim[Long](8, 8)
        var total = 0.0
        var y = 0
        while (y < h) {
          val cy = y * 8 / h
          var x = 0
          while (x < w) {
            val v = (payload(yOff + y * w + x) & 0xFF).toDouble
            cellSum(cy)(x * 8 / w) += v
            cellCnt(cy)(x * 8 / w) += 1
            total += v
            x += 1
          }
          y += 1
        }
        val mean = total / (w.toLong * h)
        var bits = 0L
        var cy = 0
        while (cy < 8) {
          var cx = 0
          while (cx < 8) {
            if (cellCnt(cy)(cx) > 0 && cellSum(cy)(cx) / cellCnt(cy)(cx) > mean)
              bits |= 1L << (cy * 8 + cx)
            cx += 1
          }
          cy += 1
        }
        acc += ((f, bits))
      }
    }.map(_ => acc.result())
  }

  /** Deterministic Y-plane perturbation of a Y4M video: SWAPS `k`
    * pixel pairs per frame. A swap preserves the frame sum, so the
    * aHash threshold (frame mean) is unchanged and only the at-most-two
    * cells a swap touches can flip: per-frame Hamming <= 2k — a
    * PROVABLE bound. (Byte FLIPS shift the mean and can flip untouched
    * cells: measured Hamming 3 — zero margin against MaxHamming — on
    * this corpus with k = 2 flips.) */
  def perturbY4m(payload: Array[Byte], seed: Long, k: Int): Array[Byte] = {
    val out = payload.clone()
    walkY4m(payload) { (f, yOff, w, h) =>
      var i = 0
      while (i < k) {
        val p1 = yOff + (MediaOcr.hash64(s"vpert:$seed:$f:$i:a") % (w * h)).toInt.abs
        val p2 = yOff + (MediaOcr.hash64(s"vpert:$seed:$f:$i:b") % (w * h)).toInt.abs
        val t = out(p1); out(p1) = out(p2); out(p2) = t
        i += 1
      }
    }
    out
  }

  /** Deterministic synthetic media table (no external data): VALID
    * images — BMP, and PNG/JPEG re-encodes of the same deterministic
    * pixels through the JDK's ImageIO writers (image id mod 9: 0 BMP,
    * 3 PNG, 6 JPEG) — and PCM WAV audio; video (id mod 9: 2 and 5) is
    * REAL uncompressed Y4M (2 + id%4 frames), with id mod 9 == 8 kept
    * as an opaque codec-format stand-in (splitmix bytes) so the stub
    * path stays exercised. */
  def genTable(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map { id =>
      val kind = (id % 3) match {
        case 0 => "image"
        case 1 => "audio"
        case _ => "video"
      }
      val w = 16 + (id % 8).toInt * 4
      val h = 12 + (id % 5).toInt * 4
      val bytes = kind match {
        case "image" =>
          val bmp = genBmp(id, w, h)
          (id % 9) match {
            case 3L => encodeImage(bmpToImage(bmp).get, "png")
            case 6L => encodeImage(bmpToImage(bmp).get, "jpg")
            case _  => bmp
          }
        case "audio" => genWav(id, 16000, 256 + (MediaOcr.hash64(s"len:$id") & 0x3FF).toInt)
        case _ if id % 9 != 8 =>
          genY4m(id, w, h, 2 + (id % 4).toInt)
        case _ =>
          val len = 256 + (MediaOcr.hash64(s"len:$id") & 0x3FF).toInt
          val b = new Array[Byte](len)
          var rng = MediaOcr.hash64(s"payload:$id")
          var i = 0
          while (i < len) {
            b(i) = (rng >>> ((i % 8) * 8)).toByte
            if (i % 8 == 7) rng = MediaOcr.hash64(s"payload:$id:$i")
            i += 1
          }
          b
      }
      MediaRow(id, kind, bytes,
        width = if (kind == "image") w else 0,
        height = if (kind == "image") h else 0,
        sample_rate = if (kind == "audio") 16000 else 0)
    }
  }

  /** REAL BMP decode (no codec needed: the format is a header + raw
    * pixels): returns (width, height, mean luma 0-1, 16-bin luma
    * histogram), or None if the payload is not a 24-bit BMP. */
  def decodeBmp(payload: Array[Byte]): Option[(Int, Int, Float, Array[Float])] = {
    if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') return None
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixOff = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    val bpp = buf.getShort(28)
    val compression = buf.getInt(30)
    if (bpp != 24 || compression != 0 || w <= 0 || h <= 0) return None
    val rowBytes = (w * 3 + 3) / 4 * 4
    if (pixOff.toLong + rowBytes.toLong * h > payload.length) return None
    val hist = new Array[Float](16)
    var lumaSum = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      val row = pixOff + y * rowBytes
      while (x < w) {
        val b = payload(row + x * 3) & 0xFF
        val g = payload(row + x * 3 + 1) & 0xFF
        val r = payload(row + x * 3 + 2) & 0xFF
        val luma = 0.114 * b + 0.587 * g + 0.299 * r // BT.601
        lumaSum += luma
        hist(math.min(15, (luma / 16).toInt)) += 1f
        x += 1
      }
      y += 1
    }
    val n = (w * h).toFloat
    var j = 0
    while (j < 16) { hist(j) /= n; j += 1 }
    Some((w, h, (lumaSum / n / 255.0).toFloat, hist))
  }

  /** RIFF chunk walk shared by decodeWav and audioFingerprint: returns
    * (sampleRate, dataOff, dataLen) for 16-bit PCM, else None. */
  private def parseWavChunks(payload: Array[Byte]): Option[(Int, Int, Int)] = {
    if (payload.length < 44) return None
    def tag(off: Int) = new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // walk chunks: fmt then data (our writer emits exactly this, but
    // parse generically)
    var off = 12
    var sampleRate = 0
    var bits = 0
    var fmtOk = false
    var dataOff = -1
    var dataLen = 0
    while (off + 8 <= payload.length && (dataOff < 0 || !fmtOk)) {
      val id = tag(off)
      val len = buf.getInt(off + 4)
      // a corrupt/hostile chunk length (negative, or large enough that
      // 8 + len + pad wraps) would make `off` non-advancing — an
      // infinite loop pinning an executor task. Bail instead.
      if (len < 0 || len > payload.length) return None
      if (id == "fmt ") {
        fmtOk = buf.getShort(off + 8) == 1 // PCM
        sampleRate = buf.getInt(off + 12)
        bits = buf.getShort(off + 22)
      } else if (id == "data") {
        dataOff = off + 8; dataLen = len
      }
      off += 8 + len + (len & 1)
    }
    if (!fmtOk || bits != 16 || dataOff < 0 || dataLen < 0 ||
      dataOff.toLong + dataLen > payload.length) None
    else Some((sampleRate, dataOff, dataLen))
  }

  // ---- codec images via the JDK's own javax.imageio readers ----

  /** Magic sniff for the formats ImageIO ships readers for (JPEG, PNG,
    * GIF, TIFF) — cheap gate so random video bytes never pay an
    * ImageIO.read attempt. BMP intentionally excluded: the hand-rolled
    * decoder above stays the BMP path (deterministic, allocation-light,
    * and it predates this one). */
  def imageIoType(p: Array[Byte]): Option[String] = {
    if (p.length < 8) return None
    if ((p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8 && (p(2) & 0xFF) == 0xFF) Some("jpeg")
    else if ((p(0) & 0xFF) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') Some("png")
    else if (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') Some("gif")
    else if ((p(0) == 'I' && p(1) == 'I' && p(2) == 42 && p(3) == 0) ||
      (p(0) == 'M' && p(1) == 'M' && p(2) == 0 && p(3) == 42)) Some("tiff")
    else None
  }

  /** Decode a codec image with ImageIO; None when the payload is not a
    * JPEG/PNG/GIF/TIFF or the reader rejects it. */
  def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    imageIoType(payload).flatMap { _ =>
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case _: Exception => None }
    }

  /** (width, height, mean luma 0-1, 16-bin luma histogram) of a decoded
    * BufferedImage — the exact statistic decodeBmp computes, over
    * ImageIO-decoded pixels. */
  def imageStats(img: java.awt.image.BufferedImage): (Int, Int, Float, Array[Float]) = {
    val w = img.getWidth
    val h = img.getHeight
    val hist = new Array[Float](16)
    var lumaSum = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = 0.114 * (rgb & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
          0.299 * ((rgb >> 16) & 0xFF) // BT.601, same as decodeBmp
        lumaSum += luma
        hist(math.min(15, (luma / 16).toInt)) += 1f
        x += 1
      }
      y += 1
    }
    val n = (w * h).toFloat
    var j = 0
    while (j < 16) { hist(j) /= n; j += 1 }
    (w, h, (lumaSum / n / 255.0).toFloat, hist)
  }

  /** Encode a BufferedImage with an ImageIO writer — the fixture
    * generator for JPEG/PNG variants (a JPEG re-encode of an image is
    * the canonical near-duplicate a media corpus must catch). */
  def encodeImage(img: java.awt.image.BufferedImage, format: String,
      quality: Float = -1f): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // JPEG writers reject alpha; render onto RGB first
    val rgb = new java.awt.image.BufferedImage(img.getWidth, img.getHeight,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = rgb.createGraphics()
    g.drawImage(img, 0, 0, null)
    g.dispose()
    if (quality >= 0f) {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName(format).next()
      val params = writer.getDefaultWriteParam
      if (params.canWriteCompressed) {
        params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(quality)
      }
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(rgb, null, null), params)
      writer.dispose()
      ios.close()
    } else {
      javax.imageio.ImageIO.write(rgb, format, out)
    }
    out.toByteArray
  }

  /** Our 24-bit BMP bytes -> BufferedImage (for re-encoding fixtures). */
  def bmpToImage(bmp: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (bmp.length < 54 || bmp(0) != 'B' || bmp(1) != 'M') return None
    val buf = java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixOff = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    if (buf.getShort(28) != 24 || buf.getInt(30) != 0 || w <= 0 || h <= 0) return None
    val rowBytes = (w * 3 + 3) / 4 * 4
    if (pixOff.toLong + rowBytes.toLong * h > bmp.length) return None
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val row = pixOff + y * rowBytes
      var x = 0
      while (x < w) {
        val b = bmp(row + x * 3) & 0xFF
        val g = bmp(row + x * 3 + 1) & 0xFF
        val r = bmp(row + x * 3 + 2) & 0xFF
        img.setRGB(x, h - 1 - y, (r << 16) | (g << 8) | b) // BMP rows are bottom-up
        x += 1
      }
      y += 1
    }
    Some(img)
  }

  /** REAL PCM WAV decode: returns (sampleRate, nSamples, RMS 0-1, 16-bin
    * amplitude histogram), or None if not 16-bit mono/stereo PCM. */
  def decodeWav(payload: Array[Byte]): Option[(Int, Int, Float, Array[Float])] = {
    val (sampleRate, dataOff, dataLen) = parseWavChunks(payload) match {
      case Some(t) => t
      case None => return None
    }
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = dataLen / 2
    if (n == 0) return None
    val hist = new Array[Float](16)
    var sumSq = 0.0
    var i = 0
    while (i < n) {
      val s = buf.getShort(dataOff + i * 2).toDouble / 32768.0
      sumSq += s * s
      hist(math.min(15, ((s + 1.0) * 8).toInt)) += 1f
      i += 1
    }
    var j = 0
    while (j < 16) { hist(j) /= n; j += 1 }
    Some((sampleRate, n, math.sqrt(sumSq / n).toFloat, hist))
  }

  /** STUB decode: a real implementation would decode the codec here; the
    * deterministic fake derives "luma" from payload bytes so downstream
    * plumbing (schema, batching, aggregation) is exercised end-to-end. */
  private def decodeStubLuma(payload: Array[Byte]): Float = {
    var s = 0L
    var i = 0
    while (i < payload.length) { s += (payload(i) & 0xFF); i += 1 }
    (s.toDouble / Math.max(1, payload.length)).toFloat / 255f
  }

  /** Frame sampling for video: every `stride` bytes starts a "frame"
    * (stub for codec frame boundaries); returns frame count. */
  private def frameCount(kind: String, payload: Array[Byte], stride: Int = 128): Int =
    if (kind == "video") Math.max(1, payload.length / stride) else 1

  /** The batched featurizer: mapPartitions over the typed Dataset — one
    * iterator pass per partition, no per-row task overhead, the batch
    * shape a real decoder (JNI/Arrow) would want. Dispatches on magic
    * bytes: BMP, PCM WAV and Y4M video get REAL decodes; codec formats
    * fall back to the deterministic byte-level stub (flagged
    * decoded = 0). */
  def featurize(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { row =>
        decodeBmp(row.payload) match {
          case Some((_, _, luma, hist)) =>
            MediaFeatures(row.media_id, row.kind, row.payload.length, hist,
              luma, 1, decoded = 1)
          case None => decodeY4m(row.payload) match {
            case Some((_, _, frames, luma, hist)) =>
              MediaFeatures(row.media_id, row.kind, row.payload.length, hist,
                luma, frames, decoded = 1)
            case None => decodeWav(row.payload) match {
            case Some((sr, n, rms, hist)) =>
              MediaFeatures(row.media_id, row.kind, row.payload.length, hist,
                rms, math.max(1, n / math.max(1, sr)), decoded = 1) // "frames" = whole seconds
            case None => decodeImage(row.payload) match {
              case Some(img) =>
                val (_, _, luma, hist) = imageStats(img)
                MediaFeatures(row.media_id, row.kind, row.payload.length, hist,
                  luma, 1, decoded = 1)
              case None =>
              val hist = new Array[Float](16)
              var i = 0
              while (i < row.payload.length) {
                hist((row.payload(i) & 0xFF) >> 4) += 1f
                i += 1
              }
              val n = Math.max(1, row.payload.length).toFloat
              var j = 0
              while (j < 16) { hist(j) = hist(j) / n; j += 1 }
              MediaFeatures(row.media_id, row.kind, row.payload.length, hist,
                decodeStubLuma(row.payload), frameCount(row.kind, row.payload),
                decoded = 0)
            }
          }
          }
        }
      }
    }
  }

  /** Query entry: features + brute-force cosine near-dup pairs over the
    * 16-dim histograms (threshold 0.999 — byte histograms of random
    * payloads are near-uniform, so only near-identical payloads pair). */
  def qMediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val feats = featurize(genTable(spark, 200)).toDF()
    feats.select(col("media_id"), col("kind"), col("n_bytes"),
        round(col("mean_luma"), 4).as("luma_r"), col("n_frames"), col("decoded"))
  }

  /** The ORACLE-checkable structural projection of the featurizer run
    * (flagship partial-prediction pattern): the real decode pass
    * executes — `decoded` comes from the actual decoder dispatch — and
    * the projected columns are all pure id/splitmix arithmetic DuckDB
    * re-derives with no knowledge of the decoders: payload sizes from
    * the BMP/WAV/container generator formulas (NULL for the
    * ImageIO-transcoded PNG/JPEG fixtures, whose encoder output length
    * is codec-internal; exact container-formula sizes for Y4M video),
    * frame counts (REAL parsed frame counts for Y4M), and the decoded
    * flag (only the opaque codec stand-in, media_id % 9 == 8, is 0 —
    * which pins that JPEG/PNG route through ImageIO and Y4M through the
    * real container walk, not the stub). Pixel-level values
    * (luma/histograms) stay in the rows-only qMediaFeatures, pinned by
    * the handcrafted-payload unit suite. */
  def qMediaProfile(spark: SparkSession, dir: String): DataFrame = {
    featurize(genTable(spark, 200)).toDF()
      .select(col("media_id"), col("kind"),
        when(col("kind") === "image" &&
            (col("media_id") % 9 === 3 || col("media_id") % 9 === 6), lit(null))
          .otherwise(col("n_bytes")).cast("int").as("n_bytes_raw"),
        col("n_frames"), col("decoded"))
  }

  val qMediaProfileSql: String = {
    val hmod = s"(${graft.queries.FlagshipQ.hash64Sql("'len:' || media_id")} % 1024)"
    s"""WITH ids AS (SELECT CAST(range AS BIGINT) AS media_id FROM range(200)),
      |g AS (SELECT media_id,
      |   CASE CAST(media_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |   16 + CAST(media_id % 8 AS INT) * 4 AS w,
      |   12 + CAST(media_id % 5 AS INT) * 4 AS h,
      |   CAST($hmod AS BIGINT) AS hmod
      | FROM ids)
      |SELECT media_id, kind,
      |  CAST(CASE
      |    WHEN kind = 'image' AND media_id % 9 IN (3, 6) THEN NULL
      |    WHEN kind = 'image' THEN 54 + ((w * 3 + 3) // 4) * 4 * h
      |    WHEN kind = 'audio' THEN 44 + 2 * (256 + hmod)
      |    WHEN media_id % 9 <> 8 THEN 37 + (2 + CAST(media_id % 4 AS INT)) * (6 + (w * h * 3) // 2)
      |    ELSE 256 + hmod END AS INT) AS n_bytes_raw,
      |  CAST(CASE WHEN kind = 'video' AND media_id % 9 <> 8 THEN 2 + CAST(media_id % 4 AS INT)
      |            WHEN kind = 'video' THEN GREATEST(1, (256 + hmod) // 128)
      |            ELSE 1 END AS INT) AS n_frames,
      |  CAST(CASE WHEN kind = 'video' AND media_id % 9 = 8 THEN 0 ELSE 1 END AS INT) AS decoded
      |FROM g ORDER BY media_id""".stripMargin
  }

  /** 64-bit average-hash (aHash) of a 24-bit BMP: pixel lumas pool into
    * an 8x8 grid of cell means, bit (8*cy + cx) is set iff the cell mean
    * exceeds the global mean. The standard perceptual fingerprint for
    * image near-dup — robust to small pixel perturbations, cheap enough
    * to run in the decode pass. None for non-BMP payloads. */
  def ahash64(payload: Array[Byte]): Option[Long] = {
    if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') return None
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixOff = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    if (buf.getShort(28) != 24 || buf.getInt(30) != 0 || w <= 0 || h <= 0) return None
    val rowBytes = (w * 3 + 3) / 4 * 4
    if (pixOff.toLong + rowBytes.toLong * h > payload.length) return None
    val cellSum = Array.ofDim[Double](8, 8)
    val cellCnt = Array.ofDim[Long](8, 8)
    var total = 0.0
    var y = 0
    while (y < h) {
      // BMP rows are stored bottom-up; grid rows are defined in VISUAL
      // space so the same image hashed from a BMP and from a JPEG/PNG
      // re-encode (ImageIO path, visual order) lands identical bits
      val cy = (h - 1 - y) * 8 / h
      val row = pixOff + y * rowBytes
      var x = 0
      while (x < w) {
        val b = payload(row + x * 3) & 0xFF
        val g = payload(row + x * 3 + 1) & 0xFF
        val r = payload(row + x * 3 + 2) & 0xFF
        val luma = 0.114 * b + 0.587 * g + 0.299 * r
        val cx = x * 8 / w
        cellSum(cy)(cx) += luma
        cellCnt(cy)(cx) += 1
        total += luma
        x += 1
      }
      y += 1
    }
    val mean = total / (w.toLong * h)
    var bits = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        if (cellCnt(cy)(cx) > 0 && cellSum(cy)(cx) / cellCnt(cy)(cx) > mean)
          bits |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    Some(bits)
  }

  /** aHash of an ImageIO-decoded image — identical cell/threshold
    * semantics to the BMP path (visual row order), so a JPEG/PNG
    * re-encode of a BMP hashes within a few bits of the original. */
  def ahashImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val cellSum = Array.ofDim[Double](8, 8)
    val cellCnt = Array.ofDim[Long](8, 8)
    var total = 0.0
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = 0.114 * (rgb & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
          0.299 * ((rgb >> 16) & 0xFF)
        val cx = x * 8 / w
        cellSum(cy)(cx) += luma
        cellCnt(cy)(cx) += 1
        total += luma
        x += 1
      }
      y += 1
    }
    val mean = total / (w.toLong * h)
    var bits = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        if (cellCnt(cy)(cx) > 0 && cellSum(cy)(cx) / cellCnt(cy)(cx) > mean)
          bits |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    bits
  }

  /** aHash of ANY decodable image payload: the hand-rolled BMP path, or
    * ImageIO for JPEG/PNG/GIF/TIFF. None when neither decodes. */
  def ahashAny(payload: Array[Byte]): Option[Long] =
    ahash64(payload).orElse(decodeImage(payload).map(ahashImage))

  /** Average-pool resize of a 24-bit BMP to (ow x oh), emitted as a REAL
    * BMP payload — the media "resize" transform (fixed-size model inputs,
    * thumbnailing before feature extraction). Each output pixel is the
    * per-channel mean of its source block; None for non-BMP payloads.
    * Runs wherever the decoders run (mapPartitions batch pass). */
  def resizeBmp(payload: Array[Byte], ow: Int, oh: Int): Option[Array[Byte]] = {
    if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') return None
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixOff = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    if (buf.getShort(28) != 24 || buf.getInt(30) != 0 || w <= 0 || h <= 0 ||
      ow <= 0 || oh <= 0) return None
    val rowBytes = (w * 3 + 3) / 4 * 4
    if (pixOff.toLong + rowBytes.toLong * h > payload.length) return None
    val sums = Array.ofDim[Double](oh, ow, 3)
    val cnts = Array.ofDim[Long](oh, ow)
    var y = 0
    while (y < h) {
      val cy = math.min(oh - 1, y * oh / h)
      val row = pixOff + y * rowBytes
      var x = 0
      while (x < w) {
        val cx = math.min(ow - 1, x * ow / w)
        val s = sums(cy)(cx)
        s(0) += payload(row + x * 3) & 0xFF
        s(1) += payload(row + x * 3 + 1) & 0xFF
        s(2) += payload(row + x * 3 + 2) & 0xFF
        cnts(cy)(cx) += 1
        x += 1
      }
      y += 1
    }
    val outRowBytes = (ow * 3 + 3) / 4 * 4
    val out = java.nio.ByteBuffer.allocate(54 + outRowBytes * oh)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54 + outRowBytes * oh)
      .putInt(0).putInt(54)
    out.putInt(40).putInt(ow).putInt(oh).putShort(1).putShort(24)
      .putInt(0).putInt(outRowBytes * oh).putInt(2835).putInt(2835).putInt(0).putInt(0)
    val arr = out.array()
    var cy = 0
    while (cy < oh) {
      val row = 54 + cy * outRowBytes
      var cx = 0
      while (cx < ow) {
        val n = math.max(1L, cnts(cy)(cx)).toDouble
        val s = sums(cy)(cx)
        arr(row + cx * 3) = math.round(s(0) / n).toByte
        arr(row + cx * 3 + 1) = math.round(s(1) / n).toByte
        arr(row + cx * 3 + 2) = math.round(s(2) / n).toByte
        cx += 1
      }
      cy += 1
    }
    Some(arr)
  }

  /** 63-bit energy-delta audio fingerprint of 16-bit PCM WAV: samples
    * split into 64 equal windows, bit k set iff window k's mean energy
    * exceeds window k+1's. All-integer comparisons (sum-of-squares cross-
    * multiplied by counts — exact, no float drift), and AMPLITUDE-SCALE
    * INVARIANT by construction: scaling every sample scales all window
    * energies equally, preserving every delta sign. None for non-PCM or
    * fewer than 64 samples. */
  def audioFingerprint(payload: Array[Byte]): Option[Long] = {
    val (_, dataOff, dataLen) = parseWavChunks(payload) match {
      case Some(t) => t
      case None => return None
    }
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = dataLen / 2
    if (n < 64) return None
    val sumSq = new Array[Long](64)
    val cnt = new Array[Long](64)
    var i = 0
    while (i < n) {
      val w = (i.toLong * 64 / n).toInt
      val s = buf.getShort(dataOff + i * 2).toLong
      sumSq(w) += s * s
      cnt(w) += 1
      i += 1
    }
    var bits = 0L
    var k = 0
    while (k < 63) {
      // mean_k > mean_{k+1}  <=>  sumSq_k * cnt_{k+1} > sumSq_{k+1} * cnt_k.
      // The cross products are compared as FULL 128-bit values
      // (multiplyHigh + unsigned low half): sumSq is bounded by
      // cnt * 2^30, so a plain Long product overflows once a window
      // holds > ~92k samples (~6 min at 16 kHz) and would silently
      // corrupt fingerprint bits on long recordings.
      val hi1 = Math.multiplyHigh(sumSq(k), cnt(k + 1))
      val hi2 = Math.multiplyHigh(sumSq(k + 1), cnt(k))
      val cmp =
        if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
        else java.lang.Long.compareUnsigned(sumSq(k) * cnt(k + 1), sumSq(k + 1) * cnt(k))
      if (cmp > 0) bits |= 1L << k
      k += 1
    }
    Some(bits)
  }

  /** Deterministic amplitude rescale of a PCM WAV (num/den per sample,
    * integer truncation) — the near-dup generator: a re-encoded or
    * volume-normalized copy of the same recording. */
  def rescaleWav(payload: Array[Byte], num: Int, den: Int): Array[Byte] = {
    val out = payload.clone()
    parseWavChunks(payload).foreach { case (_, dataOff, dataLen) =>
      val buf = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < dataLen / 2) {
        buf.putShort(dataOff + i * 2, (buf.getShort(dataOff + i * 2) * num / den).toShort)
        i += 1
      }
    }
    out
  }

  /** Hamming threshold for aHash near-dup pairs. With 4 16-bit blocks,
    * any pair within the threshold shares at least one exact block
    * (pigeonhole), so the blocked equi-join below loses nothing. */
  val MaxHamming = 3

  /** The SimHash pigeonhole pattern over any (media_id, ahash) relation:
    * 4 x 16-bit blocks generate candidates via an equi-join (never
    * all-pairs), exact `bit_count(a XOR b)` verifies within MaxHamming. */
  private def blockedHammingPairs(hashes: DataFrame): DataFrame = {
    val blocks = hashes.select(col("media_id"), col("ahash"),
        explode(expr("sequence(0, 3)")).as("blk"))
      .withColumn("blk_val", expr("(ahash >> (blk * 16)) & 65535"))
    val a = blocks.as("a")
    val b = blocks.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.blk_val") === col("b.blk_val")
        && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.ahash").as("ha"), col("b.ahash").as("hb"))
      .distinct() // a pair may share several blocks
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= MaxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Image near-dup at scale: aHash in the decode pass (BMP hand-rolled
    * or ImageIO for JPEG/PNG/GIF/TIFF), then the blocked pigeonhole
    * join. Input rows: (media_id, payload); undecodable payloads drop
    * out. */
  def imageNearDup(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    blockedHammingPairs(
      media.flatMap(r => ahashAny(r.payload).map(h => (r.media_id, h)))
        .toDF("media_id", "ahash"))
  }

  /** Audio near-dup at scale: the energy-delta fingerprint (amplitude-
    * scale invariant) through the same blocked pigeonhole join. */
  def audioNearDup(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    blockedHammingPairs(
      media.flatMap(r => audioFingerprint(r.payload).map(h => (r.media_id, h)))
        .toDF("media_id", "ahash"))
  }

  /** Deterministic pixel perturbation: flips `k` pixel bytes of a BMP
    * payload (past the header) — the near-dup generator for tests and
    * the rows-only driver query. */
  def perturbBmp(bmp: Array[Byte], seed: Long, k: Int): Array[Byte] = {
    val out = bmp.clone()
    val pixOff = java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(10)
    var i = 0
    while (i < k) {
      val pos = pixOff + (MediaOcr.hash64(s"pert:$seed:$i") % (bmp.length - pixOff)).toInt.abs
      out(pos) = (~out(pos)).toByte
      i += 1
    }
    out
  }

  /** The image near-dup corpus: the synthetic media table plus, for
    * every 10th image, a container-appropriate near-duplicate — pixel
    * perturbation for BMP originals, a JPEG re-encode (decode -> DCT
    * requantize -> encode, quality 0.9) for PNG/JPEG originals — plus a
    * cross-container JPEG re-encode of every 20th BMP. Variant ids are
    * base + 100000 (same container) / + 200000 (cross codec), so the
    * planted pair set is pure id arithmetic — see plantedImageSql. */
  private def imageNeardupCorpus(spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    val base = genTable(spark, 200)
    val variants = base.filter(r => r.kind == "image" && r.media_id % 10 == 0)
      .map { r =>
        val near =
          if (r.payload(0) == 'B' && r.payload(1) == 'M') perturbBmp(r.payload, r.media_id, 3)
          else encodeImage(decodeImage(r.payload).get, "jpg", quality = 0.9f)
        r.copy(media_id = r.media_id + 100000, payload = near)
      }
    val crossCodec = base.filter(r =>
        r.kind == "image" && r.media_id % 20 == 0 && r.payload(0) == 'B')
      .map(r => r.copy(media_id = r.media_id + 200000,
        payload = encodeImage(bmpToImage(r.payload).get, "jpg", quality = 0.9f)))
    base.unionByName(variants).unionByName(crossCodec)
  }

  /** The audio near-dup corpus: volume-rescaled (9/10, integer truncation)
    * copies of every 15th audio under id + 100000 — the re-encoded /
    * normalized-duplicate detection a media corpus needs. */
  private def audioNeardupCorpus(spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    val base = genTable(spark, 200)
    val variants = base.filter(r => r.kind == "audio" && r.media_id % 15 == 1)
      .map(r => r.copy(media_id = r.media_id + 100000,
        payload = rescaleWav(r.payload, 9, 10)))
    base.unionByName(variants)
  }

  /** Turns a found-pairs relation into the ORACLE-checkable recall
    * report: every planted pair (enumerable by id arithmetic in both
    * engines) with a recovered flag, plus one 'spurious' row for any
    * base-corpus pair the detector invents (the oracle predicts zero —
    * a false positive shows up as a row-count mismatch, a recall miss
    * as recovered=false vs the oracle's TRUE). Variant↔variant pairs
    * of the SAME base (both ids >= 100000, e.g. the perturbed BMP vs
    * the JPEG re-encode of base 0) are genuine near-dups by
    * transitivity, not detector errors, and are excluded from both
    * sides — they stay visible in the rows-only full pair list. */
  private def recallReport(found: DataFrame, planted: DataFrame): DataFrame = {
    val f = found.select(col("id_a"), col("id_b"))
    planted
      .join(f.withColumn("hit", lit(true)), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("pair_class"),
        coalesce(col("hit"), lit(false)).as("recovered"))
      .unionByName(
        f.filter(col("id_a") < 100000)
          .join(planted.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_anti")
          .select(col("id_a"), col("id_b"), lit("spurious").as("pair_class"),
            lit(true).as("recovered")))
  }

  /** Driver query (ORACLE-checked recall report): the blocked aHash
    * join over the planted image corpus must recover exactly the
    * arithmetically-enumerable planted pairs — same-container variants
    * at id+100000 for base % 30 == 0, cross-codec BMP->JPEG at
    * id+200000 for base % 60 == 0 with a BMP container (% 9 not in
    * {3,6}) — and invent none. Hamming VALUES (decoder-dependent) stay
    * in the rows-only q_image_pairs. */
  def qImageNeardup(spark: SparkSession, dir: String): DataFrame = {
    val planted = spark.range(0, 200).selectExpr("id AS id_a")
      .selectExpr("id_a", "id_a + 100000 AS id_b", "'same_container' AS pair_class")
      .filter(col("id_a") % 30 === 0)
      .unionByName(spark.range(0, 200).selectExpr("id AS id_a")
        .filter(col("id_a") % 60 === 0 && !(col("id_a") % 9).isin(3, 6))
        .selectExpr("id_a", "id_a + 200000 AS id_b", "'cross_codec' AS pair_class"))
    recallReport(imageNearDup(imageNeardupCorpus(spark)), planted)
  }

  val qImageNeardupSql: String =
    """SELECT CAST(range AS BIGINT) AS id_a, CAST(range + 100000 AS BIGINT) AS id_b,
      |  'same_container' AS pair_class, TRUE AS recovered
      |FROM range(200) WHERE range % 30 = 0
      |UNION ALL
      |SELECT CAST(range AS BIGINT), CAST(range + 200000 AS BIGINT), 'cross_codec', TRUE
      |FROM range(200) WHERE range % 60 = 0 AND range % 9 NOT IN (3, 6)
      |ORDER BY id_a, id_b""".stripMargin

  /** Driver query (ORACLE-checked recall report): the energy-delta
    * fingerprint is amplitude-scale invariant, so every rescaled copy
    * (base % 15 == 1, variant at id+100000) must pair with its
    * original, with zero invented pairs. */
  def qAudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    val planted = spark.range(0, 200).selectExpr("id AS id_a")
      .filter(col("id_a") % 15 === 1)
      .selectExpr("id_a", "id_a + 100000 AS id_b", "'rescaled' AS pair_class")
    recallReport(audioNearDup(audioNeardupCorpus(spark)), planted)
  }

  val qAudioNeardupSql: String =
    """SELECT CAST(range AS BIGINT) AS id_a, CAST(range + 100000 AS BIGINT) AS id_b,
      |  'rescaled' AS pair_class, TRUE AS recovered
      |FROM range(200) WHERE range % 15 = 1
      |ORDER BY id_a, id_b""".stripMargin

  /** VIDEO near-dup over REAL parsed frames: per-sampled-frame Y4M
    * aHashes through a frame-ALIGNED blocked Hamming join (a pair meets
    * only via an equal (frame, block, value) bucket — never all-pairs),
    * rolled up to (pair, frames_matched). Same pigeonhole guarantee as
    * the image path, applied per frame. */
  def videoNearDup(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    val hashes = media.flatMap(r =>
        y4mFrameHashes(r.payload).toSeq.flatten.map { case (f, hsh) => (r.media_id, f, hsh) })
      .toDF("media_id", "f", "ahash")
    val blocks = hashes.select(col("media_id"), col("f"), col("ahash"),
        explode(expr("sequence(0, 3)")).as("blk"))
      .withColumn("blk_val", expr("(ahash >> (blk * 16)) & 65535"))
    val a = blocks.as("a")
    val b = blocks.as("b")
    a.join(b, col("a.f") === col("b.f") && col("a.blk") === col("b.blk") &&
        col("a.blk_val") === col("b.blk_val") && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.f").as("f"), col("a.ahash").as("ha"), col("b.ahash").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= MaxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("f")).as("frames_matched"))
  }

  /** The video near-dup corpus: every Y4M video with media_id % 18 == 2
    * (all such ids are Y4M: 18k+2 ≡ 2 mod 9) gets a per-frame
    * one-pixel-swap perturbed copy at id + 100000 — the re-muxed/
    * slightly-degraded duplicate class. */
  private def videoNeardupCorpus(spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    val base = genTable(spark, 200)
    val variants = base.filter(r => r.kind == "video" && r.media_id % 18 == 2)
      .map(r => r.copy(media_id = r.media_id + 100000,
        payload = perturbY4m(r.payload, r.media_id, 1)))
    base.unionByName(variants)
  }

  /** Driver query (ORACLE-checked recall report): the frame-aligned
    * blocked join must recover exactly the planted perturbed videos
    * (one pixel swap per frame -> per-frame Hamming <= 2, PROVABLY
    * under the threshold of 3 — the swap preserves the frame-mean
    * threshold) and invent none — random-noise Y planes make spurious
    * frame-hash collisions vanishingly unlikely, and deterministically
    * absent on this corpus. frames_matched values stay in the rows-only
    * q_video_pairs. */
  def qVideoNeardup(spark: SparkSession, dir: String): DataFrame = {
    val planted = spark.range(0, 200).selectExpr("id AS id_a")
      .filter(col("id_a") % 18 === 2)
      .selectExpr("id_a", "id_a + 100000 AS id_b", "'perturbed_frames' AS pair_class")
    recallReport(videoNearDup(videoNeardupCorpus(spark)).select(col("id_a"), col("id_b")), planted)
  }

  val qVideoNeardupSql: String =
    """SELECT CAST(range AS BIGINT) AS id_a, CAST(range + 100000 AS BIGINT) AS id_b,
      |  'perturbed_frames' AS pair_class, TRUE AS recovered
      |FROM range(200) WHERE range % 18 = 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Rows-only full pair lists (hamming values are decoder-dependent —
    * not SQL-expressible; recall/precision laws live in the oracle rows
    * above and the brute-force spec). */
  def qImagePairs(spark: SparkSession, dir: String): DataFrame =
    imageNearDup(imageNeardupCorpus(spark))

  def qAudioPairs(spark: SparkSession, dir: String): DataFrame =
    audioNearDup(audioNeardupCorpus(spark))

  def qVideoPairs(spark: SparkSession, dir: String): DataFrame =
    videoNearDup(videoNeardupCorpus(spark))

  /** Thumbnail target: longest side after resize. */
  val ThumbMax = 8

  /** Aspect-preserving thumbnail dims (integer arithmetic — the oracle
    * re-derives them from the id alone). */
  def thumbDims(w: Int, h: Int): (Int, Int) =
    if (w >= h) (ThumbMax, math.max(1, h * ThumbMax / w))
    else (math.max(1, w * ThumbMax / h), ThumbMax)

  /** Driver query (ORACLE-checked): thumbnail RESIZE over every image in
    * the media table — BMPs pool directly, ImageIO containers (PNG/JPEG)
    * decode and transcode to BMP first, then the same average-pool
    * kernel emits a real 24-bit BMP thumbnail. The projection (dims in
    * and out, output byte size, success flag) is pure id arithmetic +
    * the fixed BMP layout formula, so DuckDB predicts every row — which
    * pins that every container actually DECODED and the writer emitted
    * the canonical header. Pixel values are pinned by the luma-
    * preservation spec (MultimodalDedupSpec).
    *
    * Scale notes: embarrassingly parallel map over payload rows (the
    * multimodal batch shape — no shuffle at all); output thumbnails are
    * bounded (<= 54 + 4 * 3 * ThumbMax^2 bytes) regardless of input
    * size, so the result relation is safe to collect into a preview
    * index at any corpus scale. */
  def qMediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    genTable(spark, 200).filter(_.kind == "image").map { r =>
      val bmp =
        if (r.payload(0) == 'B' && r.payload(1) == 'M') Some(r.payload)
        else decodeImage(r.payload).map(encodeImage(_, "bmp"))
      val (nw, nh) = thumbDims(r.width, r.height)
      val out = bmp.flatMap(resizeBmp(_, nw, nh))
      (r.media_id, r.width, r.height, nw, nh,
        out.map(_.length).getOrElse(-1), out.isDefined)
    }.toDF("media_id", "w", "h", "new_w", "new_h", "n_bytes_out", "resized")
  }

  val qMediaResizeSql: String =
    s"""WITH img AS (
       |  SELECT CAST(range AS BIGINT) AS media_id,
       |         CAST(16 + (range % 8) * 4 AS INT) AS w,
       |         CAST(12 + (range % 5) * 4 AS INT) AS h
       |  FROM range(200) WHERE range % 3 = 0),
       |d AS (SELECT media_id, w, h,
       |    CAST(CASE WHEN w >= h THEN $ThumbMax ELSE GREATEST(1, (w * $ThumbMax) // h) END AS INT) AS new_w,
       |    CAST(CASE WHEN w >= h THEN GREATEST(1, (h * $ThumbMax) // w) ELSE $ThumbMax END AS INT) AS new_h
       |  FROM img)
       |SELECT media_id, w, h, new_w, new_h,
       |  CAST(54 + ((new_w * 3 + 3) // 4) * 4 * new_h AS INT) AS n_bytes_out,
       |  TRUE AS resized
       |FROM d ORDER BY media_id""".stripMargin
}
