package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata structs.
  *
  * The decode boundary is a REAL codec pass since r12: payloads are
  * genuine BMP (24-bit, bottom-up, row-padded) and binary PPM (P6)
  * images, and [[decodeImage]] parses the actual bytes — magic sniff,
  * header fields, pixel array walk (padding, scanline order, per-format
  * channel order) — into dimensions plus exact integer pixel statistics.
  * The statistics are chosen so the DuckDB oracle can replay them from
  * the deterministic pixel generator alone: if the encoder or decoder
  * mishandled channel order the per-channel sums split wrong, and if
  * either mishandled scanline direction or row padding the positional
  * moment (Σ (y·w+x)·r) breaks. A production deployment swaps
  * [[decodeImage]]'s two format branches for its codec library (JNI,
  * javax.imageio, …) — signature and per-partition batch shape are
  * unchanged.
  */
object Multimodal {

  /** Typed metadata + exact pixel statistics produced by the decoder. */
  case class MediaMeta(width: Int, height: Int, channels: Int, format: String,
                       nPixels: Long, sumR: Long, sumG: Long, sumB: Long,
                       momR: Long)

  // ------------------------------------------------ deterministic fixture —

  /** Image dimensions for a doc id — the same formulas the DuckDB oracle
    * replays. Odd widths exercise BMP's 4-byte row padding. */
  def widthOf(docId: Long): Int = (docId % 21).toInt + 4
  def heightOf(docId: Long): Int = (docId % 13).toInt + 3

  /** Deterministic RGB pixel pattern at (x, y), 0-based, top-down — pure
    * integer math, replayable in SQL. Distinct coefficients per channel
    * make a channel-order swap (BGR↔RGB) split the sums visibly. */
  def pixelR(docId: Long, x: Int, y: Int): Int = ((docId * 7 + 11L * y + 13L * x) % 256).toInt
  def pixelG(docId: Long, x: Int, y: Int): Int = ((docId * 5 + 3L * y + 17L * x) % 256).toInt
  def pixelB(docId: Long, x: Int, y: Int): Int = ((docId * 3 + 19L * y + 5L * x) % 256).toInt

  /** Encode the deterministic pattern for `docId` as real image bytes:
    * even ids → 24-bit BMP, odd ids → binary PPM (P6). */
  def encodeImage(docId: Long): Array[Byte] = {
    val w = widthOf(docId); val h = heightOf(docId)
    if (docId % 2 == 0) encodeBmp(docId, w, h) else encodePpm(docId, w, h)
  }

  /** 24-bit uncompressed BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER, pixel rows BOTTOM-UP, BGR byte order, each row
    * padded to a 4-byte boundary — the actual on-disk format, not a
    * stand-in. Generator images delegate to the pixel-array writer
    * (MultimodalSpec's byte-level pins certify the delegation is
    * bit-exact vs the r12 golden bytes). */
  private def encodeBmp(docId: Long, w: Int, h: Int): Array[Byte] = {
    val rgb = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        rgb(y * w + x) =
          (pixelR(docId, x, y) << 16) | (pixelG(docId, x, y) << 8) | pixelB(docId, x, y)
        x += 1
      }
      y += 1
    }
    encodeBmpPixels(w, h, rgb)
  }

  /** BMP writer over an explicit TOP-DOWN packed-RGB pixel array
    * (0xRRGGBB per int) — the encode path for DERIVED images (resized
    * thumbnails, crops), not just generator fixtures. */
  def encodeBmpPixels(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == w * h, s"pixel array ${rgb.length} != $w x $h")
    val rowSize = ((3 * w + 3) / 4) * 4
    val dataSize = rowSize * h
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var row = h - 1 // bottom-up: last image row is written first
    while (row >= 0) {
      var x = 0
      while (x < w) {
        val p = rgb(row * w + x)
        b.put((p & 0xff).toByte)         // B
        b.put(((p >> 8) & 0xff).toByte)  // G
        b.put(((p >> 16) & 0xff).toByte) // R
        x += 1
      }
      var pad = rowSize - 3 * w
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      row -= 1
    }
    b.array()
  }

  /** Binary PPM (P6): ASCII header, then RGB bytes top-down. */
  private def encodePpm(docId: Long, w: Int, h: Int): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + 3 * w * h)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = header.length
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(i) = pixelR(docId, x, y).toByte
        out(i + 1) = pixelG(docId, x, y).toByte
        out(i + 2) = pixelB(docId, x, y).toByte
        i += 3; x += 1
      }
      y += 1
    }
    out
  }

  // ---------------------------------------------------------- real decode —

  /** Decode real image bytes: sniff the magic, parse the header, walk the
    * pixel array. Unsigned-byte reads throughout; the positional moment
    * uses the TOP-DOWN logical pixel index (y·w+x), so a BMP decoded
    * without flipping its bottom-up rows gets a wrong moment even though
    * the plain sums would still match. */
  def decodeImage(payload: Array[Byte]): MediaMeta = {
    require(payload != null && payload.length >= 2, "empty image payload")
    if (payload(0) == 'B'.toByte && payload(1) == 'M'.toByte) decodeBmp(payload)
    else if (payload(0) == 'P'.toByte && payload(1) == '6'.toByte) decodePpm(payload)
    else if ((payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte)
      decodeImageIo(payload, "png")
    else if ((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8)
      decodeImageIo(payload, "jpeg")
    else throw new IllegalArgumentException(
      s"unknown image magic 0x${"%02x%02x".format(payload(0), payload(1))}")
  }

  private def u8(b: Byte): Int = b & 0xff

  private def decodeBmp(p: Array[Byte]): MediaMeta = {
    val b = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOffset = b.getInt(10)
    val w = b.getInt(18)
    val h = b.getInt(22)
    val bpp = b.getShort(28).toInt
    val compression = b.getInt(30)
    require(bpp == 24 && compression == 0, s"unsupported BMP bpp=$bpp compression=$compression")
    require(w > 0 && h > 0, s"unsupported BMP orientation $w x $h")
    val rowSize = ((3 * w + 3) / 4) * 4
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var momR = 0L
    var y = 0
    while (y < h) {
      // row y (top-down) lives at stored row (h-1-y) — bottom-up layout
      val base = dataOffset + (h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        val blue = u8(p(base + 3 * x))
        val green = u8(p(base + 3 * x + 1))
        val red = u8(p(base + 3 * x + 2))
        sumB += blue; sumG += green; sumR += red
        momR += (y.toLong * w + x) * red
        x += 1
      }
      y += 1
    }
    MediaMeta(w, h, 3, "bmp", w.toLong * h, sumR, sumG, sumB, momR)
  }

  private def decodePpm(p: Array[Byte]): MediaMeta = {
    // header: "P6" ws w ws h ws maxval ws, then raw RGB; parse the three
    // ASCII ints (no comment support — the canonical writer emits none)
    var i = 2
    def skipWs(): Unit = { while (i < p.length && (p(i) == ' ' || p(i) == '\n' || p(i) == '\r' || p(i) == '\t')) i += 1 }
    def readInt(): Int = {
      skipWs(); var v = 0
      require(i < p.length && p(i) >= '0' && p(i) <= '9', s"bad PPM header at byte $i")
      while (i < p.length && p(i) >= '0' && p(i) <= '9') { v = v * 10 + (p(i) - '0'); i += 1 }
      v
    }
    val w = readInt(); val h = readInt(); val maxVal = readInt()
    require(maxVal == 255, s"unsupported PPM maxval $maxVal")
    i += 1 // exactly one whitespace byte separates header from raster
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var momR = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val red = u8(p(i)); val green = u8(p(i + 1)); val blue = u8(p(i + 2))
        sumR += red; sumG += green; sumB += blue
        momR += (y.toLong * w + x) * red
        i += 3; x += 1
      }
      y += 1
    }
    MediaMeta(w, h, 3, "ppm", w.toLong * h, sumR, sumG, sumB, momR)
  }

  // -------------------------------------- compressed formats via ImageIO —

  /** Encode the deterministic pattern for `docId` as a REAL PNG through
    * the JDK's ImageIO (zero new dependencies) — the real-world
    * compressed format the hand-rolled BMP/PPM walkers don't cover
    * (zlib-deflated filtered scanlines, chunk CRCs). PNG is lossless, so
    * a decode must reproduce the generator pixels EXACTLY — the same
    * generator-replay oracle contract as mm01. The byte SIZE is
    * encoder-implementation-specific (deflate output), so mm06 pins a
    * bounds bit for it, never the exact length. */
  def encodePng(docId: Long): Array[Byte] = {
    val w = widthOf(docId); val h = heightOf(docId)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixelR(docId, x, y) << 16) | (pixelG(docId, x, y) << 8) | pixelB(docId, x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, "png", bos)
    require(ok, "no PNG writer available")
    bos.toByteArray
  }

  /** JPEG twin of [[encodePng]] — LOSSY, so it certifies plumbing and
    * tolerance-bounded pixel recovery (MultimodalSpec), never an exact
    * hash oracle. */
  def encodeJpeg(docId: Long): Array[Byte] = {
    val w = widthOf(docId); val h = heightOf(docId)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixelR(docId, x, y) << 16) | (pixelG(docId, x, y) << 8) | pixelB(docId, x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, "jpg", bos)
    require(ok, "no JPEG writer available")
    bos.toByteArray
  }

  /** Shared ImageIO decode → exact stats (PNG/JPEG branch of
    * [[decodeImage]]). Walks `getRGB` top-down, the same logical pixel
    * order as the hand-rolled decoders, so the positional moment is
    * directly comparable. */
  private def decodeImageIo(p: Array[Byte], format: String): MediaMeta = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
    require(img != null, s"ImageIO could not decode the $format payload")
    val w = img.getWidth; val h = img.getHeight
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var momR = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val px = img.getRGB(x, y)
        val red = (px >> 16) & 0xff
        sumR += red; sumG += (px >> 8) & 0xff; sumB += px & 0xff
        momR += (y.toLong * w + x) * red
        x += 1
      }
      y += 1
    }
    MediaMeta(w, h, 3, format, w.toLong * h, sumR, sumG, sumB, momR)
  }

  /** Attach a real PNG payload per document (the mm06 fixture — every doc
    * gets the compressed format, unlike [[withPayload]]'s BMP/PPM
    * parity split). Same per-partition encoder batching. */
  def withPngPayload(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"))
      .as[Long]
      .mapPartitions(it => it.map(id => (id, encodePng(id))))
      .toDF("doc_id", "payload")
  }

  // ------------------------------------------------- pixel-level decode —

  /** Decoded raster: TOP-DOWN packed-RGB pixels (0xRRGGBB per int). */
  case class Raster(width: Int, height: Int, format: String, rgb: Array[Int])

  /** Decode real image bytes to the full pixel raster (the input to any
    * per-pixel transform: resize, crop, patching). Same two real-format
    * branches as [[decodeImage]]; BMP rows are flipped back to top-down
    * and un-padded here, PPM is read in file order. */
  def decodePixels(payload: Array[Byte]): Raster = {
    require(payload != null && payload.length >= 2, "empty image payload")
    if (payload(0) == 'B'.toByte && payload(1) == 'M'.toByte) {
      val b = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val dataOffset = b.getInt(10)
      val w = b.getInt(18); val h = b.getInt(22)
      val bpp = b.getShort(28).toInt; val compression = b.getInt(30)
      require(bpp == 24 && compression == 0, s"unsupported BMP bpp=$bpp compression=$compression")
      require(w > 0 && h > 0, s"unsupported BMP orientation $w x $h")
      val rowSize = ((3 * w + 3) / 4) * 4
      val rgb = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val base = dataOffset + (h - 1 - y) * rowSize // bottom-up flip
        var x = 0
        while (x < w) {
          rgb(y * w + x) = (u8(payload(base + 3 * x + 2)) << 16) |
            (u8(payload(base + 3 * x + 1)) << 8) | u8(payload(base + 3 * x))
          x += 1
        }
        y += 1
      }
      Raster(w, h, "bmp", rgb)
    } else if (payload(0) == 'P'.toByte && payload(1) == '6'.toByte) {
      var i = 2
      def skipWs(): Unit = {
        while (i < payload.length &&
          (payload(i) == ' ' || payload(i) == '\n' || payload(i) == '\r' || payload(i) == '\t')) i += 1
      }
      def readInt(): Int = {
        skipWs(); var v = 0
        require(i < payload.length && payload(i) >= '0' && payload(i) <= '9',
          s"bad PPM header at byte $i")
        while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
          v = v * 10 + (payload(i) - '0'); i += 1
        }
        v
      }
      val w = readInt(); val h = readInt(); val maxVal = readInt()
      require(maxVal == 255, s"unsupported PPM maxval $maxVal")
      i += 1 // single whitespace byte before the raster
      val rgb = new Array[Int](w * h)
      var k = 0
      while (k < w * h) {
        rgb(k) = (u8(payload(i)) << 16) | (u8(payload(i + 1)) << 8) | u8(payload(i + 2))
        i += 3; k += 1
      }
      Raster(w, h, "ppm", rgb)
    } else if ((payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte) {
      imageIoRaster(payload, "png")
    } else if ((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) {
      // JPEG is LOSSY: these pixels are the codec's reconstruction, not
      // the encoder's input — fine for resize/thumbnail/feature work,
      // never for pixel-exact round-trip certificates (mm06 pins the
      // tolerance posture; the PNG branch is the exact path)
      imageIoRaster(payload, "jpeg")
    } else throw new IllegalArgumentException(
      s"unknown image magic 0x${"%02x%02x".format(payload(0), payload(1))}")
  }

  /** Shared ImageIO pixel decode for the compressed branches of
    * [[decodePixels]] (PNG exact, JPEG lossy). */
  private def imageIoRaster(payload: Array[Byte], format: String): Raster = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"ImageIO could not decode the $format payload")
    val w = img.getWidth; val h = img.getHeight
    val rgb = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { rgb(y * w + x) = img.getRGB(x, y) & 0xffffff; x += 1 }
      y += 1
    }
    Raster(w, h, format, rgb)
  }

  /** Nearest-neighbor resize with the floor mapping
    * `src = (out·srcDim) / outDim` — pure integer arithmetic so the
    * DuckDB oracle replays the exact coordinate election. Handles both
    * down- and up-sampling. */
  def resizeNearest(r: Raster, outW: Int, outH: Int): Raster = {
    require(outW > 0 && outH > 0, s"bad target $outW x $outH")
    val out = new Array[Int](outW * outH)
    var oy = 0
    while (oy < outH) {
      val sy = (oy * r.height) / outH
      var ox = 0
      while (ox < outW) {
        val sx = (ox * r.width) / outW
        out(oy * outW + ox) = r.rgb(sy * r.width + sx)
        ox += 1
      }
      oy += 1
    }
    Raster(outW, outH, r.format, out)
  }

  /** Exact integer stats of a raster (the mm01 certification columns,
    * computed from pixels instead of inside the format walk). */
  def rasterStats(r: Raster): (Long, Long, Long, Long) = {
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var momR = 0L
    var k = 0
    while (k < r.rgb.length) {
      val p = r.rgb(k)
      val red = (p >> 16) & 0xff
      sumR += red; sumG += (p >> 8) & 0xff; sumB += p & 0xff
      momR += k.toLong * red
      k += 1
    }
    (sumR, sumG, sumB, momR)
  }

  /** 64-bit average-hash (aHash) of a raster, the classic perceptual
    * image fingerprint: nearest-resize to 8×8, integer grayscale
    * `(r+g+b)/3` per cell, one bit per cell set iff the cell is at or
    * above the grid mean. Pure integer arithmetic throughout — the mean
    * comparison is `gray·64 ≥ Σgray`, never a float divide — so the
    * DuckDB oracle replays every bit from the pixel generator. Emitted
    * as a 64-char '0'/'1' string in row-major bit order: exact to
    * hash-compare, and substring-sliceable into Hamming-join bands
    * without sign games on packed longs. */
  def aHash64Bits(r: Raster): String = {
    val t = resizeNearest(r, 8, 8)
    val gray = new Array[Int](64)
    var sum = 0L
    var k = 0
    while (k < 64) {
      val p = t.rgb(k)
      gray(k) = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
      sum += gray(k)
      k += 1
    }
    val sb = new java.lang.StringBuilder(64)
    k = 0
    while (k < 64) { sb.append(if (gray(k) * 64L >= sum) '1' else '0'); k += 1 }
    sb.toString
  }

  /** Thumbnail pipeline over payload rows: REAL decode → nearest-neighbor
    * resize → REAL re-encode as BMP → REAL second decode → exact stats of
    * the re-decoded thumbnail. The double round-trip means the emitted
    * stats certify decode, resize, AND the derived-image encode path in
    * one hash: the oracle replays only the generator at the mapped
    * coordinates. Per-partition batching as in [[decodeMeta]]. */
  def resizeMeta(withPayload: DataFrame, outW: Int, outH: Int,
                 idCol: String = "doc_id"): DataFrame = {
    val spark = withPayload.sparkSession
    import spark.implicits._
    withPayload.select(col(idCol).as("id"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { it =>
        it.map { case (id, payload) =>
          val src = decodePixels(payload)
          val thumbBytes = encodeBmpPixels(outW, outH, resizeNearest(src, outW, outH).rgb)
          val thumb = decodePixels(thumbBytes)
          val (sr, sg, sb, mr) = rasterStats(thumb)
          (id, src.width, src.height, outW, outH, thumbBytes.length.toLong, sr, sg, sb, mr)
        }
      }.toDF("doc_id", "src_w", "src_h", "out_w", "out_h", "n_bytes_out",
        "sum_r", "sum_g", "sum_b", "mom_r")
  }

  // ------------------------------------------------------ Spark plumbing —

  /** Attach a real binary image payload per document (in production this
    * is the raw media bytes column of the lakehouse table; here the
    * deterministic fixture encoder stands in for the upstream writer).
    * Encoding runs per-partition — one encoder context per partition, the
    * `mapInPandas` batch shape. */
  def withPayload(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"))
      .as[Long]
      .mapPartitions(it => it.map(id => (id, encodeImage(id))))
      .toDF("doc_id", "payload")
  }

  /** Decode payloads to metadata + pixel stats via per-partition batch
    * iteration — the decoder context is created once per partition (the
    * point of `mapInPandas`-style batching: amortize decoder init, keep
    * batches together). The binary payload is materialized only inside
    * this boundary; downstream sees narrow typed columns. */
  def decodeMeta(withPayload: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = withPayload.sparkSession
    val rows: Dataset[Row] = withPayload.select(col(idCol).as("id"), col("payload"))
    import spark.implicits._
    rows.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, payload) =>
        val m = decodeImage(payload)
        val n = if (payload == null) 0L else payload.length.toLong
        (id, n, m.width, m.height, m.channels, m.format,
          m.nPixels, m.sumR, m.sumG, m.sumB, m.momR)
      }
    }.toDF("doc_id", "n_bytes", "width", "height", "channels", "format",
      "n_pixels", "sum_r", "sum_g", "sum_b", "mom_r")
  }

  // --------------------------------------------------------- audio (WAV) —

  /** Typed metadata + exact sample statistics produced by the WAV
    * decoder. The positional moment Σ i·s_i pins sample ORDER and
    * little-endian byte order (a byte-swap or reorder changes it even
    * when the plain sum survives). */
  case class AudioMeta(sampleRate: Int, channels: Int, bitsPerSample: Int,
                       nSamples: Long, sumS: Long, sumAbs: Long, momS: Long)

  /** Audio fixture formulas — replayed by the DuckDB oracle. */
  def nSamplesOf(docId: Long): Int = (docId % 400).toInt + 100
  def sampleRateOf(docId: Long): Int = 8000 + (docId % 3).toInt * 4000
  def sampleAt(docId: Long, i: Int): Int =
    ((docId * 13 + 7L * i) % 65536).toInt - 32768

  /** Canonical 16-bit mono PCM WAV: RIFF header, `fmt ` chunk (PCM,
    * rates/alignment derived, not hardcoded garbage), `data` chunk with
    * little-endian samples. */
  def encodeWav(docId: Long): Array[Byte] =
    encodeWavPcm(sampleRateOf(docId),
      Array.tabulate(nSamplesOf(docId))(i => sampleAt(docId, i)))

  /** WAV writer for an arbitrary sample array — the derived-audio encode
    * path (mm08's resampled output), with [[encodeWav]] delegating for
    * generator audio (MultimodalSpec's WAV byte pins certify the
    * delegation is bit-exact). */
  def encodeWavPcm(rate: Int, samples: Array[Int]): Array[Byte] = {
    val n = samples.length
    val dataSize = 2 * n
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)            // PCM
      .putShort(1)            // mono
      .putInt(rate)
      .putInt(rate * 2)       // byte rate = rate · blockAlign
      .putShort(2)            // blockAlign = channels · bits/8
      .putShort(16)           // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) { b.putShort(samples(i).toShort); i += 1 }
    b.array()
  }

  /** Real WAV decode: verify the RIFF/WAVE magic, then WALK the chunk
    * list (skipping unknown chunks — the general parser, not a 44-byte
    * offset assumption), read the `fmt ` fields, and fold the PCM
    * samples into exact integer statistics. */
  def decodeWav(p: Array[Byte]): AudioMeta = {
    require(p != null && p.length >= 12, "truncated WAV payload")
    val b = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(p, off, 4, "US-ASCII")
    require(tag(0) == "RIFF" && tag(8) == "WAVE",
      s"not a RIFF/WAVE payload: ${tag(0)}/${tag(8)}")
    var off = 12
    var rate = -1; var channels = -1; var bits = -1
    var sumS = 0L; var sumAbs = 0L; var momS = 0L; var nSamples = 0L
    while (off + 8 <= p.length) {
      val id = tag(off); val size = b.getInt(off + 4)
      id match {
        case "fmt " =>
          val fmt = b.getShort(off + 8).toInt
          require(fmt == 1, s"unsupported WAV format code $fmt (PCM only)")
          channels = b.getShort(off + 10).toInt
          rate = b.getInt(off + 12)
          bits = b.getShort(off + 22).toInt
          require(bits == 16 && channels == 1,
            s"unsupported layout: $channels ch × $bits bit")
        case "data" =>
          require(rate > 0, "WAV data chunk before fmt chunk")
          val n = size / 2
          var i = 0
          while (i < n) {
            val s = b.getShort(off + 8 + 2 * i).toLong
            sumS += s; sumAbs += math.abs(s); momS += i * s
            i += 1
          }
          nSamples += n
        case _ => // unknown chunk: skip (padded to even length per spec)
      }
      off += 8 + size + (size & 1)
    }
    require(nSamples > 0, "no data chunk found")
    AudioMeta(rate, channels, bits, nSamples, sumS, sumAbs, momS)
  }

  /** Full PCM sample decode — the input to per-sample transforms
    * (resample, trim, gain), where [[decodeWav]] folds to statistics.
    * Same chunk walk; returns (sampleRate, samples). */
  def decodeWavSamples(p: Array[Byte]): (Int, Array[Int]) = {
    require(p != null && p.length >= 12, "truncated WAV payload")
    val b = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(p, off, 4, "US-ASCII")
    require(tag(0) == "RIFF" && tag(8) == "WAVE",
      s"not a RIFF/WAVE payload: ${tag(0)}/${tag(8)}")
    var off = 12
    var rate = -1
    var samples: Array[Int] = null
    while (off + 8 <= p.length) {
      val id = tag(off); val size = b.getInt(off + 4)
      id match {
        case "fmt " =>
          require(b.getShort(off + 8) == 1 && b.getShort(off + 10) == 1 &&
            b.getShort(off + 22) == 16, "PCM 16-bit mono only")
          rate = b.getInt(off + 12)
        case "data" =>
          require(rate > 0, "WAV data chunk before fmt chunk")
          val n = size / 2
          samples = new Array[Int](n)
          var i = 0
          while (i < n) { samples(i) = b.getShort(off + 8 + 2 * i).toInt; i += 1 }
        case _ => // unknown chunk: skip
      }
      off += 8 + size + (size & 1)
    }
    require(samples != null && samples.length > 0, "no data chunk found")
    (rate, samples)
  }

  /** Integer-exact linear resample of mono PCM to `dstRate`. Output j
    * sits at source position j·srcRate/dstRate, held as the exact
    * rational (idx = j·src div dst, frac = (j·src) mod dst — both
    * non-negative); the interpolated value is
    * (s[idx]·(dst−frac) + s[idx+1]·frac) / dst with division TRUNCATED
    * toward zero — the native integer division of both Java and
    * DuckDB's `//` (which truncates, NOT floors: −5 // 2 = −2), so the
    * oracle replays every sample with the bare operator on both sides.
    * n_out = (n_in−1)·dst div src + 1 — every output position lands
    * inside the source span, and frac = 0 whenever idx is the last
    * sample, so s[idx+1] is never read out of bounds. At src = dst this
    * degenerates to the identity (frac = 0 everywhere) — the pin
    * MultimodalSpec asserts. */
  def resampleLinear(samples: Array[Int], srcRate: Int, dstRate: Int): Array[Int] = {
    require(srcRate > 0 && dstRate > 0, s"bad rates $srcRate -> $dstRate")
    val nIn = samples.length
    val nOut = ((nIn - 1).toLong * dstRate / srcRate).toInt + 1
    val out = new Array[Int](nOut)
    var j = 0
    while (j < nOut) {
      val posNum = j.toLong * srcRate
      val idx = (posNum / dstRate).toInt
      val frac = posNum % dstRate
      out(j) =
        if (frac == 0) samples(idx)
        else ((samples(idx).toLong * (dstRate - frac) +
          samples(idx + 1).toLong * frac) / dstRate).toInt
      j += 1
    }
    out
  }

  /** Attach a real WAV payload per document (the audio sibling of
    * [[withPayload]], same per-partition encoder batching). */
  def withAudioPayload(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"))
      .as[Long]
      .mapPartitions(it => it.map(id => (id, encodeWav(id))))
      .toDF("doc_id", "payload")
  }

  /** Decode WAV payloads at the per-partition batch boundary. */
  def decodeAudioMeta(withPayload: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = withPayload.sparkSession
    val rows: Dataset[Row] = withPayload.select(col(idCol).as("id"), col("payload"))
    import spark.implicits._
    rows.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, payload) =>
        val m = decodeWav(payload)
        (id, payload.length.toLong, m.sampleRate, m.channels, m.bitsPerSample,
          m.nSamples, m.sumS, m.sumAbs, m.momS)
      }
    }.toDF("doc_id", "n_bytes", "sample_rate", "channels", "bits_per_sample",
      "n_samples", "sum_s", "sum_abs", "mom_s")
  }

  /** Deterministic frame sampling plan for a (fake) video payload: every
    * `stride`-th frame index under `maxFrames` — pure column math, no
    * decode. A zero-frame video samples nothing (the `greatest` clamp
    * alone would fabricate frame index 0). */
  def frameSamplePlan(nFrames: org.apache.spark.sql.Column, stride: Int, maxFrames: Int): org.apache.spark.sql.Column =
    when(nFrames <= 0, array().cast("array<int>"))
      .otherwise(slice(sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(stride)), 1, maxFrames))
}
