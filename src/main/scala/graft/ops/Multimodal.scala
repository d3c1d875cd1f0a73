package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads (image/audio/video)
  * with typed metadata, plus decode / feature-extract / frame-sample
  * stages. The decode step is a STUB — media codecs are not available in
  * this environment — but it is a *deterministic* stub (byte arithmetic),
  * so the full pipeline (schema, batching, partitioning, feature shape)
  * is real and oracle-testable; swapping in a true JNI/ffmpeg decoder
  * changes one function body, not the plan.
  *
  * Scale posture: payloads never pass through a shuffle — metadata and
  * features are extracted in the scan stage (narrow, codegen'd column
  * exprs or one mapPartitions), and only the small typed outputs flow
  * downstream. At 100 TB the binary column stays in parquet, loaded
  * lazily per-row-group; feature extraction fuses with the scan.
  */
object Multimodal {

  /** A decoded media record: id + fixed-shape stub features. */
  final case class MediaFeatures(doc_id: Long, n_bytes: Int,
                                 checksum: Long, first_byte: Int)

  /** Typed metadata extracted without decoding: byte length and a
    * hex header prefix (magic-number sniffing in a real pipeline).
    */
  def withBlobMetadata(df: DataFrame, blob: Column): DataFrame =
    df.withColumn("n_bytes", octet_length(blob))
      .withColumn("header_hex", substring(hex(blob), 1, 16))

  /** Frame sampling: every `stride`-th window of `frameLen` bytes,
    * returned as hex strings (a real decoder would emit tensors). Pure
    * column expression — the sampling plan is identical with a real
    * codec behind it.
    */
  def sampleFrames(blob: Column, stride: Int, frameLen: Int): Column = {
    val h = hex(blob)
    val nFrames = greatest(floor((octet_length(blob) - frameLen) / stride) + 1, lit(0))
    when(octet_length(blob) < frameLen, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nFrames.cast("int") - 1),
        i => h.substr(i * (stride * 2) + 1, lit(frameLen * 2))))
  }

  /** Stub per-frame "feature": sum of the frame's byte values (a real
    * pipeline computes an embedding here). Deterministic → oracle-able.
    */
  def frameChecksum(frameHex: Column, frameLen: Int): Column =
    (1 to frameLen).map { i =>
      conv(substring(frameHex, (i - 1) * 2 + 1, 2), 16, 10).cast("long")
    }.reduce(_ + _)

  /** The pluggable decode SEAM: a codec turns one payload batch into
    * fixed-shape feature records. Implementations must be pure
    * (payload bytes → features, no side effects) and serializable —
    * the instance is constructed executor-side via the `open` factory
    * passed to [[decodeFeaturesBatched]], once per partition. A real
    * deployment implements this with JNI/ffmpeg/JPEG and changes
    * NOTHING else: the pipeline (schema, batching, partitioning) is
    * fixed, and MultimodalSpec proves output varies only through this
    * trait by swapping a second decoder in.
    */
  trait Decoder extends Serializable {
    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[MediaFeatures]
  }

  /** Canonical RIFF/WAVE writer (PCM16 mono): 44-byte header +
    * little-endian samples. Shared by fixtures and the q111 payload
    * synthesis — the bytes it emits are REAL WAV files any player
    * accepts, which is what makes [[parseWav]] a real decoder rather
    * than a stub: the oracle recomputes the decoded features from the
    * same construction arithmetic, proving the write→parse round trip.
    */
  def wavBytes(samples: Array[Short], sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(sampleRate); bb.putInt(sampleRate * 2) // byte rate
    bb.putShort(2); bb.putShort(16) // block align, bits/sample
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** A decoded WAV payload: format fields + interleaved PCM16 samples. */
  final case class WavPcm(sampleRate: Int, channels: Int,
                          samples: Array[Short])

  /** Pure-JVM RIFF/WAVE parser — an ACTUAL format decoder with zero
    * native dependencies (the environment has no media codecs, but WAV
    * needs none). Walks the RIFF chunk list per spec rather than
    * assuming the canonical 44-byte layout: unknown chunks (LIST, fact,
    * cue…) are skipped, odd-sized chunks consume their pad byte, and
    * `fmt ` may appear anywhere before `data`. PCM16 only (audioFormat
    * 1, bitsPerSample 16). Returns None on anything malformed or
    * unsupported — decode callers FALL BACK instead of killing a
    * 100 TB pipeline over one corrupt payload.
    */
  def parseWav(bytes: Array[Byte]): Option[WavPcm] = {
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // audioFormat, ch, rate, bits
    var data: Option[(Int, Int)] = None // body offset, byte length
    while (off + 8 <= bytes.length && data.isEmpty) {
      val id = tag(off)
      val sz = u32(off + 4)
      if (sz > Int.MaxValue || off + 8 + sz > bytes.length) return None
      val body = off + 8
      val len = sz.toInt
      if (id == "fmt ") {
        if (len < 16) return None
        fmt = Some((u16(body), u16(body + 2), u32(body + 4).toInt,
          u16(body + 14)))
      } else if (id == "data") {
        data = Some((body, len))
      }
      off = body + len + (len & 1) // odd chunks carry a pad byte
    }
    for {
      (audioFormat, channels, rate, bits) <- fmt
      (dOff, dLen) <- data
      if audioFormat == 1 && bits == 16 && channels >= 1 && rate > 0
    } yield {
      val n = dLen / 2
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        samples(i) = ((bytes(dOff + 2 * i) & 0xff) |
          ((bytes(dOff + 2 * i + 1) & 0xff) << 8)).toShort
        i += 1
      }
      WavPcm(rate, channels, samples)
    }
  }

  /** Canonical 24-bit BMP writer: BITMAPFILEHEADER + BITMAPINFOHEADER +
    * BOTTOM-UP rows of BGR pixels, each row padded to a 4-byte
    * boundary. `pixels` is TOP-DOWN row-major 0xRRGGBB — the writer
    * performs the flip and padding the format demands, which is
    * exactly what makes [[parseBmp]] a real decoder test: features
    * computed from the decoded pixels only match if the parser undoes
    * both correctly and skips the pad bytes.
    */
  def bmpBytes(width: Int, height: Int, pixels: Array[Int]): Array[Byte] = {
    require(pixels.length == width * height, "pixels must be width*height")
    val rowLen = width * 3
    val pad = (4 - rowLen % 4) % 4
    val dataLen = (rowLen + pad) * height
    val bb = java.nio.ByteBuffer.allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
    bb.putInt(0).putInt(54) // reserved, pixel-data offset
    bb.putInt(40).putInt(width).putInt(height) // positive height = bottom-up
    bb.putShort(1).putShort(24) // planes, bits per pixel
    bb.putInt(0).putInt(dataLen) // BI_RGB, image size
    bb.putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, palette
    for (y <- height - 1 to 0 by -1) { // bottom-up
      for (x <- 0 until width) {
        val p = pixels(y * width + x)
        bb.put((p & 0xff).toByte) // B
        bb.put(((p >> 8) & 0xff).toByte) // G
        bb.put(((p >> 16) & 0xff).toByte) // R
      }
      for (_ <- 0 until pad) bb.put(0.toByte)
    }
    bb.array()
  }

  /** A decoded BMP: dimensions + TOP-DOWN row-major 0xRRGGBB pixels. */
  final case class BmpPixels(width: Int, height: Int, pixels: Array[Int])

  /** Pure-JVM BMP parser (the image sibling of [[parseWav]]):
    * uncompressed 24-bit BI_RGB only, honors the header's pixel-data
    * offset, un-flips bottom-up rows, skips per-row padding. None on
    * anything malformed or unsupported — callers fall back.
    */
  def parseBmp(bytes: Array[Byte]): Option[BmpPixels] = {
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def i32(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
      ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    if (bytes.length < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte)
      return None
    val dataOff = i32(10)
    val hdrSize = i32(14)
    val width = i32(18)
    val heightRaw = i32(22)
    val bpp = u16(28)
    val compression = i32(30)
    if (hdrSize < 40 || bpp != 24 || compression != 0) return None
    if (width <= 0 || heightRaw == 0) return None
    val bottomUp = heightRaw > 0
    val height = math.abs(heightRaw)
    // stride/pixel-count in LONG arithmetic: width near Int.MaxValue/3
    // overflows width*3 to a negative stride that slips past the bounds
    // guard and crashes pixel indexing — the contract is None, not throw
    val rowLenL = width.toLong * 3L
    val strideL = rowLenL + (4L - rowLenL % 4L) % 4L
    if (dataOff < 54 || dataOff.toLong + strideL * height > bytes.length)
      return None
    // implied by the guard (3·W·H ≤ stride·H ≤ payload ≤ Int.MaxValue),
    // made explicit so the allocation below can never overflow
    if (width.toLong * height > Int.MaxValue) return None
    val stride = strideL.toInt
    val pixels = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      val srcRow = if (bottomUp) height - 1 - y else y
      val ro = dataOff + srcRow * stride
      var x = 0
      while (x < width) {
        val o = ro + x * 3
        pixels(y * width + x) = ((bytes(o + 2) & 0xff) << 16) |
          ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)
        x += 1
      }
      y += 1
    }
    Some(BmpPixels(width, height, pixels))
  }

  /** Canonical PNG writer over TOP-DOWN row-major 0xRRGGBB pixels,
    * via `javax.imageio` (JVM-public, zero native dependencies, and
    * headless-safe for PNG). The emitted bytes are REAL PNG files any
    * viewer accepts. NOTE: the compressed byte LENGTH is an encoder
    * implementation detail — deterministic within one JVM but not a
    * cross-engine contract, so oracles must pin features of the
    * DECODED pixels, never of the container bytes (unlike
    * [[bmpBytes]], whose layout is arithmetic).
    */
  def pngBytes(width: Int, height: Int, pixels: Array[Int]): Array[Byte] = {
    require(pixels.length == width * height, "pixels must be width*height")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, pixels, 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private val pngMagic: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Real PNG decoder (the third format tier beside [[parseWav]] and
    * [[parseBmp]] — the "user hits it on day one" format): sniff the
    * 8-byte PNG signature FIRST (non-PNG payloads skip the codec at
    * the cost of one byte compare, never an exception), then decode
    * through `javax.imageio.ImageIO` and normalize to TOP-DOWN
    * row-major 0xRRGGBB (alpha discarded). None on anything the
    * reader rejects — callers fall back, per the decoder convention.
    */
  def parsePng(bytes: Array[Byte]): Option[BmpPixels] = {
    if (bytes.length < 8 ||
        !java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(bytes, 0, 8), pngMagic)) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val px = img.getRGB(0, 0, w, h, null, 0, w)
          .map(_ & 0xffffff)
        Some(BmpPixels(w, h, px))
      }
    } catch { case _: Exception => None }
  }

  /** JPEG fixture encoder at EXPLICIT quality 1.0 (the `ImageIO.write`
    * one-arg path defaults to 0.75, which quantizes everything): any
    * image whose 8×8 DCT blocks are each a uniform GRAY (R=G=B) value
    * round-trips EXACTLY — gray makes the chroma planes constant 128
    * (so 4:2:0 subsampling averages a constant), a uniform block is
    * DC-only, and the quality-1.0 quantization table is all ones, so
    * decode reproduces every pixel bit-for-bit (measured: q=1.0 and
    * 0.95 both exact on gray 8×8 tiles; COLOR tiles err up to ±84 per
    * channel — lossy as expected). This is what makes a lossy codec
    * oracle-checkable: construct inside the lossless subset.
    */
  def jpegBytes(width: Int, height: Int, pixels: Array[Int]): Array[Byte] = {
    require(pixels.length == width * height, "pixels must be width*height")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, pixels, 0, width)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  /** JPEG dimensions + component count via a MARKER WALK — metadata
    * without entropy-decode, the cheap scan path a 100 TB image
    * pipeline runs before deciding what to really decode: skip SOI
    * (0xFFD8), then hop segment lengths (2-byte big-endian, length
    * includes itself) until a start-of-frame marker (SOF0/1/2 —
    * baseline, extended-sequential, progressive), whose payload is
    * precision(1) height(2) width(2) ncomponents(1). None on bad
    * magic, truncation, or reaching SOS/EOI without a SOF — callers
    * fall back, per the decoder convention.
    */
  def jpegDims(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
        (bytes(1) & 0xff) != 0xd8) return None
    var off = 2
    while (off + 4 <= bytes.length) {
      if ((bytes(off) & 0xff) != 0xff) return None
      var marker = bytes(off + 1) & 0xff
      while (marker == 0xff && off + 2 < bytes.length) {
        off += 1; marker = bytes(off + 1) & 0xff // fill bytes
      }
      if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS: no SOF seen
      val len = ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      if (len < 2 || off + 2 + len > bytes.length) return None
      if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
        if (len < 8) return None
        val h = ((bytes(off + 5) & 0xff) << 8) | (bytes(off + 6) & 0xff)
        val w = ((bytes(off + 7) & 0xff) << 8) | (bytes(off + 8) & 0xff)
        val nc = bytes(off + 9) & 0xff
        return if (w > 0 && h > 0) Some((w, h, nc)) else None
      }
      off += 2 + len
    }
    None
  }

  /** Real JPEG decoder — the FOURTH format tier beside [[parseWav]],
    * [[parseBmp]] and [[parsePng]], and the single most common crawl
    * image format: sniff the 3-byte SOI+marker prefix 0xFFD8FF first
    * (non-JPEG payloads skip the codec at the cost of one compare,
    * never an exception), then decode through `javax.imageio.ImageIO`
    * and normalize to top-down row-major 0xRRGGBB exactly like
    * [[parsePng]]. Decode is LOSSY in general — only fixtures built
    * inside [[jpegBytes]]'s lossless subset are byte-exact; real-world
    * payloads get real (approximate) pixels, which is what every
    * consumer of a lossy codec gets. None on anything the reader
    * rejects — callers fall back, per the decoder convention.
    */
  def parseJpeg(bytes: Array[Byte]): Option[BmpPixels] = {
    if (bytes.length < 3 || (bytes(0) & 0xff) != 0xff ||
        (bytes(1) & 0xff) != 0xd8 || (bytes(2) & 0xff) != 0xff) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val px = img.getRGB(0, 0, w, h, null, 0, w)
          .map(_ & 0xffffff)
        Some(BmpPixels(w, h, px))
      }
    } catch { case _: Exception => None }
  }

  /** GIF fixture encoder — the LOSSLESS path through a palette codec:
    * pixels are written through an EXPLICIT 256-entry grayscale
    * `IndexColorModel` (every gray has its own palette slot, so the
    * writer never quantizes) and GIF's LZW is lossless, so any
    * gray-valued (R=G=B) image round-trips bit-for-bit — the q478
    * lossless-subset trick, here by palette construction instead of
    * DCT arithmetic. `frames` ≥ 2 writes a real ANIMATED GIF via the
    * writer's sequence API (one image descriptor per frame).
    */
  def gifBytes(width: Int, height: Int,
               frames: Seq[Array[Int]]): Array[Byte] = {
    require(frames.nonEmpty, "at least one frame")
    require(frames.forall(_.length == width * height),
      "each frame must be width*height")
    val gray = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    def img(px: Array[Int]): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      var i = 0
      while (i < px.length) {
        im.getRaster.setSample(i % width, i / width, 0, px(i) & 0xff)
        i += 1
      }
      im
    }
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    // The JDK GIF writer interlaces by default, and its READER
    // mis-reassembles interlaced images only a few rows tall (later
    // passes come back zero) — write sequential scan order always.
    val p = w.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    if (frames.size == 1)
      w.write(null, new javax.imageio.IIOImage(img(frames.head), null,
        null), p)
    else {
      w.prepareWriteSequence(null)
      frames.foreach(f => w.writeToSequence(
        new javax.imageio.IIOImage(img(f), null, null), p))
      w.endWriteSequence()
    }
    ios.close(); w.dispose()
    bos.toByteArray
  }

  /** GIF container scan — dims + FRAME CENSUS without LZW decode, the
    * jpegDims analog (the cheap 100 TB triage pass: an animated GIF is
    * a different downstream object than a static one): check the
    * GIF87a/GIF89a magic, read the logical-screen width/height
    * (little-endian u16) and global-color-table size arithmetically,
    * then hop the block stream — extensions (0x21) and image
    * descriptors (0x2C, one per frame; local color tables and LZW
    * data skipped by their own length bytes) to the trailer (0x3B).
    * Sub-block lengths make the walk pure pointer arithmetic; no
    * decompression. None on bad magic/truncation — callers fall back,
    * per the decoder convention. Output (width, height, gct_entries,
    * n_frames).
    */
  def gifScan(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (bytes.length < 14 || u8(0) != 'G' || u8(1) != 'I' ||
        u8(2) != 'F' || u8(3) != '8' ||
        (u8(4) != '7' && u8(4) != '9') || u8(5) != 'a') return None
    val (w, h) = (u16(6), u16(8))
    if (w <= 0 || h <= 0) return None
    val packed = u8(10)
    val gct = if ((packed & 0x80) != 0) 2 << (packed & 0x07) else 0
    var off = 13 + 3 * gct
    var frames = 0
    // skip a chain of length-prefixed sub-blocks; -1 on truncation
    def skipSubBlocks(start: Int): Int = {
      var o = start
      while (o < bytes.length && u8(o) != 0) o += 1 + u8(o)
      if (o < bytes.length) o + 1 else -1
    }
    while (off < bytes.length) {
      u8(off) match {
        case 0x3b => return Some((w, h, gct, frames))
        case 0x21 =>
          if (off + 2 >= bytes.length) return None
          off = skipSubBlocks(off + 2)
          if (off < 0) return None
        case 0x2c =>
          if (off + 10 >= bytes.length) return None
          val p = u8(off + 9)
          val lct = if ((p & 0x80) != 0) 2 << (p & 0x07) else 0
          val dataOff = off + 10 + 3 * lct + 1 // + LZW min-code byte
          if (dataOff > bytes.length) return None
          off = skipSubBlocks(dataOff)
          if (off < 0) return None
          frames += 1
        case _ => return None
      }
    }
    None // ran off the end without a trailer
  }

  /** Real GIF decoder — the FIFTH format tier (the web's other
    * ubiquitous image container; palette-indexed, LZW, lossless):
    * sniff the 4-byte 'GIF8' prefix first, then decode the FIRST
    * frame through `javax.imageio.ImageIO` (its GIF reader returns
    * frame 0 from `read`) and normalize to top-down row-major
    * 0xRRGGBB exactly like [[parsePng]]. Unlike JPEG, GIF decode is
    * exact for ANY payload the palette admits — the fixture trick in
    * [[gifBytes]] is palette construction, not codec arithmetic.
    * None on anything the reader rejects — callers fall back.
    */
  def parseGif(bytes: Array[Byte]): Option[BmpPixels] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 'G' ||
        (bytes(1) & 0xff) != 'I' || (bytes(2) & 0xff) != 'F' ||
        (bytes(3) & 0xff) != '8') return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val px = img.getRGB(0, 0, w, h, null, 0, w)
          .map(_ & 0xffffff)
        Some(BmpPixels(w, h, px))
      }
    } catch { case _: Exception => None }
  }

  /** Nearest-neighbor resample to `outW`×`outH` (pure pixel function):
    * output (x,y) reads source (x·W/outW, y·H/outH) — integer floor, the
    * standard nearest-neighbor index map, exact in integer arithmetic so
    * any engine recomputing the map picks identical source pixels.
    */
  def resizeNearest(b: BmpPixels, outW: Int, outH: Int): BmpPixels = {
    require(outW > 0 && outH > 0, "resize target must be positive")
    val px = new Array[Int](outW * outH)
    var y = 0
    while (y < outH) {
      val sy = y * b.height / outH
      var x = 0
      while (x < outW) {
        px(y * outW + x) = b.pixels(sy * b.width + x * b.width / outW)
        x += 1
      }
      y += 1
    }
    BmpPixels(outW, outH, px)
  }

  /** 56-bit average-hash (aHash) of decoded pixels: per-pixel gray =
    * (r+g+b)/3 integer division, threshold at the integer mean of all
    * grays, bit i set iff gray(i) > mean — pure integer arithmetic, so
    * the perceptual fingerprint is bit-identical on any engine. One
    * flipped low channel bit moves the hash 0–1 bits; distinct images
    * land far apart — the hamming-banded near-dup key for images.
    */
  def averageHash(b: BmpPixels): Long = {
    val g = b.pixels.map(p =>
      (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3)
    val mean = g.sum / g.length
    var h = 0L
    var i = 0
    while (i < g.length && i < 63) {
      if (g(i) > mean) h |= 1L << i
      i += 1
    }
    h
  }

  /** Decode → [[averageHash]] per payload, streamed through one
    * mapPartitions (payloads never cross a shuffle; each is decoded and
    * dropped as the task's iterator reaches it). Undecodable payloads
    * emit hash −1 — flow on, never crash (the [[FormatDecoder]]
    * convention).
    */
  def imageHashesBatched(media: Dataset[(Long, Array[Byte])]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        (id, parseBmp(bytes).map(averageHash).getOrElse(-1L))
      }
    }.toDF("id", "hash")
  }

  /** PATCHIFY stage — the vision-model data-prep shape (split each
    * image into a tileW×tileH grid and summarize every tile): decodes
    * through the REAL BMP parser and emits one row per tile with the
    * exact integer R+G+B brightness sum (order-free, engine-exact;
    * a mean is one division away and left to the caller so the
    * compared value stays integral). Payloads are decoded inside the
    * same task that holds them — tiles, not pixels or payloads, are
    * what crosses the shuffle, a width·height → (w/tileW)·(h/tileH)
    * reduction. Images whose dimensions don't divide evenly drop the
    * ragged remainder (the standard patchify crop); corrupt payloads
    * emit nothing. Output: (doc_id, tile_r, tile_c, px_sum).
    */
  def patchBrightness(media: Dataset[(Long, Array[Byte])],
                      tileW: Int, tileH: Int): DataFrame = {
    require(tileW >= 1 && tileH >= 1, "tile dims must be >= 1")
    import media.sparkSession.implicits._
    media.flatMap { case (id, bytes) =>
      parseBmp(bytes).toSeq.flatMap { b =>
        for {
          tr <- 0 until b.height / tileH
          tc <- 0 until b.width / tileW
        } yield {
          var sum = 0L
          for (dr <- 0 until tileH; dc <- 0 until tileW) {
            val p = b.pixels((tr * tileH + dr) * b.width + tc * tileW + dc)
            sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
          }
          (id, tr, tc, sum)
        }
      }
    }.toDF("doc_id", "tile_r", "tile_c", "px_sum")
  }

  /** Image RESIZE stage: decode → nearest-neighbor resample → re-encode,
    * one payload at a time inside a single mapPartitions (payloads
    * never cross a shuffle; each is decoded and dropped as the task's
    * iterator reaches it).
    * Emits a media column again — stages compose: a downstream
    * [[decodeFeaturesBatched]] re-parses the resized bytes, so the full
    * decode→transform→encode→decode round trip is exercised, exactly the
    * shape a thumbnail/downsample pass has in a 100 TB image pipeline.
    * Payloads that do not parse as 24-bit BMP pass through UNCHANGED
    * (the fall-back convention of [[FormatDecoder]]: corrupt or
    * other-modality rows flow on rather than killing the pipeline).
    */
  def resizeImagesBatched(media: Dataset[(Long, Array[Byte])],
                          outW: Int, outH: Int): Dataset[(Long, Array[Byte])] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        parseBmp(bytes) match {
          case Some(b) =>
            val r = resizeNearest(b, outW, outH)
            (id, bmpBytes(r.width, r.height, r.pixels))
          case None => (id, bytes)
        }
      }
    }
  }

  /** One frame of decoded audio: integer features only — zero-crossing
    * count (sign flips between consecutive samples, zero counted as
    * non-negative) and energy = Σ|sample| — both exact, order-free, and
    * recomputable by any engine from the same samples.
    */
  final case class FrameFeatures(doc_id: Long, frame: Int,
                                 zero_cross: Int, energy: Long)

  /** Audio FRAME-FEATURE stage: decode WAV → split the sample stream
    * into consecutive windows of `frameLen` samples (trailing partial
    * frame dropped — fixed-shape frames are the tensor contract) → one
    * integer feature row per frame. Decode and framing fuse in one
    * mapPartitions; only the small typed rows flow downstream. Payloads
    * that do not parse as PCM16 WAV emit NO frames (fall-back-by-
    * omission: a corrupt payload contributes silence, not a crash).
    */
  def wavFrameFeaturesBatched(media: Dataset[(Long, Array[Byte])],
                              frameLen: Int): Dataset[FrameFeatures] = {
    require(frameLen > 0, "frameLen must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        parseWav(bytes).iterator.flatMap { w =>
          val n = w.samples.length / frameLen
          (0 until n).iterator.map { f =>
            var zc = 0; var en = 0L
            var j = f * frameLen
            val end = j + frameLen
            while (j < end) {
              val s = w.samples(j).toInt
              en += math.abs(s)
              if (j > f * frameLen &&
                  ((w.samples(j - 1) < 0) != (s < 0))) zc += 1
              j += 1
            }
            FrameFeatures(id, f, zc, en)
          }
        }
      }
    }
  }

  /** Per-coefficient spectral energy of a doc's audio: `k` indexes the
    * Walsh–Hadamard coefficient in NATURAL (Hadamard) order, `energy`
    * = Σ over the doc's frames of c_k² — exact integers end to end.
    */
  final case class SequencyEnergy(doc_id: Long, k: Int, energy: Long)

  /** Walsh–Hadamard SEQUENCY-energy stage — the integer-exact spectral
    * feature a JVM-only pipeline can stand behind (no FFT floats to
    * drift cross-engine): decode WAV → consecutive `frameLen`-sample
    * frames (power of two; trailing partial dropped) → unnormalized
    * fast WHT per frame (integer butterflies, O(frameLen·log) — the
    * transform of the frame against all ±1 square-wave bases) → per
    * coefficient k the squared value c_k² accumulates across the doc's
    * frames into ONE energy row per (doc, k). Coefficients use natural
    * Hadamard indexing, c_k = Σ_j s_j·(−1)^popcount(k AND j), so any
    * engine can recompute them from the raw samples without agreeing
    * on a sequency permutation. Decode, framing, transform, and the
    * per-doc accumulation all fuse in one mapPartitions — `frameLen`
    * rows per doc leave the scan stage, payloads never shuffle.
    * Overflow posture: |c_k| ≤ frameLen·32768, c_k² ≤ 2⁶²/frameLen²
    * for frameLen ≤ 2¹⁵ — Long-safe at any realistic frame size.
    * Non-PCM16 payloads emit no rows (fall-back-by-omission, the
    * [[wavFrameFeaturesBatched]] contract).
    */
  def wavSequencyEnergyBatched(media: Dataset[(Long, Array[Byte])],
                               frameLen: Int)
      : Dataset[SequencyEnergy] = {
    require(frameLen > 0 && (frameLen & (frameLen - 1)) == 0,
      "frameLen must be a positive power of two")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        parseWav(bytes).iterator.flatMap { w =>
          val nFrames = w.samples.length / frameLen
          if (nFrames == 0) Iterator.empty
          else {
            val acc = new Array[Long](frameLen)
            val c = new Array[Long](frameLen)
            var f = 0
            while (f < nFrames) {
              var j = 0
              while (j < frameLen) {
                c(j) = w.samples(f * frameLen + j).toLong; j += 1
              }
              // in-place fast WHT, natural (Hadamard) output order
              var h = 1
              while (h < frameLen) {
                var i = 0
                while (i < frameLen) {
                  var k = i
                  while (k < i + h) {
                    val x = c(k); val y = c(k + h)
                    c(k) = x + y; c(k + h) = x - y
                    k += 1
                  }
                  i += 2 * h
                }
                h *= 2
              }
              j = 0
              while (j < frameLen) { acc(j) += c(j) * c(j); j += 1 }
              f += 1
            }
            (0 until frameLen).iterator.map(k =>
              SequencyEnergy(id, k, acc(k)))
          }
        }
      }
    }
  }

  /** Length-prefixed frame-sequence container ("MBMP"): 4-byte magic +
    * u32 frame count + per frame (u32 length + payload bytes) — the
    * video stand-in (MJPEG's shape: an indexable sequence of
    * independently-decodable frames). Little-endian throughout.
    */
  def mbmpBytes(frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 8 + frames.map(4 + _.length).sum
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("MBMP".getBytes("US-ASCII")).putInt(frames.length)
    frames.foreach { f => bb.putInt(f.length); bb.put(f) }
    bb.array()
  }

  /** Walk an MBMP container into its frame payloads. None on anything
    * malformed (bad magic, truncated frame, count mismatch) — callers
    * fall back, per the decoder convention.
    */
  def parseMbmp(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (bytes.length < 8 ||
        new String(bytes, 0, 4, "US-ASCII") != "MBMP") return None
    def u32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    val n = u32(4)
    if (n > Int.MaxValue) return None
    val out = Seq.newBuilder[Array[Byte]]
    var off = 8
    var i = 0L
    while (i < n) {
      if (off + 4 > bytes.length) return None
      val len = u32(off)
      if (len > Int.MaxValue || off + 4 + len > bytes.length) return None
      out += java.util.Arrays.copyOfRange(bytes, off + 4, off + 4 + len.toInt)
      off = off + 4 + len.toInt
      i += 1
    }
    if (off != bytes.length) return None
    Some(out.result())
  }

  /** VIDEO frame-sampling stage: walk the MBMP container, decode every
    * `stride`-th frame through the real BMP parser, emit one feature
    * row per SAMPLED frame (checksum = Σ(r+g+b) of the decoded pixels,
    * first_byte = top-left red — [[FormatDecoder]]'s image features).
    * Container walk + frame decode + feature fold fuse in one
    * mapPartitions; the (typically large) payload never shuffles and
    * un-sampled frames are never pixel-decoded — the frame-sample
    * economics a 100 TB video pipeline depends on. Malformed
    * containers, and frames that fail the BMP parse, emit nothing.
    */
  def videoFrameSampleBatched(media: Dataset[(Long, Array[Byte])],
                              stride: Int): Dataset[SampledFrame] = {
    require(stride > 0, "stride must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        parseMbmp(bytes).iterator.flatMap { frames =>
          frames.iterator.zipWithIndex
            .filter { case (_, f) => f % stride == 0 }
            .flatMap { case (payload, f) =>
              parseBmp(payload).map { b =>
                val checksum = b.pixels.foldLeft(0L)((a, p) =>
                  a + ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff))
                val first =
                  if (b.pixels.nonEmpty) (b.pixels(0) >> 16) & 0xff else -1
                SampledFrame(id, f, checksum, first)
              }
            }
        }
      }
    }
  }

  /** One sampled, decoded video frame: the image features of
    * [[FormatDecoder]] at a frame index.
    */
  final case class SampledFrame(doc_id: Long, frame: Int,
                                checksum: Long, first_byte: Int)

  /** The DEFAULT decoder: per-payload magic-number sniffing. A payload
    * that parses as RIFF/WAVE PCM16 is REALLY decoded — checksum is the
    * sum of the decoded sample VALUES (signed) and first_byte the first
    * decoded sample; one that parses as 24-bit BMP, as PNG, or as
    * JPEG (the `javax.imageio` tier — [[parsePng]]/[[parseJpeg]])
    * decodes to pixels —
    * checksum is the sum of all decoded R+G+B channel values (pad bytes
    * excluded, rows un-flipped, PNG inflate included) and first_byte
    * the TOP-LEFT pixel's red channel: the two image formats share one
    * feature contract, so a pipeline is format-blind downstream.
    * Features of the media, not of its container bytes.
    * Anything else (and any malformed/unsupported payload) falls back
    * to the stub byte arithmetic, so mixed-modality columns and corrupt
    * rows flow through the same pipeline without a crash.
    */
  final class FormatDecoder private () extends Decoder {
    private def imageFeatures(id: Long, nBytes: Int,
                              b: BmpPixels): MediaFeatures = {
      val checksum = b.pixels.foldLeft(0L)((a, p) =>
        a + ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff))
      val first =
        if (b.pixels.nonEmpty) (b.pixels(0) >> 16) & 0xff else -1
      MediaFeatures(id, nBytes, checksum, first)
    }
    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[MediaFeatures] =
      batch.map { case (id, bytes) =>
        parseWav(bytes) match {
          case Some(w) =>
            val checksum = w.samples.foldLeft(0L)((a, s) => a + s)
            val first = if (w.samples.nonEmpty) w.samples(0).toInt else -1
            MediaFeatures(id, bytes.length, checksum, first)
          case None => parseBmp(bytes).orElse(parsePng(bytes))
              .orElse(parseJpeg(bytes)).orElse(parseGif(bytes)) match {
            case Some(b) => imageFeatures(id, bytes.length, b)
            case None =>
              val checksum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
              val first = if (bytes.nonEmpty) bytes(0) & 0xff else -1
              MediaFeatures(id, bytes.length, checksum, first)
          }
        }
      }
  }
  object FormatDecoder {
    /** Executor-side open counter, observable from specs (local mode). */
    val opened = new java.util.concurrent.atomic.AtomicInteger(0)
    def open(): FormatDecoder = { opened.incrementAndGet(); new FormatDecoder }
  }

  /** Batched decode — the JVM face of the Arrow-batch (mapInArrow /
    * mapInPandas) contract a Python stack would use: the decoder handle
    * opens ONCE per partition, payloads stream through in bounded
    * batches (vectorization unit; also the memory bound — at most 64
    * payloads are resident per task), typed records come out.
    * Identical results to decoding each payload alone; only the
    * batching shape differs.
    */
  def decodeFeaturesBatched(media: Dataset[(Long, Array[Byte])],
                            open: () => Decoder = () => FormatDecoder.open())
      : Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val decoder = open() // once per partition, NOT per row
      it.grouped(64).flatMap(batch => decoder.decodeBatch(batch.toSeq))
    }
  }

  /** One frame-to-frame transition of a decoded video: the SAD (sum of
    * absolute per-channel pixel differences) against the previous
    * frame — the classic hard-cut detector's statistic.
    */
  final case class FrameTransition(doc_id: Long, frame: Int,
                                   sad: Long, is_cut: Boolean)

  /** SCENE-CUT detection over MBMP containers — the video-curation
    * stage after [[videoFrameSampleBatched]]'s sampling: decode EVERY
    * frame (cuts live between frames; sampling would miss them),
    * compute each transition's sum of absolute per-channel
    * differences, flag transitions with SAD > `thresh`. SAD, not a
    * brightness delta: modular pixel arithmetic makes mean shifts
    * cancel, absolute differences don't. Frames decode inside ONE
    * mapPartitions chain (payloads never shuffle); mismatched frame
    * sizes and malformed frames end the container's transition walk
    * (emitting nothing further) rather than comparing garbage.
    */
  def sceneCutsBatched(media: Dataset[(Long, Array[Byte])],
                       thresh: Long): Dataset[FrameTransition] = {
    require(thresh > 0, "thresh must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        parseMbmp(bytes).iterator.flatMap { frames =>
          val decoded = frames.iterator.map(parseBmp)
            .takeWhile(_.isDefined).map(_.get).toSeq
          decoded.sliding(2).zipWithIndex.collect {
            case (Seq(a, b), i)
              if a.width == b.width && a.height == b.height =>
              var sad = 0L
              var p = 0
              while (p < a.pixels.length) {
                val x = a.pixels(p); val y = b.pixels(p)
                sad += math.abs(((x >> 16) & 0xff) - ((y >> 16) & 0xff)) +
                  math.abs(((x >> 8) & 0xff) - ((y >> 8) & 0xff)) +
                  math.abs((x & 0xff) - (y & 0xff))
                p += 1
              }
              FrameTransition(id, i + 1, sad, sad > thresh)
          }
        }
      }
    }
  }

  /** SILENCE-TRIM audit for PCM16 audio — the dataloader read before
    * speech data is packed: per clip, the first and last sample whose
    * |amplitude| clears `thresh`, the implied leading/trailing
    * silence, and the trimmed length (0 when the whole clip is below
    * threshold). Decode and scan in one mapPartitions chain; clips
    * that fail the WAV parse emit nothing (the decoder's fall-back
    * convention).
    */
  final case class TrimAudit(doc_id: Long, n_samples: Int,
                             lead_silence: Int, trail_silence: Int,
                             trimmed_len: Int)

  /** CLIPPING detection for PCM16 audio — the other dataloader gate
    * beside [[wavTrimSilenceBatched]]: clips whose samples saturate
    * near full scale were recorded or normalized badly and poison
    * training. Per clip: sample count, samples with |v| ≥ `thresh`,
    * the absolute peak, and the ×1e6 clip rate. Same one-chain
    * decode contract (unparseable payloads emit nothing).
    */
  final case class ClipAudit(doc_id: Long, n_samples: Int,
                             n_clipped: Int, max_abs: Int,
                             clip_micro: Long)

  def wavClippingBatched(media: Dataset[(Long, Array[Byte])],
                         thresh: Int): Dataset[ClipAudit] = {
    require(thresh > 0, "thresh must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        parseWav(bytes).map { wv =>
          var clipped = 0
          var peak = 0
          var i = 0
          while (i < wv.samples.length) {
            val a = math.abs(wv.samples(i).toInt)
            if (a >= thresh) clipped += 1
            if (a > peak) peak = a
            i += 1
          }
          val n = wv.samples.length
          ClipAudit(id, n, clipped, peak,
            if (n == 0) 0L else clipped.toLong * 1000000L / n)
        }
      }
    }
  }

  def wavTrimSilenceBatched(media: Dataset[(Long, Array[Byte])],
                            thresh: Int): Dataset[TrimAudit] = {
    require(thresh >= 0, "thresh must be >= 0")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        parseWav(bytes).map { w =>
          val s = w.samples
          var first = 0
          while (first < s.length && math.abs(s(first).toInt) < thresh)
            first += 1
          if (first == s.length) TrimAudit(id, s.length, s.length, 0, 0)
          else {
            var last = s.length - 1
            while (last >= 0 && math.abs(s(last).toInt) < thresh)
              last -= 1
            TrimAudit(id, s.length, first, s.length - 1 - last,
              last - first + 1)
          }
        }
      }
    }
  }
}
