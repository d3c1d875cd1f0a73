package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("blob metadata: byte length and hex header") {
    val r = Multimodal.withBlobMetadata(
        Seq("ABCD").toDF("text"), $"text".cast("binary"))
      .select($"n_bytes", $"header_hex").as[(Int, String)].head()
    assert(r == ((4, "41424344")))
  }

  test("sampleFrames: stride windows in hex; short payloads give none") {
    // 12 bytes, frameLen 4, stride 4 -> 3 frames
    val r = Seq("ABCDEFGHIJKL", "AB").toDF("text")
      .select(Multimodal.sampleFrames($"text".cast("binary"), 4, 4))
      .as[Seq[String]].collect().toSeq
    assert(r.head == Seq("41424344", "45464748", "494A4B4C"))
    assert(r(1) == Seq())
  }

  test("frameChecksum sums the frame's byte values") {
    val df = Seq("AB").toDF("text")
      .select(Multimodal.sampleFrames($"text".cast("binary"), 2, 2).as("f"))
    val r = df.select(Multimodal.frameChecksum(element_at($"f", 1), 2))
      .as[Long].head()
    assert(r == 65L + 66L)
  }

  test("decodeFeatures: typed mapPartitions stub decoder matches column math") {
    val media = Seq((1L, "ABC".getBytes("UTF-8")), (2L, Array.empty[Byte]))
      .toDS()
    val r = Reference.decodeFeatures(media).collect().map(f =>
      (f.doc_id, f.n_bytes, f.checksum, f.first_byte)).toSet
    assert(r == Set((1L, 3, 65L + 66L + 67L, 65), (2L, 0, 0L, -1)))
  }

  test("batched decode: one decoder open per partition, same results") {
    val media = spark.range(0, 1000).map(i =>
      (i.toLong, s"payload-$i".getBytes("UTF-8"))).repartition(4)
    val perRow = Reference.decodeFeatures(media).collect().toSet
    Multimodal.FormatDecoder.opened.set(0)
    // non-WAV payloads: the sniffing default falls back to the stub
    // arithmetic, so the batched path must equal the per-row stub path
    val batched = Multimodal.decodeFeaturesBatched(media).collect().toSet
    assert(batched == perRow)
    // 1000 rows across 4 partitions, batches of 64: the decoder handle
    // opened once per PARTITION, never per row or per batch
    assert(Multimodal.FormatDecoder.opened.get() == 4,
      s"opened ${Multimodal.FormatDecoder.opened.get()} times")
  }

  test("wavBytes → parseWav round-trips header fields and every sample") {
    val samples = Array.tabulate(300)(i => ((i * 211) % 4096 - 2048).toShort)
    val w = Multimodal.parseWav(Multimodal.wavBytes(samples, 16000))
    assert(w.isDefined)
    assert(w.get.sampleRate == 16000 && w.get.channels == 1)
    assert(w.get.samples.toSeq == samples.toSeq)
  }

  test("parseWav walks chunks: an interposed LIST chunk is skipped") {
    val samples = Array[Short](100, -200, 300)
    val canonical = Multimodal.wavBytes(samples)
    // splice an odd-sized LIST chunk (body 5 bytes + pad) between the
    // fmt and data chunks; sizes in the RIFF header grow accordingly
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ "INFOx".getBytes("US-ASCII") ++
      Array[Byte](0) // pad byte for the odd size
    val spliced = canonical.slice(0, 36) ++ listChunk ++
      canonical.slice(36, canonical.length)
    val riffLen = spliced.length - 8
    spliced(4) = (riffLen & 0xff).toByte
    spliced(5) = ((riffLen >> 8) & 0xff).toByte
    spliced(6) = ((riffLen >> 16) & 0xff).toByte
    spliced(7) = ((riffLen >> 24) & 0xff).toByte
    val w = Multimodal.parseWav(spliced)
    assert(w.isDefined && w.get.samples.toSeq == samples.toSeq)
  }

  test("parseWav rejects malformed / unsupported payloads instead of crashing") {
    assert(Multimodal.parseWav("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.parseWav(Array.empty[Byte]).isEmpty)
    // truncated: data chunk claims more bytes than exist
    val truncated = Multimodal.wavBytes(Array[Short](1, 2, 3)).dropRight(2)
    assert(Multimodal.parseWav(truncated).isEmpty)
    // 8-bit PCM is unsupported → None (fallback, not garbage samples)
    val b = Multimodal.wavBytes(Array[Short](1))
    b(34) = 8 // bitsPerSample low byte
    assert(Multimodal.parseWav(b).isEmpty)
  }

  test("bmpBytes → parseBmp round-trips dimensions and every pixel") {
    // odd width forces 3 pad bytes per row; distinct channel values per
    // pixel catch any BGR/RGB or row-order confusion
    val px = Array.tabulate(7 * 4)(i => ((i * 11) % 256) << 16 |
      ((i * 29) % 256) << 8 | ((i * 53) % 256))
    val b = Multimodal.parseBmp(Multimodal.bmpBytes(7, 4, px))
    assert(b.isDefined)
    assert(b.get.width == 7 && b.get.height == 4)
    assert(b.get.pixels.toSeq == px.toSeq)
  }

  test("parseBmp rejects malformed / unsupported images") {
    assert(Multimodal.parseBmp("BMnot really a bitmap".getBytes("UTF-8")).isEmpty)
    val good = Multimodal.bmpBytes(3, 2, Array.fill(6)(0xffffff))
    assert(Multimodal.parseBmp(good.dropRight(4)).isEmpty) // truncated
    val bpp8 = good.clone(); bpp8(28) = 8 // 8-bit unsupported
    assert(Multimodal.parseBmp(bpp8).isEmpty)
    val rle = good.clone(); rle(30) = 1 // BI_RLE8 compression
    assert(Multimodal.parseBmp(rle).isEmpty)
  }

  test("parseBmp returns None (not a crash) on overflow-crafted dimensions") {
    def putI32(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
      b(o + 2) = ((v >> 16) & 0xff).toByte; b(o + 3) = ((v >> 24) & 0xff).toByte
    }
    val good = Multimodal.bmpBytes(3, 2, Array.fill(6)(0x123456))
    // width near Int.MaxValue/3: width*3 overflows Int to a negative
    // stride, which slipped past the old bounds guard
    val wide = good.clone(); putI32(wide, 18, Int.MaxValue / 3 + 1)
    assert(Multimodal.parseBmp(wide).isEmpty)
    // width*height overflows Int while each row alone looks plausible
    val tall = good.clone()
    putI32(tall, 18, 0x10000); putI32(tall, 22, 0x10000)
    assert(Multimodal.parseBmp(tall).isEmpty)
    // negative data offset
    val negOff = good.clone(); putI32(negOff, 10, -8)
    assert(Multimodal.parseBmp(negOff).isEmpty)
  }

  test("FormatDecoder decodes BMP pixel features (pads excluded, rows unflipped)") {
    // 0x010203 + 0x0A0B0C: checksum = 1+2+3+10+11+12 = 39; the pad
    // bytes (width 1 → 1 zero pad byte per row... width 1 row = 3
    // bytes + 1 pad) must not leak into the sum
    val px = Array(0x010203, 0x0A0B0C) // 1 wide, 2 tall
    val bmp = Multimodal.bmpBytes(1, 2, px)
    val media = Seq((1L, bmp)).toDS().repartition(1)
    val r = Multimodal.decodeFeaturesBatched(media).collect().head
    assert(r.checksum == 39L)
    assert(r.first_byte == 0x01) // TOP-left red channel, despite bottom-up storage
    assert(r.n_bytes == bmp.length)
  }

  test("pngBytes → parsePng round-trips dimensions and every pixel") {
    // distinct channel values per pixel catch channel-order or
    // scanline-filter confusion through the real zlib codec
    val px = Array.tabulate(5 * 3)(i => ((i * 17) % 256) << 16 |
      ((i * 31) % 256) << 8 | ((i * 59) % 256))
    val p = Multimodal.parsePng(Multimodal.pngBytes(5, 3, px))
    assert(p.isDefined)
    assert(p.get.width == 5 && p.get.height == 3)
    assert(p.get.pixels.toSeq == px.toSeq)
  }

  test("parsePng rejects malformed payloads and non-PNG magic cheaply") {
    assert(Multimodal.parsePng("not a png at all".getBytes("UTF-8")).isEmpty)
    val good = Multimodal.pngBytes(3, 2, Array.fill(6)(0x808080))
    // cut INSIDE the header/IDAT — the reader throws, the seam maps it
    // to None (ImageIO tolerates a merely-missing IEND, so a tail trim
    // is not a malformation to this codec)
    assert(Multimodal.parsePng(good.take(20)).isEmpty)
    val badSig = good.clone(); badSig(0) = 0x42
    assert(Multimodal.parsePng(badSig).isEmpty)
    // a BMP payload never enters the PNG codec (magic mismatch)
    assert(Multimodal.parsePng(
      Multimodal.bmpBytes(1, 1, Array(0xffffff))).isEmpty)
  }

  test("FormatDecoder decodes PNG pixel features through javax.imageio; " +
      "BMP and PNG of the same pixels emit the same features") {
    val px = Array(0x010203, 0x0A0B0C, 0x202122, 0x303132)
    val png = Multimodal.pngBytes(2, 2, px)
    val bmp = Multimodal.bmpBytes(2, 2, px)
    val media = Seq((1L, png), (2L, bmp)).toDS().repartition(1)
    val r = Multimodal.decodeFeaturesBatched(media)
      .collect().map(f => f.doc_id -> f).toMap
    val want = px.map(p =>
      ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).sum.toLong
    // pixel-feature checksum, NOT the byte checksum of the container
    assert(r(1L).checksum == want && r(1L).first_byte == 0x01)
    assert(r(2L).checksum == want && r(2L).first_byte == 0x01)
    assert(r(1L).n_bytes == png.length) // container length still typed
  }

  test("jpegBytes → parseJpeg round-trips EXACTLY inside the lossless " +
      "subset (gray 8×8-uniform blocks at quality 1.0)") {
    val (bw, bh) = (3, 2)
    val grays = Array(0, 37, 91, 200, 255, 17)
    val px = Array.tabulate(8 * bw * 8 * bh) { i =>
      val g = grays((i / (8 * bw) / 8) * bw + (i % (8 * bw) / 8))
      (g << 16) | (g << 8) | g
    }
    val p = Multimodal.parseJpeg(Multimodal.jpegBytes(8 * bw, 8 * bh, px))
    assert(p.isDefined)
    assert(p.get.width == 24 && p.get.height == 16)
    assert(p.get.pixels.toSeq == px.toSeq,
      "gray DC-only blocks must survive the lossy codec bit-for-bit")
  }

  test("jpegDims marker-walks dimensions + components without decoding; " +
      "malformed and non-JPEG payloads are rejected cheaply") {
    val jpg = Multimodal.jpegBytes(16, 8, Array.fill(128)(0x505050))
    assert(Multimodal.jpegDims(jpg).contains((16, 8, 3)))
    assert(Multimodal.jpegDims("no".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.jpegDims(jpg.take(6)).isEmpty, "truncated walk")
    assert(Multimodal.jpegDims(
      Multimodal.pngBytes(2, 2, Array.fill(4)(0))).isEmpty)
    assert(Multimodal.parseJpeg(jpg.take(6)).isEmpty)
    assert(Multimodal.parseJpeg(
      Multimodal.bmpBytes(1, 1, Array(0xffffff))).isEmpty)
  }

  test("FormatDecoder routes JPEG through the imageio tier: JPEG, PNG " +
      "and BMP of the same gray pixels emit identical features") {
    val px = Array.fill(64)(0x2A2A2A)
    val media = Seq((1L, Multimodal.jpegBytes(8, 8, px)),
      (2L, Multimodal.pngBytes(8, 8, px)),
      (3L, Multimodal.bmpBytes(8, 8, px))).toDS().repartition(1)
    val r = Multimodal.decodeFeaturesBatched(media)
      .collect().map(f => f.doc_id -> f).toMap
    val want = 64L * 3 * 0x2A
    Seq(1L, 2L, 3L).foreach { id =>
      assert(r(id).checksum == want && r(id).first_byte == 0x2A)
    }
  }

  test("FormatDecoder really decodes WAV features, stub-falls-back otherwise") {
    val samples = Array[Short](1000, -2000, 500)
    val wav = Multimodal.wavBytes(samples)
    val plain = "plain".getBytes("UTF-8")
    val media = Seq((1L, wav), (2L, plain)).toDS().repartition(1)
    val r = Multimodal.decodeFeaturesBatched(media)
      .collect().map(f => f.doc_id -> f).toMap
    // WAV: checksum is the SIGNED sample sum (impossible to get from
    // unsigned byte arithmetic), first_byte the first decoded sample
    assert(r(1L).checksum == -500L && r(1L).first_byte == 1000)
    assert(r(1L).n_bytes == wav.length)
    // non-WAV: identical to the stub byte features
    assert(r(2L).checksum == plain.map(_ & 0xff).sum.toLong)
    assert(r(2L).first_byte == 'p'.toInt)
  }

  test("resizeNearest picks floor-mapped source pixels") {
    // 4×2 → 2×1: out (x,0) reads source (x·4/2, 0·2/1) = (2x, 0)
    val src = Multimodal.BmpPixels(4, 2,
      Array(0x10, 0x20, 0x30, 0x40, 0x50, 0x60, 0x70, 0x80))
    val r = Multimodal.resizeNearest(src, 2, 1)
    assert(r.width == 2 && r.height == 1)
    assert(r.pixels.toSeq == Seq(0x10, 0x30))
    // upscale 1×1 → 3×3 replicates the single pixel
    val up = Multimodal.resizeNearest(Multimodal.BmpPixels(1, 1, Array(0x7f)), 3, 3)
    assert(up.pixels.toSeq == Seq.fill(9)(0x7f))
  }

  test("resizeImagesBatched: BMP round-trip resizes; non-BMP passes through") {
    val px = Array.tabulate(7 * 4)(i => ((i * 11) % 256) << 16 |
      ((i * 29) % 256) << 8 | ((i * 53) % 256))
    val bmp = Multimodal.bmpBytes(7, 4, px)
    val plain = "not an image".getBytes("UTF-8")
    val media = Seq((1L, bmp), (2L, plain)).toDS().repartition(1)
    val out = Multimodal.resizeImagesBatched(media, 3, 2)
      .collect().toMap
    val r = Multimodal.parseBmp(out(1L)).get
    assert(r.width == 3 && r.height == 2)
    // floor map: sx ∈ {0,2,4}, sy ∈ {0,2}
    val expect = for (y <- Seq(0, 2); x <- Seq(0, 2, 4)) yield px(y * 7 + x)
    assert(r.pixels.toSeq == expect)
    assert(out(2L).toSeq == plain.toSeq) // untouched bytes
  }

  test("wavFrameFeaturesBatched: exact frame features, tail dropped, corrupt silent") {
    // 10 samples, frameLen 4 → 2 full frames, 2-sample tail dropped
    val s = Array[Short](5, -3, 2, -1, /*f1*/ 0, -7, 7, 0, /*tail*/ 9, 9)
    val media = Seq((1L, Multimodal.wavBytes(s)),
      (2L, "corrupt".getBytes("UTF-8"))).toDS().repartition(1)
    val fr = Multimodal.wavFrameFeaturesBatched(media, 4)
      .collect().sortBy(_.frame)
    assert(fr.map(_.doc_id).toSeq == Seq(1L, 1L)) // corrupt doc: no rows
    // f0: 5,-3,2,-1 → 3 sign flips, energy 11
    assert(fr(0).zero_cross == 3 && fr(0).energy == 11L)
    // f1: 0,-7,7,0 → flips at 0→-7 and -7→7 (0 is non-negative; 7→0 is not
    // a flip) = 2; energy 14
    assert(fr(1).zero_cross == 2 && fr(1).energy == 14L)
  }

  test("wavSequencyEnergyBatched: butterfly equals the popcount-parity " +
      "definition, frames accumulate, DC/parseval checks, corrupt silent") {
    // 9 samples, frameLen 4 → 2 full frames, 1-sample tail dropped
    val s = Array[Short](5, -3, 2, -1, 7, 0, -2, 4, 99)
    val media = Seq((1L, Multimodal.wavBytes(s)),
      (2L, "nope".getBytes("UTF-8"))).toDS().repartition(1)
    val out = Multimodal.wavSequencyEnergyBatched(media, 4)
      .collect().sortBy(_.k)
    assert(out.map(_.doc_id).distinct.toSeq == Seq(1L))
    assert(out.map(_.k).toSeq == (0 until 4).toSeq)
    // reference: c_k = Σ_j s_j·(−1)^popcount(k&j), per frame, squared-sum
    def coef(fr: Array[Short], k: Int): Long =
      fr.indices.map(j => fr(j).toLong *
        (if (java.lang.Integer.bitCount(k & j) % 2 == 0) 1 else -1)).sum
    val frames = Seq(s.slice(0, 4), s.slice(4, 8))
    val want = (0 until 4).map(k =>
      frames.map(f => { val c = coef(f, k); c * c }).sum)
    assert(out.map(_.energy).toSeq == want)
    // Parseval (unnormalized WHT): Σ_k c_k² = n·Σ_j s_j² per frame
    val parseval = frames.map(f => 4L * f.map(v => v.toLong * v).sum).sum
    assert(out.map(_.energy).sum == parseval)
    // k=0 is the DC energy: (Σ samples)² per frame
    assert(out(0).energy == frames.map(f =>
      { val t = f.map(_.toLong).sum; t * t }).sum)
  }

  test("mbmpBytes → parseMbmp round-trips every frame; malformed rejected") {
    val f1 = Array[Byte](1, 2, 3)
    val f2 = Array[Byte]() // empty frame is legal
    val f3 = "frame".getBytes("UTF-8")
    val c = Multimodal.mbmpBytes(Seq(f1, f2, f3))
    val r = Multimodal.parseMbmp(c)
    assert(r.isDefined && r.get.size == 3)
    assert(r.get(0).toSeq == f1.toSeq && r.get(1).isEmpty
      && r.get(2).toSeq == f3.toSeq)
    assert(Multimodal.parseMbmp("MBMPxxxx".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.parseMbmp(c.dropRight(1)).isEmpty) // truncated
    assert(Multimodal.parseMbmp(c :+ 0.toByte).isEmpty) // trailing junk
  }

  test("videoFrameSampleBatched decodes only stride-matched frames") {
    // 4 frames, 1×1 pixels with per-frame red channel; frame 1 is
    // CORRUPT (not a BMP) but is never touched at stride 2
    val frames = Seq(
      Multimodal.bmpBytes(1, 1, Array(0x110000)),
      "corrupt frame".getBytes("UTF-8"),
      Multimodal.bmpBytes(1, 1, Array(0x330000)),
      Multimodal.bmpBytes(1, 1, Array(0x440000)))
    val media = Seq((7L, Multimodal.mbmpBytes(frames)),
      (8L, "not a container".getBytes("UTF-8"))).toDS().repartition(1)
    val out = Multimodal.videoFrameSampleBatched(media, 2)
      .collect().sortBy(_.frame)
    assert(out.map(f => (f.doc_id, f.frame, f.checksum, f.first_byte)).toSeq
      == Seq((7L, 0, 0x11L, 0x11), (7L, 2, 0x33L, 0x33)))
    // a corrupt SAMPLED frame emits nothing but doesn't kill the doc
    val media2 = Seq((9L, Multimodal.mbmpBytes(
      Seq("bad".getBytes("UTF-8"), frames(3))))).toDS().repartition(1)
    val out2 = Multimodal.videoFrameSampleBatched(media2, 1)
      .collect().sortBy(_.frame)
    assert(out2.map(f => (f.frame, f.first_byte)).toSeq == Seq((1, 0x44)))
  }

  test("decoder seam: swapping the codec changes output ONLY through the trait") {
    // a second "golden" decoder standing in for a real codec: same
    // contract, recognizably different features
    class GoldenDecoder extends Multimodal.Decoder {
      def decodeBatch(batch: Seq[(Long, Array[Byte])]) =
        batch.map { case (id, bytes) =>
          Multimodal.MediaFeatures(id, bytes.length, 4242L, 7)
        }
    }
    val media = spark.range(0, 40).map(i =>
      (i.toLong, s"payload-$i".getBytes("UTF-8"))).repartition(4)
    val stub = Multimodal.decodeFeaturesBatched(media)
    val golden = Multimodal.decodeFeaturesBatched(media,
      open = () => new GoldenDecoder)
    // the pipeline around the seam is unchanged: same schema, same row
    // set keyed by (doc_id, n_bytes) — only the decoder-computed
    // features differ, and exactly as the golden codec dictates
    assert(stub.schema == golden.schema)
    val s = stub.collect().map(f => f.doc_id -> f).toMap
    val g = golden.collect().map(f => f.doc_id -> f).toMap
    assert(s.keySet == g.keySet)
    assert(s.keySet.forall(id => s(id).n_bytes == g(id).n_bytes))
    assert(g.values.forall(f => f.checksum == 4242L && f.first_byte == 7))
    assert(s.values.forall(f => f.checksum != 4242L))
  }

  test("averageHash: stable under tiny channel noise, far for distinct " +
      "images, undecodable hashes to -1") {
    import spark.implicits._
    def img(seed: Int, tweakR: Int = 0) = Multimodal.bmpBytes(8, 7,
      Array.tabulate(56) { i =>
        val cp = seed * 31 + i * 17
        val r = (cp % 256) ^ (if (i == 0) tweakR else 0)
        (r << 16) | (((cp * 7) % 256) << 8) | ((cp * 13) % 256)
      })
    val media = Seq(
      (1L, img(3)), (2L, img(3, tweakR = 7)), // near-dup pair
      (3L, img(99)),                          // distinct
      (4L, Array[Byte](1, 2, 3)))             // undecodable
      .toDS()
    val h = Multimodal.imageHashesBatched(media)
      .as[(Long, Long)].collect().toMap
    assert(h(4L) == -1L)
    assert(java.lang.Long.bitCount(h(1L) ^ h(2L)) <= 1,
      "3 flipped red bits must move the hash at most 1 bit")
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) > 8,
      "distinct images must land far apart")
    // decode→hash agrees with hashing the constructed pixels directly
    val direct = Multimodal.averageHash(
      Multimodal.parseBmp(img(3)).get)
    assert(h(1L) == direct)
  }

  test("patchBrightness: tile sums match hand math, ragged edges crop, " +
      "corrupt payloads emit nothing") {
    import spark.implicits._
    // 5×3 image, pixel (r, c) = r*16 + c in every channel: tile (4×2)
    // grid keeps only tile (0, 0) — rows 0-1, cols 0-3; col 4 and row
    // 2 are the cropped ragged remainder
    val px = Array.tabulate(15) { i =>
      val v = (i / 5) * 16 + (i % 5)
      (v << 16) | (v << 8) | v
    }
    val good = Multimodal.bmpBytes(5, 3, px)
    val media = Seq(
      (1L, good),
      (2L, Array[Byte](1, 2, 3))) // not a BMP
      .toDS()
    val out = Multimodal.patchBrightness(media, 4, 2)
      .as[(Long, Int, Int, Long)].collect()
    val want = (for (r <- 0 until 2; c <- 0 until 4)
      yield 3L * (r * 16 + c)).sum
    assert(out.toSeq == Seq((1L, 0, 0, want)),
      s"one surviving tile with the exact sum: ${out.toSeq}")
  }

  test("sceneCutsBatched: exact SAD per transition, threshold flags, " +
    "mismatched frame sizes end the walk") {
    import spark.implicits._
    val f0 = Multimodal.bmpBytes(2, 1, Array(0x000000, 0x0A0A0A))
    val f1 = Multimodal.bmpBytes(2, 1, Array(0x000000, 0x0A0A0A))
    val f2 = Multimodal.bmpBytes(2, 1, Array(0xFFFFFF, 0xF5F5F5))
    val f3 = Multimodal.bmpBytes(1, 1, Array(0x000000)) // size break
    val media = Seq((7L, Multimodal.mbmpBytes(Seq(f0, f1, f2, f3))))
      .toDS()
    val out = Multimodal.sceneCutsBatched(media, 1000L)
      .collect().sortBy(_.frame)
    assert(out.map(t => (t.frame, t.sad, t.is_cut)).toSeq ==
      Seq((1, 0L, false), (2, 765L + 705L, true)),
      "transition 3 is suppressed by the size mismatch")
  }

  test("wavTrimSilenceBatched: first/last |sample| >= thresh bounds " +
    "the trim; an all-silent clip trims to zero") {
    import spark.implicits._
    val loud = Multimodal.wavBytes(
      Array[Short](0, 0, 100, -5, 200, 0))
    val quiet = Multimodal.wavBytes(Array[Short](0, 0))
    val out = Multimodal.wavTrimSilenceBatched(
      Seq((1L, loud), (2L, quiet)).toDS(), 64)
      .collect().map(t => t.doc_id -> t).toMap
    assert(out(1L).n_samples == 6 && out(1L).lead_silence == 2 &&
      out(1L).trail_silence == 1 && out(1L).trimmed_len == 3)
    assert(out(2L).n_samples == 2 && out(2L).lead_silence == 2 &&
      out(2L).trail_silence == 0 && out(2L).trimmed_len == 0)
  }

  test("wavClippingBatched: exact clip counts, peak, and rate") {
    import spark.implicits._
    val loud = Multimodal.wavBytes(
      Array[Short](100, 32700, -32768, 5, 32760))
    val quiet = Multimodal.wavBytes(Array[Short](1, -2, 3))
    val out = Multimodal.wavClippingBatched(
      Seq((1L, loud), (2L, quiet)).toDS(), 32700)
      .collect().map(c => c.doc_id -> c).toMap
    assert(out(1L).n_samples == 5 && out(1L).n_clipped == 3)
    assert(out(1L).max_abs == 32768)
    assert(out(1L).clip_micro == 600000L)
    assert(out(2L).n_clipped == 0 && out(2L).max_abs == 3)
  }

  test("gifBytes → parseGif: gray pixels round-trip bit-for-bit " +
    "through the real palette codec") {
    val px = Array.tabulate(6 * 3)(i => {
      val g = (i * 37 + 5) % 256
      (g << 16) | (g << 8) | g
    })
    val bytes = Multimodal.gifBytes(6, 3, Seq(px))
    assert(bytes.take(4).map(_.toChar).mkString == "GIF8")
    val d = Multimodal.parseGif(bytes).get
    assert(d.width == 6 && d.height == 3)
    assert(d.pixels.toSeq == px.toSeq, "palette write is lossless")
    // decoder-seam integration: FormatDecoder routes GIF payloads
    // through the real codec (checksum = sum of r+g+b)
    val feats = Multimodal.FormatDecoder.open()
      .decodeBatch(Seq((7L, bytes))).head
    assert(feats.checksum == px.map(p => 3L * ((p >> 16) & 0xff)).sum)
    assert(feats.first_byte == ((px(0) >> 16) & 0xff))
  }

  test("gifScan: dims + frame census via block walk, no decode; " +
    "animated sequences count every image descriptor") {
    def grays(seed: Int) = Array.tabulate(8)(i => {
      val g = (seed * 11 + i * 29) % 256
      (g << 16) | (g << 8) | g
    })
    val single = Multimodal.gifBytes(4, 2, Seq(grays(1)))
    val (w, h, gct, nf) = Multimodal.gifScan(single).get
    assert(w == 4 && h == 2 && nf == 1)
    assert(gct == 0 || gct == 256, s"palette placement, got $gct")
    val anim = Multimodal.gifBytes(4, 2,
      Seq(grays(1), grays(2), grays(3)))
    val (_, _, _, nf3) = Multimodal.gifScan(anim).get
    assert(nf3 == 3, "one image descriptor per frame")
    // the first frame is what parseGif decodes
    assert(Multimodal.parseGif(anim).get.pixels.toSeq ==
      grays(1).toSeq)
    // malformed payloads fall back, never throw
    assert(Multimodal.gifScan("GIF8".getBytes).isEmpty)
    assert(Multimodal.gifScan(single.take(20).toArray).isEmpty)
    assert(Multimodal.parseGif(Array[Byte](1, 2, 3)).isEmpty)
  }

}
