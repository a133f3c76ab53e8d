package graft

import graft.operators.multimodal.Multimodal

/** Multimodal plumbing: deterministic synthesis, batched feature
  * extraction, frame sampling, size-based partitioning.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("synthesize is deterministic") {
    val a = Multimodal.synthesize(spark, 50).collect().map(r => (r.media_id, r.payload.toSeq))
    val b = Multimodal.synthesize(spark, 50).collect().map(r => (r.media_id, r.payload.toSeq))
    assert(a.sameElements(b))
  }

  test("extractFeatures: stable sha + fixed-dim features") {
    val feats = Multimodal.extractFeatures(Multimodal.synthesize(spark, 30), dim = 8).collect()
    assert(feats.length == 30)
    assert(feats.forall(_.features.length == 8))
    val again = Multimodal.extractFeatures(Multimodal.synthesize(spark, 30), dim = 8).collect()
    val byId = feats.map(f => f.media_id -> f.sha).toMap
    val byIdAgain = again.map(f => f.media_id -> f.sha).toMap
    assert(byId == byIdAgain)
  }

  test("sampleFrames: one frame per interval, only for video rows") {
    val media = Multimodal.synthesize(spark, 30)
    val frames = Multimodal.sampleFrames(media, everyMs = 1000)
    val perMedia = frames.groupByKey(_.media_id).count().collect().toMap
    val videos = media.filter(_.kind == "video").collect()
    assert(perMedia.keySet == videos.map(_.media_id).toSet)
    videos.foreach { v =>
      assert(perMedia(v.media_id) == math.max(1, v.duration_ms / 1000))
    }
  }

  test("PpmCodec: encode/decode round-trip, header comments, loud failures") {
    val rgb = Array.tabulate[Byte](4 * 3 * 3)(j => (j * 17 % 256).toByte)
    val bytes = Multimodal.PpmCodec.encode(4, 3, rgb)
    val (w, h, px) = Multimodal.PpmCodec.decode(bytes)
    assert(w == 4 && h == 3 && px.sameElements(rgb))
    // header with comments and odd whitespace still parses
    val commented = ("P6\n# made by hand\n 4 # width\n3\n# last\n255\n"
      .getBytes("US-ASCII") ++ rgb)
    val (w2, h2, px2) = Multimodal.PpmCodec.decode(commented)
    assert(w2 == 4 && h2 == 3 && px2.sameElements(rgb))
    intercept[IllegalArgumentException](Multimodal.PpmCodec.decode("P5\n1 1\n255\n ".getBytes))
    intercept[IllegalArgumentException](
      Multimodal.PpmCodec.decode(Multimodal.PpmCodec.encode(4, 3, rgb).dropRight(5)))
  }

  test("PpmCodec: nearest-neighbor resize picks true source pixels; features in range") {
    // 2x1 image: left red, right blue; upscaled 4x2 keeps exact pixels
    val rgb = Array[Byte](255.toByte, 0, 0, 0, 0, 255.toByte)
    val up = Multimodal.PpmCodec.resize(Multimodal.PpmCodec.encode(2, 1, rgb), 4, 2)
    val (w, h, px) = Multimodal.PpmCodec.decode(up)
    assert(w == 4 && h == 2)
    for (y <- 0 until 2; x <- 0 until 4) {
      val d = 3 * (y * 4 + x)
      val expect = if (x < 2) (255, 0, 0) else (0, 0, 255)
      assert(((px(d) & 0xff, px(d + 1) & 0xff, px(d + 2) & 0xff)) == expect, s"($x,$y)")
    }
    val feats = Multimodal.PpmCodec.decodeFeatures(up, 4)
    assert(feats.length == 4 && feats.forall(f => f >= 0f && f <= 255f))
    // red cells brighter than blue under BT.601 (0.299 vs 0.114)
    assert(feats(0) > feats(1) || feats(0) > feats(3))
  }

  test("extractFeatures with PpmCodec produces real luminance features end-to-end") {
    import spark.implicits._
    val media = spark.range(6).map { i =>
      val w = 4 + (i % 3).toInt
      val rgb = Array.tabulate[Byte](w * w * 3)(j => ((i * 31 + j * 7) % 256).toByte)
      Multimodal.MediaRow(i, "image", Multimodal.PpmCodec.encode(w, w, rgb),
        "image/x-portable-pixmap", w, w, 0L)
    }
    val out = Multimodal.extractFeatures(media, dim = 8, codec = Multimodal.PpmCodec)
      .collect()
    assert(out.length == 6)
    assert(out.forall(_.features.length == 8))
    // deterministic: same input, same features
    val again = Multimodal.extractFeatures(media, dim = 8, codec = Multimodal.PpmCodec)
      .collect().map(r => r.media_id -> r.features.toSeq).toMap
    assert(out.forall(r => again(r.media_id) == r.features.toSeq))
  }

  test("BmpCodec: golden header bytes, round-trip, padding, bottom-up flip") {
    import graft.operators.multimodal.Multimodal.BmpCodec
    // 3x2 image: rows distinguishable so a missed flip is visible
    val rgb = Array.tabulate[Byte](3 * 2 * 3)(i => (i * 10).toByte)
    val bmp = BmpCodec.encode(3, 2, rgb)
    // golden header: 'BM', file size 54 + 12*2 (row 3*3=9 pads to 12)
    assert(bmp(0) == 'B' && bmp(1) == 'M')
    assert((bmp(2) & 0xff) == 78 && bmp(3) == 0) // 54 + 24
    assert((bmp(10) & 0xff) == 54)               // data offset
    assert((bmp(14) & 0xff) == 40)               // BITMAPINFOHEADER
    assert((bmp(18) & 0xff) == 3 && (bmp(22) & 0xff) == 2) // w, h
    assert((bmp(28) & 0xff) == 24)               // bpp
    // bottom-up: the FIRST stored row is the LAST image row; BGR order
    // image row 1 pixel 0 = rgb bytes (90,100,110) -> stored as B,G,R
    assert((bmp(54) & 0xff) == 110 && (bmp(55) & 0xff) == 100 && (bmp(56) & 0xff) == 90)
    // row padding bytes are zero
    assert(bmp(54 + 9) == 0 && bmp(54 + 10) == 0 && bmp(54 + 11) == 0)
    // round-trip
    val (w, h, back) = BmpCodec.decode(bmp)
    assert(w == 3 && h == 2 && back.toSeq == rgb.toSeq)
    // top-down BMPs (negative height) decode identically
    val td = bmp.clone()
    td(22) = (-2).toByte; td(23) = 0xff.toByte; td(24) = 0xff.toByte; td(25) = 0xff.toByte
    // re-flip the pixel rows so the top-down file carries row 0 first
    System.arraycopy(bmp, 54 + 12, td, 54, 12)
    System.arraycopy(bmp, 54, td, 54 + 12, 12)
    val (_, _, backTd) = BmpCodec.decode(td)
    assert(backTd.toSeq == rgb.toSeq)
    // loud failures: wrong magic, wrong bpp, truncation
    intercept[IllegalArgumentException](BmpCodec.decode("PNG".getBytes))
    val bad = bmp.clone(); bad(28) = 8
    intercept[IllegalArgumentException](BmpCodec.decode(bad))
    intercept[IllegalArgumentException](
      BmpCodec.decode(java.util.Arrays.copyOfRange(bmp, 0, 60)))
    // row-weighted sums weight by TOP-DOWN row index + 1
    val (_, _, wr, _, _) = BmpCodec.weightedChannelSums(bmp)
    // row0 R values: 0, 30, 60 (wt 1); row1 R: 90, 120, 150 (wt 2)
    assert(wr == (0 + 30 + 60) + 2 * (90 + 120 + 150))
  }

  test("BmpCodec: dHash is container-agnostic (same pixels as PPM collide)") {
    import graft.operators.multimodal.Multimodal.{BmpCodec, PpmCodec}
    val w = 16; val h = 12
    val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    assert(BmpCodec.dHash(BmpCodec.encode(w, h, rgb)) ==
      PpmCodec.dHash(PpmCodec.encode(w, h, rgb)))
  }

  test("PngCodec: round-trip through real zlib; every filter type inverts") {
    import graft.operators.multimodal.Multimodal.PngCodec
    // tall enough that rows exercise filters 0..4 (encode uses y % 5),
    // wide enough that Sub/Paeth see real left neighbors
    val w = 11; val h = 7
    val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i * 73 + 29) % 256).toByte)
    val png = PngCodec.encode(w, h, rgb)
    // real PNG signature
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val (dw, dh, back) = PngCodec.decode(png)
    assert(dw == w && dh == h && back.toSeq == rgb.toSeq)
    // gradient images (where Sub/Up/Paeth predictions are non-trivial)
    val grad = Array.tabulate[Byte](w * h * 3) { i =>
      val p = i / 3; ((p % w) * 7 + (p / w) * 11 + i % 3).toByte
    }
    val (_, _, back2) = PngCodec.decode(PngCodec.encode(w, h, grad))
    assert(back2.toSeq == grad.toSeq)
    // chunk CRC is verified: flipping a pixel byte inside IDAT fails
    val corrupt = png.clone()
    corrupt(45) = (corrupt(45) ^ 0x01).toByte
    intercept[IllegalArgumentException](PngCodec.decode(corrupt))
    // loud failures: wrong signature, truncation
    intercept[IllegalArgumentException](PngCodec.decode("JFIF".getBytes))
    intercept[IllegalArgumentException](
      PngCodec.decode(java.util.Arrays.copyOfRange(png, 0, 40)))
  }

  test("PngCodec: dHash collides with PPM/BMP of the same pixels") {
    import graft.operators.multimodal.Multimodal.{BmpCodec, PngCodec, PpmCodec}
    val w = 16; val h = 12
    val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val hp = PpmCodec.dHash(PpmCodec.encode(w, h, rgb))
    assert(PngCodec.dHash(PngCodec.encode(w, h, rgb)) == hp)
    assert(BmpCodec.dHash(BmpCodec.encode(w, h, rgb)) == hp)
  }

  test("GifCodec: real LZW round-trips — KwKwK, dict growth, 4096 reset") {
    import graft.operators.multimodal.Multimodal.GifCodec
    val palette = Array.tabulate[Byte](768)(i => ((i * 5 + 3) % 256).toByte)
    def roundTrip(w: Int, h: Int, idx: Array[Byte]): Unit = {
      val gif = GifCodec.encode(w, h, palette, idx)
      assert(new String(gif, 0, 6, "US-ASCII") == "GIF89a")
      val (dw, dh, pal, back) = GifCodec.decode(gif)
      assert(dw == w && dh == h)
      assert(pal.toSeq == palette.toSeq)
      assert(back.toSeq == idx.toSeq, s"${w}x$h failed")
    }
    // KwKwK immediately: a constant run ("aaaa…") forces code == next
    roundTrip(16, 4, Array.fill[Byte](64)(7))
    // alternating + runs: exercises normal dict hits and misses
    roundTrip(13, 9, Array.tabulate[Byte](117)(i => (i % 5).toByte))
    // pseudo-random 120x80 = 9600 px: the dictionary passes 4096
    // entries and the clear-code reset path runs for real
    val rnd = new scala.util.Random(42)
    roundTrip(120, 80, Array.fill[Byte](9600)(rnd.nextInt(256).toByte))
    // single pixel (degenerate stream: code + eoi)
    roundTrip(1, 1, Array[Byte](200.toByte))
    // compression is real: the repetitive image shrinks well below raw
    val runs = GifCodec.encode(64, 64, palette, Array.fill[Byte](4096)(9))
    assert(runs.length < 768 + 13 + 4096 / 4, s"no compression? ${runs.length}")
    // loud failures
    intercept[IllegalArgumentException](GifCodec.decode("NOTGIF".getBytes))
    val gif = GifCodec.encode(4, 4, palette, Array.fill[Byte](16)(1))
    intercept[IllegalArgumentException](
      GifCodec.decode(java.util.Arrays.copyOfRange(gif, 0, 700)))
  }

  test("PngCodec: RGBA (color type 6) decodes with bpp-4 filtering, alpha dropped") {
    import graft.operators.multimodal.Multimodal.PngCodec
    // hand-build an RGBA PNG: signature + IHDR(type 6) + IDAT + IEND —
    // rows use filters 0, 2 (Up), and 4 (Paeth) so the 4-byte-pixel
    // neighbor offset is genuinely exercised (the RGB offset would
    // corrupt silently)
    val w = 5; val h = 3; val bpp = 4
    val rgba = Array.tabulate[Byte](w * h * bpp)(i => ((i * 23 + 7) % 256).toByte)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val stride = w * bpp
    val raw = new Array[Byte]((stride + 1) * h)
    val filters = Array(0, 2, 4)
    for (y <- 0 until h) {
      raw((stride + 1) * y) = filters(y).toByte
      for (x <- 0 until stride) {
        val cur = rgba(y * stride + x) & 0xff
        val a = if (x >= bpp) rgba(y * stride + x - bpp) & 0xff else 0
        val b = if (y > 0) rgba((y - 1) * stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) rgba((y - 1) * stride + x - bpp) & 0xff else 0
        val f = filters(y) match {
          case 0 => cur
          case 2 => cur - b
          case 4 => cur - paeth(a, b, c)
        }
        raw((stride + 1) * y + 1 + x) = (f & 0xff).toByte
      }
    }
    val deflater = new java.util.zip.Deflater
    deflater.setInput(raw); deflater.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    def be32(v: Int): Array[Byte] =
      Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val body = tag.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32; crc.update(body)
      be32(data.length) ++ body ++ be32(crc.getValue.toInt)
    }
    val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 6, 0, 0, 0)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zout.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    val (dw, dh, rgb) = PngCodec.decode(png)
    assert(dw == w && dh == h)
    // alpha dropped, RGB bytes exact
    (0 until w * h).foreach { p =>
      assert(rgb(p * 3) == rgba(p * 4) && rgb(p * 3 + 1) == rgba(p * 4 + 1) &&
        rgb(p * 3 + 2) == rgba(p * 4 + 2), s"pixel $p")
    }
  }

  test("GifCodec: interlaced images de-interlace to raster order") {
    import graft.operators.multimodal.Multimodal.GifCodec
    val palette = Array.tabulate[Byte](768)(i => ((i * 3 + 1) % 256).toByte)
    val w = 7; val h = 11 // odd height: all four passes non-trivial
    val idx = Array.tabulate[Byte](w * h)(i => ((i * 13 + 5) % 256).toByte)
    // store rows in interlace-pass order, then flip the interlace flag
    val order = (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
    val stored = new Array[Byte](w * h)
    order.zipWithIndex.foreach { case (srcRow, destPos) =>
      System.arraycopy(idx, srcRow * w, stored, destPos * w, w)
    }
    val gif = GifCodec.encode(w, h, palette, stored)
    gif(13 + 768 + 9) = (gif(13 + 768 + 9) | 0x40).toByte // image-descriptor packed
    val (dw, dh, _, back) = GifCodec.decode(gif)
    assert(dw == w && dh == h)
    assert(back.toSeq == idx.toSeq, "interlaced rows must return in raster order")
  }

  test("GifCodec: palette resolution matches the shared RGB contract") {
    import graft.operators.multimodal.Multimodal.GifCodec
    val palette = Array.tabulate[Byte](768)(i => (i % 251).toByte)
    val idx = Array.tabulate[Byte](24)(i => (i * 11 % 256).toByte)
    val (w, h, rgb) = GifCodec.decodeRgb(GifCodec.encode(6, 4, palette, idx))
    assert(w == 6 && h == 4)
    (0 until 24).foreach { p =>
      val k = (idx(p) & 0xff) * 3
      assert(rgb(p * 3) == palette(k) && rgb(p * 3 + 1) == palette(k + 1) &&
        rgb(p * 3 + 2) == palette(k + 2))
    }
  }

  test("WavCodec mu-law: known-answer expansion, format-7 container decode") {
    import graft.operators.multimodal.Multimodal.WavCodec
    // canonical G.711 vectors: 0xFF -> 0 (positive zero), 0x7F -> -0
    // encodes as 0; 0x80 complements to 0x7F -> max magnitude 8031
    assert(WavCodec.muLawExpand(0xff) == 0)
    assert(WavCodec.muLawExpand(0x7f) == 0)
    // full-scale magnitudes of the canonical (Sun) ulaw2linear: ±32124
    assert(WavCodec.muLawExpand(0x80) == 32124)
    assert(WavCodec.muLawExpand(0x00) == -32124)
    // monotone within a positive segment: smaller wire byte = larger mag
    assert(WavCodec.muLawExpand(0x81) > WavCodec.muLawExpand(0x8f))
    // container: format code 7, bits 8 — decodes through the same API
    val ulaw = Array.tabulate[Byte](64)(i => (i * 4 + 1).toByte)
    val wav = WavCodec.encodeWavMulaw(8000, 1, ulaw)
    assert((wav(20) & 0xff) == 7 && (wav(34) & 0xff) == 8)
    val (rate, ch, samples) = WavCodec.decodeWav(wav)
    assert(rate == 8000 && ch == 1 && samples.length == 64)
    assert(samples.toSeq == ulaw.toSeq.map(b => WavCodec.muLawExpand(b & 0xff).toShort))
    // every possible byte stays inside PCM16
    (0 to 255).foreach { u =>
      val s = WavCodec.muLawExpand(u)
      assert(s >= -32124 && s <= 32124, s"out of range: $u -> $s")
    }
  }

  test("WavCodec: encode/decode round-trip, chunk skipping, loud failures") {
    val samples = Array.tabulate[Short](500)(t => ((t * 37 % 4001) - 2000).toShort)
    val bytes = Multimodal.WavCodec.encodeWav(16000, 1, samples)
    val (rate, ch, got) = Multimodal.WavCodec.decodeWav(bytes)
    assert(rate == 16000 && ch == 1 && got.sameElements(samples))
    // an unknown LIST chunk between fmt and data must be skipped
    val withList = bytes.slice(0, 36) ++
      "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes ++
      bytes.drop(36)
    // fix the RIFF size field (not validated, but keep it honest)
    val (_, _, got2) = Multimodal.WavCodec.decodeWav(withList)
    assert(got2.sameElements(samples))
    intercept[IllegalArgumentException](
      Multimodal.WavCodec.decodeWav("RIFFxxxxNOPE".getBytes ++ new Array[Byte](40)))
    // 8-bit PCM rejected loudly
    val eight = bytes.clone(); eight(34) = 8
    intercept[IllegalArgumentException](Multimodal.WavCodec.decodeWav(eight))
  }

  test("WavCodec: resample hits exact source samples; RMS features bounded") {
    val samples = Array.tabulate[Short](100)(t => (t * 100).toShort)
    val bytes = Multimodal.WavCodec.encodeWav(8000, 1, samples)
    val (_, _, half) = Multimodal.WavCodec.decodeWav(
      Multimodal.WavCodec.resize(bytes, 10, 5)) // 50 samples
    assert(half.length == 50)
    assert(half.forall(v => samples.contains(v)), "nearest resample picks true samples")
    val f = Multimodal.WavCodec.decodeFeatures(bytes, 4)
    assert(f.length == 4 && f.forall(v => v >= 0f && v <= 32768f))
    assert(f(3) > f(0), "rising ramp has rising per-cell RMS")
  }

  test("AviMjpegCodec: real video container round-trip + frame sampling e2e") {
    import graft.operators.multimodal.Multimodal
    import graft.operators.multimodal.Multimodal.{AviMjpegCodec, JpegCodec, MediaRow}
    val w = 24; val h = 16; val fps = 5
    // 10 distinguishable frames: brightness ramps with frame index
    def framePixels(f: Int): Array[Byte] =
      Array.tabulate[Byte](w * h * 3) { i =>
        val p = i / 3; ((p % w) * 3 + (p / w) * 2 + f * 20).toByte
      }
    val jpegs = (0 until 10).map(f => JpegCodec.encode(w, h, framePixels(f)))
    val avi = AviMjpegCodec.encode(w, h, fps, jpegs)
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF" &&
      new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val (dw, dh, dfps, back) = AviMjpegCodec.decode(avi)
    assert(dw == w && dh == h && dfps == fps && back.length == 10)
    // frames come back byte-identical (the container is lossless;
    // only the JPEG inside is lossy)
    back.zip(jpegs).foreach { case (a, b) => assert(java.util.Arrays.equals(a, b)) }
    // frameAt floors to the covering frame: 10 frames @5fps = 2s
    assert(AviMjpegCodec.frameAt(avi, 0)._1 == 0)
    assert(AviMjpegCodec.frameAt(avi, 999)._1 == 4)
    assert(AviMjpegCodec.frameAt(avi, 5000)._1 == 9) // clamped to last
    // Spark e2e: sampleFramesMjpeg yields REAL decodable frames at the
    // requested cadence, with frame indices advancing through time
    val rows = Seq(MediaRow(1L, "video", avi, "video/avi", w, h, 2000L)).toDS()
    val frames = Multimodal.sampleFramesMjpeg(rows, everyMs = 500).collect()
      .sortBy(_.ts_ms)
    assert(frames.length == 4) // 2s / 500ms
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 5, 7))
    frames.foreach { fr =>
      val (fw, fh, _) = JpegCodec.decode(fr.payload)
      assert(fw == w && fh == h)
    }
    // the sampled frames really are DIFFERENT images (brightness ramp)
    val lumas = frames.map { fr =>
      val (_, _, rgb) = JpegCodec.decode(fr.payload)
      rgb.map(_ & 0xff).sum / rgb.length
    }
    assert(lumas.sliding(2).forall(p => p.head != p.last))
    // loud failure on garbage
    intercept[IllegalArgumentException](AviMjpegCodec.decode("RIFFxxxx".getBytes))
  }

  test("codecFor routes every real format; extractFeaturesAuto over a mixed corpus") {
    import graft.operators.multimodal.Multimodal
    import graft.operators.multimodal.Multimodal._
    assert(codecFor("image/png") eq PngCodec)
    assert(codecFor("image/bmp") eq BmpCodec)
    assert(codecFor("image/jpeg") eq JpegCodec)
    assert(codecFor("IMAGE/GIF") eq GifAsMediaCodec)
    assert(codecFor("audio/wav") eq WavCodec)
    assert(codecFor("audio/mpeg") eq FakeCodec) // MP3: genuinely native
    // one image, four containers: the luminance features must agree
    // across PPM/BMP/PNG exactly (lossless) and match GIF through its
    // palette (identity palette makes index == gray value)
    val w = 12; val h = 8
    val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i / 3 * 2) % 256).toByte)
    val pal = Array.tabulate[Byte](768)(i => (i / 3).toByte) // pal[k] = (k,k,k)
    val gray = Array.tabulate[Byte](w * h)(p => ((p * 2) % 256).toByte)
    val rows = Seq(
      MediaRow(0L, "image", PpmCodec.encode(w, h, rgb), "image/ppm", w, h, 0L),
      MediaRow(1L, "image", BmpCodec.encode(w, h, rgb), "image/bmp", w, h, 0L),
      MediaRow(2L, "image", PngCodec.encode(w, h, rgb), "image/png", w, h, 0L),
      MediaRow(3L, "image", GifCodec.encode(w, h, pal,
        Array.tabulate[Byte](w * h)(p => gray(p))), "image/gif", w, h, 0L)
    ).toDS()
    val feats = Multimodal.extractFeaturesAuto(rows, dim = 8).collect()
      .sortBy(_.media_id).map(_.features.toSeq)
    // the image is gray (r=g=b=2p) and the GIF palette is the identity
    // gray ramp, so ALL FOUR containers hold the same pixels — features
    // must agree exactly, each through its own real decoder
    assert(feats(0) == feats(1) && feats(1) == feats(2) && feats(2) == feats(3),
      "same pixels in four containers must produce identical features")
    assert(feats(0).exists(_ != 0f)) // and they are real, not zeros
  }

  test("dHash: identical images match, brightness shift is invariant, crops differ") {
    val codec = Multimodal.PpmCodec
    def img(shift: Int, scale: Int): Array[Byte] = {
      val w = 16; val h = 12
      val rgb = Array.tabulate[Byte](w * h * 3) { j =>
        val p = j / 3
        (((p % w) * scale + shift) % 256).toByte
      }
      codec.encode(w, h, rgb)
    }
    val a = codec.dHash(img(0, 9))
    val b = codec.dHash(img(0, 9))
    assert(a == b, "identical bytes must hash identically")
    // uniform brightness shift cancels in luma DIFFERENCES
    assert(codec.dHash(img(40, 9)) == a, "dHash must be brightness-shift invariant")
    // a differently-textured image lands far away
    val other = codec.dHash(img(0, 251)) // wrapping gradient: different sign pattern
    assert(java.lang.Long.bitCount(a ^ other) > 10, "distinct textures must differ")
  }
}
