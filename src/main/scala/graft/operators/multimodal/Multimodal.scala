package graft.operators.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling for training-data pipelines (beyond-parity,
  * SURVEY.md §8): image/audio/video as opaque `binary` columns with
  * typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages.
  *
  * The Spark-side plumbing is real and tested: schemas, partition-size
  * control for fat binary rows, per-partition batched processing via
  * `mapPartitions` on a typed Dataset (the Scala analog of
  * `mapInPandas` batch processing). Four formats have REAL pure-JVM
  * codecs — NetPBM P6 ([[PpmCodec]]), 24-bit BMP ([[BmpCodec]]),
  * zlib-backed truecolor PNG ([[PngCodec]] — java.util.zip ships in
  * the JDK), and RIFF/WAVE PCM + G.711 mu-law ([[WavCodec]]) — each
  * proven byte-exact by a formula oracle and (for PNG/BMP/GIF)
  * cross-verified in both directions against the JDK's independent
  * `javax.imageio` readers and writers (CodecInteropSpec). JPEG is
  * real too, through the JDK's own baseline codec ([[JpegCodec]] —
  * lossy, so its contract is spec-level bounded error, not a hash
  * oracle). Only audio/video compression that truly needs native
  * libraries (MP3, video frames) sits behind the labeled
  * [[FakeCodec]] stub.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      mime: String,
      width: Int,
      height: Int,
      duration_ms: Long
  )

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      sha: String,
      features: Array[Float]
  )

  case class Frame(media_id: Long, frame_idx: Int, ts_ms: Long, payload: Array[Byte])

  /** Pluggable decode/feature stage. The default implementation is a
    * clearly-marked deterministic fake (hash-derived features) so the
    * distributed plumbing is testable without codec libraries.
    */
  trait MediaCodec extends Serializable {
    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float]
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte]
  }

  /** STUB: deterministic fake codec for the formats that genuinely
    * need native libraries this container lacks (MP3, video frame
    * extraction) — features are a seeded PRNG stream from the payload
    * hash; resize truncates/pads. Replace with a real codec
    * (javacv/ffmpeg) outside this container. Images do NOT go through
    * this: PPM/BMP/PNG/GIF/JPEG all have real codecs below.
    */
  object FakeCodec extends MediaCodec {
    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val seed = java.util.Arrays.hashCode(payload).toLong
      val rnd = new java.util.Random(seed)
      Array.fill(dim)(rnd.nextFloat())
    }
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      java.util.Arrays.copyOf(payload, math.min(payload.length, math.max(1, w * h)))
  }

  /** REAL image codec for the NetPBM P6 (binary PPM) format — pure
    * JVM; the simplest of the real containers and the shared pixel
    * substrate the others' features/dHash route through. Header:
    * `P6`, whitespace- and `#`-comment-separated width/height/maxval
    * (maxval ≤ 255), one whitespace byte, then `w*h*3` raw RGB bytes.
    */
  object PpmCodec extends MediaCodec {

    /** (width, height, interleaved RGB bytes). Fails loudly on
      * anything that is not a well-formed P6 — a silently wrong decode
      * poisons every feature downstream.
      */
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(payload.length >= 2 && payload(0) == 'P' && payload(1) == '6',
        "not a P6 PPM payload")
      var pos = 2
      def token(): Int = {
        // skip whitespace and # comments
        var done = false
        while (!done) {
          while (pos < payload.length && Character.isWhitespace(payload(pos))) pos += 1
          if (pos < payload.length && payload(pos) == '#') {
            while (pos < payload.length && payload(pos) != '\n') pos += 1
          } else done = true
        }
        var v = 0
        require(pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9',
          s"bad PPM header token at byte $pos")
        while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') {
          v = v * 10 + (payload(pos) - '0'); pos += 1
        }
        v
      }
      val w = token(); val h = token(); val maxval = token()
      require(w > 0 && h > 0, s"bad PPM dimensions ${w}x$h")
      require(maxval > 0 && maxval <= 255, s"unsupported PPM maxval $maxval")
      pos += 1 // single whitespace after maxval
      require(payload.length - pos >= w * h * 3,
        s"truncated PPM: need ${w * h * 3} pixel bytes, have ${payload.length - pos}")
      (w, h, java.util.Arrays.copyOfRange(payload, pos, pos + w * h * 3))
    }

    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, s"pixel buffer ${rgb.length} != ${w * h * 3}")
      val header = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = java.util.Arrays.copyOf(header, header.length + rgb.length)
      System.arraycopy(rgb, 0, out, header.length, rgb.length)
      out
    }

    /** Per-channel sums — exact integers, the cross-engine-checkable
      * core statistic (means are one division away).
      */
    def channelSums(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val (w, h, px) = decode(payload)
      var r = 0L; var g = 0L; var b = 0L; var i = 0
      while (i < px.length) {
        r += px(i) & 0xff; g += px(i + 1) & 0xff; b += px(i + 2) & 0xff
        i += 3
      }
      (w, h, r, g, b)
    }

    /** Real features: a `dim`-cell row-major grid of mean luminance
      * (ITU-R BT.601 integer weights 299/587/114), each cell averaged
      * over its pixel span — the classic thumbnail-fingerprint feature.
      */
    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val (w, h, px) = decode(payload)
      val n = w * h
      val sums = new Array[Long](dim)
      val counts = new Array[Long](dim)
      var p = 0
      while (p < n) {
        val cell = (p.toLong * dim / n).toInt
        val lum = 299L * (px(3 * p) & 0xff) + 587L * (px(3 * p + 1) & 0xff) +
          114L * (px(3 * p + 2) & 0xff)
        sums(cell) += lum; counts(cell) += 1
        p += 1
      }
      Array.tabulate(dim)(i =>
        if (counts(i) == 0) 0f else (sums(i).toDouble / (counts(i) * 1000.0)).toFloat)
    }

    /** Perceptual difference hash (dHash, the classic image near-dup
      * fingerprint): nearest-resize to (hw+1)×hh, integer BT.601
      * milli-luma per pixel (299r+587g+114b, never divided), bit
      * (r, c) = 1 iff luma(r, c+1) > luma(r, c), packed row-major into
      * a long (hw·hh ≤ 64). Brightness/contrast-shift invariant by
      * construction (uniform luma offsets cancel in the differences);
      * pure integer end to end, so an oracle can re-derive every bit
      * from the pixel formula alone.
      */
    def dHash(payload: Array[Byte], hw: Int = 8, hh: Int = 8): Long = {
      require(hw * hh <= 64, s"dHash: $hw x $hh exceeds 64 bits")
      val (w, h, px) = decode(resize(payload, hw + 1, hh))
      def lum(r: Int, c: Int): Long = {
        val s = 3 * (r * w + c)
        299L * (px(s) & 0xff) + 587L * (px(s + 1) & 0xff) + 114L * (px(s + 2) & 0xff)
      }
      var bits = 0L
      var r = 0
      while (r < hh) {
        var c = 0
        while (c < hw) {
          if (lum(r, c + 1) > lum(r, c)) bits |= 1L << (r * hw + c)
          c += 1
        }
        r += 1
      }
      bits
    }

    /** Nearest-neighbor resample, re-encoded as a valid P6. */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val (sw, sh, px) = decode(payload)
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val sy = (y.toLong * sh / h).toInt
        var x = 0
        while (x < w) {
          val sx = (x.toLong * sw / w).toInt
          val s = 3 * (sy * sw + sx); val d = 3 * (y * w + x)
          out(d) = px(s); out(d + 1) = px(s + 1); out(d + 2) = px(s + 2)
          x += 1
        }
        y += 1
      }
      encode(w, h, out)
    }
  }

  /** REAL audio codec for RIFF/WAVE 16-bit PCM — the audio sibling of
    * [[PpmCodec]]: pure JVM, so one genuinely decodable audio format
    * exercises the multimodal path end-to-end. Parses the RIFF header,
    * walks chunks to `fmt ` (PCM, 16-bit) and `data`, and exposes the
    * samples; unknown chunks (LIST, fact…) skip by their declared
    * size. Fails loudly on anything else — same policy as every
    * decoder here.
    */
  /** REAL 24-bit uncompressed BMP (BITMAPINFOHEADER): the second
    * from-scratch image container, with the format's actual traps —
    * BGR byte order, BOTTOM-UP row storage (positive biHeight),
    * 4-byte row padding, little-endian headers. decode() normalizes to
    * the same top-down interleaved-RGB contract as [[PpmCodec]], so
    * every downstream feature (channel sums, dHash, luminance grids)
    * is container-agnostic. Negative biHeight (top-down BMPs) is
    * honored; anything not 24-bpp/BI_RGB fails loudly.
    */
  object BmpCodec extends MediaCodec {

    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val (w, h, rgb) = decode(payload)
      PpmCodec.decodeFeatures(PpmCodec.encode(w, h, rgb), dim)
    }
    def resize(payload: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
      val (w, h, rgb) = decode(payload)
      val (_, _, small) = PpmCodec.decode(PpmCodec.resize(PpmCodec.encode(w, h, rgb), w2, h2))
      encode(w2, h2, small)
    }

    private def u16(b: Array[Byte], p: Int): Int =
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    private def u32(b: Array[Byte], p: Int): Long =
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    private def put16(b: Array[Byte], p: Int, v: Int): Unit = {
      b(p) = v.toByte; b(p + 1) = (v >> 8).toByte
    }
    private def put32(b: Array[Byte], p: Int, v: Long): Unit = {
      b(p) = v.toByte; b(p + 1) = (v >> 8).toByte
      b(p + 2) = (v >> 16).toByte; b(p + 3) = (v >> 24).toByte
    }
    private def rowSize(w: Int): Int = ((w * 3 + 3) / 4) * 4

    /** Top-down RGB triples → a complete BMP file (bottom-up storage,
      * the overwhelmingly common on-disk form).
      */
    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, s"pixel buffer ${rgb.length} != ${w * h * 3}")
      val rs = rowSize(w)
      val out = new Array[Byte](54 + rs * h)
      out(0) = 'B'; out(1) = 'M'
      put32(out, 2, out.length.toLong) // file size
      put32(out, 10, 54L)              // pixel-data offset
      put32(out, 14, 40L)              // BITMAPINFOHEADER size
      put32(out, 18, w.toLong)
      put32(out, 22, h.toLong)         // positive → bottom-up
      put16(out, 26, 1)                // planes
      put16(out, 28, 24)               // bpp
      put32(out, 34, (rs * h).toLong)  // image size (compression 0 at 30)
      var y = 0
      while (y < h) {
        val dst = 54 + (h - 1 - y) * rs // bottom-up
        var x = 0
        while (x < w) {
          val src = (y * w + x) * 3
          out(dst + x * 3) = rgb(src + 2)     // B
          out(dst + x * 3 + 1) = rgb(src + 1) // G
          out(dst + x * 3 + 2) = rgb(src)     // R
          x += 1
        }
        y += 1 // pad bytes stay zero
      }
      out
    }

    /** (width, height, TOP-DOWN interleaved RGB) — un-flips bottom-up
      * storage, strips padding, swaps BGR→RGB.
      */
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(payload.length >= 54 && payload(0) == 'B' && payload(1) == 'M',
        "not a BMP payload")
      val off = u32(payload, 10).toInt
      val hdr = u32(payload, 14)
      require(hdr >= 40, s"unsupported BMP header size $hdr")
      val w = u32(payload, 18).toInt
      val rawH = u32(payload, 22).toInt
      val topDown = rawH < 0
      val h = math.abs(rawH)
      require(w > 0 && h > 0, s"bad BMP dimensions ${w}x$rawH")
      require(u16(payload, 28) == 24, s"unsupported bpp ${u16(payload, 28)} (24 only)")
      require(u32(payload, 30) == 0L, "compressed BMP unsupported (BI_RGB only)")
      val rs = rowSize(w)
      require(payload.length - off >= rs * h,
        s"truncated BMP: need ${rs * h} pixel bytes, have ${payload.length - off}")
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val srcRow = off + (if (topDown) y else h - 1 - y) * rs
        var x = 0
        while (x < w) {
          val dst = (y * w + x) * 3
          rgb(dst) = payload(srcRow + x * 3 + 2)     // R
          rgb(dst + 1) = payload(srcRow + x * 3 + 1) // G
          rgb(dst + 2) = payload(srcRow + x * 3)     // B
          x += 1
        }
        y += 1
      }
      (w, h, rgb)
    }

    /** Row-weighted channel sums: Σ (top-down row index + 1)·value per
      * channel. Plain sums are ORDER-INVARIANT — a decoder that forgot
      * the bottom-up flip would still pass them; the row weight makes
      * vertical orientation part of the checked contract.
      */
    def weightedChannelSums(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val (w, h, px) = decode(payload)
      var r = 0L; var g = 0L; var b = 0L; var i = 0
      while (i < px.length) {
        val wt = (i / 3 / w + 1).toLong
        r += wt * (px(i) & 0xff); g += wt * (px(i + 1) & 0xff); b += wt * (px(i + 2) & 0xff)
        i += 3
      }
      (w, h, r, g, b)
    }

    /** The same perceptual dHash as [[PpmCodec.dHash]], off the decoded
      * RGB — proves the hash is container-agnostic (a PPM and a BMP of
      * the same pixels collide, which is the point of perceptual dedup).
      */
    def dHash(payload: Array[Byte], hw: Int = 8, hh: Int = 8): Long = {
      val (w, h, rgb) = decode(payload)
      PpmCodec.dHash(PpmCodec.encode(w, h, rgb), hw, hh)
    }
  }

  /** REAL PNG (RFC 2083) — no external codec libs needed: zlib lives
    * in the JDK (`java.util.zip` Inflater/Deflater/CRC32), so
    * 8-bit-truecolor PNG is pure-JVM: chunk framing with CRC32, IHDR,
    * concatenated IDAT inflate, and the five per-row byte filters
    * (None/Sub/Up/Average/Paeth) inverted exactly. The encoder APPLIES
    * a varying filter per row (`y % 5`), so the oracled decode path
    * exercises the whole filter algebra, not just the trivial None.
    * RGB (color type 2), bit depth 8, non-interlaced — the dominant
    * truecolor form; everything else fails loudly.
    */
  object PngCodec extends MediaCodec {

    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val (w, h, rgb) = decode(payload)
      PpmCodec.decodeFeatures(PpmCodec.encode(w, h, rgb), dim)
    }
    def resize(payload: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
      val (w, h, rgb) = decode(payload)
      val (_, _, small) = PpmCodec.decode(PpmCodec.resize(PpmCodec.encode(w, h, rgb), w2, h2))
      encode(w2, h2, small)
    }

    private val Signature = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

    private def be32(b: Array[Byte], p: Int): Int =
      ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
    private def putBe32(b: Array[Byte], p: Int, v: Int): Unit = {
      b(p) = (v >>> 24).toByte; b(p + 1) = (v >>> 16).toByte
      b(p + 2) = (v >>> 8).toByte; b(p + 3) = v.toByte
    }

    private def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](12 + data.length)
      putBe32(out, 0, data.length)
      tag.getBytes("US-ASCII").copyToArray(out, 4)
      data.copyToArray(out, 8)
      val crc = new java.util.zip.CRC32
      crc.update(out, 4, 4 + data.length)
      putBe32(out, 8 + data.length, crc.getValue.toInt)
      out
    }

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Top-down RGB triples → a complete PNG, filter `y % 5` per row. */
    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, s"pixel buffer ${rgb.length} != ${w * h * 3}")
      val stride = w * 3
      val raw = new Array[Byte]((stride + 1) * h)
      var y = 0
      while (y < h) {
        val f = y % 5
        raw((stride + 1) * y) = f.toByte
        var x = 0
        while (x < stride) {
          val cur = rgb(y * stride + x) & 0xff
          val a = if (x >= 3) rgb(y * stride + x - 3) & 0xff else 0
          val b = if (y > 0) rgb((y - 1) * stride + x) & 0xff else 0
          val c = if (x >= 3 && y > 0) rgb((y - 1) * stride + x - 3) & 0xff else 0
          val filtered = f match {
            case 0 => cur
            case 1 => cur - a
            case 2 => cur - b
            case 3 => cur - ((a + b) / 2)
            case 4 => cur - paeth(a, b, c)
          }
          raw((stride + 1) * y + 1 + x) = (filtered & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
      deflater.setInput(raw); deflater.finish()
      val zout = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      val ihdr = new Array[Byte](13)
      putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
      ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, color type 2 (RGB)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Signature)
      out.write(chunk("IHDR", ihdr))
      out.write(chunk("IDAT", zout.toByteArray))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }

    /** (width, height, top-down interleaved RGB). Walks chunks (CRC
      * verified), inflates the concatenated IDAT stream, inverts the
      * per-row filter. Ancillary chunks are skipped, as the spec says.
      */
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(payload.length > 8 && Signature.indices.forall(i => payload(i) == Signature(i)),
        "not a PNG payload")
      var pos = 8
      var w = 0; var h = 0; var seenIhdr = false; var colorType = 2
      var plte: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done) {
        require(payload.length - pos >= 12, s"truncated PNG chunk at $pos")
        val len = be32(payload, pos)
        val tag = new String(payload, pos + 4, 4, "US-ASCII")
        require(len >= 0 && payload.length - pos - 12 >= len,
          s"truncated PNG chunk body at $pos (len=$len)")
        val crc = new java.util.zip.CRC32
        crc.update(payload, pos + 4, 4 + len)
        require(crc.getValue.toInt == be32(payload, pos + 8 + len),
          s"PNG chunk CRC mismatch in $tag")
        tag match {
          case "IHDR" =>
            w = be32(payload, pos + 8); h = be32(payload, pos + 12)
            require(w > 0 && h > 0, s"bad PNG dimensions ${w}x$h")
            require(payload(pos + 16) == 8, s"unsupported bit depth ${payload(pos + 16)}")
            colorType = payload(pos + 17) & 0xff
            require(colorType == 2 || colorType == 6 || colorType == 3,
              s"unsupported color type $colorType (truecolor, RGBA, paletted)")
            require(payload(pos + 20) == 0, "interlaced PNG unsupported")
            seenIhdr = true
          case "PLTE" =>
            require(len % 3 == 0 && len <= 768, s"bad PLTE length $len")
            plte = java.util.Arrays.copyOfRange(payload, pos + 8, pos + 8 + len)
          case "IDAT" => idat.write(payload, pos + 8, len)
          case "IEND" => done = true
          case _ => () // ancillary chunk: skip
        }
        pos += 12 + len
      }
      require(seenIhdr, "PNG missing IHDR")
      // bpp: filter neighbors step one PIXEL (3 bytes RGB, 4 RGBA,
      // 1 palette index) — the wrong offset corrupts silently
      val bpp = colorType match { case 6 => 4; case 3 => 1; case _ => 3 }
      val stride = w * bpp
      val inflater = new java.util.zip.Inflater
      inflater.setInput(idat.toByteArray)
      val raw = new Array[Byte]((stride + 1) * h)
      var got = 0
      while (got < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, got, raw.length - got)
        require(n > 0 || inflater.finished(), "truncated PNG pixel stream")
        got += n
      }
      inflater.end()
      require(got == raw.length, s"PNG pixel stream: got $got of ${raw.length} bytes")
      val recon = new Array[Byte](stride * h)
      var y = 0
      while (y < h) {
        val f = raw((stride + 1) * y) & 0xff
        require(f <= 4, s"bad PNG filter type $f in row $y")
        var x = 0
        while (x < stride) {
          val v = raw((stride + 1) * y + 1 + x) & 0xff
          val a = if (x >= bpp) recon(y * stride + x - bpp) & 0xff else 0
          val b = if (y > 0) recon((y - 1) * stride + x) & 0xff else 0
          val c = if (x >= bpp && y > 0) recon((y - 1) * stride + x - bpp) & 0xff else 0
          val rv = f match {
            case 0 => v
            case 1 => v + a
            case 2 => v + b
            case 3 => v + ((a + b) / 2)
            case 4 => v + paeth(a, b, c)
          }
          recon(y * stride + x) = (rv & 0xff).toByte
          x += 1
        }
        y += 1
      }
      colorType match {
        case 2 => (w, h, recon)
        case 6 => // RGBA → RGB: alpha dropped (the shared image contract)
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            rgb(p * 3) = recon(p * 4); rgb(p * 3 + 1) = recon(p * 4 + 1)
            rgb(p * 3 + 2) = recon(p * 4 + 2)
            p += 1
          }
          (w, h, rgb)
        case 3 => // paletted: indices resolve through PLTE
          require(plte != null, "paletted PNG missing PLTE chunk")
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            val k = (recon(p) & 0xff) * 3
            require(k + 2 < plte.length, s"PNG palette index ${recon(p) & 0xff} out of range")
            rgb(p * 3) = plte(k); rgb(p * 3 + 1) = plte(k + 1); rgb(p * 3 + 2) = plte(k + 2)
            p += 1
          }
          (w, h, rgb)
      }
    }

    /** The same row-weighted sums contract as [[BmpCodec]]: vertical
      * orientation AND the filter inversion are both load-bearing.
      */
    def weightedChannelSums(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val (w, h, px) = decode(payload)
      var r = 0L; var g = 0L; var b = 0L; var i = 0
      while (i < px.length) {
        val wt = (i / 3 / w + 1).toLong
        r += wt * (px(i) & 0xff); g += wt * (px(i + 1) & 0xff); b += wt * (px(i + 2) & 0xff)
        i += 3
      }
      (w, h, r, g, b)
    }

    /** Container-agnostic perceptual hash, like [[BmpCodec.dHash]]. */
    def dHash(payload: Array[Byte], hw: Int = 8, hh: Int = 8): Long = {
      val (w, h, rgb) = decode(payload)
      PpmCodec.dHash(PpmCodec.encode(w, h, rgb), hw, hh)
    }
  }

  /** REAL GIF (89a) — from-scratch LZW, the format's actual algorithm:
    * variable-width codes (9→12 bits, LSB-first bit packing), dynamic
    * dictionary growth, clear-code resets at 4096 entries, the KwKwK
    * self-reference case, 255-byte data sub-blocks. GIF is
    * palette-indexed, so the codec's pixel contract is (palette,
    * indices); [[decodeRgb]] resolves through the palette to the same
    * top-down RGB contract as the other image codecs. Decode accepts
    * any global-color-table size, LZW min code 2–8, and interlaced
    * row order (the JDK's own writer exercises all of these in
    * CodecInteropSpec); the encoder emits the 256-entry
    * non-interlaced form. Single image; extensions skipped per spec;
    * anything else fails loudly.
    */
  object GifCodec extends Serializable {

    /** palette: 768 bytes (256 RGB triples); indices: one byte/pixel. */
    def encode(w: Int, h: Int, palette: Array[Byte], indices: Array[Byte]): Array[Byte] = {
      require(palette.length == 768, s"palette must be 256 RGB triples, got ${palette.length}")
      require(indices.length == w * h, s"index buffer ${indices.length} != ${w * h}")
      val out = new java.io.ByteArrayOutputStream(indices.length / 2 + 1024)
      out.write("GIF89a".getBytes("US-ASCII"))
      def put16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      put16(w); put16(h)
      out.write(0xf7) // GCT present, color res 8, GCT size 256
      out.write(0); out.write(0) // background, aspect
      out.write(palette, 0, 768)
      out.write(0x2c) // image descriptor
      put16(0); put16(0); put16(w); put16(h)
      out.write(0) // no local table, not interlaced
      out.write(8) // LZW minimum code size
      // ---- LZW compress, GIF variant ------------------------------
      val clearCode = 256; val eoiCode = 257
      var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
      var next = 258; var codeSize = 9
      var bitBuf = 0L; var bitCnt = 0
      val data = new java.io.ByteArrayOutputStream()
      def emit(code: Int): Unit = {
        bitBuf |= code.toLong << bitCnt; bitCnt += codeSize
        while (bitCnt >= 8) { data.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8 }
      }
      def resetDict(): Unit = { dict = scala.collection.mutable.HashMap.empty; next = 258; codeSize = 9 }
      emit(clearCode)
      var wCode = indices(0) & 0xff
      var i = 1
      while (i < indices.length) {
        val k = indices(i) & 0xff
        dict.get((wCode, k)) match {
          case Some(c) => wCode = c
          case None =>
            emit(wCode)
            if (next < 4096) {
              dict((wCode, k)) = next; next += 1
              // the encoder runs one dictionary-add AHEAD of the
              // decoder (its add lands right after emitting code n;
              // the decoder's matching add lands after READING code
              // n+1), so its width bump must fire one add later than
              // the decoder's `next == 1<<size` — the classic GIF
              // encoder off-by-one (desynced at 512/1024/2048 codes)
              if (next > (1 << codeSize) && codeSize < 12) codeSize += 1
            } else { emit(clearCode); resetDict() }
            wCode = k
        }
        i += 1
      }
      emit(wCode); emit(eoiCode)
      if (bitCnt > 0) data.write((bitBuf & 0xff).toInt)
      // ---- 255-byte sub-blocks ------------------------------------
      val bytes = data.toByteArray
      var p = 0
      while (p < bytes.length) {
        val n = math.min(255, bytes.length - p)
        out.write(n); out.write(bytes, p, n)
        p += n
      }
      out.write(0)    // block terminator
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** Generalized writer (r9): LOCAL color table and/or INTERLACED row
      * order, with the palette sized to `tableBits` (2..8 → 4..256
      * entries) and the LZW minimum code size following it — the
      * remaining write-side half of what [[decode]] already reads.
      * `localTable = true` omits the global table entirely (the
      * optional-GCT layout the decoder's "neither table" guard covers);
      * `interlaced` stores rows in the four-pass order
      * (0,8,16… / 4,12… / 2,6,10… / 1,3,5…).
      *
      * [[encode]] keeps its original byte layout (GCT 256, progressive)
      * — stored fixtures and the mm_gif_* oracles hash over those bytes.
      */
    def encodeWith(w: Int, h: Int, palette: Array[Byte], indices: Array[Byte],
                   tableBits: Int = 8, localTable: Boolean = false,
                   interlaced: Boolean = false): Array[Byte] = {
      require(tableBits >= 2 && tableBits <= 8, s"tableBits $tableBits outside 2..8")
      // zero-area images would slip the length check (0 == 0) and then
      // crash lzwCompress on indices(0); dims past 0xffff would
      // silently truncate in the 16-bit header fields
      require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff,
        s"GIF dimensions ${w}x$h outside 1..65535")
      val entries = 1 << tableBits
      require(palette.length == 3 * entries,
        s"palette must be $entries RGB triples, got ${palette.length / 3}")
      require(indices.length == w * h, s"index buffer ${indices.length} != ${w * h}")
      require(indices.forall(b => (b & 0xff) < entries),
        s"index out of range for $entries-entry table")
      val out = new java.io.ByteArrayOutputStream(indices.length / 2 + 1024)
      out.write("GIF89a".getBytes("US-ASCII"))
      def put16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      put16(w); put16(h)
      val sizeField = tableBits - 1 // GCT/LCT size field: 2^(field+1) entries
      out.write((if (localTable) 0x00 else 0x80) | 0x70 | (if (localTable) 0 else sizeField))
      out.write(0); out.write(0) // background, aspect
      if (!localTable) out.write(palette, 0, palette.length)
      out.write(0x2c) // image descriptor
      put16(0); put16(0); put16(w); put16(h)
      out.write((if (localTable) 0x80 | sizeField else 0x00) |
        (if (interlaced) 0x40 else 0x00))
      if (localTable) out.write(palette, 0, palette.length)
      val src =
        if (!interlaced) indices
        else {
          val order = (0 until h by 8) ++ (4 until h by 8) ++
            (2 until h by 4) ++ (1 until h by 2)
          val re = new Array[Byte](indices.length)
          order.zipWithIndex.foreach { case (srcRow, destRow) =>
            System.arraycopy(indices, srcRow * w, re, destRow * w, w)
          }
          re
        }
      val minCode = math.max(2, tableBits) // spec floor: min code size >= 2
      out.write(minCode)
      out.write(lzwCompress(src, minCode))
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** GIF-variant LZW at an arbitrary minimum code size, emitted as
      * 255-byte sub-blocks (terminator included). Same width-bump
      * off-by-one discipline as [[encode]]'s inline 8-bit path.
      */
    private def lzwCompress(indices: Array[Byte], minCode: Int): Array[Byte] = {
      val clearCode = 1 << minCode; val eoiCode = clearCode + 1
      val firstFree = clearCode + 2
      var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
      var next = firstFree; var codeSize = minCode + 1
      var bitBuf = 0L; var bitCnt = 0
      val data = new java.io.ByteArrayOutputStream()
      def emit(code: Int): Unit = {
        bitBuf |= code.toLong << bitCnt; bitCnt += codeSize
        while (bitCnt >= 8) { data.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8 }
      }
      emit(clearCode)
      var wCode = indices(0) & 0xff
      var i = 1
      while (i < indices.length) {
        val k = indices(i) & 0xff
        dict.get((wCode, k)) match {
          case Some(c) => wCode = c
          case None =>
            emit(wCode)
            if (next < 4096) {
              dict((wCode, k)) = next; next += 1
              if (next > (1 << codeSize) && codeSize < 12) codeSize += 1
            } else {
              emit(clearCode)
              dict = scala.collection.mutable.HashMap.empty
              next = firstFree; codeSize = minCode + 1
            }
            wCode = k
        }
        i += 1
      }
      emit(wCode); emit(eoiCode)
      if (bitCnt > 0) data.write((bitBuf & 0xff).toInt)
      val bytes = data.toByteArray
      val out = new java.io.ByteArrayOutputStream(bytes.length + bytes.length / 255 + 2)
      var p = 0
      while (p < bytes.length) {
        val n = math.min(255, bytes.length - p)
        out.write(n); out.write(bytes, p, n)
        p += n
      }
      out.write(0) // block terminator
      out.toByteArray
    }

    /** (width, height, palette, indices) — the raw decoded form. */
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte], Array[Byte]) = {
      require(payload.length >= 13 &&
        new String(payload, 0, 3, "US-ASCII") == "GIF" &&
        (new String(payload, 3, 3, "US-ASCII") == "89a" ||
          new String(payload, 3, 3, "US-ASCII") == "87a"), "not a GIF payload")
      def u16(p: Int): Int = (payload(p) & 0xff) | ((payload(p + 1) & 0xff) << 8)
      val sw = u16(6); val sh = u16(8)
      val packed = payload(10) & 0xff
      // the global color table is optional when the image carries a
      // local one (checked at the image descriptor)
      val gctSize = if ((packed & 0x80) != 0) 3 * (2 << (packed & 7)) else 0
      val palette: Array[Byte] =
        if (gctSize > 0) java.util.Arrays.copyOfRange(payload, 13, 13 + gctSize) else null
      var pos = 13 + gctSize
      // skip extensions until the image descriptor
      while (pos < payload.length && (payload(pos) & 0xff) == 0x21) {
        pos += 2 // introducer + label
        while ((payload(pos) & 0xff) != 0) pos += 1 + (payload(pos) & 0xff)
        pos += 1
      }
      require(pos < payload.length && (payload(pos) & 0xff) == 0x2c, "GIF image descriptor missing")
      val iw = u16(pos + 5); val ih = u16(pos + 7)
      require(iw == sw && ih == sh, "GIF sub-rectangle images unsupported")
      val ipacked = payload(pos + 9) & 0xff
      val interlaced = (ipacked & 0x40) != 0
      pos += 10
      // a local color table overrides the global one for this image
      val activePalette =
        if ((ipacked & 0x80) != 0) {
          val lctSize = 3 * (2 << (ipacked & 7))
          val lct = java.util.Arrays.copyOfRange(payload, pos, pos + lctSize)
          pos += lctSize
          lct
        } else {
          require(palette != null, "GIF with neither global nor local color table")
          palette
        }
      val minCode = payload(pos) & 0xff
      require(minCode >= 2 && minCode <= 8, s"bad LZW min code size $minCode")
      pos += 1
      // concatenate data sub-blocks
      val data = new java.io.ByteArrayOutputStream()
      while ((payload(pos) & 0xff) != 0) {
        val n = payload(pos) & 0xff
        data.write(payload, pos + 1, n)
        pos += 1 + n
      }
      // ---- LZW decompress -----------------------------------------
      val bytes = data.toByteArray
      val clearCode = 1 << minCode; val eoiCode = clearCode + 1
      val firstFree = clearCode + 2
      val prefix = new Array[Int](4096); val suffix = new Array[Byte](4096)
      var next = firstFree; var codeSize = minCode + 1
      var bitBuf = 0L; var bitCnt = 0; var bp = 0
      def read(): Int = {
        while (bitCnt < codeSize && bp < bytes.length) {
          bitBuf |= (bytes(bp) & 0xffL) << bitCnt; bitCnt += 8; bp += 1
        }
        require(bitCnt >= codeSize, "truncated GIF LZW stream")
        val c = (bitBuf & ((1L << codeSize) - 1)).toInt
        bitBuf >>>= codeSize; bitCnt -= codeSize
        c
      }
      def expand(code: Int, out: java.io.ByteArrayOutputStream): Byte = {
        // iterative prefix walk (a recursion would stack-overflow on
        // long chains); returns the string's FIRST byte
        val stack = new Array[Byte](4096)
        var sp = 0; var c = code
        while (c >= firstFree) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        val first = c.toByte
        out.write(first & 0xff)
        while (sp > 0) { sp -= 1; out.write(stack(sp) & 0xff) }
        first
      }
      val pix = new java.io.ByteArrayOutputStream(sw * sh)
      var prev = -1
      var done = false
      while (!done) {
        val c = read()
        if (c == clearCode) { next = firstFree; codeSize = minCode + 1; prev = -1 }
        else if (c == eoiCode) done = true
        else if (prev < 0) { expand(c, pix); prev = c }
        else {
          require(c <= next, s"corrupt GIF LZW code $c (next=$next)")
          val first: Byte =
            if (c < next && c != clearCode && c != eoiCode) expand(c, pix)
            else { // KwKwK: code not yet in dict = prev string + its first byte
              val f = expand(prev, pix)
              pix.write(f & 0xff); f
            }
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = first; next += 1
            if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = c
        }
      }
      val stored = pix.toByteArray
      require(stored.length == sw * sh,
        s"GIF pixel count ${stored.length} != ${sw * sh}")
      // GIF interlace: stored rows are the four passes concatenated
      // (0,8,16… / 4,12… / 2,6,10… / 1,3,5…) — map back to raster order
      val indices =
        if (!interlaced) stored
        else {
          val order = (0 until sh by 8) ++ (4 until sh by 8) ++
            (2 until sh by 4) ++ (1 until sh by 2)
          val out = new Array[Byte](stored.length)
          order.zipWithIndex.foreach { case (destRow, srcRow) =>
            System.arraycopy(stored, srcRow * sw, out, destRow * sw, sw)
          }
          out
        }
      (sw, sh, activePalette, indices)
    }

    /** Palette-resolved top-down RGB — the shared image contract. */
    def decodeRgb(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val (w, h, pal, idx) = decode(payload)
      val rgb = new Array[Byte](w * h * 3)
      var p = 0
      while (p < idx.length) {
        val k = (idx(p) & 0xff) * 3
        rgb(p * 3) = pal(k); rgb(p * 3 + 1) = pal(k + 1); rgb(p * 3 + 2) = pal(k + 2)
        p += 1
      }
      (w, h, rgb)
    }

    /** Row-weighted sums over the palette-resolved pixels. */
    def weightedChannelSums(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val (w, h, px) = decodeRgb(payload)
      var r = 0L; var g = 0L; var b = 0L; var i = 0
      while (i < px.length) {
        val wt = (i / 3 / w + 1).toLong
        r += wt * (px(i) & 0xff); g += wt * (px(i + 1) & 0xff); b += wt * (px(i + 2) & 0xff)
        i += 3
      }
      (w, h, r, g, b)
    }
  }

  /** REAL JPEG — via the JDK's OWN baseline codec (`javax.imageio`
    * ships in every standard JDK's java.desktop module; verified
    * headless-safe). Unlike the byte-exact containers, JPEG is LOSSY:
    * decode(encode(x)) ≈ x, so the verification contract is spec-level
    * (bounded per-pixel error on smooth content, bit-determinism of
    * decode) and the driver query is rows-only — an exact SQL oracle
    * over DCT quantization would be fiction. ImageIO also gives the
    * INTEROP witness for the from-scratch codecs: PNG/BMP/GIF bytes
    * this library writes decode identically under the JDK's
    * independent readers, and vice versa (CodecInteropSpec).
    */
  object JpegCodec extends MediaCodec {

    /** BT.601 luminance-grid features over the JDK-decoded pixels —
      * the same feature contract as every other image codec (shared
      * via the PPM re-encoding, so one implementation serves all).
      */
    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val (w, h, rgb) = decode(payload)
      PpmCodec.decodeFeatures(PpmCodec.encode(w, h, rgb), dim)
    }

    /** Nearest-neighbor resize, re-encoded as JPEG. */
    def resize(payload: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
      val (w, h, rgb) = decode(payload)
      val (_, _, small) = PpmCodec.decode(
        PpmCodec.resize(PpmCodec.encode(w, h, rgb), w2, h2))
      encode(w2, h2, small)
    }

    def encode(w: Int, h: Int, rgb: Array[Byte], quality: Float = 0.92f): Array[Byte] = {
      require(rgb.length == w * h * 3, s"pixel buffer ${rgb.length} != ${w * h * 3}")
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var p = 0
      while (p < w * h) {
        img.setRGB(p % w, p / w,
          ((rgb(p * 3) & 0xff) << 16) | ((rgb(p * 3 + 1) & 0xff) << 8) | (rgb(p * 3 + 2) & 0xff))
        p += 1
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      } finally { ios.close(); writer.dispose() }
      bos.toByteArray
    }

    /** (width, height, top-down RGB) through the JDK decoder. */
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "not a decodable JPEG payload")
      imageToRgb(img)
    }

    /** Shared BufferedImage → top-down interleaved RGB. */
    def imageToRgb(
        img: java.awt.image.BufferedImage): (Int, Int, Array[Byte]) = {
      val w = img.getWidth; val h = img.getHeight
      val rgb = new Array[Byte](w * h * 3)
      var p = 0
      while (p < w * h) {
        val v = img.getRGB(p % w, p / w)
        rgb(p * 3) = ((v >> 16) & 0xff).toByte
        rgb(p * 3 + 1) = ((v >> 8) & 0xff).toByte
        rgb(p * 3 + 2) = (v & 0xff).toByte
        p += 1
      }
      (w, h, rgb)
    }

    /** Same perceptual hash as the lossless containers — dHash's
      * 8×8 luminance differences survive JPEG quantization on real
      * images, which is exactly why it is the near-dup fingerprint
      * of choice for lossy-recompressed web content.
      */
    def dHash(payload: Array[Byte], hw: Int = 8, hh: Int = 8): Long = {
      val (w, h, rgb) = decode(payload)
      PpmCodec.dHash(PpmCodec.encode(w, h, rgb), hw, hh)
    }

    def channelSums(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val (w, h, px) = decode(payload)
      var r = 0L; var g = 0L; var b = 0L; var i = 0
      while (i < px.length) {
        r += px(i) & 0xff; g += px(i + 1) & 0xff; b += px(i + 2) & 0xff
        i += 3
      }
      (w, h, r, g, b)
    }
  }

  object WavCodec extends MediaCodec {

    /** G.711 mu-law expansion (the telephony codec, ITU-T G.711): one
      * byte to one PCM16 sample, pure integer — bias 0x84, 3-bit
      * exponent, 4-bit mantissa, complemented on the wire. Exactly the
      * canonical ulaw2linear: `t = (((~u & 15) << 3) + 132) << exp`,
      * sample = ±(t − 132) by the sign bit — SQL-replayable, so the
      * mm_mulaw_decode oracle re-derives every sample from the formula.
      */
    def muLawExpand(uByte: Int): Int = {
      val b = (~uByte) & 0xff
      val t = (((b & 0x0f) << 3) + 0x84) << ((b & 0x70) >> 4)
      if ((b & 0x80) != 0) 0x84 - t else t - 0x84
    }

    /** (sampleRate, channels, interleaved 16-bit samples). Accepts
      * PCM16 (format 1) and 8-bit G.711 mu-law (format 7, expanded via
      * [[muLawExpand]]) — the two WAV forms a speech-data pipeline
      * actually meets.
      */
    def decodeWav(payload: Array[Byte]): (Int, Int, Array[Short]) = {
      def u32(p: Int): Long = (payload(p) & 0xffL) | ((payload(p + 1) & 0xffL) << 8) |
        ((payload(p + 2) & 0xffL) << 16) | ((payload(p + 3) & 0xffL) << 24)
      def u16(p: Int): Int = (payload(p) & 0xff) | ((payload(p + 1) & 0xff) << 8)
      def tag(p: Int): String = new String(payload, p, 4, "US-ASCII")
      require(payload.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
        "not a RIFF/WAVE payload")
      var pos = 12
      var rate = -1; var channels = -1; var fmtCode = -1
      var dataOff = -1; var dataLen = -1
      while (pos + 8 <= payload.length && (rate < 0 || dataOff < 0)) {
        val id = tag(pos); val len = u32(pos + 4).toInt
        id match {
          case "fmt " =>
            fmtCode = u16(pos + 8)
            require(fmtCode == 1 || fmtCode == 7,
              s"unsupported WAV format code $fmtCode (PCM or mu-law)")
            channels = u16(pos + 10)
            rate = u32(pos + 12).toInt
            val bits = u16(pos + 22)
            require(bits == (if (fmtCode == 7) 8 else 16),
              s"unsupported WAV bit depth $bits for format $fmtCode")
          case "data" => dataOff = pos + 8; dataLen = len
          case _ => // LIST/fact/...: skip by declared size
        }
        pos += 8 + len + (len & 1) // chunks are word-aligned
      }
      require(rate > 0 && dataOff >= 0, "WAV missing fmt or data chunk")
      require(dataOff + dataLen <= payload.length, "truncated WAV data chunk")
      if (fmtCode == 7) {
        val samples = new Array[Short](dataLen)
        var i = 0
        while (i < dataLen) {
          samples(i) = muLawExpand(payload(dataOff + i) & 0xff).toShort
          i += 1
        }
        (rate, channels, samples)
      } else {
        val n = dataLen / 2
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = ((payload(dataOff + 2 * i) & 0xff) |
            (payload(dataOff + 2 * i + 1) << 8)).toShort
          i += 1
        }
        (rate, channels, samples)
      }
    }

    /** A format-7 container around raw G.711 mu-law bytes (8-bit,
      * blockAlign = channels) — what telephony captures actually ship.
      */
    def encodeWavMulaw(sampleRate: Int, channels: Int, ulaw: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](44 + ulaw.length)
      def put32(p: Int, v: Long): Unit = {
        out(p) = v.toByte; out(p + 1) = (v >> 8).toByte
        out(p + 2) = (v >> 16).toByte; out(p + 3) = (v >> 24).toByte
      }
      def put16(p: Int, v: Int): Unit = { out(p) = v.toByte; out(p + 1) = (v >> 8).toByte }
      def putTag(p: Int, s: String): Unit = s.getBytes("US-ASCII").copyToArray(out, p)
      putTag(0, "RIFF"); put32(4, 36L + ulaw.length); putTag(8, "WAVE")
      putTag(12, "fmt "); put32(16, 16L); put16(20, 7); put16(22, channels)
      put32(24, sampleRate.toLong); put32(28, sampleRate.toLong * channels)
      put16(32, channels); put16(34, 8)
      putTag(36, "data"); put32(40, ulaw.length.toLong)
      ulaw.copyToArray(out, 44)
      out
    }

    def encodeWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val out = new Array[Byte](44 + dataLen)
      def put32(p: Int, v: Long): Unit = {
        out(p) = v.toByte; out(p + 1) = (v >> 8).toByte
        out(p + 2) = (v >> 16).toByte; out(p + 3) = (v >> 24).toByte
      }
      def put16(p: Int, v: Int): Unit = { out(p) = v.toByte; out(p + 1) = (v >> 8).toByte }
      def putTag(p: Int, s: String): Unit = s.getBytes("US-ASCII").copyToArray(out, p)
      putTag(0, "RIFF"); put32(4, 36L + dataLen); putTag(8, "WAVE")
      putTag(12, "fmt "); put32(16, 16L); put16(20, 1); put16(22, channels)
      put32(24, sampleRate.toLong); put32(28, sampleRate.toLong * channels * 2)
      put16(32, channels * 2); put16(34, 16)
      putTag(36, "data"); put32(40, dataLen.toLong)
      var i = 0
      while (i < samples.length) {
        out(44 + 2 * i) = samples(i).toByte
        out(44 + 2 * i + 1) = (samples(i) >> 8).toByte
        i += 1
      }
      out
    }

    /** Exact integer signal stats — the cross-engine-checkable core
      * (every value derived from sample integers, no float).
      */
    def signalStats(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val (rate, _, s) = decodeWav(payload)
      var sumAbs = 0L; var maxAbs = 0L; var crossings = 0L
      var i = 0
      while (i < s.length) {
        val v = s(i).toLong
        val a = math.abs(v)
        sumAbs += a; if (a > maxAbs) maxAbs = a
        if (i > 0 && ((s(i - 1) < 0 && v >= 0) || (s(i - 1) >= 0 && v < 0))) crossings += 1
        i += 1
      }
      (rate, s.length, sumAbs, maxAbs, crossings)
    }

    /** Real features: `dim`-cell RMS grid over the sample stream. */
    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val (_, _, s) = decodeWav(payload)
      val n = math.max(1, s.length)
      val sums = new Array[Long](dim); val counts = new Array[Long](dim)
      var i = 0
      while (i < s.length) {
        val cell = (i.toLong * dim / n).toInt
        sums(cell) += s(i).toLong * s(i); counts(cell) += 1
        i += 1
      }
      Array.tabulate(dim)(i =>
        if (counts(i) == 0) 0f
        else math.sqrt(sums(i).toDouble / counts(i)).toFloat)
    }

    /** MediaCodec resize contract: resample to `w*h` samples,
      * nearest-sample — the audio analog of a thumbnail.
      */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val (rate, ch, s) = decodeWav(payload)
      val target = math.max(1, w * h)
      val out = new Array[Short](target)
      var i = 0
      while (i < target) {
        out(i) = s(math.min(s.length - 1, (i.toLong * s.length / target).toInt))
        i += 1
      }
      encodeWav(rate, ch, out)
    }
  }

  /** Feature extraction: batched per partition (one codec instance per
    * task, rows streamed — the `mapInPandas` batch shape).
    */
  /** GIF through the [[MediaCodec]] contract: palette-resolved pixels
    * feed the shared luminance features; resize re-encodes as a
    * 256-entry GIF whose palette is the resized image's own colors
    * only when they fit — nearest-neighbor keeps the original color
    * SET, so resized pixels always exist in the original palette.
    */
  object GifAsMediaCodec extends MediaCodec {
    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val (w, h, rgb) = GifCodec.decodeRgb(payload)
      PpmCodec.decodeFeatures(PpmCodec.encode(w, h, rgb), dim)
    }
    def resize(payload: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
      val (_, _, pal, idx) = GifCodec.decode(payload)
      val (w, h, _) = GifCodec.decodeRgb(payload)
      // nearest-neighbor over the INDEX plane: stays in the palette
      val out = new Array[Byte](w2 * h2)
      var p = 0
      while (p < w2 * h2) {
        val sx = ((p % w2).toLong * w / w2).toInt
        val sy = ((p / w2).toLong * h / h2).toInt
        out(p) = idx(sy * w + sx)
        p += 1
      }
      GifCodec.encode(w2, h2,
        if (pal.length == 768) pal else java.util.Arrays.copyOf(pal, 768), out)
    }
  }

  /** MIME → codec dispatch: every image/audio format with a REAL
    * implementation routes to it; only genuinely native-library
    * formats (MP3, H.264-family video) fall back to the labeled
    * [[FakeCodec]] stub.
    */
  def codecFor(mime: String): MediaCodec = mime.toLowerCase match {
    case "image/x-portable-pixmap" | "image/ppm" => PpmCodec
    case "image/bmp" => BmpCodec
    case "image/png" => PngCodec
    case "image/gif" => GifAsMediaCodec
    case "image/jpeg" | "image/jpg" => JpegCodec
    case "audio/wav" | "audio/x-wav" | "audio/basic" => WavCodec
    case "audio/flac" | "audio/x-flac" => FlacCodec
    case _ => FakeCodec
  }

  def extractFeatures(media: Dataset[MediaRow], dim: Int,
                      codec: MediaCodec = FakeCodec): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.map { r =>
        md.reset()
        val sha = md.digest(r.payload).map("%02x".format(_)).mkString
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, sha,
          codec.decodeFeatures(r.payload, dim))
      }
    }
  }

  /** [[extractFeatures]] over a HETEROGENEOUS corpus: each row routes
    * to its mime type's real codec via [[codecFor]] — the shape a
    * scraped multimodal table actually has.
    */
  def extractFeaturesAuto(media: Dataset[MediaRow], dim: Int): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.map { r =>
        md.reset()
        val sha = md.digest(r.payload).map("%02x".format(_)).mkString
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, sha,
          codecFor(r.mime).decodeFeatures(r.payload, dim))
      }
    }
  }

  /** Batched resize: one codec instance per task, rows streamed through
    * `mapPartitions` (the `mapInPandas` batch shape, like
    * [[extractFeatures]]). Metadata is rewritten alongside the payload
    * so downstream size-based repartitioning sees the new dimensions.
    */
  def resizeAll(media: Dataset[MediaRow], w: Int, h: Int,
                codec: MediaCodec = FakeCodec): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(r => r.copy(payload = codec.resize(r.payload, w, h), width = w, height = h))
    }
  }

  /** Frame sampling for video rows: every `everyMs` ms of duration emits
    * one frame row (payload STUB: slice of source bytes). Explodes fat
    * rows into many small ones — done via flatMap so no single output
    * row inherits the full payload.
    */
  /** REAL video container: AVI-MJPEG (RIFF `AVI ` with an `hdrl`
    * header LIST and `00dc` JPEG frame chunks in the `movi` LIST) —
    * the classic motion-JPEG form, buildable and decodable with what
    * this library already has (RIFF walking as in [[WavCodec]], frame
    * payloads through [[JpegCodec]]). Fixed frame rate via the avih
    * microseconds-per-frame field; chunks word-aligned per RIFF.
    * H.264-family codecs genuinely need native decoders and stay out
    * of scope, but frame SAMPLING — the training-data operation — is
    * real end to end on this container ([[sampleFramesMjpeg]]).
    */
  object AviMjpegCodec extends Serializable {

    private def put32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
      b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
      b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
    }
    private def tagBytes(s: String): Array[Byte] = s.getBytes("US-ASCII")

    /** JPEG frame payloads → one AVI-MJPEG file at `fps`. */
    def encode(w: Int, h: Int, fps: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      require(fps > 0 && frames.nonEmpty, "need fps > 0 and ≥ 1 frame")
      val usPerFrame = 1000000L / fps
      // strh (56) + strf (40 BITMAPINFOHEADER, biCompression 'MJPG')
      val strh = new java.io.ByteArrayOutputStream()
      strh.write(tagBytes("vids")); strh.write(tagBytes("MJPG"))
      put32(strh, 0); put32(strh, 0); put32(strh, 0) // flags, prio+lang, initial
      put32(strh, 1); put32(strh, fps.toLong)        // scale, rate → fps
      put32(strh, 0); put32(strh, frames.length.toLong) // start, length
      put32(strh, 0); put32(strh, 0); put32(strh, 0); put32(strh, 0)
      val strf = new java.io.ByteArrayOutputStream()
      put32(strf, 40L); put32(strf, w.toLong); put32(strf, h.toLong)
      strf.write(1); strf.write(0); strf.write(24); strf.write(0) // planes, bpp
      strf.write(tagBytes("MJPG"))
      put32(strf, 0); put32(strf, 0); put32(strf, 0); put32(strf, 0); put32(strf, 0)
      val avih = new java.io.ByteArrayOutputStream()
      put32(avih, usPerFrame); put32(avih, 0); put32(avih, 0); put32(avih, 0)
      put32(avih, frames.length.toLong); put32(avih, 0); put32(avih, 1)
      put32(avih, 0); put32(avih, w.toLong); put32(avih, h.toLong)
      put32(avih, 0); put32(avih, 0); put32(avih, 0); put32(avih, 0)
      def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
        val b = new java.io.ByteArrayOutputStream(data.length + 9)
        b.write(tagBytes(tag)); put32(b, data.length.toLong)
        b.write(data, 0, data.length)
        if (data.length % 2 == 1) b.write(0) // RIFF word alignment
        b.toByteArray
      }
      def list(kind: String, body: Array[Byte]): Array[Byte] = {
        val b = new java.io.ByteArrayOutputStream(body.length + 12)
        b.write(tagBytes("LIST")); put32(b, body.length + 4L)
        b.write(tagBytes(kind)); b.write(body, 0, body.length)
        b.toByteArray
      }
      val strl = list("strl", chunk("strh", strh.toByteArray) ++ chunk("strf", strf.toByteArray))
      val hdrl = list("hdrl", chunk("avih", avih.toByteArray) ++ strl)
      val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
      val body = hdrl ++ movi
      val out = new java.io.ByteArrayOutputStream(body.length + 12)
      out.write(tagBytes("RIFF")); put32(out, body.length + 4L)
      out.write(tagBytes("AVI ")); out.write(body, 0, body.length)
      out.toByteArray
    }

    /** (width, height, fps, JPEG frame payloads). */
    def decode(payload: Array[Byte]): (Int, Int, Int, Seq[Array[Byte]]) = {
      def u32(p: Int): Long = (payload(p) & 0xffL) | ((payload(p + 1) & 0xffL) << 8) |
        ((payload(p + 2) & 0xffL) << 16) | ((payload(p + 3) & 0xffL) << 24)
      def tag(p: Int): String = new String(payload, p, 4, "US-ASCII")
      require(payload.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ",
        "not a RIFF/AVI payload")
      var w = -1; var h = -1; var usPerFrame = -1L
      val frames = Seq.newBuilder[Array[Byte]]
      def walk(from: Int, until: Int): Unit = {
        var pos = from
        while (pos + 8 <= until) {
          val id = tag(pos); val len = u32(pos + 4).toInt
          require(len >= 0 && pos + 8 + len <= until, s"truncated AVI chunk $id at $pos")
          id match {
            case "LIST" => walk(pos + 12, pos + 8 + len) // skip the list kind
            case "avih" =>
              usPerFrame = u32(pos + 8)
              w = u32(pos + 8 + 32).toInt; h = u32(pos + 8 + 36).toInt
            case "00dc" =>
              frames += java.util.Arrays.copyOfRange(payload, pos + 8, pos + 8 + len)
            case _ => () // strh/strf/indexes: informational here
          }
          pos += 8 + len + (len & 1)
        }
      }
      walk(12, payload.length)
      require(usPerFrame > 0 && w > 0 && h > 0, "AVI missing avih header")
      val out = frames.result()
      require(out.nonEmpty, "AVI contains no 00dc frames")
      (w, h, (1000000L / usPerFrame).toInt, out)
    }

    /** The frame covering `tsMs` (floor), with its index. */
    def frameAt(payload: Array[Byte], tsMs: Long): (Int, Array[Byte]) = {
      val (_, _, fps, frames) = decode(payload)
      val idx = math.min(frames.length - 1, math.max(0L, tsMs * fps / 1000).toInt)
      (idx, frames(idx))
    }
  }

  /** REAL frame sampling over AVI-MJPEG payloads: one decoded JPEG
    * frame per `everyMs` of timeline — the training-data shape
    * ([[sampleFrames]] is the byte-slicing fallback for opaque codecs).
    */
  def sampleFramesMjpeg(media: Dataset[MediaRow], everyMs: Long): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      val (_, _, fps, frames) = AviMjpegCodec.decode(r.payload)
      val durMs = frames.length * 1000L / math.max(1, fps)
      val n = math.max(1L, durMs / everyMs).toInt
      (0 until n).map { i =>
        val ts = i * everyMs
        val idx = math.min(frames.length - 1, (ts * fps / 1000).toInt)
        Frame(r.media_id, idx, ts, frames(idx))
      }
    }
  }

  def sampleFrames(media: Dataset[MediaRow], everyMs: Long): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      val n = math.max(1, (r.duration_ms / everyMs).toInt)
      (0 until n).map { i =>
        val ts = i * everyMs
        val start = ((ts.toDouble / math.max(1, r.duration_ms)) * r.payload.length).toInt
        val end = math.min(r.payload.length, start + 1024)
        Frame(r.media_id, i, ts, java.util.Arrays.copyOfRange(r.payload, math.min(start, end), end))
      }
    }
  }

  /** Synthesize a deterministic media table from any numeric id column —
    * test/bench scaffolding for the binary-column plumbing. Payload bytes
    * are generated in the printable-ASCII range (`% 95 + 32`) so the
    * DuckDB oracle — whose sha256 only accepts VARCHAR — can rebuild the
    * exact byte stream with `chr()` and hash-match the true payload
    * digest; the column stays `BinaryType` end-to-end, so the plumbing
    * under test is unchanged.
    */
  def synthesize(spark: SparkSession, n: Int, kindCycle: Seq[String] = Seq("image", "audio", "video")): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val id = i
      val kind = kindCycle((id % kindCycle.length).toInt)
      val payload = Array.tabulate[Byte](512 + (id % 512).toInt)(j => ((id * 31 + j) % 95 + 32).toByte)
      MediaRow(id, kind, payload, s"application/x-$kind", 64, 64, 4000 + (id % 2000))
    }
  }
}
