package graft

import graft.multimodal.Multimodal.HeaderCodec
import scala.util.Random

/** Randomized WRITER→DECODER round trips for all four payload
  * codecs (fixed seed → reproducible): independent Scala writers
  * assemble structurally random files — random dimensions, random
  * content, random PNG filter types per row (real java.util.zip
  * DEFLATE, not the stored-block shortcut the m02 oracle uses),
  * random GIF palettes with global/local-table choice and random
  * sub-block splits, random WAV chunk layouts — and the decoder must
  * land on the independently computed channel/sample truth every
  * time. The golden-vector spec pins fixed externally-generated
  * bytes; this spec walks the input space.
  */
class MultimodalFuzzSpec extends SparkSpec {

  private val rnd = new Random(42)

  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
  private def be(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i =>
      ((v >> (8 * (n - 1 - i))) & 0xff).toByte).toArray

  test("BMP writer->decoder round trip over 60 random images") {
    (1 to 60).foreach { trial =>
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(20)
      val topDown = rnd.nextBoolean()
      val stride = ((3 * w + 3) / 4) * 4
      val rows = Array.fill(h, stride)(rnd.nextInt(256))
      val pix = rows.flatten.map(_.toByte)
      val bmp = "BM".getBytes ++ le(54L + pix.length, 4) ++
        le(0L, 4) ++ le(54L, 4) ++ le(40L, 4) ++ le(w.toLong, 4) ++
        le(if (topDown) (-h).toLong & 0xffffffffL else h.toLong, 4) ++
        le(1L, 2) ++ le(24L, 2) ++ le(0L, 4) ++
        le(pix.length.toLong, 4) ++ le(2835L, 4) ++ le(2835L, 4) ++
        le(0L, 4) ++ le(0L, 4) ++ pix
      val want = Array.ofDim[Long](3)
      for (r <- 0 until h; x <- 0 until w; c <- 0 until 3)
        want(c) += rows(r)(3 * x + c)
      val got = HeaderCodec.bmp24ChannelSums(bmp)
      assert(got.exists(_.toList == want.toList),
        s"trial $trial w=$w h=$h topDown=$topDown got=$got")
    }
  }

  // forward PNG filtering (the writer side of the spec's tables)
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val q = a + b - c
    val pa = math.abs(q - a); val pb = math.abs(q - b)
    val pc = math.abs(q - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  test("PNG writer->decoder round trip over 100 random images " +
    "(all color types, 1/2/4/8/16-bit, linear AND Adam7, real " +
    "deflate, random filters)") {
    (1 to 100).foreach { trial =>
      val colorType = Seq(0, 2, 3, 4, 6)(rnd.nextInt(5))
      val depth = colorType match {
        case 0 => Seq(1, 2, 4, 8, 16)(rnd.nextInt(5))
        case 3 => Seq(1, 2, 4, 8)(rnd.nextInt(4))
        case _ => Seq(8, 16)(rnd.nextInt(2))
      }
      val ch = Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)(colorType)
      val w = 1 + rnd.nextInt(24)
      val h = 1 + rnd.nextInt(12)
      val maxV = (1L << depth).toInt - 1
      val palN = math.min(1 + rnd.nextInt(126) + 1, maxV + 1)
      val palette = Array.fill(3 * palN)(rnd.nextInt(256))
      // per-row SAMPLES (palette indices bounded by the table)
      val samples = Array.fill(h, ch * w)(
        if (colorType == 3) rnd.nextInt(palN)
        else rnd.nextInt(maxV + 1))
      // pack samples into scanline bytes
      def packRow(row: Array[Int]): Array[Int] = depth match {
        case 16 => row.flatMap(v => Seq((v >> 8) & 0xff, v & 0xff))
        case 8 => row
        case d =>
          val per = 8 / d
          val out = Array.fill((row.length + per - 1) / per)(0)
          row.zipWithIndex.foreach { case (v, i) =>
            out(i / per) |= v << (8 - d * (i % per + 1))
          }
          out
      }
      val interlace = rnd.nextInt(2)
      val bpp = math.max(1, ch * (depth / 8))
      val stream = new java.io.ByteArrayOutputStream()
      // write one (sub-)image: rows of SAMPLE vectors, packed,
      // random filter per row, fresh filter history
      def writeImage(rows: Seq[Array[Int]]): Unit = {
        if (rows.nonEmpty) {
          var prev = new Array[Int](packRow(rows.head).length)
          rows.foreach { rowSamples =>
            val cur = packRow(rowSamples)
            val t = rnd.nextInt(5)
            stream.write(t)
            for (j <- cur.indices) {
              val a = if (j >= bpp) cur(j - bpp) else 0
              val b = prev(j)
              val c = if (j >= bpp) prev(j - bpp) else 0
              val x = cur(j)
              val f = t match {
                case 0 => x
                case 1 => (x - a) & 0xff
                case 2 => (x - b) & 0xff
                case 3 => (x - (a + b) / 2) & 0xff
                case _ => (x - paeth(a, b, c)) & 0xff
              }
              stream.write(f)
            }
            prev = cur
          }
        }
      }
      if (interlace == 0) writeImage((0 until h).map(samples(_)))
      else
        // Adam7: each pass is its own sub-image of the pixels at
        // (x0 + i*dx, y0 + j*dy)
        Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)).foreach {
          case (x0, y0, dx, dy) =>
            val cols = x0 until w by dx
            val rows = y0 until h by dy
            if (cols.nonEmpty && rows.nonEmpty)
              writeImage(rows.map(r => cols.flatMap(x =>
                (0 until ch).map(k => samples(r)(x * ch + k)))
                .toArray))
        }
      // REAL zlib deflate (compression level varies the stream)
      val defl = new java.util.zip.Deflater(1 + rnd.nextInt(9))
      defl.setInput(stream.toByteArray)
      defl.finish()
      val comp = new Array[Byte](stream.size() * 2 + 64)
      val compLen = defl.deflate(comp)
      defl.end()
      def chunk(typ: String, data: Array[Byte]): Array[Byte] =
        be(data.length.toLong, 4) ++ typ.getBytes ++ data ++
          le(0L, 4) // CRC lenient
      val ihdr = be(w.toLong, 4) ++ be(h.toLong, 4) ++
        Array[Byte](depth.toByte, colorType.toByte, 0, 0,
          interlace.toByte)
      val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a,
          0x1a, 0x0a) ++
        chunk("IHDR", ihdr) ++
        (if (colorType == 3)
          chunk("PLTE", palette.map(_.toByte)) else Array.empty[Byte]) ++
        chunk("IDAT", comp.take(compLen)) ++
        chunk("IEND", Array.empty)
      // channel-sum truth from the SAMPLES
      val want = Array.ofDim[Long](3)
      for (r <- 0 until h; si <- 0 until ch * w) {
        val v = samples(r)(si)
        colorType match {
          case 0 => want(0) += v; want(1) += v; want(2) += v
          case 2 => want(si % 3) += v
          case 3 =>
            want(0) += palette(3 * v)
            want(1) += palette(3 * v + 1)
            want(2) += palette(3 * v + 2)
          case 4 => if (si % 2 == 0) {
            want(0) += v; want(1) += v; want(2) += v
          }
          case _ => if (si % 4 < 3) want(si % 4) += v
        }
      }
      val got = HeaderCodec.pngRgb8ChannelSums(png)
      assert(got.exists(_.toList == want.toList),
        s"trial $trial type=$colorType depth=$depth w=$w h=$h " +
          s"i=$interlace got=$got want=${want.toList}")
      // the gray grid's domain: 8-bit, non-interlaced only
      assert(HeaderCodec.pngGrayGrid(png).isDefined ==
        (depth == 8 && interlace == 0),
        s"trial $trial grid domain depth=$depth i=$interlace")
    }
  }

  // GIF LZW encoder — the clean-room writer (mirrors the
  // fuzz-validated python generator in the golden-vector spec)
  private def lzwEncode(minCode: Int, data: Array[Int]): Array[Byte] = {
    val clear = 1 << minCode
    val end = clear + 1
    val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    var size = minCode + 1
    def emit(code: Int): Unit =
      (0 until size).foreach(b => bits += ((code >> b) & 1))
    val table = scala.collection.mutable.HashMap.empty[Seq[Int], Int]
    (0 until clear).foreach(i => table(Seq(i)) = i)
    var next = end + 1
    emit(clear)
    var buf = Vector.empty[Int]
    data.foreach { ch =>
      val nb = buf :+ ch
      if (table.contains(nb)) buf = nb
      else {
        emit(table(buf))
        table(nb) = next; next += 1
        if (next == (1 << size) + 1 && size < 12) size += 1
        buf = Vector(ch)
      }
    }
    if (buf.nonEmpty) emit(table(buf))
    emit(end)
    bits.grouped(8).map(g =>
      g.zipWithIndex.map { case (b, i) => b << i }.sum.toByte).toArray
  }

  test("GIF writer->decoder round trip over 60 random images " +
    "(random palettes, GCT/LCT, sub-block splits, extensions)") {
    (1 to 60).foreach { trial =>
      val palBits = 1 + rnd.nextInt(7)        // table size 2^(1..7)
      val palN = 1 << palBits
      val minCode = math.max(2, palBits)
      val w = 1 + rnd.nextInt(24)
      val h = 1 + rnd.nextInt(12)
      val palette = Array.fill(3 * palN)(rnd.nextInt(256))
      val pix = Array.fill(w * h)(rnd.nextInt(palN))
      val useLct = rnd.nextBoolean()
      val lzw = lzwEncode(minCode, pix)
      // random sub-block split sizes
      val body = new java.io.ByteArrayOutputStream()
      var rest = lzw
      while (rest.nonEmpty) {
        val n = math.min(rest.length, 1 + rnd.nextInt(255))
        body.write(n)
        body.write(rest, 0, n)
        rest = rest.drop(n)
      }
      body.write(0)
      val lsdPacked =
        if (useLct) rnd.nextInt(8) // no GCT: low bits are noise
        else 0x80 | (palBits - 1)
      val idPacked = if (useLct) 0x80 | (palBits - 1) else 0
      val gif = "GIF89a".getBytes ++
        le(w.toLong, 2) ++ le(h.toLong, 2) ++
        Array[Byte](lsdPacked.toByte, 0, 0) ++
        (if (useLct) Array.empty[Byte]
         else palette.map(_.toByte)) ++
        (if (rnd.nextBoolean())
          Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0)
         else Array.empty[Byte]) ++
        Array[Byte](0x2c) ++ le(0L, 2) ++ le(0L, 2) ++
        le(w.toLong, 2) ++ le(h.toLong, 2) ++
        Array[Byte](idPacked.toByte) ++
        (if (useLct) palette.map(_.toByte) else Array.empty[Byte]) ++
        Array[Byte](minCode.toByte) ++ body.toByteArray ++
        Array[Byte](0x3b)
      val want = Array.ofDim[Long](3)
      pix.foreach { v =>
        want(0) += palette(3 * v)
        want(1) += palette(3 * v + 1)
        want(2) += palette(3 * v + 2)
      }
      val got = HeaderCodec.gifFirstFramePixelSums(gif)
      assert(got.exists(_.toList == want.toList),
        s"trial $trial w=$w h=$h pal=$palN lct=$useLct got=$got")
    }
  }

  test("WAV writer->decoder round trip over 60 random streams " +
    "(random junk chunks, stereo interleave is flat)") {
    (1 to 60).foreach { trial =>
      val n = rnd.nextInt(400)
      val ch = 1 + rnd.nextInt(2)
      val rate = 8000L + rnd.nextInt(5) * 1000L
      val samples = Array.fill(n)(rnd.nextInt(65536) - 32768)
      val data = samples.flatMap(s => le(s.toLong & 0xffffL, 2))
      // optional junk chunk before fmt (odd sizes carry a pad byte)
      val junkLen = if (rnd.nextBoolean()) 1 + rnd.nextInt(9) else 0
      val junk =
        if (junkLen == 0) Array.empty[Byte]
        else "JUNK".getBytes ++ le(junkLen.toLong, 4) ++
          Array.fill(junkLen + (junkLen % 2))(rnd.nextInt(256).toByte)
      val fmt = "fmt ".getBytes ++ le(16L, 4) ++ le(1L, 2) ++
        le(ch.toLong, 2) ++ le(rate, 4) ++ le(rate * ch * 2, 4) ++
        le(ch.toLong * 2, 2) ++ le(16L, 2)
      val dataCk = "data".getBytes ++ le(data.length.toLong, 4) ++ data
      val bodyLen = 4 + junk.length + fmt.length + dataCk.length
      val wav = "RIFF".getBytes ++ le(bodyLen.toLong, 4) ++
        "WAVE".getBytes ++ junk ++ fmt ++ dataCk
      val got = HeaderCodec.wavPcm16Samples(wav)
      assert(got.exists(_.toList == samples.toList),
        s"trial $trial n=$n ch=$ch junk=$junkLen got=${got.map(_.length)}")
    }
  }

  // ---------------------------------------------------------------
  // m08 perceptual-hash arms: gray1000 grids + dHash64
  // ---------------------------------------------------------------

  private def g1000(r: Int, g: Int, b: Int): Int =
    299 * r + 587 * g + 114 * b

  test("BMP gray grid: per-pixel Rec.601 truth, BOTH row orders " +
    "(bottom-up and the negative-height top-down flag)") {
    (1 to 40).foreach { trial =>
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(20)
      val topDown = rnd.nextBoolean()
      val stride = ((3 * w + 3) / 4) * 4
      val rows = Array.fill(h, stride)(rnd.nextInt(256))
      val pix = rows.flatten.map(_.toByte)
      val bmp = "BM".getBytes ++ le(54L + pix.length, 4) ++
        le(0L, 4) ++ le(54L, 4) ++ le(40L, 4) ++ le(w.toLong, 4) ++
        le(if (topDown) (-h).toLong & 0xffffffffL else h.toLong, 4) ++
        le(1L, 2) ++ le(24L, 2) ++ le(0L, 4) ++
        le(pix.length.toLong, 4) ++ le(2835L, 4) ++ le(2835L, 4) ++
        le(0L, 4) ++ le(0L, 4) ++ pix
      val Some((gw, gh, grid)) = HeaderCodec.bmp24GrayGrid(bmp)
      assert(gw == w && gh == h)
      for (y <- 0 until h; x <- 0 until w) {
        val sr = if (topDown) y else h - 1 - y
        val want = g1000(rows(sr)(3 * x + 2), rows(sr)(3 * x + 1),
          rows(sr)(3 * x))
        assert(grid(y * w + x) == want,
          s"trial $trial ($x,$y) topDown=$topDown")
      }
    }
  }

  test("PNG gray grid: 8-bit non-interlaced, all five color types, " +
    "real deflate, random filters, per-pixel placement truth") {
    (1 to 60).foreach { trial =>
      val colorType = Seq(0, 2, 3, 4, 6)(rnd.nextInt(5))
      val ch = Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)(colorType)
      val w = 1 + rnd.nextInt(24)
      val h = 1 + rnd.nextInt(12)
      val palN = 2 + rnd.nextInt(126)
      val palette = Array.fill(3 * palN)(rnd.nextInt(256))
      val samples = Array.fill(h, ch * w)(
        if (colorType == 3) rnd.nextInt(palN) else rnd.nextInt(256))
      val stream = new java.io.ByteArrayOutputStream()
      var prev = new Array[Int](ch * w)
      samples.foreach { cur =>
        val t = rnd.nextInt(5)
        stream.write(t)
        for (j <- cur.indices) {
          val a = if (j >= ch) cur(j - ch) else 0
          val b = prev(j)
          val c = if (j >= ch) prev(j - ch) else 0
          val x = cur(j)
          val f = t match {
            case 0 => x
            case 1 => (x - a) & 0xff
            case 2 => (x - b) & 0xff
            case 3 => (x - (a + b) / 2) & 0xff
            case _ => (x - paeth(a, b, c)) & 0xff
          }
          stream.write(f)
        }
        prev = cur
      }
      val defl = new java.util.zip.Deflater(1 + rnd.nextInt(9))
      defl.setInput(stream.toByteArray)
      defl.finish()
      val comp = new Array[Byte](stream.size() * 2 + 64)
      val compLen = defl.deflate(comp)
      defl.end()
      def chunk(typ: String, data: Array[Byte]): Array[Byte] =
        be(data.length.toLong, 4) ++ typ.getBytes ++ data ++
          le(0L, 4)
      val ihdr = be(w.toLong, 4) ++ be(h.toLong, 4) ++
        Array[Byte](8, colorType.toByte, 0, 0, 0)
      val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a,
          0x1a, 0x0a) ++
        chunk("IHDR", ihdr) ++
        (if (colorType == 3) chunk("PLTE", palette.map(_.toByte))
         else Array.empty[Byte]) ++
        chunk("IDAT", comp.take(compLen)) ++
        chunk("IEND", Array.empty)
      val Some((gw, gh, grid)) = HeaderCodec.pngGrayGrid(png)
      assert(gw == w && gh == h)
      for (y <- 0 until h; x <- 0 until w) {
        val base = x * ch
        val want = colorType match {
          case 0 | 4 =>
            val v = samples(y)(base); g1000(v, v, v)
          case 2 | 6 => g1000(samples(y)(base),
            samples(y)(base + 1), samples(y)(base + 2))
          case _ =>
            val v = samples(y)(base)
            g1000(palette(3 * v), palette(3 * v + 1),
              palette(3 * v + 2))
        }
        assert(grid(y * w + x) == want,
          s"trial $trial type=$colorType ($x,$y)")
      }
    }
  }

  test("GIF gray grid: placement truth incl. the four-pass " +
    "interlace reorder") {
    (1 to 40).foreach { trial =>
      val palBits = 1 + rnd.nextInt(7)
      val palN = 1 << palBits
      val minCode = math.max(2, palBits)
      val w = 1 + rnd.nextInt(24)
      val h = 1 + rnd.nextInt(12)
      val interlaced = rnd.nextBoolean()
      val palette = Array.fill(3 * palN)(rnd.nextInt(256))
      // pix is DISPLAY order; storage order follows the flag
      val pix = Array.fill(w * h)(rnd.nextInt(palN))
      val storageRows: Seq[Int] =
        if (!interlaced) 0 until h
        else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap {
          case (s, st) => s until h by st
        }
      val stored = storageRows.flatMap(r =>
        (0 until w).map(x => pix(r * w + x))).toArray
      val lzw = lzwEncode(minCode, stored)
      val body = new java.io.ByteArrayOutputStream()
      var rest = lzw
      while (rest.nonEmpty) {
        val n = math.min(rest.length, 1 + rnd.nextInt(255))
        body.write(n)
        body.write(rest, 0, n)
        rest = rest.drop(n)
      }
      body.write(0)
      val idPacked = (if (interlaced) 0x40 else 0)
      val gif = "GIF89a".getBytes ++
        le(w.toLong, 2) ++ le(h.toLong, 2) ++
        Array[Byte]((0x80 | (palBits - 1)).toByte, 0, 0) ++
        palette.map(_.toByte) ++
        Array[Byte](0x2c) ++ le(0L, 2) ++ le(0L, 2) ++
        le(w.toLong, 2) ++ le(h.toLong, 2) ++
        Array[Byte](idPacked.toByte) ++
        Array[Byte](minCode.toByte) ++ body.toByteArray ++
        Array[Byte](0x3b)
      val Some((gw, gh, grid)) = HeaderCodec.gifGrayGrid(gif)
      assert(gw == w && gh == h)
      for (y <- 0 until h; x <- 0 until w) {
        val v = pix(y * w + x)
        val want = g1000(palette(3 * v), palette(3 * v + 1),
          palette(3 * v + 2))
        assert(grid(y * w + x) == want,
          s"trial $trial interlaced=$interlaced ($x,$y)")
      }
    }
  }

  test("JPEG gray grid: dims + Rec.601 of ImageIO's own decode " +
    "through the strict SOS gate; grayGrid dispatches all four " +
    "magics") {
    val img = new java.awt.image.BufferedImage(
      19, 11, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val r0 = new Random(7)
    for (y <- 0 until 11; x <- 0 until 19)
      img.setRGB(x, y, r0.nextInt(1 << 24))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = bos.toByteArray
    val Some((gw, gh, grid)) = HeaderCodec.jpegGrayGrid(jpeg)
    assert(gw == 19 && gh == 11)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpeg))
    for (y <- 0 until 11; x <- 0 until 19) {
      val v = ref.getRGB(x, y)
      assert(grid(y * 19 + x) ==
        g1000((v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff))
    }
    // dispatch: the JPEG magic reaches the JPEG arm
    assert(HeaderCodec.grayGrid(jpeg).isDefined)
    assert(HeaderCodec.grayGrid("plain text".getBytes).isEmpty)
  }

  test("dHash64: independent BigInt-rational replica agrees over " +
    "random grids; brightness shift and contrast scale preserve " +
    "the hash") {
    def replica(w: Int, h: Int, gray: Array[Int]): Long = {
      var hash = BigInt(0)
      for (cy <- 0 until 8; cx <- 0 until 8) {
        def cell(c: Int): (BigInt, BigInt) = {
          val xlo = c * w / 9
          val xhi = math.max(xlo + 1, (c + 1) * w / 9)
          val ylo = cy * h / 8
          val yhi = math.max(ylo + 1, (cy + 1) * h / 8)
          val s = (for (y <- ylo until yhi; x <- xlo until xhi)
            yield BigInt(gray(y * w + x))).sum
          (s, BigInt((yhi - ylo) * (xhi - xlo)))
        }
        val (sl, nl) = cell(cx)
        val (sr, nr) = cell(cx + 1)
        if (sl * nr > sr * nl)
          hash = hash.setBit(cy * 8 + cx)
      }
      hash.toLong
    }
    val r1 = new Random(11)
    (1 to 80).foreach { trial =>
      val w = 1 + r1.nextInt(50)
      val h = 1 + r1.nextInt(30)
      val gray = Array.fill(w * h)(r1.nextInt(256000))
      val got = HeaderCodec.dHash64(w, h, gray)
      assert(got == replica(w, h, gray), s"trial $trial w=$w h=$h")
      // difference hash invariance: +k brightness, ×k contrast
      assert(HeaderCodec.dHash64(w, h, gray.map(_ + 7919)) == got)
      assert(HeaderCodec.dHash64(w, h, gray.map(_ * 3)) == got)
    }
  }
}
