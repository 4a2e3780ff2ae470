package graft

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{HeaderCodec, MediaInfo}

/** Golden-vector pinning of the REAL container-header codec: byte
  * sequences hand-assembled from the published BMP / PNG / GIF /
  * RIFF-WAVE specs (the PNG vector is the canonical 1×1 RGBA IHDR,
  * CRC and all), plus hostile negatives — text that happens to start
  * with a magic, truncations, and size-field lies — which must all
  * fall back to None. m05_header_probe then oracle-verifies the
  * writer→parser round trip over the whole corpus; this spec pins
  * the parser to EXTERNAL ground truth so writer and parser can't
  * share a mistaken offset.
  */
class MultimodalCodecSpec extends SparkSpec {

  private def bytes(hex: String): Array[Byte] =
    hex.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  // 2×2 24-bpp BMP: 14-byte file header (size 70 = 54 + 2 rows × 8
  // padded bytes), 40-byte BITMAPINFOHEADER, 16 pixel bytes.
  private val bmp2x2 = bytes(
    "424D 46000000 0000 0000 36000000" +
      "28000000 02000000 02000000 0100 1800 00000000 10000000" +
      "130B0000 130B0000 00000000 00000000" +
      "FFFFFF FFFFFF 0000" + "000000 000000 0000")

  // The canonical 1×1 RGBA PNG header: signature + IHDR(1,1,8,6).
  private val png1x1 = bytes(
    "89504E47 0D0A1A0A 0000000D 49484452" +
      "00000001 00000001 08 06 00 00 00 1F15C489")

  // Minimal GIF89a logical screen descriptor: 3×5, packed 0x91
  // (GCT flag + color resolution bits; low 3 bits = 1 → depth 2).
  private val gifHdr = bytes(
    "474946383961 0300 0500 91 00 00")

  // Canonical 44-byte PCM WAV header, zero data bytes: mono,
  // 8000 Hz, 16-bit (riff size 36 == len - 8).
  private val wav44 = bytes(
    "52494646 24000000 57415645 666D7420 10000000" +
      "0100 0100 401F0000 803E0000 0200 1000" +
      "64617461 00000000")

  test("BMP golden vector parses (dims, bpp, strict file size)") {
    assert(HeaderCodec.probe(bmp2x2) ===
      Some(MediaInfo("image/bmp", 2, 2, 24)))
    // top-down BMP (negative height) reports the magnitude
    val topDown = bmp2x2.clone()
    // height @22 s32le = -2
    topDown(22) = 0xfe.toByte; topDown(23) = 0xff.toByte
    topDown(24) = 0xff.toByte; topDown(25) = 0xff.toByte
    assert(HeaderCodec.probe(topDown) ===
      Some(MediaInfo("image/bmp", 2, 2, 24)))
  }

  test("PNG golden vector parses (BE dims, depth = bits × channels)") {
    assert(HeaderCodec.probe(png1x1) ===
      Some(MediaInfo("image/png", 1, 1, 32)))
    val grey = png1x1.clone(); grey(25) = 0 // color type 0
    assert(HeaderCodec.probe(grey) ===
      Some(MediaInfo("image/png", 1, 1, 8)))
  }

  test("GIF golden vector parses (LE dims, packed color resolution)") {
    assert(HeaderCodec.probe(gifHdr) ===
      Some(MediaInfo("image/gif", 3, 5, 2)))
    val gif87 = gifHdr.clone(); gif87(4) = '7'.toByte
    assert(HeaderCodec.probe(gif87) ===
      Some(MediaInfo("image/gif", 3, 5, 2)))
  }

  test("WAV golden vector parses (fmt chunk scan, strict RIFF size)") {
    assert(HeaderCodec.probe(wav44) ===
      Some(MediaInfo("audio/wav", 8000, 1, 16)))
    // a JUNK chunk before fmt must be skipped (odd size → pad byte)
    val junk = bytes(
      "52494646 28000000 57415645" +
        "4A554E4B 03000000 AABBCC 00" + // 3-byte JUNK + pad
        "666D7420 10000000 0100 0200 80BB0000 00EE0200 0400 1000")
    assert(HeaderCodec.probe(junk) ===
      Some(MediaInfo("audio/wav", 48000, 2, 16)))
  }

  test("hostile negatives fall back to None") {
    // text that starts with "BM" but lies about its size field
    val bmText = ("BM" + "x" * 60).getBytes("UTF-8")
    assert(HeaderCodec.probe(bmText) === None)
    // truncated PNG signature
    assert(HeaderCodec.probe(png1x1.take(20)) === None)
    // RIFF whose size field disagrees with the payload length
    val badWav = wav44 ++ Array[Byte](0)
    assert(HeaderCodec.probe(badWav) === None)
    // RIFF with a LYING u32 chunk size (0xFFFFFFFF) before fmt:
    // must walk off the end and return None, not wrap negative and
    // crash on a backwards index
    val lying = bytes(
      "52494646 28000000 57415645" +
        "4A554E4B FFFFFFFF AABBCC 00" +
        "666D7420 10000000 0100 0200 80BB0000 00EE0200 0400 1000")
    assert(HeaderCodec.probe(lying) === None)
    // plain text
    assert(HeaderCodec.probe("hello multimodal".getBytes) === None)
    assert(HeaderCodec.probe(null) === None)
  }

  test("PNG cut inside the IHDR body is None from every entry point") {
    // 26–28 bytes hold width, height, depth and color type but not
    // compression / filter / interlace (@26–28), which the pixel
    // decodes read
    for (n <- 26 to 28) {
      val cut = png1x1.take(n)
      assert(HeaderCodec.probe(cut) === None, s"probe, $n bytes")
      assert(HeaderCodec.pngRgb8ChannelSums(cut) === None,
        s"channel sums, $n bytes")
      assert(HeaderCodec.pngGrayGrid(cut) === None, s"gray grid, $n bytes")
    }
  }

  test("decode dispatches: containers → header features, else lanes") {
    // 2×2 24-bpp BMP: white,white / black,black → each channel sums
    // to 255+255 = 510 over the 4 pixels (row padding EXCLUDED)
    val f = Multimodal.Decoder.decode(bmp2x2)
    assert(f.toList === List(1d, 2d, 2d, 24d, 70d, 510d, 510d, 510d))
    // zero-sample PCM WAV → count/Σ|s|/Σs² all 0
    val w = Multimodal.Decoder.decode(wav44)
    assert(w.toList === List(4d, 8000d, 1d, 16d, 44d, 0d, 0d, 0d))
    val txt = "abcdefgh".getBytes("UTF-8")
    val lanes = Multimodal.Decoder.decode(txt)
    assert(lanes.toList === txt.map(b => (b & 0xff).toDouble).toList)
  }

  test("BMP pixel decode: padding excluded, strict guards hold") {
    // bmp2x2 stride is 8 (w=2 → 6 pixel bytes + 2 padding): corrupt
    // a PADDING byte — channel sums must not move
    val padded = bmp2x2.clone()
    padded(54 + 6) = 0x7f // row 0 padding byte
    assert(HeaderCodec.bmp24ChannelSums(padded).get.toList ===
      List(510L, 510L, 510L))
    // corrupt a PIXEL byte (row 0, pixel 0, channel G) — ΣG moves
    val edited = bmp2x2.clone()
    edited(54 + 1) = 0x00
    assert(HeaderCodec.bmp24ChannelSums(edited).get.toList ===
      List(510L, 255L, 510L))
    // non-BI_RGB compression → None (header-only fallback)
    val rle = bmp2x2.clone(); rle(30) = 1
    assert(HeaderCodec.bmp24ChannelSums(rle) === None)
    assert(Multimodal.Decoder.decode(rle).toList.drop(5) ===
      List(0d, 0d, 0d))
    assert(HeaderCodec.bmp24GrayGrid(rle) === None)
    // zero width: the sums see no pixels, the grid rejects the image
    val zeroW = bmp2x2.clone()
    (18 to 21).foreach(zeroW(_) = 0)
    assert(HeaderCodec.bmp24ChannelSums(zeroW).map(_.toList) ===
      Some(List(0L, 0L, 0L)))
    assert(HeaderCodec.bmp24GrayGrid(zeroW) === None)
  }

  // 3×5 8-bit RGB PNG, REAL deflate + CRCs, one row per FILTER TYPE
  // (0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth); raw pixel byte at
  // position q is (10 + 7q) mod 251 → channel sums R 1602, G 1707,
  // B 1561 (external ground truth: assembled with python zlib)
  private val png3x5 = bytes(
    "89504E470D0A1A0A0000000D49484452000000030000000508020000000F" +
      "13C1F50000002A49444154789C63E012949057D335B17662F40C08170503" +
      "267B18606E6EEFD202017D16171717B0A43D00D907090F4A25D1E7000000" +
      "0049454E44AE426082")

  test("PNG pixel decode: real inflate + all five filters, strict " +
    "guards hold") {
    assert(HeaderCodec.probe(png3x5) ===
      Some(MediaInfo("image/png", 3, 5, 24)))
    assert(HeaderCodec.pngRgb8ChannelSums(png3x5).get.toList ===
      List(1602L, 1707L, 1561L))
    val d = Multimodal.Decoder.decode(png3x5)
    assert(d.toList ===
      List(2d, 3d, 5d, 24d, 99d, 1602d, 1707d, 1561d))
    // corrupt the DEFLATE stream → inflate fails → header-only
    val bad = png3x5.clone(); bad(50) = 0x7f
    assert(HeaderCodec.pngRgb8ChannelSums(bad) === None)
    assert(Multimodal.Decoder.decode(bad).toList.drop(5) ===
      List(0d, 0d, 0d))
    // truncated IDAT (chunk length points past the payload) → None
    assert(HeaderCodec.pngRgb8ChannelSums(png3x5.take(60)) === None)
    // MISDECLARED RGBA (color type byte flipped on RGB data): the
    // inflated length no longer matches h·(1+4w) → reject
    val rgba = png3x5.clone(); rgba(25) = 6
    assert(HeaderCodec.pngRgb8ChannelSums(rgba) === None)
    // the 1×1 RGBA golden vector from the probe tests has no IDAT →
    // decode must not crash, content slots stay 0
    assert(Multimodal.Decoder.decode(png1x1).toList.drop(5) ===
      List(0d, 0d, 0d))
  }

  // 4×3 8-bit PALETTE PNG (color type 3), real deflate + CRCs:
  // 5-entry PLTE, index at (r,j) is (r·4+j) mod 5, rows filtered
  // None/Sub/Up at bpp=1 → palette-resolved sums R 1050, G 1395,
  // B 815 (python zlib ground truth)
  private val pngPal = bytes(
    "89504E470D0A1A0A0000000D494844520000000400000003080300000083" +
      "2A5EF40000000F504C54450AC81EFA0163074DB180402000FF05975344A1" +
      "0000001749444154789C63606064626664F9C3C8C8F49FE5FF7F000F7F04" +
      "0DFC4AC68A0000000049454E44AE426082")

  test("palette PNG pixel decode: PLTE lookup after unfiltering") {
    assert(HeaderCodec.probe(pngPal) ===
      Some(MediaInfo("image/png", 4, 3, 8)))
    assert(HeaderCodec.pngRgb8ChannelSums(pngPal).get.toList ===
      List(1050L, 1395L, 815L))
    assert(Multimodal.Decoder.decode(pngPal).toList.drop(5) ===
      List(1050d, 1395d, 815d))
    // palette removed → color type 3 without PLTE must reject
    val noPlte = bytes(
      "89504E470D0A1A0A0000000D494844520000000400000003080300000083" +
        "2A5EF4" +
        "0000001749444154789C63606064626664F9C3C8C8F49FE5FF7F000F7F04" +
        "0DFC4AC68A0000000049454E44AE426082")
    assert(HeaderCodec.pngRgb8ChannelSums(noPlte) === None)
    // an index past the palette must reject, not read garbage: a
    // real-deflate variant with a ONE-entry PLTE while the indices
    // reach 4
    val shortPlte = bytes(
      "89504E470D0A1A0A0000000D494844520000000400000003080300000083" +
        "2A5EF400000003504C54450AC81E53C1D8290000001749444154789C6360" +
        "6064626664F9C3C8C8F49FE5FF7F000F7F040DFC4AC68A0000000049454E" +
        "44AE426082")
    assert(HeaderCodec.pngRgb8ChannelSums(shortPlte) === None)
    assert(Multimodal.Decoder.decode(shortPlte).toList.drop(5) ===
      List(0d, 0d, 0d))
  }

  // 5×4 GIF89a, 4-color GCT, REAL LZW (min code 2): pixel index at
  // (r,j) is (r·5+j) mod 4 → palette-resolved sums R 1430, G 2195,
  // B 1300 (clean-room python LZW encoder, round-trip fuzzed 300x
  // against an independent decoder)
  private val gifSmall = bytes(
    "4749463839610500040091000009121BC8643200FF804D42372C00000000" +
      "050004000002064434869AD758003B")

  // the same image with a graphic-control extension before the
  // frame and the LZW stream split across TWO sub-blocks
  private val gifSplit = bytes(
    "4749463839610500040091000009121BC8643200FF804D423721F9040000" +
      "0000002C0000000005000400000203443486039AD758003B")

  // 40×30 4-color GIF whose LZW stream crosses several code-width
  // bumps (73 LZW bytes) — sums R 85800, G 131700, B 78000
  private val gifBig = bytes(
    "47494638396128001E0091000009121BC8643200FF804D42372C000000002800" +
      "1E00000249C414869AD7EB988C14DA87E7D5B9F6ED71624882E6878EA79A96ED" +
      "EAB2724CC3F68BCFB79ED7FDEEE3098344A0F1871C1E95C96273E9644AA354A8" +
      "F5899D5EB5D96A77EBE58AC3DE02003B")

  test("GIF pixel decode: real LZW, sub-block reassembly, width " +
    "growth, strict guards") {
    assert(HeaderCodec.gifFirstFramePixelSums(gifSmall).get.toList ===
      List(1430L, 2195L, 1300L))
    // extensions skipped + split sub-blocks reassembled → same sums
    assert(HeaderCodec.gifFirstFramePixelSums(gifSplit).get.toList ===
      List(1430L, 2195L, 1300L))
    // code-width growth across 3→4→5→6-bit codes
    assert(HeaderCodec.gifFirstFramePixelSums(gifBig).get.toList ===
      List(85800L, 131700L, 78000L))
    val d = Multimodal.Decoder.decode(gifBig)
    assert(d.toList ===
      List(3d, 40d, 30d, 2d, 112d, 85800d, 131700d, 78000d))
    // interlaced flag: GIF interlace is a pure row permutation and
    // sums are permutation-invariant → SAME sums, no deinterlace pass
    val inter = gifSmall.clone()
    inter(34) = 0x40 // image-descriptor packed byte
    assert(HeaderCodec.gifFirstFramePixelSums(inter).get.toList ===
      List(1430L, 2195L, 1300L))
    // a CORRUPT local-color-table flag (no LCT bytes follow — the
    // supposed LCT swallows the minCode/data region) must reject or
    // at least never crash; here the stream no longer parses
    val lctFlag = gifSmall.clone()
    lctFlag(34) = 0x80.toByte
    assert(HeaderCodec.gifFirstFramePixelSums(lctFlag) === None)
    // a REAL local color table wins over the (deliberately zeroed)
    // global one — per-spec LCT precedence, python ground truth
    val gifLct = bytes(
      "474946383961050004009100000000000000000000000000002C000000000500" +
        "0400810B1621FAF0E601020363584D02064434869AD758003B")
    assert(HeaderCodec.gifFirstFramePixelSums(gifLct).get.toList ===
      List(1805L, 1760L, 1715L))
    // truncated LZW data (chop before the terminator) → None
    assert(HeaderCodec.gifFirstFramePixelSums(
      gifSmall.take(gifSmall.length - 3)) === None)
    // corrupt a code byte so an out-of-table code appears → None,
    // never a crash or a wrong sum
    val bad = gifSmall.clone()
    bad(39) = 0xff.toByte
    assert(HeaderCodec.gifFirstFramePixelSums(bad).isEmpty ||
      HeaderCodec.gifFirstFramePixelSums(bad).get.length == 3)
    // the header-only gifHdr golden vector (no GCT bytes) must fall
    // back cleanly
    assert(HeaderCodec.gifFirstFramePixelSums(gifHdr) === None)
    assert(Multimodal.Decoder.decode(gifHdr).toList.drop(5) ===
      List(0d, 0d, 0d))
  }

  // 3×4 RGBA PNG (color type 6), real deflate, all five filters at
  // bpp=4: raw byte q = (5+3q) mod 251 → COLOR sums R 852, G 888,
  // B 924 (the alpha lane never enters a sum)
  private val pngRgba = bytes(
    "89504E470D0A1A0A0000000D49484452000000030000000408060000004B2D85" +
      "070000002749444154789C6360E5E0E6131411979255505663D4D4D137E28102" +
      "261524C0ECEDE3E72F010500831B05C30B75D1180000000049454E44AE426082")

  // 6×3 GREYSCALE PNG (color type 0): raw byte q = (100+9q) mod 256,
  // total 3177 — grey contributes to all three channel sums
  private val pngGrey = bytes(
    "89504E470D0A1A0A0000000D4948445200000006000000030800000000956A21" +
      "270000001749444154789C6348C92DABEF98C8388B130498CCC000003FD404EE" +
      "DBA213520000000049454E44AE426082")

  test("RGBA / grey PNG decode: alpha excluded, grey fills all " +
    "channels") {
    assert(HeaderCodec.pngRgb8ChannelSums(pngRgba).get.toList ===
      List(852L, 888L, 924L))
    assert(Multimodal.Decoder.decode(pngRgba).toList.drop(5) ===
      List(852d, 888d, 924d))
    assert(HeaderCodec.pngRgb8ChannelSums(pngGrey).get.toList ===
      List(3177L, 3177L, 3177L))
    // grey+alpha (type 4) with a type-4 payload is covered by the
    // same bpp machinery; a MISDECLARED type (grey data relabeled
    // grey+alpha) must reject on the length check
    val ga = pngGrey.clone(); ga(25) = 4
    assert(HeaderCodec.pngRgb8ChannelSums(ga) === None)
    // 2x3 16-BIT RGB (real deflate, all five filter types over the
    // first five rows' worth): big-endian sample sums R 127538,
    // G 161462, B 195130 (python zlib ground truth)
    val png16 = bytes(
      "89504E470D0A1A0A0000000D4948445200000002000000031002000000661895" +
        "950000002249444154789C6360E69354D1B7720D884E2BAC616C9F3477C5E67D" +
        "4E60C0D4820400F1A20E899924C4A70000000049454E44AE426082")
    assert(HeaderCodec.pngRgb8ChannelSums(png16).get.toList ===
      List(127538L, 161462L, 195130L))
    // 16-bit PALETTE is not a defined PNG combination → reject
    val p16 = png16.clone(); p16(25) = 3
    assert(HeaderCodec.pngRgb8ChannelSums(p16) === None)
    // 9×7 8-bit RGB ADAM7-INTERLACED (real deflate; filter types
    // cycle 0..4 across the seven passes' scanlines): the passes
    // PARTITION the pixels, so the channel sums must equal the
    // whole-image truth R 7431, G 7370, B 7811 (python zlib)
    val pngA7 = bytes(
      "89504E470D0A1A0A0000000D494844520000000900000007080200000122FEC0" +
        "A10000008849444154789C6360E511CE2DA966B47470679AB570C5B9AB77D8F9" +
        "4499E5D5745DDCBD59A64E9D6A6262C270F6CAEDE7EFBEB2F18A28A8EB59397A" +
        "30A6E7954A2101262149051D632B37DF9084F43CE68B576F149695957D010196" +
        "B367CF3E3F71E2045091BC3C43497553DFD4392BD66F3B74F202636641392F0E" +
        "C0741637607EF1E6FD5B1C0000C1135EB275CEAF260000000049454E44AE4260" +
        "82")
    assert(HeaderCodec.pngRgb8ChannelSums(pngA7).get.toList ===
      List(7431L, 7370L, 7811L))
  }

  test("WAV PCM decode: s16le sign extension, strict guards hold") {
    // append 4 samples to wav44: 1, -1, -32768, 300 (s16le), fixing
    // the RIFF and data sizes
    def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val samples = Array(1, -1, -32768, 300)
    val body = samples.flatMap(le16)
    val wav = wav44.clone() ++ body
    wav(4) = (36 + 8).toByte            // riff size 44
    wav(40) = 8                         // data size 8
    assert(HeaderCodec.probe(wav).map(_.mime) === Some("audio/wav"))
    assert(HeaderCodec.wavPcm16Samples(wav).get.toList ===
      samples.toList)
    val d = Multimodal.Decoder.decode(wav)
    assert(d(5) === 4d)                 // sample count
    assert(d(6) === (1 + 1 + 32768 + 300).toDouble)   // Σ|s|
    assert(d(7) ===
      (1L + 1L + 32768L * 32768L + 300L * 300L).toDouble) // Σs²
    // per-frame decode: one partial frame of 4 samples, energy Σs²
    val fr = Multimodal.Decoder.frames(wav).toList
    assert(fr === List(("audio/wav", 0L, 4L,
      1L + 1L + 32768L * 32768L + 300L * 300L)))
    // non-PCM format tag (3 = IEEE float) → None → byte-window arm
    val flt = wav.clone(); flt(20) = 3
    assert(HeaderCodec.wavPcm16Samples(flt) === None)
    assert(Multimodal.Decoder.frames(flt).next()._1 ===
      "application/octet-stream")
    // odd data size → None (would split a sample)
    val odd = wav.clone(); odd(40) = 7
    assert(HeaderCodec.wavPcm16Samples(odd) === None)
  }

  test("m05 writer emits byte-exact containers the codec re-reads") {
    val df = Queries.m05_header_probe(spark, sf("sf0.001"))
    val rows = df.collect()
    assert(rows.length == 500)
    // spot-check planted formulas for one row per format (mod-6
    // rotation: 0 BMP, 1 GIF, 2 WAV, 3 JPEG, 4 AVI, 5 MP4)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    val r6 = byId(6L) // fmt 0 → BMP, w=6%31+1=7, h=6%17+1=7
    assert(r6.getString(1) == "image/bmp" && r6.getLong(2) == 7 &&
      r6.getLong(3) == 7 && r6.getLong(4) == 24)
    val r7 = byId(7L) // fmt 1 → GIF, depth=7%8+1=8
    assert(r7.getString(1) == "image/gif" && r7.getLong(4) == 8)
    val r8 = byId(8L) // fmt 2 → WAV: rate 8000+(8%5)*1000=11000
    assert(r8.getString(1) == "audio/wav" && r8.getLong(2) == 11000 &&
      r8.getLong(3) == 1 && r8.getLong(4) == 16)
    val r3 = byId(3L) // fmt 3 → JPEG, w=4, h=4, 8-bit × 3 comp
    assert(r3.getString(1) == "image/jpeg" && r3.getLong(2) == 4 &&
      r3.getLong(3) == 4 && r3.getLong(4) == 24 &&
      r3.getLong(5) == 23)
    val r4 = byId(4L) // fmt 4 → AVI: frames=4%1000+1=5, w=5, h=5
    assert(r4.getString(1) == "video/avi" && r4.getLong(2) == 5 &&
      r4.getLong(3) == 5 && r4.getLong(4) == 5 &&
      r4.getLong(5) == 88)
    val r5 = byId(5L) // fmt 5 → MP4: dur=5%5000+1000=1005ms, w=6
    assert(r5.getString(1) == "video/mp4" && r5.getLong(2) == 6 &&
      r5.getLong(3) == 6 && r5.getLong(4) == 1005 &&
      r5.getLong(5) == 156)
    // no row fell through to the histogram path (mime never null)
    assert(rows.forall(_.getString(1) != null))
  }
}
