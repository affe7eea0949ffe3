package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MediaCodec

/** The r7 pure-JVM codecs, pinned against HAND-COMPUTED container bytes
  * — the guard that encode/decode bugs cannot cancel each other out
  * (a round-trip test alone would pass if both sides forgot, say, the
  * BMP row padding). Every expected byte below is written out from the
  * RIFF / BMP specifications by hand.
  */
class MediaCodecSpec extends AnyFunSuite {

  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // ---- WAV ----

  /** payload [0x00, 0x80, 0xFF] → samples [(0−128)·256, (128−128)·256,
    * (255−128)·256] = [−32768, 0, 32512]. Hand-assembled container:
    * RIFF | size 36+6=42 | WAVE | fmt  | 16 | PCM=1 | mono=1 | 8000 |
    * 16000 | align 2 | bits 16 | data | 6 | 0080 0000 007F (LE). */
  private val goldenWav = hx(
    "52494646" + "2A000000" + "57415645" +           // RIFF 42 WAVE
    "666D7420" + "10000000" + "0100" + "0100" +       // fmt  16 PCM mono
    "401F0000" + "803E0000" + "0200" + "1000" +       // 8000 16000 2 16
    "64617461" + "06000000" +                          // data 6
    "0080" + "0000" + "007F")                          // −32768, 0, 32512

  test("wavEncode produces the hand-assembled container byte-for-byte") {
    val enc = MediaCodec.wavEncode(Array(0x00.toByte, 0x80.toByte, 0xFF.toByte))
    assert(enc.toSeq === goldenWav.toSeq)
  }

  test("wavSamples parses the golden container to the hand-computed samples") {
    assert(MediaCodec.wavSamples(goldenWav).toSeq === Seq(-32768, 0, 32512))
  }

  test("wavSamples walks chunks: an extra chunk before data is skipped") {
    // insert a 4-byte 'junk' chunk between fmt and data; RIFF size 42+12
    val withJunk = hx(
      "52494646" + "36000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" +
      "401F0000" + "803E0000" + "0200" + "1000" +
      "6A756E6B" + "04000000" + "DEADBEEF" +          // junk chunk
      "64617461" + "06000000" + "0080" + "0000" + "007F")
    assert(MediaCodec.wavSamples(withJunk).toSeq === Seq(-32768, 0, 32512))
  }

  test("wavSamples rejects malformed input with an empty array") {
    assert(MediaCodec.wavSamples(Array.emptyByteArray).isEmpty)
    assert(MediaCodec.wavSamples("not a riff file at all!!".getBytes).isEmpty)
    // right magics, truncated data chunk (claims 6 bytes, has 2)
    val truncated = hx(
      "52494646" + "2A000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" +
      "401F0000" + "803E0000" + "0200" + "1000" +
      "64617461" + "06000000" + "0080")
    assert(MediaCodec.wavSamples(truncated).isEmpty)
    // stereo (channels=2) is unsupported → empty
    val stereo = goldenWav.clone(); stereo(22) = 2
    assert(MediaCodec.wavSamples(stereo).isEmpty)
  }

  // ---- BMP ----

  /** payload of 10 bytes 1..10, width 2 → npx = ceil(10/3) = 4 pixels,
    * height 2, rowStride = ((2·3+3)/4)·4 = 8 (2 pad bytes/row).
    * Pixels (B,G,R): p0=(1,2,3) p1=(4,5,6) p2=(7,8,9) p3=(10,0,0).
    * File rows BOTTOM-UP: file row 0 = image row 1 (p2 p3), then pad;
    * file row 1 = image row 0 (p0 p1), then pad.
    * Header: BM | size 54+16=70 | res 0 | off 54 | hdr 40 | w 2 | h 2 |
    * planes 1 | bpp 24 | BI_RGB 0 | imgSize 16 | 0 0 0 0. */
  private val goldenBmp = hx(
    "424D" + "46000000" + "00000000" + "36000000" +
    "28000000" + "02000000" + "02000000" + "0100" + "1800" +
    "00000000" + "10000000" + "00000000" + "00000000" +
    "00000000" + "00000000" +
    "070809" + "0A0000" + "0000" +                    // file row 0 = p2 p3 + pad
    "010203" + "040506" + "0000")                      // file row 1 = p0 p1 + pad

  private val payload10 = (1 to 10).map(_.toByte).toArray

  test("bmpEncode produces the hand-assembled container byte-for-byte") {
    assert(MediaCodec.bmpEncode(payload10, 2).toSeq === goldenBmp.toSeq)
  }

  test("bmpLuma parses the golden container to hand-computed top-down luma") {
    // luma = (2126·R + 7152·G + 722·B) // 10000, TOP-DOWN pixel order:
    // p0: (2126·3 + 7152·2 + 722·1)//10000 = (6378+14304+722)//10000 = 2
    // p1: (2126·6 + 7152·5 + 722·4)//10000 = (12756+35760+2888)//10000 = 5
    // p2: (2126·9 + 7152·8 + 722·7)//10000 = (19134+57216+5054)//10000 = 8
    // p3: (2126·0 + 7152·0 + 722·10)//10000 = 0
    assert(MediaCodec.bmpLuma(goldenBmp).toSeq === Seq(2, 5, 8, 0))
  }

  test("bmpLuma rejects malformed input with an empty array") {
    assert(MediaCodec.bmpLuma(Array.emptyByteArray).isEmpty)
    assert(MediaCodec.bmpLuma("definitely not a bitmap header".getBytes).isEmpty)
    // 8 bpp is unsupported → empty
    val bpp8 = goldenBmp.clone(); bpp8(28) = 8
    assert(MediaCodec.bmpLuma(bpp8).isEmpty)
    // pixel array truncated (claims 2 rows, file cut after 1)
    assert(MediaCodec.bmpLuma(goldenBmp.take(54 + 8)).isEmpty)
  }

  // ---- PNG ----

  /** Chunk assembler for hand-built containers: length/type/data plus
    * the real CRC32 (the checksum is computed, the STRUCTURE is hand-
    * written — including the zlib stored-block framing, so no deflate
    * implementation participates in the golden bytes). */
  private def pngChunk(tag: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(tag.getBytes("US-ASCII")); crc.update(data)
    val len = Array[Byte]((data.length >>> 24).toByte, (data.length >>> 16).toByte,
      (data.length >>> 8).toByte, data.length.toByte)
    val c = crc.getValue
    len ++ tag.getBytes("US-ASCII") ++ data ++
      Array[Byte]((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte)
  }

  private val pngSig = hx("89504E470D0A1A0A")

  private def ihdr(w: Int, h: Int, bitDepth: Int, colorType: Int): Array[Byte] =
    Array[Byte]((w >>> 24).toByte, (w >>> 16).toByte, (w >>> 8).toByte, w.toByte,
      (h >>> 24).toByte, (h >>> 16).toByte, (h >>> 8).toByte, h.toByte,
      bitDepth.toByte, colorType.toByte, 0, 0, 0)

  /** zlib wrapper with ONE stored (uncompressed) deflate block — fully
    * hand-derivable framing: 78 01 | 01 len nlen | raw | adler32(raw). */
  private def zlibStored(raw: Array[Byte]): Array[Byte] = {
    var s1 = 1L; var s2 = 0L
    raw.foreach { b => s1 = (s1 + (b & 0xff)) % 65521; s2 = (s2 + s1) % 65521 }
    val n = raw.length
    hx("7801") ++ Array[Byte](0x01, (n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
      (~n & 0xff).toByte, ((~n >> 8) & 0xff).toByte) ++ raw ++
      Array[Byte]((s2 >>> 8).toByte, s2.toByte, (s1 >>> 8).toByte, s1.toByte)
  }

  /** 2×2 RGB, stored-block IDAT, row 0 filter None, row 1 filter Up.
    * Pixels (R,G,B): p0=(1,2,3) p1=(4,5,6) / p2=(7,8,9) p3=(10,11,12);
    * scanline 1 filtered Up = orig − above = six 0x06 bytes. */
  private val goldenPng: Array[Byte] =
    pngSig ++ pngChunk("IHDR", ihdr(2, 2, 8, 2)) ++
      pngChunk("IDAT", zlibStored(hx("00 010203 040506  02 060606 060606"))) ++
      pngChunk("IEND", Array.emptyByteArray)

  test("pngLuma parses the hand-assembled stored-block container (None+Up rows)") {
    // luma (2126R+7152G+722B)//10000 top-down:
    // p0 (1,2,3)→18596//10000=1; p1 (4,5,6)→48596→4;
    // p2 (7,8,9)→78596→7; p3 (10,11,12)→108596→10
    assert(MediaCodec.pngLuma(goldenPng).toSeq === Seq(1, 4, 7, 10))
  }

  test("pngLuma reconstructs Sub and Average rows on a grayscale container") {
    // 2×2 gray plane rows (10,20)/(30,40); scan0 = Sub: 0A,0A;
    // scan1 = Average: 30−(0+10)/2=0x19, 40−(30+20)/2=0x0F
    val gray = pngSig ++ pngChunk("IHDR", ihdr(2, 2, 8, 0)) ++
      pngChunk("IDAT", zlibStored(hx("01 0A0A 03 190F"))) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(MediaCodec.pngLuma(gray).toSeq === Seq(10, 20, 30, 40))
  }

  test("pngEncode round-trips through the full filter matrix (rows cycle 0-4)") {
    // width 2 → 10 pixels over 5 rows: filters None,Sub,Up,Average,Paeth
    // all appear; the decode must invert every one to recover the plane
    val payload = (1 to 30).map(_.toByte).toArray
    val enc = MediaCodec.pngEncode(payload, 2)
    assert(enc.take(8).toSeq === pngSig.toSeq)
    val expected = (0 until 10).map { j =>
      def pb(i: Int) = if (i < payload.length) payload(i) & 0xff else 0
      (2126 * pb(3 * j) + 7152 * pb(3 * j + 1) + 722 * pb(3 * j + 2)) / 10000
    }
    assert(MediaCodec.pngLuma(enc).toSeq === expected)
    // IEND-terminated, CRC-valid, parseable by construction — and the
    // raw filter bytes in the stream genuinely cycle (whitebox: inflate
    // and look at the scanline heads)
    val idat = {
      // walk chunks collecting IDAT payload
      var off = 8; val buf = new java.io.ByteArrayOutputStream()
      while (off + 12 <= enc.length) {
        val len = ((enc(off) & 0xff) << 24) | ((enc(off + 1) & 0xff) << 16) |
          ((enc(off + 2) & 0xff) << 8) | (enc(off + 3) & 0xff)
        if (new String(enc.slice(off + 4, off + 8), "US-ASCII") == "IDAT")
          buf.write(enc, off + 8, len)
        off += 12 + len
      }
      buf.toByteArray
    }
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat)
    val raw = new Array[Byte](5 * 7)
    var t = 0
    while (t < raw.length && !inf.finished()) t += inf.inflate(raw, t, raw.length - t)
    inf.end()
    assert((0 until 5).map(y => raw(y * 7).toInt) === Seq(0, 1, 2, 3, 4))
  }

  test("pngLuma rejects malformed containers with an empty array") {
    assert(MediaCodec.pngLuma(Array.emptyByteArray).isEmpty)
    assert(MediaCodec.pngLuma("definitely not a png".getBytes).isEmpty)
    // flipped CRC byte → empty (the chunk walk VERIFIES checksums)
    val badCrc = goldenPng.clone()
    badCrc(goldenPng.length - 1) = (badCrc(goldenPng.length - 1) ^ 0x55).toByte
    assert(MediaCodec.pngLuma(badCrc).isEmpty)
    // unsupported bit depth (16) with a VALID crc → empty
    val bd16 = pngSig ++ pngChunk("IHDR", ihdr(2, 2, 16, 2)) ++
      pngChunk("IDAT", zlibStored(new Array[Byte](14))) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(MediaCodec.pngLuma(bd16).isEmpty)
    // filter byte 5 in an otherwise valid stream → empty
    val f5 = pngSig ++ pngChunk("IHDR", ihdr(2, 2, 8, 2)) ++
      pngChunk("IDAT", zlibStored(hx("05 010203 040506  00 060606 060606"))) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(MediaCodec.pngLuma(f5).isEmpty)
    // inflated stream SHORTER than the header-promised plane → empty
    val short = pngSig ++ pngChunk("IHDR", ihdr(2, 2, 8, 2)) ++
      pngChunk("IDAT", zlibStored(hx("00 010203"))) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(MediaCodec.pngLuma(short).isEmpty)
    // inflated stream LONGER than the plane → empty (exact-plane rule)
    val long = pngSig ++ pngChunk("IHDR", ihdr(2, 2, 8, 2)) ++
      pngChunk("IDAT", zlibStored(
        hx("00 010203 040506  02 060606 060606 FF"))) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(MediaCodec.pngLuma(long).isEmpty)
    // missing IEND → empty
    val noEnd = pngSig ++ pngChunk("IHDR", ihdr(2, 2, 8, 2)) ++
      pngChunk("IDAT", zlibStored(hx("00 010203 040506  02 060606 060606")))
    assert(MediaCodec.pngLuma(noEnd).isEmpty)
  }

  test("crafted PNG overflow inputs resolve to empty, never a crash (r8)") {
    // IHDR claiming 2^30 × 2^30 with VALID crc: w·h and the raw-plane
    // size must be guarded in Long before any allocation
    val huge = pngSig ++ pngChunk("IHDR", ihdr(0x40000000, 0x40000000, 8, 2)) ++
      pngChunk("IDAT", zlibStored(new Array[Byte](8))) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(MediaCodec.pngLuma(huge).isEmpty)
    // chunk length 0x7FFFFFF0 walking out of range must not wrap
    val badLen = pngSig ++ hx("7FFFFFF0") ++ "IDAT".getBytes("US-ASCII") ++
      new Array[Byte](16)
    assert(MediaCodec.pngLuma(badLen).isEmpty)
    // encoder with a caller-controlled huge width: unencodable → empty
    assert(MediaCodec.pngEncode(Array[Byte](1, 2, 3), 0x40000000).isEmpty)
    assert(MediaCodec.pngEncode(Array[Byte](1, 2, 3), Int.MaxValue).isEmpty)
    assert(MediaCodec.pngEncode(Array[Byte](1, 2, 3), 0).isEmpty)
    assert(MediaCodec.pngEncode(Array[Byte](1, 2, 3), -5).isEmpty)
  }

  test("crafted overflow inputs resolve to empty, never a crash (r7 review)") {
    // RIFF container whose single chunk claims size 0x7FFFFFF0: the
    // bound check must not wrap Int-negative and walk out of range
    val hugeChunk = hx(
      "52494646" + "24000000" + "57415645" +
      "666D7420" + "F0FFFF7F" + "0100" + "0100" +
      "401F0000" + "803E0000" + "0200" + "1000")
    assert(MediaCodec.wavSamples(hugeChunk).isEmpty)
    // BM header claiming width 2^30 × height 1: width·3 must not wrap
    // the stride negative past the size guard into a 4 GB allocation
    val hugeWidth = hx(
      "424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "00000040" + "01000000" + "0100" + "1800" +
      "00000000" + "10000000" + "00000000" + "00000000" +
      "00000000" + "00000000" + "0000000000000000")
    assert(MediaCodec.bmpLuma(hugeWidth).isEmpty)
    // encoder with a caller-controlled huge width: unencodable → empty
    assert(MediaCodec.bmpEncode(Array[Byte](1, 2, 3), 0x40000000).isEmpty)
    assert(MediaCodec.bmpEncode(Array[Byte](1, 2, 3), Int.MaxValue).isEmpty)
    // wavEncode with a payload big enough that 44 + 2n wraps Int: the
    // r8 ADVICE guard must return empty, not NegativeArraySizeException
    // (first length past the bound: n = (Int.MaxValue - 44) / 2 + 1)
    val hugePayload = new Array[Byte]((Int.MaxValue - 44) / 2 + 1)
    assert(MediaCodec.wavEncode(hugePayload).isEmpty)
  }

  test("round-trip: decode(encode(payload)) recovers payload-derived values") {
    val payload = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    val samples = MediaCodec.wavSamples(MediaCodec.wavEncode(payload))
    assert(samples.toSeq === payload.toSeq.map(b => ((b & 0xff) - 128) * 256))
    val luma = MediaCodec.bmpLuma(MediaCodec.bmpEncode(payload, 7))
    val npx = (payload.length + 2) / 3
    def pb(i: Int) = if (i < payload.length) payload(i) & 0xff else 0
    val expected = (0 until ((npx + 6) / 7) * 7).map { j =>
      if (j < npx) (2126 * pb(3 * j + 2) + 7152 * pb(3 * j + 1) + 722 * pb(3 * j)) / 10000
      else 0
    }
    assert(luma.toSeq === expected)
  }

  // ---- AVI (r9) ----

  /** payload (B,G,R) = (0x0A, 0x14, 0x1E), width 1 → one 1×4 frame
    * (4 pixels per frame, npx = 1, three black pad pixels), rowStride 4.
    * Hand-assembled: RIFF 240 'AVI ' | LIST 192 hdrl [avih 56, LIST 116
    * strl [strh 56 vids/DIB, strf 40 BITMAPINFOHEADER 1×4 24bpp BI_RGB]]
    * | LIST 28 movi ['00db' 16, bottom-up rows: 3×black then the pixel].
    */
  private val goldenAvi = hx(
    "52494646" + "F0000000" + "41564920" +            // RIFF 240 'AVI '
    "4C495354" + "C0000000" + "6864726C" +            // LIST 192 hdrl
    "61766968" + "38000000" +                          // avih 56
    "409C0000" + "00000000" + "00000000" + "00000000" +// 40000us, bps, pad, flags
    "01000000" + "00000000" + "01000000" + "10000000" +// frames, init, streams, buf
    "01000000" + "04000000" +                          // width 1, height 4
    "00000000" + "00000000" + "00000000" + "00000000" +// reserved[4]
    "4C495354" + "74000000" + "7374726C" +             // LIST 116 strl
    "73747268" + "38000000" +                          // strh 56
    "76696473" + "44494220" +                          // vids, DIB
    "00000000" + "0000" + "0000" + "00000000" +        // flags, prio, lang, init
    "01000000" + "19000000" +                          // scale 1, rate 25
    "00000000" + "01000000" + "10000000" +             // start, length 1, bufsize
    "FFFFFFFF" + "00000000" +                          // quality, samplesize
    "0000" + "0000" + "0100" + "0400" +                // rcFrame (0,0,1,4)
    "73747266" + "28000000" +                          // strf 40
    "28000000" + "01000000" + "04000000" +             // biSize, w 1, h 4
    "0100" + "1800" + "00000000" + "10000000" +        // planes, 24bpp, BI_RGB, img
    "00000000" + "00000000" + "00000000" + "00000000" +// ppm/clr
    "4C495354" + "1C000000" + "6D6F7669" +             // LIST 28 movi
    "30306462" + "10000000" +                          // 00db 16
    "00000000" + "00000000" + "00000000" + "0A141E00") // bottom-up rows

  // luma of the one real pixel: (2126·30 + 7152·20 + 722·10)/10000 = 21
  private val goldenAviLumas = Seq(Seq(21, 0, 0, 0))

  test("aviEncode produces the hand-assembled container byte-for-byte") {
    val out = MediaCodec.aviEncode(Array(0x0A, 0x14, 0x1E).map(_.toByte), 1)
    assert(out.toSeq === goldenAvi.toSeq)
  }

  test("aviFrameLumas parses the golden container to hand-computed frame lumas") {
    assert(MediaCodec.aviFrameLumas(goldenAvi).map(_.toSeq).toSeq ===
      goldenAviLumas)
  }

  test("aviFrameLumas walks chunks: JUNK before hdrl and interleaved audio skipped") {
    // wrap the golden container's inner chunks with a leading JUNK chunk
    // and an interleaved '01wb' (audio) chunk inside movi — both must be
    // walked over, not tripped over
    val inner = goldenAvi.drop(12)
    val junk = hx("4A554E4B" + "04000000" + "DEADBEEF") // JUNK 4
    val hdrl = inner.take(8 + 192)
    val movi = inner.drop(8 + 192)
    // odd-sized audio chunk (3 bytes) + its RIFF pad byte — exercises the
    // word-alignment rule on the walk
    val audio = hx("30317762" + "03000000" + "ABCDEF" + "00")
    val newMoviPayload = movi.slice(8, 12) ++ audio ++ movi.drop(12)
    val newMovi = hx("4C495354") ++ {
      val b = new Array[Byte](4)
      b(0) = (newMoviPayload.length & 0xff).toByte
      b(1) = ((newMoviPayload.length >> 8) & 0xff).toByte
      b
    } ++ newMoviPayload
    val total = junk ++ hdrl ++ newMovi
    val out = hx("52494646") ++ {
      val b = new Array[Byte](4)
      val sz = 4 + total.length
      b(0) = (sz & 0xff).toByte; b(1) = ((sz >> 8) & 0xff).toByte
      b
    } ++ hx("41564920") ++ total
    assert(MediaCodec.aviFrameLumas(out).map(_.toSeq).toSeq === goldenAviLumas)
  }

  test("aviFrameLumas rejects malformed input with an empty array") {
    def bad(mut: Array[Byte] => Unit): Array[Byte] = {
      val c = goldenAvi.clone(); mut(c); c
    }
    assert(MediaCodec.aviFrameLumas(Array.emptyByteArray).isEmpty)
    assert(MediaCodec.aviFrameLumas(goldenAvi.take(11)).isEmpty)
    // wrong form type
    assert(MediaCodec.aviFrameLumas(bad(_(8) = 'W'.toByte)).isEmpty)
    // truncated mid-movi
    assert(MediaCodec.aviFrameLumas(goldenAvi.take(goldenAvi.length - 8)).isEmpty)
    // unsupported bpp (strf bpp field at offset 12+8+4+56+8+4+56+8+22)
    val bppOff = goldenAvi.length - 28 - 16 - 18 // 40-byte strf: bpp 22 in
    assert((goldenAvi(bppOff) & 0xff) == 24, "fixture offset sanity")
    assert(MediaCodec.aviFrameLumas(bad(_(bppOff) = 16.toByte)).isEmpty)
    // frame chunk size mismatch vs header geometry
    assert(MediaCodec.aviFrameLumas(bad { c =>
      c(goldenAvi.length - 20) = 12.toByte // 00db size 16 -> 12
    }).isEmpty)
  }

  test("a second audio strl after the video strl does not clobber the accepted format") {
    // LIST strl [strh 56 'auds', strf 18 — a WAVEFORMAT, not a
    // BITMAPINFOHEADER] spliced into hdrl AFTER the video strl: the
    // r9 walk let every strf overwrite fmtOk/w/h, so a video+audio file
    // decoded to empty (ADVICE r9). The strf read is now gated on the
    // enclosing strl's strh fcc being 'vids' and latched on first valid.
    def u32le(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def tagB(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val strh = tagB("strh") ++ u32le(56) ++ tagB("auds") ++ new Array[Byte](52)
    val strf = tagB("strf") ++ u32le(18) ++ new Array[Byte](18)
    val strlBody = tagB("strl") ++ strh ++ strf
    val audioStrl = tagB("LIST") ++ u32le(strlBody.length) ++ strlBody
    // golden layout: [0,12) RIFF hdr | [12, 12+8+192) LIST hdrl | movi
    val hdrlEnd = 12 + 8 + 192
    val out = goldenAvi.take(hdrlEnd) ++ audioStrl ++ goldenAvi.drop(hdrlEnd)
    System.arraycopy(u32le(240 + audioStrl.length), 0, out, 4, 4)  // RIFF size
    System.arraycopy(u32le(192 + audioStrl.length), 0, out, 16, 4) // hdrl size
    assert(MediaCodec.aviFrameLumas(out).map(_.toSeq).toSeq === goldenAviLumas)
    // and a 40-byte AUDIO strf (large enough to reach the old validator)
    // is equally inert behind the 'auds' gate
    val strf40 = tagB("strf") ++ u32le(40) ++ new Array[Byte](40)
    val strlBody40 = tagB("strl") ++ strh ++ strf40
    val audioStrl40 = tagB("LIST") ++ u32le(strlBody40.length) ++ strlBody40
    val out40 = goldenAvi.take(hdrlEnd) ++ audioStrl40 ++ goldenAvi.drop(hdrlEnd)
    System.arraycopy(u32le(240 + audioStrl40.length), 0, out40, 4, 4)
    System.arraycopy(u32le(192 + audioStrl40.length), 0, out40, 16, 4)
    assert(MediaCodec.aviFrameLumas(out40).map(_.toSeq).toSeq === goldenAviLumas)
  }

  test("aviEncode refuses widths past the u16 rcFrame field") {
    // rcFrame right/bottom are u16: width 0x10000 would truncate to 0 in
    // the header an external reader trusts — refused outright (ADVICE r9)
    assert(MediaCodec.aviEncode(new Array[Byte](8), 0x10000).isEmpty)
    assert(MediaCodec.aviEncode(new Array[Byte](8), 0xFFFF).nonEmpty)
  }

  test("crafted AVI overflow inputs resolve to empty, never a crash") {
    // u32 chunk size 0xFFFFFFFF reads negative -> malformed, not a wrap
    val hugeChunk = goldenAvi.clone()
    hugeChunk(16) = 0xFF.toByte; hugeChunk(17) = 0xFF.toByte
    hugeChunk(18) = 0xFF.toByte; hugeChunk(19) = 0xFF.toByte
    assert(MediaCodec.aviFrameLumas(hugeChunk).isEmpty)
    // strf width near 2^30: the w·h product guard must refuse before
    // any stride arithmetic can wrap
    val wideStrf = goldenAvi.clone()
    val wOff = goldenAvi.length - 72 // biWidth in strf (movi 36 + strf tail 36)
    assert((goldenAvi(wOff) & 0xff) == 1, "fixture offset sanity")
    assert(MediaCodec.aviFrameLumas({
      wideStrf(wOff) = 0xFF.toByte; wideStrf(wOff + 1) = 0xFF.toByte
      wideStrf(wOff + 2) = 0xFF.toByte; wideStrf(wOff + 3) = 0x3F.toByte
      wideStrf
    }).isEmpty)
    // unencodable request: width that overflows the container size
    assert(MediaCodec.aviEncode(new Array[Byte](64), Int.MaxValue / 2).isEmpty)
  }

  test("avi round-trip: multi-frame decode(encode(payload)) matches first principles") {
    val payload = Array.tabulate[Byte](101)(i => ((i * 37 + 11) % 251).toByte)
    val width = 5 // 20 pixels per frame; npx = 34 -> 2 frames
    val frames = MediaCodec.aviFrameLumas(MediaCodec.aviEncode(payload, width))
    assert(frames.length == 2)
    def pb(i: Int) = if (i < payload.length) payload(i) & 0xff else 0
    val expected = (0 until 2).map { f =>
      (0 until 20).map { p =>
        val j = f * 20 + p
        if (j < 34)
          (2126 * pb(3 * j + 2) + 7152 * pb(3 * j + 1) + 722 * pb(3 * j)) / 10000
        else 0
      }
    }
    assert(frames.map(_.toSeq).toSeq === expected)
  }

  test("aviSceneCuts drops single-frame videos and the frame table matches the codec") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val lake = graft.mm.Multimodal.aviLake(docs)
    val fe = graft.mm.Multimodal.aviFrameEnergies(lake)
      .select("doc_id", "n_frames").distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fe.nonEmpty && fe.values.exists(_ >= 2),
      "fixture must contain multi-frame videos")
    val cuts = graft.mm.Multimodal.aviSceneCuts(lake)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cuts == fe.filter(_._2 >= 2).keySet,
      "exactly the multi-frame videos appear in the cut table")
  }
}
