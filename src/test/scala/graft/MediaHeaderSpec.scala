package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._

import graft.functions._

/** Media header-parse expressions against GROUND-TRUTH bytes of the
  * public formats — not the q177 synth path: the PNG fixture is the
  * byte-exact wire form of a real 1×1 RGBA PNG (signature + IHDR from
  * the PNG specification), the BMP fixtures are independently serialized
  * here with java.nio against the published BITMAPINFOHEADER layout.
  * Covers codegen + interpreted parity, signedness (top-down BMPs carry
  * negative heights), and the NULL contract for short/corrupt payloads.
  */
class MediaHeaderSpec extends SparkTestBase {
  import spark.implicits._

  GraftFunctions.register(spark)

  /** Byte-exact header of a real 1×1 bit-depth-8 RGBA PNG: the 8-byte
    * signature, IHDR length (13), "IHDR", w=1, h=1, depth=8, color=6
    * (truecolor+alpha), compression/filter/interlace 0, then the chunk
    * CRC 0x1F15C489 (the published CRC-32 of this exact IHDR). */
  private val png1x1: Array[Byte] = Array(
    0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, // signature
    0x00, 0x00, 0x00, 0x0D, // IHDR data length = 13
    0x49, 0x48, 0x44, 0x52, // "IHDR"
    0x00, 0x00, 0x00, 0x01, // width = 1 (BE)
    0x00, 0x00, 0x00, 0x01, // height = 1 (BE)
    0x08, 0x06, 0x00, 0x00, 0x00, // depth 8, color 6, comp/filter/interlace
    0x1F, 0x15, 0xC4, 0x89 // IHDR CRC
  ).map(_.toByte)

  /** Independent BMP serializer (java.nio, not the le_encode_* path the
    * expressions are later checked against in q177). */
  private def bmp(w: Int, h: Int, bpp: Int): Array[Byte] = {
    val rowBytes = ((bpp * w + 31) / 32) * 4
    val isz = rowBytes * math.abs(h)
    val b = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(54 + isz).putInt(0).putInt(54) // file size, reserved, offset
    b.putInt(40).putInt(w).putInt(h) // DIB size, width, height
    b.putShort(1).putShort(bpp.toShort) // planes, bpp
    b.putInt(0).putInt(isz).putInt(2835).putInt(2835).putInt(0).putInt(0)
    b.array()
  }

  test("PNG IHDR: real 1x1 RGBA bytes decode to (1, 1, 8, 6)") {
    val r = Seq(Tuple1(png1x1)).toDF("b")
      .selectExpr("png_width(b) AS w", "png_height(b) AS h",
        "png_bit_depth(b) AS d", "png_color_type(b) AS c").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ==
      ((1, 1, 8, 6)))
  }

  test("BMP: independently serialized headers decode field-exact") {
    val r = Seq(Tuple1(bmp(1920, 1080, 24))).toDF("b")
      .selectExpr("bmp_width(b) AS w", "bmp_height(b) AS h",
        "bmp_bpp(b) AS p", "le_u32(b, 2) AS fsz").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((1920, 1080, 24)))
    assert(r.getLong(3) == 54L + ((24 * 1920 + 31) / 32) * 4 * 1080L)
  }

  test("BMP top-down orientation: height is SIGNED i32") {
    val r = Seq(Tuple1(bmp(64, -64, 32))).toDF("b")
      .selectExpr("bmp_height(b) AS h").head()
    assert(r.getInt(0) == -64)
  }

  test("NULL contract: short, corrupt-magic, and cross-format payloads") {
    val r = Seq((
      bmp(8, 8, 8).take(20), // too short for width @18+4
      "JFIF not a bmp".getBytes("UTF-8"), // wrong magic
      png1x1, // PNG bytes through the BMP parser
      bmp(8, 8, 8) // BMP bytes through the PNG parser
    )).toDF("short", "bad", "png", "bmp")
      .selectExpr("bmp_width(short) AS a", "bmp_width(bad) AS b",
        "bmp_width(png) AS c", "png_width(bmp) AS d").head()
    (0 until 4).foreach(i => assert(r.isNullAt(i), s"field $i"))
  }

  /** Independent WAV serializer (java.nio, canonical 44-byte PCM header
    * with an empty data chunk — not the le_encode_* path q185 uses). */
  private def wav(ch: Int, rate: Int, bits: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36)
    b.put("WAVEfmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(ch.toShort).putInt(rate)
    b.putInt(rate * ch * (bits / 8)).putShort((ch * (bits / 8)).toShort)
    b.putShort(bits.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(0)
    b.array()
  }

  test("WAV: independently serialized fmt chunk decodes field-exact") {
    val r = Seq(Tuple1(wav(2, 44100, 16))).toDF("b")
      .selectExpr("wav_audio_format(b) AS f", "wav_channels(b) AS c",
        "wav_sample_rate(b) AS r", "wav_byte_rate(b) AS br",
        "wav_bits_per_sample(b) AS p").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4)) == ((1, 2, 44100, 44100 * 2 * 2, 16)))
  }

  /** Independent CHUNKED WAV serializer: arbitrary metadata chunks
    * before fmt, each word-aligned with a pad byte after odd payloads —
    * the spec-valid layouts (LIST/INFO/JUNK-first) the r6 canonical-only
    * parse pinned as NULL and the r7 bounded chunk walk must decode. */
  private def wavChunked(pre: Seq[(String, Array[Byte])], ch: Int,
      rate: Int, bits: Int): Array[Byte] = {
    val preLen = pre.map { case (_, d) => 8 + d.length + (d.length & 1) }.sum
    val total = 12 + preLen + 8 + 16 + 8
    val b = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(total - 8)
    b.put("WAVE".getBytes("US-ASCII"))
    pre.foreach { case (id, d) =>
      b.put(id.getBytes("US-ASCII")).putInt(d.length).put(d)
      if ((d.length & 1) == 1) b.put(0.toByte)
    }
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(ch.toShort).putInt(rate)
    b.putInt(rate * ch * (bits / 8)).putShort((ch * (bits / 8)).toShort)
    b.putShort(bits.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(0)
    b.array()
  }

  test("WAV chunk walk: LIST-first and odd-sized-chunk files decode") {
    // the r6 'LIST-first is NULL' pin, INVERTED: spec-valid non-canonical
    // layouts parse (one pre-chunk, two pre-chunks, odd payload + pad)
    val list = wavChunked(Seq("LIST" -> "INFOdata".getBytes("US-ASCII")),
      2, 44100, 16)
    val odd = wavChunked(Seq("JUNK" -> Array.fill[Byte](7)(9)), 1, 8000, 8)
    val two = wavChunked(Seq("LIST" -> Array.fill[Byte](12)(1),
      "bext" -> Array.fill[Byte](5)(2)), 6, 96000, 24)
    val r = Seq((list, odd, two)).toDF("list", "odd", "two")
      .selectExpr("wav_channels(list) AS a", "wav_sample_rate(list) AS b",
        "wav_bits_per_sample(odd) AS c", "wav_channels(odd) AS d",
        "wav_byte_rate(two) AS e", "wav_audio_format(two) AS f").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4), r.getInt(5)) == ((2, 44100, 8, 1, 96000 * 6 * 3, 1)))
    // interpreted path walks identically (the DataFrame above ran
    // through whole-stage codegen)
    assert(WavChannels(Literal(list)).eval() == 2)
    assert(WavBitsPerSample(Literal(odd)).eval() == 8)
    assert(WavByteRate(Literal(two)).eval() == 96000 * 6 * 3)
  }

  test("WAV NULL contract: short, corrupt-magic, cross-format, no fmt, " +
      "budget, hostile size") {
    // a RIFF/WAVE file with NO fmt chunk anywhere (renaming fmt leaves
    // its payload behind as an opaque chunk the walk must skip over)
    val noFmt = wav(1, 8000, 8)
    System.arraycopy("LIST".getBytes("US-ASCII"), 0, noFmt, 12, 4)
    // fmt hidden behind more pre-chunks than the 8-chunk walk budget
    val deep = wavChunked(
      (1 to 9).map(i => s"jk0$i" -> Array.fill[Byte](2)(i.toByte)),
      2, 44100, 16)
    // corrupt chunk size 0xFFFFFFFF: must step past the bound and stop,
    // not wrap negative (unsigned-read pin)
    val hostile = wavChunked(Seq("LIST" -> Array.fill[Byte](4)(0)),
      2, 44100, 16)
    ByteBuffer.wrap(hostile, 16, 4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(0xFFFFFFFF)
    // fmt found but its payload truncated by the array bound
    val truncated = wav(2, 44100, 16).take(23)
    val r = Seq((wav(1, 8000, 8).take(30), png1x1, noFmt, deep, hostile,
        truncated, wav(6, 96000, 24)))
      .toDF("short", "png", "nofmt", "deep", "hostile", "trunc", "ok")
      .selectExpr("wav_bits_per_sample(short) AS a", "wav_channels(png) AS b",
        "wav_sample_rate(nofmt) AS c", "wav_channels(deep) AS d",
        "wav_sample_rate(hostile) AS e", "wav_channels(trunc) AS f",
        "wav_channels(ok) AS g").head()
    (0 until 6).foreach(i => assert(r.isNullAt(i), s"field $i"))
    assert(r.getInt(6) == 6)
  }

  /** Independent JPEG header serializer: SOI + arbitrary marker
    * segments (u16 BE length INCLUDING the length bytes) + an SOF
    * frame header — java.nio, not the le/be encode path the queries
    * use. */
  private def jpeg(pre: Seq[(Int, Array[Byte])], sofMarker: Int, prec: Int,
      h: Int, w: Int, ncomp: Int): Array[Byte] = {
    val preLen = pre.map { case (_, d) => 4 + d.length }.sum
    val b = ByteBuffer.allocate(2 + preLen + 4 + 6)
      .order(ByteOrder.BIG_ENDIAN)
    b.put(0xFF.toByte).put(0xD8.toByte)
    pre.foreach { case (m, d) =>
      b.put(0xFF.toByte).put(m.toByte).putShort((2 + d.length).toShort)
        .put(d)
    }
    b.put(0xFF.toByte).put(sofMarker.toByte).putShort(8.toShort)
    b.put(prec.toByte).putShort(h.toShort).putShort(w.toShort)
      .put(ncomp.toByte)
    b.array()
  }

  /** Independent GIF header serializer (signature + logical screen
    * descriptor). */
  private def gif(ver: Char, w: Int, h: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(13).order(ByteOrder.LITTLE_ENDIAN)
    b.put(s"GIF8${ver}a".getBytes("US-ASCII"))
    b.putShort(w.toShort).putShort(h.toShort)
    b.put(0.toByte).put(0.toByte).put(0.toByte)
    b.array()
  }

  test("JPEG marker walk: APP/COM segments before SOF0/SOF2 decode") {
    val app0 = 0xE0 -> "JFIF\u0000data".getBytes("US-ASCII")
    val exif = 0xE1 -> Array.fill[Byte](19)(7) // odd length: no padding in JPEG
    val com = 0xFE -> "a comment".getBytes("US-ASCII")
    val baseline = jpeg(Seq(app0), 0xC0, 8, 1080, 1920, 3)
    val progressive = jpeg(Seq(app0, exif, com), 0xC2, 8, 480, 640, 3)
    val bare = jpeg(Nil, 0xC1, 12, 7, 65535, 1)
    val r = Seq((baseline, progressive, bare)).toDF("b", "p", "n")
      .selectExpr("jpeg_width(b) AS a", "jpeg_height(b) AS bb",
        "jpeg_precision(p) AS c", "jpeg_width(p) AS d",
        "jpeg_height(p) AS e", "jpeg_components(p) AS f",
        "jpeg_width(n) AS g", "jpeg_height(n) AS h").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
      r.getInt(5), r.getInt(6), r.getInt(7)) ==
      ((1920, 1080, 8, 640, 480, 3, 65535, 7)))
    // interpreted path walks identically
    assert(JpegWidth(Literal(progressive)).eval() == 640)
    assert(JpegComponents(Literal(bare)).eval() == 1)
  }

  test("JPEG NULL contract: no SOI, SOS before SOF, bad length, budget") {
    val app0 = 0xE0 -> "JFIF".getBytes("US-ASCII")
    // SOS (scan data) arrives before any SOF → stop, NULL
    val sos = jpeg(Seq(app0, 0xDA -> Array.fill[Byte](5)(1)), 0xC0,
      8, 10, 10, 3)
    // a declared segment length of 0 would loop forever → NULL
    val badLen = {
      val b = jpeg(Seq(app0), 0xC0, 8, 10, 10, 3)
      b(4) = 0; b(5) = 0 // APP0 length := 0
      b
    }
    // 17 segments before SOF exceeds the 16-segment budget
    val deep = jpeg((1 to 17).map(_ => 0xE5 -> Array.fill[Byte](2)(3)),
      0xC0, 8, 10, 10, 3)
    // truncated mid-SOF
    val trunc = jpeg(Seq(app0), 0xC0, 8, 10, 10, 3).dropRight(3)
    val r = Seq(("no".getBytes("UTF-8"), sos, badLen, deep, trunc))
      .toDF("x", "s", "l", "d", "t")
      .selectExpr("jpeg_width(x) AS a", "jpeg_width(s) AS b",
        "jpeg_width(l) AS c", "jpeg_width(d) AS dd",
        "jpeg_width(t) AS e").head()
    (0 until 5).foreach(i => assert(r.isNullAt(i), s"field $i"))
    assert(JpegWidth(Literal(sos)).eval() == null)
  }

  test("GIF: both signature versions decode; corrupt/short are NULL") {
    val r = Seq((gif('9', 320, 200), gif('7', 65535, 1),
        gif('9', 320, 200).take(8), "GIF10a??????".getBytes("US-ASCII")))
      .toDF("a", "b", "c", "d")
      .selectExpr("gif_width(a) w", "gif_height(a) h", "gif_width(b) w7",
        "gif_height(b) h7", "gif_height(c) sh", "gif_width(d) bad").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ==
      ((320, 200, 65535, 1)))
    assert(r.isNullAt(4) && r.isNullAt(5))
    assert(GifWidth(Literal(gif('7', 12, 34))).eval() == 12)
  }

  /** Independent MP4 serializer: ftyp + arbitrary padding boxes + a
    * moov whose first child is a v0 mvhd (java.nio, big-endian). */
  private def mp4(pad: Seq[(String, Int)], timescale: Int,
      duration: Int): Array[Byte] = {
    val padLen = pad.map(_._2).sum
    val b = ByteBuffer.allocate(24 + padLen + 8 + 28)
      .order(ByteOrder.BIG_ENDIAN)
    b.putInt(24).put("ftypisom".getBytes("US-ASCII"))
      .putInt(512).put("isomiso2".getBytes("US-ASCII"))
    pad.foreach { case (t, sz) =>
      b.putInt(sz).put(t.getBytes("US-ASCII"))
        .put(Array.fill[Byte](sz - 8)(0x6A))
    }
    b.putInt(36).put("moov".getBytes("US-ASCII"))
    b.putInt(28).put("mvhd".getBytes("US-ASCII"))
    b.putInt(0).putInt(0).putInt(0) // version0+flags, ctime, mtime
    b.putInt(timescale).putInt(duration)
    b.array()
  }

  test("MP4 box walk: padding boxes before moov decode; NULL contract") {
    val canonical = mp4(Nil, 90000, 123456)
    val padded = mp4(Seq("free" -> 16, "skip" -> 12), 600, Int.MaxValue)
    // mvhd version 1 (64-bit times) is NULL by contract
    val v1 = mp4(Nil, 1000, 42)
    v1(24 + 16) = 1 // version byte inside mvhd
    // no ftyp first
    val noFtyp = mp4(Nil, 1000, 42)
    noFtyp(4) = 'g'.toByte
    // moov's only child is not mvhd (the round-8 child walk finds a
    // LATER mvhd — see the v1/child-walk test below — but a moov with
    // no mvhd at all stays NULL)
    val udtaFirst = mp4(Nil, 1000, 42)
    System.arraycopy("udta".getBytes("US-ASCII"), 0, udtaFirst, 24 + 12, 4)
    // 9 padding boxes exceed the 8-box budget
    val deep = mp4((1 to 9).map(i => "free" -> 16), 1000, 42)
    // corrupt box size 0 would loop
    val zeroSize = mp4(Seq("free" -> 16), 1000, 42)
    ByteBuffer.wrap(zeroSize, 24, 4).putInt(0)
    val r = Seq((canonical, padded, v1, noFtyp, udtaFirst, deep, zeroSize))
      .toDF("c", "p", "v", "n", "u", "d", "z")
      .selectExpr("mp4_timescale(c) a", "mp4_duration(c) b",
        "mp4_timescale(p) cc", "mp4_duration(p) dd",
        "mp4_duration(v) e", "mp4_duration(n) f",
        "mp4_duration(u) g", "mp4_duration(d) h",
        "mp4_duration(z) i").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ==
      ((90000, 123456, 600, Int.MaxValue)))
    (4 until 9).foreach(i => assert(r.isNullAt(i), s"field $i"))
    // interpreted path walks identically
    assert(Mp4Timescale(Literal(padded)).eval() == 600)
    assert(Mp4Duration(Literal(deep)).eval() == null)
    assert(Mp4Duration(Literal(canonical.take(50))).eval() == null)
  }

  /** Independent MP4 serializer, round-8 shape: moov may lead with
    * non-mvhd children and mvhd may be version 0 (28 B) or 1 (40 B,
    * 64-bit times). Field values passed as longs so v0 fixtures can
    * carry u32s above Int.MaxValue. */
  private def mp4v(children: Seq[(String, Int)], version: Int,
      timescale: Long, duration: Long): Array[Byte] = {
    val mvhdSz = if (version == 0) 28 else 40
    val kidLen = children.map(_._2).sum
    val b = ByteBuffer.allocate(24 + 8 + kidLen + mvhdSz)
      .order(ByteOrder.BIG_ENDIAN)
    b.putInt(24).put("ftypisom".getBytes("US-ASCII"))
      .putInt(512).put("isomiso2".getBytes("US-ASCII"))
    b.putInt(8 + kidLen + mvhdSz).put("moov".getBytes("US-ASCII"))
    children.foreach { case (t, sz) =>
      b.putInt(sz).put(t.getBytes("US-ASCII"))
        .put(Array.fill[Byte](sz - 8)(0x6A))
    }
    b.putInt(mvhdSz).put("mvhd".getBytes("US-ASCII"))
      .putInt(version << 24) // version byte + zero flags
    if (version == 0)
      b.putInt(0).putInt(0).putInt(timescale.toInt).putInt(duration.toInt)
    else
      b.putLong(0L).putLong(0L).putInt(timescale.toInt).putLong(duration)
    b.array()
  }

  test("MP4 round-8 walk: non-first mvhd, version 1, declared-size and " +
      "signedness contracts") {
    // iods+udta before mvhd — spec-legal, emitted by real muxers
    val late = mp4v(Seq("iods" -> 16, "udta" -> 24), 0, 90000L, 123456L)
    // version 1: 64-bit times at shifted offsets, u64 duration > 2^32
    val v1 = mp4v(Seq("udta" -> 12), 1, 90000L, 0x123456789AL)
    // v0 u32 values above Int.MaxValue: IntegerType pair NULLs (never
    // goes negative — advisor r7), BIGINT pair reads unsigned
    val big = mp4v(Nil, 0, 0x80000001L, 0xFFFFFFFFL)
    // v1 u64 duration with the sign bit set exceeds LongType -> NULL
    val hugeDur = mp4v(Nil, 1, 1000L, java.lang.Long.MIN_VALUE | 7L)
    // five children before mvhd exceed the 4-child budget
    val deepKids = mp4v((1 to 5).map(_ => "free" -> 12), 0, 1000L, 42L)
    // mvhd DECLARES size 20 (< the 28 its v0 header needs) but full
    // bytes follow: must NULL, not read the bytes past the declared
    // box (advisor r7 — the WavFmt check, applied here)
    val shortDecl = mp4v(Nil, 0, 1000L, 42L)
    ByteBuffer.wrap(shortDecl, 24 + 8, 4).putInt(20)
    // a child whose corrupt size would step past moov's end: the child
    // walk is bounded by moov's own declared size, so the mvhd beyond
    // is unreachable -> NULL
    val escape = mp4v(Seq("udta" -> 12), 0, 1000L, 42L)
    ByteBuffer.wrap(escape, 24 + 8, 4).putInt(4096)
    val r = Seq((late, v1, big, hugeDur, deepKids, shortDecl, escape))
      .toDF("l", "v", "b", "h", "d", "s", "e")
      .selectExpr(
        "mp4_timescale(l) a", "mp4_duration(l) b0",
        "mp4_timescale64(l) c", "mp4_duration64(l) d0",
        "mp4_timescale64(v) e0", "mp4_duration64(v) f",
        "mp4_timescale(v) g", "mp4_duration(v) h0",
        "mp4_timescale(b) i", "mp4_duration(b) j",
        "mp4_timescale64(b) k", "mp4_duration64(b) l0",
        "mp4_duration64(h) m", "mp4_duration64(d) n",
        "mp4_duration64(s) o", "mp4_duration64(e) p").head()
    assert((r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)) ==
      ((90000, 123456, 90000L, 123456L)))
    assert((r.getLong(4), r.getLong(5)) == ((90000L, 0x123456789AL)))
    assert(r.isNullAt(6) && r.isNullAt(7), "v0 expressions NULL on v1")
    assert(r.isNullAt(8) && r.isNullAt(9), "v0 high-bit u32 NULLs IntegerType")
    assert((r.getLong(10), r.getLong(11)) == ((0x80000001L, 0xFFFFFFFFL)))
    (12 until 16).foreach(i => assert(r.isNullAt(i), s"field $i"))
    // interpreted path agrees with the codegen'd DataFrame run above
    // (both delegate to the same Mp4Mvhd.locate, by construction)
    assert(Mp4Duration64(Literal(v1)).eval() == 0x123456789AL)
    assert(Mp4Timescale(Literal(late)).eval() == 90000)
    assert(Mp4Timescale64(Literal(big)).eval() == 0x80000001L)
    assert(Mp4Duration(Literal(big)).eval() == null)
    assert(Mp4Duration64(Literal(shortDecl)).eval() == null)
    assert(Mp4Duration64(Literal(deepKids)).eval() == null)
  }

  /** Independent MP3 serializer: optional ID3v2 tag (syncsafe size,
    * optional footer flag) + one MPEG-1 Layer III frame header. */
  private def mp3(tagSz: Int, footer: Boolean, bIdx: Int, sIdx: Int,
      withTag: Boolean = true): Array[Byte] = {
    val tag = if (!withTag) Array.empty[Byte] else {
      val b = ByteBuffer.allocate(10 + tagSz + (if (footer) 10 else 0))
      b.put("ID3".getBytes("US-ASCII")).put(4.toByte).put(0.toByte)
        .put((if (footer) 0x10 else 0).toByte)
      b.put(((tagSz >> 21) & 0x7F).toByte).put(((tagSz >> 14) & 0x7F).toByte)
        .put(((tagSz >> 7) & 0x7F).toByte).put((tagSz & 0x7F).toByte)
      b.put(Array.fill[Byte](tagSz + (if (footer) 10 else 0))(0x6A))
      b.array()
    }
    tag ++ Array[Byte](0xFF.toByte, 0xFB.toByte,
      ((bIdx << 4) | (sIdx << 2)).toByte, 0)
  }

  test("MP3: ID3v2 skip (incl. footer flag), tables, NULL contract") {
    val plain = mp3(0, footer = false, 9, 0, withTag = false) // 128k/44100
    val tagged = mp3(300, footer = false, 14, 1)              // 320k/48000
    val footered = mp3(129, footer = true, 1, 2)              // 32k/32000
    val freeFmt = mp3(0, footer = false, 0, 0, withTag = false)
    val reservedRate = mp3(0, footer = false, 9, 3, withTag = false)
    // syncsafe size byte with its high bit set is corrupt by definition
    val badSyncsafe = mp3(300, footer = false, 9, 0)
    badSyncsafe(9) = 0x80.toByte
    // tag declares more payload than the file carries
    val truncated = mp3(300, footer = false, 9, 0).dropRight(200)
    // MPEG-2 version bits (FF F3) are outside the decoded profile
    val mpeg2 = Array[Byte](0xFF.toByte, 0xF3.toByte, 0x94.toByte, 0)
    val r = Seq((plain, tagged, footered, freeFmt, reservedRate,
        badSyncsafe, truncated, mpeg2))
      .toDF("p", "t", "f", "fr", "rr", "bs", "tr", "m2")
      .selectExpr("mp3_bitrate_kbps(p) a", "mp3_sample_rate(p) b",
        "mp3_bitrate_kbps(t) c", "mp3_sample_rate(t) d",
        "mp3_bitrate_kbps(f) e", "mp3_sample_rate(f) g",
        "mp3_bitrate_kbps(fr) h", "mp3_sample_rate(rr) i",
        "mp3_bitrate_kbps(bs) j", "mp3_bitrate_kbps(tr) k",
        "mp3_bitrate_kbps(m2) l").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4), r.getInt(5)) == ((128, 44100, 320, 48000, 32, 32000)))
    (6 until 11).foreach(i => assert(r.isNullAt(i), s"field $i"))
    // interpreted path agrees (same static reader by construction)
    assert(Mp3BitrateKbps(Literal(tagged)).eval() == 320)
    assert(Mp3SampleRate(Literal(footered)).eval() == 32000)
    assert(Mp3BitrateKbps(Literal(truncated)).eval() == null)
  }

  /** Independent FLAC serializer: magic + first metadata block header
    * + STREAMINFO with the four packed fields. */
  private def flac(rate: Long, ch: Int, bps: Int, tot: Long,
      blockType: Int = 0, last: Boolean = false,
      declLen: Int = 34): Array[Byte] = {
    val b = ByteBuffer.allocate(42).order(ByteOrder.BIG_ENDIAN)
    b.put("fLaC".getBytes("US-ASCII"))
    b.put(((if (last) 0x80 else 0) | blockType).toByte)
    b.put((declLen >> 16).toByte).put((declLen >> 8).toByte)
      .put(declLen.toByte)
    b.putShort(4608.toShort).putShort(4608.toShort)
    b.put(Array[Byte](0, 0, 0, 0, 0, 0)) // min/max framesize u24
    b.putLong((rate << 44) | ((ch - 1).toLong << 41) |
      ((bps - 1).toLong << 36) | tot)
    b.put(Array.fill[Byte](16)(0)) // md5 slot
    b.array()
  }

  test("FLAC: packed STREAMINFO fields, block-order and length contracts") {
    val hiRes = flac(192000L, 8, 32, 0xFFFFFFFFFL, last = true)
    val cd = flac(44100L, 2, 16, 1234567L)
    val wrongFirst = flac(44100L, 2, 16, 99L, blockType = 4)
    val shortDecl = flac(44100L, 2, 16, 99L, declLen = 10)
    val zeroRate = flac(0L, 2, 16, 99L)
    val r = Seq((hiRes, cd, wrongFirst, shortDecl, zeroRate))
      .toDF("h", "c", "w", "s", "z")
      .selectExpr("flac_sample_rate(h) a", "flac_channels(h) b",
        "flac_bits_per_sample(h) cc", "flac_total_samples(h) d",
        "flac_sample_rate(c) e", "flac_total_samples(c) f",
        "flac_sample_rate(w) g", "flac_sample_rate(s) i",
        "flac_sample_rate(z) j").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((192000L, 8L, 32L, 0xFFFFFFFFFL)))
    assert((r.getLong(4), r.getLong(5)) == ((44100L, 1234567L)))
    (6 until 9).foreach(i => assert(r.isNullAt(i), s"field $i"))
    assert(FlacChannels(Literal(hiRes)).eval() == 8L)
    assert(FlacSampleRate(Literal(cd.take(20))).eval() == null)
    assert(FlacSampleRate(Literal(wrongFirst)).eval() == null)
    // review-pass pin: a spec-legal rate with bit 19 set makes the RAW
    // packed u64 negative as a signed long — the sentinel is exactly
    // -1, so such a rate must still decode (round-8 second look)
    val absurd = flac(1000000L, 2, 16, 42L)
    assert(FlacSampleRate(Literal(absurd)).eval() == 1000000L)
    assert(FlacTotalSamples(Literal(absurd)).eval() == 42L)
  }

  /** Independent WebP serializer for the three flavors. */
  private def webp(kind: String, w: Int, h: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(34).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(26)
      .put("WEBP".getBytes("US-ASCII"))
    kind match {
      case "VP8X" =>
        b.put("VP8X".getBytes("US-ASCII")).putInt(10).putInt(0)
        val (a1, a2) = (w - 1, h - 1)
        b.put(a1.toByte).put((a1 >> 8).toByte).put((a1 >> 16).toByte)
        b.put(a2.toByte).put((a2 >> 8).toByte).put((a2 >> 16).toByte)
      case "VP8L" =>
        b.put("VP8L".getBytes("US-ASCII")).putInt(5).put(0x2F.toByte)
        val (a1, a2) = (w - 1, h - 1)
        b.put((a1 & 0xFF).toByte)
          .put(((a1 >> 8) | (a2 & 3) << 6).toByte)
          .put(((a2 >> 2) & 0xFF).toByte).put((a2 >> 10).toByte)
      case _ =>
        b.put("VP8 ".getBytes("US-ASCII")).putInt(10)
        b.put(Array[Byte](0, 0, 0)) // keyframe tag
        b.put(0x9D.toByte).put(0x01.toByte).put(0x2A.toByte)
        b.putShort(w.toShort).putShort(h.toShort)
    }
    b.array()
  }

  test("WebP: three flavors decode; keyframe/start-code/chunk contracts") {
    val x = webp("VP8X", 1 << 24, 1) // the largest legal VP8X canvas
    val l = webp("VP8L", 16384, 5000) // 14-bit max straddles b2
    val v = webp("VP8 ", 1920, 1080)
    val notKey = webp("VP8 ", 64, 64); notKey(20) = 1 // interframe first
    val badCode = webp("VP8 ", 64, 64); badCode(23) = 0x9C.toByte
    val badSig = webp("VP8L", 64, 64); badSig(20) = 0x2E
    val alph = webp("VP8X", 64, 64) // unknown first chunk type
    System.arraycopy("ALPH".getBytes("US-ASCII"), 0, alph, 12, 4)
    val notWebp = webp("VP8X", 64, 64)
    notWebp(11) = 'Q'.toByte
    val r = Seq((x, l, v, notKey, badCode, badSig, alph, notWebp))
      .toDF("x", "l", "v", "nk", "bc", "bs", "al", "nw")
      .selectExpr("webp_width(x) a", "webp_height(x) b",
        "webp_width(l) c", "webp_height(l) d",
        "webp_width(v) e", "webp_height(v) f",
        "webp_width(nk) g", "webp_width(bc) h",
        "webp_width(bs) i", "webp_width(al) j",
        "webp_width(nw) k").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4), r.getInt(5)) ==
      ((1 << 24, 1, 16384, 5000, 1920, 1080)))
    (6 until 11).foreach(i => assert(r.isNullAt(i), s"field $i"))
    assert(WebpWidth(Literal(l)).eval() == 16384)
    assert(WebpHeight(Literal(x)).eval() == 1)
    assert(WebpWidth(Literal(v.take(28))).eval() == null)
  }

  test("TIFF/gzip/zstd: type, termination and declared-size contracts") {
    // TIFF: RATIONAL(5) type and count!=1 are NULL; endianness honored
    def tiff(le: Boolean, typ: Int, cnt: Int, v: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(30).order(
        if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      b.put((if (le) "II" else "MM").getBytes("US-ASCII"))
        .putShort(42.toShort).putInt(8)
      b.putShort(1.toShort) // one entry
      b.putShort(256.toShort).putShort(typ.toShort).putInt(cnt)
      if (typ == 3) b.putShort(v.toShort).putShort(0.toShort)
      else b.putInt(v)
      b.putInt(0)
      b.array()
    }
    val r1 = Seq((tiff(le = true, 3, 1, 800), tiff(le = false, 4, 1, 900),
        tiff(le = true, 5, 1, 800), tiff(le = true, 4, 2, 800)))
      .toDF("a", "b", "c", "d")
      .selectExpr("tiff_width(a) w1", "tiff_width(b) w2",
        "tiff_width(c) w3", "tiff_width(d) w4").head()
    assert((r1.getInt(0), r1.getInt(1)) == ((800, 900)))
    assert(r1.isNullAt(2) && r1.isNullAt(3))
    assert(TiffWidth(Literal(tiff(le = false, 4, 1, 900))).eval() == 900)
    // review-pass pin: a LONG value past IntegerType NULLs, never
    // wraps negative (the exceeds-the-type rule)
    assert(TiffWidth(Literal(tiff(le = true, 4, 1, 0x90000000.toInt)))
      .eval() == null)

    // gzip: unterminated name is NULL; FEXTRA skipped; flag honored
    def gz(flg: Int, name: Array[Byte]): Array[Byte] =
      Array[Byte](0x1F.toByte, 0x8B.toByte, 8, flg.toByte,
        1, 2, 3, 4, 0, 3) ++ name
    val named = gz(8, "a.txt\u0000".getBytes("ISO-8859-1"))
    val unterminated = gz(8, "a.txt".getBytes("ISO-8859-1"))
    val extraThenName = gz(12,
      Array[Byte](2, 0, 9, 9) ++ "b.gz\u0000".getBytes("ISO-8859-1"))
    val noFlag = gz(0, "a.txt\u0000".getBytes("ISO-8859-1"))
    val r2 = Seq((named, unterminated, extraThenName, noFlag))
      .toDF("a", "b", "c", "d")
      .selectExpr("gzip_fname(a) f1", "gzip_fname(b) f2",
        "gzip_fname(c) f3", "gzip_fname(d) f4",
        "gzip_mtime(a) m", "gzip_os(a) o").head()
    assert(r2.getString(0) == "a.txt" && r2.getString(2) == "b.gz")
    assert(r2.isNullAt(1) && r2.isNullAt(3))
    assert(r2.getLong(4) == 0x04030201L && r2.getLong(5) == 3L)
    assert(GzipFname(Literal(extraThenName)).eval().toString == "b.gz")

    // zstd: undeclared size (flag 0, not single-segment) and truncated
    // fcs are NULL; the 16-bit form carries its +256 bias
    def zf(fhd: Int, rest: Array[Byte]): Array[Byte] =
      Array[Byte](0x28.toByte, 0xB5.toByte, 0x2F.toByte, 0xFD.toByte,
        fhd.toByte) ++ rest
    val biased = zf(0x40, Array[Byte](0x77, 0x10, 0x00)) // wd + u16 16
    val undeclared = zf(0x00, Array[Byte](0x77))
    val singleByte = zf(0x20, Array[Byte](0x2A)) // single-segment u8
    val truncated = zf(0x80, Array[Byte](0x77, 0x01)) // u32 cut short
    val r3 = Seq((biased, undeclared, singleByte, truncated))
      .toDF("a", "b", "c", "d")
      .selectExpr("zstd_content_size(a) c1", "zstd_content_size(b) c2",
        "zstd_content_size(c) c3", "zstd_content_size(d) c4",
        "zstd_window_size(a) w1", "zstd_window_size(c) w2").head()
    assert(r3.getLong(0) == 16L + 256L && r3.getLong(2) == 0x2AL)
    assert(r3.isNullAt(1) && r3.isNullAt(3))
    // wd 0x77: exponent 14, mantissa 7 -> 2^24 + 2^21*7
    assert(r3.getLong(4) == (1L << 24) + (1L << 21) * 7)
    assert(r3.isNullAt(5), "single-segment frame has no window descriptor")
    assert(ZstdContentSize(Literal(undeclared)).eval() == null)
  }

  test("Opus/TFRecord: BOS, packet-magic, and CRC32C contracts") {
    // Ogg/Opus serializer: page header + lacing table + OpusHead
    def ogg(bos: Boolean, magic: String, nsegs: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(27 + nsegs + 19)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.put("OggS".getBytes("US-ASCII")).put(0.toByte)
        .put((if (bos) 2 else 0).toByte)
      b.put(Array.fill[Byte](20)(0)) // granule+serial+seq+crc
      b.put(nsegs.toByte).put(Array.fill[Byte](nsegs)(19))
      b.put(magic.getBytes("US-ASCII")).put(1.toByte).put(6.toByte)
      b.putShort(312.toShort).putInt(48000)
      b.put(Array.fill[Byte](19 - magic.length - 8)(0))
      b.array()
    }
    val good = ogg(bos = true, "OpusHead", 1)
    val wideTable = ogg(bos = true, "OpusHead", 5)
    val notBos = ogg(bos = false, "OpusHead", 1)
    val vorbis = ogg(bos = true, "\u0001vorbis ", 1)
    val r = Seq((good, wideTable, notBos, vorbis))
      .toDF("g", "w", "n", "v")
      .selectExpr("opus_channels(g) a", "opus_pre_skip(g) b",
        "opus_input_sample_rate(g) c", "opus_channels(w) d",
        "opus_channels(n) e", "opus_channels(v) f").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((6L, 312L, 48000L, 6L)))
    assert(r.isNullAt(4) && r.isNullAt(5))
    assert(OpusChannels(Literal(good.take(30))).eval() == null)

    // TFRecord: the CRC32C core pinned against the PUBLISHED
    // Castagnoli check vector (crc32c("123456789") = 0xE3069283),
    // with the mask formula restated here independently — writer and
    // reader share one helper, so a wrong constant there would
    // otherwise cancel out
    val check = {
      val c = new java.util.zip.CRC32C
      c.update("123456789".getBytes("US-ASCII"))
      c.getValue
    }
    assert(check == 0xE3069283L, f"CRC32C check vector: $check%x")
    val fr = TfRecord.frame("123456789".getBytes("US-ASCII"))
    val maskedExpected =
      (((check >>> 15) | (check << 17)) + 0xa282ead8L) & 0xFFFFFFFFL
    val payloadCrc = ByteBuffer.wrap(fr, 12 + 9, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt() & 0xFFFFFFFFL
    assert(payloadCrc == maskedExpected,
      f"frame payload CRC $payloadCrc%x != masked check $maskedExpected%x")
    // roundtrip + gating: clean verifies; a flipped length-CRC byte
    // NULLs the length (never mis-slices); a flipped payload byte
    // reads 0 from the verdict
    assert(TfRecord.lengthChecked(fr) == 9L && TfRecord.payloadOk(fr) == 1L)
    val badLen = fr.clone(); badLen(9) = (badLen(9) ^ 0x40).toByte
    val badPay = fr.clone(); badPay(14) = (badPay(14) ^ 0x40).toByte
    val truncated = fr.dropRight(2)
    val r2 = Seq((fr, badLen, badPay, truncated))
      .toDF("g", "bl", "bp", "tr")
      .selectExpr("tfrecord_length(g) a", "tfrecord_payload_ok(g) b",
        "tfrecord_length(bl) c", "tfrecord_payload_ok(bp) d",
        "tfrecord_payload_ok(tr) e").head()
    assert(r2.getLong(0) == 9L && r2.getLong(1) == 1L)
    assert(r2.isNullAt(2))
    assert(r2.getLong(3) == 0L && r2.getLong(4) == 0L)
  }

  test("protobuf scan: wire-type skipping, budget, and malformed input") {
    def vint(v: Long): Array[Byte] = {
      var x = v; val b = scala.collection.mutable.ArrayBuffer[Byte]()
      while (x >= 0x80) { b += ((x & 0x7F) | 0x80).toByte; x >>= 7 }
      b += x.toByte; b.toArray
    }
    def tag(fld: Int, wt: Int) = vint((fld << 3 | wt).toLong)
    // field 7 varint sits behind a fixed64 (field 2), a nested
    // length-delimited (field 3) and a fixed32 (field 4) — all skipped
    // by declared wire type, none decoded
    val msg = tag(2, 1) ++ Array.fill[Byte](8)(0x55) ++
      tag(3, 2) ++ vint(5) ++ Array.fill[Byte](5)(0x66) ++
      tag(4, 5) ++ Array.fill[Byte](4)(0x77) ++
      tag(7, 0) ++ vint(300L)
    val group = tag(1, 3) ++ vint(1) // deprecated group wire type
    val longVarint = tag(1, 0) ++ Array.fill[Byte](11)(0x80.toByte)
    val lenPastEnd = tag(3, 2) ++ vint(99)
    val bigVal = tag(1, 0) ++ vint(-1L) // 10-byte varint, bit 63 set
    val r = Seq((msg, group, longVarint, lenPastEnd, bigVal))
      .toDF("m", "g", "lv", "pe", "bv")
      .selectExpr("pb_varint_field(m, 7) a", "pb_len_field(m, 3) b",
        "pb_varint_field(m, 5) c", "pb_varint_field(g, 1) d",
        "pb_varint_field(lv, 1) e", "pb_len_field(pe, 3) f",
        "pb_varint_field(bv, 1) g").head()
    assert(r.getLong(0) == 300L && r.getLong(1) == 5L)
    (2 until 7).foreach(i => assert(r.isNullAt(i), s"field $i"))
    // 33 fields exceed the 32-field scan budget
    val deep = (1 to 33).flatMap(i => tag(i, 0) ++ vint(1L)).toArray ++
      (tag(40, 0) ++ vint(9L))
    assert(PbVarintField(Literal(deep), Literal(40)).eval() == null)
    assert(PbVarintField(Literal(msg), Literal(7)).eval() == 300L)
    assert(PbLenField(Literal(msg.dropRight(1)), Literal(3)).eval() == 5L)
  }

  test("protobuf scan: a field number of 0 or past 2^29-1 is malformed") {
    def bs(hex: String) = hex.grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray
    // tag varint F8 FF FF FF 7F = field 2^32-1, wire type 0, then 9: the
    // number must not wrap to field -1 (nor to any valid number)
    val wrapped = bs("F8FFFFFF7F09")
    // the largest valid field number (2^29-1) still reads
    val maxOk = bs("F8FFFFFF0F09")
    val field0 = bs("0009") ++ bs("0807") // field 0, then field 1 = 7
    Seq(-1, 1, 536870911).foreach { f =>
      assert(PbVarintField(Literal(wrapped), Literal(f)).eval() == null,
        s"field $f of a wrapped tag")
    }
    assert(PbVarintField(Literal(maxOk), Literal(536870911)).eval() == 9L)
    assert(PbVarintField(Literal(field0), Literal(1)).eval() == null)
    assert(PbVarintField(Literal(field0), Literal(0)).eval() == null)
    assert(PbLenField(Literal(bs("0200")), Literal(0)).eval() == null)
  }

  test("utf8_valid: acceptance boundaries per RFC 3629") {
    def bs(hex: String) = hex.grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray
    val valid = Seq(
      "" -> "empty", "7F" -> "ascii max", "C280" -> "U+0080 min 2-byte",
      "DFBF" -> "U+07FF max 2-byte", "E0A080" -> "U+0800 min 3-byte",
      "ED9FBF" -> "U+D7FF below surrogates",
      "EE8080" -> "U+E000 above surrogates",
      "EFBFBF" -> "U+FFFF", "F0908080" -> "U+10000 min 4-byte",
      "F48FBFBF" -> "U+10FFFF max code point")
    val invalid = Seq(
      "80" -> "lone continuation", "C0AF" -> "overlong slash",
      "C1BF" -> "overlong lead C1", "E09F80" -> "overlong 3-byte",
      "EDA080" -> "surrogate D800", "EDBFBF" -> "surrogate DFFF",
      "F08F8080" -> "overlong 4-byte", "F4908080" -> "past U+10FFFF",
      "F5808080" -> "lead F5", "FF" -> "lead FF",
      "E282" -> "truncated 3-byte", "F09080" -> "truncated 4-byte",
      "C2" -> "truncated 2-byte", "E28080E2" -> "trailing lead")
    valid.foreach { case (h, why) =>
      assert(Utf8Valid(Literal(bs(h))).eval() == true, s"$why ($h)") }
    invalid.foreach { case (h, why) =>
      assert(Utf8Valid(Literal(bs(h))).eval() == false, s"$why ($h)") }
    // codegen path agrees on a mixed batch
    val r = Seq((bs("F48FBFBF"), bs("F4908080")))
      .toDF("a", "b").selectExpr("utf8_valid(a) x", "utf8_valid(b) y")
      .head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("interpreted eval matches codegen output") {
    // Literal.eval exercises nullSafeEval (the non-codegen path); the
    // DataFrame asserts above ran through whole-stage codegen
    assert(PngWidth(Literal(png1x1)).eval() == 1)
    assert(PngColorType(Literal(png1x1)).eval() == 6)
    assert(BmpWidth(Literal(bmp(33, 7, 1))).eval() == 33)
    assert(BmpBpp(Literal(bmp(33, 7, 1))).eval() == 1)
    assert(BmpWidth(Literal("nope".getBytes("UTF-8"))).eval() == null)
    assert(PngHeight(Literal(png1x1.take(19))).eval() == null)
    assert(WavSampleRate(Literal(wav(2, 48000, 32))).eval() == 48000)
    assert(WavChannels(Literal(wav(2, 48000, 32).take(23))).eval() == null)
  }

  test("u32 WAV rates and PNG dimensions past 2^31-1 read NULL; BMP " +
      "stays signed") {
    def put(a: Array[Byte], at: Seq[Int], v: Long, o: ByteOrder) = {
      val c = a.clone()
      at.foreach(p => ByteBuffer.wrap(c).order(o).putInt(p, v.toInt))
      c
    }
    val le = ByteOrder.LITTLE_ENDIAN
    // sample rate @24 and byte rate @28; PNG width @16 and height @20
    val wide = Seq(0x80000000L, 0xFFFFFFFFL).map(v =>
      (put(wav(2, 44100, 16), Seq(24, 28), v, le),
        put(png1x1, Seq(16, 20), v, ByteOrder.BIG_ENDIAN)))
    val fields = Seq[Expression => Expression](
      WavSampleRate, WavByteRate, PngWidth, PngHeight)
    wide.foreach { case (w, p) =>
      Seq(w, w, p, p).zip(fields).foreach { case (b, f) =>
        assert(f(Literal(b)).eval() == null, f(Literal(b)))
      }
    }
    // an RDD-backed frame: the projection runs through whole-stage
    // codegen instead of being folded into a local relation
    val rows = spark.sparkContext.parallelize(wide, 1).toDF("w", "p")
      .selectExpr("wav_sample_rate(w)", "wav_byte_rate(w)",
        "png_width(p)", "png_height(p)").collect()
    assert(rows.length == 2)
    rows.foreach(r => (0 until 4).foreach(i => assert(r.isNullAt(i), r)))
    // the largest INT still decodes, on both paths
    val max = put(png1x1, Seq(16), Int.MaxValue.toLong, ByteOrder.BIG_ENDIAN)
    assert(PngWidth(Literal(max)).eval() == Int.MaxValue)
    assert(spark.sparkContext.parallelize(Seq(Tuple1(max)), 1).toDF("p")
      .selectExpr("png_width(p)").head().getInt(0) == Int.MaxValue)
    // BMP width/height are i32: the same bit patterns read negative
    val neg = put(bmp(1, 1, 24), Seq(18, 22), 0x80000000L, le)
    assert(BmpWidth(Literal(neg)).eval() == Int.MinValue)
    val r = spark.sparkContext.parallelize(Seq(Tuple1(neg)), 1).toDF("b")
      .selectExpr("bmp_width(b)", "bmp_height(b)").head()
    assert(r.getInt(0) == Int.MinValue && r.getInt(1) == Int.MinValue)
  }
}
