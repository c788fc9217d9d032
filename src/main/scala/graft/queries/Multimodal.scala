package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Exact._
import graft.Graft._
import graft.functions.GraftFunctions
import graft.operators.TextOps.P
import graft.operators.{Bpe, Dedup, TextOps, Vectors}
import graft.sources.Tables
import graft.streaming.Streams

import Helpers.{be16, be16Unmasked, be24, be32, be64, bytesLit, h60Of,
  h60Seed, h60TextCharsOf, h60TextOf, le16Hex, le16Unmasked, le32Hex, one,
  u16be, u16le, u32be, u32le, u8}

/** Multimodal pipeline queries: each document's UTF-8 payload becomes a
  * REAL BMP object (hash-derived dimensions written into a spec-correct
  * header, text bytes as the pixel payload), and the feature pass
  * decodes the header back with the codegen'd Catalyst expressions
  * (functions/MediaHeader.scala) — the same first-class path as
  * q177–q206. Every scalar decode in the catalog is a Catalyst
  * expression, with zero MapPartitions nodes in any batch plan (pinned
  * by CatalogInvariantSpec). Oracle-checkable because the
  * header fields are pure functions of the payload md5, re-derived by
  * SQL from the synthesis parameters (the q192 pattern).
  */
object MultimodalQ {

  /** Synthesize the hash-chosen media payload per document: adds
    * `blob` (plus the derivation columns) to a frame with doc_id+text.
    * Works identically on batch and streaming frames — every
    * expression is stateless. Single source for q192 and q193. */
  private def withMediaBlob(spark: SparkSession, docs: DataFrame)
      : DataFrame = {
    GraftFunctions.register(spark)
    // first magic byte, flipped on the corrupt slice (each format's
    // corrupt form matches NO other format's magic — disjoint set)
    def lead(ok: Int, bad: Int) =
      expr(s"le_encode_u8(CASE WHEN corrupt THEN $bad ELSE $ok END)")
    val bmp = concat(lead(0x42, 0x43), lit("M".getBytes("US-ASCII")),
      expr("le_encode_u32(54)"), expr("le_encode_u32(0)"),
      expr("le_encode_u32(54)"), expr("le_encode_u32(40)"),
      expr("le_encode_u32(w)"), expr("le_encode_u32(hgt)"),
      expr("le_encode_u32(1 + 24 * 65536)"))
    val png = concat(lead(0x89, 0x88), bytesLit("504E470D0A1A0A"),
      bytesLit("0000000D"), lit("IHDR".getBytes("US-ASCII")),
      be32("w"), be32("hgt"), bytesLit("0806000000"))
    val gif = concat(lead(0x47, 0x48), lit("IF89a".getBytes("US-ASCII")),
      le16Unmasked("w % 65536"), le16Unmasked("hgt % 65536"), bytesLit("910000"))
    val jpeg = concat(lead(0xFF, 0xFE), bytesLit("D8"),
      bytesLit("FFE000104A46494600010100000100010000"),
      bytesLit("FFC00011"), bytesLit("08"), be16Unmasked("hgt"), be16Unmasked("w"),
      bytesLit("03011100021101031101"))
    val wav = concat(lead(0x52, 0x51), lit("IFF".getBytes("US-ASCII")),
      expr("le_encode_u32(36)"), lit("WAVEfmt ".getBytes("US-ASCII")),
      expr("le_encode_u32(16)"), le16Unmasked("1"), le16Unmasked("2"),
      expr("le_encode_u32(rate)"), expr("le_encode_u32(rate * 4)"),
      le16Unmasked("4"), le16Unmasked("16"))
    val mp4 = concat(bytesLit("00000018"), lead(0x66, 0x67),
      lit("typisom".getBytes("US-ASCII")), bytesLit("00000200"),
      lit("isomiso2".getBytes("US-ASCII")),
      bytesLit("000000246D6F6F760000001C6D766864" +
        "000000000000000000000000"),
      be32("ts"), be32("dur"))
    docs
      .select(col("doc_id"),
        h60Seed.as("h60"))
      .withColumn("pick", expr("CAST(h60 % 6 AS INT)"))
      .withColumn("corrupt", expr("h60 % 10 = 0"))
      .withColumn("w", expr("CAST(1 + (h60 DIV 6) % 4096 AS INT)"))
      .withColumn("hgt", expr("CAST(1 + (h60 DIV 24576) % 4096 AS INT)"))
      .withColumn("rate", element_at(
        array(Seq(8000, 16000, 22050, 44100, 48000, 96000).map(lit): _*),
        expr("CAST((h60 DIV 6) % 6 AS INT)") + 1))
      .withColumn("ts", element_at(
        array(Seq(600, 1000, 44100, 90000).map(lit): _*),
        expr("CAST((h60 DIV 6) % 4 AS INT)") + 1))
      .withColumn("dur", expr("CAST(1 + (h60 DIV 24) % 100000000 AS INT)"))
      .withColumn("blob",
        when(col("pick") === 0, bmp).when(col("pick") === 1, png)
          .when(col("pick") === 2, gif).when(col("pick") === 3, jpeg)
          .when(col("pick") === 4, wav).otherwise(mp4))
  }

  /** Parameter-level oracle, shared verbatim by q192 (batch) and q193
    * (streaming) — identical expected manifests make stream/batch
    * equivalence part of the gate. */
  private val ManifestOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
       |  FROM documents),
       |p AS (SELECT doc_id,
       |    h60 % 6 AS pick,
       |    (h60 % 10 = 0) AS corrupt,
       |    1 + (h60 // 6) % 4096 AS w,
       |    1 + (h60 // 24576) % 4096 AS hgt,
       |    CASE (h60 // 6) % 6 WHEN 0 THEN 8000 WHEN 1 THEN 16000
       |      WHEN 2 THEN 22050 WHEN 3 THEN 44100
       |      WHEN 4 THEN 48000 ELSE 96000 END AS rate,
       |    CASE (h60 // 6) % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
       |      WHEN 2 THEN 44100 ELSE 90000 END AS ts,
       |    1 + (h60 // 24) % 100000000 AS dur
       |  FROM d),
       |r AS (SELECT doc_id,
       |    CASE WHEN corrupt THEN 'corrupt'
       |      ELSE CASE pick WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
       |        WHEN 2 THEN 'gif' WHEN 3 THEN 'jpeg'
       |        WHEN 4 THEN 'wav' ELSE 'mp4' END END AS fmt,
       |    CASE WHEN NOT corrupt AND pick <= 3 THEN w END AS width,
       |    CASE WHEN NOT corrupt AND pick <= 3 THEN hgt END AS height,
       |    CASE WHEN NOT corrupt AND pick = 4 THEN rate END AS rate,
       |    CASE WHEN NOT corrupt AND pick = 5
       |      THEN CAST(dur AS BIGINT) * 1000 // ts END AS dms
       |  FROM p)
       |SELECT fmt, COUNT(*) AS n,
       |  CAST(SUM(width) AS BIGINT) AS sum_w,
       |  CAST(SUM(height) AS BIGINT) AS sum_h,
       |  CAST(SUM(rate) AS BIGINT) AS sum_rate,
       |  CAST(SUM(dms) AS BIGINT) AS sum_dur_ms
       |FROM r GROUP BY 1""".stripMargin

  /** Parameter-level oracle shared verbatim by q205 (batch) and q206
    * (streaming) — identical expected manifests put stream/batch
    * equivalence inside the gate hash (the q192/q193 pattern). */
  // lazy: declared after `all`, which references it at object init
  private lazy val Manifest10Oracle: String =
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    h60 % 10 AS pick,
         |    (h60 % 11 = 0) AS corrupt,
         |    1 + (h60 // 10) % 4096 AS w,
         |    1 + (h60 // 40960) % 4096 AS hgt,
         |    CASE (h60 // 3) % 6 WHEN 0 THEN 8000 WHEN 1 THEN 16000
         |      WHEN 2 THEN 22050 WHEN 3 THEN 44100 WHEN 4 THEN 48000
         |      ELSE 96000 END AS arate,
         |    CASE (h60 // 7) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
         |      ELSE 32000 END AS mrate,
         |    CASE (h60 // 6) % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
         |      WHEN 2 THEN 44100 ELSE 90000 END AS ts,
         |    1 + (h60 // 24) % 100000000 AS dur
         |  FROM d),
         |r AS (SELECT doc_id,
         |    CASE WHEN corrupt THEN 'corrupt'
         |      ELSE CASE pick WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
         |        WHEN 2 THEN 'gif' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'webp'
         |        WHEN 5 THEN 'tiff' WHEN 6 THEN 'wav' WHEN 7 THEN 'mp3'
         |        WHEN 8 THEN 'flac' ELSE 'mp4' END END AS fmt,
         |    CASE WHEN NOT corrupt AND pick <= 5 THEN w END AS width,
         |    CASE WHEN NOT corrupt AND pick <= 5 THEN hgt END AS height,
         |    CASE WHEN NOT corrupt AND pick IN (6, 8) THEN arate
         |      WHEN NOT corrupt AND pick = 7 THEN mrate END AS rate,
         |    CASE WHEN NOT corrupt AND pick = 9
         |      THEN CAST(dur AS BIGINT) * 1000 // ts END AS dms
         |  FROM p)
         |SELECT fmt, COUNT(*) AS n,
         |  CAST(SUM(width) AS BIGINT) AS sum_w,
         |  CAST(SUM(height) AS BIGINT) AS sum_h,
         |  CAST(SUM(rate) AS BIGINT) AS sum_rate,
         |  CAST(SUM(dms) AS BIGINT) AS sum_dur_ms
         |FROM r GROUP BY 1""".stripMargin

  /** Hash-synthesized ten-format media payload per document (adds
    * `blob` + derivation columns). Every expression is stateless, so
    * batch and streaming frames share this single source. */
  private def withMediaBlob10(spark: SparkSession,
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      graft.functions.GraftFunctions.register(spark)
      def ascii(s: String) = lit(s.getBytes("US-ASCII"))
      // each format's corrupt lead byte matches NO format's magic
      def lead(ok: Int, bad: Int) =
        expr(s"le_encode_u8(CASE WHEN corrupt THEN $bad ELSE $ok END)")
      val bmp = concat(lead(0x42, 0x43), ascii("M"),
        u32le("54"), u32le("0"), u32le("54"), u32le("40"),
        u32le("w"), u32le("hgt"), u32le((1 + 24 * 65536).toString))
      val png = concat(lead(0x89, 0x88), bytesLit("504E470D0A1A0A"),
        bytesLit("0000000D"), ascii("IHDR"), u32be("w"), u32be("hgt"),
        bytesLit("0806000000"))
      val gif = concat(lead(0x47, 0x48), ascii("IF89a"),
        u16le("w"), u16le("hgt"), bytesLit("910000"))
      val jpeg = concat(lead(0xFF, 0xFE), bytesLit("D8"),
        bytesLit("FFE000104A46494600010100000100010000"),
        bytesLit("FFC00011"), bytesLit("08"), u16be("hgt"), u16be("w"),
        bytesLit("03011100021101031101"))
      // VP8L flavor: w,hgt <= 4096 fit the 14-bit packed fields
      val webp = concat(lead(0x52, 0x53), ascii("IFF"), u32le("30"),
        ascii("WEBPVP8L"), u32le("5"), bytesLit("2F"),
        u8("(w - 1) % 256"),
        u8("(w - 1) DIV 256 + ((hgt - 1) % 4) * 64"),
        u8("(hgt - 1) DIV 4 % 256"), u8("(hgt - 1) DIV 1024"))
      def tifEntry(tag: Int, v: String) = concat(u16le(tag.toString),
        u16le("3"), u32le("1"), u16le(v), bytesLit("0000"))
      val tiff = concat(lead(0x49, 0x4A), ascii("I"), u16le("42"),
        u32le("8"), u16le("2"), tifEntry(256, "w"), tifEntry(257, "hgt"),
        u32le("0"))
      val wav = concat(lead(0x52, 0x51), ascii("IFF"), u32le("36"),
        ascii("WAVEfmt "), u32le("16"), u16le("1"), u16le("2"),
        u32le("arate"), u32le("arate * 4"), u16le("4"), u16le("16"))
      val mp3 = concat(lead(0xFF, 0xFE), bytesLit("FB"),
        u8("(1 + (h60 DIV 5) % 14) * 16 + ((h60 DIV 7) % 3) * 4"),
        bytesLit("00"))
      val flacPacked = "arate * 17592186044416 + 1 * 2199023255552" +
        " + 15 * 68719476736 + (h60 DIV 13) % 68719476736"
      val flac = concat(lead(0x66, 0x67), ascii("LaC"), bytesLit("00"),
        bytesLit("000022"), u16be("4608"), u16be("4608"),
        bytesLit("000000000000"),
        u32be(s"($flacPacked) DIV 4294967296"),
        u32be(s"($flacPacked) % 4294967296"),
        bytesLit("00" * 16))
      val mp4 = concat(bytesLit("00000018"), lead(0x66, 0x67),
        ascii("typisom"), bytesLit("00000200"), ascii("isomiso2"),
        bytesLit("000000246D6F6F760000001C6D766864000000000000000000000000"),
        u32be("ts"), u32be("dur"))
      docs
        .select(col("doc_id"),
          h60Seed.as("h60"))
        .withColumn("pick", expr("CAST(h60 % 10 AS INT)"))
        .withColumn("corrupt", expr("h60 % 11 = 0"))
        .withColumn("w", expr("1 + (h60 DIV 10) % 4096"))
        .withColumn("hgt", expr("1 + (h60 DIV 40960) % 4096"))
        .withColumn("arate", element_at(
          array(Seq(8000, 16000, 22050, 44100, 48000, 96000).map(lit): _*),
          expr("CAST((h60 DIV 3) % 6 AS INT)") + 1))
        .withColumn("ts", element_at(
          array(Seq(600, 1000, 44100, 90000).map(lit): _*),
          expr("CAST((h60 DIV 6) % 4 AS INT)") + 1))
        .withColumn("dur", expr("CAST(1 + (h60 DIV 24) % 100000000 AS INT)"))
        .withColumn("blob",
          when(col("pick") === 0, bmp).when(col("pick") === 1, png)
            .when(col("pick") === 2, gif).when(col("pick") === 3, jpeg)
            .when(col("pick") === 4, webp).when(col("pick") === 5, tiff)
            .when(col("pick") === 6, wav).when(col("pick") === 7, mp3)
            .when(col("pick") === 8, flac).otherwise(mp4))
  }

  /** Varint bytes of a non-negative SQL expression < 2^35 (1-5 bytes,
    * LSB-first, continuation bit). Five bytes, not four: the stress
    * replicas offset doc_id by 1e9 per copy, and a synthesizer capped
    * at 2^28 emitted a garbage final byte there — caught by the 10x
    * gate exactly as designed. */
  private def varint(x: String): org.apache.spark.sql.Column = {
    def u8(e: String) = expr(s"le_encode_u8(CAST(($e) AS INT))")
    when(expr(s"($x) < 128"), u8(s"$x"))
      .when(expr(s"($x) < 16384"),
        concat(u8(s"($x) % 128 + 128"), u8(s"($x) DIV 128")))
      .when(expr(s"($x) < 2097152"),
        concat(u8(s"($x) % 128 + 128"), u8(s"($x) DIV 128 % 128 + 128"),
          u8(s"($x) DIV 16384")))
      .when(expr(s"($x) < 268435456"),
        concat(u8(s"($x) % 128 + 128"),
          u8(s"($x) DIV 128 % 128 + 128"),
          u8(s"($x) DIV 16384 % 128 + 128"), u8(s"($x) DIV 2097152")))
      .otherwise(concat(u8(s"($x) % 128 + 128"),
        u8(s"($x) DIV 128 % 128 + 128"),
        u8(s"($x) DIV 16384 % 128 + 128"),
        u8(s"($x) DIV 2097152 % 128 + 128"),
        u8(s"($x) DIV 268435456")))
  }

  private val Names = Seq("m0.txt", "m1.bin", "m2.dat")
  private val Sizes = Seq(40L, 96L, 520L)

  // q226 WebDataset slots: sample stem + modality extension per member
  private val WdsNames = Seq("000.txt", "000.bin", "001.txt")

  /** 512-byte ustar header with fixed mode/uid/gid/mtime, unvalidated
    * checksum field (spaces — the walk's documented contract), and the
    * given magic. */
  private def hdrBytes(name: String, size: Long,
      magic: String = "ustar"): Array[Byte] = {
    val b = new Array[Byte](512)
    def put(s: String, off: Int): Unit =
      System.arraycopy(s.getBytes("UTF-8"), 0, b, off, s.length)
    put(name, 0)
    put("0000644\u0000", 100)
    put("0000000\u0000", 108)
    put("0000000\u0000", 116)
    put(f"$size%011o" + "\u0000", 124)
    put("00000000000\u0000", 136)
    put("        ", 148)
    b(156) = '0'
    put(magic + "\u0000", 257)
    put("00", 263)
    b
  }

  private def pad(size: Long): Int = ((512 - size % 512) % 512).toInt

  // ---- q228 PKZIP slots ------------------------------------------------
  private val ZipNames = Seq("a.txt", "b.bin", "c.dat")
  private val ZipSizes = Seq(40L, 96L, 300L)

  /** 30-byte LFH + name, method 0 (stored), zeroed time/crc — all
    * constant per slot; only the data bytes vary per document. */
  private def lfhBytes(name: String, size: Long,
      flags: Int = 0): Array[Byte] = {
    val n = name.getBytes("UTF-8")
    val b = java.nio.ByteBuffer.allocate(30 + n.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0x04034B50)
    b.putShort(20).putShort(flags.toShort).putShort(0) // ver/flags/method
    b.putShort(0).putShort(0)                          // time/date
    b.putInt(0)                                        // crc (unwalked)
    b.putInt(size.toInt).putInt(size.toInt)            // comp/uncomp
    b.putShort(n.length.toShort).putShort(0)           // name/extra len
    b.put(n)
    b.array()
  }

  /** End-of-central-directory record: signature + zeroed fields. */
  private val Eocd: Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(22)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0x06054B50)
    b.array()
  }

  private val TarSize = 40L
  private val ZipSize = 56L

  /** Shared oracle: parameter-level per-codec expectation. */
  private val OracleSql: String =
    s"""WITH d AS (SELECT doc_id, strlen(text) AS nbytes,
       |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
       |  FROM documents),
       |p AS (SELECT doc_id, nbytes, h60 % 7 AS pick,
       |    (h60 // 7) % 4294967296 AS zsz
       |  FROM d),
       |r AS (SELECT doc_id,
       |    CASE pick WHEN 0 THEN 'gzip' WHEN 1 THEN 'zstd'
       |      WHEN 2 THEN 'tfrecord' WHEN 3 THEN 'tar' WHEN 4 THEN 'zip'
       |      WHEN 5 THEN 'ogg'
       |      ELSE 'corrupt' END AS codec,
       |    CASE pick WHEN 1 THEN zsz WHEN 2 THEN nbytes
       |      WHEN 3 THEN $TarSize WHEN 4 THEN $ZipSize END AS declared
       |  FROM p)
       |SELECT codec, COUNT(*) AS n,
       |  CAST(SUM(declared) AS BIGINT) AS sum_declared
       |FROM r GROUP BY 1""".stripMargin

  /** The shared per-row synthesis + sniff + rollup over a documents
    * frame (batch or streaming — identical column pipeline). */
  private def manifestOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val gz = concat(bytesLit("1F8B0800"),
      expr("le_encode_u32(CAST(h60 % 2147483648 AS INT))"),
      bytesLit("0003"))
    val zstd = concat(bytesLit("28B52FFD"), bytesLit("A0"),
      concat(u8("zsz"), u8("zsz DIV 256"), u8("zsz DIV 65536"),
        u8("zsz DIV 16777216")))
    val tar = concat(
      lit(hdrBytes("t.txt", TarSize)),
      expr(s"substring(CAST(rpad(text, 600, 'x') AS BINARY), 1, $TarSize)"),
      lit(new Array[Byte](pad(TarSize))),
      lit(new Array[Byte](1024)))
    val zip = concat(
      lit(lfhBytes("z.txt", ZipSize)),
      expr(s"substring(CAST(rpad(text, 600, 'x') AS BINARY), 1, $ZipSize)"),
      lit(Eocd))
    // minimal Ogg BOS page carrying an OpusHead first packet (q207's
    // clean one-segment layout): constant except the u32 LE serial
    val ogg = concat(
      bytesLit("4F676753" + "0002" + "00" * 8),           // OggS v0 BOS + granule
      expr("le_encode_u32(CAST(h60 % 2147483648 AS INT))"), // serial
      bytesLit("00" * 8 + "01" + "13"),                   // seq+crc, 1 lacing of 19
      lit("OpusHead".getBytes("US-ASCII")),
      bytesLit("0102" + "0000" + "80BB0000" + "000000"))  // v1 ch=2 48kHz
    docs
      .withColumn("pick", expr("CAST(h60 % 7 AS INT)"))
      .withColumn("zsz", expr("(h60 DIV 7) % 4294967296"))
      .withColumn("fr", expr("tfrecord_frame(CAST(text AS BINARY))"))
      .withColumn("b", when(col("pick") === 0, gz)
        .when(col("pick") === 1, zstd)
        .when(col("pick") === 2, col("fr"))
        .when(col("pick") === 3, tar)
        .when(col("pick") === 4, zip)
        .when(col("pick") === 5, ogg)
        .otherwise(bytesLit("00DECAFBAD")))
      .codecSniffed("b")
      .groupBy(col("codec"))
      .agg(count(lit(1)).as("n"),
        sum(col("declared_size")).as("sum_declared"))
  }

  val all: Seq[Qry] = Seq(

    // ---- binary payload + typed metadata + codegen'd feature decode ----
    // n_frames is typed METADATA riding beside the blob (a still image
    // decodes one frame; the sampler parameter arrives from ingestion),
    // exactly how a real multimodal table carries per-object hints the
    // payload itself cannot cheaply answer.
    Qry(
      "q48_media_features",
      s"""SELECT doc_id AS media_id, 'image/bmp' AS mime,
         |  CAST(30 + strlen(text) AS BIGINT) AS n_bytes,
         |  CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS checksum,
         |  CAST(64 + CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
         |    % 193 AS INTEGER) AS width,
         |  CAST(64 + (CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
         |    // 193) % 193 AS INTEGER) AS height,
         |  CAST(1 + CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
         |    % 7 AS INTEGER) AS n_frames
         |FROM documents""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      def le32(x: String) = expr(s"le_encode_u32(CAST(($x) AS INT))")
      // spec-correct 30-byte BMP prefix (magic, declared sizes, DIB
      // width/height/planes+bpp) + the document bytes as pixel payload
      val blob = concat(lit("BM".getBytes("US-ASCII")),
        le32("54"), le32("0"), le32("54"), le32("40"),
        le32("w"), le32("hgt"), le32((1 + 24 * 65536).toString),
        expr("CAST(text AS BINARY)"))
      Tables(spark, dir).documents
        .select($"doc_id", $"text",
          h60Seed.as("h60"))
        .withColumn("w", expr("CAST(64 + h60 % 193 AS INT)"))
        .withColumn("hgt", expr("CAST(64 + (h60 DIV 193) % 193 AS INT)"))
        .withColumn("blob", blob)
        .select($"doc_id".as("media_id"), lit("image/bmp").as("mime"),
          octet_length($"blob").cast("long").as("n_bytes"),
          $"h60".as("checksum"),
          expr("bmp_width(blob)").as("width"),
          expr("bmp_height(blob)").as("height"),
          expr("CAST(1 + h60 % 7 AS INT)").as("n_frames"))
    },

    // ---- frame sampling: bounded per-media explode ---------------------
    Qry(
      "q49_frame_sample",
      s"""WITH f AS (
         |  SELECT doc_id AS media_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60,
         |    CAST(1 + CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
         |      % 7 AS INTEGER) AS n_frames
         |  FROM documents)
         |SELECT media_id, CAST(unnest(range(n_frames)) AS INTEGER)
         |    AS frame_idx,
         |  ((h60 % $P) * 31 + unnest(range(n_frames))) % $P AS frame_hash
         |FROM f""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"doc_id".as("media_id"),
          h60Seed.as("checksum"))
        .select($"media_id", $"checksum",
          explode(sequence(lit(0),
            expr("CAST(checksum % 7 AS INT)"))).as("frame_idx"))
        .select($"media_id", $"frame_idx",
          ((($"checksum" % P) * 31 + $"frame_idx") % P).as("frame_hash"))
    },

    // Multimodal resize planning, the Spark 4
    // VARIANT path, and corpus-inequality measurement.
    // ---- thumbnail-dimension planning (multimodal metadata op) ---------
    // Aspect-preserving fit of every media item into a 128x128 box using
    // ONLY integer arithmetic (w*128 div max-side), so both engines agree
    // exactly; the decode-free half of a resize stage — the pixel work
    // happens in the q48 mapPartitions stub, the PLANNING is relational.
    // Derives (w, h) from the same md5-synthesized metadata as q48.
    Qry(
      "q126_thumb_dims",
      """WITH m AS (SELECT
        |    CAST(64 + CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
        |      % 193 AS BIGINT) AS w,
        |    CAST(64 + (CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
        |      // 193) % 193 AS BIGINT) AS h
        |  FROM documents),
        |d AS (SELECT w, h,
        |    CASE WHEN w >= h THEN 128 ELSE (w * 128) // h END AS tw,
        |    CASE WHEN w >= h THEN (h * 128) // w ELSE 128 END AS th
        |  FROM m)
        |SELECT tw, th, COUNT(*) AS n,
        |  CAST(MIN(w) AS BIGINT) AS min_w, CAST(MAX(h) AS BIGINT) AS max_h
        |FROM d GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val m = Tables(spark, dir).documents.select(h60Seed.as("h60"))
        .select((lit(64L) + $"h60" % 193).as("w"),
          (lit(64L) + expr("h60 div 193") % 193).as("h"))
      m.select($"w", $"h",
          when($"w" >= $"h", lit(128L))
            .otherwise(expr("(w * 128) div h")).as("tw"),
          when($"w" >= $"h", expr("(h * 128) div w"))
            .otherwise(lit(128L)).as("th"))
        .groupBy($"tw", $"th")
        .agg(count(one).as("n"), min($"w").as("min_w"),
          max($"h").as("max_h"))
    },

    // REAL multimodal header decode.
    //
    // q177 replaces a "stub decode" for image metadata: each document's
    // payload hash parameterizes a VALID 54-byte BMP header
    // (BITMAPFILEHEADER + BITMAPINFOHEADER, public layout) serialized with
    // the codegen'd `le_encode_*` wire expressions, and the metadata is
    // then recovered by PARSING THE BYTES with the native `bmp_width` /
    // `bmp_height` / `bmp_bpp` Catalyst expressions
    // (functions/MediaHeader.scala) — magic check + fixed-offset
    // little-endian reads inside whole-stage codegen, no UDF, no codec. The
    // DuckDB oracle builds the identical blob (printf-hex → unhex) and
    // decodes it by slicing the blob's hex serialization byte-for-byte, so
    // the hash match proves the parse reads the actual public byte layout,
    // not a formula shortcut. Scale shape: one documents scan, everything
    // row-local — the metadata-extraction pass a 100 TB media corpus runs
    // as its first curation step. Genuinely codec-requiring work (pixel
    // decode, frame extraction) would ride the same binary columns through
    // partition-batched iteration once a codec exists in the deployment;
    // header fields never need one.
    // ---- BMP header synth + native parse ------------------------------
    Qry(
      "q177_media_header_decode", {
        // little-endian u32 as 4 hex pairs (DuckDB builds the blob from
        // hex and slices hex back out — its substring() has no BLOB
        // overload, so hex(blob) IS the slicing surface)
        def le32(x: String) =
          s"printf('%02x%02x%02x%02x', ($x)%256, (($x)//256)%256," +
            s" (($x)//65536)%256, (($x)//16777216)%256)"
        def sl(off: Int) = s"substr(hx, ${2 * off + 1}, 2)"
        def leRead(off: Int, n: Int) =
          (off + n - 1).to(off, -1).map(sl).mkString(" || ")
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    64 + h60 % 1921 AS w, 64 + (h60 // 1921) % 1081 AS h,
           |    CASE h60 % 6 WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 8
           |      WHEN 3 THEN 16 WHEN 4 THEN 24 ELSE 32 END AS bpp
           |  FROM d),
           |g AS (SELECT doc_id, w, h, bpp,
           |    ((bpp * w + 31) // 32) * 4 * h AS isz FROM p),
           |b AS (SELECT doc_id, unhex('424d' || ${le32("54 + isz")}
           |    || '00000000' || '36000000' || '28000000'
           |    || ${le32("w")} || ${le32("h")}
           |    || '0100' || printf('%02x', bpp) || '00' || '00000000'
           |    || ${le32("isz")} || '130b0000' || '130b0000'
           |    || '00000000' || '00000000') AS blob FROM g),
           |x AS (SELECT doc_id, hex(blob) AS hx FROM b)
           |SELECT doc_id AS media_id,
           |  CAST(('0x' || ${leRead(18, 4)}) AS INTEGER) AS width,
           |  CAST(('0x' || ${leRead(22, 4)}) AS INTEGER) AS height,
           |  CAST(('0x' || ${leRead(28, 2)}) AS INTEGER) AS bpp,
           |  CAST(('0x' || ${leRead(2, 4)}) AS BIGINT) AS file_bytes
           |FROM x""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      GraftFunctions.register(spark)
      Tables(spark, dir).documents
        .select($"doc_id",
          h60Seed.as("h60"))
        .withColumn("w", expr("CAST(64 + h60 % 1921 AS INT)"))
        .withColumn("h", expr("CAST(64 + (h60 DIV 1921) % 1081 AS INT)"))
        .withColumn("bpp", element_at(
          array(Seq(1, 4, 8, 16, 24, 32).map(lit): _*),
          ($"h60" % 6).cast("int") + 1))
        .withColumn("isz", expr("((bpp * w + 31) DIV 32) * 4 * h"))
        // 54-byte BITMAPFILEHEADER+BITMAPINFOHEADER, every field the
        // spec's: size/offsets/planes/compression/2835 ppm resolution
        .withColumn("blob", concat(
          lit(Array[Byte](0x42.toByte, 0x4D.toByte)),
          expr("le_encode_u32(CAST(54 + isz AS INT))"),
          expr("le_encode_u32(0)"),
          expr("le_encode_u32(54)"),
          expr("le_encode_u32(40)"),
          expr("le_encode_u32(w)"),
          expr("le_encode_u32(h)"),
          expr("le_encode_u32(1 + bpp * 65536)"),
          expr("le_encode_u32(0)"),
          expr("le_encode_u32(CAST(isz AS INT))"),
          expr("le_encode_u32(2835)"),
          expr("le_encode_u32(2835)"),
          expr("le_encode_u32(0)"),
          expr("le_encode_u32(0)")))
        .select($"doc_id".as("media_id"),
          expr("bmp_width(blob)").as("width"),
          expr("bmp_height(blob)").as("height"),
          expr("bmp_bpp(blob)").as("bpp"),
          expr("le_u32(blob, 2)").as("file_bytes"))
    },

    // The PNG (big-endian) half of the media header decode, completing
    // q177's BMP (little-endian) path.
    //
    // q181 synthesizes a valid 33-byte PNG prefix (8-byte signature + IHDR
    // chunk, public layout) per document from its payload hash and recovers
    // the metadata by PARSING THE BYTES with the native `png_width` /
    // `png_height` / `png_bit_depth` / `png_color_type` Catalyst
    // expressions (functions/MediaHeader.scala) — network-byte-order reads
    // inside whole-stage codegen. Two things q177 does not cover are
    // first-class here:
    //
    //  - the BIG-ENDIAN read path (PNG is network order; BMP is LE), and
    //  - the NULL-degradation contract ON THE ORACLE: ~10% of rows get a
    //    corrupted signature byte, the Spark expressions must decode them
    //    to NULL (never throw — the mixed/corrupt-corpus behavior at
    //    100 TB), and the DuckDB twin states the same magic check
    //    declaratively, so the hash match proves corrupt → NULL, not just
    //    happy-path parsing.
    //
    // The depth/color fields are drawn from spec-valid combinations
    // (colour types 0/2/4/6 with depths 8/16); the IHDR CRC is a fixed
    // dummy — the header parse deliberately reads structure, not
    // integrity (CRC validation is codec-tier work).
    Qry(
      "q181_png_header", {
        // big-endian u32/u8 as hex — network order means the hex string
        // IS the byte order, no per-byte reversal anywhere
        def be32(x: String) = s"printf('%08x', $x)"
        def be8(x: String) = s"printf('%02x', $x)"
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    1 + h60 % 4096 AS w, 1 + (h60 // 4096) % 4096 AS ht,
           |    8 + 8 * (h60 % 2) AS depth,
           |    CASE (h60 // 2) % 4 WHEN 0 THEN 0 WHEN 1 THEN 2
           |      WHEN 2 THEN 4 ELSE 6 END AS color,
           |    (h60 % 10 = 0) AS corrupt
           |  FROM d),
           |b AS (SELECT doc_id, corrupt, unhex(
           |    (CASE WHEN corrupt THEN '88' ELSE '89' END)
           |    || '504e470d0a1a0a' || '0000000d' || '49484452'
           |    || ${be32("w")} || ${be32("ht")}
           |    || ${be8("depth")} || ${be8("color")}
           |    || '000000' || 'deadbeef') AS blob FROM p),
           |x AS (SELECT doc_id, hex(blob) AS hx FROM b)
           |SELECT doc_id AS media_id,
           |  CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A'
           |         AND substr(hx, 25, 8) = '49484452'
           |    THEN CAST(('0x' || substr(hx, 33, 8)) AS INTEGER)
           |    ELSE NULL END AS width,
           |  CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A'
           |         AND substr(hx, 25, 8) = '49484452'
           |    THEN CAST(('0x' || substr(hx, 41, 8)) AS INTEGER)
           |    ELSE NULL END AS height,
           |  CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A'
           |         AND substr(hx, 25, 8) = '49484452'
           |    THEN CAST(('0x' || substr(hx, 49, 2)) AS INTEGER)
           |    ELSE NULL END AS bit_depth,
           |  CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A'
           |         AND substr(hx, 25, 8) = '49484452'
           |    THEN CAST(('0x' || substr(hx, 51, 2)) AS INTEGER)
           |    ELSE NULL END AS color_type
           |FROM x""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      GraftFunctions.register(spark)
      Tables(spark, dir).documents
        .select($"doc_id",
          h60Seed.as("h60"))
        .withColumn("w", expr("CAST(1 + h60 % 4096 AS INT)"))
        .withColumn("ht", expr("CAST(1 + (h60 DIV 4096) % 4096 AS INT)"))
        .withColumn("depth", expr("CAST(8 + 8 * (h60 % 2) AS INT)"))
        .withColumn("color", element_at(
          array(Seq(0, 2, 4, 6).map(lit): _*),
          // integer DIV, never `/`: h60 is a 60-bit value and a double
          // quotient drops low bits beyond the 53-bit mantissa
          expr("CAST((h60 DIV 2) % 4 AS INT)") + 1))
        .withColumn("blob", concat(
          expr("le_encode_u8(CASE WHEN h60 % 10 = 0 THEN 136 ELSE 137 END)"),
          lit(Array[Byte](0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)),
          lit(Array[Byte](0x00, 0x00, 0x00, 0x0D)),
          lit("IHDR".getBytes("US-ASCII")),
          be32("w"), be32("ht"),
          expr("le_encode_u8(depth)"), expr("le_encode_u8(color)"),
          lit(Array[Byte](0x00, 0x00, 0x00)),
          lit(Array[Byte](0xDE.toByte, 0xAD.toByte, 0xBE.toByte,
            0xEF.toByte))))
        .select($"doc_id".as("media_id"),
          expr("png_width(blob)").as("width"),
          expr("png_height(blob)").as("height"),
          expr("png_bit_depth(blob)").as("bit_depth"),
          expr("png_color_type(blob)").as("color_type"))
    },

    // The AUDIO modality's header decode —
    // RIFF/WAVE fmt-chunk fields as native codegen'd expressions — so all
    // three media families (BMP q177, PNG q181, WAV here) parse structural
    // metadata at the same first-class standard.
    //
    // q185 synthesizes a canonical 36-byte WAV header (RIFF + "WAVE" +
    // leading "fmt " chunk, public layout) per document from its payload
    // hash and recovers audio-format / channels / sample-rate / byte-rate /
    // bits-per-sample with the `wav_*` Catalyst expressions
    // (functions/MediaHeader.scala) — little-endian fmt fields inside
    // whole-stage codegen, the RIFF twin of q181's network-order path.
    // The corrupt slice (~10% of rows: 'R' → 'Q' in the RIFF magic) must
    // decode to NULL on BOTH engines — the oracle states the magic check
    // declaratively, so the hash match covers the degradation contract.
    // byte_rate is written as the spec-consistent product
    // rate × channels × bits/8 and parsed back from its own @28 field, so
    // the result is internally consistency-checkable downstream.
    //
    // Reference tie-in: the reference moves raw little-endian field bytes
    // through its ring (reference/src/main.rs:46-62); here the same
    // LE byte discipline parses a public audio container's metadata.
    Qry(
      "q185_wav_header", {
        val magic = "substr(hx, 1, 8) = '52494646'" +
          " AND substr(hx, 17, 8) = '57415645'" +
          " AND substr(hx, 25, 8) = '666D7420'"
        def u16(pos: Int) = s"CAST(('0x' || substr(hx, ${pos + 2}, 2)" +
          s" || substr(hx, $pos, 2)) AS INTEGER)"
        def u32(pos: Int) = s"CAST(('0x' || substr(hx, ${pos + 6}, 2)" +
          s" || substr(hx, ${pos + 4}, 2) || substr(hx, ${pos + 2}, 2)" +
          s" || substr(hx, $pos, 2)) AS INTEGER)"
        def guard(v: String) = s"CASE WHEN $magic THEN $v ELSE NULL END"
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    CASE h60 % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
           |      WHEN 2 THEN 6 ELSE 8 END AS nch,
           |    CASE (h60 // 4) % 6 WHEN 0 THEN 8000 WHEN 1 THEN 16000
           |      WHEN 2 THEN 22050 WHEN 3 THEN 44100
           |      WHEN 4 THEN 48000 ELSE 96000 END AS rate,
           |    CASE (h60 // 24) % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
           |      WHEN 2 THEN 24 ELSE 32 END AS bits,
           |    (h60 % 10 = 0) AS corrupt
           |  FROM d),
           |b AS (SELECT doc_id, unhex(
           |    (CASE WHEN corrupt THEN '51' ELSE '52' END) || '494646'
           |    || ${le32Hex("36")} || '57415645' || '666d7420'
           |    || ${le32Hex("16")} || ${le16Hex("1")} || ${le16Hex("nch")}
           |    || ${le32Hex("rate")} || ${le32Hex("rate * nch * (bits // 8)")}
           |    || ${le16Hex("nch * (bits // 8)")} || ${le16Hex("bits")}) AS blob
           |  FROM p),
           |x AS (SELECT doc_id, hex(blob) AS hx FROM b)
           |SELECT doc_id AS media_id,
           |  ${guard(u16(41))} AS audio_fmt,
           |  ${guard(u16(45))} AS channels,
           |  ${guard(u32(49))} AS sample_rate,
           |  ${guard(u32(57))} AS byte_rate,
           |  ${guard(u16(69))} AS bits
           |FROM x""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      GraftFunctions.register(spark)
      Tables(spark, dir).documents
        .select($"doc_id",
          h60Seed.as("h60"))
        .withColumn("nch", element_at(
          array(Seq(1, 2, 6, 8).map(lit): _*),
          expr("CAST(h60 % 4 AS INT)") + 1))
        .withColumn("rate", element_at(
          array(Seq(8000, 16000, 22050, 44100, 48000, 96000).map(lit): _*),
          // integer DIV, never `/`: h60 is a 60-bit value and a double
          // quotient drops low bits beyond the 53-bit mantissa
          expr("CAST((h60 DIV 4) % 6 AS INT)") + 1))
        .withColumn("bits", element_at(
          array(Seq(8, 16, 24, 32).map(lit): _*),
          expr("CAST((h60 DIV 24) % 4 AS INT)") + 1))
        .withColumn("blob", concat(
          expr("le_encode_u8(CASE WHEN h60 % 10 = 0 THEN 81 ELSE 82 END)"),
          lit("IFF".getBytes("US-ASCII")),
          expr("le_encode_u32(36)"),
          lit("WAVEfmt ".getBytes("US-ASCII")),
          expr("le_encode_u32(16)"),
          le16Unmasked("1"), le16Unmasked("nch"),
          expr("le_encode_u32(rate)"),
          expr("le_encode_u32(rate * nch * (bits DIV 8))"),
          le16Unmasked("nch * (bits DIV 8)"), le16Unmasked("bits")))
        .select($"doc_id".as("media_id"),
          expr("wav_audio_format(blob)").as("audio_fmt"),
          expr("wav_channels(blob)").as("channels"),
          expr("wav_sample_rate(blob)").as("sample_rate"),
          expr("wav_byte_rate(blob)").as("byte_rate"),
          expr("wav_bits_per_sample(blob)").as("bits"))
    },

    // NON-CANONICAL RIFF layouts through the bounded chunk walk —(real
    // corpora contain LIST-first WAVs routinely; treating them as
    // unparseable was a false NULL).
    //
    // q186 synthesizes a WAV per document in one of THREE spec-valid
    // layouts chosen by the payload hash — canonical fmt-first, one LIST
    // metadata chunk before fmt, or LIST + odd-sized JUNK (exercising the
    // RIFF word-alignment pad byte) before fmt — and decodes the fmt
    // fields with the `wav_*` expressions, which now locate the chunk by
    // walking size-prefixed chunk headers (functions/MediaHeader.scala
    // `WavFmt`, budget 8). The corrupt slice (~10%: 'R' → 'Q') still
    // decodes to NULL on both engines. The ORACLE does not walk: it
    // synthesizes the same bytes and reads the fmt fields at the
    // per-layout offsets it KNOWS it placed them at — so a walk that
    // lands anywhere else hash-fails. Scale shape: pure per-row map over
    // a pruned 2-column scan, no shuffle before the (tiny) result.
    //
    // Reference tie-in: the byte-decode capability class of
    // reference/src/main.rs:46-62, done for a real container's
    // variable-layout form.
    Qry(
      "q186_wav_chunked", {
        // pre-fmt chunk bytes per layout: LIST(10-byte payload) = 18,
        // JUNK(7-byte payload + pad) = 16
        val fo = "20 + CASE WHEN layout >= 1 THEN 18 ELSE 0 END" +
          " + CASE WHEN layout = 2 THEN 16 ELSE 0 END"
        val magic = "substr(hx, 1, 8) = '52494646'" +
          " AND substr(hx, 17, 8) = '57415645'"
        // LE reads at a COMPUTED byte offset o (0-based): hex position
        // of byte k is 2k+1
        def u16(o: String) =
          s"CAST(('0x' || substr(hx, 2*($o)+3, 2)" +
            s" || substr(hx, 2*($o)+1, 2)) AS INTEGER)"
        def u32(o: String) =
          s"CAST(('0x' || substr(hx, 2*($o)+7, 2) || substr(hx, 2*($o)+5, 2)" +
            s" || substr(hx, 2*($o)+3, 2) || substr(hx, 2*($o)+1, 2))" +
            " AS INTEGER)"
        def guard(v: String) = s"CASE WHEN $magic THEN $v ELSE NULL END"
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    h60 % 3 AS layout,
           |    CASE (h60 // 3) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
           |      WHEN 2 THEN 6 ELSE 8 END AS nch,
           |    CASE (h60 // 12) % 6 WHEN 0 THEN 8000 WHEN 1 THEN 16000
           |      WHEN 2 THEN 22050 WHEN 3 THEN 44100
           |      WHEN 4 THEN 48000 ELSE 96000 END AS rate,
           |    CASE (h60 // 72) % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
           |      WHEN 2 THEN 24 ELSE 32 END AS bits,
           |    (h60 % 10 = 0) AS corrupt
           |  FROM d),
           |b AS (SELECT doc_id, layout, unhex(
           |    (CASE WHEN corrupt THEN '51' ELSE '52' END) || '494646'
           |    || ${le32Hex("28 + CASE WHEN layout >= 1 THEN 18 ELSE 0 END" +
                " + CASE WHEN layout = 2 THEN 16 ELSE 0 END")}
           |    || '57415645'
           |    || (CASE WHEN layout >= 1
           |      THEN '4C4953540A000000494E464F6A756E6B6A6B' ELSE '' END)
           |    || (CASE WHEN layout = 2
           |      THEN '4A554E4B070000006A756E6B6A6E6B00' ELSE '' END)
           |    || '666D7420' || ${le32Hex("16")} || ${le16Hex("1")}
           |    || ${le16Hex("nch")} || ${le32Hex("rate")}
           |    || ${le32Hex("rate * nch * (bits // 8)")}
           |    || ${le16Hex("nch * (bits // 8)")} || ${le16Hex("bits")}) AS blob
           |  FROM p),
           |x AS (SELECT doc_id, layout, hex(blob) AS hx FROM b)
           |SELECT doc_id AS media_id, CAST(layout AS INTEGER) AS layout,
           |  ${guard(u16(fo))} AS audio_fmt,
           |  ${guard(u16(s"($fo) + 2"))} AS channels,
           |  ${guard(u32(s"($fo) + 4"))} AS sample_rate,
           |  ${guard(u32(s"($fo) + 8"))} AS byte_rate,
           |  ${guard(u16(s"($fo) + 14"))} AS bits
           |FROM x""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      GraftFunctions.register(spark)
      def ascii(s: String) = lit(s.getBytes("US-ASCII"))
      val listChunk = concat(ascii("LIST"), expr("le_encode_u32(10)"),
        ascii("INFOjunkjk"))
      // 7-byte payload -> one pad byte (RIFF word alignment)
      val junkChunk = concat(ascii("JUNK"), expr("le_encode_u32(7)"),
        ascii("junkjnk"), expr("le_encode_u8(0)"))
      Tables(spark, dir).documents
        .select($"doc_id",
          h60Seed.as("h60"))
        .withColumn("layout", expr("CAST(h60 % 3 AS INT)"))
        .withColumn("nch", element_at(
          array(Seq(1, 2, 6, 8).map(lit): _*),
          expr("CAST((h60 DIV 3) % 4 AS INT)") + 1))
        .withColumn("rate", element_at(
          array(Seq(8000, 16000, 22050, 44100, 48000, 96000).map(lit): _*),
          expr("CAST((h60 DIV 12) % 6 AS INT)") + 1))
        .withColumn("bits", element_at(
          array(Seq(8, 16, 24, 32).map(lit): _*),
          expr("CAST((h60 DIV 72) % 4 AS INT)") + 1))
        .withColumn("blob", concat(
          expr("le_encode_u8(CASE WHEN h60 % 10 = 0 THEN 81 ELSE 82 END)"),
          ascii("IFF"),
          expr("le_encode_u32(28 + CASE WHEN layout >= 1 THEN 18 ELSE 0 END" +
            " + CASE WHEN layout = 2 THEN 16 ELSE 0 END)"),
          ascii("WAVE"),
          when($"layout" >= 1, listChunk).otherwise(lit(Array.empty[Byte])),
          when($"layout" === 2, junkChunk).otherwise(lit(Array.empty[Byte])),
          ascii("fmt "), expr("le_encode_u32(16)"),
          le16Unmasked("1"), le16Unmasked("nch"),
          expr("le_encode_u32(rate)"),
          expr("le_encode_u32(rate * nch * (bits DIV 8))"),
          le16Unmasked("nch * (bits DIV 8)"), le16Unmasked("bits")))
        .select($"doc_id".as("media_id"), $"layout",
          expr("wav_audio_format(blob)").as("audio_fmt"),
          expr("wav_channels(blob)").as("channels"),
          expr("wav_sample_rate(blob)").as("sample_rate"),
          expr("wav_byte_rate(blob)").as("byte_rate"),
          expr("wav_bits_per_sample(blob)").as("bits"))
    },

    // The remaining mainstream media containers — JPEG (the web's dominant
    // photographic format, dimensions behind a variable-length
    // MARKER-SEGMENT walk), GIF (fixed-offset logical screen descriptor)
    // and MP4/ISO-BMFF (the video modality, movie header behind a BOX
    // walk). With q177 BMP, q181 PNG, q185/q186 WAV, this closes the
    // header-decode family over every container a crawl actually serves at
    // volume — image, audio AND video.
    //
    // q189 synthesizes a JPEG header per document in one of three layouts
    // (APP0 only / APP0+COM / APP0+Exif-APP1+COM — the segment stacks real
    // encoders emit before the frame header) with a hash-chosen
    // SOF0-vs-SOF2 frame marker, and decodes precision/height/width/
    // components with the `jpeg_*` expressions
    // (functions/MediaHeader.scala `JpegSof`, big-endian
    // length-prefixed segment walk, budget 16). Like q186 the ORACLE does
    // not walk — it reads the SOF fields at the per-layout offsets it
    // synthesized, so a mislocated walk hash-fails. Corrupt slice (~10%,
    // SOI first byte flipped) → NULL on both engines.
    //
    // q190 does the GIF logical screen descriptor over both signature
    // versions (87a/89a). Scale shape for both: pure per-row map over a
    // pruned 2-column scan — no shuffle before the result.
    Qry(
      "q189_jpeg_header", {
        // constant segment hex (uppercase, matching DuckDB hex())
        val app0 = "FFE000104A46494600010100000100010000" // 18 B
        val app1 = "FFE1000E457869660000AABBCCDDEEFF" // 16 B
        val com = "FFFE0009636F6D6D656E74" // 11 B
        // SOF payload byte offset per layout: 2 (SOI) + pre + 4
        val so = "2 + CASE layout WHEN 0 THEN 18 WHEN 1 THEN 29" +
          " ELSE 45 END + 4"
        val magic = "substr(hx, 1, 4) = 'FFD8'"
        def u8(o: String) =
          s"CAST(('0x' || substr(hx, 2*($o)+1, 2)) AS INTEGER)"
        def be16(o: String) =
          s"CAST(('0x' || substr(hx, 2*($o)+1, 4)) AS INTEGER)"
        def guard(v: String) = s"CASE WHEN $magic THEN $v ELSE NULL END"
        def hbe16(x: String) = s"printf('%04x', $x)"
        def h8(x: String) = s"printf('%02x', $x)"
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    h60 % 3 AS layout,
           |    CASE (h60 // 3) % 2 WHEN 0 THEN 192 ELSE 194 END AS sof,
           |    8 + 4 * ((h60 // 6) % 2) AS prec,
           |    CASE (h60 // 12) % 2 WHEN 0 THEN 1 ELSE 3 END AS ncomp,
           |    1 + (h60 // 24) % 8192 AS w,
           |    1 + (h60 // 196608) % 8192 AS hgt,
           |    (h60 % 10 = 0) AS corrupt
           |  FROM d),
           |b AS (SELECT doc_id, layout, unhex(
           |    (CASE WHEN corrupt THEN 'FE' ELSE 'FF' END) || 'D8'
           |    || '$app0'
           |    || (CASE WHEN layout = 2 THEN '$app1' ELSE '' END)
           |    || (CASE WHEN layout >= 1 THEN '$com' ELSE '' END)
           |    || 'FF' || ${h8("sof")} || ${hbe16("8 + 3 * ncomp")}
           |    || ${h8("prec")} || ${hbe16("hgt")} || ${hbe16("w")}
           |    || ${h8("ncomp")}
           |    || (CASE ncomp WHEN 1 THEN '011100'
           |        ELSE '011100021101031101' END)) AS blob
           |  FROM p),
           |x AS (SELECT doc_id, layout, hex(blob) AS hx FROM b)
           |SELECT doc_id AS media_id, CAST(layout AS INTEGER) AS layout,
           |  ${guard(u8(so))} AS precision,
           |  ${guard(be16(s"($so) + 1"))} AS height,
           |  ${guard(be16(s"($so) + 3"))} AS width,
           |  ${guard(u8(s"($so) + 5"))} AS components
           |FROM x""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      GraftFunctions.register(spark)
      Tables(spark, dir).documents
        .select($"doc_id",
          h60Seed.as("h60"))
        .withColumn("layout", expr("CAST(h60 % 3 AS INT)"))
        .withColumn("sof",
          expr("CAST(CASE (h60 DIV 3) % 2 WHEN 0 THEN 192 ELSE 194 END" +
            " AS INT)"))
        .withColumn("prec", expr("CAST(8 + 4 * ((h60 DIV 6) % 2) AS INT)"))
        .withColumn("ncomp",
          expr("CAST(CASE (h60 DIV 12) % 2 WHEN 0 THEN 1 ELSE 3 END AS INT)"))
        .withColumn("w", expr("CAST(1 + (h60 DIV 24) % 8192 AS INT)"))
        .withColumn("hgt", expr("CAST(1 + (h60 DIV 196608) % 8192 AS INT)"))
        .withColumn("blob", concat(
          expr("le_encode_u8(CASE WHEN h60 % 10 = 0 THEN 254 ELSE 255 END)"),
          expr("le_encode_u8(216)"),
          bytesLit("FFE000104A46494600010100000100010000"),
          when($"layout" === 2,
            bytesLit("FFE1000E457869660000AABBCCDDEEFF"))
            .otherwise(lit(Array.empty[Byte])),
          when($"layout" >= 1, bytesLit("FFFE0009636F6D6D656E74"))
            .otherwise(lit(Array.empty[Byte])),
          expr("le_encode_u8(255)"), expr("le_encode_u8(sof)"),
          be16Unmasked("8 + 3 * ncomp"),
          expr("le_encode_u8(prec)"), be16Unmasked("hgt"), be16Unmasked("w"),
          expr("le_encode_u8(ncomp)"),
          when($"ncomp" === 1, bytesLit("011100"))
            .otherwise(bytesLit("011100021101031101"))))
        .select($"doc_id".as("media_id"), $"layout",
          expr("jpeg_precision(blob)").as("precision"),
          expr("jpeg_height(blob)").as("height"),
          expr("jpeg_width(blob)").as("width"),
          expr("jpeg_components(blob)").as("components"))
    },

    Qry(
      "q190_gif_header", {
        val magic = "substr(hx, 1, 8) = '47494638'" +
          " AND substr(hx, 9, 2) IN ('37', '39')" +
          " AND substr(hx, 11, 2) = '61'"
        def u16(pos: Int) = s"CAST(('0x' || substr(hx, ${pos + 2}, 2)" +
          s" || substr(hx, $pos, 2)) AS INTEGER)"
        def guard(v: String) = s"CASE WHEN $magic THEN $v ELSE NULL END"
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    CASE h60 % 2 WHEN 0 THEN '37' ELSE '39' END AS ver,
           |    1 + (h60 // 2) % 65535 AS w,
           |    1 + (h60 // 131070) % 65535 AS hgt,
           |    (h60 % 10 = 0) AS corrupt
           |  FROM d),
           |b AS (SELECT doc_id, unhex(
           |    (CASE WHEN corrupt THEN '48' ELSE '47' END) || '494638'
           |    || ver || '61' || ${le16Hex("w")} || ${le16Hex("hgt")}
           |    || '910000') AS blob
           |  FROM p),
           |x AS (SELECT doc_id, hex(blob) AS hx FROM b)
           |SELECT doc_id AS media_id,
           |  ${guard(u16(13))} AS width,
           |  ${guard(u16(17))} AS height
           |FROM x""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      GraftFunctions.register(spark)
      Tables(spark, dir).documents
        .select($"doc_id",
          h60Seed.as("h60"))
        .withColumn("w", expr("CAST(1 + (h60 DIV 2) % 65535 AS INT)"))
        .withColumn("hgt", expr("CAST(1 + (h60 DIV 131070) % 65535 AS INT)"))
        .withColumn("blob", concat(
          expr("le_encode_u8(CASE WHEN h60 % 10 = 0 THEN 72 ELSE 71 END)"),
          lit("IF8".getBytes("US-ASCII")),
          expr("le_encode_u8(CASE h60 % 2 WHEN 0 THEN 55 ELSE 57 END)"),
          lit("a".getBytes("US-ASCII")),
          le16Unmasked("w"), le16Unmasked("hgt"),
          lit(Array[Byte](0x91.toByte, 0, 0))))
        .select($"doc_id".as("media_id"),
          expr("gif_width(blob)").as("width"),
          expr("gif_height(blob)").as("height"))
    },

    // ---- MP4 / ISO-BMFF movie header — the VIDEO modality ---------------
    // Completes the media-header family across all four modalities:
    // image (BMP/PNG/JPEG/GIF), audio (WAV), video (MP4). Three layouts
    // exercise the top-level box walk (canonical ftyp+moov /
    // ftyp+free+moov / ftyp+free+skip+moov); duration_ms is derived
    // from the DECODED fields with BIGINT arithmetic on both engines,
    // so the hash also covers the downstream unit conversion a real
    // pipeline does with these two numbers.
    Qry(
      "q191_mp4_header", {
        val ftyp = "0000001866747970" + "69736F6D" + "00000200" +
          "69736F6D69736F32"
        val free = "00000010" + "66726565" + "6A6A6A6A6A6A6A6A"
        val skip = "0000000C" + "736B6970" + "6A6A6A6A"
        val moovMvhd = "00000024" + "6D6F6F76" + "0000001C" + "6D766864" +
          "00000000" + "00000000" + "00000000"
        // mvhd box start per layout: 24 + pre + 8
        val m = "24 + CASE layout WHEN 0 THEN 0 WHEN 1 THEN 16" +
          " ELSE 28 END + 8"
        val magic = "substr(hx, 9, 8) = '66747970'"
        def be32(o: String) =
          s"CAST(('0x' || substr(hx, 2*($o)+1, 8)) AS INTEGER)"
        def guard(v: String) = s"CASE WHEN $magic THEN $v ELSE NULL END"
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    h60 % 3 AS layout,
           |    CASE (h60 // 3) % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
           |      WHEN 2 THEN 44100 ELSE 90000 END AS ts,
           |    1 + (h60 // 12) % 100000000 AS dur,
           |    (h60 % 10 = 0) AS corrupt
           |  FROM d),
           |b AS (SELECT doc_id, layout, unhex(
           |    '00000018' || (CASE WHEN corrupt THEN '67' ELSE '66' END)
           |    || '${ftyp.drop(10)}'
           |    || (CASE WHEN layout >= 1 THEN '$free' ELSE '' END)
           |    || (CASE WHEN layout = 2 THEN '$skip' ELSE '' END)
           |    || '$moovMvhd'
           |    || printf('%08x', ts) || printf('%08x', dur)) AS blob
           |  FROM p),
           |x AS (SELECT doc_id, layout, hex(blob) AS hx FROM b)
           |SELECT doc_id AS media_id, CAST(layout AS INTEGER) AS layout,
           |  ${guard(be32(s"($m) + 20"))} AS timescale,
           |  ${guard(be32(s"($m) + 24"))} AS duration,
           |  ${guard(s"CAST(${be32(s"($m) + 24")} AS BIGINT) * 1000" +
                s" // ${be32(s"($m) + 20")}")} AS duration_ms
           |FROM x""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      GraftFunctions.register(spark)
      Tables(spark, dir).documents
        .select($"doc_id",
          h60Seed.as("h60"))
        .withColumn("layout", expr("CAST(h60 % 3 AS INT)"))
        .withColumn("ts", element_at(
          array(Seq(600, 1000, 44100, 90000).map(lit): _*),
          expr("CAST((h60 DIV 3) % 4 AS INT)") + 1))
        .withColumn("dur", expr("CAST(1 + (h60 DIV 12) % 100000000 AS INT)"))
        .withColumn("blob", concat(
          bytesLit("00000018"),
          expr("le_encode_u8(CASE WHEN h60 % 10 = 0 THEN 103 ELSE 102 END)"),
          lit("typisom".getBytes("US-ASCII")),
          bytesLit("00000200"),
          lit("isomiso2".getBytes("US-ASCII")),
          when($"layout" >= 1, bytesLit("00000010" + "66726565" +
            "6A6A6A6A6A6A6A6A")).otherwise(lit(Array.empty[Byte])),
          when($"layout" === 2, bytesLit("0000000C" + "736B6970" + "6A6A6A6A"))
            .otherwise(lit(Array.empty[Byte])),
          bytesLit("000000246D6F6F760000001C6D766864" +
            "000000000000000000000000"),
          be32("ts"), be32("dur")))
        .select($"doc_id".as("media_id"), $"layout",
          expr("mp4_timescale(blob)").as("timescale"),
          expr("mp4_duration(blob)").as("duration"),
          expr("CAST(mp4_duration(blob) AS BIGINT) * 1000" +
            " DIV mp4_timescale(blob)").as("duration_ms"))
    },

    // The media-family CAPSTONE — a heterogeneous media corpus (each
    // document carries ONE payload in a hash-chosen container: BMP / PNG /
    // GIF / JPEG / WAV / MP4, ~10% corrupt) rolled up to a per-format
    // manifest, in BATCH (q192) and under STRUCTURED STREAMING (q193, the
    // media-ingest-monitoring shape — both produce the identical manifest,
    // so stream/batch equivalence is itself inside the oracle hash). This
    // is the q143 shape applied to the multimodal family: the individual
    // decoders (q177/q181/q185-q186/q189-q191) prove byte-level inversion;
    // the capstone proves the COMPOSITION a real curation pipeline runs —
    // type sniffing over opaque binary via the decoders' never-throw NULL
    // contract (a magic mismatch IS the detector; no separate sniffer code
    // to disagree with the parser), normalized dimension/rate/ duration
    // extraction, and a per-format corpus rollup with corrupt rows landing
    // in their own bucket instead of failing the job.
    //
    // The ORACLE works at PARAMETER level: it re-derives each document's
    // intended format and field values from the same hash and aggregates
    // those directly — Spark must decode its synthesized bytes back to
    // exactly those parameters for the hash to match (byte-level offset
    // fidelity is already pinned per-format by the individual queries).
    //
    // Scale shape: one pure per-row map (six bounded parses over one
    // binary column — all codegen'd, no UDF) into a 7-group aggregate;
    // the only shuffle is the final tiny rollup. The streaming variant is
    // the same stateless projection feeding a streaming aggregation.
    Qry("q192_media_manifest", ManifestOracle) { (spark, dir) =>
      // sniff + rollup: Graft.mediaManifest (single source with the
      // facade — type detection is the decoders' NULL contract)
      withMediaBlob(spark, Tables(spark, dir).documents)
        .mediaManifest("blob")
    },

    // ---- the same manifest under Structured Streaming -------------------
    // Media-ingest monitoring: documents arrive as a file stream, the
    // synthesis + six-decoder sniff run as a stateless projection on
    // each micro-batch, and the per-format manifest is a streaming
    // aggregation in complete mode. The oracle is IDENTICAL to q192's,
    // so the hash match proves the streaming pipeline converges to the
    // batch manifest — corrupt payloads are counted, never fail the
    // stream.
    Qry("q193_stream_media", ManifestOracle) { (spark, dir) =>
      val src = Streams.fileStream(spark, dir, "documents")
      val agg = withMediaBlob(spark, src)
        .mediaSniffed("blob")
        .groupBy(col("fmt"))
        .agg(count(lit(1)).as("n"),
          sum(col("width")).as("sum_w"),
          sum(col("height")).as("sum_h"),
          sum(col("rate")).as("sum_rate"),
          sum(col("duration_ms")).as("sum_dur_ms"))
      Streams.runToMemory(agg, "complete")
    },

    // MP4 mvhd coverage widened to real muxer layouts — version
    // 1 (64-bit times) and non-first mvhd (iods/udta-led moov), plus
    // the corrupt contract for an mvhd whose DECLARED size cannot hold
    // its versioned header. Parameter-level oracle (the q192 pattern):
    // payloads are hash-synthesized in-engine, the oracle re-derives
    // the parameters, and Spark must decode its own bytes back to
    // exactly those values.
    // ---- MP4 mvhd: version 1, non-first mvhd, declared-size contract ---
    Qry(
      "q195_mp4_versions",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    h60 % 2 AS ver,
         |    (h60 % 11 = 0) AS corrupt,
         |    CASE (h60 // 8) % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
         |      WHEN 2 THEN 44100 ELSE 90000 END AS ts,
         |    (h60 // 32) % (CASE WHEN h60 % 2 = 0
         |      THEN 4294967296 ELSE 1099511627776 END) AS dur
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN corrupt OR ver = 1 THEN NULL ELSE ts END AS ts32,
         |  CASE WHEN corrupt OR ver = 1 OR dur >= 2147483648
         |    THEN NULL ELSE dur END AS dur32,
         |  CASE WHEN corrupt THEN NULL ELSE ts END AS ts64,
         |  CASE WHEN corrupt THEN NULL ELSE dur END AS dur64,
         |  CASE WHEN corrupt THEN NULL
         |    ELSE dur * 1000 // ts END AS dur_ms
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      def fill(n: Int) = lit(Array.fill[Byte](n)(0x6A))
      val ftyp = concat(bytesLit("00000018"),
        lit("ftypisom".getBytes("US-ASCII")), bytesLit("00000200"),
        lit("isomiso2".getBytes("US-ASCII")))
      // children preceding mvhd inside moov, chosen by hash: none /
      // iods(16) / iods(16)+udta(20) — the real-muxer layouts the
      // child walk exists for
      val kids = when(col("nkids") === 0, lit(Array.empty[Byte]))
        .when(col("nkids") === 1,
          concat(be32("16"), lit("iods".getBytes("US-ASCII")), fill(8)))
        .otherwise(concat(
          be32("16"), lit("iods".getBytes("US-ASCII")), fill(8),
          be32("20"), lit("udta".getBytes("US-ASCII")), fill(12)))
      // declared mvhd size: the real header size, or a LYING 20 on the
      // corrupt slice — full bytes still follow, so a parser that
      // trusts the array bound instead of the declared size would read
      // them (the bug this query pins closed)
      val declSz = "CASE WHEN corrupt THEN 20 " +
        "WHEN ver = 0 THEN 28 ELSE 40 END"
      val mvhd0 = concat(be32(declSz), lit("mvhd".getBytes("US-ASCII")),
        bytesLit("00000000" + "00000000" * 2), be32("ts"), be32("dur"))
      val mvhd1 = concat(be32(declSz), lit("mvhd".getBytes("US-ASCII")),
        bytesLit("01000000" + "00000000" * 4), be32("ts"), be64("dur"))
      val moovSz = "8 + (CASE nkids WHEN 0 THEN 0 WHEN 1 THEN 16 " +
        "ELSE 36 END) + (CASE WHEN ver = 0 THEN 28 ELSE 40 END)"
      val blob = concat(ftyp, be32(moovSz),
        lit("moov".getBytes("US-ASCII")), kids,
        when(col("ver") === 0, mvhd0).otherwise(mvhd1))
      Tables(spark, dir).documents
        .select(col("doc_id"),
          h60Seed.as("h60"))
        .withColumn("ver", expr("CAST(h60 % 2 AS INT)"))
        .withColumn("nkids", expr("CAST((h60 DIV 2) % 3 AS INT)"))
        .withColumn("corrupt", expr("h60 % 11 = 0"))
        .withColumn("ts", element_at(
          array(Seq(600, 1000, 44100, 90000).map(lit): _*),
          expr("CAST((h60 DIV 8) % 4 AS INT)") + 1))
        .withColumn("dur", expr("(h60 DIV 32) % (CASE WHEN ver = 0 " +
          "THEN 4294967296 ELSE 1099511627776 END)"))
        .withColumn("b", blob)
        .select(col("doc_id"),
          expr("mp4_timescale(b)").as("ts32"),
          expr("mp4_duration(b)").as("dur32"),
          expr("mp4_timescale64(b)").as("ts64"),
          expr("mp4_duration64(b)").as("dur64"),
          expr("mp4_duration64(b) * 1000 DIV nullif(mp4_timescale64(b), 0)")
            .as("dur_ms"))
    },

    // The two mainstream COMPRESSED-audio containers still missing from the
    // media family, plus the intra-document repetition signals a
    // Gopher/MassiveText-style quality filter runs:
    //
    // MP3 / MPEG-1 Layer III frame-header decode behind an optional ID3v2
    // tag — the tag's 28-bit SYNCSAFE size (7 bits per byte) is the
    // format's one genuinely tricky offset computation, and the synthesized
    // sizes straddle the 7-bit byte boundary so the oracle catches an 8-bit
    // misread. Bitrate/sample-rate come from the public MPEG-1 index
    // tables.
    // ---- MP3 frame header behind an ID3v2 tag ---------------------------
    Qry(
      "q197_mp3_header",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    (h60 % 13 = 0) AS corrupt,
         |    1 + (h60 // 4) % 14 AS bidx,
         |    (h60 // 64) % 3 AS sidx
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN corrupt THEN NULL ELSE
         |    CASE bidx WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
         |      WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96
         |      WHEN 8 THEN 112 WHEN 9 THEN 128 WHEN 10 THEN 160
         |      WHEN 11 THEN 192 WHEN 12 THEN 224 WHEN 13 THEN 256
         |      ELSE 320 END END AS bitrate_kbps,
         |  CASE WHEN corrupt THEN NULL ELSE
         |    CASE sidx WHEN 0 THEN 44100 WHEN 1 THEN 48000
         |      ELSE 32000 END END AS sample_rate
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // ID3v2 tag on every third doc; payload sizes 100..399 straddle
      // the syncsafe 7-bit byte boundary (sizes > 127 need two bytes)
      val id3 = concat(lit("ID3".getBytes("US-ASCII")),
        bytesLit("040000"),
        expr("le_encode_u8(0)"), expr("le_encode_u8(0)"),
        expr("le_encode_u8(CAST(tagsz DIV 128 AS INT))"),
        expr("le_encode_u8(CAST(tagsz % 128 AS INT))"),
        expr("CAST(repeat('j', tagsz) AS BINARY)"))
      // frame header: FF FB|F9 (corrupt = reserved version bits),
      // byte 2 = bitrate index << 4 | sample-rate index << 2
      val frame = concat(
        expr("le_encode_u8(255)"),
        expr("le_encode_u8(CASE WHEN corrupt THEN 249 ELSE 251 END)"),
        expr("le_encode_u8(CAST(bidx * 16 + sidx * 4 AS INT))"),
        expr("le_encode_u8(0)"))
      h60Of(spark, dir)
        .withColumn("corrupt", expr("h60 % 13 = 0"))
        .withColumn("bidx", expr("CAST(1 + (h60 DIV 4) % 14 AS INT)"))
        .withColumn("sidx", expr("CAST((h60 DIV 64) % 3 AS INT)"))
        .withColumn("tagsz", expr("100 + (h60 DIV 8) % 300"))
        .withColumn("b",
          when(expr("h60 % 3 = 0"), concat(id3, frame)).otherwise(frame))
        .select(col("doc_id"),
          expr("mp3_bitrate_kbps(b)").as("bitrate_kbps"),
          expr("mp3_sample_rate(b)").as("sample_rate"))
    },

    // FLAC STREAMINFO bit-packed decode — sample rate (20 bits),
    // channels (3), bits-per-sample (5) and total samples (36) share
    // one big-endian u64; the oracle re-derives all four from the
    // synthesis parameters, so a single shifted bit fails the hash.
    // ---- FLAC STREAMINFO bit-packed decode ------------------------------
    Qry(
      "q198_flac_streaminfo",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    (h60 % 13 = 0) AS corrupt,
         |    CASE (h60 // 2) % 6 WHEN 0 THEN 8000 WHEN 1 THEN 16000
         |      WHEN 2 THEN 22050 WHEN 3 THEN 44100 WHEN 4 THEN 48000
         |      ELSE 96000 END AS rate,
         |    1 + (h60 // 16) % 8 AS ch,
         |    CASE (h60 // 128) % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
         |      ELSE 24 END AS bps,
         |    (h60 // 512) % 68719476736 AS tot
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN corrupt THEN NULL ELSE rate END AS sample_rate,
         |  CASE WHEN corrupt THEN NULL ELSE ch END AS channels,
         |  CASE WHEN corrupt THEN NULL ELSE bps END AS bps,
         |  CASE WHEN corrupt THEN NULL ELSE tot END AS total_samples,
         |  CASE WHEN corrupt THEN NULL
         |    ELSE tot * 1000 // rate END AS dur_ms
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // "fLaC" + block header (type 0 STREAMINFO, last-flag varies by
      // hash — both forms legal; corrupt = VORBIS_COMMENT type 4
      // first, which the spec forbids) + u24 length 34 + min/max
      // blocksize u16 + min/max framesize u24 + the packed u64 + the
      // 16-byte MD5 slot (zeros)
      val packed = "rate * 17592186044416 + (ch - 1) * 2199023255552" +
        " + (bps - 1) * 68719476736 + tot"
      val blob = concat(lit("fLaC".getBytes("US-ASCII")),
        expr("le_encode_u8(CASE WHEN corrupt THEN 4 " +
          "ELSE CAST((h60 DIV 4) % 2 AS INT) * 128 END)"),
        be24("34"),
        be16("4608"), be16("4608"), be24("0"), be24("0"),
        be64(packed),
        bytesLit("00" * 16))
      h60Of(spark, dir)
        .withColumn("corrupt", expr("h60 % 13 = 0"))
        .withColumn("rate", element_at(
          array(Seq(8000, 16000, 22050, 44100, 48000, 96000)
            .map(v => lit(v.toLong)): _*),
          expr("CAST((h60 DIV 2) % 6 AS INT)") + 1))
        .withColumn("ch", expr("1 + (h60 DIV 16) % 8"))
        .withColumn("bps", element_at(
          array(Seq(8L, 16L, 24L).map(lit): _*),
          expr("CAST((h60 DIV 128) % 3 AS INT)") + 1))
        .withColumn("tot", expr("(h60 DIV 512) % 68719476736"))
        .withColumn("b", blob)
        .select(col("doc_id"),
          expr("flac_sample_rate(b)").as("sample_rate"),
          expr("flac_channels(b)").as("channels"),
          expr("flac_bits_per_sample(b)").as("bps"),
          expr("flac_total_samples(b)").as("total_samples"),
          expr("flac_total_samples(b) * 1000 " +
            "DIV nullif(flac_sample_rate(b), 0)").as("dur_ms"))
    },

    // WebP canvas decode across all three container flavors
    // (VP8X extended, VP8L lossless with its 14-bit LSB-first
    // bit-packing, lossy VP8 behind the keyframe start code).
    // ---- WebP canvas decode across all three container flavors ---------
    Qry(
      "q200_webp_header",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    h60 % 3 AS pick,
         |    (h60 % 9 = 0) AS corrupt,
         |    CASE WHEN h60 % 3 = 0 THEN 1 + (h60 // 16) % 16777216
         |      ELSE 1 + (h60 // 16) % 16383 END AS w,
         |    CASE WHEN h60 % 3 = 0 THEN 1 + (h60 // 1024) % 16777216
         |      ELSE 1 + (h60 // 1024) % 16383 END AS hh
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN corrupt THEN NULL ELSE w END AS width,
         |  CASE WHEN corrupt THEN NULL ELSE hh END AS height
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      def u24le(x: String) = concat(
        expr(s"le_encode_u8(CAST(($x) % 256 AS INT))"),
        expr(s"le_encode_u8(CAST(($x) DIV 256 % 256 AS INT))"),
        expr(s"le_encode_u8(CAST(($x) DIV 65536 % 256 AS INT))"))
      // "WEBP" form tag, last byte flipped on the corrupt slice
      val riff = concat(lit("RIFF".getBytes("US-ASCII")),
        expr("le_encode_u32(30)"), lit("WEB".getBytes("US-ASCII")),
        expr("le_encode_u8(CASE WHEN corrupt THEN 81 ELSE 80 END)"))
      val vp8x = concat(lit("VP8X".getBytes("US-ASCII")),
        expr("le_encode_u32(10)"), bytesLit("00000000"),
        u24le("w - 1"), u24le("hh - 1"))
      // VP8L: 0x2F signature then width-1/height-1 as 14-bit fields
      // packed LSB-first — the byte straddling both fields (b2) is the
      // synthesis mirror of the decoder's bit split
      val vp8l = concat(lit("VP8L".getBytes("US-ASCII")),
        expr("le_encode_u32(5)"), bytesLit("2F"),
        expr("le_encode_u8(CAST((w - 1) % 256 AS INT))"),
        expr("le_encode_u8(CAST((w - 1) DIV 256 + ((hh - 1) % 4) * 64" +
          " AS INT))"),
        expr("le_encode_u8(CAST((hh - 1) DIV 4 % 256 AS INT))"),
        expr("le_encode_u8(CAST((hh - 1) DIV 1024 AS INT))"))
      val vp8 = concat(lit("VP8 ".getBytes("US-ASCII")),
        expr("le_encode_u32(10)"), bytesLit("000000"),
        bytesLit("9D012A"), u16le("w"), u16le("hh"))
      h60Of(spark, dir)
        .withColumn("pick", expr("CAST(h60 % 3 AS INT)"))
        .withColumn("corrupt", expr("h60 % 9 = 0"))
        .withColumn("w", expr("CASE WHEN pick = 0 " +
          "THEN 1 + (h60 DIV 16) % 16777216 " +
          "ELSE 1 + (h60 DIV 16) % 16383 END"))
        .withColumn("hh", expr("CASE WHEN pick = 0 " +
          "THEN 1 + (h60 DIV 1024) % 16777216 " +
          "ELSE 1 + (h60 DIV 1024) % 16383 END"))
        .withColumn("b", concat(riff,
          when(col("pick") === 0, vp8x)
            .when(col("pick") === 1, vp8l).otherwise(vp8)))
        .select(col("doc_id"),
          expr("CAST(webp_width(b) AS BIGINT)").as("width"),
          expr("CAST(webp_height(b) AS BIGINT)").as("height"))
    },

    // Container formats a 100-TB corpus pipeline meets BEFORE the media
    // decoders ever run —
    //
    // All synthesis is hash-driven in-engine (the q192 pattern) with
    // parameter-level oracles; every decode is a codegen'd expression
    // over one binary column — pure map stage, no UDF, no shuffle.
    //
    // TIFF, the family's endianness-SWITCHING container: the
    // synthesized corpus mixes II/MM byte orders, SHORT/LONG value
    // types and 0-2 padding IFD entries before the dimension tags, so
    // the oracle hash pins the endian-aware IFD walk in all layouts.
    // ---- TIFF: endian-aware IFD walk ------------------------------------
    Qry(
      "q201_tiff_header",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    (h60 % 9 = 0) AS corrupt,
         |    ((h60 // 2) % 2 = 0) AS short_t,
         |    CASE WHEN (h60 // 2) % 2 = 0
         |      THEN 1 + (h60 // 64) % 65535
         |      ELSE 1 + (h60 // 64) % 1000000 END AS w,
         |    CASE WHEN (h60 // 2) % 2 = 0
         |      THEN 1 + (h60 // 4096) % 65535
         |      ELSE 1 + (h60 // 4096) % 1000000 END AS hh
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN corrupt THEN NULL ELSE w END AS width,
         |  CASE WHEN corrupt THEN NULL ELSE hh END AS height
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // one 12-byte IFD entry in either endianness; SHORT values sit
      // in the value field's FIRST two bytes (file order), LONG fills
      // all four — the exact inline rule the walk decodes
      def entry(le: Boolean, tag: Int, typ: String, v: String): Column = {
        val (w16, w32) = if (le) (u16le _, u32le _) else (u16be _, u32be _)
        concat(w16(tag.toString), w16(typ), w32("1"),
          when(expr(s"($typ) = 3"), concat(w16(v), bytesLit("0000")))
            .otherwise(w32(v)))
      }
      def blob(le: Boolean): Column = {
        val (w16, w32) = if (le) (u16le _, u32le _) else (u16be _, u32be _)
        val magic = if (le) lit("II".getBytes("US-ASCII"))
          else lit("MM".getBytes("US-ASCII"))
        val pad1 = entry(le, 254, "4", "0")
        val pad2 = entry(le, 255, "4", "0")
        concat(magic,
          w16("CASE WHEN corrupt THEN 43 ELSE 42 END"), w32("8"),
          w16("npad + 2"),
          when(col("npad") >= 1, pad1).otherwise(lit(Array.empty[Byte])),
          when(col("npad") === 2, pad2).otherwise(lit(Array.empty[Byte])),
          entry(le, 256, "typ", "w"), entry(le, 257, "typ", "hh"),
          w32("0"))
      }
      h60Of(spark, dir)
        .withColumn("corrupt", expr("h60 % 9 = 0"))
        .withColumn("le", expr("h60 % 2 = 0"))
        .withColumn("typ", expr("CASE WHEN (h60 DIV 2) % 2 = 0 " +
          "THEN 3 ELSE 4 END"))
        .withColumn("npad", expr("CAST((h60 DIV 4) % 3 AS INT)"))
        .withColumn("w", expr("CASE WHEN typ = 3 " +
          "THEN 1 + (h60 DIV 64) % 65535 " +
          "ELSE 1 + (h60 DIV 64) % 1000000 END"))
        .withColumn("hh", expr("CASE WHEN typ = 3 " +
          "THEN 1 + (h60 DIV 4096) % 65535 " +
          "ELSE 1 + (h60 DIV 4096) % 1000000 END"))
        .withColumn("b", when(col("le"), blob(le = true))
          .otherwise(blob(le = false)))
        .select(col("doc_id"),
          expr("CAST(tiff_width(b) AS BIGINT)").as("width"),
          expr("CAST(tiff_height(b) AS BIGINT)").as("height"))
    },

    // Gzip member headers (RFC 1952) — MTIME/OS plus the zero-terminated
    // FNAME behind an optional FEXTRA field: the family's first
    // STRING-valued decode, and the metadata a WARC.gz/jsonl.gz ingest job
    // reads before any decompression.
    // ---- gzip member header ---------------------------------------------
    Qry(
      "q202_gzip_header",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    (h60 % 11 = 0) AS corrupt,
         |    (h60 % 5 = 0) AS has_extra,
         |    (h60 % 3 <> 0) AS has_name,
         |    (h60 // 2) % 4294967296 AS mt,
         |    CASE (h60 // 8) % 5 WHEN 0 THEN 0 WHEN 1 THEN 3
         |      WHEN 2 THEN 7 WHEN 3 THEN 10 ELSE 255 END AS os
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN corrupt THEN NULL ELSE mt END AS mtime,
         |  CASE WHEN corrupt THEN NULL ELSE os END AS os,
         |  CASE WHEN corrupt OR NOT has_name THEN NULL
         |    ELSE 'doc_' || doc_id || '.txt' END AS fname
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val header = concat(bytesLit("1F"),
        u8("CASE WHEN corrupt THEN 140 ELSE 139 END"), bytesLit("08"),
        u8("CASE WHEN has_extra THEN 4 ELSE 0 END" +
          " + CASE WHEN has_name THEN 8 ELSE 0 END"),
        u32le("mt"), bytesLit("00"), u8("os"))
      val extra = when(col("has_extra"),
        concat(u16le("4"), bytesLit("6A6A6A6A")))
        .otherwise(lit(Array.empty[Byte]))
      val nameB = when(col("has_name"), concat(
        expr("CAST(concat('doc_', doc_id, '.txt') AS BINARY)"),
        bytesLit("00"))).otherwise(lit(Array.empty[Byte]))
      h60Of(spark, dir)
        .withColumn("corrupt", expr("h60 % 11 = 0"))
        .withColumn("has_extra", expr("h60 % 5 = 0"))
        .withColumn("has_name", expr("h60 % 3 <> 0"))
        .withColumn("mt", expr("(h60 DIV 2) % 4294967296"))
        .withColumn("os", element_at(
          array(Seq(0L, 3L, 7L, 10L, 255L).map(lit): _*),
          expr("CAST((h60 DIV 8) % 5 AS INT)") + 1))
        .withColumn("b", concat(header, extra, nameB))
        .select(col("doc_id"),
          expr("gzip_mtime(b)").as("mtime"),
          expr("gzip_os(b)").as("os"),
          expr("gzip_fname(b)").as("fname"))
    },

    // Zstd frame headers (RFC 8878) — declared content size at
    // all four field widths (incl. the +256 bias of the 16-bit form)
    // and the window descriptor: exactly what a pipeline uses to size
    // decompression buffers and to split work WITHOUT decompressing.
    // ---- zstd frame header ----------------------------------------------
    Qry(
      "q203_zstd_frame",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    (h60 % 11 = 0) AS corrupt,
         |    h60 % 4 AS fcs,
         |    ((h60 // 4) % 2 = 0) AS single,
         |    (h60 // 32) % 256 AS wd,
         |    (h60 // 64) AS raw
         |  FROM d),
         |q AS (SELECT doc_id, corrupt, fcs, single, wd,
         |    CASE fcs WHEN 0 THEN raw % 256
         |      WHEN 1 THEN raw % 65536 + 256
         |      WHEN 2 THEN raw % 4294967296
         |      ELSE raw % 4611686018427387904 END AS cs
         |  FROM p)
         |SELECT doc_id,
         |  CASE WHEN corrupt OR (fcs = 0 AND NOT single) THEN NULL
         |    ELSE cs END AS content_size,
         |  CASE WHEN corrupt OR single THEN NULL
         |    ELSE (CAST(1 AS BIGINT) << CAST(10 + wd // 8 AS INT))
         |      + ((CAST(1 AS BIGINT) << CAST(10 + wd // 8 AS INT)) // 8)
         |        * (wd % 8) END AS window_size
         |FROM q""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // dictionary-id field: flag 0..3 -> 0/1/2/4 bytes (content 'j's)
      val dict = when(col("dflag") === 0, lit(Array.empty[Byte]))
        .when(col("dflag") === 1, bytesLit("6A"))
        .when(col("dflag") === 2, bytesLit("6A6A"))
        .otherwise(bytesLit("6A6A6A6A"))
      // frame content size at its flag-determined width (the 16-bit
      // form stores value-256)
      val fcsBytes = when(expr("fcs = 0 AND single"), u8("csv"))
        .when(expr("fcs = 0"), lit(Array.empty[Byte]))
        .when(col("fcs") === 1, u16le("csv - 256"))
        .when(col("fcs") === 2, u32le("csv"))
        .otherwise(concat(u32le("csv % 4294967296"),
          u32le("csv DIV 4294967296")))
      val fhd = "fcs * 64 + CASE WHEN single THEN 32 ELSE 0 END + dflag"
      h60Of(spark, dir)
        .withColumn("corrupt", expr("h60 % 11 = 0"))
        .withColumn("fcs", expr("h60 % 4"))
        .withColumn("single", expr("(h60 DIV 4) % 2 = 0"))
        .withColumn("dflag", expr("CAST((h60 DIV 8) % 4 AS INT)"))
        .withColumn("wd", expr("(h60 DIV 32) % 256"))
        .withColumn("csv", expr("CASE h60 % 4 WHEN 0 THEN (h60 DIV 64) % 256 " +
          "WHEN 1 THEN (h60 DIV 64) % 65536 + 256 " +
          "WHEN 2 THEN (h60 DIV 64) % 4294967296 " +
          "ELSE (h60 DIV 64) % 4611686018427387904 END"))
        .withColumn("b", concat(
          u8("CASE WHEN corrupt THEN 41 ELSE 40 END"),
          bytesLit("B52FFD"), u8(fhd),
          when(col("single"), lit(Array.empty[Byte])).otherwise(u8("wd")),
          dict, fcsBytes))
        .select(col("doc_id"),
          expr("zstd_content_size(b)").as("content_size"),
          expr("zstd_window_size(b)").as("window_size"))
    },

    // The q192 manifest capstone at TEN formats — every decoder
    // family the engine now carries (bmp/png/gif/jpeg/webp/tiff/wav/
    // mp3/flac/mp4, ~9% corrupt) sniffed by Graft.mediaSniffed and
    // rolled up per format. Each format's corrupt form flips its lead
    // byte to a value matching NO other format's magic, so the
    // detection chain's order can never mask a misclassification.
    // ---- ten-format media manifest capstone -----------------------------
    Qry("q205_media_manifest10", Manifest10Oracle) { (spark, dir) =>
      withMediaBlob10(spark, Tables(spark, dir).documents)
        .mediaManifest("blob")
    },

    // q205 under Structured Streaming, sharing the oracle
    // VERBATIM — stream/batch equivalence inside the gate hash.
    // ---- the same ten-format manifest under Structured Streaming --------
    // q193's stream/batch-equivalence pattern at the full decoder
    // matrix: documents arrive as a file stream, the synthesis + the
    // ten-decoder sniff run as a stateless projection per micro-batch,
    // and the manifest is a streaming aggregation in complete mode
    // sharing q205's oracle VERBATIM — the hash match IS the
    // equivalence proof.
    Qry("q206_stream_media10", Manifest10Oracle) { (spark, dir) =>
      import graft.streaming.Streams
      val agg = withMediaBlob10(spark,
          Streams.fileStream(spark, dir, "documents"))
        .mediaSniffed("blob")
        .groupBy(col("fmt"))
        .agg(count(lit(1)).as("n"),
          sum(col("width")).as("sum_w"),
          sum(col("height")).as("sum_h"),
          sum(col("rate")).as("sum_rate"),
          sum(col("duration_ms")).as("sum_dur_ms"))
      Streams.runToMemory(agg, "complete")
    },

    // Ogg-encapsulated Opus identification header (RFCs 3533 +
    // 7845) — the speech-dataset codec. The synthesized pages vary
    // the SEGMENT COUNT, so the lacing-table offset arithmetic (the
    // Ogg-specific part) is inside the oracle hash; a non-BOS page or
    // a non-Opus first packet is NULL by contract.
    // ---- Ogg/Opus identification header ---------------------------------
    Qry(
      "q207_opus_head",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    (h60 % 11 = 0) AS corrupt,
         |    1 + (h60 // 4) % 8 AS ch,
         |    (h60 // 32) % 65536 AS preskip,
         |    CASE (h60 // 2) % 5 WHEN 0 THEN 8000 WHEN 1 THEN 12000
         |      WHEN 2 THEN 16000 WHEN 3 THEN 24000 ELSE 48000 END AS rate
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN corrupt THEN NULL ELSE ch END AS channels,
         |  CASE WHEN corrupt THEN NULL ELSE preskip END AS pre_skip,
         |  CASE WHEN corrupt THEN NULL ELSE rate END AS input_rate
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // BOS page: "OggS" v0 type=0x02, granule/serial/seq/crc, then a
      // hash-sized lacing table (first lacing = the 19-byte OpusHead;
      // extra segments describe trailing packets we never emit — the
      // parser must still find the packet past the variable table)
      val lacing = when(col("nsegs") === 1, bytesLit("13"))
        .when(col("nsegs") === 2, bytesLit("130A"))
        .otherwise(bytesLit("130A05"))
      val page = concat(
        u8("CASE WHEN corrupt THEN 80 ELSE 79 END"), // 'O' -> 'P'
        lit("ggS".getBytes("US-ASCII")), bytesLit("0002"),
        bytesLit("00" * 8), // granule
        expr("le_encode_u32(CAST(h60 % 2147483648 AS INT))"), // serial
        bytesLit("00" * 8), // sequence + crc (not validated)
        u8("nsegs"), lacing)
      val opusHead = concat(lit("OpusHead".getBytes("US-ASCII")),
        bytesLit("01"), u8("ch"), u16le("preskip"),
        expr("le_encode_u32(CAST(rate AS INT))"), bytesLit("000000"))
      h60TextCharsOf(spark, dir)
        .withColumn("corrupt", expr("h60 % 11 = 0"))
        .withColumn("nsegs", expr("CAST(1 + (h60 DIV 7) % 3 AS INT)"))
        .withColumn("ch", expr("1 + (h60 DIV 4) % 8"))
        .withColumn("preskip", expr("(h60 DIV 32) % 65536"))
        .withColumn("rate", element_at(
          array(Seq(8000, 12000, 16000, 24000, 48000)
            .map(v => lit(v.toLong)): _*),
          expr("CAST((h60 DIV 2) % 5 AS INT)") + 1))
        .withColumn("b", concat(page, opusHead))
        .select(col("doc_id"),
          expr("opus_channels(b)").as("channels"),
          expr("opus_pre_skip(b)").as("pre_skip"),
          expr("opus_input_sample_rate(b)").as("input_rate"))
    },

    // TFRecord framing with REAL CRC32C — the TensorFlow training-data
    // container. The in-engine writer (`tfrecord_frame`) wraps each
    // document's bytes; three corrupt modes (clean / length-CRC flipped /
    // payload-CRC flipped) pin the reader's gating: a corrupt length CRC
    // NULLs the length (never mis-slices a file), a corrupt payload CRC
    // reads 0 from `tfrecord_payload_ok`. CRC32C is the JDK's hardware
    // implementation; the mask constant is independently pinned against the
    // published check vector in MediaHeaderSpec.
    // ---- TFRecord frame roundtrip with CRC32C gating --------------------
    Qry(
      "q208_tfrecord_frame",
      s"""WITH d AS (SELECT doc_id, strlen(text) AS nbytes,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id, nbytes, h60 % 5 AS mode FROM d)
         |SELECT doc_id,
         |  CASE WHEN mode = 1 THEN NULL ELSE nbytes END AS rec_len,
         |  CASE WHEN mode = 1 THEN NULL
         |    WHEN mode = 2 THEN 0 ELSE 1 END AS payload_ok
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // mode 0/3/4 = clean; 1 = length-CRC byte flipped (frame must
      // NULL, never mis-slice); 2 = payload-CRC byte flipped (length
      // reads, payload verdict 0). Byte surgery via binary substr +
      // a XOR-flipped single byte.
      val clean = expr("tfrecord_frame(CAST(text AS BINARY))")
      val frame =
        when(col("mode") === 1, concat(
          expr("substr(fr, 1, 8)"),
          expr("le_encode_u8(CAST((conv(hex(substr(fr, 9, 1)), 16, 10)" +
            " + 1) % 256 AS INT))"),
          expr("substr(fr, 10)")))
        .when(col("mode") === 2, concat(
          expr("substr(fr, 1, octet_length(fr) - 1)"),
          expr("le_encode_u8(CAST((conv(hex(substr(fr, " +
            "octet_length(fr), 1)), 16, 10) + 1) % 256 AS INT))")))
        .otherwise(col("fr"))
      h60TextCharsOf(spark, dir)
        .withColumn("mode", expr("CAST(h60 % 5 AS INT)"))
        .withColumn("fr", clean)
        .withColumn("b", frame)
        .select(col("doc_id"),
          expr("tfrecord_length(b)").as("rec_len"),
          expr("tfrecord_payload_ok(b)").as("payload_ok"))
    },

    // WARC record headers — the crawl archive format. Headers
    // are synthesized as text and parsed back with regexp_extract
    // (no new expression needed: the format IS text); the oracle is
    // parameter-level, so the extraction regexes are verified against
    // ground truth rather than against themselves. A missing
    // Content-Length (spec-legal for some record types) reads NULL.
    // ---- WARC record headers --------------------------------------------
    Qry(
      "q209_warc_header",
      s"""WITH d AS (SELECT doc_id, n_chars,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents)
         |SELECT doc_id,
         |  CASE h60 % 4 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
         |    WHEN 2 THEN 'metadata' ELSE 'warcinfo' END AS warc_type,
         |  'https://ex.org/' || doc_id AS target_uri,
         |  CASE WHEN h60 % 7 <> 0 THEN n_chars END AS content_length
         |FROM d""".stripMargin) { (spark, dir) =>
      val crlf = lit("\r\n")
      val wtype = expr("CASE h60 % 4 WHEN 0 THEN 'response' " +
        "WHEN 1 THEN 'request' WHEN 2 THEN 'metadata' " +
        "ELSE 'warcinfo' END")
      val raw = concat(lit("WARC/1.0"), crlf,
        lit("WARC-Type: "), wtype, crlf,
        lit("WARC-Target-URI: https://ex.org/"),
        col("doc_id").cast("string"), crlf,
        when(expr("h60 % 7 <> 0"),
          concat(lit("Content-Length: "),
            col("n_chars").cast("string"), crlf))
          .otherwise(lit("")),
        crlf)
      h60TextCharsOf(spark, dir)
        .withColumn("raw", raw)
        .select(col("doc_id"),
          regexp_extract(col("raw"), "WARC-Type: ([a-z]+)", 1)
            .as("warc_type"),
          regexp_extract(col("raw"), "WARC-Target-URI: (\\S+)", 1)
            .as("target_uri"),
          nullif(regexp_extract(col("raw"), "Content-Length: ([0-9]+)", 1),
            lit("")).cast("long").as("content_length"))
    },

    // The q205 manifest pattern applied to the TRANSPORT layer —
    // a heterogeneous blob column mixing gzip members, zstd frames and
    // TFRecord frames (~9% corrupt) classified purely by the decoders'
    // never-throw NULL contract and rolled up per codec with declared
    // payload-size sums. This is the first question a 100-TB ingest
    // job asks of a bucket: what containers, how many bytes CLAIMED,
    // before spending a single decompression cycle.
    // ---- transport-layer manifest ---------------------------------------
    Qry(
      "q210_transport_manifest",
      s"""WITH d AS (SELECT doc_id, strlen(text) AS nbytes,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id, nbytes,
         |    h60 % 3 AS pick,
         |    (h60 % 11 = 0) AS corrupt,
         |    (h60 // 4) % 4294967296 AS zsz
         |  FROM d),
         |r AS (SELECT doc_id,
         |    CASE WHEN corrupt THEN 'corrupt'
         |      ELSE CASE pick WHEN 0 THEN 'gzip' WHEN 1 THEN 'zstd'
         |        ELSE 'tfrecord' END END AS codec,
         |    CASE WHEN corrupt THEN NULL
         |      WHEN pick = 1 THEN zsz
         |      WHEN pick = 2 THEN nbytes END AS declared
         |  FROM p)
         |SELECT codec, COUNT(*) AS n,
         |  CAST(SUM(declared) AS BIGINT) AS sum_declared
         |FROM r GROUP BY 1""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // gzip member (no FNAME — the manifest reads mtime/os only, and
      // the codec verdict is the magic); declared size: gzip does not
      // carry one in the header (NULL — ISIZE is a trailer field),
      // zstd declares it in the frame header (u32 form), tfrecord's
      // length field is CRC-gated
      val gz = concat(bytesLit("1F"),
        u8("CASE WHEN corrupt THEN 140 ELSE 139 END"),
        bytesLit("0800"), expr("le_encode_u32(CAST(h60 % 2147483648" +
          " AS INT))"), bytesLit("0003"))
      val zstd = concat(
        u8("CASE WHEN corrupt THEN 41 ELSE 40 END"),
        bytesLit("B52FFD"), bytesLit("A0"), // fcs=2 (u32), single
        concat(u8("zsz"), u8("zsz DIV 256"), u8("zsz DIV 65536"),
          u8("zsz DIV 16777216")))
      val tfr = when(col("corrupt"), concat(
        expr("substr(fr, 1, 8)"),
        expr("le_encode_u8(CAST((conv(hex(substr(fr, 9, 1)), 16, 10)" +
          " + 1) % 256 AS INT))"),
        expr("substr(fr, 10)")))
        .otherwise(col("fr"))
      h60TextOf(spark, dir)
        .withColumn("pick", expr("CAST(h60 % 3 AS INT)"))
        .withColumn("corrupt", expr("h60 % 11 = 0"))
        .withColumn("zsz", expr("(h60 DIV 4) % 4294967296"))
        .withColumn("fr", expr("tfrecord_frame(CAST(text AS BINARY))"))
        .withColumn("b", when(col("pick") === 0, gz)
          .when(col("pick") === 1, zstd).otherwise(tfr))
        .codecSniffed("b")
        .groupBy(col("codec"))
        .agg(count(lit(1)).as("n"),
          sum(col("declared_size")).as("sum_declared"))
    },

    // Protobuf WIRE-FORMAT scan — the encoding under tf.Example/TFRecord
    // pipelines. The synthesized messages vary the FIELD ORDER (the spec
    // allows any; a reader that assumes sorted tags misreads real data) and
    // the varint WIDTH (values straddle the 1/2/3-byte boundaries), with a
    // truncated-varint corrupt slice; pb_varint_field/pb_len_field answer
    // "ids and payload sizes" without materializing a single decoded
    // message.
    // ---- protobuf wire-format scan --------------------------------------
    Qry(
      "q212_protobuf_scan",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    (h60 % 13 = 0) AS corrupt,
         |    (h60 // 2) % 40 AS plen,
         |    (h60 // 128) % 250000 AS quality
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN corrupt THEN NULL ELSE doc_id END AS pb_id,
         |  CASE WHEN corrupt THEN NULL ELSE plen END AS payload_len,
         |  CASE WHEN corrupt THEN NULL ELSE quality END AS quality
         |FROM p""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // field 1: varint doc_id (tag 0x08); field 2: length-delimited
      // payload (tag 0x12); field 3: varint quality (tag 0x18).
      // quality spans 1-3 varint bytes, doc_id 1-3 at the stress
      // tiers. Field order flips by hash; the corrupt slice ends in a
      // truncated varint (a lone continuation byte).
      val f1 = concat(varint("8"), varint("doc_id"))
      val f2 = concat(varint("18"), varint("plen"),
        expr("CAST(repeat('x', CAST(plen AS INT)) AS BINARY)"))
      val f3 = concat(varint("24"), varint("quality"))
      val msg = when(expr("h60 % 2 = 0"), concat(f1, f2, f3))
        .otherwise(concat(f3, f1, f2))
      h60Of(spark, dir)
        .withColumn("corrupt", expr("h60 % 13 = 0"))
        .withColumn("plen", expr("(h60 DIV 2) % 40"))
        .withColumn("quality", expr("(h60 DIV 128) % 250000"))
        .withColumn("b", when(col("corrupt"),
          concat(varint("8"), expr("le_encode_u8(129)"))).otherwise(msg))
        .select(col("doc_id"),
          expr("pb_varint_field(b, 1)").as("pb_id"),
          expr("pb_len_field(b, 2)").as("payload_len"),
          expr("pb_varint_field(b, 3)").as("quality"))
    },

    // Ustar archive manifest. Each document is wrapped into a
    // synthesized tar archive (1-3 members with FIXED per-slot names
    // and sizes — 40 B, 96 B, and a 520 B member that exercises
    // multi-block data — plus the two-zero-block trailer), with two
    // hash-chosen corruption classes: a truncation that cuts into the
    // first member's data, and a header whose magic reads "xstar".
    // The `tar_members` / `tar_payload_bytes` / `tar_first_name`
    // expressions (functions/TarHeader.scala) walk the 512-byte
    // headers — parsing the OCTAL ASCII size fields for real — and
    // must recover the member count, total payload, and first name
    // for intact archives while sending both corrupt classes to NULL.
    // The oracle predicts every field from the synthesis parameters
    // (the q192 pattern), so a walk that mis-steps a block boundary
    // or mis-parses octal hash-fails corpus-wide.
    Qry(
      "q225_tar_manifest", {
        val pay = Sizes.scanLeft(0L)(_ + _).tail // 40, 136, 656
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
           |  FROM documents),
           |p AS (SELECT doc_id, h % 5 AS c,
           |    1 + (h // 5) % 3 AS k FROM d)
           |SELECT doc_id,
           |  CASE WHEN c = 0 THEN 'truncated' WHEN c = 1 THEN 'badmagic'
           |    ELSE 'ok' END AS kind,
           |  CASE WHEN c <= 1 THEN NULL ELSE CAST(k AS INT) END AS members,
           |  CAST(CASE WHEN c <= 1 THEN NULL
           |    WHEN k = 1 THEN ${pay(0)} WHEN k = 2 THEN ${pay(1)}
           |    ELSE ${pay(2)} END AS BIGINT) AS payload_bytes,
           |  CASE WHEN c <= 1 THEN NULL
           |    ELSE '${Names.head}' END AS first_name
           |FROM p""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      val zeros = lit(new Array[Byte](1024))
      // member i = constant header + content sliced from the document
      // text (rpad'ed so every slice exists) + constant block padding
      def member(i: Int, magic: String = "ustar") = concat(
        lit(hdrBytes(Names(i), Sizes(i), magic)),
        expr(s"substring(CAST(rpad(text, 600, 'x') AS BINARY), 1, ${Sizes(i)})"),
        lit(new Array[Byte](pad(Sizes(i)))))
      val okK = (1 to 3).map(k =>
        concat((0 until k).map(member(_)) :+ zeros: _*))
      val blob = when($"c" === 0,
        expr("substring(full3, 1, 600)")) // cuts into member0's data
        .when($"c" === 1,
          concat(member(0, "xstar"), zeros))
        .when($"k" === 1, okK(0)).when($"k" === 2, okK(1))
        .otherwise(okK(2))
      Tables(spark, dir).documents
        .select($"doc_id", $"text",
          h60Seed.as("h"))
        .withColumn("c", expr("h % 5"))
        .withColumn("k", expr("1 + (h div 5) % 3"))
        .withColumn("full3", okK(2))
        .withColumn("b", blob)
        .select($"doc_id",
          when($"c" === 0, "truncated").when($"c" === 1, "badmagic")
            .otherwise("ok").as("kind"),
          expr("tar_members(b)").as("members"),
          expr("tar_payload_bytes(b)").as("payload_bytes"),
          expr("tar_first_name(b)").as("first_name"))
    },

    // ---- WebDataset sample pairing --------------------------------------
    // The semantic layer above q225: members are (stem, extension)
    // pairs and a training SAMPLE exists only when every modality of a
    // stem is present. k=1 -> 000.txt alone (incomplete), k=2 -> 000
    // complete, k=3 -> 000 complete + 001.txt dangling. The oracle
    // predicts stems/samples from k; the Spark side must recover them
    // from the archive BYTES via tar_member_names + explode.
    Qry(
      "q226_webdataset_pairs",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |p AS (SELECT doc_id, 1 + (h // 7) % 3 AS k FROM d)
         |SELECT doc_id, CAST(k AS INT) AS members,
         |  CAST(CASE WHEN k = 3 THEN 2 ELSE 1 END AS BIGINT) AS n_stems,
         |  CAST(CASE WHEN k = 1 THEN 0 ELSE 1 END AS BIGINT)
         |    AS n_complete
         |FROM p""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      val zeros = lit(new Array[Byte](1024))
      def member(i: Int) = concat(
        lit(hdrBytes(WdsNames(i), Sizes(i))),
        expr(s"substring(CAST(rpad(text, 600, 'x') AS BINARY), 1, ${Sizes(i)})"),
        lit(new Array[Byte](pad(Sizes(i)))))
      val okK = (1 to 3).map(k =>
        concat((0 until k).map(member) :+ zeros: _*))
      val archives = Tables(spark, dir).documents
        .select($"doc_id", $"text",
          h60Seed.as("h"))
        .withColumn("k", expr("1 + (h div 7) % 3"))
        .withColumn("b",
          when($"k" === 1, okK(0)).when($"k" === 2, okK(1))
            .otherwise(okK(2)))
        .select($"doc_id",
          expr("tar_member_names(b)").as("names"))
      archives
        .select($"doc_id", size($"names").as("members"),
          explode($"names").as("name"))
        .select($"doc_id", $"members",
          expr("split(name, '\\\\.')[0]").as("stem"),
          expr("split(name, '\\\\.')[1]").as("ext"))
        .groupBy($"doc_id", $"members", $"stem")
        .agg(max(when($"ext" === "txt", 1).otherwise(0)).as("has_txt"),
          max(when($"ext" === "bin", 1).otherwise(0)).as("has_bin"))
        .groupBy($"doc_id", $"members")
        .agg(count(lit(1)).as("n_stems"),
          sum($"has_txt" * $"has_bin").cast("long").as("n_complete"))
    },

    // ---- PKZIP local-file-header manifest -------------------------------
    // tar's sibling (q225) on the OTHER archive family: 30-byte LE
    // local headers, stored entries, central-directory terminator. The
    // data-descriptor class pins the format's real limitation — a
    // streaming-written zip (flag bit 3) cannot be walked from local
    // headers, and the decoder must SAY so (NULL), not guess sizes.
    Qry(
      "q228_zip_manifest", {
        val pay = ZipSizes.scanLeft(0L)(_ + _).tail // 40, 136, 436
        s"""WITH d AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
           |  FROM documents),
           |p AS (SELECT doc_id, h % 5 AS c,
           |    1 + (h // 5) % 3 AS k FROM d)
           |SELECT doc_id,
           |  CASE WHEN c = 0 THEN 'truncated'
           |    WHEN c = 1 THEN 'data_descriptor' ELSE 'ok' END AS kind,
           |  CASE WHEN c <= 1 THEN NULL ELSE CAST(k AS INT) END
           |    AS entries,
           |  CAST(CASE WHEN c <= 1 THEN NULL
           |    WHEN k = 1 THEN ${pay(0)} WHEN k = 2 THEN ${pay(1)}
           |    ELSE ${pay(2)} END AS BIGINT) AS comp_bytes,
           |  CASE WHEN c <= 1 THEN NULL
           |    ELSE '${ZipNames.head}' END AS first_name
           |FROM p""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      def entry(i: Int, flags: Int = 0) = concat(
        lit(lfhBytes(ZipNames(i), ZipSizes(i), flags)),
        expr(s"substring(CAST(rpad(text, 600, 'x') AS BINARY), 1, ${ZipSizes(i)})"))
      val okK = (1 to 3).map(k =>
        concat((0 until k).map(entry(_)) :+ lit(Eocd): _*))
      val blob = when($"c" === 0, expr("substring(zfull3, 1, 60)"))
        .when($"c" === 1, concat(entry(0, flags = 8), lit(Eocd)))
        .when($"k" === 1, okK(0)).when($"k" === 2, okK(1))
        .otherwise(okK(2))
      Tables(spark, dir).documents
        .select($"doc_id", $"text",
          h60Seed.as("h"))
        .withColumn("c", expr("h % 5"))
        .withColumn("k", expr("1 + (h div 5) % 3"))
        .withColumn("zfull3", okK(2))
        .withColumn("b", blob)
        .select($"doc_id",
          when($"c" === 0, "truncated").when($"c" === 1, "data_descriptor")
            .otherwise("ok").as("kind"),
          expr("zip_entries(b)").as("entries"),
          expr("zip_comp_bytes(b)").as("comp_bytes"),
          expr("zip_first_name(b)").as("first_name"))
    },

    // q210's transport manifest widened to the FULL
    // `codecSniffed` matrix — gzip, zstd, TFRecord, Ogg/Opus, tar,
    // zip, plus a junk class matching NO magic — classified purely by
    // the decoders' never-throw NULL contract and rolled up per codec
    // with declared-size sums. q236 runs the SAME synthesis and
    // rollup under Structured Streaming against the SAME oracle text
    // verbatim (the q192/q193 / q205/q206 equivalence pattern), so
    // batch/stream divergence in any of the six walks is itself
    // gate-checked. Per-codec declared semantics: gzip and Ogg NULL
    // (gzip's ISIZE is a trailer field; an Ogg BOS page declares no
    // payload size), zstd the u32 frame-content size, TFRecord the
    // CRC-gated length, tar/zip the archive payload sums.
    Qry("q235_transport_manifest5", OracleSql) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      manifestOf(h60TextOf(spark, dir))
    },

    Qry("q236_stream_transport5", OracleSql) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val stream = Streams.fileStream(spark, dir, "documents")
        .select(col("doc_id"), col("text"),
          h60Seed.as("h60"))
      Streams.runToMemory(manifestOf(stream), "complete")
    }
  )
}
