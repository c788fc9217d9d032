package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the graft expression library.
  *
  * Two entry paths, same builders:
  *   - `spark.sql.extensions=graft.functions.GraftExtensions` (proper
  *     cluster deployment: functions exist in every session), or
  *   - `GraftFunctions.register(spark)` for an existing session (tests,
  *     the Verify/Bench mains).
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  /** One registry entry. The builder runs during analysis, so a
    * wrong-arity SQL call fails there with a message naming the function
    * instead of an IndexOutOfBoundsException from `es(1)` (or an extra
    * argument dropped in silence). `usage` is what `DESCRIBE FUNCTION`
    * prints. */
  private def fn(name: String, usage: String, arity: Int,
      build: Builder): (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(s"graft.functions.$name", null, name, usage, ""),
      es => {
        if (es.length != arity)
          throw new IllegalArgumentException(
            s"$name expects exactly $arity arguments, got ${es.length}")
        build(es)
      })

  private def unary(name: String, usage: String,
      f: Expression => Expression) =
    fn(name, usage, 1, es => f(es(0)))

  private def binary(name: String, usage: String,
      f: (Expression, Expression) => Expression) =
    fn(name, usage, 2, es => f(es(0), es(1)))

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    unary("le_encode_u8", "low byte of an int as 1-byte binary", LeEncodeU8),
    unary("le_encode_u32", "little-endian 4-byte encoding of an int",
      LeEncodeU32),
    unary("le_encode_u64", "little-endian 8-byte encoding of a long",
      LeEncodeU64),
    unary("le_encode_f64", "little-endian 8-byte encoding of a double",
      LeEncodeF64),
    unary("gzip_compress", "RFC 1952 one-member gzip of a binary payload",
      GzipCompress),
    binary("gzip_inflate", "bounded gzip inflate: NULL on corrupt/oversize",
      GzipInflate),
    unary("zstd_compress", "one zstd frame of a binary payload", ZstdCompress),
    binary("zstd_inflate", "bounded zstd inflate: NULL on corrupt/oversize",
      ZstdInflate),
    binary("le_u8", "decode u8 at offset from binary", LeDecodeU8),
    binary("le_u32", "decode little-endian u32 at offset from binary",
      LeDecodeU32),
    binary("le_u64", "decode little-endian u64 at offset from binary",
      LeDecodeU64),
    binary("le_f64", "decode little-endian f64 at offset from binary",
      LeDecodeF64),
    unary("bmp_width", "BMP i32 LE width @18 (NULL unless BM magic)", BmpWidth),
    unary("bmp_height", "BMP i32 LE height @22 (NULL unless BM magic)",
      BmpHeight),
    unary("bmp_bpp", "BMP u16 LE bits-per-pixel @28 (NULL unless BM magic)",
      BmpBpp),
    unary("png_width", "PNG u32 BE IHDR width @16 (NULL unless signature)",
      PngWidth),
    unary("png_height", "PNG u32 BE IHDR height @20 (NULL unless signature)",
      PngHeight),
    unary("png_bit_depth", "PNG IHDR bit depth @24 (NULL unless signature)",
      PngBitDepth),
    unary("png_color_type", "PNG IHDR color type @25 (NULL unless signature)",
      PngColorType),
    unary("wav_audio_format",
      "WAV u16 LE fmt tag, fmt chunk @0 (chunk-walked; NULL if no fmt)",
      WavAudioFormat),
    unary("wav_channels",
      "WAV u16 LE channel count, fmt chunk @2 (chunk-walked; NULL if no fmt)",
      WavChannels),
    unary("wav_sample_rate",
      "WAV u32 LE sample rate, fmt chunk @4 (chunk-walked; NULL if no fmt)",
      WavSampleRate),
    unary("wav_byte_rate",
      "WAV u32 LE byte rate, fmt chunk @8 (chunk-walked; NULL if no fmt)",
      WavByteRate),
    unary("wav_bits_per_sample",
      "WAV u16 LE bits per sample, fmt chunk @14 (chunk-walked; NULL if no fmt)",
      WavBitsPerSample),
    unary("gif_width", "GIF u16 LE width @6 (NULL unless GIF87a/89a)",
      GifWidth),
    unary("gif_height", "GIF u16 LE height @8 (NULL unless GIF87a/89a)",
      GifHeight),
    unary("jpeg_precision",
      "JPEG u8 sample precision, SOF @0 (marker-walked; NULL if no SOF)",
      JpegPrecision),
    unary("jpeg_height",
      "JPEG u16 BE height, SOF @1 (marker-walked; NULL if no SOF)",
      JpegHeight),
    unary("jpeg_width",
      "JPEG u16 BE width, SOF @3 (marker-walked; NULL if no SOF)",
      JpegWidth),
    unary("jpeg_components",
      "JPEG u8 component count, SOF @5 (marker-walked; NULL if no SOF)",
      JpegComponents),
    unary("mp4_timescale",
      "MP4 u32 BE mvhd timescale (box-walked; NULL unless ftyp+moov/mvhd v0)",
      Mp4Timescale),
    unary("mp4_duration",
      "MP4 u32 BE mvhd duration (box-walked; NULL unless ftyp+moov/mvhd v0)",
      Mp4Duration),
    unary("mp4_timescale64",
      "MP4 mvhd timescale as BIGINT, version 0 or 1 (box-walked)",
      Mp4Timescale64),
    unary("mp4_duration64",
      "MP4 mvhd duration as BIGINT, version 0 u32 or version 1 u64",
      Mp4Duration64),
    unary("mp3_bitrate_kbps",
      "MPEG-1 Layer III bitrate (ID3v2-skipped; NULL if free/bad/no sync)",
      Mp3BitrateKbps),
    unary("mp3_sample_rate",
      "MPEG-1 Layer III sample rate Hz (ID3v2-skipped; NULL if reserved)",
      Mp3SampleRate),
    unary("flac_sample_rate",
      "FLAC STREAMINFO sample rate Hz (20-bit; NULL unless fLaC+type0)",
      FlacSampleRate),
    unary("flac_channels",
      "FLAC STREAMINFO channel count (3-bit field + 1)",
      FlacChannels),
    unary("flac_bits_per_sample",
      "FLAC STREAMINFO bits per sample (5-bit field + 1)",
      FlacBitsPerSample),
    unary("flac_total_samples",
      "FLAC STREAMINFO total samples (36-bit BIGINT)",
      FlacTotalSamples),
    unary("webp_width",
      "WebP canvas width (VP8X u24+1 / VP8L 14-bit packed / VP8 lossy)",
      WebpWidth),
    unary("webp_height",
      "WebP canvas height (VP8X u24+1 / VP8L 14-bit packed / VP8 lossy)",
      WebpHeight),
    unary("tiff_width",
      "TIFF ImageWidth via endian-aware IFD walk (II/MM; SHORT or LONG)",
      TiffWidth),
    unary("tiff_height",
      "TIFF ImageLength via endian-aware IFD walk (II/MM; SHORT or LONG)",
      TiffHeight),
    unary("gzip_mtime",
      "gzip member MTIME as unsigned u32 (RFC 1952; 0 = absent)",
      GzipMtime),
    unary("gzip_os",
      "gzip member OS byte (RFC 1952; 255 = unknown)",
      GzipOs),
    unary("gzip_fname",
      "gzip original file name (FEXTRA-skipped, zero-terminated, <=256)",
      GzipFname),
    unary("zstd_content_size",
      "zstd declared decompressed size (RFC 8878; NULL when undeclared)",
      ZstdContentSize),
    unary("zstd_window_size",
      "zstd window size from the descriptor (NULL when single-segment)",
      ZstdWindowSize),
    unary("opus_channels",
      "Opus channel count from OpusHead on a BOS Ogg page (RFC 7845)",
      OpusChannels),
    unary("opus_pre_skip",
      "Opus pre-skip samples u16 LE from OpusHead",
      OpusPreSkip),
    unary("opus_input_sample_rate",
      "Opus original input sample rate u32 LE from OpusHead",
      OpusInputSampleRate),
    unary("tfrecord_length",
      "TFRecord payload length, gated on the masked-CRC32C length check",
      TfRecordLength),
    unary("tfrecord_payload_ok",
      "1/0 payload CRC32C verdict for a parsed TFRecord frame",
      TfRecordPayloadOk),
    unary("tfrecord_frame",
      "wrap a binary payload in TFRecord framing (length+CRC32C x2)",
      TfRecordFrame),
    binary("pb_varint_field",
      "first wire-type-0 value of a protobuf field (any field order)",
      PbVarintField),
    binary("pb_len_field",
      "byte length of a protobuf length-delimited field",
      PbLenField),
    unary("utf8_valid",
      "strict UTF-8 validity (overlong/surrogate/truncation all false)",
      Utf8Valid),
    unary("tar_members",
      "ustar member count via bounded header walk (0 = valid empty)",
      TarMembers),
    unary("tar_payload_bytes",
      "ustar total declared payload bytes across members (BIGINT)",
      TarPayloadBytes),
    unary("tar_first_name",
      "ustar first member name, NUL-trimmed (NULL when empty/corrupt)",
      TarFirstName),
    unary("tar_member_names",
      "ustar member names in archive order (empty array = empty archive)",
      TarMemberNames),
    unary("zip_entries",
      "PKZIP entry count via LFH walk (data-descriptor zips -> NULL)",
      ZipEntries),
    unary("zip_comp_bytes",
      "PKZIP total compressed bytes across LFH entries (BIGINT)",
      ZipCompBytes),
    unary("zip_first_name",
      "PKZIP first entry name (NULL when empty/corrupt)",
      ZipFirstName),
    // Composite SQL functions over built-in catalyst nodes. These mirror
    // the Column-level operators (operators.Pii.redact,
    // operators.ZOrder.interleave16) node for node; GraftFacadeSpec pins
    // both surfaces to the same outputs so they cannot drift. (Building
    // them by converting the Column trees back to expressions leaves
    // unanalyzable ColumnNode wrappers in the plan — hence the mirror.)
    unary("pii_redact", "scrub email/phone/IPv4 to typed placeholders",
      piiRedact),
    binary("z_interleave16", "Morton-interleave two 16-bit-scaled longs",
      zInterleave16),
    binary("vec_dot", "codegen'd sequential-fold dot product (array<double>)",
      VecDot),
    binary("vec_distsq",
      "codegen'd sequential-fold squared L2 distance (array<double>)",
      VecDistSq))

  import graft.operators.{Pii, ZOrder}

  private def rep(subject: Expression, re: String, tag: String): Expression =
    ce.RegExpReplace(subject, lit(re), lit(tag), lit(1))

  private def piiRedact(subject: Expression): Expression =
    rep(rep(rep(subject, Pii.EmailRe, Pii.EmailTag),
      Pii.PhoneRe, Pii.PhoneTag), Pii.IpRe, Pii.IpTag)

  private def zInterleave16(x: Expression, y: Expression): Expression =
    (0 until ZOrder.Bits).map { i =>
      ce.BitwiseOr(
        ce.ShiftLeft(ce.BitwiseAnd(ce.ShiftRight(x, lit(i)), lit(1L)),
          lit(2 * i)),
        ce.ShiftLeft(ce.BitwiseAnd(ce.ShiftRight(y, lit(i)), lit(1L)),
          lit(2 * i + 1)))
    }.reduce[Expression]((a, b) => ce.BitwiseOr(a, b))

  private def lit(v: Any): Expression = ce.Literal(v)

  /** Idempotent registration into an existing session. */
  def register(spark: SparkSession): Unit = all.foreach {
    case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}

/** `spark.sql.extensions` entry point: SQL functions, optimizer rules,
  * and the native as-of join planner strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.LeRoundtripElimination)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
