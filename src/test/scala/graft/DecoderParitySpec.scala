package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ExpectsInputTypes, Expression}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._

import graft.functions._

/** Eval/codegen parity for every registered function whose only argument
  * is binary: each one runs over one mixed corpus — a valid sample of
  * every format, each sample truncated and with its magic corrupted, a
  * few values past their field's type, and plain text, empty and NULL
  * payloads — through interpreted `Expression.eval` and through a
  * whole-stage-codegen `select`, and the two must agree row for row.
  * A decoder names its static reader twice (the generated code's call
  * target and the Scala function); a pair that disagrees shows up here
  * on the format the two readers decode differently.
  *
  * The engine's two-argument expressions (`le_*` offset reads, the
  * protobuf field scans, bounded inflate and the vector folds) get the
  * same check over the cross product of their first and second inputs.
  * The frames are RDD-backed: Spark folds a projection over a
  * `Seq(...).toDF` local relation on the driver with interpreted eval,
  * so such a frame never runs `doGenCode`. */
class DecoderParitySpec extends SparkTestBase {

  private def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  private def be(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.BIG_ENDIAN)
  private def ascii(s: String) = s.getBytes("ISO-8859-1")

  private val bmp = {
    val b = le(54)
    b.put(ascii("BM")).putInt(54 + 12).putInt(0).putInt(54)
    b.putInt(40).putInt(2).putInt(-2).putShort(1).putShort(24)
    b.array()
  }

  private val png = {
    val b = be(33)
    b.put(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    b.putInt(13).put(ascii("IHDR")).putInt(640).putInt(480)
    b.put(Array[Byte](8, 6, 0, 0, 0)).putInt(0)
    b.array()
  }

  private def wav(rate: Int) = {
    val b = le(44)
    b.put(ascii("RIFF")).putInt(36).put(ascii("WAVEfmt ")).putInt(16)
    b.putShort(1).putShort(2).putInt(rate).putInt(rate * 4)
    b.putShort(4).putShort(16).put(ascii("data")).putInt(0)
    b.array()
  }

  private val gif = {
    val b = le(13)
    b.put(ascii("GIF89a")).putShort(320).putShort(200).put(Array[Byte](0, 0, 0))
    b.array()
  }

  private val jpeg = {
    val b = be(2 + 18 + 19 + 2)
    b.put(Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)).putShort(16)
    b.put(ascii("JFIF\u0000")).put(Array.fill[Byte](9)(1))
    b.put(Array(0xFF, 0xC0).map(_.toByte)).putShort(17)
    b.put(8.toByte).putShort(480).putShort(640).put(3.toByte)
    b.put(Array.fill[Byte](9)(1)).put(Array(0xFF, 0xD9).map(_.toByte))
    b.array()
  }

  private val mp4 = {
    val b = be(16 + 8 + 32)
    b.putInt(16).put(ascii("ftypisom")).putInt(0)
    b.putInt(8 + 32).put(ascii("moov"))
    b.putInt(32).put(ascii("mvhd")).putInt(0).putInt(0).putInt(0)
    b.putInt(600).putInt(6000).putInt(0)
    b.array()
  }

  private val mp3 = ascii("ID3") ++ Array[Byte](3, 0, 0, 0, 0, 0, 0) ++
    Array(0xFF, 0xFB, 0x90, 0x64, 0, 0).map(_.toByte)

  private val flac = {
    val b = be(42)
    b.put(ascii("fLaC")).put(0x80.toByte).put(Array[Byte](0, 0, 34))
    b.putShort(4096).putShort(4096).put(Array.fill[Byte](6)(0))
    b.putLong((44100L << 44) | (1L << 41) | (15L << 36) | 123456L)
    b.put(Array.fill[Byte](16)(0))
    b.array()
  }

  private val webp = {
    val b = le(30)
    b.put(ascii("RIFF")).putInt(22).put(ascii("WEBPVP8X")).putInt(10)
    b.putInt(0).put(Array[Byte](99, 0, 0, 49, 0, 0))
    b.array()
  }

  private val tiff = {
    val b = le(8 + 2 + 24 + 4)
    b.put(ascii("II")).putShort(42).putInt(8).putShort(2)
    b.putShort(256).putShort(3).putInt(1).putShort(640).putShort(0)
    b.putShort(257).putShort(4).putInt(1).putInt(480)
    b.putInt(0)
    b.array()
  }

  private val gzipNamed = Array(0x1F, 0x8B, 8, 8, 1, 2, 3, 4, 0, 3)
    .map(_.toByte) ++ ascii("a.txt\u0000") ++ Array[Byte](3, 0)

  private val opus = {
    val b = le(27 + 1 + 19)
    b.put(ascii("OggS")).put(0.toByte).put(2.toByte)
    b.put(Array.fill[Byte](20)(0)).put(1.toByte).put(19.toByte)
    b.put(ascii("OpusHead")).put(1.toByte).put(2.toByte)
    b.putShort(312).putInt(48000).putShort(0).put(0.toByte)
    b.array()
  }

  private val tar = {
    val h = new Array[Byte](512)
    ascii("a.txt").copyToArray(h, 0)
    ascii("00000000005\u0000").copyToArray(h, 124)
    ascii("ustar\u000000").copyToArray(h, 257)
    h ++ ascii("hello").padTo(512, 0.toByte) ++ new Array[Byte](1024)
  }

  private val zip = {
    val b = le(30 + 5 + 5 + 22)
    b.putInt(0x04034B50).putShort(20).putShort(0).putShort(0).putInt(0)
      .putInt(0).putInt(5).putInt(5).putShort(5).putShort(0)
    b.put(ascii("a.txt")).put(ascii("hello"))
    b.putInt(0x06054B50).put(new Array[Byte](18))
    b.array()
  }

  /** (sample, offset of the byte its magic check reads). */
  private val samples: Seq[(Array[Byte], Int)] = Seq(
    bmp -> 0, png -> 1, wav(44100) -> 8, gif -> 0, jpeg -> 1, mp4 -> 4,
    mp3 -> 0, flac -> 0, webp -> 8, tiff -> 0, gzipNamed -> 1,
    GzipCodec.compress(ascii("hello")) -> 0,
    ZstdCodec.compress(ascii("hello")) -> 0,
    // a zstd frame header with a window descriptor (not single-segment)
    Array(0x28, 0xB5, 0x2F, 0xFD, 0x40, 0x77, 0x10, 0x00).map(_.toByte) -> 0,
    opus -> 0,
    TfRecord.frame(ascii("payload")) -> 8, tar -> 257, zip -> 0)

  private def corrupt(a: Array[Byte], at: Int) = {
    val c = a.clone(); c(at) = (c(at) ^ 0x5A).toByte; c
  }

  private val corpus: Seq[Array[Byte]] = samples.flatMap { case (a, m) =>
    Seq(a, a.take(a.length / 2), a.dropRight(1), corrupt(a, m))
  } ++ Seq(
    wav(0x80000000), // sample and byte rate past Int.MaxValue
    png.updated(16, 0x80.toByte), // width past Int.MaxValue
    ascii("plain text, not a container"), Array[Byte](0xC3.toByte),
    Array.emptyByteArray, null)

  /** Registered functions whose only argument is binary. */
  private val decoders: Seq[(String, Expression)] = GraftFunctions.all
    .flatMap { case (id, _, build) =>
      scala.util.Try(build(Seq(BoundReference(0, BinaryType, true)))).toOption
        .collect {
          case e: ExpectsInputTypes if e.inputTypes == Seq(BinaryType) =>
            id.funcName -> e
        }
    }

  private def norm(v: Any): Any = v match {
    case a: Array[Byte] => a.toSeq
    case s: scala.collection.Seq[_] => s.toList
    case d: Double if d.isNaN => "NaN"
    case other => other
  }

  /** Runs each `(name, expression)` over `rows` twice: as
    * `name(<cols>)` in a whole-stage-codegen select over an RDD-backed
    * frame of `cols`, and as `expression.eval` of each row, whose
    * `BoundReference`s must match `cols` by ordinal. Fails on the first
    * row where the two differ; returns each function's eval results. */
  private def assertParity(cols: Seq[StructField], rows: Seq[Seq[Any]],
      cases: Seq[(String, Expression)]): Seq[(String, Seq[Any])] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r) }, 2),
      StructType(StructField("i", IntegerType) +: cols))
    val call = cols.map(_.name).mkString("(", ", ", ")")
    val confs = Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try cases.map { case (name, e) =>
      val q = df.selectExpr("i", s"$name$call AS v")
      assert(q.queryExecution.executedPlan.exists(
        _.isInstanceOf[WholeStageCodegenExec]), s"$name: not codegen'd")
      val generated = q.collect().map(r => r.getInt(0) -> norm(r.get(1)))
        .sortBy(_._1).map(_._2).toSeq
      val interpreted = rows.map { r =>
        val in = InternalRow.fromSeq(r.map(CatalystTypeConverters.convertToCatalyst))
        norm(CatalystTypeConverters.convertToScala(e.eval(in), e.dataType))
      }
      rows.indices.foreach { i =>
        assert(generated(i) == interpreted(i),
          s"$name on row $i ${rows(i).map(norm).mkString("(", ", ", ")")
            .take(200)}: codegen ${String.valueOf(generated(i)).take(200)} vs " +
            s"eval ${String.valueOf(interpreted(i)).take(200)}")
      }
      name -> interpreted
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every binary decoder agrees between eval and whole-stage codegen") {
    assert(decoders.size >= 50, decoders.map(_._1))
    assertParity(Seq(StructField("b", BinaryType)), corpus.map(Seq(_)),
      decoders).foreach { case (name, interpreted) =>
      // no function is constant over the corpus's non-NULL payloads
      assert(interpreted.filter(_ != null).nonEmpty &&
        interpreted.init.distinct.size >= 2, s"$name: $interpreted")
    }
  }

  /** The registered two-argument function `name`, bound to `cols`. */
  private def twoArg(name: String, cols: Seq[StructField]): (String, Expression) = {
    val (_, _, build) = GraftFunctions.all.find(_._1.funcName == name)
      .getOrElse(fail(s"$name is not registered"))
    name -> build(cols.zipWithIndex.map { case (c, i) =>
      BoundReference(i, c.dataType, true) })
  }

  /** Every (first, second) pair, NULLs included. */
  private def cross(as: Seq[Any], bs: Seq[Any]): Seq[Seq[Any]] =
    for (a <- as; b <- bs) yield Seq(a, b)

  /** Runs the two-argument functions `names` over `rows` and checks that
    * each returns at least two distinct non-NULL values there. */
  private def assertTwoArgParity(cols: Seq[StructField], rows: Seq[Seq[Any]],
      names: String*): Unit =
    assertParity(cols, rows, names.map(twoArg(_, cols))).foreach {
      case (name, interpreted) =>
        assert(interpreted.filter(_ != null).distinct.size >= 2,
          s"$name: ${interpreted.distinct.take(10)}")
    }

  private val binaryAndInt =
    Seq(StructField("b", BinaryType), StructField("n", IntegerType))

  test("le_* offset reads agree between eval and whole-stage codegen") {
    val rec = le(16).putLong(0x8877665544332211L).putDouble(-1.5).array()
    val payloads = Seq(rec, Array(0xFF, 0x80, 0x7F).map(_.toByte),
      Array.emptyByteArray, null)
    // negative, every in-bounds/past-the-end boundary of the 1-, 4- and
    // 8-byte reads over 16 and 3 bytes, and offsets whose `o + width`
    // overflows Int
    val offsets = Seq(Int.MinValue, -8, -1, 0, 1, 2, 3, 4, 7, 8, 9, 12, 13,
      15, 16, 17, Int.MaxValue - 3, Int.MaxValue, null)
    assertTwoArgParity(binaryAndInt, cross(payloads, offsets),
      "le_u8", "le_u32", "le_u64", "le_f64")
  }

  test("protobuf field scans agree between eval and whole-stage codegen") {
    def bytes(xs: Int*) = xs.map(_.toByte).toArray
    // field 1 varint 150, field 2 "abc", field 3 varint 5, field 4 empty
    val msg = bytes(0x08, 0x96, 0x01, 0x12, 3) ++ ascii("abc") ++
      bytes(0x18, 5, 0x22, 0)
    val payloads = Seq(
      msg, msg.dropRight(1), msg.take(4),
      // field 3 "hi" before field 1 varint 1 and field 2 varint 300
      bytes(0x1A, 2) ++ ascii("hi") ++ bytes(0x08, 1, 0x10, 0xAC, 0x02),
      // fixed64 and fixed32 fields skipped before field 1 varint 7
      bytes(0x09) ++ new Array[Byte](8) ++ bytes(0x15, 1, 2, 3, 4, 0x08, 7),
      // a varint past 2^63, a varint with no last byte, an overrunning
      // length, a group wire type, and a field number past Int
      bytes(0x08) ++ Array.fill(9)(0xFF.toByte) ++ bytes(0x01),
      bytes(0x08) ++ Array.fill(11)(0xFF.toByte),
      bytes(0x12, 0x10) ++ ascii("a"), bytes(0x0B, 0x08, 1),
      bytes(0xF8, 0xFF, 0xFF, 0xFF, 0x7F, 9),
      // 40 varint fields: past the scan's field budget
      Array.fill(40)(bytes(0x10, 1)).flatten ++ bytes(0x08, 2),
      Array.emptyByteArray, null)
    val fields = Seq(Int.MinValue, -1, 0, 1, 2, 3, 4, 5, 536870911,
      Int.MaxValue, null)
    assertTwoArgParity(binaryAndInt, cross(payloads, fields),
      "pb_varint_field", "pb_len_field")
  }

  test("bounded inflate agrees between eval and whole-stage codegen") {
    val hello = ascii("hello")
    val big = Array.fill[Byte](100000)(7)
    val gz = GzipCodec.compress(hello)
    val zs = ZstdCodec.compress(hello)
    val payloads = Seq(gz, zs, GzipCodec.compress(big),
      ZstdCodec.compress(big), gz.dropRight(1), zs.take(zs.length / 2),
      corrupt(gz, 0), corrupt(zs, 0), corrupt(gz, gz.length - 6),
      GzipCodec.compress(Array.emptyByteArray), hello,
      Array.emptyByteArray, null)
    // negative, zero, one below / at / above each payload's inflated
    // size, and unbounded
    val bounds = Seq(Int.MinValue, -1, 0, 4, 5, 6, 99999, 100000,
      Int.MaxValue, null)
    assertTwoArgParity(binaryAndInt, cross(payloads, bounds),
      "gzip_inflate", "zstd_inflate")
  }

  test("vector folds agree between eval and whole-stage codegen") {
    val vec = ArrayType(DoubleType, containsNull = true)
    val vectors = Seq(Seq(), Seq(1.0), Seq(1.0, 2.0, 3.0),
      Seq(-0.5, 1e308, 3.0), Seq(0.1, 0.2, 0.3), Seq(-0.0, 4.0, -2.5),
      Seq(1.0, null, 2.0), null)
    assertTwoArgParity(Seq(StructField("x", vec), StructField("y", vec)),
      cross(vectors, vectors), "vec_dot", "vec_distsq")
  }
}
