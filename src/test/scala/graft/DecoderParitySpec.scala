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
  * on the format the two readers decode differently. */
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
    case other => other
  }

  test("every binary decoder agrees between eval and whole-stage codegen") {
    assert(decoders.size >= 50, decoders.map(_._1))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        corpus.zipWithIndex.map { case (b, i) => Row(i, b) }, 2),
      StructType(Seq(StructField("i", IntegerType),
        StructField("b", BinaryType))))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try decoders.foreach { case (name, e) =>
      val q = df.selectExpr("i", s"$name(b) AS v")
      assert(q.queryExecution.executedPlan.exists(
        _.isInstanceOf[WholeStageCodegenExec]), s"$name: not codegen'd")
      val generated = q.collect().map(r => r.getInt(0) -> norm(r.get(1)))
        .sortBy(_._1).map(_._2).toSeq
      val interpreted = corpus.map { b =>
        norm(CatalystTypeConverters.convertToScala(
          e.eval(InternalRow(b)), e.dataType))
      }
      corpus.indices.foreach { i =>
        assert(generated(i) == interpreted(i),
          s"$name on corpus row $i: codegen ${generated(i)} vs eval " +
            s"${interpreted(i)}")
      }
      // no function is constant over the corpus's non-NULL payloads
      assert(interpreted.filter(_ != null).nonEmpty &&
        interpreted.init.distinct.size >= 2, s"$name: $interpreted")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
