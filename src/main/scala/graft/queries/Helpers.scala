package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.Tables

/** Helpers shared by the catalog's domain objects: the per-fixture memo,
  * the Spark-side byte writers that synthesize binary fixtures, the
  * document hash leaves those fixtures derive from, and the corpus split
  * bounds. Helpers whose meaning differs carry different names.
  */
private[queries] object Helpers {

  val one = lit(1)

  // ---- per-fixture memo ---------------------------------------------------
  /** Every file under a fixture dir as (relative path, length, mtime). */
  private type Fingerprint = Seq[(String, Long, Long)]

  private val memo = new ConcurrentHashMap[(String, String), (Fingerprint, AnyRef)]()

  private def fingerprint(dir: String): Fingerprint = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p: Path =>
      (root.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis)
    }.toSeq.sorted
    finally walk.close()
  }

  /** The value `compute` derives from the fixture in `dir` (trained
    * weights, centroids, a rewritten copy), reused by every query and
    * pass that asks for `name` while the fixture is unchanged. Each call
    * compares every fixture file's length and mtime with the stored
    * ones, so a fixture rewritten in place recomputes instead of serving
    * the old value. Two first calls racing on one key may both compute;
    * `compute` is deterministic, so either result is the value. */
  def fixtureMemo[T <: AnyRef](name: String, dir: String)(compute: => T): T = {
    val fp = fingerprint(dir)
    val hit = memo.get((name, dir))
    if (hit != null && hit._1 == fp) hit._2.asInstanceOf[T]
    else {
      val v = compute
      memo.put((name, dir), (fp, v))
      v
    }
  }

  // ---- corpus split: 80/10/10 by hash range over [0, P) -----------------
  // integer bounds computed the same way in both engines so the CASE arms
  // can never disagree
  val TrainBound = TextOps.P * 8 / 10
  val ValBound = TextOps.P * 9 / 10

  // ---- document hash leaves ---------------------------------------------
  // h60 = the first 60 bits of md5(text): the seed every synthesized
  // binary fixture derives its fields from, in both engines (the oracle
  // SQL spells it CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT))
  val h60Seed =
    expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
  private val h60 = h60Seed.as("h60")

  /** (doc_id, h60) */
  def h60Of(spark: SparkSession, dir: String) =
    Tables(spark, dir).documents.select(col("doc_id"), h60)

  /** (doc_id, text, h60) */
  def h60TextOf(spark: SparkSession, dir: String) =
    Tables(spark, dir).documents.select(col("doc_id"), col("text"), h60)

  /** (doc_id, text, n_chars, h60) */
  def h60TextCharsOf(spark: SparkSession, dir: String) =
    Tables(spark, dir).documents.select(col("doc_id"), col("text"),
      col("n_chars"), h60)

  // ---- Spark byte writers over BIGINT-valued SQL expressions -------------
  def bytesLit(hex: String) = lit(
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)

  /** Low byte of `x`. */
  def u8(x: String) =
    expr(s"le_encode_u8(CAST(($x) % 256 AS INT))")
  def u16le(x: String) = concat(u8(x), u8(s"($x) DIV 256"))
  def u16be(x: String) = concat(u8(s"($x) DIV 256"), u8(x))
  def u32le(x: String) = concat(u8(x), u8(s"($x) DIV 256"),
    u8(s"($x) DIV 65536"), u8(s"($x) DIV 16777216"))
  def u32be(x: String) = concat(u8(s"($x) DIV 16777216"),
    u8(s"($x) DIV 65536"), u8(s"($x) DIV 256"), u8(x))

  // u16 writers for values known to fit 16 bits: the high byte is not
  // masked (unlike u16le/u16be/be16)
  def le16Unmasked(x: String) = concat(
    expr(s"le_encode_u8(CAST(($x) % 256 AS INT))"),
    expr(s"le_encode_u8(CAST(($x) DIV 256 AS INT))"))
  def be16Unmasked(x: String) = concat(
    expr(s"le_encode_u8(CAST(($x) DIV 256 AS INT))"),
    expr(s"le_encode_u8(CAST(($x) % 256 AS INT))"))

  def be16(x: String) = concat(
    expr(s"le_encode_u8(CAST(($x) DIV 256 % 256 AS INT))"),
    expr(s"le_encode_u8(CAST(($x) % 256 AS INT))"))
  def be24(x: String) = concat(
    expr(s"le_encode_u8(CAST(($x) DIV 65536 % 256 AS INT))"),
    be16(x))
  def be32(x: String) = concat(
    expr(s"le_encode_u8(CAST(($x) DIV 16777216 % 256 AS INT))"),
    be24(x))
  def be64(x: String) =
    concat(be32(s"($x) DIV 4294967296"), be32(s"($x) % 4294967296"))

  // ---- DuckDB hex writers: the oracle-side twins of the byte writers ----
  // little-endian u16/u32 as hex — low byte first
  def le16Hex(x: String) =
    s"printf('%02x', ($x) % 256) || printf('%02x', ($x) // 256)"
  def le32Hex(x: String) =
    s"printf('%02x', ($x) % 256) || printf('%02x', (($x) // 256) % 256)" +
      s" || printf('%02x', (($x) // 65536) % 256)" +
      s" || printf('%02x', (($x) // 16777216) % 256)"
}
