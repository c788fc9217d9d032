package graft

import org.apache.spark.sql.functions._

import graft.queries.Text

/** Contract pins for the sixty-second wave (q217 HTML extraction,
  * q218 Bloom decontamination).
  *
  *  - Entity round-trip: a document whose TEXT contains markup-looking
  *    characters (`&`, `<`, even a literal `&lt;`) must come back from
  *    the synthesize→extract cycle with those characters intact — the
  *    decode order (entities AFTER tag strip, `&amp;` last) is exactly
  *    what this protects; either swap silently eats user text.
  *  - Bloom false-positive rate: the geometry (m = 2^16 bits, k = 4,
  *    n ≈ 10% of the corpus' shingles) predicts FP well under 1%. The
  *    first cut of the position hash reduced the affine product mod
  *    2^16 directly — low-16-bit-only mixing — and measured 3.6% FP
  *    (70× theory) while still passing the oracle (the oracle shares
  *    the hash, so parity can't catch a WEAK hash, only a mismatched
  *    one). This pin is the quality gate parity can't provide.
  *  - No false negatives: Bloom filters never miss — `never_misses`
  *    must be true for every source (also hash-gated, pinned here so a
  *    refactor that breaks it fails fast with a named reason).
  */
class WebExtractSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) =
    Text.all.find(_.name == name).get.fn(spark, sf)

  test("q217: entity escaping round-trips markup-looking text") {
    import spark.implicits._
    // run the real q217 pipeline over a crafted one-row documents dir
    val dir = java.nio.file.Files.createTempDirectory("q217rt_").toString
    val text = "a & b < c and a literal &lt; plus &amp; too"
    Seq((1L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the other tables aren't touched by q217; documents alone suffices
    val row = Text.all.find(_.name == "q217_html_extract").get
      .fn(spark, dir).select("text_chars", "n_tags", "n_links").head()
    // which hash-chosen link tail did this text get? (same h60 % 3 as
    // the query — recompute it independently here)
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val extra = (BigInt(md5hex.take(15), 16) % 3).toInt
    // clean = "doc 1 home about " + text + hash-chosen link-text tail;
    // every & and < of the ORIGINAL text must survive the cycle
    val tail = Seq("", " see more", " a b")(extra)
    val expected = s"doc 1 home about $text$tail".length.toLong
    assert(row.getLong(0) == expected,
      s"extracted ${row.getLong(0)} chars, expected $expected — " +
        "entity decode lost or resurrected characters")
    assert(row.getLong(1) >= 10L)            // envelope tags all counted
    assert(row.getLong(2) == 2L + extra)     // nav links + hash tail
  }

  test("q218: bloom FP rate is at geometry, not low-bit-collapse level") {
    val agg = q("q218_bloom_decontam")
      .agg(sum("n_shingles").as("n"), sum("fp_hits").as("fp"),
        sum("exact_hits").as("ex"))
      .head()
    val (n, fp, ex) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    assert(ex > 0, "fixture must exercise real contamination hits")
    assert(fp.toDouble / (n - ex) < 0.01,
      s"bloom FP rate ${fp.toDouble / (n - ex)} — position hashes are " +
        "collapsing (expected <<1% from m=65536,k=4 geometry)")
  }

  test("q218: bloom never misses an exact hit in any source") {
    val bad = q("q218_bloom_decontam")
      .filter(!col("never_misses")).count()
    assert(bad == 0L, s"$bad sources report false negatives")
  }
}
