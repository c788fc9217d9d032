package graft

import graft.queries.Text

/** The CDC hallmark, pinned: a single-token edit at a document's HEAD
  * leaves almost every chunk intact (content-defined boundaries
  * re-synchronize within one cut), where fixed-stride chunking would
  * shift every boundary and share nothing. Two one-doc sources — the
  * original and a head-prepended twin — must share all but O(1) chunks,
  * observable as dup_instances ≈ n_chunks in each source.
  */
class CdcSpec extends SparkTestBase {
  import spark.implicits._

  test("q227: head insertion re-synchronizes; chunks shared across twins") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_").toString
    // ~240 tokens over a 97-word synthetic vocabulary with quadratic
    // stepping: consecutive PAIRS (the cut context) stay diverse, so
    // the deterministic 1/16 cut rate actually fires several times (a
    // 16-word cyclic draft yielded zero cut pairs — one chunk, no test)
    val text1 = (0 until 240).map(i => s"w${(i * i * 13 + i * 7) % 97}")
      .mkString(" ")
    val text2 = s"inserted $text1"
    Seq((1L, text1, "en", "src_a", text1.length.toLong),
      (2L, text2, "en", "src_b", text2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.all.find(_.name == "q227_cdc_chunks").get
      .fn(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3)))).toMap
    val (nA, dupA) = rows("src_a")
    assert(nA >= 3, s"fixture text must produce several chunks, got $nA")
    // every chunk after the first boundary is byte-identical in the
    // twin; only the head chunk (and, rarely, the one straddling the
    // first cut) may differ
    assert(dupA >= nA - 2,
      s"CDC stability broken: only $dupA of $nA chunks shared after a " +
        "head edit — boundaries are not content-defined")
  }
}
