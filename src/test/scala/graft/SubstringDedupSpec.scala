package graft

import graft.queries.Text

/** q261's island semantics, pinned on a crafted corpus: the merged
  * duplicate spans must be EXACTLY the maximal >=W-token regions that
  * repeat corpus-wide — first occurrence kept, overlapping windows
  * merged, self-repetition within one document counted.
  */
class SubstringDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val W = 8

  test("q261: kept-first, merged islands, self-repetition") {
    val dir = java.nio.file.Files.createTempDirectory("ssd_").toString
    // block A: 16 unique tokens (doc1 owns the first occurrence);
    // doc2 embeds A's first 8 tokens twice (self-repetition: its OWN
    // second copy is the duplicate); doc3 copies all 16 A-tokens once
    // (9 overlapping dup windows -> ONE 16-token island)
    val A = (0 until 16).map(i => s"a$i")
    val doc1 = (A ++ (0 until 8).map(i => s"u$i")).mkString(" ")
    val doc2 = ((0 until 8).map(i => s"v$i") ++ A.take(8) ++
      (0 until 8).map(i => s"x$i") ++ A.take(8) ++
      (0 until 8).map(i => s"y$i")).mkString(" ")
    val doc3 = ((0 until 8).map(i => s"z$i") ++ A ++
      (0 until 8).map(i => s"t$i")).mkString(" ")
    Seq((1L, doc1), (2L, doc2), (3L, doc3))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.all.find(_.name == "q261_substring_dedup").get
      .fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // doc1 owns every first occurrence: nothing removed
    assert(out(1L) == ((0L, 0L)), s"doc1 must keep all: ${out(1L)}")
    // doc2: A.take(8) first occurs in doc1, so BOTH embedded copies are
    // duplicates - two disjoint 8-token islands
    assert(out(2L) == ((16L, 2L)), s"doc2 spans wrong: ${out(2L)}")
    // doc3: the 16-token copy of A collapses 9 overlapping windows
    // into ONE 16-token island
    assert(out(3L) == ((16L, 1L)), s"doc3 island wrong: ${out(3L)}")
  }

  test("q290 delta twin: corpus hits flagged, within-batch dups are not") {
    val dir = java.nio.file.Files.createTempDirectory("ssd_d_").toString
    // corpus = doc_id % 7 != 3 (docs 1, 2); delta = doc 3.
    // Delta doc 3 embeds corpus block A once (-> ONE island, 16 tokens)
    // and its OWN block B twice (B absent from the corpus -> within-
    // batch repetition, deliberately NOT flagged by the delta grain)
    val A = (0 until 16).map(i => s"a$i")
    val B = (0 until 8).map(i => s"b$i")
    val doc1 = (A ++ (0 until 8).map(i => s"u$i")).mkString(" ")
    val doc2 = (0 until 24).map(i => s"w$i").mkString(" ")
    val doc3 = ((0 until 8).map(i => s"p$i") ++ A ++ B ++
      (0 until 8).map(i => s"q$i") ++ B).mkString(" ")
    Seq((1L, doc1), (2L, doc2), (3L, doc3))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.all.find(_.name == "q290_delta_substring_dedup")
      .get.fn(spark, dir).collect()
    // only delta docs appear
    assert(rows.map(_.getLong(0)).toSet == Set(3L),
      s"delta report must cover exactly the delta docs: ${rows.toSeq}")
    val r3 = rows.find(_.getLong(0) == 3L).get
    assert((r3.getLong(2), r3.getLong(3)) == ((16L, 1L)),
      s"doc3 delta spans wrong: $r3")
  }
}
