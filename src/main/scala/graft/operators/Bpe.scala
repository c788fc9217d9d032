package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterated BPE merge training — the multi-round form of q162's single
  * merge step, run under the same fixed-point loop discipline as
  * [[ConnectedComponents]]/[[PageRank]]: the corpus collapses to its
  * word-frequency table ONCE (the only corpus-sized pass), every round
  * is one pair-count aggregate over the vocabulary-bounded symbol table
  * plus a top-1 fetch, and the merge application is a row-local array
  * fold staged lazily so each round costs ONE Spark job. The driver
  * holds only the merge table itself — `numMerges` rows, the actual
  * product of tokenizer training (what ships as `merges.txt`), never
  * corpus data.
  *
  * Merge semantics are the standard greedy left-to-right rule: scan the
  * word's symbols, replacing each non-overlapping adjacent (left, right)
  * occurrence with the concatenation. Expressed as an `aggregate` fold —
  * append the symbol unless the accumulator's last element equals `left`
  * and the current equals `right` (then replace the last with the merged
  * symbol). The two formulations are equivalent: a just-merged tail
  * element can never re-match `left` (it equals `left + right`, and
  * `right` is nonempty), so the fold cannot re-merge an overlap the
  * scan would skip. Ties break on (count DESC, left ASC, right ASC) —
  * deterministic on any partition layout.
  *
  * Scale shape at 100 TB: after the initial explode+count, every round
  * touches |vocabulary| rows (millions, not billions) with map-side
  * partial aggregation on an alphabet²-bounded pair space; rounds never
  * re-read the corpus. `BpeSpec` pins the distributed implementation
  * against an independent sequential reference on the classic
  * low/lower/newest/widest corpus.
  */
object Bpe {

  /** One learned merge: rank (1-based round), the pair, its count. */
  final case class Merge(rank: Int, left: String, right: String,
      n_occ: Long)

  /** Greedy left-to-right application of one merge to a symbol array. */
  private[operators] def applyMerge(syms: Column, left: String,
      right: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, lit(-1)) === lit(left) && x === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
        .otherwise(concat(acc, array(x))))

  /** ENCODE step — apply a FIXED merge list (the shipped `merges.txt`
    * artifact that [[trainMerges]] produces) to one word column:
    * characters → greedy left-to-right [[applyMerge]] fold per merge,
    * in rank order, once each. This is the HuggingFace-tokenizers BPE
    * application shape (merges fire in training-rank order; each pass
    * merges every non-overlapping occurrence). The merge list is
    * data-independent at query time, so the whole encode statically
    * unrolls into one row-local expression — at corpus scale the right
    * plan collapses to the VOCABULARY first and encodes each distinct
    * word once (q182), never per occurrence.
    *
    * Exact for ANY merge list, self-pairs (left == right) included —
    * but q182's DuckDB-oracle equivalence (fixpoint string replace)
    * holds only for left != right merges: on a run of ≥ 4 identical
    * symbols, leftmost non-overlapping `replace` pairs (1,2)(4,5)…
    * while the greedy fold pairs (1,2)(3,4)… — a different
    * SEGMENTATION that a later merge can turn into different counts.
    * The catalog artifact enforces that precondition (q182 in
    * queries/Text.scala). */
  def encodeWord(w: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(chars(w)) {
      case (s, (a, b)) => applyMerge(s, a, b)
    }

  /** Word → character symbol array. The filter guards the empty tail
    * element `split(w, '')` emits — single source for the trainer and
    * the encoder, so a change to the splitting rule (e.g.
    * codepoint-safe splitting) lands in one place. */
  private[operators] def chars(w: Column): Column =
    filter(split(w, ""), x => x =!= lit(""))

  /** Corpus encode with a trained artifact: per-id token counts
    * before/after [[encodeWord]] plus chars-per-token compression
    * (unrounded — callers round for oracles). Vocabulary collapse: the
    * fold runs once per DISTINCT word and the (word → encoded length)
    * table broadcasts back to the exploded stream — at 100 TB the
    * vocabulary is millions of short rows (broadcastable) while the
    * corpus is not, and the interpreted higher-order fold is exactly
    * the cost to keep off the corpus-sized path. The token stream is
    * STAGED once — the vocab build and the join's stream side would
    * otherwise EACH re-run the corpus tokenize→explode (no
    * ReusedExchange across join sides; the wave-45 review lesson,
    * found twice). Documents whose text tokenizes to NOTHING
    * (empty/NULL/punctuation-only) have no rows to explode and are
    * OMITTED from the result — callers needing explicit zeros
    * left-join this back to the document table. Single source for
    * q182 and the facade. Long-lived sessions release the staged
    * blocks via Staging.sweep. */
  def encodedCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = Staging.stage(
      docs.select(col(idCol),
        explode(TextOps.tokens(col(textCol))).as("__w")),
      eager = false)
    val vocab = toks.select(col("__w")).distinct()
      .select(col("__w"), size(encodeWord(col("__w"), merges)).as("__enc"))
    toks.join(broadcast(vocab), "__w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(length(col("__w"))).cast("long").as("n_chars"),
        sum(col("__enc")).cast("long").as("n_bpe"))
      .withColumn("compression", when(col("n_bpe") > 0,
        col("n_chars").cast("double") / col("n_bpe")))
  }

  /** Train `numMerges` BPE merges over the whitespace/punct-tokenized
    * words of `textCol`. Stops early (shorter result) if the corpus runs
    * out of adjacent pairs. */
  def trainMerges(docs: DataFrame, textCol: String,
      numMerges: Int): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    // corpus → word-frequency table → per-word symbol arrays (chars).
    // filter('') guards the empty tail split() emits for some inputs.
    var wc = Staging.stage(
      docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .select(chars(col("w")).as("syms"), col("f")),
      eager = false)
    // the frame one round behind wc: wc's lazy staged blocks READ it
    // until the round's action materializes them, so it is released only
    // AFTER that action (the CC loop's release discipline — releasing
    // first leaves wc pointing at vanished checkpoint blocks)
    var prev: DataFrame = null
    val merges = ArrayBuffer.empty[Merge]
    try {
      var r = 0
      var dry = false
      while (r < numMerges && !dry) {
        // pair counts with per-position multiplicity (standard BPE);
        // the top-1 fetch is the round's ONE action — it materializes
        // this round's staged symbol table as a side effect
        val top = wc.filter(size(col("syms")) >= 2)
          .select(col("f"), explode(expr(
            """transform(sequence(1, size(syms) - 1),
              |  i -> struct(element_at(syms, i) AS a,
              |              element_at(syms, i + 1) AS b))""".stripMargin))
            .as("p"))
          .groupBy(col("p.a"), col("p.b"))
          .agg(sum(col("f")).as("n_occ"))
          .orderBy(col("n_occ").desc, col("a"), col("b"))
          .limit(1).collect()
        if (prev != null) { Staging.release(prev); prev = null }
        top.headOption match {
          case None => dry = true // no adjacent pairs left anywhere
          case Some(row) =>
            val (a, b, n) = (row.getString(0), row.getString(1),
              row.getLong(2))
            r += 1
            merges += Merge(r, a, b, n)
            val next = Staging.stage(
              wc.select(applyMerge(col("syms"), a, b).as("syms"),
                col("f")),
              eager = false)
            prev = wc
            wc = next
        }
      }
      merges.toSeq
    } finally {
      if (prev != null) Staging.release(prev)
      Staging.release(wc)
    }
  }
}
