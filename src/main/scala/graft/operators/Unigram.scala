package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Unigram-LM (SentencePiece-style) tokenizer machinery: the hard-EM
  * step (integer Viterbi segmentation over a broadcast weight map), the
  * gain-based vocabulary prune, and the iterated TRAINER that loops
  * E/M + prune under the Bpe.trainMerges loop discipline.
  *
  * Model (q239's, shared verbatim with its oracle stack in
  * queries/Text.scala): piece inventory = every corpus character + the top
  * [[Unigram.TopBigrams]] character bigrams; piece weights =
  * floor(1e6·ln(count/total)) — BIGINT log-probs, so every downstream
  * comparison is exact integer arithmetic (the only float op is the
  * row-local ln, IEEE-identical across engines). Hard-EM (Viterbi
  * counts, not forward-backward expectations) keeps the M-step counts
  * integral, which is what makes the whole lifecycle cross-engine
  * provable.
  *
  * Scale shape: ONE corpus-sized tokenize+count pass collapses to the
  * staged word-frequency vocabulary; every training round after that is
  * vocabulary-bounded — the weight table rides as one broadcast map
  * row, the Viterbi DP and backward reconstruction are per-row integer
  * folds, prune/reweight run over tables bounded by |alphabet| +
  * TopBigrams. Driver state per round is NOTHING (the piece tables stay
  * in executor blocks); the loop's per-round release keeps staged
  * blocks from accumulating exactly as in [[Bpe.trainMerges]] and the
  * connected-components loop.
  */
object Unigram {

  val TopBigrams = 16
  /** Sentinel for "bigram not in inventory": far below any reachable
    * DP value, so the bigram path never wins and the backward equality
    * can never bind to it. */
  val Missing = "-1000000000000000"
  /** Sentinel for "no bigram candidate at position 1". */
  val NoCand = "-2000000000000000"

  /** Corpus → staged distinct-word frequency table (w, f): the ONE
    * corpus-sized pass; everything downstream is vocabulary-bounded.
    * Caller releases (Staging.release / sweep). */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    Staging.stage(
      docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast(LongType).as("f")),
      eager = false)

  /** Single-character piece occurrences over the word table: (p, n)
    * with n = frequency-weighted count. Vocabulary-bounded input AND
    * output (distinct words in, |alphabet| rows out). */
  def charCounts(words: DataFrame): DataFrame =
    words
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as("p"))
      .groupBy(col("p")).agg(sum(col("f")).as("n"))

  /** Round-0 inventory: chars + top-[[TopBigrams]] bigrams by raw
    * frequency (ties lexicographic) — (p, n). */
  def inventory(words: DataFrame): DataFrame = {
    val bigrams = words.filter(length(col("w")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(w) - 1)," +
          " i -> substring(w, i, 2))")).as("p"))
      .groupBy(col("p")).agg(sum(col("f")).as("n"))
    // global rank over the alphabet²-bounded bigram table (rank-limit
    // pushdown keeps it a partial top-k per partition)
    val top = bigrams
      .withColumn("rn",
        row_number().over(Window.orderBy(col("n").desc, col("p"))))
      .filter(col("rn") <= TopBigrams).drop("rn")
    charCounts(words).unionByName(top)
  }

  /** (p, n) counts → (p, wt) integer log-weights:
    * floor(1e6·ln(n/total)). The ln is row-local and IEEE-identical
    * across engines; everything after is exact integer arithmetic. */
  def weightsFromCounts(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("n")).as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("p"), expr(
        "CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE) / t)) AS BIGINT)")
        .as("wt"))
  }

  /** E-step + M-step: Viterbi-segment every distinct word under the
    * (p, wt) weight table (folded into ONE broadcast map row), count
    * pieces weighted by word frequency → (p, cnt). Bigram-preferred
    * deterministic tie-break; missing bigrams fall to [[Missing]]. */
  def segmentCounts(words: DataFrame, wts: DataFrame): DataFrame = {
    val wmap = wts
      .agg(map_from_entries(collect_list(struct(col("p"), col("wt"))))
        .as("m"))
    val segmented = words.crossJoin(broadcast(wmap))
      .withColumn("dpl", expr(
        s"""aggregate(
           |  sequence(1, length(w)),
           |  array(CAST(0 AS BIGINT)),
           |  (acc, j) -> array_append(acc, greatest(
           |    element_at(acc, j) + element_at(m, substring(w, j, 1)),
           |    CASE WHEN j >= 2 THEN element_at(acc, j - 1)
           |      + coalesce(element_at(m, substring(w, j - 1, 2)),
           |          $Missing)
           |    ELSE $NoCand END)))""".stripMargin))
      .withColumn("ps", expr(
        s"""aggregate(
           |  sequence(1, length(w)),
           |  named_struct('j', length(w),
           |    'ps', CAST(array() AS ARRAY<STRING>)),
           |  (st, x) -> CASE
           |    WHEN st.j <= 0 THEN st
           |    WHEN st.j >= 2 AND element_at(dpl, st.j + 1) =
           |      element_at(dpl, st.j - 1)
           |        + coalesce(element_at(m, substring(w, st.j - 1, 2)),
           |            $Missing)
           |    THEN named_struct('j', st.j - 2,
           |      'ps', array_prepend(st.ps, substring(w, st.j - 1, 2)))
           |    ELSE named_struct('j', st.j - 1,
           |      'ps', array_prepend(st.ps, substring(w, st.j, 1)))
           |  END,
           |  st -> st.ps)""".stripMargin))
    segmented.select(col("f"), explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(sum(col("f")).as("cnt"))
  }

  /** Prune + reweight (the q241 criterion applied as a training step):
    * each USED bigram's gain is cnt·(wt(piece) − Σ wt(chars)) under the
    * weights that produced the segmentation; keep the top `keep`
    * bigrams by (gain DESC, p) plus every character (SentencePiece
    * keeps single characters unconditionally for coverage). New counts
    * are add-one smoothed (a character Viterbi never chose must keep a
    * finite log-weight) → new (p, wt) table. All inputs and outputs
    * vocabulary-bounded. */
  def pruneReweight(words: DataFrame, wts: DataFrame, mstep: DataFrame,
      keep: Int): DataFrame = {
    val gains = mstep.filter(length(col("p")) === 2)
      .join(wts.select(col("p").as("wp_p"), col("wt").as("wp")),
        col("p") === col("wp_p"))
      .join(wts.select(col("p").as("w1_p"), col("wt").as("w1")),
        expr("substring(p, 1, 1)") === col("w1_p"))
      .join(wts.select(col("p").as("w2_p"), col("wt").as("w2")),
        expr("substring(p, 2, 1)") === col("w2_p"))
      .select(col("p"), col("cnt"),
        (col("cnt") * (col("wp") - col("w1") - col("w2"))).as("gain"))
    val keepbg = gains
      .withColumn("rn",
        row_number().over(Window.orderBy(col("gain").desc, col("p"))))
      .filter(col("rn") <= keep)
      .select(col("p"), (col("cnt") + 1L).as("n"))
    val charPieces = charCounts(words).select(col("p"))
      .join(mstep.select(col("p").as("m_p"), col("cnt")),
        col("p") === col("m_p"), "left_outer")
      .select(col("p"), (coalesce(col("cnt"), lit(0L)) + 1L).as("n"))
    weightsFromCounts(charPieces.unionByName(keepbg))
  }

  /** Train `rounds` full hard-EM rounds: E/M with the current weights,
    * then (between rounds) prune to `keep` bigrams + reweight. Returns
    * the FINAL round's piece counts (p, cnt) as a staged frame (caller
    * releases via Staging). Per-round staging discipline: each round's
    * corpus-facing E-step materializes eagerly exactly once; the
    * previous round's blocks release as soon as the successor that read
    * them is materialized (Bpe.trainMerges' prev/cur dance — releasing
    * earlier would strand the successor's truncated lineage). */
  def train(docs: DataFrame, textCol: String, rounds: Int,
      keep: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val w = wordTable(docs, textCol)
    var wts = weightsFromCounts(inventory(w))
    var wtsStaged: DataFrame = null
    var out: DataFrame = null
    try {
      var r = 1
      while (r <= rounds) {
        val m = Staging.stage(segmentCounts(w, wts), eager = true)
        if (r < rounds) {
          // next round's weights consume m + wts NOW (eager), so m and
          // the previous staged weights can release immediately after
          val nw = Staging.stage(pruneReweight(w, wts, m, keep),
            eager = true)
          Staging.release(m)
          if (wtsStaged != null) Staging.release(wtsStaged)
          wtsStaged = nw
          wts = nw
        } else out = m
        r += 1
      }
      out
    } finally {
      // the final eager stage already consumed these; on failure this
      // is the cleanup path
      if (wtsStaged != null) Staging.release(wtsStaged)
      Staging.release(w)
    }
  }
}
