package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** In-engine trained quality classifier: a logistic-style linear model
  * over hashed token features, trained with fixed full-batch gradient
  * rounds ENTIRELY in integer-ppm weight space — deterministic,
  * partitioning-independent, and exactly re-derivable by an unrolled
  * SQL oracle (q350/q351).
  *
  * The transcendental-free device: the sigmoid is the HARD sigmoid
  * clamp(½ + z/4, 0, 1), piecewise-linear and exact in integer ppm
  * with truncating DIV, so weights/scores/residuals/gradients are all
  * bit-exact integers (real logistic exp() would drift across libms).
  * Saturated-correct documents contribute zero residual — updates
  * concentrate on the undecided band, perceptron-style.
  *
  * Features: token-count fractions (ppm of each document's tokens) in
  * B hashed buckets — q266's DSIR feature space. Label: a binary doc
  * predicate (the gated queries use lang = 'en').
  *
  * Scale shape: ONE corpus-sized explode builds the staged feature
  * leaf; each round is two passes over it (score aggregate by doc,
  * gradient aggregate by bucket) with the B-row weight table
  * broadcast back and re-staged per round, so lineage never
  * re-executes earlier rounds and the driver holds no data.
  */
object QualityLr {

  val B = 64
  val Eta = 64L
  val Rounds = 8

  /** Largest |eta|·rounds whose score fold fits a long: |w| ≤
    * eta·rounds·10⁶ and Σ_b x ≤ 10⁶ per doc bound |Σ w·x| by
    * eta·rounds·10¹² < 2⁶³. */
  val MaxEtaRounds: Long = Long.MaxValue / 1000000000000L

  /** Staged (doc_id, y, b, x) feature leaf from a documents-like frame
    * (doc_id, lang, text): y = 10⁶·[lang = positive], x = bucket token
    * fraction in ppm. Docs with zero tokens have no rows. Caller
    * releases via Staging.sweep.
    *
    * `b` sizes the hashed bucket space; `bigrams` widens the feature
    * stream to tokens ∪ word bigrams (q363's capacity rung — bigrams
    * are space-joined, tokens never contain spaces, so the streams
    * cannot collide pre-hash). Still ONE corpus-sized explode either
    * way. */
  def features(docs: DataFrame, positiveLang: String = "en",
      b: Int = B, bigrams: Boolean = false): DataFrame = {
    import docs.sparkSession.implicits._
    val tk = TextOps.tokens($"text")
    val farr = if (bigrams) concat(tk, TextOps.shingles(tk, 2)) else tk
    val tf = docs
      .select($"doc_id", $"lang", explode(farr).as("t"))
      .groupBy($"doc_id", $"lang",
        (TextOps.md5Long($"t") % lit(TextOps.P) % b).as("b"))
      .agg(count(lit(1)).cast(LongType).as("c"))
    val nt = tf.groupBy($"doc_id".as("__d")).agg(sum($"c").as("__nt"))
    Staging.stage(
      tf.join(nt, $"doc_id" === $"__d")
        .select($"doc_id",
          when($"lang" === positiveLang, lit(1000000L)).otherwise(lit(0L))
            .cast(DecimalType(38, 0)).as("y"),
          $"b",
          expr("CAST((1000000 * c) DIV __nt AS DECIMAL(38,0))").as("x")),
      eager = true)
  }

  /** Train on a staged feature leaf; returns the B-row (b, w) weight
    * frame (w in ppm, DECIMAL(38,0)), staged — caller releases.
    *
    * The loop runs over a PER-DOC feature-array table built once from
    * the exploded leaf (one (doc_id, y, [(b, x)…]) row per document):
    * the old shape re-joined the exploded leaf TWICE per round (score
    * aggregate by doc — a doc-grain exchange — then residual join +
    * gradient aggregate by bucket), 16 corpus passes across 8 rounds;
    * now each round is ONE pass over the compact array table — the
    * per-doc score folds in-row over the array against the broadcast
    * weight vector (no join, no doc-grain exchange), and only the
    * gradient's (b, r·x) contributions explode into a partial-
    * aggregated B-row exchange (guide §2.3/§2.4). The doc count falls
    * out of the same staging (row count of the array table) instead of
    * a separate countDistinct corpus pass.
    *
    * Bit-exactness (the unrolled q350/q362/q363 oracles replay every
    * round): z = Σ_b w·x, r and g are the SAME integer quantities —
    * the fold computes them in LONG, which cannot overflow
    * (|x| ≤ 10⁶, Σ_b x ≤ 10⁶ per doc, |w| ≤ eta·rounds·10⁶ ⇒
    * |Σ w·x| ≤ ~5·10¹⁴; |r| ≤ 10⁶ ⇒ |r·x| ≤ 10¹²) — and the
    * cross-doc gradient sum goes back through DECIMAL(38,0) (doc
    * counts are unbounded at 100 TB). Integer sums are
    * order-insensitive, truncating DIV matches on long and decimal,
    * so the trained weights are bit-identical to the two-pass form.
    * The long fold is only overflow-free while eta·rounds·10¹² < 2⁶³,
    * so larger caller-tunable pairs are refused up front
    * ([[MaxEtaRounds]]). */
  def train(feat: DataFrame, eta: Long = Eta,
      rounds: Int = Rounds, b: Int = B): DataFrame = {
    require(BigInt(eta).abs * rounds.max(0) <= MaxEtaRounds,
      s"|eta| ($eta) × rounds ($rounds) must be <= $MaxEtaRounds: " +
        "|w| <= eta·rounds·10⁶ and Σx <= 10⁶ per doc, so the long " +
        "score fold overflows past it")
    val spark = feat.sparkSession
    import spark.implicits._
    val (docFeat, nDocs) = Staging.stageCounted(
      feat.groupBy($"doc_id", $"y".cast("long").as("y"))
        .agg(collect_list(struct($"b".cast("long").as("b"),
          $"x".cast("long").as("x"))).as("fs")))
    try {
      Fixpoint.iterate("quality_lr", "rounds", rounds,
          spark.range(b).select($"id".as("b"),
            lit(0).cast(DecimalType(38, 0)).as("w")),
          Nil, converged = None) {
        (w, _, _) =>
          // the weight vector as ONE array row (b ascending — every b in
          // 0..B-1 is present by construction), broadcast under the doc
          // rows; |w| always fits a long (bound above)
          val warr = w.agg(transform(
            sort_array(collect_list(struct($"b",
              $"w".cast("long").as("w")))),
            s => s.getField("w")).as("warr"))
          // one in-row fold per doc: z = Σ w·x DIV 1e6, then the hard-
          // sigmoid residual — same integer values as the old per-round
          // score join + doc-grain aggregate
          val resid = docFeat.crossJoin(broadcast(warr))
            .select($"fs",
              expr("least(greatest(500000L + " +
                "(aggregate(fs, 0L, (acc, f) -> " +
                "acc + element_at(warr, CAST(f.b AS INT) + 1) * f.x) " +
                "DIV 1000000L) DIV 4L, 0L), 1000000L) - y").as("r"))
          val g = resid
            .select($"r", explode($"fs").as("f"))
            .select($"f.b".as("b"),
              ($"r" * $"f.x").cast(DecimalType(38, 0)).as("rx"))
            .groupBy($"b").agg(sum($"rx").as("g"))
          w.join(g, Seq("b"), "left_outer")
            .select($"b",
              expr(s"CAST(w - ($eta * (COALESCE(g, 0) DIV " +
                s"CAST($nDocs AS DECIMAL(38,0)))) " +
                "DIV 1000000 AS DECIMAL(38,0))").as("w"))
      }._1
    } finally Staging.release(docFeat)
  }

  /** Per-document scores from a trained weight frame: (doc_id, y, z)
    * with z = Σ w·x DIV 10⁶ in ppm. */
  def score(feat: DataFrame, w: DataFrame): DataFrame = {
    import feat.sparkSession.implicits._
    feat.join(broadcast(w), "b")
      .groupBy($"doc_id", $"y")
      .agg(expr("CAST(SUM(w * x) DIV 1000000 AS BIGINT)").as("z"))
  }
}
