package graft

import org.apache.spark.sql.functions._

import graft.operators.{QualityLr, Staging}

/** The in-engine trained quality classifier (QualityLr): learns a real
  * signal when one exists, and the gated fixture claim (learned beats
  * the heuristic baseline) holds.
  *
  * The fixtures' lang column is nearly independent of the text (token
  * distributions match across langs to ~3% relative), so the gated
  * q351 AUCs measure capacity to fit, not generalization — this spec
  * supplies the crafted-signal check the fixtures cannot.
  */
class QualityLrSpec extends SparkTestBase {
  import spark.implicits._

  private def auc(scored: org.apache.spark.sql.DataFrame): Long = {
    val g = scored.select($"y", expr("z DIV 1000").as("sm"))
      .groupBy($"sm")
      .agg(sum(when($"y" > 0, 1L).otherwise(0L)).as("pos"),
        sum(when($"y" > 0, 0L).otherwise(1L)).as("neg"))
    graft.queries.Quality.aucTail(g).collect()(0).getAs[Long]("auc_ppm")
  }

  test("separable corpus trains to near-perfect AUC") {
    // positive docs speak one vocabulary, negatives another — a 64-
    // bucket hashed linear model must separate them almost perfectly
    val docs = (1 to 200).map { i =>
      if (i % 2 == 0) (i.toLong, "en", "alpha beta gamma delta alpha beta")
      else (i.toLong, "de", "rot blau gruen gelb rot blau")
    }.toDF("doc_id", "lang", "text")
    val feat = QualityLr.features(docs)
    val w = QualityLr.train(feat)
    val a = auc(QualityLr.score(feat, w))
    assert(a > 990000, s"expected near-perfect separation, got $a ppm")
    Staging.sweep(spark)
  }

  test("zero-signal corpus stays near chance (no spurious confidence)") {
    // identical text everywhere: z is constant, AUC = exactly 1/2 via
    // the tie half-credit
    val docs = (1 to 100).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", "same text every doc")
    }.toDF("doc_id", "lang", "text")
    val feat = QualityLr.features(docs)
    val w = QualityLr.train(feat)
    assert(auc(QualityLr.score(feat, w)) === 500000L)
    Staging.sweep(spark)
  }

  test("eta·rounds past the long-fold bound is refused, naming both") {
    assert(BigInt(QualityLr.Eta) * QualityLr.Rounds <= QualityLr.MaxEtaRounds)
    val docs = Seq((1L, "en", "alpha beta"), (2L, "de", "rot blau"))
      .toDF("doc_id", "lang", "text")
    val feat = QualityLr.features(docs)
    assert(QualityLr.train(feat).count() === QualityLr.B.toLong)
    val err = intercept[IllegalArgumentException] {
      QualityLr.train(feat, eta = QualityLr.MaxEtaRounds, rounds = 2)
    }
    assert(err.getMessage.contains("eta") &&
      err.getMessage.contains("rounds"), err.getMessage)
    Staging.sweep(spark)
  }

  test("gated fixture claim: learned beats the q34 heuristic at sf0.001") {
    val row = SparkEntry.queries("q351_quality_auc")(
      spark, "/root/testdata/sf0.001").collect()(0)
    assert(row.getAs[Long]("learned_beats") === 1L,
      s"learned_beats flipped: $row")
    Staging.sweep(spark)
  }
}
