package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Exact._
import graft.operators.{ConnectedComponents, Dedup, KMeans, QualityLr, Staging, TextOps, Vectors}
import graft.sources.Tables
import graft.streaming.Streams

import Helpers.{TrainBound, fixtureMemo, one}

/** Data-quality models and their evaluation: the trained quality
  * classifier (logistic regression over hashed token features), k-means
  * training and the SemDeDup pipeline it unlocks, exact AUC, calibration,
  * capture and lift curves, k-fold and held-out evaluation, label QA and
  * data-contract / completeness audits.
  *
  * Trained models are memoized per fixture by [[Helpers.fixtureMemo]]:
  * the key includes each table file's length and mtime, so a fixture
  * rewritten in place retrains instead of serving stale weights.
  */
object Quality {

  private val OutK = 5

  /** q34's quality score quantized to milli, as DuckDB SQL over a
    * toks-CTE row (doc_id, lang, text, tk) — the oracle twin of
    * [[scoreMilli]]; shared with q351's heuristic-baseline AUC. */
  val ScoreMilliSql: String = {
    val stopRe = "\\b(the|and|of|to|in|is|that|it|was|for)\\b"
    s"""CAST(floor(1000 * (
       |      0.5e0 * (CAST(len(regexp_extract_all(lower(text),
       |          '$stopRe')) AS DOUBLE) / greatest(len(tk), 1))
       |      + 0.3e0 * (CAST(length(array_to_string(tk, ''))
       |          AS DOUBLE) / greatest(length(text), 1))
       |      - 0.2e0 * (CAST(len(regexp_extract_all(text,
       |          '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1))
       |    )) AS BIGINT)""".stripMargin
  }

  /** q281's oracle text — shared verbatim by the q283 streaming twin
    * (the q192/q248 pattern). */
  val AucOracle: String = {
    s"""WITH ${TextOps.oracleToksCte},
       |q AS (SELECT doc_id, lang,
       |    $ScoreMilliSql AS sm
       |  FROM toks),
       |g AS (SELECT sm,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS pos,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
       |      AS BIGINT) AS neg
       |  FROM q GROUP BY 1),
       |c AS (SELECT sm, pos, neg, COALESCE(SUM(neg) OVER (
       |    ORDER BY sm ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND 1 PRECEDING), 0) AS cumneg FROM g)
       |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       |  CAST(SUM(neg) AS BIGINT) AS n_neg,
       |  CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS auc2,
       |  CAST(1000000 * SUM(pos * (2 * cumneg + neg))
       |    // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_ppm
       |FROM c""".stripMargin
  }

  /** q34's quality score quantized to milli, as a Column over
    * (lang, text, tk). */
  def scoreMilli: org.apache.spark.sql.Column = {
    val stopRe = "\\b(the|and|of|to|in|is|that|it|was|for)\\b"
    floor(lit(1000) * (
      lit(0.5) * (size(regexp_extract_all(lower(col("text")),
        lit(stopRe), lit(0))).cast("double") /
        greatest(size(col("tk")), one)) +
      lit(0.3) * (length(concat_ws("", col("tk"))).cast("double") /
        greatest(length(col("text")), one)) -
      lit(0.2) * (size(regexp_extract_all(col("text"),
        lit("[.,!?;:]"), lit(0))).cast("double") /
        greatest(length(col("text")), one))))
      .cast(LongType)
  }

  /** AUC tail over the (sm, pos, neg) level-count table — bounded
    * (~1001 quantized levels), shared by batch q281 and streaming
    * q283. */
  def aucTail(g: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import g.sparkSession.implicits._
    val wS = Window.orderBy($"sm")
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = g.withColumn("cumneg",
      coalesce(sum($"neg").over(wS), lit(0L)))
    c.agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
        sum($"pos" * (lit(2) * $"cumneg" + $"neg")).as("auc2"))
      .select($"n_pos", $"n_neg", $"auc2",
        expr("1000000 * auc2 DIV (2 * n_pos * n_neg)").as("auc_ppm"))
  }

  /** Band width in score milli-units. */
  private val Band = 20L

  /** Folds for q296. */
  private val K = 5

  private val B = 64
  private val Eta = 64L
  private val Rounds = 8

  /** Shared CTE prefix: feature table + nd + w0 + unrolled training
    * rounds, ending at w[Rounds]. */
  private def trainCtes: String =
    trainCtesG(B, "SELECT doc_id, lang, unnest(tk) AS t FROM toks")

  /** [[trainCtes]] generalized over bucket count and the exploded
    * (doc_id, lang, t) feature stream — the q362 train-split
    * restriction and the q363 bigram/B=1024 capacity rung rerender
    * the SAME unrolled-round machinery with only these two knobs
    * (the round CTEs are b-independent). */
  private def trainCtesG(b: Int, tSrc: String): String = {
    val rounds = (1 to Rounds).map { r =>
      s"""z$r AS MATERIALIZED (SELECT f.doc_id, f.y,
         |    SUM(w.w * f.x) // 1000000 AS z
         |  FROM feat f JOIN w${r - 1} w ON w.b = f.b GROUP BY 1, 2),
         |u$r AS (SELECT doc_id,
         |    LEAST(GREATEST(500000 + z // 4, 0), 1000000) - y AS r
         |  FROM z$r),
         |g$r AS (SELECT f.b, SUM(u.r * f.x) AS g
         |  FROM feat f JOIN u$r u ON u.doc_id = f.doc_id GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT w.b,
         |    w.w - ($Eta * (COALESCE(g.g, 0) // nd.n)) // 1000000 AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g ON g.b = w.b
         |  CROSS JOIN nd)""".stripMargin
    }.mkString(",\n")
    s"""${TextOps.oracleToksCte},
       |tf AS (SELECT doc_id, lang,
       |    ${TextOps.oracleHashSql("t")} % $b AS b,
       |    CAST(COUNT(*) AS HUGEINT) AS c
       |  FROM ($tSrc)
       |  GROUP BY 1, 2, 3),
       |ntk AS (SELECT doc_id, SUM(c) AS nt FROM tf GROUP BY 1),
       |feat AS MATERIALIZED (SELECT tf.doc_id,
       |    CAST(CASE WHEN tf.lang = 'en' THEN 1000000 ELSE 0 END
       |      AS HUGEINT) AS y,
       |    tf.b, (1000000 * tf.c) // ntk.nt AS x
       |  FROM tf JOIN ntk USING (doc_id)),
       |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS HUGEINT) AS n
       |       FROM feat),
       |w0 AS (SELECT CAST(t.b AS BIGINT) AS b, CAST(0 AS HUGEINT) AS w
       |       FROM range($b) t(b)),
       |$rounds""".stripMargin
  }

  // Trained weights are a deterministic pure function of the fixture;
  // four catalog queries (q350/q351/q355/q356) consume them, so the
  // 8-round training loop runs once per fixture state (fixtureMemo) —
  // 64 (b, w) longs driver-side. The feature leaf is NOT memoized
  // (staged blocks are swept between queries); each query re-stages
  // its own.
  private type Weights = Array[(Long, java.math.BigDecimal)]

  /** Spark twin of [[trainCtes]] — the [[graft.operators.QualityLr]]
    * operator over the fixtures' documents. */
  private def train(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val feat = QualityLr.features(Tables(spark, dir).documents)
    val rows = fixtureMemo[Weights]("quality weights", dir) {
      QualityLr.train(feat).collect()
        .map(r => (r.getLong(0), r.getDecimal(1)))
    }
    (feat, wFrame(spark, rows))
  }

  /** Weights ONLY — for consumers that never read the batch feature
    * leaf (q356 scores a STREAM with the standing weights): on a memo
    * hit this touches no corpus table at all, where [[train]] would
    * eagerly stage the full tokenize→explode feature leaf just to
    * throw it away. Training on a memo miss builds the leaf, trains,
    * and releases it. */
  private def trainedW(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val rows = fixtureMemo[Weights]("quality weights", dir) {
      val feat = QualityLr.features(Tables(spark, dir).documents)
      val out = QualityLr.train(feat).collect()
        .map(r => (r.getLong(0), r.getDecimal(1)))
      graft.operators.Staging.release(feat)
      out
    }
    wFrame(spark, rows)
  }

  private def wFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Weights): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("b", "w")
      .select($"b", $"w".cast(DecimalType(38, 0)).as("w"))
  }

  /** Learned-score level table (sm, pos, neg): every document scored
    * with the trained weights, quantized to milli. */
  private def learnedLevels(feat: DataFrame, w: DataFrame): DataFrame = {
    import feat.sparkSession.implicits._
    QualityLr.score(feat, w)
      .select($"y", expr("z DIV 1000").as("sm"))
      .groupBy($"sm")
      .agg(sum(when($"y" > 0, 1L).otherwise(0L)).as("pos"),
        sum(when($"y" > 0, 0L).otherwise(1L)).as("neg"))
  }

  private val KMeansK = 8
  private val KMeansRounds = 4
  private val Dim = 64
  private val Threshold = "0.42e0"

  /** Per-cell df-cap: cells with more members never enter the pair
    * stage (Dedup.DefaultDfCap's contract at the cell grain). 64 sits
    * inside the sf0.01 fixture's 53–74 cell-size band so the gate
    * exercises both the paired and the capped-out branch. */
  private val CellCap = 64

  /** q246's exact squared-distance SQL between e.v and c.cv. */
  private val D2Sql =
    """list_reduce(list_prepend(0.0e0, list_transform(range(len(e.v)),
      |      i -> (e.v[i+1] - c.cv[i+1]) * (e.v[i+1] - c.cv[i+1]))),
      |      (acc, x) -> acc + x)""".stripMargin

  /** Unrolled k-means CTEs: e, c0 .. c[Rounds], plus the final
    * assignment `af` against c[Rounds]. */
  private def kmeansCtes: String = {
    def assignCte(name: String, cents: String): String =
      s"""$name AS MATERIALIZED (SELECT id, cid FROM (
         |    SELECT e.id, c.cid, row_number() OVER (PARTITION BY e.id
         |      ORDER BY $D2Sql, c.cid) AS rn
         |    FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    val rounds = (1 to KMeansRounds).map { r =>
      s"""${assignCte(s"a$r", s"c${r - 1}")},
         |m$r AS (SELECT a.cid, e.v FROM e
         |        JOIN a$r a USING (id)),
         |d$r AS (SELECT cid, t.i, ${davgSql("v[t.i + 1]")} AS c
         |  FROM m$r, range($Dim) t(i) GROUP BY 1, 2),
         |c$r AS MATERIALIZED (SELECT cid, list(c ORDER BY i) AS cv
         |  FROM d$r GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT vec_id AS id,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT id AS cid, v AS cv FROM e WHERE id < $KMeansK),
       |$rounds,
       |${assignCte("af", s"c$KMeansRounds")}""".stripMargin
  }

  /** SemDeDup pair stage over an assigned-vector frame (id, cid, v,
    * nr): intra-cell pairs ONLY — an equi-join on the cell id, the
    * scale contract KMeansSpec pins structurally. */
  private[graft] def intraCellEdges(va: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import va.sparkSession.implicits._
    val lhs = va.select($"cid".as("ca"), $"id".as("ia"),
      $"v".as("vA"), $"nr".as("nA"))
    val rhs = va.select($"cid".as("cb"), $"id".as("ib"),
      $"v".as("vB"), $"nr".as("nB"))
    lhs.join(rhs, $"ca" === $"cb" && $"ia" < $"ib")
      .filter(Vectors.cosine(Vectors.dot($"vA", $"vB"), $"nA", $"nB")
        >= expr(Threshold))
      .select($"ia", $"ib")
  }

  /** Spark twin: staged (id, v) leaf, trained centroids, final
    * assignment. */
  // Trained centroids are a deterministic pure function of the
  // fixture; three catalog queries (q352/q353/q360) consume them, so
  // the 4-round Lloyd loop runs once per fixture state (fixtureMemo) —
  // K×Dim doubles driver-side (model constants, not data). The
  // embedding leaf is NOT memoized; each query re-stages its own.
  private def trained(spark: org.apache.spark.sql.SparkSession,
      dir: String) = {
    import spark.implicits._
    val e = Staging.stage(
      Tables(spark, dir).embeddings
        .select($"vec_id".as("id"), Vectors.toDouble($"embedding").as("v")),
      eager = true)
    val rows = fixtureMemo[Array[(Long, Seq[Double])]]("kmeans centroids", dir) {
      KMeans.run(e, "id", "v", KMeansK, KMeansRounds).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
    }
    val cents = rows.toSeq.toDF("cid", "cv")
    (e, cents, KMeans.assign(e, cents, "id", "v"))
  }

  val all: Seq[Qry] = Seq(

    // Per-label embedding outliers (q172): vectors least similar to
    // their OWN label centroid — the mislabeled-example / outlier
    // screen every labeled-dataset release runs; composes q166's
    // centroid machinery back onto the corpus.
    // ---- per-label embedding outliers ---------------------------------
    // Each vector's cosine to its OWN label centroid; bottom-k per
    // label = mislabel/outlier candidates. The staged centroid table
    // (q166's machinery) broadcasts back onto the corpus; cosine is
    // row-local double folds; bottom-k rides the rank-limit pushdown.
    // Scale shape: one corpus pass for centroids (partial-aggregated
    // posexplode), one map-side scoring pass, k rows per label out.
    Qry(
      "q172_label_outliers",
      s"""WITH e AS (SELECT vec_id, label,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ce AS (SELECT label, i, ${davgSql("v[i + 1]")} AS c
         |       FROM e, range(64) t(i) GROUP BY 1, 2),
         |cv AS (SELECT label, list(c ORDER BY i) AS cv
         |       FROM ce GROUP BY 1),
         |sc AS (SELECT vec_id, e.label,
         |    list_dot_product(v, cv)
         |      / (sqrt(list_dot_product(v, v))
         |        * sqrt(list_dot_product(cv, cv))) AS cos_own
         |  FROM e JOIN cv ON e.label = cv.label)
         |SELECT label, rn, vec_id, cos_own
         |FROM (SELECT *, row_number() OVER (PARTITION BY label
         |        ORDER BY cos_own, vec_id) AS rn FROM sc)
         |WHERE rn <= $OutK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", $"label", Vectors.toDouble($"embedding").as("v"))
      val cv = Staging.stage(
        e.select($"label", posexplode($"v").as(Seq("i", "x")))
          .groupBy($"label", $"i").agg(davg($"x").as("c"))
          .groupBy($"label")
          .agg(expr("transform(array_sort(collect_list(struct(i, c)))," +
            " p -> p.c)").as("cv")),
        eager = false)
      e.join(broadcast(cv), "label")
        .select($"label", $"vec_id",
          (Vectors.dot($"v", $"cv")
            / (Vectors.norm($"v") * Vectors.norm($"cv"))).as("cos_own"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"label").orderBy($"cos_own", $"vec_id")))
        .filter($"rn" <= OutK)
        .select($"label", $"rn", $"vec_id", $"cos_own")
    },

    // Exact AUC (Mann-Whitney) of q34's quality score as a predictor of the
    // English slice — the ranking-quality number an eval pipeline ships.
    // Scores quantize to integer milli-units (floor on double — declared),
    // grouped counts cumulate negatives below each score level, ties
    // contribute the standard half credit via the x2 integer form: auc2 = Σ
    // pos·(2·cum_neg + neg); auc_ppm = 1e6·auc2 DIV (2·n_pos·n_neg) — pure
    // integers, no corpus-sized window (the cumulation runs over the <=
    // ~1001 distinct quantized levels).
    // ---- exact AUC (Mann-Whitney with tie credit) ---------------------------
    Qry("q281_auc_exact", AucOracle) { (spark, dir) =>
      import spark.implicits._
      val g = Tables(spark, dir).documents
        .select($"lang", $"text", TextOps.tokens($"text").as("tk"))
        .select($"lang", scoreMilli.as("sm"))
        .groupBy($"sm")
        .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("pos"),
          sum(when($"lang" === "en", 0L).otherwise(1L)).as("neg"))
      aucTail(g)
    },

    // Score-band capture curve — the operational readout of a
    // quality filter: bucket q34's quantized score into 20-milli
    // bands, and per band (descending) report document count,
    // positive (English) count, band positive rate, and the
    // CUMULATIVE capture rate — "threshold at this band and you keep
    // X ppm of all positives at Y ppm precision", the table a curation
    // owner reads before picking the cut. Pure integers; both windows
    // run over the <= ~12 bands, never corpus rows.
    // ---- score-band capture curve ------------------------------------------
    Qry(
      "q282_capture_curve", {
        val stopRe = "\\b(the|and|of|to|in|is|that|it|was|for)\\b"
        s"""WITH ${TextOps.oracleToksCte},
           |q AS (SELECT lang,
           |    CAST(floor(1000 * (
           |      0.5e0 * (CAST(len(regexp_extract_all(lower(text),
           |          '$stopRe')) AS DOUBLE) / greatest(len(tk), 1))
           |      + 0.3e0 * (CAST(length(array_to_string(tk, ''))
           |          AS DOUBLE) / greatest(length(text), 1))
           |      - 0.2e0 * (CAST(len(regexp_extract_all(text,
           |          '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1))
           |    )) AS BIGINT) AS sm
           |  FROM toks),
           |b AS (SELECT CASE WHEN sm >= 0 THEN sm // $Band
           |      ELSE -((-sm + $Band - 1) // $Band) END AS band,
           |    CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS pos
           |  FROM q GROUP BY 1),
           |t AS (SELECT SUM(n) AS tn, SUM(pos) AS tp FROM b),
           |c AS (SELECT band, n, pos,
           |    SUM(n) OVER (ORDER BY band DESC
           |      ROWS UNBOUNDED PRECEDING) AS cum_n,
           |    SUM(pos) OVER (ORDER BY band DESC
           |      ROWS UNBOUNDED PRECEDING) AS cum_pos
           |  FROM b)
           |SELECT band, n, pos,
           |  CAST(1000000 * pos // n AS BIGINT) AS band_rate_ppm,
           |  CAST(cum_n AS BIGINT) AS cum_docs,
           |  CAST(CASE WHEN tp = 0 THEN 0
           |    ELSE 1000000 * cum_pos // tp END AS BIGINT)
           |    AS capture_ppm,
           |  CAST(1000000 * cum_pos // cum_n AS BIGINT)
           |    AS precision_ppm
           |FROM c, t""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val q = Tables(spark, dir).documents
        .select($"lang", $"text", TextOps.tokens($"text").as("tk"))
        .select($"lang", scoreMilli.as("sm"))
      // floor-toward-negative banding spelled once for both engines
      // (Spark DIV truncates; the CASE makes both floor)
      val b = q.groupBy(expr(
          s"CASE WHEN sm >= 0 THEN sm DIV $Band" +
            s" ELSE -((-sm + $Band - 1) DIV $Band) END").as("band"))
        .agg(count(one).as("n"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("pos"))
      val t = b.agg(sum($"n").as("tn"), sum($"pos").as("tp"))
      val wD = Window.orderBy($"band".desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      b.withColumn("cum_n", sum($"n").over(wD))
        .withColumn("cum_pos", sum($"pos").over(wD))
        .crossJoin(broadcast(t))
        .select($"band", $"n", $"pos",
          expr("1000000 * pos DIV n").as("band_rate_ppm"),
          $"cum_n".as("cum_docs"),
          when($"tp" === 0, 0L)
            .otherwise(expr("1000000 * cum_pos DIV tp"))
            .as("capture_ppm"),
          expr("1000000 * cum_pos DIV cum_n").as("precision_ppm"))
    },

    // q281's exact AUC as a STREAMING aggregation — documents
    // arrive as a file stream, the (score-level, pos, neg) count
    // table is a complete-mode streaming groupBy whose state is
    // bounded by the ~1001 quantized levels (the q220/q221/q272
    // register discipline: score quantization IS what makes streaming
    // eval state constant), and the Mann-Whitney tail runs post-sink.
    // Shares q281's oracle text VERBATIM.
    // ---- exact AUC under Structured Streaming ------------------------------
    Qry("q283_stream_auc", AucOracle) { (spark, dir) =>
      import spark.implicits._
      // streaming state = the quantized level counts (~1001 rows) —
      // score quantization is what makes streaming eval state constant
      val g = Streams.fileStream(spark, dir, "documents")
        .select($"lang", $"text", TextOps.tokens($"text").as("tk"))
        .select($"lang", scoreMilli.as("sm"))
        .groupBy($"sm")
        .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("pos"),
          sum(when($"lang" === "en", 0L).otherwise(1L)).as("neg"))
      aucTail(Streams.runToMemory(g, "complete"))
    },

    // K-fold stability of the q281 quality-score AUC — the eval
    // number nobody should ship from ONE split. Documents fold by a
    // deterministic hash (k=5), each fold computes the exact
    // Mann-Whitney AUC over its own quantized score levels (q281's
    // integer machinery, PARTITIONed by fold), and every row carries
    // the min/max/spread across folds — the stability verdict. State
    // and windows stay bounded: <= 5 × ~1001 level rows; the only
    // corpus-sized stage is the (fold, level) partial-aggregated
    // count.
    // ---- k-fold AUC stability ----------------------------------------------
    Qry(
      "q296_kfold_auc", {
        val stopRe = "\\b(the|and|of|to|in|is|that|it|was|for)\\b"
        val fold = TextOps.oracleHashSql(
          "'fold:' || CAST(doc_id AS VARCHAR)")
        s"""WITH ${TextOps.oracleToksCte},
           |q AS (SELECT ($fold) % $K AS fold, lang,
           |    CAST(floor(1000 * (
           |      0.5e0 * (CAST(len(regexp_extract_all(lower(text),
           |          '$stopRe')) AS DOUBLE) / greatest(len(tk), 1))
           |      + 0.3e0 * (CAST(length(array_to_string(tk, ''))
           |          AS DOUBLE) / greatest(length(text), 1))
           |      - 0.2e0 * (CAST(len(regexp_extract_all(text,
           |          '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1))
           |    )) AS BIGINT) AS sm
           |  FROM toks),
           |g AS (SELECT fold, sm,
           |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS pos,
           |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
           |      AS BIGINT) AS neg
           |  FROM q GROUP BY 1, 2),
           |c AS (SELECT fold, sm, pos, neg, COALESCE(SUM(neg) OVER (
           |    PARTITION BY fold ORDER BY sm
           |    ROWS BETWEEN UNBOUNDED PRECEDING
           |    AND 1 PRECEDING), 0) AS cumneg FROM g),
           |a AS (SELECT fold, CAST(SUM(pos) AS BIGINT) AS n_pos,
           |    CAST(SUM(neg) AS BIGINT) AS n_neg,
           |    CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS auc2,
           |    CAST(1000000 * SUM(pos * (2 * cumneg + neg))
           |      // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_ppm
           |  FROM c GROUP BY 1),
           |s AS (SELECT MIN(auc_ppm) AS auc_min_ppm,
           |    MAX(auc_ppm) AS auc_max_ppm FROM a)
           |SELECT a.fold, n_pos, n_neg, auc2, auc_ppm,
           |  s.auc_min_ppm, s.auc_max_ppm,
           |  s.auc_max_ppm - s.auc_min_ppm AS spread_ppm
           |FROM a, s""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val q = Tables(spark, dir).documents
        .select($"doc_id", $"lang", $"text",
          TextOps.tokens($"text").as("tk"))
        .select((TextOps.hashMod(concat(lit("fold:"),
          $"doc_id".cast("string"))) % K).as("fold"),
          $"lang", scoreMilli.as("sm"))
      val g = q.groupBy($"fold", $"sm")
        .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("pos"),
          sum(when($"lang" === "en", 0L).otherwise(1L)).as("neg"))
      val wS = Window.partitionBy($"fold").orderBy($"sm")
        .rowsBetween(Window.unboundedPreceding, -1)
      val c = g.withColumn("cumneg",
        coalesce(sum($"neg").over(wS), lit(0L)))
      val a = c.groupBy($"fold")
        .agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
          sum($"pos" * (lit(2) * $"cumneg" + $"neg")).as("auc2"))
        .select($"fold", $"n_pos", $"n_neg", $"auc2",
          expr("1000000 * auc2 DIV (2 * n_pos * n_neg)").as("auc_ppm"))
      val s = a.agg(min($"auc_ppm").as("auc_min_ppm"),
        max($"auc_ppm").as("auc_max_ppm"))
      a.crossJoin(broadcast(s))
        .select($"fold", $"n_pos", $"n_neg", $"auc2", $"auc_ppm",
          $"auc_min_ppm", $"auc_max_ppm",
          ($"auc_max_ppm" - $"auc_min_ppm").as("spread_ppm"))
    },

    // Eleven contract checks over the star schema, one result
    // row each: primary-key uniqueness (customer, orders, part,
    // supplier; lineitem's composite key), referential integrity as
    // anti-join orphan counts (orders→customer, lineitem→orders,
    // lineitem→part, lineitem→supplier; the oracle spells them
    // NOT EXISTS, not NOT IN — NOT IN's three-valued NULL semantics
    // would silently empty the check if a child key were ever NULL,
    // whereas NOT EXISTS matches Spark's left_anti exactly), and accepted-range/null
    // checks on the columns the TPC-H contract fixes (quantity in
    // 1..50, discount in 0..0.10, non-null ship date). Output =
    // (check, tbl, n_rows, n_violations, pass) — the table a loader
    // gates a publish on, and the audit a 100 TB ingest runs BEFORE
    // the analytics in this catalog assume key semantics (every join
    // in SURVEY §2.4 silently relies on exactly these invariants;
    // this query is where they stop being assumptions). And it earns
    // its keep immediately: the synthetic fixture VIOLATES the
    // lineitem composite-PK contract (14,168 duplicate
    // (l_orderkey, l_linenumber) rows at sf0.01 — the generator never
    // enforced it), so the audit ships a genuine pass=false row the
    // oracle confirms, instead of a table of vacuous greens.
    //
    // Scale shape: each uniqueness check is one partial-aggregated
    // groupBy collapsed to a single row; each referential check is a
    // broadcast/shuffled LEFT ANTI join counting misses (the same
    // plan shape as q6); range checks are map-side count-ifs. The
    // union of eleven one-row frames is driver-free — no collect, no
    // loop; at scale the checks share scans per table via one pass
    // each where expressible.
    Qry(
      "q304_data_contract",
      s"""WITH checks AS (
         |  SELECT 'pk_unique' AS chk, 'customer' AS tbl,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
         |      AS n_violations
         |  FROM customer
         |  UNION ALL
         |  SELECT 'pk_unique', 'orders', CAST(COUNT(*) AS BIGINT),
         |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
         |  FROM orders
         |  UNION ALL
         |  SELECT 'pk_unique', 'part', CAST(COUNT(*) AS BIGINT),
         |    CAST(COUNT(*) - COUNT(DISTINCT p_partkey) AS BIGINT)
         |  FROM part
         |  UNION ALL
         |  SELECT 'pk_unique', 'supplier', CAST(COUNT(*) AS BIGINT),
         |    CAST(COUNT(*) - COUNT(DISTINCT s_suppkey) AS BIGINT)
         |  FROM supplier
         |  UNION ALL
         |  SELECT 'pk_unique', 'lineitem', CAST(COUNT(*) AS BIGINT),
         |    CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
         |      AS BIGINT)
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'fk_orphans', 'orders->customer',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
         |    CAST(COUNT(*) AS BIGINT)
         |  FROM orders o WHERE NOT EXISTS
         |    (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)
         |  UNION ALL
         |  SELECT 'fk_orphans', 'lineitem->orders',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
         |    CAST(COUNT(*) AS BIGINT)
         |  FROM lineitem l WHERE NOT EXISTS
         |    (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey)
         |  UNION ALL
         |  SELECT 'fk_orphans', 'lineitem->part',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
         |    CAST(COUNT(*) AS BIGINT)
         |  FROM lineitem l WHERE NOT EXISTS
         |    (SELECT 1 FROM part WHERE p_partkey = l.l_partkey)
         |  UNION ALL
         |  SELECT 'fk_orphans', 'lineitem->supplier',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
         |    CAST(COUNT(*) AS BIGINT)
         |  FROM lineitem l WHERE NOT EXISTS
         |    (SELECT 1 FROM supplier WHERE s_suppkey = l.l_suppkey)
         |  UNION ALL
         |  SELECT 'range_quantity_1_50', 'lineitem',
         |    CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
         |      THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'range_discount_0_10pct', 'lineitem',
         |    CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.10001
         |      THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'not_null_shipdate', 'lineitem',
         |    CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT)
         |  FROM lineitem)
         |SELECT chk, tbl, n_rows, n_violations,
         |  n_violations = 0 AS pass
         |FROM checks""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)

      // composite keys count the ACTUAL column tuple — an encoded
      // single-column key (orderkey * 16 + linenumber) is injective
      // only under a range assumption the audit itself never checks
      // (a collision would undercount identically in
      // both engines, so the gate could not catch it)
      def pkUnique(tbl: String, df: DataFrame,
          key: org.apache.spark.sql.Column*) =
        df.agg(count(one).as("n_rows"),
            (count(one) - countDistinct(key.head, key.tail: _*))
              .as("n_violations"))
          .select(lit("pk_unique").as("chk"), lit(tbl).as("tbl"),
            $"n_rows", $"n_violations")

      def fkOrphans(label: String, child: DataFrame,
          childKey: String, parent: DataFrame, parentKey: String) = {
        val total = child.agg(count(one).as("n_rows"))
        val orphans = child
          .join(parent.select(col(parentKey)),
            col(childKey) === col(parentKey), "left_anti")
          .agg(count(one).as("n_violations"))
        total.crossJoin(orphans)
          .select(lit("fk_orphans").as("chk"), lit(label).as("tbl"),
            $"n_rows", $"n_violations")
      }

      val li = t.lineitem
      val pk = pkUnique("customer", t.customer, $"c_custkey")
        .unionByName(pkUnique("orders", t.orders, $"o_orderkey"))
        .unionByName(pkUnique("part", t.part, $"p_partkey"))
        .unionByName(pkUnique("supplier", t.supplier, $"s_suppkey"))
        .unionByName(pkUnique("lineitem", li,
          $"l_orderkey", $"l_linenumber"))
      val fk = fkOrphans("orders->customer", t.orders, "o_custkey",
          t.customer, "c_custkey")
        .unionByName(fkOrphans("lineitem->orders", li, "l_orderkey",
          t.orders, "o_orderkey"))
        .unionByName(fkOrphans("lineitem->part", li, "l_partkey",
          t.part, "p_partkey"))
        .unionByName(fkOrphans("lineitem->supplier", li, "l_suppkey",
          t.supplier, "s_suppkey"))
      // the three lineitem column contracts share ONE scan
      val ranges = li.agg(count(one).as("n"),
          sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L)
            .otherwise(0L)).as("v_qty"),
          sum(when($"l_discount" < 0 || $"l_discount" > 0.10001, 1L)
            .otherwise(0L)).as("v_disc"),
          sum(when($"l_shipdate".isNull, 1L).otherwise(0L)).as("v_ship"))
      val rangeRows = ranges.select(
          lit("range_quantity_1_50").as("chk"), lit("lineitem").as("tbl"),
          $"n".as("n_rows"), $"v_qty".as("n_violations"))
        .unionByName(ranges.select(
          lit("range_discount_0_10pct").as("chk"),
          lit("lineitem").as("tbl"),
          $"n".as("n_rows"), $"v_disc".as("n_violations")))
        .unionByName(ranges.select(
          lit("not_null_shipdate").as("chk"), lit("lineitem").as("tbl"),
          $"n".as("n_rows"), $"v_ship".as("n_violations")))
      pk.unionByName(fk).unionByName(rangeRows)
        .select($"chk", $"tbl", $"n_rows", $"n_violations",
          ($"n_violations" === 0).as("pass"))
    },

    // Three audit staples — the model-eval gains table, the Poisson
    // dispersion test, and calendar completeness.
    //
    // Scale shape: each is one corpus-sized groupBy; deciles/grids/flags
    // run on bounded tables (10 deciles, users × 30 days, days × 24).
    //
    // Lift/gains table — rank units by a score (document length
    // stands in for the model score; the machinery is
    // score-agnostic), cut into exact deciles by ranked row number,
    // and report each decile's response rate (outcome: lang = 'en'),
    // cumulative gains and lift vs the base rate, all in ppm with
    // integral division. THE campaign/classifier triage chart, exact
    // in both engines (row_number deciles with (score, id) tie-breaks
    // cut identical multisets — ntile is avoided deliberately: its
    // remainder distribution is engine-defined).
    Qry(
      "q335_lift_gains",
      """WITH s AS (SELECT doc_id, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (ORDER BY n_chars DESC,
        |      doc_id) AS rn, COUNT(*) OVER () AS n,
        |    SUM(pos) OVER () AS tot_pos FROM s),
        |d AS (SELECT ((rn - 1) * 10) // n + 1 AS decile, COUNT(*) AS dn,
        |    SUM(pos) AS dpos, MAX(n) AS n, MAX(tot_pos) AS tot_pos
        |  FROM r GROUP BY 1)
        |SELECT decile, CAST(dn AS BIGINT) AS dn,
        |  CAST(dpos AS BIGINT) AS dpos,
        |  CAST((1000000 * dpos) // dn AS BIGINT) AS rate_ppm,
        |  CAST((1000000 * SUM(dpos) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    // tot_pos AS BIGINT) AS cum_gain_ppm,
        |  CAST(((1000000 * dpos) // dn) * n // tot_pos AS BIGINT)
        |    AS lift_ppm
        |FROM d""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // TWO-PASS GLOBAL RANK: the first formulation
      // ranked ALL documents with one unpartitioned row_number — a
      // full-corpus single-partition sort. q223's bucketed prefix-sum
      // device applies verbatim to a rank: the total order
      // (n_chars DESC, doc_id) is split into buckets that are
      // CONTIGUOUS in that order — exact n_chars value, sub-bucketed
      // by doc_id range so a heavy tie never serializes —
      //   pass 1: bucket-LOCAL row_number (parallelism = #buckets,
      //           grows with the corpus);
      //   pass 2: per-bucket counts (a tiny aggregate, ~corpus/4096
      //           rows), cumulated in bucket order and broadcast back.
      // rank = bucket offset + local rank — bit-identical to the
      // global row_number because bucket boundaries respect the order.
      // The corpus totals (n, tot_pos) ride the same bucket aggregate
      // as a broadcast 1-row frame, retiring the unpartitioned
      // count/sum windows too.
      val bucketD = 4096L
      val s = graft.operators.Staging.stage(
        Tables(spark, dir).documents
          .select($"doc_id", $"n_chars",
            when($"lang" === "en", 1).otherwise(0).as("pos"))
          .withColumn("bkt", expr(s"doc_id DIV $bucketD")),
        eager = false)
      val wLoc = Window.partitionBy($"n_chars", $"bkt").orderBy($"doc_id")
      // bucket-offset cumulation, TWO-LEVEL: the bucket
      // table is keyed by (n_chars, doc_id DIV 4096), so its size
      // scales with distinct n_chars — near corpus-sized if lengths
      // are near-unique, and a single unpartitioned window over it
      // would quietly regress to a corpus sort. Bands of 4096 n_chars
      // values are CONTIGUOUS in the (n_chars DESC, doc_id) total
      // order, so rank = global band offset + within-band offset +
      // local rank stays bit-identical while the only unpartitioned
      // window runs over the band table — bounded by the n_chars
      // DOMAIN / 4096 (data-independent), never by corpus cardinality.
      // The within-band window is partitioned (parallel across bands;
      // a single hot band degrades to the old shape, no worse).
      val buckets = s.groupBy($"n_chars".as("__c"), $"bkt".as("__b"))
        .agg(count(lit(1)).as("bc"), sum($"pos").as("bpos"))
        .withColumn("__band", expr("__c DIV 4096"))
      val wInB = Window.partitionBy($"__band")
        .orderBy($"__c".desc, $"__b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBand = Window.orderBy($"__band".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val bandOffs = buckets.groupBy($"__band")
        .agg(sum($"bc").as("__bandc"))
        .withColumn("boff", coalesce(sum($"__bandc").over(wBand), lit(0L)))
        .select($"__band".as("__bb"), $"boff")
      val offs = buckets
        .withColumn("offw", coalesce(sum($"bc").over(wInB), lit(0L)))
        .join(broadcast(bandOffs), $"__band" === $"__bb")
        .select($"__c", $"__b", ($"boff" + $"offw").as("off"))
      val tots = buckets.agg(sum($"bc").cast(LongType).as("n"),
        sum($"bpos").cast(LongType).as("tot_pos"))
      val r = s
        .withColumn("loc", row_number().over(wLoc))
        .join(broadcast(offs),
          $"n_chars" === $"__c" && $"bkt" === $"__b")
        .withColumn("rn", $"off" + $"loc")
        .crossJoin(broadcast(tots))
      val d = r.groupBy(expr("((rn - 1) * 10) DIV n + 1").as("decile"))
        .agg(count(lit(1)).as("dn"), sum($"pos").as("dpos"),
          max($"n").as("n"), max($"tot_pos").as("tot_pos"))
      d.select($"decile", $"dn".cast(LongType).as("dn"),
          $"dpos".cast(LongType).as("dpos"),
          expr("CAST((1000000 * dpos) DIV dn AS BIGINT)").as("rate_ppm"),
          expr("CAST((1000000 * SUM(dpos) OVER (ORDER BY decile " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
            "DIV tot_pos AS BIGINT)").as("cum_gain_ppm"),
          expr("CAST(((1000000 * dpos) DIV dn) * n DIV tot_pos " +
            "AS BIGINT)").as("lift_ppm"))
    },

    // Calendar completeness — the expected (date, hour) grid
    // spanned by the corpus (sequence/generate_series from the data's
    // own min/max date) anti-joined with observed hours: each missing
    // cell is a row, with expected/observed/missing totals carried as
    // grid-constant columns. The ingestion-gap audit next to q304's
    // contract checks.
    Qry(
      "q337_completeness_gaps",
      """WITH bounds AS (SELECT
        |    MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0,
        |    MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d1 FROM events),
        |dd AS (SELECT unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY))::DATE AS d FROM bounds),
        |hh AS (SELECT unnest(range(24)) AS hr),
        |grid AS (SELECT d, CAST(hr AS BIGINT) AS hr
        |         FROM dd CROSS JOIN hh),
        |obs AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |    AS d, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr
        |  FROM events)
        |SELECT g.d, CAST(COUNT(*) AS BIGINT) AS expected,
        |  CAST(COUNT(obs.d) AS BIGINT) AS observed,
        |  CAST(COUNT(*) - COUNT(obs.d) AS BIGINT) AS missing,
        |  CAST(MIN(CASE WHEN obs.d IS NULL THEN g.hr END) AS BIGINT)
        |    AS first_gap_hr
        |FROM grid g LEFT JOIN obs ON obs.d = g.d AND obs.hr = g.hr
        |GROUP BY g.d""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
      val bounds = ev.agg(min(to_date($"ts")).as("d0"),
        max(to_date($"ts")).as("d1"))
      val dd = bounds
        .select(explode(expr("sequence(d0, d1, interval 1 day)"))
          .as("d"))
      val grid = dd.crossJoin(
        broadcast(spark.range(0, 24).select($"id".as("hr"))))
      val obs = ev.select(to_date($"ts").as("od"),
        hour($"ts").cast(LongType).as("ohr")).distinct()
      grid.join(obs, $"d" === $"od" && $"hr" === $"ohr", "left_outer")
        .groupBy($"d")
        .agg(count(lit(1)).cast(LongType).as("expected"),
          count($"od").cast(LongType).as("observed"),
          (count(lit(1)) - count($"od")).cast(LongType).as("missing"),
          min(when($"od".isNull, $"hr")).cast(LongType)
            .as("first_gap_hr"))
    },

    // A quality classifier TRAINED in-engine — the fastText-classifier rung
    // every production curation pipeline runs above heuristics (q34/q83),
    // n-gram LMs (q158/q317) and importance weights (q266).
    //
    // Scale shape: ONE corpus-sized explode builds the staged feature
    // leaf; each training round is two passes over that leaf (score
    // aggregate by doc, gradient aggregate by bucket) with the 64-row
    // weight table broadcast back — weights re-staged per round so the
    // lineage never re-executes earlier rounds; the driver holds no
    // data. The AUC tail cumulates over quantized score LEVELS (bounded,
    // q281's shape), never corpus rows.
    //
    // Logistic-style linear model over q266's B=64 hashed token
    // features (bucket frequencies in ppm of each document's tokens),
    // label = the English slice, trained with 8 fixed full-batch
    // gradient rounds ENTIRELY in integer-ppm weight space — the
    // q258/q162 fixed-point discipline. The transcendental-free
    // device: the sigmoid is the HARD sigmoid clamp(½ + z/4, 0, 1)
    // (piecewise-linear, exact in integer ppm with truncating DIV —
    // both engines truncate toward zero, pinned by ProbeParity), so every
    // weight, score, residual and gradient is a bit-exact integer and
    // the unrolled-round CTE oracle re-derives the trained weights
    // EXACTLY — no float anywhere, unlike real logistic loss whose
    // exp() would diverge across libms. Saturated-correct documents
    // contribute zero residual, so updates concentrate on the
    // undecided band (perceptron-like). Output: the 64 trained
    // weights.
    Qry(
      "q350_quality_train",
      s"""WITH $trainCtes
         |SELECT b, CAST(w AS BIGINT) AS w_ppm FROM w$Rounds"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      // weights only — the feature leaf is training-internal here
      val w = trainedW(spark, dir)
      w.select($"b", $"w".cast(LongType).as("w_ppm"))
    },

    // The eval twin — every document scored with q350's weights, and the
    // learned score's exact AUC (q281's tie-credited Mann–Whitney machinery
    // over quantized score levels) measured IN-GATE next to the q34
    // heuristic baseline's AUC on the same population; `learned_beats`
    // asserts the ordering in the gated result (644 820 ppm vs 466 816 ppm
    // at sf0.01 — the heuristic is anti-correlated with English here, the
    // learned model is not).
    Qry(
      "q351_quality_auc",
      s"""WITH $trainCtes,
         |zf AS (SELECT f.doc_id, f.y, SUM(w.w * f.x) // 1000000 AS z
         |  FROM feat f JOIN w$Rounds w ON w.b = f.b GROUP BY 1, 2),
         |gl AS (SELECT z // 1000 AS sm,
         |    CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS pos,
         |    CAST(SUM(CASE WHEN y > 0 THEN 0 ELSE 1 END) AS BIGINT)
         |      AS neg
         |  FROM zf GROUP BY 1),
         |cl AS (SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY sm
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cumneg FROM gl),
         |al AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    CAST(SUM(neg) AS BIGINT) AS n_neg,
         |    CAST(1000000 * SUM(pos * (2 * cumneg + neg))
         |      // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_l
         |  FROM cl),
         |hq AS (SELECT doc_id, lang,
         |    ${ScoreMilliSql} AS sm
         |  FROM toks WHERE len(tk) > 0),
         |gh AS (SELECT sm,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS pos,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
         |      AS BIGINT) AS neg
         |  FROM hq GROUP BY 1),
         |ch AS (SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY sm
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cumneg FROM gh),
         |ah AS (SELECT CAST(1000000 * SUM(pos * (2 * cumneg + neg))
         |      // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_h
         |  FROM ch)
         |SELECT al.n_pos, al.n_neg, al.auc_l AS auc_learned_ppm,
         |  ah.auc_h AS auc_heur_ppm,
         |  al.auc_l - ah.auc_h AS delta_ppm,
         |  CAST(CASE WHEN al.auc_l > ah.auc_h THEN 1 ELSE 0 END
         |    AS BIGINT) AS learned_beats
         |FROM al CROSS JOIN ah""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val (feat, w) = train(spark, dir)
      val al = aucTail(learnedLevels(feat, w))
        .select($"n_pos", $"n_neg", $"auc_ppm".as("auc_learned_ppm"))
      // heuristic baseline over the same population (docs with >= 1
      // token — exactly the feature table's doc set)
      val hLevels = Tables(spark, dir).documents
        .select($"lang", $"text", TextOps.tokens($"text").as("tk"))
        .filter(size($"tk") > 0)
        .select($"lang", scoreMilli.as("sm"))
        .groupBy($"sm")
        .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("pos"),
          sum(when($"lang" === "en", 0L).otherwise(1L)).as("neg"))
      val ah = aucTail(hLevels)
        .select($"auc_ppm".as("auc_heur_ppm"))
      al.crossJoin(broadcast(ah))
        .select($"n_pos", $"n_neg", $"auc_learned_ppm", $"auc_heur_ppm",
          ($"auc_learned_ppm" - $"auc_heur_ppm").as("delta_ppm"),
          when($"auc_learned_ppm" > $"auc_heur_ppm", 1L).otherwise(0L)
            .as("learned_beats"))
    },

    // The iterated k-means trainer and the SemDeDup capstone it unlocks —
    // the embedding-space twin of the MinHash dedup pipeline.
    //
    // Scale shape: centroids ride broadcasts (8 rows); the only
    // corpus-sized stages are the assignment pass and the per-cell
    // equi-join, and the df-cap bounds the latter per cell with capped
    // cells surfaced honestly rather than silently quadratic (q360's
    // prefix-rank variant keeps pairing PARTIALLY alive inside capped
    // cells; a production deployment additionally scales K so typical
    // cells sit under the cap). Components run on
    // the thresholded pair graph, which is sparse by construction.
    //
    // [[graft.operators.KMeans]] — 4 fixed Lloyd rounds over the
    // embeddings fixture (k = 8, init = vectors with id < k, q246's
    // conventions; q246 remains the gated single-step). Every round is
    // engine-exact: sequential-fold double distances, ties to the
    // lower centroid id, per-dimension DECIMAL(28,6)-exact member
    // means cast once to double — so the unrolled 4-round CTE oracle
    // re-derives the trained centroid matrix bit-for-bit. Output:
    // (cid, i, c) centroid rows.
    Qry(
      "q352_kmeans_train",
      s"""WITH $kmeansCtes
         |SELECT cid, CAST(i AS BIGINT) AS i, c FROM d$KMeansRounds"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      // the trained centroid matrix itself, exploded back to
      // (cid, i, c) rows — bit-for-bit the oracle's round-4 means
      val (_, cents, _) = trained(spark, dir)
      cents.select($"cid", posexplode($"cv").as(Seq("i", "c")))
        .select($"cid", $"i".cast(LongType).as("i"), $"c")
    },

    // SemDeDup (Abbas et al. 2023's shape, exact arithmetic):
    // assign every vector to its trained cluster, compute exact
    // cosines for INTRA-CLUSTER pairs ONLY (the pair stage is an
    // equi-join on the cell id — never corpus×corpus; the fixture has
    // no planted duplicates and max pairwise cosine ≈ 0.5, so the 0.42
    // threshold sits where the fixture has signal, q77's convention),
    // threshold into edges, connected components via
    // [[ConnectedComponents.minLabel]], keep = the component's min
    // member. PER-CELL DF-CAP: cells larger
    // than [[CellCap]] are EXCLUDED from the pair stage and REPORTED
    // per-vector (`capped` = 1, every member kept) — exactly
    // [[Dedup]]'s band-cap contract and q330's reporting convention,
    // so the pair stage is PROVABLY bounded at CellCap²/2 candidate
    // pairs per cell at any corpus size. At sf0.01 the fixture's
    // cells straddle the cap (53–74 members, cap 64), so both
    // branches are exercised in-gate. Output per vector: cell,
    // component, keep, capped. The oracle is DEFINITIONAL: same
    // unrolled k-means, the same cell-size cap CTE, an explicit
    // same-cell pair join over the under-cap slice, and a
    // recursive-CTE reachability closure (q74's shape) — so the
    // distributed min-label loop is checked against first-principles
    // reachability, not a replay of itself.
    Qry(
      "q353_semdedup",
      s"""WITH RECURSIVE $kmeansCtes,
         |nn AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nr FROM e),
         |vv AS MATERIALIZED (SELECT a.id, a.cid, n.v, n.nr
         |  FROM af a JOIN nn n USING (id)),
         |csz AS MATERIALIZED (SELECT cid, COUNT(*) AS cn
         |  FROM vv GROUP BY 1),
         |vu AS MATERIALIZED (SELECT vv.* FROM vv
         |  JOIN csz ON csz.cid = vv.cid AND csz.cn <= $CellCap),
         |p0 AS (SELECT x.id AS ia, y.id AS ib
         |  FROM vu x JOIN vu y ON x.cid = y.cid AND x.id < y.id
         |  WHERE list_dot_product(x.v, y.v) / (x.nr * y.nr)
         |    >= $Threshold),
         |edges AS (SELECT ia AS a, ib AS b FROM p0
         |          UNION SELECT ib, ia FROM p0),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
         |comp AS (SELECT src AS id, MIN(dst) AS component
         |         FROM reach GROUP BY 1)
         |SELECT v.id AS vec_id, v.cid AS cell,
         |  COALESCE(c.component, v.id) AS component,
         |  CAST(CASE WHEN COALESCE(c.component, v.id) = v.id
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |  CAST(CASE WHEN s.cn > $CellCap THEN 1 ELSE 0 END AS BIGINT)
         |    AS capped
         |FROM vv v JOIN csz s ON s.cid = v.cid
         |LEFT JOIN comp c USING (id)""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val (e, cents, assign) = trained(spark, dir)
      val va = Staging.stage(
        e.join(assign.withColumnRenamed("id", "__aid"),
            $"id" === $"__aid")
          .select($"id", $"cid", $"v", Vectors.norm($"v").as("nr")),
        eager = true)
      // per-cell df-cap (Dedup's band-cap contract): the cell-size
      // table is K rows, rides a broadcast; over-cap cells never
      // reach the pair join and are reported per-vector instead
      val csz = va.groupBy($"cid".as("__cc"))
        .agg(count(lit(1)).as("__cn"))
      val under = va.join(broadcast(csz),
          $"cid" === $"__cc" && $"__cn" <= CellCap)
        .select($"id", $"cid", $"v", $"nr")
      // intra-cell pairs ONLY: the pair stage is an equi-join on the
      // cell id over the under-cap slice — the SemDeDup scale
      // contract (spec-pinned, bounded at CellCap²/2 pairs per cell)
      val edges = intraCellEdges(under)
      val comp = ConnectedComponents.minLabel(edges, "ia", "ib")
        .select($"id".as("__cid2"), $"component")
      va.join(broadcast(csz), $"cid" === $"__cc")
        .join(comp, $"id" === $"__cid2", "left_outer")
        .select($"id".as("vec_id"), $"cid".as("cell"),
          coalesce($"component", $"id").as("component"),
          when(coalesce($"component", $"id") === $"id", 1L).otherwise(0L)
            .as("keep"),
          when($"__cn" > CellCap, 1L).otherwise(0L).as("capped"))
    },

    // The trained classifier's remaining production rungs — calibration and
    // streaming inference.
    //
    // Scale shape: q355 adds one bounded 10-row tail to the training
    // pipeline; q356's stateful state is the (docs × ≤64) count table of
    // the scored WINDOW of data (the fixture streams the whole corpus —
    // a production deployment scores per micro-batch or per day-window);
    // weights ride a 64-row broadcast either way.
    //
    // Calibration table (reliability diagram) of q350's model:
    // hard-sigmoid probabilities bucketed into 10 fixed 100 000-ppm
    // bins; per bin the count, mean predicted probability and the
    // ACTUAL positive rate, plus the signed gap — all exact integer
    // ppm (the hard sigmoid is already integral; means are integral
    // DIV). The companion every deployed classifier score needs
    // beside q351's AUC: AUC says the ORDERING is right, calibration
    // says the PROBABILITIES mean what they claim (the q335
    // lift/gains shape, applied to the in-engine model).
    Qry(
      "q355_quality_calibration",
      s"""WITH ${trainCtes},
         |zf AS (SELECT f.doc_id, f.y, SUM(w.w * f.x) // 1000000 AS z
         |  FROM feat f JOIN w${Rounds} w ON w.b = f.b
         |  GROUP BY 1, 2),
         |pp AS (SELECT doc_id, y,
         |    LEAST(GREATEST(500000 + z // 4, 0), 1000000) AS p FROM zf),
         |bins AS (SELECT LEAST(p // 100000, 9) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(p) // COUNT(*) AS BIGINT) AS pred_ppm,
         |    CAST((1000000 * SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END))
         |      // COUNT(*) AS BIGINT) AS actual_ppm
         |  FROM pp GROUP BY 1)
         |SELECT CAST(bin AS BIGINT) AS bin, n, pred_ppm, actual_ppm,
         |  pred_ppm - actual_ppm AS gap_ppm
         |FROM bins""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val (feat, w) = train(spark, dir)
      QualityLr.score(feat, w)
        .select($"y",
          expr("LEAST(GREATEST(500000 + z DIV 4, 0), 1000000)").as("p"))
        .groupBy(expr("LEAST(p DIV 100000, 9)").as("bin"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          expr("CAST(SUM(p) DIV COUNT(*) AS BIGINT)").as("pred_ppm"),
          expr("CAST((1000000 * SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END))" +
            " DIV COUNT(*) AS BIGINT)").as("actual_ppm"))
        .select($"bin".cast(LongType).as("bin"), $"n", $"pred_ppm",
          $"actual_ppm", ($"pred_ppm" - $"actual_ppm").as("gap_ppm"))
    },

    // Streaming inference — the standing model (batch-trained
    // weights, the static side) scores an incoming documents STREAM;
    // the per-(doc, bucket) feature counts are the stream's only
    // stateful aggregation (complete mode, the q314/q347 twin
    // pattern), the score/quantize/AUC tail runs post-sink with the
    // trained weights broadcast — so stream-scored == batch-scored is
    // ONE hash against the same unrolled-training oracle. This is the
    // serving shape: models train on the standing corpus, today's
    // crawl scores as it lands.
    Qry(
      "q356_stream_model_serving",
      s"""WITH ${trainCtes},
         |zf AS (SELECT f.doc_id, f.y, SUM(w.w * f.x) // 1000000 AS z
         |  FROM feat f JOIN w${Rounds} w ON w.b = f.b
         |  GROUP BY 1, 2),
         |gl AS (SELECT z // 1000 AS sm,
         |    CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS pos,
         |    CAST(SUM(CASE WHEN y > 0 THEN 0 ELSE 1 END) AS BIGINT)
         |      AS neg
         |  FROM zf GROUP BY 1),
         |cl AS (SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY sm
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cumneg FROM gl)
         |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         |  CAST(SUM(neg) AS BIGINT) AS n_neg,
         |  CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS auc2,
         |  CAST(1000000 * SUM(pos * (2 * cumneg + neg))
         |    // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_ppm
         |FROM cl""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // standing model: batch-trained weights (the static side) —
      // weights only; the batch feature leaf is never read here
      val w = trainedW(spark, dir)
      // incoming stream: per-(doc, bucket) token counts are the one
      // stateful aggregation; everything after runs post-sink
      val counts = Streams.fileStream(spark, dir, "documents")
        .select($"doc_id",
          when($"lang" === "en", lit(1000000L)).otherwise(lit(0L))
            .as("y"),
          explode(TextOps.tokens($"text")).as("t"))
        .groupBy($"doc_id", $"y",
          (TextOps.md5Long($"t") % lit(TextOps.P) % QualityLr.B).as("b"))
        .agg(count(lit(1)).cast(LongType).as("c"))
      val sunk = Streams.runToMemory(counts, "complete")
      val nt = sunk.groupBy($"doc_id".as("__d"))
        .agg(sum($"c").as("__nt"))
      val feat = sunk.join(nt, $"doc_id" === $"__d")
        .select($"doc_id",
          $"y".cast(org.apache.spark.sql.types.DecimalType(38, 0))
            .as("y"),
          $"b",
          expr("CAST((1000000 * c) DIV __nt AS DECIMAL(38,0))").as("x"))
      aucTail(learnedLevels(feat, w))
        .select($"n_pos", $"n_neg", $"auc2", $"auc_ppm")
    },

    // The production-hygiene tier — scale-true SemDeDup pairing with
    // keep-best canonicalization, deletion-tolerant cluster maintenance,
    // held-out evaluation, the classifier capacity rung, and k-means
    // empty-cell reseeding.
    //
    // Scale shapes: q360's rep table is K·cap rows broadcast against one
    // corpus pass; q361's corpus-sized work is one edge-leaf pass (semi
    // + anti probe) with the rebuild loop bounded by the affected
    // components; q362/q363 are two/one corpus explodes with ≤1024-row
    // broadcast weight tables; q364 adds one corpus dmin pass only in
    // rounds that actually lost a cell.
    //
    // SemDeDup KEEP-BEST over a PREFIX-RANK-LIMITED pair stage.
    // Two upgrades over q353 at once: (1) inside each cell, every
    // member pairs only against the cell's first [[CellCap]]
    // members by id (the rank-limit device — reps are found via a
    // rank-filter the optimizer folds into WindowGroupLimit, so the
    // rep set is K·cap rows, rides ONE broadcast, and the pair stage
    // is LINEAR: ≤ cap candidates per vector at any corpus size —
    // where q353's df-cap excludes oversized cells outright, the
    // prefix keeps dedup partially alive inside them through the rep
    // anchors); (2) canonical selection is KEEP-CLOSEST-TO-CENTROID
    // (production SemDeDup's rule): within each
    // duplicate component the kept member minimizes (distance to its
    // trained centroid, id) — distances are the same sequential-fold
    // doubles as the assignment itself, so the oracle re-derives the
    // canonical pick bit-for-bit.
    Qry(
      "q360_semdedup_keepbest",
      s"""WITH RECURSIVE ${kmeansCtes},
         |nn AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nr FROM e),
         |vv AS MATERIALIZED (SELECT a.id, a.cid, n.v, n.nr
         |  FROM af a JOIN nn n USING (id)),
         |rk AS MATERIALIZED (SELECT id, cid, v, nr,
         |    row_number() OVER (PARTITION BY cid ORDER BY id) AS rn
         |  FROM vv),
         |reps AS MATERIALIZED (SELECT id, cid, v, nr FROM rk
         |  WHERE rn <= ${CellCap}),
         |p0 AS (SELECT LEAST(x.id, r.id) AS ia,
         |    GREATEST(x.id, r.id) AS ib
         |  FROM vv x JOIN reps r ON x.cid = r.cid AND x.id <> r.id
         |  WHERE list_dot_product(x.v, r.v) / (x.nr * r.nr)
         |    >= ${Threshold}),
         |edges AS (SELECT ia AS a, ib AS b FROM p0
         |          UNION SELECT ib, ia FROM p0),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
         |comp AS (SELECT src AS id, MIN(dst) AS component
         |         FROM reach GROUP BY 1),
         |dd AS (SELECT a.id, ${D2Sql} AS d2
         |  FROM af a JOIN e ON e.id = a.id
         |  JOIN c${KMeansRounds} c ON c.cid = a.cid),
         |lab AS (SELECT v.id, v.cid,
         |    COALESCE(c.component, v.id) AS component, d.d2
         |  FROM vv v LEFT JOIN comp c USING (id)
         |  JOIN dd d ON d.id = v.id),
         |sel AS (SELECT id, cid, component,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY d2, id) AS krn
         |  FROM lab)
         |SELECT id AS vec_id, cid AS cell, component,
         |  CAST(CASE WHEN krn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM sel""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val (e, cents, _) = trained(spark, dir)
      val ad = KMeans.assignDist(e, cents, "id", "v")
        .select($"id".as("__aid"), $"cid", $"d2")
      val va = Staging.stage(
        e.join(ad, $"id" === $"__aid")
          .select($"id", $"cid", $"v", Vectors.norm($"v").as("nr"),
            $"d2"),
        eager = true)
      // rep set: first CellCap members of each cell by id — the
      // rank filter folds into WindowGroupLimit (never a full-cell
      // rank materialization) and the result is K·cap rows, broadcast
      val reps = va
        .withColumn("rn", row_number().over(
          Window.partitionBy($"cid").orderBy($"id")))
        .filter($"rn" <= CellCap)
        .select($"cid".as("rc"), $"id".as("rid"), $"v".as("rv"),
          $"nr".as("rnr"))
      // pair stage: corpus × broadcast(reps) — ≤ cap candidates per
      // vector at ANY corpus size (the linear-rank-limit contract)
      val edges = va.join(broadcast(reps),
          $"cid" === $"rc" && $"id" =!= $"rid")
        .filter(Vectors.cosine(Vectors.dot($"v", $"rv"), $"nr", $"rnr")
          >= expr(Threshold))
        .select(least($"id", $"rid").as("ia"),
          greatest($"id", $"rid").as("ib"))
      val comp = ConnectedComponents.minLabel(edges, "ia", "ib")
        .select($"id".as("__cid2"), $"component")
      val lab = va.join(comp, $"id" === $"__cid2", "left_outer")
        .select($"id", $"cid",
          coalesce($"component", $"id").as("component"), $"d2")
      // keep-best: closest to the trained centroid, ties by id —
      // window partitioned by component (dup-cluster-bounded)
      lab.withColumn("krn", row_number().over(
          Window.partitionBy($"component").orderBy($"d2", $"id")))
        .select($"id".as("vec_id"), $"cid".as("cell"), $"component",
          when($"krn" === 1, 1L).otherwise(0L).as("keep"))
    },

    // HELD-OUT evaluation for the trained quality classifier (q351 measures
    // AUC on the training population): q150's deterministic content-hash
    // split, train on the ~80% train slice with the same integer-ppm
    // machinery, then gate BOTH the training-population AUC and the
    // held-out AUC next to each other with the generalization gap in-result
    // (q345's leakage discipline applied to the model itself). The unrolled
    // training oracle is restricted to the train slice; the held-out
    // features are a second slice of the same one-pass feature CTE.
    Qry(
      "q362_heldout_auc", {
        val trainSrc = "SELECT doc_id, lang, unnest(tk) AS t " +
          s"FROM toks WHERE ${TextOps.oracleHashSql("text")} < $TrainBound"
        val r = Rounds
        s"""WITH ${trainCtesG(QualityLr.B, trainSrc)},
           |tfh AS (SELECT doc_id, lang,
           |    ${TextOps.oracleHashSql("t")} % ${QualityLr.B} AS b,
           |    CAST(COUNT(*) AS HUGEINT) AS c
           |  FROM (SELECT doc_id, lang, unnest(tk) AS t FROM toks
           |        WHERE ${TextOps.oracleHashSql("text")} >= $TrainBound)
           |  GROUP BY 1, 2, 3),
           |ntkh AS (SELECT doc_id, SUM(c) AS nt FROM tfh GROUP BY 1),
           |feath AS MATERIALIZED (SELECT tfh.doc_id,
           |    CAST(CASE WHEN tfh.lang = 'en' THEN 1000000 ELSE 0 END
           |      AS HUGEINT) AS y,
           |    tfh.b, (1000000 * tfh.c) // ntkh.nt AS x
           |  FROM tfh JOIN ntkh USING (doc_id)),
           |zft AS (SELECT f.doc_id, f.y, SUM(w.w * f.x) // 1000000 AS z
           |  FROM feat f JOIN w$r w ON w.b = f.b GROUP BY 1, 2),
           |glt AS (SELECT z // 1000 AS sm,
           |    CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS pos,
           |    CAST(SUM(CASE WHEN y > 0 THEN 0 ELSE 1 END) AS BIGINT)
           |      AS neg
           |  FROM zft GROUP BY 1),
           |clt AS (SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY sm
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cumneg FROM glt),
           |alt AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           |    CAST(SUM(neg) AS BIGINT) AS n_neg,
           |    CAST(1000000 * SUM(pos * (2 * cumneg + neg))
           |      // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_l
           |  FROM clt),
           |zfh AS (SELECT f.doc_id, f.y, SUM(w.w * f.x) // 1000000 AS z
           |  FROM feath f JOIN w$r w ON w.b = f.b GROUP BY 1, 2),
           |glh AS (SELECT z // 1000 AS sm,
           |    CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS pos,
           |    CAST(SUM(CASE WHEN y > 0 THEN 0 ELSE 1 END) AS BIGINT)
           |      AS neg
           |  FROM zfh GROUP BY 1),
           |clh AS (SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY sm
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cumneg FROM glh),
           |alh AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           |    CAST(SUM(neg) AS BIGINT) AS n_neg,
           |    CAST(1000000 * SUM(pos * (2 * cumneg + neg))
           |      // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_l
           |  FROM clh)
           |SELECT alt.n_pos AS n_pos_tr, alt.n_neg AS n_neg_tr,
           |  alt.auc_l AS auc_train_ppm,
           |  alh.n_pos AS n_pos_ho, alh.n_neg AS n_neg_ho,
           |  alh.auc_l AS auc_heldout_ppm,
           |  alt.auc_l - alh.auc_l AS gap_ppm
           |FROM alt CROSS JOIN alh""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val isTrain = TextOps.hashMod($"text") < TrainBound
      val featTr = QualityLr.features(docs.filter(isTrain))
      // q362/q363 train their own models once per fixture state, as
      // q350 does: bench warm + timed runs and the 10x folds reuse one
      // training
      val rows = fixtureMemo[Weights]("held-out weights", dir) {
        QualityLr.train(featTr).collect()
          .map(r => (r.getLong(0), r.getDecimal(1)))
      }
      val w = wFrame(spark, rows)
      val featHo = QualityLr.features(docs.filter(!isTrain))
      val alTr = aucTail(learnedLevels(featTr, w))
        .select($"n_pos".as("n_pos_tr"), $"n_neg".as("n_neg_tr"),
          $"auc_ppm".as("auc_train_ppm"))
      val alHo = aucTail(learnedLevels(featHo, w))
        .select($"n_pos".as("n_pos_ho"), $"n_neg".as("n_neg_ho"),
          $"auc_ppm".as("auc_heldout_ppm"))
      alTr.crossJoin(broadcast(alHo))
        .select($"n_pos_tr", $"n_neg_tr", $"auc_train_ppm",
          $"n_pos_ho", $"n_neg_ho", $"auc_heldout_ppm",
          ($"auc_train_ppm" - $"auc_heldout_ppm").as("gap_ppm"))
    },

    // Classifier CAPACITY RUNG: hashed BIGRAM features (tokens ∪
    // space-joined word 2-grams — streams cannot collide pre-hash since
    // tokens never contain spaces) in B=1024 buckets, trained with the
    // identical integer-ppm hard-sigmoid rounds — only the feature stream
    // and bucket count change ([[trainCtesG]] re-renders the same round
    // CTEs). Still ONE corpus-sized explode; the weight table grows 64→1024
    // rows and keeps riding broadcasts.
    Qry(
      "q363_quality_bigram", {
        val bigramSrc = "SELECT doc_id, lang, unnest(list_concat(tk, " +
          "list_transform(range(len(tk)-1), " +
          "i -> array_to_string(tk[i+1:i+2], ' ')))) AS t FROM toks"
        s"""WITH ${trainCtesG(1024, bigramSrc)}
           |SELECT b, CAST(w AS BIGINT) AS w_ppm
           |FROM w${Rounds}""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // the feature leaf is training-internal: build it only on a
      // memo miss (a hit was eagerly staging the full bigram explode
      // just to discard it)
      val rows = fixtureMemo[Weights]("bigram weights", dir) {
        val feat = QualityLr.features(Tables(spark, dir).documents,
          b = 1024, bigrams = true)
        val out = QualityLr.train(feat, b = 1024).collect()
          .map(r => (r.getLong(0), r.getDecimal(1)))
        Staging.release(feat)
        out
      }
      wFrame(spark, rows)
        .select($"b", $"w".cast(LongType).as("w_ppm"))
    },

    // K-means EMPTY-CELL RESEEDING ([[KMeans.runWithReseed]]): explicit
    // init with an unreachable sentinel centroid FORCES an empty cell in
    // round 1, and the operator re-seeds it with the deterministic farthest
    // point (max distance to its nearest refit centroid, ties by id). The
    // oracle unrolls every round WITH the reseed CTEs (a no-op whenever no
    // cell emptied), so the final centroid matrix — the operator's own
    // state, q352's convention — matches bit-for-bit.
    Qry(
      "q364_kmeans_reseed", {
        val K = KMeansK
        val Dim = Quality.Dim
        val R = 3
        val d2 = D2Sql
        def assignCte(name: String, cents: String): String =
          s"""$name AS MATERIALIZED (SELECT id, cid FROM (
             |    SELECT e.id, c.cid, row_number() OVER (PARTITION BY e.id
             |      ORDER BY $d2, c.cid) AS rn
             |    FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
        val rounds = (1 to R).map { r =>
          s"""${assignCte(s"a$r", s"c${r - 1}")},
             |m$r AS (SELECT a.cid, e.v FROM e
             |        JOIN a$r a USING (id)),
             |d$r AS (SELECT cid, t.i, ${davgSql("v[t.i + 1]")} AS c
             |  FROM m$r, range($Dim) t(i) GROUP BY 1, 2),
             |cr$r AS MATERIALIZED (SELECT cid, list(c ORDER BY i) AS cv
             |  FROM d$r GROUP BY 1),
             |ms$r AS (SELECT t.b AS cid,
             |    row_number() OVER (ORDER BY t.b) AS mrn
             |  FROM range($K) t(b)
             |  WHERE t.b NOT IN (SELECT cid FROM cr$r)),
             |dm$r AS (SELECT e.id, MIN($d2) AS dmin
             |  FROM e CROSS JOIN cr$r c GROUP BY 1),
             |fr$r AS (SELECT id,
             |    row_number() OVER (ORDER BY dmin DESC, id) AS frn
             |  FROM dm$r),
             |c$r AS MATERIALIZED (SELECT cid, cv FROM cr$r
             |  UNION ALL SELECT m.cid, e2.v FROM ms$r m
             |  JOIN fr$r f ON f.frn = m.mrn
             |  JOIN e e2 ON e2.id = f.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS MATERIALIZED (SELECT vec_id AS id,
           |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |c0 AS (SELECT id AS cid, v AS cv FROM e WHERE id < ${K - 1}
           |  UNION ALL SELECT CAST(${K - 1} AS BIGINT),
           |    list_transform(range($Dim), x -> 1.0e9)),
           |$rounds
           |SELECT cid, CAST(t.i AS BIGINT) AS i, cv[t.i + 1] AS c
           |FROM c$R, range($Dim) t(i)""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val K = KMeansK
      val e = Staging.stage(
        Tables(spark, dir).embeddings
          .select($"vec_id".as("id"),
            Vectors.toDouble($"embedding").as("v")),
        eager = true)
      // init: K-1 real seeds + one unreachable sentinel — forces an
      // empty cell in round 1 so the reseed path is exercised in-gate
      val init = e.filter($"id" < (K - 1))
        .select($"id".as("cid"), $"v".as("cv"))
        .unionByName(spark.range(1)
          .select(lit((K - 1).toLong).as("cid"),
            array_repeat(lit(1.0e9), Quality.Dim).as("cv")))
      val cents = KMeans.runWithReseed(e, "id", "v", K, rounds = 3,
        init = init)
      cents.select($"cid", posexplode($"cv").as(Seq("i", "c")))
        .select($"cid", $"i".cast(LongType).as("i"), $"c")
    }
  )
}
