package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Exact._
import graft.operators.TextOps.{P, TokenReDuck}
import graft.operators.{Dedup, Staging, TextOps, Vectors}
import graft.sources.Tables
import graft.streaming.Streams

import Helpers.one

/** Similarity-search surface over the `embeddings` fixture (`vec_id`,
  * `embedding array<float>` 64-dim unit vectors, `label`):
  * brute-force cosine top-k as the exactness baseline, plus the two
  * scale paths — IVF (centroid partitioning) and sign-random-projection
  * LSH (hash bucketing) — that bound candidate sets when the corpus no
  * longer fits a cross join.
  *
  * Scale notes (100 TB): the query side of top-k is broadcast (small by
  * construction); the corpus side streams through one pass with a
  * per-query-key top-k window — never a corpus×corpus product. IVF
  * assignment is one broadcast-join pass; LSH bucketing is per-row
  * column arithmetic followed by an equi-join on the bucket id.
  *
  * Also here: quantization, product quantization and IVF-PQ (raw and
  * residual), multi-probe and recall/MRR audits, JL projection, LSH
  * geometry, and single k-means steps.
  */
object Embeddings {

  private def emb(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(spark, dir).embeddings
  // Shared DuckDB CTEs: double-widened vectors + norms.
  private val eCte =
    "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
  private val nCte =
    "n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nr FROM e)"

  /** DuckDB twin of `Vectors.dot(v, Vectors.hyperplane(j))` — generated
    * from the same Weyl constants so the two sides cannot drift. */
  private def planeSqlFor(j: Int): String =
    s"""list_reduce(list_prepend(0.0e0, list_transform(range(64),
       |      i -> v[i+1] * ((($j*64 + i) * 2654435761 % 1000003)
       |        / 1000003.0e0 - 0.5e0))),
       |      (acc, x) -> acc + x)""".stripMargin

  // q77 near-dup banding parameters (shared Spark/oracle)
  private val NdBands = 4
  private val NdPlanesPerBand = 8
  private val NdThreshold = 0.42

  // every 97th vector plays the eval benchmark; 0.35 cosine = "too close"
  private val BenchMod = 97
  private val Tau = 0.35

  private val Dim = 64
  private val TopK = 20

  // q196 geometry: q77's SRP banding over the embeddings fixture.
  private val EBands = 4
  private val EPlanes = 8
  private val ETau = 0.42
  private val EMod = 10
  private val ERem = 7

  private val K = 3

  private val NCentroids = 8
  /** (bands, rows) splits of K = 16 MinHash functions. */
  private val Grid = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
  /** Advisor scope: pairs at or above this Jaccard (x10). */
  private val MinJx10 = 1

  private val NProbes = Seq(1, 2, 3)

  /** Subspaces (codes per vector; 1 byte each at K <= 256). */
  private val M = 4
  private val SubDim = Dim / M
  /** Codebook entries per subspace. */
  private val PqCodebookK = 4
  /** Query vectors (vec_id < Q, the q240 convention). */
  private val Q = 10
  private val PqTopK = 3

  private val Kc = 4
  private val NCells = 8
  private val NProbe = 2
  private val IvfPqTopK = 3

  private val ProjDim = 16
  /** Audit scope: pairwise over vec_id < AuditN. */
  private val AuditN = 20

  private val ResidualTopK = 3

  private val MinHashK = 16

  val all: Seq[Qry] = Seq(

    // ---- norm statistics per label -------------------------------------
    Qry(
      "q40_norm_stats",
      s"""WITH $eCte, $nCte
         |SELECT label, COUNT(*) AS n,
         |  ${dsumSql("nr")} AS norm_sum,
         |  ${davgSql("nr")} AS norm_avg,
         |  MIN(nr) AS norm_min, MAX(nr) AS norm_max
         |FROM n GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      emb(spark, dir)
        .select($"label", Vectors.norm(Vectors.toDouble($"embedding")).as("nr"))
        .groupBy($"label")
        .agg(count(one).as("n"), dsum($"nr").as("norm_sum"),
          davg($"nr").as("norm_avg"),
          min($"nr").as("norm_min"), max($"nr").as("norm_max"))
    },

    // ---- brute-force cosine top-k (exact ANN baseline) -----------------
    Qry(
      "q41_cosine_topk",
      s"""WITH $eCte, $nCte,
         |q AS (SELECT vec_id AS qid, v AS qv, nr AS qnr FROM n
         |      WHERE vec_id < 10),
         |pairs AS (SELECT qid, vec_id,
         |    list_dot_product(qv, v) / (qnr * nr) AS cosine
         |  FROM n, q WHERE vec_id <> qid)
         |SELECT qid, vec_id AS neighbor_id, rn AS rank, cosine
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY cosine DESC, vec_id) AS rn FROM pairs)
         |WHERE rn <= 5""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.Graft._
      val e = emb(spark, dir)
      e.cosineTopK(e.filter($"vec_id" < 10), "vec_id", "embedding", k = 5)
        .select($"query_id".as("qid"), $"neighbor_id", $"rank", $"cosine")
    },

    // ---- IVF: nearest-centroid assignment ------------------------------
    Qry(
      "q42_ivf_assign",
      s"""WITH $eCte,
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |d AS (SELECT vec_id, cid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c),
         |assign AS (SELECT vec_id, cid, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1)
         |SELECT cid, COUNT(*) AS n_members,
         |  ${dsumSql("d2")} AS d2_sum, ${davgSql("d2")} AS d2_avg
         |FROM assign GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = emb(spark, dir)
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
      val c = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val w = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
      e.crossJoin(broadcast(c))
        .select($"vec_id", $"cid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .groupBy($"cid")
        .agg(count(one).as("n_members"), dsum($"d2").as("d2_sum"),
          davg($"d2").as("d2_avg"))
    },

    // ---- sign-random-projection LSH bucketing --------------------------
    Qry(
      "q43_srp_lsh", {
        val bucketSql = (0 until 8).map(j =>
          s"CASE WHEN ${planeSqlFor(j)} > 0 THEN ${1L << j} ELSE 0 END")
          .mkString("\n    + ")
        s"""WITH $eCte,
           |b AS (SELECT vec_id, CAST($bucketSql AS BIGINT) AS bucket FROM e)
           |SELECT bucket, COUNT(*) AS n_vectors,
           |  COUNT(*) * (COUNT(*) - 1) / 2 AS n_candidate_pairs
           |FROM b GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      emb(spark, dir)
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
        .select($"vec_id", Vectors.srpBucket($"v", nPlanes = 8).as("bucket"))
        .groupBy($"bucket")
        .agg(count(one).as("n_vectors"),
          (count(one) * (count(one) - 1) / 2).as("n_candidate_pairs"))
    },

    // ---- embedding-cosine near-duplicate removal -----------------------
    // The vector-space member of the dedup family (exact q32, Jaccard
    // q36, MinHash q37, SimHash q38): candidates from banded SRP-LSH
    // (any-band collision), exact cosine only within candidates, greedy
    // keep-lowest-id removal. At 100 TB the banded equi-join bounds the
    // pair stage exactly like q37's MinHash bands — no corpus×corpus
    // product anywhere; vectors are re-joined by id for scoring rather
    // than carried through the band explode. The fixture has no planted
    // duplicates (max pairwise cosine ≈ 0.5), so the threshold sits where
    // the fixture has signal; it is a parameter, not a semantic.
    Qry(
      "q77_embed_neardup", {
        val bandSelects = (0 until NdBands).map { b =>
          val bits = (0 until NdPlanesPerBand).map { p =>
            s"CASE WHEN ${planeSqlFor(b * NdPlanesPerBand + p)} > 0 " +
              s"THEN ${1L << p} ELSE 0 END"
          }.mkString("\n      + ")
          s"SELECT vec_id, $b AS b, CAST($bits AS BIGINT) AS bk FROM e"
        }.mkString("\nUNION ALL\n")
        s"""WITH $eCte, $nCte,
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT a.vec_id AS ia, c.vec_id AS ib
           |  FROM bands a JOIN bands c
           |    ON a.b = c.b AND a.bk = c.bk AND a.vec_id < c.vec_id),
           |pairs AS (SELECT ia, ib,
           |    list_dot_product(na.v, nb.v) / (na.nr * nb.nr) AS cos
           |  FROM cand JOIN n na ON ia = na.vec_id
           |    JOIN n nb ON ib = nb.vec_id),
           |victims AS (SELECT DISTINCT ib FROM pairs WHERE cos > $NdThreshold)
           |SELECT label, COUNT(*) AS n_vecs,
           |  CAST(SUM(CASE WHEN v.ib IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dropped,
           |  CAST(COUNT(*) - SUM(CASE WHEN v.ib IS NOT NULL THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_kept
           |FROM e LEFT JOIN victims v ON e.vec_id = v.ib
           |GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val e = emb(spark, dir)
        .select($"vec_id", $"label", Vectors.toDouble($"embedding").as("v"))
      val victims = graft.operators.Dedup
        .cosineNearDupPairs(e, idCol = "vec_id", vecCol = "v",
          bands = NdBands, planesPerBand = NdPlanesPerBand,
          threshold = NdThreshold)
        .select($"id_b".as("victim")).distinct()
      e.join(broadcast(victims.withColumn("__hit", one)),
          e("vec_id") === victims("victim"), "left")
        .groupBy($"label")
        .agg(count(one).as("n_vecs"),
          sum(when($"__hit".isNotNull, 1L).otherwise(0L)).as("n_dropped"),
          sum(when($"__hit".isNull, 1L).otherwise(0L)).as("n_kept"))
    },

    // ---- IVF-restricted top-k: search only the query's cluster ---------
    Qry(
      "q63_ivf_topk",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d AS (SELECT vec_id, cid,
        |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
        |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
        |      (acc, x) -> acc + x) AS d2
        |  FROM e, c),
        |assign AS (SELECT vec_id, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
        |n AS (SELECT e.vec_id, a.cid, v, sqrt(list_dot_product(v, v)) AS nr
        |      FROM e JOIN assign a ON e.vec_id = a.vec_id),
        |q AS (SELECT vec_id AS qid, cid AS qcid, v AS qv, nr AS qnr
        |      FROM n WHERE vec_id < 10),
        |pairs AS (SELECT qid, n.vec_id,
        |    list_dot_product(qv, v) / (qnr * nr) AS cosine
        |  FROM n JOIN q ON n.cid = q.qcid AND n.vec_id <> q.qid)
        |SELECT qid, vec_id AS neighbor_id, rn AS rank, cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY cosine DESC, vec_id) AS rn FROM pairs)
        |WHERE rn <= 3""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
      val c = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
      val assign = e.crossJoin(broadcast(c))
        .select($"vec_id", $"cid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1).select($"vec_id".as("aid"), $"cid")
      val n = e.join(assign, $"vec_id" === $"aid")
        .select($"vec_id", $"cid", $"v", Vectors.norm($"v").as("nr"))
      val q = n.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"cid".as("qcid"),
          $"v".as("qv"), $"nr".as("qnr"))
      val wRank = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id")
      n.join(broadcast(q), $"cid" === $"qcid" && $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          Vectors.cosine(Vectors.dot($"qv", $"v"), $"qnr", $"nr").as("cosine"))
        .withColumn("rn", row_number().over(wRank))
        .filter($"rn" <= 3)
        .select($"qid", $"vec_id".as("neighbor_id"), $"rn".as("rank"),
          $"cosine")
    },

    // ---- one k-means (Lloyd) iteration over embeddings -----------------
    // Assign every vector to its nearest centroid (q42's broadcast
    // assignment), then recompute centroids as per-dimension means — the
    // building block of distributed k-means. Per-dim means ride the
    // decimal accumulator (a raw double sum would be partial-order
    // dependent); only the first 4 dims are emitted (the gate needs a
    // witness, not the full 64-wide centroid).
    Qry(
      "q120_kmeans_step",
      s"""WITH e AS (SELECT vec_id,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |d AS (SELECT vec_id, cid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2, v
         |  FROM e, c),
         |assign AS (SELECT vec_id, cid, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1)
         |SELECT cid, COUNT(*) AS n_members,
         |  round(${dsumSql("v[1]")} / COUNT(*), 6) AS c0,
         |  round(${dsumSql("v[2]")} / COUNT(*), 6) AS c1,
         |  round(${dsumSql("v[3]")} / COUNT(*), 6) AS c2,
         |  round(${dsumSql("v[4]")} / COUNT(*), 6) AS c3
         |FROM assign GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
      val c = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val w = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
      e.crossJoin(broadcast(c))
        .select($"vec_id", $"cid", Vectors.distSq($"v", $"cv").as("d2"),
          $"v")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .groupBy($"cid")
        .agg(count(one).as("n_members"),
          round(dsum(element_at($"v", 1)) / count(one), 6).as("c0"),
          round(dsum(element_at($"v", 2)) / count(one), 6).as("c1"),
          round(dsum(element_at($"v", 3)) / count(one), 6).as("c2"),
          round(dsum(element_at($"v", 4)) / count(one), 6).as("c3"))
    },

    // Semantic decontamination (q153): removing training documents that
    // are SEMANTICALLY close to an evaluation benchmark, the
    // embedding-space counterpart of q107's exact-chunk decontamination.
    // The benchmark side is small by definition (an eval set), which
    // makes the scale shape different from q77's corpus×corpus near-dup:
    // broadcast the benchmark, stream the corpus through ONE exact-cosine
    // pass, aggregate per corpus row — no LSH needed until the benchmark
    // itself outgrows a broadcast (then q43's SRP bucketing takes over
    // candidate generation).
    // ---- semantic decontamination --------------------------------------
    // Output: the REMOVED corpus vectors — how many benchmark entries
    // each collided with and the worst (max) cosine. The aggregate is
    // the barrier here, so the HAVING-style filter runs post-agg and
    // nothing recomputes. Cosines are computed on double-widened
    // vectors in index order on both engines (the q41-established
    // parity), so max_cos hash-compares exactly.
    Qry(
      "q153_semantic_decontam",
      s"""WITH e AS (SELECT vec_id, label,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |    sqrt(list_dot_product(v, v)) AS nr FROM e),
         |b AS (SELECT v AS bv, nr AS bnr FROM n
         |      WHERE vec_id % $BenchMod = 0),
         |p AS (SELECT c.vec_id, c.label,
         |    list_dot_product(c.v, bv) / (c.nr * bnr) AS cos
         |  FROM (SELECT * FROM n WHERE vec_id % $BenchMod <> 0) c
         |  CROSS JOIN b)
         |SELECT vec_id, label,
         |  COUNT(*) FILTER (cos >= $Tau) AS n_hits,
         |  MAX(cos) AS max_cos
         |FROM p GROUP BY 1, 2 HAVING n_hits > 0""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val n = Tables(spark, dir).embeddings
        .select($"vec_id", $"label",
          Vectors.toDouble($"embedding").as("v"))
        .withColumn("nr", Vectors.norm($"v"))
      val bench = n.filter($"vec_id" % BenchMod === 0)
        .select($"v".as("bv"), $"nr".as("bnr"))
      n.filter($"vec_id" % BenchMod =!= 0)
        .crossJoin(broadcast(bench))
        .select($"vec_id", $"label",
          Vectors.cosine(Vectors.dot($"v", $"bv"), $"nr", $"bnr").as("cos"))
        .groupBy($"vec_id", $"label")
        .agg(count(when($"cos" >= Tau, 1)).as("n_hits"),
          max($"cos").as("max_cos"))
        .filter($"n_hits" > 0)
    },

    // Int8 quantization QA (q165): scalar symmetric per-dimension
    // quantization of the embedding corpus with exact reconstruction-
    // error reporting — the check a pipeline runs before shipping a
    // compressed ANN index. floor(x + 0.5) stands in for round():
    // floor is bit-identical in both engines while double round() is
    // not guaranteed to be.
    // ---- int8 scalar-quantization reconstruction error ----------------
    // Per-dimension scale = max|x| over the corpus (max is order-
    // independent — no decimal detour needed), broadcast back as one
    // 64-element array; quantize q = floor(x·127/s + 0.5), report the
    // top-20 vectors by reconstruction MSE. The error folds are
    // row-local sequential aggregates in array order — deterministic in
    // both engines (q42's distance-fold precedent). Scale shape: one
    // corpus pass for the 64-row max aggregate, one map-side pass for
    // the per-vector errors, top-k via rank-limit pushdown. The 1e-12
    // floor guards an all-zero dimension (division by zero → NaN).
    Qry(
      "q165_embed_quantize",
      s"""WITH $eCte,
         |s AS (SELECT i, GREATEST(MAX(abs(v[i + 1])), 1e-12) AS s
         |      FROM e, range($Dim) t(i) GROUP BY 1),
         |sv AS (SELECT list(s ORDER BY i) AS sv FROM s),
         |err AS (SELECT vec_id, label,
         |    list_transform(range($Dim), i ->
         |      v[i + 1] - floor(v[i + 1] * 127 / sv[i + 1] + 0.5e0)
         |        * sv[i + 1] / 127) AS errs
         |  FROM e CROSS JOIN sv),
         |m AS (SELECT vec_id, label,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(errs, x -> x * x)),
         |      (acc, x) -> acc + x) / $Dim AS mse,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(errs, x -> abs(x))),
         |      (acc, x) -> GREATEST(acc, x)) AS max_err
         |  FROM err)
         |SELECT rn, vec_id, label, mse, max_err
         |FROM (SELECT *, row_number() OVER (ORDER BY mse DESC, vec_id)
         |        AS rn FROM m)
         |WHERE rn <= $TopK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", $"label", Vectors.toDouble($"embedding").as("v"))
      val sv = e.select(posexplode($"v").as(Seq("i", "x")))
        .groupBy($"i").agg(greatest(max(abs($"x")), lit(1e-12)).as("s"))
        .agg(expr("transform(array_sort(collect_list(struct(i, s)))," +
          " p -> p.s)").as("sv"))
      e.crossJoin(broadcast(sv))
        .withColumn("errs", expr(
          s"""transform(sequence(0, ${Dim - 1}), i ->
             |  v[i] - floor(v[i] * 127D / sv[i] + 0.5D)
             |    * sv[i] / 127D)""".stripMargin))
        .select($"vec_id", $"label",
          (expr("aggregate(transform(errs, x -> x * x)," +
            " cast(0.0 as double), (acc, x) -> acc + x)") / Dim).as("mse"),
          expr("aggregate(transform(errs, x -> abs(x))," +
            " cast(0.0 as double), (acc, x) -> greatest(acc, x))")
            .as("max_err"))
        .withColumn("rn", row_number().over(
          Window.orderBy($"mse".desc, $"vec_id")))
        .filter($"rn" <= TopK)
        .select($"rn", $"vec_id", $"label", $"mse", $"max_err")
    },

    // Per-label centroid similarity (q166): label×label cosine matrix
    // of class centroids — the clustering-sanity audit (which classes
    // are semantically adjacent). Centroids are exact: per-dimension
    // decimal-accumulated means, then row-local double cosine.
    // ---- label-centroid cosine matrix ---------------------------------
    // Per-label centroids via per-dimension decimal-accumulated means
    // (posexplode → (label, dim) davg — order-independent, partial-
    // aggregable); the |labels|×Dim result re-assembles into arrays and
    // the pairwise cosine over label_a < label_b is row-local double
    // folds on a |labels|²-row frame. Scale shape: the only corpus-sized
    // stage is the explode + partial aggregate (shuffles |labels|·Dim·
    // partitions rows, not the corpus); everything after is
    // centroid-table-sized. At 100 TB this is the per-class semantic
    // audit a labeling pipeline ships with every release.
    Qry(
      "q166_centroid_sim",
      s"""WITH $eCte,
         |ce AS (SELECT label, i, ${davgSql("v[i + 1]")} AS c
         |       FROM e, range($Dim) t(i) GROUP BY 1, 2),
         |cv AS (SELECT label, list(c ORDER BY i) AS cv
         |       FROM ce GROUP BY 1),
         |p AS (SELECT a.label AS label_a, b.label AS label_b,
         |    list_dot_product(a.cv, b.cv)
         |      / (sqrt(list_dot_product(a.cv, a.cv))
         |        * sqrt(list_dot_product(b.cv, b.cv))) AS cosine
         |  FROM cv a JOIN cv b ON a.label < b.label)
         |SELECT label_a, label_b, cosine FROM p""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      // staged: both sides of the pair self-join read ONE materialized
      // |labels|-row centroid table — without it the static plan runs
      // the corpus explode+aggregate twice (one full extra pass at scale)
      val cv = graft.operators.Staging.stage(
        Tables(spark, dir).embeddings
          .select($"label", posexplode(Vectors.toDouble($"embedding"))
            .as(Seq("i", "x")))
          .groupBy($"label", $"i").agg(davg($"x").as("c"))
          .groupBy($"label")
          .agg(expr("transform(array_sort(collect_list(struct(i, c)))," +
            " p -> p.c)").as("cv")),
        eager = false)
      val a = cv.select($"label".as("label_a"), $"cv".as("va"))
      val b = cv.select($"label".as("label_b"), $"cv".as("vb"))
      a.join(b, $"label_a" < $"label_b")
        .select($"label_a", $"label_b",
          (Vectors.dot($"va", $"vb")
            / (Vectors.norm($"va") * Vectors.norm($"vb"))).as("cosine"))
    },

    // Embedding delta-decontamination — the q156 asymmetry applied to the
    // SRP-LSH vector path (q77's banding): the incoming batch's band
    // buckets BROADCAST against the staged corpus band index, exact cosine
    // runs on candidates only, and the corpus never self-joins. At 100 TB
    // the candidate stage is bounded by |delta| x bands x bucket-width —
    // the corpus contributes one stored band index scan, no corpus x corpus
    // product anywhere (PlanSpec pins the broadcast shape).
    // ---- embedding delta-decontamination (SRP band probe) --------------
    Qry(
      "q196_embed_delta_decontam", {
        val bandSelects = (0 until EBands).map { b =>
          val bits = (0 until EPlanes).map { p =>
            s"CASE WHEN ${planeSqlFor(b * EPlanes + p)} > 0 " +
              s"THEN ${1L << p} ELSE 0 END"
          }.mkString("\n      + ")
          s"SELECT vec_id, $b AS b, CAST($bits AS BIGINT) AS bk FROM e"
        }.mkString("\nUNION ALL\n")
        s"""WITH e AS (SELECT vec_id, label,
           |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |n AS (SELECT vec_id, label, v,
           |    sqrt(list_dot_product(v, v)) AS nr FROM e),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT d.vec_id AS di, c.vec_id AS ci
           |  FROM (SELECT * FROM bands WHERE vec_id % $EMod = $ERem) d
           |  JOIN (SELECT * FROM bands WHERE vec_id % $EMod <> $ERem) c
           |    ON d.b = c.b AND d.bk = c.bk),
           |hit AS (SELECT DISTINCT di FROM cand
           |  JOIN n nd ON di = nd.vec_id
           |  JOIN n nc ON ci = nc.vec_id
           |  WHERE list_dot_product(nd.v, nc.v) / (nd.nr * nc.nr)
           |    > $ETau)
           |SELECT vec_id, label,
           |  CASE WHEN hit.di IS NULL THEN 0 ELSE 1 END AS is_dup
           |FROM n LEFT JOIN hit ON n.vec_id = hit.di
           |WHERE vec_id % $EMod = $ERem""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val n = Tables(spark, dir).embeddings
        .select($"vec_id", $"label", Vectors.toDouble($"embedding").as("v"))
        .withColumn("nr", Vectors.norm($"v"))
      val isDelta = $"vec_id" % EMod === ERem
      def banded(df: DataFrame, idAs: String) = df.select(
        col("vec_id").as(idAs),
        explode(array((0 until EBands).map { b =>
          struct(lit(b).as("b"),
            Vectors.srpBandBucket(col("v"), b, EPlanes).as("bk"))
        }: _*)).as("band"))
        .select(col(idAs), col("band.b"), col("band.bk"))
      // corpus band index: at production a STORED table maintained by
      // ingestion — it streams through the probe join once; the delta's
      // bands are the small side and BROADCAST (PlanSpec pins this
      // shape), so the candidate set is bounded by
      // |delta| x bands x bucket-width with no corpus self-join.
      val corpB = banded(n.filter(!isDelta), "ci")
        .withColumnRenamed("b", "cb").withColumnRenamed("bk", "cbk")
      val deltaB = banded(n.filter(isDelta), "di")
      val cand = corpB.join(broadcast(deltaB),
          $"cb" === $"b" && $"cbk" === $"bk")
        .select($"di", $"ci").distinct()
      // exact cosine on CANDIDATES ONLY — the verify stage touches
      // |cand| pairs, never |delta| x |corpus|
      val hit = cand
        .join(n.filter(isDelta)
          .select($"vec_id".as("dv_id"), $"v".as("dv"), $"nr".as("dnr")),
          $"di" === $"dv_id")
        .join(n.filter(!isDelta)
          .select($"vec_id".as("cv_id"), $"v".as("cv"), $"nr".as("cnr")),
          $"ci" === $"cv_id")
        .filter(Vectors.cosine(
          Vectors.dot($"dv", $"cv"), $"dnr", $"cnr") > ETau)
        .select($"di").distinct()
      n.filter(isDelta)
        .join(broadcast(hit), $"vec_id" === $"di", "left_outer")
        .select($"vec_id", $"label",
          when($"di".isNotNull, 1).otherwise(0).as("is_dup"))
    },

    // IVF blocking-quality audit — q179's precision/recall discipline
    // applied to the vector path. For each query vector, the IVF-restricted
    // top-k (q63's geometry: nearest-centroid cluster as the only probed
    // cell) is compared against the exact brute-force top-k (q41), yielding
    // recall@k plus the candidate count the probe actually scanned — the
    // (recall, scanned) operating point a 100 TB ANN deployment measures on
    // a sample before committing nlist/nprobe. One STAGED assigned-vector
    // leaf feeds both rankings (the exact-truth side is the cost and is the
    // point of the audit); the query set broadcasts to both.
    Qry(
      "q240_ivf_recall",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |d AS (SELECT vec_id, cid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
         |n AS (SELECT e.vec_id, a.cid, v, sqrt(list_dot_product(v, v)) AS nr
         |      FROM e JOIN assign a ON e.vec_id = a.vec_id),
         |q AS (SELECT vec_id AS qid, cid AS qcid, v AS qv, nr AS qnr
         |      FROM n WHERE vec_id < 10),
         |truth AS (SELECT qid, vec_id FROM (
         |    SELECT qid, n.vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_dot_product(qv, v) / (qnr * nr) DESC,
         |          n.vec_id) AS rn
         |    FROM n, q WHERE n.vec_id <> qid) WHERE rn <= $K),
         |ivf AS (SELECT qid, vec_id FROM (
         |    SELECT qid, n.vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_dot_product(qv, v) / (qnr * nr) DESC,
         |          n.vec_id) AS rn
         |    FROM n JOIN q ON n.cid = q.qcid AND n.vec_id <> q.qid)
         |  WHERE rn <= $K),
         |sz AS (SELECT cid, COUNT(*) AS cn FROM n GROUP BY 1)
         |SELECT q.qid, CAST(sz.cn - 1 AS BIGINT) AS n_cand,
         |  CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
         |  1000000 * COUNT(i.vec_id) // $K AS recall_ppm
         |FROM q JOIN sz ON q.qcid = sz.cid
         |  JOIN truth t ON t.qid = q.qid
         |  LEFT JOIN ivf i ON i.qid = t.qid AND i.vec_id = t.vec_id
         |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
      val c = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
      val assign = e.crossJoin(broadcast(c))
        .select($"vec_id", $"cid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1).select($"vec_id".as("aid"), $"cid")
      // ONE staged leaf: vectors + norms + IVF assignment; the truth
      // and IVF rankings both read it (without staging, the static
      // plan re-runs the assignment cross-join per side)
      val n = Staging.stage(e.join(assign, $"vec_id" === $"aid")
        .select($"vec_id", $"cid", $"v", Vectors.norm($"v").as("nr")),
        eager = false)
      val q = n.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"cid".as("qcid"),
          $"v".as("qv"), $"nr".as("qnr"))
      val wRank = Window.partitionBy($"qid")
        .orderBy($"cosine".desc, $"vec_id")
      def topK(cand: org.apache.spark.sql.DataFrame) = cand
        .select($"qid",
          Vectors.cosine(Vectors.dot($"qv", $"v"), $"qnr", $"nr")
            .as("cosine"),
          $"vec_id")
        .withColumn("rn", row_number().over(wRank))
        .filter($"rn" <= K)
        .select($"qid", $"vec_id")
      val truth = topK(n.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"qid"))
      val ivf = topK(n.join(broadcast(q),
          $"cid" === $"qcid" && $"vec_id" =!= $"qid"))
        .select($"qid".as("iqid"), $"vec_id".as("ivid"))
      val sz = n.groupBy($"cid").agg(count(lit(1)).as("cn"))
      truth
        .join(ivf, $"qid" === $"iqid" && $"vec_id" === $"ivid",
          "left_outer")
        .groupBy($"qid")
        .agg(count($"ivid").as("n_hit"))
        .join(broadcast(q.select($"qid".as("q2"), $"qcid")),
          $"qid" === $"q2")
        .join(broadcast(sz), $"qcid" === $"cid")
        .select($"qid", ($"cn" - 1).cast("long").as("n_cand"),
          $"n_hit".cast("long").as("n_hit"),
          expr(s"1000000 * n_hit DIV $K").as("recall_ppm"))
    },

    // K-means Lloyd step — the centroid TRAINING pass the IVF
    // family (q42/q63/q240) consumes fixed centroids from: assign every
    // vector to its nearest current centroid (q42's shape), then
    // recompute each centroid dimension as the decimal-exact member
    // mean. One broadcast of the 8-centroid table, one corpus-sized
    // posexplode + partial aggregate; output is the new centroid matrix
    // as (cid, dim, n, c) rows — 8 x 64, never an array column.
    // ---- k-means Lloyd step ----------------------------------------------
    Qry(
      "q246_kmeans_step",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |      WHERE vec_id < $NCentroids),
         |d AS (SELECT vec_id, cid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
         |m AS (SELECT a.cid, e.v FROM e
         |      JOIN assign a ON e.vec_id = a.vec_id)
         |SELECT cid, i, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${davgSql("v[i + 1]")} AS c
         |FROM m, range($Dim) t(i) GROUP BY 1, 2""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
      val c = e.filter($"vec_id" < NCentroids)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"vec_id").orderBy($"d2", $"cid")
      val assign = e.crossJoin(broadcast(c))
        .select($"vec_id", $"cid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).select($"vec_id".as("aid"), $"cid")
      e.join(assign, $"vec_id" === $"aid")
        .select($"cid", posexplode($"v").as(Seq("i", "x")))
        .groupBy($"cid", $"i")
        .agg(count(one).as("n"), davg($"x").as("c"))
        .select($"cid", $"i".cast(LongType).as("i"), $"n", $"c")
    },

    // LSH banding advisor over the corpus's REAL pair distribution — not
    // the textbook S-curve over hypothetical J values: every df-capped
    // shared-shingle pair's EXACT Jaccard (in integer ppm, from the same
    // shared/n_a/n_b integers the dedup family computes) is pushed through
    // the collision probability 1-(1-j^r)^b for each (bands, rows) split of
    // K=16, with the powers computed as integer-ppm folds (floor at each
    // multiply — exact on both engines, where pow's libm is not). The
    // output is the table a deployment reads to pick banding: expected
    // catch rate per config over the pairs that actually exist.
    // ---- LSH banding advisor over the real pair distribution -------------
    Qry(
      "q247_lsh_advisor", {
        val grid = Grid.map { case (b, r) => s"($b, $r)" }.mkString(", ")
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
           |pairs AS (
           |  SELECT 1000000 * COUNT(*)
           |      // (sa.n + sb.n - COUNT(*)) AS j_ppm
           |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
           |    JOIN sizes sa ON a.doc_id = sa.doc_id
           |    JOIN sizes sb ON b.doc_id = sb.doc_id
           |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
           |  HAVING 10 * COUNT(*) >= $MinJx10
           |    * (sa.n + sb.n - COUNT(*))),
           |grid(b, r) AS (VALUES $grid),
           |coll AS (SELECT b, r, j_ppm,
           |    1000000 - list_reduce(
           |      list_prepend(CAST(1000000 AS BIGINT),
           |        list_transform(range(b), x -> CAST(0 AS BIGINT))),
           |      (acc, x) -> acc * (1000000 - list_reduce(
           |        list_prepend(CAST(1000000 AS BIGINT),
           |          list_transform(range(r), y -> CAST(0 AS BIGINT))),
           |        (a2, y) -> a2 * j_ppm // 1000000)) // 1000000)
           |      AS collide_ppm
           |  FROM pairs, grid)
           |SELECT b AS bands, r AS rows_per_band,
           |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(collide_ppm) // COUNT(*) AS BIGINT)
           |    AS exp_catch_ppm
           |FROM coll GROUP BY 1, 2""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // exact integer Jaccard in ppm, straight from the dedup family's
      // shared/n_a/n_b integers (the double jaccard is never used)
      val pairs = Dedup.jaccardPairs(
        Dedup.shingleHashes(Tables(spark, dir).documents,
          "doc_id", "text"), "doc_id")
        .filter(lit(10) * $"shared" >= lit(MinJx10) *
          ($"n_a" + $"n_b" - $"shared"))
        .select(expr("1000000 * shared DIV (n_a + n_b - shared)")
          .as("j_ppm"))
      val grid = Grid.toDF("b", "r")
      // collision probability 1-(1-j^r)^b as nested integer-ppm folds:
      // floor after every multiply — identical on both engines, where
      // pow()'s libm rounding is not (the q232 lesson)
      val collide = expr(
        """1000000 - aggregate(sequence(1, b), CAST(1000000 AS BIGINT),
          |  (acc, x) -> acc * (1000000 - aggregate(
          |    sequence(1, r), CAST(1000000 AS BIGINT),
          |    (a2, y) -> a2 * j_ppm DIV 1000000)) DIV 1000000)"""
          .stripMargin)
      pairs.crossJoin(broadcast(grid))
        .select($"b", $"r", collide.as("collide_ppm"))
        .groupBy($"b", $"r")
        .agg(count(one).as("n_pairs"),
          expr("SUM(collide_ppm) DIV COUNT(*)").as("exp_catch_ppm"))
        .select($"b".as("bands"), $"r".as("rows_per_band"),
          $"n_pairs", $"exp_catch_ppm")
    },

    // Multi-probe IVF — nprobe is the recall/cost knob every IVF
    // deployment tunes, and q240 built the measurement harness for
    // exactly one probed cell. Here each query probes its nprobe ∈
    // {1,2,3} NEAREST centroids and the audit reports the full
    // (recall@k, candidates-scanned) operating CURVE per query — the
    // evidence an operator needs before committing nlist/nprobe at
    // 100 TB. Scale shape: q240's exactly — ONE staged assigned-vector
    // leaf feeds the exact-truth ranking, the candidate scan, and the
    // scan-cost count; the per-query centroid ranking (10×8 rows) and
    // the 3-row nprobe grid ride as broadcasts, so adding the knob
    // adds zero corpus-sized shuffles.
    // ---- multi-probe IVF: the (recall, scanned) curve per nprobe --------
    Qry(
      "q257_ivf_multiprobe",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |d AS (SELECT vec_id, cid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
         |n AS (SELECT e.vec_id, a.cid, v, sqrt(list_dot_product(v, v)) AS nr
         |      FROM e JOIN assign a ON e.vec_id = a.vec_id),
         |q AS (SELECT vec_id AS qid, v AS qv, nr AS qnr
         |      FROM n WHERE vec_id < 10),
         |qr AS (SELECT qid, cid, crank, qv, qnr FROM (
         |    SELECT qid, cid, qv, qnr, row_number() OVER (
         |        PARTITION BY qid ORDER BY
         |        list_reduce(list_prepend(0.0e0,
         |          list_transform(range(len(qv)),
         |            i -> (qv[i+1] - cv[i+1]) * (qv[i+1] - cv[i+1]))),
         |          (acc, x) -> acc + x), cid) AS crank
         |    FROM q, c) WHERE crank <= ${NProbes.max}),
         |probes AS (SELECT unnest([${NProbes.mkString(", ")}]) AS nprobe),
         |truth AS (SELECT qid, vec_id FROM (
         |    SELECT qid, n.vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_dot_product(qv, v) / (qnr * nr) DESC,
         |          n.vec_id) AS rn
         |    FROM n, q WHERE n.vec_id <> qid) WHERE rn <= $K),
         |cand AS (SELECT qr.qid, qr.crank, n.vec_id,
         |    list_dot_product(qr.qv, n.v) / (qr.qnr * n.nr) AS cosine
         |  FROM n JOIN qr ON n.cid = qr.cid
         |  WHERE n.vec_id <> qr.qid),
         |ivf AS (SELECT nprobe, qid, vec_id FROM (
         |    SELECT p.nprobe, cd.qid, cd.vec_id,
         |      row_number() OVER (PARTITION BY p.nprobe, cd.qid
         |        ORDER BY cd.cosine DESC, cd.vec_id) AS rn
         |    FROM cand cd JOIN probes p ON cd.crank <= p.nprobe)
         |  WHERE rn <= $K),
         |sz AS (SELECT cd.qid, p.nprobe, CAST(COUNT(*) AS BIGINT) AS n_cand
         |  FROM cand cd JOIN probes p ON cd.crank <= p.nprobe
         |  GROUP BY 1, 2)
         |SELECT t.qid, CAST(p.nprobe AS INT) AS nprobe, sz.n_cand,
         |  CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
         |  1000000 * COUNT(i.vec_id) // $K AS recall_ppm
         |FROM truth t CROSS JOIN probes p
         |  JOIN sz ON sz.qid = t.qid AND sz.nprobe = p.nprobe
         |  LEFT JOIN ivf i ON i.qid = t.qid AND i.nprobe = p.nprobe
         |    AND i.vec_id = t.vec_id
         |GROUP BY 1, 2, 3""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
      val c = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
      val assign = e.crossJoin(broadcast(c))
        .select($"vec_id", $"cid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1).select($"vec_id".as("aid"), $"cid")
      // ONE staged leaf (q240's): vectors + norms + IVF assignment —
      // truth, candidate scan and scan-cost count all read it
      val n = Staging.stage(e.join(assign, $"vec_id" === $"aid")
        .select($"vec_id", $"cid", $"v", Vectors.norm($"v").as("nr")),
        eager = false)
      val q = n.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nr".as("qnr"))
      // per-query centroid RANKING (the multi-probe order): 10x8 rows,
      // rank-limited to the largest nprobe, rides as a broadcast
      val wCrank = Window.partitionBy($"qid").orderBy($"d2", $"qr_cid")
      val qr = q.crossJoin(broadcast(c))
        .select($"qid", $"cid".as("qr_cid"), $"qv", $"qnr",
          Vectors.distSq($"qv", $"cv").as("d2"))
        .withColumn("crank", row_number().over(wCrank))
        .filter($"crank" <= NProbes.max)
        .select($"qid", $"qr_cid", $"crank", $"qv", $"qnr")
      val probes = NProbes.toDF("nprobe")
      val wRank = Window.partitionBy($"qid")
        .orderBy($"cosine".desc, $"vec_id")
      val truth = n.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"qid")
        .select($"qid",
          Vectors.cosine(Vectors.dot($"qv", $"v"), $"qnr", $"nr")
            .as("cosine"),
          $"vec_id")
        .withColumn("rn", row_number().over(wRank))
        .filter($"rn" <= K)
        .select($"qid", $"vec_id")
      val cand = n.join(broadcast(qr),
          $"cid" === $"qr_cid" && $"vec_id" =!= $"qid")
        .select($"qid", $"crank", $"vec_id",
          Vectors.cosine(Vectors.dot($"qv", $"v"), $"qnr", $"nr")
            .as("cosine"))
      // the 3-row nprobe grid joins on crank <= nprobe — a broadcast
      // NLJ of a provably tiny side (the q247 grid pattern)
      val wIvf = Window.partitionBy($"nprobe", $"qid")
        .orderBy($"cosine".desc, $"vec_id")
      val ivf = cand.join(broadcast(probes), $"crank" <= $"nprobe")
        .withColumn("rn", row_number().over(wIvf))
        .filter($"rn" <= K)
        .select($"nprobe".as("i_np"), $"qid".as("i_qid"),
          $"vec_id".as("i_vid"))
      val sz = cand.join(broadcast(probes), $"crank" <= $"nprobe")
        .groupBy($"qid".as("s_qid"), $"nprobe".as("s_np"))
        .agg(count(lit(1)).as("n_cand"))
      truth.crossJoin(broadcast(probes))
        .join(ivf, $"qid" === $"i_qid" && $"nprobe" === $"i_np" &&
          $"vec_id" === $"i_vid", "left_outer")
        .groupBy($"qid", $"nprobe")
        .agg(count($"i_vid").as("n_hit"))
        .join(broadcast(sz), $"qid" === $"s_qid" && $"nprobe" === $"s_np")
        .select($"qid", $"nprobe", $"n_cand".cast(LongType).as("n_cand"),
          $"n_hit".cast(LongType).as("n_hit"),
          expr(s"1000000 * n_hit DIV $K").as("recall_ppm"))
    },

    // PQ/ADC similarity scan — the compression rung below q165's
    // int8 scalar quantization: split Dim=64 into M=4 subspaces,
    // codebook each subspace (first-K-subvectors seeds, the
    // q240/q246 convention), encode every vector as M one-byte codes
    // (64x smaller than float32), then answer top-k by ASYMMETRIC
    // distance: the query precomputes one M x K lookup table of exact
    // subspace distances and every stored vector's distance is M table
    // lookups summed — no float vector is ever touched at scan time.
    // Output is q240's audit row (recall@k vs the exact brute-force
    // truth, per query) so the (recall, bytes) trade-off is measured,
    // not assumed. Scale shape: codes are ONE corpus-sized
    // encode pass against a 16-row broadcast codebook; the scan is a
    // map-side fold over a 10-row broadcast LUT table; truth (the
    // audit's cost, as in q240) is the only full-vector pass.
    // ---- product quantization + asymmetric-distance scan ----------------
    Qry(
      "q260_pq_adc",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |cb AS (SELECT m, vec_id AS cid,
         |    v[m * $SubDim + 1 : m * $SubDim + $SubDim] AS csub
         |  FROM e, range($M) t(m) WHERE vec_id < $PqCodebookK),
         |enc AS (SELECT vec_id, m, cid AS code FROM (
         |    SELECT e.vec_id, cb.m, cb.cid, row_number() OVER (
         |        PARTITION BY e.vec_id, cb.m ORDER BY
         |          list_reduce(list_prepend(0.0e0,
         |            list_transform(range($SubDim), i ->
         |              (v[m * $SubDim + i + 1] - csub[i + 1])
         |                * (v[m * $SubDim + i + 1] - csub[i + 1]))),
         |            (acc, x) -> acc + x), cb.cid) AS rn
         |    FROM e, cb) WHERE rn = 1),
         |codes AS (SELECT vec_id, list(code ORDER BY m) AS codes
         |          FROM enc GROUP BY 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $Q),
         |lutr AS (SELECT qid, m, cid,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(range($SubDim), i ->
         |        (qv[m * $SubDim + i + 1] - csub[i + 1])
         |          * (qv[m * $SubDim + i + 1] - csub[i + 1]))),
         |      (acc, x) -> acc + x) AS qd2
         |  FROM q, cb),
         |lut AS (SELECT qid, list(qd2 ORDER BY m, cid) AS lut
         |        FROM lutr GROUP BY 1),
         |pq AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_reduce(list_prepend(0.0e0,
         |          list_transform(range($M), m ->
         |            lut[m * $PqCodebookK + codes[m + 1] + 1])),
         |          (acc, x) -> acc + x), vec_id) AS rn
         |    FROM codes, lut WHERE vec_id <> qid) WHERE rn <= $PqTopK),
         |truth AS (SELECT qid, vec_id FROM (
         |    SELECT qid, e.vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_reduce(list_prepend(0.0e0,
         |          list_transform(range($Dim), i ->
         |            (v[i + 1] - qv[i + 1]) * (v[i + 1] - qv[i + 1]))),
         |          (acc, x) -> acc + x), e.vec_id) AS rn
         |    FROM e, q WHERE e.vec_id <> qid) WHERE rn <= $PqTopK)
         |SELECT q.qid, CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
         |  1000000 * COUNT(i.vec_id) // $PqTopK AS recall_ppm
         |FROM q LEFT JOIN (
         |    SELECT t.qid, t.vec_id FROM truth t
         |    JOIN pq p ON t.qid = p.qid AND t.vec_id = p.vec_id) i
         |  ON q.qid = i.qid
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // one staged leaf feeds the encode pass, the query set, and the
      // exact-truth side (the q240 discipline)
      val e = Staging.stage(Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v")),
        eager = false)
      // 16-row codebook: subspace m of seed vector cid
      val cb = e.filter($"vec_id" < PqCodebookK)
        .select($"vec_id".as("cid"),
          explode(sequence(lit(0), lit(M - 1))).as("m"), $"v")
        .select($"m", $"cid",
          slice($"v", $"m" * SubDim + 1, lit(SubDim)).as("csub"))
      // encode: nearest codebook entry per (vector, subspace) — the
      // corpus-sized pass; broadcast codebook, no shuffle until the rank
      val wEnc = Window.partitionBy($"vec_id", $"m").orderBy($"d2", $"cid")
      val codes = e.crossJoin(broadcast(cb))
        .select($"vec_id", $"m", $"cid",
          Vectors.distSq(slice($"v", $"m" * SubDim + 1, lit(SubDim)),
            $"csub").as("d2"))
        .withColumn("rn", row_number().over(wEnc))
        .filter($"rn" === 1)
        .groupBy($"vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(m, cid)))," +
          " p -> p.cid)").as("codes"))
      val q = e.filter($"vec_id" < Q).select($"vec_id".as("qid"),
        $"v".as("qv"))
      // per-query LUT: exact subspace distance to every codebook entry,
      // flattened in (m, cid) order so lut[m*K + code] is the lookup
      val lut = q.crossJoin(broadcast(cb))
        .select($"qid", $"m", $"cid",
          Vectors.distSq(slice($"qv", $"m" * SubDim + 1, lit(SubDim)),
            $"csub").as("qd2"))
        .groupBy($"qid")
        .agg(expr("transform(array_sort(collect_list(struct(m, cid, qd2)))," +
          " p -> p.qd2)").as("lut"))
      // ADC scan: M lookups per stored vector, sequential fold over m —
      // deterministic, and the only per-vector state is the M-byte code
      val wScan = Window.partitionBy($"qid").orderBy($"adc", $"vec_id")
      val pq = codes.crossJoin(broadcast(lut))
        .filter($"vec_id" =!= $"qid")
        .withColumn("adc", expr(
          s"""aggregate(sequence(0, ${M - 1}), cast(0.0 as double),
             |  (acc, m) -> acc + lut[m * $PqCodebookK + codes[m]])""".stripMargin))
        .withColumn("rn", row_number().over(wScan))
        .filter($"rn" <= PqTopK).select($"qid".as("pqid"),
          $"vec_id".as("pvid"))
      val wTruth = Window.partitionBy($"qid").orderBy($"d2", $"vec_id")
      val truth = e.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", Vectors.distSq($"v", $"qv").as("d2"))
        .withColumn("rn", row_number().over(wTruth))
        .filter($"rn" <= PqTopK)
      val hits = truth.join(pq,
        $"qid" === $"pqid" && $"vec_id" === $"pvid")
        .select($"qid".as("hqid"), $"vec_id".as("hvid"))
      q.join(hits, $"qid" === $"hqid", "left")
        .groupBy($"qid")
        .agg(count($"hvid").as("n_hit"),
          (lit(1000000L) * count($"hvid") / PqTopK).cast(LongType)
            .as("recall_ppm"))
    },

    // IVF-PQ — the production ANN layout (coarse quantizer restricts the
    // scan to nprobe=2 cells, product-quantized codes answer distances
    // inside them): q257's multi-probe cell restriction composed with
    // q260's asymmetric-distance scan, so scan cost is (cell fraction) x (M
    // lookups per candidate) and the float vectors are touched only by the
    // audit's exact-truth side. Output is the operating point per query
    // (candidates scanned, recall@3 vs brute-force L2 truth). Scale shape:
    // the encode pass and the cell assignment are the two corpus-sized
    // stages (both against broadcast tables, partial-aggregated); the scan
    // reads M-byte codes for ~2/8 of the corpus; LUTs, centroid rankings
    // and the query set all ride as broadcasts.
    // ---- IVF-PQ: coarse cells + PQ codes -----------------------------------
    Qry(
      "q270_ivfpq",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS ccid, v AS cv FROM e
         |      WHERE vec_id < $NCells),
         |d AS (SELECT vec_id, ccid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c),
         |assign AS (SELECT vec_id, ccid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, ccid) AS rn FROM d) WHERE rn = 1),
         |cb AS (SELECT m, vec_id AS cid,
         |    v[m * $SubDim + 1 : m * $SubDim + $SubDim] AS csub
         |  FROM e, range($M) t(m) WHERE vec_id < $Kc),
         |enc AS (SELECT vec_id, m, cid AS code FROM (
         |    SELECT e.vec_id, cb.m, cb.cid, row_number() OVER (
         |        PARTITION BY e.vec_id, cb.m ORDER BY
         |          list_reduce(list_prepend(0.0e0,
         |            list_transform(range($SubDim), i ->
         |              (v[m * $SubDim + i + 1] - csub[i + 1])
         |                * (v[m * $SubDim + i + 1] - csub[i + 1]))),
         |            (acc, x) -> acc + x), cb.cid) AS rn
         |    FROM e, cb) WHERE rn = 1),
         |codes AS (SELECT n.vec_id, n.ccid, list(code ORDER BY m) AS codes
         |  FROM enc JOIN assign n ON enc.vec_id = n.vec_id
         |  GROUP BY 1, 2),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $Q),
         |qr AS (SELECT qid, ccid FROM (
         |    SELECT qid, ccid, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_reduce(list_prepend(0.0e0,
         |          list_transform(range($Dim), i ->
         |            (qv[i+1] - cv[i+1]) * (qv[i+1] - cv[i+1]))),
         |          (acc, x) -> acc + x), ccid) AS crank
         |    FROM q, c) WHERE crank <= $NProbe),
         |lutr AS (SELECT qid, m, cid,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(range($SubDim), i ->
         |        (qv[m * $SubDim + i + 1] - csub[i + 1])
         |          * (qv[m * $SubDim + i + 1] - csub[i + 1]))),
         |      (acc, x) -> acc + x) AS qd2
         |  FROM q, cb),
         |lut AS (SELECT qid, list(qd2 ORDER BY m, cid) AS lut
         |        FROM lutr GROUP BY 1),
         |cand AS (SELECT qr.qid, codes.vec_id,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(range($M), m ->
         |        lut[m * $Kc + codes[m + 1] + 1])),
         |      (acc, x) -> acc + x) AS adc
         |  FROM codes JOIN qr ON codes.ccid = qr.ccid
         |    JOIN lut ON lut.qid = qr.qid
         |  WHERE codes.vec_id <> qr.qid),
         |pq AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY adc, vec_id) AS rn FROM cand)
         |  WHERE rn <= $IvfPqTopK),
         |sz AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
         |       FROM cand GROUP BY 1),
         |truth AS (SELECT qid, vec_id FROM (
         |    SELECT qid, e.vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_reduce(list_prepend(0.0e0,
         |          list_transform(range($Dim), i ->
         |            (v[i + 1] - qv[i + 1]) * (v[i + 1] - qv[i + 1]))),
         |          (acc, x) -> acc + x), e.vec_id) AS rn
         |    FROM e, q WHERE e.vec_id <> qid) WHERE rn <= $IvfPqTopK)
         |SELECT q.qid, sz.n_cand,
         |  CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
         |  1000000 * COUNT(i.vec_id) // $IvfPqTopK AS recall_ppm
         |FROM q JOIN sz ON q.qid = sz.qid
         |  LEFT JOIN (SELECT t.qid, t.vec_id FROM truth t
         |    JOIN pq p ON t.qid = p.qid AND t.vec_id = p.vec_id) i
         |  ON q.qid = i.qid
         |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Staging.stage(Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v")),
        eager = false)
      val c = e.filter($"vec_id" < NCells)
        .select($"vec_id".as("ccid"), $"v".as("cv"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d2", $"ccid")
      val assign = e.crossJoin(broadcast(c))
        .select($"vec_id", $"ccid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1).select($"vec_id".as("aid"), $"ccid")
      val cb = e.filter($"vec_id" < Kc)
        .select($"vec_id".as("cid"),
          explode(sequence(lit(0), lit(M - 1))).as("m"), $"v")
        .select($"m", $"cid",
          slice($"v", $"m" * SubDim + 1, lit(SubDim)).as("csub"))
      val wEnc = Window.partitionBy($"vec_id", $"m").orderBy($"d2", $"cid")
      // codes carry their cell: the inverted-list layout (ccid, codes)
      // is all the scan ever reads
      val codes = e.crossJoin(broadcast(cb))
        .select($"vec_id", $"m", $"cid",
          Vectors.distSq(slice($"v", $"m" * SubDim + 1, lit(SubDim)),
            $"csub").as("d2"))
        .withColumn("rn", row_number().over(wEnc))
        .filter($"rn" === 1)
        .groupBy($"vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(m, cid)))," +
          " p -> p.cid)").as("codes"))
        .join(assign, $"vec_id" === $"aid")
        .select($"vec_id", $"ccid", $"codes")
      val q = e.filter($"vec_id" < Q)
        .select($"vec_id".as("qid"), $"v".as("qv"))
      val wCrank = Window.partitionBy($"qid").orderBy($"d2", $"qc")
      val qr = q.crossJoin(broadcast(c))
        .select($"qid", $"ccid".as("qc"),
          Vectors.distSq($"qv", $"cv").as("d2"))
        .withColumn("crank", row_number().over(wCrank))
        .filter($"crank" <= NProbe).select($"qid".as("rqid"), $"qc")
      val lut = q.crossJoin(broadcast(cb))
        .select($"qid", $"m", $"cid",
          Vectors.distSq(slice($"qv", $"m" * SubDim + 1, lit(SubDim)),
            $"csub").as("qd2"))
        .groupBy($"qid")
        .agg(expr("transform(array_sort(collect_list(struct(m, cid, qd2)))," +
          " p -> p.qd2)").as("lut"))
        .withColumnRenamed("qid", "lqid")
      val cand = codes.join(broadcast(qr), $"ccid" === $"qc")
        .filter($"vec_id" =!= $"rqid")
        .join(broadcast(lut), $"rqid" === $"lqid")
        .withColumn("adc", expr(
          s"""aggregate(sequence(0, ${M - 1}), cast(0.0 as double),
             |  (acc, m) -> acc + lut[m * $Kc + codes[m]])""".stripMargin))
        .select($"rqid".as("qid"), $"vec_id", $"adc")
      val wScan = Window.partitionBy($"qid").orderBy($"adc", $"vec_id")
      val pq = cand.withColumn("rn", row_number().over(wScan))
        .filter($"rn" <= IvfPqTopK)
        .select($"qid".as("pqid"), $"vec_id".as("pvid"))
      val sz = cand.groupBy($"qid").agg(count(one).as("n_cand"))
        .withColumnRenamed("qid", "sqid")
      val wTruth = Window.partitionBy($"qid").orderBy($"d2", $"vec_id")
      val truth = e.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", Vectors.distSq($"v", $"qv").as("d2"))
        .withColumn("rn", row_number().over(wTruth))
        .filter($"rn" <= IvfPqTopK)
      val hits = truth.join(pq,
        $"qid" === $"pqid" && $"vec_id" === $"pvid")
        .select($"qid".as("hqid"), $"vec_id".as("hvid"))
      q.join(sz, $"qid" === $"sqid")
        .join(hits, $"qid" === $"hqid", "left")
        .groupBy($"qid", $"n_cand")
        .agg(count($"hvid").as("n_hit"),
          (lit(1000000L) * count($"hvid") / IvfPqTopK).cast(LongType)
            .as("recall_ppm"))
    },

    // Johnson-Lindenstrauss random projection — every vector
    // maps 64 -> 16 dims through the deterministic integer-Weyl
    // hyperplane matrix (q43's planes, kept real-valued instead of
    // sign-bucketed), then the audit measures pairwise distance
    // distortion over the first 20 vectors: ratio_ppm =
    // floor(1e6 · (proj_d2 · Dim) / (orig_d2 · ProjDim)), the
    // JL-normalized squared-distance ratio (1e6 = perfect isometry).
    // The projection is ONE map-side pass (ProjDim sequential dots),
    // the audit's pair table is 190 rows; at 100 TB the projected
    // corpus is 4x smaller and every downstream ANN distance costs
    // ProjDim/Dim of the original — measured, not assumed.
    // ---- JL projection + distortion audit ----------------------------------
    Qry(
      "q273_jl_projection", {
        // the hyperplane matrix, spelled once for both engines:
        // component i of plane j = ((j*64 + i)*2654435761 % 1000003)
        //   / 1000003 - 0.5  (Vectors.hyperplaneComponent)
        val projCols = (0 until ProjDim).map(j =>
          s"""list_reduce(list_prepend(0.0e0,
             |      list_transform(range($Dim), i -> v[i + 1] *
             |        ((($j * 64 + i) * 2654435761 % 1000003)
             |          / 1000003.0 - 0.5))),
             |      (acc, x) -> acc + x)""".stripMargin).mkString(",\n    ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |           FROM embeddings WHERE vec_id < $AuditN),
           |p AS (SELECT vec_id, [$projCols] AS pv, v FROM e)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  CAST(floor(1000000.0 *
           |    (list_reduce(list_prepend(0.0e0,
           |       list_transform(range($ProjDim), i ->
           |         (a.pv[i+1] - b.pv[i+1]) * (a.pv[i+1] - b.pv[i+1]))),
           |       (acc, x) -> acc + x) * $Dim)
           |    / (list_reduce(list_prepend(0.0e0,
           |       list_transform(range($Dim), i ->
           |         (a.v[i+1] - b.v[i+1]) * (a.v[i+1] - b.v[i+1]))),
           |       (acc, x) -> acc + x) * $ProjDim)) AS BIGINT)
           |    AS ratio_ppm
           |FROM p a JOIN p b ON a.vec_id < b.vec_id""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // the projection pass: ProjDim sequential dots against the
      // deterministic plane matrix — map-side only, corpus never
      // shuffles; the audit below reads just the first AuditN rows
      val p = Tables(spark, dir).embeddings
        .filter($"vec_id" < AuditN)
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
        .withColumn("pv", array((0 until ProjDim).map(j =>
          Vectors.dot($"v", Vectors.hyperplane(j, Dim))): _*))
      val a = p.select($"vec_id".as("id_a"), $"pv".as("pa"), $"v".as("va"))
      val b = p.select($"vec_id".as("id_b"), $"pv".as("pb"), $"v".as("vb"))
      a.join(b, $"id_a" < $"id_b")
        .select($"id_a", $"id_b",
          floor(lit(1000000.0) *
            (Vectors.distSq($"pa", $"pb") * Dim) /
            (Vectors.distSq($"va", $"vb") * ProjDim))
            .cast(LongType).as("ratio_ppm"))
    },

    // q270 encodes the raw vector x with PQ inside each coarse
    // cell; production IVFADC encodes the RESIDUAL r = x − c(cell)
    // instead, because residuals concentrate near the cell center so a
    // K-entry sub-codebook spends its resolution on a smaller ball.
    // Two upgrades over q270's geometry make the comparison the
    // production shape rather than a strawman:
    //   1. the coarse quantizer is TRAINED — one exact Lloyd round
    //      (q246's decimal-mean proof shape: per-component davg, one
    //      deterministic double division) moves the 8 seed centroids to
    //      their cell means before anything is encoded. Residuals
    //      w.r.t. arbitrary SAMPLE vectors are differences of random
    //      unit vectors (E‖x−s‖² = 2 > 1 = E‖x‖² on this corpus) and
    //      measurably LOSE to raw encoding; residuals w.r.t. MEANS are
    //      the layout FAISS actually ships.
    //   2. the PQ codebooks seed from vectors 8..11 — outside the
    //      centroid set, because a centroid's own residual is ~zero
    //      and an all-zero codebook collapses every code.
    // Both pipelines then share the identical trained assignment,
    // probe set (nprobe=2 of 8 cells) and code budget (M=4 codes from
    // Kc=4-entry codebooks); the residual LUT is per (query, probed
    // cell) — IVFADC's one extra cost (nprobe× more LUT rows, still
    // query-bounded). Output per query: candidates scanned, recall@3
    // of each layout vs brute-force truth, the signed delta, and the
    // corpus-wide residual/raw energy ratio in ppm — the mechanism
    // (E‖r‖² < E‖x‖²) measured in-engine, not assumed from the paper.
    // On this isotropic unit-norm synthetic corpus the energy ratio is
    // ~0.94 (real clustered embeddings sit far lower), so the recall
    // delta is modest but positive — and the gate pins it exactly.
    //
    // Scale shape (q270's, plus one trained round): corpus-sized
    // stages are the two assignment passes, the map-side residual
    // subtraction, and the PQ encode — all against broadcast
    // centroid/codebook tables; the Lloyd round is one partial-
    // aggregated (cell, dim) mean; the scan reads M-byte codes for
    // ~nprobe/NCells of the corpus; floats are touched only by the
    // audit's exact-truth side. Distances fold in the same ascending
    // order in both engines (Vectors.distSq / VecDot kernels), means
    // are decimal-exact, so the whole comparison hash-gates with no
    // tolerance.
    Qry(
      "q292_ivfpq_residual",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e
         |       WHERE vec_id < $NCells),
         |d0 AS (SELECT vec_id, cid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c0),
         |a0 AS (SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rn FROM d0) WHERE rn = 1),
         |mu AS (SELECT a0.cid, i, ${davgSql("v[i + 1]")} AS c
         |  FROM e JOIN a0 ON e.vec_id = a0.vec_id, range($Dim) t(i)
         |  GROUP BY 1, 2),
         |c AS (SELECT cid AS ccid, list(c ORDER BY i) AS cv
         |      FROM mu GROUP BY 1),
         |d AS (SELECT vec_id, ccid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c),
         |assign AS (SELECT vec_id, ccid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, ccid) AS rn FROM d) WHERE rn = 1),
         |res AS (SELECT e.vec_id, a.ccid,
         |    list_transform(range($Dim), i -> v[i+1] - cv[i+1]) AS rv
         |  FROM e JOIN assign a ON a.vec_id = e.vec_id
         |    JOIN c ON c.ccid = a.ccid),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $Q),
         |qr AS (SELECT qid, ccid FROM (
         |    SELECT qid, ccid, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_reduce(list_prepend(0.0e0,
         |          list_transform(range($Dim), i ->
         |            (qv[i+1] - cv[i+1]) * (qv[i+1] - cv[i+1]))),
         |          (acc, x) -> acc + x), ccid) AS crank
         |    FROM q, c) WHERE crank <= $NProbe),
         |truth AS (SELECT qid, vec_id FROM (
         |    SELECT qid, e.vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY list_reduce(list_prepend(0.0e0,
         |          list_transform(range($Dim), i ->
         |            (v[i + 1] - qv[i + 1]) * (v[i + 1] - qv[i + 1]))),
         |          (acc, x) -> acc + x), e.vec_id) AS rn
         |    FROM e, q WHERE e.vec_id <> qid) WHERE rn <= $ResidualTopK),
         |cb AS (SELECT m, vec_id - $NCells AS cid,
         |    v[m * $SubDim + 1 : m * $SubDim + $SubDim] AS csub
         |  FROM e, range($M) t(m)
         |  WHERE vec_id >= $NCells AND vec_id < $NCells + $Kc),
         |enc AS (SELECT vec_id, m, cid AS code FROM (
         |    SELECT e.vec_id, cb.m, cb.cid, row_number() OVER (
         |        PARTITION BY e.vec_id, cb.m ORDER BY
         |          list_reduce(list_prepend(0.0e0,
         |            list_transform(range($SubDim), i ->
         |              (v[m * $SubDim + i + 1] - csub[i + 1])
         |                * (v[m * $SubDim + i + 1] - csub[i + 1]))),
         |            (acc, x) -> acc + x), cb.cid) AS rn
         |    FROM e, cb) WHERE rn = 1),
         |codes AS (SELECT n.vec_id, n.ccid, list(code ORDER BY m) AS codes
         |  FROM enc JOIN assign n ON enc.vec_id = n.vec_id
         |  GROUP BY 1, 2),
         |lutr AS (SELECT qid, m, cid,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(range($SubDim), i ->
         |        (qv[m * $SubDim + i + 1] - csub[i + 1])
         |          * (qv[m * $SubDim + i + 1] - csub[i + 1]))),
         |      (acc, x) -> acc + x) AS qd2
         |  FROM q, cb),
         |lut AS (SELECT qid, list(qd2 ORDER BY m, cid) AS lut
         |        FROM lutr GROUP BY 1),
         |cand AS (SELECT qr.qid, codes.vec_id,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(range($M), m ->
         |        lut[m * $Kc + codes[m + 1] + 1])),
         |      (acc, x) -> acc + x) AS adc
         |  FROM codes JOIN qr ON codes.ccid = qr.ccid
         |    JOIN lut ON lut.qid = qr.qid
         |  WHERE codes.vec_id <> qr.qid),
         |pq AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY adc, vec_id) AS rn FROM cand)
         |  WHERE rn <= $ResidualTopK),
         |sz AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
         |       FROM cand GROUP BY 1),
         |cbr AS (SELECT m, vec_id - $NCells AS cid,
         |    rv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS csub
         |  FROM res, range($M) t(m)
         |  WHERE vec_id >= $NCells AND vec_id < $NCells + $Kc),
         |encr AS (SELECT vec_id, m, cid AS code FROM (
         |    SELECT res.vec_id, cbr.m, cbr.cid, row_number() OVER (
         |        PARTITION BY res.vec_id, cbr.m ORDER BY
         |          list_reduce(list_prepend(0.0e0,
         |            list_transform(range($SubDim), i ->
         |              (rv[m * $SubDim + i + 1] - csub[i + 1])
         |                * (rv[m * $SubDim + i + 1] - csub[i + 1]))),
         |            (acc, x) -> acc + x), cbr.cid) AS rn
         |    FROM res, cbr) WHERE rn = 1),
         |codesr AS (SELECT n.vec_id, n.ccid, list(code ORDER BY m) AS codes
         |  FROM encr JOIN assign n ON encr.vec_id = n.vec_id
         |  GROUP BY 1, 2),
         |lutr2 AS (SELECT qr.qid, qr.ccid, cbr.m, cbr.cid,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(range($SubDim), i ->
         |        ((qv[m * $SubDim + i + 1] - cv[m * $SubDim + i + 1])
         |            - csub[i + 1])
         |          * ((qv[m * $SubDim + i + 1] - cv[m * $SubDim + i + 1])
         |            - csub[i + 1]))),
         |      (acc, x) -> acc + x) AS qd2
         |  FROM qr JOIN q ON q.qid = qr.qid
         |    JOIN c ON c.ccid = qr.ccid, cbr),
         |lut2 AS (SELECT qid, ccid, list(qd2 ORDER BY m, cid) AS lut
         |         FROM lutr2 GROUP BY 1, 2),
         |cand2 AS (SELECT qr.qid, codesr.vec_id,
         |    list_reduce(list_prepend(0.0e0,
         |      list_transform(range($M), m ->
         |        lut[m * $Kc + codes[m + 1] + 1])),
         |      (acc, x) -> acc + x) AS adc
         |  FROM codesr JOIN qr ON codesr.ccid = qr.ccid
         |    JOIN lut2 ON lut2.qid = qr.qid AND lut2.ccid = codesr.ccid
         |  WHERE codesr.vec_id <> qr.qid),
         |pq2 AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY adc, vec_id) AS rn FROM cand2)
         |  WHERE rn <= $ResidualTopK),
         |enr AS (SELECT res.vec_id,
         |    list_reduce(list_prepend(0.0e0, list_transform(range($Dim),
         |      i -> rv[i+1] * rv[i+1])), (acc, x) -> acc + x) AS d2r,
         |    list_reduce(list_prepend(0.0e0, list_transform(range($Dim),
         |      i -> v[i+1] * v[i+1])), (acc, x) -> acc + x) AS d2x
         |  FROM res JOIN e ON e.vec_id = res.vec_id),
         |en AS (SELECT CAST(floor(1000000 * ${dsumSql("d2r")}
         |    / ${dsumSql("d2x")}) AS BIGINT) AS resid_energy_ppm
         |  FROM enr),
         |hp AS (SELECT t.qid, t.vec_id FROM truth t
         |       JOIN pq p ON t.qid = p.qid AND t.vec_id = p.vec_id),
         |hr AS (SELECT t.qid, t.vec_id FROM truth t
         |       JOIN pq2 p ON t.qid = p.qid AND t.vec_id = p.vec_id)
         |SELECT q.qid, sz.n_cand,
         |  CAST(COUNT(DISTINCT hp.vec_id) AS BIGINT) AS n_hit_plain,
         |  CAST(COUNT(DISTINCT hr.vec_id) AS BIGINT) AS n_hit_resid,
         |  1000000 * COUNT(DISTINCT hp.vec_id) // $ResidualTopK
         |    AS recall_plain_ppm,
         |  1000000 * COUNT(DISTINCT hr.vec_id) // $ResidualTopK
         |    AS recall_resid_ppm,
         |  1000000 * COUNT(DISTINCT hr.vec_id) // $ResidualTopK
         |    - 1000000 * COUNT(DISTINCT hp.vec_id) // $ResidualTopK
         |    AS delta_ppm,
         |  en.resid_energy_ppm
         |FROM q JOIN sz ON q.qid = sz.qid
         |  CROSS JOIN en
         |  LEFT JOIN hp ON q.qid = hp.qid
         |  LEFT JOIN hr ON q.qid = hr.qid
         |GROUP BY 1, 2, 8""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Staging.stage(Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v")),
        eager = false)
      val c0 = e.filter($"vec_id" < NCells)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val wA0 = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
      val a0 = e.crossJoin(broadcast(c0))
        .select($"vec_id", $"cid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(wA0))
        .filter($"rn" === 1).select($"vec_id".as("a0id"), $"cid")
      // one exact Lloyd round: per-(cell, dim) decimal mean — the
      // q246 proof shape, one partial-aggregated shuffle
      val c = a0.join(e, $"a0id" === $"vec_id")
        .select($"cid", posexplode($"v").as(Seq("i", "x")))
        .groupBy($"cid", $"i")
        .agg(davg($"x").as("m"))
        .groupBy($"cid")
        .agg(expr("transform(array_sort(collect_list(struct(i, m)))," +
          " p -> p.m)").as("cv"))
        .select($"cid".as("ccid"), $"cv")
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d2", $"ccid")
      val assign = e.crossJoin(broadcast(c))
        .select($"vec_id", $"ccid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1).select($"vec_id".as("aid"), $"ccid")
      // residuals: map-side subtraction against the broadcast trained
      // centroid of the ASSIGNED cell — the corpus never shuffles here
      val res = Staging.stage(
        e.join(assign, $"vec_id" === $"aid")
          .join(broadcast(c), "ccid")
          .select($"vec_id", $"ccid",
            zip_with($"v", $"cv", (x, y) => x - y).as("rv")),
        eager = false)
      val q = e.filter($"vec_id" < Q)
        .select($"vec_id".as("qid"), $"v".as("qv"))
      val wCrank = Window.partitionBy($"qid").orderBy($"d2", $"qc")
      val qr = q.crossJoin(broadcast(c))
        .select($"qid", $"ccid".as("qc"),
          Vectors.distSq($"qv", $"cv").as("d2"))
        .withColumn("crank", row_number().over(wCrank))
        .filter($"crank" <= NProbe).select($"qid".as("rqid"), $"qc")
      val wTruth = Window.partitionBy($"qid").orderBy($"d2", $"vec_id")
      val truth = e.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", Vectors.distSq($"v", $"qv").as("d2"))
        .withColumn("rn", row_number().over(wTruth))
        .filter($"rn" <= ResidualTopK)
        .select($"qid".as("tqid"), $"vec_id".as("tvid"))

      // one pipeline body, two vector spaces: raw (q270's layout) and
      // residual (IVFADC); lutPerCell is the one structural delta —
      // the residual LUT is keyed per (query, probed cell)
      def encodeScan(vecs: org.apache.spark.sql.DataFrame,
          vCol: String, lutPerCell: Boolean) = {
        val cb = vecs.filter($"vec_id" >= NCells && $"vec_id" < NCells + Kc)
          .select(($"vec_id" - NCells).as("cid"),
            explode(sequence(lit(0), lit(M - 1))).as("m"), col(vCol))
          .select($"m", $"cid",
            slice(col(vCol), $"m" * SubDim + 1, lit(SubDim)).as("csub"))
        val wEnc = Window.partitionBy($"vec_id", $"m").orderBy($"d2", $"cid")
        val codes = vecs.crossJoin(broadcast(cb))
          .select($"vec_id", $"m", $"cid",
            Vectors.distSq(slice(col(vCol), $"m" * SubDim + 1, lit(SubDim)),
              $"csub").as("d2"))
          .withColumn("rn", row_number().over(wEnc))
          .filter($"rn" === 1)
          .groupBy($"vec_id")
          .agg(expr("transform(array_sort(collect_list(struct(m, cid)))," +
            " p -> p.cid)").as("codes"))
          .join(assign, $"vec_id" === $"aid")
          .select($"vec_id", $"ccid", $"codes")
        val lut =
          if (!lutPerCell)
            q.crossJoin(broadcast(cb))
              .select($"qid", $"m", $"cid",
                Vectors.distSq(slice($"qv", $"m" * SubDim + 1, lit(SubDim)),
                  $"csub").as("qd2"))
              .groupBy($"qid")
              .agg(expr("transform(array_sort(collect_list(" +
                "struct(m, cid, qd2))), p -> p.qd2)").as("lut"))
              .select($"qid".as("lqid"), lit(-1L).as("lccid"), $"lut")
          else
            // residual LUT: the query's residual w.r.t. EACH probed
            // cell's trained centroid — (Q x NProbe x M x Kc) rows
            qr.join(q, $"rqid" === $"qid")
              .join(broadcast(c), $"qc" === $"ccid")
              .crossJoin(broadcast(cb))
              .select($"qid", $"ccid", $"m", $"cid",
                Vectors.distSq(
                  slice(zip_with($"qv", $"cv", (x, y) => x - y),
                    $"m" * SubDim + 1, lit(SubDim)),
                  $"csub").as("qd2"))
              .groupBy($"qid", $"ccid")
              .agg(expr("transform(array_sort(collect_list(" +
                "struct(m, cid, qd2))), p -> p.qd2)").as("lut"))
              .select($"qid".as("lqid"), $"ccid".as("lccid"), $"lut")
        val base = codes.join(broadcast(qr), $"ccid" === $"qc")
          .filter($"vec_id" =!= $"rqid")
        val joined =
          if (!lutPerCell) base.join(broadcast(lut), $"rqid" === $"lqid")
          else base.join(broadcast(lut),
            $"rqid" === $"lqid" && $"ccid" === $"lccid")
        val cand = joined.withColumn("adc", expr(
            s"""aggregate(sequence(0, ${M - 1}), cast(0.0 as double),
               |  (acc, m) -> acc + lut[m * $Kc + codes[m]])""".stripMargin))
          .select($"rqid".as("qid"), $"vec_id", $"adc")
        val wScan = Window.partitionBy($"qid").orderBy($"adc", $"vec_id")
        val top = cand.withColumn("rn", row_number().over(wScan))
          .filter($"rn" <= ResidualTopK)
          .select($"qid".as("pqid"), $"vec_id".as("pvid"))
        (cand, top)
      }

      val (candPlain, pqPlain) = encodeScan(e, "v", lutPerCell = false)
      val (_, pqResid) = encodeScan(
        res.select($"vec_id", $"ccid".as("rcell"), $"rv"), "rv",
        lutPerCell = true)
      val sz = candPlain.groupBy($"qid").agg(count(lit(1)).as("n_cand"))
        .withColumnRenamed("qid", "sqid")
      // the mechanism, measured: corpus residual energy vs raw energy
      val en = res.join(e.select($"vec_id".as("evid"), $"v"),
          $"vec_id" === $"evid")
        .select(Vectors.dot($"rv", $"rv").as("d2r"),
          Vectors.dot($"v", $"v").as("d2x"))
        .agg(floor(lit(1000000) * dsum($"d2r") / dsum($"d2x"))
          .cast(LongType).as("resid_energy_ppm"))
      val hp = truth.join(pqPlain,
          $"tqid" === $"pqid" && $"tvid" === $"pvid")
        .select($"tqid".as("hpq"), $"tvid".as("hpv"))
      val hr = truth.join(pqResid,
          $"tqid" === $"pqid" && $"tvid" === $"pvid")
        .select($"tqid".as("hrq"), $"tvid".as("hrv"))
      q.join(sz, $"qid" === $"sqid")
        .crossJoin(broadcast(en))
        .join(hp, $"qid" === $"hpq", "left")
        .join(hr, $"qid" === $"hrq", "left")
        .groupBy($"qid", $"n_cand", $"resid_energy_ppm")
        .agg(countDistinct($"hpv").as("n_hit_plain"),
          countDistinct($"hrv").as("n_hit_resid"),
          (lit(1000000L) * countDistinct($"hpv") / ResidualTopK).cast(LongType)
            .as("recall_plain_ppm"),
          (lit(1000000L) * countDistinct($"hrv") / ResidualTopK).cast(LongType)
            .as("recall_resid_ppm"),
          ((lit(1000000L) * countDistinct($"hrv") / ResidualTopK).cast(LongType) -
            (lit(1000000L) * countDistinct($"hpv") / ResidualTopK).cast(LongType))
            .as("delta_ppm"))
    },

    // Rank-sensitive ANN evaluation, per-stratum priority sampling, and the
    // bounded-influence mean.
    //
    // Scale shapes: q322's corpus-sized stages are the centroid
    // assignment pass and the per-query-cell candidate scan (queries
    // broadcast); q323/q324 are one window pass over a key-partitioned
    // corpus each.
    //
    // MRR@10 for the IVF ANN path — recall (q292) says whether
    // the true neighbor is retrieved at all; mean reciprocal rank says
    // WHERE it lands: per query (q41's query set), the exact nearest
    // neighbor is computed brute-force, the 1-probe IVF candidate list
    // (q42's nearest-centroid cells) is ranked by cosine, and the
    // query scores 10⁶ DIV rank if the true neighbor appears in the
    // top 10, else 0 — reciprocal rank with the standard cutoff, kept
    // exact by integral division (no transcendental discounts; MRR is
    // the rank-eval member whose discount IS rational). The corpus
    // mrr_ppm rides a bounded window. Completes the eval tier next to
    // recall (q292), AUC (q281/q296), RRF (q278) and capture (q282).
    Qry(
      "q322_ivf_mrr",
      s"""WITH $eCte, $nCte,
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |d AS (SELECT e.vec_id, c.cid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v AS qv, nr AS qnr FROM n
         |      WHERE vec_id < 10),
         |ex AS (SELECT qid, vec_id AS nn FROM (
         |    SELECT q.qid, n.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_dot_product(q.qv, n.v) / (q.qnr * n.nr) DESC,
         |               n.vec_id) AS rn
         |    FROM n, q WHERE n.vec_id <> q.qid) WHERE rn = 1),
         |qa AS (SELECT q.qid, a.cid, q.qv, q.qnr FROM q
         |       JOIN assign a ON a.vec_id = q.qid),
         |cand AS (SELECT qa.qid, n.vec_id,
         |    row_number() OVER (PARTITION BY qa.qid
         |      ORDER BY list_dot_product(qa.qv, n.v) / (qa.qnr * n.nr)
         |        DESC, n.vec_id) AS rnk
         |  FROM qa JOIN assign a2 ON a2.cid = qa.cid
         |  JOIN n ON n.vec_id = a2.vec_id WHERE n.vec_id <> qa.qid),
         |hit AS (SELECT ex.qid, ex.nn, c2.rnk FROM ex
         |  LEFT JOIN cand c2 ON c2.qid = ex.qid AND c2.vec_id = ex.nn
         |    AND c2.rnk <= 10)
         |SELECT qid, nn AS true_nn, CAST(rnk AS BIGINT) AS found_rank,
         |  CAST(COALESCE(1000000 // rnk, 0) AS BIGINT) AS rr_ppm,
         |  CAST(SUM(COALESCE(1000000 // rnk, 0)) OVER ()
         |    // COUNT(*) OVER () AS BIGINT) AS mrr_ppm
         |FROM hit""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
      val n = e.withColumn("nr", sqrt(Vectors.dot($"v", $"v")))
      val c = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
      val assign = e.crossJoin(broadcast(c))
        .select($"vec_id", $"cid",
          Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1).select($"vec_id", $"cid")
      val q = n.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nr".as("qnr"))
      val wEx = Window.partitionBy($"qid")
        .orderBy($"cos".desc, $"vec_id")
      val ex = n.crossJoin(broadcast(q)).filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          (Vectors.dot($"qv", $"v") / ($"qnr" * $"nr")).as("cos"))
        .withColumn("rn", row_number().over(wEx))
        .filter($"rn" === 1).select($"qid", $"vec_id".as("nn"))
      val qa = q.join(assign, $"qid" === assign("vec_id"))
        .select($"qid", $"cid", $"qv", $"qnr")
      val cand = broadcast(qa).join(assign.as("a2"), "cid")
        .join(n.select($"vec_id".as("nid"), $"v", $"nr"),
          $"a2.vec_id" === $"nid")
        .filter($"nid" =!= $"qid")
        .select($"qid", $"nid",
          (Vectors.dot($"qv", $"v") / ($"qnr" * $"nr")).as("cos"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      val hit = ex.join(cand,
          cand("qid") === ex("qid") && cand("nid") === ex("nn") &&
            cand("rnk") <= 10, "left_outer")
        .select(ex("qid"), $"nn", $"rnk")
      hit
        .withColumn("rr_ppm",
          coalesce(expr("1000000 DIV rnk"), lit(0L)))
        .withColumn("mrr_ppm",
          expr("CAST(SUM(rr_ppm) OVER () DIV COUNT(*) OVER () " +
            "AS BIGINT)"))
        .select($"qid", $"nn".as("true_nn"),
          $"rnk".cast(LongType).as("found_rank"), $"rr_ppm", $"mrr_ppm")
    },

    // Multi-probe IVF — q322 measured 1-probe MRR; q340 measures the
    // RECALL-VS-COST CURVE'S second point: per query, the true nearest
    // neighbor's rank inside the candidate set when probing the nearest
    // centroid cell vs the nearest TWO. Output is per-query ranks and
    // reciprocal ranks for both settings plus corpus MRR and recall@10 for
    // each — the "is the second probe worth 2× the scan" decision read
    // directly from the gate. Exact integer metrics (10⁶ DIV rank), cosine
    // ties broken by vec_id.
    Qry(
      "q340_ivf_multiprobe",
      s"""WITH $eCte, $nCte,
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |d AS (SELECT e.vec_id, c.cid,
         |    list_reduce(list_prepend(0.0e0, list_transform(range(len(v)),
         |      i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))),
         |      (acc, x) -> acc + x) AS d2
         |  FROM e, c),
         |ar AS (SELECT vec_id, cid, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
         |assign AS (SELECT vec_id, cid FROM ar WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v AS qv, nr AS qnr FROM n
         |      WHERE vec_id < 10),
         |ex AS (SELECT qid, vec_id AS nn FROM (
         |    SELECT q.qid, n.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_dot_product(q.qv, n.v) / (q.qnr * n.nr) DESC,
         |               n.vec_id) AS rn
         |    FROM n, q WHERE n.vec_id <> q.qid) WHERE rn = 1),
         |qa AS (SELECT q.qid, ar.cid, ar.rn AS probe, q.qv, q.qnr
         |  FROM q JOIN ar ON ar.vec_id = q.qid AND ar.rn <= 2),
         |cand AS (SELECT qa.qid, qa.probe, n.vec_id,
         |    list_dot_product(qa.qv, n.v) / (qa.qnr * n.nr) AS cos
         |  FROM qa JOIN assign a2 ON a2.cid = qa.cid
         |  JOIN n ON n.vec_id = a2.vec_id WHERE n.vec_id <> qa.qid),
         |r1 AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rnk
         |  FROM cand WHERE probe = 1),
         |r2 AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rnk FROM cand),
         |hit AS (SELECT ex.qid, ex.nn, a.rnk AS rank_p1, b.rnk AS rank_p2
         |  FROM ex
         |  LEFT JOIN r1 a ON a.qid = ex.qid AND a.vec_id = ex.nn
         |    AND a.rnk <= 10
         |  LEFT JOIN r2 b ON b.qid = ex.qid AND b.vec_id = ex.nn
         |    AND b.rnk <= 10)
         |SELECT qid, nn AS true_nn,
         |  CAST(rank_p1 AS BIGINT) AS rank_p1,
         |  CAST(rank_p2 AS BIGINT) AS rank_p2,
         |  CAST(COALESCE(1000000 // rank_p1, 0) AS BIGINT) AS rr1_ppm,
         |  CAST(COALESCE(1000000 // rank_p2, 0) AS BIGINT) AS rr2_ppm,
         |  CAST(SUM(COALESCE(1000000 // rank_p1, 0)) OVER ()
         |    // COUNT(*) OVER () AS BIGINT) AS mrr1_ppm,
         |  CAST(SUM(COALESCE(1000000 // rank_p2, 0)) OVER ()
         |    // COUNT(*) OVER () AS BIGINT) AS mrr2_ppm,
         |  CAST(SUM(CASE WHEN rank_p1 IS NOT NULL THEN 1 ELSE 0 END)
         |    OVER () * 1000000 // COUNT(*) OVER () AS BIGINT)
         |    AS recall1_ppm,
         |  CAST(SUM(CASE WHEN rank_p2 IS NOT NULL THEN 1 ELSE 0 END)
         |    OVER () * 1000000 // COUNT(*) OVER () AS BIGINT)
         |    AS recall2_ppm
         |FROM hit""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).embeddings
        .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
      val n = e.withColumn("nr", sqrt(Vectors.dot($"v", $"v")))
      val c = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val ar = e.crossJoin(broadcast(c))
        .select($"vec_id", $"cid", Vectors.distSq($"v", $"cv").as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"d2", $"cid")))
      val assign = ar.filter($"rn" === 1).select($"vec_id", $"cid")
      val q = n.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nr".as("qnr"))
      val ex = n.crossJoin(broadcast(q)).filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          (Vectors.dot($"qv", $"v") / ($"qnr" * $"nr")).as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")))
        .filter($"rn" === 1).select($"qid", $"vec_id".as("nn"))
      val qa = q.join(ar.select($"vec_id".as("av"), $"cid",
          $"rn".as("probe")),
          $"qid" === $"av" && $"probe" <= 2)
        .select($"qid", $"cid", $"probe", $"qv", $"qnr")
      val cand = broadcast(qa).join(assign.as("a2"), "cid")
        .join(n.select($"vec_id".as("nid"), $"v", $"nr"),
          $"a2.vec_id" === $"nid")
        .filter($"nid" =!= $"qid")
        .select($"qid", $"probe", $"nid",
          (Vectors.dot($"qv", $"v") / ($"qnr" * $"nr")).as("cos"))
      val r1 = cand.filter($"probe" === 1)
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      val r2 = cand
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      val hit = ex
        .join(r1.select($"qid".as("q1"), $"nid".as("v1"),
            $"rnk".as("rank_p1")),
          $"qid" === $"q1" && $"nn" === $"v1" && $"rank_p1" <= 10,
          "left_outer")
        .join(r2.select($"qid".as("q2"), $"nid".as("v2"),
            $"rnk".as("rank_p2")),
          $"qid" === $"q2" && $"nn" === $"v2" && $"rank_p2" <= 10,
          "left_outer")
        .select($"qid", $"nn", $"rank_p1", $"rank_p2")
      hit
        .withColumn("rr1_ppm",
          coalesce(expr("1000000 DIV rank_p1"), lit(0L)))
        .withColumn("rr2_ppm",
          coalesce(expr("1000000 DIV rank_p2"), lit(0L)))
        .withColumn("mrr1_ppm", expr("CAST(SUM(rr1_ppm) OVER () " +
          "DIV COUNT(*) OVER () AS BIGINT)"))
        .withColumn("mrr2_ppm", expr("CAST(SUM(rr2_ppm) OVER () " +
          "DIV COUNT(*) OVER () AS BIGINT)"))
        .withColumn("recall1_ppm",
          expr("CAST(SUM(CASE WHEN rank_p1 IS NOT NULL THEN 1 ELSE 0 " +
            "END) OVER () * 1000000 DIV COUNT(*) OVER () AS BIGINT)"))
        .withColumn("recall2_ppm",
          expr("CAST(SUM(CASE WHEN rank_p2 IS NOT NULL THEN 1 ELSE 0 " +
            "END) OVER () * 1000000 DIV COUNT(*) OVER () AS BIGINT)"))
        .select($"qid", $"nn".as("true_nn"),
          $"rank_p1".cast(LongType).as("rank_p1"),
          $"rank_p2".cast(LongType).as("rank_p2"),
          $"rr1_ppm", $"rr2_ppm", $"mrr1_ppm", $"mrr2_ppm",
          $"recall1_ppm", $"recall2_ppm")
    },

    // Scalar int8 quantization audit — per-dimension affine
    // quantization (the FAISS SQ8 / serving-cache standard): codes =
    // round(255·(x−min)/(max−min)) per dimension, reconstruction
    // error Σ(x−dequant)² per vector accumulated as ROUNDED
    // NANO-UNIT INTEGERS (each element's squared error is rounded to
    // 1e-9 grain BEFORE summing, so the sum is order-independent and
    // engine-exact — the float-sum trap that dsum solves for money,
    // solved the same way for error mass). Per-vector error plus the
    // corpus total; constant dimensions dequantize to their minimum
    // (guarded division). Scale: the per-dim min/max table is
    // 64 rows broadcast; one corpus-sized element explode each way.
    Qry(
      "q341_int8_quantization",
      s"""WITH $eCte,
         |el AS (SELECT vec_id, unnest(range(len(v))) AS dim, v
         |  FROM e),
         |x AS (SELECT vec_id, dim, v[dim + 1] AS x FROM el),
         |mm AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM x
         |       GROUP BY 1),
         |qd AS (SELECT x.vec_id, x.dim, x.x, mm.mn, mm.mx,
         |    CASE WHEN mm.mx > mm.mn
         |      THEN round((x.x - mm.mn) * 255 / (mm.mx - mm.mn))
         |      ELSE 0 END AS code
         |  FROM x JOIN mm ON mm.dim = x.dim),
         |err AS (SELECT vec_id,
         |    CAST(SUM(CAST(round(1000000000 * (x - (CASE WHEN mx > mn
         |      THEN mn + code * (mx - mn) / 255 ELSE mn END))
         |      * (x - (CASE WHEN mx > mn
         |      THEN mn + code * (mx - mn) / 255 ELSE mn END)))
         |      AS BIGINT)) AS BIGINT) AS err_e9
         |  FROM qd GROUP BY 1)
         |SELECT vec_id, err_e9,
         |  CAST(SUM(err_e9) OVER () AS BIGINT) AS total_err_e9
         |FROM err""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val x = Tables(spark, dir).embeddings
        .select($"vec_id", posexplode(Vectors.toDouble($"embedding")))
        .select($"vec_id", $"pos".as("dim"), $"col".as("x"))
      val mm = x.groupBy($"dim").agg(min($"x").as("mn"),
        max($"x").as("mx"))
      val qd = x.join(broadcast(mm), "dim")
        .withColumn("code",
          expr("CASE WHEN mx > mn " +
            "THEN round((x - mn) * 255 / (mx - mn)) ELSE 0 END"))
      val err = qd.groupBy($"vec_id")
        .agg(sum(expr("CAST(round(1000000000 * (x - (CASE WHEN mx > mn " +
          "THEN mn + code * (mx - mn) / 255 ELSE mn END)) " +
          "* (x - (CASE WHEN mx > mn " +
          "THEN mn + code * (mx - mn) / 255 ELSE mn END))) AS BIGINT)"))
          .cast(LongType).as("err_e9"))
      err.withColumn("total_err_e9",
          sum($"err_e9").over(Window.partitionBy()).cast(LongType))
        .select($"vec_id", $"err_e9", $"total_err_e9")
    },

    // The LSH GEOMETRY SWEEP — q179 scores the shipped (B=4,
    // R=4) banding once; q344 measures the (bands, rows) DECISION:
    // the same 16 MinHash signatures banded three ways — (8,2)
    // recall-leaning, (4,4) balanced, (2,8) precision-leaning — each
    // scored against the shared exact-Jaccard ≥ 0.5 truth in one
    // result (the S-curve tradeoff read from the gate, the tuning
    // table a pipeline consults before committing a geometry).
    Qry(
      "q344_lsh_geometry_sweep", {
        val minCols = (0 until MinHashK).map(i =>
          s"min((h * ${TextOps.aParam(i)} + ${TextOps.bParam(i)}) % ${TextOps.P}) AS m$i")
          .mkString(", ")
        def bandSelects(bands: Int, rows: Int) = (0 until bands).map { b =>
          val ks = (0 until rows).map(r => s"m${b * rows + r}")
            .mkString(", ")
          s"SELECT doc_id, $b AS band_idx, concat_ws(':', $ks) " +
            s"AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        def geo(tag: Int, bands: Int, rows: Int) =
          s"""g$tag AS (SELECT DISTINCT $bands AS bands, $rows AS rows_,
             |    a.doc_id AS da, b.doc_id AS db
             |  FROM (${bandSelects(bands, rows)}) a
             |  JOIN (${bandSelects(bands, rows)}) b
             |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             |    AND a.doc_id < b.doc_id)""".stripMargin
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
           |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id)
           |    AS n, h FROM shc),
           |truthp AS (SELECT a.doc_id AS da, b.doc_id AS db,
           |    COUNT(*) AS shared, MAX(a.n) AS na, MAX(b.n) AS nb
           |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |truth AS (SELECT da, db FROM truthp
           |  WHERE CAST(shared AS DOUBLE)/(na + nb - shared) >= 0.5e0),
           |sig AS (SELECT doc_id, $minCols FROM shc GROUP BY doc_id),
           |${geo(1, 8, 2)},
           |${geo(2, 4, 4)},
           |${geo(3, 2, 8)},
           |cand AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
           |         UNION ALL SELECT * FROM g3),
           |m AS (SELECT c.bands, c.rows_, COUNT(*) AS nc,
           |    SUM(CASE WHEN t.da IS NOT NULL THEN 1 ELSE 0 END) AS tp
           |  FROM cand c LEFT JOIN truth t
           |    ON t.da = c.da AND t.db = c.db
           |  GROUP BY 1, 2),
           |nt AS (SELECT COUNT(*) AS nt FROM truth)
           |SELECT m.bands, m.rows_, CAST(nt.nt AS BIGINT) AS n_truth,
           |  CAST(m.nc AS BIGINT) AS n_cand, CAST(m.tp AS BIGINT) AS tp,
           |  CAST(m.nc - m.tp AS BIGINT) AS fp,
           |  CAST(nt.nt - m.tp AS BIGINT) AS fn,
           |  CAST(CASE WHEN m.nc > 0
           |    THEN (1000000 * m.tp) // m.nc END AS BIGINT)
           |    AS precision_ppm,
           |  CAST(CASE WHEN nt.nt > 0
           |    THEN (1000000 * m.tp) // nt.nt END AS BIGINT)
           |    AS recall_ppm
           |FROM m CROSS JOIN nt""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val d = Tables(spark, dir).documents
      val shc = Dedup.dfCapped(
        Dedup.shingleHashes(d, "doc_id", "text"), Dedup.DefaultDfCap)
      val truth = Dedup.jaccardPairs(shc, "doc_id", dfCap = 0)
        .filter($"jaccard" >= 0.5)
        .select($"id_a".as("ta"), $"id_b".as("tb"))
      val sig = Dedup.minhashSignatures(shc, "doc_id", "h", MinHashK)
      def candidates(bands: Int, rows: Int) = {
        val banded = Dedup.lshBands(sig, "doc_id", bands, rows)
        banded
          .join(banded.select($"doc_id".as("db0"),
              $"band_idx".as("bi"), $"band_key".as("bk")),
            $"band_idx" === $"bi" && $"band_key" === $"bk" &&
              $"doc_id" < $"db0")
          .select(lit(bands).as("bands"), lit(rows).as("rows_"),
            $"doc_id".as("da"), $"db0".as("db")).distinct()
      }
      val cand = candidates(8, 2)
        .unionByName(candidates(4, 4)).unionByName(candidates(2, 8))
      val m = cand.join(truth,
          $"da" === $"ta" && $"db" === $"tb", "left_outer")
        .groupBy($"bands", $"rows_")
        .agg(count(lit(1)).as("nc"),
          sum(when($"ta".isNotNull, 1).otherwise(0)).as("tp"))
      val nt = truth.agg(count(lit(1)).as("nt"))
      m.crossJoin(broadcast(nt))
        .select($"bands", $"rows_",
          $"nt".cast(LongType).as("n_truth"),
          $"nc".cast(LongType).as("n_cand"),
          $"tp".cast(LongType).as("tp"),
          ($"nc" - $"tp").cast(LongType).as("fp"),
          ($"nt" - $"tp").cast(LongType).as("fn"),
          expr("CAST(CASE WHEN nc > 0 THEN (1000000 * tp) DIV nc END " +
            "AS BIGINT)").as("precision_ppm"),
          expr("CAST(CASE WHEN nt > 0 THEN (1000000 * tp) DIV nt END " +
            "AS BIGINT)").as("recall_ppm"))
    }
  )
}
