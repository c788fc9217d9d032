package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Exact.davg

/** Iterated k-means (Lloyd's algorithm) over embedding vectors —
  * q246's single gated step operator-ized into the fixed-iteration
  * training loop the IVF family (q42/q63/q240) consumes centroids
  * from, and the clustering half of SemDeDup (q353).
  *
  * Determinism contract (what makes an unrolled SQL oracle replay the
  * loop bit-for-bit): initial centroids are the vectors with id < k
  * (deterministic, q246's convention); assignment argmin ties break by
  * centroid id; distances are sequential-fold doubles
  * ([[Vectors.distSq]], IEEE-identical to DuckDB's list_reduce); each
  * new centroid dimension is the DECIMAL(28,6)-exact member mean cast
  * once to double ([[graft.Exact.davg]]) — order-independent, so the
  * mean never depends on partitioning. Iteration count is FIXED
  * (training-pipeline convention: budget, not convergence detection),
  * and a converged round is a no-op, so oracle rounds past the fixed
  * point stay exact.
  *
  * Scale shape: the vector leaf is staged once; each round is one
  * broadcast of the k-row centroid table (centroids ride broadcasts —
  * the IVF convention), one corpus-sized assignment pass (k distances
  * per row, top-1 via a per-id window over k rows), and one
  * posexplode + partial-aggregated per-(cid, dim) mean; centroids are
  * re-staged per round so lineage never re-executes earlier rounds.
  * Empty clusters drop (no members → no rows), shrinking k — the
  * standard Lloyd degeneracy, documented rather than papered over.
  */
object KMeans {

  /** @param vecs (idCol, vCol: array<double>) — pre-widened
    * @param rounds Lloyd rounds, at least 1 ([[Fixpoint.iterate]] runs
    *        exactly this many: a fixed budget, not a convergence test)
    * @return (cid, cv: array<double>) final centroids, staged (caller
    *         releases via Staging.sweep). Throws, with nothing left
    *         staged, when no vector seeds a centroid. */
  def run(vecs: DataFrame, idCol: String, vCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"KMeans: rounds ($rounds) must be at least 1")
    val v = Staging.stage(
      vecs.select(col(idCol).as("id"), col(vCol).as("v")), eager = true)
    try {
      Fixpoint.iterate("kmeans", "rounds", rounds,
          v.filter(col("id") < k)
            .select(col("id").as("cid"), col("v").as("cv")),
          Seq(count(lit(1))), converged = None) {
        (cents, m, i) =>
          // loud-failure contract (r13 advisory): an id convention that
          // seeds nothing must fail here, not surface as an empty result
          // downstream (DagLevels/Scc's require discipline)
          if (i == 0) require(m.getLong(0) > 0,
            s"KMeans: empty init — no vector has $idCol < k ($k)")
          refit(v, cents)
      }._1
    } finally Staging.release(v)
  }

  /** One Lloyd refit: assign every vector of `v` (id, v) to its nearest
    * centroid, then average each cluster's members per dimension. */
  private def refit(v: DataFrame, cents: DataFrame): DataFrame = {
    val a = assign(v, cents, idCol = "id", vCol = "v")
    val m = v.join(a.withColumnRenamed("id", "__aid"),
        col("id") === col("__aid"))
      .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i")).agg(davg(col("x")).as("c"))
    m.groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cv"))
  }

  /** [[run]] with deterministic empty-cell RE-SEEDING and an explicit
    * initial centroid frame (r13 verdict #7 — production hygiene for
    * the Lloyd degeneracy [[run]] documents as "k shrinks"): when a
    * round's refit drops cells, the missing cids are re-seeded in
    * ascending-cid order with the FARTHEST POINTS — vectors ranked by
    * (distance to their nearest refit centroid DESC, id ASC), the
    * deterministic farthest-point heuristic. `init` supplies (cid,
    * cv) explicitly (q364's gate plants an unreachable sentinel
    * centroid to force an empty cell in round 1, so reseeding is
    * exercised, not just plumbed).
    *
    * Determinism: distances are the same sequential-fold doubles as
    * [[assign]]; reseed ranks tie-break by id — so an unrolled SQL
    * oracle replays every round, reseeds included, bit-for-bit. The
    * top-|missing| farthest rows ride a distributed top-k
    * (orderBy+limit → TakeOrderedAndProject, never a single-partition
    * corpus sort) and land driver-side as ≤ k rows (the
    * centroid/model-constant read convention); per round that adds at
    * most one extra corpus pass (the dmin probe), and none when no
    * cell emptied. */
  def runWithReseed(vecs: DataFrame, idCol: String, vCol: String,
      k: Int, rounds: Int, init: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    val v = Staging.stage(
      vecs.select(col(idCol).as("id"), col(vCol).as("v")), eager = true)
    // the one staged centroid frame this loop owns at any moment:
    // released if anything below throws
    var cents: DataFrame = null
    try {
      val (seeded, nSeeded) = Staging.stageCounted(
        init.select(col("cid").cast("long").as("cid"), col("cv")))
      cents = seeded
      require(nSeeded > 0, "KMeans.runWithReseed: empty init frame")
      for (_ <- 1 to rounds) {
        val next = Staging.stage(refit(v, cents), eager = true)
        Staging.release(cents)
        cents = next
        // surviving cids: a ≤ k-row model-constant read
        val have = cents.select(col("cid")).collect()
          .map(_.getLong(0)).toSet
        val missing = (0L until k.toLong).filterNot(have).sorted
        if (missing.nonEmpty) {
          val dmin = v.crossJoin(broadcast(cents))
            .select(col("id"), Vectors.distSq(col("v"), col("cv"))
              .as("d2"))
            .groupBy(col("id")).agg(min(col("d2")).as("dmin"))
          val far = v.join(dmin, "id")
            .orderBy(col("dmin").desc, col("id"))
            .limit(missing.size)
            .select(col("id"), col("v"), col("dmin"))
            .collect()
            .sortBy(r => (-r.getDouble(2), r.getLong(0)))
          import spark.implicits._
          val extra = missing.zip(far.toSeq).map { case (cid, r) =>
            (cid, r.getSeq[Double](1))
          }.toDF("cid", "cv")
          val merged = Staging.stage(cents.unionByName(extra), eager = true)
          Staging.release(cents)
          cents = merged
        }
      }
      cents
    } catch {
      case t: Throwable =>
        if (cents != null) Staging.release(cents)
        throw t
    } finally Staging.release(v)
  }

  /** Nearest-centroid assignment: (idCol, cid). Ties break by cid. */
  def assign(vecs: DataFrame, cents: DataFrame, idCol: String,
      vCol: String): DataFrame =
    assignDist(vecs, cents, idCol, vCol).drop("d2")

  /** [[assign]] keeping the winning squared distance: (idCol, cid,
    * d2). d2 is the same sequential-fold double on both engines
    * ([[Vectors.distSq]] / q246's list_reduce), so downstream
    * closest-to-centroid selections (q360) stay oracle-exact.
    *
    * The argmin folds through `min(struct(d2, cid))` — struct ordering
    * is lexicographic, so the minimum IS (smallest d2, ties by cid),
    * bit-identical to the previous per-id `row_number` window — but
    * the aggregate form collapses the k candidate rows MAP-SIDE
    * (partial aggregation), so the exchange carries one row per
    * vector instead of k, and nothing sorts. */
  def assignDist(vecs: DataFrame, cents: DataFrame, idCol: String,
      vCol: String): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col(idCol), col("cid"),
        Vectors.distSq(col(vCol), col("cv")).as("d2"))
      .groupBy(col(idCol))
      .agg(min(struct(col("d2"), col("cid"))).as("__m"))
      .select(col(idCol), col("__m.cid").as("cid"), col("__m.d2").as("d2"))
}
