package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multi-source BFS hop distance — shortest unweighted path length
  * from a SEED SET to every node, by synchronous min-plus relaxation:
  * dist_0 = 0 on seeds and unknown elsewhere; each round every node
  * takes the minimum of its current distance and (min over in-neighbors
  * of their distance) + 1. The fixed point is the exact multi-source
  * BFS distance; unreached nodes stay NULL (another component).
  *
  * This closes the per-node graph profile next to degree, triangles,
  * clustering coefficient, components, PageRank, LPA communities,
  * coreness and personalized PageRank: PPR (q305) measures AFFINITY to
  * the trusted core through edge weights; hop distance measures
  * PROXIMITY in hops — the "how many introductions away from a known
  * entity" question behind trust propagation, fraud-ring radius and
  * contamination tracing in dedup graphs.
  *
  * Every round is integer-exact (distances are BIGINTs, relaxation is
  * min/+1), so an unrolled SQL oracle replays the rounds bit-for-bit,
  * and rounds past the fixed point are no-ops — the q262 proof shape.
  * Rounds to converge = eccentricity of the seed set, small on the
  * short-diameter graphs curation pipelines build.
  *
  * The loop runs on [[Fixpoint]].
  * Convergence is join-free: the DECIMAL(38,0) sum of
  * coalesce(dist, n + 1) is strictly monotone decreasing until the
  * fixed point (a NULL→k settle and a k→k' improvement both decrease
  * it), so an unchanged sum IS convergence.
  */
object HopDistance {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** @param edges directed edges; symmetrize upstream for undirected.
    * @param seeds one-column DataFrame of seed node ids (distance 0).
    *              Seed ids not present in the edge list are ignored —
    *              the result covers exactly the edge list's nodes.
    * @return (id, dist) for every node appearing as src or dst; dist
    *         is NULL for nodes unreachable from every seed.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      maxIterations: Int = 50): DataFrame = {
    def now() = System.nanoTime()
    def secs(t0: Long) = f"${(now() - t0) / 1e9}%.2f"

    val tEdges = now()
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
      eager = true)
    val (nodes, n) = Staging.stageCounted(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    log.info(s"hopdist: edge/node staging ${secs(tEdges)}s (n=$n)")

    Fixpoint.scope("hop distance", e, nodes) {
      // settle metric: sum of coalesce(dist, n+1) — monotone decreasing
      // to the fixed point; n+1 exceeds any reachable distance
      Fixpoint.iterate("hop distance", "maxIterations", maxIterations,
          nodes.join(seeds.select(col(seedCol).as("sid")).distinct(),
              col("id") === col("sid"), "left_outer")
            .select(col("id"),
              when(col("sid").isNotNull, lit(0L)).as("dist")),
          Seq(coalesce(
            sum(coalesce(col("dist"), lit(n + 1)).cast(DecimalType(38, 0))),
            lit(0).cast(DecimalType(38, 0)))),
          Some(Fixpoint.unchanged)) { (d, _, _) =>
        // frontier relaxation: min over in-neighbors' settled distances
        val relax = e.join(d.filter(col("dist").isNotNull),
            col("src") === col("id"))
          .groupBy(col("dst")).agg((min(col("dist")) + 1).as("md"))
        d.join(relax, col("id") === col("dst"), "left_outer")
          .select(col("id"),
            // explicit CASE (not least()): NULL-skipping least()
            // semantics differ across engines, and the oracle must
            // replay this line exactly
            when(col("dist").isNull, col("md"))
              .otherwise(when(col("md") < col("dist"), col("md"))
                .otherwise(col("dist"))).as("dist"))
      }._1
    }
  }

  /** Incremental hop-distance MAINTENANCE under edge INSERTIONS — the
    * q307 (incremental CC) shape on shortest paths: yesterday's
    * standing (id, dist) table + today's delta edges → today's exact
    * distances, with per-round work bounded by the AFFECTED region,
    * not the corpus.
    *
    * Soundness: inserting edges can only SHORTEN hop distances, so the
    * standing table is a pointwise UPPER bound of the new fixed point,
    * and min-plus relaxation started from any upper bound (seeds
    * pinned at 0) converges to the exact distances — Bellman–Ford
    * warm-starting. Efficiency: the first round relaxes only across
    * the DELTA edges; every later round relaxes the full edge leaf
    * against the FRONTIER (nodes improved last round) — a
    * delta-bounded sliver joined into the staged edge leaf, exactly a
    * standing index probed by a delta-sized shuffle. Untouched nodes'
    * rows pass through bit-identical without ever being joined
    * (spec-pinned). Convergence = empty frontier.
    *
    * New nodes (endpoints appearing only in delta edges) enter with
    * unknown distance and settle through the same relaxation;
    * unreachable ones stay NULL.
    *
    * @param standing yesterday's (id, dist) — [[run]]'s output schema
    * @param edges    the FULL symmetrized edge set (corpus ∪ delta):
    *                 improvements seeded by a delta edge propagate
    *                 onward through corpus edges
    * @param deltaEdges the newly inserted (already-symmetrized) edges
    * @param seeds    the SEED SET (same one [[run]] was given). Without
    *                 it, correctness silently assumes every seed is
    *                 already present in `standing` at dist 0 — false
    *                 when a seed node's first edges arrive in the delta
    *                 (it would enter as a new node with NULL distance
    *                 and settle to a WRONG positive distance via other
    *                 seeds). Seed rows present in the node set are
    *                 pinned to dist 0 and flagged into the initial
    *                 frontier so they propagate through corpus edges;
    *                 seed ids absent from both standing and delta
    *                 endpoints are ignored, matching [[run]]'s
    *                 nodes-of-the-edge-list coverage.
    */
  def incremental(standing: DataFrame, edges: DataFrame,
      deltaEdges: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[DataFrame] = None, seedCol: String = "id",
      maxIterations: Int = 50): DataFrame = {
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
      eager = true)
    val de = Staging.stage(
      deltaEdges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct(),
      eager = true)
    val newNodes = de.select(col("src").as("id"))
      .unionByName(de.select(col("dst").as("id"))).distinct()
      .join(standing.select(col("id").as("sid")),
        col("id") === col("sid"), "left_anti")
      .select(col("id"), lit(null).cast("long").as("dist"))
    Fixpoint.scope("incremental hop distance", e, de) {
      // one staged frame per round: (id, dist, imp) — imp marks the
      // frontier (rows improved last round); a single aggregate
      // materializes the round, counts its rows and sizes the
      // frontier. Seeds (when given) are pinned to dist 0 up front; a
      // seed whose standing distance was NULL or positive is itself an
      // improvement and joins the initial frontier.
      val base = standing
        .select(col("id"), col("dist").cast("long").as("dist"))
        .unionByName(newNodes)
      Fixpoint.iterate("incremental hop distance", "maxIterations",
          maxIterations,
          seeds match {
            case Some(s) =>
              base.join(
                  s.select(col(seedCol).as("__seed")).distinct(),
                  col("id") === col("__seed"), "left_outer")
                .select(col("id"),
                  when(col("__seed").isNotNull, lit(0L))
                    .otherwise(col("dist")).as("dist"),
                  (col("__seed").isNotNull &&
                    (col("dist").isNull || col("dist") > 0)).as("imp"))
            case None => base.withColumn("imp", lit(false))
          },
          Seq(coalesce(sum(when(col("imp"), 1L).otherwise(0L)), lit(0L))),
          Some((_, next) => next.getLong(0) == 0)) { (d, _, i) =>
        // round 0 relaxes across the delta edges (plus the corpus
        // edges leaving seed-pinned frontier nodes, when seeds were
        // given — with no seeds the initial frontier is empty and
        // round 0 is exactly the delta); later rounds relax the staged
        // full-edge leaf restricted to the frontier — a delta-bounded
        // sliver probing the standing index
        val frontierEdges =
          e.join(d.filter(col("imp")).select(col("id").as("fid")),
              col("src") === col("fid"))
            .select(col("src"), col("dst"))
        val relaxFrom =
          if (i == 0) de.select(col("src"), col("dst"))
            .unionByName(frontierEdges)
          else frontierEdges
        val cand = relaxFrom
          .join(d.filter(col("dist").isNotNull)
              .select(col("id").as("sid"), col("dist").as("sd")),
            col("src") === col("sid"))
          .groupBy(col("dst")).agg((min(col("sd")) + 1).as("md"))
        d.select(col("id"), col("dist"))
          .join(cand, col("id") === col("dst"), "left_outer")
          .select(col("id"),
            when(col("dist").isNull, col("md"))
              .otherwise(when(col("md") < col("dist"), col("md"))
                .otherwise(col("dist"))).as("dist"),
            (col("md").isNotNull &&
              (col("dist").isNull || col("md") < col("dist")))
              .as("imp"))
      }._1.select(col("id"), col("dist"))
    }
  }
}
