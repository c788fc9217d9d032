package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank to convergence in exact FIXED-POINT arithmetic —
  * the iterated form of the catalog's q159 single step.
  *
  * Ranks are BIGINTs in parts-per-million of uniform mass (Ppm = one
  * uniform share), every per-round operation is integer (floor
  * division), and therefore each round's output is bit-exact
  * regardless of partition count, partial-aggregation order, or
  * engine — the property a double formulation cannot have (per-node
  * inflow is an order-dependent FP sum). Floor loss is ≤ 1 ppm per
  * in-edge per round, indistinguishable next to tolPpm.
  *
  * The loop runs on [[Fixpoint]]; dangling mass (nodes with no
  * out-edges) is redistributed uniformly each round, and the dangling
  * flag rides the rank table so each round's one measuring aggregate
  * also returns the next round's dangling mass.
  *
  * Scale notes (100 TB): the per-round joins shuffle on src then on
  * id — the canonical two-exchange PR step; only (id, rank) rows move
  * between rounds. The inflow product is decomposed as
  * `(r DIV tw)·w + ((r MOD tw)·w) DIV tw` = floor(r·w/tw) exactly,
  * bounding intermediates by tw·max(w) instead of r·max(w) — safe
  * while per-src strength × max edge weight < 2^63.
  */
object PageRank {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One uniform share, in ppm. */
  val Ppm = 1000000L

  /** Broadcast the per-round rank table into the edge join when the
    * graph has at most this many nodes (~16 bytes/row -> <=16 MB
    * broadcast at the limit). */
  val BroadcastNodeLimit = 1000000L

  /** @param edges   directed weighted edges (positive weights)
    * @param dampingPct damping factor in percent (classic 85)
    * @param tolPpm  converged when the max per-node rank change is
    *                <= tolPpm (10 ppm = 1e-5 of a uniform share).
    *                NEGATIVE = fixed-iteration mode: run exactly
    *                `maxIterations` rounds with no convergence check —
    *                the mode an unrolled cross-engine oracle can
    *                re-derive round by round (q262's proof shape)
    * @return (id, rank_ppm) for every node appearing as src or dst
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      dampingPct: Int = 85, maxIterations: Int = 30,
      tolPpm: Long = 10L): DataFrame = {
    require(dampingPct > 0 && dampingPct < 100,
      s"dampingPct ($dampingPct) must be in (0, 100)")
    def now() = System.nanoTime()
    def secs(t0: Long) = f"${(now() - t0) / 1e9}%.2f"

    val tEdges = now()
    // the raw edge projection is staged FIRST: `edges` may be an
    // arbitrarily expensive upstream pipeline (q262's is a corpus
    // join+groupBy), and it used to be referenced three times — both
    // sides of the out-strength self-join plus the node derivation —
    // re-executing the pipeline each time. One eager staging, then
    // every derivation reads the staged blocks.
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w")),
      eager = true)
    // (src, dst, w, tw): weights plus per-src out-strength, staged once
    // at full session width — this is the data-heavy frame of the loop
    val ew = Staging.stage(
      e.join(e.groupBy(col("src")).agg(sum(col("w")).as("tw")), "src"),
      eager = true)
    val (nodes, n) = Staging.stageCounted(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    Staging.release(e)
    // dangling = nodes with no out-edges; their mass redistributes
    // uniformly each round (dropping it instead would leak total mass
    // and understate every rank)
    val dangling = Staging.stage(
      nodes.join(ew.select(col("src").as("id")).distinct(),
        Seq("id"), "left_anti"),
      eager = true)
    log.info(s"pagerank: edge/node staging ${secs(tEdges)}s (n=$n)")

    // width from the staged edge+strength frame's measured bytes: the
    // per-round contribution aggregate's map side is edge-sized, and
    // its reducer count must scale with the graph, not sit at a
    // local-mode constant (r14 verdict #1; guide §2.1/§2.2)
    Fixpoint.scope("pagerank", ew, nodes, dangling) {
      val base = (100L - dampingPct) * Ppm / 100L
      // the dangling flag rides the rank table so each round's single
      // measuring action also returns the next round's dangling mass;
      // round 0 (every rank at Ppm, r_prev = r) measures a zero delta
      // and dangling count × Ppm in the same single job
      Fixpoint.iterate("pagerank", "maxIterations or loosen tolPpm",
          maxIterations,
          nodes.join(dangling.select(col("id").as("__dg")),
              col("id") === col("__dg"), "left_outer")
            .select(col("id"), col("__dg").isNotNull.as("isd"),
              lit(Ppm).as("r_prev"), lit(Ppm).as("r")),
          Seq(coalesce(max(abs(col("r") - col("r_prev"))), lit(0L)),
            coalesce(sum(when(col("isd"), col("r"))), lit(0L))),
          _ => n,
          if (tolPpm >= 0) Some((_, next) => next.getLong(0) <= tolPpm)
          else None) { (ranks, prev, _) =>
        val dangShare = prev.getLong(1) / math.max(n, 1L)
        // exact floor(r*w/tw) without forming r*w (overflow headroom).
        // The rank table is one (id, r) row per node — when the node
        // count is broadcastable, hint it so the EDGE leaf (the frame
        // that is actually big) is never shuffled per round. At
        // sf-fixture sizes both plans cost about the same (8 shuffle
        // partitions, edges ~1M rows); the hint is for the 100x graph,
        // where re-shuffling the edge leaf R times is the dominant
        // cost. Above the threshold the shuffled join is the correct
        // plan: at 1e9 nodes the rank sliver no longer fits an
        // executor.
        val rankSide =
          if (n <= BroadcastNodeLimit) broadcast(ranks) else ranks
        val contrib = ew.join(rankSide, col("src") === col("id"))
          .select(col("dst"),
            expr("(r DIV tw) * w + ((r % tw) * w) DIV tw").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        ranks.select(col("id"), col("isd"), col("r").as("r_prev"))
          .join(contrib, col("id") === col("dst"), "left_outer")
          .select(col("id"), col("isd"), col("r_prev"),
            coalesce(col("inflow"), lit(0L)).as("inf0"))
          .select(col("id"), col("isd"), col("r_prev"),
            (lit(base) +
              expr(s"($dampingPct * (inf0 + $dangShare)) DIV 100"))
              .as("r"))
      }._1.select(col("id"), col("r").as("rank_ppm"))
    }
  }

  /** Personalized PageRank (PPR): the teleport distribution
    * concentrates on `seeds` instead of all nodes — the "affinity to
    * THIS set" primitive (similar-item ranking, boilerplate-source
    * tracing, spam-family expansion from known seeds). Fixed-iteration
    * only: PPR is gated cross-engine by an unrolled oracle (q305) and
    * a data-dependent round count is exactly what an unrolled oracle
    * cannot follow (the q262 rationale).
    *
    * Exact fixed-point arithmetic, total mass = n·Ppm (the uniform
    * loop's convention): round init gives every seed n·Ppm DIV s and
    * everyone else 0; each round
    *   r(v) = [v ∈ S]·((100−d)·n·Ppm DIV (100·s))
    *        + d·(inflow(v) + [v ∈ S]·(dangSum DIV s)) DIV 100
    * — teleport AND dangling mass both return to the seeds (the
    * standard PPR convention; dropping dangling mass would leak it,
    * sending it uniform would dilute personalization). The inflow
    * product uses the same overflow-safe floor(r·w/tw) decomposition
    * as [[run]], on the same [[Fixpoint]] loop.
    */
  def runPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int, dampingPct: Int = 85): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    require(dampingPct > 0 && dampingPct < 100,
      s"dampingPct ($dampingPct) must be in (0, 100)")
    // staged once — the upstream pipeline was re-executed by the
    // strength self-join and the node derivation (see run())
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w")),
      eager = true)
    val ew = Staging.stage(
      e.join(e.groupBy(col("src")).agg(sum(col("w")).as("tw")), "src"),
      eager = true)
    val seedIds = Staging.stage(
      seeds.select(col(seedCol).as("sid")).distinct(), eager = true)
    // node and seed counts ride the staging job
    val (nodes, counts) = Staging.stageMeasured(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
        .join(seedIds, col("id") === col("sid"), "left_outer")
        .select(col("id"),
          when(col("sid").isNotNull, 1L).otherwise(0L).as("isSeed")),
      Seq(count(lit(1)), count(when(col("isSeed") === 1L, true))))
    Staging.release(e)
    val n = counts.getLong(0)
    val sCnt = counts.getLong(1)
    require(sCnt > 0, "personalized pagerank needs >= 1 seed IN the graph")
    val dangling = Staging.stage(
      nodes.select(col("id"), col("isSeed"))
        .join(ew.select(col("src").as("id")).distinct(),
          Seq("id"), "left_anti"),
      eager = true)
    Fixpoint.scope("ppr", ew, nodes, dangling, seedIds) {
      val teleport = (100L - dampingPct) * n * Ppm / (100L * sCnt)
      // dangling flag rides the rank table (run()'s device): each
      // round's measuring aggregate is the next round's dangling mass.
      // Round 0's mass (dangling seeds hold n·Ppm DIV s each, others
      // 0) comes from the same aggregate over the initial table.
      Fixpoint.iterate("ppr", "rounds", rounds,
          nodes.join(dangling.select(col("id").as("__dg")),
              col("id") === col("__dg"), "left_outer")
            .select(col("id"), col("isSeed"),
              when(col("isSeed") === 1L, lit(n * Ppm / sCnt))
                .otherwise(lit(0L)).as("r"),
              col("__dg").isNotNull.as("isd")),
          Seq(coalesce(sum(when(col("isd"), col("r"))), lit(0L))),
          _ => n, None) { (ranks, prev, _) =>
        val dangSeedShare = prev.getLong(0) / sCnt
        val rankSide =
          if (n <= BroadcastNodeLimit) broadcast(ranks) else ranks
        val contrib = ew.join(rankSide, col("src") === col("id"))
          .select(col("dst"),
            expr("(r DIV tw) * w + ((r % tw) * w) DIV tw").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        ranks.select(col("id"), col("isSeed"), col("isd"))
          .join(contrib, col("id") === col("dst"), "left_outer")
          .select(col("id"), col("isSeed"), col("isd"),
            (when(col("isSeed") === 1L, lit(teleport)).otherwise(0L) +
              expr(s"($dampingPct * (coalesce(inflow, 0L) + " +
                s"if(isSeed = 1, ${dangSeedShare}L, 0L))) DIV 100")
            ).as("r"))
      }._1.select(col("id"), col("r").as("rank_ppm"))
    }
  }
}
