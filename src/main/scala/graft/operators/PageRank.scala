package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
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
  * Scale notes (100 TB): a round is ONE aggregate — the edge
  * contributions (edges joined to the broadcast rank table) unioned
  * with each node's own row, grouped by id — so it shuffles edge-sized
  * contribution rows and node-sized rank rows once, on id, with
  * partial aggregation on the map side; above [[BroadcastNodeLimit]]
  * the edge join shuffles too. The node table is one aggregate as well
  * (out-strength and out-edge count per id). The inflow product is
  * decomposed as
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
    val t0 = System.nanoTime()
    val (ew, nodes, n, _) = stageGraph(edges, srcCol, dstCol, wCol,
      identity, Nil)
    log.info(f"pagerank: edge/node staging " +
      f"${(System.nanoTime() - t0) / 1e9}%.2fs (n=$n)")

    // width from the staged edge+strength frame's measured bytes: the
    // per-round contribution aggregate's map side is edge-sized, and
    // its reducer count must scale with the graph, not sit at a
    // local-mode constant (r14 verdict #1; guide §2.1/§2.2)
    Fixpoint.scope("pagerank", ew, nodes) {
      val base = (100L - dampingPct) * Ppm / 100L
      // the dangling flag rides the rank table so each round's single
      // measuring action also returns the next round's dangling mass;
      // round 0 (every rank at Ppm, r_prev = r) measures a zero delta
      // and dangling count × Ppm in the same single job
      Fixpoint.iterate("pagerank", "maxIterations or loosen tolPpm",
          maxIterations,
          nodes.select(col("id"), col("isd"), lit(Ppm).as("r_prev"),
            lit(Ppm).as("r")),
          Seq(coalesce(max(abs(col("r") - col("r_prev"))), lit(0L)),
            coalesce(sum(when(col("isd"), col("r"))), lit(0L))),
          if (tolPpm >= 0) Some((_, next) => next.getLong(0) <= tolPpm)
          else None) { (ranks, prev, _) =>
        val dangShare = prev.getLong(1) / math.max(n, 1L)
        inflow(ew, ranks, n, col("isd"), col("r").as("r_prev"))
          .select(col("id"), col("isd"), col("r_prev"),
            (lit(base) +
              expr(s"($dampingPct * (inflow + $dangShare)) DIV 100"))
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
    * as [[run]], on the same [[Fixpoint]] loop and the same one-
    * aggregate round.
    */
  def runPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int, dampingPct: Int = 85): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    require(dampingPct > 0 && dampingPct < 100,
      s"dampingPct ($dampingPct) must be in (0, 100)")
    // the seed flag joins the node table inside its staging job, and
    // the seed count rides that job's measures with the node count
    val sid = seeds.select(col(seedCol).as("sid")).distinct()
    val (ew, nodes, n, counts) = stageGraph(edges, srcCol, dstCol, wCol,
      _.join(sid, col("id") === col("sid"), "left_outer")
        .select(col("id"), col("tw"), col("isd"),
          when(col("sid").isNotNull, 1L).otherwise(0L).as("isSeed")),
      Seq(count(when(col("isSeed") === 1L, true))))
    val sCnt = counts.getLong(0)
    Fixpoint.scope("ppr", ew, nodes) {
      require(sCnt > 0, "personalized pagerank needs >= 1 seed IN the graph")
      val teleport = (100L - dampingPct) * n * Ppm / (100L * sCnt)
      // dangling flag rides the rank table (run()'s device): each
      // round's measuring aggregate is the next round's dangling mass.
      // Round 0's mass (dangling seeds hold n·Ppm DIV s each, others
      // 0) comes from the same aggregate over the initial table.
      Fixpoint.iterate("ppr", "rounds", rounds,
          nodes.select(col("id"), col("isSeed"),
            when(col("isSeed") === 1L, lit(n * Ppm / sCnt))
              .otherwise(lit(0L)).as("r"),
            col("isd")),
          Seq(coalesce(sum(when(col("isd"), col("r"))), lit(0L))),
          None) { (ranks, prev, _) =>
        val dangSeedShare = prev.getLong(0) / sCnt
        inflow(ew, ranks, n, col("isSeed"), col("isd"))
          .select(col("id"), col("isSeed"), col("isd"),
            (when(col("isSeed") === 1L, lit(teleport)).otherwise(0L) +
              expr(s"($dampingPct * (inflow + " +
                s"if(isSeed = 1, ${dangSeedShare}L, 0L))) DIV 100")
            ).as("r"))
      }._1.select(col("id"), col("r").as("rank_ppm"))
    }
  }

  /** Stage what the loops read, in three eager jobs: the raw edges
    * `(src, dst, w)` once (`edges` may be an expensive upstream
    * pipeline, q262's a corpus join+groupBy, and both frames below read
    * it); the node table `(id, tw, isd, ...)` — ONE aggregate over
    * src-tagged `(id, w, 1)` and dst-tagged `(id, 0, 0)` rows gives each
    * node's out-strength `tw` and out-edge count, and a node is dangling
    * (`isd`) when that count is 0, whatever the weights; `extend` adds
    * the caller's columns and `measures` ride its staging job with the
    * node count; and `ew` `(src, dst, w, tw)`, the loop's data-heavy
    * frame: the edges joined to the node table, whose known row count
    * lets Catalyst broadcast it while it is small.
    * @return (ew, node table, node count, measures) */
  private def stageGraph(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, extend: DataFrame => DataFrame,
      measures: Seq[Column]): (DataFrame, DataFrame, Long, Row) = {
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w")),
      eager = true)
    try {
      val (nodes, n, m) = Staging.stageMeasured(
        extend(e.select(col("src").as("id"), col("w"), lit(1L).as("deg"))
          .unionByName(e.select(col("dst").as("id"), lit(0L).as("w"),
            lit(0L).as("deg")))
          .groupBy(col("id"))
          .agg(sum(col("w")).as("tw"), (sum(col("deg")) === 0L).as("isd"))),
        measures)
      val ew = try Staging.stage(
          e.join(nodes.select(col("id").as("src"), col("tw")), "src"),
          eager = true)
        catch { case t: Throwable => Staging.release(nodes); throw t }
      (ew, nodes, n, m)
    } finally Staging.release(e)
  }

  /** One round's single aggregate: each edge's contribution
    * `floor(r·w/tw)` from the rank table, tagged with its `dst`, unioned
    * with each node's own row (`carry` from `ranks`, contribution 0),
    * grouped by id — the candidate-union shape SCC and CC use. Returns
    * `(id, carry..., inflow)`; a node no edge points at has inflow 0.
    * The exact product decomposition bounds intermediates by tw·max(w)
    * (see the object doc). The rank table is one (id, r) row per node:
    * while the node count is broadcastable it is hinted, so the EDGE
    * leaf (the frame that is actually big) is never shuffled for the
    * join; at 1e9 nodes the rank sliver no longer fits an executor and
    * the shuffled join is the correct plan. */
  private def inflow(ew: DataFrame, ranks: DataFrame, n: Long,
      carry: Column*): DataFrame = {
    val own = ranks.select((col("id") +: carry :+ lit(0L).as("c")): _*)
    val carried = own.schema.fields.slice(1, carry.size + 1)
    val rs = ranks.select(col("id"), col("r"))
    val contrib = ew
      .join(if (n <= BroadcastNodeLimit) broadcast(rs) else rs,
        col("src") === col("id"))
      .select((col("dst").as("id") +:
        carried.map(f => lit(null).cast(f.dataType).as(f.name)) :+
        expr("(r DIV tw) * w + ((r % tw) * w) DIV tw").as("c")): _*)
    own.unionByName(contrib).groupBy(col("id"))
      .agg(sum(col("c")).as("inflow"),
        carried.map(f => max(col(f.name)).as(f.name)): _*)
  }
}
