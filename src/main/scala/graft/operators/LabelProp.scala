package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous weighted label propagation (LPA) for a FIXED number of
  * rounds — community detection over the near-dup graph, the standard
  * boilerplate-family pass (Raghavan et al. 2007, applied to
  * dedup-cluster graphs by every large-crawl curation pipeline).
  *
  * Every node starts labeled with its own id. Each round, every node
  * simultaneously adopts the label with the greatest total vote among
  * (a) its in-neighbors' PREVIOUS-round labels, each voting its edge
  * weight, and (b) the node's OWN previous label, voting the node's
  * maximum incident edge weight (ties → the smallest label). The self
  * vote is what makes the SYNCHRONOUS variant usable: textbook
  * neighbors-only LPA 2-cycles on every pair component (a and b swap
  * labels forever — measured on the real near-dup graph: 46 labels
  * over 47 nodes, i.e. no communities at all), which is why Raghavan's
  * original is asynchronous with random tie-breaks — both
  * non-starters for a deterministic cross-engine gate. Weighting the
  * self vote at the strongest incident edge means a switch requires
  * label mass STRICTLY exceeding the best single tie (a lone tied
  * neighbor loses to self; two moderate neighbors sharing a label
  * win), so pairs and cliques reach their min label in one round and
  * stay, while weak bridges between heavy communities never flip
  * them. All votes are integer sums and comparisons, so every round
  * is bit-exact regardless of partitioning or engine — the property
  * that lets an unrolled cross-engine SQL oracle re-derive the rounds
  * (q262's fixed-iteration proof shape).
  *
  * Fixed rounds rather than convergence: a data-dependent round count
  * is what an unrolled oracle cannot follow. K=3 reaches agreement
  * across any path of length 3 — the diameter of typical near-dup
  * families.
  *
  * The loop runs on [[Fixpoint]]; the label table carries its known row
  * count, so Catalyst itself broadcasts it into the per-round edge join
  * while it fits and shuffles it at 100× (`StagingStatsSpec` pins the
  * plan).
  */
object LabelProp {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** @param edges directed weighted edges; symmetrize upstream for an
    *              undirected graph (both directions, same weight)
    * @param rounds number of synchronous rounds (>= 1)
    * @return (id, label) for every node appearing as src or dst
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    def now() = System.nanoTime()
    def secs(t0: Long) = f"${(now() - t0) / 1e9}%.2f"

    val tEdges = now()
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w")),
      eager = true)
    val (nodes, n) = Staging.stageCounted(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    // self-vote strength: the node's strongest in-edge (on a
    // symmetrized graph = strongest incident edge); nodes with no
    // in-edge cast no self vote but also hear no neighbors — the
    // left-join coalesce keeps their label
    val selfW = Staging.stage(
      e.groupBy(col("dst")).agg(max(col("w")).as("mw"))
        .select(col("dst").as("sid"), col("mw")),
      eager = true)
    log.info(s"labelprop: edge/node staging ${secs(tEdges)}s (n=$n)")

    Fixpoint.scope("labelprop", e, nodes, selfW) {
      Fixpoint.iterate("labelprop", "rounds", rounds,
          nodes.withColumn("label", col("id")), Nil, None) {
          (labels, _, _) =>
        // no broadcast() hint: the staged label sliver carries its row
        // count (n) as statistics, so Catalyst plans the broadcast
        // itself (and plans the shuffled join when n outgrows the
        // threshold)
        val votes = e.join(labels, col("src") === col("id"))
          .select(col("dst"), col("label"), col("w"))
          .unionByName(selfW
            .join(labels, col("sid") === col("id"))
            .select(col("sid").as("dst"), col("label"),
              col("mw").as("w")))
        // winner = (max total vote, ties smallest label): the
        // lexicographic struct-min over (-f, label) IS that ordering —
        // bit-identical to the previous per-dst row_number window, but
        // both aggregation levels partial-aggregate map-side and
        // nothing sorts (guide §2.3; the KMeans.assignDist device).
        // Vote sums are positive longs, so the negation cannot
        // overflow.
        val best = votes.groupBy(col("dst"), col("label"))
          .agg(sum(col("w")).as("f"))
          .groupBy(col("dst"))
          .agg(min(struct((-col("f")).as("nf"), col("label").as("l")))
            .as("__m"))
          .select(col("dst"), col("__m.l").as("nl"))
        labels.join(best, col("id") === col("dst"), "left_outer")
          .select(col("id"),
            coalesce(col("nl"), col("label")).as("label"))
      }._1
    }
  }
}
