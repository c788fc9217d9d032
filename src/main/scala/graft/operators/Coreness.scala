package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core-number (k-core) decomposition by iterated neighborhood
  * H-indices (Lü, Chen, Zhang, Zhou & Stanley, "The H-index of a
  * network node and its relation to degree and coreness", Nature
  * Communications 2016): start every node at its degree and repeatedly
  * replace each node's value with the H-index of its neighbors'
  * values — the largest h such that at least h neighbors currently
  * hold a value ≥ h. The sequence is pointwise non-increasing and its
  * fixed point is exactly the node's core number, so the decomposition
  * needs no global peeling order — the property that makes k-core
  * distributable AND deterministic (bit-exact regardless of
  * partitioning), unlike the textbook sequential min-degree peel whose
  * intermediate states depend on removal order.
  *
  * Coreness is the dedup-curation tier's "how deep inside a template
  * family is this node" signal: degree counts neighbors, the
  * clustering coefficient (q297) measures local closure, PageRank
  * (q262) measures global flow — coreness measures the densest
  * subgraph a node survives in (boilerplate hubs sit in high cores;
  * incidental near-dup pairs peel at k=2).
  *
  * Each round is one equi-join of the staged edge leaf against the
  * per-node value sliver, one per-node descending sort window (the
  * H-index is max(min(rank, value)) over the sorted neighbor values),
  * and one aggregate — all integer comparisons, so an unrolled SQL
  * oracle re-derives every round exactly (q262's proof shape; extra
  * unrolled rounds past the fixed point are provably no-ops because
  * the fixed point is stable).
  *
  * The loop runs on [[Fixpoint]] with join-free convergence: values
  * only ever DECREASE, so an unchanged DECIMAL(38,0) value sum IS the
  * fixed point.
  *
  * Per-round cost at 100 TB: the only edge-sized stages are the value
  * join and the per-node sort window (both key-partitioned and
  * spillable); rounds needed = O(iterations of the H-index map) —
  * small in practice (4–6 on the fixture trade graph; short on the
  * short-diameter graphs curation builds), but the worst case is
  * diameter-LIKE, not degeneracy-bounded: on a long path the endpoint
  * 1-values propagate inward one hop per round (~n/2 rounds), so
  * capacity planning should budget O(diameter) rounds. maxIterations
  * defaults generously for that reason; exceeding it fails loudly,
  * never silently returns a non-fixed-point.
  */
object Coreness {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** @param edges DataFrame holding one row per directed edge; pass an
    *              already-symmetrized list for an undirected graph
    *              (both directions), as [[ConnectedComponents]] does.
    *              Parallel edges count toward degree once — the edge
    *              list is `distinct`-ed on (src, dst).
    * @return (id, core) — core = the node's core number (0 when the
    *         node has no incident edges after dedup, which cannot
    *         happen for nodes appearing in the edge list).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 200): DataFrame = {
    def now() = System.nanoTime()
    def secs(t0: Long) = f"${(now() - t0) / 1e9}%.2f"

    val tEdges = now()
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
      eager = true)
    log.info(s"coreness: edge staging ${secs(tEdges)}s")

    Fixpoint.scope("coreness", e) {
      val wDesc = Window.partitionBy(col("node")).orderBy(col("nv").desc)
      // v0 = degree (every node in a symmetrized edge list appears as
      // src, so the degree groupBy IS the node table)
      Fixpoint.iterate("coreness", "maxIterations", maxIterations,
          e.groupBy(col("src").as("id")).agg(count(lit(1)).as("v")),
          Seq(coalesce(sum(col("v").cast(DecimalType(38, 0))),
            lit(0).cast(DecimalType(38, 0)))),
          Some(Fixpoint.unchanged)) { (vals, _, _) =>
        // H-index of the neighbor multiset, over the per-node VALUE
        // HISTOGRAM instead of the raw neighbor list: for ranks
        // a..cum of a distinct value v (descending order), max over
        // the group of min(rank, v) is min(cum, v) — so
        // h = max over distinct values of min(cumcount, v),
        // bit-identical to ranking every neighbor row. The first
        // aggregate partial-aggregates map-side, so the window's
        // exchange and sort carry one row per (node, DISTINCT value)
        // — values contract toward small cores as rounds proceed —
        // instead of one row per neighbor (guide §2.3). Values are
        // distinct per node after the groupBy, so the ordered
        // window's RANGE frame equals ROWS.
        e.join(vals, col("dst") === col("id"))
          .select(col("src").as("node"), col("v").as("nv"))
          .groupBy(col("node"), col("nv"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(wDesc))
          .groupBy(col("node").as("id"))
          .agg(max(least(col("cum"), col("nv"))).as("v"))
      }._1.select(col("id"), col("v").as("core"))
    }
  }
}
