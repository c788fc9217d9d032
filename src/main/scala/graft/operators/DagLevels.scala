package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Longest-path (topological) levels of a DAG — dependency depth per
  * node: lvl(v) = 0 for sources, else 1 + max over predecessors. The
  * canonical consumer is an SCC condensation ([[Scc]]): how many
  * waves of mutually-cyclic groups feed a component — the
  * scheduling/causality depth of a trade, citation or provenance
  * graph.
  *
  * Synchronous integer fixed point: lvl₀ = 0 everywhere;
  * lvl_{k+1}(v) = max(lvl_k(v), 1 + max over in-arcs lvl_k(u)). Levels
  * only INCREASE and are bounded by the longest path, so the exact
  * DECIMAL(38,0) level sum is strictly monotone increasing until the
  * fixed point — join-free convergence (the CC trick mirrored), and
  * an unrolled SQL oracle replays rounds bit-for-bit (extra rounds
  * are no-ops). Rounds = longest-path length; on a CYCLIC input the
  * sum never settles and the loop FAILS LOUDLY at maxIterations —
  * levels are undefined there, never silently wrong.
  *
  * The loop runs on [[Fixpoint]].
  */
object DagLevels {

  /** @param edges DAG arcs (srcCol → dstCol)
    * @return (id, lvl) for every node appearing in any arc */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 100): DataFrame = {
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src") =!= col("dst")).distinct(),
      eager = true)
    val (nodes, _) = Staging.stageCounted(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    Fixpoint.scope("DAG levels", e, nodes) {
      Fixpoint.iterate("DAG levels",
          "maxIterations (or the input has a cycle)", maxIterations,
          nodes.withColumn("lvl", lit(0L)),
          Seq(coalesce(sum(col("lvl").cast(DecimalType(38, 0))),
            lit(0).cast(DecimalType(38, 0)))),
          Some(Fixpoint.unchanged)) { (d, _, _) =>
        val m = e.join(d.select(col("id").as("__u"), col("lvl").as("__ul")),
            col("src") === col("__u"))
          .groupBy(col("dst")).agg((max(col("__ul")) + 1).as("ml"))
        d.join(m, col("id") === col("dst"), "left_outer")
          .select(col("id"),
            greatest(col("lvl"), coalesce(col("ml"), lit(0L))).as("lvl"))
      }._1
    }
  }
}
