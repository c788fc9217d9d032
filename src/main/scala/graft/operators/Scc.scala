package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Strongly connected components of a DIRECTED graph by iterated
  * forward/backward min-label peeling — the deterministic multi-pivot
  * FW-BW scheme (Fleischer/Hendrickson/Pinar's divide-and-conquer
  * collapsed onto min-id pivots, the "coloring" family of Orzan-style
  * distributed SCC):
  *
  * Each PEEL round, over the still-active subgraph:
  *   f(v) = min node id REACHABLE FROM v  (forward min-label fixpoint)
  *   b(v) = min node id THAT REACHES v    (backward fixpoint)
  * A node with f(v) = b(v) = m reaches m and is reached by m, so
  * v ∈ SCC(m); conversely f and b are constant on an SCC, so whole
  * components assign atomically, and the assigned scc id is exactly
  * the component's minimum member id (m reaches v and v reaches m ⇒
  * m ∈ SCC(v); f(v) ≤ every id reachable ⇒ m = min(SCC)). Assigned
  * nodes peel off; the subgraph induced on the rest repeats. At least
  * the SCC of the globally minimal active node assigns every round
  * (its f and b are both that minimum), so the loop terminates in
  * ≤ #SCCs rounds — in practice a handful: the first peel takes the
  * giant SCC and every component whose min-labels already coincide,
  * and the residue is condensation-DAG debris whose depth, not size,
  * sets the remaining round count. Worst case (a pure path DAG) is
  * O(n) peels — the documented capacity bound, loud-failure guarded,
  * same honesty contract as [[Coreness]].
  *
  * Every quantity is an integer fixed point (labels only DECREASE,
  * assignment is an integer equality), so an unrolled SQL oracle
  * replays peel and propagation rounds bit-for-bit and rounds past
  * the fixed point are provably no-ops — the q262/q311/q312 proof
  * shape.
  *
  * Inner propagation is [[ConnectedComponents.minLabel]]'s loop on
  * directed edges with the same pointer-jumping shortcut — and the
  * hop join stays SOUND under direction because reachability is
  * transitive: f(v) = m means v reaches m, f(m) = k means m reaches
  * k, so k is a valid (reachable) candidate for v. The propagation loop
  * runs on [[Fixpoint]], and the peel loop inside the same loop scope.
  */
object Scc {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** BOTH directed min-label fixpoints — forward (f(v) = min id
    * reachable FROM v) and backward (b(v) = min id that REACHES v) —
    * in ONE loop over a single (id, f, b) label table. The two
    * columns' candidate streams (own label; neighbor labels along the
    * edge direction / against it; label-of-label path doubling from
    * round 3) union into one min-aggregate with NULLs on the
    * non-contributing side (min skips NULLs; the own stream feeds
    * both columns, so no result is NULL), so a round costs ONE Spark
    * job instead of two and the loop runs max(depth_f, depth_b)
    * rounds instead of their sum — rounds past one side's fixpoint
    * are provably no-ops for that side (labels are stationary there),
    * exactly the property the unrolled oracle already relies on.
    * Convergence is the joint monotone sum: f and b only ever
    * decrease, so sum(f) + sum(b) (DECIMAL(38,0)) is strictly
    * decreasing until BOTH sides are fixed. `er` must already be
    * restricted to the node set. Returns ((id, f, b) staged —
    * caller releases — and the number of ASSIGNED nodes (f = b) in the
    * converged table, which rides the SAME per-round measuring
    * aggregate so the peel loop needs no separate count job). */
  private def minReachBoth(er: DataFrame, nodes: DataFrame,
      maxIterations: Int): (DataFrame, Long) = {
    val dec = DecimalType(38, 0)
    val sumCol = coalesce(
      sum(col("f").cast(dec)) + sum(col("b").cast(dec)),
      lit(0).cast(dec))
    val doneCol = coalesce(
      sum(when(col("f") === col("b"), 1L).otherwise(0L)), lit(0L))
    val idType = nodes.schema("id").dataType
    def nullId = lit(null).cast(idType)
    val (labels, last) = Fixpoint.iterate("scc propagation",
        "maxIterations (reachability depth exceeds it)", maxIterations,
        nodes.select(col("id"), col("id").as("f"), col("id").as("b")),
        Seq(sumCol, doneCol), Some(Fixpoint.unchanged)) { (labels, _, i) =>
      // ONE direction-tagged edge probe serves both fixpoints (fwd
      // candidates flow dst→src, bwd src→dst): the union is exchange-
      // free, so a round plans 2 joins instead of 4 (with the hop
      // fusion below) — these sliver-loop jobs are dominated by
      // per-job plan/stage fixed cost at fixture scale, and the
      // candidate multiset is IDENTICAL (when() tags the
      // non-contributing side NULL exactly as the two separate
      // projections did)
      val eBoth = er
        .select(col("dst").as("__k"), col("src").as("__o"),
          lit(true).as("__isF"))
        .unionByName(er.select(col("src").as("__k"),
          col("dst").as("__o"), lit(false).as("__isF")))
      val edgeCand = eBoth.join(labels, col("__k") === col("id"))
        .select(col("__o").as("id"),
          when(col("__isF"), col("f")).otherwise(nullId).as("f"),
          when(!col("__isF"), col("b")).otherwise(nullId).as("b"))
      val base = labels.unionByName(edgeCand)
      // label-of-label path doubling, same fusion: one tagged probe
      // of the label table against itself instead of two hop joins
      val candidates =
        if (i < 2) base
        else {
          val probes = labels
            .select(col("f").as("__k"), col("id").as("__o"),
              lit(true).as("__isF"))
            .unionByName(labels.select(col("b").as("__k"),
              col("id").as("__o"), lit(false).as("__isF")))
          base.unionByName(probes
            .join(labels.select(col("id").as("__k2"),
              col("f").as("__f2"), col("b").as("__b2")),
              col("__k") === col("__k2"))
            .select(col("__o").as("id"),
              when(col("__isF"), col("__f2")).otherwise(nullId).as("f"),
              when(!col("__isF"), col("__b2")).otherwise(nullId)
                .as("b")))
        }
      candidates.groupBy(col("id"))
        .agg(min(col("f")).as("f"), min(col("b")).as("b"))
    }
    (labels, last.getLong(1))
  }

  /** Condensation edge list for a labeled graph: one arc per pair of
    * DISTINCT components connected by an edge (the standing state
    * [[incremental]] maintains alongside the labels). Corpus-sized
    * once at batch build; delta-bounded to maintain. */
  def condensationEdges(edges: DataFrame, labels: DataFrame,
      srcCol: String, dstCol: String): DataFrame =
    edges
      .join(labels.select(col("id").as("__s"), col("scc").as("csrc")),
        col(srcCol) === col("__s"))
      .join(labels.select(col("id").as("__d"), col("scc").as("cdst")),
        col(dstCol) === col("__d"))
      .select(col("csrc"), col("cdst"))
      .filter(col("csrc") =!= col("cdst")).distinct()

  /** Incremental SCC maintenance under edge INSERTIONS — the q307
    * (incremental CC) production shape on DIRECTED reachability.
    * Unlike undirected components, yesterday's labels alone cannot
    * absorb a delta: a new arc u→v merges every old SCC on a
    * v⇝…⇝u path, and the paths run through the old graph — so the
    * standing state is (labels, CONDENSATION edges). Contracting SCCs
    * preserves reachability, so the SCCs of corpus ∪ delta are exactly
    * the SCCs of condensation(corpus) ∪ quotient(delta) — a graph
    * bounded by #components + delta, never corpus edges (on cyclic
    * graphs the condensation is the small quotient; on a pure DAG it
    * is the graph itself, the honest lower bound for this problem).
    * Each merged group's new label = min over member labels = the
    * global min member id, [[run]]'s invariant — so delta == batch is
    * one hash (q349's oracle verbatim in the gate).
    *
    * Deletion is NOT supported (arc removal can split an SCC, which
    * needs a rebuild of the affected component) — insert-only, the
    * same contract as [[ConnectedComponents.incremental]].
    *
    * @return (labels', condensationEdges') — the maintained state pair
    */
  def incremental(standing: DataFrame, condEdges: DataFrame,
      deltaEdges: DataFrame, srcCol: String, dstCol: String,
      maxPeels: Int = 50, maxIterations: Int = 50)
      : (DataFrame, DataFrame) = {
    val de = Staging.stage(
      deltaEdges.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .filter(col("a") =!= col("b")).distinct(),
      eager = true)
    val ends = de.select(col("a").as("nid"))
      .unionByName(de.select(col("b").as("nid"))).distinct()
    // the endpoint lookup, quotient and final remap are
    // ConnectedComponents' own, over the scc label renamed to its
    // `component` column at the boundary
    val comps = standing.select(col("id"), col("scc").as("component"))
    val (found, newNodes) =
      ConnectedComponents.endpointComponents(comps, ends)
    val dq = ConnectedComponents
      .quotientEdges(de, found.unionByName(newNodes))
      .select(col("ca").as("csrc"), col("cb").as("cdst"))
    val quotient = Staging.stage(
      condEdges.select(col("csrc"), col("cdst")).unionByName(dq)
        .distinct(),
      eager = true)
    // SCC over the component-id quotient graph; groups that merge get
    // the min member label by construction
    val merged = run(quotient, "csrc", "cdst", maxPeels, maxIterations)
    val remap = Staging.stage(
      merged.filter(col("id") =!= col("scc"))
        .select(col("id").as("oldc"), col("scc").as("newc")),
      eager = true)
    // untouched labels pass through bit-identical (no remap row); new
    // nodes take their quotient label
    val labels = ConnectedComponents.applyRemap(comps, remap, newNodes)
      .select(col("id"), col("component").as("scc"))
    // maintained condensation: quotient arcs remapped, self-arcs drop
    val cond = quotient
      .join(broadcast(remap.withColumnRenamed("oldc", "__o1")
        .withColumnRenamed("newc", "__n1")),
        col("csrc") === col("__o1"), "left_outer")
      .join(broadcast(remap.withColumnRenamed("oldc", "__o2")
        .withColumnRenamed("newc", "__n2")),
        col("cdst") === col("__o2"), "left_outer")
      .select(coalesce(col("__n1"), col("csrc")).as("csrc"),
        coalesce(col("__n2"), col("cdst")).as("cdst"))
      .filter(col("csrc") =!= col("cdst")).distinct()
    Staging.release(de); Staging.release(found)
    (labels, cond)
  }

  /** Deletion-tolerant SCC maintenance — the decremental twin of
    * [[incremental]], closing the insert-only contract documented
    * there ([[ConnectedComponents.decremental]]'s shape on DIRECTED
    * reachability): arc removal can SPLIT an SCC, and a split needs a
    * rebuild — but only of the AFFECTED components.
    *
    * The key structural fact making "affected" small: every cycle is
    * intra-component (a cycle's nodes are mutually reachable, hence
    * one SCC), so a CROSS-component arc lies on no cycle and its
    * removal can never change membership — only intra-component
    * deletions can split. Deletion also never MERGES components
    * (reachability only shrinks), so SCCs of the surviving graph
    * refine the old partition and each touched component rebuilds
    * independently on its own induced surviving edges.
    *
    * Shape: touched components = labels owning a deleted
    * intra-component arc (one broadcast probe of the delta); the
    * corpus edge leaf streams ONCE through the directed anti-join +
    * two label probes + one broadcast touched-filter; [[run]] then
    * executes on the induced subgraph only (touched-component-sized,
    * never corpus-sized when deletions are local); untouched labels
    * pass through an anti-probe bit-identical; touched members whose
    * every intra-component edge vanished fall back to singletons via
    * the left-outer coalesce. New labels are min-member ids by
    * [[run]]'s invariant, so decremental == batch-over-survivors is
    * one hash (q349's oracle over the surviving edge set).
    *
    * @param standing (id, scc) — [[run]]'s output on `corpusEdges`
    * @return (id, scc) for every standing node
    */
  def decremental(standing: DataFrame, corpusEdges: DataFrame,
      deletedEdges: DataFrame, srcCol: String, dstCol: String,
      maxPeels: Int = 50, maxIterations: Int = 50): DataFrame = {
    val (del, _, _, _, labelsT) = decrementalParts(standing,
      corpusEdges, deletedEdges, srcCol, dstCol, maxPeels,
      maxIterations, forState = false)
    // here del IS fully absorbed (run()'s eager edge staging) — the
    // labels-only path never re-reads the anti-join
    Staging.release(del)
    labelsT.select(col("id"), col("scc"))
  }

  /** Shared internals of [[decremental]]/[[decrementalState]]:
    * (deletions [staged — caller owns the release], deletion quotient
    * under the OLD labels [state path only, else null — the same
    * staged (src, dst, cs, cd) probe that resolves `touched`, so the
    * state path's support decrement re-probes nothing], touched
    * components [staged], surviving edges [staged on the state path —
    * it is read twice there; lazy otherwise], labels' WITH a
    * touched-flag column [lazy: (id, scc, tflag) — tflag marks rows of
    * rebuilt components, exactly the mapping the state path's
    * re-quotient pass needs, so it no longer re-probes standing]).
    * Staged frames referenced by the returned lazy plans stay pinned
    * until the caller's Staging.sweep (the Staging object doc's
    * ownership convention). */
  private def decrementalParts(standing: DataFrame,
      corpusEdges: DataFrame, deletedEdges: DataFrame, srcCol: String,
      dstCol: String, maxPeels: Int, maxIterations: Int,
      forState: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val del = Staging.stage(
      deletedEdges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src") =!= col("dst")).distinct(),
      eager = true)
    // only an INTRA-component arc can sit on a cycle → only those
    // deletions can split; endpoints resolve through one broadcast
    // probe of the standing scan. The state path stages the labeled
    // deltas ONCE: touched (intra-component) and the support-decrement
    // quotient (cross-component) are two filters of the same probe —
    // previously two separate double-probes of standing.
    val delLabPlan = del
      .join(standing.select(col("id").as("__s"), col("scc").as("cs")),
        col("src") === col("__s"))
      .join(standing.select(col("id").as("__d"), col("scc").as("cd")),
        col("dst") === col("__d"))
      .select(col("src"), col("dst"), col("cs"), col("cd"))
    val delLab =
      if (forState) Staging.stage(delLabPlan, eager = true)
      else delLabPlan
    val delQ =
      if (forState)
        delLab.filter(col("cs") =!= col("cd"))
          .groupBy(col("cs").as("qa"), col("cd").as("qb"))
          .agg(count(lit(1)).as("qcnt"))
      else null
    val touched = Staging.stage(
      delLab.filter(col("cs") === col("cd"))
        .select(col("cs").as("tc")).distinct(),
      eager = true)
    val kept0 = corpusEdges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(del.select(col("src").as("__ds"), col("dst").as("__dd")),
        col("src") === col("__ds") && col("dst") === col("__dd"),
        "left_anti")
    // the state path reads the surviving leaf TWICE (induced subgraph
    // + the incident-arc re-quotient) — stage it once there; the
    // labels-only path reads it once and skips the copy
    val kept = if (forState) Staging.stage(kept0, eager = true) else kept0
    // induced surviving subgraph: both endpoints in the SAME touched
    // component (cross-component survivors cannot affect membership)
    val induced = kept
      .join(standing.select(col("id").as("__s2"), col("scc").as("c1")),
        col("src") === col("__s2"))
      .join(standing.select(col("id").as("__d2"), col("scc").as("c2")),
        col("dst") === col("__d2"))
      .filter(col("c1") === col("c2"))
      .join(broadcast(touched), col("c1") === col("tc"))
      .select(col("src"), col("dst"))
    val rebuilt = run(induced, "src", "dst", maxPeels, maxIterations)
    // tflag marks rebuilt-component membership: exactly the standing ⋈
    // touched split already computed here, carried through so the
    // state path's re-quotient needs no separate (id → new scc,
    // touched?) probe of standing
    val untouched = standing
      .join(broadcast(touched), col("scc") === col("tc"), "left_anti")
      .select(col("id"), col("scc"), lit(false).as("tflag"))
    val spliced = standing
      .join(broadcast(touched), col("scc") === col("tc"))
      .select(col("id"))
      .join(rebuilt.select(col("id").as("__r"), col("scc").as("newscc")),
        col("id") === col("__r"), "left_outer")
      .select(col("id"), coalesce(col("newscc"), col("id")).as("scc"),
        lit(true).as("tflag"))
    (del, delQ, touched, kept, untouched.unionByName(spliced))
  }

  /** Support-counted condensation arcs — the standing state a
    * DELETION-tolerant condensation needs where [[condensationEdges]]'
    * distinct arcs suffice for insertions: (csrc, cdst, support) with
    * support = number of distinct corpus arcs between the two
    * components. A cross-component deletion then updates the state by
    * decrementing support (dropping zeros) WITHOUT rescanning the
    * corpus — only arcs incident to a split component ever need
    * recomputation. */
  def condensationSupport(edges: DataFrame, labels: DataFrame,
      srcCol: String, dstCol: String): DataFrame =
    edges
      .join(labels.select(col("id").as("__s"), col("scc").as("csrc")),
        col(srcCol) === col("__s"))
      .join(labels.select(col("id").as("__d"), col("scc").as("cdst")),
        col(dstCol) === col("__d"))
      .filter(col("csrc") =!= col("cdst"))
      .groupBy(col("csrc"), col("cdst"))
      .agg(count(lit(1)).as("support"))

  /** [[decremental]] maintaining the FULL standing state
    * (labels, support-counted condensation arcs) — so the maintained
    * pair keeps feeding [[incremental]] after deletions, closing the
    * state lifecycle q357 opened.
    *
    * Arc maintenance is delta/affected-bounded, never corpus-bounded
    * beyond the one surviving-edge pass [[decremental]] already makes:
    *  - arcs between two UNTOUCHED components: old support minus the
    *    quotient count of deleted arcs between them (cross-component
    *    deletions change no membership, so the old arc keys stay
    *    valid); zero-support arcs drop;
    *  - arcs INCIDENT to a touched (possibly split) component: old
    *    keys may be stale, so they are recomputed definitionally from
    *    the surviving edges owning a touched endpoint, quotiented
    *    under the NEW labels — touched-member-edge-bounded.
    *
    * @param condSup [[condensationSupport]] of (corpusEdges, standing)
    * @return (labels' [staged — caller releases/sweeps], condSupport')
    */
  def decrementalState(standing: DataFrame, condSup: DataFrame,
      corpusEdges: DataFrame, deletedEdges: DataFrame, srcCol: String,
      dstCol: String, maxPeels: Int = 50, maxIterations: Int = 50)
      : (DataFrame, DataFrame) = {
    val (del, delQ, touched, kept, labelsT) = decrementalParts(standing,
      corpusEdges, deletedEdges, srcCol, dstCol, maxPeels,
      maxIterations, forState = true)
    // the state path staged both del-derived frames (delLab, kept), so
    // the raw deletion frame is fully absorbed — release it now
    Staging.release(del)
    // the spliced labels carry their touched-flag ((id, scc, tflag)) —
    // staged ONCE, they are simultaneously the returned labels and the
    // (node → new scc, touched?) mapping the re-quotient pass probes:
    // the old shape staged a second standing ⋈ labels ⋈ touched
    // mapping (one more staging job + two more standing probes). The
    // staged frame carries its row count, so the corpus-sized kept pass
    // probes it as a broadcast, not a shuffle; blocks stay pinned for
    // the returned lazy arc plan until the caller's Staging.sweep.
    val (labStaged, _) = Staging.stageCounted(labelsT)
    val labels = labStaged.select(col("id"), col("scc"))
    // support decrement for arcs between UNTOUCHED components, from
    // the deletion quotient decrementalParts already staged (delQ is
    // deletion-bounded — it rides a broadcast, the convention for
    // every delta-sized frame here)
    val untouchedArcs = condSup
      .join(broadcast(touched.select(col("tc").as("__t1"))),
        col("csrc") === col("__t1"), "left_anti")
      .join(broadcast(touched.select(col("tc").as("__t2"))),
        col("cdst") === col("__t2"), "left_anti")
      .join(broadcast(delQ),
        col("csrc") === col("qa") && col("cdst") === col("qb"),
        "left_outer")
      .select(col("csrc"), col("cdst"),
        (col("support") - coalesce(col("qcnt"), lit(0L))).as("support"))
      .filter(col("support") > 0)
    // surviving edges owning a touched endpoint, re-quotiented under
    // the new labels — ONE pass over the staged kept leaf, probing the
    // stats-carried label mapping on each endpoint
    val recomputed = kept
      .join(labStaged.select(col("id").as("__ms"), col("scc").as("ncs"),
        col("tflag").as("__f1")), col("src") === col("__ms"))
      .join(labStaged.select(col("id").as("__md"), col("scc").as("ncd"),
        col("tflag").as("__f2")), col("dst") === col("__md"))
      .filter(col("__f1") || col("__f2"))
      .filter(col("ncs") =!= col("ncd"))
      .groupBy(col("ncs").as("csrc"), col("ncd").as("cdst"))
      .agg(count(lit(1)).as("support"))
    (labels, untouchedArcs.unionByName(recomputed))
  }

  /** @param edges directed edges (src → dst), duplicates tolerated
    * @param maxPeels peel-round bound: ≤ #SCCs needed, condensation
    *                 depth in practice; O(n) on adversarial path DAGs
    * @return (id, scc) for every node appearing as src or dst — a node
    *         whose only edge is a self-loop is its own SCC; scc =
    *         the minimum node id of the component
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      maxPeels: Int = 50, maxIterations: Int = 50): DataFrame = {
    def now() = System.nanoTime()
    def secs(t0: Long) = f"${(now() - t0) / 1e9}%.2f"

    val tEdges = now()
    // staged as given: duplicates and self-loops are no-ops for the
    // min-label fixpoints (min over a repeated candidate is the
    // candidate; a self-loop adds the node's own label, already a
    // candidate), so normalizing them would be a pure extra exchange
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      eager = true)
    val (active, totalN) = Staging.stageCounted(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    var activeN = totalN
    log.info(s"scc: edge/node staging ${secs(tEdges)}s (n=$activeN)")

    Fixpoint.scope("scc", e, active) {
      // assignments accumulate across peels as FILTERS over each
      // peel's staged fused label table — no per-peel staging job, no
      // per-peel count job (the assigned count rides minReachBoth's
      // own measuring aggregate), one final staging of the union. The
      // fb tables stay pinned until that staging lands (or the peel
      // loop throws), then release.
      var assignedParts = List(
        active.filter(lit(false)).select(col("id"), col("id").as("scc")))
      var fbFrames = List.empty[DataFrame]
      var activeDf: DataFrame = active
      var peel = 0
      try {
        while (activeN > 0 && peel < maxPeels) {
          val tPeel = now()
          // the induced subgraph on active nodes. On peel 1 active IS
          // every endpoint of e by construction, so the restriction is
          // the identity — skip the two joins and the corpus-sized
          // restage outright (the scope keeps e alive)
          val er =
            if (peel == 0) e
            else Staging.stage(
              e.join(activeDf.select(col("id").as("__s")),
                  col("src") === col("__s"))
                .join(activeDf.select(col("id").as("__d")),
                  col("dst") === col("__d"))
                .select(col("src"), col("dst")),
              eager = true)
          // both fixpoints in one loop; a node with f = b = m is in
          // SCC(m) — a filter on the fused label table, no join. fb is
          // materialized (its last round's staging job ran), so the
          // induced edge leaf can release as soon as it returns
          val (fb, doneCnt) =
            try minReachBoth(er, activeDf, maxIterations)
            finally if (!(er eq e)) Staging.release(er)
          fbFrames ::= fb
          assignedParts ::= fb.filter(col("f") === col("b"))
            .select(col("id"), col("f").as("scc"))
          activeDf = fb.filter(col("f") =!= col("b")).select(col("id"))
          log.info(s"scc: peel ${peel + 1} ${secs(tPeel)}s " +
            s"(assigned $doneCnt, remaining ${activeN - doneCnt})")
          activeN -= doneCnt
          peel += 1
        }
        if (activeN > 0)
          throw new IllegalStateException(
            s"SCC did not finish within $maxPeels peel rounds " +
              s"($activeN nodes unassigned); raise maxPeels " +
              "(condensation depth exceeds it)")
        // the staged labels carry their row count (one per node), so
        // downstream joins against the standing table get a real size
        // estimate — a bare staged LogicalRDD defaults to an unbounded
        // one and forces sort-merge plans on every consumer
        Staging.stageCounted(assignedParts.reduce(_ unionByName _))._1
      } finally fbFrames.foreach(Staging.release)
    }
  }
}
