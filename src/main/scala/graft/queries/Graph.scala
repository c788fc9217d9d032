package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.{DataFrame, Encoders}

import graft.Exact._
import graft.operators.{ConnectedComponents, Coreness, DagLevels, Dedup,
  HopDistance, KMeans, LabelProp, PageRank, QualityLr, Scc, Staging, TextOps,
  Vectors}
import graft.sources.Tables
import graft.streaming.Streams

import Helpers.one

/** q310's stateful operator: the standing-component REGISTRY as
  * streaming state. Quotient edges (component-or-new-node id pairs)
  * arrive across micro-batches; state is a union-find over TOUCHED ids
  * only — delta-bounded, never corpus-bounded (the q286/q289 register
  * discipline on graphs). Roots are always the set MINIMUM, so the
  * final mapping is a pure function of the edge SET: batch order,
  * batch boundaries, and within-batch order cannot change it — which
  * is what lets one batch oracle gate the stream. Single logical key:
  * cross-component merges need a serialized merge point (exactly what
  * a production cluster registry is); the heavy lifting — pair
  * generation, component lookup — happened upstream in distributed
  * stages, and the registry sees only the delta-sized quotient. */
class CcRegistry(flushAtMs: Long)
    extends StatefulProcessor[
      Int, (Long, Long, Timestamp), (Long, Long)] {
  @transient private var parents: ListState[(Long, Long)] = _
  @transient private var armed: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    parents = getHandle.getListState[(Long, Long)]("parents",
      Encoders.product[(Long, Long)], TTLConfig.NONE)
    armed = getHandle.getValueState[Boolean]("armed",
      Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(key: Int,
      rows: Iterator[(Long, Long, Timestamp)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val p = scala.collection.mutable.LongMap[Long]()
    parents.get().foreach { case (id, root) => p(id) = root }
    def find(x: Long): Long = {
      var r = x
      while (p.getOrElse(r, r) != r) r = p(r)
      // path compression: point the chain at the root
      var c = x
      while (p.getOrElse(c, c) != r) { val n = p(c); p(c) = r; c = n }
      r
    }
    rows.foreach { case (ca, cb, _) =>
      if (ca != cb && ca >= 0) { // sentinel rows carry -1
        val ra = find(ca)
        val rb = find(cb)
        if (ra != rb) { // min root: the mapping stays order-independent
          val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
          p(hi) = lo
          p.getOrElseUpdate(lo, lo)
        } else { p.getOrElseUpdate(ra, ra); () }
        p.getOrElseUpdate(ca, find(ca)); p.getOrElseUpdate(cb, find(cb))
      }
    }
    // store fully compressed: every entry points straight at its root
    val flat = p.keysIterator.map(id => (id, find(id))).toArray
    parents.clear()
    if (flat.nonEmpty) parents.appendList(flat)
    if (!armed.exists()) {
      getHandle.registerTimer(flushAtMs)
      armed.update(true)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: Int, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long)] =
    parents.get()
}

/** Graph analytics over the trade graph (supplier ↔ supplier via shared
  * parts) and the near-duplicate document graph: connected components,
  * strongly connected components, PageRank (plain and personalized),
  * coreness, hop distance, label propagation, triangle / butterfly /
  * rich-club / assortativity profiles, and the incremental, decremental
  * and epoch maintenance of components.
  *
  * The iterated operators run on [[graft.operators.Fixpoint]]; each
  * oracle unrolls the same rounds in SQL (or, where the fixed point has
  * no bounded unroll, states it as a recursive CTE), so the gate checks
  * the distributed loop against a first-principles formulation.
  */
object Graph {

  /** Fixed-point scale: ranks in parts-per-million of uniform mass. */
  private val Ppm = 1000000L

  private val Seeds = 10

  private val Rounds = 3

  /** One unrolled PageRank round as a DuckDB CTE body: ranks from
    * `prev` (an expression over alias r — pass "1000000" for round 0's
    * uniform init with no join). */
  private def roundCte(name: String, prevCte: Option[String]): String = {
    val (joinPrev, rankExpr) = prevCte match {
      case Some(p) => (s"LEFT JOIN $p r ON r.node = e.src",
        "(r.r * e.w) // tw.tw")
      case None => ("", "(1000000 * e.w) // tw.tw")
    }
    s"""$name AS (SELECT n.node,
       |    150000 + (85 * COALESCE(SUM($rankExpr), 0)) // 100 AS r
       |  FROM n LEFT JOIN e ON e.dst = n.node
       |    LEFT JOIN tw ON tw.src = e.src
       |    $joinPrev
       |  GROUP BY 1)""".stripMargin
  }

  /** One unrolled LPA round as DuckDB CTEs: neighbor votes + the
    * max-incident-weight self vote, then argmax (ties -> min label). */
  private def lpRound(i: Int): String =
    s"""f$i AS (SELECT node, label, SUM(f) AS f FROM (
       |    SELECT e.b AS node, p.label, e.w AS f
       |    FROM edges e JOIN lp${i - 1} p ON p.node = e.a
       |    UNION ALL
       |    SELECT s.node, p.label, s.mw
       |    FROM selfw s JOIN lp${i - 1} p ON p.node = s.node) v
       |  GROUP BY 1, 2),
       |lp$i AS (SELECT node, label FROM (
       |    SELECT node, label, row_number() OVER (PARTITION BY node
       |      ORDER BY f DESC, label) AS rn FROM f$i) WHERE rn = 1)"""
      .stripMargin

  /** Seed suppliers: 1 <= s_suppkey <= SeedMax (TPC-H supplier keys
    * start at 1 — a 0-based range would seed only four live
    * suppliers). */
  private val SeedMax = 5

  /** One unrolled PPR round: teleport-to-seeds + damped inflow. */
  private def pprRound(name: String, prev: String): String =
    s"""$name AS (SELECT n.node,
       |    (CASE WHEN s.node IS NOT NULL
       |      THEN (15 * (SELECT COUNT(*) FROM n) * 1000000)
       |        // (100 * (SELECT COUNT(*) FROM seeds)) ELSE 0 END)
       |    + (85 * COALESCE(SUM((r.r * e.w) // tw.tw), 0)) // 100 AS r
       |  FROM n LEFT JOIN seeds s ON n.node = s.node
       |    LEFT JOIN e ON e.dst = n.node
       |    LEFT JOIN tw ON tw.src = e.src
       |    LEFT JOIN $prev r ON r.node = e.src
       |  GROUP BY n.node, s.node)""".stripMargin

  /** Delta split: ~a tenth of documents by content-independent id hash
    * (content hashes would couple the split to near-dup structure). */
  private def isDelta(c: org.apache.spark.sql.Column) =
    TextOps.hashMod(concat(lit("ccdelta:"), c.cast("string"))) <
      TextOps.P / 10

  /** Standing labels + delta edges, shared VERBATIM by q307 (batch
    * incremental) and q310 (streaming twin) so the two paths gate the
    * same graph against the same batch oracle. */
  private def ccParts(spark: org.apache.spark.sql.SparkSession,
      dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    // ONE staged df-capped shingle leaf feeds standing pairs AND the
    // delta probe (the q293 lesson: a shared upstream pipeline staged
    // by the caller, or every consumer pays it again)
    val cs = Staging.stage(
      Dedup.countedShingles(
        Dedup.shingleHashes(docs, "doc_id", "text"), "doc_id"),
      eager = true)
    // standing labels: batch CC over corpus-only pairs (yesterday)
    val corpusPairs = Dedup.jaccardPairsFromCounted(
        cs.filter(!isDelta($"doc_id")), "doc_id")
      .filter($"jaccard" >= 0.5)
      .select($"id_a", $"id_b")
    val standing = ConnectedComponents.minLabel(
      corpusPairs, "id_a", "id_b")
    // delta edges: the delta tenth probes the FULL shingle table —
    // the corpus side streams once, never self-joins (q156's shape)
    val dSide = cs.filter(isDelta($"doc_id"))
      .select($"doc_id".as("ida"), $"h", $"__n".as("na"))
    val aSide = cs.select($"doc_id".as("idb"), $"h".as("h2"),
      $"__n".as("nb"))
    val deltaEdges = dSide
      .join(aSide, $"h" === $"h2" && $"ida" =!= $"idb")
      .groupBy($"ida", $"idb")
      .agg(count(one).as("shared"), max($"na").as("na"),
        max($"nb").as("nb"))
      .filter($"shared".cast("double") /
        ($"na" + $"nb" - $"shared") >= 0.5)
      // delta-delta pairs appear in both orientations with identical
      // stats — canonicalize AFTER the aggregate, then distinct
      .select(least($"ida", $"idb").as("ea"),
        greatest($"ida", $"idb").as("eb"))
      .distinct()
    (standing, deltaEdges)
  }

  /** Full batch CC over corpus ∪ delta — q74's oracle verbatim: the
    * hash match IS the delta==batch equivalence proof. Shared by q307
    * and the streaming twin q310 (one oracle text, two engines paths —
    * the q192/q248 pattern). */
  private val ccOracle: String =
    s"""WITH RECURSIVE ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n, h
         |        FROM shc),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
         |    MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges0 AS (SELECT da, db FROM pairs
         |           WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5e0),
         |edges AS (SELECT da AS a, db AS b FROM edges0
         |          UNION SELECT db, da FROM edges0),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS member, MIN(dst) AS component
         |FROM reach GROUP BY 1""".stripMargin

  /** q289's timer geometry: rows 2h before the flush instant, sentinel
    * 2h after, watermark delay 1h. */
  private val FlushAtMs = 4102444800000L

  /** Shared trade-graph CTE prefix (q262/q305's construction):
    * customer node = 2c, supplier node = 2s+1, one undirected edge per
    * trading pair, both directions materialized. */
  private val GraphCtes =
    """b AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT CAST(2 * c AS BIGINT) AS src,
      |    CAST(2 * s + 1 AS BIGINT) AS dst FROM b
      |  UNION ALL SELECT CAST(2 * s + 1 AS BIGINT),
      |    CAST(2 * c AS BIGINT) FROM b)""".stripMargin

  /** One unrolled H-index round: rank neighbor values descending,
    * h = max(min(rank, value)). */
  private def coreRound(name: String, prev: String): String =
    s"""$name AS MATERIALIZED (SELECT node, MAX(LEAST(rn, nv)) AS v FROM (
       |  SELECT e.src AS node, c.v AS nv,
       |    row_number() OVER (PARTITION BY e.src ORDER BY c.v DESC) AS rn
       |  FROM e JOIN $prev c ON c.node = e.dst) GROUP BY node)""".stripMargin

  /** One unrolled min-plus BFS round (explicit CASE, no NULL-skipping
    * LEAST — the operator's relaxation line verbatim). */
  private def bfsRound(name: String, prev: String): String =
    s"""$name AS MATERIALIZED (SELECT d.node,
       |    CASE WHEN d.dist IS NULL THEN m.md
       |         WHEN m.md < d.dist THEN m.md ELSE d.dist END AS dist
       |  FROM $prev d LEFT JOIN (
       |    SELECT e.dst AS node, MIN(dn.dist) + 1 AS md
       |    FROM e JOIN $prev dn ON dn.node = e.src
       |    WHERE dn.dist IS NOT NULL GROUP BY 1) m
       |  ON m.node = d.node)""".stripMargin

  private def tradeEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String) = {
    import spark.implicits._
    val tt = Tables(spark, dir)
    val b = tt.orders.join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey".cast(LongType).as("c"),
        $"l_suppkey".cast(LongType).as("s"))
      .agg(count(lit(1)).as("w"))
    b.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
      .unionByName(b.select(($"s" * 2 + 1).as("src"), ($"c" * 2).as("dst")))
  }

  /** Full-graph BFS oracle — shared VERBATIM by q312 and q328 (the
    * incremental path must reproduce the batch answer in one hash). */
  private val BfsOracle =
      s"""WITH $GraphCtes,
         |n AS (SELECT DISTINCT src AS node FROM e),
         |seeds AS (SELECT node FROM n
         |          WHERE node % 2 = 1
         |            AND (node - 1) // 2 BETWEEN 1 AND $SeedMax),
         |d0 AS (SELECT n.node, CASE WHEN s.node IS NOT NULL
         |        THEN CAST(0 AS BIGINT) END AS dist
         |  FROM n LEFT JOIN seeds s ON n.node = s.node),
         |${bfsRound("d1", "d0")},
         |${bfsRound("d2", "d1")},
         |${bfsRound("d3", "d2")},
         |${bfsRound("d4", "d3")},
         |${bfsRound("d5", "d4")},
         |${bfsRound("d6", "d5")}
         |SELECT node % 2 AS kind, node // 2 AS key, dist
         |FROM d6""".stripMargin

  private val DegCap = 64

  /** Unrolled peel rounds (2 needed at both gate SFs + 1 no-op). */
  private val Peels = 3
  /** Unrolled plain-propagation rounds per direction (≤7 observed
    * without pointer jumping; extras are no-ops). */
  private val Inner = 10

  /** One plain min-label propagation round along `srcC` → adopt labels
    * seen at `dstC` (forward: src→dst; backward: swapped). The
    * explicit CASE mirrors the operator's min fold exactly. */
  private def reachRound(name: String, prev: String, e: String,
      srcC: String, dstC: String): String =
    s"""$name AS MATERIALIZED (SELECT p.node,
       |    CASE WHEN m.ml < p.l THEN m.ml ELSE p.l END AS l
       |  FROM $prev p LEFT JOIN (
       |    SELECT t.$srcC AS node, MIN(pl.l) AS ml
       |    FROM $e t JOIN $prev pl ON pl.node = t.$dstC GROUP BY 1) m
       |  ON m.node = p.node)""".stripMargin

  /** One peel round: restrict edges to the active set, run both
    * directed fixpoints, assign f = b, shrink the active set. */
  private def peelBlock(k: Int, act: String,
      inner: Int = Inner): String = {
    val e = s"e$k"
    def chain(pfx: String, srcC: String, dstC: String): String =
      (1 to inner).map(j =>
        reachRound(s"$pfx${k}_$j", s"$pfx${k}_${j - 1}", e, srcC, dstC))
        .mkString(",\n")
    Seq(
      s"""$e AS MATERIALIZED (SELECT t.src, t.dst FROM e0 t
         |  JOIN $act x ON t.src = x.node
         |  JOIN $act y ON t.dst = y.node)""".stripMargin,
      s"f${k}_0 AS (SELECT node, node AS l FROM $act)",
      chain("f", "src", "dst"),
      s"b${k}_0 AS (SELECT node, node AS l FROM $act)",
      chain("b", "dst", "src"),
      s"""d$k AS MATERIALIZED (SELECT f.node, f.l AS scc
         |  FROM f${k}_$inner f JOIN b${k}_$inner b
         |    ON b.node = f.node AND b.l = f.l)""".stripMargin,
      s"""act$k AS MATERIALIZED (SELECT x.node FROM $act x
         |  LEFT JOIN d$k d ON d.node = x.node
         |  WHERE d.node IS NULL)""".stripMargin).mkString(",\n")
  }

  /** CTE prefix of the SCC oracle (everything up to `sz`), exposed as
    * an explicit composable unit so q358 extends it structurally
    * instead of string surgery on the rendered SQL.
    *
    * BOUND GUARDS: the unroll depths (Peels × Inner)
    * are fixture-calibrated, so a deeper SF could silently outrun
    * them and make the ORACLE wrong while the adaptive Spark side is
    * right. `asg` therefore unions in sentinel rows that fire ONLY
    * when a bound was insufficient: one per (peel, direction) when
    * the last inner round was NOT a fixpoint (min-label propagation
    * is monotone, so a stationary round is a proof of convergence),
    * and one when the active set survives the last peel. A violated
    * bound surfaces as an impossible (-1|-2) node row — a loud rows
    * mismatch that implicates the oracle's unroll depth, never the
    * engine. */
  /** [[SccOracleCtes]] generalized over the graph header:
    * `header` must define CTEs `e0` (the directed edge set the peels
    * run on) and `n0` (the node universe — may be WIDER than e0's
    * endpoints: q365 seeds it with the pre-deletion node set, so nodes
    * stripped of every edge still assign as singletons in peel 1).
    * The unroll bounds stay guarded per (peel, direction) regardless
    * of the parameterization. */
  private def sccOracleCtesOver(header: String,
      peels: Int = Peels, inner: Int = Inner): String = {
    val peelsSql = (1 to peels)
      .map(k => peelBlock(k, if (k == 1) "n0" else s"act${k - 1}", inner))
      .mkString(",\n")
    val guards = (1 to peels).flatMap { k =>
      Seq("f", "b").map { pfx =>
        s"""SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
           |    WHERE EXISTS (SELECT 1 FROM ${pfx}${k}_$inner a
           |      JOIN ${pfx}${k}_${inner - 1} p
           |      ON p.node = a.node AND p.l <> a.l)""".stripMargin
      }
    } :+ s"""SELECT CAST(-2 AS BIGINT), CAST(-2 AS BIGINT)
            |    WHERE EXISTS (SELECT 1 FROM act$peels)""".stripMargin
    val asg = ((1 to peels).map(k => s"SELECT node, scc FROM d$k")
      ++ guards).mkString("\n  UNION ALL ")
    s"""$header,
       |$peelsSql,
       |asg AS MATERIALIZED ($asg),
       |sz AS (SELECT scc, CAST(COUNT(*) AS BIGINT) AS csize
       |       FROM asg GROUP BY 1)""".stripMargin
  }

  /** The directed trade-flow graph header (b → e0 → n0) shared by
    * every SCC oracle over the full graph. */
  private val TradeGraphCtes: String =
    """b AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey AS s,
      |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |e0 AS MATERIALIZED (SELECT CAST(2 * c AS BIGINT) AS src,
      |    CAST(2 * s + 1 AS BIGINT) AS dst FROM b
      |  UNION ALL SELECT CAST(2 * s + 1 AS BIGINT),
      |    CAST(2 * c AS BIGINT) FROM b WHERE ret = 1),
      |n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM (
      |    SELECT src FROM e0 UNION ALL SELECT dst FROM e0))""".stripMargin

  private val SccOracleCtes: String =
    sccOracleCtesOver(TradeGraphCtes)

  /** Final projection shared by every SCC-labels oracle (decodes the
    * 2k/2k+1 node encoding and joins the size tail). */
  private val SccFinalSelect: String =
    """SELECT node % 2 AS kind, node // 2 AS key,
      |  scc % 2 AS scc_kind, scc // 2 AS scc_key, sz.csize
      |FROM asg JOIN sz USING (scc)""".stripMargin

  private val SccOracle: String =
    s"""WITH $SccOracleCtes
       |$SccFinalSelect""".stripMargin

  /** Directed trade-flow edges from an orders subset: c→s for every
    * trading pair, s→c for pairs with a returned item. Shared with the
    * incremental twin q357 (corpus/delta splits union to exactly the
    * full graph, so both gate against [[SccOracle]] verbatim). */
  private def tradeFlowEdges(
      orders: org.apache.spark.sql.DataFrame,
      lineitem: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import orders.sparkSession.implicits._
    val b = orders
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey".cast(LongType).as("c"),
        $"l_suppkey".cast(LongType).as("s"))
      .agg(max(when($"l_returnflag" === "R", 1).otherwise(0)).as("ret"))
    b.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
      .unionByName(b.filter($"ret" === 1)
        .select(($"s" * 2 + 1).as("src"), ($"c" * 2).as("dst")))
  }

  /** Size tail shared with q357: groupBy + equi-join back, never a
    * window partitioned by a possibly-corpus-sized component. */
  private def sccOut(res: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import res.sparkSession.implicits._
    val sz = res.groupBy($"scc".as("__scc"))
      .agg(count(lit(1)).cast(LongType).as("csize"))
    res.join(sz, $"scc" === $"__scc")
      .select(($"id" % 2).as("kind"), expr("id DIV 2").as("key"),
        ($"scc" % 2).as("scc_kind"), expr("scc DIV 2").as("scc_key"),
        $"csize")
  }

  /** q361's deterministic edge-deletion predicate (content-independent
    * of the dup structure: hashes the canonical id pair). */
  private val DelFrac = 5L

  /** Supplier-hash deletion bound: ~1/4 of suppliers lose every
    * return back-edge (whole-source revocation, q361's DelFrac
    * convention keyed by supplier rather than edge so the deletion
    * actually splits the giant SCC instead of thinning it). */
  private val SccDelFrac = 4L

  /** q366's epoch hash denominator: the delete band is
    * [0, P/(2·EpochFrac)) and the insert band
    * [P/(2·EpochFrac), P/EpochFrac) — disjoint by construction from
    * ONE hash evaluation, so the net edge set is exactly
    * all ∖ delete-band. */
  private val EpochFrac = 8L

  private val DelPredSql =
    s"""src % 2 = 1 AND ${TextOps.oracleHashSql(
        "'sccdel:' || CAST(src // 2 AS VARCHAR)")}
       |      < ${TextOps.P / SccDelFrac}""".stripMargin

  /** Shared q366/q368 fixture derivation: (allEdges [staged], standing
    * corpus band, arriving band, delete band). */
  private def epochParts(spark: org.apache.spark.sql.SparkSession,
      dir: String) = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val cs = Staging.stage(
      Dedup.countedShingles(
        Dedup.shingleHashes(docs, "doc_id", "text"), "doc_id"),
      eager = true)
    val allEdges = Staging.stage(
      Dedup.jaccardPairsFromCounted(cs, "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b"),
      eager = true)
    Staging.release(cs)
    val h = TextOps.hashMod(concat(lit("ccepoch:"),
      $"id_a".cast("string"), lit(":"), $"id_b".cast("string")))
    val isIns = h >= lit(TextOps.P / (EpochFrac * 2)) &&
      h < lit(TextOps.P / EpochFrac)
    val corpus0 = allEdges.filter(!isIns)
    val ins = allEdges.filter(isIns)
    val del = corpus0.filter(h < lit(TextOps.P / (EpochFrac * 2)))
    (allEdges, corpus0, ins, del)
  }

  private lazy val EpochOracle: String =
      s"""WITH RECURSIVE ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n,
         |        h FROM shc),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |    COUNT(*) AS shared, MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges0 AS (SELECT da, db FROM pairs
         |           WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5e0),
         |ekeep AS MATERIALIZED (SELECT da, db FROM edges0
         |  WHERE NOT (${TextOps.oracleHashSql(
             "'ccepoch:' || CAST(da AS VARCHAR) || ':' || CAST(db AS VARCHAR)")}
         |    < ${TextOps.P / (EpochFrac * 2)})),
         |edges AS (SELECT da AS a, db AS b FROM ekeep
         |          UNION SELECT db, da FROM ekeep),
         |nodes0 AS (SELECT DISTINCT a AS id FROM (
         |    SELECT da AS a FROM edges0 UNION ALL SELECT db FROM edges0)),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes0
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS member, MIN(dst) AS component
         |FROM reach GROUP BY 1""".stripMargin

  private lazy val DecOracle: String = {
        val header =
          s"""b AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey AS s,
             |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |  GROUP BY 1, 2),
             |ea AS MATERIALIZED (SELECT CAST(2 * c AS BIGINT) AS src,
             |    CAST(2 * s + 1 AS BIGINT) AS dst FROM b
             |  UNION ALL SELECT CAST(2 * s + 1 AS BIGINT),
             |    CAST(2 * c AS BIGINT) FROM b WHERE ret = 1),
             |e0 AS MATERIALIZED (SELECT src, dst FROM ea
             |  WHERE NOT ($DelPredSql)),
             |n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM (
             |    SELECT src FROM ea UNION ALL SELECT dst FROM ea))""".stripMargin
        // deletion thins the back-edge side, so plain min-label
        // propagation runs deeper than the full graph's 10-round
        // unroll (the sentinel guard caught exactly this at sf0.01)
        // and the condensation grows a level — 4 peels x 18 rounds,
        // still guard-protected at every (peel, direction)
        s"""WITH ${sccOracleCtesOver(header,
              peels = 4, inner = 18)}
           |${SccFinalSelect}""".stripMargin
      }

  private lazy val CondOracle: String = {
        val header =
          s"""b AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey AS s,
             |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |  GROUP BY 1, 2),
             |ea AS MATERIALIZED (SELECT CAST(2 * c AS BIGINT) AS src,
             |    CAST(2 * s + 1 AS BIGINT) AS dst FROM b
             |  UNION ALL SELECT CAST(2 * s + 1 AS BIGINT),
             |    CAST(2 * c AS BIGINT) FROM b WHERE ret = 1),
             |e0 AS MATERIALIZED (SELECT src, dst FROM ea
             |  WHERE NOT ($DelPredSql)),
             |n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM (
             |    SELECT src FROM ea UNION ALL SELECT dst FROM ea))""".stripMargin
        // definitional: surviving arcs quotiented under the NEW labels
        // (the same 4x18 unroll as q365); the sentinel rows would not
        // survive the e0 join, so they are surfaced explicitly
        s"""WITH ${sccOracleCtesOver(header,
              peels = 4, inner = 18)}
           |SELECT la.scc % 2 AS a_kind, la.scc // 2 AS a_key,
           |  lb.scc % 2 AS b_kind, lb.scc // 2 AS b_key,
           |  CAST(COUNT(*) AS BIGINT) AS support
           |FROM e0 t JOIN asg la ON la.node = t.src
           |JOIN asg lb ON lb.node = t.dst
           |WHERE la.scc <> lb.scc
           |GROUP BY 1, 2, 3, 4
           |UNION ALL
           |SELECT node % 2, node // 2, node % 2, node // 2,
           |  CAST(node AS BIGINT)
           |FROM asg WHERE node < 0""".stripMargin
  }

  val all: Seq[Qry] = Seq(

    // ---- duplicate clusters: connected components over near-dup pairs -
    Qry(
      "q74_dup_clusters",
      s"""WITH RECURSIVE ${graft.operators.TextOps.oracleToksCte},
         |${graft.operators.TextOps.oracleSh3Cte},
         |${graft.operators.TextOps.oracleShCappedCte(
             graft.operators.Dedup.DefaultDfCap)},
         |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n, h
         |        FROM shc),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
         |    MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges0 AS (SELECT da, db FROM pairs
         |           WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5e0),
         |edges AS (SELECT da AS a, db AS b FROM edges0
         |          UNION SELECT db, da FROM edges0),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS member, MIN(dst) AS component
         |FROM reach GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val pairs = Dedup.jaccardPairs(
          Dedup.shingleHashes(Tables(spark, dir).documents, "doc_id", "text"),
          "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b")
      ConnectedComponents.minLabel(pairs, "id_a", "id_b")
        .select($"id".as("member"), $"component")
    },

    // ---- triangle count on the near-dup graph ---------------------------
    // Duplicate-graph quality diagnostic beyond q95's degree histogram:
    // triangles measure how clique-like the duplicate clusters are
    // (boilerplate hubs produce stars — many edges, few triangles; true
    // re-posts produce cliques). Ordered-edge enumeration — the standard
    // distributed algorithm: edges are canonical (a < b), so each
    // triangle a<b<c is counted exactly once by joining (a,b)⋈(b,c) and
    // closing with (a,c). Two equi-joins over the STAGED pair list, no
    // wedge ever materialized twice; at corpus scale the pair list (the
    // blocked near-dup output) is orders smaller than the corpus, and
    // the join fanout is bounded by the df-capped pair generation
    // upstream.
    Qry(
      "q146_triangle_count",
      s"""WITH ${graft.operators.TextOps.oracleToksCte},
         |${graft.operators.TextOps.oracleSh3Cte},
         |${graft.operators.TextOps.oracleShCappedCte(
             graft.operators.Dedup.DefaultDfCap)},
         |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n, h
         |        FROM shc),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
         |    MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |e AS (SELECT da, db FROM pairs
         |      WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5e0),
         |tri AS (SELECT COUNT(*) AS n_triangles
         |  FROM e e1 JOIN e e2 ON e1.db = e2.da
         |    JOIN e e3 ON e3.da = e1.da AND e3.db = e2.db),
         |deg AS (SELECT (SELECT COUNT(*) FROM e) AS n_edges,
         |    COUNT(DISTINCT node) AS n_nodes
         |  FROM (SELECT da AS node FROM e UNION ALL SELECT db FROM e))
         |SELECT n_nodes, n_edges, CAST(n_triangles AS BIGINT) AS n_triangles
         |FROM deg, tri""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import graft.operators.{Dedup, Staging}
      // the pair list is consumed three times (both wedge sides + the
      // closing join) and once more for the degree stats — staged once;
      // it sits above the whole shingle-join pipeline (cf. jaccardPairs)
      val e = Staging.stage(
        Dedup.jaccardPairs(
            Dedup.shingleHashes(Tables(spark, dir).documents, "doc_id", "text"),
            "doc_id")
          .filter($"jaccard" >= 0.5)
          .select($"id_a".as("da"), $"id_b".as("db")),
        eager = false)
      val wedges = e.select($"da", $"db")
        .join(e.select($"da".as("db2"), $"db".as("dc")),
          $"db" === $"db2")
        .select($"da", $"db", $"dc")
      val tri = wedges
        .join(e.select($"da".as("ta"), $"db".as("tc")),
          $"da" === $"ta" && $"dc" === $"tc")
        .agg(count(one).as("n_triangles"))
      val nodes = e.select($"da".as("node"))
        .unionAll(e.select($"db".as("node")))
        .agg(countDistinct($"node").as("n_nodes"))
      val nEdges = e.agg(count(one).as("n_edges"))
      nodes.crossJoin(nEdges).crossJoin(tri)
        .select($"n_nodes", $"n_edges", $"n_triangles")
    },

    // PageRank power-iteration step (q159): one step of weighted
    // PageRank over the customer→supplier purchase graph, in exact
    // FIXED-POINT arithmetic. A double formulation can never
    // hash-match across engines (per-node inflow is an
    // accumulation-order-dependent double sum, and unlike money
    // values the summands aren't 6-dp-exact), so the step is defined
    // in parts-per-million with BIGINT floor division — the same
    // move q81/q110 make by keeping regression moments integral. The
    // iterated loop lives in operators (ConnectedComponents shows the
    // loop discipline); the catalog pins one exactly-checkable step.
    // ---- one weighted-PageRank step, exact fixed-point ----------------
    // Edges: (custkey → suppkey) with multiplicity = lineitem count.
    // Starting from the uniform vector, one damped step in ppm units:
    //   inflow_ppm(d) = Σ_src  (1e6 · w(s,d)) DIV W(s)
    //   rank_ppm(d)   = 150000 + (85 · inflow_ppm(d)) DIV 100
    // Every operation is BIGINT (DIV = floor division in both
    // engines), so the result is bit-exact regardless of partial-agg
    // order. Scale shape: edge build = one orders⋈lineitem join
    // shuffled on orderkey; out-strength = agg on src; inflow = agg on
    // dst — the canonical two-shuffle PR step. Across iterations the
    // rank vector stays co-partitioned with edges on dst and only the
    // (node, rank) table moves; 1e6·w ≤ 9.2e18/|W| guards overflow up
    // to ~10^12-row per-src strength.
    Qry(
      "q159_pagerank_step",
      s"""WITH e AS (SELECT o_custkey AS src, l_suppkey AS dst,
         |    COUNT(*) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |os AS (SELECT src, SUM(w) AS tw FROM e GROUP BY 1),
         |inf AS (SELECT dst, COUNT(*) AS n_in,
         |    SUM(($Ppm * w) // tw) AS inflow_ppm
         |  FROM e JOIN os USING (src) GROUP BY 1)
         |SELECT dst AS suppkey, CAST(n_in AS BIGINT) AS n_in,
         |  CAST(inflow_ppm AS BIGINT) AS inflow_ppm,
         |  CAST(150000 + (85 * inflow_ppm) // 100 AS BIGINT) AS rank_ppm
         |FROM inf""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      // the edge list feeds BOTH the out-strength agg and the inflow
      // join — stage it so orders⋈lineitem runs once (the first plan
      // dump showed the full join+agg duplicated under each consumer);
      // an iterated PR loop would keep exactly this frame materialized
      val e = graft.operators.Staging.stage(
        tt.orders.join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_custkey".as("src"), $"l_suppkey".as("dst"))
          .agg(count(lit(1)).as("w")),
        eager = false)
      val os = e.groupBy($"src").agg(sum($"w").as("tw"))
      e.join(os, "src")
        .select($"dst", expr(s"($Ppm * w) DIV tw").as("c"))
        .groupBy($"dst")
        .agg(count(lit(1)).as("n_in"), sum($"c").as("inflow_ppm"))
        .select($"dst".as("suppkey"), $"n_in", $"inflow_ppm",
          (lit(150000L) + expr("(85 * inflow_ppm) DIV 100"))
            .as("rank_ppm"))
    },

    // Two-hop reach (q174): distinct customers reachable through a
    // shared supplier, for a bounded seed set — the collaborative-
    // filtering / influence-radius primitive. The expansion is the
    // graph analog of the dedup family's candidate bounding: seeds
    // broadcast, hops are equi-joins keyed on the intermediate node.
    // ---- bounded two-hop reach over the purchase graph ----------------
    // Edges = distinct (custkey, suppkey); seeds = top-10 customers by
    // supplier degree (deterministic tie-break on key). reach2 counts
    // distinct OTHER customers sharing any supplier with the seed. The
    // staged edge list feeds degree ranking AND both hop sides — one
    // orders⋈lineitem build. Scale shape: seeds broadcast; the hop join
    // is supplier-keyed (bounded by supplier in-degree — at true hub
    // scale the df-cap discipline from Dedup applies verbatim); the
    // distinct-reach aggregate is partial-aggregable.
    Qry(
      "q174_two_hop_reach",
      s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |deg AS (SELECT c, COUNT(*) AS degree FROM e GROUP BY 1),
         |seeds AS (SELECT c, degree FROM (
         |    SELECT c, degree, row_number() OVER (ORDER BY degree DESC, c)
         |      AS rn FROM deg) WHERE rn <= $Seeds),
         |hop AS (SELECT sd.c, sd.degree, e2.c AS c2
         |        FROM seeds sd
         |          JOIN e e1 ON sd.c = e1.c
         |          JOIN e e2 ON e1.s = e2.s AND e2.c <> sd.c)
         |SELECT c AS custkey, CAST(degree AS BIGINT) AS degree,
         |  COUNT(DISTINCT c2) AS reach2
         |FROM hop GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val e = Staging.stage(
        tt.orders.join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
          .select($"o_custkey".as("c"), $"l_suppkey".as("s")).distinct(),
        eager = false)
      val seeds = e.groupBy($"c").agg(count(lit(1)).as("degree"))
        .withColumn("rn", row_number().over(
          Window.orderBy($"degree".desc, $"c")))
        .filter($"rn" <= Seeds).drop("rn")
      seeds
        .join(e.select($"c", $"s"), "c")
        .join(e.select($"c".as("c2"), $"s".as("s2")),
          $"s" === $"s2" && $"c2" =!= $"c")
        .groupBy($"c", $"degree")
        .agg(countDistinct($"c2").as("reach2"))
        .select($"c".as("custkey"), $"degree", $"reach2")
    },

    // [[graft.operators.PageRank.run]] — the library's weighted
    // power iteration (staged edge leaf, per-round stage+release,
    // dangling-mass redistribution, exact integer-ppm rounds) has had
    // only spec coverage before; this query is its first
    // cross-engine oracle pairing. It runs R=3 FIXED rounds (the new
    // tolPpm<0 mode — convergence-gated round counts are data-
    // dependent and an unrolled SQL oracle cannot follow them) over
    // the customer<->supplier trade graph with BOTH edge directions,
    // so rank genuinely propagates round over round and no node
    // dangles (dangShare = 0 — the oracle text states the invariant
    // the graph construction guarantees). The oracle re-derives all
    // three rounds as unrolled CTEs — the q258/q187 proof shape
    // applied to graphs; floor(r·w/tw) spelled directly, equal to the
    // operator's overflow-safe decomposition by the division identity.
    // ---- the iterated PageRank operator, oracle-paired --------------------
    Qry(
      "q262_pagerank_train",
      s"""WITH b AS (SELECT o_custkey AS c, l_suppkey AS s,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |e AS (SELECT CAST(2 * c AS BIGINT) AS src,
         |    CAST(2 * s + 1 AS BIGINT) AS dst, w FROM b
         |  UNION ALL SELECT CAST(2 * s + 1 AS BIGINT),
         |    CAST(2 * c AS BIGINT), w FROM b),
         |tw AS (SELECT src, SUM(w) AS tw FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |${roundCte("r1", None)},
         |${roundCte("r2", Some("r1"))},
         |${roundCte("r3", Some("r2"))}
         |SELECT (node - 1) // 2 AS suppkey, CAST(r AS BIGINT) AS rank_ppm
         |FROM r3 WHERE node % 2 = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val b = tt.orders.join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_custkey".cast(LongType).as("c"),
          $"l_suppkey".cast(LongType).as("s"))
        .agg(count(lit(1)).as("w"))
      val edges = b.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"),
          $"w")
        .unionByName(b.select(($"s" * 2 + 1).as("src"), ($"c" * 2).as("dst"),
          $"w"))
      PageRank.run(edges, "src", "dst", "w",
          maxIterations = Rounds, tolPpm = -1L)
        .filter($"id" % 2 === 1)
        .select(expr("(id - 1) DIV 2").as("suppkey"), $"rank_ppm")
    },

    // [[graft.operators.LabelProp.run]] — K=3 fixed synchronous
    // LPA rounds over q74's near-dup graph (Jaccard ≥ 0.5 pairs,
    // symmetrized, edge weight = shared shingle count), the standard
    // boilerplate-family detector a crawl-curation pipeline runs after
    // dedup clustering. Weighted-majority label updates (with the
    // operator's max-incident-weight self vote — see LabelProp's scaladoc
    // for why neighbors-only synchronous LPA detects nothing) and
    // min-label tie-breaks are pure integer comparisons, so the oracle
    // re-derives
    // all three rounds as unrolled CTEs (q262's fixed-iteration proof
    // shape, applied to LPA), and the output carries each node's
    // connected component (q74's machinery) as the sanity column: LPA
    // communities always REFINE components — every community lives
    // inside one component, and the gate's exact rows pin where the
    // refinement splits dense families apart. The oracle's `edges`
    // CTE is declared MATERIALIZED: it is referenced ~7 times (three
    // vote rounds, self-weights, nodes, the recursive reach) and
    // DuckDB otherwise inlines the whole shingle-pair pipeline into
    // every reference — at the 10x heavy tier that re-evaluation
    // spilled past 79 GB of temp before running out of disk; one
    // materialization makes the heavy oracle feasible (measured).
    //
    // Scale shape: the expensive frame (the shingle→Jaccard pair
    // pipeline) is the SAME df-capped blocked join every dedup-family
    // query uses (no all-pairs anywhere); the LPA loop itself moves
    // one (id, label) row per node per round, broadcasts the label
    // sliver into the staged edge leaf (≤1M nodes), and releases each
    // round's blocks as the next lands — at 100× only the K edge-join
    // shuffles grow, exactly like q262's PageRank rounds.
    Qry(
      "q293_label_prop", {
        s"""WITH RECURSIVE ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
           |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id)
           |          AS n, h
           |        FROM shc),
           |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
           |    COUNT(*) AS shared, MAX(a.n) AS na, MAX(b.n) AS nb
           |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |ed0 AS (SELECT da, db, shared FROM pairs
           |        WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5e0),
           |edges AS MATERIALIZED (
           |          SELECT da AS a, db AS b, shared AS w FROM ed0
           |          UNION ALL SELECT db, da, shared FROM ed0),
           |nodes AS (SELECT DISTINCT a AS id FROM edges),
           |selfw AS (SELECT b AS node, MAX(w) AS mw FROM edges
           |          GROUP BY 1),
           |lp0 AS (SELECT id AS node, id AS label FROM nodes),
           |${lpRound(1)},
           |${lpRound(2)},
           |${lpRound(3)},
           |reach(src, dst) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
           |cc AS (SELECT src AS member, MIN(dst) AS component
           |       FROM reach GROUP BY 1)
           |SELECT l.node AS member, l.label, cc.component
           |FROM lp3 l JOIN cc ON cc.member = l.node""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // ONE shingle pipeline feeds both the LPA edges and the CC sanity
      // column — and the PAIR JOIN itself is staged here: jaccardPairs
      // stages only the shingle leaf, and LabelProp.run and
      // ConnectedComponents.minLabel each stage their edge input
      // EAGERLY, which without this would execute the pair join twice
      // (measured ~9 s at sf0.1; staged once it is paid once)
      val pairs = Staging.stage(
        Dedup.jaccardPairs(
            Dedup.shingleHashes(Tables(spark, dir).documents,
              "doc_id", "text"), "doc_id")
          .filter($"jaccard" >= 0.5)
          .select($"id_a", $"id_b", $"shared"),
        eager = false)
      val edges = pairs
        .select($"id_a".as("src"), $"id_b".as("dst"), $"shared".as("w"))
        .unionByName(pairs
          .select($"id_b".as("src"), $"id_a".as("dst"), $"shared".as("w")))
      val lpa = LabelProp.run(edges, "src", "dst", "w", rounds = Rounds)
        .select($"id".as("member"), $"label")
      val cc = ConnectedComponents.minLabel(
          pairs.select($"id_a", $"id_b"), "id_a", "id_b")
        .select($"id".as("ccid"), $"component")
      lpa.join(cc, $"member" === $"ccid")
        .select($"member", $"label", $"component")
    },

    // Local clustering coefficient over the near-dup graph —
    // cc(v) = 2·T(v) / (d(v)·(d(v)−1)) in ppm, the per-node density
    // number that separates "hub of a tight boilerplate family"
    // (cc→1) from "string of incidental matches" (cc→0); with q95
    // degrees, q146 global triangles, q74 components, q262 PageRank
    // and q293 LPA communities this completes the standard per-node
    // graph profile. All integer: T(v) counts neighbor pairs that
    // close, the ratio floors to ppm. Scale shape: the triangle join
    // is neighbor×neighbor per node over the SPARSE thresholded dup
    // graph (the same staged edge leaf every graph query shares) —
    // bounded by Σd(v)², never corpus rows; no all-pairs anywhere.
    // ---- local clustering coefficient --------------------------------------
    Qry(
      "q297_clustering_coeff",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id)
         |          AS n, h
         |        FROM shc),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |    COUNT(*) AS shared, MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ed0 AS (SELECT da, db FROM pairs
         |        WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5e0),
         |edges AS (SELECT da AS a, db AS b FROM ed0
         |          UNION ALL SELECT db, da FROM ed0),
         |deg AS (SELECT a AS v, COUNT(*) AS d FROM edges GROUP BY 1),
         |tri AS (SELECT e1.a AS v, COUNT(*) AS t
         |  FROM edges e1 JOIN edges e2
         |    ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
         |  GROUP BY 1)
         |SELECT deg.v AS member, CAST(d AS BIGINT) AS degree,
         |  CAST(COALESCE(t, 0) AS BIGINT) AS triangles,
         |  CAST(CASE WHEN d < 2 THEN 0
         |    ELSE 2000000 * COALESCE(t, 0) // (d * (d - 1)) END
         |    AS BIGINT) AS cc_ppm
         |FROM deg LEFT JOIN tri ON deg.v = tri.v""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val pairs = Dedup.jaccardPairs(
          Dedup.shingleHashes(Tables(spark, dir).documents,
            "doc_id", "text"), "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b")
      // the symmetrized edge list is the loop-shared leaf: degree scan,
      // both wedge sides and the closing-edge probe all read it
      val edges = Staging.stage(
        pairs.select($"id_a".as("a"), $"id_b".as("b"))
          .unionByName(pairs.select($"id_b".as("a"), $"id_a".as("b"))),
        eager = false)
      val deg = edges.groupBy($"a".as("v")).agg(count(lit(1)).as("d"))
      val tri = edges.select($"a".as("v"), $"b".as("u"))
        .join(edges.select($"a".as("v2"), $"b".as("w")),
          $"v" === $"v2" && $"u" < $"w")
        .join(edges.select($"a".as("x"), $"b".as("y")),
          $"x" === $"u" && $"y" === $"w")
        .groupBy($"v").agg(count(lit(1)).as("t"))
        .select($"v".as("tv"), $"t")
      deg.join(tri, $"v" === $"tv", "left")
        .select($"v".as("member"), $"d".cast(LongType).as("degree"),
          coalesce($"t", lit(0L)).cast(LongType).as("triangles"),
          when($"d" < 2, 0L)
            .otherwise(expr("2000000 * coalesce(t, 0) DIV (d * (d - 1))"))
            .cast(LongType).as("cc_ppm"))
    },

    // [[graft.operators.PageRank.runPersonalized]] over q262's
    // customer↔supplier trade graph, personalized to the five
    // lowest-key suppliers: teleport mass and dangling mass return to
    // the seeds instead of spreading uniformly, so the stationary-ish
    // ranks after R=3 fixed rounds measure "how close is this node to
    // THE SEED SUPPLIERS through trade volume" — the query behind
    // "customers like yours buy from…", boilerplate-source expansion
    // from known-bad seeds, and label spreading from a trusted core.
    // Exact integer ppm throughout (the q262 discipline: teleport =
    // (100−d)·n·Ppm DIV (100·s), inflow by the overflow-safe
    // floor(r·w/tw) identity), so the oracle re-derives all three
    // rounds as unrolled CTEs with the seed indicator joined per
    // round. The trade graph has no dangling nodes by construction
    // (both edge directions), so the dangling-to-seeds term is
    // provably zero here; the operator's handling of it is pinned by
    // PageRankSpec instead.
    //
    // Scale shape = q262's: staged edge leaf, per-round rank sliver
    // broadcast below 1M nodes, per-round stage+release; the seed
    // indicator is one extra column on the node sliver, not a new
    // frame.
    Qry(
      "q305_personalized_pagerank",
      s"""WITH b AS (SELECT o_custkey AS c, l_suppkey AS s,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |e AS (SELECT CAST(2 * c AS BIGINT) AS src,
         |    CAST(2 * s + 1 AS BIGINT) AS dst, w FROM b
         |  UNION ALL SELECT CAST(2 * s + 1 AS BIGINT),
         |    CAST(2 * c AS BIGINT), w FROM b),
         |tw AS (SELECT src, SUM(w) AS tw FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |seeds AS (SELECT node FROM n
         |          WHERE node % 2 = 1
         |            AND (node - 1) // 2 BETWEEN 1 AND $SeedMax),
         |r0 AS (SELECT n.node, CASE WHEN s.node IS NOT NULL
         |      THEN ((SELECT COUNT(*) FROM n) * 1000000)
         |        // (SELECT COUNT(*) FROM seeds) ELSE 0 END AS r
         |  FROM n LEFT JOIN seeds s ON n.node = s.node),
         |${pprRound("r1", "r0")},
         |${pprRound("r2", "r1")},
         |${pprRound("r3", "r2")}
         |SELECT (node - 1) // 2 AS suppkey, CAST(r AS BIGINT) AS rank_ppm
         |FROM r3 WHERE node % 2 = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val b = tt.orders.join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_custkey".cast(LongType).as("c"),
          $"l_suppkey".cast(LongType).as("s"))
        .agg(count(lit(1)).as("w"))
      val edges = b.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"),
          $"w")
        .unionByName(b.select(($"s" * 2 + 1).as("src"),
          ($"c" * 2).as("dst"), $"w"))
      val seeds = spark.range(1, SeedMax + 1)
        .select(($"id" * 2 + 1).as("sid"))
      PageRank.runPersonalized(edges, "src", "dst", "w",
          seeds, "sid", rounds = Rounds)
        .filter($"id" % 2 === 1)
        .select(expr("(id - 1) DIV 2").as("suppkey"), $"rank_ppm")
    },

    // Incremental (delta) connected components — standing dup-cluster
    // MAINTENANCE. The daily-crawl delta asymmetry existed at every INDEX
    // grain (q156 signatures, q196 vectors, q234 passages, q290 substring
    // windows) but the cluster graph itself still recomputed corpus-wide: a
    // crawl that adds documents forced a full re-run of q74's CC.
    //
    // The production shape — yesterday's standing (id, component)
    // labels + today's delta edges →
    // [[graft.operators.ConnectedComponents.incremental]], which runs
    // min-label CC over the DELTA-BOUNDED quotient graph (touched
    // components + new nodes) and broadcast-remaps the standing table
    // in one pass; the corpus edge list is never rebuilt and the
    // standing table is never shuffled. The gate is the q290 proof
    // shape on the graph: the oracle runs FULL batch CC over
    // corpus ∪ delta (q74's recursive-CTE stack verbatim over all
    // documents), so delta == batch is itself in-gate — one node
    // labeled differently by the incremental path hash-fails.
    //
    // Construction: documents split by a doc_id hash (a tenth are the
    // "new crawl"); standing labels = batch CC over corpus-only
    // near-dup pairs; delta edges = exact-Jaccard pairs TOUCHING a
    // delta doc, produced by probing the full shingle table with the
    // delta tenth (the q156 asymmetry — the corpus side streams once
    // and never self-joins). Both pair stages share ONE staged
    // df-capped shingle leaf, so their edge sets partition the batch
    // edge set exactly; the df snapshot is the CURRENT corpus ∪ delta
    // (a standing index refreshes document frequencies as it absorbs
    // deltas — the drift-vs-refresh tradeoff is an index concern, not
    // a CC concern, and the CC contract is what this query gates).
    //
    // Scale shape: corpus-sized work = the shingle leaf + the
    // delta-probe join keyed on shingle hash (delta-sized left side);
    // the quotient CC loop and the remap table are delta-bounded; the
    // standing table flows through exactly two broadcast hash joins.
    // `IncrementalCcSpec` pins the semantics (merge chains across
    // delta edges, new-node minima rewriting old components, internal
    // edges as no-ops) and that untouched components' labels pass
    // through bit-identical.
    Qry(
      "q307_incremental_cc",
      ccOracle) { (spark, dir) =>
      import spark.implicits._
      val (standing, deltaEdges) = ccParts(spark, dir)
      ConnectedComponents.incremental(standing, deltaEdges, "ea", "eb")
        .select($"id".as("member"), $"component")
    },

    // The STREAMING twin of q307's incremental connected components — the
    // incoming delta-edge stream updates the standing component table
    // through `transformWithState`.
    //
    // q307's quotient construction verbatim (shared helpers:
    // `ccParts`, `ConnectedComponents.endpointComponents` /
    // `quotientEdges` / `applyRemap` — batch and stream CANNOT drift),
    // but the quotient-graph CC runs as STREAMING STATE
    // ([[CcRegistry]]): quotient edges split across two micro-batches
    // by edge hash (so merge chains genuinely span batch boundaries —
    // the state carries half-merged components between batches) + the
    // far-future sentinel that closes the watermark and fires the
    // flush timer (q289's geometry). Union-find with min-roots makes
    // the registry a pure function of the edge set, so the stream
    // shares q307's batch oracle VERBATIM — the full recursive-CTE CC
    // over corpus ∪ delta. Stream == incremental == batch, all
    // in one hash.
    //
    // Scale shape: the state is the TOUCHED-component registry
    // (delta-bounded); the corpus-sized stages (shingle leaf, standing
    // scan, remap projection) are the same distributed passes as q307;
    // only the delta-sized quotient serializes through the registry —
    // the merge point any consistent cluster registry needs.
    Qry(
      "q310_stream_incremental_cc",
      ccOracle) { (spark, dir) =>
      import spark.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val (standing, deltaEdges) = ccParts(spark, dir)
        val de = Staging.stage(
          deltaEdges.select($"ea".as("a"), $"eb".as("b"))
            .filter($"a" =!= $"b").distinct(),
          eager = true)
        val ends = de.select($"a".as("nid"))
          .unionByName(de.select($"b".as("nid"))).distinct()
        val (found, newNodes) =
          ConnectedComponents.endpointComponents(standing, ends)
        val rEdges = Staging.stage(
          ConnectedComponents.quotientEdges(
            de, found.unionByName(newNodes)),
          eager = true)
        // stream the quotient edges in two hash-split batches: a merge
        // chain crossing the split exercises the carried registry state
        def part(p: Int) = rEdges.filter(
            pmod(hash($"ca", $"cb"), lit(2)) === p)
          .select($"ca", $"cb", lit(FlushAtMs - 7200000L).as("ms"))
        val sentinel = spark.range(1).select(lit(-1L).as("ca"),
          lit(-1L).as("cb"), lit(FlushAtMs + 7200000L).as("ms"))
        val srcDir = Streams.partedDir(s"$dir#q310",
          Seq(part(0), part(1), sentinel))
        val src = spark.readStream
          .schema(part(0).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .withColumn("ets", timestamp_millis($"ms"))
          .withWatermark("ets", "1 hour")
          .select($"ca", $"cb", $"ets")
          .as[(Long, Long, Timestamp)]
        val out = src.groupByKey(_ => 0)
          .transformWithState(new CcRegistry(FlushAtMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("oldc", "newc")
        val remap = Streams.runToMemory(out, "append")
          .filter($"oldc" =!= $"newc")
        ConnectedComponents.applyRemap(standing, remap, newNodes)
          .select($"id".as("member"), $"component")
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    },

    // The last two per-node graph-profile metrics — core number and
    // multi-source BFS hop distance — over q262's customer↔supplier trade
    // graph.
    //
    // Scale shape (both): staged symmetrized edge leaf (never
    // re-exchanged), per-round one edge-sized equi-join against a
    // stats-carrying one-row-per-node sliver (Catalyst broadcasts it
    // while small, shuffles at 100×), per-round stage+release, narrowed
    // loop shuffle width. Coreness adds one per-node descending sort
    // window per round (key-partitioned, spillable).
    //
    // [[graft.operators.Coreness]] — k-core decomposition by
    // iterated neighborhood H-indices (Lü et al. 2016: v0 = degree,
    // v_{t+1} = H-index of neighbors' v_t; the fixed point IS the core
    // number). Degree says how many partners a node has; coreness says
    // how dense a subgraph it survives in — the trade-ring signal
    // (high-core = mutually-dense commerce, core 1–2 = peripheral
    // one-off buyers), and on dedup graphs the boilerplate-hub depth.
    // The Spark side iterates adaptively to the fixed point (monotone
    // value-sum convergence, the CC discipline); the oracle unrolls 7
    // rounds — more than either gate SF needs (4 at sf0.01, 6 at
    // sf0.1), and rounds past the fixed point are provably no-ops
    // because the H-index map is stationary there, so adaptive == the
    // unrolled CTE in one hash.
    Qry(
      "q311_coreness",
      s"""WITH $GraphCtes,
         |c0 AS (SELECT src AS node, COUNT(*) AS v FROM e GROUP BY 1),
         |${coreRound("c1", "c0")},
         |${coreRound("c2", "c1")},
         |${coreRound("c3", "c2")},
         |${coreRound("c4", "c3")},
         |${coreRound("c5", "c4")},
         |${coreRound("c6", "c5")},
         |${coreRound("c7", "c6")}
         |SELECT node % 2 AS kind, node // 2 AS key, v AS core
         |FROM c7""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Coreness.run(tradeEdges(spark, dir), "src", "dst")
        .select(($"id" % 2).as("kind"), expr("id DIV 2").as("key"),
          $"core")
    },

    // [[graft.operators.HopDistance]] — multi-source BFS from
    // q305's five seed suppliers: dist = hops to the nearest trusted
    // seed, NULL if unreachable. PPR (q305) is weighted affinity to
    // the core; hop distance is its unweighted dual (introductions
    // away). Same adaptive-vs-unrolled proof shape: min-plus
    // relaxation settles in 4 rounds on both gate SFs; the oracle
    // unrolls 6.
    Qry("q312_hop_distance", BfsOracle) { (spark, dir) =>
      import spark.implicits._
      val seeds = spark.range(1, SeedMax + 1)
        .select(($"id" * 2 + 1).as("sid"))
      HopDistance.run(tradeEdges(spark, dir), "src", "dst", seeds, "sid")
        .select(($"id" % 2).as("kind"), expr("id DIV 2").as("key"),
          $"dist")
    },

    // Yesterday's standing (node, dist) table + today's delta
    // edges → today's exact hop distances, WITHOUT re-running BFS over
    // the corpus. Soundness is the insert-only monotonicity argument:
    // new edges only shorten distances, so the standing table is a
    // pointwise upper bound and warm-started min-plus relaxation
    // (seeds pinned at 0) converges to the exact new fixed point —
    // Bellman–Ford from an admissible estimate. Efficiency is the
    // frontier discipline: round 0 relaxes across the DELTA edges
    // only; each later round probes the staged full-edge leaf with
    // the FRONTIER (nodes improved last round) — a delta-bounded
    // sliver, so per-round work scales with the affected region.
    // Untouched nodes' rows pass through bit-identical (spec-pinned).
    //
    // Construction mirrors q307: orders split by key (a tenth are the
    // "new day's trades"); standing distances = batch BFS over the
    // corpus-only trade graph; delta edges = trading pairs that the
    // delta orders introduce. The oracle is q312's full-graph BFS CTE
    // stack VERBATIM over corpus ∪ delta — delta == batch is itself
    // in-gate, one hash. (The same (customer, supplier) pair can
    // appear in both corpus and delta orders; re-inserting an existing
    // edge is a no-op improvement, which the relaxation absorbs.)
    Qry("q328_incremental_hop_distance", BfsOracle) {
      (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      // ONE orders⋈lineitem pass builds the corpus, delta AND full
      // edge sets: grouped by (c, s, isDelta) and staged, all three
      // edge lists are slices of the staged pair sliver — the old
      // shape re-ran the corpus join+groupBy three times (corpus
      // slice, delta slice, tradeEdges for the full graph).
      // The q357 single-pass device (r14), applied to the BFS epoch.
      val b = graft.operators.Staging.stage(
        tt.orders.join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_custkey".cast(LongType).as("c"),
            $"l_suppkey".cast(LongType).as("s"),
            ($"o_orderkey" % 10 === 0).as("isDelta"))
          .agg(count(lit(1)).as("w")),
        eager = true)
      def edgesOf(slice: org.apache.spark.sql.DataFrame) =
        slice.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
          .unionByName(slice.select(($"s" * 2 + 1).as("src"),
            ($"c" * 2).as("dst")))
      val corpus = edgesOf(b.filter(!$"isDelta"))
      val delta = edgesOf(b.filter($"isDelta"))
      // full graph = distinct trading pairs across both slices (a pair
      // ordered in both slices appears once, exactly tradeEdges' set)
      val full = edgesOf(b.select($"c", $"s").distinct())
      val seeds = spark.range(1, SeedMax + 1)
        .select(($"id" * 2 + 1).as("sid"))
      val standing = HopDistance.run(corpus, "src", "dst", seeds, "sid")
      // seeds passed through: a seed supplier whose orders all landed
      // in the delta split would otherwise enter as a new node with
      // NULL distance and settle WRONG via other seeds;
      // on this fixture every seed has corpus orders, so the pin is a
      // behavioral no-op — same hash — but the operator contract is
      // airtight for arbitrary splits
      HopDistance.incremental(standing, full, delta, "src", "dst",
          seeds = Some(seeds), seedCol = "sid")
        .select(($"id" % 2).as("kind"), expr("id DIV 2").as("key"),
          $"dist")
    },

    // Butterfly (4-cycle) census of the customer↔supplier trade
    // graph — the bipartite clustering primitive: bipartite graphs
    // have NO triangles, so q297's clustering coefficient is
    // structurally zero there; butterflies (two customers sharing two
    // suppliers) are the right closure signal. wedges = Σₛ C(deg s, 2)
    // (customer pairs co-buying from one supplier); butterflies =
    // Σ_pairs C(shared, 2). The pair expansion is df-CAPPED at
    // suppliers with ≤ 64 distinct customers (the Dedup discipline —
    // a hub supplier contributes deg² pairs and says nothing about
    // local closure); capped-out suppliers are REPORTED in the result
    // row, not silently dropped. Output is one audit row: suppliers
    // used/capped, wedges, co-buying pairs, butterflies, and the
    // butterfly-to-wedge closure ratio in ppm.
    Qry(
      "q330_butterfly_census",
      s"""WITH b AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
         |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
         |d AS (SELECT s, COUNT(*) AS dc FROM b GROUP BY 1),
         |kept AS (SELECT s, dc FROM d WHERE dc <= $DegCap),
         |bk AS (SELECT b.s, b.c FROM b JOIN kept ON kept.s = b.s),
         |pairs AS (SELECT a.c AS c1, b2.c AS c2, COUNT(*) AS shared
         |  FROM bk a JOIN bk b2 ON a.s = b2.s AND a.c < b2.c
         |  GROUP BY 1, 2)
         |SELECT CAST((SELECT COUNT(*) FROM kept) AS BIGINT)
         |    AS n_suppliers_used,
         |  CAST((SELECT COUNT(*) FROM d WHERE dc > $DegCap) AS BIGINT)
         |    AS n_capped_out,
         |  CAST((SELECT SUM(dc * (dc - 1) // 2) FROM kept) AS BIGINT)
         |    AS wedges,
         |  CAST(COUNT(*) AS BIGINT) AS co_pairs,
         |  CAST(SUM(shared * (shared - 1) // 2) AS BIGINT)
         |    AS butterflies,
         |  CAST((1000000 * SUM(shared * (shared - 1) // 2))
         |    // (SELECT SUM(dc * (dc - 1) // 2) FROM kept) AS BIGINT)
         |    AS closure_ppm
         |FROM pairs""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val b = tt.lineitem
        .join(tt.orders, $"o_orderkey" === $"l_orderkey")
        .select($"l_suppkey".as("s"), $"o_custkey".as("c")).distinct()
      val d = b.groupBy($"s").agg(count(lit(1)).as("dc"))
      val kept = d.filter($"dc" <= DegCap)
      val bk = b.join(kept.select($"s"), "s")
      val pairs = bk.as("a")
        .join(bk.select($"s".as("s2"), $"c".as("c2")),
          $"s" === $"s2" && $"c" < $"c2")
        .groupBy($"c".as("c1"), $"c2")
        .agg(count(lit(1)).as("shared"))
      val keptStats = kept.agg(
        count(lit(1)).cast(LongType).as("n_suppliers_used"),
        sum(expr("dc * (dc - 1) DIV 2")).cast(LongType).as("wedges"))
      val cappedOut = d.filter($"dc" > DegCap)
        .agg(count(lit(1)).cast(LongType).as("n_capped_out"))
      pairs.agg(
          count(lit(1)).cast(LongType).as("co_pairs"),
          sum(expr("shared * (shared - 1) DIV 2")).cast(LongType)
            .as("butterflies"))
        .crossJoin(broadcast(keptStats))
        .crossJoin(broadcast(cappedOut))
        .select($"n_suppliers_used", $"n_capped_out", $"wedges",
          $"co_pairs", $"butterflies",
          expr("CAST((1000000 * butterflies) DIV wedges AS BIGINT)")
            .as("closure_ppm"))
    },

    // Degree assortativity of the trade graph — the Pearson
    // correlation of endpoint degrees across edges (Newman 2002), the
    // "do hubs trade with hubs" mixing signal completing the graph
    // profile's STRUCTURAL row (degree → coreness → clustering →
    // assortativity). Pearson needs a square root, so the query
    // reports the exact rational pieces instead: the sign of the
    // covariance numerator and r² in ppm —
    // 10⁶·(mΣxy−ΣxΣy)²/((mΣx²−(Σx)²)·(mΣy²−(Σy)²)) — the moments
    // accumulate exactly in DECIMAL(38,0) (they square past int64);
    // the final ratio's numerator exceeds 38 digits at sf0.1 edge
    // counts, so it alone converts to double (q342's device: one
    // correctly-rounded conversion per operand, identical in both
    // engines — caught by the bench's sf0.1 run, not the sf0.01
    // gate). On
    // the bipartite trade graph this reads customer-degree vs
    // supplier-degree mixing.
    Qry(
      "q338_degree_assortativity",
      """WITH b AS (SELECT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT CAST(2 * c AS BIGINT) AS src,
        |    CAST(2 * s + 1 AS BIGINT) AS dst FROM b
        |  UNION ALL SELECT CAST(2 * s + 1 AS BIGINT),
        |    CAST(2 * c AS BIGINT) FROM b),
        |d AS (SELECT src AS node, CAST(COUNT(*) AS HUGEINT) AS deg
        |  FROM e GROUP BY 1),
        |ed AS (SELECT dx.deg AS x, dy.deg AS y FROM e
        |  JOIN d dx ON dx.node = e.src JOIN d dy ON dy.node = e.dst),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
        |    SUM(y * y) AS syy FROM ed)
        |SELECT CAST(m AS BIGINT) AS n_edges,
        |  CAST(CASE WHEN m * sxy - sx * sy > 0 THEN 1
        |    WHEN m * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INTEGER)
        |    AS sign,
        |  CAST(round(1000000 * (CAST(m * sxy - sx * sy AS DOUBLE)
        |      * CAST(m * sxy - sx * sy AS DOUBLE))
        |    / (CAST(m * sxx - sx * sx AS DOUBLE)
        |      * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT)
        |    AS r2_ppm
        |FROM m""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = tradeEdges(spark, dir)
      val d = e.groupBy($"src".as("node"))
        .agg(count(lit(1)).cast(DecimalType(38, 0)).as("deg"))
      val ed = e
        .join(d.select($"node".as("nx"), $"deg".as("x")), $"src" === $"nx")
        .join(d.select($"node".as("ny"), $"deg".as("y")), $"dst" === $"ny")
      ed.agg(count(lit(1)).cast(DecimalType(38, 0)).as("m"),
          sum($"x").as("sx"), sum($"y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"))
        .select($"m".cast(LongType).as("n_edges"),
          expr("CAST(CASE WHEN m * sxy - sx * sy > 0 THEN 1 " +
            "WHEN m * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)")
            .as("sign"),
          expr("CAST(round(1000000 * (CAST(m * sxy - sx * sy " +
            "AS DOUBLE) * CAST(m * sxy - sx * sy AS DOUBLE)) " +
            "/ (CAST(m * sxx - sx * sx AS DOUBLE) " +
            "* CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT)")
            .as("r2_ppm"))
    },

    // Rich-club profile — for k ∈ {16, 32, 64}: the subgraph of
    // nodes with degree > k, its internal edge count, and its density
    // against both denominators: C(n,2) (the general rich-club
    // normalizer) and n_cust·n_supp (the bipartite maximum — the
    // trade graph cannot close customer–customer edges). "Do hubs
    // preferentially trade with hubs" at three thresholds, next to
    // q338's global mixing coefficient.
    Qry(
      "q343_rich_club",
      """WITH b AS (SELECT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT CAST(2 * c AS BIGINT) AS src,
        |    CAST(2 * s + 1 AS BIGINT) AS dst FROM b),
        |d AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT src AS node FROM e
        |    UNION ALL SELECT dst FROM e) GROUP BY 1),
        |ks AS (SELECT unnest([16, 32, 64]) AS k),
        |hi AS (SELECT ks.k, d.node FROM ks JOIN d ON d.deg > ks.k),
        |cnt AS (SELECT k, COUNT(*) AS nh,
        |    SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS nc,
        |    SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS ns
        |  FROM hi GROUP BY 1),
        |ew AS (SELECT h1.k, COUNT(*) AS m FROM e
        |  JOIN hi h1 ON h1.node = e.src
        |  JOIN hi h2 ON h2.node = e.dst AND h2.k = h1.k
        |  GROUP BY 1)
        |SELECT cnt.k, CAST(cnt.nh AS BIGINT) AS n_nodes,
        |  CAST(COALESCE(ew.m, 0) AS BIGINT) AS n_edges_within,
        |  CAST(CASE WHEN cnt.nh > 1 THEN (1000000 * COALESCE(ew.m, 0))
        |    // (cnt.nh * (cnt.nh - 1) // 2) END AS BIGINT)
        |    AS density_ppm,
        |  CAST(CASE WHEN cnt.nc * cnt.ns > 0
        |    THEN (1000000 * COALESCE(ew.m, 0)) // (cnt.nc * cnt.ns)
        |    END AS BIGINT) AS bipartite_density_ppm
        |FROM cnt LEFT JOIN ew ON ew.k = cnt.k""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val b = tt.orders.join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_custkey".cast(LongType).as("c"),
          $"l_suppkey".cast(LongType).as("s"))
        .agg(count(lit(1)).as("w"))
      val e = b.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
      val d = e.select($"src".as("node"))
        .unionByName(e.select($"dst".as("node")))
        .groupBy($"node").agg(count(lit(1)).cast(LongType).as("deg"))
      val ks = Seq(16L, 32L, 64L).toDF("k")
      val hi = broadcast(ks).join(d, $"deg" > $"k")
        .select($"k", $"node")
      val cnt = hi.groupBy($"k").agg(count(lit(1)).as("nh"),
        sum(when($"node" % 2 === 0, 1).otherwise(0)).as("nc"),
        sum(when($"node" % 2 === 1, 1).otherwise(0)).as("ns"))
      val ew = e
        .join(hi.select($"k".as("k1"), $"node".as("h1")),
          $"src" === $"h1")
        .join(hi.select($"k".as("k2"), $"node".as("h2")),
          $"dst" === $"h2" && $"k1" === $"k2")
        .groupBy($"k1".as("ke")).agg(count(lit(1)).as("m"))
      cnt.join(ew, $"k" === $"ke", "left_outer")
        .select($"k", $"nh".cast(LongType).as("n_nodes"),
          coalesce($"m", lit(0L)).cast(LongType).as("n_edges_within"),
          expr("CAST(CASE WHEN nh > 1 THEN (1000000 * COALESCE(m, 0)) " +
            "DIV (nh * (nh - 1) DIV 2) END AS BIGINT)")
            .as("density_ppm"),
          expr("CAST(CASE WHEN nc * ns > 0 THEN " +
            "(1000000 * COALESCE(m, 0)) DIV (nc * ns) END AS BIGINT)")
            .as("bipartite_density_ppm"))
    },

    // Strongly connected components of the DIRECTED trade-flow graph — the
    // cycle/ring question the undirected graph tier
    // (CC/coreness/BFS/LPA/triangles) cannot ask.
    //
    // Scale shape: the staged edge leaf is corpus-sized only in peel 1
    // (peeled components take their edges with them); label tables are
    // stats-carrying one-row-per-node slivers (Catalyst flips broadcast →
    // shuffle at 100×); convergence is the join-free monotone decimal
    // sum; the size tail is one groupBy + equi-join back, never a
    // window partitioned by a possibly-corpus-sized component.
    //
    // [[graft.operators.Scc]] over the directed trade graph:
    // customer→supplier edge for every trading pair (goods ordered),
    // supplier→customer BACK-edge only for pairs with a returned item
    // (l_returnflag = 'R') — the return flow closes cycles, so an SCC
    // is a maximal set of parties mutually reachable through
    // order/return chains: the circular-trading / link-farm detector
    // (on citation or dedup-provenance graphs, the citation-ring
    // finder). Output: every node's SCC id (the component's minimum
    // member, decoded to kind/key) plus the component size.
    //
    // Algorithm (deterministic multi-pivot FW-BW): per peel round, f = min
    // id reachable forward, b = min id reachable backward (both integer
    // min-label fixpoints over the active subgraph); nodes with f = b
    // belong to SCC(f) and peel off. The oracle unrolls 3 peel rounds × 10
    // plain propagation rounds per direction (the Spark side converges
    // adaptively — 2 peels, ≤5 pointer-jumped rounds at both gate SFs;
    // plain propagation needs a few more, and every round past a fixed
    // point is provably a no-op because labels are stationary there — the
    // q262/q311/q312 proof shape). All-integer labels, so the unrolled CTE
    // stack replays bit-for-bit; shared CTEs are MATERIALIZED (the
    // q293/q328 DuckDB re-inlining lesson).
    Qry("q349_scc_trade", SccOracle) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val e = tradeFlowEdges(tt.orders, tt.lineitem)
      sccOut(Scc.run(e, "src", "dst"))
    },

    // Incremental SCC maintenance — the q307/q328 production shape
    // (standing state + today's delta, never a corpus rebuild) on DIRECTED
    // reachability.
    //
    // Scale shape: the standing label table streams once through a
    // broadcast endpoint probe and once through the broadcast remap —
    // never shuffled or self-joined; the iterated loop runs on the
    // condensation-sized quotient (3 peels would be a catastrophe-free
    // worst case here: the trade condensation is 2 levels at every
    // tested SF).
    //
    // Yesterday's standing state is the PAIR the directed case
    // needs — (labels, condensation edges) — because a new arc u→v
    // merges every old component on a v⇝…⇝u path THROUGH THE OLD
    // GRAPH, which labels alone cannot see (the fundamental asymmetry
    // vs undirected CC, where labels are the whole reachability
    // story). Contracting SCCs preserves reachability, so the new
    // components are exactly the SCCs of condensation ∪
    // quotient(delta) — a graph bounded by #components + delta —
    // and each merged group's label collapses to the global min
    // member id, [[graft.operators.Scc.run]]'s invariant. The
    // corpus/delta split is q328's (orders by key mod 10); corpus ∪
    // delta edges reconstruct the full trade-flow graph exactly, so
    // the query gates against q349's oracle VERBATIM — delta == batch
    // is ONE hash. Insert-only, like CC.incremental (deletions can
    // split an SCC, which requires rebuilding the affected component).
    Qry("q357_incremental_scc", SccOracle) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      // ONE orders⋈lineitem pass builds both slices: grouping by
      // (c, s, isDelta) then slicing on the flag produces exactly the
      // per-slice (c, s, max-ret) pairs the two separate
      // tradeFlowEdges calls produced — which, with the condensation
      // pass below also re-reading `corpus`, re-executed the corpus
      // join+groupBy pipeline three times. Staged once; every
      // consumer reads the staged pair table. Not released in-query
      // (the returned plan reads it lazily); the harness's per-query
      // Staging.sweep owns the release.
      val b = Staging.stage(
        tt.orders
          .join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_custkey".cast(LongType).as("c"),
            $"l_suppkey".cast(LongType).as("s"),
            ($"o_orderkey" % 10 === 0).as("isDelta"))
          .agg(max(when($"l_returnflag" === "R", 1).otherwise(0))
            .as("ret")),
        eager = true)
      def edgesOf(slice: org.apache.spark.sql.DataFrame) =
        slice.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
          .unionByName(slice.filter($"ret" === 1)
            .select(($"s" * 2 + 1).as("src"), ($"c" * 2).as("dst")))
      val corpus = edgesOf(b.filter(!$"isDelta"))
      val delta = edgesOf(b.filter($"isDelta"))
      val standing = Scc.run(corpus, "src", "dst")
      val condE = Scc.condensationEdges(corpus, standing, "src", "dst")
      val (labels, _) =
        Scc.incremental(standing, condE, delta, "src", "dst")
      sccOut(labels)
    },

    // The condensation's causal depth, and the row-group-layout round trip
    // gated.
    //
    // Scale shape: q358's loop runs entirely on the condensation (4
    // nodes at sf0.01); q359 writes once, reads one row group back.
    //
    // Per-component topological depth of the trade graph's SCC
    // condensation ([[graft.operators.DagLevels]]): lvl = longest
    // chain of acyclic trade/return dependency feeding each
    // mutually-cyclic group — the causality/scheduling depth question
    // (which rings are upstream of which). Integer fixed point
    // (levels only increase; monotone decimal-sum convergence), so
    // the oracle unrolls 6 relaxation rounds over the same
    // condensation CTEs as q349 — all provably no-ops past the
    // longest path (2 levels at every tested SF). Output: one row per
    // component with its size and depth; components outside every
    // condensation arc sit at level 0 by definition (the relaxation's
    // own base case).
    Qry(
      "q358_condensation_depth", {
        def lvlRound(name: String, prev: String): String =
          s"""$name AS MATERIALIZED (SELECT p.node,
             |    GREATEST(p.lvl, COALESCE(m.ml, 0)) AS lvl
             |  FROM $prev p LEFT JOIN (
             |    SELECT c.cdst AS node, MAX(pl.lvl) + 1 AS ml
             |    FROM cond c JOIN $prev pl ON pl.node = c.csrc
             |    GROUP BY 1) m ON m.node = p.node)""".stripMargin
        val rounds = (1 to 6)
          .map(k => lvlRound(s"lv$k", s"lv${k - 1}")).mkString(",\n")
        // composes SccOracleCtes structurally (no string surgery on the
        // rendered SQL); the lv6=lv5
        // sentinel is the same bound-guard device — an insufficient
        // relaxation unroll fires an impossible row, loudly blaming
        // the oracle's depth rather than the engine
        s"""WITH ${SccOracleCtes}
           |SELECT node % 2 AS kind, node // 2 AS key, csize, lvl
           |FROM (
           |  WITH cond AS MATERIALIZED (
           |    SELECT DISTINCT sa.scc AS csrc, sb.scc AS cdst
           |    FROM e0 t JOIN asg sa ON sa.node = t.src
           |      JOIN asg sb ON sb.node = t.dst
           |    WHERE sa.scc <> sb.scc),
           |  lv0 AS (SELECT scc AS node, CAST(0 AS BIGINT) AS lvl
           |          FROM (SELECT DISTINCT scc FROM asg)),
           |  $rounds
           |  SELECT l.node, sz.csize, l.lvl
           |  FROM lv6 l JOIN sz ON sz.scc = l.node
           |  UNION ALL SELECT CAST(-2 AS BIGINT), CAST(-2 AS BIGINT),
           |    CAST(-2 AS BIGINT)
           |  WHERE EXISTS (SELECT 1 FROM lv6 a JOIN lv5 p
           |    ON p.node = a.node AND p.lvl <> a.lvl))""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      // staged once: the SCC run and the condensation pass both read
      // the edge leaf — unstaged, the corpus join+groupBy ran twice
      val e = Staging.stage(
        tradeFlowEdges(tt.orders, tt.lineitem), eager = true)
      val labels = Scc.run(e, "src", "dst")
      val cond = Scc.condensationEdges(e, labels, "src", "dst")
      val sz = labels.groupBy($"scc")
        .agg(count(lit(1)).cast(LongType).as("csize"))
      // every component seeds at level 0; arcs raise the reachable —
      // mirror the oracle's full-node base table via a left join
      val lv = DagLevels.run(cond, "csrc", "cdst")
        .select($"id".as("__lid"), $"lvl")
      sz.join(lv, $"scc" === $"__lid", "left_outer")
        .select(($"scc" % 2).as("kind"), expr("scc DIV 2").as("key"),
          $"csize", coalesce($"lvl", lit(0L)).as("lvl"))
    },

    // DELETION-TOLERANT cluster maintenance
    // ([[ConnectedComponents.decremental]] — the insert-only incremental
    // q307 cannot split a component): a deterministic fifth of the standing
    // near-dup edge set is deleted (content-independent edge hash); the
    // operator finds the touched components, re-runs batch min-label on the
    // surviving edges induced on those components ONLY, and splices —
    // untouched labels pass through bit-identical. The oracle is full batch
    // CC over the surviving edge set seeded with the ORIGINAL node set
    // (orphaned nodes keep a singleton row), so delta == batch is one hash
    // — q307's proof shape on the deletion side.
    Qry(
      "q361_decremental_cc",
      s"""WITH RECURSIVE ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n,
         |        h FROM shc),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |    COUNT(*) AS shared, MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges0 AS (SELECT da, db FROM pairs
         |           WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5e0),
         |ekeep AS MATERIALIZED (SELECT da, db FROM edges0
         |  WHERE NOT (${TextOps.oracleHashSql(
             "'ccdel:' || CAST(da AS VARCHAR) || ':' || CAST(db AS VARCHAR)")}
         |    < ${TextOps.P / DelFrac})),
         |edges AS (SELECT da AS a, db AS b FROM ekeep
         |          UNION SELECT db, da FROM ekeep),
         |nodes0 AS (SELECT DISTINCT a AS id FROM (
         |    SELECT da AS a FROM edges0 UNION ALL SELECT db FROM edges0)),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes0
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS member, MIN(dst) AS component
         |FROM reach GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val cs = Staging.stage(
        Dedup.countedShingles(
          Dedup.shingleHashes(docs, "doc_id", "text"), "doc_id"),
        eager = true)
      val allEdges = Staging.stage(
        Dedup.jaccardPairsFromCounted(cs, "doc_id")
          .filter($"jaccard" >= 0.5)
          .select($"id_a", $"id_b"),
        eager = true)
      val standing = ConnectedComponents.minLabel(
        allEdges, "id_a", "id_b")
      val deleted = allEdges.filter(
        TextOps.hashMod(concat(lit("ccdel:"),
          $"id_a".cast("string"), lit(":"), $"id_b".cast("string")))
          < lit(TextOps.P / DelFrac))
      ConnectedComponents.decremental(standing, allEdges, deleted,
          "id_a", "id_b")
        .select($"id".as("member"), $"component")
    },

    // Deletion-tolerant DIRECTED graph maintenance — the decremental half
    // of the SCC lifecycle, finishing what q361 did for undirected
    // components.
    //
    // Scale shape: touched components resolve through one broadcast
    // probe of the delta; the corpus edge leaf streams ONCE through the
    // directed anti-join + label probes; the rebuild runs on the induced
    // subgraph only (delta-component-bounded in production; the gate's
    // giant-SCC touch is gate construction, the q357 adjudication); the
    // splice is an anti-probe passthrough plus a left-outer singleton
    // fallback — never a second corpus shuffle. q367's arc maintenance
    // adds one pass over the SURVIVING edge leaf (the flag probes are
    // broadcasts) and a delta-sized quotient — the support counts are
    // what make the untouched-arc path corpus-free. q368's per-epoch
    // cost is exactly one decremental + one incremental on delta-sized
    // bands — the standing pair is re-staged (lineage-truncated) per
    // epoch so no epoch ever re-executes its predecessors.
    //
    // [[graft.operators.Scc.decremental]] over the directed
    // trade graph. The deletion fixture strips EVERY return back-edge
    // of a deterministic ~quarter of suppliers (supplier-keyed hash —
    // the shape a real pipeline sees when a source's provenance is
    // revoked wholesale): a supplier whose back-edges all vanish sits
    // on no cycle any more, so the giant order/return SCC genuinely
    // SPLITS — the case the insert-only incremental (q357) documents
    // as needing a rebuild. The operator rebuilds ONLY the touched
    // components (those owning a deleted intra-component arc):
    // cross-component arcs lie on no cycle (a cycle's nodes are
    // mutually reachable, hence one SCC), so their deletion can never
    // change membership — and deletion never merges (reachability
    // only shrinks), so every touched component rebuilds
    // independently on its own induced surviving edges while
    // untouched labels pass through bit-identical.
    //
    // Oracle: q349's unrolled FW-BW peeling replayed over the
    // SURVIVING edge set with the node universe seeded from the
    // PRE-deletion graph ([[sccOracleCtesOver]] — nodes
    // stripped of every edge still assign as singletons in peel 1),
    // so decremental == batch-over-survivors is one hash: q361's
    // proof shape on directed reachability. The unroll-bound sentinel
    // guards stay active per (peel, direction).
    Qry(
      "q365_decremental_scc", DecOracle) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val eAll = Staging.stage(
        tradeFlowEdges(tt.orders, tt.lineitem), eager = true)
      val standing = Scc.run(eAll, "src", "dst")
      val deleted = eAll.filter($"src" % 2 === 1 &&
        TextOps.hashMod(concat(lit("sccdel:"),
          expr("src DIV 2").cast("string")))
          < lit(TextOps.P / SccDelFrac))
      val labels = Scc.decremental(standing, eAll, deleted,
        "src", "dst")
      val out = sccOut(labels)
      Staging.release(eAll)
      out
    },

    // The CC MAINTENANCE EPOCH — one standing near-dup cluster
    // table absorbs deletions AND insertions in a single maintenance
    // step (the daily-crawl reality: provenance revocations arrive
    // together with the new crawl): [[ConnectedComponents.decremental]]
    // applies the delete band, then [[ConnectedComponents.incremental]]
    // absorbs the arriving band on the spliced labels — composition is
    // exact because the decremental output IS a valid standing state
    // for the incremental contract. One epoch hash splits the edge set
    // into disjoint delete/arrive/standing bands, so the oracle is
    // batch CC over (all ∖ delete-band) seeded with every node — the
    // q361 proof shape for the full epoch.
    Qry(
      "q366_cc_epoch", EpochOracle) { (spark, dir) =>
      import spark.implicits._
      val (allEdges, corpus0, ins, del) = epochParts(spark, dir)
      val standing = ConnectedComponents.minLabel(corpus0,
        "id_a", "id_b")
      val lab1 = Staging.stage(
        ConnectedComponents.decremental(standing, corpus0, del,
          "id_a", "id_b"),
        eager = true)
      val labels = ConnectedComponents.incremental(lab1, ins,
        "id_a", "id_b")
      Staging.release(allEdges)
      labels.select($"id".as("member"), $"component")
    },

    // The CDC STREAMING twin of q366 — delete and arrival records
    // interleave across two hash-split micro-batches, and each foreachBatch
    // epoch applies decremental-then-incremental to the carried (corpus,
    // labels) standing pair. The second batch's deletions run against a
    // corpus the first batch already extended, so the state genuinely spans
    // batch boundaries; the net edge set is band-disjoint, so the stream
    // shares q366's batch oracle VERBATIM (the q314/q347 twin convention).
    // This is the op the union-find registry (q310) cannot be: deletion is
    // non-monotone, so the streaming shape is per-batch maintenance of
    // distributed state, not a monotone in-operator register.
    Qry(
      "q368_stream_cc_cdc", EpochOracle) { (spark, dir) =>
      import spark.implicits._
      val (_, corpus0, ins, del) = epochParts(spark, dir)
      var corpus = Staging.stage(
        corpus0.select($"id_a", $"id_b"), eager = true)
      var labels = Staging.stage(
        ConnectedComponents.minLabel(corpus0, "id_a", "id_b"),
        eager = true)
      // CDC rows: deletes and arrivals INTERLEAVED across two
      // hash-split micro-batches, so the second epoch's deletions run
      // against a corpus the first epoch already extended — the state
      // carried between batches is the (corpus, labels) pair itself
      val cdc = del
        .select(lit("d").as("op"), $"id_a", $"id_b")
        .unionByName(ins
          .select(lit("i").as("op"), $"id_a", $"id_b"))
      def part(p: Int) = cdc.filter(
        pmod(hash($"id_a", $"id_b"), lit(2)) === p)
      val srcDir = Streams.partedDir(s"$dir#q368",
        Seq(part(0), part(1)))
      val src = spark.readStream
        .schema(part(0).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = src.writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val dels = batch.filter(col("op") === "d")
              .select(col("id_a"), col("id_b"))
            val insB = batch.filter(col("op") === "i")
              .select(col("id_a"), col("id_b"))
            // within an epoch: revocations first, then arrivals (the
            // bands are disjoint, so the net set is order-free)
            val lab1 = Staging.stage(
              ConnectedComponents.decremental(labels, corpus, dels,
                "id_a", "id_b"),
              eager = true)
            val corpus1 = Staging.stage(
              corpus.join(dels
                  .select(col("id_a").as("__xa"), col("id_b").as("__xb")),
                col("id_a") === col("__xa") &&
                  col("id_b") === col("__xb"), "left_anti")
                .unionByName(insB),
              eager = true)
            val lab2 = Staging.stage(
              ConnectedComponents.incremental(lab1, insB,
                "id_a", "id_b"),
              eager = true)
            Staging.release(labels); Staging.release(corpus)
            Staging.release(lab1)
            labels = lab2
            corpus = corpus1
        }.start()
      try { q.processAllAvailable() } finally q.stop()
      labels.select($"id".as("member"), $"component")
    },

    // SCC STANDING-STATE maintenance under deletion —
    // [[graft.operators.Scc.decrementalState]] maintains the
    // (labels, SUPPORT-COUNTED condensation arcs) pair q357's
    // incremental consumes, closing the state lifecycle: arcs between
    // untouched components adjust by the deletion quotient's counts
    // (cross-component deletions never change membership, so the old
    // keys stay valid — no corpus rescan); arcs incident to a split
    // component are recomputed from the touched members' surviving
    // edges under the new labels. Oracle is DEFINITIONAL: surviving
    // arcs quotiented under the unrolled-peeling labels, with the
    // unroll sentinels surfaced explicitly (they would not survive
    // the arc join).
    Qry(
      "q367_scc_cond_maintenance", CondOracle) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val eAll = Staging.stage(
        tradeFlowEdges(tt.orders, tt.lineitem), eager = true)
      val standing = Scc.run(eAll, "src", "dst")
      val condSup = Staging.stage(
        Scc.condensationSupport(eAll, standing, "src", "dst"),
        eager = true)
      val deleted = eAll.filter($"src" % 2 === 1 &&
        TextOps.hashMod(concat(lit("sccdel:"),
          expr("src DIV 2").cast("string")))
          < lit(TextOps.P / SccDelFrac))
      val (_, cond) = Scc.decrementalState(standing, condSup, eAll,
        deleted, "src", "dst")
      cond.select(($"csrc" % 2).as("a_kind"),
        expr("csrc DIV 2").as("a_key"),
        ($"cdst" % 2).as("b_kind"), expr("cdst DIV 2").as("b_key"),
        $"support".cast(LongType).as("support"))
    },

    // The DIRECTED maintenance epoch — the end-to-end handoff
    // proof that q367's maintained state is actually CONSUMABLE:
    // revocations run through [[graft.operators.Scc.decrementalState]]
    // and the resulting (labels, condensation-arc) pair feeds
    // [[graft.operators.Scc.incremental]] DIRECTLY for the arriving
    // arcs. The arriving band excludes revoked arcs, so the epoch's
    // net edge set equals q365's survivors and the two queries share
    // one oracle text while exercising disjoint code paths (direct
    // decremental over the full graph vs the carried-state
    // composition).
    Qry(
      "q369_scc_epoch", DecOracle) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val eAll = Staging.stage(
        tradeFlowEdges(tt.orders, tt.lineitem), eager = true)
      val delPred = ($"src" % 2 === 1) &&
        (TextOps.hashMod(concat(lit("sccdel:"),
          expr("src DIV 2").cast("string")))
          < lit(TextOps.P / SccDelFrac))
      // the arriving band excludes revoked arcs, so the epoch's net
      // edge set is exactly eAll ∖ delete-band — q365's oracle
      // VERBATIM while this side exercises the handoff path
      val insPred = (TextOps.hashMod(concat(lit("sccins:"),
        $"src".cast("string"), lit(":"), $"dst".cast("string")))
        < lit(TextOps.P / 6L)) && !delPred
      val corpus0 = eAll.filter(!insPred)
      val ins = eAll.filter(insPred)
      val standing = Scc.run(corpus0, "src", "dst")
      val condSup0 = Staging.stage(
        Scc.condensationSupport(corpus0, standing, "src", "dst"),
        eager = true)
      val del = corpus0.filter(delPred)
      // epoch step 1: deletions, with the arc state maintained —
      val (lab1, cond1) = Scc.decrementalState(standing, condSup0,
        corpus0, del, "src", "dst")
      val cond1s = Staging.stage(cond1, eager = true)
      // — step 2: the MAINTAINED pair feeds the insert-side
      // incremental directly (the handoff q367's state exists for)
      val (labels, _) = Scc.incremental(lab1,
        cond1s.select($"csrc", $"cdst"), ins, "src", "dst")
      sccOut(labels)
    }
  )
}
