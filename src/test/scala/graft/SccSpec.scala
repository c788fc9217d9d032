package graft

import graft.operators.Scc

/** Strongly connected components (Scc.run) pinned on crafted digraphs:
  * 2-cycles, longer cycles, DAG collapse to singletons, self-loops,
  * disjoint components, and the multi-peel path-DAG case the unrolled
  * oracle's no-op-past-fixpoint argument depends on.
  */
class SccSpec extends SparkTestBase {
  import spark.implicits._

  private def sccs(pairs: Seq[(Long, Long)],
      maxPeels: Int = 50): Map[Long, Long] =
    Scc.run(pairs.toDF("src", "dst"), "src", "dst", maxPeels = maxPeels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("2-cycle collapses; attached DAG tail stays singleton") {
    // 1 <-> 2, 2 -> 3 (no return): SCC {1,2} plus singleton {3}
    val out = sccs(Seq(1L -> 2L, 2L -> 1L, 2L -> 3L))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("directed 4-cycle is one SCC labeled by its min id") {
    val out = sccs(Seq(4L -> 7L, 7L -> 5L, 5L -> 9L, 9L -> 4L))
    assert(out === Map(4L -> 4L, 5L -> 4L, 7L -> 4L, 9L -> 4L))
  }

  test("pure DAG: every node its own SCC (multi-peel path)") {
    // increasing-id path 1 -> 2 -> 3 -> 4: f(v)=v, b(v)=1-ish — only
    // the head assigns per peel, exercising the outer loop depth
    val out = sccs(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L))
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("self-loop is a singleton SCC; duplicate edges tolerated") {
    val out = sccs(Seq(5L -> 5L, 5L -> 6L, 5L -> 6L, 6L -> 7L, 7L -> 6L))
    assert(out === Map(5L -> 5L, 6L -> 6L, 7L -> 6L))
  }

  test("a node whose only edge is a self-loop is its own SCC") {
    // 3 appears only in 3 -> 3; the 1 <-> 2 cycle arrives twice
    val out = sccs(Seq(3L -> 3L, 1L -> 2L, 2L -> 1L, 1L -> 2L, 2L -> 1L))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("two disjoint cycles + a bridge keep separate labels") {
    // cycle A {1,2}, cycle B {8,9}, bridge 2 -> 8 (one-way)
    val out = sccs(Seq(1L -> 2L, 2L -> 1L, 8L -> 9L, 9L -> 8L, 2L -> 8L))
    assert(out === Map(1L -> 1L, 2L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("condensation chain of cycles assigns through peels") {
    // {10,11} -> {3,4} -> {6,7}: three SCCs in a chain; min labels
    // force multiple peels (10's component can't assign while 3 blocks
    // its backward label... exercises peel ordering both directions)
    val out = sccs(Seq(10L -> 11L, 11L -> 10L, 11L -> 3L,
      3L -> 4L, 4L -> 3L, 4L -> 6L, 6L -> 7L, 7L -> 6L))
    assert(out === Map(10L -> 10L, 11L -> 10L, 3L -> 3L, 4L -> 3L,
      6L -> 6L, 7L -> 6L))
  }

  private def incr(corpus: Seq[(Long, Long)], delta: Seq[(Long, Long)])
      : Map[Long, Long] = {
    val standing = Scc.run(corpus.toDF("src", "dst"), "src", "dst")
    val condE = Scc.condensationEdges(corpus.toDF("src", "dst"),
      standing, "src", "dst")
    val (labels, _) = Scc.incremental(standing, condE,
      delta.toDF("src", "dst"), "src", "dst")
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("incremental: a delta back-arc merges SCCs along an OLD path") {
    // corpus: 1->2->3 (pure DAG, three singletons); delta: 3->1 closes
    // the cycle THROUGH corpus arcs the delta never mentions — the
    // case standing labels alone cannot solve
    val corpus = Seq(1L -> 2L, 2L -> 3L)
    val out = incr(corpus, Seq(3L -> 1L))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(out === sccs(corpus ++ Seq(3L -> 1L)))
  }

  test("incremental: untouched components pass through; new nodes " +
      "enter as singletons or merge") {
    // corpus: cycle {4,5} and singleton chain 8->9; delta: new node 20
    // in a 2-cycle with 9, plus an arc into untouched {4,5}
    val corpus = Seq(4L -> 5L, 5L -> 4L, 8L -> 9L)
    val delta = Seq(9L -> 20L, 20L -> 9L, 20L -> 4L)
    val out = incr(corpus, delta)
    assert(out === sccs(corpus ++ delta))
    assert(out(4L) === 4L && out(5L) === 4L) // untouched, bit-identical
    assert(out(9L) === 9L && out(20L) === 9L) // new node merged
  }

  test("incremental: internal delta edge is a no-op") {
    val corpus = Seq(6L -> 7L, 7L -> 6L)
    val out = incr(corpus, Seq(6L -> 7L))
    assert(out === Map(6L -> 6L, 7L -> 6L))
  }

  test("maxPeels exceeded fails loudly, never truncates") {
    // path DAG 1->2->...->6 needs ~5 peels with min-id pivots
    val pairs = (1L to 5L).map(i => i -> (i + 1))
    assertThrows[IllegalStateException] { sccs(pairs, maxPeels = 2) }
  }
}
