package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.GraftSqlBridge.withKnownStats

import graft.operators.{LabelProp, Staging}

/** Stats-carrying staged leaves (GraftSqlBridge.withKnownStats over a
  * staged frame — r11 verdict ask #5).
  *
  * The premise, measured: `localCheckpoint` carries the ORIGIN plan's
  * statistics into the staged LogicalRDD, and size-only estimation
  * blows a join estimate up to left×right — so a join/aggregate-derived
  * sliver (every iterated loop's label/rank table) reports "huge" even
  * when it holds a few hundred rows, which is why the loops needed
  * hand-placed broadcast() hints. withKnownStats overrides the estimate
  * with the TRUE row count the loop already knows, and Catalyst then
  * makes the broadcast decision itself — in BOTH directions. Pinned on
  * the pre-AQE physical plan (sparkPlan), where the size estimate — not
  * runtime metrics — drives the decision, exactly a fresh loop round's
  * situation.
  */
class StagingStatsSpec extends SparkTestBase {
  import spark.implicits._

  /** A staged frame whose origin estimate is join-poisoned (huge) but
    * whose actual content is `rows` (src, payload) rows. */
  private def joinDerived(rows: Int) = {
    val keys = rows / 5
    val l = spark.range(0, keys).select($"id".as("j"))
    val r = spark.range(0, rows).select(($"id" % keys).as("j2"),
      $"id".as("payload"))
    Staging.stage(
      l.join(r, $"j" === $"j2")
        .select(($"payload" % 100).as("src"), $"payload"),
      eager = true)
  }

  test("known stats flip the join to broadcast; huge stats flip it back") {
    val big = joinDerived(10000)
    // the sliver is ALSO join+aggregate-derived — the loop shape; both
    // sides report huge, so without true stats Catalyst must sort-merge
    val l = spark.range(0, 2000).select(($"id" % 100).as("id"))
    val r = spark.range(0, 2000)
      .select(($"id" % 100).as("k"), $"id".as("v"))
    val sliver = l.join(r, $"id" === $"k")
      .groupBy($"id").agg(max($"v").as("label"))
    val plain = Staging.stage(sliver, eager = true)
    val pPlain = big.join(plain, $"src" === $"id")
      .queryExecution.sparkPlan.toString
    assert(pPlain.contains("SortMergeJoin") &&
      !pPlain.contains("BroadcastHashJoin"),
      s"expected SMJ without stats:\n$pPlain")
    // known small row count -> Catalyst broadcasts, no hint anywhere
    val withStats = withKnownStats(Staging.stage(sliver, eager = true), 100L)
    val pStats = big.join(withStats, $"src" === $"id")
      .queryExecution.sparkPlan.toString
    assert(pStats.contains("BroadcastHashJoin"),
      s"expected BHJ with rowCount=100 stats:\n$pStats")
    // a row count that exceeds the threshold keeps the shuffled join —
    // the 100x-scale direction of the same decision
    val hugeStats =
      withKnownStats(Staging.stage(sliver, eager = true), 100000000L)
    val pHuge = big.join(hugeStats, $"src" === $"id")
      .queryExecution.sparkPlan.toString
    assert(pHuge.contains("SortMergeJoin") &&
      !pHuge.contains("BroadcastHashJoin"),
      s"expected SMJ with huge stats:\n$pHuge")
    Staging.sweep(spark)
  }

  test("stats wrapper preserves rows, release still frees the blocks") {
    val df = (0L until 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val staged = withKnownStats(Staging.stage(df, eager = true), 50L)
    assert(staged.count() == 50L)
    assert(staged.orderBy($"id").collect().map(_.getLong(0)).toSeq ==
      (0L until 50L).toSeq)
    val rddId = staged.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
    Staging.release(staged)
    // unpersist is async (blocking = false) — poll briefly
    val deadline = System.nanoTime() + 10000000000L
    while (spark.sparkContext.getPersistentRDDs.contains(rddId) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  test("LabelProp's per-round join broadcasts the LABEL side from stats") {
    // the loop's exact shape: a staged huge-estimate edge leaf joined
    // with the stats-staged label sliver — Catalyst must pick BHJ with
    // the labels as the build side, on its own
    val e = joinDerived(5000)
      .select($"src", $"payload".as("dst"), lit(1L).as("w"))
    val nodes = e.select($"src".as("id")).union(e.select($"dst"))
      .distinct()
    val n = nodes.count()
    val labels = withKnownStats(
      Staging.stage(nodes.withColumn("label", $"id"), eager = false), n)
    val p = e.join(labels, $"src" === $"id")
      .queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("BuildRight"),
      s"label sliver not auto-broadcast as build side:\n$p")
    // and the operator end-to-end still converges to the right labels
    val edges = Seq((1L, 2L, 3L), (2L, 1L, 3L), (3L, 4L, 1L),
      (4L, 3L, 1L)).toDF("src", "dst", "w")
    val out = LabelProp.run(edges, "src", "dst", "w", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    Staging.sweep(spark)
  }
}
