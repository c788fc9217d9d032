package graft

/** Catalog-wide physical-plan invariant: NO query may plan an
  * unpartitioned CartesianProduct. Every pairwise stage in the library
  * is either a blocked equi-join (dedup/LSH families) or a broadcast of
  * a provably small side (single-row aggregates, eval benchmarks, probe
  * sets) — `BroadcastNestedLoopJoin` is the acceptable physical form of
  * the latter. A CartesianProduct means both sides were too big to
  * broadcast AND had no join key: at 100 TB that is always a bug, and
  * one VERDICT-round audit found them only by hand-reading plans. This
  * spec makes the audit mechanical and permanent.
  *
  * Streaming-backed catalog entries (their builders EXECUTE a stream to
  * completion) are skipped — their semantics are spec-covered
  * elsewhere and their sinks are in-memory tables with no join planning
  * of their own. Iterative batch queries (CC, k-means) run real jobs at
  * sf0.001 when built; that cost (~seconds) is the price of asserting
  * on the plans they actually produce.
  */
class CatalogInvariantSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // builders that run Structured Streaming pipelines when invoked
  private val streamingBacked = Set(
    "q44_stream_tumbling", "q45_stream_sessions", "q46_stream_stateful",
    "q79_stream_join", "q87_stream_enrich", "q94_stream_dedup",
    "q130_stream_tws", "q147_rate_source", "q148_ring_dropoldest",
    "q149_ring_backpressure", "q193_stream_media", "q194_stream_neardup",
    "q206_stream_media10", "q216_stream_encoding", "q221_stream_hll",
    "q222_stream_bloom_gate", "q236_stream_transport5",
    "q238_stream_asof", "q244_stream_ohlc", "q248_stream_drift",
    "q254_stream_asof_ooo", "q255_stream_left_outer_join")

  // one plan-build pass shared by the physical-plan invariants below
  // (building 180+ plans at sf0.001 is the dominant cost; string scans
  // are free)
  private lazy val plans: Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !streamingBacked(name) =>
        name -> fn(spark, sf).queryExecution.executedPlan.toString
    }

  test("no catalog query plans an unpartitioned CartesianProduct") {
    val offenders =
      plans.collect { case (n, p) if p.contains("CartesianProduct") => n }
    assert(offenders.isEmpty,
      s"unpartitioned cartesian products in: ${offenders.mkString(", ")}")
  }

  test("no catalog query plans a ScalaUDF or Python eval") {
    // Round-7 scan measured ZERO hits across the whole catalog — every
    // scalar extension is a codegen'd Catalyst expression (LittleEndian,
    // MediaHeader, ZOrder, GraftFunctions), never a closure UDF that
    // breaks whole-stage codegen. Pin it: a convenience udf() sneaking
    // into a hot path is the classic silent 2-5x scan regression at
    // 100 TB.
    val offenders = plans.collect {
      case (n, p) if p.contains("ScalaUDF")
        || p.contains("BatchEvalPython") => n
    }
    assert(offenders.isEmpty,
      s"UDF in the physical plan of: ${offenders.mkString(", ")}")
  }

  test("no batch catalog query plans a MapPartitions node") {
    // Round 9 retired the last mapPartitions stage (the q48/q49 codec
    // stub): every scalar path in every batch plan is now declarative —
    // expressions stay inside whole-stage codegen and Catalyst can see
    // through them (pushdown, pruning, reorder), which an opaque
    // closure forbids. MapPartitions/MapGroups appearing in a BATCH
    // plan again means someone dropped to imperative iteration where a
    // column expression was possible.
    val offenders = plans.collect {
      case (n, p) if p.contains("MapPartitions")
        || p.contains(" MapGroups") => n
    }
    assert(offenders.isEmpty,
      s"imperative row iteration in: ${offenders.mkString(", ")}")
  }

  test("q315/q335: every unpartitioned window runs over pre-aggregated " +
      "(bounded) input, never corpus rows") {
    // r12 verdict: these two carried corpus-sized single-partition
    // windows (q315's SUM(correct) OVER () accuracy tail, q335's global
    // row_number decile rank). Both now compute corpus-wide scalars as
    // aggregates crossJoin(broadcast(...))-ed back / two-pass bucketed
    // prefix sums. Pin the shape structurally: an unpartitioned
    // WindowExec is legal ONLY when its input subtree is already an
    // aggregate (bucket offsets, decile cumulations — bounded tables);
    // an unpartitioned window directly over un-aggregated input is the
    // single-task corpus sort this pin exists to forbid.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      Seq(p) ++ p.children.flatMap(flatten) ++ (p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case s: QueryStageExec => flatten(s.plan)
        case _ => Nil
      })
    for (name <- Seq("q315_entity_resolution", "q335_lift_gains")) {
      val plan =
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val offenders = flatten(plan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
            !flatten(w.child).exists(_.isInstanceOf[BaseAggregateExec]) =>
          w.simpleStringWithNodeId()
      }
      assert(offenders.isEmpty,
        s"$name plans an unpartitioned window over un-aggregated " +
          s"(corpus-sized) input: ${offenders.mkString("; ")}")
    }
  }

  test("v4 positional decode contract: quoted-name source scan == catalog") {
    // tools/bench_compare.py decodes the v4 "qt" vector by recovering
    // the sorted name list from a quoted-string scan over
    // queries/*.scala. That contract breaks SILENTLY if a full query
    // name ever appears quoted where it isn't a catalog entry (a
    // scaladoc example, an oracle string) or a catalog entry's name
    // stops matching the pattern — so pin scan == SparkEntry.queries
    // here, where the comparison is exact.
    val re = """"(q\d+_[a-z0-9_]+)"""".r
    val scanned = new java.io.File("src/main/scala/graft/queries")
      .listFiles().filter(_.getName.endsWith(".scala")).flatMap { f =>
        // ISO-8859-1: byte-tolerant (the pattern is pure ASCII; the
        // sources carry UTF-8 arrows the default codec may reject)
        val src = scala.io.Source.fromFile(f, "ISO-8859-1")
        try re.findAllMatchIn(src.mkString).map(_.group(1)).toList
        finally src.close()
      }.toSet
    assert(scanned == SparkEntry.queries.keySet,
      s"v4 decode drift — only-in-scan: ${(scanned -- SparkEntry.queries.keySet).mkString(",")}; " +
        s"only-in-catalog: ${(SparkEntry.queries.keySet -- scanned).mkString(",")}")
  }

  test("projected bench line fits the driver's stdout-tail capture window") {
    // The driver keeps ~2 KB of stdout tail and sbt appends a ~75 B
    // [success] line after the bench JSON; a line that outgrows the
    // window records parsed:null and silently voids the round's bench
    // artifact (it happened in rounds 1, 2 and 4). Project the line's
    // size from the CATALOG — base-36 key per query + a 4-byte typical
    // time — plus the measured fixed overhead of the non-query blocks
    // (metric/value/unit/kb, ingest_k spread, lat, z95, rem, sf:
    // 1776 B observed at 185 queries ⇒ ~160 B fixed; round 7 added
    // "ing0" ~11 B, "st" ~18 B, and widened rem from 2 to ≤8 entries
    // at ~10 B each ⇒ 250 B fixed; round 8 added the re-measure-window
    // steal sample "str" ~16 B ⇒ 266 B fixed — the rem criterion
    // widening and the one-round watch list changed selection, not the
    // ≤8 cap, so they cost nothing here. Calibration: the closing r7
    // line measured 1589 B at 193 queries vs 1593 projected), and fail
    // HERE, at test time, when growth approaches the window — not a
    // round later in the driver's artifact.
    val names = SparkEntry.queries.keys.toSeq
    val keys = names.map(n => java.lang.Long.toString(
      n.takeWhile(_ != '_').stripPrefix("q").toLong, 36))
    assert(keys.distinct.size == keys.size, "base-36 keys must be unique")
    // v4 schema (round 8, see Bench.scala): the full vector is "qt" at
    // exactly 2 B per query; the keyed "queries" dict carries only the
    // top-12 slowest (~9 B each, counted in the fixed overhead). Fixed
    // = 266 B measured through r7 (metric/value/unit/kb/qd, ingest_k,
    // ing0, st, str, lat, z95, rem<=8) + ~35 B of v4 flags
    // (qe/qn/qtop + qt quotes) + ~108 B top-12 dict = ~410 B; round 9
    // widened the rem cap 8 -> 12 (+4 entries x ~10 B) = ~450 B;
    // round 10 added the steal verdict "sv" (~15 B) and the burst-span
    // annotation "stb" (<= 57 B incl. key, capped in Bench) = ~522 B.
    // Bench no longer emits "rem", "z95" or "str", so 522 B is now an
    // upper bound on the fixed overhead, not a measurement.
    val projected = 522 + 2 * keys.size
    val window = 2048 - 80 // capture tail minus sbt's [success] line
    assert(projected <= window - 100,
      s"projected bench line ${projected} B is within 100 B of the " +
        s"~${window} B capture window: compress the line schema before " +
        "growing the catalog (see Bench.scala key-encoding notes)")
  }
}
