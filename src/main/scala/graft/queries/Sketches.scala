package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.apache.spark.sql.{Column, DataFrame, Encoders}

import graft.Exact._
import graft.operators.{ConnectedComponents, Dedup, QDigest, Staging, Stats, TextOps, Vectors}
import graft.sources.{ArrowIpc, Tables}
import graft.streaming.Streams

import Helpers.one

/** Bounded bottom-k (KMV) sketch as streaming state: per key, keep the
  * k smallest hashes seen so far — the state is EXACTLY k longs no
  * matter how many rows stream through (the mergeable-sketch
  * discipline, now as a custom StatefulProcessor rather than a
  * groupBy). Each micro-batch merges its rows into the stored
  * bottom-k; ONE event-time timer per key (registered at a fixed
  * far-future instant, fired by the end-of-stream sentinel advancing
  * the watermark — [[BufferedAsOfEnrich]]'s flush mechanism) emits the
  * final sketch exactly once, so cross-batch accumulation is the
  * tested path, not an accident. Top-level class so the closure
  * serializes without a query-module reference. */
class BottomKSketch(k: Int, flushAtMs: Long) extends StatefulProcessor[
    String, (String, Long, Timestamp), (String, Long)] {
  @transient private var buf: ListState[Long] = _
  @transient private var armed: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[Long]("bottomk", Encoders.scalaLong,
      TTLConfig.NONE)
    armed = getHandle.getValueState[Boolean]("armed",
      Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Timestamp)],
      timerValues: TimerValues): Iterator[(String, Long)] = {
    // merge this batch into the stored bottom-k: state in, state out,
    // never more than k longs
    val merged = (buf.get().toArray ++ rows.map(_._2))
      .distinct.sorted.take(k)
    buf.clear()
    if (merged.nonEmpty) buf.appendList(merged)
    if (!armed.exists()) {
      getHandle.registerTimer(flushAtMs)
      armed.update(true)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long)] =
    buf.get().map(h => (key, h))
}

/** q289's stateful operator: per-key q-digest as bounded streaming
  * state. Each micro-batch sums its rows into the stored digest's
  * node counts and re-compresses with the fixed threshold `t` — state
  * stays O(K·levels) entries per key no matter how many rows stream
  * through (the q286 KMV discipline, now for quantiles). One event-time
  * timer per key (armed at a fixed far-future instant, fired by the
  * end-of-stream sentinel advancing the watermark — q254's flush
  * mechanism) emits the final digest exactly once. Top-level class so
  * the closure serializes without a query-module reference. */
class QDigestSketch(ts: Map[String, Long], levels: Int, flushAtMs: Long)
    extends StatefulProcessor[
      String, (String, Long, Timestamp), (String, Long, Int, Long)] {
  @transient private var dig: ListState[(Long, Int, Long)] = _
  @transient private var armed: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    dig = getHandle.getListState[(Long, Int, Long)]("digest",
      Encoders.product[(Long, Int, Long)], TTLConfig.NONE)
    armed = getHandle.getValueState[Boolean]("armed",
      Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Timestamp)],
      timerValues: TimerValues): Iterator[(String, Long, Int, Long)] = {
    // stored digest + this batch's leaf counts, summed by node id
    // (interior and leaf ids never collide), then one re-compression —
    // state in, state out, never more than the digest bound
    val m = scala.collection.mutable.LongMap[(Int, Long)]()
    dig.get().foreach { case (node, lv, cnt) => m(node) = (lv, cnt) }
    rows.foreach { r =>
      val node = r._2
      m(node) = m.get(node) match {
        case Some((lv, c)) => (lv, c + 1L)
        case None => (levels, 1L)
      }
    }
    val merged = QDigest.compressLocal(
      m.iterator.map { case (n, (lv, c)) => (n, lv, c) }.toSeq,
      ts.getOrElse(key, 1L), levels)
    dig.clear()
    if (merged.nonEmpty) dig.appendList(merged.toArray)
    if (!armed.exists()) {
      getHandle.registerTimer(flushAtMs)
      armed.update(true)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long, Int, Long)] =
    dig.get().map { case (node, lv, cnt) => (key, node, lv, cnt) }
}

/** q309's stateful operator: per-(key, event-time window) q-digest with
  * a PER-WINDOW event-time timer — the continuous percentile report.
  * Unlike [[QDigestSketch]] (one global flush instant), every
  * (key, window) state registers its timer at ITS OWN window end, so a
  * window's digest emits as soon as the watermark proves the window
  * closed, while later windows keep accumulating — the reference's
  * P50/P95/P99 report (integration_test.rs:541-551) as a stream of
  * per-window rows rather than one end-of-run summary. */
class QDigestWindowSketch(t: Long, levels: Int, windowMs: Long)
    extends StatefulProcessor[
      (String, Long), (String, Long, Long, Timestamp),
      (String, Long, Long, Int, Long)] {
  @transient private var dig: ListState[(Long, Int, Long)] = _
  @transient private var armed: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    dig = getHandle.getListState[(Long, Int, Long)]("digest",
      Encoders.product[(Long, Int, Long)], TTLConfig.NONE)
    armed = getHandle.getValueState[Boolean]("armed",
      Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(key: (String, Long),
      rows: Iterator[(String, Long, Long, Timestamp)],
      timerValues: TimerValues): Iterator[(String, Long, Long, Int, Long)] = {
    val m = scala.collection.mutable.LongMap[(Int, Long)]()
    dig.get().foreach { case (node, lv, cnt) => m(node) = (lv, cnt) }
    rows.foreach { r =>
      val node = r._3
      m(node) = m.get(node) match {
        case Some((lv, c)) => (lv, c + 1L)
        case None => (levels, 1L)
      }
    }
    val merged = QDigest.compressLocal(
      m.iterator.map { case (n, (lv, c)) => (n, lv, c) }.toSeq, t, levels)
    dig.clear()
    if (merged.nonEmpty) dig.appendList(merged.toArray)
    if (!armed.exists()) {
      // the window [w, w+windowMs) closes when the watermark reaches its
      // end — each key flushes at its OWN boundary, not a shared instant
      getHandle.registerTimer(key._2 + windowMs)
      armed.update(true)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: (String, Long),
      timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo)
      : Iterator[(String, Long, Long, Int, Long)] =
    dig.get().map { case (node, lv, cnt) =>
      (key._1, key._2, node, lv, cnt)
    }
}

/** Mergeable sketches and samplers, each gated against the exact answer
  * it approximates: HyperLogLog (cardinality, intersection, streaming),
  * count-min and KMV sketches, q-digest quantiles (batch,
  * merged, weighted, windowed, streaming), hash / stratified / weighted /
  * priority sampling and sketch-based join-size estimation.
  */
object Sketches {

  private val SampleK = 10

  // ---- q220/q221 HLL geometry (shared by Spark plan and oracle) -------
  private val M = 512          // registers (p = 9)
  private val RhoBits = 20     // rho window above the index bits

  /** SQL for rho = leading-zero count of the 20-bit window + 1 (window
    * zero → 21): a comparison cascade against powers of two — branch-
    * free of log()/floor(log2) float edges, identical text in both
    * engines. */
  private def rhoSql(rem: String): String = {
    val whens = (1 to RhoBits).map { j =>
      s"WHEN $rem >= ${1L << (RhoBits - j)} THEN $j"
    }.mkString(" ")
    s"(CASE $whens ELSE ${RhoBits + 1} END)"
  }

  /** est·1000 numerator: alpha_m · m² · 2^RhoMax · 1000, computed ONCE
    * in Scala and embedded as a string→DOUBLE cast. Embedding the
    * arithmetic as SQL text looked engine-identical but was not:
    * DuckDB types the literal `0.7213` as DECIMAL(5,4) — its division
    * chain then rounds differently from Spark's doubles and the floor
    * flipped by 1 milli-unit at sf0.01. A shortest-round-trip decimal
    * string cast to DOUBLE parses to the same IEEE value in both
    * engines (Java parseDouble and DuckDB fast_float are both
    * correctly rounded). */
  private val RhoMax = RhoBits + 1
  private val K: Double =
    0.7213 / (1.0 + 1.079 / M) * M * M * (1L << RhoMax).toDouble * 1000
  private val KSql = s"CAST('$K' AS DOUBLE)"

  /** Finalize a register table (grp, idx, r) → (grp, regs_used,
    * v_empty, est_milli, exact, err_ppm).
    *
    * Z = Σ 2^-r + empty is DYADIC with denominator 2^21, so it is
    * carried as the exact integer Zint = Σ 2^(21-r) + empty·2^21 and
    * the whole finalize does exactly ONE floating op — K / Zint, the
    * same two bit-identical operands in both engines — before flooring
    * to integer milli-units. The first cut rounded a chain of double
    * ops to 3 decimals and hash-failed at sf0.01: Spark's round()
    * (shortest-decimal BigDecimal, HALF_UP) and DuckDB's (scaled
    * multiply) disagree when the value sits ~1 ulp from a .0005
    * boundary. Integer arithmetic is the fix, not a wider round. */
  private def finalize(regs: DataFrame, exact: DataFrame): DataFrame =
    regs
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("regs_used"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $RhoMax - r)"))
          .as("zi0"))
      .select(col("grp"),
        col("regs_used").cast(LongType).as("regs_used"),
        (lit(M) - col("regs_used")).cast(LongType).as("v_empty"),
        expr(s"CAST(floor($KSql / (zi0 + ($M - regs_used) * " +
          s"CAST(${1L << RhoMax} AS BIGINT))) AS BIGINT)").as("est_milli"))
      .join(exact, "grp")
      .withColumn("err_ppm",
        expr("CAST(abs(est_milli - 1000 * exact) * 1000000 DIV " +
          "(1000 * exact) AS BIGINT)"))

  /** Oracle fragment: registers per (grp, idx) from a (grp, h) CTE
    * named `gt` (h = the shared mod-P shingle hash: low 9 bits index,
    * next 20 bits the rho window), finalized with the same
    * arithmetic. */
  private def oracleHll(rowsSel: String): String = {
    s"""regs AS (SELECT grp, h % $M AS idx,
       |    MAX(${rhoSql(s"((h // $M) % ${1L << RhoBits})")}) AS r
       |  FROM gt GROUP BY 1, 2),
       |fin AS (SELECT grp, COUNT(*) AS regs_used,
       |    CAST(SUM(CAST(1 AS BIGINT) << ($RhoMax - r)) AS BIGINT) AS zi0
       |  FROM regs GROUP BY 1),
       |ex AS (SELECT grp, COUNT(DISTINCT h) AS exact FROM gt GROUP BY 1),
       |est AS (SELECT f.grp, f.regs_used,
       |    CAST(floor($KSql / (f.zi0 + ($M - f.regs_used)
       |      * CAST(${1L << RhoMax} AS BIGINT))) AS BIGINT) AS est_milli,
       |    ex.exact
       |  FROM fin f JOIN ex USING (grp))
       |SELECT grp AS $rowsSel, CAST(regs_used AS BIGINT) AS regs_used,
       |  CAST($M - regs_used AS BIGINT) AS v_empty, est_milli,
       |  CAST(exact AS BIGINT) AS exact,
       |  CAST(abs(est_milli - 1000 * exact) * 1000000
       |    // (1000 * exact) AS BIGINT) AS err_ppm
       |FROM est""".stripMargin
  }

  /** Spark-side register table (grp, idx, r) from a (grp, h) frame —
    * duplicate h's are harmless (max is idempotent), which is the
    * whole streaming story of q221. */
  private def registers(gt: DataFrame): DataFrame =
    gt.select(col("grp"), (col("h") % M).as("idx"),
        expr(rhoSql(s"((h div $M) % ${1L << RhoBits})")).as("rho"))
      .groupBy(col("grp"), col("idx"))
      .agg(max(col("rho")).as("r"))

  /** CMS geometry: depth (salted hash rows) x width (buckets). */
  private val Depth = 4
  private val Width = 256
  /** q268's oracle text — shared verbatim by the q272 streaming twin
    * (the q192/q193 pattern). */
  val JoinSizeOracle: String = {
    val hashFor = (i: Int) =>
          s"${TextOps.oracleHashSql(
            s"'cms$i:' || CAST(user_id AS VARCHAR)")} % $Width"
        val rowSelects = (0 until Depth).map(i =>
          s"SELECT $i AS r, ${hashFor(i)} AS bkt, a, b FROM cnt")
          .mkString("\nUNION ALL ")
        s"""WITH cnt AS (SELECT user_id,
           |    CAST(COUNT(*) FILTER (WHERE event_type = 'click')
           |      AS BIGINT) AS a,
           |    CAST(COUNT(*) FILTER (WHERE event_type = 'error')
           |      AS BIGINT) AS b
           |  FROM events WHERE event_type IN ('click', 'error')
           |  GROUP BY 1),
           |ex AS (SELECT CAST(SUM(a * b) AS BIGINT) AS exact_size
           |       FROM cnt),
           |rows0 AS ($rowSelects),
           |cms AS (SELECT r, bkt, CAST(SUM(a) AS BIGINT) AS ta,
           |    CAST(SUM(b) AS BIGINT) AS tb FROM rows0 GROUP BY 1, 2),
           |ip AS (SELECT r, CAST(SUM(ta * tb) AS BIGINT) AS est
           |       FROM cms GROUP BY 1)
           |SELECT r, est, exact_size,
           |  CAST(est >= exact_size AS BOOLEAN) AS never_undercounts,
           |  CASE WHEN exact_size = 0 THEN 0
           |    ELSE 1000000 * (est - exact_size) // exact_size END
           |    AS over_ppm
           |FROM ip, ex""".stripMargin
  }

  /** KMV bottom-k size. */
  private val KmvK = 256
  /** Hash domain for KMV: TextOps.P (hashes are uniform in [0, P)). */
  private val P = TextOps.P

  private val StreamKmvK = 256
  /** Timer instant every key flushes at (2100-01-01T00:00Z); the
    * sentinel's event time sits an hour later so the final watermark
    * passes it. */
  private val FlushAtMs = 4102444800000L

  /** Digest geometry: 2^Levels leaf buckets of CellW cents each (domain
    * covers TPC-H l_extendedprice — max ~10.5M cents < 1024·16384;
    * LEAST clamps defensively). K sets threshold t = n/K. */
  private val Levels = 10
  private val Nleaf = 1L << Levels
  private val CellW = 16384L
  private val QDigestK = 48
  private val Pcts = Seq(50, 90, 99)
  /** Spark-side bucket expression (DuckDB twin in [[oracleSrcCte]]). */
  private val bucketExpr =
    s"least(CAST(round(l_extendedprice * 100) AS BIGINT) DIV $CellW, " +
      s"${Nleaf - 1})"

  /** Shared oracle text: src / lf / nt CTEs over lineitem. */
  private val oracleSrcCte =
    s"""src AS (SELECT l_returnflag AS g,
       |    LEAST(CAST(round(l_extendedprice * 100) AS BIGINT) // $CellW,
       |          ${Nleaf - 1}) AS bucket,
       |    l_orderkey % 2 AS par
       |  FROM lineitem),
       |lf AS (SELECT g, bucket, CAST(COUNT(*) AS BIGINT) AS lcnt
       |       FROM src GROUP BY 1, 2),
       |nt AS (SELECT g, GREATEST(CAST(SUM(lcnt) AS BIGINT) // $QDigestK,
       |         CAST(1 AS BIGINT)) AS t FROM lf GROUP BY 1)""".stripMargin

  /** q299 geometry. */
  private val S = 8
  private val ShardK = 20
  private val TopN = 10

  private val Ks = Seq(6L, 48L, 384L)

  private val WeightedQDigestK = 48
  private val WeightedPcts = Seq(50, 95)

  // ---- q309 geometry ----------------------------------------------------
  private val WLevels = 9
  private val WNleaf = 1L << WLevels // 512 buckets x 128 cents = 655.36
  private val WCellW = 128L
  private val WT = 8L
  private val WPcts = Seq(50, 95, 99)
  private val DayMs = 86400000L
  /** Chronological split boundary: 2024-01-16T00:00Z — a window edge,
    * so every 1-day window's rows arrive in exactly one micro-batch. */
  private val SplitMs = 1705363200000L
  private val SentinelMs = 4102444800000L

  private val PrioritySampleK = 64

  private val StratK = 16

  val all: Seq[Qry] = Seq(

    // ---- deterministic hash sampling (reproducible pipeline sampling) --
    // Random sampling isn't reproducible across engines/runs; hashing
    // content into [0,P) and thresholding is — the standard deterministic
    // sampling technique for training-data pipelines (same doc always
    // lands in the same split).
    Qry(
      "q75_hash_sample",
      s"""SELECT doc_id, lang,
         |  ${graft.operators.TextOps.oracleHashSql("text")} AS bucket
         |FROM documents
         |WHERE ${graft.operators.TextOps.oracleHashSql("text")}
         |  < ${TextOps.P / 10}""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .withColumn("bucket", TextOps.hashMod($"text"))
        .filter($"bucket" < TextOps.P / 10)
        .select($"doc_id", $"lang", $"bucket")
    },

    // ---- stratified deterministic sample: fixed quota per language -----
    Qry(
      "q76_stratified_sample",
      s"""SELECT lang, doc_id, rn FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${graft.operators.TextOps.oracleHashSql("text")},
         |               doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 10""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"lang")
        .orderBy(TextOps.hashMod($"text"), $"doc_id")
      Tables(spark, dir).documents
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .select($"lang", $"doc_id", $"rn")
    },

    // ---- sketch-vs-exact validation (HLL) ------------------------------
    // approx_count_distinct (HyperLogLog++) is the 100-TB path for
    // count-distinct: one-pass, mergeable, constant memory — where exact
    // distinct needs a full shuffle of the key stream. The query asserts
    // the sketch lands within 10% of exact at test scale (the oracle
    // states the bound as a constant TRUE, so a drifting sketch fails the
    // gate loudly); only the exact count is emitted as a value.
    Qry(
      "q86_sketch_bounds",
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(TRUE AS BOOLEAN) AS approx_ok
        |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"),
          approx_count_distinct($"user_id").as("approx"))
        .select($"event_type", $"exact_users",
          (abs($"approx" - $"exact_users") <=
            lit(0.1) * $"exact_users").as("approx_ok"))
    },

    // ---- quantile sketch vs exact --------------------------------------
    // approx_percentile (GK sketch) is the mergeable one-pass path for
    // percentiles at 100 TB (exact needs a per-group sort); the oracle
    // pins the sketch inside a 5% envelope of exact — a drifting sketch
    // fails the gate. Only exact values are emitted as numbers.
    Qry(
      "q88_approx_quantile",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  CAST(TRUE AS BOOLEAN) AS sketch_ok
        |FROM lineitem GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        // exact percentile buffers and sorts its group's values — feed it
        // the two needed columns, not the full 11-column row
        .select($"l_returnflag", $"l_extendedprice")
        .groupBy($"l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("ep50"),
          expr("percentile(l_extendedprice, 0.9)").as("ep90"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50"),
          expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("a90"))
        .select($"l_returnflag",
          round($"ep50", 4).as("p50"), round($"ep90", 4).as("p90"),
          (abs($"a50" - $"ep50") <= lit(0.05) * $"ep50" &&
            abs($"a90" - $"ep90") <= lit(0.05) * $"ep90").as("sketch_ok"))
    },

    // ---- count-min sketch with exact parity ----------------------------
    // CMS(d=4, w=1024) over the token stream: per-row hashing into d
    // counter rows (one hash aggregate — the mergeable 100-TB shape),
    // then est(tok) = min over rows of its counter. Everything is
    // integer arithmetic on the shared md5 hash, so the ORACLE REBUILDS
    // THE SAME SKETCH bit-for-bit and the estimate itself is gate-checked
    // (not just an error bound) for the top-10 exact tokens.
    // est >= exact always (counters only over-count).
    Qry(
      "q125_cms_topk", {
        val hashFor = (i: Int) =>
          s"${TextOps.oracleHashSql(s"'cms$i:' || tok")} % 1024"
        val rowSelects = (0 until 4).map(i =>
          s"SELECT $i AS r, ${hashFor(i)} AS bkt, c FROM cnt")
          .mkString("\nUNION ALL ")
        val estSelects = (0 until 4).map(i =>
          s"SELECT tok, c, rn, $i AS r, ${hashFor(i)} AS bkt FROM top")
          .mkString("\nUNION ALL ")
        s"""WITH ${TextOps.oracleToksCte},
           |cnt AS (SELECT tok, COUNT(*) AS c
           |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY 1),
           |rows0 AS ($rowSelects),
           |cms AS (SELECT r, bkt, CAST(SUM(c) AS BIGINT) AS total
           |  FROM rows0 GROUP BY 1, 2),
           |top AS (SELECT tok, c, row_number()
           |    OVER (ORDER BY c DESC, tok) AS rn
           |  FROM cnt QUALIFY rn <= 10),
           |looks AS ($estSelects)
           |SELECT l.tok, l.c AS exact_count, l.rn AS rank,
           |  MIN(cms.total) AS cms_estimate,
           |  CAST(MIN(cms.total) >= l.c AS BOOLEAN) AS never_undercounts
           |FROM looks l JOIN cms ON l.r = cms.r AND l.bkt = cms.bkt
           |GROUP BY 1, 2, 3""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      def bucket(i: Int, tok: org.apache.spark.sql.Column) =
        TextOps.hashMod(concat(lit(s"cms$i:"), tok)) % 1024
      // staged: the exact count table feeds the sketch rows, the top-10
      // pick, AND the estimate lookups (Staging.stage, not persist — see
      // Dedup.jaccardPairs)
      val cnt = graft.operators.Staging.stage(
        Tables(spark, dir).documents
          .select(explode(TextOps.tokens($"text")).as("tok"))
          .groupBy($"tok").agg(count(one).as("c")),
        eager = false)
      val rows0 = (0 until 4).map(i =>
        cnt.select(lit(i).as("r"), bucket(i, $"tok").as("bkt"), $"c"))
        .reduce(_ unionByName _)
      val cms = rows0.groupBy($"r", $"bkt").agg(sum($"c").as("total"))
      val top = cnt.orderBy($"c".desc, $"tok").limit(10)
        .withColumn("rn", row_number().over(
          Window.orderBy($"c".desc, $"tok")))
      val looks = (0 until 4).map(i =>
        top.select($"tok", $"c", $"rn", lit(i).as("r"),
          bucket(i, $"tok").as("bkt")))
        .reduce(_ unionByName _)
      looks.join(cms, Seq("r", "bkt"))
        .groupBy($"tok", $"c".as("exact_count"), $"rn".as("rank"))
        .agg(min($"total").as("cms_estimate"))
        .select($"tok", $"exact_count", $"rank", $"cms_estimate",
          ($"cms_estimate" >= $"exact_count").as("never_undercounts"))
    },

    // Weighted sample without RNG (q160): Efraimidis–Spirakis
    // weighted reservoir sampling with the content hash as the
    // uniform draw — key = ln(u)/w, top-k per stratum by key. The
    // ordering transform ln(u^(1/w)) is monotone, so this IS the E-S
    // scheme, but deterministic: re-runs, repartitions, and both
    // engines draw the identical sample.
    // ---- deterministic weighted sample (Efraimidis–Spirakis) ----------
    // Inclusion probability ∝ n_chars (the curation weight); the
    // uniform draw u = (hash(text)+1)/P is content-derived, so the
    // sample is a pure function of the corpus. Top-k per language by
    // ln(u)/w rides the rank-limit pushdown (WindowGroupLimit keeps a
    // partial top-k per input partition BEFORE the per-lang exchange —
    // q150's shape), so the corpus is never globally sorted and the
    // shuffled volume is k rows per partition per stratum. The sort
    // key is row-local double math on identical inputs in both
    // engines and never emitted.
    Qry(
      "q160_weighted_sample",
      s"""WITH k AS (SELECT lang, doc_id, n_chars,
         |    ln((${TextOps.oracleHashSql("text")} + 1.0e0)
         |        / ${TextOps.P}) / n_chars AS key
         |  FROM documents)
         |SELECT lang, rn, doc_id, CAST(n_chars AS BIGINT) AS n_chars
         |FROM (SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY key DESC, doc_id) AS rn FROM k)
         |WHERE rn <= $SampleK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"lang")
        .orderBy($"key".desc, $"doc_id")
      Tables(spark, dir).documents
        .select($"lang", $"doc_id", $"n_chars",
          (log((TextOps.hashMod($"text") + lit(1.0)) / TextOps.P)
            / $"n_chars").as("key"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= SampleK)
        .select($"lang", $"rn", $"doc_id", $"n_chars")
    },

    // HyperLogLog distinct-shingle cardinality per source, p = 9
    // (512 registers, 20-bit rho window on the shared mod-P hash).
    // The register table is the MERGEABLE state: per-source registers
    // max-merge into the corpus-wide 'ALL' row inside the same query —
    // the 1000-executor shape where every partition ships 512 bytes,
    // never a distinct shuffle. Exact counts ride along, so the
    // artifact carries the sketch's real error (err_ppm) per group,
    // and the finalize is integer-exact up to ONE shared double
    // division (see KSql / finalize notes).
    // ---- HyperLogLog per-source + merged cardinality --------------------
    Qry(
      "q220_hll_cardinality", {
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |td AS (SELECT DISTINCT d.source AS grp, sh.h
           |  FROM sh JOIN documents d USING (doc_id)),
           |gt AS (SELECT grp, h FROM td
           |  UNION ALL SELECT 'ALL' AS grp, h
           |    FROM (SELECT DISTINCT h FROM td)),
           |${oracleHll("source")}""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // counted universe: distinct 3-gram shingle hashes (~1.3k per
      // source, ~16k corpus-wide at sf0.001 — real sketch territory;
      // the corpus' token VOCABULARY is a deliberate 31-word pool, so
      // tokens would exercise nothing)
      val td = graft.operators.Dedup.shingleHashes(
        Tables(spark, dir).documents, "doc_id", "text",
        carry = Seq("source"))
        .select($"source".as("grp"), $"h").distinct()
      // merged 'ALL' row: registers would max-merge identically; the
      // union BEFORE hashing keeps one code path (same rows reach the
      // register aggregate either way — max is associative)
      val gt = td.unionByName(
        td.select($"h").distinct().select(lit("ALL").as("grp"), $"h"))
      val exact = gt.groupBy($"grp")
        .agg(countDistinct($"h").as("exact"))
      finalize(registers(gt), exact)
        .withColumnRenamed("grp", "source")
        .select($"source", $"regs_used", $"v_empty", $"est_milli",
          $"exact".cast(LongType).as("exact"), $"err_ppm")
    },

    // q220 as a STREAMING sketch — registers are the streaming
    // state (groupBy (source, idx) max(rho), complete mode), finalized
    // in batch from the sink. Duplicate shingles need no dedup:
    // max(rho) is idempotent, which is exactly why HLL is the
    // production answer to streaming COUNT DISTINCT. Shares q220's
    // per-source oracle rows verbatim minus the merged row.
    // ---- streaming HLL: registers as stream state -----------------------
    Qry(
      "q221_stream_hll", {
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |gt AS (SELECT DISTINCT d.source AS grp, sh.h
           |  FROM sh JOIN documents d USING (doc_id)),
           |${oracleHll("source")}""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // NO dedup anywhere: every shingle occurrence streams into the
      // register aggregate; max(rho) absorbs duplicates — the property
      // that makes HLL the streaming COUNT DISTINCT
      val regsStream = Streams.fileStream(spark, dir, "documents")
        .select($"source".as("grp"),
          TextOps.tokens($"text").as("__tk"))
        .select($"grp",
          explode(array_distinct(TextOps.shingles($"__tk", 3))).as("s"))
        .select($"grp", TextOps.hashMod($"s").as("h"))
        .select($"grp", ($"h" % M).as("idx"),
          expr(rhoSql(s"((h div $M) % ${1L << RhoBits})")).as("rho"))
        .groupBy($"grp", $"idx")
        .agg(max($"rho").as("r"))
      val regs = Streams.runToMemory(regsStream, "complete")
      val exact = graft.operators.Dedup.shingleHashes(
        Tables(spark, dir).documents, "doc_id", "text",
        carry = Seq("source"))
        .select($"source".as("grp"), $"h")
        .groupBy($"grp").agg(countDistinct($"h").as("exact"))
      finalize(regs, exact)
        .withColumnRenamed("grp", "source")
        .select($"source", $"regs_used", $"v_empty", $"est_milli",
          $"exact".cast(LongType).as("exact"), $"err_ppm")
    },

    // Join-cardinality estimation by Count-Min inner product —
    // the optimizer-side question "how big is clicks JOIN errors on
    // user_id going to be?" answered from two CMS sketches (q125's
    // conventions: depth 4, salted md5 buckets) WITHOUT performing the
    // join: |A ⋈ B| = Σ_u a_u·b_u is estimated by the per-row sketch
    // inner product Σ_b A[r][b]·B[r][b], an upper bound for
    // non-negative counts (collisions only ADD cross terms); the
    // estimate is the min over rows. Output compares every row's
    // estimate against the exact join size with integer-ppm
    // overestimate error. Scale shape: one corpus-sized (user, side)
    // count aggregate; sketch rows are width-bounded (4 x 256); the
    // exact side is one more aggregate over the SAME staged count
    // table — the audit's cost, not the estimator's. At 100 TB the
    // sketches are mergeable per-shard state (the q220 register
    // discipline) and the decision "shuffle 100 TB or broadcast"
    // costs two linear passes, no shuffle of the join inputs.
    // ---- CMS inner-product join-size estimate -----------------------------
    Qry(
      "q268_join_size_estimate",
      JoinSizeOracle) { (spark, dir) =>
      import spark.implicits._
      def bucket(i: Int, uid: org.apache.spark.sql.Column) =
        TextOps.hashMod(concat(lit(s"cms$i:"), uid.cast("string"))) % Width
      // staged: the per-user count table feeds the sketch rows AND the
      // exact join size (the q125 discipline)
      val cnt = Staging.stage(
        Tables(spark, dir).events
          .filter($"event_type".isin("click", "error"))
          .groupBy($"user_id")
          .agg(count(when($"event_type" === "click", 1)).as("a"),
            count(when($"event_type" === "error", 1)).as("b")),
        eager = false)
      val ex = cnt.agg(sum($"a" * $"b").as("exact_size"))
      val rows0 = (0 until Depth).map(i =>
        cnt.select(lit(i).as("r"), bucket(i, $"user_id").as("bkt"),
          $"a", $"b"))
        .reduce(_ unionByName _)
      val ip = rows0.groupBy($"r", $"bkt")
        .agg(sum($"a").as("ta"), sum($"b").as("tb"))
        .groupBy($"r").agg(sum($"ta" * $"tb").as("est"))
      ip.crossJoin(broadcast(ex))
        .select($"r", $"est", $"exact_size",
          ($"est" >= $"exact_size").as("never_undercounts"),
          when($"exact_size" === 0, 0L)
            .otherwise(expr(
              "1000000 * (est - exact_size) DIV exact_size"))
            .as("over_ppm"))
    },

    // q268's join-size estimator fed by a stream — and this twin
    // is the one that shows WHY sketches are the streaming answer: the
    // streaming aggregation's state is the SKETCH ITSELF (depth x
    // width x 2 counters = 2048 cells, constant regardless of user
    // cardinality), because each event increments its (row, bucket)
    // cell directly — no per-user table anywhere in the stream (the
    // q220/q221 "registers are the mergeable state" discipline, now
    // for CMS). The inner-product tail and the exact-size audit run
    // post-sink (exact from the batch table — it is the AUDIT, not
    // the estimator). Shares q268's oracle text VERBATIM.
    // ---- CMS join-size estimate under Structured Streaming ----------------
    Qry("q272_stream_cms", JoinSizeOracle) { (spark, dir) =>
      import spark.implicits._
      def bucket(i: Int, uid: org.apache.spark.sql.Column) =
        TextOps.hashMod(concat(lit(s"cms$i:"), uid.cast("string"))) % Width
      // the stream updates the SKETCH directly: explode each event into
      // its Depth (row, bucket) cells, count clicks/errors per cell —
      // streaming state = 4 x 256 x 2 counters, user cardinality never
      // enters the state (the q220/q221 register discipline); explode,
      // not self-union, so the stream source scans once per batch
      val ev = Streams.fileStream(spark, dir, "events")
        .filter($"event_type".isin("click", "error"))
      val cells = ev.select(explode(array((0 until Depth).map(i =>
          struct(lit(i).as("r"), bucket(i, $"user_id").as("bkt"))): _*))
          .as("c"), $"event_type")
        .select($"c.r".as("r"), $"c.bkt".as("bkt"), $"event_type")
      val cms = cells.groupBy($"r", $"bkt")
        .agg(count(when($"event_type" === "click", 1)).as("ta"),
          count(when($"event_type" === "error", 1)).as("tb"))
      val sketch = Streams.runToMemory(cms, "complete")
      // post-sink: inner-product estimate per row + the exact audit
      // from the batch table (the audit is allowed to see the corpus;
      // the ESTIMATOR never did)
      val ex = Tables(spark, dir).events
        .filter($"event_type".isin("click", "error"))
        .groupBy($"user_id")
        .agg(count(when($"event_type" === "click", 1)).as("a"),
          count(when($"event_type" === "error", 1)).as("b"))
        .agg(sum($"a" * $"b").as("exact_size"))
      sketch.groupBy($"r").agg(sum($"ta" * $"tb").as("est"))
        .crossJoin(broadcast(ex))
        .select($"r", $"est", $"exact_size",
          ($"est" >= $"exact_size").as("never_undercounts"),
          when($"exact_size" === 0, 0L)
            .otherwise(expr(
              "1000000 * (est - exact_size) DIV exact_size"))
            .as("over_ppm"))
    },

    // HLL intersection — the capability plain HLL lacks: sketches
    // union losslessly (register max-merge) but cannot intersect, so
    // the estimate is inclusion-exclusion est(A) + est(B) − est(A∪B),
    // and A∪B's registers are MERGED FROM THE PER-SOURCE REGISTERS
    // (full-join + greatest), never recomputed from rows — the
    // distributed-merge property that lets 1000 shards intersect their
    // source vocabularies by shipping 512 bytes each. Estimator
    // arithmetic is q219's verbatim (same M/rho/K constants — one
    // source of truth, no drift); the audit joins the exact
    // intersection per source pair with signed error (inclusion-
    // exclusion CAN undershoot — the audit shows it, unlike the pure
    // union estimate whose bias is one-sided).
    // ---- HLL intersection via register merge -------------------------------
    Qry(
      "q276_hll_intersect", {
        val rho = rhoSql(
          s"((h // ${M}) % ${1L << RhoBits})")
        val est = (src: String) =>
          s"""SELECT grp, CAST(floor(${KSql} / (zi0 +
             |    (${M} - regs_used) *
             |    CAST(${1L << RhoMax} AS BIGINT))) AS BIGINT)
             |    AS est_milli
             |  FROM (SELECT grp, COUNT(*) AS regs_used,
             |      SUM(1 << (${RhoMax} - r)) AS zi0
             |    FROM $src GROUP BY 1)""".stripMargin
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |td AS (SELECT DISTINCT d.source AS grp, sh.h
           |  FROM sh JOIN documents d USING (doc_id)),
           |regs AS (SELECT grp, h % ${M} AS idx,
           |    MAX($rho) AS r FROM td GROUP BY 1, 2),
           |fin AS (${est("regs")}),
           |pairs AS (SELECT a.grp AS sa, b.grp AS sb
           |  FROM (SELECT DISTINCT grp FROM td) a
           |  JOIN (SELECT DISTINCT grp FROM td) b ON a.grp < b.grp),
           |uregs AS (SELECT p.sa || '|' || p.sb AS grp, r.idx,
           |    MAX(r.r) AS r
           |  FROM pairs p JOIN regs r ON r.grp IN (p.sa, p.sb)
           |  GROUP BY 1, 2),
           |ufin AS (${est("uregs")}),
           |ex AS (SELECT a.grp AS sa, b.grp AS sb,
           |    CAST(COUNT(*) AS BIGINT) AS exact_inter
           |  FROM td a JOIN td b ON a.h = b.h AND a.grp < b.grp
           |  GROUP BY 1, 2)
           |SELECT p.sa, p.sb, fa.est_milli AS est_a, fb.est_milli AS est_b,
           |  fu.est_milli AS est_union,
           |  fa.est_milli + fb.est_milli - fu.est_milli AS inter_milli,
           |  COALESCE(ex.exact_inter, 0) AS exact_inter,
           |  CASE WHEN COALESCE(ex.exact_inter, 0) = 0 THEN NULL
           |    ELSE CAST(abs(fa.est_milli + fb.est_milli - fu.est_milli
           |        - 1000 * ex.exact_inter) * 1000000
           |      // (1000 * ex.exact_inter) AS BIGINT) END AS err_ppm
           |FROM pairs p
           |  JOIN fin fa ON fa.grp = p.sa
           |  JOIN fin fb ON fb.grp = p.sb
           |  JOIN ufin fu ON fu.grp = p.sa || '|' || p.sb
           |  LEFT JOIN ex ON ex.sa = p.sa AND ex.sb = p.sb""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val td = graft.operators.Dedup.shingleHashes(
        Tables(spark, dir).documents, "doc_id", "text",
        carry = Seq("source"))
        .select($"source".as("grp"), $"h").distinct()
      val regs = td
        .select($"grp", ($"h" % M).as("idx"),
          expr(rhoSql(
            s"((h div ${M}) % ${1L << RhoBits})"))
            .as("rho"))
        .groupBy($"grp", $"idx").agg(max($"rho").as("r"))
      def est(df: org.apache.spark.sql.DataFrame) = df
        .groupBy($"grp")
        .agg(count(one).as("regs_used"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT)," +
            s" ${RhoMax} - r)")).as("zi0"))
        .select($"grp", expr(
          s"CAST(floor(${KSql} / (zi0 + (${M} -" +
            s" regs_used) * CAST(${1L << RhoMax} AS BIGINT)))" +
            " AS BIGINT)").as("est_milli"))
      val fin = est(regs)
      val srcs = td.select($"grp").distinct()
      val pairs = srcs.select($"grp".as("sa"))
        .join(srcs.select($"grp".as("sb")), $"sa" < $"sb")
      // union registers MERGED from the per-source registers: the
      // 512-cells-per-shard merge, not a recompute from rows
      val uregs = pairs.join(regs,
          $"grp" === $"sa" || $"grp" === $"sb")
        .groupBy(concat($"sa", lit("|"), $"sb").as("grp"), $"idx")
        .agg(max($"r").as("r"))
      val ufin = est(uregs)
        .select($"grp".as("ugrp"), $"est_milli".as("est_union"))
      val ex = td.select($"grp".as("ga"), $"h")
        .join(td.select($"grp".as("gb"), $"h".as("h2")),
          $"h" === $"h2" && $"ga" < $"gb")
        .groupBy($"ga", $"gb").agg(count(one).as("exact_inter"))
      pairs
        .join(fin.select($"grp".as("fga"), $"est_milli".as("est_a")),
          $"sa" === $"fga")
        .join(fin.select($"grp".as("fgb"), $"est_milli".as("est_b")),
          $"sb" === $"fgb")
        .join(ufin, concat($"sa", lit("|"), $"sb") === $"ugrp")
        .join(ex, $"sa" === $"ga" && $"sb" === $"gb", "left")
        .select($"sa", $"sb", $"est_a", $"est_b", $"est_union",
          ($"est_a" + $"est_b" - $"est_union").as("inter_milli"),
          coalesce($"exact_inter", lit(0L)).as("exact_inter"),
          when(coalesce($"exact_inter", lit(0L)) === 0, lit(null))
            .otherwise(expr(
              "CAST(abs(est_a + est_b - est_union - 1000 * exact_inter)" +
                " * 1000000 DIV (1000 * exact_inter) AS BIGINT)"))
            .as("err_ppm"))
    },

    // KMV (k-minimum-values) sketch intersection — the sketch
    // that answers intersections DIRECTLY, vs q276's HLL
    // inclusion-exclusion detour: keep the k=256 smallest hashes per
    // source; the union estimate is (k-1)·M / h_(k) over the merged
    // bottom-k, and Jaccard is estimated from the shared fraction of
    // the merged bottom-k, so inter = J·union needs no subtraction of
    // two large estimates. Per source pair: KMV intersection estimate
    // vs exact (signed ppm error) — the measured comparison a team
    // picking a sketch reads next to q276's table. Integer-exact: KMV
    // arithmetic is integer DIV over 60-bit hashes; ranks via
    // bottom-k windows over k-bounded merged sets.
    // ---- KMV bottom-k intersection ------------------------------------------
    Qry(
      "q285_kmv_intersect",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |td AS (SELECT DISTINCT d.source AS grp, sh.h
         |  FROM sh JOIN documents d USING (doc_id)),
         |kmv AS (SELECT grp, h FROM (
         |    SELECT grp, h, row_number() OVER (PARTITION BY grp
         |      ORDER BY h) AS rn FROM td) WHERE rn <= $KmvK),
         |pairs AS (SELECT a.grp AS sa, b.grp AS sb
         |  FROM (SELECT DISTINCT grp FROM td) a
         |  JOIN (SELECT DISTINCT grp FROM td) b ON a.grp < b.grp),
         |mrg AS (SELECT sa, sb, h, shared FROM (
         |    SELECT p.sa, p.sb, k.h,
         |      CAST(COUNT(*) = 2 AS BIGINT) AS shared,
         |      row_number() OVER (PARTITION BY p.sa, p.sb
         |        ORDER BY k.h) AS rn
         |    FROM pairs p JOIN kmv k ON k.grp IN (p.sa, p.sb)
         |    GROUP BY p.sa, p.sb, k.h) WHERE rn <= $KmvK),
         |agg AS (SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS kk,
         |    CAST(SUM(shared) AS BIGINT) AS nsh,
         |    CAST(MAX(h) AS BIGINT) AS hk
         |  FROM mrg GROUP BY 1, 2),
         |est AS (SELECT sa, sb, kk, nsh,
         |    (kk - 1) * $P // hk AS est_union,
         |    ((kk - 1) * $P // hk) * nsh // kk AS est_inter
         |  FROM agg),
         |ex AS (SELECT a.grp AS sa, b.grp AS sb,
         |    CAST(COUNT(*) AS BIGINT) AS exact_inter
         |  FROM td a JOIN td b ON a.h = b.h AND a.grp < b.grp
         |  GROUP BY 1, 2)
         |SELECT e.sa, e.sb, kk, nsh,
         |  CAST(est_union AS BIGINT) AS est_union,
         |  CAST(est_inter AS BIGINT) AS est_inter,
         |  COALESCE(ex.exact_inter, 0) AS exact_inter,
         |  CASE WHEN COALESCE(ex.exact_inter, 0) = 0 THEN NULL
         |    ELSE CAST(floor(1000000.0 * (est_inter - ex.exact_inter)
         |      / ex.exact_inter) AS BIGINT) END AS err_ppm
         |FROM est e LEFT JOIN ex ON ex.sa = e.sa AND ex.sb = e.sb"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val td = graft.operators.Dedup.shingleHashes(
        Tables(spark, dir).documents, "doc_id", "text",
        carry = Seq("source"))
        .select($"source".as("grp"), $"h").distinct()
      // bottom-k per source: rank-limit pushdown keeps a partial
      // bottom-k per input partition before the per-source exchange
      val wG = Window.partitionBy($"grp").orderBy($"h")
      val kmv = td.withColumn("rn", row_number().over(wG))
        .filter($"rn" <= KmvK).select($"grp", $"h")
      val srcs = td.select($"grp").distinct()
      val pairs = srcs.select($"grp".as("sa"))
        .join(srcs.select($"grp".as("sb")), $"sa" < $"sb")
      // merged bottom-k per pair: k-bounded inputs, k-bounded output
      val wP = Window.partitionBy($"sa", $"sb").orderBy($"h")
      val mrg = pairs.join(kmv, $"grp" === $"sa" || $"grp" === $"sb")
        .groupBy($"sa", $"sb", $"h")
        .agg((count(one) === 2).cast(LongType).as("shared"))
        .withColumn("rn", row_number().over(wP))
        .filter($"rn" <= KmvK)
      val agg = mrg.groupBy($"sa", $"sb")
        .agg(count(one).as("kk"), sum($"shared").as("nsh"),
          max($"h").as("hk"))
      val est = agg.select($"sa", $"sb", $"kk", $"nsh",
        expr(s"(kk - 1) * $P DIV hk").as("est_union"),
        expr(s"((kk - 1) * $P DIV hk) * nsh DIV kk").as("est_inter"))
      val ex = td.select($"grp".as("ga"), $"h")
        .join(td.select($"grp".as("gb"), $"h".as("h2")),
          $"h" === $"h2" && $"ga" < $"gb")
        .groupBy($"ga", $"gb").agg(count(one).as("exact_inter"))
      est.join(ex, $"sa" === $"ga" && $"sb" === $"gb", "left")
        .select($"sa", $"sb", $"kk", $"nsh", $"est_union", $"est_inter",
          coalesce($"exact_inter", lit(0L)).as("exact_inter"),
          when(coalesce($"exact_inter", lit(0L)) === 0, lit(null))
            .otherwise(expr(
              "CAST(floor(1000000.0 * (est_inter - exact_inter)" +
                " / exact_inter) AS BIGINT)")).as("err_ppm"))
    },

    // Per-source distinct-shingle cardinality from a STREAMED
    // corpus via [[BottomKSketch]] — q221 proved HLL registers stream
    // (fixed 512 cells through a groupBy); this is the other sketch
    // family streamed, and through a custom stateful operator because
    // a complete-mode groupBy cannot express "keep only the k
    // smallest" with bounded state (its distinct-hash state would be
    // cardinality-sized). The corpus deliberately splits across THREE
    // micro-batches (mod-2 doc split + sentinel via
    // [[Streams.partedDir]], maxFilesPerTrigger=1), so the gate pins
    // cross-batch merge correctness; the flush timer emits each
    // source's final k hashes exactly once after the sentinel closes
    // the watermark. Post-sink: est = (k-1)·P DIV h_(k) per source,
    // audited against the exact distinct count (batch side) in signed
    // ppm. Scale: state = k longs per source; the estimator never
    // sees corpus cardinality.
    Qry(
      "q286_stream_kmv",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |td AS (SELECT DISTINCT d.source AS grp, sh.h
         |  FROM sh JOIN documents d USING (doc_id)),
         |kmv AS (SELECT grp, h FROM (
         |    SELECT grp, h, row_number() OVER (PARTITION BY grp
         |      ORDER BY h) AS rn FROM td) WHERE rn <= $StreamKmvK),
         |agg AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS kk,
         |    CAST(MAX(h) AS BIGINT) AS hk FROM kmv GROUP BY 1),
         |ex AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS exact
         |       FROM td GROUP BY 1)
         |SELECT agg.grp AS source, kk,
         |  CAST((kk - 1) * $P // hk AS BIGINT) AS est,
         |  exact,
         |  CAST(floor(1000000.0 * ((kk - 1) * $P // hk - exact)
         |    / exact) AS BIGINT) AS err_ppm
         |FROM agg JOIN ex ON agg.grp = ex.grp""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        // (source, shingle-hash) rows at event time 0; the corpus
        // splits across two batches on doc parity, the sentinel third
        val rows = Dedup.shingleHashes(
          Tables(spark, dir).documents, "doc_id", "text",
          carry = Seq("source", "doc_id"))
          .select($"source".as("grp"), $"h", $"doc_id")
        // real rows sit 2h BEFORE the flush instant (not at epoch 0:
        // the initial watermark is 0 and a 0-ts row would be exactly
        // on it — late-row filtering semantics differ by operator)
        def part(p: Int) = rows.filter($"doc_id" % 2 === p)
          .select($"grp", $"h", lit(FlushAtMs - 7200000L).as("ms"))
        // delay 1h keeps the ts-0 rows of batch 2 ahead of the
        // watermark (0 - 1h) — a 0s delay would drop them as late;
        // the sentinel sits 2h past the flush instant so the final
        // watermark (sentinel - 1h) still crosses every timer
        val sentinel = spark.range(1).select(lit("~").as("grp"),
          lit(-1L).as("h"), lit(FlushAtMs + 7200000L).as("ms"))
        val srcDir = Streams.partedDir(s"$dir#q286",
          Seq(part(0), part(1), sentinel))
        val src = spark.readStream
          .schema(part(0).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .withColumn("ets", timestamp_millis($"ms"))
          .withWatermark("ets", "1 hour")
          .select($"grp", $"h", $"ets")
          .as[(String, Long, Timestamp)]
        val out = src.groupByKey(_._1)
          .transformWithState(new BottomKSketch(StreamKmvK, FlushAtMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("grp", "h")
        val sketch = Streams.runToMemory(out, "append")
          .filter($"grp" =!= "~")
        val agg = sketch.groupBy($"grp")
          .agg(count(one).as("kk"), max($"h").as("hk"))
        // the audit side (batch) — the estimator never reads it
        val ex = Dedup.shingleHashes(
          Tables(spark, dir).documents, "doc_id", "text",
          carry = Seq("source"))
          .select($"source".as("g2"), $"h").distinct()
          .groupBy($"g2").agg(count(one).as("exact"))
        agg.join(ex, $"grp" === $"g2")
          .select($"grp".as("source"), $"kk",
            expr(s"(kk - 1) * $P DIV hk").as("est"), $"exact",
            expr(s"CAST(floor(1000000.0 * ((kk - 1) * $P DIV hk" +
              " - exact) / exact) AS BIGINT)").as("err_ppm"))
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    },

    // The mergeable QUANTILE sketch — q-digest (see
    // [[graft.operators.QDigest]]) — closing the one gap in the sketch
    // family (CMS/HLL/Bloom/MinHash/KMV all had register-state queries;
    // percentiles, the reference's core analytic, came only from exact
    // sorts or the opaque built-in).
    //
    // Per-returnflag q-digest over lineitem price cents —
    // P50/P90/P99 answered from the sketch, with the true rank of each
    // answer audited against the target in-row (`rank_err`, `bound_ok`
    // pins 0 <= err <= cnt_chosen + 2·levels·t). The oracle rebuilds
    // the digest bit-for-bit (construction is a pure function of the
    // leaf histogram — the q125 CMS proof shape). Scale: the only
    // corpus-sized stage is the leaf-count aggregate; ten compression
    // passes run over <= groups × 2^levels rows.
    // ---- batch q-digest quantiles ------------------------------------------
    Qry(
      "q287_qdigest_quantiles", {
        val (extCtes, extSel) = QDigest.oracleQuantileParts(
          "dig", "lf", Seq("g"), Levels, CellW, Pcts)
        s"""WITH $oracleSrcCte,
           |d$Levels AS (SELECT l.g, $Nleaf + bucket AS node,
           |    $Levels AS lv, lcnt AS cnt, t
           |  FROM lf l JOIN nt USING (g)),
           |${QDigest.oracleCompressCtes(s"d$Levels", "dig", Levels,
              Seq("g"))},
           |$extCtes
           |$extSel""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val src = Tables(spark, dir).lineitem.select(
        $"l_returnflag".as("g"), expr(bucketExpr).as("bucket"))
      val leaf = Staging.stage(src.groupBy($"g", $"bucket")
        .agg(count(one).as("lcnt")), eager = false)
      val nt = leaf.groupBy($"g").agg(
        expr(s"greatest(CAST(sum(lcnt) AS BIGINT) DIV $QDigestK, " +
          "CAST(1 AS BIGINT))").as("t"))
      val d10 = leaf.join(nt, "g").select($"g",
        (lit(Nleaf) + $"bucket").as("node"), lit(Levels).as("lv"),
        $"lcnt".as("cnt"), $"t")
      val dig = QDigest.compress(d10, Seq("g"), Levels)
      QDigest.quantiles(dig, leaf, Seq("g"), Levels, CellW, Pcts)
    },

    // MERGE across shards — four per-shard digests (l_suppkey
    // mod 4) built independently with the shared threshold, merged by
    // node-wise count addition + one re-compression, quantiles
    // extracted from the merged digest SIDE-BY-SIDE with the
    // direct-build digest's (est_cents_merged vs est_cents_direct);
    // the merged answers carry the same audited bound. This is the
    // 100 TB deployment shape: shards sketch locally, only
    // O(K·levels)-node digests move.
    // ---- shard-merge: digests add across shards ----------------------------
    Qry(
      "q288_qdigest_merge", {
        val (extM, selM) = QDigest.oracleQuantileParts(
          "digm", "lf", Seq("g"), Levels, CellW, Pcts, tag = "m")
        val (extD, _) = QDigest.oracleQuantileParts(
          "digd", "lf", Seq("g"), Levels, CellW, Pcts, tag = "d")
        val _ = selM // final select is the side-by-side join below
        s"""WITH srcs AS (SELECT l_returnflag AS g, l_suppkey % 4 AS shard,
           |    LEAST(CAST(round(l_extendedprice * 100) AS BIGINT)
           |      // $CellW, ${Nleaf - 1}) AS bucket
           |  FROM lineitem),
           |lfs AS (SELECT g, shard, bucket,
           |    CAST(COUNT(*) AS BIGINT) AS lcnt
           |  FROM srcs GROUP BY 1, 2, 3),
           |lf AS (SELECT g, bucket, CAST(SUM(lcnt) AS BIGINT) AS lcnt
           |       FROM lfs GROUP BY 1, 2),
           |nt AS (SELECT g, GREATEST(CAST(SUM(lcnt) AS BIGINT) // $QDigestK,
           |         CAST(1 AS BIGINT)) AS t FROM lf GROUP BY 1),
           |ds$Levels AS (SELECT l.g, l.shard, $Nleaf + bucket AS node,
           |    $Levels AS lv, lcnt AS cnt, t
           |  FROM lfs l JOIN nt USING (g)),
           |${QDigest.oracleCompressCtes(s"ds$Levels", "digs", Levels,
              Seq("g", "shard"))},
           |m$Levels AS (SELECT g, node, MAX(lv) AS lv,
           |    CAST(SUM(cnt) AS BIGINT) AS cnt, MAX(t) AS t
           |  FROM digs GROUP BY 1, 2),
           |${QDigest.oracleCompressCtes(s"m$Levels", "digm", Levels,
              Seq("g"))},
           |dd$Levels AS (SELECT l.g, $Nleaf + bucket AS node,
           |    $Levels AS lv, lcnt AS cnt, t
           |  FROM lf l JOIN nt USING (g)),
           |${QDigest.oracleCompressCtes(s"dd$Levels", "digd", Levels,
              Seq("g"))},
           |$extM,
           |$extD
           |SELECT e.g, e.pct,
           |  (e.est_hi + 1) * $CellW - 1 AS est_cents_merged,
           |  (ed.est_hi + 1) * $CellW - 1 AS est_cents_direct,
           |  r.rank_le, e.target,
           |  r.rank_le - e.target AS rank_err,
           |  CAST(r.rank_le >= e.target AND
           |    r.rank_le - e.target <= e.cnt_chosen + ${2L * Levels} * e.t
           |    AS BOOLEAN) AS bound_ok,
           |  e.digest_nodes AS nodes_merged,
           |  ed.digest_nodes AS nodes_direct
           |FROM estm e
           |JOIN rankm r ON r.g = e.g AND r.pct = e.pct
           |JOIN estd ed ON ed.g = e.g AND ed.pct = e.pct""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val srcs = Tables(spark, dir).lineitem.select(
        $"l_returnflag".as("g"), expr("l_suppkey % 4").as("shard"),
        expr(bucketExpr).as("bucket"))
      val lfs = Staging.stage(srcs.groupBy($"g", $"shard", $"bucket")
        .agg(count(one).as("lcnt")), eager = false)
      val leaf = lfs.groupBy($"g", $"bucket")
        .agg(sum("lcnt").cast("long").as("lcnt"))
      val nt = leaf.groupBy($"g").agg(
        expr(s"greatest(CAST(sum(lcnt) AS BIGINT) DIV $QDigestK, " +
          "CAST(1 AS BIGINT))").as("t"))
      val ds10 = lfs.join(nt, "g").select($"g", $"shard",
        (lit(Nleaf) + $"bucket").as("node"), lit(Levels).as("lv"),
        $"lcnt".as("cnt"), $"t")
      val digs = QDigest.compress(ds10, Seq("g", "shard"), Levels)
      val m10 = digs.groupBy($"g", $"node").agg(max("lv").as("lv"),
        sum("cnt").cast("long").as("cnt"), max("t").as("t"))
      val digM = QDigest.compress(m10, Seq("g"), Levels)
      val dd10 = leaf.join(nt, "g").select($"g",
        (lit(Nleaf) + $"bucket").as("node"), lit(Levels).as("lv"),
        $"lcnt".as("cnt"), $"t")
      val digD = QDigest.compress(dd10, Seq("g"), Levels)
      val resM = QDigest.quantiles(digM, leaf, Seq("g"), Levels, CellW,
        Pcts)
      val resD = QDigest.quantiles(digD, leaf, Seq("g"), Levels, CellW,
        Pcts)
      resM.select($"g", $"pct", $"est_cents".as("est_cents_merged"),
          $"rank_le", $"target", $"rank_err", $"bound_ok",
          $"digest_nodes".as("nodes_merged"))
        .join(resD.select($"g", $"pct",
          $"est_cents".as("est_cents_direct"),
          $"digest_nodes".as("nodes_direct")), Seq("g", "pct"))
    },

    // The STREAMING twin — per-key state IS the compressed digest
    // ([[QDigestSketch]]); the corpus deliberately splits across two
    // micro-batches (order-key parity via [[Streams.partedDir]],
    // maxFilesPerTrigger=1) plus a sentinel, so the gate pins the
    // cross-batch merge+recompress path; the oracle re-derives BOTH rounds
    // (digest(batch0), then merge batch1 + recompress — the q258
    // unrolled-round discipline). Post-sink: the same quantile extraction
    // as q287.
    // ---- streaming twin: state IS the digest -------------------------------
    Qry(
      "q289_stream_qdigest", {
        val (extCtes, extSel) = QDigest.oracleQuantileParts(
          "digb", "lf", Seq("g"), Levels, CellW, Pcts)
        s"""WITH $oracleSrcCte,
           |lf0 AS (SELECT g, bucket, CAST(COUNT(*) AS BIGINT) AS lcnt
           |        FROM src WHERE par = 0 GROUP BY 1, 2),
           |lf1 AS (SELECT g, bucket, CAST(COUNT(*) AS BIGINT) AS lcnt
           |        FROM src WHERE par = 1 GROUP BY 1, 2),
           |da$Levels AS (SELECT l.g, $Nleaf + bucket AS node,
           |    $Levels AS lv, lcnt AS cnt, t
           |  FROM lf0 l JOIN nt USING (g)),
           |${QDigest.oracleCompressCtes(s"da$Levels", "diga", Levels,
              Seq("g"))},
           |mb$Levels AS (SELECT g, node, MAX(lv) AS lv,
           |    CAST(SUM(cnt) AS BIGINT) AS cnt, MAX(t) AS t
           |  FROM (SELECT g, node, lv, cnt, t FROM diga
           |        UNION ALL
           |        SELECT l.g, $Nleaf + bucket AS node, $Levels AS lv,
           |          lcnt AS cnt, t
           |        FROM lf1 l JOIN nt USING (g))
           |  GROUP BY 1, 2),
           |${QDigest.oracleCompressCtes(s"mb$Levels", "digb", Levels,
              Seq("g"))},
           |$extCtes
           |$extSel""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val li = Tables(spark, dir).lineitem.select(
          $"l_returnflag".as("g"), expr(bucketExpr).as("bucket"),
          expr("l_orderkey % 2").as("par"))
        val leaf = Staging.stage(li.groupBy($"g", $"bucket")
          .agg(count(one).as("lcnt")), eager = false)
        val nt = leaf.groupBy($"g").agg(
          expr(s"greatest(CAST(sum(lcnt) AS BIGINT) DIV $QDigestK, " +
            "CAST(1 AS BIGINT))").as("t"))
        // per-key thresholds for the processor: 3 rows, driver-bounded
        // (the Bpe one-row-per-round discipline) — matches nt exactly
        val ts = nt.as[(String, Long)].collect().toMap
        // real rows sit 2h BEFORE the flush instant; sentinel 2h after
        // (q286's watermark geometry: delay 1h keeps batch-2 rows live,
        // sentinel - 1h still crosses every timer)
        def part(p: Int) = li.filter($"par" === p)
          .select($"g", (lit(Nleaf) + $"bucket").as("node"),
            lit(FlushAtMs - 7200000L).as("ms"))
        val sentinel = spark.range(1).select(lit("~").as("g"),
          lit(-1L).as("node"), lit(FlushAtMs + 7200000L).as("ms"))
        val srcDir = Streams.partedDir(s"$dir#q289",
          Seq(part(0), part(1), sentinel))
        val src = spark.readStream
          .schema(part(0).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .withColumn("ets", timestamp_millis($"ms"))
          .withWatermark("ets", "1 hour")
          .select($"g", $"node", $"ets")
          .as[(String, Long, Timestamp)]
        val out = src.groupByKey(_._1)
          .transformWithState(new QDigestSketch(ts, Levels, FlushAtMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("g", "node", "lv", "cnt")
        val sink = Streams.runToMemory(out, "append")
          .filter($"g" =!= "~")
        val dig = sink.join(nt, "g")
          .select($"g", $"node", $"lv", $"cnt", $"t")
        QDigest.quantiles(dig, leaf, Seq("g"), Levels, CellW, Pcts)
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    },

    // Merged shard-summary heavy hitters — the bounded-shuffle
    // path for vocabulary-scale counts. Each of S=8 data shards
    // (hash(doc_id), NOT keyed by word — keyed sharding would be
    // exact and is the expensive full shuffle this replaces) keeps
    // only its local top-K=20 words plus its cutoff (the K-th count —
    // the most a DROPPED word can hold there, since ties break by
    // word and a dropped tie equals the cutoff). The merge sums
    // per-word counts where present (the lower bound) and adds absent
    // shards' cutoffs (the upper bound): S×K rows move instead of
    // |vocabulary|. The exact corpus count and true rank ride as the
    // AUDIT columns, and `contained` pins lb <= exact <= ub row by
    // row — the deterministic analog of SpaceSaving/Misra-Gries
    // guarantees (those sketches are insert-order-dependent and could
    // never hash-gate; per-shard exact top-K + cutoff is
    // order-independent, so the oracle rebuilds it bit for bit).
    // Scale shape: one corpus-sized (shard, word) partial-aggregated
    // count; everything after is S×K-bounded except the audit's
    // vocabulary-sized exact-count table, which the TopN rank probes
    // via a bounded broadcast join (never an unpartitioned sort).
    // ---- sharded top-k with error bounds ------------------------------------
    Qry(
      "q299_sharded_topk", {
        val shard = TextOps.oracleHashSql(
          "'shard:' || CAST(doc_id AS VARCHAR)")
        s"""WITH ${TextOps.oracleToksCte},
           |w AS (SELECT doc_id, unnest(tk) AS word FROM toks),
           |sh AS (SELECT ($shard) % $S AS s, word FROM w),
           |c AS (SELECT s, word, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM sh GROUP BY 1, 2),
           |r AS (SELECT s, word, cnt,
           |    row_number() OVER (PARTITION BY s
           |      ORDER BY cnt DESC, word) AS rn,
           |    COUNT(*) OVER (PARTITION BY s) AS nw FROM c),
           |summ AS (SELECT s, word, cnt FROM r WHERE rn <= $ShardK),
           |cut AS (SELECT s, MAX(CASE WHEN rn = $ShardK AND nw > $ShardK
           |      THEN cnt ELSE 0 END) AS bnd
           |  FROM r GROUP BY 1),
           |tot AS (SELECT SUM(bnd) AS total_bnd FROM cut),
           |cand AS (SELECT word, SUM(cnt) AS lb, SUM(c2.bnd) AS covered
           |  FROM summ JOIN cut c2 USING (s) GROUP BY 1),
           |est AS (SELECT word, lb,
           |    lb + (tot.total_bnd - covered) AS ub
           |  FROM cand, tot),
           |top AS (SELECT word, lb, ub FROM (
           |    SELECT *, row_number() OVER (ORDER BY lb DESC, word)
           |      AS brank FROM est) WHERE brank <= $TopN),
           |ex AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS exact
           |       FROM w GROUP BY 1),
           |xr AS (SELECT word, exact, CAST(row_number() OVER (
           |    ORDER BY exact DESC, word) AS BIGINT) AS true_rank
           |  FROM ex)
           |SELECT t.word, CAST(t.lb AS BIGINT) AS lb,
           |  CAST(t.ub AS BIGINT) AS ub, x.exact, x.true_rank,
           |  (t.lb <= x.exact AND x.exact <= t.ub) AS contained
           |FROM top t JOIN xr x USING (word)""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val w = Tables(spark, dir).documents
        .select($"doc_id", explode(TextOps.tokens($"text")).as("word"))
      val sh = w.select((TextOps.hashMod(concat(lit("shard:"),
        $"doc_id".cast("string"))) % S).as("s"), $"word")
      val c = sh.groupBy($"s", $"word").agg(count(one).as("cnt"))
      val wRank = Window.partitionBy($"s").orderBy($"cnt".desc, $"word")
      val r = c.withColumn("rn", row_number().over(wRank))
        .withColumn("nw", count(one).over(Window.partitionBy($"s")))
      val summ = r.filter($"rn" <= ShardK).select($"s", $"word", $"cnt")
      val cut = r.groupBy($"s")
        .agg(max(when($"rn" === ShardK && $"nw" > ShardK, $"cnt").otherwise(0L))
          .as("bnd"))
      val tot = cut.agg(sum($"bnd").as("total_bnd"))
      val cand = summ.join(cut, "s")
        .groupBy($"word")
        .agg(sum($"cnt").as("lb"), sum($"bnd").as("covered"))
      val est = cand.crossJoin(broadcast(tot))
        .select($"word", $"lb",
          ($"lb" + ($"total_bnd" - $"covered")).as("ub"))
      val top = est.withColumn("brank",
          row_number().over(Window.orderBy($"lb".desc, $"word")))
        .filter($"brank" <= TopN).select($"word", $"lb", $"ub")
      // audit side: true_rank for the TopN words only — 1 + the number
      // of vocabulary entries sorting strictly before (exact DESC, word
      // ASC). A bounded broadcast-NLJ count over the vocab table
      // replaces an unpartitioned Window.orderBy over every
      // distinct word (one task pulling the whole vocabulary — the
      // full-shuffle shape this query exists to avoid)
      val ex = w.groupBy($"word").agg(count(one).as("exact"))
      val topEx = ex.join(broadcast(top), "word")
        .select($"word", $"lb", $"ub", $"exact")
      val pred = ex.select($"word".as("w2"), $"exact".as("x2"))
        .join(broadcast(topEx.select($"word".as("tw"), $"exact".as("tx"))),
          $"x2" > $"tx" || ($"x2" === $"tx" && $"w2" < $"tw"))
        .groupBy($"tw").agg(count(one).as("npred"))
      topEx.join(broadcast(pred), $"word" === $"tw", "left_outer")
        .select($"word", $"lb", $"ub", $"exact",
          (coalesce($"npred", lit(0L)) + 1L).as("true_rank"),
          ($"lb" <= $"exact" && $"exact" <= $"ub").as("contained"))
    },

    // q287's per-returnflag digest built at K ∈ {6, 48, 384}
    // (threshold t = n/K — the sketch's one knob) in ONE compression
    // chain: K rides as a group column, so the same ten window passes
    // produce all three digests per flag and the quantile extraction
    // emits per (flag, K, pct): digest size in nodes, the estimate,
    // its exact rank error, and the theoretical bound check. The
    // output IS the tuning table a deployment reads before fixing K —
    // small K = a handful of nodes but rank error up to 2·levels·t,
    // large K = near-exact at ~K·levels nodes — measured in-engine,
    // not assumed from the paper's O(K·log U) claim. Scale shape
    // identical to q287 (the sweep multiplies only the
    // groups×2^levels-bounded compression frames by |Ks|, never the
    // corpus): one corpus-sized leaf-count aggregate feeds everything.
    Qry(
      "q301_qdigest_sweep", {
        val (extCtes, extSel) = QDigest.oracleQuantileParts(
          "dig", "lfk", Seq("g", "kk"), Levels, CellW, Pcts)
        val kRows = Ks.map(k => s"($k)").mkString(", ")
        s"""WITH src AS (SELECT l_returnflag AS g,
           |    LEAST(CAST(round(l_extendedprice * 100) AS BIGINT)
           |      // $CellW, ${Nleaf - 1}) AS bucket
           |  FROM lineitem),
           |lf AS (SELECT g, bucket, CAST(COUNT(*) AS BIGINT) AS lcnt
           |       FROM src GROUP BY 1, 2),
           |ks(kk) AS (VALUES $kRows),
           |lfk AS (SELECT g, CAST(kk AS BIGINT) AS kk, bucket, lcnt
           |        FROM lf, ks),
           |nt AS (SELECT g, kk, GREATEST(CAST(SUM(lcnt) AS BIGINT) // kk,
           |         CAST(1 AS BIGINT)) AS t FROM lfk GROUP BY 1, 2),
           |d$Levels AS (SELECT l.g, l.kk, $Nleaf + bucket AS node,
           |    $Levels AS lv, lcnt AS cnt, t
           |  FROM lfk l JOIN nt USING (g, kk)),
           |${QDigest.oracleCompressCtes(s"d$Levels", "dig", Levels,
              Seq("g", "kk"))},
           |$extCtes
           |$extSel""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val src = Tables(spark, dir).lineitem.select(
        $"l_returnflag".as("g"), expr(bucketExpr).as("bucket"))
      val leaf = Staging.stage(src.groupBy($"g", $"bucket")
        .agg(count(one).as("lcnt")), eager = false)
      // K as a group column: one compress chain sweeps all thresholds
      val lfk = leaf.crossJoin(broadcast(Ks.toDF("kk")))
      val nt = lfk.groupBy($"g", $"kk").agg(
        expr("greatest(CAST(sum(lcnt) AS BIGINT) DIV kk, " +
          "CAST(1 AS BIGINT))").as("t"))
      val dK = lfk.join(nt, Seq("g", "kk")).select($"g", $"kk",
        (lit(Nleaf) + $"bucket").as("node"), lit(Levels).as("lv"),
        $"lcnt".as("cnt"), $"t")
      val dig = QDigest.compress(dK, Seq("g", "kk"), Levels)
      QDigest.quantiles(dig, lfk, Seq("g", "kk"), Levels, CellW, Pcts)
    },

    // WEIGHTED q-digest — quantity-weighted price quantiles from
    // the same machinery with SUM(weight) leaves (the digest never
    // cared that leaf counts were row counts; any non-negative integer
    // mass works, and construction stays a pure function of the
    // weighted leaf histogram, so the oracle still rebuilds it
    // bit-for-bit). The in-gate audit carries q138's EXACT weighted
    // quantile at the digest's bucket grain next to the estimate:
    // `exact_cents` = the first bucket whose cumulative weight reaches
    // the target (exact integer order statistics over the leaf table),
    // with `bound_ok` still pinning the rank-error bound — so the
    // digest's answer is measured against the exact weighted answer,
    // not just against its own bound.
    // ---- weighted q-digest --------------------------------------------------
    Qry(
      "q308_qdigest_weighted", {
        val (extCtes, extSel) = QDigest.oracleQuantileParts(
          "dig", "lf", Seq("g"), Levels, CellW, WeightedPcts)
        // exact weighted quantile at bucket grain: first bucket whose
        // cumulative weight reaches the target (q138's selection rule
        // over the leaf table)
        s"""WITH src AS (SELECT l_returnflag AS g,
           |    LEAST(CAST(round(l_extendedprice * 100) AS BIGINT)
           |      // $CellW, ${Nleaf - 1}) AS bucket,
           |    CAST(l_quantity AS BIGINT) AS w
           |  FROM lineitem),
           |lf AS (SELECT g, bucket, CAST(SUM(w) AS BIGINT) AS lcnt
           |       FROM src GROUP BY 1, 2),
           |nt AS (SELECT g, GREATEST(CAST(SUM(lcnt) AS BIGINT) // $WeightedQDigestK,
           |         CAST(1 AS BIGINT)) AS t FROM lf GROUP BY 1),
           |d$Levels AS (SELECT l.g, $Nleaf + bucket AS node,
           |    $Levels AS lv, lcnt AS cnt, t
           |  FROM lf l JOIN nt USING (g)),
           |${QDigest.oracleCompressCtes(s"d$Levels", "dig", Levels,
              Seq("g"))},
           |$extCtes,
           |cw AS (SELECT g, bucket,
           |    SUM(lcnt) OVER (PARTITION BY g ORDER BY bucket) AS cum,
           |    SUM(lcnt) OVER (PARTITION BY g) AS n FROM lf),
           |exact AS (SELECT g, pct,
           |    MIN(bucket) AS exact_bucket
           |  FROM cw CROSS JOIN (SELECT * FROM (VALUES (50), (95))
           |    AS v(pct)) p
           |  WHERE cum >= (pct * n + 99) // 100
           |  GROUP BY 1, 2),
           |est_out AS ($extSel)
           |SELECT o.g, o.pct, o.est_cents,
           |  (x.exact_bucket + 1) * $CellW - 1 AS exact_cents,
           |  o.rank_le, o.target, o.rank_err, o.bound_ok, o.digest_nodes
           |FROM est_out o JOIN exact x ON x.g = o.g AND x.pct = o.pct"""
          .stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val src = Tables(spark, dir).lineitem.select(
        $"l_returnflag".as("g"), expr(bucketExpr).as("bucket"),
        $"l_quantity".cast("long").as("w"))
      val leaf = Staging.stage(src.groupBy($"g", $"bucket")
        .agg(sum($"w").cast("long").as("lcnt")), eager = false)
      val nt = leaf.groupBy($"g").agg(
        expr(s"greatest(CAST(sum(lcnt) AS BIGINT) DIV $WeightedQDigestK, " +
          "CAST(1 AS BIGINT))").as("t"))
      val d10 = leaf.join(nt, "g").select($"g",
        (lit(Nleaf) + $"bucket").as("node"), lit(Levels).as("lv"),
        $"lcnt".as("cnt"), $"t")
      val dig = QDigest.compress(d10, Seq("g"), Levels)
      val est = QDigest.quantiles(dig, leaf, Seq("g"), Levels, CellW,
        WeightedPcts)
      // exact weighted quantile over the (groups x 2^levels)-bounded
      // leaf table: one window pass, the q138 selection rule
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"bucket")
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy($"g")
      val exact = leaf
        .withColumn("cum", sum($"lcnt").over(wCum))
        .withColumn("n", sum($"lcnt").over(wAll))
        .crossJoin(broadcast(WeightedPcts.toDF("pct")))
        .filter($"cum" >= expr("(pct * n + 99) DIV 100"))
        .groupBy($"g", $"pct").agg(min($"bucket").as("exact_bucket"))
      est.join(exact, Seq("g", "pct"))
        .select($"g", $"pct", $"est_cents",
          (($"exact_bucket" + 1) * CellW - 1).as("exact_cents"),
          $"rank_le", $"target", $"rank_err", $"bound_ok",
          $"digest_nodes")
    },

    // The sliding/tumbling WINDOW streaming percentile report — the
    // reference's actual report shape as a continuous stream. Per
    // (event_type, 1-day event-time window) q-digest state
    // ([[QDigestWindowSketch]]); each window's digest emits when ITS
    // event-time timer fires (the q254 watermark-close mechanism, per
    // window), so early windows report while late ones still accumulate.
    // The fixture streams in two chronological halves split AT a window
    // boundary (every window's rows arrive in one batch — no late data by
    // construction, and window closings spread across micro-batches to
    // exercise the continuous path) + the far-future sentinel. Threshold t
    // is a DEPLOYMENT CONSTANT (a stream cannot size t = n/K before seeing
    // n; per-window t is sized to expected window volume — the standard
    // streaming q-digest design), shared with the oracle. Post-sink: q287's
    // quantile extraction per (type, window), oracle = the same CTE stack
    // with the composite group key.
    //
    // Scale shape: state per (key, window) is O(levels + n_w/t)
    // entries, time-bounded by the watermark (closed windows flush and
    // their state is never touched again); the per-batch work is one
    // local merge+recompress per live key.
    // ---- per-window streaming percentile report -----------------------------
    Qry(
      "q309_stream_window_pcts", {
        val (extCtes, extSel) = QDigest.oracleQuantileParts(
          "dig", "lf", Seq("g", "wstart"), WLevels, WCellW, WPcts)
        s"""WITH src AS (SELECT event_type AS g,
           |    (epoch_ms(CAST(ts AS TIMESTAMP)) // $DayMs) * $DayMs
           |      AS wstart,
           |    LEAST(CAST(round(value * 100) AS BIGINT) // $WCellW,
           |          ${WNleaf - 1}) AS bucket
           |  FROM events),
           |lf AS (SELECT g, wstart, bucket,
           |    CAST(COUNT(*) AS BIGINT) AS lcnt
           |       FROM src GROUP BY 1, 2, 3),
           |d$WLevels AS (SELECT g, wstart, $WNleaf + bucket AS node,
           |    $WLevels AS lv, lcnt AS cnt, CAST($WT AS BIGINT) AS t
           |  FROM lf),
           |${QDigest.oracleCompressCtes(s"d$WLevels", "dig", WLevels,
              Seq("g", "wstart"))},
           |$extCtes
           |$extSel""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = Tables(spark, dir).events.select(
          $"event_type".as("g"),
          expr(s"(unix_millis(ts) DIV $DayMs) * $DayMs").as("wstart"),
          expr(s"$WNleaf + least(CAST(round(value * 100) AS BIGINT) " +
            s"DIV $WCellW, ${WNleaf - 1})").as("node"),
          unix_millis($"ts").as("ms"))
        // leaf table for the post-sink audit (batch side, shared
        // semantics with the oracle's lf)
        val leaf = Staging.stage(
          ev.select($"g", $"wstart", ($"node" - WNleaf).as("bucket"))
            .groupBy($"g", $"wstart", $"bucket")
            .agg(count(one).as("lcnt")),
          eager = false)
        // two chronological halves split at a day boundary + sentinel:
        // every window's rows land in one batch (no late data by
        // construction); windows CLOSE across different batches
        def part(p: Int) = ev.filter(
            if (p == 0) $"ms" < SplitMs else $"ms" >= SplitMs)
          .select($"g", $"wstart", $"node", $"ms")
        val sentinel = spark.range(1).select(lit("~").as("g"),
          lit(0L).as("wstart"), lit(-1L).as("node"),
          lit(SentinelMs).as("ms"))
        val srcDir = Streams.partedDir(s"$dir#q309",
          Seq(part(0), part(1), sentinel))
        val src = spark.readStream
          .schema(part(0).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .withColumn("ets", timestamp_millis($"ms"))
          .withWatermark("ets", "1 hour")
          .select($"g", $"wstart", $"node", $"ets")
          .as[(String, Long, Long, Timestamp)]
        val out = src.groupByKey(r => (r._1, r._2))
          .transformWithState(
            new QDigestWindowSketch(WT, WLevels, DayMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("g", "wstart", "node", "lv", "cnt")
        val sink = Streams.runToMemory(out, "append")
          .filter($"g" =!= "~")
        val dig = sink.withColumn("t", lit(WT))
        QDigest.quantiles(dig, leaf, Seq("g", "wstart"), WLevels,
          WCellW, WPcts)
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    },

    // Duffield–Lund–Thorup priority sampling (JACM 2007) over
    // orders weighted by total price: each item draws u = (h+1)/P from
    // its key's hash (deterministic-uniform — reproducibility is the
    // pipeline requirement, documented in place of true randomness),
    // gets priority q = w·P DIV (h+1) (the integer floor of w/u), and
    // the sample is the top-K priorities with threshold τ = the
    // (K+1)-th. The DLT estimator Σ max(w, τ) over the sample is
    // unbiased for the population total under uniform u; the query
    // outputs the sample, τ, the estimate AND the exact total with the
    // signed error in ppm — the estimator audits itself in-gate.
    // Everything is 64-bit integer arithmetic (w·P ≤ 2⁵⁷ at cents
    // grain); both engines truncate integral division toward zero
    // (r11 probe-parity check), so the signed err_ppm is engine-exact.
    // Scale: the only corpus-sized stage is the top-(K+1) rank —
    // written as row_number + filter, which Spark rewrites to
    // WindowGroupLimit (per-partition top-K then merge), never a full
    // global sort; totals ride broadcast 1-row frames.
    Qry(
      "q318_priority_sample",
      s"""WITH it AS (SELECT o_orderkey AS k,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS w,
         |    ${TextOps.oracleHashSql("CAST(o_orderkey AS VARCHAR)")} AS h
         |  FROM orders),
         |pr AS (SELECT k, w, (w * ${TextOps.P}) // (h + 1) AS q FROM it),
         |rk AS (SELECT k, w, q,
         |    row_number() OVER (ORDER BY q DESC, k) AS rnk FROM pr),
         |top AS (SELECT * FROM rk WHERE rnk <= ${PrioritySampleK + 1}),
         |tau AS (SELECT MIN(q) AS tau FROM top),
         |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM it),
         |samp AS (SELECT k, w, q, rnk,
         |    GREATEST(w, tau.tau) AS term FROM top CROSS JOIN tau
         |  WHERE rnk <= $PrioritySampleK),
         |est AS (SELECT CAST(SUM(term) AS BIGINT) AS est FROM samp)
         |SELECT rnk, k AS orderkey, w AS w_cents, q AS priority,
         |  tau.tau AS tau, est.est AS est_total_cents,
         |  tot.tw AS true_total_cents,
         |  CAST(((est.est - tot.tw) * 1000000) // tot.tw AS BIGINT)
         |    AS err_ppm
         |FROM samp CROSS JOIN tau CROSS JOIN tot CROSS JOIN est"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val it = Tables(spark, dir).orders
        .select($"o_orderkey".cast(LongType).as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("w"),
          TextOps.hashMod($"o_orderkey".cast("string")).as("h"))
      val pr = it.select($"k", $"w",
        expr(s"(w * ${TextOps.P}) DIV (h + 1)").as("q"))
      // row_number + filter → WindowGroupLimit (per-partition top-K,
      // then merge) — never a full global sort
      val top = pr
        .withColumn("rnk",
          row_number().over(Window.orderBy($"q".desc, $"k")))
        .filter($"rnk" <= PrioritySampleK + 1)
      val tau = top.agg(min($"q").as("tau"))
      val tot = it.agg(sum($"w").cast(LongType).as("tw"))
      val samp = top.crossJoin(broadcast(tau)).filter($"rnk" <= PrioritySampleK)
        .withColumn("term", greatest($"w", $"tau"))
      val est = samp.agg(sum($"term").cast(LongType).as("est"))
      samp.crossJoin(broadcast(tot)).crossJoin(broadcast(est))
        .select($"rnk", $"k".as("orderkey"), $"w".as("w_cents"),
          $"q".as("priority"), $"tau", $"est".as("est_total_cents"),
          $"tw".as("true_total_cents"),
          expr("CAST(((est - tw) * 1000000) DIV tw AS BIGINT)")
            .as("err_ppm"))
    },

    // q318's Duffield–Lund–Thorup priority sampling run
    // PER STRATUM (order status) — the training-mix shape: one
    // bounded sample per source with an unbiased per-stratum total
    // estimator, all strata in one pass. Per-stratum threshold τ,
    // Σ max(w, τ) estimator, exact stratum total and signed err_ppm,
    // gated row-by-row. The per-stratum rank is a partitioned
    // row_number + filter — WindowGroupLimit per group, never a
    // global sort.
    Qry(
      "q323_stratified_priority_sample",
      s"""WITH it AS (SELECT o_orderstatus AS stratum, o_orderkey AS k,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS w,
         |    ${TextOps.oracleHashSql("CAST(o_orderkey AS VARCHAR)")} AS h
         |  FROM orders),
         |pr AS (SELECT stratum, k, w,
         |    (w * ${TextOps.P}) // (h + 1) AS q FROM it),
         |rk AS (SELECT stratum, k, w, q, row_number() OVER
         |    (PARTITION BY stratum ORDER BY q DESC, k) AS rnk FROM pr),
         |top AS (SELECT stratum, k, w, q, rnk,
         |    MIN(q) OVER (PARTITION BY stratum) AS tau
         |  FROM rk WHERE rnk <= ${StratK + 1}),
         |tot AS (SELECT stratum, CAST(SUM(w) AS BIGINT) AS tw FROM it
         |        GROUP BY 1),
         |samp AS (SELECT stratum, k, w, q, rnk, tau,
         |    GREATEST(w, tau) AS term FROM top WHERE rnk <= $StratK),
         |est AS (SELECT stratum, CAST(SUM(term) AS BIGINT) AS est
         |        FROM samp GROUP BY 1)
         |SELECT s.stratum, s.rnk, s.k AS orderkey, s.w AS w_cents,
         |  s.tau, est.est AS est_total_cents, tot.tw AS true_total_cents,
         |  CAST(((est.est - tot.tw) * 1000000) // tot.tw AS BIGINT)
         |    AS err_ppm
         |FROM samp s JOIN est ON est.stratum = s.stratum
         |JOIN tot ON tot.stratum = s.stratum""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val it = Tables(spark, dir).orders
        .select($"o_orderstatus".as("stratum"),
          $"o_orderkey".cast(LongType).as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("w"),
          TextOps.hashMod($"o_orderkey".cast("string")).as("h"))
      val pr = it.select($"stratum", $"k", $"w",
        expr(s"(w * ${TextOps.P}) DIV (h + 1)").as("q"))
      val top = pr
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"stratum").orderBy($"q".desc, $"k")))
        .filter($"rnk" <= StratK + 1)
        .withColumn("tau",
          min($"q").over(Window.partitionBy($"stratum")))
      val samp = top.filter($"rnk" <= StratK)
        .withColumn("term", greatest($"w", $"tau"))
      val est = samp.groupBy($"stratum".as("es"))
        .agg(sum($"term").cast(LongType).as("est"))
      val tot = it.groupBy($"stratum".as("ts"))
        .agg(sum($"w").cast(LongType).as("tw"))
      samp.join(broadcast(est), $"stratum" === $"es")
        .join(broadcast(tot), $"stratum" === $"ts")
        .select($"stratum", $"rnk", $"k".as("orderkey"),
          $"w".as("w_cents"), $"tau", $"est".as("est_total_cents"),
          $"tw".as("true_total_cents"),
          expr("CAST(((est - tw) * 1000000) DIV tw AS BIGINT)")
            .as("err_ppm"))
    }
  )
}
