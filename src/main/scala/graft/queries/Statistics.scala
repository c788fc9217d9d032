package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Exact._
import graft.Graft._
import graft.operators.{AsOfJoin, ConnectedComponents, Dedup, Sessionize,
  Staging, Stats, TextOps, Vectors}
import graft.sources.Tables
import graft.streaming.Streams

import Helpers.one

/** Statistical tests and robust statistics: regression, z-score and MAD
  * outliers, Zipf and Theil–Sen fits, chi-square independence and
  * attribution, Kolmogorov–Smirnov and Mann–Whitney drift tests,
  * Benford conformity, Spearman rank correlation, bootstrap intervals,
  * grid-density clustering and LOF, concentration and dispersion
  * indices — batch forms and their streaming twins.
  */
object Statistics {

  /** floor(1e6·log10(1+1/d)) for d=1..9, computed once in Scala and
    * embedded as literals on both sides. */
  private val BenfordPpm: Seq[(Int, Long)] = (1 to 9).map(d =>
    d -> math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong)

  private val TauHead = 50

  /** Bootstrap replicas. */
  val B = 32
  /** Poisson(1) CDF thresholds in ppm: P(X <= k), k = 0..6; u >= last
    * threshold draws weight 7. */
  private val PoisCdfPpm =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L)
  /** CI order statistics over the B replica means. */
  private val LoRank = 2
  private val HiRank = B - 1

  private def weightCase(u: String): String = {
    val whens = PoisCdfPpm.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }.mkString(" ")
    s"(CASE $whens ELSE ${PoisCdfPpm.size} END)"
  }

  /** q280's oracle text — shared verbatim by the q294 streaming twin
    * (the q281/q283 pattern). */
  val BootstrapOracle: String = {
    val u = TextOps.oracleHashSql(
      "CAST(l_orderkey AS VARCHAR) || ':' || " +
        "CAST(l_linenumber AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
        s"""WITH li AS (SELECT l_returnflag AS flag, l_orderkey,
           |    l_linenumber, l_extendedprice AS px FROM lineitem),
           |full0 AS (SELECT flag,
           |    CAST(SUM(CAST(px AS DECIMAL(28,6))) AS DOUBLE)
           |      / COUNT(*) AS mean_full,
           |    CAST(COUNT(*) AS BIGINT) AS n_rows FROM li GROUP BY 1),
           |w AS (SELECT flag, b, ${weightCase(s"($u % 1000000)")} AS w,
           |    px
           |  FROM li, range($B) t(b)),
           |rm AS (SELECT flag, b,
           |    CAST(SUM(w * CAST(px AS DECIMAL(28,6))) AS DOUBLE)
           |      / SUM(w) AS m
           |  FROM w GROUP BY 1, 2 HAVING SUM(w) > 0),
           |rk AS (SELECT flag, m, row_number() OVER (PARTITION BY flag
           |    ORDER BY m, b) AS rn FROM rm)
           |SELECT f.flag, n_rows, mean_full,
           |  CAST($B AS BIGINT) AS n_replicas,
           |  lo.m AS ci_lo, hi.m AS ci_hi
           |FROM full0 f
           |  JOIN rk lo ON lo.flag = f.flag AND lo.rn = $LoRank
           |  JOIN rk hi ON hi.flag = f.flag AND hi.rn = $HiRank"""
      .stripMargin
  }

  /** Spark-side deterministic Poisson(1) weight over (l_orderkey,
    * l_linenumber, replica b) — the md5→ppm→threshold cascade, spelled
    * once for q280 and the q294 streaming twin. */
  val WeightSql: String = weightCase(
    "(CAST(conv(substring(md5(CAST(l_orderkey AS STRING) || ':' ||" +
      " CAST(l_linenumber AS STRING) || ':' ||" +
      " CAST(b AS STRING)), 1, 15), 16, 10) AS BIGINT)" +
      s" % ${TextOps.P} % 1000000)")

  /** CI tail over the per-(flag, replica) weighted sums — `sums` needs
    * (flag, b, s decimal, wt long); `full0` the batch audit (flag,
    * mean_full, n_rows). Bounded: B rows per flag. Shared by q280 and
    * the q294 streaming twin. */
  def bootstrapTail(sums: org.apache.spark.sql.DataFrame,
      full0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import sums.sparkSession.implicits._
    val rm = sums.filter($"wt" > 0)
      .select($"flag", $"b", ($"s".cast(DoubleType) / $"wt").as("m"))
    val rk = rm.withColumn("rn", row_number().over(
      Window.partitionBy($"flag").orderBy($"m", $"b")))
    full0
      .join(rk.filter($"rn" === LoRank)
        .select($"flag".as("f1"), $"m".as("ci_lo")), $"flag" === $"f1")
      .join(rk.filter($"rn" === HiRank)
        .select($"flag".as("f2"), $"m".as("ci_hi")), $"flag" === $"f2")
      .select($"flag", $"n_rows", $"mean_full",
        lit(B.toLong).as("n_replicas"), $"ci_lo", $"ci_hi")
  }

  /** The batch full-sample audit side (flag, mean_full, n_rows). */
  def bootstrapFull0(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import li.sparkSession.implicits._
    li.groupBy($"flag")
      .agg((sum($"px".cast(Money)).cast(DoubleType) / count(one))
        .as("mean_full"), count(one).as("n_rows"))
  }

  /** q295: flag when 10000·|dev| > Thresh·MAD (3 × 1.4826 in 1e4). */
  private val Thresh = 44478L

  /** q295's oracle text — shared verbatim by the q298 streaming twin
    * (the q281/q283 pattern). */
  val MadOracle: String =
    s"""WITH h AS (SELECT event_type,
         |    CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600
         |      AS BIGINT) AS hi,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6)) * 100) AS BIGINT)
         |      AS vc
         |  FROM events GROUP BY 1, 2),
         |st AS (SELECT event_type, COUNT(*) AS n FROM h GROUP BY 1),
         |r AS (SELECT h.*, row_number() OVER (PARTITION BY event_type
         |    ORDER BY vc, hi) AS rn FROM h),
         |med AS (SELECT r.event_type, vc AS med FROM r
         |  JOIN st USING (event_type) WHERE rn = (n + 1) // 2),
         |dv AS (SELECT h.event_type, hi, vc, med,
         |    abs(vc - med) AS adev
         |  FROM h JOIN med USING (event_type)),
         |r2 AS (SELECT dv.*, row_number() OVER (PARTITION BY event_type
         |    ORDER BY adev, hi) AS rn FROM dv),
         |mad AS (SELECT r2.event_type, adev AS mad FROM r2
         |  JOIN st USING (event_type) WHERE rn = (n + 1) // 2)
         |SELECT d.event_type, d.hi, d.vc, d.med, d.adev, m.mad
         |FROM dv d JOIN mad m USING (event_type)
         |WHERE 10000 * d.adev > $Thresh * m.mad""".stripMargin

  /** Median/MAD flag tail over the hourly (event_type, hi, vc) series —
    * both median ranks and the flag scan run over HOURS per type, never
    * corpus rows. Shared by batch q295 and streaming q298. */
  def madTail(hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import hourly.sparkSession.implicits._
    val h = hourly
    val st = h.groupBy($"event_type").agg(count(one).as("n"))
    val wMed = Window.partitionBy($"event_type").orderBy($"vc", $"hi")
    val med = h.withColumn("rn", row_number().over(wMed))
      .join(st, Seq("event_type"))
      .filter($"rn" === expr("(n + 1) DIV 2"))
      .select($"event_type", $"vc".as("med"))
    val dv = h.join(med, Seq("event_type"))
      .select($"event_type", $"hi", $"vc", $"med",
        abs($"vc" - $"med").as("adev"))
    val wMad = Window.partitionBy($"event_type").orderBy($"adev", $"hi")
    val mad = dv.withColumn("rn", row_number().over(wMad))
      .join(st, Seq("event_type"))
      .filter($"rn" === expr("(n + 1) DIV 2"))
      .select($"event_type", $"adev".as("mad"))
    dv.join(mad, Seq("event_type"))
      .filter(lit(10000L) * $"adev" > lit(Thresh) * $"mad")
      .select($"event_type", $"hi", $"vc", $"med", $"adev", $"mad")
  }

  private def dec(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(38, 0))

  /** Oracle text shared VERBATIM by q313 (batch) and q314 (stream). */
  private val ChiSquareOracle =
    """WITH o AS (SELECT source, lang, CAST(COUNT(*) AS HUGEINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |r AS (SELECT source, SUM(o) AS r FROM o GROUP BY 1),
      |c AS (SELECT lang, SUM(o) AS c FROM o GROUP BY 1),
      |n AS (SELECT SUM(o) AS n FROM o),
      |cell0 AS (SELECT r.source, c.lang, COALESCE(o.o, 0) AS o,
      |    r.r, c.c, n.n,
      |    (1000000 * r.r * c.c) // n.n AS e_ppm,
      |    COALESCE(o.o, 0) * n.n - r.r * c.c AS d
      |  FROM r CROSS JOIN c CROSS JOIN n
      |  LEFT JOIN o ON o.source = r.source AND o.lang = c.lang),
      |cell AS (SELECT source, lang, o, e_ppm, n,
      |    CAST(round((1000000 * (CAST(d AS DOUBLE) * CAST(d AS DOUBLE)))
      |      / CAST(n * r * c AS DOUBLE)) AS BIGINT) AS cell_chi2_ppm
      |  FROM cell0),
      |tot AS (SELECT SUM(cell_chi2_ppm) AS t,
      |    (COUNT(DISTINCT source) - 1) * (COUNT(DISTINCT lang) - 1)
      |      AS dof,
      |    LEAST(COUNT(DISTINCT source), COUNT(DISTINCT lang)) - 1 AS mind,
      |    MAX(n) AS n FROM cell)
      |SELECT cell.source, cell.lang, CAST(cell.o AS BIGINT) AS o,
      |  CAST(cell.e_ppm AS BIGINT) AS e_ppm,
      |  CAST(cell.cell_chi2_ppm AS BIGINT) AS cell_chi2_ppm,
      |  CAST(tot.t AS BIGINT) AS total_chi2_ppm,
      |  CAST(tot.dof AS BIGINT) AS dof,
      |  CAST(tot.t // (tot.n * tot.mind) AS BIGINT) AS v2_ppm
      |FROM cell CROSS JOIN tot""".stripMargin

  /** Chi-square tail over a (source, lang, o) count table — margins,
    * full grid (empty cells included), exact integral statistics.
    * Shared verbatim between q313 and the streaming twin q314. */
  private[graft] def chiSquareTail(counts: DataFrame): DataFrame = {
    val r = counts.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val c = counts.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    val n = counts.agg(sum(col("o")).as("n"))
    // full grid: dims-bounded cross join (sources × languages), every
    // side broadcast; empty cells carry o = 0 and contribute e
    val cell = r.crossJoin(broadcast(c)).crossJoin(broadcast(n))
      .join(counts.withColumnRenamed("o", "obs"), Seq("source", "lang"),
        "left_outer")
      .select(col("source"), col("lang"),
        coalesce(col("obs"), lit(0L)).cast(LongType).as("o"),
        dec(col("r")).as("r"), dec(col("c")).as("c"), dec(col("n")).as("n"))
      .withColumn("d", dec(col("o")) * col("n") - col("r") * col("c"))
      // final cell ratio via the q342 device: d and n·r·c stay
      // DECIMAL(38,0)-exact; ONE correctly-rounded conversion of each
      // to double (engine-identical), then an IEEE division — the
      // integral 10⁶·d² DIV (n·r·c) form would overflow 38 digits
      // (silent NULL under non-ANSI decimal overflow) once the corpus
      // count N passes ~4·10⁷ rows
      .select(col("source"), col("lang"), col("o"),
        expr("CAST((1000000 * r * c) DIV n AS BIGINT)").as("e_ppm"),
        expr("CAST(round((1000000 * (CAST(d AS DOUBLE) " +
          "* CAST(d AS DOUBLE))) / CAST(n * r * c AS DOUBLE)) " +
          "AS BIGINT)").as("cell_chi2_ppm"),
        col("n"))
    // grid-constant totals: one tiny window over the bounded cell table
    val w = Window.partitionBy()
    cell
      .withColumn("total_chi2_ppm",
        sum(col("cell_chi2_ppm")).over(w).cast(LongType))
      .withColumn("dof",
        ((size(collect_set(col("source")).over(w)) - 1) *
          (size(collect_set(col("lang")).over(w)) - 1)).cast(LongType))
      .withColumn("mind",
        least(size(collect_set(col("source")).over(w)),
          size(collect_set(col("lang")).over(w))) - 1)
      .withColumn("v2_ppm",
        expr("CAST(CAST(total_chi2_ppm AS DECIMAL(38,0)) " +
          "DIV (n * CAST(mind AS DECIMAL(38,0))) AS BIGINT)"))
      .select(col("source"), col("lang"), col("o"), col("e_ppm"),
        col("cell_chi2_ppm"), col("total_chi2_ppm"), col("dof"),
        col("v2_ppm"))
  }

  private val MinPts = 30
  private val CellCents = 400000L // $4,000 price cells

  /** Oracle text shared VERBATIM with the streaming twin q325
    * (q325): the stream replays the same lineitem corpus once. */
  private val GridOracle =
    s"""WITH RECURSIVE pts AS (SELECT CAST(l_quantity AS BIGINT) * 2
         |    AS cx,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) // $CellCents
         |      AS cy FROM lineitem),
         |cells AS (SELECT cx, cy, COUNT(*) AS n FROM pts GROUP BY 1, 2),
         |ids AS (SELECT cx, cy, cx * 1000000 + cy AS id, n FROM cells
         |        WHERE n >= $MinPts),
         |edges AS (SELECT a.id AS a, b.id AS b FROM ids a JOIN ids b
         |  ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         |  AND b.cy BETWEEN a.cy - 1 AND a.cy + 1 AND a.id <> b.id),
         |reach(src, dst) AS (SELECT id, id FROM ids
         |  UNION SELECT r.src, e.b FROM reach r JOIN edges e
         |        ON r.dst = e.a),
         |comp AS (SELECT src AS id, MIN(dst) AS cluster FROM reach
         |         GROUP BY 1),
         |corec AS (SELECT i.cx, i.cy, i.n, c.cluster FROM ids i
         |          JOIN comp c ON c.id = i.id),
         |borderc AS (SELECT c.cx, c.cy, c.n, MIN(k.cluster) AS cluster
         |  FROM cells c JOIN corec k
         |    ON k.cx BETWEEN c.cx - 1 AND c.cx + 1
         |    AND k.cy BETWEEN c.cy - 1 AND c.cy + 1
         |  WHERE c.n < $MinPts GROUP BY 1, 2, 3)
         |SELECT cx, cy, n, 0 AS role, cluster FROM corec
         |UNION ALL SELECT cx, cy, n, 1, cluster FROM borderc
         |UNION ALL SELECT c.cx, c.cy, c.n, 2, CAST(NULL AS BIGINT)
         |  FROM cells c
         |  WHERE c.n < $MinPts AND NOT EXISTS (SELECT 1 FROM corec k
         |    WHERE k.cx BETWEEN c.cx - 1 AND c.cx + 1
         |      AND k.cy BETWEEN c.cy - 1 AND c.cy + 1)""".stripMargin

  /** Integer cell coordinates for a lineitem frame (batch or stream). */
  private def gridCells(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    li.select((col("l_quantity").cast(LongType) * 2).as("cx"),
        expr(s"CAST(round(l_extendedprice * 100) AS BIGINT) " +
          s"DIV $CellCents").as("cy"))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n"))

  /** Core/border/noise + cluster assignment over a (cx, cy, n) cell
    * table — shared verbatim by q316 and the streaming twin q325. */
  private[graft] def densityTail(cells0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import cells0.sparkSession.implicits._
    {
      // staged ONCE: the cell table is referenced four times below
      // (both sides of the core adjacency self-join, the cluster
      // re-attach, the non-core side) and each unstaged reference
      // re-ran the corpus-sized point→cell aggregate; the staged frame
      // is grid-bounded, never corpus-sized. Deliberately NOT released
      // in-query — the returned plan references it lazily; the
      // harness's per-query Staging.sweep owns the release (the
      // Staging object doc's ownership convention).
      val cells = graft.operators.Staging.stage(cells0, eager = true)
      val core = cells.filter($"n" >= MinPts)
        .withColumn("id", $"cx" * 1000000L + $"cy")
      // 8-neighborhood as a 9-offset explode + equi-join (never a
      // spatial product); offsets are a broadcast 9-row literal
      val offsets = Seq(-1L, 0L, 1L)
        .flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy)))
        .toDF("dx", "dy")
      val coreNbr = core.crossJoin(broadcast(offsets))
        .select(($"cx" + $"dx").as("nx"), ($"cy" + $"dy").as("ny"),
          $"id", $"cx", $"cy")
      val edges = coreNbr
        .join(core.select($"cx".as("bx"), $"cy".as("by"),
            $"id".as("b")),
          $"nx" === $"bx" && $"ny" === $"by" && $"id" =!= $"b")
        .select($"id".as("a"), $"b")
      // clusters = min reachable core-cell id; isolated core cells
      // (no edges) never enter minLabel — they are their own cluster
      val comp = ConnectedComponents.minLabel(edges, "a", "b")
      val corec = core.join(comp, core("id") === comp("id"), "left_outer")
        .select(core("cx"), core("cy"), core("n"),
          coalesce($"component", core("id")).as("cluster"))
      val nonCore = cells.filter($"n" < MinPts)
      // border: adjacent to >= 1 core cell, adopts the min cluster
      val nbrClusters = corec.crossJoin(broadcast(offsets))
        .select(($"cx" + $"dx").as("nx"), ($"cy" + $"dy").as("ny"),
          $"cluster")
      val withNbr = nonCore.join(nbrClusters,
          $"cx" === $"nx" && $"cy" === $"ny", "left_outer")
        .groupBy($"cx", $"cy", $"n")
        .agg(min($"cluster").as("cluster"))
      val border = withNbr.filter($"cluster".isNotNull)
        .select($"cx", $"cy", $"n", lit(1).as("role"), $"cluster")
      val noise = withNbr.filter($"cluster".isNull)
        .select($"cx", $"cy", $"n", lit(2).as("role"),
          lit(null).cast(LongType).as("cluster"))
      corec.select($"cx", $"cy", $"n", lit(0).as("role"), $"cluster")
        .unionByName(border).unionByName(noise)
    }
  }

  /** round(10⁶·log₁₀(1+1/d)) for d = 1..9; sums to exactly 10⁶. */
  private val BenfordRoundPpm = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** Oracle shared VERBATIM with the streaming twin q348. */
  private val BenfordOracle =
      s"""WITH d AS (SELECT CAST(substring(CAST(CAST(round(
         |      o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
         |      AS BIGINT) AS digit FROM orders),
         |o AS (SELECT digit, COUNT(*) AS obs FROM d GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM d),
         |exp AS (${BenfordRoundPpm.zipWithIndex.map { case (p, i) =>
             s"SELECT ${i + 1} AS digit, CAST($p AS BIGINT) AS exp_ppm"
           }.mkString(" UNION ALL ")}),
         |cell AS (SELECT exp.digit, COALESCE(o.obs, 0) AS obs,
         |    (1000000 * COALESCE(o.obs, 0)) // n.n AS obs_ppm,
         |    exp.exp_ppm
         |  FROM exp LEFT JOIN o ON o.digit = exp.digit CROSS JOIN n)
         |SELECT digit, CAST(obs AS BIGINT) AS obs,
         |  CAST(obs_ppm AS BIGINT) AS obs_ppm, exp_ppm,
         |  CAST(((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) // exp_ppm
         |    AS BIGINT) AS dev_ppm,
         |  CAST(SUM(((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm))
         |    // exp_ppm) OVER () AS BIGINT) AS total_dev_ppm
         |FROM cell""".stripMargin

  /** First significant digit of an order's total, as a column. */
  private def firstDigit = expr(
    "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) " +
      "AS STRING), 1, 1) AS BIGINT)")

  /** Benford tail over a (digit, obs) count table — shared verbatim
    * by q327 and the streaming twin q348. */
  private def benfordTail(o: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import o.sparkSession.implicits._
    val n = o.agg(sum($"obs").cast(LongType).as("n"))
    val exp = BenfordRoundPpm.zipWithIndex
        .map { case (p, i) => ((i + 1).toLong, p) }
        .toDF("digit", "exp_ppm")
      exp.join(o, Seq("digit"), "left_outer")
        .crossJoin(broadcast(n))
        .select($"digit",
          coalesce($"obs", lit(0L)).cast(LongType).as("obs"),
          expr("(1000000 * COALESCE(obs, 0)) DIV n").as("obs_ppm"),
          $"exp_ppm")
        .withColumn("dev_ppm",
          expr("CAST(((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) " +
            "DIV exp_ppm AS BIGINT)"))
        .withColumn("total_dev_ppm",
          expr("CAST(SUM(((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) " +
            "DIV exp_ppm) OVER () AS BIGINT)"))
  }

  /** Hash-snapshot assignment shared by both tests (q245's proof
    * shape: deterministic split of one fixture into "two crawls"). */
  private def snapSql(e: String) =
    s"${TextOps.oracleHashSql(s"CAST($e AS VARCHAR)")} % 2"

  private val PriceBucket = 200000L // $2,000 cents

  /** Oracle shared VERBATIM with the streaming twin q347. */
  private val PerSourceKsOracle =
      """WITH v AS (SELECT source, n_chars AS val,
        |    CAST(COUNT(*) AS HUGEINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |dom AS (SELECT DISTINCT val FROM v),
        |src AS (SELECT DISTINCT source FROM v),
        |grid AS (SELECT s.source, d.val, COALESCE(v.c, 0) AS c
        |  FROM src s CROSS JOIN dom d
        |  LEFT JOIN v ON v.source = s.source AND v.val = d.val),
        |cum AS (SELECT source, val,
        |    SUM(c) OVER (PARTITION BY source ORDER BY val
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |    SUM(c) OVER (ORDER BY val, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
        |  FROM grid),
        |-- global cumulative per val: max over the val's rows of the
        |-- running (val, source) sum = the total through this val
        |gc AS (SELECT val, MAX(x) AS cg FROM cum GROUP BY 1),
        |n AS (SELECT source, SUM(c) AS ns FROM grid GROUP BY 1),
        |tot AS (SELECT SUM(c) AS nt FROM grid),
        |gap AS (SELECT cum.source, cum.val,
        |    (1000000 * abs(cum.cs * (tot.nt - n.ns)
        |      - (gc.cg - cum.cs) * n.ns))
        |      // (n.ns * (tot.nt - n.ns)) AS d_ppm
        |  FROM cum JOIN gc ON gc.val = cum.val
        |  JOIN n ON n.source = cum.source CROSS JOIN tot)
        |SELECT source, CAST(ns AS BIGINT) AS n_docs,
        |  CAST(val AS BIGINT) AS argmax_len,
        |  CAST(d_ppm AS BIGINT) AS d_ppm
        |FROM (SELECT g.*, n.ns, row_number() OVER
        |    (PARTITION BY g.source ORDER BY g.d_ppm DESC, g.val) AS rn
        |  FROM gap g JOIN n ON n.source = g.source)
        |WHERE rn = 1""".stripMargin

  /** KS-attribution tail over a (source, val, c) count table — shared
    * verbatim by q346 and the streaming twin q347. */
  private def ksTail(v0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import v0.sparkSession.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val v = v0.select($"source", $"val", dec($"c").as("c"))
    val dom = v.select($"val").distinct()
      val src = v.select($"source").distinct()
      val grid = src.crossJoin(broadcast(dom))
        .join(v.withColumnRenamed("c", "vc"), Seq("source", "val"),
          "left_outer")
        .select($"source", $"val",
          coalesce($"vc", lit(0).cast(DecimalType(38, 0))).as("c"))
      val wSrc = Window.partitionBy($"source").orderBy($"val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy($"val", $"source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid
        .withColumn("cs", sum($"c").over(wSrc))
        .withColumn("x", sum($"c").over(wAll))
      val gc = cum.groupBy($"val".as("gval")).agg(max($"x").as("cg"))
      val n = grid.groupBy($"source".as("ns_src"))
        .agg(sum($"c").as("ns"))
      val tot = grid.agg(sum($"c").as("nt"))
      val gap = cum.join(broadcast(gc), $"val" === $"gval")
        .join(broadcast(n), $"source" === $"ns_src")
        .crossJoin(broadcast(tot))
        .select($"source", $"val", $"ns",
          expr("(1000000 * abs(cs * (nt - ns) - (cg - cs) * ns)) " +
            "DIV (ns * (nt - ns))").as("d_ppm"))
      gap.withColumn("rn", row_number().over(
          Window.partitionBy($"source").orderBy($"d_ppm".desc, $"val")))
        .filter($"rn" === 1)
        .select($"source", $"ns".cast(LongType).as("n_docs"),
          $"val".cast(LongType).as("argmax_len"),
          $"d_ppm".cast(LongType).as("d_ppm"))
  }

  val all: Seq[Qry] = Seq(

    // ---- statistical aggregates (variance family + correlation) --------
    // Built-in stddev/corr merge per-partition moments in partition order
    // (order-dependent floats), which can't hash-match another engine.
    // Instead: order-independent decimal sums of x, x², y², xy, then the
    // SAME double-arithmetic moment formulas on both sides — bit-exact.
    Qry(
      "q62_stats",
      s"""WITH m AS (SELECT l_returnflag,
         |    CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${dsumSql("l_quantity")} AS sb,
         |    ${dsumSql("l_quantity * l_quantity")} AS sbb,
         |    ${dsumSql("l_extendedprice")} AS sa,
         |    ${dsumSql("l_extendedprice * l_extendedprice")} AS saa,
         |    ${dsumSql("l_extendedprice * l_quantity")} AS sab
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag,
         |  round(sqrt((sbb - sb * sb / n) / (n - 1e0)), 4) AS qty_sd,
         |  round((sbb - sb * sb / n) / (n - 1e0), 4) AS qty_var,
         |  round((sab - sa * sb / n)
         |    / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n)), 6)
         |    AS price_qty_corr,
         |  round((sab - sa * sb / n) / (n - 1e0), 2) AS price_qty_cov
         |FROM m""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val m = Tables(spark, dir).lineitem
        .groupBy($"l_returnflag")
        .agg(count(one).cast("double").as("n"),
          dsum($"l_quantity").as("sb"),
          dsum($"l_quantity" * $"l_quantity").as("sbb"),
          dsum($"l_extendedprice").as("sa"),
          dsum($"l_extendedprice" * $"l_extendedprice").as("saa"),
          dsum($"l_extendedprice" * $"l_quantity").as("sab"))
      // Spark-side when() guards: under ANSI mode (Spark 4 default) a
      // 1-row group (n-1 = 0) or a constant column (0 variance in the
      // corr denominator) would fail the JOB with DIVIDE_BY_ZERO; the
      // guards yield null instead and are value-identical on every
      // non-degenerate group, so oracle parity is unchanged (DuckDB
      // returns inf/nan rather than erroring, and no fixture group is
      // degenerate).
      val corrDen = sqrt(($"saa" - $"sa" * $"sa" / $"n")
        * ($"sbb" - $"sb" * $"sb" / $"n"))
      m.select($"l_returnflag",
        round(sqrt(when($"n" > 1,
          ($"sbb" - $"sb" * $"sb" / $"n") / ($"n" - 1.0))), 4)
          .as("qty_sd"),
        round(when($"n" > 1,
          ($"sbb" - $"sb" * $"sb" / $"n") / ($"n" - 1.0)), 4)
          .as("qty_var"),
        round(when(corrDen > 0,
          ($"sab" - $"sa" * $"sb" / $"n") / corrDen), 6)
          .as("price_qty_corr"),
        round(when($"n" > 1,
          ($"sab" - $"sa" * $"sb" / $"n") / ($"n" - 1.0)), 2)
          .as("price_qty_cov"))
    },

    // Determinism playbook: every emitted double is either decimal-exact
    // (`Exact.dsum`) or rounded to a fixed precision with the SAME
    // expression tree on both engines; all threshold comparisons are on
    // identically-derived values.
    // ---- single-pass linear regression ---------------------------------
    // Slope/intercept/R² from the five order-independent decimal moments
    // (n, Σx, Σy, Σx², Σy², Σxy) — ONE partial-aggregable pass over the
    // fact table; the closed-form arithmetic is row-local double math on
    // identical inputs, so no cross-engine FP-summation drift (built-in
    // regr_slope/corr would accumulate doubles in engine-specific order).
    Qry(
      "q81_regression",
      s"""WITH m AS (SELECT l_returnflag AS flag, COUNT(*) AS n,
         |    ${dsumSql("l_quantity")} AS sx,
         |    ${dsumSql("l_extendedprice")} AS sy,
         |    ${dsumSql("l_quantity * l_quantity")} AS sxx,
         |    ${dsumSql("l_extendedprice * l_extendedprice")} AS syy,
         |    ${dsumSql("l_quantity * l_extendedprice")} AS sxy
         |  FROM lineitem GROUP BY 1),
         |d AS (SELECT flag, n, sx, sy, syy, sxy,
         |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw,
         |    ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
         |      ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2_raw
         |  FROM m)
         |SELECT flag, n, round(slope_raw, 6) AS slope,
         |  round((sy - slope_raw * sx) / n, 6) AS intercept,
         |  round(r2_raw, 6) AS r2
         |FROM d""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Stats.linearFit(Tables(spark, dir).lineitem,
          x = $"l_quantity", y = $"l_extendedprice",
          keys = Seq($"l_returnflag".as("flag")))
        .select($"flag", $"n", round($"slope", 6).as("slope"),
          round($"intercept", 6).as("intercept"),
          round($"r2", 6).as("r2"))
    },

    // ---- z-score outlier detection -------------------------------------
    // Population mean/σ per event_type from decimal moments (one pass),
    // broadcast back onto the fact scan (4 stat rows — never a shuffle),
    // keep |z| > 3. The standard large-scale anomaly sweep: stats pass +
    // map-side filter pass.
    Qry(
      "q82_zscore_outliers",
      s"""WITH s AS (SELECT event_type, COUNT(*) AS n,
         |    ${dsumSql("value")} AS sx, ${dsumSql("value * value")} AS sxx
         |  FROM events GROUP BY 1),
         |st AS (SELECT event_type, sx / n AS mu,
         |    sqrt(sxx / n - (sx / n) * (sx / n)) AS sigma
         |  FROM s)
         |SELECT e.event_id, e.event_type,
         |  round((e.value - st.mu) / st.sigma, 6) AS z
         |FROM events e JOIN st ON e.event_type = st.event_type
         |WHERE abs((e.value - st.mu) / st.sigma) > 3e0""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        Stats.zscoreOutliers(Tables(spark, dir).events,
            keyCol = "event_type", valueCol = "value", threshold = 3.0)
          .select($"event_id", $"event_type", round($"z", 6).as("z"))
    },

    // ---- equi-depth histogram (deciles) --------------------------------
    // ntile over a TOTAL order (value, event_id — no tie ambiguity)
    // partitioned by event_type. Exact equi-depth needs the per-group
    // sort; the approx path at 100 TB is q88's percentile sketch for
    // boundaries + a map-side bucket assignment.
    Qry(
      "q101_decile_stats",
      s"""WITH d AS (SELECT event_type, value,
         |    ntile(10) OVER (PARTITION BY event_type
         |      ORDER BY value, event_id) AS decile
         |  FROM events)
         |SELECT event_type, decile, COUNT(*) AS n,
         |  MIN(value) AS lo, MAX(value) AS hi,
         |  ${dsumSql("value")} AS val_sum
         |FROM d GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"event_type")
        .orderBy($"value", $"event_id")
      Tables(spark, dir).events
        .select($"event_type", $"event_id", $"value")
        .withColumn("decile", ntile(10).over(w))
        .groupBy($"event_type", $"decile")
        .agg(count(one).as("n"), min($"value").as("lo"),
          max($"value").as("hi"), dsum($"value").as("val_sum"))
    },

    // Robust statistics (MAD), Zipf-law fit, interval-union coverage,
    // bitwise aggregates, and the LATERAL SQL surface.
    // ---- median / MAD robust outlier detection -------------------------
    // Median absolute deviation per event type, then count values beyond
    // 3 MADs — the robust cousin of q82's z-score sweep. Both medians are
    // partition-only window aggregates (exact percentile; the two windows
    // share one shuffle). Both engines interpolate quantile_cont as
    // lo + (hi-lo)·frac on identical doubles, and emitted medians are
    // rounded to 6 dp per the playbook.
    Qry(
      "q112_mad_outliers",
      """WITH m AS (SELECT event_type, value,
        |    quantile_cont(value, 0.5) OVER (PARTITION BY event_type) AS med
        |  FROM events),
        |d AS (SELECT event_type, value, med, abs(value - med) AS dev,
        |    quantile_cont(abs(value - med), 0.5)
        |      OVER (PARTITION BY event_type) AS mad
        |  FROM m)
        |SELECT event_type, COUNT(*) AS n,
        |  round(MAX(med), 6) AS median, round(MAX(mad), 6) AS mad,
        |  CAST(SUM(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val wp = Window.partitionBy($"event_type")
      Tables(spark, dir).events
        .select($"event_type", $"value")
        .withColumn("med", percentile($"value", lit(0.5)).over(wp))
        .withColumn("dev", abs($"value" - $"med"))
        .withColumn("mad", percentile($"dev", lit(0.5)).over(wp))
        .groupBy($"event_type")
        .agg(count(one).as("n"), round(max($"med"), 6).as("median"),
          round(max($"mad"), 6).as("mad"),
          sum(when($"dev" > $"mad" * 3, 1L).otherwise(0L)).as("n_outliers"))
    },

    // ---- Zipf-law slope over the token frequency spectrum --------------
    // ln(count) ~ ln(rank) least squares over the top-200 tokens: the
    // corpus-health check (natural text ≈ −1). Top-k is a bounded
    // TakeOrdered (vocabulary ≪ corpus); the regression moments are
    // decimal-accumulated per q81's pattern so no FP-summation drift.
    Qry(
      "q113_zipf_slope",
      s"""WITH ${TextOps.oracleToksCte},
         |cnt AS (SELECT tok, COUNT(*) AS c
         |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY 1),
         |top AS (SELECT tok, c,
         |    row_number() OVER (ORDER BY c DESC, tok) AS rn
         |  FROM cnt QUALIFY rn <= 200),
         |m AS (SELECT COUNT(*) AS n,
         |    ${dsumSql("ln(CAST(rn AS DOUBLE))")} AS sx,
         |    ${dsumSql("ln(CAST(c AS DOUBLE))")} AS sy,
         |    ${dsumSql("ln(CAST(rn AS DOUBLE)) * ln(CAST(rn AS DOUBLE))")}
         |      AS sxx,
         |    ${dsumSql("ln(CAST(rn AS DOUBLE)) * ln(CAST(c AS DOUBLE))")}
         |      AS sxy
         |  FROM top)
         |SELECT n AS n_tokens,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
         |    6) AS intercept
         |FROM m""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val cnt = Tables(spark, dir).documents
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(one).as("c"))
      val top = cnt.orderBy($"c".desc, $"tok").limit(200)
        .withColumn("rn", row_number().over(
          Window.orderBy($"c".desc, $"tok")))
      val lx = log($"rn".cast("double"))
      val ly = log($"c".cast("double"))
      val m = top.agg(count(one).as("n"), dsum(lx).as("sx"),
        dsum(ly).as("sy"), dsum(lx * lx).as("sxx"), dsum(lx * ly).as("sxy"))
      val slope = ($"n" * $"sxy" - $"sx" * $"sy") /
        ($"n" * $"sxx" - $"sx" * $"sx")
      m.select($"n".as("n_tokens"), round(slope, 6).as("slope"),
        round(($"sy" - slope * $"sx") / $"n", 6).as("intercept"))
    },

    // ---- table profiling (null / distinct counts per column) -----------
    // The data-quality sweep every ingestion pipeline runs first. One
    // pass + stack() on the Spark side; COUNT(DISTINCT) over doubles is
    // bit-equality on identical parquet values, so it is deterministic
    // cross-engine. Multiple exact distincts expand the scan (documented
    // trade-off — the approx variant is q86's HLL path).
    Qry(
      "q119_profile",
      """SELECT 'event_id' AS col_name, COUNT(*) - COUNT(event_id) AS n_null,
        |  COUNT(DISTINCT event_id) AS n_distinct FROM events
        |UNION ALL SELECT 'user_id', COUNT(*) - COUNT(user_id),
        |  COUNT(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'event_type', COUNT(*) - COUNT(event_type),
        |  COUNT(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'value', COUNT(*) - COUNT(value),
        |  COUNT(DISTINCT value) FROM events
        |UNION ALL SELECT 'props', COUNT(*) - COUNT(props),
        |  COUNT(DISTINCT props) FROM events""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val a = Tables(spark, dir).events.agg(
        (count(one) - count($"event_id")).as("n1"),
        countDistinct($"event_id").as("d1"),
        (count(one) - count($"user_id")).as("n2"),
        countDistinct($"user_id").as("d2"),
        (count(one) - count($"event_type")).as("n3"),
        countDistinct($"event_type").as("d3"),
        (count(one) - count($"value")).as("n4"),
        countDistinct($"value").as("d4"),
        (count(one) - count($"props")).as("n5"),
        countDistinct($"props").as("d5"))
      a.select(expr(
        """stack(5,
          |  'event_id', n1, d1, 'user_id', n2, d2, 'event_type', n3, d3,
          |  'value', n4, d4, 'props', n5, d5)
          |  AS (col_name, n_null, n_distinct)""".stripMargin))
    },

    // ---- Gini coefficient of document length per source ----------------
    // Corpus-balance inequality measure (0 = uniform lengths, →1 = one
    // giant doc dominates): G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over
    // ascending-sorted lengths. Both Σ terms are exact BIGINT sums (rank
    // ties on equal x cancel in Σ rank·x, so the doc_id tiebreak cannot
    // change the result); one window + one aggregate per source.
    Qry(
      "q128_length_gini",
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rn
        |  FROM documents),
        |m AS (SELECT source, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(rn * n_chars) AS BIGINT) AS srx
        |  FROM r GROUP BY 1)
        |SELECT source, n AS n_docs,
        |  round(CASE WHEN sx > 0 THEN
        |      2.0e0 * srx / (CAST(n AS DOUBLE) * sx)
        |        - CAST(n + 1 AS DOUBLE) / n
        |    END, 6) AS gini
        |FROM m""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
      Tables(spark, dir).documents
        .select($"source", $"n_chars",
          row_number().over(w).cast("long").as("rn"))
        .groupBy($"source")
        .agg(count(one).as("n"), sum($"n_chars").as("sx"),
          sum($"rn" * $"n_chars").as("srx"))
        .select($"source", $"n".as("n_docs"),
          round(when($"sx" > 0,
            lit(2.0e0) * $"srx" / ($"n".cast("double") * $"sx") -
              ($"n" + 1).cast("double") / $"n"), 6).as("gini"))
    },

    // ---- weighted median (quantity-weighted price) ---------------------
    // The weighted-percentile family: order by value, accumulate integer
    // weights, pick the first value whose doubled cumulative weight
    // crosses the total. The SELECTED price is emitted (never computed),
    // weights stay exact BIGINT, and cumulative weights are strictly
    // increasing so min_by's comparand is collision-free. One sorted
    // window + one aggregate per group.
    Qry(
      "q138_weighted_median",
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |    CAST(l_quantity AS BIGINT) AS w,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumw,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag) AS BIGINT) AS totw
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(MAX(totw) AS BIGINT) AS total_weight,
        |  arg_min(l_extendedprice, cumw) AS weighted_median
        |FROM r WHERE cumw * 2 >= totw
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val wOrd = Window.partitionBy($"l_returnflag")
        .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"l_returnflag")
      Tables(spark, dir).lineitem
        .select($"l_returnflag", $"l_extendedprice", $"l_orderkey",
          $"l_linenumber", $"l_quantity".cast("long").as("w"))
        .withColumn("cumw", sum($"w").over(wOrd))
        .withColumn("totw", sum($"w").over(wAll))
        .filter($"cumw" * 2 >= $"totw")
        .groupBy($"l_returnflag")
        .agg(max($"totw").as("total_weight"),
          min_by($"l_extendedprice", $"cumw").as("weighted_median"))
    },

    // Benford first-digit audit (q164): the classic synthetic-data /
    // fraud screen — compare the first-significant-digit distribution
    // of a money column against Benford's law. All arithmetic is BIGINT
    // ppm (the Benford expectations are precomputed Scala literals
    // embedded in BOTH engines' queries — in-engine log10 would differ
    // in the last ulp across libm implementations).
    // ---- Benford first-digit distribution audit -----------------------
    // First digit via BIGINT string head (floor→BIGINT→VARCHAR is
    // bit-identical in both engines; double log10/pow tricks are not:
    // log10(1000) can land at 2.999… and floor to the wrong decade).
    // Scale shape: one scan → 9-row partial+final aggregate; the total
    // arrives by an unpartitioned window over those 9 rows (NOT a second
    // aggregate of the scan). Everything after the scan is BIGINT ppm
    // arithmetic.
    Qry(
      "q164_benford_digits", {
        val benCase = BenfordPpm.map { case (d, p) =>
          s"WHEN digit = $d THEN CAST($p AS BIGINT)" }.mkString(" ")
        s"""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice)
           |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           |  FROM lineitem WHERE floor(l_extendedprice) >= 1),
           |c AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY 1),
           |w AS (SELECT digit, n_obs,
           |      CAST(SUM(n_obs) OVER () AS BIGINT) AS n FROM c)
           |SELECT digit, n_obs,
           |  (1000000 * n_obs) // n AS obs_ppm,
           |  CASE $benCase END AS benford_ppm,
           |  (1000000 * n_obs) // n - CASE $benCase END AS excess_ppm
           |FROM w""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val benCol = BenfordPpm.tail.foldLeft(
        when($"digit" === BenfordPpm.head._1, BenfordPpm.head._2)) {
        case (acc, (d, p)) => acc.when($"digit" === d, p)
      }
      // total via an unpartitioned window over the 9-row digit table —
      // NOT a second aggregate of the scan: the first formulation's
      // cross join planned lineitem twice (one full extra scan at scale)
      val c = Tables(spark, dir).lineitem
        .filter(floor($"l_extendedprice") >= 1)
        .select(substring(floor($"l_extendedprice").cast("bigint")
          .cast("string"), 1, 1).cast("bigint").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
      c.withColumn("n", sum($"n_obs").over(Window.partitionBy()))
        .select($"digit", $"n_obs",
          expr("(1000000 * n_obs) DIV n").as("obs_ppm"),
          benCol.as("benford_ppm"),
          (expr("(1000000 * n_obs) DIV n") - benCol).as("excess_ppm"))
    },

    // One-pass table profiler over lineitem — per-column null
    // counts, distinct estimates vs exact, and min/max — the
    // engine-utility every warehouse ships (ANALYZE/profile). One scan,
    // one aggregate row; the oracle states the same numbers exactly.
    // ---- one-pass table profiler ----------------------------------------
    Qry(
      "q211_table_profile",
      s"""SELECT COUNT(*) AS n_rows,
         |  COUNT(DISTINCT l_orderkey) AS d_orderkey,
         |  COUNT(DISTINCT l_suppkey) AS d_suppkey,
         |  COUNT(DISTINCT l_returnflag) AS d_returnflag,
         |  COUNT(*) - COUNT(l_tax) AS null_tax,
         |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
         |  CAST(TRUE AS BOOLEAN) AS approx_ok
         |FROM lineitem""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // the scale path is the APPROX profile (HLL sketches, one pass,
      // mergeable); the exact distincts are the fixture-scale truth the
      // sketch is asserted against (within 10%), the q86 pattern — only
      // exact values are emitted, the bound rides as a constant the
      // gate would catch drifting
      Tables(spark, dir).lineitem
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("d_orderkey"),
          countDistinct($"l_suppkey").as("d_suppkey"),
          countDistinct($"l_returnflag").as("d_returnflag"),
          (count(lit(1)) - count($"l_tax")).as("null_tax"),
          min($"l_quantity").as("min_qty"),
          max($"l_quantity").as("max_qty"),
          min($"l_shipdate").as("min_ship"),
          max($"l_shipdate").as("max_ship"),
          approx_count_distinct($"l_orderkey").as("approx"))
        .select($"n_rows", $"d_orderkey", $"d_suppkey", $"d_returnflag",
          $"null_tax", $"min_qty", $"max_qty", $"min_ship",
          $"max_ship",
          (abs($"approx" - $"d_orderkey") <=
            lit(0.1) * $"d_orderkey").as("approx_ok"))
    },

    // Exact two-sample Kolmogorov–Smirnov drift per source — is
    // a source's document-length distribution shifted vs the rest of
    // the corpus? D = max |F_a - F_rest| evaluated in EXACT integer
    // cross-multiplied form (|cumA·nB − cumB·nA| over the distinct-
    // length grid — no float CDFs), reported in ppm with the argmax
    // length. The windows run over the (sources × distinct lengths)
    // grid, never corpus rows.
    // ---- exact two-sample KS drift per source -----------------------------
    Qry(
      "q251_ks_drift",
      s"""WITH cnts AS (SELECT source, n_chars AS len,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1, 2),
         |lens AS (SELECT len, CAST(SUM(c) AS BIGINT) AS call FROM cnts
         |  GROUP BY 1),
         |cum AS (SELECT len, CAST(SUM(call) OVER (ORDER BY len
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_all
         |  FROM lens),
         |na AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_a FROM cnts
         |  GROUP BY 1),
         |n AS (SELECT CAST(SUM(call) AS BIGINT) AS n FROM lens),
         |grid AS (SELECT s.source, l.len, l.cum_all,
         |    CAST(SUM(COALESCE(c.c, 0)) OVER (PARTITION BY s.source
         |      ORDER BY l.len ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS BIGINT) AS cum_a
         |  FROM (SELECT DISTINCT source FROM cnts) s
         |  CROSS JOIN cum l
         |  LEFT JOIN cnts c ON c.source = s.source AND c.len = l.len),
         |d AS (SELECT g.source, g.len,
         |    abs(g.cum_a * (n.n - na.n_a)
         |      - (g.cum_all - g.cum_a) * na.n_a) AS dnum,
         |    na.n_a, n.n - na.n_a AS n_b
         |  FROM grid g JOIN na ON g.source = na.source CROSS JOIN n)
         |SELECT source, n_a, n_b,
         |  CAST(1000000 * dnum // (n_a * n_b) AS BIGINT) AS d_ppm,
         |  len AS at_len
         |FROM (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY dnum DESC, len) AS rn FROM d)
         |WHERE rn = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val cnts = Tables(spark, dir).documents
        .groupBy($"source", $"n_chars".as("len"))
        .agg(count(one).as("c"))
      // all windows below run over the (sources x distinct lengths)
      // grid — bounded by value cardinality, never corpus rows; the
      // global cum_all window is over the distinct-length table only
      val lens = cnts.groupBy($"len").agg(sum($"c").as("call"))
        .withColumn("cum_all", sum($"call").over(
          Window.orderBy($"len")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val na = cnts.groupBy($"source".as("ns")).agg(sum($"c").as("n_a"))
      val n = lens.agg(sum($"call").as("n"))
      val wCum = Window.partitionBy($"source").orderBy($"len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = cnts.select($"source").distinct()
        .crossJoin(lens.select($"len", $"cum_all"))
        .join(cnts.withColumnRenamed("source", "cs")
          .withColumnRenamed("len", "cl"),
          $"source" === $"cs" && $"len" === $"cl", "left_outer")
        .withColumn("cum_a",
          sum(coalesce($"c", lit(0L))).over(wCum))
      val wTop = Window.partitionBy($"source")
        .orderBy($"dnum".desc, $"len")
      grid
        .join(broadcast(na), $"source" === $"ns")
        .crossJoin(broadcast(n))
        .withColumn("n_b", $"n" - $"n_a")
        .withColumn("dnum",
          abs($"cum_a" * $"n_b" - ($"cum_all" - $"cum_a") * $"n_a"))
        .withColumn("rn", row_number().over(wTop))
        .filter($"rn" === 1)
        .select($"source", $"n_a", $"n_b",
          expr("1000000 * dnum DIV (n_a * n_b)").as("d_ppm"),
          $"len".as("at_len"))
    },

    // Theil-Sen robust slope per event-type hourly series — the
    // median of all pairwise slopes, immune to the outlier hours that
    // wreck the q81-style least-squares fit. Pair slopes order by
    // row-local IEEE division (identical both engines), the LOWER
    // median is declared ((n+1) DIV 2), and the output carries the
    // median pair's exact integer (dy, dx) plus floor(1e6·dy/dx) —
    // floor on the double ratio, not integer DIV, as a defensive
    // convention for negative slopes: in the harness's DuckDB 1.0.0
    // both engines' integer division truncates toward zero (verified
    // by tools/probe_parity.py's neg_intdiv probe), but `//`'s
    // negative-operand behavior is the kind of semantic a DuckDB
    // upgrade could change, and floor-on-double is pinned identical
    // regardless.
    // Scale shape: the corpus collapses once to the hourly series;
    // pairs are quadratic in HOURS (bounded by the time range), never
    // in events — a deployment with years of hours windows the pair
    // set; the fixture's 744-hour month needs no window.
    // ---- Theil-Sen robust slope per series ---------------------------------
    Qry(
      "q275_theil_sen",
      s"""WITH h AS (SELECT event_type,
         |    epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600
         |      AS hi,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6)) * 100) AS BIGINT)
         |      AS vc
         |  FROM events GROUP BY 1, 2),
         |pr AS (SELECT a.event_type AS et,
         |    b.vc - a.vc AS dy, b.hi - a.hi AS dx,
         |    CAST(b.vc - a.vc AS DOUBLE) / (b.hi - a.hi) AS sl,
         |    a.hi AS h1, b.hi AS h2
         |  FROM h a JOIN h b ON a.event_type = b.event_type
         |    AND b.hi > a.hi),
         |rk AS (SELECT et, dy, dx, sl, h1, h2,
         |    row_number() OVER (PARTITION BY et
         |      ORDER BY sl, h1, h2) AS rn,
         |    COUNT(*) OVER (PARTITION BY et) AS np
         |  FROM pr)
         |SELECT et AS event_type, CAST(np AS BIGINT) AS n_pairs,
         |  dy AS med_dy, CAST(dx AS BIGINT) AS med_dx,
         |  CAST(floor(1000000.0 * dy / dx) AS BIGINT) AS slope_ppm
         |FROM rk WHERE rn = (np + 1) // 2""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val h = Staging.stage(Tables(spark, dir).events
        .groupBy($"event_type",
          (unix_timestamp(date_trunc("hour", $"ts")) / 3600)
            .cast(LongType).as("hi"))
        .agg((sum($"value".cast(graft.Exact.Money)) * 100)
          .cast(LongType).as("vc")),
        eager = false)
      val pr = h.select($"event_type".as("et"), $"hi".as("h1"),
          $"vc".as("v1"))
        .join(h.select($"event_type".as("et2"), $"hi".as("h2"),
          $"vc".as("v2")),
          $"et" === $"et2" && $"h2" > $"h1")
        .select($"et", ($"v2" - $"v1").as("dy"), ($"h2" - $"h1").as("dx"),
          (($"v2" - $"v1").cast("double") / ($"h2" - $"h1")).as("sl"),
          $"h1", $"h2")
      val w = Window.partitionBy($"et").orderBy($"sl", $"h1", $"h2")
      pr.withColumn("rn", row_number().over(w))
        .withColumn("np", count(one).over(Window.partitionBy($"et")))
        .filter($"rn" === expr("(np + 1) DIV 2"))
        .select($"et".as("event_type"), $"np".as("n_pairs"),
          $"dy".as("med_dy"), $"dx".cast(LongType).as("med_dx"),
          floor(lit(1000000.0) * $"dy" / $"dx").cast(LongType)
            .as("slope_ppm"))
    },

    // Kendall tau between the two rankings, restricted to the
    // BM25 top-50 (the declared, scale-bounded contract: at 100 TB
    // the candidate set is corpus-sized but the agreement question is
    // about what the user SEES — the head). row_number ranks admit no
    // ties, so tau = (C − D) / (C + D) over all 1225 head pairs in
    // ppm, pure integers.
    // ---- Kendall tau over the BM25 head ------------------------------------
    Qry(
      "q279_rank_tau",
      s"""WITH ${Text.rankCtes},
         |head AS (SELECT rb.doc_id, rb.r1, rt.r2
         |  FROM rb JOIN rt ON rb.doc_id = rt.doc_id
         |  WHERE rb.r1 <= $TauHead),
         |pairs AS (SELECT
         |    CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) > 0
         |      THEN 1 ELSE 0 END AS conc
         |  FROM head a JOIN head b ON a.doc_id < b.doc_id)
         |SELECT CAST((SELECT COUNT(*) FROM head) AS BIGINT) AS n_items,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(conc) AS BIGINT) AS concordant,
         |  CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant,
         |  CAST(floor(1000000.0 * (2 * SUM(conc) - COUNT(*))
         |    / COUNT(*)) AS BIGINT) AS tau_ppm
         |FROM pairs""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val (rb, rt) = Text.rankings(spark, dir)
      val head = rb.filter($"r1" <= TauHead)
        .join(rt, $"doc_id" === $"doc_id2")
        .select($"doc_id", $"r1", $"r2")
      val pairs = head.select($"doc_id".as("da"), $"r1".as("a1"),
          $"r2".as("a2"))
        .join(head.select($"doc_id".as("db"), $"r1".as("b1"),
          $"r2".as("b2")), $"da" < $"db")
        .select(when((($"a1" - $"b1") * ($"a2" - $"b2")) > 0, 1L)
          .otherwise(0L).as("conc"))
      val nItems = head.agg(count(one).as("n_items"))
      pairs.agg(count(one).as("n_pairs"), sum($"conc").as("concordant"))
        .crossJoin(broadcast(nItems))
        .select($"n_items", $"n_pairs",
          $"concordant",
          ($"n_pairs" - $"concordant").as("discordant"),
          // floor-on-double, not integer DIV: tau can be negative;
          // both engines' integer division truncates toward zero in
          // DuckDB 1.0.0 (probe_parity neg_intdiv), but floor-on-double
          // stays pinned if a DuckDB upgrade changes // semantics
          // (q275's convention)
          expr("CAST(floor(1000000.0 * (2 * concordant - n_pairs)" +
            " / n_pairs) AS BIGINT)").as("tau_ppm"))
    },

    // Poisson bootstrap confidence intervals — THE distributed
    // bootstrap (classical resampling needs n draws from one machine's
    // full sample; the Poisson approximation gives every row an
    // independent Poisson(1) multiplicity, so resampling becomes one
    // map-side weight column and B replicas are one explode). Draws
    // are deterministic (hash -> ppm -> inverse-CDF threshold
    // cascade, thresholds precomputed as integer ppm), replica means
    // are decimal-exact (dsum/weight, one double division — the
    // Exact.davg shape), and the CI is rank-based over the B=32
    // replica means (93.75% band: 2nd and 31st order statistics).
    // Scale shape: corpus x B rows through one partial-aggregated
    // shuffle; the CI window runs over B rows per group.
    // ---- Poisson bootstrap CI ----------------------------------------------
    Qry("q280_poisson_bootstrap", BootstrapOracle) { (spark, dir) =>
      import spark.implicits._
      val li = Tables(spark, dir).lineitem
        .select($"l_returnflag".as("flag"), $"l_orderkey",
          $"l_linenumber", $"l_extendedprice".as("px"))
      // one explode to B replicas; the weight is a pure function of
      // (row identity, replica) — no RNG state anywhere
      val sums = li.crossJoin(broadcast((0 until B).toDF("b")))
        .select($"flag", $"b", $"px", expr(WeightSql).as("w"))
        .groupBy($"flag", $"b")
        .agg(sum($"w" * $"px".cast(Money)).as("s"), sum($"w").as("wt"))
      bootstrapTail(sums, bootstrapFull0(li))
    },

    // q280's bootstrap confidence intervals computed from a file
    // stream. The explode-to-B-replicas and the deterministic
    // hash→ppm→threshold weight are row-local (map-side in the
    // micro-batch), so the streaming aggregation's state is exactly
    // the per-(flag, replica) pair of decimal sums — flags × B × 2
    // cells, CONSTANT regardless of stream length (the q220/q221/q272
    // register discipline applied to uncertainty quantification: the
    // replica sums ARE the mergeable state). The CI rank tail and the
    // full-sample audit run post-sink over B rows per flag. Shares
    // q280's oracle text VERBATIM (the q281/q283 pattern), so the
    // cross-batch accumulation path is gated against the same rows
    // the one-shot batch query produces.
    //
    // Scale shape: a 100 TB stream of training-eval metrics keeps B×
    // groups decimal registers per executor-partial and merges them at
    // the complete-mode sink; nothing downstream ever sees corpus-
    // sized rows. The weight never stores RNG state — it is a pure
    // function of (row identity, replica), which is what makes
    // at-least-once replays idempotent at the aggregation.
    Qry("q294_stream_bootstrap", BootstrapOracle) { (spark, dir) =>
      import spark.implicits._
      // streaming side: explode each lineitem row into its B replica
      // contributions and accumulate the (flag, b) decimal registers
      val sums = Streams.fileStream(spark, dir, "lineitem")
        .select($"l_returnflag".as("flag"), $"l_orderkey",
          $"l_linenumber", $"l_extendedprice".as("px"))
        // the fixture arrives as ONE file -> one scan partition, and the
        // x B explode + per-(row, replica) md5 below happen map-side of
        // the aggregation — without this narrow shuffle the whole 19M-
        // hash stage runs on a single task (measured 34.6 s at sf0.1 vs
        // ~3 s batch); one row-sized shuffle buys full parallelism. On a
        // real multi-file stream the scan already fans out and this is a
        // cheap no-op-sized exchange. Width = the session's core count,
        // NOT the streaming scope's shuffle.partitions: runToMemory
        // narrows that to 8 for state-store sizing, which quartered
        // this CPU-bound hash stage on local[32] (the state store keeps
        // its 8; only the pre-explode exchange fans wider).
        .repartition(spark.sparkContext.defaultParallelism,
          $"l_orderkey")
        .select($"flag", $"px", $"l_orderkey", $"l_linenumber",
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .select($"flag", $"b", $"px",
          expr(WeightSql).as("w"))
        .groupBy($"flag", $"b")
        .agg(sum($"w" * $"px".cast(Money)).as("s"), sum($"w").as("wt"))
      // post-sink: the CI rank tail over B rows per flag, plus the
      // full-sample audit from the batch table (the audit may see the
      // corpus; the ESTIMATOR state never did)
      val full0 = bootstrapFull0(
        Tables(spark, dir).lineitem
          .select($"l_returnflag".as("flag"),
            $"l_extendedprice".as("px")))
      bootstrapTail(Streams.runToMemory(sums, "complete"), full0)
    },

    // Median/MAD anomaly flags over the hourly event-value series — the
    // robust twin of z-score alerting (one wild hour cannot drag the
    // threshold the way it drags a mean/stddev, which is why monitoring
    // pipelines ship MAD). Everything is exact integer cents: per-type
    // hourly sums, the exact median as the ceil(n/2) order statistic (rank
    // picked by (value, hour) — ties in value cannot change the selected
    // VALUE), the MAD as the same order statistic over absolute deviations,
    // and the flag 10000·|dev| > 44478·MAD — the classic 3σ cut with the
    // 1.4826 MAD-consistency constant folded into one integer threshold (3
    // × 1.4826 = 4.4478). Output = the anomalous hours only. Scale shape:
    // one corpus-sized partial-aggregated hourly groupBy; both median
    // windows run over the HOURS of each series (q275's time-bounded
    // discipline), never corpus rows.
    // ---- median/MAD robust anomaly flags -----------------------------------
    Qry("q295_mad_anomaly", MadOracle) { (spark, dir) =>
      import spark.implicits._
      // staged: the hourly series feeds the median rank, the deviation
      // rank, and the final flag scan
      madTail(Staging.stage(Tables(spark, dir).events
        .groupBy($"event_type",
          (unix_timestamp(date_trunc("hour", $"ts")) / 3600)
            .cast(LongType).as("hi"))
        .agg((sum($"value".cast(graft.Exact.Money)) * 100)
          .cast(LongType).as("vc")),
        eager = false))
    },

    // q295's median/MAD anomaly flags fed by a stream — the
    // hourly (type, hour) value registers are the streaming
    // aggregation's state (complete mode), the exact-median/MAD tail
    // runs post-sink over the bounded hourly series. State is
    // time-bounded (hours × types), the honest bound a monitoring
    // deployment accepts and q275 documents. Shares q295's oracle
    // text VERBATIM (the q281/q283 pattern).
    // ---- MAD anomaly flags under Structured Streaming ----------------------
    Qry("q298_stream_mad", MadOracle) { (spark, dir) =>
      import spark.implicits._
      // streaming state = the hourly value registers per (type, hour) —
      // time-bounded, the register discipline at the monitoring grain
      val h = Streams.fileStream(spark, dir, "events")
        .groupBy($"event_type",
          (unix_timestamp(date_trunc("hour", $"ts")) / 3600)
            .cast(LongType).as("hi"))
        .agg((sum($"value".cast(graft.Exact.Money)) * 100)
          .cast(LongType).as("vc"))
      madTail(Streams.runToMemory(h, "complete"))
    },

    // Corpus-composition independence audit — the exact chi-square
    // statistic over the source × lang contingency table, batch + streaming
    // twin.
    //
    // Scale shape: the only corpus-sized stage is the (source, lang)
    // count groupBy (map-side partial agg). Margins, the grid cross join
    // (broadcast, dims-bounded) and the windowed total all run over the
    // r×c cell table — thousands of rows when sources×languages, never
    // corpus rows. The streaming twin's state is the same bounded grid.
    //
    // Pearson's chi-square test of independence between a document's source
    // and its language — the "is my corpus mix shifting by provenance"
    // audit every multi-crawl training pipeline runs before blending. Per
    // cell of the FULL grid (including structurally-possible-but-empty
    // cells, which contribute their whole expectation): observed count,
    // expected count (ppm), the cell's chi-square contribution (ppm), plus
    // the grid-constant total statistic, degrees of freedom and Cramér's V²
    // (ppm) — every OPERAND exact integer arithmetic (DECIMAL(38,0) /
    // HUGEINT: d = O·N − R·C and N·R·C are exact), with the one final cell
    // ratio 10⁶·d²/(N·R·C) computed through the q342 device — one
    // correctly-rounded decimal→double conversion per operand, then IEEE
    // division and round, identical in both engines. (The all-integral DIV
    // form needs ~10⁶·N⁴ headroom and silently NULLs past DECIMAL(38,0)
    // once N > ~4·10⁷ rows; the device keeps the statistic overflow-free at
    // any corpus size.)
    Qry("q313_chi_square_independence", ChiSquareOracle) { (spark, dir) =>
      import spark.implicits._
      chiSquareTail(
        Tables(spark, dir).documents
          .groupBy($"source", $"lang")
          .agg(count(one).cast(LongType).as("o")))
    },

    // The same audit as a STREAMING monitor (q245/q248's proof shape): the
    // (source, lang) count table is a complete-mode streaming aggregation
    // over the documents stream; the chi-square tail — margins, full grid,
    // exact cell statistics — runs post-sink over the grid-bounded counts,
    // through the SAME tail function and against the SAME oracle text as
    // q313, so a batch/stream divergence anywhere in the statistic is
    // in-gate.
    Qry("q314_stream_chi_square", ChiSquareOracle) { (spark, dir) =>
      import spark.implicits._
      val counts = Streams.fileStream(spark, dir, "documents")
        .groupBy($"source", $"lang")
        .agg(count(one).cast(LongType).as("o"))
      chiSquareTail(Streams.runToMemory(counts, "complete"))
    },

    // Grid-density clustering —
    // DBSCAN's core/border/noise semantics at CELL grain over the
    // (quantity, price) plane, the density-based complement to the
    // centroid (IVF/Lloyd, q257/q270) and graph (LPA q293) clustering
    // tiers.
    //
    // Scale shape: the only corpus-sized stage is the (cx, cy) count
    // groupBy (map-side partial agg). Core-cell adjacency, CC, border
    // assignment and the noise anti-join all run over the CELL table —
    // bounded by the grid extent, never by corpus rows; neighbor
    // generation is a 9-offset explode + equi-join, never a spatial
    // all-pairs.
    //
    // Points = lineitem rows embedded at integer coordinates
    // (2·quantity, price-cents DIV 400000) — quantity bands sit two
    // cell units apart so distinct bands can never be 8-adjacent, the
    // grid-resolution choice DBSCAN's eps makes continuously. A cell
    // holding ≥ 30 points is CORE; connected components over
    // 8-adjacent core cells (via [[ConnectedComponents.minLabel]],
    // the q74 machinery) are the clusters; a non-core cell adjacent
    // to a core cell is BORDER and adopts the minimum adjacent
    // cluster; everything else is NOISE. The fixture's mixed
    // discrete-continuous shape gives the textbook read: one cluster
    // per quantity band (plus low-density fringe splits at small SF),
    // with the sparse price tail peeling to border/noise.
    // Everything is EXACT integer arithmetic — cents, integral
    // division, integer cell ids — so the oracle (recursive-CTE CC
    // over the same cell graph) matches bit-for-bit; no
    // floating-point epsilon anywhere.
    Qry("q316_grid_density_clusters", GridOracle) { (spark, dir) =>
      densityTail(gridCells(Tables(spark, dir).lineitem))
    },

    // Leave-one-out chi-square attribution — q313 says THAT the
    // corpus mix depends on provenance; q320 says WHICH source drives
    // it: for every source s, the chi-square statistic recomputed on
    // the corpus WITHOUT s, derived purely by MARGIN ALGEBRA on the
    // bounded (source, lang) count table (N′ = N−R_s, C′_l = C_l −
    // O_{s,l}; languages whose column empties drop out, the standard
    // contingency-table rule). delta_ppm = full − LOO is the source's
    // contribution to the dependence signal. No corpus rescan per
    // source — the 100 TB shape: ONE corpus-sized count groupBy, then
    // sources × cells arithmetic on broadcast-bounded tables. Margins
    // and differences stay exact DECIMAL(38,0)/HUGEINT; each final
    // cell ratio uses the q342 device (correctly-rounded double
    // conversion of the exact operands, IEEE division, round) so the
    // statistic never overflows 38 digits at any corpus size (the
    // integral DIV form NULLs silently past N ≈ 4·10⁷).
    Qry(
      "q320_chi_square_attribution",
      """WITH o AS (SELECT source, lang, CAST(COUNT(*) AS HUGEINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT source, SUM(o) AS r FROM o GROUP BY 1),
        |c AS (SELECT lang, SUM(o) AS c FROM o GROUP BY 1),
        |n AS (SELECT SUM(o) AS n FROM o),
        |g AS (SELECT r.source, c.lang, COALESCE(o.o, 0) AS o, r.r, c.c
        |  FROM r CROSS JOIN c
        |  LEFT JOIN o ON o.source = r.source AND o.lang = c.lang),
        |full_chi AS (SELECT SUM(CAST(round((1000000
        |      * (CAST(g.o * n.n - g.r * g.c AS DOUBLE)
        |         * CAST(g.o * n.n - g.r * g.c AS DOUBLE)))
        |      / CAST(n.n * g.r * g.c AS DOUBLE)) AS BIGINT)) AS f
        |  FROM g CROSS JOIN n),
        |loo AS (SELECT x.source AS xs, SUM(
        |    CASE WHEN g.c - xo.o > 0 THEN
        |      CAST(round((1000000
        |        * (CAST(g.o * (n.n - x.r) - g.r * (g.c - xo.o) AS DOUBLE)
        |           * CAST(g.o * (n.n - x.r) - g.r * (g.c - xo.o)
        |               AS DOUBLE)))
        |      / CAST((n.n - x.r) * g.r * (g.c - xo.o) AS DOUBLE))
        |        AS BIGINT) ELSE 0 END) AS chi
        |  FROM r x CROSS JOIN n
        |  JOIN g ON g.source <> x.source
        |  JOIN g xo ON xo.source = x.source AND xo.lang = g.lang
        |  GROUP BY 1),
        |rr AS (SELECT source, CAST(r AS BIGINT) AS n_docs FROM r)
        |SELECT rr.source, rr.n_docs,
        |  CAST(full_chi.f AS BIGINT) AS chi2_full_ppm,
        |  CAST(loo.chi AS BIGINT) AS chi2_loo_ppm,
        |  CAST(full_chi.f - loo.chi AS BIGINT) AS delta_ppm
        |FROM rr JOIN loo ON loo.xs = rr.source
        |CROSS JOIN full_chi""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      val o = Tables(spark, dir).documents
        .groupBy($"source", $"lang").agg(count(lit(1)).as("o"))
      val r = o.groupBy($"source").agg(sum($"o").as("r"))
      val c = o.groupBy($"lang").agg(sum($"o").as("c"))
      val n = o.agg(sum($"o").as("n"))
      val g = r.crossJoin(broadcast(c))
        .join(o.withColumnRenamed("o", "obs"), Seq("source", "lang"),
          "left_outer")
        .select($"source", $"lang",
          dec(coalesce($"obs", lit(0L))).as("o"),
          dec($"r").as("r"), dec($"c").as("c"))
      // final cell ratios via the q342 device (exact decimal operands,
      // one correctly-rounded double conversion each, IEEE division +
      // round — engine-identical): the all-integral DIV form needs
      // ~10⁶·N⁴ headroom and silently NULLs past DECIMAL(38,0) once
      // N > ~4·10⁷ rows
      val full = g.crossJoin(broadcast(n))
        .select(expr("CAST(round((1000000 " +
          "* (CAST(o * n - r * c AS DOUBLE) " +
          "* CAST(o * n - r * c AS DOUBLE))) " +
          "/ CAST(n * r * c AS DOUBLE)) AS BIGINT)").as("t"))
        .agg(sum($"t").as("f"))
      // LOO by margin algebra: for excluded source xs, n' = n - r_xs
      // and c'_l = c_l - o_{xs,l}; cells of xs drop, empty columns drop
      val x = g.select($"source".as("xs"), $"lang".as("xl"),
        $"o".as("xo"))
      val xr = r.select($"source".as("xs"), dec($"r").as("xrr"))
      val loo = g.join(broadcast(x), $"lang" === $"xl" &&
          $"source" =!= $"xs")
        .join(broadcast(xr), "xs")
        .crossJoin(broadcast(n))
        .select($"xs",
          when($"c" - $"xo" > 0,
            expr("CAST(round((1000000 " +
              "* (CAST(o * (n - xrr) - r * (c - xo) AS DOUBLE) " +
              "* CAST(o * (n - xrr) - r * (c - xo) AS DOUBLE))) " +
              "/ CAST((n - xrr) * r * (c - xo) AS DOUBLE)) AS BIGINT)"))
            .otherwise(lit(0L)).as("t"))
        .groupBy($"xs").agg(sum($"t").as("chi"))
      r.select($"source", $"r".cast(LongType).as("n_docs"))
        .join(loo, $"source" === $"xs")
        .crossJoin(broadcast(full))
        .select($"source", $"n_docs",
          $"f".cast(LongType).as("chi2_full_ppm"),
          $"chi".cast(LongType).as("chi2_loo_ppm"),
          ($"f" - $"chi").cast(LongType).as("delta_ppm"))
    },

    // 10% trimmed mean of customer balance per nation — the
    // robust-statistics tier's bounded-influence MEAN next to the
    // median/MAD pair (q295): drop ⌊n/10⌋ rows at each tail (exact
    // order statistics via dual row_numbers, ties broken by key so
    // both engines trim the identical multiset) and average the
    // interior at cents grain. Balances go negative, so the signed
    // integral divisions exercise the truncate-toward-zero parity
    // pinned by ProbeParity.
    Qry(
      "q324_trimmed_mean",
      """WITH v AS (SELECT c_nationkey AS g, c_custkey AS id,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |rk AS (SELECT g, id, cents,
        |    row_number() OVER (PARTITION BY g ORDER BY cents, id) AS ra,
        |    row_number() OVER (PARTITION BY g ORDER BY cents DESC,
        |      id DESC) AS rd,
        |    COUNT(*) OVER (PARTITION BY g) AS n FROM v)
        |SELECT g AS nationkey, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(n) // 10 AS BIGINT) AS trimmed_each,
        |  CAST(SUM(CASE WHEN ra > n // 10 AND rd > n // 10
        |      THEN cents END)
        |    // (MAX(n) - 2 * (MAX(n) // 10)) AS BIGINT)
        |    AS trimmed_mean_cents,
        |  CAST(SUM(cents) // MAX(n) AS BIGINT) AS raw_mean_cents
        |FROM rk GROUP BY g""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val v = Tables(spark, dir).customer
        .select($"c_nationkey".cast(LongType).as("g"),
          $"c_custkey".cast(LongType).as("id"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val wG = Window.partitionBy($"g")
      val rk = v
        .withColumn("ra", row_number().over(
          wG.orderBy($"cents", $"id")))
        .withColumn("rd", row_number().over(
          wG.orderBy($"cents".desc, $"id".desc)))
        .withColumn("n", count(lit(1)).over(wG))
      rk.groupBy($"g".as("nationkey"))
        .agg(max($"n").cast(LongType).as("n"),
          expr("CAST(MAX(n) DIV 10 AS BIGINT)").as("trimmed_each"),
          expr("CAST(SUM(CASE WHEN ra > n DIV 10 AND rd > n DIV 10 " +
            "THEN cents END) DIV (MAX(n) - 2 * (MAX(n) DIV 10)) " +
            "AS BIGINT)").as("trimmed_mean_cents"),
          expr("CAST(SUM(cents) DIV MAX(n) AS BIGINT)")
            .as("raw_mean_cents"))
    },

    // The density grid as a stream, and relative-density outlier scoring on
    // the same grid.
    //
    // Scale shape (both): one corpus-sized count groupBy; everything
    // after runs on the bounded cell table via the 9-offset explode +
    // equi-join.
    //
    // q316's grid-density clustering as a STREAMING monitor —
    // the (cx, cy) cell-count table is a complete-mode streaming
    // aggregation over the lineitem stream; the clustering tail
    // (core threshold, 8-adjacency CC, border adoption, noise) runs
    // post-sink over the grid-bounded cells through the SAME tail
    // function and oracle text as q316. The production shape: a live
    // transaction stream keeps the density map current; cluster
    // structure is re-derived from bounded state, never from history.
    Qry("q325_stream_density_clusters", GridOracle) {
      (spark, dir) =>
      import spark.implicits._
      val cells = Streams.fileStream(spark, dir, "lineitem")
        .transform(gridCells)
      densityTail(Streams.runToMemory(cells, "complete"))
    },

    // Grid-LOF — the Local Outlier Factor idea at cell grain:
    // a cell's outlier score is its neighborhood's mean density over
    // its own, lof_ppm = 10⁶·Σnbr(n) DIV (cnt·n) — exact integers, no
    // kNN distance computation (the grid IS the neighborhood). Cells
    // much sparser than their surroundings (score ≫ 10⁶) are local
    // outliers even when globally mid-density — the signal MAD/CUSUM
    // (global/temporal) don't see; isolated cells (no neighbors)
    // carry a NULL score and are flagged by the noise role in q316.
    Qry(
      "q326_grid_lof",
      s"""WITH pts AS (SELECT CAST(l_quantity AS BIGINT) * 2 AS cx,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) // 400000
         |      AS cy FROM lineitem),
         |cells AS (SELECT cx, cy, COUNT(*) AS n FROM pts GROUP BY 1, 2),
         |nbr AS (SELECT c.cx, c.cy, c.n,
         |    SUM(o.n) AS nbr_sum, COUNT(o.n) AS nbr_cnt
         |  FROM cells c LEFT JOIN cells o
         |    ON o.cx BETWEEN c.cx - 1 AND c.cx + 1
         |    AND o.cy BETWEEN c.cy - 1 AND c.cy + 1
         |    AND NOT (o.cx = c.cx AND o.cy = c.cy)
         |  GROUP BY 1, 2, 3)
         |SELECT cx, cy, n, CAST(COALESCE(nbr_sum, 0) AS BIGINT)
         |    AS nbr_sum,
         |  CAST(nbr_cnt AS BIGINT) AS nbr_cnt,
         |  CAST(CASE WHEN nbr_cnt > 0
         |    THEN (1000000 * nbr_sum) // (nbr_cnt * n) END AS BIGINT)
         |    AS lof_ppm
         |FROM nbr""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val cells = gridCells(Tables(spark, dir).lineitem)
      val offsets8 = Seq(-1L, 0L, 1L)
        .flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy)))
        .filterNot(o => o._1 == 0L && o._2 == 0L)
        .toDF("dx", "dy")
      // each cell contributes its count to its 8 neighbors' totals
      val contrib = cells.crossJoin(broadcast(offsets8))
        .select(($"cx" + $"dx").as("nx"), ($"cy" + $"dy").as("ny"),
          $"n".as("cn"))
      cells.join(contrib,
          $"cx" === $"nx" && $"cy" === $"ny", "left_outer")
        .groupBy($"cx", $"cy", $"n")
        .agg(coalesce(sum($"cn"), lit(0L)).cast(LongType).as("nbr_sum"),
          count($"cn").cast(LongType).as("nbr_cnt"))
        .withColumn("lof_ppm",
          expr("CAST(CASE WHEN nbr_cnt > 0 THEN " +
            "(1000000 * nbr_sum) DIV (nbr_cnt * n) END AS BIGINT)"))
    },

    // Benford's-law conformity audit — the fraud/synthetic-data screen on
    // monetary amounts.
    //
    // Scale shape: one corpus-sized first-digit groupBy (map-side
    // partial agg); the spine join and deviation run on 9 rows.
    //
    // First-significant-digit distribution of order totals vs
    // Benford's expectation P(d) = log₁₀(1+1/d). The nine expected
    // frequencies are FIXED constants, so they enter both engines as
    // identical integer-ppm literals (301030 … 45757, summing to
    // exactly 10⁶) — no transcendental evaluated anywhere at query
    // time. Per digit: observed count, observed ppm, expected ppm,
    // and the chi-square-style deviation contribution
    // (obs−exp)² DIV exp in ppm, plus the total deviation on a
    // 9-row window. Digits that never occur still appear (a 1–9
    // spine left-joins the counts) — their full expected mass counts
    // toward the deviation, as in q313's empty-cell rule. The
    // fixture's totals span ~2 decades, so the audit reads a real
    // (non-conforming — TPC-H prices are uniform-ish, one of
    // Benford's own counterexamples) distribution, and the gate pins
    // both engines computing that nonconformity identically.
    Qry("q327_benford_audit", BenfordOracle) { (spark, dir) =>
      import spark.implicits._
      benfordTail(Tables(spark, dir).orders
        .select(firstDigit.as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("obs")))
    },

    // Herfindahl–Hirschman concentration index of supplier revenue per
    // nation — THE concentration audit (mix monitoring for corpus sources
    // uses the same statistic): HHI = Σ shareᵢ², here exact as (10⁶·Σwᵢ²)
    // DIV W² over revenue cents in DECIMAL(38,0) (wᵢ² overflows int64; the
    // square of a nation's total needs 46 bits² headroom). Per nation:
    // supplier count, total, HHI ppm and the top supplier's share ppm. One
    // corpus-sized revenue groupBy; the HHI algebra runs on the
    // supplier-count-bounded table.
    Qry(
      "q329_hhi_concentration",
      """WITH rev AS (SELECT s.s_nationkey AS nationkey, l.l_suppkey,
        |    CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |      AS HUGEINT) AS w
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2)
        |SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  CAST(SUM(w) AS BIGINT) AS total_cents,
        |  CAST((1000000 * SUM(w * w)) // (SUM(w) * SUM(w)) AS BIGINT)
        |    AS hhi_ppm,
        |  CAST((1000000 * MAX(w)) // SUM(w) AS BIGINT)
        |    AS top_share_ppm
        |FROM rev GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val rev = tt.lineitem
        .join(tt.supplier, $"s_suppkey" === $"l_suppkey")
        .groupBy($"s_nationkey".as("nationkey"), $"l_suppkey")
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .cast(DecimalType(38, 0)).as("w"))
      rev.groupBy($"nationkey")
        .agg(count(lit(1)).cast(LongType).as("n_suppliers"),
          sum($"w").cast(LongType).as("total_cents"),
          expr("CAST((1000000 * SUM(w * w)) DIV (SUM(w) * SUM(w)) " +
            "AS BIGINT)").as("hhi_ppm"),
          expr("CAST((1000000 * MAX(w)) DIV SUM(w) AS BIGINT)")
            .as("top_share_ppm"))
    },

    // NUMERIC two-sample drift tests — the continuous-column complement to
    // q313's categorical chi-square, both exact.
    //
    // Scale shape: one corpus-sized (snap, value) count groupBy each;
    // the CDF/rank algebra runs over the distinct-value table.
    //
    // The two-sample Kolmogorov–Smirnov statistic between two
    // hash-assigned event snapshots: D = max over the merged value
    // domain of |F₁(v) − F₂(v)|, kept EXACT by cross-multiplying the
    // empirical CDFs — |c₁·n₂ − c₂·n₁|·10⁶ DIV (n₁·n₂) in
    // DECIMAL(38,0) (c·n reaches n² — past int64 at cluster scale).
    // Output is the argmax row (ties → smallest value) with both
    // cumulative counts and sample sizes. The global value-ordered
    // cumulative window is the exact-KS audit bound (one ordered pass
    // over the DISTINCT-value table — same boundedness class as q20's
    // exact percentile; a cluster deployment range-partitions the
    // domain and two-passes the per-partition offsets).
    Qry(
      "q333_ks_drift",
      s"""WITH e AS (SELECT value, ${snapSql("event_id")} AS snap
         |  FROM events),
         |v AS (SELECT value,
         |    CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS HUGEINT)
         |      AS a,
         |    CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS HUGEINT)
         |      AS b
         |  FROM e GROUP BY 1),
         |n AS (SELECT SUM(a) AS n0, SUM(b) AS n1 FROM v),
         |c AS (SELECT value,
         |    SUM(a) OVER (ORDER BY value
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         |    SUM(b) OVER (ORDER BY value
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
         |  FROM v),
         |g AS (SELECT value, ca, cb,
         |    (1000000 * abs(ca * n.n1 - cb * n.n0)) // (n.n0 * n.n1)
         |      AS d_ppm, n.n0, n.n1
         |  FROM c CROSS JOIN n)
         |SELECT value, CAST(ca AS BIGINT) AS cum0,
         |  CAST(cb AS BIGINT) AS cum1, CAST(d_ppm AS BIGINT) AS d_ppm,
         |  CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1
         |FROM (SELECT *, row_number() OVER (ORDER BY d_ppm DESC, value)
         |        AS rn FROM g)
         |WHERE rn = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      val e = Tables(spark, dir).events
        .select($"value",
          (TextOps.hashMod($"event_id".cast("string")) % 2).as("snap"))
      val v = e.groupBy($"value")
        .agg(dec(sum(when($"snap" === 0, 1).otherwise(0))).as("a"),
          dec(sum(when($"snap" === 1, 1).otherwise(0))).as("b"))
      val n = v.agg(sum($"a").as("n0"), sum($"b").as("n1"))
      val wCum = Window.orderBy($"value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = v
        .withColumn("ca", sum($"a").over(wCum))
        .withColumn("cb", sum($"b").over(wCum))
        .crossJoin(broadcast(n))
        .select($"value", $"ca", $"cb",
          expr("(1000000 * abs(ca * n1 - cb * n0)) DIV (n0 * n1)")
            .as("d_ppm"), $"n0", $"n1")
      g.withColumn("rn",
          row_number().over(Window.orderBy($"d_ppm".desc, $"value")))
        .filter($"rn" === 1)
        .select($"value", $"ca".cast(LongType).as("cum0"),
          $"cb".cast(LongType).as("cum1"),
          $"d_ppm".cast(LongType).as("d_ppm"),
          $"n0".cast(LongType).as("n0"), $"n1".cast(LongType).as("n1"))
    },

    // The Mann–Whitney U / Wilcoxon rank-sum statistic for the
    // same two snapshots — the rank-based location test (KS sees any
    // shape change; U sees stochastic dominance). Tie-corrected
    // midranks are rationals with denominator 2, so the query carries
    // 2·rank and 2·U (exact integers); the normalized
    // U/(n₁·n₂) — reported in ppm — IS the probability-of-superiority
    // AUC between the snapshots, tying the drift tier to the eval
    // tier's AUC semantics (q281).
    Qry(
      "q334_mannwhitney_u",
      s"""WITH e AS (SELECT value, ${snapSql("event_id")} AS snap
         |  FROM events),
         |v AS (SELECT value,
         |    CAST(COUNT(*) AS HUGEINT) AS cnt,
         |    CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS HUGEINT)
         |      AS a
         |  FROM e GROUP BY 1),
         |r AS (SELECT value, cnt, a,
         |    SUM(cnt) OVER (ORDER BY value
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
         |  FROM v),
         |-- tie-corrected midrank of a value's block, DOUBLED to stay
         |-- integral: 2*mid = (lo + hi) = (hi - cnt + 1) + hi
         |s AS (SELECT SUM(a * (2 * hi - cnt + 1)) AS r2_0,
         |    SUM(a) AS n0, SUM(cnt) - SUM(a) AS n1 FROM r)
         |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
         |  CAST(r2_0 AS BIGINT) AS rank_sum_x2,
         |  CAST(r2_0 - n0 * (n0 + 1) AS BIGINT) AS u0_x2,
         |  CAST((1000000 * (r2_0 - n0 * (n0 + 1))) // (2 * n0 * n1)
         |    AS BIGINT) AS auc_ppm
         |FROM s""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      val e = Tables(spark, dir).events
        .select($"value",
          (TextOps.hashMod($"event_id".cast("string")) % 2).as("snap"))
      val v = e.groupBy($"value")
        .agg(dec(count(lit(1))).as("cnt"),
          dec(sum(when($"snap" === 0, 1).otherwise(0))).as("a"))
      val wCum = Window.orderBy($"value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      v.withColumn("hi", sum($"cnt").over(wCum))
        .agg(sum(expr("a * (2 * hi - cnt + 1)")).as("r2_0"),
          sum($"a").as("n0"),
          (sum($"cnt") - sum($"a")).as("n1"))
        .select($"n0".cast(LongType).as("n0"),
          $"n1".cast(LongType).as("n1"),
          $"r2_0".cast(LongType).as("rank_sum_x2"),
          ($"r2_0" - $"n0" * ($"n0" + 1)).cast(LongType).as("u0_x2"),
          expr("CAST((1000000 * (r2_0 - n0 * (n0 + 1))) " +
            "DIV (2 * n0 * n1) AS BIGINT)").as("auc_ppm"))
    },

    // Variance-to-mean dispersion index of per-user daily event
    // counts over the corpus's full day grid (zero days included via
    // a bounded users × days frame): D = s²/x̄ =
    // (nΣx²−(Σx)²) / ((n−1)·Σx), emitted as
    // 10⁶·n·(nΣx²−(Σx)²) DIV ((n−1)·Σx·n) — algebraically reduced to
    // keep every operand integral. D ≈ 10⁶ is Poisson; the query
    // flags over-dispersed (bursty) and under-dispersed (throttled)
    // users — the traffic-shape screen behind bot detection.
    Qry(
      "q336_dispersion_index",
      """WITH days AS (SELECT DISTINCT
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |users AS (SELECT DISTINCT user_id FROM events),
        |obs AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      AS d, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT u.user_id, dd.d, COALESCE(obs.x, 0) AS x
        |  FROM users u CROSS JOIN days dd
        |  LEFT JOIN obs ON obs.user_id = u.user_id AND obs.d = dd.d),
        |m AS (SELECT user_id, COUNT(*) AS n, SUM(x) AS sx,
        |    SUM(x * x) AS sxx FROM grid GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n_days,
        |  CAST(sx AS BIGINT) AS total,
        |  CAST((1000000 * (n * sxx - sx * sx)) // ((n - 1) * sx)
        |    AS BIGINT) AS dispersion_ppm,
        |  CASE WHEN (1000000 * (n * sxx - sx * sx))
        |      // ((n - 1) * sx) > 1200000 THEN 1
        |    WHEN (1000000 * (n * sxx - sx * sx))
        |      // ((n - 1) * sx) < 800000 THEN -1 ELSE 0 END AS flag
        |FROM m WHERE sx > 0""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
      val days = ev.select(to_date($"ts").as("d")).distinct()
      val users = ev.select($"user_id").distinct()
      val obs = ev.groupBy($"user_id".as("ou"), to_date($"ts").as("od"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("x"))
      val grid = users.crossJoin(broadcast(days))
        .join(obs, $"user_id" === $"ou" && $"d" === $"od", "left_outer")
        .select($"user_id", $"d",
          coalesce($"x", lit(0).cast("decimal(38,0)")).as("x"))
      grid.groupBy($"user_id")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum($"x").as("sx"), sum(expr("x * x")).as("sxx"))
        .filter($"sx" > 0)
        .select($"user_id", $"n".cast(LongType).as("n_days"),
          $"sx".cast(LongType).as("total"),
          expr("CAST((1000000 * (n * sxx - sx * sx)) " +
            "DIV ((n - 1) * sx) AS BIGINT)").as("dispersion_ppm"),
          expr("CASE WHEN (1000000 * (n * sxx - sx * sx)) " +
            "DIV ((n - 1) * sx) > 1200000 THEN 1 " +
            "WHEN (1000000 * (n * sxx - sx * sx)) " +
            "DIV ((n - 1) * sx) < 800000 THEN -1 ELSE 0 END").as("flag"))
    },

    // Spearman rank correlation between quantity and price —
    // computed WITHOUT a corpus-sized global rank: both variables bin
    // to bounded marginals (50 quantities × $2,000 price buckets),
    // tie-corrected midranks come from the marginal cumulative counts
    // (2·midrank = 2·cum − cnt + 1, kept doubled to stay integral),
    // and the weighted Pearson moments accumulate exactly in
    // DECIMAL(38,0) over the bounded cell table. The final ratio
    // r² = num²/(den₁·den₂) exceeds 38 digits, so it alone converts
    // to double (one correctly-rounded conversion per operand,
    // identical in both engines) — sign + r²-ppm reported, q338's
    // output convention.
    Qry(
      "q342_spearman_binned",
      s"""WITH cell AS (SELECT CAST(l_quantity AS BIGINT) AS q,
         |    CAST(round(l_extendedprice * 100) AS BIGINT)
         |      // $PriceBucket AS b,
         |    CAST(COUNT(*) AS HUGEINT) AS n
         |  FROM lineitem GROUP BY 1, 2),
         |qm AS (SELECT q, SUM(n) AS cnt FROM cell GROUP BY 1),
         |qr AS (SELECT q, 2 * SUM(cnt) OVER (ORDER BY q
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    - cnt + 1 AS x2 FROM qm),
         |bm AS (SELECT b, SUM(n) AS cnt FROM cell GROUP BY 1),
         |br AS (SELECT b, 2 * SUM(cnt) OVER (ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    - cnt + 1 AS y2 FROM bm),
         |m AS (SELECT SUM(c.n) AS nn, SUM(c.n * qr.x2) AS sx,
         |    SUM(c.n * br.y2) AS sy, SUM(c.n * qr.x2 * br.y2) AS sxy,
         |    SUM(c.n * qr.x2 * qr.x2) AS sxx,
         |    SUM(c.n * br.y2 * br.y2) AS syy
         |  FROM cell c JOIN qr ON qr.q = c.q JOIN br ON br.b = c.b)
         |SELECT CAST(nn AS BIGINT) AS n,
         |  CAST(CASE WHEN nn * sxy - sx * sy > 0 THEN 1
         |    WHEN nn * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INTEGER)
         |    AS sign,
         |  CAST(round(1000000 * (CAST(nn * sxy - sx * sy AS DOUBLE)
         |      * CAST(nn * sxy - sx * sy AS DOUBLE))
         |    / (CAST(nn * sxx - sx * sx AS DOUBLE)
         |      * CAST(nn * syy - sy * sy AS DOUBLE))) AS BIGINT)
         |    AS r2_ppm
         |FROM m""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      val cell = Tables(spark, dir).lineitem
        .groupBy($"l_quantity".cast(LongType).as("q"),
          expr(s"CAST(round(l_extendedprice * 100) AS BIGINT) " +
            s"DIV $PriceBucket").as("b"))
        .agg(dec(count(lit(1))).as("n"))
      val wq = Window.orderBy($"q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val qr = cell.groupBy($"q").agg(sum($"n").as("cnt"))
        .select($"q",
          (lit(2) * sum($"cnt").over(wq) - $"cnt" + 1).as("x2"))
      val wb = Window.orderBy($"b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val br = cell.groupBy($"b").agg(sum($"n").as("cnt"))
        .select($"b",
          (lit(2) * sum($"cnt").over(wb) - $"cnt" + 1).as("y2"))
      cell.join(broadcast(qr), "q").join(broadcast(br), "b")
        .agg(sum($"n").as("nn"), sum(expr("n * x2")).as("sx"),
          sum(expr("n * y2")).as("sy"),
          sum(expr("n * x2 * y2")).as("sxy"),
          sum(expr("n * x2 * x2")).as("sxx"),
          sum(expr("n * y2 * y2")).as("syy"))
        .select($"nn".cast(LongType).as("n"),
          expr("CAST(CASE WHEN nn * sxy - sx * sy > 0 THEN 1 " +
            "WHEN nn * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)")
            .as("sign"),
          expr("CAST(round(1000000 * (CAST(nn * sxy - sx * sy " +
            "AS DOUBLE) * CAST(nn * sxy - sx * sy AS DOUBLE)) " +
            "/ (CAST(nn * sxx - sx * sx AS DOUBLE) " +
            "* CAST(nn * syy - sy * sy AS DOUBLE))) AS BIGINT)")
            .as("r2_ppm"))
    },

    // For every source, the exact two-sample KS statistic between that
    // source's document-length distribution and the REST of the corpus: D_s
    // = max over the length domain of |F_s(v) − F_rest(v)|,
    // cross-multiplied to stay integral (q333's device) with the rest-side
    // counts derived by margin algebra (global cumulative − source
    // cumulative — no per-source corpus rescan, q320's discipline). Output
    // one row per source: sample size, the argmax length and D in ppm — a
    // ranked "which provenance looks least like the corpus" table. Windows
    // run per (source × distinct length) — domain-bounded, never corpus
    // rows after the one count groupBy.
    Qry("q346_per_source_ks", PerSourceKsOracle) { (spark, dir) =>
      import spark.implicits._
      ksTail(Tables(spark, dir).documents
        .groupBy($"source", $"n_chars".as("val"))
        .agg(count(lit(1)).as("c")))
    },

    // The per-source KS and Benford audits as CONTINUOUS monitors —
    // closing the batch/stream symmetry the catalog maintains for every audit family
    // (q245→q248, q313→q314, q316→q325, q331→q332).
    //
    // Per-source KS drift attribution as a stream — the (source, length,
    // count) table is a complete-mode streaming aggregation over the
    // documents stream; the margin-algebra KS tail (grids, cumulative CDFs,
    // argmax per source) runs post-sink over the domain-bounded counts
    // through q346's tail function and oracle text verbatim.
    Qry("q347_stream_source_ks", PerSourceKsOracle) {
      (spark, dir) =>
      import spark.implicits._
      val counts = Streams.fileStream(spark, dir, "documents")
        .groupBy($"source", $"n_chars".as("val"))
        .agg(count(lit(1)).as("c"))
      ksTail(Streams.runToMemory(counts, "complete"))
    },

    // The Benford first-digit audit as a stream — per-digit
    // counts are the streaming aggregation (state: ≤ 9 rows); the
    // spine join and deviation tail run post-sink against q327's
    // oracle verbatim. The fraud monitor shape: the digit histogram
    // stays current per micro-batch, conformity is re-derived from
    // nine registers.
    Qry("q348_stream_benford", BenfordOracle) { (spark, dir) =>
      import spark.implicits._
      val counts = Streams.fileStream(spark, dir, "orders")
        .select(firstDigit.as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("obs"))
      benfordTail(Streams.runToMemory(counts, "complete"))
    }
  )
}
