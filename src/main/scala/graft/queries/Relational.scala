package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Exact._
import graft.Graft._
import graft.operators.{AsOfJoin, ConnectedComponents, Dedup, ExactPercentile,
  Sessionize, SkewJoin, Staging, Stats, TextOps, Vectors, ZOrder}
import graft.sources.Tables
import graft.streaming.Streams

import Helpers.{fixtureMemo, one}

/** Batch relational surface (SURVEY.md §2.4): scans, projection, filters,
  * joins (broadcast / shuffle / semi / anti), aggregations (group-by,
  * rollup, cube, grouping sets, distinct), window functions (ranking,
  * running, moving frames), sorts/limits/top-k, set ops, scalar function
  * families (string/date/json), percentiles, histograms.
  *
  * The reference (`/root/reference`) has none of this — its analytics are
  * consumer-thread loops (SURVEY.md §2.2-§2.3); this module is the
  * relational expansion mandated by BASELINE.json, built declaratively so
  * Catalyst handles pushdown/pruning/join-selection.
  *
  * Scale notes (100 TB discipline):
  *   - dims (`part`, `nation`, `region`, small filtered sets) are
  *     broadcast explicitly; fact-fact joins shuffle on their keys.
  *   - every aggregate is partial-aggregable (sum/count/min/max/decimal
  *     sums) → map-side combine before the shuffle.
  *   - top-k is `row_number <= k` per partition key or
  *     TakeOrderedAndProject globally — never a global sort of the data.
  *
  * Also here: warehouse maintenance (merge/upsert, SCD2, snapshot diffs,
  * materialized views, schema evolution), privacy generalization, and the
  * layout, encoding, skew and join-order advisors.
  */
object Relational {

  // Row-local revenue term: identical IEEE double math in Spark & DuckDB.
  private def revenue(price: Column, disc: Column): Column =
    price * (lit(1.0) - disc)
  private val revenueSql = "l_extendedprice * (1e0 - l_discount)"

  /** One bucketed-table write per fixture state: the join query is
    * about READ-side shuffle elimination, not write cost. */
  private def bucketTables(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val suffix = fixtureMemo("bucketed tables", dir) {
      val s = dir.replaceAll("\\W", "_")
      val tb = Tables(spark, dir)
      tb.orders.select(col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"graft_b_orders$s")
      tb.customer.select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(s"graft_b_customer$s")
      s
    }
    (s"graft_b_orders$suffix", s"graft_b_customer$suffix")
  }

  /** events as (user_id, event_id, ms, event_type, value) — q31's idiom:
    * ms-precision arithmetic, (ms, event_id) as the deterministic order. */
  private[queries] val eventsMsSql =
    """SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
      |  event_type, value FROM events""".stripMargin

  /** Target compacted-output size in stand-in bytes. */
  private val Target = 50000L

  private val Chunk = 4096L  // l_orderkey range per stats chunk

  /** Columns under advisement: (name, duckdb/spark-identical compare
    * semantics are native per type — no string canonicalization). */
  private val Cols = Seq(
    "l_returnflag", "l_linestatus", "l_quantity", "l_shipdate",
    "l_orderkey")

  /** ceil(log2(nd)) for dictionary index width, as a CASE cascade on
    * integer thresholds (identical text both engines). */
  private def bitsSql(nd: String): String = {
    val whens = (0 to 24).map(b => s"WHEN $nd <= ${1L << b} THEN $b")
      .mkString(" ")
    s"(CASE $whens ELSE 25 END)"
  }

  /** The writer's rule, over the derived integer stats. */
  private def ruleSql(avgRun: String, bits: String, sorted: String): String =
    s"""(CASE WHEN $avgRun >= 4000 THEN 'rle'
       |  WHEN $bits <= 12 THEN 'dict'
       |  WHEN $sorted >= 990000 THEN 'delta'
       |  ELSE 'plain' END)""".stripMargin

  private val TopK = 5
  private val SaltCap = 32

  private val OldShards = 8
  private val NewShards = 12

  /** Packed HRW score for shard i of hash column h: md5 of "h:i"
    * reduced to 55 bits, shard in the low 4. One structural template,
    * two hex→BIGINT spellings (Spark's conv(); DuckDB's '0x' || cast —
    * the same md5-prefix value either way, as everywhere in TextOps). */
  private def hrwWith(md5Long: String => String)(h: String, i: Int): String =
    s"((${md5Long(s"CAST($h AS STRING) || ':$i'")} % ${1L << 55}) * 16 + $i)"
  private def hrwSpark(h: String, i: Int): String =
    hrwWith(e => s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)")(h, i)
  private def hrwDuck(h: String, i: Int): String =
    hrwWith(e => s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)")(h, i)

  private val Rev = " [rev2]" // 7 chars appended to revised docs

  /** q269 minimum pair support and report size. */
  private val MinSupport = 3
  private val LiftTopK = 20

  /** q274 geometry: level-1 buckets; mutation classes per ~1%. */
  private val Buckets = 256
  private val Mod = 101

  /** q277 chunk size (a parquet row-group stand-in). */
  private val LayoutChunk = 4096

  private val Depth = 4
  private val Width = 256

  /** Balance band width in cents (1000 currency units). */
  private val BandW = 100000L
  /** Shift making every TPC-H balance-cents value positive (min is
    * -999.99 => -99999 cents). */
  private val Shift = 100000L
  private val Ks = Seq(2, 5, 10)
  /** q303 risk threshold. */
  private val K = 5

  val all: Seq[Qry] = Seq(

    // ---- aggregation over a filtered scan (TPC-H Q1 shape) -------------
    // Money sums go through Exact.dsum2 (round to 2 dp IN DECIMAL SPACE,
    // then cast): past ~9e9 money units the 6-dp decimal→double cast is
    // one ulp apart across engines (Spark correctly-rounded vs DuckDB's
    // int128→double→/1e6 double-rounding — observed on the 10x stress
    // replica); the decimal-space round is exact in both.
    Qry(
      "q1_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsum2Sql("l_extendedprice")} AS sum_base_price,
         |  ${dsum2Sql(revenueSql)} AS sum_disc_price,
         |  ${dsum2Sql(s"$revenueSql * (1e0 + l_tax)")} AS sum_charge,
         |  ${davgSql("l_quantity")} AS avg_qty,
         |  ${davgSql("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .filter($"l_shipdate" <= lit("2001-09-02 00:00:00").cast(TimestampType))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum2($"l_extendedprice").as("sum_base_price"),
          dsum2(revenue($"l_extendedprice", $"l_discount"))
            .as("sum_disc_price"),
          dsum2(revenue($"l_extendedprice", $"l_discount") *
            (lit(1.0) + $"l_tax")).as("sum_charge"),
          davg($"l_quantity").as("avg_qty"),
          davg($"l_discount").as("avg_disc"),
          count(one).as("count_order"))
    },

    // ---- projection + predicate pushdown -------------------------------
    Qry(
      "q2_filter_project",
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate
        |FROM lineitem
        |WHERE l_discount > 0.05 AND l_quantity < 25e0 AND l_returnflag = 'R'"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .filter($"l_discount" > 0.05 && $"l_quantity" < 25.0 &&
          $"l_returnflag" === "R")
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice",
          $"l_discount", $"l_shipdate")
    },

    // ---- broadcast (map-side) join: fact x small dim -------------------
    Qry(
      "q3_broadcast_join",
      s"""SELECT p_brand,
         |  ${dsumSql(revenueSql)} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.lineitem
        .join(broadcast(tb.part.select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(
          dsum(revenue($"l_extendedprice", $"l_discount")).as("revenue"),
          count(one).as("n_items"))
    },

    // ---- multi-way join (TPC-H Q5 shape): 2 shuffle + 2 broadcast ------
    Qry(
      "q4_multi_join",
      s"""SELECT n_name, ${dsumSql(revenueSql)} AS revenue, COUNT(*) AS n_items
         |FROM customer
         |  JOIN orders   ON c_custkey = o_custkey
         |  JOIN lineitem ON o_orderkey = l_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  JOIN nation   ON s_nationkey = n_nationkey
         |  JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
         |GROUP BY n_name""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.customer
        .join(tb.orders
          .filter($"o_orderdate" >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
            $"o_orderdate" < lit("1999-01-01 00:00:00").cast(TimestampType)),
          $"c_custkey" === $"o_custkey")
        .join(tb.lineitem, $"o_orderkey" === $"l_orderkey")
        .join(tb.supplier,
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(tb.nation), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(tb.region.filter($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(
          dsum(revenue($"l_extendedprice", $"l_discount")).as("revenue"),
          count(one).as("n_items"))
    },

    // ---- semi join (EXISTS) --------------------------------------------
    Qry(
      "q5_semi_join",
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
         |  ${dsumSql("c_acctbal")} AS tot_bal
         |FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders
         |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         |GROUP BY c_mktsegment""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.customer
        .join(tb.orders.filter($"o_orderstatus" === "F").select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment")
        .agg(count(one).as("n_customers"), dsum($"c_acctbal").as("tot_bal"))
    },

    // ---- anti join (NOT EXISTS) ----------------------------------------
    Qry(
      "q6_anti_join",
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
         |  ${dsumSql("c_acctbal")} AS tot_bal
         |FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_totalprice > 400000e0)
         |GROUP BY c_mktsegment""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.customer
        .join(
          tb.orders.filter($"o_totalprice" > 400000.0).select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(one).as("n_customers"), dsum($"c_acctbal").as("tot_bal"))
    },

    // ---- per-group top-k via ranking window ----------------------------
    Qry(
      "q7_topk_per_group",
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables(spark, dir).orders
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"o_orderpriority", $"rn", $"o_orderkey", $"o_totalprice")
    },

    // ---- global ordered top-k (TakeOrderedAndProject, no full sort) ----
    Qry(
      "q8_sort_limit",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .limit(100)
    },

    // ---- rollup --------------------------------------------------------
    Qry(
      "q9_rollup",
      s"""SELECT r_name, n_name, COUNT(*) AS n_customers,
         |  ${dsumSql("c_acctbal")} AS tot_bal
         |FROM customer
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.customer
        .join(broadcast(tb.nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(tb.region), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(one).as("n_customers"), dsum($"c_acctbal").as("tot_bal"))
    },

    // ---- cube ----------------------------------------------------------
    Qry(
      "q10_cube",
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM orders
         |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        // Pre-aggregate on the full key set BEFORE the cube: Expand then
        // multiplies ~|distinct key combos| rows (15 here), not the fact
        // table — at 100 TB the cube's 2^k row amplification happens on
        // an already-reduced relation. Decimal partials keep dsum exact
        // (decimal addition is associative); the single cast to DOUBLE
        // still happens once at the end.
        Tables(spark, dir).orders
          .groupBy($"o_orderstatus", $"o_orderpriority")
          .agg(count(one).as("pn"),
            sum($"o_totalprice".cast(graft.Exact.Money)).as("pt"))
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(sum($"pn").as("n_orders"),
            sum($"pt").cast(org.apache.spark.sql.types.DoubleType)
              .as("total"))
    },

    // ---- grouping sets (SQL entry path) --------------------------------
    Qry(
      "q11_grouping_sets",
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
        .stripMargin) { (spark, dir) =>
      Tables(spark, dir).orders.createOrReplaceTempView("orders")
      spark.sql(
        s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           |  ${dsumSql("o_totalprice")} AS total
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
          .stripMargin)
    },

    // ---- distinct aggregation ------------------------------------------
    Qry(
      "q12_distinct_agg",
      s"""SELECT o_orderstatus,
         |  COUNT(DISTINCT o_custkey) AS n_customers,
         |  COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .groupBy($"o_orderstatus")
        .agg(
          countDistinct($"o_custkey").as("n_customers"),
          count(one).as("n_orders"),
          dsum($"o_totalprice").as("total"))
    },

    // ---- set ops: UNION / INTERSECT / EXCEPT ---------------------------
    Qry(
      "q13_union",
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000e0
        |UNION
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000e0"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.customer.filter($"c_acctbal" > 8000.0).select($"c_custkey".as("custkey"))
        .union(tb.orders.filter($"o_totalprice" > 300000.0)
          .select($"o_custkey".as("custkey")))
        .distinct()
    },

    Qry(
      "q14_intersect",
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000e0
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000e0"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.customer.filter($"c_acctbal" > 8000.0).select($"c_custkey".as("custkey"))
        .intersect(tb.orders.filter($"o_totalprice" > 300000.0)
          .select($"o_custkey".as("custkey")))
    },

    Qry(
      "q15_except",
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000e0
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000e0"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.customer.filter($"c_acctbal" > 8000.0).select($"c_custkey".as("custkey"))
        .except(tb.orders.filter($"o_totalprice" > 300000.0)
          .select($"o_custkey".as("custkey")))
    },

    // ---- ranking + running + lag/lead windows --------------------------
    Qry(
      "q16_window_running",
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  row_number() OVER w AS rn,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_spend,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables(spark, dir).orders
        .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_spend",
          sum($"o_totalprice".cast(Money))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType))
        .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
        .withColumn("next_price", lead($"o_totalprice", 1).over(w))
    },

    // ---- moving aggregate over a time-range frame ----------------------
    Qry(
      "q17_moving_avg",
      """SELECT user_id, event_id, ms, value,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS mov_sum,
        |  COUNT(*) OVER w AS mov_n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
        |    / (COUNT(*) OVER w) AS mov_avg
        |FROM (SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ms
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms")
        .rangeBetween(-3600000L, Window.currentRow)
      Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"value")
        .withColumn("mov_sum", sum($"value".cast(Money)).over(w).cast(DoubleType))
        .withColumn("mov_n", count(one).over(w))
        .withColumn("mov_avg", $"mov_sum" / $"mov_n")
    },

    // ---- string function family ----------------------------------------
    Qry(
      "q18_string_funcs",
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  lower(p_brand) AS lbrand,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substr(p_type, 1, 4) AS type_prefix,
        |  concat_ws('#', p_brand, p_type) AS brand_type,
        |  replace(p_name, 'a', '@') AS subbed,
        |  CAST(strpos(p_name, 'o') AS BIGINT) AS o_pos,
        |  lpad(p_brand, 10, '*') AS padded
        |FROM part""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).part.select(
        $"p_partkey",
        upper($"p_name").as("uname"),
        lower($"p_brand").as("lbrand"),
        length($"p_name").cast(LongType).as("name_len"),
        substring($"p_type", 1, 4).as("type_prefix"),
        concat_ws("#", $"p_brand", $"p_type").as("brand_type"),
        regexp_replace($"p_name", "a", "@").as("subbed"),
        instr($"p_name", "o").cast(LongType).as("o_pos"),
        lpad($"p_brand", 10, "*").as("padded"))
    },

    // ---- date/time function family -------------------------------------
    Qry(
      "q19_date_funcs",
      s"""SELECT date_trunc('month', o_orderdate) AS month,
         |  CAST(year(date_trunc('month', o_orderdate)) AS BIGINT) AS yr,
         |  CAST(quarter(date_trunc('month', o_orderdate)) AS BIGINT) AS qtr,
         |  COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM orders
         |GROUP BY date_trunc('month', o_orderdate)""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        Tables(spark, dir).orders
          .groupBy(to_date(date_trunc("month", $"o_orderdate")).as("month"))
          .agg(count(one).as("n_orders"), dsum($"o_totalprice").as("total"))
          .select($"month",
            year($"month").cast(LongType).as("yr"),
            quarter($"month").cast(LongType).as("qtr"),
            $"n_orders", $"total")
    },

    // ---- exact percentiles (reference §2.3 #18, done distributed) ------
    Qry(
      "q20_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .groupBy($"l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price"),
          min($"l_extendedprice").as("min_price"),
          max($"l_extendedprice").as("max_price"))
    },

    // ---- pivot ----------------------------------------------------------
    Qry(
      "q21_pivot",
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(one))
        // fill only the pivoted columns — a blanket fill would also
        // rewrite a NULL group key to 0
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
    },

    // ---- JSON extraction (events.props) --------------------------------
    Qry(
      "q22_json_props",
      """SELECT event_type,
        |  CAST(SUM(k) AS BIGINT) AS k_sum,
        |  COUNT(k) AS k_n, MAX(k) AS k_max, MIN(k) AS k_min
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // LongType, matching the oracle's TRY_CAST(... AS BIGINT): an
      // IntegerType field would null out k values beyond Int range
      val schema = StructType(Seq(StructField("k", LongType)))
      Tables(spark, dir).events
        .select($"event_type",
          from_json($"props", schema).getField("k").cast(LongType).as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("k_sum"), count($"k").as("k_n"),
          max($"k").as("k_max"), min($"k").as("k_min"))
    },

    // ---- correlated-subquery shape (decorrelated as a join) ------------
    Qry(
      "q23_above_customer_avg",
      s"""SELECT o_orderstatus, COUNT(*) AS n_above
         |FROM orders o
         |WHERE o_totalprice > 1.5 * (
         |  SELECT ${dsumSql("i.o_totalprice")} / COUNT(*)
         |  FROM orders i WHERE i.o_custkey = o.o_custkey)
         |GROUP BY o_orderstatus""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Tables(spark, dir).orders
      val avgs = orders.groupBy($"o_custkey".as("ck"))
        .agg((dsum($"o_totalprice") / count(one)).as("cavg"))
      orders.join(avgs, $"o_custkey" === $"ck")
        .filter($"o_totalprice" > $"cavg" * 1.5)
        .groupBy($"o_orderstatus")
        .agg(count(one).as("n_above"))
    },

    // ---- numeric histogram (fixed-width buckets) -----------------------
    Qry(
      "q24_histogram",
      """SELECT CAST(FLOOR(o_totalprice / 25000e0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .select(floor($"o_totalprice" / 25000.0).cast(LongType).as("bucket"))
        .groupBy($"bucket")
        .agg(count(one).as("n"))
    },

    // Typed-Aggregator UDAF, full ranking-window family, multiset (ALL) set
    // operations, Catalyst subquery handling via the SQL entry path, and
    // the array-function family.
    // ---- custom typed Aggregator (exact percentile UDAF) ---------------
    Qry(
      "q50_percentile_udaf",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val p50 = udaf(new ExactPercentile(0.5))
      val p95 = udaf(new ExactPercentile(0.95))
      Tables(spark, dir).lineitem
        .groupBy($"l_returnflag")
        .agg(round(p50($"l_extendedprice"), 4).as("p50"),
          round(p95($"l_extendedprice"), 4).as("p95"),
          count(one).as("n"))
    },

    // ---- full ranking-window family ------------------------------------
    Qry(
      "q51_window_ranks",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  dense_rank() OVER w AS drank,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist,
        |  ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |QUALIFY o_orderkey % 97 = 0""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice", $"o_orderkey")
      Tables(spark, dir).orders
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
        .withColumn("drank", dense_rank().over(w))
        .withColumn("prank", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .filter($"o_orderkey" % 97 === 0)
    },

    // ---- multiset set operations (ALL variants) ------------------------
    Qry(
      "q52_setops_all",
      """WITH a AS (SELECT o_custkey AS ck FROM orders
        |           WHERE o_orderstatus = 'F'),
        |     b AS (SELECT o_custkey AS ck FROM orders
        |           WHERE o_totalprice > 200000e0)
        |SELECT 'intersect_all' AS op, ck, COUNT(*) AS n
        |FROM (SELECT ck FROM a INTERSECT ALL SELECT ck FROM b) GROUP BY 2
        |UNION ALL
        |SELECT 'except_all' AS op, ck, COUNT(*) AS n
        |FROM (SELECT ck FROM a EXCEPT ALL SELECT ck FROM b) GROUP BY 2"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val orders = Tables(spark, dir).orders
      val a = orders.filter($"o_orderstatus" === "F")
        .select($"o_custkey".as("ck"))
      val b = orders.filter($"o_totalprice" > 200000.0)
        .select($"o_custkey".as("ck"))
      a.intersectAll(b).groupBy($"ck").agg(count(one).as("n"))
        .select(lit("intersect_all").as("op"), $"ck", $"n")
        .unionByName(
          a.exceptAll(b).groupBy($"ck").agg(count(one).as("n"))
            .select(lit("except_all").as("op"), $"ck", $"n"))
    },

    // ---- Catalyst subquery handling (SQL entry path) -------------------
    Qry(
      "q53_sql_subqueries",
      s"""SELECT o_orderpriority, COUNT(*) AS n
         |FROM orders
         |WHERE o_custkey IN (SELECT c_custkey FROM customer
         |                    WHERE c_acctbal > (SELECT ${davgSql("c_acctbal")}
         |                                       FROM customer))
         |  AND EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey AND l_quantity > 45e0)
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      val tb = Tables(spark, dir)
      tb.orders.createOrReplaceTempView("orders")
      tb.customer.createOrReplaceTempView("customer")
      tb.lineitem.createOrReplaceTempView("lineitem")
      spark.sql(
        s"""SELECT o_orderpriority, COUNT(*) AS n
           |FROM orders
           |WHERE o_custkey IN (SELECT c_custkey FROM customer
           |                    WHERE c_acctbal > (SELECT ${davgSql("c_acctbal")}
           |                                       FROM customer))
           |  AND EXISTS (SELECT 1 FROM lineitem
           |              WHERE l_orderkey = o_orderkey AND l_quantity > 45e0)
           |GROUP BY 1""".stripMargin)
    },

    // ---- array function family -----------------------------------------
    // NOTE: the gate-checked output must contain NO array/map/struct
    // columns — the driver's pandas compare crashes sorting them
    // (CORRECTNESS_r01 q54 harness error) — so top3 is emitted as three
    // scalar columns.
    Qry(
      "q54_array_funcs",
      """SELECT vec_id,
        |  CAST(len(v) AS BIGINT) AS dim,
        |  list_max(v) AS max_val,
        |  list_min(v) AS min_val,
        |  CAST(list_position(v, list_max(v)) AS BIGINT) AS max_pos,
        |  list_sort(v, 'DESC')[1] AS top3_1,
        |  list_sort(v, 'DESC')[2] AS top3_2,
        |  list_sort(v, 'DESC')[3] AS top3_3,
        |  list_contains(v, 0.0) AS has_zero
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings)""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).embeddings
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .select($"vec_id", $"v",
          sort_array($"v", asc = false).as("vd"))
        .select($"vec_id",
          size($"v").cast(LongType).as("dim"),
          array_max($"v").as("max_val"),
          array_min($"v").as("min_val"),
          array_position($"v", array_max($"v")).as("max_pos"),
          element_at($"vd", 1).as("top3_1"),
          element_at($"vd", 2).as("top3_2"),
          element_at($"vd", 3).as("top3_3"),
          array_contains($"v", 0.0).as("has_zero"))
    },

    // Skew-salted join (result-identical to the plain join — that identity
    // IS the oracle), date/time arithmetic, null-handling functions, and
    // pivot→unpivot.
    // ---- salted skew join (same results as the plain join) -------------
    Qry(
      "q55_salted_join",
      s"""SELECT s_name, COUNT(*) AS n_items,
         |  ${dsumSql("l_extendedprice * (1e0 - l_discount)")} AS revenue
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      SkewJoin.saltedJoin(
          tb.lineitem.select($"l_suppkey", $"l_extendedprice", $"l_discount"),
          tb.supplier.select($"s_suppkey", $"s_name"),
          largeKey = "l_suppkey", smallKey = "s_suppkey", salts = 8)
        .groupBy($"s_name")
        .agg(count(one).as("n_items"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
    },

    // ---- date/time arithmetic family -----------------------------------
    Qry(
      "q56_date_arith",
      """SELECT o_orderkey,
        |  CAST(date_diff('day', DATE '1995-01-01',
        |    CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(isodow(o_orderdate) - 1 AS INTEGER) AS wd,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
        |FROM orders WHERE o_orderkey % 53 = 0""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .filter($"o_orderkey" % 53 === 0)
        .select($"o_orderkey",
          datediff(to_date($"o_orderdate"), lit("1995-01-01")).as("days_since"),
          add_months(to_date($"o_orderdate"), 3).as("plus3m"),
          last_day(to_date($"o_orderdate")).as("month_end"),
          weekday($"o_orderdate").as("wd"),
          dayofyear($"o_orderdate").as("doy"))
    },

    // ---- null-handling functions ---------------------------------------
    Qry(
      "q57_null_funcs",
      s"""WITH agg AS (SELECT o_custkey, COUNT(*) AS n,
         |    ${dsumSql("o_totalprice")} AS tot
         |  FROM orders GROUP BY 1)
         |SELECT c_custkey,
         |  COALESCE(n, 0) AS n_orders,
         |  COALESCE(tot, 0e0) AS spend,
         |  (tot IS NOT DISTINCT FROM NULL) AS never_ordered,
         |  NULLIF(COALESCE(n, 0), 0) AS n_or_null,
         |  CASE WHEN tot IS NULL THEN 'none'
         |       WHEN tot > 500000e0 THEN 'big' ELSE 'small' END AS tier
         |FROM customer LEFT JOIN agg ON c_custkey = o_custkey"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      val agg = tb.orders.groupBy($"o_custkey")
        .agg(count(one).as("n"), dsum($"o_totalprice").as("tot"))
      tb.customer.join(agg, $"c_custkey" === $"o_custkey", "left")
        .select($"c_custkey",
          coalesce($"n", lit(0L)).as("n_orders"),
          coalesce($"tot", lit(0.0)).as("spend"),
          ($"tot" <=> lit(null)).as("never_ordered"),
          nullif(coalesce($"n", lit(0L)), lit(0L)).as("n_or_null"),
          when($"tot".isNull, "none").when($"tot" > 500000.0, "big")
            .otherwise("small").as("tier"))
    },

    // ---- pivot → unpivot roundtrip -------------------------------------
    Qry(
      "q58_unpivot",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |  ty AS (SELECT * FROM (VALUES ('click'), ('error'), ('purchase'),
        |         ('signup'), ('view')) AS t(event_type)),
        |  c AS (SELECT user_id, event_type, COUNT(*) AS n
        |        FROM events GROUP BY 1, 2)
        |SELECT u.user_id, ty.event_type, COALESCE(c.n, 0) AS n
        |FROM u CROSS JOIN ty
        |  LEFT JOIN c ON u.user_id = c.user_id
        |    AND ty.event_type = c.event_type""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables(spark, dir).events
        .groupBy($"user_id")
        .pivot("event_type", types)
        .agg(count(one))
        .na.fill(0L, types) // not the group key
        .unpivot(Array($"user_id"), types.map(col).toArray,
          "event_type", "n")
    },

    // ---- positional explode (generator / UNNEST WITH ORDINALITY) -------
    Qry(
      "q60_posexplode",
      """SELECT vec_id, CAST(s.pos AS INTEGER) AS pos, s.val
        |FROM (SELECT vec_id,
        |        unnest(list_transform(range(len(embedding)),
        |          i -> struct_pack(pos := i, val := embedding[i+1]))) AS s
        |      FROM embeddings WHERE vec_id < 20)""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        Tables(spark, dir).embeddings
          .filter($"vec_id" < 20)
          .select($"vec_id", posexplode($"embedding"))
          .toDF("vec_id", "pos", "val")
    },

    // ---- full outer join ------------------------------------------------
    Qry(
      "q61_full_outer",
      s"""WITH rich AS (SELECT c_custkey AS ck, c_acctbal FROM customer
         |              WHERE c_acctbal > 7000e0),
         |  big AS (SELECT o_custkey AS ok, COUNT(*) AS n,
         |      ${dsumSql("o_totalprice")} AS tot
         |    FROM orders WHERE o_totalprice > 250000e0 GROUP BY 1)
         |SELECT COALESCE(ck, ok) AS custkey, c_acctbal, n, tot,
         |  CASE WHEN ck IS NULL THEN 'order_only'
         |       WHEN ok IS NULL THEN 'balance_only'
         |       ELSE 'both' END AS side
         |FROM rich FULL OUTER JOIN big ON ck = ok""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val tb = Tables(spark, dir)
        val rich = tb.customer.filter($"c_acctbal" > 7000.0)
          .select($"c_custkey".as("ck"), $"c_acctbal")
        val big = tb.orders.filter($"o_totalprice" > 250000.0)
          .groupBy($"o_custkey".as("ok"))
          .agg(count(one).as("n"), dsum($"o_totalprice").as("tot"))
        rich.join(big, $"ck" === $"ok", "full_outer")
          .select(coalesce($"ck", $"ok").as("custkey"), $"c_acctbal",
            $"n", $"tot",
            when($"ck".isNull, "order_only")
              .when($"ok".isNull, "balance_only")
              .otherwise("both").as("side"))
    },

    // Map-typed columns (JSON → MapType) and the math function family
    // (transcendentals rounded to fixed precision — libm implementations
    // agree well inside 6 dp, verified by the oracle).
    // ---- map functions over JSON-decoded props -------------------------
    // Path extraction (get_json_object / json_object_keys), NOT
    // from_json into MapType: materializing a full map per row to read
    // one key and a key count is the per-row-parser anti-pattern — at
    // 100 TB the map never needs to exist. Parity with the DuckDB oracle
    // probed on events.props (clean single-key JSON objects, no nulls).
    Qry(
      "q67_map_funcs",
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(len(json_keys(props))) AS BIGINT) AS total_keys,
        |  CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS with_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .select($"event_type",
          size(expr("json_object_keys(props)")).cast(LongType).as("nk"),
          get_json_object($"props", "$.k").as("kv"))
        .groupBy($"event_type")
        .agg(count(one).as("n"),
          sum($"nk").as("total_keys"),
          sum(when($"kv".isNotNull, 1).otherwise(0))
            .cast(LongType).as("with_k"),
          max($"kv".cast(LongType)).as("max_k"))
    },

    // ---- math function family ------------------------------------------
    Qry(
      "q68_math_funcs",
      """SELECT event_id,
        |  abs(value - 50e0) AS dist50,
        |  round(power(value, 2), 6) AS sq,
        |  round(sqrt(abs(value)), 6) AS root,
        |  round(exp(value / 100e0), 6) AS expv,
        |  round(log10(value + 1e0), 6) AS lg,
        |  CAST(sign(value - 50e0) AS DOUBLE) AS sgn,
        |  CAST(ceil(value) AS BIGINT) AS cl,
        |  CAST(floor(value) AS BIGINT) AS fl,
        |  CAST(trunc(value) AS INTEGER) % 7 AS md
        |FROM events WHERE event_id % 11 = 0""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .filter($"event_id" % 11 === 0)
        .select($"event_id",
          abs($"value" - 50.0).as("dist50"),
          round(pow($"value", 2), 6).as("sq"),
          round(sqrt(abs($"value")), 6).as("root"),
          round(exp($"value" / 100.0), 6).as("expv"),
          round(log10($"value" + 1.0), 6).as("lg"),
          signum($"value" - 50.0).as("sgn"),
          ceil($"value").cast(LongType).as("cl"),
          floor($"value").cast(LongType).as("fl"),
          ($"value".cast(IntegerType) % 7).as("md"))
    },

    // ---- remaining string-function family ------------------------------
    Qry(
      "q70_string_extra",
      """SELECT p_partkey,
        |  translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
        |  reverse(p_brand) AS rev_brand,
        |  repeat(substring(p_type, 1, 2), 3) AS rep2,
        |  left(p_name, 4) AS l4,
        |  right(p_name, 3) AS r3,
        |  trim('  ' || p_brand || ' ') AS trimmed,
        |  CAST(octet_length(encode(p_name)) AS BIGINT) AS utf8_bytes,
        |  md5(p_name || '#' || p_brand) AS combo_hash
        |FROM part WHERE p_partkey % 7 = 0""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).part
        .filter($"p_partkey" % 7 === 0)
        .select($"p_partkey",
          translate($"p_name", "aeiou", "AEIOU").as("vowels_up"),
          reverse($"p_brand").as("rev_brand"),
          repeat(substring($"p_type", 1, 2), 3).as("rep2"),
          substring($"p_name", 1, 4).as("l4"),
          expr("right(p_name, 3)").as("r3"),
          trim(concat(lit("  "), $"p_brand", lit(" "))).as("trimmed"),
          octet_length(encode($"p_name", "UTF-8")).cast(LongType)
            .as("utf8_bytes"),
          md5(concat($"p_name", lit("#"), $"p_brand")).as("combo_hash"))
    },

    // ---- GROUPING markers on rollup ------------------------------------
    Qry(
      "q72_grouping_id",
      s"""SELECT r_name, n_name,
         |  CAST(GROUPING(r_name) AS INTEGER) AS gr,
         |  CAST(GROUPING(n_name) AS INTEGER) AS gn,
         |  COUNT(*) AS n, ${dsumSql("c_acctbal")} AS tot
         |FROM customer
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.customer
        .join(broadcast(tb.nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(tb.region), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(grouping($"r_name").cast(IntegerType).as("gr"),
          grouping($"n_name").cast(IntegerType).as("gn"),
          count(one).as("n"), dsum($"c_acctbal").as("tot"))
        .select($"r_name", $"n_name", $"gr", $"gn", $"n", $"tot")
    },

    // ---- SCD-1 merge / upsert ------------------------------------------
    // The incremental-refresh primitive (MERGE INTO before table formats
    // existed): full-outer join of the base snapshot with a changeset,
    // change wins. One shuffle on the merge key; at cluster scale the
    // base would be bucketed by key so only the (small) changeset moves.
    Qry(
      "q80_merge_upsert",
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price
        |    FROM orders WHERE o_orderkey % 3 <> 0),
        |upd AS (SELECT o_orderkey AS k, o_totalprice * 1.1e0 AS price
        |    FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(b.k, u.k) AS o_orderkey,
        |  COALESCE(u.price, b.price) AS price,
        |  CASE WHEN b.k IS NULL THEN 'insert'
        |       WHEN u.k IS NULL THEN 'keep'
        |       ELSE 'update' END AS action
        |FROM base b FULL JOIN upd u ON b.k = u.k""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val o = Tables(spark, dir).orders
        val base = o.filter($"o_orderkey" % 3 =!= 0)
          .select($"o_orderkey".as("k"), $"o_totalprice".as("price"))
        val upd = o.filter($"o_orderkey" % 2 === 0)
          .select($"o_orderkey".as("uk"),
            ($"o_totalprice" * 1.1).as("uprice"))
        base.join(upd, $"k" === $"uk", "full_outer")
          .select(coalesce($"k", $"uk").as("o_orderkey"),
            coalesce($"uprice", $"price").as("price"),
            when($"k".isNull, "insert").when($"uk".isNull, "keep")
              .otherwise("update").as("action"))
    },

    // ---- time-RANGE window frame ---------------------------------------
    // Trailing 10-minute per-user sum/count via a RANGE frame on the ms
    // axis — value-based frames (vs the ROWS frames of q16/q17) are the
    // correct trailing-window semantics when event spacing is irregular.
    // Ties in ms share one frame, so the result is order-deterministic;
    // the sum is decimal-exact.
    Qry(
      "q89_range_frame",
      s"""WITH e AS (SELECT user_id, event_id,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events)
         |SELECT user_id, event_id,
         |  CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
         |    AS val_10m,
         |  COUNT(*) OVER w AS n_10m
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ms
         |  RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ms")
          .rangeBetween(-600000L, Window.currentRow)
        Tables(spark, dir).events
          .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
            $"value")
          .select($"user_id", $"event_id",
            sum($"value".cast(Money)).over(w).cast("double").as("val_10m"),
            count(one).over(w).as("n_10m"))
    },

    // ---- argmin / argmax aggregates ------------------------------------
    // min_by/max_by (DuckDB arg_min/arg_max) with an explicitly UNIQUE
    // ordering value: ties in the raw price would make the picked key
    // engine-dependent, so the comparand is price·1e9 + key. Uniqueness,
    // not integer exactness, is what matters: price·1e9 carries ~1 ulp of
    // product error, but 2-dp money steps of 1e7 dominate the key range
    // and both engines evaluate the identical IEEE-754 expression, so the
    // ordering agrees bit-for-bit.
    Qry(
      "q90_argminmax",
      """SELECT o_orderpriority,
        |  arg_min(o_orderkey, o_totalprice * 1e9 + o_orderkey)
        |    AS cheapest_key,
        |  arg_max(o_orderkey, o_totalprice * 1e9 + o_orderkey)
        |    AS priciest_key,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tie = $"o_totalprice" * lit(1e9) + $"o_orderkey"
      Tables(spark, dir).orders
        .groupBy($"o_orderpriority")
        .agg(min_by($"o_orderkey", tie).as("cheapest_key"),
          max_by($"o_orderkey", tie).as("priciest_key"),
          min($"o_totalprice").as("min_price"),
          max($"o_totalprice").as("max_price"))
    },

    // ---- conditional aggregation (FILTER clause family) ----------------
    Qry(
      "q91_conditional_agg",
      s"""SELECT l_returnflag,
         |  COUNT(*) FILTER (WHERE l_quantity > 25e0) AS n_big,
         |  BOOL_AND(l_discount <= 0.08e0) AS all_small_disc,
         |  BOOL_OR(l_tax > 0.07e0) AS any_high_tax,
         |  ${dsumSql(
             "CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01' " +
               "THEN l_extendedprice END")} AS recent_rev
         |FROM lineitem GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .groupBy($"l_returnflag")
        .agg(count_if($"l_quantity" > 25.0).as("n_big"),
          bool_and($"l_discount" <= 0.08).as("all_small_disc"),
          bool_or($"l_tax" > 0.07).as("any_high_tax"),
          dsum(when($"l_shipdate" >= lit("1997-01-01").cast("timestamp"),
            $"l_extendedprice")).as("recent_rev"))
    },

    // Keep-latest snapshot compaction, streaming exactly-once dedup over an
    // at-least-once source, and degree analytics over the near-duplicate
    // graph.
    // ---- keep-latest-per-key snapshot compaction -----------------------
    // The CDC/state-snapshot primitive: from an event log, the most
    // recent row per key. One shuffle + in-partition sort (row_number
    // top-1); ties on ms break on event_id so the survivor is unique.
    Qry(
      "q93_latest_snapshot",
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events),
        |r AS (SELECT user_id, event_id, ms, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ms DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, event_id AS last_event_id, ms AS last_ms,
        |  value AS last_value
        |FROM r WHERE rn = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ms".desc, $"event_id".desc)
      Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          $"value")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id".as("last_event_id"),
          $"ms".as("last_ms"), $"value".as("last_value"))
    },

    // ---- ordered string aggregation ------------------------------------
    // LISTAGG/string_agg with a declared order: collect_list is
    // partition-order-dependent, so the sort happens INSIDE the aggregate
    // result (array_sort) before joining — deterministic on any cluster
    // layout.
    Qry(
      "q100_string_agg",
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  COUNT(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tb = Tables(spark, dir)
      tb.nation
        .join(broadcast(tb.region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(array_join(array_sort(collect_list($"n_name")), ",")
          .as("nations"), count(one).as("n"))
    },

    // ---- bitwise aggregates --------------------------------------------
    // bit_and / bit_or / bit_xor are order-independent by construction —
    // the rare aggregate family that needs NO determinism scaffolding.
    Qry(
      "q115_bit_aggs",
      """SELECT event_type, bit_and(user_id) AS id_and,
        |  bit_or(user_id) AS id_or, bit_xor(user_id) AS id_xor,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .groupBy($"event_type")
        .agg(bit_and($"user_id").as("id_and"),
          bit_or($"user_id").as("id_or"),
          bit_xor($"user_id").as("id_xor"),
          countDistinct($"user_id").as("n_users"))
    },

    // ---- LATERAL correlated subquery (SQL surface) ---------------------
    // Per-outer-row top-k via LATERAL — the SQL-standard spelling of
    // q7's top-k-per-group, exercised through spark.sql so Catalyst's
    // lateral-join decorrelation path is covered. Both engines run the
    // IDENTICAL query text.
    Qry(
      "q116_lateral_topk",
      """SELECT r_name, n_name
        |FROM region, LATERAL (SELECT n_name FROM nation
        |  WHERE n_regionkey = r_regionkey
        |  ORDER BY n_name LIMIT 2) top_nations""".stripMargin) {
      (spark, dir) =>
        val tb = Tables(spark, dir)
        tb.region.createOrReplaceTempView("region")
        tb.nation.createOrReplaceTempView("nation")
        spark.sql(
          """SELECT r_name, n_name
            |FROM region, LATERAL (SELECT n_name FROM nation
            |  WHERE n_regionkey = r_regionkey
            |  ORDER BY n_name LIMIT 2) top_nations""".stripMargin)
    },

    // ---- recursive CTE (SQL surface) -----------------------------------
    // WITH RECURSIVE through spark.sql — a date spine unrolled by the
    // recursion, then aggregated per month against order counts. The
    // recursion depth is bounded (182 days) and the engine-side text is
    // dialect-local while the SEMANTICS are identical. Scale note: a
    // production spine uses sequence()/explode (q118); this exercises
    // Catalyst's UnionLoop path.
    Qry(
      "q117_recursive_spine",
      """WITH RECURSIVE spine(d) AS (
        |  SELECT DATE '1996-01-01'
        |  UNION ALL
        |  SELECT d + 1 FROM spine WHERE d < DATE '1996-06-30'),
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT date_trunc('month', spine.d) AS month,
        |  COUNT(*) AS n_days,
        |  CAST(SUM(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_empty_days,
        |  CAST(SUM(COALESCE(daily.n, 0)) AS BIGINT) AS n_orders
        |FROM spine LEFT JOIN daily ON spine.d = daily.d
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      val tb = Tables(spark, dir)
      tb.orders.createOrReplaceTempView("orders")
      // 182-day unroll exceeds Spark's default 100-level recursion cap;
      // the MAX RECURSION LEVEL clause is Spark-dialect (DuckDB needs none)
      spark.sql(
        """WITH RECURSIVE spine(d) MAX RECURSION LEVEL 200 AS (
          |  SELECT DATE '1996-01-01'
          |  UNION ALL
          |  SELECT date_add(d, 1) FROM spine WHERE d < DATE '1996-06-30'),
          |daily AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
          |  FROM orders GROUP BY 1)
          |SELECT CAST(date_trunc('MONTH', spine.d) AS TIMESTAMP) AS month,
          |  COUNT(*) AS n_days,
          |  CAST(SUM(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_empty_days,
          |  CAST(SUM(COALESCE(daily.n, 0)) AS BIGINT) AS n_orders
          |FROM spine LEFT JOIN daily ON spine.d = daily.d
          |GROUP BY 1""".stripMargin)
    },

    // ---- partitioned write + partition-pruned read ---------------------
    // events partitioned by event_type on disk, then a single-partition
    // read: the scan touches ONE directory (PartitionFilters in the
    // plan, verified in PLANS.md) — the layout that makes per-category
    // queries O(category) instead of O(corpus) at 100 TB.
    Qry(
      "q124_partition_pruning",
      s"""SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
         |    AS day,
         |  COUNT(*) AS n, ${dsumSql("value")} AS val_sum
         |FROM events WHERE event_type = 'click'
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val out = RoundTrip.dir(s"$dir#evpart")
      val src = Tables(spark, dir).events
        .select($"event_type", $"ts", $"value")
      src.write.mode("overwrite").partitionBy("event_type").parquet(out)
      spark.read.parquet(out)
        .filter($"event_type" === "click")
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg(count(one).as("n"), dsum($"value").as("val_sum"))
    },

    // ---- VARIANT ingestion (Spark 4 semi-structured path) --------------
    // parse_json into a VARIANT column + typed variant_get extraction —
    // the shredded semi-structured story, distinct from q22's
    // string-path get_json_object. The variant never reaches the output
    // (gate contract: scalar columns only); the extracted BIGINT does.
    Qry(
      "q127_variant_extract",
      """SELECT event_type,
        |  COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS k_min,
        |  CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS k_max,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS k_sum
        |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val k = expr("variant_get(parse_json(props), '$.k', 'bigint')")
      Tables(spark, dir).events
        .select($"event_type", k.as("k"))
        .groupBy($"event_type")
        .agg(count($"k").as("n_with_k"), min($"k").as("k_min"),
          max($"k").as("k_max"), sum($"k").as("k_sum"))
    },

    // Key-skew diagnostics and bucketed (shuffle-free) joins under the
    // oracle gate.
    // ---- key-skew diagnostics ------------------------------------------
    // The pre-flight check before choosing a join strategy at scale:
    // per-key cardinality stats + the max/mean skew ratio for the
    // events partition key. Two hash aggregates (key counts, then stats
    // over counts) — all integers until the final rounded ratio.
    Qry(
      "q131_skew_report",
      """WITH kc AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_keys,
        |  CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(MIN(c) AS BIGINT) AS min_c, CAST(MAX(c) AS BIGINT) AS max_c,
        |  round(CAST(MAX(c) AS DOUBLE) * COUNT(*) / CAST(SUM(c) AS BIGINT),
        |    6) AS skew_ratio
        |FROM kc""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .groupBy($"user_id").agg(count(one).as("c"))
        .agg(count(one).as("n_keys"), sum($"c").as("n_rows"),
          min($"c").as("min_c"), max($"c").as("max_c"))
        .select($"n_keys", $"n_rows", $"min_c", $"max_c",
          round($"max_c".cast("double") * $"n_keys" / $"n_rows", 6)
            .as("skew_ratio"))
    },

    // ---- bucketed co-located join (shuffle-free) -----------------------
    // Both sides written bucketed+sorted on the join key, so the join
    // plans with ZERO exchanges — the layout that turns every repeated
    // key-join at 100 TB into a map-side merge. The oracle states the
    // same join over the original parquet (bucketing is a physical
    // property, not a semantic one).
    Qry(
      "q132_bucketed_join",
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val (ordersT, customerT) = bucketTables(spark, dir)
      // merge hint: at fixture SF Catalyst would broadcast the customer
      // side (also shuffle-free, but it hides the bucket win); at 100 TB
      // neither side broadcasts and sort-merge over co-bucketed scans is
      // the real plan — the hint pins THAT plan so its shape (zero
      // exchanges, zero sorts on the join) is what gets audited
      spark.table(ordersT)
        .join(spark.table(customerT).hint("merge"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(one).as("n_orders"), dsum($"o_totalprice").as("revenue"))
    },

    // Data-layout management — Z-order clustering (`operators/ZOrder`), the
    // write-time step that makes multi-column scan pruning possible at 100
    // TB. The query materializes the layout DIAGNOSTIC an engine would run
    // after an OPTIMIZE: bucket the table by contiguous z-range (the
    // would-be file boundaries) and report each bucket's bounding rectangle
    // in both source dimensions. Tight rectangles on BOTH columns are the
    // property that lets per-file min/max statistics prune on either
    // predicate; `ZOrderSpec` turns the same property into a measured
    // file-skipping comparison against a single-column layout.
    // ---- z-order layout diagnostic ------------------------------------
    // Dims: o_custkey and order date (days since 1992-01-01), each
    // min/max-normalized to 16 bits from one single-row aggregate
    // (broadcast back — never a shuffle), Morton-interleaved by the
    // unrolled expression tree, bucketed by the top 6 z-bits (64
    // would-be files). Per bucket: row count + both per-dim ranges.
    // The z arithmetic is bit-identical in DuckDB, so the oracle pins
    // every bucket boundary and every rectangle bound exactly.
    Qry(
      "q152_zorder_layout",
      s"""WITH d AS (SELECT o_custkey AS ck,
         |    datediff('day', TIMESTAMP '1992-01-01', o_orderdate) AS dd
         |  FROM orders),
         |s AS (SELECT min(ck) AS ck_mn, max(ck) AS ck_mx,
         |    min(dd) AS dd_mn, max(dd) AS dd_mx FROM d),
         |z AS (SELECT ck, dd,
         |    ${ZOrder.interleaveSql(
                  ZOrder.scaleSql("ck", "ck_mn", "ck_mx"),
                  ZOrder.scaleSql("dd", "dd_mn", "dd_mx"))} AS zv
         |  FROM d CROSS JOIN s)
         |SELECT zv >> 26 AS bucket, COUNT(*) AS n_rows,
         |  min(ck) AS ck_lo, max(ck) AS ck_hi,
         |  min(dd) AS dd_lo, max(dd) AS dd_hi
         |FROM z GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val d = Tables(spark, dir).orders.select($"o_custkey".as("ck"),
        datediff($"o_orderdate", lit("1992-01-01")).cast("long").as("dd"))
      val s = d.agg(min($"ck").as("ck_mn"), max($"ck").as("ck_mx"),
        min($"dd").as("dd_mn"), max($"dd").as("dd_mx"))
      d.crossJoin(broadcast(s))
        .withColumn("zv", ZOrder.interleave16(
          ZOrder.scale16($"ck", $"ck_mn", $"ck_mx"),
          ZOrder.scale16($"dd", $"dd_mn", $"dd_mx")))
        .groupBy(shiftright($"zv", 26).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min($"ck").as("ck_lo"), max($"ck").as("ck_hi"),
          min($"dd").as("dd_lo"), max($"dd").as("dd_hi"))
    },

    // SCD2 validity intervals (q167): the slowly-changing-dimension
    // type-2 build — collapse each user's event-type history to change
    // points with [from, to) validity, the standard warehouse shape for
    // "what was true when". Complements q80 (merge/upsert keeps latest)
    // and q93 (snapshot at T) with the full versioned history.
    // ---- SCD2: event-type validity intervals per user -----------------
    // Change points via lag(); validity end via lead() over the SAME
    // (user_id)-partitioned order, so both windows share one exchange +
    // sort (confirmed in the plan dump). valid_to is NULL for the open
    // current version — the SCD2 convention. Scale shape: one user_id
    // shuffle, two window passes over sorted runs, no joins.
    Qry(
      "q167_scd2_intervals",
      s"""WITH e AS ($eventsMsSql),
         |chg AS (
         |  SELECT user_id, ms, event_id, event_type,
         |    lag(event_type) OVER w AS prev
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |cp AS (SELECT user_id, ms, event_id, event_type FROM chg
         |       WHERE prev IS NULL OR prev <> event_type)
         |SELECT user_id, row_number() OVER w AS version, event_type,
         |  ms AS valid_from_ms, lead(ms) OVER w AS valid_to_ms
         |FROM cp WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          $"event_type")
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNull || $"prev" =!= $"event_type")
        .select($"user_id", row_number().over(w).as("version"),
          $"event_type", $"ms".as("valid_from_ms"),
          lead($"ms", 1).over(w).as("valid_to_ms"))
    },

    // Incremental materialized-view merge (q171): maintain an aggregate
    // MV from partial states (count / decimal sum / min / max are all
    // mergeable) — the base partition's partials and the delta batch's
    // partials re-aggregate to EXACTLY the full recompute, which is
    // what the oracle asserts (it computes the direct aggregate; the
    // hash match IS the incremental-equals-full proof). The batch
    // analog of the `MaterializedViewSpec` streaming upsert.
    // ---- incremental materialized-view merge --------------------------
    // MV state per event_type: (n, decimal val_sum, val_min, val_max) —
    // every component merges associatively. The query maintains the MV
    // incrementally (base partials ∪ delta partials → re-aggregate);
    // the oracle computes the full aggregate directly, so the hash
    // match proves incremental == full. The decimal sum stays DECIMAL
    // through the merge (doubles would re-introduce order dependence at
    // exactly the step the MV exists to make exact). Scale shape: the
    // base partials are |types| rows read from the stored MV at
    // production (here: derived); only the delta is scanned per
    // refresh; the merge aggregate is |types|-row.
    Qry(
      "q171_incremental_mv",
      s"""SELECT event_type, COUNT(*) AS n,
         |  ${dsumSql("value")} AS val_sum,
         |  MIN(value) AS val_min, MAX(value) AS val_max
         |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).events
        .select($"event_type", $"event_id", $"value")
      // partial-state schema: n BIGINT, s DECIMAL(28,6), mn/mx DOUBLE
      def partials(part: org.apache.spark.sql.DataFrame) =
        part.groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(graft.Exact.Money)).as("s"),
            min($"value").as("mn"), max($"value").as("mx"))
      val base = partials(e.filter($"event_id" % 2 === 0))
      val delta = partials(e.filter($"event_id" % 2 === 1))
      base.unionByName(delta)
        .groupBy($"event_type")
        .agg(sum($"n").as("n"), sum($"s").as("s"),
          min($"mn").as("val_min"), max($"mx").as("val_max"))
        .select($"event_type", $"n", $"s".cast("double").as("val_sum"),
          $"val_min", $"val_max")
    },

    // Schema-evolution read (q173): two parquet generations (v2 adds a
    // column), one mergeSchema read, aggregates over the union with
    // nulls where v1 rows lack the new column — the lakehouse
    // append-only schema-evolution contract, oracle-checked by
    // re-deriving both generations from the fixture.
    // ---- schema-evolution (mergeSchema) read --------------------------
    // Generation v1 (even orderkeys) lacks l_extendedprice; v2 (odd)
    // carries it. One mergeSchema read unions the generations with
    // nulls for v1's missing column — the lakehouse append-only
    // evolution contract. The aggregate proves NULL semantics: n counts
    // all rows, n_priced/price_sum only v2's. Oracle re-derives both
    // generations from the fixture (price masked NULL on even keys).
    // Scale shape: schema merge is a footer-only planning step; the
    // scan stays columnar and the aggregate partial+final.
    Qry(
      "q173_schema_evolution",
      s"""WITH u AS (SELECT l_returnflag, l_quantity,
         |    CASE WHEN l_orderkey % 2 = 1 THEN l_extendedprice END
         |      AS l_extendedprice
         |  FROM lineitem)
         |SELECT l_returnflag, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS qty_sum,
         |  COUNT(l_extendedprice) AS n_priced,
         |  ${dsumSql("l_extendedprice")} AS price_sum
         |FROM u GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val out = RoundTrip.dir(s"$dir#evol")
      val li = Tables(spark, dir).lineitem
      li.filter($"l_orderkey" % 2 === 0)
        .select($"l_returnflag", $"l_quantity")
        .write.mode("overwrite").parquet(s"$out/g=1")
      li.filter($"l_orderkey" % 2 === 1)
        .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
        .write.mode("overwrite").parquet(s"$out/g=2")
      spark.read.option("mergeSchema", "true").parquet(out)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty_sum"),
          count($"l_extendedprice").as("n_priced"),
          dsum($"l_extendedprice").as("price_sum"))
    },

    // Compaction PLANNING — the small-files problem is the canonical 100-TB
    // operational issue, and the fix starts with a plan computed from file
    // METADATA only (never the data): order files deterministically within
    // each stratum, running-sum their sizes, and cut a new output group
    // every `Target` bytes. One window pass per stratum, one rollup — the
    // query a table service (OPTIMIZE / rewrite_data_files) runs to decide
    // what to rewrite, here over the documents fixture with each document
    // standing in for a data file of `n_chars` bytes.
    Qry(
      "q204_compaction_plan",
      s"""WITH f AS (SELECT source, doc_id, n_chars,
         |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS csum
         |  FROM documents),
         |g AS (SELECT source, doc_id, n_chars,
         |    CAST((csum - n_chars) // $Target AS BIGINT) AS grp
         |  FROM f)
         |SELECT source, grp, COUNT(*) AS n_files,
         |  CAST(SUM(n_chars) AS BIGINT) AS grp_bytes,
         |  MIN(doc_id) AS first_file, MAX(doc_id) AS last_file
         |FROM g GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // group = where the file STARTS in the running layout: files are
      // never split, a group may overshoot Target by at most one file —
      // the same contract real rewrite planners use. The window is the
      // only shuffle (hash by source); the rollup reuses its
      // partitioning.
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(spark, dir).documents
        .select($"source", $"doc_id", $"n_chars")
        .withColumn("grp",
          ((sum($"n_chars").over(w) - $"n_chars") / Target)
            .cast("long"))
        .groupBy($"source", $"grp")
        .agg(count(lit(1)).as("n_files"),
          sum($"n_chars").as("grp_bytes"),
          min($"doc_id").as("first_file"),
          max($"doc_id").as("last_file"))
    },

    // Columnar ENCODING advisor. For each candidate lineitem
    // column, per-chunk (4096-key ranges of l_orderkey — the row-group
    // grain real writers encode at) run/sortedness/cardinality stats
    // from ONE window pass shared by every column (one sort, five lag
    // projections), then the rule a writer applies: long runs → RLE,
    // narrow dictionaries → DICT, near-sorted → DELTA, else PLAIN.
    // This is q204's compaction planner aimed one level lower — the
    // page encoding — and the same design discipline: the PLAN is
    // integer stats + CASE rules, nothing re-encoded. Chunk-local
    // windows keep the stats embarrassingly partitionable (a global
    // window would serialize the table through one sort at 100 TB —
    // and would also be the WRONG statistic, since encodings reset per
    // row group anyway).
    Qry(
      "q224_encoding_advisor", {
        val lags = Cols.zipWithIndex.map { case (c, i) =>
          s"lag($c) OVER w AS p$i" }.mkString(",\n    ")
        val branches = Cols.zipWithIndex.map { case (c, i) =>
          s"""SELECT '$c' AS column_name, COUNT(*) AS n,
             |  COUNT(DISTINCT $c) AS nd,
             |  SUM(CASE WHEN p$i IS NULL OR $c <> p$i
             |    THEN 1 ELSE 0 END) AS runs,
             |  SUM(CASE WHEN p$i IS NOT NULL THEN 1 ELSE 0 END) AS pairs,
             |  SUM(CASE WHEN p$i IS NOT NULL AND $c >= p$i
             |    THEN 1 ELSE 0 END) AS nondesc
             |FROM o""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH o AS (SELECT ${Cols.mkString(", ")},
           |    $lags
           |  FROM lineitem
           |  WINDOW w AS (PARTITION BY l_orderkey // $Chunk
           |    ORDER BY l_orderkey, l_linenumber, l_returnflag,
           |      l_linestatus, l_quantity, l_shipdate)),
           |s AS ($branches)
           |SELECT column_name, CAST(n AS BIGINT) AS n,
           |  CAST(nd AS BIGINT) AS n_distinct,
           |  CAST(runs AS BIGINT) AS runs,
           |  CAST(n * 1000 // runs AS BIGINT) AS avg_run_x1000,
           |  CAST(nondesc * 1000000 // pairs AS BIGINT) AS sorted_ppm,
           |  CAST(${bitsSql("nd")} AS BIGINT) AS dict_bits,
           |  ${ruleSql(s"n * 1000 // runs", bitsSql("nd"),
               s"nondesc * 1000000 // pairs")} AS encoding
           |FROM s""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // (l_orderkey, l_linenumber) is NOT unique in the fixture —
      // every advised column joins the sort key so remaining ties are
      // value-identical and the lag stats are order-invariant
      val w = Window.partitionBy(expr(s"l_orderkey div $Chunk"))
        .orderBy($"l_orderkey", $"l_linenumber", $"l_returnflag",
          $"l_linestatus", $"l_quantity", $"l_shipdate")
      // ONE window pass computes every column's lag (one sort, shared);
      // the per-column aggregate branches read the same projection
      val o = graft.operators.Staging.stage(
        Tables(spark, dir).lineitem
          .select(Cols.map(col) :+ $"l_linenumber": _*)
          .select((Cols.map(col) :+ $"l_linenumber") ++
            Cols.zipWithIndex.map { case (c, i) =>
              lag(col(c), 1).over(w).as(s"p$i") }: _*),
        eager = false)
      val branches = Cols.zipWithIndex.map { case (c, i) =>
        o.agg(
          count(lit(1)).as("n"),
          countDistinct(col(c)).as("nd"),
          sum(when(col(s"p$i").isNull || col(c) =!= col(s"p$i"), 1)
            .otherwise(0)).as("runs"),
          sum(when(col(s"p$i").isNotNull, 1).otherwise(0)).as("pairs"),
          sum(when(col(s"p$i").isNotNull && col(c) >= col(s"p$i"), 1)
            .otherwise(0)).as("nondesc"))
          .select(lit(c).as("column_name"), $"n", $"nd", $"runs",
            $"pairs", $"nondesc")
      }
      branches.reduce(_ unionByName _)
        .select($"column_name",
          $"n".cast(LongType).as("n"),
          $"nd".cast(LongType).as("n_distinct"),
          $"runs".cast(LongType).as("runs"),
          expr("n * 1000 div runs").cast(LongType).as("avg_run_x1000"),
          expr("nondesc * 1000000 div pairs").cast(LongType)
            .as("sorted_ppm"),
          expr(bitsSql("nd")).cast(LongType).as("dict_bits"),
          expr(ruleSql("n * 1000 div runs", bitsSql("nd"),
            "nondesc * 1000000 div pairs")).as("encoding"))
    },

    // Join-key SKEW advisor — the third self-advising query
    // (q204 plans compaction, q224 picks encodings, this one sizes
    // salt). A deterministic hot key is synthesized (every 5th event
    // lands on key 0, ~20% of the table — the classic null-key /
    // default-value hotspot), then the advisor computes what a salted
    // repartition needs to know BEFORE shuffling 100 TB: per-key
    // frequencies, the p99 frequency as the "healthy partition" yard-
    // stick, each top key's corpus share, and the salt factor
    // ceil(freq / p99) (capped 32) that splits the hot key into
    // average-sized slices. Everything is integer arithmetic over ONE
    // frequency aggregate + one tiny top-k window — the stats pass is
    // strictly cheaper than the join it protects, which is the whole
    // point of running it first.
    Qry(
      "q229_skew_advisor",
      s"""WITH e AS (SELECT CASE WHEN event_id % 5 = 0 THEN 0
         |    ELSE user_id END AS key
         |  FROM events),
         |f AS (SELECT key, COUNT(*) AS freq FROM e GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS n_keys,
         |    CAST(SUM(freq) AS BIGINT) AS n FROM f),
         |p AS (SELECT freq AS p99_freq, row_number() OVER (
         |      ORDER BY freq, key) AS rn
         |  FROM f QUALIFY rn = CAST(ceil(0.99 * (SELECT n_keys FROM tot))
         |    AS BIGINT)),
         |top AS (SELECT key, freq, row_number() OVER (
         |      ORDER BY freq DESC, key) AS rank
         |  FROM f QUALIFY rank <= $TopK)
         |SELECT t.rank, CAST(t.key AS BIGINT) AS key,
         |  CAST(t.freq AS BIGINT) AS freq,
         |  CAST(t.freq * 1000000 // tot.n AS BIGINT) AS share_ppm,
         |  CAST(p.p99_freq AS BIGINT) AS p99_freq,
         |  CAST(least((t.freq + p.p99_freq - 1) // p.p99_freq, $SaltCap)
         |    AS BIGINT) AS salt
         |FROM top t CROSS JOIN p CROSS JOIN tot""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val f = Tables(spark, dir).events
        .select(when($"event_id" % 5 === 0, 0L)
          .otherwise($"user_id").as("key"))
        .groupBy($"key").agg(count(lit(1)).as("freq"))
      val fs = graft.operators.Staging.stage(f, eager = false)
      val tot = fs.agg(count(lit(1)).as("n_keys"),
        sum($"freq").cast(LongType).as("n"))
      // p99 by exact rank over the KEY table (tiny after the aggregate)
      val ranked = fs.withColumn("rn",
        row_number().over(Window.orderBy($"freq", $"key")))
      val p99 = ranked.crossJoin(broadcast(tot))
        .filter($"rn" === ceil(lit(0.99) * $"n_keys").cast(LongType))
        .select($"freq".as("p99_freq"))
      val top = fs.withColumn("rank",
        row_number().over(Window.orderBy($"freq".desc, $"key")))
        .filter($"rank" <= TopK)
      top.crossJoin(broadcast(p99)).crossJoin(broadcast(tot))
        .select($"rank".cast(LongType).as("rank"),
          $"key".cast(LongType).as("key"),
          $"freq".cast(LongType).as("freq"),
          expr("freq * 1000000 div n").cast(LongType).as("share_ppm"),
          $"p99_freq".cast(LongType).as("p99_freq"),
          least(expr("(freq + p99_freq - 1) div p99_freq"), lit(SaltCap))
            .cast(LongType).as("salt"))
    },

    // Shard-count change impact — mod-hash vs rendezvous (HRW)
    // assignment when a corpus regrows from 8 to 12 shards. Both
    // assignments are pure integer hashing (HRW argmax packs
    // (score mod 2^55)·16 + shard into one BIGINT so max() IS the
    // argmax, tie-broken deterministically); the output carries each
    // scheme's moved-document ppm — the ~11/12 vs ~1/3 story that
    // decides how a 100 TB corpus re-shards without re-reading
    // everything.
    // ---- mod vs rendezvous re-sharding impact ---------------------------
    Qry(
      "q233_shard_rebalance", {
        val oldMax = (0 until OldShards).map(hrwDuck("h", _))
          .mkString("greatest(", ", ", ")")
        val newMax = (0 until NewShards).map(hrwDuck("h", _))
          .mkString("greatest(", ", ", ")")
        s"""WITH d AS (SELECT doc_id, source,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
           |  FROM documents),
           |a AS (SELECT doc_id, source,
           |    h % $OldShards AS mod_old, h % $NewShards AS mod_new,
           |    $oldMax % 16 AS hrw_old, $newMax % 16 AS hrw_new
           |  FROM d)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END)
           |    AS BIGINT) AS mod_moved,
           |  CAST(SUM(CASE WHEN hrw_old <> hrw_new THEN 1 ELSE 0 END)
           |    AS BIGINT) AS hrw_moved,
           |  CAST(SUM(CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END)
           |    * 1000000 // COUNT(*) AS BIGINT) AS mod_moved_ppm,
           |  CAST(SUM(CASE WHEN hrw_old <> hrw_new THEN 1 ELSE 0 END)
           |    * 1000000 // COUNT(*) AS BIGINT) AS hrw_moved_ppm
           |FROM a GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val oldMax = (0 until OldShards).map(i => expr(hrwSpark("h", i)))
        .reduce((a, b) => greatest(a, b))
      val newMax = (0 until NewShards).map(i => expr(hrwSpark("h", i)))
        .reduce((a, b) => greatest(a, b))
      Tables(spark, dir).documents
        .select($"doc_id", $"source", TextOps.md5Long($"text").as("h"))
        .select($"doc_id", $"source",
          ($"h" % OldShards).as("mod_old"), ($"h" % NewShards).as("mod_new"),
          (oldMax % 16).as("hrw_old"), (newMax % 16).as("hrw_new"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"mod_old" =!= $"mod_new", 1).otherwise(0))
            .cast(LongType).as("mod_moved"),
          sum(when($"hrw_old" =!= $"hrw_new", 1).otherwise(0))
            .cast(LongType).as("hrw_moved"),
          (sum(when($"mod_old" =!= $"mod_new", 1).otherwise(0))
            .cast(LongType) * 1000000L / count(lit(1))).cast(LongType)
            .as("mod_moved_ppm"),
          (sum(when($"hrw_old" =!= $"hrw_new", 1).otherwise(0))
            .cast(LongType) * 1000000L / count(lit(1))).cast(LongType)
            .as("hrw_moved_ppm"))
    },

    // Snapshot diff — the release-to-release question every
    // versioned corpus answers before publishing: what was added,
    // removed, modified, unchanged, and what is the byte delta?
    // Two hash-derived snapshots of the documents table (v1 drops one
    // seventh, v2 drops another and revises a third) are compared the
    // way a real manifest diff runs: FULL OUTER join on the stable id,
    // content equality by hash — never by trusting a mtime — and a
    // per-source × kind rollup with signed byte deltas. The oracle
    // predicts every class from the synthesis parameters, so a join
    // that drops null-side rows or a comparison that misses a revision
    // hash-fails.
    Qry(
      "q237_snapshot_diff",
      s"""WITH d AS (SELECT doc_id, source, strlen(text) AS len,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 7
         |      AS c
         |  FROM documents),
         |k AS (SELECT doc_id, source, len,
         |    CASE c WHEN 2 THEN 'added' WHEN 5 THEN 'removed'
         |      WHEN 0 THEN 'modified' ELSE 'unchanged' END AS kind,
         |    CASE c WHEN 2 THEN len WHEN 5 THEN -len
         |      WHEN 0 THEN ${Rev.length} ELSE 0 END AS delta
         |  FROM d)
         |SELECT source, kind, COUNT(*) AS n,
         |  CAST(SUM(delta) AS BIGINT) AS bytes_delta
         |FROM k GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val d = Tables(spark, dir).documents
        .select($"doc_id", $"source", $"text",
          (TextOps.md5Long($"text") % 7).as("c"))
      val v1 = d.filter($"c" =!= 2)
        .select($"doc_id", $"source", $"text")
      val v2 = d.filter($"c" =!= 5)
        .select($"doc_id", $"source",
          when($"c" === 0, concat($"text", lit(Rev))).otherwise($"text")
            .as("text"))
      // the real diff: full-outer on the stable id, content compared
      // by hash (never by trusting a timestamp), byte deltas signed
      val j = v1.select($"doc_id", $"source".as("src1"),
          md5($"text").as("h1"), length($"text").as("l1"))
        .join(v2.select($"doc_id", $"source".as("src2"),
          md5($"text").as("h2"), length($"text").as("l2")),
          Seq("doc_id"), "full_outer")
      j.select(coalesce($"src1", $"src2").as("source"),
          when($"h1".isNull, "added")
            .when($"h2".isNull, "removed")
            .when($"h1" =!= $"h2", "modified")
            .otherwise("unchanged").as("kind"),
          (coalesce($"l2", lit(0)) - coalesce($"l1", lit(0)))
            .cast(LongType).as("delta"))
        .groupBy($"source", $"kind")
        .agg(count(lit(1)).as("n"),
          sum($"delta").cast(LongType).as("bytes_delta"))
    },

    // SCD2 point-in-time lookup — the dimension-probe every
    // warehouse runs against a versioned dimension: for each fact row
    // (errors), the dimension version (the user's last NON-error
    // activity state, built with q167's change-point machinery) valid
    // at the fact's event time. The efficient form IS a backward as-of
    // on valid_from (one union + single-shuffle running-last pass —
    // never an interval theta join), with the interval's upper bound
    // kept as an emitted sanity flag rather than a join residual.
    // ---- SCD2 point-in-time dimension lookup ------------------------------
    Qry(
      "q249_scd2_pit",
      s"""WITH e AS ($eventsMsSql),
         |dim AS (SELECT * FROM e WHERE event_type <> 'error'),
         |chg AS (
         |  SELECT user_id, ms, event_id, event_type,
         |    lag(event_type) OVER w AS prev
         |  FROM dim
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |cp AS (SELECT user_id, ms, event_id, event_type FROM chg
         |       WHERE prev IS NULL OR prev <> event_type),
         |v AS (SELECT user_id, row_number() OVER w AS version, event_type,
         |    ms AS vf, lead(ms) OVER w AS vt
         |  FROM cp WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |err AS (SELECT event_id, user_id, ms FROM e
         |        WHERE event_type = 'error')
         |SELECT event_id, user_id, ms,
         |  CAST(version AS BIGINT) AS version, state,
         |  CASE WHEN version IS NULL THEN NULL
         |    WHEN vt IS NULL OR ms < vt THEN 1 ELSE 0 END AS pit_ok
         |FROM (
         |  SELECT err.*, v.version, v.event_type AS state, v.vt,
         |    row_number() OVER (PARTITION BY err.event_id
         |                       ORDER BY v.vf DESC, v.version DESC) AS rn
         |  FROM err LEFT JOIN v
         |    ON err.user_id = v.user_id AND v.vf <= err.ms)
         |WHERE rn = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          $"event_type")
      // versioned dimension: q167's change-point machinery over the
      // user's non-error activity (both windows share one exchange)
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      val versions = ev.filter($"event_type" =!= "error")
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNull || $"prev" =!= $"event_type")
        .select($"user_id", row_number().over(w).cast(LongType)
          .as("version"),
          $"event_type", $"ms".as("vf"),
          lead($"ms", 1).over(w).as("vt"))
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ms")
      AsOfJoin.backward(
          errors, versions,
          keys = Seq("user_id" -> "user_id"),
          leftTime = "ms", rightTime = "vf",
          carry = Seq("version" -> "version", "event_type" -> "state",
            "vt" -> "vt"),
          rightTieBreak = Seq("version"))
        .select($"event_id", $"user_id", $"ms", $"version", $"state",
          when($"version".isNull, lit(null).cast("int"))
            .when($"vt".isNull || $"ms" < $"vt", 1).otherwise(0)
            .as("pit_ok"))
    },

    // 2-D Pareto frontier per group (nation): customers not
    // dominated in (acctbal, open-order count). Skyline membership is
    // decided by two window statistics — max count over STRICTLY
    // higher-acctbal rows (dense_rank + RANGE frame, so acctbal ties
    // stay out of "strictly higher") and max count within the equal-
    // acctbal group — no pair join, no NOT EXISTS at scale: one sort
    // per nation decides every row. Identical-(acctbal, count)
    // duplicates survive together (neither dominates, the textbook
    // skyline contract). Oracle spells the same thing as the
    // dominance anti-join to prove the window form EQUALS the
    // definitional form.
    // ---- per-group 2-D Pareto frontier (skyline) --------------------------
    Qry(
      "q265_pareto_skyline",
      s"""WITH cnt AS (SELECT c_custkey, c_nationkey, c_acctbal,
         |    CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
         |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         |  GROUP BY 1, 2, 3)
         |SELECT c_nationkey, c_custkey, c_acctbal, n_orders
         |FROM cnt r
         |WHERE NOT EXISTS (SELECT 1 FROM cnt s
         |  WHERE s.c_nationkey = r.c_nationkey
         |    AND s.c_acctbal >= r.c_acctbal AND s.n_orders >= r.n_orders
         |    AND (s.c_acctbal > r.c_acctbal OR s.n_orders > r.n_orders))"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tt = Tables(spark, dir)
      val cnt = tt.customer
        .join(tt.orders, $"o_custkey" === $"c_custkey", "left")
        .groupBy($"c_custkey", $"c_nationkey", $"c_acctbal")
        .agg(count($"o_orderkey").as("n_orders"))
      // strictly-higher-acctbal rows via dense_rank + RANGE frame: the
      // frame sees every row whose rank is <= grp-1, i.e. acctbal
      // strictly greater; equal-acctbal rivals are m2
      val wr = Window.partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc)
      val wg = Window.partitionBy($"c_nationkey").orderBy($"grp")
        .rangeBetween(Window.unboundedPreceding, -1)
      val we = Window.partitionBy($"c_nationkey", $"c_acctbal")
      cnt.withColumn("grp", dense_rank().over(wr))
        .withColumn("m1", max($"n_orders").over(wg))
        .withColumn("m2", max($"n_orders").over(we))
        .filter(($"m1".isNull || $"n_orders" > $"m1") &&
          $"n_orders" === $"m2")
        .select($"c_nationkey", $"c_custkey", $"c_acctbal", $"n_orders")
    },

    // Market-basket co-purchase lift — every within-order part
    // pair (the bounded self-join: pairs per order are quadratic in
    // ORDER SIZE, ~7 items, never corpus-quadratic), pair support vs
    // the independence baseline: lift = P(ab) / (P(a)·P(b)), in ppm,
    // floored in a DECLARED order chosen so every intermediate stays
    // under 2^63 at any scale (1e6·n_ab DIV n_a <= 1e6 because
    // n_ab <= n_a, then x n_orders, then DIV n_b — the q253
    // discipline). Top-20 by lift under a minimum support, global
    // rank via rank-limit pushdown.
    // ---- market-basket co-purchase lift -----------------------------------
    Qry(
      "q269_copurchase_lift",
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok,
         |    l_partkey AS pk FROM lineitem),
         |no AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders
         |       FROM items),
         |pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM items
         |       GROUP BY 1),
         |pr AS (SELECT a.pk AS pa, b.pk AS pb,
         |    CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
         |lf AS (SELECT pa, pb, n_ab, ca.n AS n_a, cb.n AS n_b,
         |    ((1000000 * n_ab // ca.n) * n_orders) // cb.n AS lift_ppm
         |  FROM pr JOIN pc ca ON pr.pa = ca.pk
         |    JOIN pc cb ON pr.pb = cb.pk, no)
         |SELECT rn, pa, pb, n_ab, n_a, n_b, lift_ppm
         |FROM (SELECT *, row_number() OVER (ORDER BY lift_ppm DESC,
         |    pa, pb) AS rn FROM lf)
         |WHERE rn <= $LiftTopK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // staged: the distinct (order, part) leaf feeds the pair join
      // twice plus the per-part and order counts
      val items = Staging.stage(
        Tables(spark, dir).lineitem
          .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
          .distinct(),
        eager = false)
      val no = items.agg(countDistinct($"ok").as("n_orders"))
      val pc = items.groupBy($"pk").agg(count(one).as("n"))
      val pr = items.as("a")
        .join(items.as("b"),
          $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
        .groupBy($"a.pk".as("pa"), $"b.pk".as("pb"))
        .agg(count(one).as("n_ab"))
        .filter($"n_ab" >= MinSupport)
      val lf = pr
        .join(pc.select($"pk".as("ka"), $"n".as("n_a")), $"pa" === $"ka")
        .join(pc.select($"pk".as("kb"), $"n".as("n_b")), $"pb" === $"kb")
        .crossJoin(broadcast(no))
        // declared flooring order: 1e6*n_ab DIV n_a <= 1e6 (n_ab<=n_a),
        // x n_orders, DIV n_b - every intermediate < 2^63 at any scale
        .select($"pa", $"pb", $"n_ab", $"n_a", $"n_b",
          expr("((1000000 * n_ab DIV n_a) * n_orders) DIV n_b")
            .as("lift_ppm"))
      lf.withColumn("rn", row_number().over(
          Window.orderBy($"lift_ppm".desc, $"pa", $"pb")))
        .filter($"rn" <= LiftTopK)
        .select($"rn", $"pa", $"pb", $"n_ab", $"n_a", $"n_b",
          $"lift_ppm")
    },

    // Anti-entropy snapshot diff by hierarchical partition hashes — the
    // "which of my 100 TB changed?" primitive behind incremental sync and
    // replica repair: row hashes fold ORDER-INDEPENDENTLY (bit_xor) into
    // 256 bucket digests; only buckets whose (digest, count) disagree are
    // opened for the row-level diff, so the reconciliation reads 2x256
    // digests plus the changed buckets' rows instead of comparing two
    // corpora row-by-row (q237's snapshot diff is the full compare; this is
    // the sublinear-read protocol around it). Snapshot B derives from A
    // in-engine by hash-chosen mutations (~1% edits, ~1% deletes, 3 inserts
    // — the q256 damage-class pattern), so the oracle predicts both sides
    // from the synthesis parameters. Scale shape: two linear hash passes,
    // two 256-row digest tables, and a row-level join FILTERED to
    // mismatched buckets via broadcast.
    // ---- Merkle-style snapshot reconciliation ------------------------------
    Qry(
      "q274_merkle_diff",
      s"""WITH a AS (SELECT doc_id, text,
         |    ${TextOps.oracleHashSql("text")} % $Mod AS cls
         |  FROM documents),
         |b AS (SELECT doc_id, text || ' edited' AS text FROM a
         |      WHERE cls = 0
         |  UNION ALL SELECT doc_id, text FROM a WHERE cls > 1
         |  UNION ALL SELECT 10000000 + i AS doc_id,
         |      'inserted row ' || CAST(i AS VARCHAR) AS text
         |    FROM range(3) t(i)),
         |ra AS (SELECT doc_id, doc_id % $Buckets AS bkt,
         |    ${TextOps.oracleHashSql("CAST(doc_id AS VARCHAR) || ':' || md5(text)")}
         |      AS h
         |  FROM a),
         |rb AS (SELECT doc_id, doc_id % $Buckets AS bkt,
         |    ${TextOps.oracleHashSql("CAST(doc_id AS VARCHAR) || ':' || md5(text)")}
         |      AS h
         |  FROM b),
         |da AS (SELECT bkt, bit_xor(h) AS xa,
         |    CAST(COUNT(*) AS BIGINT) AS n_a FROM ra GROUP BY 1),
         |db AS (SELECT bkt, bit_xor(h) AS xb,
         |    CAST(COUNT(*) AS BIGINT) AS n_b FROM rb GROUP BY 1),
         |mm AS (SELECT COALESCE(da.bkt, db.bkt) AS bkt,
         |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
         |  FROM da FULL JOIN db ON da.bkt = db.bkt
         |  WHERE COALESCE(xa, 0) <> COALESCE(xb, 0)
         |     OR COALESCE(n_a, 0) <> COALESCE(n_b, 0)),
         |diff AS (SELECT COALESCE(ra.bkt, rb.bkt) AS bkt,
         |    CAST(COUNT(*) FILTER (WHERE ra.h IS NOT NULL
         |      AND rb.h IS NOT NULL AND ra.h <> rb.h) AS BIGINT)
         |      AS n_changed,
         |    CAST(COUNT(*) FILTER (WHERE rb.h IS NULL) AS BIGINT)
         |      AS n_deleted,
         |    CAST(COUNT(*) FILTER (WHERE ra.h IS NULL) AS BIGINT)
         |      AS n_inserted
         |  FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id
         |  WHERE COALESCE(ra.bkt, rb.bkt) IN (SELECT bkt FROM mm)
         |  GROUP BY 1)
         |SELECT mm.bkt, n_a, n_b, n_changed, n_deleted, n_inserted
         |FROM mm JOIN diff ON mm.bkt = diff.bkt""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      // snapshot A staged: feeds its own hash pass AND synthesizes B
      val a = Staging.stage(Tables(spark, dir).documents
        .select($"doc_id", $"text",
          (TextOps.md5Long($"text") % TextOps.P % Mod).as("cls")),
        eager = false)
      val b = a.filter($"cls" === 0)
        .select($"doc_id", concat($"text", lit(" edited")).as("text"))
        .unionByName(a.filter($"cls" > 1).select($"doc_id", $"text"))
        .unionByName(spark.range(3).select(
          ($"id" + 10000000L).as("doc_id"),
          concat(lit("inserted row "), $"id").as("text")))
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(
        $"doc_id", ($"doc_id" % Buckets).as("bkt"),
        TextOps.hashMod(concat($"doc_id".cast("string"), lit(":"),
          md5($"text"))).as("h"))
      val ra = rows(a.select($"doc_id", $"text"))
      val rb = rows(b)
      val da = ra.groupBy($"bkt")
        .agg(expr("bit_xor(h)").as("xa"), count(one).as("n_a"))
      val db = rb.groupBy($"bkt")
        .agg(expr("bit_xor(h)").as("xb"), count(one).as("n_b"))
      val mm = da.join(db.withColumnRenamed("bkt", "bkt2"),
          $"bkt" === $"bkt2", "full")
        .select(coalesce($"bkt", $"bkt2").as("bkt"),
          coalesce($"xa", lit(0L)).as("xa"),
          coalesce($"xb", lit(0L)).as("xb"),
          coalesce($"n_a", lit(0L)).as("n_a"),
          coalesce($"n_b", lit(0L)).as("n_b"))
        .filter($"xa" =!= $"xb" || $"n_a" =!= $"n_b")
        .select($"bkt", $"n_a", $"n_b")
      // row-level diff ONLY inside mismatched buckets: the broadcast
      // semi-filter is the sublinear-read step of the protocol
      val mmb = broadcast(mm.select($"bkt".as("mbkt")))
      val raf = ra.join(mmb, $"bkt" === $"mbkt").drop("mbkt")
      val rbf = rb.join(mmb, $"bkt" === $"mbkt").drop("mbkt")
        .select($"doc_id".as("doc_id_b"), $"bkt".as("bkt_b"),
          $"h".as("hb"))
      val diff = raf.join(rbf, $"doc_id" === $"doc_id_b", "full")
        .select(coalesce($"bkt", $"bkt_b").as("dbkt"), $"h", $"hb")
        .groupBy($"dbkt")
        .agg(count(when($"h".isNotNull && $"hb".isNotNull &&
            $"h" =!= $"hb", 1)).as("n_changed"),
          count(when($"hb".isNull, 1)).as("n_deleted"),
          count(when($"h".isNull, 1)).as("n_inserted"))
      mm.join(diff, $"bkt" === $"dbkt")
        .select($"bkt", $"n_a", $"n_b", $"n_changed", $"n_deleted",
          $"n_inserted")
    },

    // Partition-layout pruning advisor — the "would laying this
    // table out by month make my scans cheaper?" question answered
    // from data: chunks of ~4096 rows get (min, max) date fences in
    // BOTH layouts (current = arrival order via dense o_orderkey DIV;
    // proposed = partition-by-month, row-numbered within month only —
    // no global sort, no unpartitioned window anywhere), and every
    // monthly range predicate counts the chunks it cannot prune.
    // saved_ppm per predicate is the number a table owner reads before
    // paying for the rewrite. Scale shape: two corpus-sized passes
    // (chunk assignment + fence aggregate); the fence tables are
    // chunk-counted, the predicate join is fences x 12.
    // ---- partition-layout pruning advisor ----------------------------------
    Qry(
      "q277_layout_advisor",
      s"""WITH o AS (SELECT o_orderkey AS ok,
         |    CAST(o_orderdate AS DATE) AS d,
         |    date_trunc('month', CAST(o_orderdate AS DATE)) AS mo
         |  FROM orders),
         |cur AS (SELECT ok // $LayoutChunk AS chunk, MIN(d) AS lo, MAX(d) AS hi
         |        FROM o GROUP BY 1),
         |mrn AS (SELECT mo, d, row_number() OVER (PARTITION BY mo
         |    ORDER BY d, ok) AS rn FROM o),
         |prt AS (SELECT mo, (rn - 1) // $LayoutChunk AS sub,
         |    MIN(d) AS lo, MAX(d) AS hi FROM mrn GROUP BY 1, 2),
         |months AS (SELECT DISTINCT mo FROM o),
         |hits AS (SELECT m.mo,
         |    (SELECT COUNT(*) FROM cur
         |      WHERE cur.hi >= m.mo
         |        AND cur.lo < m.mo + INTERVAL 1 MONTH) AS hit_cur,
         |    (SELECT COUNT(*) FROM prt
         |      WHERE prt.hi >= m.mo
         |        AND prt.lo < m.mo + INTERVAL 1 MONTH) AS hit_part,
         |    (SELECT COUNT(*) FROM cur) AS n_cur,
         |    (SELECT COUNT(*) FROM prt) AS n_part
         |  FROM months m)
         |SELECT CAST(mo AS DATE) AS month,
         |  CAST(n_cur AS BIGINT) AS n_chunks_cur,
         |  CAST(n_part AS BIGINT) AS n_chunks_part,
         |  CAST(hit_cur AS BIGINT) AS hit_cur,
         |  CAST(hit_part AS BIGINT) AS hit_part,
         |  CASE WHEN hit_cur = 0 THEN 0
         |    ELSE 1000000 * (hit_cur - hit_part) // hit_cur END
         |    AS saved_ppm
         |FROM hits""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val o = Tables(spark, dir).orders
        .select($"o_orderkey".as("ok"), $"o_orderdate".cast("date").as("d"),
          date_trunc("month", $"o_orderdate").cast("date").as("mo"))
      val cur = o.groupBy(expr(s"ok DIV $LayoutChunk").as("chunk"))
        .agg(min($"d").as("lo"), max($"d").as("hi"))
      // proposed layout: partition by month, chunk within month — a
      // per-month window (bounded), NEVER a global sort
      val wM = org.apache.spark.sql.expressions.Window
        .partitionBy($"mo").orderBy($"d", $"ok")
      val prt = o.withColumn("rn", row_number().over(wM))
        .groupBy($"mo".as("pmo"), expr(s"(rn - 1) DIV $LayoutChunk").as("sub"))
        .agg(min($"d").as("lo"), max($"d").as("hi"))
      val months = o.select($"mo").distinct()
      val nCur = cur.agg(count(one).as("n_chunks_cur"))
      val nPrt = prt.agg(count(one).as("n_chunks_part"))
      val hitCur = months.join(cur,
          $"hi" >= $"mo" && $"lo" < add_months($"mo", 1))
        .groupBy($"mo").agg(count(one).as("hit_cur"))
      val hitPrt = months.join(prt,
          $"hi" >= $"mo" && $"lo" < add_months($"mo", 1))
        .groupBy($"mo".as("mo2")).agg(count(one).as("hit_part"))
      months.join(hitCur, Seq("mo"), "left")
        .join(hitPrt, $"mo" === $"mo2", "left")
        .crossJoin(broadcast(nCur)).crossJoin(broadcast(nPrt))
        .select($"mo".as("month"), $"n_chunks_cur", $"n_chunks_part",
          coalesce($"hit_cur", lit(0L)).as("hit_cur"),
          coalesce($"hit_part", lit(0L)).as("hit_part"),
          when(coalesce($"hit_cur", lit(0L)) === 0, 0L)
            .otherwise(expr(
              "1000000 * (hit_cur - hit_part) DIV hit_cur"))
            .as("saved_ppm"))
    },

    // Join-order advisor — q268's CMS inner product applied to
    // the optimizer's actual question: for the 3-table join
    // customer ⋈ orders ⋈ lineitem, which pairwise join first? The
    // advisor estimates |customer ⋈ orders| (on custkey) and
    // |orders ⋈ lineitem| (on orderkey) from two sketch pairs built
    // in ONE pass per table, compares against the exact sizes, and
    // ranks the candidate orders by estimated intermediate volume —
    // the decision a cost-based optimizer makes from statistics,
    // here made from mergeable sketches a 1000-shard table can
    // maintain incrementally. Output: per candidate first-join, the
    // estimate, the exact, and the chosen rank.
    // ---- sketch-driven join-order advisor ----------------------------------
    Qry(
      "q284_join_order_advisor", {
        // ONE md5 per row, split into Depth bucket fields (vs q268's
        // salted md5 PER DEPTH): at table-scan scale the hash is the
        // dominant cost, so the sketch build pays 1 digest/row, not 4
        def sk(table: String, key: String, name: String) = {
          val h = TextOps.oracleHashSql(s"CAST($key AS VARCHAR)")
          val rows = (0 until Depth).map(i =>
            s"SELECT $i AS r, (h // ${1L << (8 * i)}) % $Width AS bkt" +
              s" FROM hh")
            .mkString("\nUNION ALL ")
          s"""$name AS (SELECT r, bkt, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (WITH hh AS (SELECT $h AS h FROM $table) $rows)
             |  GROUP BY 1, 2)""".stripMargin
        }
        s"""WITH ${sk("customer", "c_custkey", "skc")},
           |${sk("orders", "o_custkey", "sko1")},
           |${sk("orders", "o_orderkey", "sko2")},
           |${sk("lineitem", "l_orderkey", "skl")},
           |e1 AS (SELECT CAST(MIN(ip) AS BIGINT) AS est FROM (
           |  SELECT a.r, SUM(a.c * b.c) AS ip FROM skc a
           |  JOIN sko1 b ON a.r = b.r AND a.bkt = b.bkt GROUP BY 1)),
           |e2 AS (SELECT CAST(MIN(ip) AS BIGINT) AS est FROM (
           |  SELECT a.r, SUM(a.c * b.c) AS ip FROM sko2 a
           |  JOIN skl b ON a.r = b.r AND a.bkt = b.bkt GROUP BY 1)),
           |x1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact FROM customer
           |       JOIN orders ON c_custkey = o_custkey),
           |x2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact FROM orders
           |       JOIN lineitem ON o_orderkey = l_orderkey),
           |cand AS (
           |  SELECT 'customer_orders' AS first_join, e1.est, x1.exact
           |  FROM e1, x1
           |  UNION ALL
           |  SELECT 'orders_lineitem', e2.est, x2.exact FROM e2, x2)
           |SELECT first_join, est, exact,
           |  CAST(row_number() OVER (ORDER BY est, first_join)
           |    AS BIGINT) AS chosen_rank,
           |  CAST(est >= exact AS BOOLEAN) AS never_undercounts
           |FROM cand""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // single scan + single digest per row; Depth bucket cells via
      // byte-slices of the one 60-bit hash (see the oracle note)
      def sketch(df: org.apache.spark.sql.DataFrame,
          key: org.apache.spark.sql.Column) =
        df.select(TextOps.hashMod(key.cast("string")).as("h"))
          .select(explode(array((0 until Depth).map(i =>
            struct(lit(i).as("r"),
              expr(s"(h div ${1L << (8 * i)}) % $Width").as("bkt"))): _*))
            .as("c0"))
          .select($"c0.r".as("r"), $"c0.bkt".as("bkt"))
          .groupBy($"r", $"bkt").agg(count(one).as("c"))
      def ip(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.join(b.select($"r".as("r2"), $"bkt".as("bkt2"),
            $"c".as("c2")), $"r" === $"r2" && $"bkt" === $"bkt2")
          .groupBy($"r").agg(sum($"c" * $"c2").as("ipr"))
          .agg(min($"ipr").as("est"))
      val tt = Tables(spark, dir)
      val e1 = ip(sketch(tt.customer, $"c_custkey"),
        sketch(tt.orders, $"o_custkey"))
      val e2 = ip(sketch(tt.orders, $"o_orderkey"),
        sketch(tt.lineitem, $"l_orderkey"))
      val x1 = tt.customer.join(tt.orders, $"c_custkey" === $"o_custkey")
        .agg(count(one).as("exact"))
      val x2 = tt.orders.join(tt.lineitem, $"o_orderkey" === $"l_orderkey")
        .agg(count(one).as("exact"))
      val cand = e1.crossJoin(x1)
        .select(lit("customer_orders").as("first_join"), $"est", $"exact")
        .unionByName(e2.crossJoin(x2)
          .select(lit("orders_lineitem").as("first_join"), $"est",
            $"exact"))
      cand.select($"first_join", $"est", $"exact",
        row_number().over(Window.orderBy($"est", $"first_join"))
          .cast(LongType).as("chosen_rank"),
        ($"est" >= $"exact").as("never_undercounts"))
    },

    // The privacy-release tier — the audit a dataset clears before rows
    // about PEOPLE leave the warehouse (beside q151's PII scrub, which
    // redacts values; these measure re-identification risk from the values
    // that remain).
    //
    // K-anonymity / l-diversity audit. Quasi-identifier = (nation,
    // account-balance band); sensitive attribute = market segment. For k ∈
    // {2, 5, 10}: how many QI groups fall below k, how many ROWS they
    // expose (re-identification risk is carried by rows, not groups), in
    // ppm of the corpus — plus the attribute-disclosure column pair: groups
    // where every member shares one sensitive value (l = 1), which
    // k-anonymity alone never flags. All exact integers; the balance band
    // shifts cents positive before dividing so Spark's truncating DIV and
    // DuckDB's flooring // agree on negative balances by construction.
    // ---- k-anonymity / l-diversity audit -----------------------------------
    Qry(
      "q302_k_anonymity", {
        val kRows = Ks.map(k => s"($k)").mkString(", ")
        s"""WITH q AS (SELECT c_nationkey AS nat,
           |    (CAST(round(c_acctbal * 100) AS BIGINT) + $Shift)
           |      // $BandW AS band,
           |    c_mktsegment AS sens
           |  FROM customer),
           |g AS (SELECT nat, band, CAST(COUNT(*) AS BIGINT) AS sz,
           |    CAST(COUNT(DISTINCT sens) AS BIGINT) AS l
           |  FROM q GROUP BY 1, 2),
           |tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           |    CAST(COUNT(*) AS BIGINT) AS n_groups,
           |    CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS homog_groups,
           |    CAST(SUM(CASE WHEN l = 1 THEN sz ELSE 0 END) AS BIGINT)
           |      AS homog_rows
           |  FROM g),
           |ks(k) AS (VALUES $kRows)
           |SELECT CAST(k AS BIGINT) AS k, tot.n_rows, tot.n_groups,
           |  CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
           |    AS groups_below,
           |  CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
           |    AS rows_below,
           |  CAST(1000000 * SUM(CASE WHEN sz < k THEN sz ELSE 0 END)
           |    // tot.n_rows AS BIGINT) AS rows_below_ppm,
           |  tot.homog_groups, tot.homog_rows
           |FROM g, ks, tot
           |GROUP BY 1, 2, 3, 7, 8""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val q = Tables(spark, dir).customer.select(
        $"c_nationkey".as("nat"),
        expr(s"(CAST(round(c_acctbal * 100) AS BIGINT) + $Shift)" +
          s" DIV $BandW").as("band"),
        $"c_mktsegment".as("sens"))
      val g = q.groupBy($"nat", $"band")
        .agg(count(one).as("sz"), countDistinct($"sens").as("l"))
      val tot = g.agg(sum($"sz").as("n_rows"), count(one).as("n_groups"),
        sum(when($"l" === 1, 1L).otherwise(0L)).as("homog_groups"),
        sum(when($"l" === 1, $"sz").otherwise(0L)).as("homog_rows"))
      g.crossJoin(broadcast(Ks.toDF("k")))
        .crossJoin(broadcast(tot))
        .groupBy($"k".cast(LongType).as("k"), $"n_rows", $"n_groups",
          $"homog_groups", $"homog_rows")
        .agg(sum(when($"sz" < $"k", 1L).otherwise(0L)).as("groups_below"),
          sum(when($"sz" < $"k", $"sz").otherwise(0L)).as("rows_below"))
        .select($"k", $"n_rows", $"n_groups", $"groups_below",
          $"rows_below",
          expr("1000000 * rows_below DIV n_rows").as("rows_below_ppm"),
          $"homog_groups", $"homog_rows")
    },

    // The generalization ladder — the Mondrian-style decision
    // table: three release candidates (fine bands, coarse bands,
    // nation suppressed) scored by remaining utility (distinct QI
    // groups) against residual risk (rows in groups below k=5). The
    // table IS the choice a release owner makes: each rung trades
    // groups for exposed rows, measured, not asserted.
    //
    // Scale shape (both): one partial-aggregated groupBy per QI
    // choice collapses the corpus to the QI-group table (bounded by
    // QI cardinality — nations × bands); every k/level computation
    // runs over that table. No window over corpus rows, no join of
    // the corpus to itself.
    // ---- generalization ladder ---------------------------------------------
    Qry(
      "q303_generalization_ladder",
      s"""WITH c AS (SELECT c_nationkey AS nat,
         |    CAST(round(c_acctbal * 100) AS BIGINT) + $Shift AS cshift
         |  FROM customer),
         |lv AS (
         |  SELECT 0 AS level, 'nation+band1k' AS qi,
         |      nat, cshift // $BandW AS band FROM c
         |  UNION ALL
         |  SELECT 1, 'nation+band10k', nat, cshift // ${BandW * 10}
         |    FROM c
         |  UNION ALL
         |  SELECT 2, 'band10k-only', CAST(-1 AS INTEGER),
         |      cshift // ${BandW * 10} FROM c),
         |g AS (SELECT level, qi, nat, band,
         |    CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM lv GROUP BY 1, 2, 3, 4),
         |tot AS (SELECT level, CAST(SUM(sz) AS BIGINT) AS n_rows
         |        FROM g GROUP BY 1)
         |SELECT g.level AS level, qi,
         |  CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(SUM(CASE WHEN sz < $K THEN 1 ELSE 0 END) AS BIGINT)
         |    AS groups_below,
         |  CAST(SUM(CASE WHEN sz < $K THEN sz ELSE 0 END) AS BIGINT)
         |    AS rows_below,
         |  CAST(1000000 * SUM(CASE WHEN sz < $K THEN sz ELSE 0 END)
         |    // MAX(tot.n_rows) AS BIGINT) AS rows_below_ppm
         |FROM g JOIN tot ON g.level = tot.level
         |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val c = Tables(spark, dir).customer.select(
        $"c_nationkey".as("nat"),
        (round($"c_acctbal" * 100).cast(LongType) + Shift).as("cshift"))
      val lv = c.select(lit(0).as("level"), lit("nation+band1k").as("qi"),
          $"nat", expr(s"cshift DIV $BandW").as("band"))
        .unionByName(c.select(lit(1).as("level"),
          lit("nation+band10k").as("qi"), $"nat",
          expr(s"cshift DIV ${BandW * 10}").as("band")))
        .unionByName(c.select(lit(2).as("level"),
          lit("band10k-only").as("qi"), lit(-1).as("nat"),
          expr(s"cshift DIV ${BandW * 10}").as("band")))
      val g = lv.groupBy($"level", $"qi", $"nat", $"band")
        .agg(count(one).as("sz"))
      val tot = g.groupBy($"level".as("tlevel"))
        .agg(sum($"sz").as("n_rows"))
      g.join(broadcast(tot), $"level" === $"tlevel")
        .groupBy($"level".cast(LongType).as("level"), $"qi")
        .agg(count(one).as("n_groups"),
          sum(when($"sz" < K, 1L).otherwise(0L)).as("groups_below"),
          sum(when($"sz" < K, $"sz").otherwise(0L)).as("rows_below"),
          expr(s"1000000 * sum(CASE WHEN sz < $K THEN sz ELSE 0 END)" +
            " DIV max(n_rows)").as("rows_below_ppm"))
    }
  )
}
