package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Exact._
import graft.functions.GraftFunctions
import graft.operators.TextOps.{P, TokenReDuck}
import graft.operators.{Bpe, ConnectedComponents, Dedup, Pii, Staging, Stats,
  TextOps, Unigram, Vectors}
import graft.sources.Tables
import graft.streaming.Streams

import Helpers.{TrainBound, ValBound, bytesLit, h60Of, h60Seed, one}

/** Text-analysis + deduplication surface over the `documents` fixture
  * (LLM-data-pipeline operators, BASELINE.json): exact dedup, token
  * statistics, quality scoring, language ID, n-gram Jaccard near-dup,
  * MinHash+LSH, SimHash, and document fingerprinting.
  *
  * Every query is oracle-checked: the tokenizer/hash primitives are
  * bit-identical across Spark and DuckDB (see TextOps + ProbeParity).
  * The oracle SQL for MinHash/SimHash is GENERATED from the same K/band
  * constants as the Spark plan, so the two sides cannot drift.
  *
  * Also here: the BPE and unigram-LM tokenizer lifecycles, chunk,
  * substring and delta dedup, decontamination (Bloom gates included),
  * similarity joins and entity resolution, HTML/URL/PII/code curation,
  * corpus splits, mixtures and manifests, and language-model scoring.
  */
object Text {

  private def docs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(spark, dir).documents
  private val K = 16
  private val B = 4
  private val R = 4

  // BPE-ish pre-tokenizer (canonical copy in TextOps; see q78)
  private val BpeTokSql = TextOps.BpeTokSql

  // ---- shared DuckDB CTE fragments (canonical copies in TextOps) ------
  private val toksCte = TextOps.oracleToksCte
  private def hashSql(e: String) = TextOps.oracleHashSql(e)
  private val sh3Cte = TextOps.oracleSh3Cte

  // Spark-side distinct 3-gram shingle hashes per doc (operators.Dedup
  // is the single source of truth for the pipeline).
  private def shingleHashes(d: org.apache.spark.sql.DataFrame) =
    Dedup.shingleHashes(d, "doc_id", "text")

  // RE2-safe patterns, shared verbatim by both engines (operators.Pii)
  private val EmailRe = Pii.EmailRe
  private val PhoneRe = Pii.PhoneRe
  private val IpRe = Pii.IpRe

  // ---- q155: per-source epoch milli-weights ----------------------------
  // Milli-weights (2500 = 2.5 epochs), integer so the fractional
  // Bernoulli threshold `hash % 1000 < wm % 1000` is exact in both
  // engines — a double weight would put a float compare on the replica
  // boundary. Sources absent from the map default to 1.0 (one epoch).
  private val MixMilli: Seq[(String, Int)] = Seq(
    "src0" -> 2500, "src1" -> 1800, "src2" -> 1200, "src3" -> 300,
    "src4" -> 900, "src5" -> 1000, "src6" -> 600, "src7" -> 1500,
    "src8" -> 400, "src9" -> 2000)

  // every 10th document (doc_id ending in 7) plays the incoming batch
  private val DeltaMod = 10
  private val DeltaRem = 7

  private def splitCol(h: org.apache.spark.sql.Column) =
    when(h < TrainBound, "train").when(h < ValBound, "val")
      .otherwise("test")

  private val splitSqlCase =
    s"""CASE WHEN h < $TrainBound THEN 'train'
       |     WHEN h < $ValBound THEN 'val'
       |     ELSE 'test' END""".stripMargin

  private val TopK = 20

  // the synthetic fixture's vocabulary is 31 tokens — curve points are
  // scaled to it (at a real corpus they'd be 100/1k/10k/100k)
  private val CovKs = Seq(5L, 10L, 25L)

  /** The fixed merge artifact, rank-ordered — the single source for the
    * Spark fold AND the generated oracle patterns. PRECONDITION (the
    * require below enforces it at catalog build): no self-pair merge
    * (left == right). `Bpe.encodeWord` itself is exact for self-pairs,
    * but the ORACLE's fixpoint-replace formulation is not — on a run of
    * ≥ 4 identical symbols leftmost non-overlapping `replace` pairs
    * (1,2)(4,5)… while greedy pairs (1,2)(3,4)…, and a later merge can
    * turn that segmentation difference into a count difference. A
    * trained artifact (`Bpe.trainMerges`) CAN legitimately contain
    * self-pairs on repetitive corpora — such an artifact needs the
    * Spark path only, not this oracle formulation. */
  private val EncMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")
  require(EncMerges.forall { case (a, b) => a != b },
    "q182 oracle equivalence requires no self-pair merges")

  private val SeqLen = 2048L

  // ---- q218 Bloom geometry (shared by Spark plan and oracle SQL, and
  // by the q222 streaming gate in q222) ----------------------------
  private val MBits = 65536       // 2^16 bits
  private val Words = MBits / 32  // 2048 packed 32-bit words
  private val KHash = 4

  private def posA(i: Int): Long = TextOps.aParam(i)
  private def posB(i: Int): Long = TextOps.bParam(i)

  /** SQL expression for hash i's bit position of shingle-hash column
    * `h` — identical text feeds both engines via expr()/oracle.
    *
    * Reduce mod P BEFORE mod 2^16: `x mod 2^16` sees only the low 16
    * bits of the product (a·h mod 2^16 = (a mod 2^16)(h mod 2^16) mod
    * 2^16), so without the prime reduction all K positions collapse to
    * functions of h's low half — measured 3.6% false positives against
    * the ~0.05% the (m, k, n) geometry predicts. The mod-P pass mixes
    * the high bits in (same affine family as MinHash; products < 2^62,
    * no overflow either engine). */
  private def posSql(i: Int, h: String): String =
    s"(((${posA(i)} * $h + ${posB(i)}) % ${TextOps.P}) % $MBits)"

  /** One-row DataFrame holding the whole bitset as a dense `Words`-slot
    * BIGINT array (absent words zero-filled) — the form that broadcasts
    * to every executor as a few KB. `evh` must be a single-column `h`
    * frame of the member hashes. */
  private def bloomDense(spark: org.apache.spark.sql.SparkSession,
      evh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pos = (0 until KHash).map(i =>
      evh.select(expr(posSql(i, "h")).as("pos")))
      .reduce(_ unionByName _)
    val words = pos
      .select((col("pos") / 32).cast(LongType).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
          .as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
    spark.range(Words).select(col("id").as("w"))
      .join(words, Seq("w"), "left")
      .select(col("w"), coalesce(col("bits"), lit(0L)).as("bits"))
      .agg(array_sort(collect_list(struct(col("w"), col("bits")))).as("ws"))
      .select(transform(col("ws"), e => e.getField("bits")).as("blm"))
  }

  /** SQL boolean: all KHash bloom bits set for hash expression `h`,
    * probing the dense array column `blm` (1-based element_at). */
  private def probeSql(h: String): String =
    (0 until KHash).map { i =>
      s"((shiftright(element_at(blm, CAST(${posSql(i, h)} / 32 AS INT) + 1), " +
        s"CAST(${posSql(i, h)} % 32 AS INT)) & 1) = 1)"
    }.mkString("(", " AND ", ")")

  /** SQL for the shared mod-P hash of a lambda variable `s` (TextOps
    * .hashMod spelled as parser-friendly text — conv() returns STRING,
    * hence the cast). */
  private def hashModSql(s: String): String =
    s"(CAST(conv(substring(md5($s), 1, 15), 16, 10) AS BIGINT) % ${TextOps.P})"

  private val Div = 16L // boundary divisor: expected chunk ~16 tokens (fixture docs are ~50-60 tokens)

  /** (doc_id, source, ch_h, ch_len) CDC chunk table over a documents
    * frame — the pipeline q227 gates, shared with q234's delta probe. */
  private def chunkTable(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val pos = docs
      .select(col("doc_id"), col("source"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("i", "tok")))
      .withColumn("prev", lag(col("tok"), 1).over(wp))
      .withColumn("cut",
        when(col("prev").isNotNull &&
          TextOps.hashMod(concat_ws(" ", col("prev"), col("tok")))
            % Div === 0, 1).otherwise(0))
    val cid = pos.withColumn("chunk_id",
      coalesce(sum(col("cut"))
        .over(wp.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
    cid.groupBy(col("doc_id"), col("source"), col("chunk_id"))
      .agg(TextOps.hashMod(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          e => e.getField("tok")), " ")).as("ch_h"),
        count(lit(1)).as("ch_len"))
  }

  /** Oracle CTE chain producing `ch` = (doc_id, chunk_id, ch_h, ch_len)
    * — requires TextOps.oracleToksCte upstream. */
  private val oracleChunkCtes: String =
    s"""pos0 AS (SELECT doc_id, unnest(list_transform(range(len(tk)),
       |    i -> {'i': i, 'tok': tk[i + 1]})) AS u FROM toks),
       |pos AS (SELECT doc_id, u.i AS i, u.tok AS tok FROM pos0),
       |pv AS (SELECT doc_id, i, tok,
       |    lag(tok) OVER (PARTITION BY doc_id ORDER BY i) AS prev
       |  FROM pos),
       |fl AS (SELECT doc_id, i, tok,
       |    CASE WHEN prev IS NOT NULL AND
       |      ${TextOps.oracleHashSql("prev || ' ' || tok")} % $Div = 0
       |      THEN 1 ELSE 0 END AS cut
       |  FROM pv),
       |cid AS (SELECT doc_id, i, tok,
       |    COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_id
       |  FROM fl),
       |ch AS (SELECT doc_id, chunk_id,
       |    ${TextOps.oracleHashSql("string_agg(tok, ' ' ORDER BY i)")}
       |      AS ch_h,
       |    COUNT(*) AS ch_len
       |  FROM cid GROUP BY 1, 2)""".stripMargin

  /** (policy class, type, path prefix) — policy class = source idx % 3. */
  private val Rules = Seq(
    (0, "disallow", "/private/"), (0, "allow", "/private/ok/"),
    (1, "disallow", "/"), (1, "allow", "/public/"),
    (2, "disallow", "/tmp/"))

  private val Paths = Seq(
    "/public/a", "/private/x", "/private/ok/y", "/tmp/z", "/index")

  private val EpochBudget = 1000000L // tokens per epoch to allocate

  // model constants live with the operator (graft.operators.Unigram) so
  // the oracle text below and the engine can never drift apart
  private val TopBigrams = graft.operators.Unigram.TopBigrams
  private val Missing = graft.operators.Unigram.Missing
  private val NoCand = graft.operators.Unigram.NoCand

  /** dp/walk/seg/mstep CTE block for ONE hard-EM round, parameterized
    * by a name suffix and the weight-map CTE it segments under — so the
    * trainer oracle (q258) can unroll round 2 over `wm1` with the
    * IDENTICAL machinery text. The backward walk is a RECURSIVE CTE,
    * not a list_reduce with a struct accumulator: DuckDB 1.0's
    * list_reduce evaluates struct-typed accumulator fields
    * inconsistently inside the lambda (measured: the same st.j reads
    * two different values in one application; list accumulators are
    * fine — the dp fold uses one). q187's recursive-walk pattern is the
    * engine-supported shape. */
  private def emRoundCtes(sfx: String, wm: String): String =
    s"""dp$sfx AS (SELECT w, f, m,
       |    list_reduce(
       |      list_prepend(CAST([0] AS BIGINT[]),
       |        list_transform(range(length(w)),
       |          i -> [CAST(i + 1 AS BIGINT)])),
       |      (acc, x) -> list_append(acc, greatest(
       |        acc[CAST(x[1] AS INT)]
       |          + map_extract(m, substring(w, CAST(x[1] AS INT), 1))[1],
       |        CASE WHEN x[1] >= 2 THEN acc[CAST(x[1] AS INT) - 1]
       |          + COALESCE(map_extract(m,
       |              substring(w, CAST(x[1] AS INT) - 1, 2))[1],
       |            $Missing)
       |        ELSE $NoCand END))) AS dpl
       |  FROM words, $wm),
       |walk$sfx AS (
       |  SELECT w, f, m, dpl, length(w) AS j, CAST(NULL AS VARCHAR) AS p
       |  FROM dp$sfx
       |  UNION ALL
       |  SELECT w, f, m, dpl,
       |    CASE WHEN take2 THEN j - 2 ELSE j - 1 END,
       |    CASE WHEN take2 THEN substring(w, CAST(j AS INT) - 1, 2)
       |         ELSE substring(w, CAST(j AS INT), 1) END
       |  FROM (
       |    SELECT w, f, m, dpl, j,
       |      (j >= 2 AND dpl[CAST(j AS INT) + 1] =
       |        dpl[CAST(j AS INT) - 1] + COALESCE(map_extract(m,
       |          substring(w, CAST(j AS INT) - 1, 2))[1],
       |          $Missing)) AS take2
       |    FROM walk$sfx WHERE j > 0)),
       |seg$sfx AS (SELECT f, p FROM walk$sfx WHERE p IS NOT NULL),
       |mstep$sfx AS (SELECT p, CAST(SUM(f) AS BIGINT) AS cnt FROM seg$sfx
       |  GROUP BY 1)""".stripMargin

  /** DuckDB CTE stack through `wts` (p, wt — piece log-weights) and
    * `mstep` (p, cnt — Viterbi-segmentation piece counts): the word
    * vocabulary, the char+top-bigram inventory, round-0 weights, and
    * one [[emRoundCtes]] round under them. */
  private val EmOraclePrefix: String =
    s"""WITH RECURSIVE ${TextOps.oracleToksCte},
       |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
       |chars AS (SELECT p, SUM(f) AS n FROM (
       |    SELECT f, unnest(list_transform(range(length(w)),
       |      i -> substring(w, CAST(i + 1 AS INT), 1))) AS p FROM words)
       |  GROUP BY 1),
       |bg AS (SELECT p, SUM(f) AS n FROM (
       |    SELECT f, unnest(list_transform(range(length(w) - 1),
       |      i -> substring(w, CAST(i + 1 AS INT), 2))) AS p
       |    FROM words WHERE length(w) >= 2)
       |  GROUP BY 1),
       |topbg AS (SELECT p, n FROM bg ORDER BY n DESC, p LIMIT $TopBigrams),
       |inv AS (SELECT p, n FROM chars UNION ALL SELECT p, n FROM topbg),
       |tot AS (SELECT SUM(n) AS t FROM inv),
       |wts AS (SELECT p,
       |    CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE) / t)) AS BIGINT)
       |      AS wt
       |  FROM inv, tot),
       |wm AS (SELECT map(list(p ORDER BY p), list(wt ORDER BY p)) AS m
       |  FROM wts),
       |${emRoundCtes("", "wm")}""".stripMargin

  /** Spark-side model shared by q239/q241: (wts (p, wt), mstep (p, cnt)).
    * Delegates to [[graft.operators.Unigram]] — one source of truth for
    * the inventory/weights/DP machinery, shared with the iterated
    * trainer (q258's training query). One corpus-sized
    * tokenize+count pass collapses to the staged word vocabulary;
    * everything downstream is vocabulary-bounded and the weight table
    * rides as one broadcast map row. */
  private def emModel(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val words = graft.operators.Unigram.wordTable(
      Tables(spark, dir).documents, "text")
    val wts = graft.operators.Unigram.weightsFromCounts(
      graft.operators.Unigram.inventory(words))
    (wts, graft.operators.Unigram.segmentCounts(words, wts))
  }

  private val KeepPieces = 8
  private val Bm25Terms = Seq("stream", "window", "join")
  private val Bm25K = 10

  private val Snaps = 4
  private val DriftTopK = 5
  private val MinCount = 20L

  /** Oracle text shared VERBATIM with the streaming twin q248
    * (q246) — stream/batch equivalence inside the gate hash. */
  private val DriftOracle: String =
    s"""WITH ${TextOps.oracleToksCte},
         |snapped AS (SELECT
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
         |      % $Snaps AS snap,
         |    unnest(tk) AS tok
         |  FROM toks),
         |cnt AS (SELECT snap, tok, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM snapped GROUP BY 1, 2),
         |lagged AS (SELECT snap, tok, c,
         |    lag(c) OVER (PARTITION BY tok ORDER BY snap) AS prev
         |  FROM cnt),
         |rises AS (SELECT snap, tok, c, COALESCE(prev, 0) AS prev,
         |    CAST(1000000 * (c - COALESCE(prev, 0))
         |      // (COALESCE(prev, 0) + 1) AS BIGINT) AS rise_ppm
         |  FROM lagged
         |  WHERE snap > 0 AND c >= $MinCount)
         |SELECT snap, CAST(rn AS INT) AS rank, tok, c, prev, rise_ppm
         |FROM (SELECT *, row_number() OVER (PARTITION BY snap
         |        ORDER BY rise_ppm DESC, tok) AS rn FROM rises)
         |WHERE rn <= $DriftTopK""".stripMargin

  /** The drift tail (lag + rank over the snapshot x vocabulary count
    * table) shared by q245 and its streaming twin q248 — the per-
    * (snapshot, token) count table is the only part that differs
    * (batch scan vs streaming aggregation). */
  private def driftTail(cnt: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wLag = Window.partitionBy(col("tok")).orderBy(col("snap"))
    val wTop = Window.partitionBy(col("snap"))
      .orderBy(col("rise_ppm").desc, col("tok"))
    cnt
      .withColumn("prev", coalesce(lag(col("c"), 1).over(wLag), lit(0L)))
      .filter(col("snap") > 0 && col("c") >= MinCount)
      .withColumn("rise_ppm",
        expr("1000000 * (c - prev) DIV (prev + 1)"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= DriftTopK)
      .select(col("snap"), col("rank"), col("tok"), col("c"),
        col("prev"), col("rise_ppm"))
  }

  private val MinPair = 25L
  // oracleToksCte does not carry `source` — inline a variant that
  // keeps every card dimension. (A STREAMING card twin is deliberately
  // absent: exact distinct counts are unsupported in streaming
  // aggregations, and per-doc-hash streaming state would be the wrong
  // design for a release-time summary anyway.)
  private val CardOracle: String =
    s"""WITH toks AS (SELECT doc_id, lang, source, text,
         |    list_filter(string_split_regex(lower(text),
         |      '${TextOps.TokenReDuck}'), t -> len(t) > 0) AS tk
         |  FROM documents),
         |d AS (SELECT doc_id, lang, source,
         |    CAST(len(tk) AS BIGINT) AS n_tok,
         |    strlen(text) AS n_chars, md5(text) AS h
         |  FROM toks),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs
         |  FROM d),
         |lc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl FROM d
         |  GROUP BY 1),
         |topl AS (SELECT lang AS top_lang, nl AS top_lang_docs FROM lc
         |  ORDER BY nl DESC, lang LIMIT 1),
         |ent AS (SELECT ${dsumSql(
             "-(CAST(nl AS DOUBLE) / n_docs) * ln(CAST(nl AS DOUBLE) / n_docs)")}
         |    AS lang_entropy
         |  FROM lc CROSS JOIN tot)
         |SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
         |  1000000 * n_dup_docs // n_docs AS exact_dup_ppm,
         |  top_lang, 1000000 * top_lang_docs // n_docs AS top_lang_ppm,
         |  lang_entropy
         |FROM tot CROSS JOIN topl CROSS JOIN ent""".stripMargin

  private val Rounds = 2
  private val Keep = 8

  // ---- q261 geometry -----------------------------------------------------
  /** Duplicated-run threshold in tokens (shared with the q290 delta
    * twin — one constant, the two grains cannot drift). */
  private val W = 8

  // ---- q261/q290 shared island machinery ----------------------------------
  // Package-private so the batch query and its delta twin share ONE
  // implementation (the q227/q234 pattern): duplicated W-token spans
  // (doc_id, s, e) merge into maximal islands via the running-max
  // window trick, then aggregate to per-doc totals.

  private def islandAgg(dup: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = dup.sparkSession
    import spark.implicits._
    val wD = Window.partitionBy($"doc_id").orderBy($"s")
    dup
      .withColumn("pm", max($"e").over(
        wD.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when($"s" > coalesce($"pm", lit(-1L)), 1L).otherwise(0L))
      .withColumn("isl", sum($"ni").over(
        wD.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"isl")
      .agg((max($"e") - min($"s")).as("len"))
      .groupBy($"doc_id")
      .agg(sum($"len").as("dup_tokens"), count(one).as("n_spans"))
      .withColumnRenamed("doc_id", "ddoc")
  }

  /** Per-doc keep report: sizes LEFT JOIN island totals. */
  private def keepReport(sz: org.apache.spark.sql.DataFrame,
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = sz.sparkSession
    import spark.implicits._
    sz.join(d, $"doc_id" === $"ddoc", "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        when($"n_tokens" === 0, lit(1000000L))
          .otherwise(expr(
            "1000000 * (n_tokens - COALESCE(dup_tokens, 0))" +
              " DIV n_tokens")).as("keep_ppm"))
  }

  /** Oracle twin of [[islandAgg]]: CTEs from `dupCte` (doc_id, s, e)
    * to the per-doc `d` table. */
  private def oracleIslandCtes(dupCte: String): String =
    s"""isl AS (SELECT doc_id, s, e,
       |    SUM(CASE WHEN s > COALESCE(pm, -1) THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s
       |            ROWS UNBOUNDED PRECEDING) AS isl
       |  FROM (SELECT doc_id, s, e, MAX(e) OVER (PARTITION BY doc_id
       |          ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
       |          AND 1 PRECEDING) AS pm FROM $dupCte)),
       |spans AS (SELECT doc_id, isl, MAX(e) - MIN(s) AS len
       |          FROM isl GROUP BY 1, 2),
       |d AS (SELECT doc_id, CAST(SUM(len) AS BIGINT) AS dup_tokens,
       |      CAST(COUNT(*) AS BIGINT) AS n_spans FROM spans GROUP BY 1)"""
      .stripMargin

  /** Oracle twin of [[keepReport]] (final select over `sz`/`d`). */
  private val oracleKeepSelect: String =
    s"""SELECT sz.doc_id, n_tokens,
       |  COALESCE(dup_tokens, 0) AS dup_tokens,
       |  COALESCE(n_spans, 0) AS n_spans,
       |  CASE WHEN n_tokens = 0 THEN 1000000
       |    ELSE 1000000 * (n_tokens - COALESCE(dup_tokens, 0))
       |      // n_tokens END AS keep_ppm
       |FROM sz LEFT JOIN d USING (doc_id)""".stripMargin

  /** Oracle fragment: W-token window occurrences (doc_id, p, h) over
    * `toks` — shared by q261 and the q290 delta twin. */
  private val oracleOccCtes: String =
    s"""occ0 AS (SELECT doc_id,
       |    unnest(list_transform(range(len(tk) - ${W - 1}), i ->
       |      {'p': i, 'g': array_to_string(tk[i + 1 : i + $W], ' ')}))
       |      AS u
       |  FROM toks WHERE len(tk) >= $W),
       |occ AS (SELECT doc_id, CAST(u.p AS BIGINT) AS p,
       |    ${TextOps.oracleHashSql("u.g")} AS h
       |  FROM occ0)""".stripMargin

  /** DF twin of [[oracleOccCtes]]: window occurrences from staged toks. */
  private def occFrame(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.filter(size($"tk") >= W)
      .select($"doc_id",
        posexplode(TextOps.shingles($"tk", W)).as(Seq("p", "g")))
      .select($"doc_id", $"p".cast(LongType).as("p"),
        TextOps.hashMod($"g").as("h"))
  }

  /** Hashed-feature buckets. */
  private val DsirBuckets = 64
  /** Target-domain slice. */
  private val TargetLang = "en"

  private val RrfK = 60
  private val FusionTopK = 10
  /** Shared oracle CTEs: candidate (doc, tok, tf) + both score tables
    * + both rankings. */
  private[queries] def rankCtes: String = {
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""${TextOps.oracleToksCte},
       |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
       |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
       |  WHERE tok IN ($inList) GROUP BY 1, 2),
       |dft AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM tf GROUP BY 1),
       |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |bs AS (SELECT tf.doc_id,
       |    ln((nn - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
       |      / (tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
       |        / avgdl)) AS s
       |  FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id)
       |  CROSS JOIN nd),
       |bm AS (SELECT doc_id, ${dsumSql("s")} AS score FROM bs
       |       GROUP BY 1),
       |rb AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC,
       |    doc_id) AS r1 FROM bm),
       |ts2 AS (SELECT tf.doc_id, tf * ln(nn / df) AS s
       |  FROM tf JOIN dft USING (tok) CROSS JOIN nd),
       |ti AS (SELECT doc_id, ${dsumSql("s")} AS score FROM ts2
       |       GROUP BY 1),
       |rt AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC,
       |    doc_id) AS r2 FROM ti)""".stripMargin
  }

  /** Spark twin of [[rankCtes]]: (doc_id, r1) and (doc_id, r2). */
  private[queries] def rankings(spark: org.apache.spark.sql.SparkSession,
      dir: String) = {
    import spark.implicits._
    val toks = Tables(spark, dir).documents
      .select($"doc_id", TextOps.tokens($"text").as("tk"))
    val dl = toks.select($"doc_id", size($"tk").cast(LongType).as("dl"))
    // staged: the candidate (doc, term, tf) leaf feeds BOTH scorers
    val tf = Staging.stage(
      toks.select($"doc_id", explode($"tk").as("tok"))
        .filter($"tok".isin(Bm25Terms: _*))
        .groupBy($"doc_id", $"tok").agg(count(one).as("tf")),
      eager = false)
    val dft = tf.groupBy($"tok").agg(countDistinct($"doc_id").as("df"))
    val nd = dl.agg(count(one).cast("double").as("nn"),
      (sum($"dl").cast("double") / count(one)).as("avgdl"))
    // q242's term-score text verbatim (one spelling, no drift)
    val bs = tf.join(dft, "tok").join(dl, "doc_id")
      .crossJoin(broadcast(nd))
      .select($"doc_id", expr(
        "ln((nn - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)" +
          " / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))")
        .as("s"))
    val rb = bs.groupBy($"doc_id").agg(dsum($"s").as("score"))
      .withColumn("r1", row_number().over(
        Window.orderBy($"score".desc, $"doc_id")))
      .select($"doc_id", $"r1")
    val ts2 = tf.join(dft, "tok").crossJoin(broadcast(nd))
      .select($"doc_id", expr("tf * ln(nn / df)").as("s"))
    val rt = ts2.groupBy($"doc_id").agg(dsum($"s").as("score"))
      .withColumn("r2", row_number().over(
        Window.orderBy($"score".desc, $"doc_id")))
      .select($"doc_id".as("doc_id2"), $"r2")
    (rb, rt)
  }

  /** Oracle text shared VERBATIM with the streaming twin q319
    * (q318): the stream replays the same corpus once, so batch
    * and stream must produce the same resolved table. */
  private val ErOracle =
    s"""WITH toks AS (SELECT doc_id, lang,
         |  list_filter(string_split_regex(lower(text),
         |    '${TextOps.TokenReDuck}'), t -> len(t) > 0) AS tk
         |  FROM documents),
         |ent AS (SELECT doc_id, array_to_string(tk[1:5], ' ') AS t
         |  FROM toks
         |  WHERE lang = 'en' AND len(array_to_string(tk[1:5], ' ')) >= 9
         |    AND regexp_matches(array_to_string(tk[1:5], ' '),
         |                       '^[a-z0-9 ]+$$')),
         |dirty AS (SELECT doc_id, t,
         |    CAST(${TextOps.oracleHashSql("t")} % length(t) + 1 AS INT)
         |      AS pos FROM ent),
         |dd AS (SELECT doc_id, t, substring(t, 1, pos - 1)
         |    || substring(t, pos + 1, length(t)) AS d FROM dirty),
         |cand AS (SELECT d.doc_id, c.doc_id AS cid, d.d, c.t AS ct,
         |    d.t AS own
         |  FROM dd d JOIN ent c
         |    ON substring(d.d, 1, 4) = substring(c.t, 1, 4)
         |  UNION
         |  SELECT d.doc_id, c.doc_id, d.d, c.t, d.t
         |  FROM dd d JOIN ent c ON right(d.d, 4) = right(c.t, 4)),
         |scored AS (SELECT doc_id, cid,
         |    CAST(levenshtein(d, ct) AS BIGINT) AS dist, ct, own,
         |    COUNT(*) OVER (PARTITION BY doc_id) AS n_cand FROM cand),
         |best AS (SELECT doc_id, cid AS matched_doc, dist, n_cand,
         |    CASE WHEN ct = own THEN 1 ELSE 0 END AS correct,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY dist, cid)
         |      AS rn
         |  FROM scored WHERE dist <= 1)
         |SELECT doc_id, matched_doc, dist, CAST(n_cand AS BIGINT)
         |    AS n_cand, correct,
         |  CAST((1000000 * SUM(correct) OVER ()) // COUNT(*) OVER ()
         |    AS BIGINT) AS accuracy_ppm
         |FROM best WHERE rn = 1""".stripMargin

  /** Clean-title entity registry: (doc_id, t) — ASCII titles of length
    * ≥ 9 from the first five tokens of every English document. Shared
    * with the streaming twin q319. */
  private def entities(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val title = concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5))
    docs.filter(col("lang") === "en")
      .select(col("doc_id"), title.as("t"))
      .filter(length(col("t")) >= 9 && col("t").rlike("^[a-z0-9 ]+$"))
  }

  /** Deterministically corrupted probes: (doc_id, d, own) — one
    * character deleted at a hash-chosen position. */
  private def dirtyProbes(ent: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ent.withColumn("pos",
        (TextOps.hashMod(col("t")) % length(col("t")) + 1)
          .cast(IntegerType))
      .select(col("doc_id"),
        expr("substring(t, 1, pos - 1) || " +
          "substring(t, pos + 1, length(t))").as("d"),
        col("t").as("own"))

  private val Folds = 5

  val all: Seq[Qry] = Seq(

    // ---- exact deduplication (hash groupBy) ----------------------------
    Qry(
      "q32_exact_dedup",
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      docs(spark, dir)
        .groupBy(md5($"text").as("content_hash"))
        .agg(min($"doc_id").as("keep_id"), count(one).as("n_copies"))
    },

    // ---- token statistics per language ---------------------------------
    Qry(
      "q33_token_stats",
      s"""WITH $toksCte
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(tk)) AS BIGINT) AS tok_sum,
         |  CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS tok_avg,
         |  CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS chars_avg
         |FROM toks GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      docs(spark, dir)
        .select($"lang", size(TextOps.tokens($"text")).cast(LongType).as("nt"),
          length($"text").cast(LongType).as("nc"))
        .groupBy($"lang")
        .agg(count(one).as("n_docs"), sum($"nt").as("tok_sum"),
          (sum($"nt").cast("double") / count(one)).as("tok_avg"),
          (sum($"nc").cast("double") / count(one)).as("chars_avg"))
    },

    // ---- BPE-style subword pre-tokenization count ----------------------
    // The GPT-2 pre-tokenizer regex family (contractions, space-prefixed
    // letter/digit/symbol runs, whitespace runs), minus the trailing
    // lookahead RE2 cannot express. Whitespace is an EXPLICIT class —
    // Java's \s includes \x0B, RE2's does not — and the one pattern
    // constant feeds both engines (quote-doubled into the oracle), so
    // the two sides cannot drift. A per-row codegen'd regex scan + one
    // hash agg: embarrassingly parallel at any scale.
    Qry(
      "q78_bpe_tokens",
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(regexp_extract_all(text, '$BpeTokSql'))
         |    ) AS BIGINT) AS bpe_sum,
         |  ROUND(CAST(SUM(len(regexp_extract_all(text, '$BpeTokSql'))
         |    ) AS DOUBLE) / COUNT(*), 6) AS bpe_avg,
         |  CAST(MAX(len(regexp_extract_all(text, '$BpeTokSql'))
         |    ) AS BIGINT) AS bpe_max
         |FROM documents GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      docs(spark, dir)
        .select($"lang", TextOps.bpeTokenCount($"text").as("nb"))
        .groupBy($"lang")
        .agg(count(one).as("n_docs"), sum($"nb").as("bpe_sum"),
          round(sum($"nb").cast("double") / count(one), 6).as("bpe_avg"),
          max($"nb").as("bpe_max"))
    },

    // ---- quality scoring ------------------------------------------------
    Qry(
      "q34_quality_score",
      s"""WITH $toksCte
         |SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tok,
         |  CAST(length(text) AS BIGINT) AS n_char,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(regexp_extract_all(lower(text),
         |    '\\b(the|and|of|to|in|is|that|it|was|for)\\b')) AS DOUBLE)
         |    / greatest(len(tk), 1) AS stop_ratio,
         |  CAST(length(array_to_string(tk, '')) AS DOUBLE)
         |    / greatest(length(text), 1) AS alnum_ratio,
         |  0.5e0 * (CAST(len(regexp_extract_all(lower(text),
         |      '\\b(the|and|of|to|in|is|that|it|was|for)\\b')) AS DOUBLE)
         |      / greatest(len(tk), 1))
         |    + 0.3e0 * (CAST(length(array_to_string(tk, '')) AS DOUBLE)
         |      / greatest(length(text), 1))
         |    - 0.2e0 * (CAST(len(regexp_extract_all(text, '[.,!?;:]'))
         |      AS DOUBLE) / greatest(length(text), 1)) AS quality_score,
         |  len(tk) >= 10 AS long_enough
         |FROM toks""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val stopRe = "\\b(the|and|of|to|in|is|that|it|was|for)\\b"
      val base = docs(spark, dir).select($"doc_id", $"text",
        TextOps.tokens($"text").as("tk"))
        .select($"doc_id",
          size($"tk").cast(LongType).as("n_tok"),
          length($"text").cast(LongType).as("n_char"),
          (size(regexp_extract_all($"text", lit("[.,!?;:]"), lit(0)))
            .cast("double") / greatest(length($"text"), one)).as("punct_ratio"),
          (size(regexp_extract_all(lower($"text"), lit(stopRe), lit(0)))
            .cast("double") / greatest(size($"tk"), one)).as("stop_ratio"),
          (length(concat_ws("", $"tk")).cast("double") /
            greatest(length($"text"), one)).as("alnum_ratio"))
      base.select($"doc_id", $"n_tok", $"n_char", $"punct_ratio",
        $"stop_ratio", $"alnum_ratio",
        (lit(0.5) * $"stop_ratio" + lit(0.3) * $"alnum_ratio"
          - lit(0.2) * $"punct_ratio").as("quality_score"),
        ($"n_tok" >= 10).as("long_enough"))
    },

    // ---- language identification (stopword/CJK heuristic) --------------
    Qry(
      "q35_lang_id", {
        val en = "\\b(the|and|of|to|in|is|that|it|was|for)\\b"
        val de = "\\b(der|die|das|und|ist|nicht|ein|zu|den|von)\\b"
        val fr = "\\b(le|la|les|et|est|un|une|des|du|que)\\b"
        val es = "\\b(el|los|las|es|y|una|por|con|para|que)\\b"
        s"""WITH scored AS (
           |  SELECT lang,
           |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh,
           |    len(regexp_extract_all(lower(text), '$en')) AS s_en,
           |    len(regexp_extract_all(lower(text), '$de')) AS s_de,
           |    len(regexp_extract_all(lower(text), '$fr')) AS s_fr,
           |    len(regexp_extract_all(lower(text), '$es')) AS s_es
           |  FROM documents)
           |SELECT lang, CASE
           |    WHEN s_zh > 0 AND s_zh >= greatest(s_en, s_de, s_fr, s_es)
           |      THEN 'zh'
           |    WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
           |    WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
           |    WHEN s_fr >= s_es THEN 'fr'
           |    ELSE 'es' END AS pred_lang,
           |  COUNT(*) AS n
           |FROM scored GROUP BY 1, 2""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      def score(re: String) =
        size(regexp_extract_all(lower($"text"), lit(re), lit(0)))
      val scored = docs(spark, dir).select($"lang",
        size(regexp_extract_all($"text", lit("[一-鿿]"), lit(0))).as("s_zh"),
        score("\\b(the|and|of|to|in|is|that|it|was|for)\\b").as("s_en"),
        score("\\b(der|die|das|und|ist|nicht|ein|zu|den|von)\\b").as("s_de"),
        score("\\b(le|la|les|et|est|un|une|des|du|que)\\b").as("s_fr"),
        score("\\b(el|los|las|es|y|una|por|con|para|que)\\b").as("s_es"))
      scored.select($"lang",
          when($"s_zh" > 0 &&
            $"s_zh" >= greatest($"s_en", $"s_de", $"s_fr", $"s_es"), "zh")
          .when($"s_en" >= greatest($"s_de", $"s_fr", $"s_es"), "en")
          .when($"s_de" >= greatest($"s_fr", $"s_es"), "de")
          .when($"s_fr" >= $"s_es", "fr")
          .otherwise("es").as("pred_lang"))
        .groupBy($"lang", $"pred_lang")
        .agg(count(one).as("n"))
    },

    // ---- n-gram Jaccard near-duplicate pairs ---------------------------
    Qry(
      "q36_ngram_jaccard",
      s"""WITH $toksCte,
         |$sh3Cte,
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
         |          FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT da AS doc_a, db AS doc_b, shared,
         |  sa.n AS n_a, sb.n AS n_b,
         |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
         |FROM pairs
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5e0"""
        .stripMargin) { (spark, dir) =>
      import spark.implicits._
      Dedup.jaccardPairs(shingleHashes(docs(spark, dir)), "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b"), $"shared",
          $"n_a", $"n_b", $"jaccard")
    },

    // ---- MinHash + LSH near-duplicate candidates -----------------------
    Qry(
      "q37_minhash_lsh", {
        val minCols = (0 until K).map(i =>
          s"min((h * ${TextOps.aParam(i)} + ${TextOps.bParam(i)}) % $P) AS m$i")
          .mkString(", ")
        val bandSelects = (0 until B).map { b =>
          val ks = (0 until R).map(r => s"m${b * R + r}").mkString(", ")
          s"SELECT doc_id, $b AS band_idx, concat_ws(':', $ks) AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        val matchSum = (0 until K).map(i =>
          s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $toksCte,
           |$sh3Cte,
           |sig AS (SELECT doc_id, $minCols FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           |         FROM banded a JOIN banded b
           |           ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |          AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, n_match,
           |  CAST(n_match AS DOUBLE) / $K AS est_jaccard
           |FROM (SELECT c.ida AS doc_a, c.idb AS doc_b,
           |        $matchSum AS n_match
           |      FROM cand c
           |        JOIN sig sa ON c.ida = sa.doc_id
           |        JOIN sig sb ON c.idb = sb.doc_id)
           |WHERE n_match >= ${K / 2}""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val sh = shingleHashes(docs(spark, dir))
      val sig = Dedup.minhashSignatures(sh, "doc_id", "h", K)
      val cand = Dedup.lshCandidatePairs(sig, "doc_id", B, R)
      val sa = sig.select($"doc_id".as("ka") +:
        (0 until K).map(i => col(s"m$i").as(s"a$i")): _*)
      val sb = sig.select($"doc_id".as("kb") +:
        (0 until K).map(i => col(s"m$i").as(s"b$i")): _*)
      val nMatch = (0 until K).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      cand.join(sa, $"ida" === $"ka").join(sb, $"idb" === $"kb")
        .select($"ida".as("doc_a"), $"idb".as("doc_b"),
          nMatch.as("n_match"))
        .filter($"n_match" >= K / 2)
        .withColumn("est_jaccard", $"n_match".cast("double") / K)
    },

    // ---- SimHash near-duplicate histogram (hamming <= 3) ----------------
    // Hamming-LSH banding (Manku/Jain/Sarma, WWW 2007): the 31-bit
    // fingerprint is cut into 4 bands (8+8+8+7 bits); a pair within
    // hamming distance 3 has its <= 3 differing bits in at most 3 bands,
    // so it matches at least one band EXACTLY (pigeonhole) — candidate
    // generation is an equi-join on (band index, band value), complete
    // for d <= 3, never an all-pairs product. The oracle states the same
    // result declaratively (thresholded all-pairs is exact at oracle SF).
    Qry(
      "q38_simhash", {
        val bitSums = (0 until 31).map(j =>
          s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
          .mkString(", ")
        val fpSum = (0 until 31).map(j =>
          s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
        s"""WITH $toksCte,
           |th AS (SELECT DISTINCT doc_id, ${hashSql("tok")} AS h
           |       FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)),
           |bits AS (SELECT doc_id, $bitSums FROM th GROUP BY 1),
           |fp AS (SELECT doc_id, CAST($fpSum AS BIGINT) AS simhash FROM bits),
           |fpc AS (SELECT simhash, COUNT(*) AS c FROM fp GROUP BY 1),
           |cross_pairs AS (
           |  SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming,
           |    a.c * b.c AS w
           |  FROM fpc a JOIN fpc b ON a.simhash < b.simhash
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |same_pairs AS (
           |  SELECT 0 AS hamming, c * (c - 1) // 2 AS w FROM fpc WHERE c > 1)
           |SELECT CAST(hamming AS BIGINT) AS hamming,
           |  CAST(SUM(w) AS BIGINT) AS n_pairs
           |FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs)
           |GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val tk = docs(spark, dir)
        .select($"doc_id", TextOps.tokens($"text").as("tk"))
      val th = tk.select($"doc_id", explode($"tk").as("tok"))
        .select($"doc_id", TextOps.hashMod($"tok").as("h")).distinct()
      val fp = Dedup.simhash(th, "doc_id", "h")
      // Multiplicity compression: group identical fingerprints first so
      // banding runs over DISTINCT fingerprints weighted by their counts
      // (at scale, near-dup corpora collapse heavily here);
      // same-fingerprint doc pairs contribute c·(c−1)/2 at hamming 0.
      val fpc = fp.groupBy($"simhash").agg(count(one).as("c"))
      // 4 bands over bits [0,8) [8,16) [16,24) [24,31)
      val bandDefs = Seq((0, 8), (8, 8), (16, 8), (24, 7))
      val banded = fpc.select($"simhash", $"c",
          explode(array(bandDefs.zipWithIndex.map { case ((off, w), i) =>
            struct(lit(i).as("bi"),
              shiftright($"simhash", off).bitwiseAND(lit((1L << w) - 1))
                .as("bv"))
          }: _*)).as("b"))
        .select($"simhash", $"c", $"b.bi".as("bi"), $"b.bv".as("bv"))
      val a = banded.select($"simhash".as("fa"), $"c".as("ca"), $"bi", $"bv")
      val b = banded.select($"simhash".as("fb"), $"c".as("cb"),
        $"bi".as("bi2"), $"bv".as("bv2"))
      // a pair can match in several bands — distinct before weighting
      val cross = a.join(b, $"bi" === $"bi2" && $"bv" === $"bv2" &&
          $"fa" < $"fb")
        .select($"fa", $"fb", $"ca", $"cb").distinct()
        .select(bit_count($"fa".bitwiseXOR($"fb")).cast(LongType)
          .as("hamming"), ($"ca" * $"cb").as("w"))
        .filter($"hamming" <= 3)
      val same = fpc.select(lit(0L).as("hamming"),
        // integral DIV: double `/` rounds once c*(c-1) exceeds 2^53
        expr("c * (c - 1) DIV 2").as("w")).filter($"w" > 0)
      cross.unionByName(same)
        .groupBy($"hamming").agg(sum($"w").as("n_pairs"))
    },

    // ---- order-sensitive document fingerprint --------------------------
    Qry(
      "q39_fingerprint",
      s"""WITH $toksCte
         |SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(tk, tok -> ${hashSql("tok")})),
         |    (acc, h) -> (acc * 31 + h) % $P) AS fp,
         |  CAST(len(tk) AS BIGINT) AS n_tokens
         |FROM toks""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      docs(spark, dir).select($"doc_id",
        TextOps.docFingerprint($"text").as("fp"),
        size(TextOps.tokens($"text")).cast(LongType).as("n_tokens"))
    },

    // ---- TF-IDF: top term per doc (log arithmetic parity) --------------
    Qry(
      "q64_tfidf",
      s"""WITH ${TextOps.oracleToksCte},
         |tf AS (SELECT doc_id, tok, COUNT(*) AS f
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
         |  GROUP BY doc_id, tok),
         |nt AS (SELECT doc_id, len(tk) AS ntok FROM toks),
         |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS d FROM tf GROUP BY 1),
         |ndocs AS (SELECT COUNT(*) AS n FROM documents),
         |scored AS (SELECT tf.doc_id AS doc_id, tf.tok AS tok,
         |    (CAST(f AS DOUBLE) / ntok)
         |      * ln(CAST(n AS DOUBLE) / d) AS tfidf
         |  FROM tf
         |    JOIN nt ON tf.doc_id = nt.doc_id
         |    JOIN df ON tf.tok = df.tok
         |  CROSS JOIN ndocs)
         |SELECT doc_id, tok AS top_term, round(tfidf, 6) AS score
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf DESC, tok) AS rn FROM scored)
         |WHERE rn = 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val toks = docs.select($"doc_id", TextOps.tokens($"text").as("tk"))
      val tf = toks.select($"doc_id", size($"tk").as("ntok"),
          explode($"tk").as("tok"))
        .groupBy($"doc_id", $"tok")
        .agg(count(one).as("f"), first($"ntok").as("ntok"))
      val df = tf.groupBy($"tok".as("dtok"))
        .agg(countDistinct($"doc_id").as("d"))
      // corpus size rides inside the lazy plan (broadcast 1-row agg), not
      // as an eager count() — no extra scan per invocation
      val nDocs = docs.agg(count(one).cast("double").as("__n"))
      val wTop = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"tok")
      tf.join(df, $"tok" === $"dtok")
        .crossJoin(broadcast(nDocs))
        .select($"doc_id", $"tok",
          (($"f".cast("double") / $"ntok") *
            log($"__n" / $"d")).as("tfidf"))
        .withColumn("rn", row_number().over(wTop))
        .filter($"rn" === 1)
        .select($"doc_id", $"tok".as("top_term"),
          round($"tfidf", 6).as("score"))
    },

    // ---- corpus quality filter (training-data selection) ---------------
    Qry(
      "q65_corpus_filter",
      s"""WITH ${TextOps.oracleToksCte}
         |SELECT lang, COUNT(*) AS n_kept,
         |  CAST(SUM(len(tk)) AS BIGINT) AS tok_budget
         |FROM toks
         |WHERE len(tk) >= 10
         |  AND CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) < 0.1e0
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"lang", $"text", TextOps.tokens($"text").as("tk"))
        .filter(size($"tk") >= 10 &&
          (size(regexp_extract_all($"text", lit("[.,!?;:]"), lit(0)))
            .cast("double") / greatest(length($"text"), one)) < 0.1)
        .groupBy($"lang")
        .agg(count(one).as("n_kept"),
          sum(size($"tk").cast(LongType)).as("tok_budget"))
    },

    // ---- greedy near-dup removal (keep lowest doc_id of each pair) -----
    Qry(
      "q66_neardup_dedup",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |${TextOps.oracleShCappedCte(graft.operators.Dedup.DefaultDfCap)},
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
         |drop_list AS (
         |  SELECT DISTINCT b.doc_id AS victim
         |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |    JOIN sizes sa ON a.doc_id = sa.doc_id
         |    JOIN sizes sb ON b.doc_id = sb.doc_id
         |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
         |  HAVING CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*))
         |    >= 0.5e0)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d LEFT JOIN drop_list ON d.doc_id = victim
         |WHERE victim IS NULL""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val victims = graft.operators.Dedup
        .jaccardPairs(
          graft.operators.Dedup.shingleHashes(docs, "doc_id", "text"),
          "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_b".as("victim")).distinct()
      docs.join(victims, $"doc_id" === $"victim", "left_anti")
        .select($"doc_id", $"lang", $"n_chars")
    },

    // Edit-distance fuzzy matching (entity-resolution dedup on
    // identifier-like strings) and the remaining string-function family.
    // ---- fuzzy matching via edit distance ------------------------------
    // Supplier ids differ only in trailing digits, so small Levenshtein
    // radii produce real candidate sets — the entity-resolution shape of
    // dedup (vs. the content-hash shapes in q32/q36-q38).
    //
    // Candidates come from DELETION-NEIGHBORHOOD blocking (the SymSpell
    // scheme): each name emits every variant reachable by deleting <= d=2
    // characters (identity, 1-deletion, 2-deletion; duplicates collapse
    // heavily on repetitive strings). If lev(A,B) <= 2 then deleting the
    // edited positions from each side reaches a COMMON variant, so every
    // qualifying pair shares a variant key — candidate generation is an
    // EQUI-JOIN on the variant, COMPLETE for Levenshtein (subs + indels),
    // then exact levenshtein verifies. Unlike positional-segment or
    // rare-q-gram blocking — which this fixture defeats (the constant
    // "Supplier#0…" region makes those blocks span the whole table) —
    // block sizes here are bounded by how many strings are locally
    // similar (max block 271 at sf0.1), independent of corpus size: the
    // per-string variant count is O(L^d) and candidates scale with the
    // true near-pair count, not n². Assumes non-empty strings (a
    // 0-length name would make sequence(1, length) descend).
    Qry(
      "q69_fuzzy_match",
      """WITH s AS (SELECT s_suppkey AS k, s_name AS nm,
        |    len(s_name) AS L FROM supplier),
        |v AS (SELECT k, nm, unnest(list_distinct(
        |    [nm] ||
        |    list_transform(range(1, L+1),
        |      i -> substr(nm,1,i-1) || substr(nm,i+1,L)) ||
        |    flatten(list_transform(range(1, L), i ->
        |      list_transform(range(i+1, L+1), j ->
        |        substr(nm,1,i-1) || substr(nm,i+1,j-i-1)
        |          || substr(nm,j+1,L)))))) AS var
        |  FROM s),
        |cand AS (SELECT DISTINCT a.k AS ka, b.k AS kb,
        |    a.nm AS na, b.nm AS nb
        |  FROM v a JOIN v b ON a.var = b.var AND a.k < b.k)
        |SELECT levenshtein(na, nb) AS dist, COUNT(*) AS n_pairs
        |FROM cand
        |WHERE levenshtein(na, nb) <= 2
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      graft.operators.Dedup
        .editDistancePairs(Tables(spark, dir).supplier,
          idCol = "s_suppkey", strCol = "s_name", maxDist = 2)
        .groupBy($"dist").agg(count(one).as("n_pairs"))
    },

    // ---- repetition quality (Gopher duplicate-bigram rule) -------------
    // Fraction of duplicated word bigrams per document — the classic
    // boilerplate/repetition filter in training-data curation. Pure
    // per-row array arithmetic (no join, no explode): scales as a map.
    // The flag comparison is integer ((dup·5 ≥ total) ⇔ frac ≥ 0.2) so no
    // boundary row can flip on FP representation.
    Qry(
      "q83_dup_ngrams",
      s"""WITH ${TextOps.oracleToksCte},
         |bg AS (SELECT doc_id,
         |    CAST(len(tk) - 1 AS BIGINT) AS n_bigrams,
         |    CAST(len(list_distinct(list_transform(range(len(tk) - 1),
         |      i -> array_to_string(tk[i+1:i+2], ' ')))) AS BIGINT)
         |      AS n_distinct
         |  FROM toks WHERE len(tk) >= 2)
         |SELECT doc_id, n_bigrams, n_distinct,
         |  round(CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams, 6)
         |    AS dup_frac,
         |  (n_bigrams - n_distinct) * 5 >= n_bigrams AS repetitive
         |FROM bg""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"doc_id", TextOps.tokens($"text").as("tk"))
        .filter(size($"tk") >= 2)
        .select($"doc_id", TextOps.shingles($"tk", 2).as("bg"))
        .select($"doc_id", size($"bg").cast(LongType).as("n_bigrams"),
          size(array_distinct($"bg")).cast(LongType).as("n_distinct"))
        .select($"doc_id", $"n_bigrams", $"n_distinct",
          round(($"n_bigrams" - $"n_distinct").cast(DoubleType) /
            $"n_bigrams", 6).as("dup_frac"),
          (($"n_bigrams" - $"n_distinct") * 5 >= $"n_bigrams")
            .as("repetitive"))
    },

    // ---- corpus top-k tokens by document frequency ---------------------
    // Zipf-head inspection: distinct (doc, token) pairs → per-token df →
    // global top-k. Two hash-agg shuffles on the exploded token stream and
    // a TakeOrdered top-k (no global sort materialization). The (df DESC,
    // token ASC) order is total, so LIMIT is deterministic on both
    // engines.
    Qry(
      "q84_topk_tokens",
      s"""WITH ${TextOps.oracleToksCte},
         |dtok AS (SELECT DISTINCT doc_id, tok FROM
         |  (SELECT doc_id, unnest(tk) AS tok FROM toks))
         |SELECT tok, COUNT(*) AS df
         |FROM dtok GROUP BY 1
         |ORDER BY df DESC, tok LIMIT 20""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .distinct()
        .groupBy($"tok").agg(count(one).as("df"))
        .orderBy($"df".desc, $"tok".asc)
        .limit(20)
    },

    // ---- character-trigram fuzzy matching (pg_trgm shape) --------------
    // Identifier-like strings ("Supplier#000000123") tokenize identically,
    // so word-level shingles (q36) and even SymSpell (q69, bounded radius)
    // miss the "similar id" relation; char-trigram Jaccard is the pg_trgm
    // answer. Common prefix trigrams carry no signal AND would fan the
    // shared-trigram join out quadratically — the df-cap (16 here: every
    // prefix trigram appears in all names) drops them, bounding the join
    // like q36's cap does at corpus scale.
    Qry(
      "q92_char_trigram", {
        val hashG = TextOps.oracleHashSql("g")
        s"""WITH tg AS (
           |  SELECT s_suppkey AS id, $hashG AS h
           |  FROM (SELECT s_suppkey, unnest(list_distinct(
           |      list_transform(range(1, len(s_name) - 1),
           |        i -> substr(s_name, i, 3)))) AS g
           |    FROM supplier WHERE len(s_name) >= 3)),
           |tgc AS (SELECT id, h FROM (
           |  SELECT id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM tg)
           |  WHERE df <= 16),
           |sizes AS (SELECT id, COUNT(*) AS n FROM tgc GROUP BY 1),
           |pairs AS (SELECT a.id AS ia, b.id AS ib, COUNT(*) AS shared
           |  FROM tgc a JOIN tgc b ON a.h = b.h AND a.id < b.id
           |  GROUP BY 1, 2)
           |SELECT ia AS id_a, ib AS id_b, shared, sa.n AS n_a, sb.n AS n_b,
           |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
           |FROM pairs
           |  JOIN sizes sa ON ia = sa.id
           |  JOIN sizes sb ON ib = sb.id
           |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
           |  >= 0.5e0""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      Dedup.jaccardPairs(
          Dedup.charNGramHashes(Tables(spark, dir).supplier,
            "s_suppkey", "s_name", 3),
          "s_suppkey", dfCap = 16)
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b", $"shared", $"n_a", $"n_b", $"jaccard")
    },

    // ---- near-duplicate graph degree histogram -------------------------
    // How entangled is the duplicate graph? Degree distribution over the
    // thresholded Jaccard pair set — the curation signal that separates
    // "pairwise dupes" from "boilerplate hubs". Every stage is a bounded
    // equi-join or hash agg (pairs come df-capped from jaccardPairs).
    Qry(
      "q95_dup_degree_hist",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
         |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges0 AS (SELECT da, db FROM pairs
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5e0),
         |edges AS (SELECT da AS id FROM edges0
         |          UNION ALL SELECT db FROM edges0),
         |deg AS (SELECT id, COUNT(*) AS degree FROM edges GROUP BY 1)
         |SELECT degree, COUNT(*) AS n_nodes
         |FROM deg GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val pairs = Dedup.jaccardPairs(
          Dedup.shingleHashes(Tables(spark, dir).documents, "doc_id", "text"),
          "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b")
      pairs.select($"id_a".as("id"))
        .unionAll(pairs.select($"id_b".as("id")))
        .groupBy($"id").agg(count(one).as("degree"))
        .groupBy($"degree").agg(count(one).as("n_nodes"))
    },

    // C4-style fixed-chunk cross-document dedup and ordered string
    // aggregation.
    // ---- fixed-chunk cross-document duplication (C4 shape) -------------
    // Non-overlapping 8-token chunks; a chunk appearing in more than one
    // document marks boilerplate/contamination (the C4/RefinedWeb line-
    // dedup rule, re-expressed over token chunks because the fixture text
    // has no line structure). Per-doc output: total chunks + how many are
    // corpus-duplicated. Chunking is per-row array arithmetic; the dup
    // set is one hash aggregate; the re-join is an equi-join on chunk —
    // scales exactly like the shingle machinery (and chunk count is L/8,
    // 8× SMALLER than the document stream, vs the 3-gram explosion's 3×
    // larger).
    Qry(
      "q99_chunk_dedup",
      s"""WITH ${TextOps.oracleToksCte},
         |ch AS (SELECT doc_id,
         |    unnest(list_transform(range(0, len(tk) - 7, 8),
         |      i -> array_to_string(tk[i+1:i+8], ' '))) AS chunk
         |  FROM toks WHERE len(tk) >= 8),
         |dup AS (SELECT chunk FROM (
         |    SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |  WHERE df > 1)
         |SELECT c.doc_id, COUNT(*) AS n_chunks,
         |  COUNT(d.chunk) AS n_dup_chunks
         |FROM ch c LEFT JOIN dup d ON c.chunk = d.chunk
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val chunks = Tables(spark, dir).documents
        .select($"doc_id",
          explode(TextOps.strideChunks(TextOps.tokens($"text"), 8))
            .as("chunk"))
      val dup = chunks.groupBy($"chunk")
        .agg(countDistinct($"doc_id").as("df"))
        .filter($"df" > 1)
        .select($"chunk".as("dchunk"))
      chunks.join(dup, $"chunk" === $"dchunk", "left")
        .groupBy($"doc_id")
        .agg(count(one).as("n_chunks"),
          count($"dchunk").as("n_dup_chunks"))
    },

    // ---- per-group mode (most frequent token per language) -------------
    Qry(
      "q102_mode_token",
      s"""WITH ${TextOps.oracleToksCte},
         |tok AS (SELECT lang, unnest(tk) AS tok FROM toks),
         |cnt AS (SELECT lang, tok, COUNT(*) AS n FROM tok GROUP BY 1, 2),
         |r AS (SELECT lang, tok, n, row_number() OVER
         |    (PARTITION BY lang ORDER BY n DESC, tok) AS rn
         |  FROM cnt)
         |SELECT lang, tok AS top_tok, n FROM r WHERE rn = 1""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        // mode = min_by over the (-n, tok) ordering struct: identical
        // tie-break to ORDER BY n DESC, tok (highest count, then
        // lexicographically smallest token) but partial-aggregable — a
        // Window.partitionBy(lang) here would sort the whole (lang, tok,
        // n) table on 5 tasks (one per language) at corpus scale, while
        // min_by folds map-side and exchanges one row per group
        Tables(spark, dir).documents
          .select($"lang", explode(TextOps.tokens($"text")).as("tok"))
          .groupBy($"lang", $"tok").agg(count(one).as("n"))
          .groupBy($"lang")
          .agg(min_by(struct($"tok", $"n"), struct((-$"n").as("nn"), $"tok"))
            .as("m"))
          .select($"lang", $"m.tok".as("top_tok"), $"m.n".as("n"))
    },

    // ---- MinHash estimate vs exact Jaccard -----------------------------
    // For every true near-dup pair (exact J >= 0.5), emit the exact
    // Jaccard AND the K=16 signature-agreement count. Signatures are
    // deterministic (shared md5 hash + modpow coefficient family — see
    // TextOps.aParam), so n_match is gate-checked EXACTLY at any scale;
    // the statistical quality claim (estimate within 0.3 of exact, the
    // binomial-noise budget for K=16) lives in OperatorsSpec at fixture
    // scale, where it is a property of the coefficient family rather
    // than a per-pair oracle assertion — at corpus scale some pair
    // always sits in the binomial tail (observed at 10x: 1 of 250k
    // pairs), which is estimator honesty, not a defect. BOTH the exact
    // pair join and the signatures run over the df-CAPPED shingle space
    // — identical results at fixture scale (max df 25 << 256) and a
    // bounded join at corpus scale.
    Qry(
      "q103_minhash_estimate", {
        val K = 16
        val minCols = (0 until K).map(i =>
          s"min((h * ${TextOps.aParam(i)} + ${TextOps.bParam(i)}) " +
            s"% ${TextOps.P}) AS m$i").mkString(", ")
        val matchSum = (0 until K).map(i =>
          s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
           |sig AS (SELECT doc_id, $minCols FROM shc GROUP BY doc_id),
           |ex AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
           |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
           |exact AS (SELECT da, db,
           |    CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS j
           |  FROM ex JOIN sizes sa ON da = sa.doc_id
           |    JOIN sizes sb ON db = sb.doc_id
           |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
           |    >= 0.5e0)
           |SELECT da AS doc_a, db AS doc_b, round(j, 6) AS jaccard,
           |  CAST($matchSum AS BIGINT) AS n_match
           |FROM exact
           |  JOIN sig sa ON da = sa.doc_id
           |  JOIN sig sb ON db = sb.doc_id""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val K = 16
      // ONE staged leaf feeds every consumer (exact-pair self-join ×2
      // sides + signatures): countedShingles stages the raw shingle
      // pipeline once and keeps the df-cap semi-join + size attach lazy
      // above it; the signature aggregate ignores the extra __n column.
      val shc = Dedup.countedShingles(
        Dedup.shingleHashes(Tables(spark, dir).documents, "doc_id", "text"),
        "doc_id")
      val exact = Dedup.jaccardPairsFromCounted(shc, "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b", $"jaccard")
      val sig = Dedup.minhashSignatures(shc, "doc_id", "h", K)
      val sa = sig.select($"doc_id".as("ka") +:
        (0 until K).map(i => col(s"m$i").as(s"a$i")): _*)
      val sb = sig.select($"doc_id".as("kb") +:
        (0 until K).map(i => col(s"m$i").as(s"b$i")): _*)
      val nMatch = (0 until K).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      exact.join(sa, $"id_a" === $"ka").join(sb, $"id_b" === $"kb")
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b"),
          round($"jaccard", 6).as("jaccard"),
          nMatch.cast("long").as("n_match"))
    },

    // Training-data-pipeline operators over the documents corpus plus
    // robust time-series analytics: sequence packing, test-set
    // decontamination, per-source quality quotas, character-entropy quality
    // scoring, daily-count autocorrelation, and max drawdown.
    // ---- sequence packing (context-window bin assignment) --------------
    // The pre-training batching step: concatenate documents in a stable
    // order (doc_id) and cut the token stream into 2048-token context
    // windows; a document belongs to the window its FIRST token lands in.
    // Continuous-fill packing (documents may straddle a boundary), so the
    // whole assignment is one running sum + an integer division — one
    // shuffle on the partition key, no iteration. Partitioned per lang:
    // packing parallelizes across corpus shards exactly like this at
    // 100 TB (global packing order is a per-shard contract, not a global
    // sort).
    Qry(
      "q106_pack_bins",
      s"""WITH ${TextOps.oracleToksCte},
         |d AS (SELECT lang, doc_id, len(tk) AS ntok FROM toks),
         |c AS (SELECT lang, doc_id, ntok,
         |    CAST(SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM d)
         |SELECT lang, CAST((cum - ntok) // 2048 AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS tok_sum,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"lang").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(spark, dir).documents
        .select($"lang", $"doc_id",
          size(TextOps.tokens($"text")).as("ntok"))
        .withColumn("cum", sum($"ntok").over(w))
        .withColumn("bin", expr("(cum - ntok) div 2048"))
        .groupBy($"lang", $"bin")
        .agg(count(one).as("n_docs"), sum($"ntok").as("tok_sum"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
    },

    // ---- test-set decontamination (held-out n-gram overlap) ------------
    // The eval-leakage sweep: any training document sharing an 8-token
    // chunk with the held-out set (here: doc_id % 97 == 0) is flagged.
    // Chunks are hashed (shuffle carries a long, not a string) and the
    // overlap test is a semi-join on the hash — the same bounded
    // equi-join shape as the dedup family, never an all-pairs scan.
    // Chunk-grain (not shingle-grain) keeps the per-doc key count at
    // L/8, so the candidate index stays ~8x smaller than the corpus.
    Qry(
      "q107_decontam",
      s"""WITH ${TextOps.oracleToksCte},
         |ch AS (SELECT DISTINCT doc_id, lang,
         |    ${TextOps.oracleHashSql("chunk")} AS h
         |  FROM (SELECT doc_id, lang,
         |      unnest(list_transform(range(0, len(tk) - 7, 8),
         |        i -> array_to_string(tk[i+1:i+8], ' '))) AS chunk
         |    FROM toks WHERE len(tk) >= 8)),
         |test AS (SELECT DISTINCT h FROM ch WHERE doc_id % 97 = 0),
         |contam AS (SELECT DISTINCT c.doc_id, c.lang
         |  FROM ch c JOIN test ON c.h = test.h
         |  WHERE c.doc_id % 97 <> 0),
         |cc AS (SELECT lang, COUNT(*) AS n_contam FROM contam GROUP BY 1),
         |tr AS (SELECT lang, COUNT(*) AS n_train FROM documents
         |  WHERE doc_id % 97 <> 0 GROUP BY 1)
         |SELECT tr.lang, tr.n_train,
         |  CAST(COALESCE(cc.n_contam, 0) AS BIGINT) AS n_contam
         |FROM tr LEFT JOIN cc ON tr.lang = cc.lang""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val docs = Tables(spark, dir).documents
        val ch = docs
          .select($"doc_id", $"lang",
            explode(TextOps.strideChunks(TextOps.tokens($"text"), 8))
              .as("chunk"))
          .select($"doc_id", $"lang", TextOps.hashMod($"chunk").as("h"))
          .distinct()
        val test = ch.filter($"doc_id" % 97 === 0).select($"h").distinct()
        val contam = ch.filter($"doc_id" % 97 =!= 0)
          .join(test, Seq("h"), "left_semi")
          .select($"doc_id", $"lang").distinct()
          .groupBy($"lang").agg(count(one).as("n_contam"))
        docs.filter($"doc_id" % 97 =!= 0)
          .groupBy($"lang").agg(count(one).as("n_train"))
          .join(contam, Seq("lang"), "left")
          .select($"lang", $"n_train",
            coalesce($"n_contam", lit(0L)).as("n_contam"))
    },

    // ---- per-source quality quota --------------------------------------
    // Domain balancing: keep the top half (by length, doc_id tiebreak) of
    // every source's documents — the quota is DYNAMIC (ceil(n/2) per
    // source), so the rank comparison rides on a window count instead of
    // a constant k. Integer comparison (rn*2 <= n+1 ⇔ rn <= ceil(n/2)):
    // no boundary row can flip on FP representation.
    Qry(
      "q108_source_quota",
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n_total
        |  FROM documents)
        |SELECT source, CAST(MAX(n_total) AS BIGINT) AS n_total,
        |  COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        |FROM r WHERE rn * 2 <= n_total + 1
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val wOrd = Window.partitionBy($"source")
        .orderBy($"n_chars".desc, $"doc_id")
      val wAll = Window.partitionBy($"source")
      Tables(spark, dir).documents
        .select($"source", $"doc_id", $"n_chars")
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n_total", count(one).over(wAll))
        .filter($"rn" * 2 <= $"n_total" + 1)
        .groupBy($"source")
        .agg(max($"n_total").as("n_total"), count(one).as("n_kept"),
          sum($"n_chars").as("kept_chars"))
    },

    // ---- character-entropy quality score -------------------------------
    // Shannon entropy of the per-document character distribution — the
    // cheap gibberish/boilerplate detector (near-zero entropy = repeated
    // filler; near-log2(alphabet) = noise). H = log2(L) − (Σ c·ln c)/L/ln 2
    // so the only aggregate is Σ c·ln(c), routed through the decimal
    // accumulator (a raw double sum is partial-order-dependent). The char
    // explode is linear in corpus size and pre-aggregates map-side.
    Qry(
      "q109_char_entropy",
      s"""WITH ch AS (SELECT doc_id, lang, len(text) AS l,
         |    unnest(list_transform(range(1, len(text) + 1),
         |      i -> text[i:i])) AS c
         |  FROM documents WHERE len(text) > 0),
         |cnt AS (SELECT doc_id, lang, l, c, COUNT(*) AS n
         |  FROM ch GROUP BY 1, 2, 3, 4),
         |e AS (SELECT doc_id, lang, l,
         |    ${dsumSql("CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))")} AS s
         |  FROM cnt GROUP BY 1, 2, 3)
         |SELECT doc_id, lang, CAST(l AS BIGINT) AS n_chars_text,
         |  round((ln(CAST(l AS DOUBLE)) - s / l) / ln(2.0e0), 6) AS entropy
         |FROM e""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .filter(length($"text") > 0)
        .select($"doc_id", $"lang", length($"text").cast("long").as("l"),
          explode(expr(
            "transform(sequence(1, length(text)), i -> substring(text, i, 1))"))
            .as("c"))
        .groupBy($"doc_id", $"lang", $"l", $"c").agg(count(one).as("n"))
        .groupBy($"doc_id", $"lang", $"l")
        .agg(dsum($"n".cast("double") * log($"n".cast("double"))).as("s"))
        .select($"doc_id", $"lang", $"l".as("n_chars_text"),
          round((log($"l".cast("double")) - $"s" / $"l") / log(lit(2.0e0)), 6)
            .as("entropy"))
    },

    // Canonical-document selection over dup clusters, ORC format
    // round-trip, partition-pruned reads, and a count-min sketch with exact
    // cross-engine parity.
    // ---- canonical-document selection per duplicate cluster ------------
    // The step a dedup pipeline actually ships: collapse each near-dup
    // cluster (q74's components) to its best member — longest text,
    // doc_id as the tiebreak. The comparand is an exact BIGINT
    // (n_chars·1e7 − doc_id: doc_id < 1e7 at every SF, so length strictly
    // dominates and the tiebreak is collision-free), making the winner
    // engine-independent. One extra equi-join + hash agg over q74's
    // cluster output.
    Qry(
      "q122_keep_best",
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
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |cc AS (SELECT src AS member, MIN(dst) AS component
         |  FROM reach GROUP BY 1)
         |SELECT component,
         |  arg_max(member, n_chars * 10000000 - member) AS kept_doc,
         |  COUNT(*) AS n_members, COUNT(*) - 1 AS n_dropped,
         |  CAST(MAX(n_chars) AS BIGINT) AS kept_chars
         |FROM cc JOIN documents ON member = doc_id
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val pairs = Dedup.jaccardPairs(
          Dedup.shingleHashes(docs, "doc_id", "text"), "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b")
      ConnectedComponents.minLabel(pairs, "id_a", "id_b")
        .select($"id".as("member"), $"component")
        .join(docs.select($"doc_id", $"n_chars"),
          $"member" === $"doc_id")
        .groupBy($"component")
        .agg(max_by($"member", $"n_chars" * 10000000L - $"member")
          .as("kept_doc"),
          count(one).as("n_members"),
          (count(one) - 1).as("n_dropped"),
          max($"n_chars").as("kept_chars"))
    },

    // The end-to-end curation funnel — the capstone composition of the
    // training-data pipeline.
    // ---- corpus curation funnel ----------------------------------------
    // The whole pipeline as one report row per language: raw docs →
    // quality filter (q65's rule) → near-dup removal among the quality
    // survivors (q66's greedy keep-lowest-id over df-capped shingles) →
    // final doc count and token budget. Every stage reuses the library
    // operator, so the funnel is the integration test of the pipeline
    // composition (filters push into the shingle machinery; the dedup
    // join runs over the ALREADY-FILTERED corpus).
    Qry(
      "q143_curation_funnel",
      s"""WITH ${TextOps.oracleToksCte},
         |q AS (SELECT doc_id, lang, tk FROM toks
         |  WHERE len(tk) >= 10
         |    AND CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |      / greatest(length(text), 1) < 0.1e0),
         |sh AS (SELECT doc_id, ${TextOps.oracleHashSql("sh")} AS h
         |  FROM (SELECT doc_id,
         |          unnest(list_distinct(list_transform(range(len(tk) - 2),
         |            i -> array_to_string(tk[i+1:i+3], ' ')))) AS sh
         |        FROM q WHERE len(tk) >= 3)),
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
         |drop_list AS (
         |  SELECT DISTINCT b.doc_id AS victim
         |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |    JOIN sizes sa ON a.doc_id = sa.doc_id
         |    JOIN sizes sb ON b.doc_id = sb.doc_id
         |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
         |  HAVING CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*))
         |    >= 0.5e0),
         |tot AS (SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY 1),
         |fin AS (SELECT q.lang, COUNT(*) AS n_quality,
         |    CAST(SUM(CASE WHEN victim IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_final,
         |    CAST(SUM(CASE WHEN victim IS NULL THEN len(tk) ELSE 0 END)
         |      AS BIGINT) AS tok_budget
         |  FROM q LEFT JOIN drop_list ON q.doc_id = victim
         |  GROUP BY 1)
         |SELECT tot.lang, tot.n_raw, fin.n_quality, fin.n_final,
         |  fin.tok_budget
         |FROM tot JOIN fin ON tot.lang = fin.lang""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val docs = Tables(spark, dir).documents
        val q = docs
          .select($"doc_id", $"lang", $"text",
            TextOps.tokens($"text").as("tk"))
          .filter(size($"tk") >= 10 &&
            (size(regexp_extract_all($"text", lit("[.,!?;:]"), lit(0)))
              .cast("double") / greatest(length($"text"), one)) < 0.1)
        val victims = Dedup
          .jaccardPairs(Dedup.shingleHashes(
            q.select($"doc_id", $"text"), "doc_id", "text"), "doc_id")
          .filter($"jaccard" >= 0.5)
          .select($"id_b".as("victim")).distinct()
        val fin = q.join(victims, $"doc_id" === $"victim", "left")
          .groupBy($"lang")
          .agg(count(one).as("n_quality"),
            sum(when($"victim".isNull, 1L).otherwise(0L)).as("n_final"),
            sum(when($"victim".isNull, size($"tk").cast("long"))
              .otherwise(0L)).as("tok_budget"))
        docs.groupBy($"lang").agg(count(one).as("n_raw"))
          .join(fin, Seq("lang"))
          .select($"lang", $"n_raw", $"n_quality", $"n_final",
            $"tok_budget")
    },

    // Deterministic corpus splitting — the train/val/test assignment and
    // reproducible shuffle order every training-data pipeline needs
    // downstream of curation. Both are content-hash driven
    // (TextOps.hashMod, md5-parity with the DuckDB oracle), so the
    // assignment is a pure function of the document text: stable across
    // runs, machines, and repartitionings, and immune to input file order —
    // the property that makes a 100 TB split auditable.
    // ---- deterministic train/val/test split + shuffle-order heads ------
    // Assignment: hash(text) range-partitioned 80/10/10. Output: per-split
    // volume plus the first 5 documents of each split in shuffle order
    // (ORDER BY hash, doc_id — the reproducible "epoch order"). Scale
    // shape: the heads ride Spark's rank-limit pushdown (WindowGroupLimit
    // keeps a partial top-5 per input partition BEFORE the 3-key
    // exchange), and the 3-row count table broadcasts back onto them —
    // the full corpus is never sorted or skew-collected.
    Qry(
      "q150_corpus_split",
      s"""WITH s AS (SELECT doc_id,
         |    ${TextOps.oracleHashSql("text")} AS h FROM documents),
         |sp AS (SELECT doc_id, h,
         |    CASE WHEN h < $TrainBound THEN 'train'
         |         WHEN h < $ValBound THEN 'val'
         |         ELSE 'test' END AS split FROM s),
         |c AS (SELECT split, COUNT(*) AS n_split FROM sp GROUP BY split),
         |r AS (SELECT split, doc_id, h,
         |    row_number() OVER (PARTITION BY split
         |      ORDER BY h, doc_id) AS rn FROM sp)
         |SELECT r.split, rn, doc_id, h, n_split
         |FROM r JOIN c ON r.split = c.split WHERE rn <= 5""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val sp = Tables(spark, dir).documents
        .select($"doc_id", TextOps.hashMod($"text").as("h"))
        .withColumn("split",
          when($"h" < TrainBound, "train")
            .when($"h" < ValBound, "val")
            .otherwise("test"))
      val counts = sp.groupBy($"split").agg(count(lit(1)).as("n_split"))
      val heads = sp
        .withColumn("rn", row_number().over(
          Window.partitionBy($"split").orderBy($"h", $"doc_id")))
        .filter($"rn" <= 5)
      heads.join(broadcast(counts), "split")
        .select($"split", $"rn", $"doc_id", $"h", $"n_split")
    },

    // PII scrubbing — the redaction pass every public-web training corpus
    // runs before anything else sees the text (emails, phone numbers, IP
    // addresses → typed placeholder tokens).
    //
    // The fixture corpus is synthetic word soup with no real PII, so the
    // query first INJECTS deterministic PII derived from `doc_id` — the
    // same expression on the Spark and DuckDB sides, so the scrubber is
    // exercised against real positives and the oracle still closes. The
    // regexes stay inside the RE2 subset (no backrefs, no lookaround) so
    // the Java and DuckDB engines cannot disagree on what matches.
    //
    // Scale shape: one scan, row-local projection + filter, no shuffle, no
    // UDF — `regexp_replace`/`regexp_count` are codegen'd built-ins, so the
    // whole redaction pass rides a single WholeStageCodegen over the corpus.
    // At 100 TB this is the embarrassing-parallel ideal: bytes in, bytes
    // out, zero exchanges (the ORDER BY here exists only for the oracle's
    // deterministic hash compare).
    // ---- PII injection + redaction ------------------------------------
    // doc_id % 3 == 0 → an email is appended; doc_id % 3 == 1 → a phone
    // and an IPv4; doc_id % 3 == 2 → untouched. ALL documents are
    // emitted: the untouched third must come out with zero counts and
    // clean_md5 == md5(text), so false positives on clean text fail the
    // oracle hash. (A WHERE on the computed counts would also get pushed
    // below the projection and re-evaluate every regex twice — emitting
    // the full corpus keeps the plan one scan → one project chain.)
    // The md5 of the redacted text pins the exact byte-level
    // replacement, not just the match counts.
    Qry(
      "q151_pii_redact",
      s"""WITH inj AS (SELECT doc_id, source, CASE
         |    WHEN doc_id % 3 = 0 THEN text || ' contact user' || doc_id ||
         |      '@mail.example.com now'
         |    WHEN doc_id % 3 = 1 THEN text || ' call +1-555-' ||
         |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |      ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
         |    ELSE text END AS text2 FROM documents),
         |red AS (SELECT doc_id, source,
         |    len(regexp_extract_all(text2, '$EmailRe')) AS n_emails,
         |    len(regexp_extract_all(text2, '$PhoneRe')) AS n_phones,
         |    regexp_replace(regexp_replace(regexp_replace(
         |      text2, '$EmailRe', '<EMAIL>', 'g'),
         |      '$PhoneRe', '<PHONE>', 'g'),
         |      '$IpRe', '<IP>', 'g') AS clean FROM inj)
         |SELECT doc_id, source, n_emails, n_phones,
         |  len(regexp_extract_all(clean, '<IP>')) AS n_ips,
         |  md5(clean) AS clean_md5, length(clean) AS clean_len
         |FROM red""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val injected = Tables(spark, dir).documents.select($"doc_id", $"source",
        when($"doc_id" % 3 === 0,
          concat($"text", lit(" contact user"), $"doc_id".cast("string"),
            lit("@mail.example.com now")))
          .when($"doc_id" % 3 === 1,
            concat($"text", lit(" call +1-555-"),
              lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
              lit(" from 10."), ($"doc_id" % 256).cast("string"),
              lit(".0."), ($"doc_id" % 100).cast("string")))
          .otherwise($"text").as("text2"))
      injected
        .select($"doc_id", $"source",
          Pii.emailCount($"text2").as("n_emails"),
          Pii.phoneCount($"text2").as("n_phones"),
          Pii.redact($"text2").as("clean"))
        .select($"doc_id", $"source", $"n_emails", $"n_phones",
          regexp_count($"clean", lit("<IP>")).as("n_ips"),
          md5($"clean").as("clean_md5"),
          length($"clean").as("clean_len"))
    },

    // Corpus manifest (q154): the dataset-card fingerprint — per-stratum
    // counts, sizes, and an order-independent content checksum, so a
    // corpus version is verifiable with one cheap aggregate.
    // ---- corpus manifest / dataset fingerprint -------------------------
    // The versioning record a dataset card carries per (source, lang)
    // stratum: document count, total characters, id range, and an
    // ORDER-INDEPENDENT content fingerprint — the sum of per-document
    // content hashes. Commutative + partial-aggregable, so the
    // fingerprint is reproducible across any partitioning or input file
    // order, and two corpus versions diff by comparing 30-odd rows. One
    // scan, one partial+final aggregate; at 100 TB it costs what a
    // count(*) costs.
    Qry(
      "q154_corpus_manifest",
      s"""SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
         |  MIN(doc_id) AS id_lo, MAX(doc_id) AS id_hi,
         |  CAST(SUM(${TextOps.oracleHashSql("text")}) AS BIGINT)
         |    AS content_fp
         |FROM documents GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).documents
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("chars_total"),
          min($"doc_id").as("id_lo"), max($"doc_id").as("id_hi"),
          sum(TextOps.hashMod($"text")).as("content_fp"))
    },

    // Mixture-weight upsampling (q155): materializing a training mix
    // from per-source epoch weights (the dataset-card "sampling
    // proportion" column). Integer part of the weight = guaranteed
    // copies; fractional part = a deterministic per-document Bernoulli
    // draw keyed on content hash, so the realized mix is reproducible
    // across runs, partitionings, and engines — no RNG state anywhere.
    // ---- mixture-weight upsampling ------------------------------------
    // One scan → map-side weight lookup + hash draw → explode to
    // `n_copies` rows per kept document. Weights < 1.0 downsample (the
    // draw keeps a deterministic wm/1000 fraction); weights > 1.0 emit
    // floor(w) copies plus the fractional draw. copy_idx makes each
    // replica addressable (shuffling/sharding downstream shards by
    // (doc_id, copy_idx), not doc_id, so replicas spread). At 100 TB
    // this is pure map-side row generation — no shuffle, no state; the
    // explode multiplies bytes by the mix factor exactly where a writer
    // would re-emit the document.
    Qry(
      "q155_epoch_upsample", {
        val caseArms = MixMilli.map { case (s, w) =>
          s"WHEN '$s' THEN $w" }.mkString(" ")
        s"""WITH w AS (SELECT doc_id, source,
           |    CASE source $caseArms ELSE 1000 END AS wm,
           |    ${TextOps.oracleHashSql("text")} AS hv
           |  FROM documents),
           |r AS (SELECT doc_id, source,
           |    wm // 1000
           |      + CASE WHEN hv % 1000 < wm % 1000 THEN 1 ELSE 0 END
           |      AS rep
           |  FROM w)
           |SELECT doc_id, source, CAST(i AS BIGINT) AS copy_idx,
           |  CAST(rep AS BIGINT) AS n_copies
           |FROM (SELECT doc_id, source, rep,
           |        unnest(generate_series(1, rep)) AS i
           |      FROM r)""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val wm = coalesce(
        element_at(typedLit(MixMilli.toMap), $"source"), lit(1000))
      Tables(spark, dir).documents
        .select($"doc_id", $"source", wm.as("wm"),
          TextOps.hashMod($"text").as("hv"))
        .withColumn("rep",
          ($"wm".cast(LongType) / 1000).cast(LongType) +
            when($"hv" % 1000 < $"wm" % 1000, 1L).otherwise(0L))
        // rep = 0 (downsampled out) must NOT reach sequence(): Spark's
        // sequence(1, 0) yields a DESCENDING [1, 0], not empty. A
        // `.filter(rep >= 1)` instead of the when-guard gets pushed
        // below the projection and re-evaluates the md5 in the Filter
        // AND the Project (q151's expensive-expression pushdown tax,
        // verified in this query's first plan dump); the null branch
        // is dropped by non-outer explode for free.
        .select($"doc_id", $"source",
          explode(when($"rep" >= 1, sequence(lit(1L), $"rep")))
            .as("copy_idx"),
          $"rep".as("n_copies"))
    },

    // Incremental (delta) dedup (q156): deduplicating an INCOMING batch
    // against an existing corpus without ever self-joining the corpus —
    // the production shape of crawl ingestion, where the corpus's
    // MinHash band index is precomputed and only the delta's bands
    // probe it. Complements q37 (corpus×corpus candidate pairs) and
    // q74 (full clustering): here the corpus is read-only and the
    // output is a keep/drop verdict per new document.
    // ---- incremental (delta) dedup against an existing corpus ---------
    // The corpus side contributes ONLY its band index (one hash
    // aggregate + band explode — at production scale this is a stored
    // table maintained by ingestion, not recomputed); the incoming
    // batch's bands probe it with a semi-join shape and each new doc
    // gets a keep/drop verdict. No corpus×corpus pair is ever formed,
    // so cost is O(corpus bands) + O(delta × bucket width) — the
    // asymmetry that makes daily crawl dedup feasible where q74's full
    // clustering would be a weekly batch job. The delta's matched-id
    // set is tiny → broadcast back against the batch for the verdict
    // column.
    Qry(
      "q156_delta_dedup", {
        val minCols = (0 until K).map(i =>
          s"min((h * ${TextOps.aParam(i)} + ${TextOps.bParam(i)}) % $P) AS m$i")
          .mkString(", ")
        val bandSelects = (0 until B).map { b =>
          val ks = (0 until R).map(r => s"m${b * R + r}").mkString(", ")
          s"SELECT doc_id, $b AS band_idx, concat_ws(':', $ks) AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |sig AS (SELECT doc_id, $minCols FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |newb AS (SELECT * FROM banded
           |         WHERE doc_id % $DeltaMod = $DeltaRem),
           |corpb AS (SELECT * FROM banded
           |          WHERE doc_id % $DeltaMod <> $DeltaRem),
           |dup AS (SELECT DISTINCT n.doc_id FROM newb n JOIN corpb c
           |        ON n.band_idx = c.band_idx AND n.band_key = c.band_key)
           |SELECT d.doc_id, d.lang, d.source,
           |  CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
           |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
           |WHERE d.doc_id % $DeltaMod = $DeltaRem""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val d = Tables(spark, dir).documents
      val sh = Dedup.shingleHashes(d, "doc_id", "text")
      val sig = Dedup.minhashSignatures(sh, "doc_id", "h", K)
      val banded = Dedup.lshBands(sig, "doc_id", B, R)
      val isDelta = col("doc_id") % DeltaMod === DeltaRem
      val corpB = banded.filter(!isDelta)
        .select($"band_idx".as("ci"), $"band_key".as("ck"))
      val dupIds = banded.filter(isDelta)
        .join(corpB, $"band_idx" === $"ci" && $"band_key" === $"ck",
          "left_semi")
        .select($"doc_id".as("dup_id")).distinct()
      d.filter(isDelta)
        .join(broadcast(dupIds), $"doc_id" === $"dup_id", "left_outer")
        .select($"doc_id", $"lang", $"source",
          when($"dup_id".isNotNull, 1).otherwise(0).as("is_dup"))
    },

    // Cross-split leakage audit (q157): before a corpus version ships,
    // verify no eval-split document has a NEAR-duplicate in train —
    // exact duplicates can never leak (identical text hashes to the
    // same split), so the q150 content-hash split is already exact-dup
    // safe and the residual risk is precisely the near-dup kind this
    // query hunts with the q37 MinHash geometry.
    // ---- cross-split near-dup leakage audit ---------------------------
    // Eval-side (val+test) bands probe the train-side bands; candidates
    // are verified against the full signatures (>= K/2 matching
    // min-hashes, est Jaccard >= 0.5) and rolled up per leaked eval
    // doc. The corpus is banded ONCE (one staged signature frame feeds
    // both sides, as in q156) and train never self-joins. At 100 TB
    // `split` is a stored column of the corpus table (the q150
    // assignment is pure map-side), the train band index is the same
    // stored table q156 probes, and the verdict join shuffles on
    // (band_idx, band_key) — bounded by bucket width, never all-pairs.
    Qry(
      "q157_split_leakage", {
        val minCols = (0 until K).map(i =>
          s"min((h * ${TextOps.aParam(i)} + ${TextOps.bParam(i)}) % $P) AS m$i")
          .mkString(", ")
        val bandSelects = (0 until B).map { b =>
          val ks = (0 until R).map(r => s"m${b * R + r}").mkString(", ")
          s"SELECT doc_id, $b AS band_idx, concat_ws(':', $ks) AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        val matchSum = (0 until K).map(i =>
          s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |sig AS (SELECT doc_id, $minCols FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |sp AS (SELECT doc_id,
           |    ${TextOps.oracleHashSql("text")} AS h FROM documents),
           |spl AS (SELECT doc_id, $splitSqlCase AS split FROM sp),
           |bsp AS (SELECT b.doc_id, b.band_idx, b.band_key, s.split
           |        FROM banded b JOIN spl s ON b.doc_id = s.doc_id),
           |cand AS (SELECT DISTINCT e.doc_id AS eid, e.split AS esplit,
           |           tr.doc_id AS tid
           |         FROM (SELECT * FROM bsp WHERE split <> 'train') e
           |         JOIN (SELECT * FROM bsp WHERE split = 'train') tr
           |           ON e.band_idx = tr.band_idx
           |          AND e.band_key = tr.band_key),
           |ver AS (SELECT eid, esplit, tid, $matchSum AS n_match
           |        FROM cand c
           |          JOIN sig sa ON c.eid = sa.doc_id
           |          JOIN sig sb ON c.tid = sb.doc_id)
           |SELECT eid AS doc_id, esplit AS split,
           |  COUNT(*) AS n_leaks,
           |  CAST(MAX(n_match) AS DOUBLE) / $K AS worst_est
           |FROM ver WHERE n_match >= ${K / 2}
           |GROUP BY 1, 2""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val d = Tables(spark, dir).documents
      val spl = d.select($"doc_id",
        splitCol(TextOps.hashMod($"text")).as("split"))
      val sig = Dedup.minhashSignatures(
        Dedup.shingleHashes(d, "doc_id", "text"), "doc_id", "h", K)
      val bsp = Dedup.lshBands(sig, "doc_id", B, R).join(spl, "doc_id")
      val evalB = bsp.filter($"split" =!= "train")
        .select($"doc_id".as("eid"), $"split".as("esplit"),
          $"band_idx", $"band_key")
      val trainB = bsp.filter($"split" === "train")
        .select($"doc_id".as("tid"), $"band_idx".as("bi2"),
          $"band_key".as("bk2"))
      val cand = evalB.join(trainB,
          $"band_idx" === $"bi2" && $"band_key" === $"bk2")
        .select($"eid", $"esplit", $"tid").distinct()
      val sa = sig.select($"doc_id".as("ka") +:
        (0 until K).map(i => col(s"m$i").as(s"a$i")): _*)
      val sb = sig.select($"doc_id".as("kb") +:
        (0 until K).map(i => col(s"m$i").as(s"b$i")): _*)
      val nMatch = (0 until K).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      cand.join(sa, $"eid" === $"ka").join(sb, $"tid" === $"kb")
        .select($"eid", $"esplit", nMatch.as("n_match"))
        .filter($"n_match" >= K / 2)
        .groupBy($"eid", $"esplit")
        .agg(count(lit(1)).as("n_leaks"),
          (max($"n_match").cast("double") / K).as("worst_est"))
        .select($"eid".as("doc_id"), $"esplit".as("split"),
          $"n_leaks", $"worst_est")
    },

    // Char-trigram LM quality score (q158): the CCNet-style "train a
    // small LM on trusted text, score candidates by perplexity"
    // filter, with a trigram character model in place of the 5-gram
    // KenLM — same pipeline shape (model = a broadcastable count
    // table, scoring = one map-side pass + per-doc rollup), fully
    // oracle-checkable because the model is a deterministic aggregate
    // of the train split rather than an opaque binary.
    // ---- char-trigram LM perplexity scoring ---------------------------
    // Model: trigram conditional P(c3 | c1c2) with add-one smoothing
    // over the train split's third-character alphabet, all derived as
    // aggregates of the train text (no RNG, no opaque artifact — the
    // "LM" is two count tables plus one scalar). Score: mean negative
    // log-likelihood per eval-doc trigram; high avg_nll = unlike the
    // training distribution (the CCNet keep/drop signal). Scale shape:
    // the model tables are bounded by alphabet^3 regardless of corpus
    // size → broadcast; scoring is one map-side explode + two
    // broadcast lookups + a per-doc partial+final rollup. The nll sum
    // routes through the decimal accumulator (Exact.dsum) so the
    // per-doc mean is order-independent and hash-matches the oracle.
    Qry(
      "q158_trigram_lm_score",
      s"""WITH sp AS (SELECT doc_id, text,
         |    ${TextOps.oracleHashSql("text")} AS h FROM documents),
         |spl AS (SELECT doc_id, text, $splitSqlCase AS split FROM sp),
         |trn AS (SELECT unnest(list_transform(range(1, len(text) - 1),
         |      i -> substr(text, i, 3))) AS g
         |  FROM spl WHERE split = 'train'),
         |tc AS (SELECT g, COUNT(*) AS c FROM trn GROUP BY 1),
         |pc AS (SELECT substr(g, 1, 2) AS p, SUM(c) AS pcnt
         |       FROM tc GROUP BY 1),
         |v AS (SELECT COUNT(DISTINCT substr(g, 3, 1)) AS vsz FROM tc),
         |ev AS (SELECT doc_id, split,
         |    unnest(list_transform(range(1, len(text) - 1),
         |      i -> substr(text, i, 3))) AS g
         |  FROM spl WHERE split <> 'train'),
         |sc AS (SELECT e.doc_id, e.split,
         |    -ln((COALESCE(tc.c, 0) + 1.0) / (COALESCE(pc.pcnt, 0) + vsz))
         |      AS nll
         |  FROM ev e
         |    LEFT JOIN tc ON e.g = tc.g
         |    LEFT JOIN pc ON substr(e.g, 1, 2) = pc.p
         |    CROSS JOIN v)
         |SELECT doc_id, split, COUNT(*) AS n_tri,
         |  ${dsumSql("nll")} / COUNT(*) AS avg_nll
         |FROM sc GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val spl = Tables(spark, dir).documents
        .select($"doc_id", $"text",
          splitCol(TextOps.hashMod($"text")).as("split"))
      // explode guard: sequence(1, len-2) DESCENDS for len < 3 — the
      // when-null branch is dropped by non-outer explode (q155 pattern)
      def triExplode = explode(when(length($"text") >= 3, expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")))
      val trn = spl.filter($"split" === "train")
        .select(triExplode.as("g"))
      val tc = trn.groupBy($"g").agg(count(lit(1)).as("c"))
      val pc = tc.groupBy(substring($"g", 1, 2).as("p"))
        .agg(sum($"c").as("pcnt"))
      val v = tc.agg(
        countDistinct(substring($"g", 3, 1)).as("vsz"))
      spl.filter($"split" =!= "train")
        .select($"doc_id", $"split", triExplode.as("g"))
        .join(broadcast(tc), Seq("g"), "left_outer")
        .join(broadcast(pc), substring($"g", 1, 2) === $"p", "left_outer")
        .crossJoin(broadcast(v))
        .select($"doc_id", $"split",
          (-log((coalesce($"c", lit(0L)) + lit(1.0)) /
            (coalesce($"pcnt", lit(0L)) + $"vsz"))).as("nll"))
        .groupBy($"doc_id", $"split")
        .agg(count(lit(1)).as("n_tri"),
          (dsum($"nll") / count(lit(1))).as("avg_nll"))
    },

    // Near-dup source attribution (q161): WHICH sources duplicate each
    // other — the q36 pair list rolled up to a source×source matrix.
    // This is the diagnostic a curation team reads before dropping a
    // crawl: a source pair with high dup mass means one of the two is
    // redundant, high self-mass means the source re-publishes itself.
    // ---- near-dup source-attribution matrix ---------------------------
    // The q36 pair list (staged shared-shingle family, df-capped,
    // jaccard >= 0.5) joined back to the (doc_id, source) projection on
    // each side, normalized to an unordered source pair, and rolled up.
    // Scale shape: the pair list is LSH/df-cap-bounded (never all-pairs)
    // and tiny relative to the corpus; the two source-attach joins
    // shuffle only the pair list against a two-column corpus projection
    // (AQE broadcasts the pair side), and the final aggregate is
    // |sources|^2 rows. avg_jaccard routes through the decimal
    // accumulator so the rollup is order-independent.
    Qry(
      "q161_dup_source_matrix",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
         |          FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |nd AS (SELECT da, db,
         |    CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
         |  FROM pairs
         |    JOIN sizes sa ON da = sa.doc_id
         |    JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5e0)
         |SELECT LEAST(x.source, y.source) AS src_a,
         |  GREATEST(x.source, y.source) AS src_b,
         |  COUNT(*) AS n_pairs, ${davgSql("jaccard")} AS avg_jaccard
         |FROM nd
         |  JOIN documents x ON nd.da = x.doc_id
         |  JOIN documents y ON nd.db = y.doc_id
         |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val src = docs.select($"doc_id", $"source")
      Dedup.jaccardPairs(
          Dedup.shingleHashes(docs, "doc_id", "text", 3), "doc_id")
        .filter($"jaccard" >= 0.5)
        .join(src.select($"doc_id".as("id_a"), $"source".as("sa")), "id_a")
        .join(src.select($"doc_id".as("id_b"), $"source".as("sb")), "id_b")
        .groupBy(least($"sa", $"sb").as("src_a"),
          greatest($"sa", $"sb").as("src_b"))
        .agg(count(lit(1)).as("n_pairs"), davg($"jaccard").as("avg_jaccard"))
    },

    // One BPE merge step (q162): the vocabulary-learning primitive.
    // BPE training is "count adjacent symbol pairs over the word-
    // frequency table, merge the argmax" iterated; the catalog pins the
    // first step exactly (top-20 pairs), the same fixed-point-step
    // discipline as q120 (k-means) and q159 (PageRank).
    // ---- one BPE vocabulary merge step --------------------------------
    // Count adjacent character pairs over the word-FREQUENCY table (not
    // the corpus): the corpus collapses to its vocabulary first (one
    // token explode + hash aggregate — the only corpus-sized pass), and
    // the pair explosion runs over distinct words weighted by corpus
    // frequency. At 100 TB that second stage is vocabulary-bounded
    // (millions of rows, not billions) and the pair aggregate is bounded
    // by alphabet² — the reason real BPE trainers iterate over the word
    // table, re-expressed as two hash aggregates. Top-20 rides the
    // rank-limit pushdown (partial top-k per partition, no global sort).
    Qry(
      "q162_bpe_merge",
      s"""WITH ${TextOps.oracleToksCte},
         |w AS (SELECT unnest(tk) AS w FROM toks),
         |wc AS (SELECT w, COUNT(*) AS f FROM w GROUP BY 1),
         |p AS (SELECT unnest(list_transform(range(1, len(w)),
         |      i -> substr(w, i, 2))) AS pair, f
         |  FROM wc WHERE len(w) >= 2),
         |a AS (SELECT pair, CAST(SUM(f) AS BIGINT) AS n_occ,
         |      COUNT(*) AS n_word_types
         |      FROM p GROUP BY 1)
         |SELECT rn, pair, n_occ, n_word_types
         |FROM (SELECT *, row_number() OVER (ORDER BY n_occ DESC, pair)
         |        AS rn FROM a)
         |WHERE rn <= $TopK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val wc = Tables(spark, dir).documents
        .select(explode(TextOps.tokens($"text")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("f"))
      val agg = wc.filter(length($"w") >= 2)
        .select($"f", explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy($"pair")
        .agg(sum($"f").as("n_occ"), count(lit(1)).as("n_word_types"))
      agg
        .withColumn("rn", row_number().over(
          Window.orderBy($"n_occ".desc, $"pair")))
        .filter($"rn" <= TopK)
        .select($"rn", $"pair", $"n_occ", $"n_word_types")
    },

    // Train/val unigram drift (q163): smoothed KL(train‖val) over the
    // q150 content-hash split, with the top drift-driving tokens. The
    // release-hygiene twin of q157: leakage says the splits are too
    // CLOSE, drift says they are too FAR (a skewed split breaks early
    // stopping); shipping both bounds the split from both sides.
    // ---- train/val unigram distribution drift -------------------------
    // Add-one-smoothed KL(train‖val) over the joint vocabulary, in ppm
    // (the raw per-token contributions sit at 1e-6 where the decimal
    // accumulator's 6-dp grid would swallow them; scaling by 1e6 FIRST
    // keeps the order-independent sum meaningful). Per-token contribution
    // is row-local double math on exact BIGINT counts — identical IEEE in
    // both engines — and the total routes through Exact.dsum. Scale
    // shape: ONE corpus-sized explode+count per split (partial-agg
    // map-side), then everything downstream is vocabulary-bounded; the
    // joined count table is staged so the totals pass, the contribution
    // pass, and the top-k pass re-read one materialized vocab table
    // instead of re-running the corpus explode three times.
    Qry(
      "q163_unigram_kl",
      s"""WITH sp AS (SELECT doc_id, text,
         |    ${TextOps.oracleHashSql("text")} AS h FROM documents),
         |spl AS (SELECT doc_id, text,
         |    CASE WHEN h < $TrainBound THEN 'train'
         |         WHEN h < $ValBound THEN 'val'
         |         ELSE 'test' END AS split FROM sp),
         |tok AS (SELECT split,
         |    unnest(list_filter(string_split_regex(lower(text),
         |      '${TextOps.TokenReDuck}'), x -> len(x) > 0)) AS tok
         |  FROM spl WHERE split <> 'test'),
         |tc AS (SELECT tok, COUNT(*) AS ct FROM tok
         |       WHERE split = 'train' GROUP BY 1),
         |vc AS (SELECT tok, COUNT(*) AS cv FROM tok
         |       WHERE split = 'val' GROUP BY 1),
         |j AS (SELECT COALESCE(tc.tok, vc.tok) AS tok,
         |    COALESCE(ct, 0) AS ct, COALESCE(cv, 0) AS cv
         |  FROM tc FULL OUTER JOIN vc ON tc.tok = vc.tok),
         |tot AS (SELECT SUM(ct) AS nt, SUM(cv) AS nv, COUNT(*) AS vsz
         |        FROM j),
         |c AS (SELECT tok, ct, cv,
         |    round(1.0e6 * ((ct + 1.0) / (nt + vsz))
         |      * ln(((ct + 1.0) / (nt + vsz)) / ((cv + 1.0) / (nv + vsz))),
         |      6) AS contrib_ppm
         |  FROM j CROSS JOIN tot),
         |k AS (SELECT ${dsumSql("contrib_ppm")} AS kl_ppm FROM c)
         |SELECT rn, tok, ct, cv, contrib_ppm, kl_ppm
         |FROM (SELECT *, row_number() OVER (ORDER BY contrib_ppm DESC, tok)
         |        AS rn FROM c) CROSS JOIN k
         |WHERE rn <= $TopK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tok = Tables(spark, dir).documents
        .select(
          when(TextOps.hashMod($"text") < TrainBound, "train")
            .when(TextOps.hashMod($"text") < ValBound, "val")
            .otherwise("test").as("split"),
          explode(TextOps.tokens($"text")).as("tok"))
        .filter($"split" =!= "test")
      val tc = tok.filter($"split" === "train")
        .groupBy($"tok").agg(count(lit(1)).as("ct"))
      val vc = tok.filter($"split" === "val")
        .groupBy($"tok").agg(count(lit(1)).as("cv"))
      // vocab-sized joined count table: staged once, read three times
      // (totals, contributions+total-KL, top-k) — the corpus-sized
      // explode never re-runs
      val j = Staging.stage(
        tc.join(vc, Seq("tok"), "full_outer")
          .select($"tok", coalesce($"ct", lit(0L)).as("ct"),
            coalesce($"cv", lit(0L)).as("cv")),
        eager = false)
      val tot = j.agg(sum($"ct").as("nt"), sum($"cv").as("nv"),
        count(lit(1)).as("vsz"))
      // emitted contributions are 6-dp-rounded on BOTH sides: the raw
      // ln() differs in the last ulp across libm implementations (one
      // sorted-row mismatch observed at sf0.01), and the window order
      // must use the rounded value so rank assignment can't diverge
      val c = j.crossJoin(broadcast(tot))
        .select($"tok", $"ct", $"cv",
          round(lit(1.0e6) * (($"ct" + lit(1.0)) / ($"nt" + $"vsz"))
            * log((($"ct" + lit(1.0)) / ($"nt" + $"vsz"))
              / (($"cv" + lit(1.0)) / ($"nv" + $"vsz"))), 6)
            .as("contrib_ppm"))
      val k = c.agg(dsum($"contrib_ppm").as("kl_ppm"))
      c.withColumn("rn", row_number().over(
          Window.orderBy($"contrib_ppm".desc, $"tok")))
        .filter($"rn" <= TopK)
        .crossJoin(broadcast(k))
        .select($"rn", $"tok", $"ct", $"cv", $"contrib_ppm", $"kl_ppm")
    },

    // Source novelty (q168): per-source marginal contribution — the
    // fraction of a source's shingles found in NO other source. The
    // buy-or-drop economics of a crawl: a source whose content is
    // entirely replicated elsewhere adds volume, not information.
    // ---- per-source novel-content contribution ------------------------
    // Distinct (source, shingle) pairs — STAGED, because the frame feeds
    // both the per-shingle source-count aggregate and the per-source
    // rollup (the countedShingles discipline); the corpus tokenizes
    // once. novelty_ppm is BIGINT: unique-to-this-source shingles per
    // million of the source's shingles. Scale shape: explode → two
    // hash-aggregate pairs + one equi-join on h, all partial-agg
    // map-side; output is |sources| rows.
    Qry(
      "q168_source_novelty",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |sp AS (SELECT DISTINCT d.source, s.h
         |       FROM sh s JOIN documents d ON s.doc_id = d.doc_id),
         |hs AS (SELECT h, COUNT(*) AS n_src FROM sp GROUP BY 1)
         |SELECT source, COUNT(*) AS n_sh,
         |  CAST(COUNT(*) FILTER (WHERE n_src = 1) AS BIGINT) AS n_unique,
         |  (1000000 * COUNT(*) FILTER (WHERE n_src = 1)) // COUNT(*)
         |    AS novelty_ppm
         |FROM sp JOIN hs USING (h)
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val sp = Staging.stage(
        Dedup.shingleHashes(docs, "doc_id", "text", 3)
          .join(docs.select($"doc_id", $"source"), "doc_id")
          .select($"source", $"h").distinct(),
        eager = false)
      val hs = sp.groupBy($"h").agg(count(lit(1)).as("n_src"))
      sp.join(hs, "h")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_sh"),
          sum(when($"n_src" === 1, 1L).otherwise(0L)).as("n_unique"))
        .select($"source", $"n_sh", $"n_unique",
          expr("(1000000 * n_unique) DIV n_sh").as("novelty_ppm"))
    },

    // Vocabulary coverage curve (q176): cumulative corpus-occurrence
    // share of the top-k tokens at fixed rank points — the curve a
    // tokenizer design reads to pick vocab size (how much of the
    // corpus the vocabulary explains).
    // ---- vocabulary coverage curve ------------------------------------
    // Token frequencies ranked by (f desc, tok); cumulative occurrence
    // share at the CovKs rank points in BIGINT ppm. The corpus collapses
    // to its vocabulary in one explode+aggregate (the only corpus-sized
    // stage — q162's discipline); the ranked prefix sum runs over the
    // vocab table. Ranks beyond the vocabulary simply don't emit —
    // identical semantics in both engines.
    Qry(
      "q176_vocab_coverage",
      s"""WITH ${TextOps.oracleToksCte},
         |wc AS (SELECT unnest(tk) AS tok FROM toks),
         |f AS (SELECT tok, COUNT(*) AS cnt FROM wc GROUP BY 1),
         |r AS (SELECT tok, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, tok) AS rk,
         |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER () AS BIGINT) AS total
         |  FROM f)
         |SELECT rk, tok, cnt, cum,
         |  (1000000 * cum) // total AS cov_ppm
         |FROM r WHERE rk IN (${CovKs.mkString(", ")})""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val f = Tables(spark, dir).documents
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val wRank = Window.orderBy($"cnt".desc, $"tok")
      f.withColumn("rk", row_number().over(wRank))
        .withColumn("cum", sum($"cnt").over(
          wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum($"cnt").over(Window.partitionBy()))
        .filter($"rk".isin(CovKs: _*))
        .select($"rk", $"tok", $"cnt", $"cum",
          expr("(1000000 * cum) DIV total").as("cov_ppm"))
    },

    // The three dedup-suite members that close the near-duplicate story
    // opened by q32/q36/q37/q103/q156 —
    //
    // All three reuse the canonical tokenizer/shingle-hash primitives
    // (operators.TextOps / operators.Dedup), so their DuckDB oracles are
    // generated from the same constants and cannot drift.
    //
    // q178 containment: the ASYMMETRIC near-dup measure (Broder's
    // C = shared/min(|A|,|B|)) that catches subset/quote duplication a
    // Jaccard threshold misses (a short doc embedded in a long one has
    // C = 1 but J → 0 as the length ratio grows);
    // ---- asymmetric containment near-dup pairs -------------------------
    // Threshold as INTEGER arithmetic (shared·5 ≥ 4·min ⇔ C ≥ 0.8) so no
    // boundary pair can flip on FP representation; the reported ratios
    // are round(·, 6) on both engines. Same bounded shared-shingle
    // equi-join as q36 — at 100 TB the df-cap keeps the per-key fanout
    // quadratic in 256, not in corpus size.
    Qry(
      "q178_containment",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
         |          FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT da AS doc_a, db AS doc_b, shared,
         |  sa.n AS n_a, sb.n AS n_b,
         |  round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6)
         |    AS containment,
         |  round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6)
         |    AS jaccard
         |FROM pairs
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |WHERE shared * 5 >= least(sa.n, sb.n) * 4""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        Dedup.containmentPairs(
            Dedup.shingleHashes(Tables(spark, dir).documents, "doc_id", "text"),
            "doc_id")
          .filter($"shared" * 5 >= least($"n_a", $"n_b") * 4)
          .select($"id_a".as("doc_a"), $"id_b".as("doc_b"), $"shared",
            $"n_a", $"n_b",
            round($"containment", 6).as("containment"),
            round($"jaccard", 6).as("jaccard"))
    },

    // q179 LSH blocking quality: precision/recall of the banded MinHash
    // candidate set against the exact Jaccard truth — the number a
    // curation engineer reads before picking (bands, rows) for a
    // corpus-scale dedup run (q103 validates the ESTIMATOR per pair;
    // this validates the BLOCKING, which is what bounds the join);
    // ---- LSH blocking precision/recall vs exact truth ------------------
    // One row: TP/FP/FN of the (B=4, R=4) banded candidate set against
    // exact-Jaccard-≥-0.5 truth, both computed over the SAME df-capped
    // shingle space from ONE staged leaf (countedShingles: the expensive
    // tokenize→shingle pipeline runs once; the pair join, the signature
    // aggregate and the band join are lazy consumers above it). The
    // full-outer pair match is bounded by |exact| + |candidates| — never
    // corpus-sized. At scale this is the tuning harness you run on a
    // sampled slice before committing a (bands, rows) choice to the full
    // corpus; the exact side is affordable precisely because it is
    // df-capped and sampled, while the banded side is what ships.
    Qry(
      "q179_lsh_quality", {
        val minCols = (0 until K).map(i =>
          s"min((h * ${TextOps.aParam(i)} + ${TextOps.bParam(i)}) " +
            s"% ${TextOps.P}) AS m$i").mkString(", ")
        val bandSelects = (0 until B).map { b =>
          val ks = (0 until R).map(r => s"m${b * R + r}").mkString(", ")
          s"SELECT doc_id, $b AS band_idx, concat_ws(':', $ks) AS band_key" +
            " FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
           |ex AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
           |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |exact AS (SELECT da, db
           |  FROM ex JOIN sizes sa ON da = sa.doc_id
           |    JOIN sizes sb ON db = sb.doc_id
           |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
           |    >= 0.5e0),
           |sig AS (SELECT doc_id, $minCols FROM shc GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           |         FROM banded a JOIN banded b
           |           ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |          AND a.doc_id < b.doc_id),
           |m AS (SELECT (e.da IS NOT NULL) AS is_ex,
           |             (c.ida IS NOT NULL) AS is_cd
           |      FROM exact e FULL JOIN cand c
           |        ON e.da = c.ida AND e.db = c.idb)
           |SELECT
           |  CAST(SUM(CASE WHEN is_ex AND is_cd THEN 1 ELSE 0 END)
           |    AS BIGINT) AS tp,
           |  CAST(SUM(CASE WHEN is_cd AND NOT is_ex THEN 1 ELSE 0 END)
           |    AS BIGINT) AS fp,
           |  CAST(SUM(CASE WHEN is_ex AND NOT is_cd THEN 1 ELSE 0 END)
           |    AS BIGINT) AS fn,
           |  round(CAST(SUM(CASE WHEN is_ex AND is_cd THEN 1 ELSE 0 END)
           |      AS DOUBLE)
           |    / greatest(SUM(CASE WHEN is_cd THEN 1 ELSE 0 END), 1), 6)
           |    AS precision,
           |  round(CAST(SUM(CASE WHEN is_ex AND is_cd THEN 1 ELSE 0 END)
           |      AS DOUBLE)
           |    / greatest(SUM(CASE WHEN is_ex THEN 1 ELSE 0 END), 1), 6)
           |    AS recall
           |FROM m""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val shc = Dedup.countedShingles(
        Dedup.shingleHashes(Tables(spark, dir).documents, "doc_id", "text"),
        "doc_id")
      val exact = Dedup.jaccardPairsFromCounted(shc, "doc_id")
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b", one.as("__ex"))
      val sig = Dedup.minhashSignatures(shc, "doc_id", "h", K)
      val cand = Dedup.lshCandidatePairs(sig, "doc_id", B, R)
        .select($"ida", $"idb", one.as("__cd"))
      val m = exact.join(cand,
        $"id_a" === $"ida" && $"id_b" === $"idb", "full_outer")
      val isEx = $"__ex".isNotNull
      val isCd = $"__cd".isNotNull
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      m.agg(
          cnt(isEx && isCd).as("tp"),
          cnt(isCd && !isEx).as("fp"),
          cnt(isEx && !isCd).as("fn"),
          cnt(isCd).as("__nc"),
          cnt(isEx).as("__ne"))
        .select($"tp", $"fp", $"fn",
          round($"tp".cast("double") / greatest($"__nc", lit(1L)), 6)
            .as("precision"),
          round($"tp".cast("double") / greatest($"__ne", lit(1L)), 6)
            .as("recall"))
    },

    // q180 boilerplate shingles: per-source high-document-frequency
    // n-grams (site templates, headers/footers). The df-cap inside the
    // near-dup pipeline DROPS these as noise; boilerplate detection is
    // the same aggregate read the other way — the hot keys ARE the
    // signal — so it runs over the UNCAPPED shingle stream with the
    // source carried through the map stage (no corpus-sized re-join).
    // ---- per-source boilerplate shingles -------------------------------
    // Template/boilerplate detection: shingles present in ≥ 10% of a
    // source's documents (and ≥ 3 documents absolutely — a floor that
    // keeps tiny sources from flagging noise). UNCAPPED shingle stream:
    // the near-dup df-cap exists to DROP exactly these hot keys; here
    // they are the signal. Staged-leaf + distinct-document counts +
    // integer ratio floor: operators.Dedup.boilerplateShingles is the
    // single source of truth (the facade and this query both delegate).
    // `source` rides the shingle explode as a carried column (no
    // corpus-sized id join); the per-source totals table — one row per
    // source — broadcasts into the final join. The output is what a
    // curation pass subtracts from documents before near-dup and
    // quality scoring.
    Qry(
      "q180_boilerplate",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |s AS (SELECT sh.doc_id, d.source, sh.h
         |      FROM sh JOIN documents d USING (doc_id)),
         |nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
         |       FROM s GROUP BY 1),
         |f AS (SELECT source, h, COUNT(DISTINCT doc_id) AS df
         |      FROM s GROUP BY 1, 2)
         |SELECT f.source, f.h, f.df, nd.n_docs,
         |  round(CAST(f.df AS DOUBLE) / nd.n_docs, 6) AS df_ratio
         |FROM f JOIN nd USING (source)
         |WHERE f.df * 10 >= nd.n_docs AND f.df >= 3""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        Dedup.boilerplateShingles(
            Dedup.shingleHashes(Tables(spark, dir).documents,
              "doc_id", "text", n = 3, carry = Seq("source")),
            "doc_id", "source")
          .select($"source", $"h", $"df", $"n_docs",
            round($"df_ratio", 6).as("df_ratio"))
    },

    // The tokenizer ENCODE step, completing the tokenizer lifecycle q78
    // (BPE-ish token counting) → q162/`Bpe` (merge training) → q176
    // (vocabulary capacity planning) → **q182 (apply the trained artifact
    // to the corpus)**.
    //
    // q182 applies a fixed 8-merge artifact in training-rank order (the
    // HuggingFace-BPE application shape: each merge fires once, greedily,
    // left-to-right over every non-overlapping occurrence) and reports
    // per-document token counts before/after plus chars-per-token
    // compression — the number that prices a corpus in tokens before a
    // training run. Both engines derive the merge patterns from the SAME
    // Scala constant, so they cannot drift:
    //
    //   - Spark collapses the corpus to its VOCABULARY first (the q162
    //     discipline), encodes each distinct word once via
    //     `Bpe.encodeWord` (exact greedy fold), broadcasts the
    //     vocab→encoded-length table back, and aggregates per document —
    //     the expensive per-word fold runs |vocabulary| times, never
    //     |corpus| times.
    //   - DuckDB encodes each document's pipe-delimited symbol string by
    //     running each merge's `replace` to a FIXPOINT inside a recursive
    //     CTE (q117's recursion precedent). Fixpoint leftmost-nonoverlap
    //     replacement equals the greedy fold: a replacement can never
    //     create a new occurrence of its own pattern (the merged symbol
    //     `ab` differs from both `a` and `b`), it can only defer a
    //     boundary-sharing neighbour to the next pass — and word
    //     boundaries ("||" between words) can never match an "|a|b|"
    //     pattern, so per-word and whole-document application agree.
    Qry(
      "q182_bpe_encode", {
        val pats = EncMerges.zipWithIndex.map { case ((a, b), i) =>
          s"(${i + 1}, '|$a|$b|', '|$a$b|')"
        }.mkString(", ")
        val n = EncMerges.size
        s"""WITH RECURSIVE ${TextOps.oracleToksCte},
           |base AS (SELECT doc_id,
           |    CAST(len(tk) AS BIGINT) AS n_words,
           |    CAST(length(array_to_string(tk, '')) AS BIGINT) AS n_chars,
           |    COALESCE(list_aggregate(list_transform(tk,
           |      w -> '|' || regexp_replace(w, '(.)', '\\1|', 'g')),
           |      'string_agg', ''), '') AS s
           |  FROM toks WHERE len(tk) > 0),
           |pats(i, pat, rep) AS (VALUES $pats),
           |enc AS (
           |  SELECT doc_id, s, 1 AS i FROM base
           |  UNION ALL
           |  SELECT e.doc_id, replace(e.s, p.pat, p.rep) AS s,
           |    CASE WHEN replace(e.s, p.pat, p.rep) = e.s
           |      THEN e.i + 1 ELSE e.i END AS i
           |  FROM enc e JOIN pats p ON p.i = e.i
           |  WHERE e.i <= $n),
           |fin AS (SELECT doc_id,
           |    CAST(length(s) - length(replace(s, '|', '')) AS BIGINT)
           |      AS pipes
           |  FROM enc WHERE i = ${n + 1})
           |SELECT b.doc_id, b.n_words, b.n_chars,
           |  fin.pipes - b.n_words AS n_bpe,
           |  CASE WHEN fin.pipes - b.n_words > 0
           |    THEN round(CAST(b.n_chars AS DOUBLE)
           |      / (fin.pipes - b.n_words), 6) END AS compression
           |FROM base b JOIN fin USING (doc_id)""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // vocabulary-collapse shape + fold: operators.Bpe.encodedCounts
      // (single source with the facade); only the oracle rounding is
      // applied here
      Bpe.encodedCounts(Tables(spark, dir).documents,
          "doc_id", "text", EncMerges)
        .select($"doc_id", $"n_words", $"n_chars", $"n_bpe",
          round($"compression", 6).as("compression"))
    },

    // ---- trained-BPE end-to-end -----------------------------------------
    // `Bpe.trainMerges` was otherwise spec-only (sequential-reference
    // BpeSpec); q162 oracled one merge step and q182 a FIXED artifact. Here
    // the query TRAINS K=3 merges on the corpus (driver holds only the
    // 3-row merge table — the actual merges.txt product) and encodes the
    // corpus with them; the DuckDB oracle derives the SAME 3 merges from
    // scratch — three unrolled rounds of (pair-count over the
    // word-frequency table with per-position multiplicity → top-1 by (n
    // DESC, a, b) → fixpoint leftmost-nonoverlap replace, one recursive CTE
    // per round) — and applies them with q182's recursive encode. A single
    // diverging merge reshapes n_bpe corpus-wide, so the hash match
    // verifies the trainer end-to-end, not just the application. Fixpoint
    // replace equals the greedy fold only for non-self-pair merges (the
    // q182 precondition, documented at EncMerges); a trained artifact CAN
    // contain self-pairs on repetitive corpora, so the builder asserts the
    // precondition on the ARTIFACT and fails loudly rather than
    // hash-diverging silently.
    Qry(
      "q187_bpe_train_encode", {
        def round(k: Int, prev: String) =
          s"""p$k AS (SELECT pr.a AS a, pr.b AS b, SUM(f) AS n FROM (
             |    SELECT unnest(list_transform(range(1, len(sy)),
             |        j -> {'a': sy[j], 'b': sy[j+1]})) AS pr, f
             |    FROM (SELECT str_split(trim(s, '|'), '|') AS sy, f
             |          FROM $prev))
             |  GROUP BY 1, 2),
             |t$k AS (SELECT '|' || a || '|' || b || '|' AS pat,
             |    '|' || a || b || '|' AS rep
             |  FROM p$k ORDER BY n DESC, a, b LIMIT 1),
             |r$k AS (SELECT s, f, FALSE AS done FROM $prev
             |  UNION ALL
             |  SELECT replace(s, pat, rep) AS s, f,
             |    replace(s, pat, rep) = s AS done
             |  FROM r$k, t$k WHERE NOT done),
             |w$k AS (SELECT s, f FROM r$k WHERE done)""".stripMargin
        s"""WITH RECURSIVE ${TextOps.oracleToksCte},
           |words AS (SELECT w, COUNT(*) AS f
           |  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
           |w0 AS (SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS s, f
           |  FROM words),
           |${round(1, "w0")},
           |${round(2, "w1")},
           |${round(3, "w2")},
           |pats AS (SELECT 1 AS i, pat, rep FROM t1
           |  UNION ALL SELECT 2, pat, rep FROM t2
           |  UNION ALL SELECT 3, pat, rep FROM t3),
           |base AS (SELECT doc_id,
           |    CAST(len(tk) AS BIGINT) AS n_words,
           |    CAST(length(array_to_string(tk, '')) AS BIGINT) AS n_chars,
           |    COALESCE(list_aggregate(list_transform(tk,
           |      w -> '|' || regexp_replace(w, '(.)', '\\1|', 'g')),
           |      'string_agg', ''), '') AS s
           |  FROM toks WHERE len(tk) > 0),
           |enc AS (
           |  SELECT doc_id, s, 1 AS i FROM base
           |  UNION ALL
           |  SELECT e.doc_id, replace(e.s, p.pat, p.rep) AS s,
           |    CASE WHEN replace(e.s, p.pat, p.rep) = e.s
           |      THEN e.i + 1 ELSE e.i END AS i
           |  FROM enc e JOIN pats p ON p.i = e.i
           |  WHERE e.i <= 3),
           |fin AS (SELECT doc_id,
           |    CAST(length(s) - length(replace(s, '|', '')) AS BIGINT)
           |      AS pipes
           |  FROM enc WHERE i = 4)
           |SELECT b.doc_id, b.n_words, b.n_chars,
           |  fin.pipes - b.n_words AS n_bpe,
           |  CASE WHEN fin.pipes - b.n_words > 0
           |    THEN round(CAST(b.n_chars AS DOUBLE)
           |      / (fin.pipes - b.n_words), 6) END AS compression
           |FROM base b JOIN fin USING (doc_id)""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val trained = Bpe.trainMerges(docs, "text", 3)
      require(trained.size == 3,
        s"corpus trained only ${trained.size} of 3 merges")
      val merges = trained.map(m => (m.left, m.right))
      require(merges.forall { case (a, b) => a != b },
        "trained artifact contains a self-pair merge — the oracle's " +
          "fixpoint-replace formulation diverges from the greedy fold " +
          "on such merges (q182 precondition); fail loudly")
      Bpe.encodedCounts(docs, "doc_id", "text", merges)
        .select($"doc_id", $"n_words", $"n_chars", $"n_bpe",
          round($"compression", 6).as("compression"))
    },

    // The DELTA-INGEST dedup family goes streaming and vector-valued — the
    // daily-crawl economics the batch delta queries (q156 text, q107
    // chunks) established, applied to the two remaining ingestion surfaces:
    //
    // STREAMING near-dup dedup — incoming micro-batches probe a
    // static corpus MinHash band index (stream-static broadcast join)
    // and near-dup hits are flagged exactly once despite at-least-once
    // delivery (`dropDuplicatesWithinWatermark`). The signature/band
    // computation is [[Dedup.lshBandsStateless]] — row-local, no
    // stateful aggregation, so the whole pre-join pipeline is a
    // stateless projection per micro-batch. Oracle: the batch twin of
    // the same band probe (q156's CTE stack), so stream/batch
    // equivalence is itself inside the gate hash (the q192/q193
    // pattern). Reference tie: this is the reference's competing-
    // consumer ingest loop (src/tests/integration_test.rs:209-293)
    // upgraded with the dedup an LLM-corpus pipeline demands.
    // ---- streaming near-dup dedup against a static corpus index --------
    Qry(
      "q194_stream_neardup", {
        val minCols = (0 until K).map(i =>
          s"min((h * ${TextOps.aParam(i)} + ${TextOps.bParam(i)}) % $P) AS m$i")
          .mkString(", ")
        val bandSelects = (0 until B).map { b =>
          val ks = (0 until R).map(r => s"m${b * R + r}").mkString(", ")
          s"SELECT doc_id, $b AS band_idx, concat_ws(':', $ks) AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |sig AS (SELECT doc_id, $minCols FROM sh GROUP BY doc_id),
           |banded AS (
           |  $bandSelects),
           |newb AS (SELECT * FROM banded
           |         WHERE doc_id % $DeltaMod = $DeltaRem),
           |corpb AS (SELECT * FROM banded
           |          WHERE doc_id % $DeltaMod <> $DeltaRem),
           |dup AS (SELECT DISTINCT n.doc_id FROM newb n JOIN corpb c
           |        ON n.band_idx = c.band_idx AND n.band_key = c.band_key)
           |SELECT d.doc_id, d.lang, d.source
           |FROM documents d JOIN dup ON d.doc_id = dup.doc_id""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val isDelta = col("doc_id") % DeltaMod === DeltaRem
      // static corpus band index — at production scale a stored table
      // maintained by ingestion; staged here (minhashSignatures
      // checkpoints) so the stream-static join doesn't recompute the
      // corpus pipeline per micro-batch
      val corpB = Dedup.lshBands(
        Dedup.minhashSignatures(
          Dedup.shingleHashes(
            Tables(spark, dir).documents.filter(!isDelta), "doc_id", "text"),
          "doc_id", "h", K),
        "doc_id", B, R)
        .select($"band_idx".as("ci"), $"band_key".as("ck"))
      // incoming stream, delivered at-least-once (every file twice)
      val src = Streams.fileStreamDup(spark, dir, "documents", copies = 2)
        .filter(isDelta)
      val banded = Dedup.lshBandsStateless(src, "doc_id", "text",
        K, B, R, carry = Seq("lang", "source"))
      // stream-static semi join: a band hit marks the doc as a
      // near-dup candidate of the corpus; the static side broadcasts
      // (band index of the corpus slice — the probe structure)
      val hits = banded
        .join(broadcast(corpB),
          $"band_idx" === $"ci" && $"band_key" === $"ck", "left_semi")
        // one verdict per doc despite 2x delivery AND multi-band hits:
        // bounded-state streaming dedup on the doc key. Event time is
        // derived (the fixture carries none); the watermark bounds the
        // dedup state exactly as a real ingest pipeline would bound it
        // by arrival-time skew.
        .withColumn("ets", timestamp_millis($"doc_id"))
        .withWatermark("ets", "1 hour")
        .dropDuplicatesWithinWatermark("doc_id")
        .select($"doc_id", $"lang", $"source")
      Streams.runToMemory(hits, "append")
    },

    // Repetition signals per document — max single-token frequency and
    // duplicate-3-gram fraction (ppm). Entirely ROW-LOCAL on the Spark
    // side: the top-token count is an O(L) fold over the sorted token array
    // (`aggregate` with a struct accumulator), never an explode+groupBy —
    // at 100 TB this is a pure map stage with zero shuffle, while the
    // oracle states the same numbers via the obvious unnest/GROUP BY.
    // ---- per-document repetition signals (quality filtering) -----------
    Qry(
      "q199_repetition_signals",
      s"""WITH ${TextOps.oracleToksCte},
         |base AS (SELECT doc_id, len(tk) AS n_tokens, tk FROM toks),
         |topt AS (SELECT doc_id, MAX(c) AS top_tok FROM (
         |    SELECT doc_id, COUNT(*) AS c
         |    FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
         |    GROUP BY doc_id, tok) GROUP BY doc_id),
         |sh AS (SELECT doc_id,
         |    len(g) AS n_sh, len(list_distinct(g)) AS n_d
         |  FROM (SELECT doc_id,
         |      list_transform(range(len(tk) - 2),
         |        i -> array_to_string(tk[i+1:i+3], ' ')) AS g
         |    FROM toks WHERE len(tk) >= 3))
         |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(t.top_tok AS BIGINT) AS top_tok,
         |  CAST(t.top_tok * 1000000 // b.n_tokens AS BIGINT)
         |    AS top_tok_ppm,
         |  CAST((s.n_sh - s.n_d) * 1000000 // s.n_sh AS BIGINT)
         |    AS dup3_ppm
         |FROM base b JOIN topt t ON b.doc_id = t.doc_id
         |LEFT JOIN sh s ON b.doc_id = s.doc_id
         |WHERE b.n_tokens > 0""".stripMargin) { (spark, dir) =>
      // top-token count WITHOUT an explode+groupBy: O(L) run-length
      // fold over the sorted token array. The struct accumulator
      // carries (prev, run, best); a repeated token extends the run,
      // anything else resets it. At 100 TB this keeps the quality
      // filter a pure map stage — the explode formulation shuffles one
      // row per TOKEN of the corpus.
      def topRun(tk: Column): Column = aggregate(
        array_sort(tk),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      val shAll = TextOps.shingles(col("__tk"), 3)
      Tables(spark, dir).documents
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
        .withColumn("n_tokens", size(col("__tk")).cast("long"))
        .filter(col("n_tokens") > 0)
        .withColumn("top_tok", topRun(col("__tk")))
        .withColumn("__nsh", size(shAll).cast("long"))
        .withColumn("__nd", size(array_distinct(shAll)).cast("long"))
        .select(col("doc_id"), col("n_tokens"), col("top_tok"),
          (col("top_tok") * 1000000L / col("n_tokens")).cast("long")
            .as("top_tok_ppm"),
          when(col("__nsh") > 0,
            ((col("__nsh") - col("__nd")) * 1000000L / col("__nsh"))
              .cast("long")).as("dup3_ppm"))
    },

    // URL curation stats — the domain-level rollup every crawl
    // pipeline runs (per-TLD volume + distinct registrable domains)
    // using Spark's parse_url for host extraction; the oracle is
    // parameter-level, so the extraction is verified against the
    // synthesis ground truth.
    // ---- URL curation stats ---------------------------------------------
    Qry(
      "q213_url_stats",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    CASE (h60 // 2) % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
         |      WHEN 2 THEN 'net' WHEN 3 THEN 'io' ELSE 'dev' END AS tld,
         |    'site' || ((h60 // 16) % 50) AS domain
         |  FROM d)
         |SELECT tld, COUNT(*) AS n_urls,
         |  COUNT(DISTINCT domain) AS n_domains
         |FROM p GROUP BY 1""".stripMargin) { (spark, dir) =>
      // parse_url is codegen'd built-in string work — the host never
      // round-trips through a UDF; registrable domain = host minus the
      // subdomain label (the fixture synthesizes one label each)
      h60Of(spark, dir)
        .withColumn("tld", element_at(
          array(Seq("com", "org", "net", "io", "dev").map(lit): _*),
          expr("CAST((h60 DIV 2) % 5 AS INT)") + 1))
        .withColumn("domain",
          concat(lit("site"), expr("CAST((h60 DIV 16) % 50 AS STRING)")))
        .withColumn("url", concat(lit("https://www."), col("domain"),
          lit("."), col("tld"), lit("/p/"),
          col("doc_id").cast("string"), lit("?ref=crawl")))
        .withColumn("host", expr("parse_url(url, 'HOST')"))
        .withColumn("reg_domain",
          expr("substring_index(host, '.', -2)"))
        .groupBy(expr("substring_index(host, '.', -1)").as("tld"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(expr("substring_index(reg_domain, '.', 1)"))
            .as("n_domains"))
    },

    // BOM + strict UTF-8 validity classification — the very
    // first pass a text-ingest pipeline runs over raw bytes before
    // any tokenizer sees them. `utf8_valid` is a strict RFC 3629
    // scan (overlong encodings, surrogate code points, F5..FF leads,
    // truncated tails all false); BOM detection is a plain binary
    // prefix compare. The synthesized corpus covers four BOM states
    // and four distinct invalidity classes, so the oracle hash pins
    // each rejection rule separately — a validator that "just
    // decodes and catches" typically accepts surrogates or overlongs
    // and would fail here.
    Qry(
      "q214_encoding_sniff",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents)
         |SELECT doc_id,
         |  CASE h60 % 8 WHEN 1 THEN 'utf8' WHEN 2 THEN 'utf16le'
         |    WHEN 3 THEN 'utf16be' ELSE 'none' END AS bom,
         |  (h60 % 8 <= 1) AS utf8_ok
         |FROM d""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      // class 0: bare text; 1: UTF-8 BOM (itself valid UTF-8); 2/3:
      // UTF-16 BOMs with 16-bit payloads (FF/FE leads are never valid
      // UTF-8); 4: lone continuation byte; 5: overlong '/' (C0 AF —
      // the classic path-traversal smuggle); 6: truncated 3-byte
      // sequence at EOF; 7: CESU-8 surrogate (ED A0 80)
      val t = expr("CAST(text AS BINARY)")
      val blob = expr("CAST(h60 % 8 AS INT)") match { case pick =>
        when(pick === 0, t)
          .when(pick === 1, concat(bytesLit("EFBBBF"), t))
          .when(pick === 2, concat(bytesLit("FFFE"), bytesLit("610062006300")))
          .when(pick === 3, concat(bytesLit("FEFF"), bytesLit("006100620063")))
          .when(pick === 4, concat(t, bytesLit("80")))
          .when(pick === 5, concat(t, bytesLit("C0AF")))
          .when(pick === 6, concat(t, bytesLit("E282")))
          .otherwise(concat(t, bytesLit("EDA080")))
      }
      Tables(spark, dir).documents
        .select(col("doc_id"), col("text"),
          h60Seed.as("h60"))
        .withColumn("b", blob)
        .select(col("doc_id"),
          when(expr("substring(b, 1, 3)") === bytesLit("EFBBBF"), "utf8")
            .when(expr("substring(b, 1, 2)") === bytesLit("FFFE"), "utf16le")
            .when(expr("substring(b, 1, 2)") === bytesLit("FEFF"), "utf16be")
            .otherwise("none").as("bom"),
          expr("utf8_valid(b)").as("utf8_ok"))
    },

    // Sequence-packing efficiency — the question asked before
    // every training run: concatenating each source's documents (EOS
    // between docs) into fixed `SeqLen`-token windows, how many
    // optimizer steps is this corpus, and what fraction of the last
    // window is padding? Pure aggregation arithmetic over the BPE
    // pre-token counts (q56's tokenizer), no packing materialized —
    // the PLAN for one is just sums.
    // ---- sequence-packing / optimizer-step sizing -----------------------
    Qry(
      "q215_seq_packing",
      s"""WITH t AS (SELECT source,
         |    len(regexp_extract_all(text, '${TextOps.BpeTokSql}'))
         |      + 1 AS toks
         |  FROM documents)
         |SELECT source,
         |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |  CAST((SUM(toks) + ${SeqLen - 1}) // $SeqLen AS BIGINT)
         |    AS n_windows,
         |  CAST(((SUM(toks) + ${SeqLen - 1}) // $SeqLen * $SeqLen
         |    - SUM(toks)) * 1000000
         |    // ((SUM(toks) + ${SeqLen - 1}) // $SeqLen * $SeqLen)
         |    AS BIGINT) AS pad_ppm
         |FROM t GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // +1 = the EOS token appended per document by the packer; the
      // padding lives only in each source's LAST window, so pad_ppm
      // falls as a source grows — the small-source tax this metric
      // exists to expose
      Tables(spark, dir).documents
        .select($"source",
          (TextOps.bpeTokenCount($"text") + 1L).as("toks"))
        .groupBy($"source")
        .agg(sum($"toks").as("total_tokens"))
        .select($"source", $"total_tokens",
          (($"total_tokens" + (SeqLen - 1)) / SeqLen).cast("long")
            .as("n_windows"),
          (((($"total_tokens" + (SeqLen - 1)) / SeqLen).cast("long")
            * SeqLen - $"total_tokens") * 1000000L /
            ((($"total_tokens" + (SeqLen - 1)) / SeqLen).cast("long")
              * SeqLen)).cast("long").as("pad_ppm"))
    },

    // q214's encoding-hygiene classification as a STREAMING
    // rollup — the ingest gate that quarantines mojibake before a
    // tokenizer sees it, grouped by (bom, utf8_ok) with a
    // parameter-level oracle shared with the batch semantics.
    // ---- streaming encoding-hygiene gate --------------------------------
    Qry(
      "q216_stream_encoding",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
         |  FROM documents),
         |p AS (SELECT doc_id,
         |  CASE h60 % 8 WHEN 1 THEN 'utf8' WHEN 2 THEN 'utf16le'
         |    WHEN 3 THEN 'utf16be' ELSE 'none' END AS bom,
         |  (h60 % 8 <= 1) AS utf8_ok
         |FROM d)
         |SELECT bom, utf8_ok, COUNT(*) AS n
         |FROM p GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      graft.functions.GraftFunctions.register(spark)
      val t = expr("CAST(text AS BINARY)")
      val pick = expr("CAST(h60 % 8 AS INT)")
      val blob = when(pick === 0, t)
        .when(pick === 1, concat(bytesLit("EFBBBF"), t))
        .when(pick === 2, concat(bytesLit("FFFE"), bytesLit("610062006300")))
        .when(pick === 3, concat(bytesLit("FEFF"), bytesLit("006100620063")))
        .when(pick === 4, concat(t, bytesLit("80")))
        .when(pick === 5, concat(t, bytesLit("C0AF")))
        .when(pick === 6, concat(t, bytesLit("E282")))
        .otherwise(concat(t, bytesLit("EDA080")))
      val agg = Streams.fileStream(spark, dir, "documents")
        .select(col("doc_id"), col("text"),
          h60Seed.as("h60"))
        .withColumn("b", blob)
        .select(
          when(expr("substring(b, 1, 3)") === bytesLit("EFBBBF"), "utf8")
            .when(expr("substring(b, 1, 2)") === bytesLit("FFFE"), "utf16le")
            .when(expr("substring(b, 1, 2)") === bytesLit("FEFF"), "utf16be")
            .otherwise("none").as("bom"),
          expr("utf8_valid(b)").as("utf8_ok"))
        .groupBy(col("bom"), col("utf8_ok"))
        .agg(count(lit(1)).as("n"))
      Streams.runToMemory(agg, "complete")
    },

    // Raw-web extraction + sketch-based decontamination — two stages every
    // crawl-to-training pipeline runs before anything in the dedup/quality
    // family sees a byte.
    //
    // Reference tie: the byte/field-decode discipline of
    // `reference/src/main.rs:85-86` (validate before trusting),
    // applied to the LLM-pipeline surface the brief adds on top.
    //
    // HTML main-text extraction. A deterministic HTML envelope is
    // synthesized around each document (title, nav boilerplate, entity
    // escaping, a hash-chosen number of inline links), then EXTRACTED
    // back: tag strip, entity decode, whitespace collapse — with
    // per-document markup ratio and link density, the two classic
    // boilerplate signals (q180 scores lines; this one scores markup).
    // The oracle rebuilds the same envelope and must reverse it to the
    // same characters, so a tag regex that eats text, an entity pass
    // run in the wrong order, or a collapse that loses a boundary all
    // hash-fail on every row.
    // ---- HTML main-text extraction --------------------------------------
    Qry(
      "q217_html_extract", {
        // DuckDB twin of the synthesis + extraction below. '\n' inside
        // the character class is two chars in the literal; RE2 decodes
        // the escape exactly like Java regex does.
        s"""WITH d AS (SELECT doc_id, source, text,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 3
           |      AS extra
           |  FROM documents),
           |syn AS (SELECT doc_id, source,
           |    '<html><head><title>doc ' || doc_id ||
           |    '</title></head><body>' ||
           |    '<nav><a href="/">home</a> <a href="/about">about</a></nav>' ||
           |    '<p>' || replace(replace(text, '&', '&amp;'), '<', '&lt;') ||
           |    '</p>' ||
           |    CASE extra WHEN 0 THEN ''
           |      WHEN 1 THEN '<p>see <a href="/more">more</a></p>'
           |      ELSE '<p><a href="/a">a</a> <a href="/b">b</a></p>' END ||
           |    '</body></html>' AS html
           |  FROM d),
           |ext AS (SELECT doc_id, source, html,
           |    trim(regexp_replace(
           |      replace(replace(
           |        regexp_replace(html, '<[^>]*>', ' ', 'g'),
           |        '&lt;', '<'), '&amp;', '&'),
           |      '[ \\t\\n\\r]+', ' ', 'g')) AS clean
           |  FROM syn)
           |SELECT doc_id, source,
           |  CAST(length(html) AS BIGINT) AS html_chars,
           |  CAST(length(clean) AS BIGINT) AS text_chars,
           |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT)
           |    AS n_tags,
           |  CAST(len(regexp_extract_all(html, '<a href')) AS BIGINT)
           |    AS n_links,
           |  CAST((length(html) - length(clean)) * 1000000
           |    // length(html) AS BIGINT) AS markup_ppm,
           |  CAST(len(regexp_extract_all(html, '<a href')) * 1000000
           |    // greatest(length(clean), 1) AS BIGINT) AS link_ppm
           |FROM ext""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // Synthesis and extraction are both column pipelines over one
      // scan — no UDFs, no shuffle until there isn't one (per-row map
      // only; the 100-TB shape is embarrassingly parallel).
      val d = Tables(spark, dir).documents
        .select($"doc_id", $"source", $"text",
          (TextOps.md5Long($"text") % 3).as("extra"))
      val esc = regexp_replace(regexp_replace($"text", lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;"))
      val html = concat(
        lit("<html><head><title>doc "), $"doc_id".cast("string"),
        lit("</title></head><body>"),
        lit("<nav><a href=\"/\">home</a> <a href=\"/about\">about</a></nav>"),
        lit("<p>"), esc, lit("</p>"),
        when($"extra" === 0, lit(""))
          .when($"extra" === 1,
            lit("<p>see <a href=\"/more\">more</a></p>"))
          .otherwise(
            lit("<p><a href=\"/a\">a</a> <a href=\"/b\">b</a></p>")),
        lit("</body></html>"))
      // extraction: tags -> space, entities decoded AFTER tag strip
      // (&lt; must not resurrect as markup before the tag pass ends —
      // decode-then-strip would eat text a crawler legally serves),
      // then whitespace collapse + trim
      val syn = d.select($"doc_id", $"source", html.as("html"))
      val clean = trim(regexp_replace(
        regexp_replace(regexp_replace(
          regexp_replace($"html", lit("<[^>]*>"), lit(" ")),
          lit("&lt;"), lit("<")),
          lit("&amp;"), lit("&")),
        lit("[ \\t\\n\\r]+"), lit(" ")))
      syn.select($"doc_id", $"source", $"html", clean.as("clean"))
        .select($"doc_id", $"source",
          length($"html").cast(LongType).as("html_chars"),
          length($"clean").cast(LongType).as("text_chars"),
          size(regexp_extract_all($"html", lit("<[^>]*>"), lit(0)))
            .cast(LongType).as("n_tags"),
          size(regexp_extract_all($"html", lit("<a href"), lit(0)))
            .cast(LongType).as("n_links"),
          ((length($"html") - length($"clean")).cast(LongType) * 1000000L /
            length($"html")).cast(LongType).as("markup_ppm"),
          (size(regexp_extract_all($"html", lit("<a href"), lit(0)))
            .cast(LongType) * 1000000L /
            greatest(length($"clean").cast(LongType), lit(1L)))
            .cast(LongType).as("link_ppm"))
    },

    // Bloom-filter n-gram decontamination. The benchmark slice's
    // 3-gram shingles build a 64 Kbit / k=4 Bloom bitset (2048 packed
    // 32-bit words, ONE aggregated row — the shape that broadcasts to
    // 1000 executors as a few KB); every training document probes it
    // with plain bit arithmetic and is scored by possibly-contaminated
    // shingle count, next to the EXACT semi-join count, so the output
    // carries the sketch's false-positive behavior per source and the
    // no-false-negative invariant as a gated boolean. At 100 TB the
    // exact side is the audit; the broadcast bitset is the production
    // path (no shuffle of the benchmark set at all).
    // ---- Bloom-filter n-gram decontamination ----------------------------
    Qry(
      "q218_bloom_decontam", {
        val posUnions = (0 until KHash).map(i =>
          s"SELECT ${posSql(i, "h")} AS pos FROM evh").mkString("\nUNION ALL ")
        // per-hash bloom lookups for the probe side: w_i/bit_i derived
        // from the same posSql text
        val probeJoins = (0 until KHash).map { i =>
          s"LEFT JOIN bloom b$i ON b$i.w = ${posSql(i, "tr.h")} // 32"
        }.mkString("\n")
        val allSet = (0 until KHash).map { i =>
          s"((COALESCE(b$i.bits, 0) >> CAST(${posSql(i, "tr.h")} % 32 AS INT)) & 1) = 1"
        }.mkString(" AND ")
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |d AS (SELECT doc_id, source,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10 = 0
           |      AS is_eval
           |  FROM documents),
           |evh AS (SELECT DISTINCT h FROM sh JOIN d USING (doc_id)
           |  WHERE is_eval),
           |pos AS ($posUnions),
           |bloom AS (SELECT pos // 32 AS w,
           |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
           |  FROM pos GROUP BY 1),
           |tr AS (SELECT sh.doc_id, d.source, sh.h FROM sh
           |  JOIN d USING (doc_id) WHERE NOT is_eval),
           |probe AS (SELECT tr.doc_id, tr.source,
           |    CASE WHEN $allSet THEN 1 ELSE 0 END AS bloom_hit,
           |    CASE WHEN EXISTS (SELECT 1 FROM evh WHERE evh.h = tr.h)
           |      THEN 1 ELSE 0 END AS exact_hit
           |  FROM tr
           |$probeJoins)
           |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
           |  COUNT(*) AS n_shingles,
           |  CAST(SUM(bloom_hit) AS BIGINT) AS bloom_hits,
           |  CAST(SUM(exact_hit) AS BIGINT) AS exact_hits,
           |  CAST(SUM(bloom_hit) - SUM(exact_hit) AS BIGINT) AS fp_hits,
           |  CAST(SUM(CASE WHEN exact_hit = 1 AND bloom_hit = 0
           |    THEN 1 ELSE 0 END) = 0 AS BOOLEAN) AS never_misses
           |FROM probe GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val flags = docs.select($"doc_id", $"source",
        (TextOps.md5Long($"text") % 10 === 0).as("is_eval"))
      // distinct per-doc 3-gram shingle hashes (the canonical dedup
      // input), tagged with the split + source
      val sh = Dedup.shingleHashes(docs, "doc_id", "text")
        .join(flags, "doc_id")
      val evh = sh.filter($"is_eval").select($"h").distinct()
      // Bloom build: 4 positions per shingle -> packed 32-bit words ->
      // ONE row holding the whole bitset as a dense 2048-slot array
      // (absent words zero-filled), broadcast to the probe side. The
      // benchmark set never shuffles against the corpus.
      val dense = bloomDense(spark, evh)
      val tr = sh.filter(!$"is_eval").select($"doc_id", $"source", $"h")
      val probed = tr.crossJoin(broadcast(dense))
        .withColumn("bloom_hit", expr(probeSql("h")).cast("int"))
        .join(evh.select($"h", lit(1).as("exact_hit")), Seq("h"), "left")
        .select($"doc_id", $"source", $"bloom_hit",
          coalesce($"exact_hit", lit(0)).as("exact_hit"))
      probed.groupBy($"source")
        .agg(countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_shingles"),
          sum($"bloom_hit").cast(LongType).as("bloom_hits"),
          sum($"exact_hit").cast(LongType).as("exact_hits"),
          (sum($"bloom_hit") - sum($"exact_hit")).cast(LongType)
            .as("fp_hits"),
          (sum(when($"exact_hit" === 1 && $"bloom_hit" === 0, 1)
            .otherwise(0)) === 0).as("never_misses"))
    },

    // Prefix-filter (AllPairs/PPJoin-family) exact Jaccard join
    // over per-document 3-gram shingle sets at threshold 0.5.
    // Candidate pairs are generated only from each document's RAREST
    // n − ⌈n/2⌉ + 1 shingles under a global (df, h) order — the
    // classic lossless alternative to the df-cap approximation the
    // MinHash family uses (Bayardo et al., WWW'07): any pair with
    // J ≥ t provably shares a prefix element, so the exact-threshold
    // result is complete WITHOUT ever joining on high-frequency
    // elements. The threshold test is integer arithmetic (2·∩ ≥ ∪), so
    // the cut itself can't float-drift. SimJoinSpec proves
    // losslessness against the brute-force inverted-index join on the
    // fixture; the oracle re-derives the same prefix algebra
    // independently in SQL. (Token sets were the first cut — the
    // corpus' 31-word vocabulary put J ≥ 0.9 on 11k unrelated pairs;
    // shingles recover the ~dozens of true near-dups.)
    // ---- prefix-filter exact similarity join ----------------------------
    Qry(
      "q219_prefix_simjoin",
      s"""WITH ${TextOps.oracleToksCte},
         |${TextOps.oracleSh3Cte},
         |dft AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY 1),
         |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |rk AS (SELECT t.doc_id, t.h, n.n, row_number() OVER (
         |    PARTITION BY t.doc_id ORDER BY d.df, t.h) AS rn
         |  FROM sh t JOIN dft d USING (h) JOIN n USING (doc_id)),
         |pf AS (SELECT doc_id, h FROM rk
         |  WHERE rn <= n - (n + 1) // 2 + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM pf a JOIN pf b ON a.h = b.h AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.id_a, c.id_b,
         |    CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM cand c
         |  JOIN sh ta ON ta.doc_id = c.id_a
         |  JOIN sh tb ON tb.doc_id = c.id_b AND tb.h = ta.h
         |  GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b, i.inter,
         |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
         |  round(CAST(i.inter AS DOUBLE)
         |    / (na.n + nb.n - i.inter), 6) AS jac
         |FROM inter i JOIN n na ON na.doc_id = i.id_a
         |JOIN n nb ON nb.doc_id = i.id_b
         |WHERE 2 * i.inter >= na.n + nb.n - i.inter""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      // set elements = distinct 3-gram shingle HASHES (the canonical
      // dedup representation — token sets are too coarse on this
      // corpus: J >= 0.9 held for 11k token-set pairs vs the ~1k real
      // shingle-level near-dups; a residual 60-bit collision merges
      // identically in both engines)
      val tok = graft.operators.Staging.stage(
        graft.operators.Dedup.shingleHashes(
          Tables(spark, dir).documents, "doc_id", "text")
          .select($"doc_id", $"h".as("tok")),
        eager = false)
      val dft = tok.groupBy($"tok").agg(count(one).as("df"))
      val n = tok.groupBy($"doc_id").agg(count(one).as("n"))
      val rk = tok.join(dft, "tok").join(n, "doc_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"df", $"tok")))
      // lossless prefix: the rarest n - ceil(n/2) + 1 tokens. Integer
      // `div`, NOT `/`: Spark's `/` is double division, and rn <= 2.5
      // silently shortens the prefix by one for even n — lossy.
      val pf = rk.filter(expr("rn <= n - (n + 1) div 2 + 1"))
        .select($"doc_id", $"tok")
      val cand = pf.as("a").join(pf.as("b"),
        $"a.tok" === $"b.tok" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
        .distinct()
      val ta = tok.select($"doc_id".as("id_a"), $"tok")
      val tb = tok.select($"doc_id".as("id_b"), $"tok")
      val inter = cand.join(ta, "id_a").join(tb, Seq("id_b", "tok"))
        .groupBy($"id_a", $"id_b").agg(count(one).as("inter"))
      inter
        .join(n.select($"doc_id".as("id_a"), $"n".as("n_a")), "id_a")
        .join(n.select($"doc_id".as("id_b"), $"n".as("n_b")), "id_b")
        .filter(lit(2) * $"inter" >= $"n_a" + $"n_b" - $"inter")
        .select($"id_a", $"id_b", $"inter",
          $"n_a".cast(LongType).as("n_a"), $"n_b".cast(LongType).as("n_b"),
          round($"inter".cast("double") /
            ($"n_a" + $"n_b" - $"inter"), 6).as("jac"))
    },

    // STREAMING Bloom contamination gate. q218's one-row dense
    // bitset (built in batch from the benchmark slice) rides a
    // stream-static equi-join on a constant key — the static side
    // broadcasts, so each micro-batch pays a per-row array probe and
    // NOTHING shuffles against the benchmark set. Per-document
    // contaminated-shingle counts come from a single
    // aggregate(transform(...)) expression pair — the whole probe is
    // codegen-friendly column algebra inside the stream. This is the
    // crawl-ingest shape q194 (band-join near-dup) pays a join for,
    // at membership-only fidelity for a few KB of broadcast state.
    // ---- streaming Bloom contamination gate -----------------------------
    Qry(
      "q222_stream_bloom_gate", {
        val posUnions = (0 until KHash).map(i =>
          s"SELECT ${posSql(i, "h")} AS pos FROM evh")
          .mkString("\nUNION ALL ")
        val probeJoins = (0 until KHash).map { i =>
          s"LEFT JOIN bloom b$i ON b$i.w = ${posSql(i, "tr.h")} // 32"
        }.mkString("\n")
        val allSet = (0 until KHash).map { i =>
          s"((COALESCE(b$i.bits, 0) >> CAST(${posSql(i, "tr.h")} % 32 AS INT)) & 1) = 1"
        }.mkString(" AND ")
        s"""WITH ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |d AS (SELECT doc_id, source,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10 = 0
           |      AS is_eval
           |  FROM documents),
           |evh AS (SELECT DISTINCT h FROM sh JOIN d USING (doc_id)
           |  WHERE is_eval),
           |pos AS ($posUnions),
           |bloom AS (SELECT pos // 32 AS w,
           |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
           |  FROM pos GROUP BY 1),
           |tr AS (SELECT d.doc_id, d.source, sh.h FROM d
           |  LEFT JOIN sh USING (doc_id) WHERE NOT is_eval),
           |hits AS (SELECT tr.doc_id, tr.source,
           |    SUM(CASE WHEN tr.h IS NOT NULL AND $allSet
           |      THEN 1 ELSE 0 END) AS c
           |  FROM tr
           |$probeJoins
           |  GROUP BY 1, 2)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_dirty,
           |  CAST(SUM(c) AS BIGINT) AS hit_shingles
           |FROM hits GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      // batch side: the benchmark bitset (one row, dense 2048-slot
      // array) keyed by a constant so the stream joins it as a
      // broadcast equi-join — Spark plans stream-static inner joins,
      // and the static side is a few KB
      val evh = graft.operators.Dedup.shingleHashes(docs, "doc_id", "text")
        .join(docs.select($"doc_id",
          (TextOps.md5Long($"text") % 10 === 0).as("is_eval")), "doc_id")
        .filter($"is_eval").select($"h").distinct()
      val dense = broadcast(
        bloomDense(spark, evh).withColumn("k", lit(1)))
      // per-document contaminated count: hash each distinct shingle,
      // fold the probe — two higher-order functions, zero explode
      val probeAgg =
        s"aggregate(transform(shs, s -> ${hashModSql("s")}), " +
          s"CAST(0 AS BIGINT), (acc, h) -> acc + " +
          s"IF(${probeSql("h")}, 1, 0))"
      val perDoc = Streams.fileStream(spark, dir, "documents")
        .select($"doc_id", $"source",
          (TextOps.md5Long($"text") % 10 === 0).as("is_eval"),
          TextOps.tokens($"text").as("__tk"))
        .filter(!$"is_eval")
        .withColumn("shs", array_distinct(TextOps.shingles($"__tk", 3)))
        .withColumn("k", lit(1))
        .join(dense, "k")
        .withColumn("c", expr(probeAgg))
      val agg = perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"c" > 0, 1).otherwise(0)).cast(LongType).as("n_dirty"),
          sum($"c").cast(LongType).as("hit_shingles"))
      Streams.runToMemory(agg, "complete")
    },

    // Sequence-packing ASSIGNMENT manifest. q215 sized the packed corpus;
    // this emits the per-document placement the packer actually needs:
    // running token offset within the source's concatenation order (window
    // prefix-sum — the range-partitioned cumulative pattern at scale),
    // first/last 2048-token window touched, and whether the document
    // straddles a window boundary (the rows a loss-masking trainer treats
    // specially). Pure integer window arithmetic, oracle-identical.
    // ---- sequence-packing assignment manifest ---------------------------
    Qry(
      "q223_packing_assignment",
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '${TextOps.BpeTokSql}'))
         |      + 1 AS BIGINT) AS toks
         |  FROM documents),
         |o AS (SELECT doc_id, source, toks,
         |    CAST(COALESCE(SUM(toks) OVER (PARTITION BY source
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |  FROM t)
         |SELECT doc_id, source, toks, tok_offset,
         |  tok_offset // $SeqLen AS first_window,
         |  (tok_offset + toks - 1) // $SeqLen AS last_window,
         |  (tok_offset // $SeqLen)
         |    <> ((tok_offset + toks - 1) // $SeqLen) AS spans_boundary
         |FROM o""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // +1 = the per-document EOS, as in q215; concatenation order is
      // (source, doc_id) — deterministic and the order a resumable
      // packer would use.
      //
      // TWO-PASS GLOBAL PREFIX SUM: the first formulation computed the
      // running offset with ONE window partitioned by `source` — with
      // source cardinality ~5, each source's entire corpus slice flows
      // through a single task's sort at 100 TB, the textbook
      // low-cardinality serialization. The total order (source, doc_id) is
      // instead split into doc_id-range buckets (pure integer arithmetic —
      // deterministic and order-aligned, unlike spark_partition_id):
      //   pass 1: bucket-LOCAL exclusive prefix sum — parallelism =
      //           #buckets, which grows with the corpus;
      //   pass 2: per-(source, bucket) token subtotals (a tiny
      //           aggregate, corpus/4096 rows), cumulated per source
      //           and joined back as a broadcast.
      // tok_offset = bucket offset + local offset. (source, doc_id)
      // stays the deterministic ORDER; it is never the partitioning
      // key of a corpus-sized sort. PlanSpec pins the shape.
      val bucketW = 4096L
      val wLoc = Window.partitionBy($"source", $"bkt").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBkt = Window.partitionBy($"source").orderBy($"bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      // staged: the bucket-offset aggregate AND the main branch both
      // read the tokenized frame — unstaged, the corpus-sized
      // bpeTokenCount pass runs twice (the q242 lesson)
      val toks = graft.operators.Staging.stage(
        Tables(spark, dir).documents
          .select($"doc_id", $"source",
            (TextOps.bpeTokenCount($"text") + 1L).as("toks"))
          .withColumn("bkt", expr(s"doc_id div $bucketW")),
        eager = false)
      val bucketOffs = toks.groupBy($"source", $"bkt")
        .agg(sum($"toks").as("bt"))
        .withColumn("bkt_off", coalesce(sum($"bt").over(wBkt), lit(0L)))
        .select($"source".as("__s"), $"bkt".as("__b"), $"bkt_off")
      toks
        .withColumn("loc_off", coalesce(sum($"toks").over(wLoc), lit(0L)))
        .join(broadcast(bucketOffs),
          $"source" === $"__s" && $"bkt" === $"__b")
        .withColumn("tok_offset", $"bkt_off" + $"loc_off")
        .select($"doc_id", $"source", $"toks", $"tok_offset",
          expr(s"tok_offset div $SeqLen").as("first_window"),
          expr(s"(tok_offset + toks - 1) div $SeqLen").as("last_window"),
          (expr(s"tok_offset div $SeqLen") =!=
            expr(s"(tok_offset + toks - 1) div $SeqLen"))
            .as("spans_boundary"))
    },

    // CDC (Rabin-style) passage-level dedup. Chunk boundaries
    // are CONTENT-defined — a cut lands after every position whose
    // rolling 2-token context hashes ≡ 0 (mod 16) — so an edit
    // perturbs at most the chunks overlapping its 2-token window and
    // duplicated PASSAGES dedupe across documents even when the
    // documents as wholes differ. (The fixed-stride chunking of q99
    // re-aligns every chunk after any edit — the exact weakness CDC
    // exists to fix. The context is a 2-gram, not the single token:
    // the fixture's 31-word vocabulary left no single token ≡ 0 mod
    // 16, and one-token cuts would also fire at every occurrence of a
    // common word — 961 pair contexts give real boundary dispersion.
    // Divisor 16 ⇒ ~16-token expected chunks against ~55-token
    // documents.) Shape: posexplode → per-doc lag + prefix-sum of
    // boundary flags (ONE window sort serves both) → hash each chunk →
    // corpus-wide duplicate counts. The per-doc window partitions by
    // doc_id — the embarrassingly partitionable grain — and everything
    // downstream is a hash aggregate. Output: per-source chunk totals,
    // distinct chunks, duplicated-chunk instances, and mean chunk
    // length — the passage-dedup savings estimate a curation run
    // reads first.
    Qry(
      "q227_cdc_chunks",
      s"""WITH ${TextOps.oracleToksCte},
         |$oracleChunkCtes,
         |src AS (SELECT ch.doc_id, d.source, ch.ch_h, ch.ch_len
         |  FROM ch JOIN documents d USING (doc_id)),
         |dups AS (SELECT ch_h, COUNT(*) AS n FROM src GROUP BY 1)
         |SELECT source, COUNT(*) AS n_chunks,
         |  COUNT(DISTINCT s.ch_h) AS n_distinct,
         |  CAST(SUM(CASE WHEN dups.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_instances,
         |  CAST(SUM(s.ch_len) * 1000 // COUNT(*) AS BIGINT)
         |    AS mean_len_x1000
         |FROM src s JOIN dups ON s.ch_h = dups.ch_h
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // chunkTable: boundary flag from the SHARED hash, chunk id =
      // prefix-sum of flags, chunk content re-joined in position order
      // (array_sort of (i, tok) structs == the oracle's ORDER BY
      // inside string_agg)
      val ch = chunkTable(Tables(spark, dir).documents)
      val dups = ch.groupBy($"ch_h").agg(count(lit(1)).as("n"))
      ch.join(dups, "ch_h")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct($"ch_h").as("n_distinct"),
          sum(when($"n" > 1, 1).otherwise(0)).cast(LongType)
            .as("dup_instances"),
          (sum($"ch_len") * 1000L / count(lit(1))).cast(LongType)
            .as("mean_len_x1000"))
    },

    // ---- delta-batch passage decontamination ----------------------------
    // q156's asymmetry at the PASSAGE grain: an incoming delta batch
    // (a hash-chosen tenth of the corpus) probes the standing corpus'
    // chunk-hash index; the corpus never self-joins. Per delta doc:
    // how many of its passages the corpus already has, and the novelty
    // fraction — the daily-crawl question "is this document new text
    // or a remix of passages we already own?"
    Qry(
      "q234_delta_cdc_probe",
      s"""WITH ${TextOps.oracleToksCte},
         |$oracleChunkCtes,
         |d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10 = 3
         |      AS is_new
         |  FROM documents),
         |corpus AS (SELECT DISTINCT ch_h FROM ch JOIN d USING (doc_id)
         |  WHERE NOT is_new),
         |delta AS (SELECT ch.doc_id, ch.ch_h FROM ch JOIN d USING (doc_id)
         |  WHERE is_new),
         |pr AS (SELECT delta.doc_id,
         |    CASE WHEN EXISTS (SELECT 1 FROM corpus
         |      WHERE corpus.ch_h = delta.ch_h) THEN 1 ELSE 0 END AS known
         |  FROM delta)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(known) AS BIGINT) AS known_chunks,
         |  CAST((COUNT(*) - SUM(known)) * 1000000 // COUNT(*) AS BIGINT)
         |    AS novelty_ppm
         |FROM pr GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val flags = docs.select($"doc_id",
        (TextOps.md5Long($"text") % 10 === 3).as("is_new"))
      val ch = graft.operators.Staging.stage(
        chunkTable(docs).join(flags, "doc_id"), eager = false)
      val corpus = ch.filter(!$"is_new").select($"ch_h").distinct()
      val delta = ch.filter($"is_new").select($"doc_id", $"ch_h")
      delta
        .join(corpus.withColumn("known", lit(1)), Seq("ch_h"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce($"known", lit(0))).cast(LongType)
            .as("known_chunks"),
          ((count(lit(1)) - sum(coalesce($"known", lit(0)))) * 1000000L /
            count(lit(1))).cast(LongType).as("novelty_ppm"))
    },

    // Robots.txt (REP) longest-match evaluation. Per-domain rule
    // sets (three policy shapes: blanket-disallow-with-carve-out,
    // directory blocks, tmp-only) are joined against per-document
    // URLs and evaluated the way RFC 9309 / the Google REP says:
    // the LONGEST matching rule wins, Allow beats Disallow on equal
    // length, no match → allowed. The rule table is a broadcast (a
    // real crawl's robots corpus is tiny next to its URL corpus), the
    // match is a prefix compare, the verdict a per-URL top-1 window —
    // the fetch-or-skip gate every crawler runs before touching a
    // page.
    // ---- robots.txt longest-match verdicts ------------------------------
    Qry(
      "q230_robots_filter", {
        val ruleRows = Rules.map { case (c, t, r) =>
          s"($c, '$t', '$r')" }.mkString(", ")
        val pathCase = Paths.zipWithIndex.map { case (p, i) =>
          s"WHEN $i THEN '$p'" }.mkString(" ")
        s"""WITH d AS (SELECT doc_id, source,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
           |  FROM documents),
           |u AS (SELECT doc_id,
           |    CAST(substring(source, 4) AS INT) % 3 AS cls,
           |    CASE h % ${Paths.size} $pathCase END AS path
           |  FROM d),
           |r AS (SELECT * FROM (VALUES $ruleRows) AS t(cls, typ, rule)),
           |m AS (SELECT u.doc_id, u.path, r.typ, r.rule,
           |    row_number() OVER (PARTITION BY u.doc_id
           |      ORDER BY length(r.rule) DESC, r.typ, r.rule) AS rn
           |  FROM u JOIN r ON u.cls = r.cls
           |    AND substring(u.path, 1, length(r.rule)) = r.rule)
           |SELECT u.doc_id, u.path, m.rule AS matched_rule,
           |  m.typ AS rule_type,
           |  COALESCE(m.typ = 'allow', TRUE) AS allowed
           |FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
           |  USING (doc_id)""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val u = Tables(spark, dir).documents
        .select($"doc_id",
          (expr("CAST(substring(source, 4) AS INT)") % 3).as("cls"),
          element_at(
            array(Paths.map(lit): _*),
            (graft.operators.TextOps.md5Long($"text") % Paths.size + 1)
              .cast("int")).as("path"))
      val r = Rules.toDF("cls", "typ", "rule")
      // REP: longest rule wins, allow beats disallow on ties
      val m = u.join(broadcast(r), Seq("cls"))
        .filter(expr("substring(path, 1, length(rule)) = rule"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id")
            .orderBy(length($"rule").desc, $"typ", $"rule")))
        .filter($"rn" === 1)
        .select($"doc_id", $"typ", $"rule")
      u.join(m, Seq("doc_id"), "left")
        .select($"doc_id", $"path", $"rule".as("matched_rule"),
          $"typ".as("rule_type"),
          coalesce($"typ" === "allow", lit(true)).as("allowed"))
    },

    // Code-vs-prose detection for corpus routing. A hash-chosen
    // quarter of documents get a code block appended; the detector
    // recovers them from SIGNALS only — symbol density (braces,
    // semicolons, equals), language-keyword hits, camelCase
    // transitions — the heuristics a curation pipeline uses to route
    // text to the code tokenizer. Thresholds sit far from the noise
    // floor of word-soup prose, and the oracle computes the same
    // regex counts, so a drifting regex or density cut hash-fails.
    // ---- code-vs-prose routing ------------------------------------------
    Qry(
      "q231_code_detect", {
        s"""WITH d AS (SELECT doc_id, source, text,
           |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
           |  FROM documents),
           |s AS (SELECT doc_id, source,
           |    CASE WHEN h % 4 = 0 THEN text ||
           |      ' function load(data) { var idx = 0; return idx; }'
           |    ELSE text END AS body
           |  FROM d),
           |sig AS (SELECT doc_id, source, length(body) AS len,
           |    len(regexp_extract_all(body, '[{}();=]')) AS sym,
           |    len(regexp_extract_all(body,
           |      '\\b(function|return|var|def|class)\\b')) AS kw,
           |    len(regexp_extract_all(body, '[a-z][A-Z]')) AS camel
           |  FROM s)
           |SELECT doc_id, source, CAST(sym AS BIGINT) AS sym,
           |  CAST(kw AS BIGINT) AS kw, CAST(camel AS BIGINT) AS camel,
           |  CAST(sym * 1000000 // len AS BIGINT) AS sym_ppm,
           |  (sym * 1000000 // len >= 10000 AND kw >= 2) AS is_code
           |FROM sig""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val body = when(
        graft.operators.TextOps.md5Long($"text") % 4 === 0,
        concat($"text",
          lit(" function load(data) { var idx = 0; return idx; }")))
        .otherwise($"text")
      Tables(spark, dir).documents
        .select($"doc_id", $"source", body.as("body"))
        .select($"doc_id", $"source", length($"body").as("len"),
          size(regexp_extract_all($"body", lit("[{}();=]"), lit(0)))
            .as("sym"),
          size(regexp_extract_all($"body",
            lit("\\b(function|return|var|def|class)\\b"), lit(0)))
            .as("kw"),
          size(regexp_extract_all($"body", lit("[a-z][A-Z]"), lit(0)))
            .as("camel"))
        .select($"doc_id", $"source",
          $"sym".cast(LongType).as("sym"),
          $"kw".cast(LongType).as("kw"),
          $"camel".cast(LongType).as("camel"),
          expr("CAST(sym AS BIGINT) * 1000000 div len").cast(LongType)
            .as("sym_ppm"),
          (expr("CAST(sym AS BIGINT) * 1000000 div len") >= 10000 &&
            $"kw" >= 2).as("is_code"))
    },

    // Temperature-sampled mixture weights (the mT5/XLM-R pretraining
    // recipe): per-source sampling weight ∝ tokens^0.5, normalized to ppm,
    // then an epoch budget split and the implied per-source upsample
    // factor. α = 0.5 deliberately: sqrt is CORRECTLY ROUNDED under
    // IEEE-754 in both engines, so floor(sqrt(·)) is bit-deterministic
    // where pow(x, 0.7)'s libm would not be (the same class of trap the HLL
    // finalize hit — designed around this time, not discovered).
    // ---- temperature-sampled mixture weights ----------------------------
    Qry(
      "q232_mixture_weights",
      s"""WITH t AS (SELECT source,
         |    CAST(SUM(len(regexp_extract_all(text, '${TextOps.BpeTokSql}'))
         |      + 1) AS BIGINT) AS total_tokens
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source, total_tokens,
         |    CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT) AS w
         |  FROM t),
         |s AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM w)
         |SELECT source, total_tokens, w,
         |  CAST(w * 1000000 // wsum AS BIGINT) AS quota_ppm,
         |  CAST($EpochBudget * w // wsum AS BIGINT) AS epoch_tokens,
         |  CAST($EpochBudget * w * 1000 // wsum // total_tokens AS BIGINT)
         |    AS upsample_x1000
         |FROM w CROSS JOIN s""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir).documents
        .select($"source", (TextOps.bpeTokenCount($"text") + 1L).as("toks"))
        .groupBy($"source").agg(sum($"toks").as("total_tokens"))
        .withColumn("w",
          expr("CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT)"))
      val s = t.agg(sum($"w").cast(LongType).as("wsum"))
      t.crossJoin(broadcast(s))
        .select($"source", $"total_tokens".cast(LongType).as("total_tokens"),
          $"w",
          expr("w * 1000000 div wsum").cast(LongType).as("quota_ppm"),
          expr(s"$EpochBudget * w div wsum").cast(LongType)
            .as("epoch_tokens"),
          expr(s"$EpochBudget * w * 1000 div wsum div total_tokens")
            .cast(LongType).as("upsample_x1000"))
    },

    // The SECOND tokenizer family. The BPE lifecycle (q78/q162/q182/q187)
    // is merge-driven; real pipelines also train unigram-LM
    // (SentencePiece-style) vocabularies, whose training loop is EM over
    // segmentations. q239 runs one full hard-EM step under the q120/q162
    // fixed-point-step discipline, cross-engine exact.
    //
    // The model (oracle CTE stack + Spark pipeline) is shared with q241's
    // vocabulary-prune step (q241) via [[EmOraclePrefix]]/[[emModel]].
    //
    // Unigram-LM EM step. Model: piece inventory = every corpus
    // character + the top-16 character bigrams (by frequency, ties
    // lexicographic); piece weights = floor(1e6·ln(count/total)) —
    // BIGINT log-probs, so every DOWNSTREAM comparison is exact integer
    // arithmetic (the only float op is the row-local ln, IEEE-identical
    // across engines — the q158 discipline). E-step: per DISTINCT word
    // (vocabulary collapse — the corpus is never re-segmented per
    // occurrence), Viterbi segmentation via an integer DP fold over the
    // word's positions, bigram-preferred deterministic tie-break, then
    // a backward fold reconstructs the argmax segmentation. Hard-EM
    // (Viterbi counts, not forward-backward expectations) is chosen
    // exactly because its M-step counts are integers: the oracle
    // re-derives the identical step, and one diverging segmentation
    // anywhere in the vocabulary reshapes the piece counts corpus-wide.
    // M-step: piece counts weighted by word frequency, renormalized to
    // ppm. Scale shape: one corpus-sized tokenize+count pass collapses
    // to the word vocabulary (staged leaf); everything after —
    // inventory, weights, DP, backward, counts — is vocabulary-bounded,
    // and the weight table rides as ONE broadcast map row.
    Qry(
      "q239_unigram_em_step",
      s"""$EmOraclePrefix
         |SELECT p AS piece, CAST(length(p) AS INT) AS piece_len, cnt,
         |  CAST(1000000 * cnt // SUM(cnt) OVER () AS BIGINT) AS ppm
         |FROM mstep""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val (_, mstep) = emModel(spark, dir)
      // M-step output: frequency-weighted piece counts in ppm
      mstep
        .withColumn("tot2", sum($"cnt").over(Window.partitionBy()))
        .select($"p".as("piece"), length($"p").as("piece_len"),
          $"cnt".cast(LongType).as("cnt"),
          expr("1000000 * cnt DIV tot2").as("ppm"))
    },

    // Unigram-LM vocabulary PRUNE step — SentencePiece's shrink
    // phase on q239's model: each multi-char piece's likelihood
    // contribution if kept vs re-segmented to its characters
    // (cnt x (wt(piece) - Σ wt(chars)), exact BIGINT), ranked; the
    // lowest-gain pieces are marked 'prune'. Completes the unigram
    // lifecycle (step → shrink) the way q162→q187 completed BPE.
    // ---- unigram vocabulary prune step ----------------------------------
    Qry(
      "q241_unigram_prune",
      s"""${EmOraclePrefix},
         |bgp AS (SELECT p, cnt FROM mstep WHERE length(p) = 2),
         |gains AS (SELECT b.p, b.cnt,
         |    CAST(b.cnt * (wp.wt - w1.wt - w2.wt) AS BIGINT) AS gain
         |  FROM bgp b
         |  JOIN wts wp ON wp.p = b.p
         |  JOIN wts w1 ON w1.p = substring(b.p, 1, 1)
         |  JOIN wts w2 ON w2.p = substring(b.p, 2, 1))
         |SELECT p AS piece, cnt, gain, CAST(rn AS INT) AS rank,
         |  CASE WHEN rn <= $KeepPieces THEN 'keep' ELSE 'prune' END
         |    AS verdict
         |FROM (SELECT *, row_number() OVER (ORDER BY gain DESC, p) AS rn
         |      FROM gains)""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val (wts, mstep) = emModel(spark, dir)
      // gain of KEEPING a piece = its Viterbi count x (its log-weight
      // minus the char fallback's) — exact BIGINT; the piece table is
      // vocabulary-bounded, so all three weight lookups broadcast
      mstep.filter(length($"p") === 2)
        .join(broadcast(wts.select($"p".as("__wp"), $"wt".as("__wtp"))),
          $"p" === $"__wp")
        .join(broadcast(wts.select($"p".as("__w1"), $"wt".as("__wt1"))),
          substring($"p", 1, 1) === $"__w1")
        .join(broadcast(wts.select($"p".as("__w2"), $"wt".as("__wt2"))),
          substring($"p", 2, 1) === $"__w2")
        .select($"p", $"cnt".cast(LongType).as("cnt"),
          ($"cnt" * ($"__wtp" - $"__wt1" - $"__wt2")).cast(LongType)
            .as("gain"))
        .withColumn("rank",
          row_number().over(Window.orderBy($"gain".desc, $"p")))
        .select($"p".as("piece"), $"cnt", $"gain", $"rank",
          when($"rank" <= KeepPieces, "keep").otherwise("prune")
            .as("verdict"))
    },

    // BM25 top-k lexical retrieval — the ranking function every
    // RAG/curation pipeline runs against its corpus index. Exact
    // integer tf/df/dl; the float factors (ln idf, length
    // normalization) are written as the identical expression text on
    // both engines and the per-document sum routes through the
    // DECIMAL(28,6) accumulator so addition order cannot matter.
    // ---- BM25 top-k retrieval --------------------------------------------
    Qry(
      "q242_bm25_topk", {
        val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
        s"""WITH ${TextOps.oracleToksCte},
           |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
           |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
           |  WHERE tok IN ($inList) GROUP BY 1, 2),
           |dft AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           |  FROM tf GROUP BY 1),
           |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
           |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
           |ts AS (SELECT tf.doc_id,
           |    ln((nn - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
           |      / (tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
           |        / avgdl)) AS s
           |  FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id)
           |  CROSS JOIN nd),
           |scored AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           |    ${dsumSql("s")} AS score
           |  FROM ts GROUP BY 1)
           |SELECT CAST(rn AS INT) AS rank, doc_id, n_terms, score
           |FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
           |        AS rn FROM scored)
           |WHERE rn <= $Bm25K""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      // staged: the doc-length side AND the term-frequency side both
      // read the tokenized table — unstaged, the corpus tokenizes twice
      val toks = graft.operators.Staging.stage(
        Tables(spark, dir).documents
          .select($"doc_id", TextOps.tokens($"text").as("tk")),
        eager = false)
      val dl = toks.select($"doc_id", size($"tk").cast(LongType).as("dl"))
      val tf = toks.select($"doc_id", explode($"tk").as("tok"))
        .filter($"tok".isin(Bm25Terms: _*))
        .groupBy($"doc_id", $"tok").agg(count(one).as("tf"))
      val dft = tf.groupBy($"tok".as("__t"))
        .agg(countDistinct($"doc_id").as("df"))
      // corpus stats ride as a broadcast single-row aggregate
      val nd = dl.agg(count(one).cast("double").as("nn"),
        (sum($"dl").cast("double") / count(one)).as("avgdl"))
      // the float factors spell the oracle's expression VERBATIM; the
      // per-document sum is decimal so term order cannot matter
      val termScore = expr(
        "ln((nn - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)" +
          " / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))")
      tf.join(broadcast(dft), $"tok" === $"__t")
        .join(dl, "doc_id")
        .crossJoin(broadcast(nd))
        .select($"doc_id", termScore.as("s"))
        .groupBy($"doc_id")
        .agg(count(one).as("n_terms"), dsum($"s").as("score"))
        .withColumn("rank",
          row_number().over(Window.orderBy($"score".desc, $"doc_id")))
        .filter($"rank" <= Bm25K)
        .select($"rank", $"doc_id", $"n_terms", $"score")
    },

    // URL normalization + registered-domain extraction — crawl
    // curation's first join key. Spark PARSES synthesized raw URLs
    // (parse_url + regex: case-folding, default-port stripping,
    // fragment drop, trailing-slash collapse); the oracle predicts the
    // normalized form from the synthesis PARAMETERS (the q192
    // pattern), so the parser is checked against ground truth, never
    // against itself.
    // ---- URL normalization + registered domain ---------------------------
    Qry(
      "q243_url_normalize",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    h % 2 AS sch, (h // 4) % 3 AS pv, (h // 48) % 2 AS qs,
         |    (h // 96) % 20 AS hk, (h // 1920) % 5 AS hm,
         |    (h // 9600) % 1000 AS pn
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN sch = 1 THEN 'https' ELSE 'http' END || '://cdn'
         |    || hk || '.example' || hm || '.org'
         |    || CASE WHEN pv = 2 THEN ':8080' ELSE '' END
         |    || '/docs/item' || pn
         |    || CASE WHEN qs = 1 THEN '?q=' || pn ELSE '' END AS norm_url,
         |  'example' || hm || '.org' AS domain,
         |  CAST(sch AS INT) AS https
         |FROM p""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // ---- synthesis: a RAW url with hash-chosen denormalizations ----
      // (mixed-case host, default vs explicit port, trailing slash,
      // fragment, optional query) — the forms a crawl frontier actually
      // contains
      val raw = concat(
        when($"sch" === 1, "https").otherwise("http"), lit("://"),
        when($"hcase" === 1,
          upper(concat(lit("cdn"), $"hk", lit(".example"), $"hm",
            lit(".org"))))
          .otherwise(concat(lit("cdn"), $"hk", lit(".example"), $"hm",
            lit(".org"))),
        when($"pv" === 1,
          when($"sch" === 1, ":443").otherwise(":80"))
          .when($"pv" === 2, ":8080").otherwise(""),
        lit("/docs/item"), $"pn",
        when($"tsl" === 1, "/").otherwise(""),
        when($"qs" === 1, concat(lit("?q="), $"pn")).otherwise(""),
        when($"frag" === 1, "#top").otherwise(""))
      // ---- normalization: the REAL parse, verified against the
      // parameter-level oracle — lower-cased scheme+host, default port
      // stripped (non-default kept), one trailing slash collapsed,
      // fragment dropped, query preserved
      val proto = lower(parse_url($"raw", lit("PROTOCOL")))
      val host = lower(parse_url($"raw", lit("HOST")))
      val port = regexp_extract(parse_url($"raw", lit("AUTHORITY")),
        ":(\\d+)$", 1)
      val path = parse_url($"raw", lit("PATH"))
      val query = parse_url($"raw", lit("QUERY"))
      val keepPort = port =!= "" &&
        !(proto === "http" && port === "80") &&
        !(proto === "https" && port === "443")
      val normUrl = concat(proto, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(""),
        when(path === "/", "/").otherwise(regexp_replace(path, "/$", "")),
        when(query.isNotNull, concat(lit("?"), query)).otherwise(""))
      Tables(spark, dir).documents
        .select($"doc_id", TextOps.md5Long($"text").as("h"))
        // integer `div`, never `/`: Spark's `/` is double division and
        // silently rounds the parameter derivation (the q219 lesson)
        .withColumn("sch", expr("h % 2"))
        .withColumn("hcase", expr("(h div 2) % 2"))
        .withColumn("pv", expr("(h div 4) % 3"))
        .withColumn("tsl", expr("(h div 12) % 2"))
        .withColumn("frag", expr("(h div 24) % 2"))
        .withColumn("qs", expr("(h div 48) % 2"))
        .withColumn("hk", expr("(h div 96) % 20"))
        .withColumn("hm", expr("(h div 1920) % 5"))
        .withColumn("pn", expr("(h div 9600) % 1000"))
        .withColumn("raw", raw)
        .select($"doc_id", normUrl.as("norm_url"),
          regexp_extract(host, "([a-z0-9-]+\\.[a-z]+)$", 1).as("domain"),
          $"sch".cast("int").as("https"))
    },

    // Token-trend detection across crawl snapshots — the drift
    // monitor a recurring-crawl pipeline runs before mixing a new
    // snapshot into training data (a token whose frequency jumps
    // snapshot-over-snapshot flags template spam, event-driven topic
    // shift, or a scraper regression). Documents are assigned one of
    // four snapshots by content hash; per-(snapshot, token) counts
    // collapse map-side (the only corpus-sized stage), the
    // snapshot-over-snapshot ratio is an integer-ppm lag over the
    // vocabulary-bounded count table, and the top-5 risers per
    // snapshot ride the rank-limit pushdown. Smoothing (+1 in the
    // denominator) keeps new tokens finite and the arithmetic exact.
    Qry("q245_token_drift", DriftOracle) { (spark, dir) =>
      import spark.implicits._
      driftTail(Tables(spark, dir).documents
        .select((TextOps.md5Long($"text") % Snaps).as("snap"),
          explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"snap", $"tok").agg(count(lit(1)).cast(LongType).as("c")))
    },

    // q245's token-drift as a STREAMING aggregation — documents
    // arrive as a file stream, the (snapshot, token) count table is a
    // complete-mode streaming groupBy, and the drift tail (lag + top-5
    // risers) runs post-sink over the vocabulary-bounded counts.
    // Shares q245's oracle text VERBATIM (the q192/q193 pattern).
    // ---- token drift under Structured Streaming ---------------------------
    Qry("q248_stream_drift", DriftOracle) { (spark, dir) =>
      import spark.implicits._
      val cnt = Streams.fileStream(spark, dir, "documents")
        .select((TextOps.md5Long($"text") % Snaps).as("snap"),
          explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"snap", $"tok").agg(count(one).cast(LongType).as("c"))
      // count table = streaming aggregation; the drift tail runs
      // post-sink over the vocabulary-bounded counts (one stateful
      // operator per streaming query)
      driftTail(Streams.runToMemory(cnt, "complete"))
    },

    // Dataset card — the one-row summary a dataset release publishes:
    // document/token/char volumes, language and source cardinalities, the
    // dominant language and its corpus share, exact-duplicate rate, and the
    // language-mix entropy (nats, x1e6). One corpus scan computes
    // per-document facts; everything above is a handful of bounded
    // aggregates cross-joined into one row. The entropy terms route through
    // the DECIMAL(28,6) accumulator so language summation order cannot
    // matter (ln itself is row-local — the q158 discipline).
    // ---- dataset card ------------------------------------------------------
    Qry("q252_dataset_card", CardOracle) { (spark, dir) =>
      import spark.implicits._
      // ONE corpus scan -> per-document facts; every aggregate above
      // is bounded (one global row, |langs| rows) and cross-joined back
      val d = Tables(spark, dir).documents
        .select($"doc_id", $"lang", $"source",
          size(TextOps.tokens($"text")).cast(LongType).as("n_tok"),
          length($"text").cast(LongType).as("n_chars"),
          md5($"text").as("h"))
      val tot = d.agg(count(one).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        sum($"n_chars").as("n_chars"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        (count(one) - countDistinct($"h")).as("n_dup_docs"))
      val lc = d.groupBy($"lang").agg(count(one).as("nl"))
      val topl = lc
        .withColumn("rn",
          row_number().over(Window.orderBy($"nl".desc, $"lang")))
        .filter($"rn" === 1)
        .select($"lang".as("top_lang"), $"nl".as("top_lang_docs"))
      val ent = lc.crossJoin(broadcast(tot.select($"n_docs".as("nd"))))
        .select(dsum(-($"nl".cast("double") / $"nd") *
          log($"nl".cast("double") / $"nd")).as("lang_entropy"))
      tot.crossJoin(broadcast(topl)).crossJoin(broadcast(ent))
        .select($"n_docs", $"n_tokens", $"n_chars", $"n_langs",
          $"n_sources",
          expr("1000000 * n_dup_docs DIV n_docs").as("exact_dup_ppm"),
          $"top_lang",
          expr("1000000 * top_lang_docs DIV n_docs").as("top_lang_ppm"),
          $"lang_entropy")
    },

    // Collocation mining — top-20 adjacent token pairs by exact
    // integer LIFT (1e6·n_ab/n_a·N/n_b, floored in that declared
    // order so no product overflows at corpus scale), the phrase table
    // a tokenizer-seeding/phrase-mining pass ships. One corpus-sized
    // bigram explode collapsing map-side; the lift join runs over the
    // vocabulary-bounded count tables; top-20 rides rank-limit
    // pushdown.
    // ---- collocation mining ------------------------------------------------
    Qry(
      "q253_collocations",
      s"""WITH ${TextOps.oracleToksCte},
         |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n1
         |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS nn FROM uni),
         |bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab FROM (
         |    SELECT unnest(list_transform(range(len(tk) - 1),
         |      i -> tk[CAST(i + 1 AS INT)])) AS a,
         |      unnest(list_transform(range(len(tk) - 1),
         |        i -> tk[CAST(i + 2 AS INT)])) AS b
         |    FROM toks WHERE len(tk) >= 2)
         |  GROUP BY 1, 2
         |  HAVING COUNT(*) >= $MinPair),
         |lift AS (SELECT a, b, nab,
         |    (1000000 * nab // ua.n1) * nn // ub.n1 AS lift_ppm
         |  FROM bi JOIN uni ua ON bi.a = ua.tok
         |    JOIN uni ub ON bi.b = ub.tok CROSS JOIN tot)
         |SELECT CAST(rn AS INT) AS rank, a, b, nab, lift_ppm
         |FROM (SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, a, b)
         |        AS rn FROM lift)
         |WHERE rn <= $TopK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val toks = Tables(spark, dir).documents
        .select(TextOps.tokens($"text").as("tk"))
      val uni = toks.select(explode($"tk").as("tok"))
        .groupBy($"tok").agg(count(one).as("n1"))
      val tot = uni.agg(sum($"n1").as("nn"))
      // adjacent pairs: one corpus-sized explode, map-side collapsed;
      // the zip trick keeps tk in argument position (TextOps.shingles'
      // lambda-capture lesson)
      val bi = toks.filter(size($"tk") >= 2)
        .select(explode(zip_with(
          slice($"tk", lit(1), size($"tk") - 1),
          slice($"tk", lit(2), size($"tk") - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .select($"p.a", $"p.b")
        .groupBy($"a", $"b").agg(count(one).as("nab"))
        .filter($"nab" >= MinPair)
      // lift floored in the DECLARED order (1e6*nab/n_a, then *N/n_b)
      // so no product exceeds BIGINT at corpus scale
      bi.join(uni.select($"tok".as("ta"), $"n1".as("na")), $"a" === $"ta")
        .join(uni.select($"tok".as("tb"), $"n1".as("nb")), $"b" === $"tb")
        .crossJoin(broadcast(tot))
        .select($"a", $"b", $"nab",
          expr("(1000000 * nab DIV na) * nn DIV nb").as("lift_ppm"))
        .withColumn("rank",
          row_number().over(Window.orderBy($"lift_ppm".desc, $"a", $"b")))
        .filter($"rank" <= TopK)
        .select($"rank", $"a", $"b", $"nab", $"lift_ppm")
    },

    // `Unigram.train` runs TWO full hard-EM rounds in-engine:
    // round 1 segments under the char+top-bigram inventory weights,
    // then the q241 gain criterion prunes to the top-8 bigrams (chars
    // kept unconditionally — SentencePiece's coverage rule), counts are
    // add-one smoothed (a char Viterbi never chose must keep a finite
    // log-weight) and reweighted, and round 2 re-segments the corpus
    // under the TRAINED weights. The oracle re-derives BOTH rounds from
    // scratch — the round-2 Viterbi DP + recursive backward walk are
    // the same machinery text as round 1, parameterized over the
    // trained weight map (emRoundCtes) — so one diverging
    // gain, smoothing term or weight anywhere in round 1 reshapes the
    // round-2 segmentation corpus-wide and hash-fails (q187's proof
    // shape). Scale shape: each round is ONE vocabulary-collapsed job
    // over the staged word table; prune/reweight are
    // |alphabet|+16-bounded; weights ride as one broadcast map row;
    // per-round staging releases the previous round's blocks
    // (Bpe.trainMerges' discipline), so driver state is zero and
    // executor state is one piece table per live round.
    Qry(
      "q258_unigram_train",
      s"""${EmOraclePrefix},
         |bgp2 AS (SELECT p, cnt FROM mstep WHERE length(p) = 2),
         |gains2 AS (SELECT b.p, b.cnt,
         |    CAST(b.cnt * (wp.wt - w1.wt - w2.wt) AS BIGINT) AS gain
         |  FROM bgp2 b
         |  JOIN wts wp ON wp.p = b.p
         |  JOIN wts w1 ON w1.p = substring(b.p, 1, 1)
         |  JOIN wts w2 ON w2.p = substring(b.p, 2, 1)),
         |keepbg AS (SELECT p, cnt FROM (SELECT p, cnt,
         |    row_number() OVER (ORDER BY gain DESC, p) AS rn
         |  FROM gains2) WHERE rn <= $Keep),
         |cnt1 AS (SELECT c.p, COALESCE(m.cnt, 0) + 1 AS n
         |    FROM chars c LEFT JOIN mstep m ON m.p = c.p
         |  UNION ALL SELECT p, cnt + 1 AS n FROM keepbg),
         |tot1 AS (SELECT SUM(n) AS t FROM cnt1),
         |wts1 AS (SELECT p,
         |    CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE) / t)) AS BIGINT)
         |      AS wt
         |  FROM cnt1, tot1),
         |wm1 AS (SELECT map(list(p ORDER BY p), list(wt ORDER BY p)) AS m
         |  FROM wts1),
         |${emRoundCtes("2", "wm1")}
         |SELECT p AS piece, CAST(length(p) AS INT) AS piece_len, cnt,
         |  CAST(1000000 * cnt // SUM(cnt) OVER () AS BIGINT) AS ppm
         |FROM mstep2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val trained = Unigram.train(Tables(spark, dir).documents, "text",
        rounds = Rounds, keep = Keep)
      trained
        .withColumn("tot2", sum($"cnt").over(Window.partitionBy()))
        .select($"p".as("piece"), length($"p").as("piece_len"),
          $"cnt".cast(LongType).as("cnt"),
          expr("1000000 * cnt DIV tot2").as("ppm"))
    },

    // Exact duplicated-substring removal (the deduplicate-training-data
    // shape: any W-token run appearing more than once corpus-wide is
    // removed wherever it repeats, keeping the first occurrence). Every
    // W=8-token window hashes once; window occurrences rank corpus-wide per
    // hash by (doc_id, position) — rank 1 is the kept copy, every later
    // rank is a duplicated span [p, p+W); per-doc overlapping-or-adjacent
    // spans merge into maximal islands via the running-max window trick.
    // Because a duplicated region of length L >= W duplicates ALL its
    // W-windows, the merged islands are EXACTLY the maximal >=W-token
    // duplicated regions — shingles give the suffix-array answer at
    // threshold W. Scale shape: one tokenize pass (staged — feeds sizes AND
    // shingles), one shuffle on the window hash for the rank, one shuffle
    // on doc_id for the island merge; everything is linear in corpus
    // positions, no pair join anywhere.
    // ---- exact duplicated-substring removal ------------------------------
    Qry(
      "q261_substring_dedup",
      s"""WITH ${TextOps.oracleToksCte},
         |sz AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
         |       FROM toks),
         |$oracleOccCtes,
         |dup AS (SELECT doc_id, p AS s, p + $W AS e FROM (
         |    SELECT doc_id, p, row_number() OVER (PARTITION BY h
         |        ORDER BY doc_id, p) AS rn FROM occ)
         |  WHERE rn > 1),
         |${oracleIslandCtes("dup")}
         |$oracleKeepSelect""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      // staged: the tokenize pass feeds sizes AND shingle positions
      // (the q242 lesson — unstaged, the corpus tokenizes twice)
      val toks = Staging.stage(Tables(spark, dir).documents
        .select($"doc_id", TextOps.tokens($"text").as("tk")),
        eager = false)
      val sz = toks.select($"doc_id",
        size($"tk").cast(LongType).as("n_tokens"))
      // rank 1 per hash = the kept first occurrence; later ranks are
      // duplicated spans — one shuffle on h, linear in positions
      val wH = Window.partitionBy($"h").orderBy($"doc_id", $"p")
      val dup = occFrame(toks).withColumn("rn", row_number().over(wH))
        .filter($"rn" > 1)
        .select($"doc_id", $"p".as("s"), ($"p" + W).as("e"))
      keepReport(sz, islandAgg(dup))
    },

    // Data selection via importance resampling weights (the
    // DSIR shape): hashed token features (B=64 buckets), target
    // distribution = the English slice, raw distribution = the whole
    // corpus, per-doc weight = sum over token occurrences of
    // log(p_target(bucket) / p_raw(bucket)) with add-one smoothing.
    // The two lns are floored to integer ppm SEPARATELY (declared
    // order) and everything after is exact integer arithmetic — the
    // Unigram convention: the only float op is the row-local ln,
    // IEEE-identical across engines. Scale shape: one corpus-sized
    // explode + (doc, bucket) partial aggregate; both distribution
    // tables are 64 rows derived from that frame; the log-ratio table
    // joins back as a broadcast; the per-doc sum is the second and
    // last shuffle. At 100 TB this is the standing recipe for "make
    // the pretraining mix look like the target domain" — weights are
    // a pure function of corpus + target slice, no model in the loop.
    // ---- DSIR importance weights ------------------------------------------
    Qry(
      "q266_dsir_weights",
      s"""WITH ${TextOps.oracleToksCte},
         |tf AS (SELECT doc_id, lang,
         |    ${TextOps.oracleHashSql("t")} % $DsirBuckets AS b,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, lang, unnest(tk) AS t FROM toks)
         |  GROUP BY 1, 2, 3),
         |tgt AS (SELECT b, SUM(c) AS n FROM tf
         |        WHERE lang = '$TargetLang' GROUP BY 1),
         |raw AS (SELECT b, SUM(c) AS n FROM tf GROUP BY 1),
         |tt AS (SELECT SUM(n) AS t FROM tgt),
         |rt AS (SELECT SUM(n) AS t FROM raw),
         |lp AS (SELECT r.b,
         |    CAST(floor(1000000.0 * ln((COALESCE(g.n, 0) + 1.0)
         |        / (tt.t + $DsirBuckets.0))) AS BIGINT)
         |  - CAST(floor(1000000.0 * ln((r.n + 1.0)
         |        / (rt.t + $DsirBuckets.0))) AS BIGINT) AS lppm
         |  FROM raw r LEFT JOIN tgt g ON r.b = g.b, tt, rt)
         |SELECT f.doc_id, CAST(SUM(f.c) AS BIGINT) AS n_toks,
         |  CAST(SUM(f.c * lp.lppm) AS BIGINT) AS w_ppm
         |FROM tf f JOIN lp ON f.b = lp.b
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val tf = Tables(spark, dir).documents
        .select($"doc_id", $"lang",
          explode(TextOps.tokens($"text")).as("t"))
        .groupBy($"doc_id", $"lang",
          (TextOps.md5Long($"t") % lit(TextOps.P) % DsirBuckets).as("b"))
        .agg(count(one).cast(LongType).as("c"))
      val tgt = tf.filter($"lang" === TargetLang)
        .groupBy($"b".as("gb")).agg(sum($"c").as("gn"))
      val raw = tf.groupBy($"b".as("rb")).agg(sum($"c").as("rn"))
      val tt = tgt.agg(sum($"gn").as("ttot"))
      val rt = raw.agg(sum($"rn").as("rtot"))
      // B-row log-ratio table: both lns floored SEPARATELY to ppm
      // (the declared order the oracle spells identically)
      val lp = raw.join(tgt, $"rb" === $"gb", "left")
        .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
        .select($"rb",
          (floor(lit(1000000.0) *
            log((coalesce($"gn", lit(0L)) + 1.0) / ($"ttot" + lit(DsirBuckets.toDouble))))
            .cast(LongType) -
          floor(lit(1000000.0) *
            log(($"rn" + 1.0) / ($"rtot" + lit(DsirBuckets.toDouble))))
            .cast(LongType)).as("lppm"))
      tf.join(broadcast(lp), $"b" === $"rb")
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_toks"),
          sum($"c" * $"lppm").as("w_ppm"))
    },

    // Reciprocal-rank fusion of two lexical retrieval systems
    // over the same candidate set (docs containing >= 1 query term):
    // q242's BM25 ranking fused with a plain TF-IDF-sum ranking (no
    // saturation, no length norm — the two systems genuinely disagree
    // on long/repetitive docs, which is what fusion exists to hedge).
    // RRF score = Σ 1e6 DIV (60 + rank) over the rankings an item
    // appears in (the standard k=60 constant) — EXACT integer
    // arithmetic over integer ranks, so the fused ranking is
    // cross-engine provable even though each system's scores are
    // floats. Scale shape: both scorers share one staged
    // (doc, term, tf) leaf; rankings are global top via rank-limit
    // pushdown; the fusion joins two rank-bounded tables.
    // ---- reciprocal-rank fusion --------------------------------------------
    Qry(
      "q278_rrf_fusion",
      s"""WITH $rankCtes,
         |fused AS (SELECT COALESCE(rb.doc_id, rt.doc_id) AS doc_id,
         |    rb.r1, rt.r2,
         |    COALESCE(1000000 // ($RrfK + rb.r1), 0)
         |      + COALESCE(1000000 // ($RrfK + rt.r2), 0) AS rrf_ppm
         |  FROM rb FULL JOIN rt ON rb.doc_id = rt.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id, r1 AS r_bm25, r2 AS r_tfidf,
         |  CAST(rrf_ppm AS BIGINT) AS rrf_ppm
         |FROM fused
         |QUALIFY rank <= $FusionTopK""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val (rb, rt) = rankings(spark, dir)
      val fused = rb.join(rt, $"doc_id" === $"doc_id2", "full")
        .select(coalesce($"doc_id", $"doc_id2").as("doc_id"),
          $"r1", $"r2",
          (coalesce(expr(s"1000000 DIV ($RrfK + r1)"), lit(0L)) +
            coalesce(expr(s"1000000 DIV ($RrfK + r2)"), lit(0L)))
            .as("rrf_ppm"))
      fused.withColumn("rank", row_number().over(
          Window.orderBy($"rrf_ppm".desc, $"doc_id")).cast(LongType))
        .filter($"rank" <= FusionTopK)
        .select($"rank", $"doc_id", $"r1".as("r_bm25"),
          $"r2".as("r_tfidf"), $"rrf_ppm")
    },

    // An incoming delta batch (doc_id mod 7 = 3 plays the daily crawl)
    // probes a STANDING window-hash index built from the corpus (all other
    // docs); any delta window whose hash is already indexed is a duplicated
    // span, spans merge into maximal islands with q261's exact machinery
    // (shared package-private helpers — [[islandAgg]]/[[keepReport]] and
    // their oracle twins, so batch and delta grains cannot drift). The
    // corpus NEVER self-joins: its windows are hashed once into the
    // distinct-h index; only delta windows shuffle to probe it.
    // Within-batch duplication is deliberately out of scope here (the index
    // refreshes after each batch lands; q261 covers the self-dedup grain).
    // Scale shape: at 100 TB the index is a standing artifact bucketed by h
    // — a daily batch probes it with a shuffle of DELTA-sized windows,
    // while re-running q261 corpus-wide would re-rank every position every
    // day.
    Qry(
      "q290_delta_substring_dedup",
      s"""WITH ${TextOps.oracleToksCte},
         |sz AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
         |       FROM toks WHERE doc_id % 7 = 3),
         |${oracleOccCtes},
         |idx AS (SELECT DISTINCT h FROM occ WHERE doc_id % 7 <> 3),
         |dup AS (SELECT doc_id, p AS s, p + $W AS e FROM occ
         |  WHERE doc_id % 7 = 3 AND h IN (SELECT h FROM idx)),
         |${oracleIslandCtes("dup")}
         |${oracleKeepSelect}""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // one tokenize pass feeds the index side, the delta side, and
      // the delta sizes (the q261 staging discipline)
      val toks = Staging.stage(Tables(spark, dir).documents
        .select($"doc_id", TextOps.tokens($"text").as("tk")),
        eager = false)
      val occ = occFrame(toks)
      // the standing index: corpus windows hashed ONCE, distinct —
      // in production a bucketed-by-h table maintained across batches
      val idx = occ.filter($"doc_id" % 7 =!= 3).select($"h").distinct()
      // the probe: delta windows semi-join the index — corpus rows
      // never pair with each other
      val dup = occ.filter($"doc_id" % 7 === 3)
        .join(idx, Seq("h"), "left_semi")
        .select($"doc_id", $"p".as("s"), ($"p" + W).as("e"))
      val sz = toks.filter($"doc_id" % 7 === 3)
        .select($"doc_id", size($"tk").cast(LongType).as("n_tokens"))
      keepReport(sz, islandAgg(dup))
    },

    // Entity resolution — dual-key blocking + edit-distance matching, the
    // record-linkage primitive (Fellegi–Sunter blocking applied the way
    // fuzzy-dedup pipelines actually run it: candidate generation by cheap
    // equi-joins, then the expensive distance only inside blocks).
    //
    // Scale shape: two hash-partitioned equi-joins on block keys — never
    // an all-pairs product; Levenshtein runs only inside blocks. Natural-
    // language prefixes skew (many titles share "the …"), so a production
    // deployment adds the df-cap discipline of
    // [[graft.operators.Dedup.jaccardPairs]] on block keys; at fixture
    // scale the max block is 26 of 218 registry rows. ASCII-only titles
    // keep Levenshtein engine-portable (byte = character = codepoint in
    // both engines).
    //
    // Titles (first five tokens of each English document) are
    // deterministically corrupted — ONE character deleted at a
    // hash-chosen position — and resolved back against the clean
    // title registry. Candidate generation is the union of TWO
    // blocking passes: equal prefix-4 OR equal suffix-4. For a single
    // deletion on a string of length ≥ 9 at least one of the two keys
    // is provably unchanged (the deletion is either past the prefix or
    // before the suffix), so dual-key blocking guarantees 100% recall
    // while examining ~5% of the registry per probe — the lesson
    // single-pass blocking misses. Within blocks, Levenshtein ≤ 1
    // scores survivors; best match = min (distance, candidate id).
    // Output: per-probe match, distance, candidates examined,
    // entity-correctness (matched TITLE equals the probe's clean
    // title — identical-title twins are the same entity), plus the
    // corpus accuracy in ppm (exact integer division). The synthesis
    // is self-validating: accuracy_ppm = 10^6 is part of the gated
    // result, so a recall hole in either blocking pass fails the gate.
    Qry("q315_entity_resolution", ErOracle) { (spark, dir) =>
      import spark.implicits._
      val ent = entities(Tables(spark, dir).documents)
      val probe = dirtyProbes(ent)
      val reg = ent.select($"doc_id".as("cid"), $"t".as("ct"))
      val cand = probe.join(reg,
          substring($"d", 1, 4) === substring($"ct", 1, 4))
        .unionByName(probe.join(reg, expr("right(d, 4) = right(ct, 4)")))
        .distinct()
      val wCand = Window.partitionBy($"doc_id")
      val wBest = Window.partitionBy($"doc_id").orderBy($"dist", $"cid")
      // accuracy tail: a SCALAR aggregate crossJoin(broadcast(...))-ed
      // back onto the per-probe rows — NEVER an unpartitioned window
      // over the corpus-sized matched table, which would move every
      // probe row through one task at 100 TB (q318's tot/est
      // pattern). The best table is
      // staged once: both the output rows and the accuracy scalar read
      // it, and unstaged the candidate joins + windows would run twice.
      val best = graft.operators.Staging.stage(
        cand
          .select($"doc_id", $"cid",
            levenshtein($"d", $"ct").cast(LongType).as("dist"),
            $"ct", $"own")
          .withColumn("n_cand", count(lit(1)).over(wCand))
          .filter($"dist" <= 1)
          .withColumn("correct",
            when($"ct" === $"own", 1).otherwise(0))
          .withColumn("rn", row_number().over(wBest))
          .filter($"rn" === 1),
        eager = false)
      val acc = best.agg(
        expr("CAST((1000000 * SUM(correct)) DIV COUNT(*) AS BIGINT)")
          .as("accuracy_ppm"))
      best.crossJoin(broadcast(acc))
        .select($"doc_id", $"cid".as("matched_doc"), $"dist",
          $"n_cand".cast(LongType).as("n_cand"), $"correct",
          $"accuracy_ppm")
    },

    // Language-model fluency scoring
    // WITHOUT floating point — the quality-filter tier's "does this text
    // read like the corpus" signal as exact integer arithmetic.
    //
    // Scale shape: the bigram and history count tables collapse map-side
    // to vocabulary-bounded tables (broadcast when they fit, shuffled
    // equi-join at 100×); the only corpus-sized stages are the bigram
    // explode and the final per-doc aggregate. V is one scalar crossed in
    // by a broadcast 1-row frame.
    //
    // A bigram language model with add-one smoothing, trained on
    // the corpus itself and used to score every document:
    // P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V), where c(w₁·) counts w₁ as a
    // HISTORY (bigram-initial occurrences — the estimate's own
    // normalizer, so probabilities over each history sum to exactly 1)
    // and V is the corpus vocabulary. A document's fluency is the MEAN
    // conditional probability over its bigram instances, in ppm. The
    // standard formulation (mean log-prob → perplexity) needs
    // transcendentals that no two engines round identically; the mean
    // raw conditional probability is order-equivalent for ranking
    // quality filters at a fixed length band and is EXACT — integral
    // division only, both engines bit-identical. Gibberish scores near
    // the smoothing floor 10⁶/(c+V); corpus-typical text scores by its
    // bigram reuse — the fixture spreads 30k–39k ppm.
    Qry(
      "q317_lm_fluency",
      s"""WITH toks AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text),
         |    '${TextOps.TokenReDuck}'), t -> len(t) > 0) AS tk
         |  FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(len(tk) - 1),
         |    i -> array_to_string(tk[i+1:i+2], ' '))) AS bg
         |  FROM toks WHERE len(tk) >= 2),
         |v AS (SELECT COUNT(DISTINCT t) AS v FROM
         |  (SELECT unnest(tk) AS t FROM toks)),
         |cbg AS (SELECT bg, COUNT(*) AS c12 FROM bg GROUP BY 1),
         |ch AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1
         |  FROM bg GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM((1000000 * (cbg.c12 + 1)) // (ch.c1 + v.v))
         |    // COUNT(*) AS BIGINT) AS fluency_ppm
         |FROM bg JOIN cbg USING (bg)
         |  JOIN ch ON ch.w1 = split_part(bg.bg, ' ', 1) CROSS JOIN v
         |GROUP BY doc_id""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val toks = Tables(spark, dir).documents
        .select($"doc_id", TextOps.tokens($"text").as("tk"))
      // bigram INSTANCES (not per-doc distinct — LM counts are
      // frequency counts, unlike the dedup shingle path)
      val bg = toks.filter(size($"tk") >= 2)
        .select($"doc_id",
          explode(TextOps.shingles($"tk", 2)).as("bg"))
      val v = toks.select(explode($"tk").as("t"))
        .agg(countDistinct($"t").as("v"))
      val cbg = bg.groupBy($"bg").agg(count(lit(1)).as("c12"))
      val ch = bg.select(expr("split_part(bg, ' ', 1)").as("w1"))
        .groupBy($"w1").agg(count(lit(1)).as("c1"))
      bg.join(cbg, "bg")
        .join(ch, expr("split_part(bg, ' ', 1)") === ch("w1"))
        .crossJoin(broadcast(v))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("SUM((1000000 * (c12 + 1)) DIV (c1 + v)) " +
            "DIV COUNT(*)").as("fluency_ppm"))
    },

    // q315's entity resolution as a STREAMING match — dirty
    // probes arrive as a stream and resolve against the STATIC clean
    // registry (the production shape: a new crawl matched against the
    // standing entity table; registry side broadcast, stream side
    // never shuffled for the join). Both blocking passes are
    // stream-static equi-joins; one streaming aggregation per probe
    // collects the candidate set (collect_set — state bounded by block
    // sizes) and folds the best match as min(dist, cid) over
    // Levenshtein-1 survivors; the accuracy tail runs post-sink.
    // Shares q315's oracle text VERBATIM — stream == batch in one
    // hash.
    Qry("q319_stream_entity_resolution", ErOracle) {
      (spark, dir) =>
      import spark.implicits._
      // static side: the standing registry (batch read, broadcast)
      val reg = entities(Tables(spark, dir).documents)
        .select($"doc_id".as("cid"), $"t".as("ct"))
      // stream side: the dirty probes
      val probe = dirtyProbes(
        entities(Streams.fileStream(spark, dir, "documents")))
      val byPrefix = probe.join(broadcast(reg),
        substring($"d", 1, 4) === substring($"ct", 1, 4))
      val bySuffix = probe.join(broadcast(reg),
        expr("right(d, 4) = right(ct, 4)"))
      // one streaming aggregation: candidate set (dedups the pair seen
      // through both blocking keys; state bounded by block sizes) +
      // best Levenshtein-1 match as a lexicographic (dist, cid) min
      val resolved = byPrefix.unionByName(bySuffix)
        .select($"doc_id", $"cid",
          levenshtein($"d", $"ct").cast(LongType).as("dist"),
          when($"ct" === $"own", 1).otherwise(0).as("corr"))
        .groupBy($"doc_id")
        .agg(collect_set($"cid").as("cands"),
          min(when($"dist" <= 1,
            struct($"dist", $"cid", $"corr"))).as("best"))
      val done = Streams.runToMemory(resolved, "complete")
      // accuracy as a scalar aggregate broadcast back (q318's tot/est
      // pattern) — not an unpartitioned window over the corpus-sized
      // resolved table. `done` is a materialized memory
      // sink, so branching it twice re-reads cached batch rows.
      val res = done.filter($"best".isNotNull)
        .select($"doc_id", $"best.cid".as("matched_doc"),
          $"best.dist".as("dist"),
          size($"cands").cast(LongType).as("n_cand"),
          $"best.corr".as("correct"))
      val acc = res.agg(
        expr("CAST((1000000 * SUM(correct)) DIV COUNT(*) AS BIGINT)")
          .as("accuracy_ppm"))
      res.crossJoin(broadcast(acc))
    },

    // Fuzzy benchmark-contamination scan — the edit-tolerant
    // rung that exact n-gram overlap (q107) and embedding similarity
    // (q153) bracket: OCR noise or light paraphrase defeats exact
    // shingles while staying within a few character edits. The
    // "benchmark phrase" is the corpus's most frequent 5-token window
    // (deterministic: max count, ties lexicographic). Candidate
    // windows must share ≥ 3 distinct tokens with the phrase (the
    // q-gram-filter principle: a cheap set-overlap equi-join prunes
    // the corpus before any edit distance runs — Levenshtein touches
    // only ~1% of windows); survivors are verified with
    // character-level Levenshtein and flagged at distance ≤ 6. At
    // 100 TB the phrase set (a benchmark suite) is broadcast; the
    // token inverted-index join is the only corpus-sized stage.
    Qry(
      "q321_fuzzy_contamination",
      s"""WITH toks AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text),
         |    '${TextOps.TokenReDuck}'), t -> len(t) > 0) AS tk
         |  FROM documents WHERE lang = 'en'),
         |win AS (SELECT doc_id, unnest(range(len(tk) - 4)) AS i, tk
         |  FROM toks WHERE len(tk) >= 5),
         |w AS (SELECT doc_id, i AS pos,
         |    array_to_string(tk[i+1:i+5], ' ') AS wtext,
         |    tk[i+1:i+5] AS wt FROM win),
         |cnt AS (SELECT wtext, COUNT(*) AS c FROM w GROUP BY 1),
         |phrase AS (SELECT wtext AS p FROM cnt
         |           ORDER BY c DESC, wtext LIMIT 1),
         |ptoks AS (SELECT DISTINCT unnest(string_split(p, ' ')) AS pt
         |  FROM phrase),
         |wtok AS (SELECT DISTINCT doc_id, pos, unnest(wt) AS t FROM w),
         |ov AS (SELECT doc_id, pos, COUNT(DISTINCT t) AS overlap
         |  FROM wtok JOIN ptoks ON t = pt GROUP BY 1, 2)
         |SELECT w.doc_id, w.pos, w.wtext,
         |  CAST(ov.overlap AS BIGINT) AS overlap,
         |  CAST(levenshtein(w.wtext, phrase.p) AS BIGINT) AS dist,
         |  CASE WHEN levenshtein(w.wtext, phrase.p) <= 6
         |    THEN 1 ELSE 0 END AS hit
         |FROM w JOIN ov USING (doc_id, pos) CROSS JOIN phrase
         |WHERE ov.overlap >= 3""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val toks = Tables(spark, dir).documents
        .filter($"lang" === "en")
        .select($"doc_id", TextOps.tokens($"text").as("tk"))
        .filter(size($"tk") >= 5)
      val w = toks
        .select($"doc_id", posexplode(TextOps.shingles($"tk", 5)))
        .select($"doc_id", $"pos", $"col".as("wtext"))
      // deterministic benchmark phrase: most frequent 5-token window,
      // ties to the lexicographic minimum
      val phrase = w.groupBy($"wtext").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"wtext").limit(1)
        .select($"wtext".as("p"))
      val ptoks = phrase
        .select(explode(split($"p", " ")).as("pt")).distinct()
      val wtok = w
        .select($"doc_id", $"pos", explode(split($"wtext", " ")).as("t"))
        .distinct()
      val ov = wtok.join(broadcast(ptoks), $"t" === $"pt")
        .groupBy($"doc_id", $"pos")
        .agg(countDistinct($"t").as("overlap"))
        .filter($"overlap" >= 3)
      w.join(ov, Seq("doc_id", "pos"))
        .crossJoin(broadcast(phrase))
        .select($"doc_id", $"pos", $"wtext",
          $"overlap".cast(LongType).as("overlap"),
          levenshtein($"wtext", $"p").cast(LongType).as("dist"),
          when(levenshtein($"wtext", $"p") <= 6, 1).otherwise(0)
            .as("hit"))
    },

    // Pairwise source similarity — each source's top-20 tokens
    // by exact (count, token) ranking, then Jaccard over the 190
    // source pairs: 10⁶·|A∩B| DIV (|A|+|B|−|A∩B|). The corpus
    // redundancy map ("which crawls duplicate each other") that
    // decides deduplication ORDER in a multi-source pipeline. The
    // corpus collapses map-side to (source, token) counts; ranking
    // and the pair join run on the sources×20 sliver.
    Qry(
      "q339_source_similarity",
      s"""WITH toks AS (SELECT source,
         |  unnest(list_filter(string_split_regex(lower(text),
         |    '${TextOps.TokenReDuck}'), t -> len(t) > 0)) AS t
         |  FROM documents),
         |cnt AS (SELECT source, t, COUNT(*) AS c FROM toks
         |        GROUP BY 1, 2),
         |top AS (SELECT source, t FROM (SELECT source, t,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY c DESC, t) AS rn FROM cnt) WHERE rn <= $TopK),
         |sz AS (SELECT source, COUNT(*) AS k FROM top GROUP BY 1),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |    COUNT(*) AS shared
         |  FROM top a JOIN top b ON a.t = b.t AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT i.src_a, i.src_b, CAST(i.shared AS BIGINT) AS shared,
         |  CAST((1000000 * i.shared)
         |    // (za.k + zb.k - i.shared) AS BIGINT) AS jaccard_ppm
         |FROM inter i JOIN sz za ON za.source = i.src_a
         |JOIN sz zb ON zb.source = i.src_b""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val cnt = Tables(spark, dir).documents
        .select($"source", explode(TextOps.tokens($"text")).as("t"))
        .groupBy($"source", $"t").agg(count(lit(1)).as("c"))
      val top = cnt
        .withColumn("rn", row_number().over(
          Window.partitionBy($"source").orderBy($"c".desc, $"t")))
        .filter($"rn" <= TopK).select($"source", $"t")
      val sz = top.groupBy($"source").agg(count(lit(1)).as("k"))
      val inter = top.as("a")
        .join(top.select($"source".as("sb"), $"t".as("tb")),
          $"t" === $"tb" && $"source" < $"sb")
        .groupBy($"source".as("src_a"), $"sb".as("src_b"))
        .agg(count(lit(1)).as("shared"))
      inter
        .join(broadcast(sz.select($"source".as("za"), $"k".as("ka"))),
          $"src_a" === $"za")
        .join(broadcast(sz.select($"source".as("zb"), $"k".as("kb"))),
          $"src_b" === $"zb")
        .select($"src_a", $"src_b", $"shared".cast(LongType).as("shared"),
          expr("CAST((1000000 * shared) DIV (ka + kb - shared) " +
            "AS BIGINT)").as("jaccard_ppm"))
    },

    // Dedup-aware split leakage — the train/test contamination audit that
    // connects the dedup tier to the eval tier.
    //
    // Scale shape: the pair pipeline is the df-capped staged-leaf dedup
    // join (no all-pairs); CC runs on the pair sliver; fold assignment
    // is per-row hash arithmetic; the audit joins are pair-sized.
    //
    // A naive per-document hash split leaks: near-duplicate
    // pairs straddle folds, so the test fold contains paraphrases of
    // training documents and every metric inflates. The audit
    // measures it exactly: ground-truth near-dup pairs (q74's exact
    // Jaccard ≥ 0.5 on the df-capped shingle universe) are checked
    // against (a) the naive 5-fold doc-hash split and (b) the
    // DEDUP-AWARE split that assigns whole duplicate COMPONENTS
    // (connected components over the pair graph — q74's machinery) to
    // folds by component hash. One audit row: pair count, cross-fold
    // leaks under each policy and leak ppm — with the component
    // split's zero gated in-result (leaking there is structurally
    // impossible: both endpoints inherit the component's fold). The
    // q107/q153/q321 decontamination family measures PAST
    // contamination; q345 PREVENTS it at split time.
    Qry(
      "q345_split_leakage", {
        val foldOf = (e: String) =>
          s"${TextOps.oracleHashSql(s"CAST($e AS VARCHAR)")} % $Folds"
        s"""WITH RECURSIVE ${TextOps.oracleToksCte},
           |${TextOps.oracleSh3Cte},
           |${TextOps.oracleShCappedCte(Dedup.DefaultDfCap)},
           |szn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id)
           |    AS n, h FROM shc),
           |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
           |    COUNT(*) AS shared, MAX(a.n) AS na, MAX(b.n) AS nb
           |  FROM szn a JOIN szn b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |truth AS (SELECT da, db FROM pairs
           |  WHERE CAST(shared AS DOUBLE)/(na + nb - shared) >= 0.5e0),
           |edges AS (SELECT da AS a, db AS b FROM truth
           |          UNION SELECT db, da FROM truth),
           |nodes AS (SELECT DISTINCT a AS id FROM edges),
           |reach(src, dst) AS (SELECT id, id FROM nodes
           |  UNION SELECT r.src, e.b FROM reach r JOIN edges e
           |        ON r.dst = e.a),
           |comp AS (SELECT src AS id, MIN(dst) AS c FROM reach
           |         GROUP BY 1),
           |lk AS (SELECT t.da, t.db,
           |    CASE WHEN (${foldOf("t.da")}) <> (${foldOf("t.db")})
           |      THEN 1 ELSE 0 END AS naive_leak,
           |    CASE WHEN (${foldOf("ca.c")}) <> (${foldOf("cb.c")})
           |      THEN 1 ELSE 0 END AS comp_leak
           |  FROM truth t JOIN comp ca ON ca.id = t.da
           |  JOIN comp cb ON cb.id = t.db)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(naive_leak) AS BIGINT) AS naive_leaks,
           |  CAST((1000000 * SUM(naive_leak)) // COUNT(*) AS BIGINT)
           |    AS naive_leak_ppm,
           |  CAST(SUM(comp_leak) AS BIGINT) AS comp_leaks
           |FROM lk""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val d = Tables(spark, dir).documents
      val shc = Dedup.dfCapped(
        Dedup.shingleHashes(d, "doc_id", "text"), Dedup.DefaultDfCap)
      // staged ONCE: referenced both by the CC loop (which stages its
      // own symmetrized copy from it) and by the final leak join —
      // unstaged, the second reference re-ran the whole
      // tokenize→shingle→jaccard pipeline. Not released in-query (the
      // returned plan reads it lazily); the harness's per-query
      // Staging.sweep owns the release.
      val truth = Staging.stage(
        Dedup.jaccardPairs(shc, "doc_id", dfCap = 0)
          .filter($"jaccard" >= 0.5)
          .select($"id_a".as("da"), $"id_b".as("db")),
        eager = true)
      val comp = ConnectedComponents.minLabel(truth, "da", "db")
        .select($"id", $"component".as("c"))
      def foldOf(c: org.apache.spark.sql.Column) =
        TextOps.hashMod(c.cast("string")) % Folds
      val lk = truth
        .join(comp.select($"id".as("ia"), $"c".as("ca")), $"da" === $"ia")
        .join(comp.select($"id".as("ib"), $"c".as("cb")), $"db" === $"ib")
        .select(
          when(foldOf($"da") =!= foldOf($"db"), 1).otherwise(0)
            .as("naive_leak"),
          when(foldOf($"ca") =!= foldOf($"cb"), 1).otherwise(0)
            .as("comp_leak"))
      lk.agg(count(lit(1)).cast(LongType).as("n_pairs"),
        sum($"naive_leak").cast(LongType).as("naive_leaks"),
        expr("CAST((1000000 * SUM(naive_leak)) DIV COUNT(*) AS BIGINT)")
          .as("naive_leak_ppm"),
        sum($"comp_leak").cast(LongType).as("comp_leaks"))
    }
  )
}
