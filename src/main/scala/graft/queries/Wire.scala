package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Exact._
import graft.functions.GraftFunctions
import graft.operators.{Bpe, ConnectedComponents, DagLevels, Dedup, Scc, Staging, TextOps, Vectors}
import graft.sources.{ArrowIpc, Tables}

import Helpers.{fixtureMemo, h60Seed, one}

/** Wire-format fidelity: the reference's records are per-field
  * little-endian byte blobs packed by producers and decoded by consumers
  * (`reference/src/main.rs:46-62`, `:86`). q47 emulates that
  * full path — pack each lineitem row into the reference's record layout
  * with codegen'd `le_encode_*` expressions, decode it back with
  * `le_*` at field offsets, and aggregate the DECODED values. The DuckDB
  * oracle aggregates the ORIGINAL columns: the hash match proves
  * decode ∘ encode = identity through real Tungsten binary rows.
  *
  * Also here: the same identity for files — ORC, CSV, JSON, Avro, Arrow
  * (tables and embeddings), gzip/zstd and parquet row-group layouts each
  * written and read back.
  */
object Wire {

  // q359's layout rewrite is a deterministic pure function of the
  // fixture — written once per fixture state (bench warm + timed + 10x
  // fold runs reuse one write, and deleteOnExit reclaims the copies;
  // the Streams.partedDir convention).
  private def layoutDir(dir: String,
      li: org.apache.spark.sql.DataFrame): String =
    fixtureMemo("q359 layout", dir) {
      val d = java.nio.file.Files.createTempDirectory("graft_q359_")
      d.toFile.deleteOnExit()
      li.sort(col("l_orderkey")).coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (64 * 1024).toString)
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .parquet(d.toString)
      new java.io.File(d.toString).listFiles()
        .foreach(_.deleteOnExit())
      d.toString
    }

  val all: Seq[Qry] = Seq(

    Qry(
      "q47_wire_roundtrip",
      s"""SELECT l_returnflag,
         |  COUNT(*) AS n,
         |  CAST(SUM(l_suppkey) AS BIGINT) AS sym_sum,
         |  ${dsumSql("l_extendedprice")} AS price_sum,
         |  CAST(SUM(l_linenumber) AS BIGINT) AS qty_sum,
         |  CAST(MAX(epoch_ms(l_shipdate) * 1000000) AS BIGINT) AS ts_max,
         |  MAX(ascii(l_returnflag)) AS ex_max
         |FROM lineitem GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      GraftFunctions.register(spark)
      // The reference's full 5-field record (/root/reference/src/main.rs:46-62):
      // [symbol_id u32 @0][price f64 @4][quantity u32 @12]
      // [timestamp u64 ns @16][exchange_id u8 @24] — 25 bytes packed.
      // symbol←suppkey, price←extendedprice, quantity←linenumber,
      // timestamp←shipdate epoch-ns, exchange←ascii(returnflag).
      Tables(spark, dir).lineitem
        .select($"l_returnflag",
          concat(
            expr("le_encode_u32(CAST(l_suppkey AS INT))"),
            expr("le_encode_f64(l_extendedprice)"),
            expr("le_encode_u32(l_linenumber)"),
            // l_shipdate is TIMESTAMP_NTZ; session tz is UTC, so the
            // cast is the identity instant mapping
            expr("le_encode_u64(unix_millis(CAST(l_shipdate AS TIMESTAMP)) * 1000000)"),
            expr("le_encode_u8(ascii(l_returnflag))")).as("rec"))
        .select($"l_returnflag",
          expr("le_u32(rec, 0)").as("symbol_id"),
          expr("le_f64(rec, 4)").as("price"),
          expr("le_u32(rec, 12)").as("quantity"),
          expr("le_u64(rec, 16)").as("ts_ns"),
          expr("le_u8(rec, 24)").as("exchange_id"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"symbol_id").as("sym_sum"),
          dsum($"price").as("price_sum"),
          sum($"quantity").as("qty_sum"),
          max($"ts_ns").as("ts_max"),
          max($"exchange_id").as("ex_max"))
    },

    // ---- ORC round-trip (second columnar format) -----------------------
    // lineitem slice → ORC files → read back → aggregate. The oracle
    // states the same aggregate over the original parquet: format
    // round-trip fidelity IS the assertion. ORC gets the same pushdown/
    // pruning treatment as parquet from the datasource V2 scan.
    Qry(
      "q123_orc_roundtrip",
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS qty_sum,
         |  ${dsumSql("l_extendedprice")} AS price_sum
         |FROM lineitem WHERE l_suppkey % 10 = 0
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val out = RoundTrip.dir(s"$dir#orc")
      val src = Tables(spark, dir).lineitem
        .filter($"l_suppkey" % 10 === 0)
        .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
      src.write.mode("overwrite").orc(out)
      spark.read.orc(out)
        .groupBy($"l_returnflag")
        .agg(count(one).as("n"), dsum($"l_quantity").as("qty_sum"),
          dsum($"l_extendedprice").as("price_sum"))
    },

    // CSV and JSON-lines round-trips, upgrading the last two spec-only
    // source formats (SURVEY §2.4 scans row) to oracle-checked catalog
    // entries. Each query writes a typed projection out in the interchange
    // format, reads it back with the WRITER'S schema (explicit — inference
    // is nondeterministic surface, not production practice), and
    // aggregates; the DuckDB oracle computes the same aggregate from the
    // original parquet, so the hash match proves the round-trip preserved
    // every value bit-for-bit (doubles survive via shortest-roundtrip
    // rendering on write + exact parse on read; timestamps are cast to DATE
    // first — sub-second serialization is the classic interchange-format
    // trap, and date-granularity columns are what actually ships in CSV
    // extracts). Scale shape: format round-trip cost is the write+scan
    // itself; both sides stay columnar-parallel and the aggregate is the
    // same partial-agg shape as q1.
    // ---- CSV round-trip -------------------------------------------------
    Qry(
      "q183_csv_roundtrip",
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS qty_sum,
         |  ${dsumSql("l_extendedprice")} AS price_sum,
         |  MIN(CAST(l_shipdate AS DATE)) AS first_ship,
         |  MAX(CAST(l_shipdate AS DATE)) AS last_ship
         |FROM lineitem WHERE l_suppkey % 7 = 0
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val out = RoundTrip.dir(s"$dir#csv")
      val src = Tables(spark, dir).lineitem
        .filter($"l_suppkey" % 7 === 0)
        .select($"l_orderkey", $"l_returnflag", $"l_quantity",
          $"l_extendedprice", to_date($"l_shipdate").as("ship_date"))
      src.write.mode("overwrite").option("header", "true").csv(out)
      spark.read.schema(src.schema).option("header", "true").csv(out)
        .groupBy($"l_returnflag")
        .agg(count(one).as("n"), dsum($"l_quantity").as("qty_sum"),
          dsum($"l_extendedprice").as("price_sum"),
          min($"ship_date").as("first_ship"),
          max($"ship_date").as("last_ship"))
    },

    // ---- JSON-lines round-trip ------------------------------------------
    Qry(
      "q184_json_roundtrip",
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS price_sum,
         |  MIN(CAST(o_orderdate AS DATE)) AS first_order,
         |  MAX(CAST(o_orderdate AS DATE)) AS last_order
         |FROM orders WHERE o_custkey % 5 = 0
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val out = RoundTrip.dir(s"$dir#json")
      val src = Tables(spark, dir).orders
        .filter($"o_custkey" % 5 === 0)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          to_date($"o_orderdate").as("order_date"))
      src.write.mode("overwrite").json(out)
      spark.read.schema(src.schema).json(out)
        .groupBy($"o_orderstatus")
        .agg(count(one).as("n"), dsum($"o_totalprice").as("price_sum"),
          min($"order_date").as("first_order"),
          max($"order_date").as("last_order"))
    },

    // ---- Avro round-trip ------------------------------------------------
    // The one mainstream interchange format q183/q184 left out. The
    // spark-avro CONNECTOR jar (which registers the "avro" shortName) is
    // not in /opt/spark/jars, but Spark 4.1's spark-sql jar ships the
    // complete avro FileFormat/serializer/deserializer stack
    // (org.apache.spark.sql.avro.*) — only the
    // META-INF DataSourceRegister entry is missing, so the format is
    // addressed by its full class name. Unlike CSV/JSON, Avro is a
    // BINARY format with the writer's schema embedded: doubles and
    // timestamps survive bit-exact without the shortest-roundtrip
    // rendering discipline the text formats needed. Same proof shape as
    // q183: write a typed projection, read it back, aggregate; the
    // oracle aggregates the original parquet, so the hash match proves
    // bit-for-bit fidelity through the format.
    Qry(
      "q188_avro_roundtrip",
      s"""SELECT p_brand, COUNT(*) AS n,
         |  CAST(SUM(p_size) AS BIGINT) AS size_sum,
         |  ${dsumSql("p_retailprice")} AS price_sum,
         |  MIN(p_partkey) AS first_part,
         |  MAX(p_partkey) AS last_part
         |FROM part WHERE p_size % 3 = 0
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
      val out = RoundTrip.dir(s"$dir#avro")
      val src = Tables(spark, dir).part
        .filter($"p_size" % 3 === 0)
        .select($"p_partkey", $"p_brand", $"p_size", $"p_retailprice")
      src.write.mode("overwrite").format(avroFmt).save(out)
      spark.read.format(avroFmt).schema(src.schema).load(out)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"),
          sum($"p_size").as("size_sum"),
          dsum($"p_retailprice").as("price_sum"),
          min($"p_partkey").as("first_part"),
          max($"p_partkey").as("last_part"))
    },

    // Bounded gzip payload inflation round-trip. q202 parses gzip
    // member headers; here the member body actually decompresses:
    // every document's text is gzip-compressed IN-ENGINE
    // (functions.GzipCompress) and inflated back through the bounded
    // `gzip_inflate(blob, max_bytes)` expression, with three
    // hash-chosen damage classes exercising the NULL contract — a
    // truncated member (trailer cut), an inflate bound below the
    // payload size (the zip-bomb guard firing), and a corrupted magic.
    // The oracle predicts the INFLATED side purely from the synthesis
    // parameters (the q192 pattern): intact rows must round-trip to
    // exactly the original text's length and md5, damaged rows to NULL
    // — the compressed bytes themselves are never asserted on, so the
    // gate is independent of zlib version/level. Scale shape: one
    // corpus scan, every stage a codegen'd projection, zero joins.
    // ---- bounded gzip inflation round-trip ------------------------------
    Qry(
      "q256_gzip_roundtrip",
      """WITH d AS (SELECT doc_id, text,
        |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 7
        |      AS cls
        |  FROM documents)
        |SELECT doc_id, CAST(cls AS INT) AS cls,
        |  CASE WHEN cls IN (0, 1, 2) THEN NULL
        |    ELSE CAST(strlen(text) AS BIGINT) END AS inflated_len,
        |  CASE WHEN cls IN (0, 1, 2) THEN NULL
        |    ELSE md5(text) END AS inflated_md5
        |FROM d""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      // damage classes 0/1/2; 3-6 intact (the majority, so the happy
      // path dominates the round-trip evidence):
      //   0: trailer cut (CRC32+ISIZE gone) -> EOF during trailer read
      //   1: inflate bound one byte below the payload -> bomb guard
      //   2: first magic byte overwritten -> not a gzip stream
      Tables(spark, dir).documents
        .select($"doc_id", $"text", (h60Seed % 7).cast("int").as("cls"))
        .withColumn("blob", expr("gzip_compress(CAST(text AS BINARY))"))
        .withColumn("mutated",
          when($"cls" === 0, expr("substring(blob, 1, length(blob) - 8)"))
            .when($"cls" === 2, concat(lit(Array[Byte](0x58, 0x58)),
              expr("substring(blob, 3, length(blob) - 2)")))
            .otherwise($"blob"))
        // class 1's bound is len-1 (for an empty text that is -1, which
        // the expression also NULLs); intact rows get exactly len — the
        // tightest bound that must still succeed
        .withColumn("cap",
          when($"cls" === 1, expr("CAST(length(text) - 1 AS INT)"))
            .otherwise(expr("CAST(length(text) AS INT)")))
        .withColumn("inf", expr("gzip_inflate(mutated, cap)"))
        .select($"doc_id", $"cls",
          length($"inf").cast(LongType).as("inflated_len"),
          md5($"inf").as("inflated_md5"))
    },

    // The zstd twin of q256 over Spark's own zstd-jni (q203
    // decoded zstd frame HEADERS; this moves the payload) — same
    // bounded-inflate contract, deterministic-only damage classes
    // (zstd has no mandatory checksum, so mid-frame damage is not a
    // class here, documented at the query).
    // ---- bounded zstd inflation round-trip ------------------------------
    // q256's proof shape over the OTHER transport codec (q203's): the
    // zstd-jni library Spark already ships. Damage classes reuse the
    // gzip trio EXCEPT that zstd frames carry no mandatory checksum, so
    // only deterministic failures are synthesized (magic, truncation,
    // bound) — a mid-frame bit flip is not guaranteed detectable and is
    // deliberately absent. Class assignment hashes a different fold of
    // h60 than q256 so the two round-trips damage different documents.
    Qry(
      "q259_zstd_roundtrip",
      """WITH d AS (SELECT doc_id, text,
        |    (CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) // 7)
        |      % 7 AS cls
        |  FROM documents)
        |SELECT doc_id, CAST(cls AS INT) AS cls,
        |  CASE WHEN cls IN (0, 1, 2) THEN NULL
        |    ELSE CAST(strlen(text) AS BIGINT) END AS inflated_len,
        |  CASE WHEN cls IN (0, 1, 2) THEN NULL
        |    ELSE md5(text) END AS inflated_md5
        |FROM d""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      Tables(spark, dir).documents
        .select($"doc_id", $"text", h60Seed.as("h60"))
        .withColumn("cls", expr("(h60 DIV 7) % 7").cast("int"))
        .drop("h60")
        .withColumn("blob", expr("zstd_compress(CAST(text AS BINARY))"))
        .withColumn("mutated",
          when($"cls" === 0, expr("substring(blob, 1, length(blob) - 6)"))
            .when($"cls" === 2, concat(lit(Array[Byte](0x58, 0x58)),
              expr("substring(blob, 3, length(blob) - 2)")))
            .otherwise($"blob"))
        .withColumn("cap",
          when($"cls" === 1, expr("CAST(length(text) - 1 AS INT)"))
            .otherwise(expr("CAST(length(text) AS INT)")))
        .withColumn("inf", expr("zstd_inflate(mutated, cap)"))
        .select($"doc_id", $"cls",
          length($"inf").cast(LongType).as("inflated_len"),
          md5($"inf").as("inflated_md5"))
    },

    // A typed lineitem projection (BIGINT, INT, STRING, DOUBLE)
    // writes as Arrow stream-format files — one file per partition,
    // written task-side ([[graft.sources.ArrowIpc]]) — and reads back
    // through the `graft-arrow` DataSource V2 batch source (one read
    // task per file). The aggregate runs on the READ-BACK frame and
    // hash-matches an oracle computed from the original parquet, so
    // any bit lost in either direction (including double payloads —
    // sum_cents derives from the round-tripped doubles) fails the
    // gate. This is the interchange format the ML stacks downstream of
    // a training-data pipeline actually consume (pandas/polars/Ray
    // read Arrow streams zero-copy); with CSV q183, JSON-lines q184,
    // Avro q188, the interchange family now covers it. Scale shape:
    // write = one pass, task-local, bounded by the 4096-row record
    // batch; read fans one task per file.
    Qry(
      "q291_arrow_roundtrip",
      """SELECT l_returnflag AS flag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
        |  CAST(SUM(l_linenumber) AS BIGINT) AS sum_lineno,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // write once per session per fixture dir (bench warm/timed runs
      // reuse it — the Streams.partedDir discipline), read back via
      // the DSv2 source, aggregate the ROUND-TRIPPED values
      val out = ArrowIpc.writeCached(s"$dir#q291",
        Tables(spark, dir).lineitem.select(
          $"l_orderkey", $"l_linenumber", $"l_returnflag",
          $"l_extendedprice"))
      spark.read.format("graft-arrow").load(out)
        .groupBy($"l_returnflag".as("flag"))
        .agg(count(one).as("n"),
          sum($"l_orderkey").as("sum_key"),
          sum($"l_linenumber").as("sum_lineno"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("sum_cents"))
    },

    // q291's interchange proof for Arrow *file format* — the
    // random-access variant with the footer (what memory-mapped
    // readers and Feather v2 consumers open; stream format cannot
    // seek). A typed orders projection writes as `.arrow` files
    // task-side, reads back through the same `graft-arrow` DSv2
    // source (per-file decoder picked by extension), and the
    // aggregate hash-matches an oracle computed from the original
    // parquet — any bit lost in either direction fails the gate.
    // ---- Arrow FILE-format round-trip ---------------------------------------
    Qry(
      "q300_arrow_file_roundtrip",
      """SELECT o_orderstatus AS status,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val out = ArrowIpc.writeCached(s"$dir#q300",
        Tables(spark, dir).orders.select(
          $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice"),
        fileFormat = true)
      spark.read.format("graft-arrow").load(out)
        .groupBy($"o_orderstatus".as("status"))
        .agg(count(one).as("n"),
          sum($"o_orderkey").as("sum_key"),
          sum($"o_custkey").as("sum_cust"),
          sum(round($"o_totalprice" * 100).cast("long")).as("sum_cents"))
    },

    // Arrow interchange for EMBEDDING columns — the `graft-arrow`
    // round-trip family extended to `ARRAY<FLOAT>`, the one type ML
    // dataloaders actually pull over Arrow (a torch/Ray consumer reads
    // `ListVector` of `Float4` zero-copy).
    //
    // The full `embeddings` fixture (vec_id BIGINT, embedding
    // ARRAY&lt;FLOAT&gt;, label INT) writes as Arrow stream-format
    // files task-side, reads back through the `graft-arrow` DSv2
    // source, and a per-label aggregate over the ROUND-TRIPPED
    // vectors — element count, exact integer micro-units
    // (floor(1e6·x) per element: float→double widening is exact and
    // IEEE multiply/floor are bit-identical cross-engine, the
    // Vectors.dot contract), id sum — hash-matches an oracle computed
    // from the ORIGINAL parquet. Any bit lost in either direction
    // (write, list offsets, read) fails the gate; `ArrowIpcSpec` adds
    // the null-row / empty-list / double-array properties no fixture
    // row exercises.
    //
    // Scale shape: q291's — write is one pass, task-side, bounded
    // 4096-row batches (list elements append to the shared child
    // vector, so memory is one batch of vectors); read fans out one
    // task per file; the aggregate is one explode collapsing
    // map-side into the bounded per-label table.
    Qry(
      "q306_arrow_embeddings",
      """WITH x AS (SELECT label, vec_id,
        |    unnest(embedding) AS e FROM embeddings)
        |SELECT label,
        |  CAST(COUNT(*) AS BIGINT) AS n_elems,
        |  CAST(SUM(CAST(FLOOR(CAST(e AS DOUBLE) * 1000000) AS BIGINT))
        |    AS BIGINT) AS sum_micro,
        |  CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN dup = 0 THEN vec_id ELSE 0 END) AS BIGINT)
        |    AS sum_id
        |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY e) - 1 AS dup FROM x) t
        |GROUP BY label""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val out = ArrowIpc.writeCached(s"$dir#q306",
        Tables(spark, dir).embeddings
          .select($"vec_id", $"embedding", $"label"))
      val back = spark.read.format("graft-arrow").load(out)
      // per-element micro-units ride one explode; vec_id sums once per
      // vector (the window-dedup in the oracle mirrors this exactly)
      back.select($"label", $"vec_id", posexplode($"embedding"))
        .groupBy($"label")
        .agg(count(one).as("n_elems"),
          sum(floor($"col".cast("double") * 1000000L).cast("long"))
            .as("sum_micro"),
          countDistinct($"vec_id").as("n_vecs"),
          sum(when($"pos" === 0, $"vec_id").otherwise(0L)).as("sum_id"))
    },

    // The sorted/bloom row-group LAYOUT round trip gated — lineitem
    // rewritten the way `ParquetSkippingSpec` pins skipping for (sorted by
    // l_orderkey, 64 KB row groups,
    // parquet.bloom.filter.enabled#l_partkey), read back through the
    // point-lookup path, and the filtered aggregate hash-matched against
    // the ORIGINAL table: the layout rewrite must be value-lossless while
    // its pruning behavior is spec-pinned (scan metrics can't be oracle'd;
    // values can). Probe key = the largest orderkey at or below the
    // key-range midpoint — deterministic integer arithmetic on both
    // engines.
    Qry(
      "q359_rowgroup_roundtrip",
      s"""WITH b AS (SELECT MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi
         |  FROM lineitem),
         |k AS (SELECT MAX(l_orderkey) AS k FROM lineitem, b
         |      WHERE l_orderkey <= (lo + hi) // 2)
         |SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${dsumSql("l_extendedprice")} AS price_sum,
         |  CAST(SUM(l_partkey) AS BIGINT) AS partkey_sum
         |FROM lineitem, k WHERE l_orderkey = k.k
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val li = Tables(spark, dir).lineitem
        .select($"l_orderkey".cast(LongType).as("l_orderkey"),
          $"l_partkey".cast(LongType).as("l_partkey"),
          $"l_extendedprice")
      // the ParquetSkippingSpec layout contract, written for real:
      // sorted on the lookup key, small row groups, bloom on partkey
      val out = layoutDir(dir, li)
      val mm = li.agg(min($"l_orderkey"), max($"l_orderkey")).head()
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      val k = li.filter($"l_orderkey" <= mid)
        .agg(max($"l_orderkey")).head().getLong(0)
      spark.read.parquet(out).filter($"l_orderkey" === k)
        .groupBy($"l_orderkey".as("orderkey"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          dsum($"l_extendedprice").as("price_sum"),
          sum($"l_partkey").cast(LongType).as("partkey_sum"))
    }
  )
}
