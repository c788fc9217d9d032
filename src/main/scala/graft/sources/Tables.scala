package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture table loaders over the driver-generated parquet directories
  * (see /root/repo/TESTDATA.md, /root/repo/FIXTURES.md §2).
  *
  * Design notes for scale (100 TB discipline):
  *   - Loaders return the raw `spark.read.parquet` DataFrame with no eager
  *     action; Catalyst prunes columns and pushes predicates into the scan,
  *     so callers `select`/`filter` freely without re-reading.
  *   - No caching of data here: at cluster scale the fact tables do not
  *     fit in memory; callers that genuinely reuse a small dim may cache
  *     it themselves (or rely on broadcast). Only per-file facts are
  *     memoized — the inferred schema and the scan's partition count —
  *     each keyed on the file's state ([[Tables.fileState]]).
  */
final class Tables(spark: SparkSession, dir: String) {
  private def load(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Tables.fileState(spark, path) match {
      case Some(state) => Tables.withMinParallelism(spark,
        Tables.read(spark, path, state), s"$path#$state")
      case None => spark.read.parquet(path) // fails with Spark's message
    }
  }

  def region: DataFrame = load("region")
  def nation: DataFrame = load("nation")
  def customer: DataFrame = load("customer")
  def supplier: DataFrame = load("supplier")
  def part: DataFrame = load("part")
  def orders: DataFrame = load("orders")
  def lineitem: DataFrame = load("lineitem")

  /** `events.ts` is parquet TIMESTAMP(NANOS) in the driver fixtures,
    * which Spark's vectorized reader rejects (PARQUET_TYPE_ILLEGAL). We
    * read nanos as a raw LONG (`legacy.parquet.nanosAsLong`) and derive
    * the µs TimestampType column the rest of the engine uses, keeping
    * the exact nanos in `ts_ns` (SURVEY.md §7.4). Integer `DIV` — a
    * double division would lose precision above 2^53 ns. DuckDB's
    * matching conversion is `CAST(ts AS TIMESTAMP)` (ns → µs
    * truncation). Tables whose `ts` is already µs TimestampType (e.g.
    * re-exported copies) are handled uniformly: `ts_ns` is then derived
    * from the µs value. */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventTime(load("events"))
  }

  def documents: DataFrame = load("documents")
  def embeddings: DataFrame = load("embeddings")

  /** Register every fixture as a temp view (for spark.sql entry points). */
  def registerAll(): Unit = {
    Tables.names.filterNot(_ == "events")
      .foreach(n => load(n).createOrReplaceTempView(n))
    events.createOrReplaceTempView("events")
  }
}

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Map-side parallelism floor. A single small parquet file is one scan
    * partition (one row group), so every per-row expression downstream —
    * shingling, variant generation, vector arithmetic — would run on one
    * core until the first shuffle. When the scan yields fewer partitions
    * than the session's parallelism, redistribute once (explicit
    * partition count, so AQE does not coalesce it back); at cluster
    * scale scans already exceed defaultParallelism and this is the
    * identity — no shuffle is ever added to a big read. Filters and
    * column pruning still reach the scan: Catalyst pushes both through
    * Repartition nodes.
    *
    * The scan's partition count comes from `df.rdd`, which compiles a
    * physical plan — real driver work that every query was paying per
    * table load. The count is a function of (file layout, session scan
    * config, parallelism), so it is memoized under `cacheKey`, which must
    * name the file's state ([[fileState]]), plus the session's
    * defaultParallelism — a path rewritten with a different layout, or a
    * second session with different parallelism, recomputes instead of
    * reusing a stale count. */
  def withMinParallelism(spark: SparkSession, df: DataFrame,
      cacheKey: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val n = scanParts.computeIfAbsent(s"$cacheKey#$target",
      _ => Integer.valueOf(df.rdd.getNumPartitions))
    if (n < target) df.repartition(target) else df
  }

  private val scanParts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** The state of the file or directory at `path`, read through Hadoop's
    * `FileSystem` with the session's Hadoop conf, so `file:`, `hdfs:` and
    * `s3a:` URIs are keyed like plain paths: length and modification
    * time of the path and, for a directory, of each entry in it. Any
    * rewrite in place changes it. `None` when the path cannot be read
    * (the load then fails in Spark's own reader, with its own message). */
  private[graft] def fileState(spark: SparkSession,
      path: String): Option[String] = try {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      org.apache.spark.sql.GraftSqlBridge.hadoopConf(spark))
    val st = fs.getFileStatus(p)
    val entries =
      if (st.isDirectory) fs.listStatus(p).sortBy(_.getPath.getName).toSeq
      else Nil
    Some((st +: entries).map(f =>
      s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString(","))
  } catch { case _: java.io.IOException => None }

  /** Session settings that change the schema Spark infers from a parquet
    * footer (`nanosAsLong` turns `events.ts` from an illegal
    * TIMESTAMP(NANOS) into a LONG). */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** `spark.read.parquet(path)` with the schema inferred once per file
    * state and schema-relevant settings: inference reads a footer in a
    * Spark job, which every load of an unchanged file used to repeat. */
  private def read(spark: SparkSession, path: String,
      state: String): DataFrame = {
    val confs = SchemaConfs.map(k => spark.conf.getOption(k).getOrElse(""))
    val schema = schemas.computeIfAbsent(
      (Seq(path, state) ++ confs).mkString("#"),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Normalize an events-shaped frame to (`ts` µs TimestampType,
    * `ts_ns` epoch-nanos LongType) regardless of the source's physical
    * timestamp precision. */
  def normalizeEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanosAsLong path
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ => // µs TimestampType or TIMESTAMP_NTZ (re-exported copies)
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }
}
