package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.RingRegistry

/** Structured Streaming plumbing: bounded file-stream sources over the
  * fixture tables and a run-to-completion harness, so streaming pipelines
  * can sit in the same oracle-checked query catalog as batch ones.
  *
  * This is the Spark-native replacement for the reference's ingest loop
  * (`/root/reference/src/storage/table.rs:54-110`): the bounded MPMC ring
  * maps to the micro-batch file source (backpressure via
  * `maxFilesPerTrigger`/`maxBytesPerTrigger` instead of reject-new —
  * SURVEY.md §7.4), destructive consume maps to exactly-once micro-batch
  * processing, and consumer threads map to concurrent streaming queries.
  *
  * Scale notes: file-stream sources shard by file/partition exactly like
  * batch scans; stateful operators checkpoint per-partition state. The
  * memory sink used here is test/driver harness only — production sinks
  * are parquet/kafka/foreachBatch.
  */
object Streams {

  private val nameCounter = new AtomicInteger(0)

  // The file source requires a DIRECTORY; fixtures are single files.
  // Expose each file through a cached temp dir holding a symlink (zero
  // copy, one dir per distinct source file per JVM — repeated queries
  // reuse it instead of leaking dirs). Both dir and link are registered
  // for exit-time deletion (link first: deleteOnExit runs LIFO, and a
  // non-empty dir cannot be removed).
  private val linkDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[streaming] def linkDir(path: String, name: String,
      copies: Int = 1): String =
    linkDirs.computeIfAbsent(s"$path#$name#$copies", { _ =>
      val d = java.nio.file.Files.createTempDirectory(s"graft_${name}_")
      d.toFile.deleteOnExit()
      (0 until copies).foreach { i =>
        val link = d.resolve(s"${name}_$i.parquet")
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(path).toAbsolutePath)
        link.toFile.deleteOnExit()
      }
      d.toString
    })

  // Derived multi-part source dirs, cached per key for the session
  // (bench warm + timed runs reuse one write) — see partedDir.
  private val partDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write `parts` as single-file parquet slices into ONE source
    * directory with strictly increasing modification times. The file
    * source admits files in (modTime, path) order, so a reader with
    * `maxFilesPerTrigger=1` receives part i as micro-batch i — the
    * controlled cross-batch / out-of-order delivery harness the
    * watermark-buffered operators (q254) gate against. Parts are
    * fixture-derived Spark frames (never driver-side row collections);
    * each writes through one task because a part IS one admission unit.
    * Cached per `key` for the session, like [[linkDir]]. */
  def partedDir(key: String, parts: Seq[DataFrame]): String =
    partDirs.computeIfAbsent(key, { _ =>
      val d = java.nio.file.Files.createTempDirectory("graft_parts_")
      d.toFile.deleteOnExit()
      val base = System.currentTimeMillis() - 3600000L
      parts.zipWithIndex.foreach { case (p, i) =>
        val w = java.nio.file.Files.createTempDirectory("graft_parts_w_")
        p.coalesce(1).write.mode("overwrite").parquet(w.toString)
        val src = new java.io.File(w.toString).listFiles()
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"no parquet part file written under $w"))
        val dest = d.resolve(f"part_$i%03d.parquet")
        java.nio.file.Files.move(src.toPath, dest)
        // strictly increasing, minutes apart: comfortably inside the
        // source's maxFileAge window, unambiguous admission order
        dest.toFile.setLastModified(base + i * 60000L)
        dest.toFile.deleteOnExit()
        new java.io.File(w.toString).listFiles().foreach(_.delete())
        java.nio.file.Files.deleteIfExists(w)
        ()
      }
      d.toString
    })

  /** Read one fixture table as a file stream (schema from the batch
    * footer). `events.ts` gets the same nanos→µs treatment as
    * sources.Tables: raw nanos kept in `ts_ns`, µs TimestampType in `ts`.
    */
  def fileStream(spark: SparkSession, dir: String, name: String): DataFrame =
    fileStreamDup(spark, dir, name, copies = 1)

  /** Like `fileStream`, but the source directory exposes `copies`
    * symlinks to the same fixture file — every record arrives `copies`
    * times, the at-least-once delivery shape a dedup stage must collapse
    * back to exactly-once. */
  def fileStreamDup(spark: SparkSession, dir: String, name: String,
      copies: Int): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val streamDir = Streams.linkDir(path, name, copies)
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema).parquet(streamDir)
    if (name == "events") graft.sources.Tables.normalizeEventTime(raw)
    else raw
  }

  /** Materialize the FIRST `n` records of the UNBOUNDED rate source as a
    * batch frame of their `value` column (exactly 0..n-1 — the source's
    * deterministic row index, independent of wall-clock pacing). This is
    * the catalog's unbounded-non-file-source harness: unlike the file
    * streams above, the rate source never exhausts, so completion is
    * "the sink holds n rows", not `processAllAvailable` (which would
    * wait forever on a source that always has more). The filter
    * `value < n` bounds the sink exactly; rows past the cutoff are
    * discarded by the stream itself, so the poll loop terminates as soon
    * as the first n indices have flowed through. Timestamps are dropped:
    * they are wall-clock and would make the result nondeterministic.
    *
    * Synchronized for the same reason as [[runToMemory]]: the
    * shuffle-partition override is session-global state. */
  def boundedRate(spark: SparkSession, n: Long,
      rowsPerSecond: Int = 50000): DataFrame = synchronized {
    val table = s"graft_rate_${nameCounter.incrementAndGet()}"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val src = spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond.toString)
        .option("numPartitions", "4")
        .load()
        .filter(col("value") < n)
        .select(col("value"))
      val q = src.writeStream.outputMode("append")
        .format("memory").queryName(table).start()
      try {
        val deadline = System.nanoTime() + 120L * 1000L * 1000 * 1000
        while (spark.table(table).count() < n) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"bounded rate read did not reach $n rows in 120s")
          Thread.sleep(50)
        }
      } finally q.stop()
      val sink = spark.table(table)
      spark.createDataFrame(sink.collectAsList(), sink.schema)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.catalog.dropTempView(table)
    }
  }

  /** Start `df` into an in-memory table, process everything available,
    * stop, and return the materialized result. The memory-sink temp view
    * is dropped before returning (its rows are re-wrapped as a local
    * relation — same driver-resident data the sink already held, without
    * pinning one sink table per invocation for the session lifetime).
    *
    * Synchronized: the shuffle-partition override below is session-global
    * state — two concurrent calls could interleave set/restore and leave
    * the session on the temporary value. (Batch queries on other threads
    * of the SAME session would still observe the temporary value while a
    * stream materializes; the engine's entry points are sequential, so
    * that exposure is accepted and documented rather than worked around.)
    */
  def runToMemory(df: DataFrame, outputMode: String): DataFrame =
    synchronized { runToMemoryImpl(df, outputMode)._1 }

  /** [[runToMemory]] + the run's observability row: the total
    * `numRowsDroppedByWatermark` across every state operator and
    * micro-batch (summed from the query's progress reports — the
    * engine-side analog of the reference consumers' printed progress
    * counters, `/root/reference/src/tests/integration_test.rs:272-277`).
    * Gate-facing: q354 materializes this number against an oracle that
    * PREDICTS it from the synthesis parameters. */
  def runToMemoryWithDrops(df: DataFrame, outputMode: String)
      : (DataFrame, Long) =
    synchronized { runToMemoryImpl(df, outputMode) }

  private def runToMemoryImpl(df: DataFrame, outputMode: String)
      : (DataFrame, Long) = {
    val spark = df.sparkSession
    val table = s"graft_stream_${nameCounter.incrementAndGet()}"
    // Fixture streams carry a few hundred thousand rows through a handful
    // of micro-batches; 32 shuffle partitions means 32 state stores each
    // paying per-batch snapshot/commit file IO for a sliver of state. 8
    // keeps the run parallel while quartering the fixed state overhead —
    // scoped to THIS stream only (restored after), so batch queries keep
    // the session default. A real deployment sizes this to state volume.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val q = df.writeStream.outputMode(outputMode)
        .format("memory").queryName(table).start()
      val dropped =
        try { q.processAllAvailable()
          q.recentProgress.flatMap(_.stateOperators)
            .map(_.numRowsDroppedByWatermark).sum
        } finally q.stop()
      val sink = spark.table(table)
      (spark.createDataFrame(sink.collectAsList(), sink.schema), dropped)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      // also on failure — orphaned sink tables pin rows in the driver
      spark.catalog.dropTempView(table)
    }
  }

  /** Read a registered in-process ring as a micro-batch stream
    * (sources.RingSource — the engine's message-bus source). */
  def ringStream(spark: SparkSession, ring: String): DataFrame =
    spark.readStream.format("graft-ring").option("ring", ring).load()

  /** Consume a ring stream into memory while `produce` runs on the
    * calling thread, then drain whatever remains once it returns. For
    * drop-oldest rings, where the delivered count is timing-dependent by
    * design — the caller asserts conservation invariants, not a count. */
  def drainRingUntilQuiet(spark: SparkSession, ring: String)(
      produce: => Unit): DataFrame = synchronized {
    val table = s"graft_ring_quiet_${nameCounter.incrementAndGet()}"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val q = ringStream(spark, ring).writeStream.outputMode("append")
        .format("memory").queryName(table).start()
      try { produce; q.processAllAvailable() } finally q.stop()
      val sink = spark.table(table)
      spark.createDataFrame(sink.collectAsList(), sink.schema)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.catalog.dropTempView(table)
    }
  }

  /** Consume a ring stream into memory while `produce` runs on separate
    * threads, polling until exactly `n` rows have landed. This is the
    * live producer/consumer shape (reject-new producers backpressured by
    * the consumer: planning a batch frees its slots) that
    * [[runToMemory]] cannot express: `processAllAvailable` would return
    * between producer bursts and stop the query before the bus has
    * carried everything.
    *
    * Synchronized for the same reason as [[runToMemory]]: the
    * shuffle-partition override is session-global state. */
  def drainRingUntil(spark: SparkSession, ring: String, n: Long)(
      produce: => Unit): DataFrame = synchronized {
    val table = s"graft_ring_sink_${nameCounter.incrementAndGet()}"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val q = ringStream(spark, ring).writeStream.outputMode("append")
        .format("memory").queryName(table).start()
      @volatile var producedOk = false
      val producer = new Thread(() => { produce; producedOk = true },
        s"ring-producer-$table")
      producer.setDaemon(true)
      try {
        producer.start()
        val deadline = System.nanoTime() + 120L * 1000L * 1000 * 1000
        while (spark.table(table).count() < n) {
          // a dead stream or dead producer would otherwise poll blind
          // to the deadline
          q.exception.foreach(throw _)
          if (!producer.isAlive && !producedOk)
            throw new IllegalStateException(
              "ring producer died before enqueueing all records " +
                "(enqueue timeout?) — drain cannot complete")
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"ring drain did not reach $n rows in 120s")
          Thread.sleep(20)
        }
      } finally {
        q.stop()
        producer.join(10000)
      }
      val sink = spark.table(table)
      spark.createDataFrame(sink.collectAsList(), sink.schema)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.catalog.dropTempView(table)
    }
  }
}
