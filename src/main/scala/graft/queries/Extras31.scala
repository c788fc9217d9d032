package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Exact.{dsum, dsumSql}
import graft.sources.{RingRegistry, Tables}
import graft.streaming.Streams

/** Thirty-first coverage wave: the message-bus source. Both queries run
  * the catalog's OWN bus — the in-process MPMC ring behind the
  * `graft-ring` DataSource V2 source (sources/RingSource.scala), the
  * Spark-native restatement of the reference's core ring buffer
  * (`/root/reference/src/memory/low_latency_mpmc_ring.rs:36-135`) — and
  * pin down its two overflow policies with deterministic end states a
  * DuckDB oracle can regenerate from the events fixture:
  *
  *  - drop-oldest (q148): fill the ring PAST capacity with no consumer
  *    attached; the bus must retain exactly the LAST `capacity` records
  *    and evict the prefix ("forcibly incrementing consumer pointer",
  *    `/root/reference/README.md:436`). Deterministic because eviction
  *    order is enqueue order.
  *  - reject-new + backpressure (q149): two producer threads push the
  *    same record set through an undersized ring while the stream drains
  *    it live; consumer progress gates the producers, and exactly-once
  *    delivery means the result equals the full input — regardless of
  *    thread interleaving.
  *
  * On the `collect()` here: it is the PRODUCER harness, not a data-plane
  * operator — a message bus's producers are by definition processes
  * outside the engine, and these queries need deterministic ones. The
  * engine-side path (source → micro-batches → sink → aggregate) never
  * collects an unbounded set; the bounded slice mirrors how every other
  * streaming catalog entry feeds its source (file copies, rate bound).
  */
object Extras31 {

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(spark, dir)
  private val one = lit(1)

  // bounded producer slice: first N events by event_id (deterministic at
  // every SF; LIMIT truncates to the table when smaller)
  private val N = 50000
  private val ringCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private def firstEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String) =
    t(spark, dir).events
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id").limit(N)

  private val oracleFirstCte =
    s"""f AS (SELECT event_id, event_type, value
       |  FROM events ORDER BY event_id LIMIT $N)""".stripMargin

  val all: Seq[Qry] = Seq(

    // ---- bus overflow: drop-oldest retention ---------------------------
    // 4096-slot ring, no consumer, N >> 4096 producer records: the
    // retained window is exactly the last 4096 by enqueue (= event_id)
    // order, the evicted prefix is counted in `dropped`, and the stream
    // that then attaches begins at the oldest RETAINED offset. At-most-
    // once by declared policy — observable, never silent.
    Qry(
      "q148_ring_dropoldest",
      s"""WITH $oracleFirstCte,
         |r AS (SELECT *, row_number() OVER (ORDER BY event_id) AS rn,
         |        count(*) OVER () AS cnt FROM f)
         |SELECT event_type, COUNT(*) AS n_kept,
         |  MIN(event_id) AS min_id, MAX(event_id) AS max_id,
         |  ${dsumSql("value")} AS val_sum
         |FROM r WHERE rn > cnt - 4096
         |GROUP BY event_type""".stripMargin) { (spark, dir) =>
      val name = s"q148_${ringCounter.incrementAndGet()}"
      val src = firstEvents(spark, dir)
      val rows = src.collect()
      val ring = RingRegistry.create(name, src.schema,
        capacity = 4096, dropOldest = true)
      try {
        // producer side: overflow by design; drop-oldest always accepts
        rows.foreach(r => require(ring.tryEnqueue(r)))
        val got = Streams.runToMemory(
          Streams.ringStream(spark, name), "append")
        got.groupBy("event_type")
          .agg(count(one).cast(LongType).as("n_kept"),
            min("event_id").as("min_id"), max("event_id").as("max_id"),
            dsum(col("value")).as("val_sum"))
      } finally RingRegistry.remove(name)
    },

    // ---- bus backpressure: reject-new, exactly-once --------------------
    // 8192-slot ring carrying 50k records (~6 full refill cycles): two
    // producer threads split the slice odd/even (MPMC), block on the full
    // ring, and are released by the consumer's progress. Every record is
    // delivered exactly once, so the aggregate equals the full input
    // slice — the thread interleaving cannot show through. (Planning a
    // batch frees its slots, so the producers refill the ring while that
    // batch runs and each micro-batch of fixed scheduling overhead
    // carries up to a full ring; the HARD undersizing proof — 4096
    // records through 128 slots — lives in RingSourceSpec, where the row
    // volume is small enough that 32 wraps stay cheap.)
    Qry(
      "q149_ring_backpressure",
      s"""WITH $oracleFirstCte
         |SELECT event_type, COUNT(*) AS n,
         |  MIN(event_id) AS min_id, MAX(event_id) AS max_id,
         |  ${dsumSql("value")} AS val_sum
         |FROM f GROUP BY event_type""".stripMargin) { (spark, dir) =>
      val name = s"q149_${ringCounter.incrementAndGet()}"
      val src = firstEvents(spark, dir)
      val rows = src.collect()
      val ring = RingRegistry.create(name, src.schema,
        capacity = 8192, dropOldest = false)
      try {
        val got = Streams.drainRingUntil(spark, name, rows.length.toLong) {
          val half = new Thread(() =>
            rows.indices.by(2).foreach(i => ring.enqueue(rows(i))),
            s"$name-even")
          half.setDaemon(true)
          half.start()
          rows.indices.drop(1).by(2).foreach(i => ring.enqueue(rows(i)))
          half.join(120000)
        }
        got.groupBy("event_type")
          .agg(count(one).cast(LongType).as("n"),
            min("event_id").as("min_id"), max("event_id").as("max_id"),
            dsum(col("value")).as("val_sum"))
      } finally RingRegistry.remove(name)
    })
}
