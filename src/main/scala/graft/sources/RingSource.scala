package graft.sources

import java.util
import java.util.Optional
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReportsSourceMetrics}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** In-process MPMC ring-buffer message bus, exposed to Structured
  * Streaming as a DataSource V2 micro-batch source.
  *
  * This is the engine's analog of the reference's core data structure —
  * the bounded multi-producer/multi-consumer ring
  * (`/root/reference/src/memory/low_latency_mpmc_ring.rs:36-135`) — with
  * the SAME contract surface: power-of-two capacity, bounded retention,
  * destructive consume, and BOTH overflow policies the reference names
  * (reject-new via `try_enqueue → false`; drop-oldest via "forcibly
  * incrementing [the] consumer pointer", `/root/reference/README.md:436`).
  * What changes is the execution model: the consumer is not a thread
  * calling `try_dequeue` but the micro-batch engine — each trigger turns
  * the newly-arrived sequence range [start, end) into a batch of input
  * partitions, and planning that batch IS the dequeue, as in the
  * reference: `dequeue` moves the range's rows off the slots into one
  * ring-held in-flight batch and frees those slots for producers at
  * once, so they refill the ring while the batch runs. The in-flight
  * rows are released by `consume` on the trigger AFTER the batch
  * completes — see RingMicroBatchStream.latestOffset.
  *
  * A planned partition is a sequence range, not rows: each read task
  * reads its [from, until) from the in-flight batch through `inFlight`,
  * the way a Structured Streaming source is a replayable log addressed
  * by offsets. Rows never travel inside the physical plan, so no
  * closure check or task binary Java-serializes a batch's rows.
  *
  * Why an in-flight batch rather than handing the rows out once: the
  * engine plans the same range several times while executing it
  * (measured: 6 `planInputPartitions` calls per micro-batch — planning,
  * explain, metrics), and a restarted query replays its write-ahead
  * log's last batch. Both are served from the in-flight batch. It lives
  * on the ring, not on the stream object, so a query restarted in the
  * same JVM still finds it.
  *
  * Memory bound: Spark plans batch N+1 only after the next
  * `latestOffset` has consumed batch N, so at most one batch is in
  * flight and a ring holds at most 2 × capacity rows (capacity queued
  * plus one batch of at most capacity in flight).
  *
  * Concurrency: producers and the planner synchronize on the ring
  * monitor. The reference's lock-free CAS loop buys nanoseconds on a
  * per-record hot path; here the consumer-side unit of contention is one
  * micro-batch (thousands of records per lock acquisition), so a monitor
  * is the honest choice — the latency-critical per-record path in this
  * engine is continuous-mode processing (see streaming/LatencyProbe).
  *
  * Delivery semantics, stated loudly:
  *  - reject-new: exactly-once. A producer that retries until
  *    `tryEnqueue` succeeds is backpressured by consumer progress
  *    (batch planning frees slots), and every enqueued record is
  *    delivered.
  *  - drop-oldest: at-most-once. Eviction touches only queued rows, so a
  *    planned row is never evicted: every record is either delivered or
  *    counted in `dropped` — observable, never silent. Offsets only ever
  *    advance; a dropped range reads back as fewer rows, not an error
  *    (matching the reference, where an overwritten slot is simply gone).
  *  - recovery: the retained window IS the durability horizon. An
  *    ephemeral in-memory bus cannot replay below `oldest` after a
  *    restart — same tradeoff the reference makes ("Ephemeral: we store
  *    data in memory only", `/root/reference/README.md:433`).
  *
  * Scale shape: one ring is one partition's worth of bus; a production
  * deployment shards N rings behind N source partitions (the
  * `planInputPartitions` split below already fans a large range out to
  * multiple read tasks). Deployment consequence of range partitions: a
  * partition must be read in the JVM that owns the ring. That is the
  * engine's only deployment — GraftSession runs `local[N]` and
  * RingRegistry is process-wide — and a partition read anywhere else
  * fails loudly (RingReaderFactory). On a cluster the same offset-range
  * contract binds to a broker client, as Spark's Kafka source does.
  */
final class GraftRing(
    val name: String,
    val schema: StructType,
    val capacity: Int,
    val dropOldest: Boolean) {
  require(capacity > 0 && (capacity & (capacity - 1)) == 0,
    s"ring capacity must be a power of 2, got $capacity")

  private val mask = capacity - 1L
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
  private val slots = new Array[InternalRow](capacity)
  // absolute (never-wrapping) sequence numbers: queued rows are
  // [headSeq, tailSeq); rows below headSeq have left the slots
  // (dequeued, consumed or evicted); the consumer has released
  // everything below consumedSeq
  private var headSeq = 0L
  private var tailSeq = 0L
  private var consumedSeq = 0L
  private var droppedCount = 0L
  // dequeued rows not yet consumed, as runs of consecutive sequence
  // numbers (first seq, rows) in sequence order. One run per planned
  // range; a second only when a new query starts on a ring whose
  // previous query stopped with a batch in flight
  private val flight = mutable.ArrayBuffer[(Long, Array[InternalRow])]()

  /** Non-blocking enqueue. Full ring: reject-new → false (the reference's
    * `try_enqueue`); drop-oldest → evict the oldest queued row, count it,
    * and accept. In-flight rows hold no slot, so they are never evicted. */
  def tryEnqueue(row: Row): Boolean = synchronized {
    if (tailSeq - headSeq == capacity) {
      if (!dropOldest) return false
      droppedCount += 1
      slots((headSeq & mask).toInt) = null
      headSeq += 1
    }
    slots((tailSeq & mask).toInt) = toCatalyst(row).asInstanceOf[InternalRow]
    tailSeq += 1
    true
  }

  /** Blocking enqueue for reject-new producers: spin-then-sleep until a
    * slot frees (the next batch plan dequeues) or the timeout trips. */
  def enqueue(row: Row, timeoutMs: Long = 120000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var spins = 0
    while (!tryEnqueue(row)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"ring '$name' full for ${timeoutMs}ms (capacity=$capacity); " +
            "no consumer progress")
      spins += 1
      if (spins > 64) Thread.sleep(1) else Thread.onSpinWait()
    }
  }

  def latest: Long = synchronized(tailSeq)
  /** The oldest retained row: the in-flight batch's first row, else the
    * oldest queued one. A stream with no committed offset starts here, so
    * a query restarted after its first batch failed replays that batch. */
  def oldest: Long = synchronized(flight.headOption.fold(headSeq)(_._1))
  def committed: Long = synchronized(consumedSeq)
  def dropped: Long = synchronized(droppedCount)

  /** One consistent snapshot for progress reports: `queued` rows in the
    * slots, `inFlight` rows dequeued but not consumed, `lag` = latest −
    * committed, and `dropped`. */
  def metrics: Map[String, Long] = synchronized {
    Map("queued" -> (tailSeq - headSeq),
      "inFlight" -> flight.iterator.map(_._2.length.toLong).sum,
      "lag" -> (tailSeq - consumedSeq),
      "dropped" -> droppedCount)
  }

  /** Plan-time dequeue of [from, until) — the reference's `try_dequeue`
    * for a whole batch. Moves the range's queued rows off the slots into
    * the in-flight batch, frees those slots for producers at once, and
    * returns the range's in-flight rows as runs of consecutive sequence
    * numbers (first seq, rows), in sequence order. Planning the same
    * range again (the engine does, several times per batch; so does a
    * restart replaying its last logged batch) moves nothing and returns
    * the same runs until `consume` releases them. Rows evicted by
    * drop-oldest before the first plan are absent (at-most-once is the
    * declared policy); queued rows below `from` belong to no batch and
    * are counted in `dropped`. */
  def dequeue(from: Long, until: Long): Seq[(Long, Int)] = synchronized {
    val lo = math.max(from, headSeq)
    val hi = math.min(until, tailSeq)
    if (lo < hi) {
      flight += ((lo, Array.tabulate((hi - lo).toInt)(i =>
        slots(((lo + i) & mask).toInt))))
      droppedCount += lo - headSeq
      while (headSeq < hi) {
        slots((headSeq & mask).toInt) = null
        headSeq += 1
      }
    }
    flight.iterator.flatMap { case (s, rows) =>
      val a = math.max(from, s)
      val b = math.min(until, s + rows.length)
      Option.when(a < b)((a, (b - a).toInt))
    }.toSeq
  }

  /** The in-flight rows of [from, until), in sequence order — the read
    * path of a planned partition. Empty once `consume` has released the
    * range. */
  def inFlight(from: Long, until: Long): Array[InternalRow] = synchronized {
    flight.iterator.flatMap { case (s, rows) =>
      def at(seq: Long) = math.min(math.max(seq - s, 0L), rows.length.toLong).toInt
      rows.iterator.slice(at(from), at(until))
    }.toArray
  }

  /** Destructive consume up to `seq` — the reference's consumer-index
    * advance. Releases the in-flight rows below `seq` and frees any
    * queued slot below it. Called from RingMicroBatchStream.latestOffset
    * once the previous batch has fully executed, and from the engine's
    * offset commit (bookkeeping; a monotone no-op by then). */
  def consume(seq: Long): Unit = synchronized {
    consumedSeq = math.max(consumedSeq, math.min(seq, tailSeq))
    while (headSeq < consumedSeq) {
      slots((headSeq & mask).toInt) = null
      headSeq += 1
    }
    // runs are disjoint and ordered: only the first can straddle the cut
    flight.filterInPlace { case (s, rows) => s + rows.length > consumedSeq }
    if (flight.nonEmpty && flight.head._1 < consumedSeq) {
      val (s, rows) = flight.head
      flight(0) = (consumedSeq, rows.drop((consumedSeq - s).toInt))
    }
  }
}

/** Process-wide ring registry: producers and the source resolve rings by
  * name (the source option `ring`). Single-JVM by design — see the
  * GraftRing scale note. */
object RingRegistry {
  private val rings = new ConcurrentHashMap[String, GraftRing]()

  /** Create (or replace) a named ring. Replacing is deliberate: test and
    * bench runs recreate rings under fresh names; a stale same-name ring
    * would otherwise pin its rows for the JVM lifetime. */
  def create(name: String, schema: StructType, capacity: Int,
      dropOldest: Boolean): GraftRing = {
    val r = new GraftRing(name, schema, capacity, dropOldest)
    rings.put(name, r)
    r
  }

  def get(name: String): GraftRing = {
    val r = rings.get(name)
    require(r != null, s"no ring named '$name' in this JVM — create it " +
      "before reading; graft-ring partitions are read in the JVM that owns the ring")
    r
  }

  def remove(name: String): Unit = rings.remove(name)
}

/** Offset = absolute ring sequence number (monotone, never wraps). */
private[sources] class RingOffset(val seq: Long) extends Offset {
  override def json(): String = seq.toString
}

/** A planned slice of a batch: the sequence range [from, until) of ring
  * `ring`, whose `rows` in-flight rows `dequeue` moved off the slots at
  * plan time. It carries no rows, so it serializes to well under a
  * kilobyte whatever the batch size; the reader takes the rows from the
  * ring's in-flight batch, which holds them, immune to drop-oldest
  * eviction, until the next trigger consumes the range. */
private[sources] case class RingInputPartition(
    ring: String, from: Long, until: Long, rows: Int) extends InputPartition

/** Reads a partition's range from the in-flight batch of the ring it
  * names, resolved through RingRegistry in the executing JVM — so it
  * must run in the ring's JVM. A read that finds fewer in-flight rows
  * than were planned (the range was already consumed, or a same-named
  * ring of another JVM) throws rather than return a short batch. */
private[sources] class RingReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[RingInputPartition]
    val rows = RingRegistry.get(part.ring).inFlight(part.from, part.until)
    if (rows.length < part.rows)
      throw new IllegalStateException(
        s"ring '${part.ring}' holds ${rows.length} of the ${part.rows} " +
          s"in-flight rows planned for [${part.from}, ${part.until}): the " +
          "range was consumed before it was read, or the ring is not this JVM's")
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
  }
}

/** The ring as a micro-batch stream. Planning a batch dequeues its range
  * (producers refill the freed slots while it runs) and splits it into
  * sequence-range partitions; the next trigger consumes it. Every
  * progress event carries the ring's `queued`, `inFlight`, `lag`
  * (latest − committed) and `dropped` counts. */
private[sources] class RingMicroBatchStream(ringName: String)
  extends MicroBatchStream with ReportsSourceMetrics {
  private def ring = RingRegistry.get(ringName)

  // highest batch end this stream has planned; its in-flight rows are
  // released on the NEXT trigger (see latestOffset)
  @volatile private var plannedUpTo = -1L

  // a stream that starts on a pre-filled drop-oldest ring begins at the
  // oldest RETAINED row — the evicted prefix is gone by policy
  override def initialOffset(): Offset = new RingOffset(ring.oldest)

  /** The engine's trigger loop calls this between batches (and while
    * idle), on its single stream thread — so when it runs, every plan
    * and sink-add of the previously planned range has completed. THAT is
    * the safe point to release the in-flight batch (its slots were
    * already freed when it was planned). Waiting for the engine's
    * `commit` would hold the batch longer: commit of batch N is deferred
    * into the construction of batch N+1, which happens only once new
    * data arrives (MicroBatchExecution.constructNextBatch →
    * cleanUpLastExecutedMicroBatch, Spark 4.1). */
  override def latestOffset(): Offset = {
    if (plannedUpTo >= 0) ring.consume(plannedUpTo)
    new RingOffset(ring.latest)
  }

  override def deserializeOffset(json: String): Offset =
    new RingOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RingOffset].seq
    val e = end.asInstanceOf[RingOffset].seq
    plannedUpTo = math.max(plannedUpTo, e)
    val runs = ring.dequeue(s, e)
    val n = runs.map(_._2).sum
    if (n == 0) Array.empty
    else {
      // fan a large batch out to several read tasks (8192 rows each, ≤4
      // slices — one ring is one bus partition; see the scale note). A
      // slice never spans two runs; there are two only when a new query's
      // first range also covers a batch a stopped query left in flight
      val nSlices = math.min(4, 1 + (n - 1) / 8192)
      val per = (n + nSlices - 1) / nSlices
      runs.iterator.flatMap { case (first, k) =>
        Iterator.range(0, k, per).map { i =>
          val rows = math.min(per, k - i)
          RingInputPartition(ringName, first + i, first + i + rows, rows): InputPartition
        }
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RingReaderFactory

  // bookkeeping only — the next latestOffset already released the range,
  // except after a restart: then this releases the batch the previous
  // query left in flight
  override def commit(end: Offset): Unit =
    ring.consume(end.asInstanceOf[RingOffset].seq)

  override def metrics(latestConsumedOffset: Optional[Offset]): util.Map[String, String] =
    ring.metrics.map { case (k, v) => k -> v.toString }.asJava

  override def stop(): Unit = ()
}

private[sources] class RingTable(ringName: String) extends Table with SupportsRead {
  override def name(): String = s"graft_ring_$ringName"
  override def schema(): StructType = RingRegistry.get(ringName).schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = RingRegistry.get(ringName).schema
        override def description(): String = s"GraftRing($ringName)"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new RingMicroBatchStream(ringName)
      }
    }
}

/** `spark.readStream.format("graft-ring").option("ring", name).load()` */
class RingSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ring"
  private def ringName(options: CaseInsensitiveStringMap): String = {
    val n = options.get("ring")
    require(n != null, "graft-ring source requires option 'ring'")
    n
  }
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RingRegistry.get(ringName(options)).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RingTable(properties.get("ring"))
}
