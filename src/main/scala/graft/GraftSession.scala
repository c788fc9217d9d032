package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Session factory: one place for the engine's recommended configuration.
  *
  * Local runs parameterize parallelism via SPARK_GRAFT_CPUS; on a real
  * cluster the same settings apply minus `master` (spark-submit provides
  * it) — AQE re-plans shuffles at runtime (coalescing + skew-join
  * splitting), shuffle partitions start at the core count and AQE adjusts,
  * and the graft SQL functions ride in via extensions so every session
  * (including pure-SQL ones) sees them.
  */
object GraftSession {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Spark's checkpoint-manager key and the engine's manager for it:
    * local streaming checkpoints write through java.nio instead of
    * Hadoop's process-spawning local filesystem. Test sessions set the
    * same pair, so the streaming specs run the production path. */
  val CheckpointManager: (String, String) =
    graft.streaming.LocalCheckpointFileManager.ConfKey ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Spark's bound on its generated-class cache and the engine's value.
    *
    * Spark compiles every whole-stage and expression class with Janino
    * and keeps the compiled classes in one JVM-wide LRU cache keyed by the
    * generated source. Its default of 100 entries is smaller than the
    * engine's working set: one pass of the four `graph_loops` queries
    * (PageRank, SCC, the native as-of join, the wire round trip)
    * generates 183 distinct classes, so LRU evicted every class before
    * its next use and every repeated pass compiled all 183 again with
    * Janino, while the other tasks of each stage waited on Spark's
    * compile lock. At 1000 the repeated pass compiles 0.
    * The cap is sized to what runs repeatedly, not to the whole catalog:
    * the largest single catalog query generates 237 classes, but one
    * catalog pass at sf0.01 generates about 6,800, so a full catalog
    * cycle still recycles the cache.
    *
    * The setting is static: Spark's `CodeGenerator` reads it once, from
    * the active session's conf when the object initializes (normally the
    * first compile in the JVM), and sizes the cache for the JVM's life.
    * It has to be in the conf the session is built with; setting it on a
    * live session changes nothing.
    *
    * Cost: the cached classes and their source-string keys stay on the
    * heap, so peak RSS grows with the working set held: +6.5% on
    * `graph_loops` (2408 → 2564 MB, median of 10 runs each). */
  val CodegenCache: (String, String) =
    "spark.sql.codegen.cache.maxEntries" -> "1000"

  /** The engine's named settings. [[build]] returns a session that
    * already exists as it is, and the codegen cap cannot change once
    * Spark has read it, so these are checked against that session.
    *
    * [[confMismatches]] compares confs, not the live cache. Spark's
    * `CodeGenerator` takes its cap from whatever `SQLConf.get` returns
    * when the object first initializes, so any touch of `CodeGenerator`
    * before the first engine session exists (a compile, or reaching the
    * cache by reflection) pins Spark's 100-entry cap for the JVM's life.
    * The session's conf then still reads 1000, and [[build]] cannot see
    * the difference. */
  val EngineConfs: Seq[(String, String)] = Seq(CheckpointManager, CodegenCache)

  /** `(key, engine's value, conf's value)` for each engine setting that
    * `conf` holds differently; an unset key reads as "unset" (Spark's
    * default). */
  def confMismatches(conf: SparkConf): Seq[(String, String, String)] =
    EngineConfs.flatMap { case (key, want) =>
      val have = conf.getOption(key).getOrElse("unset")
      if (have == want) None else Some((key, want, have))
    }

  def build(appName: String = "graft"): SparkSession = {
    // getOrCreate ignores configs once a session exists — return the live
    // session up front instead of minting a fresh warehouse temp dir (and
    // implying a repoint) that getOrCreate would then discard, and say
    // where its settings differ from the engine's
    val existing = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    if (existing.isDefined) {
      confMismatches(existing.get.sparkContext.getConf).foreach {
        case (key, want, have) =>
          log.warn(s"existing session keeps $key=$have, not the engine's $want")
      }
      return existing.get
    }
    val builder = SparkSession.builder()
    // only default the master when nothing supplied one — hardcoding it
    // would silently override spark-submit's --master on a real cluster
    if (sys.props.get("spark.master").isEmpty &&
        sys.env.get("SPARK_MASTER").isEmpty)
      builder.master(s"local[$cpus]")
    val s = builder
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // ContextCleaner frees shuffle files / broadcast blocks only when
      // driver GC collects their references; the default periodic-GC
      // interval (30 min) is longer than an entire 147-query session, so
      // a long-lived session accumulates hundreds of queries' shuffle
      // state and later queries pay for it (measured: q103 5.9 s in a
      // full bench vs 3.3 s standalone). One minute bounds the backlog —
      // the same setting a long-lived cluster application would run.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // set at session build rather than mid-flight by the events loader:
      // the fixtures' TIMESTAMP(NANOS) columns need it, and flipping a
      // session-global flag inside a table getter is action-at-a-distance
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // managed-table writes (bucketed-join fixtures) land in a temp
      // warehouse, never inside the repo working directory
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .config("spark.ui.enabled", "false")
      .config(CheckpointManager._1, CheckpointManager._2)
      .config(CodegenCache._1, CodegenCache._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
