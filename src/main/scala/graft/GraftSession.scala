package graft

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

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Spark's checkpoint-manager key and the engine's manager for it:
    * local streaming checkpoints write through java.nio instead of
    * Hadoop's process-spawning local filesystem. Test sessions set the
    * same pair, so the streaming specs run the production path. */
  val CheckpointManager: (String, String) =
    graft.streaming.LocalCheckpointFileManager.ConfKey ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName

  def build(appName: String = "graft"): SparkSession = {
    // getOrCreate ignores configs once a session exists — return the live
    // session up front instead of minting a fresh warehouse temp dir (and
    // implying a repoint) that getOrCreate would then discard
    val existing = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    if (existing.isDefined) return existing.get
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
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
