package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}

import graft.operators.{ConnectedComponents, Staging}

/** Staging lifecycle: local-checkpoint default, reliable-checkpoint
  * opt-in (the executor-loss-safe 100 TB mode), and block release. */
class StagingSpec extends SparkTestBase {
  import spark.implicits._

  test("default staging pins blocks; sweep releases them") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val staged = Staging.stage(
      Seq(1, 2, 3).toDF("x").withColumn("y", col("x") * 2), eager = true)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty)
    assert(staged.agg(sum($"y")).head().getLong(0) == 12L)
    Staging.sweep(spark)
    // sweep is scoped to module-staged ids: OUR blocks are gone, but a
    // user cache()d frame from elsewhere in the shared session survives
    val after = spark.sparkContext.getPersistentRDDs
    assert(added.forall(id =>
      !after.contains(id) || !after(id).getStorageLevel.useMemory))
  }

  test("release drops only the directly-staged frame") {
    val a = Staging.stage(Seq(1, 2).toDF("x"), eager = true)
    val b = Staging.stage(a.withColumn("y", col("x") + 1), eager = true)
    // releasing a frame DERIVED from b must not touch b's blocks
    Staging.release(b.filter(col("y") > 0))
    assert(b.count() == 2)
    Staging.release(a)
    Staging.release(b)
    Staging.sweep(spark)
  }

  test("sweep keeps a long session's staged-block registry steady") {
    // the round-3 failure mode: per-query staged frames left pinned for
    // the session lifetime; with sweep between "queries" the registry
    // must not grow
    Staging.sweep(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach { i =>
      val staged = Staging.stage(
        spark.range(1000L * i).toDF("x").withColumn("y", col("x") % 7),
        eager = true)
      assert(staged.count() == 1000L * i)
      Staging.sweep(spark)
    }
    assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
      "staged RDDs accumulated across simulated queries")
  }

  test("configured checkpoint dir switches staging to reliable checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    spark.conf.set(Staging.ConfKey, dir.toString)
    try {
      val staged = Staging.stage(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), eager = true)
      // the staged plan must be backed by files under the configured dir
      // setCheckpointDir stores the fully-qualified URI (file:/...)
      assert(spark.sparkContext.getCheckpointDir
        .exists(_.contains(dir.toString)))
      val files = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable checkpoint wrote no files")
      assert(staged.count() == 3)

      // the iterative operator runs green end-to-end in reliable mode
      val cc = ConnectedComponents
        .minLabel(Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"),
          "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally {
      spark.conf.unset(Staging.ConfKey)
      Staging.sweep(spark)
    }
  }

  // measures of the shapes the loops use: a count, a LONG sum that is
  // NULL over no rows, a DECIMAL(38,0) sum, a coalesced max
  private def measures = Seq(count(lit(1)), sum($"x"),
    sum(($"x" * 1000003L).cast(DecimalType(38, 0))),
    coalesce(max(abs($"y" - 3L)), lit(0L)))

  private def frames(): Seq[(String, DataFrame)] = {
    val rows = spark.range(0, 5000, 1, 6)
      .select($"id".as("x"), ($"id" % 7).as("y"))
    Seq(
      "rows" -> rows,
      "filtered-empty" -> rows.filter(lit(false)),
      "0-partition" -> spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        new StructType().add("x", LongType).add("y", LongType)))
  }

  private def measuredMatchesAggregate(): Unit =
    frames().foreach { case (label, df) =>
      val (staged, rows, m) = Staging.stageMeasured(df, measures)
      val direct = staged.agg(measures.head, measures.tail: _*).head()
      assert(m === direct, label)
      assert(staged.count() === rows, label)
      assert(rows === m.getLong(0), label)
      Staging.release(staged)
    }

  test("stageMeasured equals a separate aggregate over the staged frame") {
    assert(frames().last._2.rdd.getNumPartitions === 0)
    measuredMatchesAggregate()
    Staging.sweep(spark)
  }

  test("stageMeasured equals a separate aggregate in reliable mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_m_")
    spark.conf.set(Staging.ConfKey, dir.toString)
    try measuredMatchesAggregate()
    finally {
      spark.conf.unset(Staging.ConfKey)
      Staging.sweep(spark)
    }
  }

  test("stageCounted counts with the staging job and pins one frame") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (staged, n) = Staging.stageCounted(
      spark.range(1234).select($"id".as("x")).filter($"x" % 3 === 0))
    assert(n === 412L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size === 1)
    Staging.release(staged)
    Staging.sweep(spark)
  }

  test("a plan that fails while it is staged pins nothing") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      Staging.stageCounted(
        spark.range(10).select(raise_error(lit("boom")).as("x")))
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
