package graft

import org.apache.spark.sql.functions._

import graft.operators.{KMeans, Staging, Vectors}
import graft.sources.Tables

/** Iterated k-means (KMeans.run) + the SemDeDup scale contract.
  */
class KMeansSpec extends SparkTestBase {
  import spark.implicits._

  test("two well-separated blobs recover their true centers") {
    // ids 0 and 1 are the seeds; blob A hugs (0,0), blob B hugs (10,10)
    val pts = Seq(
      (0L, Seq(0.0, 0.0)), (2L, Seq(0.2, 0.0)), (4L, Seq(0.0, 0.2)),
      (6L, Seq(-0.2, 0.0)),
      (1L, Seq(10.0, 10.0)), (3L, Seq(10.2, 10.0)), (5L, Seq(10.0, 10.2)),
      (7L, Seq(9.8, 10.0))).toDF("id", "v")
    val cents = KMeans.run(pts, "id", "v", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet === Set(0L, 1L))
    assert(math.abs(cents(0L).head - 0.0) < 0.1 &&
      math.abs(cents(0L)(1) - 0.05) < 0.1)
    assert(math.abs(cents(1L).head - 10.0) < 0.1 &&
      math.abs(cents(1L)(1) - 10.05) < 0.1)
    // assignment splits the blobs exactly
    val a = KMeans.assign(pts,
      KMeans.run(pts, "id", "v", k = 2, rounds = 3), "id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 6L -> 0L,
      1L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 1L))
    Staging.sweep(spark)
  }

  test("empty cluster drops instead of producing NaN centroids") {
    // seed 1 sits inside seed 0's blob: after one round every point
    // assigns to one centroid (ties to lower cid), the other empties
    val pts = Seq((0L, Seq(0.0)), (1L, Seq(0.0)), (2L, Seq(0.0)))
      .toDF("id", "v")
    val cents = KMeans.run(pts, "id", "v", k = 2, rounds = 2).collect()
    assert(cents.length === 1 && cents.head.getLong(0) === 0L)
    Staging.sweep(spark)
  }

  test("runWithReseed: a forced-empty cell is reseeded with the " +
      "deterministic farthest point") {
    // seeds 0,1 real; sentinel cid 2 unreachable -> empties in round 1.
    // Farthest point from the two refit centroids is id 9 at (100,100).
    val pts = Seq(
      (0L, Seq(0.0, 0.0)), (3L, Seq(0.2, 0.0)), (5L, Seq(0.0, 0.2)),
      (1L, Seq(10.0, 10.0)), (4L, Seq(10.2, 10.0)),
      (9L, Seq(100.0, 100.0))).toDF("id", "v")
    val init = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)),
      (2L, Seq(1.0e9, 1.0e9))).toDF("cid", "cv")
    val cents = KMeans.runWithReseed(pts, "id", "v", k = 3, rounds = 1,
        init = init)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet === Set(0L, 1L, 2L))
    // cid 2 reseeded with the farthest point (9 lands in cid 1's
    // refit, leaving it the global dmin argmax at (100,100))
    assert(cents(2L) === Seq(100.0, 100.0))
    // cid0 refit = mean(0, 0.2, 0); cid1 = mean(10, 10.2, 100)
    assert(math.abs(cents(0L).head - 0.066667) < 0.001)
    assert(math.abs(cents(1L).head - 40.066667) < 0.001)
    Staging.sweep(spark)
  }

  test("runWithReseed with no empty cell matches plain run") {
    val pts = Seq(
      (0L, Seq(0.0, 0.0)), (2L, Seq(0.2, 0.0)), (4L, Seq(0.0, 0.2)),
      (1L, Seq(10.0, 10.0)), (3L, Seq(10.2, 10.0))).toDF("id", "v")
    val init = pts.filter($"id" < 2)
      .select($"id".as("cid"), $"v".as("cv"))
    val a = KMeans.runWithReseed(pts, "id", "v", k = 2, rounds = 3,
        init = init)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = KMeans.run(pts, "id", "v", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a === b)
    Staging.sweep(spark)
  }

  test("empty init fails loudly instead of returning an empty frame") {
    val pts = Seq((5L, Seq(0.0)), (6L, Seq(1.0))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      KMeans.run(pts, "id", "v", k = 2, rounds = 1)
    }
    assert(e.getMessage.contains("empty init"))
    Staging.sweep(spark)
  }

  test("q360 rep set: the per-cell rank filter rides WindowGroupLimit " +
      "(bounded map-side top-cap, never a full-cell rank sort)") {
    import org.apache.spark.sql.expressions.Window
    val va = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select($"vec_id".as("id"), ($"vec_id" % 8).as("cid"),
        Vectors.toDouble($"embedding").as("v"))
    val reps = va.withColumn("rn", row_number().over(
        Window.partitionBy($"cid").orderBy($"id")))
      .filter($"rn" <= 64)
    val plan = reps.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rep-set rank filter did not fold into WindowGroupLimit:\n$plan")
    Staging.sweep(spark)
  }

  test("SemDeDup pair stage: an equi-join keyed on the cell id " +
      "(no cross-cell pair ever materializes)") {
    // the q353 builder stages/executes its loop, so the final plan
    // only shows lineage-truncated leaves — pin the pair STAGE's own
    // plan, which is exactly what runs inside the pipeline
    val va = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select($"vec_id".as("id"),
        (($"vec_id" % 8)).as("cid"),
        Vectors.toDouble($"embedding").as("v"))
      .withColumn("nr", Vectors.norm($"v"))
    val plan = graft.queries.Quality.intraCellEdges(va)
      .queryExecution.executedPlan.toString
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[ca".r
        .findFirstIn(plan).isDefined,
      s"expected the pair join keyed on the cell id:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi pair stage in SemDeDup:\n$plan")
    Staging.sweep(spark)
  }

  test("k = 0 seeds nothing: run and runWithReseed throw and leave " +
      "nothing staged") {
    val pts = Seq((0L, Seq(0.0)), (1L, Seq(1.0))).toDF("id", "v")
    def pinned() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinned()
    val err = intercept[IllegalArgumentException](
      KMeans.run(pts, "id", "v", k = 0, rounds = 2))
    assert(err.getMessage.contains("empty init"), err.getMessage)
    assert(pinned() -- before === Set.empty)
    val noInit = Seq.empty[(Long, Seq[Double])].toDF("cid", "cv")
    val err2 = intercept[IllegalArgumentException](
      KMeans.runWithReseed(pts, "id", "v", k = 2, rounds = 2, init = noInit))
    assert(err2.getMessage.contains("empty init"), err2.getMessage)
    assert(pinned() -- before === Set.empty)
  }
}
