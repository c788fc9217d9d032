package graft

import org.apache.spark.sql.functions._

import graft.operators.{Fixpoint, Staging}

/** Data-proportional loop shuffle width (r14 verdict #1: the iterated
  * loops pinned `shuffle.partitions=8`, a local-mode constant that
  * would cap the per-round edge-sized aggregates at 8 reducers at
  * 100 TB). [[Staging.loopShufflePartitions]] derives the width from
  * the staged frames' MEASURED bytes (block-manager sizes, or checkpoint
  * file lengths in reliable mode; read on the driver — no extra Spark
  * job): floor at fixture scale, linear in the data beyond one target
  * block per partition.
  */
class LoopPartitionsSpec extends SparkTestBase {
  import spark.implicits._

  private def staged(rows: Long) = Staging.stage(
    spark.range(rows).select($"id".as("src"), ($"id" * 7).as("dst")),
    eager = true)

  test("tiny staged frames sit at the floor width") {
    val e = staged(1000)
    assert(Staging.loopShufflePartitions(spark, e)
      === Staging.LoopMinPartitions)
    Staging.release(e)
  }

  test("width grows linearly once frames exceed the target block") {
    val e = staged(50000)
    val key = Staging.LoopTargetBytesKey
    try {
      // shrink the target so this small frame spans many "blocks":
      // the width must scale with measured bytes / target
      spark.conf.set(key, "4096")
      val w4k = Staging.loopShufflePartitions(spark, e)
      assert(w4k > Staging.LoopMinPartitions,
        s"expected > floor at 4 KB target, got $w4k")
      spark.conf.set(key, "2048")
      val w2k = Staging.loopShufflePartitions(spark, e)
      // halving the target must not shrink the width; it should about
      // double (exact ratio depends on block rounding)
      assert(w2k >= w4k * 3 / 2, s"expected ~2x of $w4k, got $w2k")
    } finally spark.conf.unset(key)
    Staging.release(e)
  }

  test("unstaged frames measure nothing: the session width, no crash") {
    val plain = spark.range(10).select($"id".as("src"))
    val session = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // a session width distinct from the floor, so the two cannot agree
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      assert(Staging.loopShufflePartitions(spark, plain) === 13)
    } finally spark.conf.set("spark.sql.shuffle.partitions", session)
  }

  test("loop scope restores shuffle.partitions on exit and throw; " +
      "AQE untouched") {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    Fixpoint.scope("scope spec", staged(1000)) {
      assert(spark.conf.get("spark.sql.shuffle.partitions")
        === Staging.LoopMinPartitions.toString)
      assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
    intercept[RuntimeException] {
      Fixpoint.scope("scope spec", staged(1000)) {
        throw new RuntimeException("x")
      }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
  }

  test("reliable-checkpoint frames size the width from their files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    val key = Staging.LoopTargetBytesKey
    spark.conf.set(Staging.ConfKey, dir.toString)
    try {
      // reliable checkpoints hold no executor blocks; their bytes are
      // the checkpoint files' lengths
      val e = staged(50000)
      spark.conf.set(key, "4096")
      val w = Staging.loopShufflePartitions(spark, e)
      assert(w > Staging.LoopMinPartitions,
        s"expected > floor at 4 KB target in reliable mode, got $w")
    } finally {
      spark.conf.unset(key)
      spark.conf.unset(Staging.ConfKey)
      Staging.sweep(spark)
    }
  }

  test("a malformed target-bytes conf fails naming the key") {
    val key = Staging.LoopTargetBytesKey
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    // a target below one byte is as malformed as a non-number: it would
    // otherwise run the loop at one partition per staged byte
    Seq("64MB", "0", "-1").foreach { bad =>
      spark.conf.set(key, bad)
      try {
        val err = intercept[IllegalArgumentException] {
          graft.operators.DagLevels.run(
            Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst")
        }
        assert(err.getClass === classOf[IllegalArgumentException], bad)
        assert(err.getMessage.contains(key), err.getMessage)
        assert(err.getMessage.contains(s"'$bad'"), err.getMessage)
        assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0, bad)
      } finally {
        spark.conf.unset(key)
        Staging.sweep(spark)
      }
    }
  }

  test("multiple staged frames sum their bytes") {
    val a = staged(50000)
    val b = staged(50000)
    val key = Staging.LoopTargetBytesKey
    try {
      spark.conf.set(key, "4096")
      val one = Staging.loopShufflePartitions(spark, a)
      val two = Staging.loopShufflePartitions(spark, a, b)
      assert(two >= one * 3 / 2, s"expected ~2x of $one, got $two")
    } finally spark.conf.unset(key)
    Staging.release(a); Staging.release(b)
  }
}
