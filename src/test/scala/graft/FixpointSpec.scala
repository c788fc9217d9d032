package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Coreness, Fixpoint, Staging}

/** The shared loop skeleton: one staging action per round that also
  * measures it, only the returned round left pinned, and every staged
  * frame released when the loop fails — by non-convergence or by a throw
  * mid-loop. */
class FixpointSpec extends SparkTestBase {
  import spark.implicits._

  private def pinned(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
      .toSet

  private def input(): DataFrame = Staging.stage(
    spark.range(100).select($"id", ($"id" % 10).as("v")), eager = true)

  // v grows by one each round, so its sum never settles
  private def growing(d: DataFrame): DataFrame =
    d.select($"id", ($"v" + 1).as("v"))

  test("an R-round loop runs one measuring action per round") {
    val funcs = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        funcs.synchronized(funcs += f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        funcs.synchronized(funcs += s"failed:$f")
    }
    val in = input()
    val rounds = 4
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      Fixpoint.scope("counted", in) {
        Fixpoint.iterate("counted", "rounds", rounds, in,
            Seq(sum($"v")), None)((d, _, _) => growing(d))._1
      }
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    // round 0 plus R rounds: each is staged once, and its measure rides
    // that staging action — no separate measuring action
    val byFunc = funcs.groupBy(identity).view.mapValues(_.size).toMap
    assert(byFunc === Map("localCheckpoint" -> (rounds + 1)),
      s"executions: $funcs")
    Staging.sweep(spark)
  }

  test("only the returned round is still pinned") {
    val before = pinned()
    val in = input()
    val (last, s) = Fixpoint.scope("pinned", in) {
      Fixpoint.iterate("pinned", "rounds", 3, in, Seq(sum($"v")),
        None)((d, _, _) => growing(d))
    }
    assert(pinned() -- before === rddIds(last))
    // 100 rows of v = id % 10 start at sum 450; three rounds add 300
    assert(s.getLong(0) === 750L)
    Staging.sweep(spark)
  }

  test("non-convergence names the operator and knob and pins nothing") {
    val before = pinned()
    val in = input()
    val err = intercept[IllegalStateException] {
      Fixpoint.scope("toy loop", in) {
        Fixpoint.iterate("toy loop", "maxToyRounds", 3, in,
          Seq(sum($"v")), Some(Fixpoint.unchanged))(
          (d, _, _) => growing(d))
      }
    }
    assert(err.getMessage.contains("toy loop"), err.getMessage)
    assert(err.getMessage.contains("maxToyRounds"), err.getMessage)
    assert((pinned() -- before).isEmpty)
  }

  test("a throw in round 2 releases its round and inputs and restores " +
      "the width") {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    assert(parts0 != Staging.LoopMinPartitions.toString)
    val before = pinned()
    val in = input()
    intercept[Exception] {
      Fixpoint.scope("failing", in) {
        Fixpoint.iterate("failing", "rounds", 5, in, Seq(sum($"v")),
          None) { (d, _, i) =>
          // round 2's plan stages fine and fails when measured
          if (i == 1) d.select($"id", raise_error(lit("boom")).as("v"))
          else growing(d)
        }
      }
    }
    assert((pinned() -- before).isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0)
  }

  private def statsRows(df: DataFrame): Option[BigInt] =
    df.queryExecution.optimizedPlan.stats.rowCount

  test("each staged round, and each stageCounted frame, carries its " +
      "own row count") {
    val in = input()
    val seen =
      scala.collection.mutable.ArrayBuffer.empty[(Option[BigInt], Long)]
    // each step sees the round just staged, the loop returns the last;
    // a step keeps the even ids, so every round halves the rows
    val (last, _) = Fixpoint.scope("halving", in) {
      Fixpoint.iterate("halving", "rounds", 4, in, Nil, None) {
        (d, _, _) =>
          seen += statsRows(d) -> d.count()
          d.filter($"id" % 2 === 0)
            .select(($"id" / 2).cast("long").as("id"), $"v")
      }
    }
    seen += statsRows(last) -> last.count()
    assert(seen.map(_._2) === Seq(100L, 50L, 25L, 13L, 7L))
    seen.foreach { case (stats, rows) =>
      assert(stats === Some(BigInt(rows)))
    }
    // the same holds outside a loop
    val (counted, n) = Staging.stageCounted(last.filter($"id" < 3))
    assert(n === 3L)
    assert(statsRows(counted) === Some(BigInt(3)))
    Staging.sweep(spark)
  }

  test("Coreness past maxIterations throws IllegalStateException and " +
      "pins nothing") {
    // a path needs ~n/2 H-index rounds to settle; one is not enough
    val path = (1L until 8L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("a", "b")
    val before = pinned()
    val err = intercept[IllegalStateException] {
      Coreness.run(path, "a", "b", maxIterations = 1)
    }
    assert(err.getMessage.contains("coreness"), err.getMessage)
    assert(err.getMessage.contains("maxIterations"), err.getMessage)
    assert((pinned() -- before).isEmpty)
  }
}
