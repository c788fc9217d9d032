package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan/timing inspector: `runMain graft.Explain <sfDir> q1 q27 ...`
  * prints each query's formatted physical plan and two timed runs
  * (cold-ish, warm), each with the Spark jobs and SQL actions it ran and
  * the classes Janino compiled for it, so plan regressions, per-query
  * fixed cost, warmup effects and codegen-cache misses are
  * distinguishable. Dev tool, not part of the driver contract. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = GraftSession.build("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    // every Spark job, and every SQL action (a Dataset action, including
    // each staging checkpoint), counted over the session's life
    val jobs, actions = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.incrementAndGet()
    })
    def counts(): (Long, Long) = {
      GraftSqlBridge.drainListenerBus(spark)
      (jobs.get, actions.get)
    }
    // absorb session warmup so timings reflect the plan, not the JVM
    // (parquet + noop-writer init included, mirroring Bench)
    spark.range(2000000L).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // SPARK_GRAFT_PLAN_ONLY=1 skips the timed runs — plan dumps for a
    // dozen heavy queries would otherwise execute each 3x (two timed
    // runs + the rows= count)
    val planOnly = sys.env.getOrElse("SPARK_GRAFT_PLAN_ONLY", "0") == "1"
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"==== $name ====")
      fn(spark, sfDir).explain("formatted")
      graft.operators.Staging.sweep(spark)
      (1 to (if (planOnly) 0 else 2)).foreach { i =>
        val (j0, a0) = counts()
        val t0 = System.nanoTime()
        val c0 = Compiles.now()
        val df = fn(spark, sfDir)
        // noop sink like Bench: count() would let Catalyst prune the
        // projections whose plan was just printed
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val compiled = Compiles.now() - c0
        val (j1, a1) = counts()
        println(f"run$i: $secs%.2f s rows=${df.count()} " +
          s"${j1 - j0} jobs, ${a1 - a0} SQL actions, $compiled")
      }
    }
    spark.stop()
  }
}
