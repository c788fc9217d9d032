package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Minimal access bridge into `private[sql]` Spark internals.
  *
  * Spark deliberately keeps `Dataset.ofRows` (build a DataFrame from a
  * LogicalPlan) package-private; extension libraries that add custom
  * logical operators conventionally reach it through a one-object file in
  * the `org.apache.spark.sql` package (the same technique Spark's own
  * test kit and the well-known OSS extension libraries use). Everything
  * here delegates — no behavior lives in this file.
  */
object GraftSqlBridge {

  /** Wrap an (already resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The analyzed plan of a DataFrame (resolved attributes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution.analyzed

  /** Wrap a Catalyst expression as a Column (the session-free bridge
    * `functions.expr` cannot provide for expressions with Column
    * children). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (inverse of [[column]]). */
  def expression(c: Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The Hadoop conf the session's own file readers use: the context's
    * conf with the session's settings applied. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[ClassicSparkSession].sessionState.newHadoopConf()

  /** Materialize a lazily checkpointed DataFrame now: the job Spark's
    * eager `Dataset.checkpoint` runs inside its action (`RDD.doCheckpoint`
    * is `private[spark]`) — blocks for a local checkpoint, files for a
    * reliable one, the plan computed once either way. A no-op for a
    * frame that is not directly a checkpoint's LogicalRDD leaf. */
  def materialize(staged: DataFrame): Unit =
    staged.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.doCheckpoint()
      case _ => ()
    }

  /** Wait until every event posted so far has reached the session's
    * listeners (the listener bus is `private[spark]`), so a listener's
    * counts cover everything that ran before the call. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)

  /** Re-wrap a staged (checkpointed) DataFrame's LogicalRDD leaf with
    * KNOWN row-count/size statistics (LogicalRDD's `originStats`
    * constructor slot — exactly where Spark itself carries the source
    * plan's stats through `Dataset.checkpoint`). The origin stats of a
    * join+aggregate-derived sliver are size-only ESTIMATES that blow up
    * to left×right at the join (the loops' label/rank tables all derive
    * through joins), so every iterated loop had to hand-place
    * `broadcast()` hints; with the TRUE row count (`Staging.stageMeasured`
    * counts every frame it stages, in the staging job),
    * Catalyst makes the broadcast-vs-shuffle decision itself — and makes
    * the OPPOSITE, correct decision when the sliver outgrows the
    * threshold at 100x. Size = rows × (8 + Σ defaultSize), Spark's own
    * `EstimationUtils.getSizePerRow` convention. Non-LogicalRDD plans
    * pass through unchanged (nothing to annotate). */
  def withKnownStats(df: DataFrame, rowCount: Long): DataFrame =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val bytesPerRow = 8L + l.output.map(_.dataType.defaultSize).sum
        val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = BigInt(rowCount.max(1L) * bytesPerRow),
          rowCount = Some(BigInt(rowCount.max(0L))))
        val cs = df.sparkSession.asInstanceOf[ClassicSparkSession]
        ClassicDataset.ofRows(cs,
          new org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.getStream)(cs, Some(stats), None))
      case _ => df
    }
}
