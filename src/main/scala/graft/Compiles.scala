package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Janino compiles since the JVM started, as Spark counts them: the
  * generated classes compiled (each one a miss of Spark's generated-class
  * cache) and their total compile time. Both counters are JVM-wide, so a
  * delta over a span also counts the compiles of any other query running
  * in the JVM during it. */
final case class Compiles(classes: Long, nanos: Long) {
  def -(o: Compiles): Compiles = Compiles(classes - o.classes, nanos - o.nanos)
  override def toString: String =
    f"$classes classes compiled in ${nanos / 1e6}%.0f ms"
}

object Compiles {
  def now(): Compiles = Compiles(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime)
}
