package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.Staging

/** One query execution, as observed by the client. */
final case class QueryExec(name: String, ok: Boolean, startNs: Long,
    endNs: Long, opKey: String)

/** One closed-loop client running catalog queries through the engine's
  * public entry point (`SparkEntry.queries(name)(spark, dir)`), then a
  * write, then `Staging.sweep` before the next query. */
final class Catalog(spark: SparkSession, fixtureDir: String, tracer: Tracer) {

  private val fns = SparkEntry.queries

  val sweeps = mutable.ArrayBuffer[Span]()

  /** Run `name` once. With `outDir` the result is written as parquet (the
    * correctness pass); otherwise through the `noop` sink. */
  def run(name: String, parent: String, outDir: Option[String]): QueryExec = {
    val op = tracer.open(s"query:$name", "operation", parent)
    val sc = spark.sparkContext
    val ok = try {
      val df = tracer.span("queries.fn", "queries", op.key) { s =>
        jobGroup(s) { fns(name)(spark, fixtureDir) }
      }
      tracer.span("queries.exec", "queries", op.key) { s =>
        jobGroup(s) {
          outDir match {
            case Some(d) =>
              df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
            case None =>
              df.write.format("noop").mode("overwrite").save()
          }
        }
      }
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    val sweep = tracer.open("operators.sweep", "operators", op.key)
    if (tracer.on) {
      // staged blocks the query left pinned, read before the sweep frees them
      val info = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      sweep.attrs("staged_rdds") = info.length.toDouble
      sweep.attrs("staged_bytes") = info.map(i => i.memSize + i.diskSize).sum.toDouble
    }
    Staging.sweep(spark)
    tracer.close(sweep)
    sweeps += sweep
    tracer.close(op)
    QueryExec(name, ok, op.startNs, op.endNs, op.key)
  }

  /** In the traced run, Spark jobs started by `body` are attributed to
    * the layer call `s` through the job group. */
  private def jobGroup[T](s: Span)(body: => T): T = {
    val sc = spark.sparkContext
    if (tracer.on) sc.setJobGroup(s.key, s.name, interruptOnCancel = false)
    try body finally if (tracer.on) sc.clearJobGroup()
  }
}
