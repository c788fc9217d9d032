package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query catalog is assembled from one module per domain; each entry
  * pairs the Spark implementation with its DuckDB oracle (when
  * SQL-expressible).
  */
object SparkEntry {

  private def catalog: Seq[Qry] = Seq(
    Relational.all, TimeSeries.all, Text.all, Embeddings.all, Streaming.all, Wire.all,
    MultimodalQ.all, Graph.all, Quality.all, Sketches.all, Statistics.all
  ).flatten

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    // toMap would silently drop a copy-pasted duplicate name, shrinking
    // the driver contract without error — fail loudly instead
    val names = catalog.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).distinct}")
    catalog.map(q => q.name -> q.fn).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries → rows-only check. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
