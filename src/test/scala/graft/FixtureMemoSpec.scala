package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

import graft.operators.{QualityLr, Staging}
import graft.sources.Tables

/** Models the catalog derives from a fixture (trained weights,
  * centroids, rewritten copies), and the schema and scan width a fixture
  * load infers, are memoized per fixture STATE: a fixture rewritten in
  * place mid-session recomputes instead of serving the previous
  * fixture's model, schema or width. */
class FixtureMemoSpec extends SparkTestBase {

  private def weights(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("b").cast("long"), col("w_ppm").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  test("q350 retrains after documents.parquet is rewritten in place") {
    val dir = Files.createTempDirectory("graft_memo_")
    Files.list(Paths.get("/root/testdata/sf0.001")).forEach { p: Path =>
      Files.copy(p, dir.resolve(p.getFileName)); ()
    }
    val q350 = SparkEntry.queries("q350_quality_train")
    val before = weights(q350(spark, dir.toString))

    // overwrite the documents table with a filtered subset, in place
    val docs = dir.resolve("documents.parquet")
    val out = Files.createTempDirectory("graft_memo_docs_")
    spark.read.parquet(docs.toString).filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, docs, StandardCopyOption.REPLACE_EXISTING)

    val after = weights(q350(spark, dir.toString))
    val feat = QualityLr.features(Tables(spark, dir.toString).documents)
    val direct = weights(QualityLr.train(feat)
      .select(col("b"), col("w").as("w_ppm")))
    Staging.sweep(spark)
    assert(after != before, "the filtered corpus should train other weights")
    assert(after == direct)
  }

  // replace `target` (a single parquet file) with one written from `df`
  private def rewriteInPlace(df: DataFrame, target: Path): Unit = {
    val out = Files.createTempDirectory("graft_memo_out_")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeated orders load starts no Spark job") {
    val sc = spark.sparkContext
    Tables(spark, "/root/testdata/sf0.001").orders
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      val again = Tables(spark, "/root/testdata/sf0.001").orders
      assert(again.columns.contains("o_orderkey"))
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0)
  }

  test("a fixture rewritten in place with an added column shows it") {
    val dir = Files.createTempDirectory("graft_memo_schema_")
    val orders = dir.resolve("orders.parquet")
    Files.copy(Paths.get("/root/testdata/sf0.001/orders.parquet"), orders)
    val before = Tables(spark, dir.toString).orders
    assert(!before.columns.contains("o_extra"))
    rewriteInPlace(spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_extra", col("o_orderkey") * 2), orders)
    val after = Tables(spark, dir.toString).orders
    assert(after.columns.toSeq === before.columns.toSeq :+ "o_extra")
    assert(after.filter(col("o_extra") =!= col("o_orderkey") * 2).count()
      === 0L)
  }

  test("a file: URI fixture rewritten in place gets a new memo key") {
    // the scan-width memo used to take the file's mtime through
    // java.nio, which cannot read a URI: the key never changed, so a
    // table rewritten with more files kept its old one-file width
    val dir = Files.createTempDirectory("graft_memo_uri_")
    val uri = s"file:$dir"
    val path = s"$uri/orders.parquet"
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val target = spark.sparkContext.defaultParallelism
    def widened(df: DataFrame) = df.queryExecution.analyzed.exists {
      case _: Repartition => true
      case _ => false
    }
    src.coalesce(1).write.parquet(path)
    val key0 = Tables.fileState(spark, path)
    assert(key0.isDefined)
    assert(widened(Tables(spark, uri).orders), "one file is below the floor")
    src.repartition(2 * target).write.mode("overwrite").parquet(path)
    assert(Tables.fileState(spark, path) != key0)
    assert(!widened(Tables(spark, uri).orders),
      s"${2 * target} files already reach the floor")
  }
}
