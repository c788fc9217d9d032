package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{QualityLr, Staging}
import graft.sources.Tables

/** Models the catalog derives from a fixture (trained weights,
  * centroids, rewritten copies) are memoized per fixture STATE: a
  * fixture rewritten in place mid-session recomputes instead of serving
  * the previous fixture's model. */
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
}
