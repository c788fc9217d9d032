package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests must not depend on session-global temp views). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // production sessions (GraftSession) load the extensions; specs for
      // the injected strategy/rules/functions need them here too
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.CheckpointManager._1, GraftSession.CheckpointManager._2)
      .config(GraftSession.CodegenCache._1, GraftSession.CodegenCache._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
