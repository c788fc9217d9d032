package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.operators.{NativeAsOf, PageRank, Scc, Staging}

/** Spark's generated-class cache is sized by the session conf
  * (GraftSession.CodegenCache) to hold a repeated loop pass, so the
  * second run of the same loop mix compiles nothing. */
class CodegenCacheSpec extends SparkTestBase {
  import spark.implicits._

  /** PageRank at a fixed round count, SCC, and a native as-of join. */
  private def loopMix(): Seq[Seq[Row]] = {
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 1L),
      (4L, 5L, 1L), (5L, 4L, 2L), (6L, 1L, 1L)).toDF("src", "dst", "w")
    val ranks = PageRank.run(edges, "src", "dst", "w", maxIterations = 4,
      tolPpm = -1L).orderBy("id").collect().toSeq
    val sccs = Scc.run(edges, "src", "dst").orderBy("id").collect().toSeq
    val left = Seq.tabulate(40)(i => (i % 3L, i * 7L % 50, i.toLong))
      .toDF("k", "t", "lv")
    val right = Seq.tabulate(30)(i => (i % 4L, i * 11L % 50, i * 0.5, i.toLong))
      .toDF("k", "t", "rv", "rid")
    val asof = NativeAsOf.backward(left, right, keys = Seq("k" -> "k"),
      leftTime = "t", rightTime = "t",
      carry = Seq("rv" -> "rv", "rid" -> "rid"), rightTieBreak = Seq("rid"))
      .orderBy("k", "t", "lv").collect().toSeq
    Staging.sweep(spark)
    Seq(ranks, sccs, asof)
  }

  test("a repeated loop mix over Spark's default cap compiles 0 classes") {
    // CodeGenerator sizes its cache from the active session's conf when
    // the object initializes, and the reflection below initializes it:
    // the session must exist first
    assert(spark.conf.get(GraftSession.CodegenCache._1) ==
      GraftSession.CodegenCache._2)
    // earlier suites in this JVM may have compiled some of the mix's
    // classes; start from an empty cache so the first run counts the
    // mix's whole working set
    val getCache = CodeGenerator.getClass.getDeclaredMethod("cache")
    getCache.setAccessible(true)
    val cache = getCache.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val c0 = Compiles.now()
    val first = loopMix()
    val c1 = Compiles.now()
    val second = loopMix()
    val c2 = Compiles.now()
    assert((c1 - c0).classes > 100,
      s"the mix must exceed Spark's default cap of 100: ${c1 - c0}")
    assert((c2 - c1).classes == 0, s"second run recompiled: ${c2 - c1}")
    assert(first == second)
  }

  test("confMismatches names each engine setting a conf holds differently") {
    val engine = new SparkConf(false).setAll(GraftSession.EngineConfs)
    assert(GraftSession.confMismatches(engine).isEmpty)
    val (cacheKey, cacheCap) = GraftSession.CodegenCache
    val (cfmKey, cfmClass) = GraftSession.CheckpointManager
    assert(GraftSession.confMismatches(engine.clone.set(cacheKey, "100")) ==
      Seq((cacheKey, cacheCap, "100")))
    assert(GraftSession.confMismatches(new SparkConf(false)) ==
      Seq((cfmKey, cfmClass, "unset"), (cacheKey, cacheCap, "unset")))
  }

  test("the test session carries the engine's settings") {
    assert(GraftSession.confMismatches(spark.sparkContext.getConf).isEmpty)
  }
}
