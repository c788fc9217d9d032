package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}
import graft.queries.{Sketches, Text}
import graft.sources.Tables

/** Pins for the sixty-third wave.
  *
  *  - q219 losslessness: the prefix filter (index only each doc's
  *    rarest n − ⌈n/2⌉ + 1 shingles) must return EXACTLY the pairs the
  *    brute-force inverted-index join finds at J ≥ 0.5 — that is the
  *    AllPairs theorem this query exists to exploit, and the oracle
  *    can't prove it (it re-derives the same prefix algebra). An
  *    off-by-one in the prefix bound (e.g. Spark's double `/` rounding
  *    the ceil) loses pairs silently — this spec is what catches it.
  *  - q220 sketch accuracy: HLL with 512 registers carries a ~4.6%
  *    relative-error expectation (1.04/√m). Pin a generous 3σ-ish
  *    bound on the corpus-wide row so a broken rho/index split (which
  *    still oracle-matches, because the oracle shares the arithmetic)
  *    can't masquerade as a working sketch.
  */
class SimJoinSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("q219: prefix filter is lossless vs brute-force join at t=0.5") {
    import spark.implicits._
    val got = Text.all.find(_.name == "q219_prefix_simjoin").get
      .fn(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

    val tok = Dedup.shingleHashes(
      Tables(spark, sf).documents, "doc_id", "text")
    val n = tok.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val a = tok.select($"doc_id".as("id_a"), $"h")
    val b = tok.select($"doc_id".as("id_b"), $"h")
    val brute = a.join(b, Seq("h"))
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("inter"))
      .join(n.select($"doc_id".as("id_a"), $"n".as("n_a")), "id_a")
      .join(n.select($"doc_id".as("id_b"), $"n".as("n_b")), "id_b")
      .filter(lit(2) * $"inter" >= $"n_a" + $"n_b" - $"inter")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

    assert(got == brute,
      s"prefix filter lost ${(brute -- got).size} pairs / " +
        s"invented ${(got -- brute).size} (brute=${brute.size})")
    assert(brute.nonEmpty, "fixture must contain J>=0.5 near-dup pairs")
  }

  test("q220: HLL estimate is within sketch error on the merged row") {
    val all = Sketches.all.find(_.name == "q220_hll_cardinality").get
      .fn(spark, sf).filter(col("source") === "ALL").head()
    val est = all.getAs[Long]("est_milli") / 1000.0
    val exact = all.getAs[Long]("exact")
    assert(exact > 1000L, "corpus-wide distinct shingles should be >1k")
    val relErr = math.abs(est - exact) / exact
    // 1.04/sqrt(512) = 4.6% expected; 15% = 3-sigma-ish guard band
    assert(relErr < 0.15,
      s"HLL relative error $relErr on n=$exact — rho/index split broken?")
  }
}
