package graft

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.operators.Bpe

/** Iterated BPE training against an INDEPENDENT sequential reference
  * implementation (plain Scala maps, no Spark) on the classic
  * low/lower/newest/widest corpus — the distributed fold must reproduce
  * the exact merge sequence, counts included. Also pins consistency
  * with q162 (round 1 of the loop == the single-step query's top pair)
  * and the greedy non-overlap rule on degenerate repeats.
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  /** Sequential reference BPE: count per-position adjacent pairs over
    * the word-frequency table, take (count DESC, pair ASC), apply
    * greedy left-to-right, repeat. */
  private def refBpe(words: Map[String, Long],
      n: Int): Seq[(String, String, Long)] = {
    var tbl: Map[Vector[String], Long] =
      words.groupMapReduce { case (w, _) => w.split("").toVector }(_._2)(_ + _)
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var continue = true
    while (out.size < n && continue) {
      val counts = mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- tbl; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) continue = false
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), m) => (-m, x, y) }
        out += ((a, b, c))
        tbl = tbl.groupMapReduce { case (syms, _) =>
          val res = mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              res += a + b; i += 2
            } else { res += syms(i); i += 1 }
          }
          res.toVector
        }(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  private def corpusDf(words: Map[String, Long]) =
    words.toSeq.flatMap { case (w, f) =>
      Seq.fill(f.toInt)(w)
    }.grouped(4).map(_.mkString(" ")).toSeq.toDF("text")

  test("distributed merges == sequential reference on the classic corpus") {
    // Sennrich et al.'s running example shape
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L)
    val expected = refBpe(words, 6)
    val got = Bpe.trainMerges(corpusDf(words), "text", 6)
      .map(m => (m.left, m.right, m.n_occ))
    assert(got == expected, s"expected $expected, got $got")
  }

  test("greedy non-overlap: 'aaaa' yields (aa,aa), not three overlaps") {
    val df = Seq("aaaa").toDF("text")
    val ms = Bpe.trainMerges(df, "text", 2)
    // round 1: (a,a) occurs at 3 positions → n_occ 3; applied greedily
    // left-to-right "aaaa" → [aa, aa]; round 2 merges (aa, aa) once
    assert(ms.map(m => (m.left, m.right, m.n_occ)) ==
      Seq(("a", "a", 3L), ("aa", "aa", 1L)))
  }

  test("stops early when the corpus runs out of pairs") {
    val df = Seq("a b c a b").toDF("text") // single-char words only
    assert(Bpe.trainMerges(df, "text", 5).isEmpty)
  }

  test("encodeWord == sequential reference on chains, runs and non-matches") {
    // sequential reference: rank-ordered merges, each one greedy
    // left-to-right pass (the exact contract of Bpe.applyMerge)
    def refEncode(w: String,
        merges: Seq[(String, String)]): Vector[String] =
      merges.foldLeft(w.split("").filter(_.nonEmpty).toVector) {
        case (syms, (a, b)) =>
          val res = mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              res += a + b; i += 2
            } else { res += syms(i); i += 1 }
          }
          res.toVector
      }
    val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
      "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")
    // chains (t+h then th+e), adjacent runs (boundary-sharing repeats),
    // later-merge shadowing (er consumed before re can fire), singles
    val words = Seq("the", "then", "and", "under", "rere", "ananan",
      "inin", "thethe", "android", "xyz", "a", "anthem")
    val got = words.toDF("w")
      .select(col("w"), Bpe.encodeWord(col("w"), merges).as("e"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector)
      .toMap
    words.foreach { w =>
      assert(got(w) == refEncode(w, merges),
        s"'$w': got ${got(w)}, ref ${refEncode(w, merges)}")
    }
    // spot-pin the interesting ones so the reference itself is audited
    assert(got("the") == Vector("the"))
    assert(got("ananan") == Vector("an", "an", "an"))
    assert(got("rere") == Vector("r", "er", "e")) // er fires first
    assert(got("android") == Vector("and", "r", "o", "i", "d"))

    // encodeWord is exact for SELF-PAIR merges too — greedy pairs
    // (1,2)(3,4), leaving the tail symbol. (The q182 ORACLE's
    // fixpoint-replace formulation is NOT — which is why the catalog
    // artifact requires left != right; see q182.)
    val self = Seq("aaaaa").toDF("w")
      .select(Bpe.encodeWord(col("w"), Seq("a" -> "a")).as("e"))
      .collect().head.getSeq[String](0).toVector
    assert(self == Vector("aa", "aa", "a"), s"got $self")
  }

  test("round 1 equals q162's top single-step merge on the fixture") {
    val q162 = SparkEntry.queries("q162_bpe_merge")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .minBy(_._1)
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001").documents
    val m1 = Bpe.trainMerges(docs, "text", 1).head
    assert((m1.left + m1.right, m1.n_occ) == ((q162._2, q162._3)),
      s"loop round 1 ${m1} vs q162 top $q162")
  }
}
