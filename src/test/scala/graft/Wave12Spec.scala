package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Round-12 wave machinery, pinned beyond the oracle gate: the
  * chi-square tail on closed-form tables, the dual-key blocking recall
  * lemma as a ScalaCheck property, and the density tail's
  * core/border/noise semantics on a hand grid.
  */
class Wave12Spec extends SparkTestBase {
  import spark.implicits._

  private def check(p: Prop, tests: Int = 60): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(tests), p)
    assert(res.passed, res.status.toString)
  }

  test("chi-square tail: perfect 2x2 association in closed form") {
    // [[10, 0], [0, 10]]: chi2 = N = 20 (ppm 2e7), dof = 1, V^2 = 1
    val counts = Seq(("a", "x", 10L), ("b", "y", 10L))
      .toDF("source", "lang", "o")
    val out = graft.queries.Statistics.chiSquareTail(counts)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    assert(out.size === 4) // full grid incl. the two empty cells
    // every cell: e = 5 (ppm 5e6), contribution 5e6
    out.foreach { case (k, (o, ePpm, cell, tot, dof, v2)) =>
      assert(ePpm === 5000000L, s"$k e_ppm")
      assert(cell === 5000000L, s"$k cell")
      assert(tot === 20000000L); assert(dof === 1L)
      assert(v2 === 1000000L)
      assert(o === (if (k._1 == "a" && k._2 == "x" ||
        k._1 == "b" && k._2 == "y") 10L else 0L))
    }
  }

  test("chi-square tail: exact independence scores zero") {
    // o(i,j) = r_i * c_j / N exactly -> every cell contribution 0
    val counts = Seq(("a", "x", 4L), ("a", "y", 8L),
      ("b", "x", 2L), ("b", "y", 4L)).toDF("source", "lang", "o")
    val rows = graft.queries.Statistics.chiSquareTail(counts).collect()
    assert(rows.forall(_.getLong(4) === 0L)) // cell_chi2_ppm
    assert(rows.forall(_.getLong(5) === 0L)) // total
  }

  test("property: single deletion preserves prefix-4 or suffix-4") {
    // the q315 recall lemma: for |s| >= 9 and any deletion position,
    // at least one dual blocking key is unchanged
    val sGen = for {
      n <- Gen.choose(9, 30)
      cs <- Gen.listOfN(n, Gen.alphaLowerChar)
    } yield cs.mkString
    val g = for {
      s <- sGen
      p <- Gen.choose(0, 100)
    } yield (s, p % s.length)
    check(Prop.forAll(g) { case (s, p) =>
      val d = s.substring(0, p) + s.substring(p + 1)
      d.take(4) == s.take(4) || d.takeRight(4) == s.takeRight(4)
    })
  }

  test("density tail: two cores, border adoption, noise on a hand grid") {
    // core A at (0,0)..(0,1) [counts 40, 35]; core B at (10, 0) [50];
    // border at (1, 1) [5] adjacent to A; noise at (5, 5) [3]
    val cells = Seq((0L, 0L, 40L), (0L, 1L, 35L), (10L, 0L, 50L),
      (1L, 1L, 5L), (5L, 5L, 3L)).toDF("cx", "cy", "n")
    val out = graft.queries.Statistics.densityTail(cells)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
      .toMap
    val idA = 0L * 1000000L + 0L // min id of core component A
    val idB = 10L * 1000000L + 0L
    assert(out((0L, 0L)) === (0, Some(idA)))
    assert(out((0L, 1L)) === (0, Some(idA))) // same component as (0,0)
    assert(out((10L, 0L)) === (0, Some(idB))) // isolated core cell
    assert(out((1L, 1L)) === (1, Some(idA))) // border adopts A
    assert(out((5L, 5L)) === (2, None)) // noise
  }

  test("grid-LOF denominator semantics: neighbors of an empty ring") {
    // q326's left-join contract at the frame level: a cell with no
    // neighbors keeps nbr_cnt = 0 and a NULL score — exercised through
    // the same 9-offset contribution join the query uses
    val cells = Seq((0L, 0L, 10L), (100L, 100L, 7L)).toDF("cx", "cy", "n")
    val offsets8 = Seq(-1L, 0L, 1L)
      .flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy)))
      .filterNot(o => o._1 == 0L && o._2 == 0L).toDF("dx", "dy")
    val contrib = cells.crossJoin(broadcast(offsets8))
      .select(($"cx" + $"dx").as("nx"), ($"cy" + $"dy").as("ny"),
        $"n".as("cn"))
    val out = cells.join(contrib,
        $"cx" === $"nx" && $"cy" === $"ny", "left_outer")
      .groupBy($"cx", $"cy", $"n")
      .agg(count($"cn").as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out(0L) === 0L)
    assert(out(100L) === 0L)
  }
}
