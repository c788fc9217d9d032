package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge

import graft.operators.{PageRank, Staging}

/** Convergence + conservation properties of the fixed-point PageRank
  * loop (operators.PageRank; q159 pins one step against the oracle).
  */
class PageRankSpec extends SparkTestBase {

  import spark.implicits._

  test("uniform cycle is a fixed point: every rank stays one uniform share") {
    // A→B→C→A, equal weights: the uniform vector is exactly stationary,
    // and the fixed-point arithmetic must reproduce it EXACTLY (base +
    // damping·Ppm/100 = Ppm with no floor loss at these values)
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val r = PageRank.run(edges, "src", "dst", "w").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.size == 3)
    assert(r.values.forall(_ == PageRank.Ppm), s"expected uniform: $r")
  }

  test("hub collects rank; dangling mass is redistributed, not leaked") {
    // a,c,d all point at b; b has no out-edges (dangling). Without
    // redistribution b's mass would vanish and total mass would decay
    // toward the teleport floor; with it, total stays ~N·Ppm (floor
    // division loses at most a few ppm per node per round).
    val edges = Seq(("a", "b", 1L), ("c", "b", 1L), ("d", "b", 1L))
      .toDF("src", "dst", "w")
    val out = PageRank.run(edges, "src", "dst", "w")
    val r = out.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("b") > r("a") && r("a") == r("c") && r("c") == r("d"),
      s"hub must outrank spokes symmetrically: $r")
    val total = r.values.sum
    val n = r.size
    assert(math.abs(total - n * PageRank.Ppm) <= n * 100L,
      s"mass not conserved: total=$total expected≈${n * PageRank.Ppm}")
  }

  test("weighted edges skew rank toward the heavier target") {
    // a splits 3:1 between b and c (both sinks feed back to a so the
    // chain recirculates instead of dangling-averaging out)
    // a↔{b,c} is near-bipartite: the -0.85 eigenmode decays as 0.85^k,
    // so 10 ppm needs ~70 rounds — the loud-failure default (30) is for
    // real graphs, not this adversarial toy
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L)).toDF("src", "dst", "w")
    val r = PageRank.run(edges, "src", "dst", "w",
      maxIterations = 120).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("b") > r("c"),
      s"3:1 weight split must rank b above c: $r")
  }

  test("non-convergence fails loudly instead of returning truncated ranks") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w")
    intercept[IllegalStateException] {
      // tol 0 on a graph whose fixed-point arithmetic oscillates ±1 ppm
      // can still converge; force failure with zero allowed iterations…
      PageRank.run(edges, "src", "dst", "w", maxIterations = 0, tolPpm = 0L)
    }
  }

  test("fixed-iteration mode (tolPpm<0): exactly R rounds, no convergence throw") {
    // a->b with b dangling: round 1 from uniform gives
    //   dangShare = Ppm/2 = 500000
    //   r(a) = 150000 + 85*(0 + 500000) DIV 100      = 575000
    //   r(b) = 150000 + 85*(1000000 + 500000) DIV 100 = 1425000
    // One round is NOT the fixed point, so tolPpm>=0 with
    // maxIterations=1 must throw; tolPpm=-1 must return the exact
    // round-1 vector instead - the mode q262's unrolled oracle needs.
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val r = PageRank.run(edges, "src", "dst", "w",
        maxIterations = 1, tolPpm = -1L)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 575000L, "b" -> 1425000L),
      s"round-1 vector wrong: $r")
    intercept[IllegalStateException] {
      PageRank.run(edges, "src", "dst", "w",
        maxIterations = 1, tolPpm = 10L)
    }
  }

  test("personalized: teleport and mass return to the seed (2-cycle)") {
    // a<->b, seed {a}, 2 fixed rounds — hand-derived integer states:
    // init: a=2e6, b=0; teleport(a) = 15*2*1e6/100 = 300000
    // r1: a = 300000 + 0; b = 85*2e6/100 = 1700000
    // r2: a = 300000 + 85*1700000/100 = 1745000; b = 85*300000/100 = 255000
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("sid")
    val r = graft.operators.PageRank.runPersonalized(
        edges, "src", "dst", "w", seeds, "sid", rounds = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1745000L, 2L -> 255000L), s"got $r")
  }

  test("personalized: dangling mass returns to the seeds, not uniform") {
    // seed a points at dangling sink b; b's mass must flow back to a
    // (uniform redistribution would leak half of it to b forever)
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("sid")
    val r = graft.operators.PageRank.runPersonalized(
        edges, "src", "dst", "w", seeds, "sid", rounds = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // round arithmetic: init a=2e6,b=0; teleport=3e5; dang(b)=r(b)
    // r1: dang=0;   a=3e5,            b=85*2e6/100=17e5
    // r2: dang=17e5; a=3e5+85*17e5/100=1745000, b=85*3e5/100=255000
    // r3: dang=255000; a=3e5+85*255000/100=516750, b=85*1745000/100=1483250
    assert(r == Map(1L -> 516750L, 2L -> 1483250L), s"got $r")
  }

  test("personalized: a seed set absent from the graph fails loudly") {
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(99L).toDF("sid")
    intercept[IllegalArgumentException] {
      graft.operators.PageRank.runPersonalized(
        edges, "src", "dst", "w", seeds, "sid", rounds = 1)
    }
  }

  // ---- equivalence against a pure-Scala reference on random graphs ----

  /** The operator's integer recurrence, node by node: floor
    * contributions `floor(r·w/tw)`, the dangling share of the previous
    * round, teleport, and (for PPR) seed mass. Node order does not
    * matter: every quantity is an exact integer. */
  private object Ref {
    private val Ppm = PageRank.Ppm

    def nodes(es: Seq[(Any, Any, Long)]): Seq[Any] =
      es.flatMap(e => Seq(e._1, e._2)).distinct

    private def inflow(es: Seq[(Any, Any, Long)], r: Map[Any, Long]) = {
      val tw = es.groupMapReduce(_._1)(_._3)(_ + _)
      es.groupMapReduce(_._2) { case (u, _, w) =>
        (r(u) / tw(u)) * w + ((r(u) % tw(u)) * w) / tw(u)
      }(_ + _).withDefaultValue(0L)
    }

    private def danglingMass(es: Seq[(Any, Any, Long)], r: Map[Any, Long]) = {
      val srcs = es.map(_._1).toSet
      r.collect { case (v, x) if !srcs(v) => x }.sum
    }

    /** `run`: None when a tolerance run does not converge in time. */
    def run(es: Seq[(Any, Any, Long)], d: Int, maxIt: Int,
        tol: Long): Option[Map[Any, Long]] = {
      val ns = nodes(es)
      val n = ns.size.toLong
      val base = (100L - d) * Ppm / 100L
      var r: Map[Any, Long] = ns.map(_ -> Ppm).toMap
      var i = 0
      var done = false
      while (!done && i < maxIt) {
        val dangShare = danglingMass(es, r) / n
        val in = inflow(es, r)
        val next = ns.map(v => v -> (base + d * (in(v) + dangShare) / 100))
          .toMap
        done = tol >= 0 && ns.map(v => math.abs(next(v) - r(v))).max <= tol
        r = next
        i += 1
      }
      if (tol >= 0 && !done) None else Some(r)
    }

    def personalized(es: Seq[(Any, Any, Long)], seeds: Seq[Any], d: Int,
        rounds: Int): Map[Any, Long] = {
      val ns = nodes(es)
      val n = ns.size.toLong
      val s = seeds.toSet.intersect(ns.toSet)
      val sCnt = s.size.toLong
      val teleport = (100L - d) * n * Ppm / (100L * sCnt)
      var r: Map[Any, Long] =
        ns.map(v => v -> (if (s(v)) n * Ppm / sCnt else 0L)).toMap
      for (_ <- 1 to rounds) {
        val dangSeedShare = danglingMass(es, r) / sCnt
        val in = inflow(es, r)
        r = ns.map { v =>
          val seed = s(v)
          v -> ((if (seed) teleport else 0L) +
            d * (in(v) + (if (seed) dangSeedShare else 0L)) / 100)
        }.toMap
      }
      r
    }
  }

  /** A seeded graph with dangling nodes (never a source), unreferenced
    * nodes (never a target), duplicate edges and the odd self-loop; ids
    * are strings or longs. */
  private def randomGraph(seed: Int): Seq[(Any, Any, Long)] = {
    val rnd = new scala.util.Random(seed)
    val k = 4 + rnd.nextInt(12)
    val ids: IndexedSeq[Any] =
      if (seed % 2 == 0) (0 until k).map(i => s"n$i")
      else (0 until k).map(i => i * 7L + 3L)
    val sinks = ids.take(1 + rnd.nextInt(2)).toSet
    val sources = ids.slice(sinks.size, sinks.size + 1 + rnd.nextInt(2)).toSet
    val froms = ids.filterNot(sinks)
    val tos = ids.filterNot(sources)
    val es = Seq.fill(k + rnd.nextInt(2 * k)) {
      (froms(rnd.nextInt(froms.size)), tos(rnd.nextInt(tos.size)),
        1L + rnd.nextInt(5))
    }
    es ++ Seq.fill(1 + rnd.nextInt(3))(es(rnd.nextInt(es.size)))
  }

  private def frame(es: Seq[(Any, Any, Long)]) =
    if (es.head._1.isInstanceOf[String])
      es.map(e => (e._1.asInstanceOf[String], e._2.asInstanceOf[String], e._3))
        .toDF("src", "dst", "w")
    else
      es.map(e => (e._1.asInstanceOf[Long], e._2.asInstanceOf[Long], e._3))
        .toDF("src", "dst", "w")

  private def ranks(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(x => x.get(0) -> x.getLong(1)).toMap[Any, Long]

  test("run and runPersonalized equal the integer reference on 20 seeded graphs") {
    for (seed <- 1 to 20) {
      val es = randomGraph(seed)
      val df = frame(es)
      val d = Seq(85, 70, 50)(seed % 3)
      val rounds = 1 + seed % 4
      assert(ranks(PageRank.run(df, "src", "dst", "w", dampingPct = d,
          maxIterations = rounds, tolPpm = -1L)) ==
        Ref.run(es, d, rounds, -1L).get, s"fixed rounds, seed $seed")
      val tol = 2000L
      Ref.run(es, d, 20, tol) match {
        case Some(want) =>
          assert(ranks(PageRank.run(df, "src", "dst", "w", dampingPct = d,
            maxIterations = 20, tolPpm = tol)) == want, s"tolerance, seed $seed")
        case None =>
          intercept[IllegalStateException] {
            PageRank.run(df, "src", "dst", "w", dampingPct = d,
              maxIterations = 20, tolPpm = tol)
          }
      }
      // seeds: a random subset of the graph's nodes, one repeated, plus
      // one id the graph does not hold (ignored)
      val ns = Ref.nodes(es)
      val rnd = new scala.util.Random(seed * 31)
      val picked = rnd.shuffle(ns).take(1 + rnd.nextInt(3))
      val seeds = picked :+ picked.head :+ (es.head._1 match {
        case _: String => "absent"
        case _ => -1L
      })
      val seedDf = seeds.head match {
        case _: String => seeds.map(_.asInstanceOf[String]).toDF("sid")
        case _ => seeds.map(_.asInstanceOf[Long]).toDF("sid")
      }
      assert(ranks(PageRank.runPersonalized(df, "src", "dst", "w", seedDf,
          "sid", rounds = rounds, dampingPct = d)) ==
        Ref.personalized(es, seeds, d, rounds), s"personalized, seed $seed")
      Staging.sweep(spark)
    }
  }

  test("one more fixed round costs at most 3 Spark jobs") {
    val edges = frame(randomGraph(7))
    val sc = spark.sparkContext
    def jobs(rounds: Int): Int = {
      val n = new AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      GraftSqlBridge.drainListenerBus(spark)
      sc.addSparkListener(listener)
      try {
        PageRank.run(edges, "src", "dst", "w", maxIterations = rounds,
          tolPpm = -1L).collect()
        GraftSqlBridge.drainListenerBus(spark)
      } finally sc.removeSparkListener(listener)
      Staging.sweep(spark)
      n.get
    }
    jobs(2) // warm: plans and classes the counted runs share
    val (r2, r3) = (jobs(2), jobs(3))
    info(s"2 rounds ran $r2 jobs, 3 rounds ran $r3")
    assert(r3 - r2 <= 3, s"2 rounds ran $r2 jobs, 3 rounds ran $r3")
  }
}
