package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The loop skeleton shared by the iterated graph operators
  * (ConnectedComponents, Scc, PageRank, Coreness, HopDistance,
  * LabelProp, DagLevels).
  *
  * [[scope]] wraps a whole loop: it narrows `spark.sql.shuffle.partitions`
  * to the width of the loop's staged inputs, restores the session width
  * and releases those inputs on every exit path. [[iterate]] runs the
  * rounds: each round stages the caller's step eagerly and computes the
  * round's row count and measure in that same action
  * ([[Staging.stageMeasured]]: both are observed metrics of the job that
  * materializes the round's blocks, so a round is ONE SQL action and no
  * job re-reads the blocks; in reliable-checkpoint mode the round's plan
  * is computed once, by the checkpoint write). The staged round carries
  * its own row count as statistics, so the next round's joins plan from
  * its true size. The loop then releases the previous round and stops
  * on the caller's convergence test or at the round bound. A throw
  * anywhere in the loop releases the rounds it holds, so a failed loop
  * leaves no staged blocks pinned until the next sweep.
  */
object Fixpoint {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Run `body` with the shuffle width derived from `inputs`' staged
    * bytes ([[Staging.loopShufflePartitions]]; the session width, logged
    * as such, when none has measurable bytes). The session width is
    * restored and every input is released when `body` returns or throws,
    * so `body` must return a frame that no longer reads them (a staged
    * round). AQE stays at the session's setting. One line per loop logs
    * the width and the classes Janino compiled while the loop ran
    * ([[graft.Compiles]]). */
  def scope[T](op: String, inputs: DataFrame*)(body: => T): T = {
    val spark = inputs.head.sparkSession
    val prev = spark.conf.get(ShufflePartitions)
    val c0 = graft.Compiles.now()
    var width = "unset"
    try {
      val w = Staging.loopShufflePartitions(spark, inputs: _*)
      val bytes = Staging.stagedBytes(spark, inputs: _*)
      if (bytes == 0L)
        log.info(s"$op: no measurable staged bytes; using the session width $w")
      width = s"$w from $bytes staged bytes"
      spark.conf.set(ShufflePartitions, w.toString)
      body
    } finally {
      spark.conf.set(ShufflePartitions, prev)
      inputs.foreach(Staging.release)
      log.info(s"$op: loop width $width; ${graft.Compiles.now() - c0}")
    }
  }

  /** Convergence test for monotone loops: the first measured column
    * (an exact sum that moves every round until the fixed point) is
    * unchanged. */
  val unchanged: (Row, Row) => Boolean =
    (prev, next) => prev.get(0) == next.get(0)

  /** Iterate `step` from `init` to a fixed point.
    *
    * @param op        operator name, for logs and the failure message
    * @param knob      what to raise when the bound is hit
    * @param maxRounds round bound
    * @param init      round-0 plan; staged here
    * @param measure   aggregate columns computed over every staged round
    *                  (init included) by the action that stages it; may
    *                  be empty (the row count is always measured)
    * @param converged `(previous, next)` measures → done; `None` runs
    *                  exactly `maxRounds` rounds and never throws
    * @param step      `(current round, its measure, round index from 0)`
    *                  → next round's plan
    * @return the last round (staged and still pinned — the caller owns
    *         it) and its measure
    */
  def iterate(op: String, knob: String, maxRounds: Int, init: DataFrame,
      measure: Seq[Column], converged: Option[(Row, Row) => Boolean])(
      step: (DataFrame, Row, Int) => DataFrame): (DataFrame, Row) = {
    var cur: DataFrame = null
    var next: DataFrame = null
    var ok = false
    try {
      val (staged0, _, s0) = Staging.stageMeasured(init, measure)
      cur = staged0
      var s = s0
      var done = false
      var i = 0
      while (!done && i < maxRounds) {
        val t0 = System.nanoTime()
        val (staged, rows, sNext) =
          Staging.stageMeasured(step(cur, s, i), measure)
        next = staged
        Staging.release(cur)
        cur = next
        next = null
        done = converged.exists(_(s, sNext))
        s = sNext
        i += 1
        log.info(f"$op: round $i ${(System.nanoTime() - t0) / 1e9}%.2fs " +
          s"rows=$rows measure=$s${if (done) " (converged)" else ""}")
      }
      // silent truncation would return a non-fixed-point with no signal
      if (!done && converged.isDefined)
        throw new IllegalStateException(
          s"$op did not converge within $maxRounds rounds; raise $knob")
      ok = true
      (cur, s)
    } finally {
      if (!ok) {
        if (next != null) Staging.release(next)
        if (cur != null) Staging.release(cur)
      }
    }
  }
}
