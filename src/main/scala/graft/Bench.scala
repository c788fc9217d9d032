package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Prior per-query seconds (decimal query number -> s) — the
    * reference the spike-shaped "rem" re-measure below compares
    * against. Regenerated in round 14 from BENCH_r14_quiet.json
    * (= the r13 artifact's thirty-three runs — incl. the round-13
    * DRIVER run, the first sv=quiet window since round 10 — plus two
    * round-14 catalog-368 full runs folded normally: one sv=elevated,
    * two sv=QUIET (0.6 and 0.8 ticks/s, the catalog-369 run adding q369) that min-folded the round-14 wave's
    * entries (q363's 2.1 floor is its memo-hit steady state from the
    * quiet run's rem re-measure; the 18.8 at-position cell was its
    * one-time target-SF training); the artifact's rem_floor_qs field
    * tags entries whose floor came from a rem/z95 re-measure rather
    * than a full-run cell).
    * The round-11 additions q287-q305 are evidenced by those six
    * runs only — elevated/storm windows, upper bounds until a quiet
    * run min-folds them; the storm run still REMEASURED two round-11
    * fixes in-table (q294 34.6 -> 6.4 s after the pre-explode
    * repartition, q293 9.0 -> 6.4 s after staging the pair join once).
    * History of the folded prior runs, r10 and earlier: the
    * seven round-9 same-HEAD-family full sf0.1 runs plus two round-10
    * runs at catalogs 258 and 259 (each run carrying its own sorted
    * name list for positional qt decode, so catalog growth between
    * runs decodes correctly), each rem/z95-corrected by its own
    * artifact, then the per-query MIN across runs — the cross-run
    * form of the in-artifact spike refutation, chosen because every
    * run measured bursty hypervisor steal (st blocks up to
    * [56778/680] ~= 83 stolen cores); a single-run table would
    * enshrine whichever storm hit that run. Round 10's runs
    * self-reported sv=storm (~80 ticks/s, folded --min-only via
    * tools/fold_bench.py) and sv=elevated (~14 ticks/s); the
    * catalog-261 run was likewise sv=storm (--min-only). The
    * catalog-267 run finally landed QUIET (sv=quiet, ~1.7 ticks/s
    * whole-window) and was folded normally — it lowered dozens of
    * storm-inflated entries (q219 6.0->4.1, q103 4.4->3.6), so the
    * table carries near-zero-steal evidence for the whole catalog
    * except the round-10 additions measured only after it: the
    * catalog-273 run (sv=storm ~59 ticks/s, --min-only), the
    * catalog-277 run (sv=elevated ~14 ticks/s, folded normally), the
    * catalog-283 run (sv=storm by burst spans, --min-only) and two
    * catalog-286 runs (sv=elevated; the second near-quiet at
    * ~3 ticks/s whole-window) are the only evidence for q268-q286,
    * upper bounds until a quieter run min-folds them. The near-quiet
    * catalog-286 run confirmed q284's single-digest rework in-table
    * (8.5 -> 2.6 s). PriorTableSpec pins every entry to the
    * checked-in artifact so the table cannot silently go stale.
    *
    * REGENERATION POLICY (r10, from the r9 verdict): every run now
    * carries its own steal verdict ("sv": quiet/elevated/storm over the
    * whole window) and per-query burst spans ("stb", positions in qt
    * order whose measurement window exceeded 10 ticks/s). A prior-table
    * update must NOT take a "storm" run's at-position times as-is —
    * fold storm runs only through the per-query MIN against quieter
    * runs, and treat any entry whose every contributing run flags its
    * position in "stb" as an upper bound.
    */
  private[graft] val priorDriverSec: Map[Int, Double] = Map(
    1 -> 1, 2 -> 0.2, 3 -> 1, 4 -> 1.3, 5 -> 0.4, 6 -> 0.3, 7 -> 0.4,
    8 -> 0.6, 9 -> 0.4, 10 -> 0.5, 11 -> 0.5, 12 -> 0.8, 13 -> 0.4,
    14 -> 0.5, 15 -> 0.4, 16 -> 0.6, 17 -> 0.5, 18 -> 0.2, 19 -> 0.5,
    20 -> 1.6, 21 -> 0.5, 22 -> 0.3, 23 -> 0.7, 24 -> 0.3, 25 -> 0.6,
    26 -> 1.2, 27 -> 0.5, 28 -> 0.5, 29 -> 0.8, 30 -> 0.7, 31 -> 0.5,
    32 -> 0.3, 33 -> 0.4, 34 -> 0.3, 35 -> 0.3, 36 -> 2.1, 37 -> 0.9,
    38 -> 1.7, 39 -> 0.4, 40 -> 0.2, 41 -> 0.4, 42 -> 0.5, 43 -> 0.4,
    44 -> 1, 45 -> 1.6, 46 -> 0.8, 47 -> 1.1, 48 -> 0.1, 49 -> 0.1,
    50 -> 1.1, 51 -> 0.7, 52 -> 1.3, 53 -> 0.6, 54 -> 0.2, 55 -> 1,
    56 -> 0.1, 57 -> 0.6, 58 -> 0.6, 59 -> 0.8, 60 -> 0.1, 61 -> 0.6,
    62 -> 1, 63 -> 0.7, 64 -> 1.3, 65 -> 0.6, 66 -> 2.2, 67 -> 0.4,
    68 -> 0.1, 69 -> 1.4, 70 -> 0.1, 71 -> 0.5, 72 -> 0.5, 73 -> 0.6,
    74 -> 2.8, 75 -> 0.1, 76 -> 0.2, 77 -> 1.1, 78 -> 0.3, 79 -> 2.2,
    80 -> 0.5, 81 -> 1, 82 -> 0.5, 83 -> 0.5, 84 -> 0.7, 85 -> 0.6,
    86 -> 0.6, 87 -> 1.1, 88 -> 2, 89 -> 0.6, 90 -> 0.4, 91 -> 1,
    92 -> 0.8, 93 -> 0.4, 94 -> 1.1, 95 -> 2.3, 96 -> 0.7, 97 -> 0.9,
    98 -> 0.7, 99 -> 1, 100 -> 0.3, 101 -> 0.6, 102 -> 0.6, 103 -> 3.3,
    104 -> 0.9, 105 -> 0.6, 106 -> 0.4, 107 -> 0.7, 108 -> 0.3, 109 -> 1,
    110 -> 0.6, 111 -> 1.2, 112 -> 0.6, 113 -> 0.6, 114 -> 1, 115 -> 0.6,
    116 -> 0.3, 117 -> 1.1, 118 -> 0.6, 119 -> 0.9, 120 -> 0.6, 121 -> 0.6,
    122 -> 3, 123 -> 0.5, 124 -> 0.7, 125 -> 0.9, 126 -> 0.3, 127 -> 0.4,
    128 -> 0.3, 129 -> 0.4, 130 -> 1.1, 131 -> 0.4, 132 -> 0.4, 133 -> 1.8,
    134 -> 1.3, 135 -> 0.7, 136 -> 0.6, 137 -> 0.6, 138 -> 1.5, 139 -> 0.7,
    140 -> 1, 141 -> 0.6, 142 -> 0.6, 143 -> 2.6, 144 -> 0.9, 145 -> 0.6,
    146 -> 2.3, 147 -> 1.4, 148 -> 0.6, 149 -> 1.6, 150 -> 0.3, 151 -> 0.2,
    152 -> 0.7, 153 -> 0.4, 154 -> 0.3, 155 -> 0.1, 156 -> 0.8, 157 -> 1,
    158 -> 1.5, 159 -> 1.7, 160 -> 0.2, 161 -> 1.9, 162 -> 0.6, 163 -> 0.8,
    164 -> 0.8, 165 -> 0.4, 166 -> 0.4, 167 -> 0.5, 168 -> 1.1, 169 -> 1.2,
    170 -> 0.8, 171 -> 0.5, 172 -> 0.6, 173 -> 1.5, 174 -> 2.4, 175 -> 0.8,
    176 -> 0.5, 177 -> 0.2, 178 -> 2.1, 179 -> 2.5, 180 -> 1.2, 181 -> 0.2,
    182 -> 0.9, 183 -> 0.7, 184 -> 0.6, 185 -> 0.2, 186 -> 0.2, 187 -> 1.5,
    188 -> 0.4, 189 -> 0.2, 190 -> 0.1, 191 -> 0.2, 192 -> 0.4, 193 -> 0.8,
    194 -> 1.7, 195 -> 0.2, 196 -> 0.8, 197 -> 0.2, 198 -> 0.2, 199 -> 0.5,
    200 -> 0.2, 201 -> 0.2, 202 -> 0.2, 203 -> 0.2, 204 -> 0.3, 205 -> 0.5,
    206 -> 1, 207 -> 0.2, 208 -> 0.2, 209 -> 0.1, 210 -> 0.3, 211 -> 1.5,
    212 -> 0.4, 213 -> 0.4, 214 -> 0.1, 215 -> 0.3, 216 -> 0.6, 217 -> 0.2,
    218 -> 2.6, 219 -> 4.1, 220 -> 1.4, 221 -> 2.3, 222 -> 3.4, 223 -> 0.6,
    224 -> 2.2, 225 -> 0.2, 226 -> 0.6, 227 -> 1.9, 228 -> 0.2, 229 -> 0.5,
    230 -> 0.4, 231 -> 0.1, 232 -> 0.3, 233 -> 0.3, 234 -> 1.3, 235 -> 0.2,
    236 -> 0.7, 237 -> 0.4, 238 -> 0.8, 239 -> 1, 240 -> 0.8, 241 -> 1.2,
    242 -> 1, 243 -> 0.2, 244 -> 1.3, 245 -> 0.6, 246 -> 0.7, 247 -> 2.2,
    248 -> 1.6, 249 -> 0.8, 250 -> 0.7, 251 -> 0.8, 252 -> 0.6, 253 -> 1.2,
    254 -> 2.2, 255 -> 2.9, 256 -> 0.2, 257 -> 1, 258 -> 2, 259 -> 0.2,
    260 -> 0.9, 261 -> 1, 262 -> 5.2, 263 -> 3.1, 264 -> 0.8, 265 -> 0.8,
    266 -> 1.5, 267 -> 1, 268 -> 0.6, 269 -> 2.3, 270 -> 1.3, 271 -> 0.7,
    272 -> 1.4, 273 -> 0.2, 274 -> 0.9, 275 -> 2.2, 276 -> 1.9, 277 -> 1.3,
    278 -> 1.6, 279 -> 1.6, 280 -> 3.1, 281 -> 0.5, 282 -> 0.7, 283 -> 1.1,
    284 -> 2, 285 -> 2, 286 -> 3.9, 287 -> 2.6, 288 -> 5.3, 289 -> 4.8,
    290 -> 1.1, 291 -> 1.1, 292 -> 3.4, 293 -> 4.1, 294 -> 6, 295 -> 0.9,
    296 -> 0.8, 297 -> 2.5, 298 -> 1.1, 299 -> 1.6, 300 -> 0.4, 301 -> 2.3,
    302 -> 0.6, 303 -> 0.8, 304 -> 2.5, 305 -> 5, 306 -> 0.5, 307 -> 4.1,
    308 -> 2.8, 309 -> 3.5, 310 -> 5.5, 311 -> 5.2, 312 -> 3, 313 -> 0.7,
    314 -> 0.8, 315 -> 1.9, 316 -> 3.7, 317 -> 2.1, 318 -> 0.8, 319 -> 2.6,
    320 -> 1.1, 321 -> 1.7, 322 -> 0.8, 323 -> 0.6, 324 -> 0.4, 325 -> 2.5,
    326 -> 0.9, 327 -> 0.5, 328 -> 6.2, 329 -> 1.1, 330 -> 1.9, 331 -> 0.9,
    332 -> 1.1, 333 -> 0.8, 334 -> 0.7, 335 -> 0.4, 336 -> 0.9, 337 -> 0.6,
    338 -> 2.1, 339 -> 0.7, 340 -> 1.1, 341 -> 0.8, 342 -> 1.5, 343 -> 2.7,
    344 -> 3.1, 345 -> 4, 346 -> 1.2, 347 -> 1.5, 348 -> 0.9, 349 -> 5.7,
    350 -> 1, 351 -> 1.6, 352 -> 3.1, 353 -> 3.7, 354 -> 2.1, 355 -> 1.2,
    356 -> 3.9, 357 -> 9.9, 358 -> 7.4, 359 -> 3.2, 360 -> 5.6, 361 -> 3.8,
    362 -> 6.3, 363 -> 2.1, 364 -> 3.5, 365 -> 12, 366 -> 4.8, 367 -> 13.2,
    368 -> 7.5, 369 -> 19.5)



  /** (cumulative hypervisor-steal ticks, uptime seconds) from /proc —
    * sampled at bench start and end so the emitted delta localizes VM
    * descheduling to THIS bench window (the r6 verdict's ask: the 4-round
    * ingest slide needs the artifact itself to name or exonerate steal).
    * (-1, -1) when /proc is unreadable (non-Linux dev machine). */
  private def stealUptime(): (Long, Double) = try {
    val cpu = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
      finally src.close()
    }
    val up = {
      val src = scala.io.Source.fromFile("/proc/uptime")
      try src.mkString.trim.split("\\s+")(0).toDouble
      finally src.close()
    }
    (cpu(8).toLong, up)
  } catch { case _: Throwable => (-1L, -1.0) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    val st0 = stealUptime()
    // a duplicate qN prefix would produce duplicate-keyed JSON below and
    // one timing would silently shadow the other — fail loudly BEFORE the
    // (long) measurement loop, not after it has burned the full run
    require(SparkEntry.queries.keys
      .map(_.takeWhile(_ != '_')).toSeq.distinct.size ==
      SparkEntry.queries.size,
      "duplicate query number prefix in SparkEntry.queries")
    // absorb JVM/codegen/session warmup so per-query numbers are
    // steady-state; run in sorted order so rounds are comparable.
    // The parquet read + noop write warms the Hadoop FS / parquet-reader
    // / datasource-writer init paths that the alphabetically-first
    // catalog query was otherwise billed for (~2 s on its own).
    spark.range(2000000L).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // JMH-style warmup ITERATION: run the whole catalog once against the
    // smallest fixture before timing anything. Whole-stage-codegen JIT for
    // each pipeline family otherwise lands on its lexicographically FIRST
    // member at the target SF (measured: q103 carries the tokenize→shingle
    // chain's ~3-5 s, q122 the CC loop's — both read 2-3x their
    // steady-state cost in rounds 3-4 benches). The tiny-SF pass warms the
    // JIT and the reader/writer paths the timed loop runs. It warms
    // Spark's generated-class cache only up to its cap
    // (GraftSession.CodegenCache, LRU): one catalog pass generates about
    // 6,800 distinct classes (sf0.01), so only the last ~1,000 the pass
    // compiles survive into the timed loop. Failures are ignored (the timed
    // loop, not warmup, is the record of what runs); staged blocks are
    // swept per query exactly as in the timed loop. Skippable for local
    // iteration via SPARK_GRAFT_WARM=0; the driver keeps the default ON.
    if (sys.env.getOrElse("SPARK_GRAFT_WARM", "1") != "0") {
      val warmDir = new java.io.File(sfDir).getParentFile match {
        case null => None
        case p =>
          val d = new java.io.File(p, "sf0.001")
          if (d.isDirectory && d.getPath != new java.io.File(sfDir).getPath)
            Some(d.getPath)
          else None
      }
      warmDir.foreach { wd =>
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
          try fn(spark, wd).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
          graft.operators.Staging.sweep(spark)
        }
      }
      // Target-SF fixture warm: one full scan pass per table. The tiny-SF
      // catalog pass above warms CODE (codegen caches); it cannot warm the
      // target fixtures' page cache or the reader's large-batch paths, so
      // the first heavy query at the target SF paid a measured ~1.5-2 s
      // one-time cost (round-6 A/B: q122 alone-FIRST 4.9-5.8 vs 4.0-4.3
      // at position ~30). A noop pass over every table (~17 MB at sf0.1)
      // moves that cost out of the first timed query.
      graft.sources.Tables.names.foreach { n =>
        try spark.read.parquet(s"$sfDir/$n.parquet")
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }
    // dev-only subset filter (comma-separated qN prefixes): lets a single
    // query be measured under EXACT bench methodology — fresh session,
    // sorted order, per-query sweep — which the Explain harness cannot do
    // (it never sweeps, and its rows= count re-executes the pipeline, so
    // staged blocks pile up and "warm" runs read slower). Unset = full
    // catalog; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (name, _) =>
        only.forall(_.contains(name.takeWhile(_ != '_')))
    }
    // streaming ingest throughput (the reference's headline metric:
    // msgs/sec through the buffer — here rows/sec through a full
    // file-stream -> keyed-aggregation -> sink micro-batch pipeline).
    def ingestOnce(): Double = {
      val src = graft.streaming.Streams.fileStream(spark, sfDir, "events")
      val t0 = System.nanoTime()
      val agg = src.groupBy(org.apache.spark.sql.functions.col("event_type"))
        .count()
      val n = graft.streaming.Streams.runToMemory(agg, "complete")
        .agg(org.apache.spark.sql.functions.sum("count")).head().getLong(0)
      n / ((System.nanoTime() - t0) / 1e9)
    }
    // SESSION-START ingest sample ("ing0"): the r3->r6 driver artifacts
    // showed a monotone 135k->105k->70k->26k rows/s slide with the r6
    // spread TIGHT ([24,26,28]) — consistently slow for the whole
    // end-of-session window, which a transient stall does not explain.
    // One sample BEFORE the query sweep + the existing end-of-session
    // triple makes the artifact self-localizing: start ~= end names the
    // VM/scheduler, start >> end names session state accumulated by the
    // 185-query sweep. The first (unrecorded) run absorbs the streaming
    // path's one-time init — the end-of-session triple's first run paid
    // that cost inside ITS window in every prior round, but here it
    // would masquerade as "session state".
    val ing0 = try { ingestOnce(); ingestOnce() }
    catch { case t: Throwable =>
      System.err.println(s"[bench] ing0 probe failed: $t"); -1.0 }
    // per-query steal sampling (two tiny /proc reads per query): the
    // r9 storms showed up as one contiguous alphabetical block of
    // "regressions" that every judge had to exonerate by hand — the
    // artifact now annotates burst-window positions itself ("stb")
    var stPrev = stealUptime()
    val timed = selected.map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink, not count(): count() lets Catalyst prune the very
        // expressions being measured (projections, windows, string
        // functions all fold away when only the row count is consumed)
        val ok = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // release the query's staged blocks (dedup/CC intermediates):
        // left pinned, dozens of staged RDDs accumulate in the block
        // manager over the 146-query session and every later query pays
        // for them (round-3 judge measured a broad ~1.6x inflation)
        graft.operators.Staging.sweep(spark)
        val stNow = stealUptime()
        val stealRate =
          if (stPrev._1 < 0 || stNow._1 < 0 || stNow._2 - stPrev._2 <= 0)
            -1.0
          else (stNow._1 - stPrev._1) / (stNow._2 - stPrev._2)
        stPrev = stNow
        // failures are recorded as -1, not as a bogus time-to-failure
        (name, if (ok) dt else -1.0, stealRate)
    }
    val results = timed.map { case (name, v, _) => name -> v }
    // Keep the JSON line COMPACT: the driver's log capture keeps only the
    // tail of stdout (~2 KB), and sbt appends a [success] line after us —
    // a 5 KB line gets truncated mid-JSON and the driver records
    // parsed:null (observed in rounds 1, 2 AND 4). Query keys are the
    // catalog number in BASE-36 lowercase ("a"=q10, "2s"=q100, "55"=q185
    // — round-5 verdict's proposed compression: 3-digit decimal keys cost
    // the line ~1 B/query once the catalog passed 100, and the 185-query
    // decimal line had outgrown the window's headroom). Base-36 keys can
    // be digits-only ("10" = q36), so the encoding is declared explicitly
    // by the "kb":36 field rather than sniffed from key shape —
    // tools/bench_compare.py normalizes both generations off that flag.
    // 1-dp per-query times with trailing ".0" stripped, as before.
    def b36(name: String): String = java.lang.Long.toString(
      name.takeWhile(_ != '_').stripPrefix("q").toLong, 36)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def f1(v: Double): String = {
      val r = math.rint(v * 10) / 10
      if (r == math.rint(r)) r.toLong.toString else r.toString
    }
    // Per-query times (and the rem/z95 re-measures, which must stay
    // comparable to them) are integer DECISECONDS, declared by "qd":10 —
    // divide by 10 for seconds. Like "kb", the scale is DECLARED, never
    // sniffed; tools/bench_compare.py normalizes all generations off
    // the kb/qd/qe flags. The headline "value" total stays in seconds.
    // Failures remain -1 sentinels.
    def ds(v: Double): String = math.rint(v * 10).toLong.toString
    // SCHEMA v4 (round 8): the full per-query vector moves from a keyed
    // dict to "qt" — one fixed-width-2 base-36 value per query (capped
    // at zz = 129.5 s; "--" = failure), POSITIONAL in sorted-query-name
    // order (the exact order of the timed loop above; recoverable from
    // the repo's catalog or any CORRECTNESS artifact's query list, and
    // implemented in tools/bench_compare.py). Rationale: the keyed dict
    // cost ~8 B/query and outgrew the driver's ~2 KB stdout-tail window
    // at 205 queries (the CatalogInvariantSpec budget guard caught it
    // at test time, as designed — its round-7 predecessor caught the
    // 1-dp form at 188); 2 B/query buys headroom for a 700+-query
    // catalog. "queries" remains for consumers expecting keyed entries,
    // but carries only the TOP-12 SLOWEST (declared by "qtop":12) —
    // the entries anyone reads individually; "qn" pins the vector
    // length so truncation is detectable.
    def enc2(v: Double): String =
      if (v < 0) "--"
      else {
        val d = math.min(math.rint(v * 10).toLong, 1295L)
        val s = java.lang.Long.toString(d, 36)
        if (s.length < 2) "0" + s else s
      }
    val qt = results.map { case (_, v) => enc2(v) }.mkString
    val qs = results.filter(_._2 >= 0).sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + b36(k) + "\":" + ds(v) }
      .mkString("{", ",", "}")
    // failures (-1 sentinels) are excluded — summing them would make a
    // failing round report a BETTER total than a clean one
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // END-OF-SESSION ingest triple, emitted [min, median, max]: a single
    // run can't distinguish variance from regression; the spread plus
    // the session-start "ing0" sample above make the slide question
    // self-evidencing (see ing0 comment).
    val ingestRuns = (1 to 3).map { _ =>
      try ingestOnce()
      catch { case t: Throwable =>
        System.err.println(s"[bench] ingest probe failed: $t"); -1.0 }
    }.sorted
    // per-batch ingest latency percentiles — the reference's headline
    // metric is write/read micro-latency P50–P99.99
    // (/root/reference/src/tests/integration_test.rs:541-551, :565-720).
    // The Spark analog of one buffer "operation" is one micro-batch
    // trigger: split the events fixture into many files, admit one per
    // trigger, and read triggerExecution durations from query progress.
    // saved BEFORE the probe narrows it, restored verbatim after the
    // probes — restoring a constant (GraftSession.cpus) was correct only
    // while sessions happened to start there (advisor r6)
    val savedShufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions")
    val latJson = try {
      import org.apache.spark.sql.functions.col
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // match runToMemory's state-store sizing (8 partitions) so the
      // latency probe measures the same configuration the streaming
      // queries run under
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val tmp = java.nio.file.Files.createTempDirectory("graft_lat_")
      tmp.toFile.deleteOnExit()
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      ev.repartition(48).write.mode("overwrite").parquet(tmp.toString)
      val src = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp.toString)
      val agg = src.groupBy(col("event_type")).count()
      val q = agg.writeStream.outputMode("complete")
        .format("noop").start()
      try q.processAllAvailable() finally q.stop()
      val lat = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toDouble)
        .sorted
      def pct(p: Double): Long =
        if (lat.isEmpty) -1L
        else math.rint(lat(
          math.min(lat.length - 1, math.ceil(p * lat.length).toInt - 1)
            .max(0))).toLong
      // b50 = per-BATCH trigger p50; the continuous per-record
      // percentiles join it in one "lat" block below (the two-block
      // round-5 form cost ~90 B of the ~2 KB stdout-tail window; the
      // merged block costs ~32, buying the ingest spread + z95 room).
      // b99/mb50/mb99 and the full percentile sets remain available
      // locally (recentProgress / LatencyProbe).
      s""""b50":${pct(0.50)}"""
    } catch { case t: Throwable =>
      System.err.println(s"[bench] latency probe failed: $t"); "" }
    // Low-latency envelope experiment (the reference's µs-ms headline
    // target): per-RECORD latency of one map-only pipeline over the rate
    // source — an unbounded non-file source — under the two ends of
    // Spark's latency spectrum: default micro-batch vs continuous
    // processing. See streaming/LatencyProbe.scala and README
    // "Latency envelope". ~16 s of fixed sleeps, so skippable for local
    // iteration via SPARK_GRAFT_LATEXP=0 (driver runs keep the default
    // ON); a failure logs to stderr instead of vanishing silently, so a
    // broken run is distinguishable from a skipped one.
    val expJson =
      if (sys.env.getOrElse("SPARK_GRAFT_LATEXP", "1") == "0") ""
      else try {
        import org.apache.spark.sql.streaming.Trigger
        def measure(trigger: Trigger): (Long, Long) = {
          val src = spark.readStream.format("rate")
            .option("rowsPerSecond", "2000").load()
            .selectExpr("timestamp", "value % 97 AS v")
          val q = src.writeStream.trigger(trigger)
            .foreach(new graft.streaming.LatencyProbe).start()
          try {
            Thread.sleep(3000) // warmup: codegen + first epochs
            graft.streaming.LatencyProbe.arm()
            Thread.sleep(5000)
            graft.streaming.LatencyProbe.disarm()
          } finally q.stop()
          val s = graft.streaming.LatencyProbe.snapshot()
          (graft.streaming.LatencyProbe.percentile(s, 0.5),
            graft.streaming.LatencyProbe.percentile(s, 0.99))
        }
        // mb50/mb99 (per-record micro-batch percentiles) dropped from the
        // emitted line in round 6: they track b50/b99 (the scheduler
        // floor dominates both) and the freed ~25 B pays for the ingest
        // spread. Still measured locally via LatencyProbe.
        val (_, _) = measure(Trigger.ProcessingTime(0L))
        val (c50, c99) = measure(Trigger.Continuous("1 second"))
        s""""c50":$c50,"c99":$c99"""
      } catch { case t: Throwable =>
        System.err.println(s"[bench] latency envelope failed: $t"); "" }
    // The latency probe narrowed shuffle.partitions to its state-store
    // sizing (8); the z95/rem re-measures below exist to be COMPARABLE
    // to the timed loop's at-position numbers, so restore the session's
    // parallelism first — an 8-partition re-measure of a 32-partition
    // reading would fold a config delta into the session-age signal.
    spark.conf.set("spark.sql.shuffle.partitions", savedShufflePartitions)
    // End-of-session re-measure of q95 (the round-5 judge's flagged
    // driver-only climber): the timed loop measured it at its usual
    // position (~170th); this second sample lands AFTER the full catalog
    // + all streaming probes, the oldest possible session. One artifact
    // then carries q95 at two session ages — if a driver round shows
    // q95 high at position AND at z95, the cost is uniform (VM-level)
    // rather than session aging; a z95 >> position gap names aging.
    // Local evidence (PLANS.md round-6): no gap on the builder machine.
    // steal sample at the start of the end-of-session re-measure window
    // (z95 + rem): the r7 verdict's last inferential gap — a rem
    // re-measure that refutes a spike could itself be luck, run in a
    // quieter window. "str" (emitted below) is the steal delta over
    // JUST this re-measure window; compared against the whole-run "st"
    // rate it says whether the refutations ran under the same
    // interference the at-position originals saw.
    val stR0 = stealUptime()
    val z95 = try {
      SparkEntry.queries.get("q95_dup_degree_hist").map { fn =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        // dt BEFORE the sweep, matching the timed loop's measurement
        // boundary — including it biased re-measures high (advisor r6)
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.Staging.sweep(spark)
        dt
      }
    } catch { case t: Throwable =>
      System.err.println(s"[bench] z95 re-measure failed: $t"); None }
    val z95Json = z95.map(v => s""","z95":${ds(v)}""").getOrElse("")
    // End-of-session re-measure of the TWO SLOWEST timed queries ("rem").
    // Round-6 on-machine evidence: four same-code full-bench runs showed
    // one-shot 8-25 s spikes on a DIFFERENT query each run (q122 27.5 →
    // 4.1 s ten minutes later; then q178/q179; then q103 25.6 → 4.3; then
    // none), with a heap A/B ruling out GC and /proc/stat showing steady
    // hypervisor steal bursts — transient machine stalls, not plans. A
    // single-shot per-query time can't distinguish a real regression from
    // one such stall; re-measuring the run's own outliers inside the same
    // artifact makes the distinction self-evidencing: spike at position
    // but rem ≈ family steady state → stall; rem confirms the cost → real.
    // SPIKE-SHAPED selection (widened from top-2-only in round 7, and
    // from cap-8 in round 9): the r8 storm left q103/q1/q174 past the
    // cap-8 window, unrefuted in-artifact for a round. Re-measure (a)
    // the run's two slowest, plus (b) every query whose in-run time is
    // >= 2x its prior-round DRIVER time with >= 1.0 s absolute excess,
    // prioritized by absolute excess, hard-capped at 12 entries (~10 B
    // each; the CatalogInvariantSpec line budget accounts for the
    // cap). The r8 one-round remWatch list is dropped — the >= 2x
    // mover criterion makes that class self-selecting.
    val rem = {
      val ok = results.filter(_._2 >= 0)
      val worst = ok.sortBy(-_._2).take(2).map(_._1)
      def qnum(n: String) = n.takeWhile(_ != '_').stripPrefix("q").toInt
      val movers = ok.flatMap { case (name, v) =>
        priorDriverSec.get(qnum(name))
          .filter(p => v >= 2.0 * p && v - p >= 1.0).map(p => (name, v - p))
      }.sortBy(-_._2).map(_._1)
      val picked = (worst ++ movers).distinct.take(12)
      // per-query fault isolation: one failed re-run records -1 for that
      // entry instead of voiding the whole diagnostic block
      val again = picked.map { name =>
        try {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          // dt before the sweep — the timed loop's boundary (advisor r6)
          val dt = (System.nanoTime() - t0) / 1e9
          graft.operators.Staging.sweep(spark)
          s""""${b36(name)}":${ds(dt)}"""
        } catch { case t: Throwable =>
          System.err.println(s"[bench] rem re-measure of $name failed: $t")
          s""""${b36(name)}":-1"""
        }
      }
      if (again.isEmpty) "" else s""","rem":{${again.mkString(",")}}"""
    }
    val latBlock = Seq(latJson, expJson).filter(_.nonEmpty) match {
      case Nil => ""
      case ps  => s""","lat":{${ps.mkString(",")}}"""
    }
    // "sf" is the fixture BASENAME (the full path cost 18 B of the ~2 KB
    // stdout-tail window; the driver's own artifact carries the sf value)
    val sfName = new java.io.File(sfDir).getName
    // ingest spread in K-ROWS/S (rounded): full rows/s cost 6 digits per
    // sample; the spread's job is naming variance, not ±500 rows/s
    val ing = ingestRuns.map(r => math.rint(r / 1000).toLong)
      .mkString("[", ",", "]")
    val ing0Json =
      s""","ing0":${if (ing0 < 0) -1 else math.rint(ing0 / 1000).toLong}"""
    // steal delta over THIS bench window: [steal ticks, elapsed seconds]
    // (USER_HZ ticks, so ticks/sec ~= average stolen cores). -1s when
    // either sample failed.
    val st1 = stealUptime()
    val stJson =
      if (st0._1 < 0 || st1._1 < 0) s""","st":[-1,-1]"""
      else s""","st":[${st1._1 - st0._1},${math.rint(st1._2 - st0._2).toLong}]"""
    // steal over the re-measure window only (see stR0 comment above)
    val strJson =
      if (stR0._1 < 0 || st1._1 < 0) ""
      else s""","str":[${st1._1 - stR0._1},${math.rint(st1._2 - stR0._2).toLong}]"""
    // Steal VERDICT for this run ("sv") + per-query burst spans
    // ("stb") — the r9 verdict's ask: the artifact names its own
    // interference so prior-table folds and judge comparisons can
    // discard/flag storm windows without re-deriving them from raw
    // tick deltas. Thresholds in ticks/s (USER_HZ): a quiet machine
    // reads ~0.1-2 (the r8 judge window: 66 ticks / 403 s), the r9
    // storms read 67-100 — one-plus cores stolen continuously.
    val svJson =
      if (st0._1 < 0 || st1._1 < 0) ""
      else {
        val rate = (st1._1 - st0._1) / math.max(st1._2 - st0._2, 1.0)
        val v = if (rate < 2.0) "quiet"
          else if (rate < 15.0) "elevated" else "storm"
        s""","sv":"$v""""
      }
    // 0-based POSITIONS in the qt (sorted-name) order whose own
    // measurement window exceeded 10 ticks/s, run-length encoded
    // ("3-9,41"); absent when none. Storms arrive as contiguous blocks
    // (the r9 signature), so the encoding stays tiny; capped at 48 B
    // with a trailing "+" if a pathological run scatters.
    val stbJson = {
      val bursts = timed.zipWithIndex.collect {
        case ((_, _, r), i) if r >= 10.0 => i
      }
      if (bursts.isEmpty) ""
      else {
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        bursts.foreach { i =>
          if (spans.nonEmpty && spans.last._2 == i - 1)
            spans(spans.size - 1) = (spans.last._1, i)
          else spans += ((i, i))
        }
        val enc = spans.map { case (a, b) =>
          if (a == b) a.toString else s"$a-$b"
        }.mkString(",")
        val s = if (enc.length <= 48) enc else enc.take(47) + "+"
        s""","stb":"$s""""
      }
    }
    val line = s"""{"metric":"total","value":${f1(total)},"unit":"sec","kb":36,"qd":10,"qe":"b36w2","qn":${results.size},"qt":"$qt","qtop":12,"queries":$qs,"ingest_k":$ing$ing0Json$stJson$strJson$svJson$stbJson$latBlock$z95Json$rem,"sf":"$sfName"}"""
    // The JSON line is the LAST stdout the JVM emits: rounds 1/2/4 lost
    // the artifact because async executor logs (continuous-trigger
    // TaskKilled WARNs) landed AFTER the println and pushed the head of
    // the line out of the driver's ~2 KB stdout-tail window. Logs OFF +
    // stop() first means nothing can print after us but sbt's one
    // [success] line.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(line)
  }
}
