package graft

/** Driver-run benchmark: times every registered query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Before the timed loop, every query runs once against the warm-up
  * tables: JVM benchmarks measure steady state after warm-up (the JIT
  * compiles each query's generated operator code on first execution —
  * measured 17 s cold vs 3.7 s warm for the same dedup query), and a
  * 1000-executor cluster job amortizes that one-time compile over hours.
  * The warm-up uses 10× smaller inputs and the cache is dropped after,
  * so no sf0.1 data or results are reused — only compiled code. Optional
  * args restrict to the named queries (local iteration). Queries are
  * timed in sorted-name order (deterministic across runs).
  *
  * Hardened after round 4 (BENCH_r04 rc=124: the driver's external
  * timeout killed the run during a degraded-CPU phase and the round
  * recorded no bench at all):
  *  - a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 2400)
  *    sheds load before the external kill: warm-up stops at 40% of
  *    budget spent, the second timed pass only starts if it plausibly
  *    fits, and a timed pass itself stops early when the deadline nears;
  *  - each query runs under Watchdog.runCapped, so one degraded query
  *    costs at most the cap;
  *  - a JVM shutdown hook prints the best-so-far JSON line if the
  *    process is killed before the final line — SIGTERM from `timeout`
  *    runs hooks, so even a hard overrun leaves a parseable result.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 2250, not 2400: the budget clock starts INSIDE the JVM, after
    // ~30-60 s of sbt/JVM startup the driver's external timeout does
    // count — r5 shed load to a 2358 s sbt total against what looks like
    // a 2400 s external kill, a ~40 s margin. 2250 leaves startup plus
    // shutdown-hook room even in a degraded phase.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2250").toInt
    val capSec = Watchdog.queryCapSec
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def remaining: Double = budgetSec - elapsed
    val only: Set[String] = args.toSet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))

    // Best-so-far per-query times, updated as passes complete; the
    // shutdown hook prints them if the final line never makes it out.
    val best = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    // Queries whose every attempt returned Left (error or cap expiry).
    // Kept out of `best`: a fast AnalysisException or a capped run is not
    // a timing, and folding either into `total` would let a broken query
    // masquerade as a fast one across rounds.
    val failed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    @volatile var finalPrinted = false
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def failedArr: String = {
      import scala.jdk.CollectionConverters._
      failed.keySet.asScala.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    }
    // Full result: per-query map included. At 135 queries this line is
    // ~3.5 KB — larger than the driver's ~2 KB captured stdout tail, which
    // is why BENCH_r05/r06 recorded "parsed": null. It is printed FIRST
    // (human/log consumption) and persisted to a committed artifact file;
    // the driver-facing line is the compact summary printed LAST.
    // Staging disclosure (ADVICE r12): tag → one-time build seconds for
    // the cross-query staged tables, measured by the explicit prebuild
    // below. Several timed queries share each build while the DuckDB
    // baseline pays the equivalent join per execution — the artifact
    // carries the cost and the consumer lists so matched-subset ratios
    // can be read as equal work.
    @volatile var stagingBuilds: Map[String, Double] = Map.empty
    def stagingJson: String = {
      val builds = stagingBuilds.toSeq.sortBy(_._1)
        .map { case (t, v) => "\"" + t + "\":" + fmt(v) }.mkString("{", ",", "}")
      val cons = graft.queries.StagedTables.consumers.toSeq.sortBy(_._1)
        .filter { case (t, _) => stagingBuilds.contains(t) }
        .map { case (t, qs) =>
          "\"" + t + "\":" + qs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        }.mkString("{", ",", "}")
      s""""staging_build_sec":${fmt(stagingBuilds.values.sum)},"staging_builds":$builds,"staged_consumers":$cons"""
    }
    // Mutual exclusion with the DuckDB oracle sweeps (r14 verdict #2/#8):
    // tools/sweep_lock.py marks any long sweep with a PID lock file; a
    // bench overlapping one measured 34 phantom >1.5x regressions in
    // unchanged code. Wait (bounded — the budget clock is running) for
    // the lock to clear; if it won't, proceed but tag the output JSON so
    // the number can never be read as a clean round-over-round signal.
    @volatile var contended = false
    val lockPath = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_SWEEP_LOCK", "/tmp/graft/oracle_sweep.lock"))
    def holderAlive: Boolean = try {
      val pid = new String(
        java.nio.file.Files.readAllBytes(lockPath), "UTF-8").trim.toLong
      ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
    } catch { case _: Throwable => false }
    locally {
      val lock = lockPath
      val waitCap = math.min(budgetSec * 0.25, 600.0)
      var warned = false
      while (holderAlive && elapsed < waitCap) {
        if (!warned) {
          System.err.println(s"[bench] DuckDB sweep lock held ($lock); " +
            f"waiting up to $waitCap%.0f s for a clean window")
          warned = true
        }
        Thread.sleep(10000)
      }
      if (holderAlive) {
        contended = true
        System.err.println("[bench] sweep lock STILL held — proceeding " +
          "contended; output tagged \"contended\":true")
      }
    }
    def contendedJson: String = if (contended) "\"contended\":true," else ""
    def resultLine(): String = {
      import scala.jdk.CollectionConverters._
      val rs = best.asScala.toSeq.sortBy(_._1)
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val total = rs.map(_._2).sum
      // value_with_staging (r16 verdict item 2): the per-query total PLUS
      // the one-time staged-table build cost, so cross-round totals can't
      // silently shift work into the prebuild — "value" stays the sum the
      // driver compares, the inclusive figure rides alongside it.
      val withStaging = total + stagingBuilds.values.sum
      s"""{"metric":"total","value":${fmt(total)},"value_with_staging":${fmt(withStaging)},"unit":"sec",$contendedJson"completed":${rs.size},"expected":${names.size},"failed":$failedArr,$stagingJson,"queries":$qs,"sf":"$sfDir"}"""
    }
    // Compact summary (<200 bytes, no per-query map): the driver parses the
    // LAST JSON line of a bounded stdout tail, so this is the line that
    // must fit. completed/expected let it tell a truncated run (budget
    // shedding, external kill mid-pass) from a complete one — without
    // them a missing slow query reads as a large speedup.
    def summaryLine(): String = {
      import scala.jdk.CollectionConverters._
      val rs = best.asScala.toSeq
      val total = rs.map(_._2).sum
      val withStaging = total + stagingBuilds.values.sum
      s"""{"metric":"total","value":${fmt(total)},"value_with_staging":${fmt(withStaging)},"unit":"sec",$contendedJson"completed":${rs.size},"expected":${names.size},"failed":$failedArr,"sf":"$sfDir"}"""
    }
    // Persist the full per-query JSON where the round commit picks it up:
    // the repo root (CWD under sbt). Best-effort — a write failure must
    // not take down the bench result itself.
    def writeFull(): Unit = try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out),
        (resultLine() + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    def emit(): Unit = { println(resultLine()); writeFull(); println(summaryLine()); System.out.flush() }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finalPrinted && !best.isEmpty) emit()
    }))
    // Hard self-deadline (r15: a 90 GB sf10 JVM wedged in TEARDOWN,
    // ignoring SIGTERM for 7+ min — Spark's own shutdown hooks can hang
    // on a huge heap, and SIGKILL then loses every result). A daemon
    // reaper emits best-so-far and `halt`s the JVM — halt skips the
    // wedgeable hooks — once the budget plus margin is spent. Nothing
    // the bench still owes can be worth more than the results it holds.
    locally {
      val reaper = new Thread(() => {
        while (true) {
          Thread.sleep(5000)
          if (elapsed > budgetSec + 120) {
            if (!finalPrinted) emit()
            System.err.println("[bench] hard deadline reached — halting JVM")
            Runtime.getRuntime.halt(if (finalPrinted) 0 else 3)
          }
        }
      }, "bench-reaper")
      reaper.setDaemon(true)
      reaper.start()
    }

    val spark = GraftSession.local("graft-bench", GraftSession.cpus)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () } // session init
    // Default warm-up scale: the sf0.01 sibling of the bench directory —
    // close enough in stats that AQE picks the same physical plans (so the
    // compiled operator code is the code the timed pass runs), 10× smaller
    // so the warm-up pass stays cheap.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", {
      val sib = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01")
      if (java.nio.file.Files.isDirectory(sib)) sib.toString else ""
    })
    if (warmDir.nonEmpty && warmDir != sfDir) {
      // EVERY query warms up, not a name-based "heavy" subset: the r3
      // bench showed the cost of guessing — a new t_* query with a
      // cold-compile convoy in its window stage paid ~12 s in BOTH timed
      // passes because the warm-up list assumed the t_ family was
      // sub-second. Warming the full surface at the 10×-smaller sibling
      // costs ~20-30 s of bench wall-clock and makes the timed passes
      // measure steady state for whatever queries exist, present and
      // future. Warm-up is best-effort: it stops once 40% of the budget
      // is spent (a degraded host should spend what's left on the timed
      // pass, which is the deliverable).
      names.iterator.takeWhile(_ => elapsed < budgetSec * 0.4).foreach { name =>
        Watchdog.runCapped(spark, name, capSec) {
          SparkEntry.queries(name)(spark, warmDir).count()
        }
        spark.catalog.clearCache()
      }
      System.gc()
    }
    // Force the staged cross-query tables to build fresh BEFORE the
    // timed passes and record the cost in the artifact (stagingJson):
    // without this, the build lands inside whichever timed query runs
    // first and best-of-two min() silently drops it. Skipped on
    // name-restricted local runs (subset timings aren't the committed
    // artifact) and shed under budget pressure like the warm-up.
    if (only.isEmpty && remaining > budgetSec * 0.5) {
      try stagingBuilds = graft.queries.StagedTables.prebuild(spark, sfDir)
      catch { case t: Throwable =>
        System.err.println(s"[bench] staging prebuild failed: $t") }
      spark.catalog.clearCache()
    }
    def timedPass(): Unit = names.zipWithIndex.foreach { case (name, i) =>
      // Leave headroom for the final print: stop timing new queries when
      // less than max(60s, one cap) of budget remains.
      if (remaining > math.max(60, capSec)) {
        val q0 = System.nanoTime()
        val res = Watchdog.runCapped(spark, name, capSec) {
          SparkEntry.queries(name)(spark, sfDir).count()
        }
        val dt = (System.nanoTime() - q0) / 1e9
        res match {
          case Right(_) =>
            best.merge(name, dt, (a, b) => math.min(a, b))
            failed.remove(name) // a later pass can redeem an earlier failure
          case Left(why) =>
            if (!best.containsKey(name)) failed.put(name, why)
            System.err.println(f"[bench] $name FAILED after $dt%.1f s: $why")
        }
        // Queries may persist reused intermediates; drop them so later
        // queries aren't timed against a polluted executor heap.
        spark.catalog.clearCache()
        // A sweep can START mid-run (the lock only refuses sweep-vs-
        // sweep); sample it per query so any overlap taints the output.
        if (!contended && holderAlive) contended = true
        // Spark reclaims shuffle/broadcast state via GC-triggered weak refs
        // (ContextCleaner) — but a full GC on this heap costs seconds of
        // wall-clock, and 2 passes x 100+ queries of per-query GC burned
        // minutes of the r5 budget. Every 8th query keeps the executor
        // heap bounded at ~1/14th the cost.
        if (i % 8 == 7) System.gc()
      }
    }
    // Best of two timed passes per query: single-JVM timings swing ~2×
    // on GC/JIT-recompile timing alone (measured 48.6 s vs 70.3 s totals
    // for identical code minutes apart); the per-query min is the
    // standard noise-robust estimator of the query's actual cost.
    val p1Start = elapsed
    timedPass()
    val p1Cost = elapsed - p1Start
    if (remaining > p1Cost * 1.2 + 60) timedPass()
    // A sweep that STARTED after the startup check pollutes the run just
    // the same (sweep_lock only refuses sweep-vs-sweep; it cannot see a
    // running bench) — re-check before emitting so "contended" covers
    // the whole window, not just its first instant (r15 ADVICE).
    if (holderAlive) contended = true
    emit()
    // Only mark printed AFTER the lines are out: a SIGTERM landing between
    // the two statements would otherwise suppress both this print and the
    // shutdown hook's. A rare duplicate line is harmless — the driver
    // parses the last JSON line, and the summary is always last.
    finalPrinted = true
    // Bound the teardown too: results are already out, so if stop()
    // wedges (the r15 failure mode) a 2-minute daemon timer halts.
    locally {
      val t = new Thread(() => { Thread.sleep(120000); Runtime.getRuntime.halt(0) },
        "bench-teardown-reaper")
      t.setDaemon(true); t.start()
    }
    spark.stop()
    Runtime.getRuntime.halt(0) // skip Spark's (wedgeable) shutdown hooks
  }
}
