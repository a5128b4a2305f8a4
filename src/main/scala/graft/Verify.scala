package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 4, where the driver's external timeout killed the
  * run during a degraded-CPU phase and the round recorded ZERO
  * correctness: (1) `oracle_sql.json` is written FIRST — it depends only
  * on `SparkEntry.oracleSql`, so a later kill still leaves every
  * already-dumped query comparable; (2) each query runs under
  * `Watchdog.runCapped`, so one stuck/degraded query costs at most the
  * cap, not the whole process budget.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args = restrict to these query names (local iteration).
    val only: Set[String] = args.drop(2).toSet
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Same sweep-exclusion as Bench (r15 verdict #7): a concurrent DuckDB
    // sweep halves effective CPU and pushes borderline queries into their
    // caps, turning "not verified" into an artifact of contention. Wait
    // (bounded) for a clean window; dumps are not timings, so if the lock
    // never clears we proceed — capped failures get a pass-2 retry anyway.
    locally {
      val lock = Paths.get(
        sys.env.getOrElse("GRAFT_SWEEP_LOCK", "/tmp/graft/oracle_sweep.lock"))
      def holderAlive: Boolean = try {
        val pid = new String(Files.readAllBytes(lock), "UTF-8").trim.toLong
        ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
      } catch { case _: Throwable => false }
      val w0 = System.nanoTime()
      var warned = false
      while (holderAlive && (System.nanoTime() - w0) / 1e9 < 300) {
        if (!warned) {
          System.err.println(s"[verify] DuckDB sweep lock held ($lock); waiting up to 300 s")
          warned = true
        }
        Thread.sleep(10000)
      }
      if (holderAlive)
        System.err.println("[verify] sweep lock STILL held — proceeding contended")
    }
    val spark = GraftSession.local("graft-verify", GraftSession.cpus)
    val cap = Watchdog.queryCapSec
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))

    // One query attempt; on failure DELETE the partial output dir — a
    // cancelled write can leave an empty parquet dir, which the driver's
    // compare reads as "0 rows, wrong answer" (the r5 p_llm_prep_pack red
    // was exactly this: the query is correct, its dump was killed
    // mid-write). An absent dir is an honest "not verified".
    def attempt(name: String, capSec: Int): Boolean = {
      val t0 = System.nanoTime()
      val res = Watchdog.runCapped(spark, name, capSec) {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // per-query persists end here
      res match {
        case Right(_) => System.err.println(f"[verify] $name ok ($dt%.1f s)"); true
        case Left(why) =>
          System.err.println(f"[verify] $name FAILED after $dt%.1f s: $why")
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
          false
      }
    }

    // Two passes. Pass 1 runs everything under a SMALL cap: during a
    // degraded-CPU phase (SURVEY §7) the r5 run burned 5 x 240 s of its
    // external budget on a contiguous block of capped queries and the
    // external timeout then killed the run with ~50 queries never
    // attempted. A small first-pass cap bounds the damage any one query
    // can do to the queries BEHIND it; pass 2 retries the stragglers with
    // the full cap once every query has had its first chance — UNLESS
    // pass 1 already ran at the full cap (cap <= 60), where a retry would
    // repeat an identical attempt (r6 advisor find). Pass 2 also stops
    // when the wall-clock budget nears, so a long straggler list cannot
    // run past the driver's external timeout: each un-attempted straggler
    // stays an absent dir — an honest "not verified" — instead of the
    // whole process being killed mid-write.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET_SEC", "2250").toInt
    val t0 = System.nanoTime()
    def remaining: Double = budgetSec - (System.nanoTime() - t0) / 1e9
    // Hard self-deadline (the r15 sf10 Bench teardown wedge applies to
    // any huge-heap run of these mains): dumps land incrementally, so
    // once the budget plus margin is spent there is nothing left to
    // lose — halt, skipping the wedgeable Spark shutdown hooks.
    locally {
      val reaper = new Thread(() => {
        while (true) {
          Thread.sleep(5000)
          if (remaining < -120) {
            System.err.println("[verify] hard deadline reached — halting JVM")
            Runtime.getRuntime.halt(3)
          }
        }
      }, "verify-reaper")
      reaper.setDaemon(true); reaper.start()
    }
    val pass1Cap = math.min(60, cap)
    val stragglers = names.filterNot(attempt(_, pass1Cap))
    if (stragglers.nonEmpty && pass1Cap < cap) {
      System.err.println(s"[verify] retrying ${stragglers.size} under full ${cap}s cap: " +
        stragglers.mkString(", "))
      stragglers.foreach { name =>
        if (remaining > cap + 30) attempt(name, cap)
        else System.err.println(s"[verify] $name SKIPPED: ${remaining.toInt}s budget left < ${cap + 30}s")
      }
    }
    // Suite-end storage audit: per-query clearCache covers persist()ed
    // frames, but localCheckpoint blocks are freed by the ContextCleaner
    // only after their RDDs become unreachable — a query that leaked a
    // reference would hold executor storage for the whole suite. Give the
    // cleaner one GC cycle, then report what survived; a healthy suite
    // prints 0.
    spark.catalog.clearCache()
    System.gc(); Thread.sleep(2000)
    val residual = spark.sparkContext.getPersistentRDDs
    if (residual.isEmpty) System.err.println("[verify] storage audit: 0 residual blocks")
    else {
      System.err.println(s"[verify] storage audit: ${residual.size} RESIDUAL RDDs:")
      residual.values.foreach(r =>
        System.err.println(s"[verify]   id=${r.id} ${r.getStorageLevel.description} ${r.name}"))
    }
    // Bounded teardown (r15 wedge pattern): every dump is on disk, so if
    // stop() hangs a 2-minute daemon timer halts the JVM.
    locally {
      val t = new Thread(() => { Thread.sleep(120000); Runtime.getRuntime.halt(0) },
        "verify-teardown-reaper")
      t.setDaemon(true); t.start()
    }
    spark.stop()
    Runtime.getRuntime.halt(0)
  }
}
