package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.pipeline.{FoodPipeline, Orchestrator}
import graft.queries.{QueryDef, StagedTables}
import graft.SparkEntry

/** JVM side of the benchmark (driven by `run.py`, which generates the
  * inputs, checks the outputs and prints the metrics).
  *
  * One client issues operations back to back on the driver thread. An
  * operation is one registered query, or (`dag`) one run of the reference
  * DAG into a fresh output directory. A pass runs every operation of the
  * workload once on one timed input that this JVM has not read before;
  * warm-up runs them on a separate input first. In a traced run every pass
  * is traced, and afterwards every operation runs three more times on the
  * first pass's input: untraced to disclose reuse, traced, and untraced
  * again, so the middle repeat measures the tracing overhead.
  *
  * Arguments are `key=value`: workload, ops (comma list), timed (comma
  * list of input dirs, one per pass), warm (input dir), warm_reps, out
  * (result dir), cpus, trace (0|1), stage (comma list of staged tables to
  * build for each timed input during set-up, possibly empty). Writes
  * `result.json` and, when traced, `spans.jsonl` into `out`. */
object Harness {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Staged cross-query tables the workloads consume, by tag. */
  private val stagedBuilders: Map[String, (SparkSession, String) => Any] = Map(
    "coedges" -> StagedTables.coEdges _,
    "codeg" -> StagedTables.coDeg _)

  /** One operation run. `fingerprint` is a query's `count:hash`, or for the
    * DAG its output directory, which run.py checks. */
  final case class OpRec(op: String, wall: Double, construct: Double, plan: Double,
                         exec: Double, fingerprint: String, error: String,
                         attempts: Int, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val ops = conf("ops").split(",").toSeq
    val timed = conf("timed").split(",").toSeq
    val warm = conf("warm")
    val warmReps = conf("warm_reps").toInt
    val out = Paths.get(conf("out"))
    val cpus = conf("cpus").toInt
    val trace = conf("trace") == "1"
    val stage = conf("stage").split(",").toSeq.filter(_.nonEmpty).map(stagedBuilders)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(out)

    val t0 = System.currentTimeMillis()
    val spark = GraftSession.local("perfbench", cpus)
    val sessionReady = System.currentTimeMillis()
    val tracer = new Tracer(spark)
    val queries: Map[String, QueryDef] = SparkEntry.catalog.map(q => q.name -> q).toMap
    val missing = ops.filterNot(o => o == "dag" || queries.contains(o))
    require(missing.isEmpty, s"unknown operations: ${missing.mkString(", ")}")

    var dagRuns = 0
    def runOp(op: String, input: String, parent: Long, dagBase: String): OpRec = {
      val before = if (tracer.enabled) fileCount(tmp) + fileCount(out) else 0L
      val start = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var construct, plan, exec = 0.0
      var fp = ""; var error = ""; var attempts = 0
      val phaseSpans = mutable.ArrayBuffer.empty[(String, Long)]
      def phase[T](name: String, opSpan: Long)(body: => T): T = {
        val p0 = System.nanoTime()
        try tracer.span(name, opSpan) { id => phaseSpans += name -> id; body }
        finally {
          val dt = (System.nanoTime() - p0) / 1e9
          name match {
            case "construct" => construct = dt
            case "plan" => plan = dt
            case _ => exec = dt
          }
        }
      }
      tracer.span(op, parent, "input" -> input) { opSpan =>
        try {
          if (op == "dag") {
            dagRuns += 1
            val dagOut = out.resolve(s"$dagBase/run$dagRuns").toString
            val st = phase("dag", opSpan)(FoodPipeline.run(spark, input, dagOut))
            attempts = st.values.map(_.attempts).sum
            val bad = st.collect { case (t, s) if !s.isInstanceOf[Orchestrator.Succeeded] => s"$t: $s" }
            if (bad.nonEmpty) error = bad.mkString("; ")
            fp = dagOut
          } else {
            val df = phase("construct", opSpan)(queries(op).run(spark, input))
            val frame = phase("plan", opSpan) {
              val f = Fingerprint.frame(df); f.queryExecution.executedPlan; f
            }
            fp = Fingerprint.render(phase("exec", opSpan)(frame.collect().head))
          }
        } catch { case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}".take(400) }
      }
      val wall = (System.nanoTime() - n0) / 1e9
      spark.catalog.clearCache()
      var layers = Map.empty[String, Double]
      if (tracer.enabled) {
        tracer.drain()
        val end = System.currentTimeMillis()
        val cs = phaseSpans.map { case (n, id) => n -> tracer.countersOf(id) }.toMap
        val all = cs.values
        def sum(f: Counters => Long): Double = all.map(f).sum.toDouble
        val execC = cs.getOrElse("exec", cs.getOrElse("dag", new Counters))
        if (op == "dag") {
          // The DAG is one call. Its planning phases are the planning
          // layer, the rest of its SQL executions the execution layer, and
          // the remainder driver-side construction. Planning windows lie
          // inside their SQL executions here, but the union is counted
          // once whichever way they fall, so the three partition the
          // call's wall time.
          val sql = tracer.within(tracer.sqlWindows, start, end)
          val planning = tracer.within(tracer.planWindows, start, end)
          val dagSpan = phaseSpans.collectFirst { case ("dag", id) => id }.getOrElse(0L)
          tracer.addSpans("sql", dagSpan, sql)
          tracer.addSpans("planning", dagSpan, planning)
          val busyMs = tracer.coveredMs(sql ++ planning)
          plan = tracer.coveredMs(planning) / 1e3
          exec = busyMs / 1e3 - plan
          construct = math.max(0.0, wall - busyMs / 1e3)
        }
        layers = Map(
          "construct.jobs" -> cs.get("construct").map(_.jobs.toDouble).getOrElse(0.0),
          "exec.jobs" -> execC.jobs.toDouble,
          "exec.stages" -> execC.stages.toDouble,
          "exec.tasks" -> execC.tasks.toDouble,
          "exec.task_s" -> execC.taskMs / 1e3,
          "exec.gc_s" -> execC.gcMs / 1e3,
          "exec.shuffle_write_mb" -> execC.shuffleWrite / 1e6,
          "exec.spill_mb" -> execC.spill / 1e6,
          "exec.input_mb" -> execC.input / 1e6,
          "write.mb" -> sum(_.outBytes) / 1e6,
          "write.rows" -> sum(_.outRows),
          "write.files" -> (fileCount(tmp) + fileCount(out) - before).toDouble)
      }
      System.err.println(f"[harness] $op%s on ${Paths.get(input).getFileName}%s: $wall%.3f s " +
        f"(construct $construct%.3f, plan $plan%.3f, exec $exec%.3f) $error%s")
      OpRec(op, wall, construct, plan, exec, fp, error, attempts, layers)
    }

    // Warm-up: JIT and class loading on an input the timed passes never read.
    val w0 = System.nanoTime()
    val warmRecs = (1 to warmReps).flatMap(_ => ops.map(op => runOp(op, warm, 0L, "warm")))
    val warmupS = (System.nanoTime() - w0) / 1e9

    val tmpAfterWarmup = dirBytes(tmp)

    // Set-up for the timed inputs: staged cross-query tables, per input.
    val staging = timed.map { d =>
      val before = dirBytes(tmp)
      val s0 = System.nanoTime()
      stage.foreach(build => build(spark, d))
      spark.catalog.clearCache()
      ((System.nanoTime() - s0) / 1e9, (dirBytes(tmp) - before) / 1e6)
    }

    tracer.enabled = trace
    val passes = tracer.span("run", 0L, "workload" -> conf("workload")) { runSpan =>
      timed.map { input =>
        System.gc()
        val p0 = System.nanoTime()
        val recs = ops.map(op => runOp(op, input, runSpan, "dag"))
        val wall = (System.nanoTime() - p0) / 1e9
        (input, trace, wall, recs)
      }
    }
    tracer.enabled = false
    val diskBytes = dirBytes(tmp) - tmpAfterWarmup + dirBytes(out.resolve("dag"))
    // Spark frees shuffle and broadcast state from a cleaner thread once GC
    // has cleared their references, so collect until that has settled.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapLive = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    // Reuse disclosure: the same operations again on the first pass's input.
    val repeat = if (trace) ops.map(op => runOp(op, timed.head, 0L, "repeat")) else Nil
    // Tracing overhead: that repeat once more traced, then untraced again,
    // so the traced repeat sits between two untraced ones on one input.
    val repeatTraced = if (trace) {
      tracer.enabled = true
      try ops.map(op => runOp(op, timed.head, 0L, "repeat")) finally tracer.enabled = false
    } else Nil
    val repeatAgain = if (trace) ops.map(op => runOp(op, timed.head, 0L, "repeat")) else Nil

    if (trace) {
      val w = Files.newBufferedWriter(out.resolve("spans.jsonl"))
      try tracer.spansJson.foreach { l => w.write(l); w.write("\n") } finally w.close()
    }

    def recJson(r: OpRec): String = {
      val layers = r.layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"op":${Json.str(r.op)},"wall_s":${Json.num(r.wall)},"construct_s":${Json.num(r.construct)},""" +
        s""""plan_s":${Json.num(r.plan)},"exec_s":${Json.num(r.exec)},"fingerprint":${Json.str(r.fingerprint)},""" +
        s""""error":${Json.str(r.error)},"attempts":${r.attempts},"layers":{$layers}}"""
    }
    val oracle = ops.flatMap(o => queries.get(o).flatMap(_.oracle).map(o -> _))
    val json = new StringBuilder
    json ++= s"""{"workload":${Json.str(conf("workload"))},"cpus":$cpus,"""
    json ++= s""""jvm_to_session_s":${Json.num((sessionReady - jvmStartMs) / 1e3)},"""
    json ++= s""""session_start_s":${Json.num((sessionReady - t0) / 1e3)},"""
    json ++= s""""warmup_s":${Json.num(warmupS)},"""
    json ++= s""""staging":[${staging.map { case (s, mb) => s"""{"build_s":${Json.num(s)},"mb":${Json.num(mb)}}""" }.mkString(",")}],"""
    json ++= s""""warm":[${warmRecs.map(recJson).mkString(",")}],"""
    json ++= s""""passes":[${passes.map { case (in, tr, wall, recs) =>
      s"""{"input":${Json.str(in)},"traced":$tr,"wall_s":${Json.num(wall)},"ops":[${recs.map(recJson).mkString(",")}]}"""
    }.mkString(",")}],"""
    json ++= s""""repeat":[${repeat.map(recJson).mkString(",")}],"""
    json ++= s""""repeat_traced":[${repeatTraced.map(recJson).mkString(",")}],"""
    json ++= s""""repeat_again":[${repeatAgain.map(recJson).mkString(",")}],"""
    json ++= s""""heap_live_mb":${Json.num(heapLive / 1e6)},"disk_mb":${Json.num(diskBytes / 1e6)},"""
    json ++= s""""oracle":{${oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}}}"""
    Files.write(out.resolve("result.json"), json.toString.getBytes("UTF-8"))

    spark.stop()
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }
  private def dirBytes(p: Path): Long = walk(p).map(Files.size).sum
  private def fileCount(p: Path): Long = walk(p).size.toLong
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case o => str(String.valueOf(o))
  }
}
