package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-stage profile of one registered query — the measurement behind
  * "the residual is X" claims in SURVEY §7. Prints, for each stage of
  * the (warmed) second run: wall seconds, summed task time, summed CPU
  * time, input/shuffle-read/shuffle-write bytes and records, task count,
  * and the stage's name (which carries the top RDD callsite).
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft/sf10 \
  *     tools/run_main.sh <classes> graft.StageProfile q5_nation_volume
  *
  * The first (unprofiled) run absorbs JIT + staged-table builds so the
  * profiled run measures the steady-state plan, matching how Bench
  * measures (best of warmed passes).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProfile <queryName> [more names]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-stage-profile", GraftSession.cpus)

    final case class Acc(var taskMs: Long = 0L, var cpuNs: Long = 0L,
                         var tasks: Int = 0, var inBytes: Long = 0L,
                         var inRecs: Long = 0L, var srBytes: Long = 0L,
                         var swBytes: Long = 0L, var outRecs: Long = 0L)
    val acc = TrieMap.empty[Int, Acc]
    val wall = TrieMap.empty[Int, (Long, String)]
    @volatile var record = false
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (record) {
        val a = acc.getOrElseUpdate(e.stageId, Acc())
        val m = e.taskMetrics
        if (m != null) a.synchronized {
          a.taskMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.tasks += 1
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecs += m.inputMetrics.recordsRead
          a.srBytes += m.shuffleReadMetrics.totalBytesRead
          a.swBytes += m.shuffleWriteMetrics.bytesWritten
          a.outRecs += m.outputMetrics.recordsWritten
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val i = e.stageInfo
          val w = (for {s <- i.submissionTime; c <- i.completionTime}
            yield c - s).getOrElse(0L)
          wall.put(i.stageId, (w, i.name.linesIterator.next().take(120)))
        }
    }

    args.foreach { name =>
      val q = SparkEntry.queries(name)
      q(spark, sfDir).count() // warm: JIT + staged builds + AQE shapes
      spark.catalog.clearCache()
      acc.clear(); wall.clear()
      spark.sparkContext.addSparkListener(listener)
      record = true
      val t0 = System.nanoTime()
      val n = q(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      record = false
      spark.sparkContext.removeSparkListener(listener)
      // Listener bus is async; give it a beat to drain before reading.
      Thread.sleep(500)
      println(f"== $name: $total%.3f s wall, $n rows")
      println("stage  wall_s  task_s   cpu_s  tasks    in_MB  in_Mrec  shufR_MB  shufW_MB  name")
      acc.toSeq.sortBy(_._1).foreach { case (sid, a) =>
        val (w, nm) = wall.getOrElse(sid, (0L, "?"))
        println(f"$sid%5d ${w / 1e3}%7.2f ${a.taskMs / 1e3}%7.1f ${a.cpuNs / 1e9}%7.1f ${a.tasks}%6d " +
          f"${a.inBytes / 1e6}%8.1f ${a.inRecs / 1e6}%8.2f ${a.srBytes / 1e6}%9.1f ${a.swBytes / 1e6}%9.1f  $nm")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
