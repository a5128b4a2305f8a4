package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for the named queries to
  * `<outDir>/<name><suffix>.txt` — the before/after plan evidence the
  * optimization rounds commit under plans/r{N}/. Unlike PlanAudit (which
  * writes the whole-surface PLANS.md), this targets the queries one
  * round touched, and appends the AQE FINAL executed plan after running
  * the query, since claims like "zero Exchange" or "SortMergeJoin →
  * BroadcastHashJoin" are only visible post-AQE.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.PlanDump plans/r16 _after q_reorder_rate ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("plan-dump", GraftSession.cpus)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val finalPlan = try {
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        val marker = "+- == Initial Plan =="
        val i = p.indexOf(marker)
        if (i < 0) p else p.substring(0, i)
      } catch { case t: Throwable => s"(execution failed: $t)" }
      val body = s"== explain(formatted), $sfDir ==\n\n" + formatted +
        "\n\n== AQE final executed plan ==\n\n" + finalPlan + "\n"
      Files.writeString(outDir.resolve(s"$name$suffix.txt"), body)
      println(s"[plan-dump] $name -> ${outDir.resolve(name + suffix + ".txt")}")
      spark.catalog.clearCache()
    }
    spark.stop()
    Runtime.getRuntime.halt(0)
  }
}
