package graft.tools

import graft.{GraftSession, SparkEntry}

/** Per-query profiler and spot-check harness: run named SparkEntry queries
  * against a testdata dir and, for each, print one JSON ledger line, then
  * the result and (with `--explain`) the formatted physical plan.
  *
  * The ledger line covers building the DataFrame (eager driver jobs
  * included) plus one full noop-forced execution: `build_s`, `wall_s`,
  * and the [[TaskMetricsLedger]] counters — jobs, stages, tasks, task
  * run/CPU time, shuffle read/write, spill and input rows. The result is
  * shown afterwards, outside the measured window.
  *
  * A query is named by its registry key or by its number alone (`q01`
  * for `q01_pricing_summary`).
  *
  * Usage: runMain graft.tools.Scratch <sfDir> [--explain] <query> [<query>...]
  */
object Scratch {
  private def resolve(name: String): String = {
    val keys = SparkEntry.queries.keySet
    if (keys.contains(name)) name
    else keys.filter(_.startsWith(name + "_")).toSeq match {
      case Seq(k) => k
      case ks => throw new IllegalArgumentException(
        s"query '$name' matches ${ks.size} registry keys: ${ks.sorted.mkString(", ")}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val explain = args.contains("--explain")
    val names = args.drop(1).filterNot(_.startsWith("--")).map(resolve)
    val spark = GraftSession.quiet(GraftSession.local("graft-scratch"))
    val ledger = TaskMetricsLedger.install(spark)
    names.foreach { n =>
      ledger.reset()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val built = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t1 = System.nanoTime()
      println(f"""{"query": "$n", "build_s": ${(built - t0) / 1e9}%.3f, """ +
        f""""wall_s": ${(t1 - t0) / 1e9}%.3f, "ledger": ${ledger.snapshot().json}}""")
      df.show(50, truncate = false)
      if (explain) println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    TaskMetricsLedger.uninstall(spark, ledger)
    spark.stop()
  }
}
