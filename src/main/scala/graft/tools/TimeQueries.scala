package graft.tools

import graft.{GraftSession, SparkEntry}

/** Time a SUBSET of SparkEntry queries (or ScaleCheck.extras channels) in
  * a fresh session, Bench-style (noop-forced, N reps) — isolates a query's
  * cost from whole-suite state (GC pressure, catalog growth, cache debris).
  *
  * Every query is warmed at sf0.001 first (plan compilation, JIT), then
  * once more at the TARGET dir just before its reps, so the timed reps
  * measure the plan rather than the first cold parquet read of a multi-GB
  * input (the r7 q187 adjudication traced a 2.5× session-min spread to
  * disk state). A `System.gc()` runs after the target warm pass and after
  * every rep.
  *
  * Usage: runMain graft.tools.TimeQueries <sfDir> <reps> <query>...
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession.quiet(GraftSession.local("graft-timeq"))
    def force(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      ScaleCheck.extras.getOrElse(name, SparkEntry.queries(name))(spark, dir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(force(_, "/root/testdata/sf0.001"))
    names.foreach { n =>
      force(n, sfDir)
      System.gc()
      val ts = (1 to reps).map { _ =>
        val t = force(n, sfDir)
        System.gc()
        t
      }
      println(f"$n: ${ts.map(t => f"$t%.3f").mkString(",")}  " +
        f"min=${ts.min}%.3f max=${ts.max}%.3f")
    }
    spark.stop()
  }
}
