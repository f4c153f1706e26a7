package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** Per-family shuffle-byte budgets enforced in CI (VERDICT r9 #1): the
  * 100-TB claims are per-op byte SHAPES — "long-only shuffles", "pair
  * keys not text", "base payload never moves" — and wall-time cannot see
  * them. ScaleSweep records the bytes at 100× and flags violations; this
  * spec runs one representative per budgeted family at sf0.01 through
  * the same [[TaskMetricsLedger]] and fails on the same budget table, so
  * a shuffle that silently widens (a text column entering a pair
  * exchange, a fact table starting to move) fails the suite long before
  * a sweep runs.
  *
  * bytes-per-input-row is the scale-invariant currency: the budget that
  * holds at sf0.01 and at 100× is a shape constraint, not a size one.
  * (Caveat, documented: at sf0.01 some joins broadcast that shuffle at
  * 100× — sf0.01 ratios UNDERSHOOT, which is why ScaleSweep enforces the
  * same table at the 100× point too.)
  */
class ShuffleBudgetSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = sfDir("0.01")

  private def queryOf(n: String) =
    ScaleCheck.extras.getOrElse(n, graft.SparkEntry.queries(n))

  test("budget table hygiene: every budgeted query is swept at 100x, " +
    "each query budgeted at most once, all names resolve") {
    val known = graft.SparkEntry.queries.keySet ++ ScaleCheck.extras.keySet
    val flat = ScaleSweep.shuffleBudgets.flatMap(_.queries)
    assert(flat.distinct.size == flat.size,
      s"multiply-budgeted: ${flat.diff(flat.distinct).distinct.mkString(", ")}")
    val unknown = flat.filterNot(known)
    assert(unknown.isEmpty, s"budget names not in registry/extras: $unknown")
    val unswept = flat.filterNot(ScaleSweep.at100.toSet)
    assert(unswept.isEmpty,
      s"budgeted but not in the 100x sweep: $unswept")
  }

  test("one representative per family stays under its shuffle-write " +
    "budget at sf0.01") {
    val reps = ScaleSweep.shuffleBudgets.map(b => b -> b.queries.head)
    val ledger = TaskMetricsLedger.install(spark)
    try {
      val failures = reps.flatMap { case (b, n) =>
        ledger.reset()
        queryOf(n)(spark, dir).write.format("noop").mode("overwrite").save()
        val s = ledger.snapshot()
        assert(s.inputRecords > 0, s"$n read no records — ledger broken?")
        // budget·rows + the fixed framing allowance (ScaleSweep.overBudget:
        // at 500-row tables per-task shuffle framing dominates the ratio)
        if (ScaleSweep.overBudget(b, s))
          Some(f"$n (${b.family}): ${s.writeBytesPerRecord}%.1f B/row > " +
            f"${b.maxWriteBytesPerRow}%.1f " +
            f"(sw ${s.shuffleWriteBytes / 1e6}%.2f MB over " +
            f"${s.inputRecords} rows)")
        else None
      }
      assert(failures.isEmpty,
        "shuffle budgets exceeded:\n" + failures.mkString("\n"))
    } finally TaskMetricsLedger.uninstall(spark, ledger)
  }

  test("ledger counts a groupBy's jobs, stages, tasks and shuffle bytes, " +
    "captures its executed plan, and resets to zero") {
    val ledger = TaskMetricsLedger.install(spark)
    try {
      ledger.reset()
      spark.range(0, 10000).groupBy((col("id") % 10).as("g")).count()
        .write.format("noop").mode("overwrite").save()
      val s = ledger.snapshot()
      assert(s.jobs >= 1, s.json)
      assert(s.stages >= 2, s.json)
      assert(s.tasks > 0, s.json)
      assert(s.shuffleWriteBytes > 0, s.json)
      val plan = ledger.executedPlan
      assert(plan.exists(p =>
        find(p)(_.isInstanceOf[ShuffleExchangeExec]).isDefined),
        s"no ShuffleExchangeExec in the captured plan: $plan")
      ledger.reset()
      val z = ledger.snapshot()
      assert(z == TaskMetricsLedger.Snapshot(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
        z.json)
    } finally TaskMetricsLedger.uninstall(spark, ledger)
  }
}
