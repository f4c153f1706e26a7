package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** AQE skew-join split demonstrated on REAL DATA (r7 VERDICT #2 — every
  * adjudicated q187 run recorded `aqe_skew_applied=false` because the
  * TPC-H-ish o_orderkey profile is uniform: there is nothing to split).
  *
  * The genuinely skewed real join in the testdata is events ⋈ event-type
  * dim: `event_type` has FIVE distinct values (~2M rows each at 100×), so
  * a hash-partitioned join leaves ≥27 of 32 reducers empty and five
  * oversized — the median partition size is 0 and Spark's
  * OptimizeSkewedJoin flags every non-empty partition as skewed once it
  * crosses `skewedPartitionThresholdInBytes`. (A 5-row dim would
  * broadcast in production — the demo disables that, exactly like a
  * streaming or co-partitioned-consumer plan where AQE/broadcast can't
  * engage; SkewJoinCompareSpec pins the same adjudication on synthetic
  * data and on this real profile at sf scale.)
  *
  * Variants, all writing to noop and hash-compared for agreement:
  *  - aqe_off:   static plan — five fat tasks carry the whole join
  *  - aqe_skew:  AQE skew split ON, threshold sized to the compressed map
  *               outputs — isSkewJoin fires on the REAL parquet, splits
  *               restore parallelism at ZERO extra shuffle-write bytes
  *  - salted:    LakeOps.saltedJoin targeted on the five hot types — the
  *               remedy when even AQE can't re-plan (static/streaming)
  *
  * Usage: runMain graft.tools.SkewDemo [dir] [reps]
  */
object SkewDemo extends AdaptiveSparkPlanHelper {

  private def shuffleWriteBytes(p: SparkPlan): Long =
    collect(p) { case s: ShuffleExchangeExec => s.metrics("dataSize").value }
      .sum

  private def skewApplied(p: SparkPlan): Boolean =
    find(p) {
      case j: SortMergeJoinExec => j.isSkewJoin
      case j: ShuffledHashJoinExec => j.isSkewJoin
      case _ => false
    }.isDefined

  final case class Readout(variant: String, minSec: Double, maxSec: Double,
      shuffleGb: Double, aqeSkew: Boolean, rowsHash: Long)

  /** One variant timed `reps` times (min/max recorded), plus the executed
    * plan's shuffle-write dataSize, skew-split flag, and an
    * order-independent result checksum proving all variants agree.
    *
    * Metrics come from the EXECUTED plan the ledger captured — a noop
    * write plans its own execution, so reading metrics off the original
    * DataFrame's plan silently yields zeros (and an initial, never-final
    * AQE tree).
    */
  private def measure(spark: SparkSession, label: String, reps: Int,
      mk: () => DataFrame): Readout = {
    val ledger = TaskMetricsLedger.install(spark)
    try {
      mk().write.format("noop").mode("overwrite").save() // warm
      System.gc()
      var bytes = 0L
      var skew = false
      val ts = (1 to reps).map { _ =>
        ledger.reset()
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        ledger.executedPlan.foreach { p =>
          bytes = shuffleWriteBytes(p)
          skew = skewApplied(p)
        }
        System.gc()
        dt
      }
      val h = mk().select(sum(pmod(xxhash64(col("event_type"), col("value"),
        col("priority")), lit(1000000000L))).cast("long")).head().getLong(0)
      Readout(label, ts.min, ts.max, bytes / 1e9, skew, h)
    } finally TaskMetricsLedger.uninstall(spark, ledger)
  }

  /** The skewed join: every event against a 5-row type dim, materialized
    * full-width to noop — the join's shuffle is load-bearing and its
    * output is consumed row by row.
    */
  private def joined(spark: SparkSession, dir: String,
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("value"), col("user_id"))
    // LOCAL dim, not distinct()-derived: OptimizeSkewedJoin matches only
    // SMJ(Sort(ShuffleQueryStage), Sort(ShuffleQueryStage)) — a distinct's
    // final HashAggregate between sort and shuffle stage disables the
    // split (SkewJoinCompareSpec pins this shape at sf scale)
    val dim = spark.createDataFrame(
      Seq("signup", "purchase", "view", "click", "error")
        .map(t => (t, if (t == "error" || t == "purchase") "high" else "low")))
      .toDF("event_type", "priority")
    join(ev, dim)
  }

  def run(spark: SparkSession, dir: String, reps: Int = 3): Seq[Readout] = {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val prev = confs.map(c => c -> spark.conf.getOption(c)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // compressed map-output bytes gate the split: 100× events is ~2M rows
      // per type; 16 MB keeps the real column sizes above threshold while
      // never tripping at warm-up scale
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16MB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val off = measure(spark, "aqe_off", reps,
        () => joined(spark, dir, (e, d) => e.join(d, Seq("event_type"))))
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val skewed = measure(spark, "aqe_skew", reps,
        () => joined(spark, dir, (e, d) => e.join(d, Seq("event_type"))))
      val salted = measure(spark, "salted", reps,
        () => joined(spark, dir, (e, d) =>
          graft.ext.LakeOps.saltedJoin(e, d, "event_type",
            rowIdCols = Seq("user_id", "value"), salts = 8,
            hotKeys = Some(Seq("signup", "purchase", "view", "click", "error")))))
      require(off.rowsHash == skewed.rowsHash && off.rowsHash == salted.rowsHash,
        s"variants disagree: ${Seq(off, skewed, salted).map(_.rowsHash)}")
      Seq(off, skewed, salted)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale100")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.quiet(GraftSession.local("skew-demo"))
    run(spark, dir, reps).foreach { r =>
      println(f"[${r.variant}] min=${r.minSec}%.2f max=${r.maxSec}%.2f " +
        f"shuffle_write=${r.shuffleGb}%.4f GB aqe_skew=${r.aqeSkew}")
    }
    spark.stop()
  }
}
