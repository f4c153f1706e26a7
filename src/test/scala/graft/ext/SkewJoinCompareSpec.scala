package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The VERDICT-r4 #6 adjudication: Spark's built-in AQE skew-join split
  * vs the manual salted join (LakeOps.saltedJoin, q187) on the SAME
  * skewed key profile — same answer, measured shuffle bytes for both,
  * and the conditions under which each wins, pinned as assertions:
  *
  *  - AQE splits the oversized REDUCER partition at runtime: zero extra
  *    shuffle-write bytes (the split replays map outputs), so when AQE
  *    can re-plan, it is strictly cheaper than salting — the salted join
  *    must pay ×salts replication of the dim side plus a salt column on
  *    every big-side row.
  *  - Salting is the tool when the runtime can't save you: a static plan
  *    (AQE off — streaming joins, fixed-partitioning consumers), or a
  *    same-key shuffle CONSUMER above the join (AQE refuses to split a
  *    partition another operator requires co-partitioned).
  */
class SkewJoinCompareSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def shuffleWriteBytes(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s.metrics("dataSize").value }.sum

  private def hasSkewSplitJoin(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j.isSkewJoin
      case j: ShuffledHashJoinExec => j.isSkewJoin
      case _ => false
    }.isDefined

  // 2M rows, half of them on key 0 (hot reducer ≈ 32× the mean), dim of
  // 10k keys — the profile keyProfile (q106) flags for mitigation
  private def bigSide = spark.range(0, 2000000L)
    .select(col("id").as("rid"),
      when(col("id") % 2 === 0, 0L).otherwise(col("id") % 10000L).as("k"),
      (col("id") % 97).as("v"))
  private def dimSide = spark.range(0, 10000L)
    .select(col("id").as("k"),
      concat(lit("grp_"), col("id") % 7).as("attr"))

  private def agg(joined: DataFrame): DataFrame =
    joined.groupBy("attr")
      .agg(count(lit(1)).cast("long").as("n"), sum(col("v")).as("sv"))

  test("same skewed profile: AQE split and the salted join agree row-for-" +
    "row; AQE pays no replication, targeted salting pays the salt column " +
    "plus x-salts replication of the HOT dim rows only") {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = confs.map(c => c -> spark.conf.getOption(c)).toMap
    try {
      // dim must not broadcast (a broadcast join has no skew problem);
      // thresholds scaled to the test's MBs, split target 2 MB
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // shuffle sizes are COMPRESSED map-output bytes and range data
      // compresses hard — thresholds sized to the compressed hot partition
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      val aqe = agg(bigSide.join(dimSide, Seq("k")))
      val aqeRows = aqe.collect().map(_.toSeq).toSet
      assert(hasSkewSplitJoin(aqe),
        "AQE did not mark the SMJ as a skew join — thresholds off?")
      val aqeBytes = shuffleWriteBytes(aqe)

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val salted = agg(LakeOps.saltedJoin(
        bigSide, dimSide, "k", rowIdCols = Seq("rid"), salts = 8))
      val saltedRows = salted.collect().map(_.toSeq).toSet
      assert(!hasSkewSplitJoin(salted))
      val saltedBytes = shuffleWriteBytes(salted)

      assert(aqeRows == saltedRows, "the two mitigations disagree")
      info(f"shuffle write: AQE split ${aqeBytes / 1e6}%.1f MB, " +
        f"salted(hot-targeted) x8 ${saltedBytes / 1e6}%.1f MB")
      // the structural claim, not a flaky timing one: even the TARGETED
      // salted form writes strictly more shuffle bytes (8B salt on every
      // hot big row — here 50% of the table — plus x8 hot-dim rows);
      // AQE's split costs no additional write at all
      assert(aqeBytes < saltedBytes,
        s"expected AQE ($aqeBytes) < salted ($saltedBytes)")
    } finally prev.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }

  test("AQE skew split fires on REAL parquet (r7 VERDICT #2): the events " +
    "event_type profile — 5 distinct keys, ≥27 of 32 reducers empty — is " +
    "genuine skew, and the split agrees with the targeted salted join") {
    // env-gated (the assume pattern): runs wherever the driver's testdata
    // exists; SkewDemo measures the same adjudication at 100×
    val evPath = "/root/testdata/sf0.01/events.parquet"
    assume(new java.io.File(evPath).exists, s"$evPath not present")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = confs.map(c => c -> spark.conf.getOption(c)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // sf0.01 events ≈ 10k rows → ~KBs of compressed map output per type;
      // thresholds scaled to match (the split unit is a MAP output block,
      // so the scan is spread over 8 map tasks first)
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      def sides(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
        val ev = spark.read.parquet(evPath)
          .select(col("event_type"), col("value"), col("user_id"))
          .repartition(8)
        // the dim must be a LOCAL relation: a distinct() directly under
        // the join leaves its final HashAggregate BETWEEN the sort and the
        // shuffle stage, and OptimizeSkewedJoin only matches
        // SMJ(Sort(ShuffleQueryStage), Sort(ShuffleQueryStage)) — the agg
        // in the middle silently disables the split
        import spark.implicits._
        val dim = Seq("signup", "purchase", "view", "click", "error")
          .map(t => (t, if (t == "error" || t == "purchase") "high" else "low"))
          .toDF("event_type", "priority")
        (ev, dim)
      }
      val (ev, dim) = sides()
      val joined = ev.join(dim, Seq("event_type"))
      val rows = joined.collect().map(_.toSeq).toSet
      assert(hasSkewSplitJoin(joined),
        "AQE did not split the real-parquet skewed join — thresholds off?\n" +
          joined.queryExecution.executedPlan.toString)

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (ev2, dim2) = sides()
      val salted = LakeOps.saltedJoin(ev2, dim2, "event_type",
        rowIdCols = Seq("user_id", "value"), salts = 8,
        hotKeys = Some(Seq("signup", "purchase", "view", "click", "error")))
      assert(salted.collect().map(_.toSeq).toSet == rows,
        "AQE split and salted join disagree on real data")
    } finally prev.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }

  test("where salting wins: with AQE unavailable the plain join leaves one " +
    "~32x hot reducer; the salted plan bounds every task by construction") {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // static-plan world: per-partition row counts of the join input
      val plainCounts = bigSide
        .repartition(32, col("k"))
        .mapPartitions(it => Iterator.single(it.size))(
          org.apache.spark.sql.Encoders.scalaInt)
        .collect().toSeq
      val saltedCounts = bigSide
        .withColumn("_salt", pmod(xxhash64(col("rid")), lit(8L)))
        .repartition(32, col("k"), col("_salt"))
        .mapPartitions(it => Iterator.single(it.size))(
          org.apache.spark.sql.Encoders.scalaInt)
        .collect().toSeq
      val mean = 2000000.0 / 32
      assert(plainCounts.max > 15 * mean,
        s"expected a hot partition, max=${plainCounts.max}")
      // salting bounds the hot key at hot/salts per bucket; buckets can
      // still collide in a reducer, so pin the structural improvement
      // (>=3x smaller max task) rather than a collision-free ideal
      assert(saltedCounts.max * 3 < plainCounts.max,
        s"salting failed to spread the hot key: " +
          s"salted max=${saltedCounts.max} vs plain max=${plainCounts.max}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }
}
