package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

class SaltedJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val big = Seq(
    (Option(1L), 10L, "a"), (Option(1L), 11L, "b"), (Option(1L), 12L, "c"), // hot key 1
    (Option(2L), 20L, "d"), (Option(3L), 30L, "e"), // no match for 3
    (Option.empty[Long], 40L, "n") // null key: must survive a left join once
  ).toDF("k", "rid", "payload")
  private val dim = Seq((1L, "one"), (2L, "two"), (4L, "four"))
    .toDF("k", "name")

  private def joinsOf(df: DataFrame): Seq[BaseJoinExec] =
    collect(df.queryExecution.executedPlan) { case j: BaseJoinExec => j }

  test("saltedJoin: row-for-row identical to the plain join (inner + left, " +
    "explicit hot keys, null big key routed to the cold span)") {
    for (jt <- Seq("inner", "left")) {
      val plain = big.join(dim, Seq("k"), jt)
        .select("k", "rid", "payload", "name")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val salted = LakeOps.saltedJoin(big, dim, "k", Seq("rid"), salts = 4,
          joinType = jt, hotKeys = Some(Seq(1L)))
        .select("k", "rid", "payload", "name")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(salted == plain, s"join type $jt")
    }
  }

  test("saltedJoin: profile-driven hot set (hotKeys = None) matches the " +
    "plain join on a skewed fixture") {
    // 70% of rows on key 1 — keyProfile flags it at any sane threshold
    val skewed = ((1 to 70).map(i => (1L, i.toLong)) ++
      (1 to 30).map(i => (i.toLong + 100, 1000L + i))).toDF("k", "rid")
    val d = ((1L +: (101L to 130L)).map(k => (k, s"v$k"))).toDF("k", "name")
    val plain = skewed.join(d, Seq("k"), "inner")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val salted = LakeOps.saltedJoin(skewed, d, "k", Seq("rid"), salts = 4,
        hotShareThreshold = 0.5)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(salted == plain)
  }

  test("saltedJoin: hot-key rows actually spread over multiple salts") {
    val hot = (1 to 256).map(i => (1L, i.toLong)).toDF("k", "rid")
    val salts = hot
      .withColumn("_salt", pmod(xxhash64(col("rid")), lit(8L)))
      .select("_salt").distinct().count()
    assert(salts >= 6, s"only $salts salts used") // 256 hashed rows → ~8
  }

  test("saltedJoin: two-span plan pin — exactly one union branch joins on " +
    "the salt, the cold span carries no salt column (VERDICT r7 #1)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = LakeOps.saltedJoin(big, dim, "k", Seq("rid"), salts = 4,
        hotKeys = Some(Seq(1L)))
      df.collect() // finalize any adaptive stages before inspecting
      val joins = joinsOf(df)
      assert(joins.size == 2, s"expected 2 joins (hot + cold), got $joins")
      val saltedJoins = joins.filter(j =>
        j.leftKeys.exists(_.toString.contains("_salt")) ||
          j.rightKeys.exists(_.toString.contains("_salt")))
      assert(saltedJoins.size == 1,
        s"expected exactly one salt-keyed join, got ${saltedJoins.size}")
      // the replicated side of the HOT join comes through a single explode
      val planStr = df.queryExecution.executedPlan.toString
      assert(planStr.contains("explode") || planStr.contains("Generate"),
        "no explode on the replicated hot-dim side")
      assert(planStr.contains("Union"), "two spans must union")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("saltedJoin: empty hot set degenerates to ONE plain join — no salt, " +
    "no union, no replication") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // uniform keys: nothing crosses a 50% share threshold
      val uniform = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("k", "rid")
      val d = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "name")
      val df = LakeOps.saltedJoin(uniform, d, "k", Seq("rid"), salts = 8,
        hotShareThreshold = 0.5)
      df.collect()
      assert(joinsOf(df).size == 1, "expected a single plain join")
      val planStr = df.queryExecution.executedPlan.toString
      assert(!planStr.contains("_salt"), "salt column in a no-hot-keys plan")
      assert(!planStr.contains("Union"), "union in a no-hot-keys plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("saltedJoin rejects right/full joins (replication would duplicate)") {
    intercept[IllegalArgumentException] {
      LakeOps.saltedJoin(big, dim, "k", Seq("rid"), joinType = "right",
        hotKeys = Some(Seq(1L)))
    }
    ()
  }
}
