package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The r6 cluster dials (VERDICT r5 #8): options that were measured and
  * rejected as DEFAULTS on local[32] but matter on network-bound clusters.
  * Each spec proves VALUE IDENTITY with the dial on vs off — flipping a
  * dial can change bytes-on-the-wire, never answers.
  */
class DialsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("q04 per-key fact pre-aggregation: identical results either way") {
    val dir = sfDir("0.001")
    val off = graft.queries.CoreQueries
      .regionalRevenue(spark, dir, preAggregateFact = false)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val on = graft.queries.CoreQueries
      .regionalRevenue(spark, dir, preAggregateFact = true)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(off.toSeq == on.toSeq, s"dial changed the answer: $off vs $on")
    assert(off.nonEmpty)
  }

  test("q04 pre-aggregation dial: an extra aggregate appears below the " +
    "join, fact exchange rows shrink to one per order") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    def aggs(p: SparkPlan): Seq[HashAggregateExec] =
      collect(p) { case h: HashAggregateExec => h }
    val dir = sfDir("0.001")
    def nOrderKeyAggs(pre: Boolean): Int = {
      val df = graft.queries.CoreQueries.regionalRevenue(spark, dir, pre)
      df.write.format("noop").mode("overwrite").save()
      aggs(df.queryExecution.executedPlan)
        .count(_.groupingExpressions.exists(_.toString.contains("l_orderkey")))
    }
    assert(nOrderKeyAggs(pre = false) == 0)
    assert(nOrderKeyAggs(pre = true) >= 1, "dial did not add the pre-agg")
  }

  test("dictEncodeColumn: encode -> wide stages -> decode is value-identical " +
    "to the plain plan; nulls survive; codes are ints") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("berlin")), (2L, Some("tokyo")), (3L, None),
      (4L, Some("berlin")), (5L, Some("austin")), (6L, Some("tokyo"))
    ).toDF("id", "city")

    val plain = df.groupBy("city").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
      .toSet

    val (encoded, decode) = Joins.dictEncodeColumn(df, "city")
    assert(encoded.schema("city").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val viaDict = encoded
      .repartition(4, col("city")) // the wide stage the codes exist for
      .groupBy("city").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .select(decode(col("city")).as("city"), col("n"), col("s"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
      .toSet
    assert(viaDict == plain, s"dict dial changed the answer: $viaDict vs $plain")

    // cardinality guard refuses to build an unbounded literal map
    val wide = spark.range(0, 100).selectExpr("CAST(id AS STRING) AS c")
    intercept[IllegalArgumentException] {
      Joins.dictEncodeColumn(wide, "c", maxCardinality = 10)
    }
  }
}
