package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The IVF-PQ batch k-NN channel (pqKnnJoin — the x205/x214 production
  * 1-NN shape): native probe routing, SDC scoring, and the agreement pin
  * against the exact brute-force channel on data WITH planted structure
  * (the sf corpus is deliberately near-structureless, where any ANN
  * channel — including the exact-bucket LSH one — sits at the random
  * baseline; the pin must run where there is signal to recover).
  */
class PqKnnSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** 400 vectors in 10 well-separated 64-dim clusters (block centers at
    * +5, seeded noise sigma 0.3): 1-NN label imputation must be ~perfect.
    * Rows 0..15 cycle through the clusters, so the fixed-rule centroid
    * and codeword source rows cover every cluster.
    */
  private lazy val clustered = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val centers = Array.tabulate(10, 64)((c, j) => if (j % 10 == c) 5f else 0f)
    val rows = (0L until 400L).map { i =>
      val c = (i % 10).toInt
      val v = (0 until 64).map(j =>
        centers(c)(j) + rng.nextGaussian().toFloat * 0.3f).toArray
      (i, v, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  private def quantize(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("vec_id")
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("vq"))
      .collect().map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq

  private lazy val centroids =
    quantize(clustered.filter(col("vec_id") < 16))

  private lazy val codebooks = Similarity.pqCodebooksFixed(
    clustered, "vec_id", "embedding", dim = 64, m = 8, kCodes = 16)

  test("ivf_topcells: native matches a driver-side recompute over the " +
    "whole corpus; nProbe=1 head equals ivf_argmin") {
    val vq = clustered
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("_vq"))
    val got = vq
      .select(col("vec_id"),
        Similarity.ivfProbeCells(col("_vq"), centroids, 3).as("cells"),
        Similarity.ivfAssignQuantizedLongs(col("_vq"), centroids).as("argmin"))
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    val raw = vq.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    raw.zip(got).foreach { case ((id, v), (gid, cells, am)) =>
      assert(id == gid)
      val expect = centroids.zipWithIndex
        .map { case (c, i) =>
          (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i.toLong)
        }
        .sorted.take(3).map(_._2)
      assert(cells == expect, s"vec $id: $cells vs $expect")
      assert(am == cells.head, s"vec $id: argmin $am != head ${cells.head}")
    }
  }

  test("ivf_topcells: exact-tie cells keep ascending index order; " +
    "degenerate inputs (length mismatch / null elem -> empty, null -> null)") {
    import spark.implicits._
    val cents: Seq[Seq[Long]] = Seq(Seq(0L, 0L), Seq(0L, 0L), Seq(1L, 0L))
    val rows = Seq(
      (1L, Seq[java.lang.Long](0L, 0L)),   // ties: cells 0,1 at d=0
      (2L, Seq[java.lang.Long](1L, 0L)),   // cell 2 first, then tie 0,1
      (3L, Seq[java.lang.Long](0L, 0L, 0L)), // wrong length -> empty
      (4L, Seq[java.lang.Long](null, 0L)), // null element -> empty
      (5L, null)                           // null array -> null
    ).toDF("id", "vq")
    val got = rows
      .select(col("id"),
        Similarity.ivfProbeCells(col("vq"),
          cents.map(_.toIndexedSeq).toIndexedSeq, 2).as("cells"))
      .orderBy("id").collect()
    assert(got(0).getSeq[Long](1) == Seq(0L, 1L))
    assert(got(1).getSeq[Long](1) == Seq(2L, 0L))
    assert(got(2).getSeq[Long](1).isEmpty)
    assert(got(3).getSeq[Long](1).isEmpty)
    assert(got(4).isNullAt(1))
  }

  test("pqKnnJoin k=1 on clustered data: imputed labels agree with gold " +
    "and with the exact brute-force 1-NN channel (the x214 pin)") {
    val nn = Similarity.pqKnnJoin(clustered, clustered, "vec_id", "embedding",
      k = 1, centroids, codebooks, nProbe = 2)
      .select(col("q_id"), col("c_id"))
    val lbl = clustered.select(col("vec_id"), col("label"))
    val imputed = nn
      .join(lbl.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "gold"), "q_id")
      .join(lbl.withColumnRenamed("vec_id", "c_id")
        .withColumnRenamed("label", "imp"), "c_id")
    val n = imputed.count()
    assert(n == 400L, s"every query must find a neighbor, got $n")
    val goldAgree = imputed.filter(col("gold") === col("imp")).count()
      .toDouble / n
    assert(goldAgree >= 0.95, s"gold agreement $goldAgree < 0.95")
    // exact channel: brute-force cosine 1-NN
    val qv = clustered.select(col("vec_id").as("q_id"),
      col("embedding").as("_qv"))
    val exact = clustered.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_exact"),
        Similarity.cosine(col("embedding"), col("_qv")).as("_cs"))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("_cs"), asc("c_exact"))))
      .filter(col("_rn") === 1)
      .join(lbl.withColumnRenamed("vec_id", "c_exact")
        .withColumnRenamed("label", "exact_imp"), "c_exact")
      .select(col("q_id"), col("exact_imp"))
    val channelAgree = imputed.join(exact, "q_id")
      .filter(col("imp") === col("exact_imp")).count().toDouble / n
    assert(channelAgree >= 0.95, s"channel agreement $channelAgree < 0.95")
  }

  test("pqKnnJoin k=3: ranks ordered by (sdc_dist, c_id), no duplicate " +
    "(q,c) pairs, self never returned") {
    val top = Similarity.pqKnnJoin(clustered, clustered, "vec_id", "embedding",
      k = 3, centroids, codebooks, nProbe = 2).collect()
    assert(top.nonEmpty)
    top.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getLong(3))
      assert(byRank.map(_.getLong(3)).toSeq == (1L to byRank.length).toSeq)
      val dists = byRank.map(r => (r.getLong(2), r.getLong(1)))
      assert(dists.toSeq == dists.sortBy(identity).toSeq,
        s"query $q not (dist, id)-ordered: ${dists.toSeq}")
      assert(rows.map(_.getLong(1)).distinct.length == rows.length)
      assert(!rows.exists(_.getLong(1) == q))
    }
  }

  test("pqKnnJoin plan: no exchange carries a vector column — only cell " +
    "ids and PQ codes shuffle (the 64x shuffle-byte claim)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      collect(p) { case s: ShuffleExchangeExec => s }
    val nn = Similarity.pqKnnJoin(clustered, clustered, "vec_id", "embedding",
      k = 1, centroids, codebooks, nProbe = 2)
    nn.write.format("noop").mode("overwrite").save()
    val wide = shuffles(nn.queryExecution.executedPlan)
      .filter(_.output.exists(a =>
        a.name == "embedding" || a.name == "_vq" || a.name == "_qv"))
    assert(wide.isEmpty,
      s"vector column crossed an exchange: ${wide.map(_.output.map(_.name))}")
  }

  test("pqKnnJoin k>1 plans as a codegen HashAggregate — no window sort, " +
    "no ObjectHashAggregate fallback") {
    import org.apache.spark.sql.execution.SparkPlan
    def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
    // k = 32 crosses the old 16-slot cap (VERDICT r5 #3): the widened
    // TopKLongs must keep the HashAggregate plan there too
    Seq(5, 32).foreach { k =>
      val nn = Similarity.pqKnnJoin(clustered, clustered, "vec_id",
        "embedding", k = k, centroids, codebooks, nProbe = 2)
      nn.write.format("noop").mode("overwrite").save()
      val all = nodes(nn.queryExecution.executedPlan)
      assert(!all.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.window.WindowExec]),
        s"k=$k still plans a window")
      assert(!all.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]),
        s"k=$k: TopKLongs fell back to ObjectHashAggregate")
      assert(all.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.HashAggregateExec]))
    }
  }

  test("label-noise census over the PQ channel flags exactly the planted " +
    "mislabels (the x230 production shape)") {
    import spark.implicits._
    // flip three points to the next class: their k=5 in-cluster neighbors
    // all disagree; everyone else keeps a clean majority
    val flipped = Set(17L, 53L, 91L)
    val noisy = clustered.withColumn("label",
      when(col("vec_id").isInCollection(flipped),
        (col("label") + 1) % 10).otherwise(col("label")))
    val nn = Similarity.pqKnnJoin(noisy, noisy, "vec_id", "embedding",
      k = 5, centroids, codebooks, nProbe = 2)
    val census = Similarity.labelNoiseCensus(nn, noisy, "vec_id", "label")
      .as[(Int, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // planted labels: 17 (c7→8), 53 (c3→4), 91 (c1→2)
    val expected = Map(8 -> 1L, 4 -> 1L, 2 -> 1L).withDefaultValue(0L)
    (0 to 9).foreach { l =>
      assert(census(l)._3 == expected(l),
        s"label $l suspects ${census(l)._3} != ${expected(l)}")
    }
    assert(census.values.map(_._2).sum == 400L) // every point scored
  }
}
