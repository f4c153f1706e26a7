package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.etl.MergeTrafficWeather
import graft.io.Layers
import graft.schema.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-plan audits: the properties that make these queries scale are
  * asserted, not assumed — filter pushdown to the scan, column pruning,
  * broadcast joins for dims, whole-stage codegen, and (for the pair
  * operators) the expensive predicate staying OUT of the join condition.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir("0.001"))

  test("q02: predicates are pushed to the parquet scan") {
    val p = plan(q("q02_filter_project"))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("IsNotNull(l_shipdate)"), s"shipdate filter not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"),
      s"discount filter not pushed:\n$p")
  }

  test("q01: column pruning — scan reads only the needed lineitem columns") {
    val p = plan(q("q01_pricing_summary"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      s"scan reads unused columns: $readSchema")
    assert(readSchema.contains("l_quantity"))
  }

  test("q259: event_type pushed to the scan; ReadSchema pruned to the " +
    "three touched columns (from_json adds no scan width)") {
    val p = plan(q("q259_json_nested_flatten"))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(event_type,click)"),
      s"event_type filter not pushed:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("props"),
      s"scan missing needed columns: $readSchema")
    assert(!readSchema.contains("user_id") && !readSchema.contains("value")
      && !readSchema.contains("ts"),
      s"scan reads unused columns: $readSchema")
  }

  test("q04: dimension joins broadcast (no shuffle for small sides)") {
    val p = plan(q("q04_regional_revenue"))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts:\n$p")
  }

  test("q01: aggregation runs inside whole-stage codegen with partial agg") {
    val df = q("q01_pricing_summary")
    df.collect() // AQE: codegen stages only visible in the final plan
    val p = plan(df)
    assert(p.contains("codegen id"), p) // `* Node [codegen id: n]` markers
    // partial (map-side) aggregation before the exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial + final aggregate")
  }

  test("merge stage: reference-scale sides broadcast; no cartesian") {
    val traffic = Layers.readCsv(spark, golden("traffic_raw.csv"), Schemas.trafficRaw)
      .limit(500)
    val weather = Layers.readCsv(spark, golden("weather_raw.csv"), Schemas.weatherRaw)
      .limit(500)
    val p = plan(MergeTrafficWeather(traffic, weather))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), s"merge fell back to cartesian:\n$p")
  }

  test("q24: similarity predicate stays out of the join condition") {
    val p = plan(q("q24_jaccard_pairs"))
    val joinCond = p.linesIterator.filter(_.contains("Join condition"))
      .mkString("\n")
    assert(!joinCond.contains("array_intersect"),
      s"jaccard pushed into join condition:\n$joinCond")
    // the cheap pruning predicates DO belong in the join condition
    assert(joinCond.contains("id_a") && joinCond.contains("size"),
      s"cheap predicates missing from join condition:\n$joinCond")
  }

  test("q38: no partition-less window (global single-task sort) anywhere") {
    val df = q("q38_out_of_order_census")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the bucket-local lag window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"partition-less window would sort the whole table in one task:\n$w"))
  }

  test("q31: native cosine expression is used (no zip_with in the plan)") {
    val p = plan(q("q31_cosine_topk"))
    assert(p.contains("cosinesimilarity") || p.contains("CosineSimilarity") ||
      p.contains("cosine_similarity"), s"native expression missing:\n$p")
    assert(!p.contains("zip_with"), s"composable fallback in hot path:\n$p")
  }

  test("IVF: persisted-index probe prunes to nProbe partitions at the source") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import graft.ext.Similarity
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      collect(p) { case f: FileSourceScanExec => f }
    val tmp = java.nio.file.Files.createTempDirectory("ivf").toString + "/idx"
    val emb = Q.t(spark, sfDir("0.001"), "embeddings")
    val idx = Similarity.ivfIndex(emb, "embedding", kClusters = 8)
    Similarity.writeIvfIndex(idx, tmp)
    val loaded = Similarity.readIvfIndex(spark, tmp)
    val probe = Similarity.ivfTopK(loaded, "vec_id", "embedding",
      queryId = 0L, k = 5, nProbe = 3)
    assert(probe.collect().length == 5)
    val partScans = scans(probe.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(partScans.nonEmpty, "no partitioned scan in the probe plan")
    val read = partScans.map(_.metrics("numPartitions").value)
    assert(read.forall(_ <= 3), s"probe read partitions: $read (expected <=3)")
  }

  test("IVF-PQ: persisted-index probe prunes to nProbe partitions AND " +
    "serves from codes only (no vector column in the scan)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import graft.ext.Similarity
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      collect(p) { case f: FileSourceScanExec => f }
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    val emb = Q.t(spark, sfDir("0.001"), "embeddings")
    val idx = Similarity.ivfIndex(emb, "embedding", kClusters = 8)
    val cbs = Similarity.pqCodebooksFixed(emb, "vec_id", "embedding",
      dim = 64, m = 8, kCodes = 16)
    Similarity.writeIvfPqIndex(idx, "embedding", cbs, tmp)
    val qv = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toIndexedSeq
    val probe = Similarity.ivfPqTopK(spark, tmp, "vec_id", qv, k = 5, nProbe = 3)
    assert(probe.collect().length == 5)
    val partScans = scans(probe.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(partScans.nonEmpty, "no partitioned scan in the probe plan")
    val read = partScans.map(_.metrics("numPartitions").value)
    assert(read.forall(_ <= 3), s"probe read partitions: $read (expected <=3)")
    partScans.foreach { f =>
      val fields = f.requiredSchema.fieldNames.toSet
      assert(fields.contains("_pq_codes"), s"codes missing from scan: $fields")
      assert(!fields.contains("embedding"),
        s"probe must never read raw vectors: $fields")
    }
  }

  test("minhash signatures: gram hashes never shuffle; native fused expression") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.types.ArrayType
    import graft.ext.Dedup
    val docs = Q.t(spark, sfDir("0.001"), "documents")
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text")
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      collect(p) { case s: ShuffleExchangeExec => s }
    val ex = shuffles(sigs.queryExecution.executedPlan)
    // exactly one narrow rebalance of the raw (id, text) rows — the
    // parallelism guard for single-file inputs; the exploded/hashed grams
    // themselves must never cross an exchange (that was the round-1 plan)
    assert(ex.length == 1, s"expected 1 narrow rebalance, got ${ex.length}:\n" +
      sigs.queryExecution.explainString(FormattedMode))
    ex.foreach(e => assert(
      !e.child.schema.exists(_.dataType.isInstanceOf[ArrayType]),
      s"gram arrays crossing the exchange: ${e.child.schema.catalogString}"))
    val p = plan(sigs)
    assert(p.contains("minhashsignature") || p.contains("minhash_signature"),
      s"native fused signature expression missing from plan:\n$p")
  }

  test("bucketed lake layout: dedup window and key join run with ZERO exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    import graft.ext.Dedup
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      collect(p) { case s: ShuffleExchangeExec => s }
    val docs = Q.t(spark, sfDir("0.001"), "documents")
      .withColumn("content_hash", Dedup.contentHash(Seq("text")))
    Layers.writeBucketed(docs, "graft_docs_by_hash", Seq("content_hash"),
      nBuckets = 8, sortCols = Seq("content_hash", "doc_id"))
    try {
      val t = spark.table("graft_docs_by_hash")
      // keep-first dedup: the window's clustering requirement is satisfied
      // by the bucketed layout — no exchange anywhere in the plan
      val w = Window.partitionBy("content_hash").orderBy("doc_id")
      val dedup = t.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      assert(dedup.count() > 0)
      assert(shuffles(dedup.queryExecution.executedPlan).isEmpty,
        "bucketed dedup window should not shuffle:\n" +
          dedup.queryExecution.explainString(FormattedMode))
      // co-located join on the bucket key (broadcast disabled so the only
      // shuffle-free plan is the bucket-aligned sort-merge join)
      val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = t.select(col("content_hash"), col("doc_id"))
          .join(spark.table("graft_docs_by_hash")
            .select(col("content_hash"), col("n_chars")), "content_hash")
        assert(joined.count() > 0)
        assert(shuffles(joined.queryExecution.executedPlan).isEmpty,
          "bucket-key join should be co-located (no exchange):\n" +
            joined.queryExecution.explainString(FormattedMode))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    } finally spark.sql("DROP TABLE IF EXISTS graft_docs_by_hash")
  }

  test("q78 knn join: bucket EQUI-join — no cartesian/nested-loop, and " +
    "the corpus side is scanned once (probe masks explode the QUERY side)") {
    val df = q("q78_knn_join")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"knn join must stay an equi-join:\n$p")
    // the probe-mask Generate sits on the (tiny) query side; the corpus
    // relation appears once — multi-probe must not replicate the corpus.
    // (Walk the FINAL adaptive plan: FormattedMode's footer + initial-plan
    // sections render every scan node more than once.)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] =
      collect(pl) { case s: FileSourceScanExec => s }
    val n = scans(df.queryExecution.executedPlan).length
    assert(n <= 2, s"expected <=2 parquet scans (query + corpus), got $n:\n$p")
    assert(p.contains("Generate") && p.contains("explode"),
      s"probe-mask explode missing:\n$p")
  }

  test("q77 semantic dedup: candidate generation is bucket-local (equi-join " +
    "on _bucket), cosine verify not pushed into the join") {
    import graft.ext.Similarity
    val e = Q.t(spark, sfDir("0.001"), "embeddings")
    val pairs = Similarity.nearDupPairs(e, "vec_id", "embedding",
      dim = 64, threshold = 0.35, nBits = 4)
    val p = pairs.queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), s"bucketed pairs, not all-pairs:\n$p")
    // the expensive cosine must evaluate as a post-join Filter, not inside
    // the join condition where it would run per candidate-probe comparison
    val joinLines = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq ++
      p.linesIterator.filter(_.contains("ShuffledHashJoin")).toSeq
    assert(joinLines.forall(!_.contains("cosine_similarity")),
      s"cosine leaked into the join condition:\n$p")
  }

  test("entry: flagship plan is fully columnar parquet + codegen") {
    val df = SparkEntry.entry(spark)
    df.collect()
    val p = plan(df)
    assert(p.contains("Scan parquet"))
    assert(p.contains("codegen id"), p)
  }

  test("q103 interval join plans as an equi-join (no cartesian/nested-loop)") {
    val df = q("q103_interval_join")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range condition fell into an O(n*m) join:\n$p")
  }

  test("q93 rolling window is partitioned by user (no global single-task sort)") {
    val df = q("q93_rolling_1h")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the trailing-1h range window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"partition-less window would sort all events in one task:\n$w"))
  }

  test("q90 cdc merge: the only Window is over the change feed, partitioned") {
    val df = q("q90_cdc_merge")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // one latest-change window per merge branch (upserts + inserts reuse
    // the same feed subplan; Catalyst may or may not dedupe it)
    assert(windows.nonEmpty && windows.size <= 2, s"windows: ${windows.size}")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"partition-less window in the merge:\n$w"))
  }

  test("q171/q172 substring dedup: window STRINGS never cross an exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      collect(p) { case s: ShuffleExchangeExec => s }
    for (name <- Seq("q171_substring_dup_spans", "q172_winnowed_candidates")) {
      val df = q(name)
      val ex = shuffles(df.queryExecution.executedPlan)
      assert(ex.nonEmpty, s"$name should have hash/agg exchanges")
      // only the narrow parallelism rebalance may carry the raw text; every
      // OTHER exchange moves ids/positions/hashes — 8-byte longs, never the
      // per-window substrings (those exist only scan-side, pre-hash)
      val wide = ex.filterNot(
        _.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
      wide.foreach(e => assert(
        !e.child.schema.exists(_.dataType == StringType),
        s"$name: strings crossing a wide exchange: " +
          e.child.schema.catalogString))
    }
  }

  test("q174 domain score: marginal table broadcasts; no string shuffle " +
      "beyond the parallelism rebalance") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = q("q174_domain_score")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bucket marginals should broadcast-join the token stream:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token-side join must not sort-merge:\n$p")
  }

  test("q196/q203 histogram family: every window partitions on a real " +
    "column (bucket refinement, no whole-window sort)") {
    Seq("q196_hist_trailing_quantiles", "q203_hist_incremental").foreach {
      name =>
        val windows = q(name).queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
        windows.foreach(w => assert(w.partitionSpec.nonEmpty,
          s"$name: partition-less window (whole-window sort):\n$w"))
    }
  }

  test("q197 time travel: the data scan meets the resolved manifest as a " +
    "broadcast join; orders never sort-merge") {
    val p = plan(q("q197_time_travel"))
    assert(p.contains("BroadcastHashJoin"),
      s"manifest membership must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 15M-row data side must not sort-merge against 9 manifest rows:\n$p")
  }

  test("q205 kappa: the 1-NN candidate channel is a bucket equi-join — " +
    "every condition-less join is a scalar (1-row) cross, never a " +
    "data-sized nested loop") {
    val joins = q("q205_label_agreement_kappa")
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.isEmpty => j
      }
    joins.foreach { j =>
      assert(j.left.maxRows.contains(1L) || j.right.maxRows.contains(1L),
        s"condition-less join with neither side scalar:\n$j")
    }
  }
}
