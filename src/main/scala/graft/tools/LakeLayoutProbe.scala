package graft.tools

import graft.GraftSession
import graft.io.Layers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** MEASURED 100× evidence for the partitioned/bucketed lake layouts
  * (r7 VERDICT #5): `Layers.writePartitionedByDay` / `writeBucketed` were
  * plan-pinned (PipelineSpec, PlanSpec) but carried no at-scale numbers.
  * This probe writes the 100× replicas into both layouts once (the
  * amortized write cost is itself recorded) and then measures what the
  * layout buys at read time:
  *
  *  - day-partitioned events: a one-day census reads ~1/30 of the files
  *    (source-side partition pruning — `numFiles` from the scan metrics);
  *  - DPP: the same partitioned table joined to a FILTERED date dim plans
  *    a `dynamicpruning` partition filter — files pruned at runtime by
  *    the dim's values, no static predicate on the fact at all;
  *  - bucketed lineitem ⋈ orders on the order key: the join runs with
  *    ZERO pre-join exchanges (the write-time shuffle, paid once, is
  *    amortized over every downstream join/agg on the key).
  *
  * Writes LAYOUT JSON to stdout and `outJson`.
  *
  * Usage: runMain graft.tools.LakeLayoutProbe [dir100] [outJson]
  */
object LakeLayoutProbe extends AdaptiveSparkPlanHelper {

  private def numFilesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.metrics("numFiles").value }.sum

  /** Bytes of the files selected by the scan (post partition pruning) —
    * the pruning readout that stays meaningful even when the unpruned
    * source is a single file.
    */
  private def bytesScanned(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.metrics("filesSize").value }.sum

  private def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e }.size

  private def sorts(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s }.size

  /** Time via collect(): every probe query aggregates to ≤ a handful of
    * rows, and collect executes THIS DataFrame's QueryExecution — the
    * scan/exchange metrics read afterwards belong to the run that was
    * timed (a noop write plans a separate execution and leaves this one's
    * metrics at zero).
    */
  private def timeCollect(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale100")
    val outJson = args.drop(1).headOption.getOrElse("LAYOUT_r09.json")
    val spark = GraftSession.quiet(GraftSession.local("layout-probe"))
    val sections = scala.collection.mutable.LinkedHashMap[String, String]()

    // ---------------------------------------------- day-partitioned events
    // events ts is TIMESTAMP(NANOS) → micros via the Q.t convention
    val events = graft.queries.Q.t(spark, dir, "events")
    val partedPath = "/tmp/graft_layout/events_byday.parquet"
    val tW0 = System.nanoTime()
    // day clustering is the sink's own behavior since r8 (one file per
    // day by default; filesPerDay is the big-day knob)
    Layers.writePartitionedByDay(events, "ts", partedPath)
    val writeSec = (System.nanoTime() - tW0) / 1e9

    def dayCensus(src: DataFrame, dayFilter: org.apache.spark.sql.Column) =
      src.filter(dayFilter)
        .groupBy("event_type").agg(count(lit(1)).cast("long").as("n"))

    val day = events.select(to_date(col("ts")).as("d"))
      .groupBy("d").count().orderBy(desc("count")).limit(1)
      .head().getDate(0).toString

    val plainQ = dayCensus(events, to_date(col("ts")) === lit(day))
    val plainSec = timeCollect(plainQ)
    val parted = spark.read.parquet(partedPath)
    val partQ = dayCensus(parted, col("_p_date") === lit(day))
    val partSec = timeCollect(partQ)
    val (fPlain, fPart) = (numFilesRead(plainQ), numFilesRead(partQ))
    val (bPlain, bPart) = (bytesScanned(plainQ), bytesScanned(partQ))
    require(bPart * 5 < bPlain,
      s"pruning failed: scanned $bPart of $bPlain bytes")
    sections("events_day_partitioned") =
      s"""{"write_once_sec": ${f(writeSec)}, "day": "$day",
         | "plain": {"sec": ${f(plainSec)}, "files_read": $fPlain,
         | "bytes_scanned": $bPlain},
         | "partitioned": {"sec": ${f(partSec)}, "files_read": $fPart,
         | "bytes_scanned": $bPart}}"""
        .stripMargin.replace("\n", "")
    println(s"[layout] events day census: plain ${f(plainSec)}s/$fPlain files/" +
      s"$bPlain B, partitioned ${f(partSec)}s/$fPart files/$bPart B " +
      s"(write-once ${f(writeSec)}s)")

    // ---------------------------------------------- DPP against a date dim
    // the fact carries NO static date predicate: the runtime values of the
    // filtered dim prune its partitions (dynamicpruning in PartitionFilters)
    // the dim needs a SELECTIVE FILTER for PartitionPruning's benefit
    // heuristic to engage, and a DATE-typed key (partition discovery
    // infers _p_date as DATE on read-back)
    val dim = spark.range(0, 100)
      .filter(col("id") < 3)
      .select(
        date_add(lit(java.sql.Date.valueOf(day)), col("id").cast("int"))
          .as("_p_date"),
        concat(lit("w"), col("id")).as("weight"))
    val dppQ = parted.join(dim, Seq("_p_date"))
      .groupBy("weight").agg(count(lit(1)).cast("long").as("n"))
    val dppSec = timeCollect(dppQ)
    val dppFiles = numFilesRead(dppQ)
    val dppPlanned = dppQ.queryExecution.executedPlan.toString
      .contains("dynamicpruning")
    require(dppPlanned, "expected a dynamicpruning partition filter")
    sections("events_dpp_date_dim") =
      s"""{"sec": ${f(dppSec)}, "files_read": $dppFiles,
         | "dpp_planned": $dppPlanned, "dim_days": 3}"""
        .stripMargin.replace("\n", "")
    println(s"[layout] DPP 3-day dim join: ${f(dppSec)}s, $dppFiles files, " +
      s"dynamicpruning=$dppPlanned")

    // ---------------------------------------------- bucketed order join
    def orderJoin(li: DataFrame, o: DataFrame): DataFrame =
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum(col("l_extendedprice")).as("revenue"))

    val liP = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")
    val oP = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    val plainJ = orderJoin(liP.hint("SHUFFLE_HASH"), oP)
    val plainJSec = timeCollect(plainJ)
    val (plainJEx, plainJSorts) = (exchanges(plainJ), sorts(plainJ))

    def dropTable(tn: String): Unit = {
      // a previously killed run can leave table files with no metastore
      // entry (the PipelineSpec locationAlreadyExists lesson)
      spark.sql(s"DROP TABLE IF EXISTS $tn")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tn)
      if (loc.isDirectory) {
        def rm(x: java.io.File): Unit = {
          if (x.isDirectory) x.listFiles().foreach(rm)
          x.delete(); ()
        }
        rm(loc)
      }
    }

    // bucket-count sweep (r8 VERDICT #2 adjudication): writeBucketed now
    // clusters rows by the bucket keys, so each bucket is ONE file and the
    // sortBy metadata survives to the scan — the SMJ should plan with
    // ZERO sorts on the fact. Record 16/32/64 buckets so the guidance
    // carries numbers, not an assertion.
    val bktVariants = Seq(16, 32, 64).map { nb =>
      val (tl, to) = (s"layout_lineitem_bkt_$nb", s"layout_orders_bkt_$nb")
      dropTable(tl); dropTable(to)
      val tB0 = System.nanoTime()
      Layers.writeBucketed(liP, tl, Seq("l_orderkey"), nb)
      Layers.writeBucketed(oP, to, Seq("o_orderkey"), nb)
      val wSec = (System.nanoTime() - tB0) / 1e9
      val j = orderJoin(spark.table(tl), spark.table(to))
      val sec = timeCollect(j)
      val (ex, so, nf) = (exchanges(j), sorts(j), numFilesRead(j))
      println(s"[layout] order join bucketed($nb): ${f(sec)}s, $ex exchanges, " +
        s"$so sorts, $nf files (write-once ${f(wSec)}s)")
      dropTable(tl); dropTable(to)
      (nb, wSec, sec, ex, so, nf)
    }
    val b32 = bktVariants.find(_._1 == 32).get
    // the only exchange left is the 5-row priority aggregation's
    require(b32._4 < plainJEx,
      s"bucketing failed to remove join exchanges: ${b32._4} vs $plainJEx")

    // sorted-scan variant: since Spark 3.0 the bucketed scan DISCARDS the
    // sortBy metadata unless the legacy conf restores it (one file per
    // bucket is necessary but not sufficient) — measure what the sort
    // elision is actually worth at 64 buckets
    val (tl64, to64) = ("layout_li_ss", "layout_o_ss")
    dropTable(tl64); dropTable(to64)
    Layers.writeBucketed(liP, tl64, Seq("l_orderkey"), 64)
    Layers.writeBucketed(oP, to64, Seq("o_orderkey"), 64)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val ssJ = orderJoin(spark.table(tl64), spark.table(to64))
    val ssSec = timeCollect(ssJ)
    val (ssEx, ssSorts) = (exchanges(ssJ), sorts(ssJ))
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    dropTable(tl64); dropTable(to64)
    println(s"[layout] order join bucketed(64)+sortedScan: ${f(ssSec)}s, " +
      s"$ssEx exchanges, $ssSorts sorts")

    // plain re-timed WARM so the layout comparison isn't charged for the
    // first variant's cold source read
    val plainW = orderJoin(liP.hint("SHUFFLE_HASH"), oP)
    val plainWSec = timeCollect(plainW)
    println(s"[layout] order join plain (warm): ${f(plainWSec)}s")

    val variantJson = bktVariants.map { case (nb, w, sec, ex, so, nf) =>
      s""""bucketed_$nb": {"write_once_sec": ${f(w)}, "sec": ${f(sec)},
         | "exchanges": $ex, "sorts": $so, "files_read": $nf}"""
        .stripMargin.replace("\n", "")
    }.mkString(", ")
    sections("lineitem_orders_bucketed_join") =
      s"""{"plain": {"sec": ${f(plainJSec)}, "warm_sec": ${f(plainWSec)},
         | "exchanges": $plainJEx, "sorts": $plainJSorts}, $variantJson,
         | "bucketed_64_sortedscan": {"sec": ${f(ssSec)},
         | "exchanges": $ssEx, "sorts": $ssSorts}}"""
        .stripMargin.replace("\n", "")
    println(s"[layout] order join: plain ${f(plainJSec)}s/$plainJEx exchanges/" +
      s"$plainJSorts sorts")

    // ------------------------------------- curve-clustered physical scans
    // the q242 census measured RELATIONAL skipping; this is the physical
    // readout: write lineitem clustered three ways (single-column range,
    // Morton, Hilbert — 64 range-partitioned files each, one row group
    // per file), then time a box predicate on each dimension. Spark does
    // no FILE-level min/max pruning on bare parquet, so the evidence is
    // the parquet reader's ROW-GROUP pruning: the scan's numOutputRows
    // is what survived the pushed filter's row-group stats.
    val liAB = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_partkey") % 65536).as("a"),
        (col("l_suppkey") % 65536).as("b"))
    def scanRows(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) {
        case fs: FileSourceScanExec => fs.metrics("numOutputRows").value }.sum
    val curveLayouts = Seq[(String, DataFrame => DataFrame)](
      ("linear", d => d.repartitionByRange(64, col("a"))
        .sortWithinPartitions("a")),
      ("zorder", d => graft.ext.LakeOps.zorderRepartition(
        d, col("a"), col("b"), 64)),
      ("hilbert", d => graft.ext.LakeOps.hilbertRepartition(
        d, col("a"), col("b"), 64)))
    val curveJson = curveLayouts.map { case (name, cluster) =>
      val path = s"/tmp/graft_layout/li_curve_$name.parquet"
      val tc0 = System.nanoTime()
      cluster(liAB).write.mode("overwrite").parquet(path)
      val wSec = (System.nanoTime() - tc0) / 1e9
      val src = spark.read.parquet(path)
      def census(pred: org.apache.spark.sql.Column) =
        src.filter(pred).agg(count(lit(1)).cast("long").as("n"))
      val aQ = census(col("a").between(100, 199))
      val aSec = timeCollect(aQ)
      val aRows = scanRows(aQ)
      val bQ = census(col("b").between(2, 5))
      val bSec = timeCollect(bQ)
      val bRows = scanRows(bQ)
      println(s"[layout] curve $name: a-pred ${f(aSec)}s/$aRows scan rows, " +
        s"b-pred ${f(bSec)}s/$bRows scan rows (write-once ${f(wSec)}s)")
      s""""$name": {"write_once_sec": ${f(wSec)},
         | "a_pred": {"sec": ${f(aSec)}, "scan_rows": $aRows},
         | "b_pred": {"sec": ${f(bSec)}, "scan_rows": $bRows}}"""
        .stripMargin.replace("\n", "")
    }.mkString(", ")
    sections("lineitem_curve_clustered_scan") = s"{$curveJson}"

    val json = sections.map { case (k, v) => s""""$k": $v""" }
      .mkString("{\"metric\": \"lake_layout_100x\", ", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(json)
    println(s"[layout] wrote $outJson")
    spark.stop()
  }

  private def f(d: Double): String = f"$d%.2f"
}
