package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

class LakeOpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // ------------------------------------------------------------ cdcMerge

  test("cdcMerge applies latest-wins upsert/delete/insert semantics") {
    val base = Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)
    ).toDF("k", "s", "v")
    val changes = Seq(
      // k=1: update at seq 1, then a later update at seq 2 → seq 2 wins
      (1L, Option("a1"), Option(11.0), "U", 1L),
      (1L, Option("a2"), Option(12.0), "U", 2L),
      // k=2: tombstone
      (2L, Option.empty[String], Option.empty[Double], "D", 1L),
      // k=5: brand-new insert
      (5L, Option("e"), Option(50.0), "I", 1L)
    ).toDF("k", "s", "v", "op", "op_seq")

    val merged = LakeOps.cdcMerge(base, changes, "k")
      .orderBy("k").as[(Long, String, Double)].collect()
    assert(merged.toSeq == Seq(
      (1L, "a2", 12.0), // latest update won
      (3L, "c", 30.0), // untouched passthrough
      (4L, "d", 40.0),
      (5L, "e", 50.0) // insert
    ))
  }

  test("cdcMerge breaks same-seq ties deterministically (delete beats upsert)") {
    val base = Seq((1L, 1.0)).toDF("k", "v")
    val changes = Seq(
      (1L, 2.0, "U", 7L),
      (1L, 0.0, "D", 7L) // same seq as the update: 'D' > 'U' lexically? no —
      // orderBy(seq desc, op desc): 'U' > 'D', so the UPDATE wins the tie.
    ).toDF("k", "v", "op", "op_seq")
    val merged = LakeOps.cdcMerge(base, changes, "k").collect()
    assert(merged.length == 1 && merged(0).getDouble(1) == 2.0)
  }

  test("cdcMerge delete of a nonexistent key is a no-op") {
    val base = Seq((1L, 1.0)).toDF("k", "v")
    val changes = Seq((9L, 0.0, "D", 1L)).toDF("k", "v", "op", "op_seq")
    assert(LakeOps.cdcMerge(base, changes, "k").count() == 1)
  }

  test("cdcMerge never shuffles the base's full width (feed broadcast, " +
    "anti join sees only the key column)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      collect(p) { case s: ShuffleExchangeExec => s }
    val base = spark.range(0, 200000)
      .select(col("id").as("k"), concat(lit("payload_"), col("id")).as("v"))
    val changes = spark.range(0, 50)
      .select((col("id") * 4000).as("k"), lit("updated").as("v"),
        lit("U").as("op"), lit(1L).as("op_seq"))
    val merged = LakeOps.cdcMerge(base, changes, "k")
    assert(merged.count() == 200000)
    // exchanges carrying a payload column are fine only on the FEED side
    // (the tiny change-feed window, recognizable by its op/seq columns)
    val wide = shuffles(merged.queryExecution.executedPlan)
      .filter(s => s.output.exists(_.name == "v") &&
        !s.output.exists(a => a.name == "op" || a.name == "op_seq"))
    assert(wide.isEmpty,
      "the base's payload column crossed an exchange — at lake scale that " +
        "is a full-table shuffle per merge:\n" +
        merged.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
  }

  test("snapshotDiff ∘ cdcMerge is the identity: merging the derived feed " +
    "into the old snapshot reproduces the new one") {
    val oldS = spark.range(0, 5000)
      .select(col("id").as("k"), (col("id") % 100).cast("double").as("v"),
        concat(lit("s"), col("id") % 5).as("tag"))
    // new version: drop %17, rewrite v for %7, add 300 fresh keys
    val newS = oldS.filter(col("k") % 17 =!= 0)
      .select(col("k"),
        when(col("k") % 7 === 0, col("v") * 2).otherwise(col("v")).as("v"),
        col("tag"))
      .unionByName(spark.range(10000, 10300)
        .select(col("id").as("k"), lit(1.5).as("v"), lit("new").as("tag")))
    val feed = LakeOps.snapshotDiff(oldS, newS, "k")
    // sanity on the op census
    val ops = feed.groupBy("op").count().as[(String, Long)].collect().toMap
    assert(ops("I") == 300)
    assert(ops("D") == math.ceil(5000.0 / 17).toLong)
    val merged = LakeOps.cdcMerge(oldS,
      feed.withColumn("op_seq", lit(1L)), "k")
    assert(merged.unionByName(newS).distinct().count() == newS.count(),
      "cdcMerge(old, diff(old,new)) must equal new")
    assert(merged.count() == newS.count())
  }

  // ------------------------------------------------------------- z-order

  test("zvalue2 interleaves bits (a on even positions, b on odd)") {
    val rows = Seq(
      (0xFFFFL, 0L, 0x55555555L),
      (0L, 0xFFFFL, 0xAAAAAAAAL),
      (0xFFFFL, 0xFFFFL, 0xFFFFFFFFL),
      (1L, 0L, 1L),
      (0L, 1L, 2L),
      (3L, 1L, 7L) // a=11, b=01 → z=0111
    ).toDF("a", "b", "want")
    val got = rows
      .select(LakeOps.zvalue2(col("a"), col("b")).as("z"), col("want"))
      .filter(col("z") =!= col("want"))
    assert(got.count() == 0)
  }

  test("zorderRepartition yields the requested partitioning with disjoint z-ranges") {
    val df = spark.range(0, 4096).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    val parts = LakeOps.zorderRepartition(df, col("a"), col("b"), 8)
    assert(parts.rdd.getNumPartitions == 8)
    // each partition must cover a z-range disjoint from every other's
    val ranges = parts
      .withColumn("z", LakeOps.zvalue2(col("a"), col("b")))
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg(min("z").as("lo"), max("z").as("hi"))
      .orderBy("lo")
      .as[(Int, Long, Long)].collect()
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  test("z-order clustering tightens per-file ranges on BOTH dimensions") {
    // 4096 points on a 64x64 grid, shuffled; 8 files each way
    val df = spark.range(0, 4096).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    def avgRange(assigned: org.apache.spark.sql.DataFrame, dim: String) =
      assigned.groupBy("f")
        .agg((max(col(dim)) - min(col(dim))).as("w"))
        .agg(avg("w")).head().getDouble(0)
    val byA = df.withColumn("f", floor(col("a") / 8)) // sorted-by-a layout
    val byZ = df
      .withColumn("z", LakeOps.zvalue2(shiftleft(col("a"), 10),
        shiftleft(col("b"), 10)))
      .withColumn("f", floor(col("z") / lit((1L << 32) / 8)))
    // a-sorted: perfect on a, useless on b (each file spans all of b)
    assert(avgRange(byA, "a") == 7.0)
    assert(avgRange(byA, "b") == 63.0)
    // z-order: bounded on BOTH dimensions
    assert(avgRange(byZ, "a") <= 32.0)
    assert(avgRange(byZ, "b") <= 32.0)
  }

  test("degenerate inputs: empty feed, identical snapshots, empty sides") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val emptyChanges = Seq.empty[(Long, String, String, Long)]
      .toDF("k", "v", "op", "op_seq")
    // empty feed → snapshot unchanged
    assert(LakeOps.cdcMerge(base, emptyChanges, "k").count() == 2)
    // diff of identical snapshots → empty feed
    assert(LakeOps.snapshotDiff(base, base, "k").count() == 0)
    // empty base: every non-D change is an insert
    val emptyBase = base.limit(0)
    val changes = Seq((5L, "e", "I", 1L), (6L, "x", "D", 1L))
      .toDF("k", "v", "op", "op_seq")
    val fromEmpty = LakeOps.cdcMerge(emptyBase, changes, "k")
      .as[(Long, String)].collect().toSeq
    assert(fromEmpty == Seq((5L, "e")))
    // diff against an empty old snapshot → all-inserts feed
    val allIns = LakeOps.snapshotDiff(emptyBase, base, "k")
    assert(allIns.count() == 2 &&
      allIns.filter(col("op") =!= "I").count() == 0)
  }

  // ---------------------------------------------------- compaction plan

  test("compactionPlan fills size-bounded bins in order, per partition") {
    val files = Seq(
      ("p1", 1L, 60L), ("p1", 2L, 60L), ("p1", 3L, 60L), // 60+60 fits, 3rd spills
      ("p1", 4L, 200L), // oversized file gets its own bin
      ("p2", 1L, 10L), ("p2", 2L, 10L)
    ).toDF("part", "fid", "bytes")
    val plan = LakeOps.compactionPlan(files, "part", "bytes", "fid", 128L)
      .orderBy("part", "fid")
      .select("part", "fid", "bin")
      .as[(String, Long, Long)].collect().toSeq
    assert(plan == Seq(
      ("p1", 1L, 0L), ("p1", 2L, 0L), ("p1", 3L, 0L), // 0,60,120 before
      ("p1", 4L, 1L), // 180 before → bin 1
      ("p2", 1L, 0L), ("p2", 2L, 0L)
    ))
  }

  // ---------------------------------------------------- mixture sampling

  test("mixtureSample is deterministic, capped at 1, and up-weights small domains") {
    val docs = spark.range(0, 1100).select(
      when(col("id") < 1000, "big").otherwise("small").as("g"),
      col("id").as("doc_id"))
    val s1 = Sampling.mixtureSample(docs, "g", "doc_id", targetRows = 300)
    val s2 = Sampling.mixtureSample(docs, "g", "doc_id", targetRows = 300)
    // deterministic: identical membership across invocations
    assert(s1.select("doc_id").except(s2.select("doc_id")).count() == 0)
    assert(s1.count() == s2.count())
    val bySrc = s1.groupBy("g").count().as[(String, Long)].collect().toMap
    // alpha=0.5: rate(small)/rate(big) = sqrt(big/small)·... small domains
    // sample at a strictly higher RATE than large ones
    val rateBig = bySrc.getOrElse("big", 0L).toDouble / 1000
    val rateSmall = bySrc.getOrElse("small", 0L).toDouble / 100
    assert(rateSmall > rateBig,
      s"small-domain rate $rateSmall should exceed big-domain rate $rateBig")
    // target far above corpus size → every rate capped at 1 → full corpus
    assert(Sampling.mixtureSample(docs, "g", "doc_id", 1000000).count() == 1100)
  }

  test("mixtureSample is a map-side filter over the corpus (rates broadcast)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      collect(p) { case s: ShuffleExchangeExec => s }
    val docs = spark.range(0, 10000).select(
      (col("id") % 7).cast("string").as("g"), col("id").as("doc_id"),
      concat(lit("body_"), col("id")).as("text"))
    val sampled = Sampling.mixtureSample(docs, "g", "doc_id", 1000)
    assert(sampled.count() > 0)
    // the only shuffles allowed are the tiny per-group aggregates (group +
    // count columns); the corpus' payload must never enter an exchange
    val wide = shuffles(sampled.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "text"))
    assert(wide.isEmpty,
      "corpus payload crossed an exchange — mixtureSample must stay " +
        "map-side at lake scale:\n" + sampled.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
  }

  // ---------------------------------------------------------------- scd2

  test("scd2 compresses unchanged runs into versions with effective ranges") {
    val feed = Seq(
      // key 1: A A B A → versions A(1-3) B(3-4) A(4-) ; duplicates collapse
      (1L, 1L, "A"), (1L, 2L, "A"), (1L, 3L, "B"), (1L, 4L, "A"),
      // key 2: single observation → one current version
      (2L, 1L, "X")
    ).toDF("k", "seq", "attr")
    val dim = LakeOps.scd2(feed, Seq("k"), Seq("seq"), Seq("attr"))
      .select("k", "version_no", "attr", "effective_from", "effective_to",
        "is_current")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().toSeq.sorted
    assert(dim == Seq(
      (1L, 1L, "A", 1L, Some(3L), false),
      (1L, 2L, "B", 3L, Some(4L), false),
      (1L, 3L, "A", 4L, None, true),
      (2L, 1L, "X", 1L, None, true)))
  }

  test("scd2 treats null attributes null-safely (null→null is no change)") {
    val feed = Seq[(Long, Long, String)](
      (1L, 1L, null), (1L, 2L, null), (1L, 3L, "v"), (1L, 4L, null)
    ).toDF("k", "seq", "attr")
    val dim = LakeOps.scd2(feed, Seq("k"), Seq("seq"), Seq("attr"))
      .select("k", "version_no", "attr")
      .as[(Long, Long, Option[String])].collect().toSeq.sorted
    assert(dim == Seq(
      (1L, 1L, None), (1L, 2L, Some("v")), (1L, 3L, None)))
  }

  test("scd2Merge equals batch rebuild on every boundary shape") {
    // shapes across the prefix/increment boundary (seq <= 3 | seq > 3):
    //  k=1 change AT the boundary, k=2 unchanged across it (absorption),
    //  k=3 prefix-only, k=4 increment-only, k=5 multi-change increment,
    //  k=6 nulls on both sides of the boundary
    val full = Seq[(Long, Long, String)](
      (1L, 1L, "A"), (1L, 2L, "A"), (1L, 4L, "B"),
      (2L, 1L, "X"), (2L, 3L, "X"), (2L, 4L, "X"), (2L, 6L, "Y"),
      (3L, 1L, "P"), (3L, 2L, "Q"),
      (4L, 5L, "N"), (4L, 6L, "M"),
      (5L, 2L, "a"), (5L, 4L, "b"), (5L, 5L, "c"), (5L, 6L, "b"),
      (6L, 3L, null), (6L, 4L, null), (6L, 5L, "v")
    ).toDF("k", "seq", "attr")
    val dim = LakeOps.scd2(full.filter(col("seq") <= 3),
      Seq("k"), Seq("seq"), Seq("attr"))
    val merged = LakeOps.scd2Merge(dim, full.filter(col("seq") > 3),
      Seq("k"), Seq("seq"), Seq("attr"))
    val rebuilt = LakeOps.scd2(full, Seq("k"), Seq("seq"), Seq("attr"))
    val proj = (df: org.apache.spark.sql.DataFrame) =>
      df.select("k", "version_no", "attr", "effective_from", "effective_to",
        "is_current")
        .as[(Long, Long, Option[String], Long, Option[Long], Boolean)]
        .collect().toSeq.sortBy(r => (r._1, r._2))
    assert(proj(merged) == proj(rebuilt))
  }

  test("scd2 is incremental: rerun on feed ∪ increment reproduces history") {
    val full = Seq(
      (1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "B"), (1L, 4L, "C"))
      .toDF("k", "seq", "attr")
    val prefix = full.filter(col("seq") <= 2)
    val out = (df: org.apache.spark.sql.DataFrame) =>
      LakeOps.scd2(df, Seq("k"), Seq("seq"), Seq("attr"))
        .select("k", "version_no", "attr", "effective_from")
        .as[(Long, Long, String, Long)].collect().toSeq.sorted
    // versions already closed in the prefix run are byte-identical in the
    // full run (append-friendliness: history is a pure feed function)
    assert(out(full).take(2) == out(prefix).take(2))
    assert(out(full) == Seq((1L, 1L, "A", 1L), (1L, 2L, "B", 2L),
      (1L, 3L, "C", 4L)))
  }

  test("incrementalJoinRefresh equals the batch join with every delta " +
    "quadrant populated; deltas broadcast") {
    import spark.implicits._
    val left = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "lv")
    val right = Seq((1L, 10), (2L, 20), (3L, 30), (4L, 40), (2L, 21))
      .toDF("k", "rv")
    val (oldL, dL) = (left.filter(col("k") <= 2), left.filter(col("k") > 2))
    val (oldR, dR) = (right.filter(col("rv") % 2 === 0),
      right.filter(col("rv") % 2 =!= 0))
    val refreshed = LakeOps.incrementalJoinRefresh(
      oldL.join(oldR, "k"), oldL, dL, oldR, dR, "k")
    val batch = left.join(right, "k")
    assert(refreshed.select("k", "lv", "rv").as[(Long, String, Int)]
      .collect().sorted.toSeq ==
      batch.select("k", "lv", "rv").as[(Long, String, Int)]
        .collect().sorted.toSeq)
    val plan = refreshed.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, plan)
  }

  test("rendezvous reshard moves only keys won by the new shard") {
    import spark.implicits._
    val keys = (1L to 5000L).toDF("id")
    val census = LakeOps
      .rendezvousReshardCensus(keys, "id", nShardsBefore = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(census.length == 9)
    // the minimal-movement theorem: moved_in = 0 except on the new shard
    census.filter(_._1 < 8).foreach { case (s, _, _, moved) =>
      assert(moved == 0L, s"shard $s gained rows on scale-out")
    }
    val newShard = census.find(_._1 == 8L).get
    assert(newShard._4 == newShard._3 && newShard._2 == 0L)
    // expected movement ≈ 1/9 of keys; allow wide tolerance
    assert(newShard._3 > 5000 / 9 / 2 && newShard._3 < 5000 / 9 * 2)
    // conservation of rows
    assert(census.map(_._3).sum == 5000L && census.map(_._2).sum == 5000L)
    // portable hash family obeys the same theorem (the oracle path)
    val port = LakeOps
      .rendezvousReshardCensus(keys, "id", 8, portable = true)
      .as[(Long, Long, Long, Long)].collect()
    port.filter(_._1 < 8).foreach(r => assert(r._4 == 0L))
  }

  // ------------------------------------------------------ hilbert_index

  test("hilbert_index: d2xy inverse round-trips across the 2^32 domain, " +
    "consecutive d are ALWAYS unit-step adjacent (the locality Morton " +
    "lacks), and the Column path matches the driver walk") {
    import graft.functions.HilbertIndex2
    // classical inverse (test-only): walk d back to (x, y) on the
    // order-16 grid — an independent reconstruction of the curve, so a
    // sign/rotation drift in compute() cannot self-verify
    def d2xy(dIn: Long): (Int, Int) = {
      var x = 0; var y = 0
      var t = dIn
      var s = 1
      while (s < 65536) {
        val rx = (1L & (t / 2)).toInt
        val ry = (1L & (t ^ rx)).toInt
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx
        y += s * ry
        t /= 4
        s *= 2
      }
      (x, y)
    }
    val domain = (1L << 32) - 1
    val sampled = Seq(0L, 1L, 2L, 3L, domain, domain - 1, 1L << 31,
      (1L << 31) - 1) ++ (1 to 4000).map(i => i * 1073741L % domain)
    for (d <- sampled) {
      val (x, y) = d2xy(d)
      assert(HilbertIndex2.compute(x, y) == d, s"xy2d(d2xy($d))")
      // unit-step adjacency: d and d+1 are neighboring grid cells
      if (d < domain) {
        val (x2, y2) = d2xy(d + 1)
        assert(math.abs(x2 - x) + math.abs(y2 - y) == 1,
          s"d=$d: ($x,$y) -> ($x2,$y2) is not a unit step")
      }
    }
    // inputs are masked to 16 bits — any long is accepted
    assert(HilbertIndex2.compute(65536L + 3, 70000L) ==
      HilbertIndex2.compute(3, 70000L % 65536))
    // the quadrant seam where Morton jumps: z consecutive pair
    // (32767,65535)->(32768,0) teleports; Hilbert never does (above)
    // Column path (codegen) == driver walk
    val pts = (0 until 512).map(i => (i * 131L % 65536, i * 773L % 65536))
    val got = pts.toDF("x", "y")
      .select(LakeOps.hvalue2(col("x"), col("y")).as("h"))
      .as[Long].collect()
    assert(got.toSeq == pts.map { case (x, y) => HilbertIndex2.compute(x, y) })
  }
}
