package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // long-ish docs so simhash bit sums are stable; doc 2 differs from 0 by
  // a single token out of ~40
  private val baseText =
    "the quick brown fox jumps over the lazy dog near the river bank " +
      "while morning fog settles across the quiet valley and distant hills " +
      "as farmers begin their daily work in the golden fields of wheat"
  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, baseText),
      (1L, baseText), // exact dup of 0
      (2L, baseText.replace("golden", "amber")), // near dup of 0
      (3L, "completely different content about spark query engines and shuffles"),
      (4L, "another unrelated document discussing parquet column pruning"),
      (5L, "")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps lowest id per content") {
    val out = Dedup.exact(docs, "doc_id", Seq("text"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 2L, 3L, 4L, 5L))
  }

  test("dupGroups reports duplicate clusters") {
    val g = Dedup.dupGroups(docs, "doc_id", Seq("text")).collect()
    assert(g.length == 1 && g.head.getAs[Long]("n_dups") == 2 &&
      g.head.getAs[Long]("keep_id") == 0L)
  }

  test("native portable_hash60 is bit-identical to the composable " +
    "md5/conv twin on strings, binaries, and nulls") {
    import spark.implicits._
    val rows = (Seq("", "a", "hello world", "δüñ†", "x" * 1000)
      .map(Option(_)) :+ Option.empty[String]).toDF("s")
    val cmp = rows.select(
      Dedup.portableHash60(col("s")).as("native"),
      Dedup.portableHash60Composable(col("s")).as("twin"))
    assert(cmp.filter(not(col("native") <=> col("twin"))).count() == 0)
    // and over a large generated key space (codegen path)
    val big = spark.range(0, 10000)
      .select(concat(lit("k|"), col("id").cast("string")).as("s"))
    val diff = big.select(
      Dedup.portableHash60(col("s")).as("native"),
      Dedup.portableHash60Composable(col("s")).as("twin"))
      .filter(not(col("native") <=> col("twin")))
    assert(diff.count() == 0)
  }

  test("native deletion_sig_hashes is bit-identical to the composable " +
    "transform/xxhash64 form, including multibyte and degenerate strings") {
    import spark.implicits._
    val rows = (Seq("", "a", "ab", "abc#12", "naïve δx", "x" * 200)
      .map(Option(_)) :+ Option.empty[String]).toDF("s")
    val twin = transform(sequence(lit(0), length(col("s"))), i =>
      xxhash64(when(i === 0, col("s")).otherwise(concat(
        col("s").substr(lit(1), i - 1),
        col("s").substr(i + 1, length(col("s")) - i)))))
    val cmp = rows.select(
      call_function("deletion_sig_hashes", col("s")).as("native"),
      twin.as("hof"))
    assert(cmp.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("jaccard: exact value on known sets") {
    import spark.implicits._
    val d = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(math.abs(d.head().getDouble(0) - 0.5) < 1e-12) // |{b,c}|/|{a,b,c,d}|
  }

  test("minhash pairs find exact and near dups, not unrelated docs") {
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"exact dup pair missing from $keys")
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)),
      s"near dup pair missing from $keys")
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L))
    val exact = pairs.find(p => (p._1, p._2) == (0L, 1L)).get
    assert(exact._3 == 1.0)
  }

  test("portable minhash pairs: same planted dups recovered; verify values " +
    "are exact string-set Jaccard; dedup twin keeps lowest ids") {
    val pairs = Dedup.minHashPairsPortable(docs, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"exact dup pair missing from $keys")
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L))
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    // every reported jaccard equals the brute-force string-gram value
    val gramSets = docs.select(col("doc_id"),
      Dedup.wordNgrams(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.foreach { case (a, b, j) =>
      val (ga, gb) = (gramSets(a), gramSets(b))
      val expect = if ((ga ++ gb).isEmpty) 0.0
        else (ga & gb).size.toDouble / (ga ++ gb).size
      assert(math.abs(j - BigDecimal(expect).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"($a,$b): $j vs $expect")
    }
    val kept = Dedup.minHashDedupPortable(docs, "doc_id", "text",
      threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.head == 0L && !kept.contains(1L), s"kept $kept")
  }

  test("minHashDedup drops near-duplicates, keeps lowest id") {
    val kept = Dedup.minHashDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 3L, 4L, 5L), s"kept $kept")
  }

  test("native sim_hash_votes is bit-identical to the explode/groupBy twin " +
    "in both hash families, including multibyte and token-heavy docs") {
    import spark.implicits._
    val messy = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (100L, "δüñ† multi βyte tokens δüñ†"),
        (101L, ("tok " * 500).trim),
        (102L, "single")).toDF("doc_id", "text"))
    for (portable <- Seq(false, true); nBits <- Seq(16, 32, 64)) {
      val native = Dedup.simHash(messy, "doc_id", "text", portable, nBits)
      val twin = Dedup.simHashExpandedTwin(messy, "doc_id", "text",
        portable, nBits)
      val diff = native.as("n")
        .join(twin.as("t"), Seq("doc_id"), "full")
        .filter(not(col("n.simhash") <=> col("t.simhash")))
      assert(diff.count() == 0, s"portable=$portable nBits=$nBits")
    }
  }

  test("simhash: identical docs distance 0, near dups close, others far") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("hamming")).toMap
    assert(pairs((0L, 1L)) == 0L)
    assert(pairs.get((0L, 2L)).exists(_ <= 16L))
    assert(!pairs.contains((3L, 4L)))
  }

  test("ngram jaccard pairs within groups") {
    import spark.implicits._
    val grouped = docs.withColumn("g", lit("all"))
    val pairs = Dedup.ngramJaccardPairs(grouped, "doc_id", "text",
      Seq("g"), n = 2, minSim = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("clusterIds: chains collapse to one component, disjoint pairs stay apart") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 plus separate 10-11 plus 20-21-22 star
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("id_a", "id_b")
    val labels = Dedup.clusterIds(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L), s"chain: $labels")
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(labels(_) == 20L))
  }

  test("clusterIds: a 60-hop chain converges (pointer jumping, not " +
    "one-hop-per-round propagation)") {
    import spark.implicits._
    // diameter 60 >> maxIterations: per-round neighbor-min alone would
    // stop early with silently wrong labels — the label-of-label shortcut
    // must close it in O(log n) rounds
    val pairs = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.clusterIds(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 61)
    assert(labels.values.forall(_ == 0L),
      s"every chain node must label 0: ${labels.filter(_._2 != 0L)}")
  }

  test("clusterIds composes with minHashPairs for transitive dedup groups") {
    val clusters = Dedup.clusterIds(
      Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 0, 1, 2 are one near-dup family
    assert(clusters(0L) == 0L && clusters(1L) == 0L && clusters(2L) == 0L)
    assert(!clusters.contains(3L) && !clusters.contains(4L))
  }

  test("incremental dedup against a persisted signature index") {
    import spark.implicits._
    // corpus indexed once: only signatures persisted, text discarded
    val dir = java.nio.file.Files.createTempDirectory("sigidx").toString
    val corpusSigs = Dedup.minHashSignatures(docs, "doc_id", "text")
    corpusSigs.write.mode("overwrite").parquet(s"$dir/sigs")
    val index = spark.read.parquet(s"$dir/sigs")

    // new batch: 10 = exact dup of corpus 0, 11 = near dup, 12 = fresh
    val batch = Seq(
      (10L, baseText),
      (11L, baseText.replace("quiet", "silent")),
      (12L, "entirely novel text about adaptive query execution runtime")
    ).toDF("doc_id", "text")

    val pairs = Dedup.minHashPairsAgainstIndex(
      batch, "doc_id", "text", index, threshold = 0.5)
    val byNew = pairs.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    // exact dup: matches both copies (0, 1) at estimate 1.0, and may also
    // catch 2 (itself a ~0.95-jaccard near dup of 0) — correct behavior
    assert(Set(0L, 1L).subsetOf(byNew(10L)) && byNew(10L).subsetOf(Set(0L, 1L, 2L)))
    assert(pairs.filter(col("id_new") === 10L && col("id_corpus").isin(0L, 1L))
      .select(min(col("est_jaccard"))).head().getDouble(0) == 1.0)
    // near dup caught via the index alone
    assert(byNew.contains(11L) && byNew(11L).subsetOf(Set(0L, 1L, 2L)))
    // fresh doc: no pairs
    assert(!byNew.contains(12L))

    // estimator accuracy: est within 0.2 of the true shingle jaccard
    val est = pairs.filter(col("id_new") === 11L && col("id_corpus") === 0L)
      .select("est_jaccard").head().getDouble(0)
    val truth = docs.filter(col("doc_id") === 0L)
      .select(wordNgramsCol)
      .crossJoin(batch.filter(col("doc_id") === 11L).select(
        Dedup.wordNgrams(col("text")).as("_b")))
      .select(Dedup.jaccardComposable(col("_a"), col("_b"))).head().getDouble(0)
    assert(math.abs(est - truth) < 0.2, s"est $est vs true $truth")
  }

  private def wordNgramsCol =
    Dedup.wordNgrams(col("text")).as("_a")

  test("wordNgrams: empty text yields empty set; short text one gram") {
    import spark.implicits._
    val d = Seq("", "one two", "a b c d").toDF("t")
      .select(Dedup.wordNgrams(col("t"), 3).as("g"))
    val sizes = d.collect().map(_.getSeq[String](0).length).toSeq
    assert(sizes == Seq(0, 1, 2))
  }

  test("fuzzyLinkPairs: recall survives edits at either end, no cartesian") {
    import spark.implicits._
    // edits at the head (breaks the prefix block), the tail (breaks the
    // suffix block), and the middle (breaks neither) must all be found;
    // an unrelated string within the length band must not match
    val right = Seq((1L, "abcdefghij"), (2L, "qrstuvwxyz"))
      .toDF("rid", "rs")
    val left = Seq(
      (101L, "bcdefghij"), // head deletion of rid=1
      (102L, "abcdefghi"), // tail deletion of rid=1
      (103L, "abcdfghij"), // middle deletion of rid=1
      (104L, "zzzzzzzzz") // no match
    ).toDF("lid", "ls")
    val pairs = Dedup.fuzzyLinkPairs(left, "lid", "ls", right, "rid", "rs")
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(pairs == Set((101L, 1L), (102L, 1L), (103L, 1L)))
    val plan = Dedup.fuzzyLinkPairs(left, "lid", "ls", right, "rid", "rs")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("fuzzyLinkPairs: no exchange carries an UNVERIFIED candidate pair " +
    "(both strings only cross a shuffle alongside edit_distance)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      collect(p) { case s: ShuffleExchangeExec => s }
    // ids LEAD the strings so prefix blocks stay diverse (a shared literal
    // prefix would make one quadratic block); broadcast is disabled so the
    // block joins actually plan their exchanges
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val right = spark.range(0, 5000)
        .selectExpr("id AS rid", "concat(id, '_abcdefgh')  AS rs")
      val left = spark.range(0, 5000)
        .selectExpr("id AS lid", "concat(id, '_abcdefg') AS ls") // tail del
      val pairs = Dedup.fuzzyLinkPairs(left, "lid", "ls", right, "rid", "rs")
      assert(pairs.count() > 0)
      val unverified = shuffles(pairs.queryExecution.executedPlan)
        .filter { s =>
          val names = s.output.map(_.name)
          names.contains("s_l") && names.contains("s_r") &&
            !names.contains("edit_distance")
        }
      assert(unverified.isEmpty,
        s"unverified pair crossed an exchange: ${unverified.map(_.output.map(_.name))}")
      // sanity: the verified-pair dedup exchange IS present (not broadcast away)
      assert(shuffles(pairs.queryExecution.executedPlan).nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fuzzyLinkPairs maxDist>=2: cross-pass dedup moves id pairs only " +
    "(no exchange carries both string payloads)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      collect(p) { case s: ShuffleExchangeExec => s }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val right = spark.range(0, 3000)
        .selectExpr("id AS rid", "concat(id, '_abcdefgh') AS rs")
      val left = spark.range(0, 3000)
        .selectExpr("id AS lid", "concat(id, '_abcdef') AS ls") // 2 tail dels
      val pairs = Dedup.fuzzyLinkPairs(left, "lid", "ls", right, "rid", "rs",
        maxDist = 2)
      assert(pairs.count() > 0)
      // correctness: found via prefix AND suffix passes, deduped once each
      val got = pairs.select("id_l", "id_r").collect()
      assert(got.length == got.distinct.length, "cross-pass dedup failed")
      // the r6 discipline: post-verify exchanges never carry BOTH string
      // payloads — the union-distinct and the rejoin move ids (+ distance
      // / a single side's string) only
      val wide = shuffles(pairs.queryExecution.executedPlan)
        .filter { s =>
          val names = s.output.map(_.name)
          names.contains("s_l") && names.contains("s_r")
        }
      assert(wide.isEmpty,
        s"both strings crossed an exchange: ${wide.map(_.output.map(_.name))}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("containmentPairs finds snippet-in-document that Jaccard misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j", "en"), // big doc
      (2L, "a b c", "en"),               // snippet of 1: containment 1.0
      (3L, "a b x", "en"),               // 2/3 contained → below 0.8
      (4L, "a b c", "de")                // right text, wrong block
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      groupCols = Seq("lang"), n = 1, minContainment = 0.8)
    val rows = out.select("contained_id", "container_id", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows == Seq((2L, 1L, 1.0)))
    // sanity: the found pair's Jaccard is far below any useful threshold
    assert(3.0 / 10.0 < 0.5)
  }

  test("containmentPairs tie on equal sets keeps lower id as contained") {
    import spark.implicits._
    val docs = Seq(
      (5L, "x y z", "en"),
      (9L, "x y z", "en")
    ).toDF("doc_id", "text", "lang")
    val rows = Dedup.containmentPairs(docs, "doc_id", "text", Seq("lang"))
      .select("contained_id", "container_id").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((5L, 9L)))
  }

  test("containmentPairs: empty-text docs never pass the threshold") {
    import spark.implicits._
    val docs = Seq(
      (1L, "", "en"), (2L, "", "en"), (3L, "a b", "en")
    ).toDF("doc_id", "text", "lang")
    val rows = Dedup.containmentPairs(docs, "doc_id", "text", Seq("lang"))
      .collect()
    assert(rows.isEmpty)
  }

  test("containmentPairs plan: intersection predicate not pushed into join") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d", "en"), (2L, "a b", "en"))
      .toDF("doc_id", "text", "lang")
    val plan = Dedup.containmentPairs(docs, "doc_id", "text", Seq("lang"))
      .queryExecution.executedPlan.toString
    // the equi-join on blocking keys must not carry the set math
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("prefixJaccardPairs equals brute force — the theorem's no-false-" +
    "negatives guarantee on a corpus with shared common grams") {
    import spark.implicits._
    // docs 1/2 near-dup (share most rare grams), 3 shares only the very
    // common "x y z" grams with everyone, 4 unrelated, 5 short (<n fallback)
    val corpus = Seq(
      (1L, "x y z alpha beta gamma delta epsilon"),
      (2L, "x y z alpha beta gamma delta zeta"),
      (3L, "x y z completely different tail here now"),
      (4L, "unrelated words about parquet column pruning"),
      (5L, "x y"),
      (6L, "x y")
    ).toDF("doc_id", "text")
    val fast = Dedup.prefixJaccardPairs(corpus, "doc_id", "text",
      n = 3, minSim = 0.5)
      .select("id_a", "id_b", "jaccard_sim")
      .as[(Long, Long, Double)].collect().toSet
    // brute force = ngramJaccardPairs with a constant blocking key
    val brute = Dedup.ngramJaccardPairs(
      corpus.withColumn("one", lit(1)), "doc_id", "text",
      groupCols = Seq("one"), n = 3, minSim = 0.5)
      .select("id_a", "id_b", "jaccard_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == brute, s"fast=$fast brute=$brute")
    assert(fast.contains((5L, 6L, 1.0))) // short-doc whole-text fallback
    assert(fast.exists { case (a, b, _) => a == 1L && b == 2L })
    val plan = Dedup.prefixJaccardPairs(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("canonicalPerCluster keeps the best-scored member per component; " +
    "score ties break to the lowest id") {
    import spark.implicits._
    val d = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L), // chain cluster: 2 wins on score
      (5L, 7L), (6L, 7L),              // tie cluster: 5 wins on id
      (9L, 1000L)                      // not in any pair: absent
    ).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.canonicalPerCluster(d, "doc_id", "n_chars", pairs)
      .select("cluster_id", "n_members", "canonical_id", "canonical_score")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 2L, 99L), (5L, 2L, 5L, 7L)))
  }

  test("ensembleVerdict: flags per channel, absent channels fill 0") {
    import spark.implicits._
    val chA = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val chB = Seq((1L, 2L), (5L, 6L), (5L, 6L)).toDF("id_a", "id_b") // dup row
    val out = Dedup.ensembleVerdict(Seq("a" -> chA, "b" -> chB))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, 1L, 2L), // both channels
      (3L, 4L, 1L, 0L, 1L), // a only
      (5L, 6L, 0L, 1L, 1L) // b only, channel-internal dup collapsed
    ))
  }
}
