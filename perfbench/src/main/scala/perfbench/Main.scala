package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.analytics.{Bootstrap, FactorAnalysisEM, MonteCarlo}
import graft.etl.{Cleaning, CleanTraffic, CleanWeather, MergeTrafficWeather}
import graft.gen.Generators
import graft.io.{LakePaths, Layers}
import graft.schema.Schemas

/** One benchmark run in one JVM: session start, set-up, one untimed warm-up
  * operation whose outputs are the ones checked, then a closed loop with one
  * client for `seconds`. Everything measured goes to `<work>/result.json`;
  * `run.py` checks the outputs and turns the samples into metrics.
  *
  * Usage: Main key=value... with keys workload (medallion | queries), seed,
  * seconds, trace (0|1), work, and per workload rows, setup_reps,
  * min_ops (medallion) or fixture, queries, min_passes (queries).
  * fail=1 makes the first timed operation throw, to test the accounting.
  */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, sys.error(s"missing argument $k"))
    def long(k: String): Long = apply(k).toLong
    def flag(k: String): Boolean = kv.get(k).contains("1")
    val work: Path = Paths.get(apply("work")).toAbsolutePath
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap)
    val spark = GraftSession.quiet(GraftSession.configure(
      SparkSession.builder()
        .master(s"local[${Runtime.getRuntime.availableProcessors}]")
        .appName("perfbench")
        .config("spark.local.dir", args.work.resolve("spark-local").toString)
    ).getOrCreate())
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val body = args("workload") match {
      case "medallion" => Medallion.run(spark, args)
      case "queries" => Queries.run(spark, args)
      case w => sys.error(s"unknown workload $w")
    }
    val result = Json.obj(
      "session_s" -> sessionS,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "workload" -> Json.Raw(body),
      "peak_rss_kb" -> vmHwmKb())
    Files.writeString(args.work.resolve("result.json"), result)
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in kB. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }
      .getOrElse(-1L)

  /** The timed closed loop: runs `op(0)`, `op(1)`, ... one after another,
    * at least `min` times and until `seconds` have passed.
    */
  def closedLoop[T](args: Args, min: Int)(op: Int => T): List[T] = {
    val t0 = System.nanoTime()
    Iterator.from(0).takeWhile(i => i < min ||
      (System.nanoTime() - t0) / 1e9 < args("seconds").toDouble).map(op).toList
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `op` and returns its error message, if it threw. */
  def attempt(op: => Unit): Option[String] =
    Try(op).failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}")

  def spansJson(spans: Map[String, SpanStats]): Json.Raw =
    Json.Raw(Json.value(spans.map { case (k, v) => k -> Json.Raw(v.toJson) }))

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    }
}

/** `Pipeline.run` with flat silver and the gold stages on, over bronze CSVs
  * written by the generators from the seed.
  */
object Medallion {
  import Main._

  def genBronze(spark: SparkSession, lake: LakePaths, rows: Long,
      seed: Long): Unit = {
    Layers.writeCsv(Generators.traffic(spark, rows, seed),
      lake.bronze("traffic_raw.csv"), singleFile = true)
    Layers.writeCsv(Generators.weather(spark, rows, seed + 1),
      lake.bronze("weather_raw.csv"), singleFile = true)
  }

  /** `Pipeline.run`'s flat-silver path, one span per layer call. The
    * harness compares this lake with one written by `Pipeline.run` itself,
    * so the replay cannot drift from the pipeline it stands for.
    */
  def replay(spark: SparkSession, lake: LakePaths, t: Tracer): Long = {
    val trafficRaw = Layers.readCsv(spark, lake.bronze("traffic_raw.csv"),
      Schemas.trafficRaw)
    val weatherRaw = Layers.readCsv(spark, lake.bronze("weather_raw.csv"),
      Schemas.weatherRaw)
    t.span("etl.clean_traffic") {
      Layers.writeParquet(CleanTraffic(trafficRaw),
        lake.silver("traffic_clean.parquet"))
    }
    t.span("etl.clean_weather") {
      Layers.writeParquet(CleanWeather(weatherRaw),
        lake.silver("weather_clean.parquet"))
    }
    t.span("etl.merge") {
      Layers.writeParquet(MergeTrafficWeather(
        Layers.readParquet(spark, lake.silver("traffic_clean.parquet")),
        Layers.readParquet(spark, lake.silver("weather_clean.parquet"))),
        lake.silver("merged_data.parquet"))
    }
    val merged =
      Layers.readParquet(spark, lake.silver("merged_data.parquet")).cache()
    t.span("analytics.factor_analysis") {
      val (scored, loadings) = FactorAnalysisEM(spark, merged)
      Layers.writeParquet(scored, lake.gold("traffic_weather_factors.parquet"))
      Layers.writeParquet(loadings, lake.gold("factor_loadings.parquet"))
    }
    t.span("analytics.monte_carlo") {
      Layers.writeParquet(MonteCarlo.simulate(spark, merged),
        lake.gold("monte_carlo_scenarios.parquet"))
    }
    val nSim = t.span("analytics.bootstrap") {
      val mergedRows = merged.count()
      val kCols = math.min(8, Cleaning.numericCols(merged).length)
      val nSim = math.min(5000, Bootstrap.maxSimForBudget(mergedRows,
        math.max(1, kCols), Bootstrap.DefaultDrawBudget))
      Layers.writeParquet(Bootstrap(spark, merged, nSim = nSim),
        lake.gold("monte_carlo_results.parquet"))
      nSim
    }
    merged.unpersist()
    nSim
  }

  def run(spark: SparkSession, args: Args): String = {
    val rows = args.long("rows")
    val seed = args.long("seed")
    val tracer = new Tracer(spark)

    // set-up: the bronze layer, written several times for a steady median
    val (setups, setupSpans) = tracer.traced(args.flag("trace")) {
      (0 until args("setup_reps").toInt).map { i =>
        val lake = LakePaths(args.work.resolve(s"setup$i").toString)
        seconds(tracer.span("gen.bronze")(genBronze(spark, lake, rows, seed)))._2
      }
    }
    val bronze = args.work.resolve("setup0/bronze")
    def lakeWithBronze(name: String): LakePaths = {
      val root = args.work.resolve(name)
      copyTree(bronze, root.resolve("bronze"))
      LakePaths(root.toString)
    }

    // warm-up: one pipeline run on the same bronze; its lake is checked too
    val warm = lakeWithBronze("warmup")
    val (warmupError, warmupS) = seconds(attempt(
      Pipeline.run(spark, warm, generate = false)))

    // closed loop: one pipeline run at a time. Under trace, untraced
    // Pipeline.run and the traced stage-by-stage replay alternate, starting
    // and ending untraced, so that linear drift cancels in the overhead.
    val ops = closedLoop(args, args("min_ops").toInt) { i =>
      val lake = lakeWithBronze(s"lake$i")
      val traced = args.flag("trace") && i % 2 == 1
      var nSim: Option[Long] = None
      val ((error, wall), spans) = tracer.traced(traced)(seconds(attempt {
        if (args.flag("fail") && i == 0) sys.error("forced failure")
        if (traced) nSim = Some(replay(spark, lake, tracer))
        else Pipeline.run(spark, lake, generate = false)
      }))
      Json.obj("lake" -> lake.root, "traced" -> traced, "wall_s" -> wall,
        "error" -> error, "nsim" -> nSim, "spans" -> spansJson(spans))
    }

    Json.obj("warmup_s" -> warmupS, "warmup_lake" -> warm.root,
      "warmup_error" -> warmupError, "setup_s" -> setups,
      "bronze" -> bronze.toString, "setup_spans" -> spansJson(setupSpans),
      "ops" -> ops.map(Json.Raw))
  }
}

/** The registry's queries, each built through `SparkEntry.queries` and
  * forced through the `noop` sink, in a seed-shuffled order per pass.
  */
object Queries {
  import Main._

  def run(spark: SparkSession, args: Args): String = {
    val dir = args("fixture")
    val names = args("queries").split(",").toSeq
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val tracer = new Tracer(spark)

    def op(name: String): (Option[String], Double, Double) = {
      var buildS = 0.0
      var execS = 0.0
      val error = attempt {
        val (df, b) = seconds(tracer.span("queries.build") {
          registry(name)(spark, dir)
        })
        buildS = b
        execS = seconds(tracer.span("queries.execute") {
          df.write.mode("overwrite").format("noop").save()
        })._2
      }
      (error, buildS, execS)
    }

    // warm-up: one pass that writes each output for the oracle check
    val out = args.work.resolve("out")
    val (written, warmupS) = seconds(names.map { name =>
      name -> attempt(registry(name)(spark, dir).write.mode("overwrite")
        .parquet(out.resolve(name).toString))
    })

    // closed loop: whole passes over the list, one query at a time. Under
    // trace, untraced and traced passes alternate.
    val rng = new Random(args.long("seed"))
    val passes = closedLoop(args, args("min_passes").toInt) { p =>
      val traced = args.flag("trace") && p % 2 == 1
      val order = rng.shuffle(names)
      val ((ops, wall), spans) = tracer.traced(traced)(seconds(
        order.zipWithIndex.map { case (name, i) =>
          val forced = args.flag("fail") && p == 0 && i == 0
          val (error, b, e) =
            if (forced) (Some("forced failure"), 0.0, 0.0) else op(name)
          Json.obj("name" -> name, "build_s" -> b, "execute_s" -> e,
            "error" -> error)
        }))
      Json.obj("traced" -> traced, "wall_s" -> wall,
        "ops" -> ops.map(Json.Raw), "spans" -> spansJson(spans))
    }

    Json.obj("warmup_s" -> warmupS, "passes" -> passes.map(Json.Raw),
      "outputs" -> written.map { case (n, e) =>
        Json.Raw(Json.obj("name" -> n, "dir" -> out.resolve(n).toString,
          "error" -> e, "oracle" -> oracles.get(n)))
      })
  }
}
