package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

import graft.eval.{Forecaster, Passthrough, Persistence, Ridge, Runner}
import graft.ops.{CleanHourly, DailyTmax, Features}
import graft.schemas.Checks
import graft.sources.{Ingest, Sinks}

/** The reference user's batch pipeline, repeated pass after pass:
  * ISD CSVs → decode → QC clean → partitioned hourly sink → per-station-
  * timezone daily Tmax → validation → daily sink → train table → three-
  * model evaluation with run artifacts. Each pass ends with its output
  * checks. The operation is the pass. Set-up warms the path with one
  * untimed pass; `wall_s` is the median of two timed passes. */
object WeatherBatch extends Workload {
  // one run makes two passes: no percentile below the maximum has ten
  // samples beyond it
  val opName = "weather.pass"
  val tailPercentile = 1.0
  val minPasses = 2

  val forecastSchema: StructType = StructType(Seq(
    StructField("station_id", StringType), StructField("issue_time_utc", TimestampType),
    StructField("target_date_local", DateType), StructField("tmax_pred_f", DoubleType),
    StructField("lead_hours", IntegerType), StructField("source", StringType)))

  def models(): Seq[(String, Forecaster)] = Seq(
    "passthrough" -> new Passthrough(),
    "persistence" -> new Persistence(),
    "ridge" -> new Ridge(Seq("tmax_pred_f", "sin_doy", "cos_doy", "bias_7d", "bias_14d"),
      "tmax_actual_f", alpha = 1.0))

  def stations(ctx: Ctx): Seq[(String, String)] =
    ctx.manifest.get("stations").asScala.toSeq
      .map(s => s.get("id").asText -> s.get("tz").asText)

  def prepare(ctx: Ctx): Unit = {
    val dir = ctx.freshDir("warmup")
    pass(ctx, dir)
    Stats.deleteTree(dir)
  }

  def run(ctx: Ctx, seconds: Double, minPasses: Int): Timed = {
    val rows = ctx.manifest.get("hourly_rows").asDouble
    val stored = Seq.newBuilder[Double]
    val passS = Stats.repeatFor(seconds, minPasses) { i =>
      val dir = ctx.freshDir(s"pass_$i")
      val t0 = System.nanoTime()
      ctx.guarded(s"weather pass $i")(pass(ctx, dir))
      val s = Stats.since(t0)
      stored += Stats.dirBytes(dir).toDouble
      if (ctx.tracer.active) evaluateEachModel(ctx, dir.resolve("train").toString)
      Stats.deleteTree(dir)
      s
    }
    // rows per second of the median pass, as steady as `wall_s`
    Timed(passS.map(_ * 1e3), passS, rows, Stats.median(passS), Stats.median(stored.result()))
  }

  def ingestAndClean(ctx: Ctx, hourlyDir: String): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    val decoded = stations(ctx).map { case (id, _) =>
      Ingest.readIsdCsv(spark, ctx.data.resolve(s"isd_$id.csv").toString, id)
    }.reduce(_ unionByName _)
    val decodeNs = t.materialize("sources.decode_isd", decoded)
    var cleanNs = 0L
    val cleaned = t.span("ops.clean_hourly", decodeNs) {
      val c = CleanHourly(decoded)
      cleanNs = t.prefix(c)
      c
    }
    t.span("sources.write_hourly_obs", cleanNs)(Sinks.writeHourlyObs(cleaned, hourlyDir))
  }

  def buildDaily(ctx: Ctx, hourlyDir: String, dailyDir: String): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    import spark.implicits._
    val tz = stations(ctx).toDF("station_id", "tz")
    val daily = DailyTmax.perStationTz(
      spark.read.parquet(hourlyDir).join(broadcast(tz), "station_id"), col("tz"))
    val dailyNs = t.materialize("ops.daily_tmax", daily)
    val checked = t.span("schemas.validate_daily_tmax")(Checks.validateDailyTmax(daily))
    t.span("sources.write_daily", dailyNs)(Sinks.writeDaily(checked, dailyDir))
  }

  def buildTrain(ctx: Ctx, dailyDir: String, trainDir: String): Unit = {
    val spark = ctx.spark
    ctx.tracer.span("ops.features") {
      val forecast = spark.read.schema(forecastSchema).option("header", "true")
        .csv(ctx.data.resolve("forecasts.csv").toString)
      Features.lagFeature(Features.buildTrainTable(forecast, spark.read.parquet(dailyDir)))
        .write.mode("overwrite").parquet(trainDir)
    }
  }

  def pass(ctx: Ctx, dir: Path): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    val hourly = dir.resolve("hourly").toString
    val daily = dir.resolve("daily").toString
    val train = dir.resolve("train").toString
    val runDir = dir.resolve("run").toString
    val ranked = t.span(opName) {
      ingestAndClean(ctx, hourly)
      buildDaily(ctx, hourly, daily)
      buildTrain(ctx, daily, train)
      val r = t.span("eval.run_multi_model") {
        Runner.runMultiModel(spark.read.parquet(train), models().map(_._2), runDir)
      }
      t.count("sources.write_hourly_obs.files", Stats.dataFiles(Path.of(hourly)).toDouble)
      t.count("sources.write_daily.files", Stats.dataFiles(Path.of(daily)).toDouble)
      t.count("sources.bytes_written_mb",
        (Stats.dirBytes(Path.of(hourly)) + Stats.dirBytes(Path.of(daily))) / 1048576.0)
      t.count("spark.cached_mb", Stats.cachedMb(spark))
      r
    }
    checkPass(ctx, daily, runDir, ranked.map(_.name))
  }

  /** Traced run only: runMultiModel's per-model phases are inside the
    * engine, so each model's evaluation is timed by itself, after and
    * outside the timed pass. */
  def evaluateEachModel(ctx: Ctx, train: String): Unit =
    models().foreach { case (key, m) =>
      ctx.tracer.span(s"eval.evaluate_model.$key") {
        Runner.evaluateModel(ctx.spark.read.parquet(train), m)
      }
    }

  /** Daily Tmax equals the generator's independent computation for every
    * station-day, every run artifact exists, and ridge ranks first. */
  def checkPass(ctx: Ctx, dailyDir: String, runDir: String, ranked: Seq[String]): Unit = {
    val truth = ctx.manifest.get("daily_truth").asScala.map { r =>
      (r.get(0).asText, r.get(1).asText) -> (r.get(2).asDouble, r.get(3).asInt)
    }.toMap
    val got = ctx.spark.read.parquet(dailyDir)
      .select(col("station_id"), col("date_local").cast("string"), col("tmax_c"),
        col("coverage_hours"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    val wrong = truth.keySet.union(got.keySet).toSeq.filterNot { k =>
      (truth.get(k), got.get(k)) match {
        case (Some((a, ca)), Some((b, cb))) => math.abs(a - b) < 1e-9 && ca == cb
        case _ => false
      }
    }
    ctx.check(wrong.isEmpty,
      s"daily tmax differs from the generator on ${wrong.size} station-days, e.g. ${wrong.take(3)}")
    val run = Path.of(runDir)
    val artifacts = Seq("comparison.json", "config.json", "meta.json") ++
      ranked.flatMap { m =>
        val d = s"models/${m.replaceAll("[^A-Za-z0-9_()= .-]", "_")}"
        Seq(s"$d/metrics.json", s"$d/slices.json", s"$d/predictions", s"$d/residuals")
      }
    val missing = artifacts.filterNot(a => Files.exists(run.resolve(a)))
    ctx.check(ranked.size == 3 && missing.isEmpty, s"missing run artifacts: $missing")
    ctx.check(ranked.headOption.exists(_.startsWith("Ridge")), s"ranking: $ranked")
  }
}
