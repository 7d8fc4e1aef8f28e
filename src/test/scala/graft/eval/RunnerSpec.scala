package graft.eval

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkSpec

/** Multi-model E2E: synthetic forecast/truth, Persistence + Ridge,
  * artifact tree + load-back (tests/eval/test_multi_model.py:38-100). */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def trainTable = (1 to 40).map { i =>
    val actual = 70.0 + (i % 7)
    ("TEST", Timestamp.valueOf(f"2024-07-${(i % 28) + 1}%02d 12:00:00"),
      Date.valueOf(f"2024-08-${(i % 28) + 1}%02d"),
      actual + 1.5, // forecast biased +1.5
      28, actual, Option(actual - (if (i > 1) 0.0 else 0.0)))
  }.toDF("station_id", "issue_time_utc", "target_date_local",
    "tmax_pred_f", "lead_hours", "tmax_actual_f", "tmax_actual_f_lag1")

  test("multi-model run: ranking, artifact tree, load-back round-trip") {
    val runDir = Files.createTempDirectory("graft_run").toString
    val models = Seq[Forecaster](
      new Passthrough(),
      new Ridge(Seq("tmax_pred_f"), "tmax_actual_f", alpha = 1.0))
    val ranked = Runner.runMultiModel(trainTable, models, runDir)
    assert(ranked.size == 2)
    assert(ranked.head.metrics.mae <= ranked.last.metrics.mae) // rank order
    // artifact tree
    assert(Files.exists(Paths.get(s"$runDir/comparison.json")))
    assert(Files.exists(Paths.get(s"$runDir/meta.json")))
    for (m <- Seq("Passthrough", "Ridge(alpha=1.0)")) {
      assert(Files.exists(Paths.get(s"$runDir/models/$m/metrics.json")))
      val back = Runner.loadRun(spark, runDir, m)
      assert(back.count() > 0)
      assert(back.columns.contains("y_pred_f") && back.columns.contains("y_pred_sigma_f"))
    }
    // passthrough has the constant +1.5 bias
    val pass = ranked.find(_.name == "Passthrough").get
    assert(pass.metrics.bias == 1.5 && pass.metrics.mae == 1.5)
    // ridge corrects the bias on the test split
    val ridge = ranked.find(_.name.startsWith("Ridge")).get
    assert(ridge.metrics.mae < 1.0)
    assert(ranked.head.name.startsWith("Ridge"))
  }

  test("run artifacts include per-model slices.json and the frozen config.json") {
    val runDir = Files.createTempDirectory("graft_run_sl").toString
    val cfg = Runner.EvalConfig(minSliceCount = 1) // spec split is tiny
    Runner.runMultiModel(trainTable, Seq[Forecaster](new Passthrough()), runDir, cfg)
    assert(Files.exists(Paths.get(s"$runDir/config.json")))
    assert(Files.exists(Paths.get(s"$runDir/models/Passthrough/slices.json")))
    // load-back surfaces both (report.py:51-106 parity)
    val back = Runner.loadMultiModelRun(spark,
      Paths.get(runDir).getParent.toString, Paths.get(runDir).getFileName.toString)
    assert(back.configJson.exists(_.contains("\"slice_cols\"")))
    val slices = back.models("Passthrough").slices
    assert(slices.nonEmpty)
    // per-dimension slicing: each row is sliced by exactly one dimension,
    // the other label reads ALL; metrics carry through numerically
    assert(slices.forall(s => s.labels.keySet == Set("station_id", "lead_hours")))
    assert(slices.exists(s => s.labels("station_id") == "TEST" && s.labels("lead_hours") == "ALL"))
    assert(slices.exists(s => s.labels("lead_hours") == "28" && s.labels("station_id") == "ALL"))
    val overall = slices.find(_.labels("station_id") == "TEST").get
    assert(overall.mae == 1.5 && overall.n > 0)
    // the CLI's richer RunConfig takes precedence when supplied
    val runDir2 = Files.createTempDirectory("graft_run_cfg").toString
    Runner.runMultiModel(trainTable, Seq[Forecaster](new Passthrough()), runDir2,
      cfg, frozenConfigJson = Some("""{"run_name": "frozen"}"""))
    assert(Files.readString(Paths.get(s"$runDir2/config.json")).contains("frozen"))
  }

  test("frame-level forecasters (kNN, GBT) run the same multi-model path") {
    val runDir = Files.createTempDirectory("graft_run_fl").toString
    val models = Seq[Forecaster](
      new KnnRegressor(Seq("tmax_pred_f"), "tmax_actual_f", k = 3),
      new GbtForecaster(Seq("tmax_pred_f"), "tmax_actual_f", maxIter = 5))
    val ranked = Runner.runMultiModel(trainTable, models, runDir)
    assert(ranked.size == 2)
    ranked.foreach(r => assert(!r.metrics.mae.isNaN && r.metrics.n > 0))
    // artifacts written under the sanitized names, predictions loadable
    for (m <- Seq("kNN (k=3)", "GBT")) {
      val back = Runner.loadRun(spark, runDir, Runner.sanitizeModelName(m))
      assert(back.count() > 0)
      assert(back.columns.contains("y_pred_f") && back.columns.contains("y_pred_sigma_f"))
    }
  }

  test("run listing + multi-model load-back (report.py:466-562 parity)") {
    val root = Files.createTempDirectory("graft_runs").toString
    val models = Seq[Forecaster](
      new Passthrough(),
      new Ridge(Seq("tmax_pred_f"), "tmax_actual_f", alpha = 1.0))
    Runner.runMultiModel(trainTable, models, s"$root/run_002")
    Runner.runMultiModel(trainTable, Seq[Forecaster](new Passthrough()), s"$root/run_001")

    // newest run-id first, multi-model flag and model names populated
    val runs = Runner.listRuns(root)
    assert(runs.map(_.runId) == Seq("run_002", "run_001"))
    assert(runs.forall(_.isMultiModel))
    assert(runs.head.modelNames.toSet == Set("Passthrough", "Ridge(alpha=1.0)"))
    assert(Runner.listRuns(s"$root/nonexistent").isEmpty)

    // full load-back: comparison ranking + per-model metrics and frames
    val back = Runner.loadMultiModelRun(spark, root, "run_002")
    assert(back.modelNames.size == 2 && back.models.size == 2)
    assert(back.comparison.map(_.rank) == Seq(1, 2))
    assert(back.comparison.head.model.startsWith("Ridge")) // rank 1 = lowest MAE
    assert(back.comparison.head.mae <= back.comparison.last.mae)
    val pass = back.models("Passthrough")
    assert(pass.metrics("mae") == 1.5 && pass.metrics("bias") == 1.5)
    assert(pass.predictions.count() > 0 && pass.residuals.count() > 0)
    assert(pass.predictions.columns.contains("y_pred_sigma_f"))
    // metrics.json round-trips what runMultiModel computed
    val ridgeBack = back.models("Ridge(alpha=1.0)")
    assert(math.abs(ridgeBack.metrics("mae") - back.comparison.head.mae) < 1e-12)
    // unknown run fails fast, like the reference's FileNotFoundError
    intercept[IllegalArgumentException] {
      Runner.loadMultiModelRun(spark, root, "run_999")
    }
  }

  private def threeModels() = Seq[Forecaster](
    new Passthrough(),
    new Persistence(),
    new Ridge(Seq("tmax_pred_f"), "tmax_actual_f", alpha = 1.0))

  private def laneThreads() =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName.startsWith("graft-eval-lane-") && t.isAlive)

  test("concurrent lanes equal a serial evaluateModel of each model, metric for metric") {
    val runDir = Files.createTempDirectory("graft_run_par").toString
    val ranked = Runner.runMultiModel(trainTable, threeModels(), runDir)
    val serial = threeModels().map(m => Runner.evaluateModel(trainTable, m)._2)
    assert(ranked.map(_.name).toSet == serial.map(_.name).toSet)
    for (s <- serial) {
      val r = ranked.find(_.name == s.name).get
      assert(r.metrics == s.metrics, s.name)
      assert(r.calibration == s.calibration, s.name)
    }
    // metrics.json carries the observed numbers
    val back = Runner.loadMultiModelRun(spark,
      Paths.get(runDir).getParent.toString, Paths.get(runDir).getFileName.toString)
    for (s <- serial) {
      val m = back.models(s.name).metrics
      assert(m("mae") == s.metrics.mae && m("n") == s.metrics.n.toDouble)
      assert(m("coverage_80") == s.calibration("coverage_80"))
    }
  }

  test("a failing lane is rethrown after every lane ends, leaving no thread or cache") {
    val runDir = Files.createTempDirectory("graft_run_fail").toString
    val boom = new Forecaster {
      val name = "Boom"
      def fit(train: DataFrame): Unit =
        throw new IllegalStateException("fit failed on purpose")
      def predictMu = col("tmax_pred_f")
    }
    // a slow lane: still writing when Boom has already failed
    val slow = new Forecaster {
      val name = "Slow"
      def fit(train: DataFrame): Unit = Thread.sleep(1500)
      def predictMu = col("tmax_pred_f")
    }
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      Runner.runMultiModel(trainTable, Seq[Forecaster](boom, slow, new Passthrough()), runDir)
    }
    assert(e.getMessage == "fit failed on purpose")
    for (m <- Seq("Slow", "Passthrough"))
      assert(Files.exists(Paths.get(s"$runDir/models/$m/slices.json")), m)
    assert(!Files.exists(Paths.get(s"$runDir/comparison.json")))
    assert(laneThreads().isEmpty)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty)
  }

  test("every job of a run carries the caller's local properties, and no lane outlives it") {
    val sc = spark.sparkContext
    val runDir = Files.createTempDirectory("graft_run_props").toString
    sc.setLocalProperty("graft.spec.caller", "runner-lanes")
    val (_, jobs) = try jobsOf(Runner.runMultiModel(trainTable, threeModels(), runDir))
      finally sc.setLocalProperty("graft.spec.caller", null)
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.getProperty("graft.spec.caller") == "runner-lanes"))
    assert(laneThreads().isEmpty)
  }

  test("a three-model run stays within its Spark job budget") {
    // 31 jobs when each model re-built the split, fitted sigma in two
    // aggregates and collected both metric sets; 19 with the shared
    // split, one sigma aggregate and metrics observed on the write
    val runDir = Files.createTempDirectory("graft_run_jobs").toString
    val (ranked, jobs) = jobsOf(Runner.runMultiModel(trainTable, threeModels(), runDir))
    assert(ranked.size == 3)
    assert(jobs.size <= 19, s"runMultiModel ran ${jobs.size} Spark jobs")
  }
}
