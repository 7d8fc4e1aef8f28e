package graft.eval

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Splits

/** Evaluation runner: split → fit → predict (μ, σ) → metrics → sliced
  * breakdowns → run artifacts. Mirrors eval/runner.py:64-403 and
  * eval/report.py:51-287.
  *
  * Artifact layout kept identical to the reference:
  *   runs/<run_id>/meta.json
  *   runs/<run_id>/comparison.json
  *   runs/<run_id>/models/<name>/{metrics.json, predictions/ (parquet),
  *                                residuals/ (parquet)}
  *
  * Metrics are tiny (observed or collected scalars); predictions and
  * residuals stay distributed and are written as parquet directories.
  * [[runMultiModel]] shares one cached split across its models and runs
  * them side by side.
  */
object Runner {

  final case class EvalConfig(
      labelCol: String = "tmax_actual_f",
      predInputCol: String = "tmax_pred_f",
      splitFractions: Splits.SplitFractions = Splits.SplitFractions(),
      timeCol: String = "issue_time_utc",
      tiebreakCol: String = "target_date_local",
      sigmaBuckets: Seq[(Int, Int)] = Seq((0, 36), (36, 72), (72, 120)),
      sigmaFloor: Double = 1.0,
      // false → population std (np.std ddof=0) for exact reference-run
      // replay; true keeps the library's oracle-pinned sample-std
      sigmaSampleStd: Boolean = true,
      minSliceCount: Int = 10,
      // per-dimension slice breakdowns persisted per model (slices.json,
      // report.py:51-106 + slicing.py:22-53); columns absent from the
      // prediction frame are skipped
      sliceCols: Seq[String] = Seq("station_id", "lead_hours")) {

    /** The runner's own frozen-config JSON — written to config.json when
      * no richer RunConfig is supplied, so every run dir is reproducible
      * from its artifacts alone (report.py:51-106). */
    def toJson: String = {
      def q(s: String) = RunConfig.jsonQuote(s)
      val buckets = sigmaBuckets.map { case (lo, hi) => s"[$lo, $hi]" }.mkString("[", ", ", "]")
      s"""{
         |  "label_col": ${q(labelCol)},
         |  "pred_input_col": ${q(predInputCol)},
         |  "split": {"train_frac": ${splitFractions.train}, "val_frac": ${splitFractions.validation}},
         |  "time_col": ${q(timeCol)},
         |  "tiebreak_col": ${q(tiebreakCol)},
         |  "sigma_buckets": $buckets,
         |  "sigma_floor": $sigmaFloor,
         |  "min_slice_count": $minSliceCount,
         |  "slice_cols": ${sliceCols.map(q).mkString("[", ", ", "]")}
         |}""".stripMargin
    }
  }

  final case class ModelResult(name: String, metrics: Metrics.ForecastMetrics,
      calibration: Map[String, Double])

  /** Evaluate one forecaster end-to-end on a pre-built train table:
    * split, fit, predict, and both metric sets in one collect. The split
    * cache is released before returning — the metrics in ModelResult are
    * already collected, and a caller that re-evaluates the returned
    * predictions pays one split recompute instead of leaking a cached
    * frame per model in a long-lived session (the KnnRegressor lesson). */
  def evaluateModel(
      data: DataFrame,
      forecaster: Forecaster,
      cfg: EvalConfig = EvalConfig()): (DataFrame, ModelResult) = {
    val split = splitOf(data, cfg).cache()
    try {
      val predictions = predict(split, forecaster, cfg)
      (predictions, result(forecaster.name,
        Metrics.aggregate(predictions, metricColumns)))
    } finally split.unpersist(false)
  }

  private def splitOf(data: DataFrame, cfg: EvalConfig): DataFrame =
    Splits.positional(data, cfg.timeCol, cfg.tiebreakCol, cfg.splitFractions)

  /** A4 and A5 over the prediction columns, as one aggregate. */
  private val metricColumns: Seq[Column] =
    Metrics.forecastColumns() ++ Metrics.calibrationColumns()

  private def result(name: String, values: Map[String, Any]): ModelResult =
    ModelResult(name, Metrics.forecastResult(values), Metrics.calibrationResult(values))

  /** Fit on the split's train rows, fit sigma on the train residuals
    * (runner.py:194-196) and return the test rows' predictions, lazily.
    * withMu (not predictMu directly) so frame-level models — kNN's
    * neighbor join, GBT's spark.ml transform — run the same path. */
  private def predict(split: DataFrame, forecaster: Forecaster, cfg: EvalConfig): DataFrame = {
    val train = split.filter(col("split") === "train")
    val test = split.filter(col("split") === "test")
    forecaster.fit(train)
    val trainResid = forecaster.withMu(train, "__mu_f").select(
      (col("__mu_f") - col(cfg.labelCol)).as("residual_f"),
      col("lead_hours"))
    val sigma = new Uncertainty.BucketedSigma(cfg.sigmaBuckets,
      floor = cfg.sigmaFloor, sampleStd = cfg.sigmaSampleStd)
    sigma.fit(trainResid)
    forecaster.withMu(test, "y_pred_f")
      .withColumn("y_true_f", col(cfg.labelCol))
      .withColumn("y_pred_sigma_f", sigma.predictSigma())
      .withColumn("model", lit(forecaster.name))
  }

  /** Multi-model comparison (report.py:239-283): evaluate each model,
    * write its artifacts, rank ascending by MAE, write the run files.
    * Returns results in rank order.
    *
    * The split is built once, by one scan, and cached for the call.
    * Each model then runs in its own lane — fit → sigma → predictions
    * write → residuals write → slices.json — on a fixed pool of
    * min(models, defaultParallelism) threads created here, so the lanes
    * inherit the caller's Spark local properties (job group, tags). A
    * model's metrics are observed on its predictions write, so they cost
    * no job of their own. Results come back in forecaster order, which
    * keeps the ranking deterministic. If a lane fails, the call waits
    * for every lane and then rethrows the first failure in forecaster
    * order; no pool thread and no cache outlives the call.
    *
    * @param frozenConfigJson richer config to persist as config.json
    *        (the CLI passes its full RunConfig); defaults to the
    *        runner's own EvalConfig JSON so EVERY run — programmatic or
    *        CLI — is reproducible from its artifacts (report.py:51-106)
    */
  def runMultiModel(
      data: DataFrame,
      forecasters: Seq[Forecaster],
      runDir: String,
      cfg: EvalConfig = EvalConfig(),
      frozenConfigJson: Option[String] = None): Seq[ModelResult] = {
    val split = splitOf(data, cfg).cache()
    val results = try {
      split.count() // materialize before the lanes share it
      inLanes(forecasters, data.sparkSession.sparkContext.defaultParallelism) { f =>
        evaluateAndWrite(split, f, runDir, cfg)
      }
    } finally split.unpersist(false)
    val ranked = results.sortBy(_.metrics.mae)
    writeJson(s"$runDir/comparison.json", comparisonJson(ranked))
    writeJson(s"$runDir/config.json", frozenConfigJson.getOrElse(cfg.toJson))
    val runName = Paths.get(runDir).getFileName.toString
    writeJson(s"$runDir/meta.json",
      s"""{"run_name": ${q(runName)}, "models": [${ranked.map(r => q(r.name)).mkString(", ")}], "n_models": ${ranked.size}}""")
    ranked
  }

  /** Run `work` over `items` on min(items, maxLanes) threads created by
    * this call (so they inherit its thread-local state), returning
    * results in item order. Every item runs to its end; then the first
    * failure in item order is rethrown, the later ones suppressed into
    * it. Every pool thread has exited when this returns. */
  private def inLanes[A, B](items: Seq[A], maxLanes: Int)(work: A => B): Seq[B] = {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    val lane = new java.util.concurrent.atomic.AtomicInteger
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(items.size, maxLanes)),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-eval-lane-${lane.incrementAndGet()}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    val outcomes = try {
      val futures = items.map { a =>
        val task: Callable[B] = () => work(a)
        pool.submit(task)
      }
      futures.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
    outcomes.collect { case Left(e) => e } match {
      case first +: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => outcomes.collect { case Right(b) => b }
    }
  }

  /** One lane: predict, write predictions with both metric sets
    * observed on that write, then residuals, metrics.json and
    * slices.json. */
  private def evaluateAndWrite(
      split: DataFrame, forecaster: Forecaster, runDir: String, cfg: EvalConfig): ModelResult = {
    val predictions = predict(split, forecaster, cfg)
    val dir = s"$runDir/models/${sanitizeModelName(forecaster.name)}"
    val observed = new Observation()
    predictions.observe(observed, metricColumns.head, metricColumns.tail: _*)
      .write.mode("overwrite").parquet(s"$dir/predictions")
    val res = result(forecaster.name, observed.get)
    predictions
      .select(
        (col("y_pred_f") - col("y_true_f")).as("residual_f"),
        abs(col("y_pred_f") - col("y_true_f")).as("abs_error_f"),
        pow(col("y_pred_f") - col("y_true_f"), 2).as("sq_error_f"))
      .write.mode("overwrite").parquet(s"$dir/residuals")
    writeJson(s"$dir/metrics.json", metricsJson(res))
    writeJson(s"$dir/slices.json", slicesJson(predictions, cfg))
    res
  }

  /** Model names become directory names; anything outside the safe
    * class is replaced (shared with load-back, which reverses it). */
  private[eval] def sanitizeModelName(name: String): String =
    name.replaceAll("[^A-Za-z0-9_()= .-]", "_")

  /** Per-dimension slice breakdowns as a JSON array (write_all_artifacts
    * persists sliced metrics per model, report.py:51-106; slices built
    * at slicing.py:22-53). Slice labels are strings ('ALL' marks the
    * dimensions a row is not sliced by); n/mae/rmse/bias are numbers.
    * Slice counts are small by construction (HAVING n >= minSliceCount),
    * so the collect is a metrics-sized fetch. */
  private def slicesJson(predictions: DataFrame, cfg: EvalConfig): String = {
    val present = cfg.sliceCols.filter(predictions.columns.contains)
    if (present.isEmpty) return "[]"
    val sliced = Metrics.metricsBySlices(
      predictions, present, minCount = cfg.minSliceCount)
    val labelIdx = present.indices
    sliced.collect().map { row =>
      val labels = present.zip(labelIdx)
        .map { case (c, i) => s"${q(c)}: ${q(row.getString(i))}" }
      val stats = Seq("n", "mae", "rmse", "bias").map { c =>
        val i = row.fieldIndex(c)
        val v = if (row.isNullAt(i)) "null"
          else row.get(i) match {
            case d: Double => num(d)
            case other     => other.toString
          }
        s"${q(c)}: $v"
      }
      (labels ++ stats).mkString("{", ", ", "}")
    }.mkString("[", ",\n", "]")
  }

  private def q(s: String): String = RunConfig.jsonQuote(s)

  /** NaN/Infinity are not valid JSON — serialize as null. */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def metricsJson(r: ModelResult): String = {
    val m = r.metrics
    val cal = r.calibration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString(", ")
    s"""{"model": ${q(r.name)}, "n": ${m.n}, "mae": ${num(m.mae)}, "rmse": ${num(m.rmse)},
       | "bias": ${num(m.bias)}, "std_error": ${num(m.stdError)}, "r2": ${num(m.r2)}, $cal}""".stripMargin
  }

  private def comparisonJson(ranked: Seq[ModelResult]): String =
    ranked.zipWithIndex.map { case (r, i) =>
      s"""{"rank": ${i + 1}, "model": ${q(r.name)}, "mae": ${num(r.metrics.mae)},
         | "rmse": ${num(r.metrics.rmse)}, "bias": ${num(r.metrics.bias)}, "r2": ${num(r.metrics.r2)}}""".stripMargin
    }.mkString("[", ",\n", "]")

  private def writeJson(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** S10: load a run back (report.py:349-424). */
  def loadRun(spark: SparkSession, runDir: String, model: String): DataFrame =
    spark.read.parquet(s"$runDir/models/$model/predictions")

  // ------------------------------------------------------------------
  // Run enumeration + multi-model load-back (report.py:466-562) — the
  // "what did my last two runs say" API. Metrics/meta/comparison are
  // tiny JSON (parsed with Jackson, already on Spark's classpath);
  // predictions/residuals stay distributed as lazy DataFrames.
  // ------------------------------------------------------------------

  final case class RunInfo(runId: String, isMultiModel: Boolean, modelNames: Seq[String])
  final case class ComparisonEntry(rank: Int, model: String, mae: Double,
      rmse: Double, bias: Double, r2: Double)
  /** One persisted slice row: dimension labels ('ALL' where not sliced)
    * + the slice's metrics. */
  final case class SliceMetric(labels: Map[String, String], n: Long,
      mae: Double, rmse: Double, bias: Double)
  final case class LoadedModel(name: String, metrics: Map[String, Double],
      slices: Seq[SliceMetric], predictions: DataFrame, residuals: DataFrame)
  final case class LoadedRun(runId: String, modelNames: Seq[String],
      comparison: Seq[ComparisonEntry], models: Map[String, LoadedModel],
      configJson: Option[String])

  // one shared mapper: construction is the expensive part, readTree is
  // thread-safe
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readTree(p: java.nio.file.Path) = mapper.readTree(Files.readString(p))

  private def numOrNaN(n: com.fasterxml.jackson.databind.JsonNode): Double =
    if (n == null || n.isNull) Double.NaN else n.asDouble()

  /** Subdirectories of `dir`, with the directory stream closed (the
    * Files.list stream holds an fd until closed). */
  private def subDirs(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.filter(Files.isDirectory(_)).toSeq)
  }

  /** All runs under `rootDir`, newest run-id first (list_runs,
    * report.py:523-562). A run is multi-model when it has a models/
    * subtree; model names come from meta.json when present. */
  def listRuns(rootDir: String): Seq[RunInfo] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(rootDir)
    if (!Files.isDirectory(root)) return Seq.empty
    subDirs(root).sortBy(_.getFileName.toString)(Ordering[String].reverse).map { runDir =>
      val isMulti = Files.isDirectory(runDir.resolve("models"))
      val meta = runDir.resolve("meta.json")
      val names =
        if (!Files.exists(meta)) Seq.empty[String]
        else scala.util.Try {
          readTree(meta).path("models").elements().asScala.map(_.asText()).toSeq
        }.getOrElse(Seq.empty)
      RunInfo(runDir.getFileName.toString, isMulti, names)
    }
  }

  /** Load every model of a run: ranked comparison + per-model metrics
    * and prediction/residual frames (load_multi_model_run,
    * report.py:466-520). Fails fast when the run doesn't exist. */
  def loadMultiModelRun(spark: SparkSession, rootDir: String, runId: String): LoadedRun = {
    import scala.jdk.CollectionConverters._
    val runDir = Paths.get(rootDir, runId)
    require(Files.isDirectory(runDir), s"Run not found: $runDir")
    val comparison = {
      val p = runDir.resolve("comparison.json")
      if (!Files.exists(p)) Seq.empty[ComparisonEntry]
      else readTree(p).elements().asScala.map { e =>
        ComparisonEntry(e.path("rank").asInt(), e.path("model").asText(),
          numOrNaN(e.get("mae")), numOrNaN(e.get("rmse")),
          numOrNaN(e.get("bias")), numOrNaN(e.get("r2")))
      }.toSeq
    }
    val metaNames = {
      val meta = runDir.resolve("meta.json")
      if (Files.exists(meta))
        readTree(meta).path("models").elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    }
    // directory names are sanitized; key the models map by the RAW name
    // from meta.json whenever it round-trips to that directory
    val rawByDir = metaNames.map(n => sanitizeModelName(n) -> n).toMap
    val modelsDir = runDir.resolve("models")
    val models =
      if (!Files.isDirectory(modelsDir)) Map.empty[String, LoadedModel]
      else subDirs(modelsDir).map { mDir =>
        val name = rawByDir.getOrElse(mDir.getFileName.toString, mDir.getFileName.toString)
        val metrics = {
          val p = mDir.resolve("metrics.json")
          if (!Files.exists(p)) Map.empty[String, Double]
          else readTree(p).properties().asScala
            .filter(e => e.getValue.isNumber || e.getValue.isNull)
            .map(e => e.getKey -> numOrNaN(e.getValue)).toMap
        }
        val slices = {
          val p = mDir.resolve("slices.json")
          if (!Files.exists(p)) Seq.empty[SliceMetric]
          else readTree(p).elements().asScala.map { e =>
            val labels = e.properties().asScala
              .filter(_.getValue.isTextual)
              .map(kv => kv.getKey -> kv.getValue.asText()).toMap
            SliceMetric(labels, e.path("n").asLong(),
              numOrNaN(e.get("mae")), numOrNaN(e.get("rmse")),
              numOrNaN(e.get("bias")))
          }.toSeq
        }
        name -> LoadedModel(name, metrics, slices,
          spark.read.parquet(mDir.resolve("predictions").toString),
          spark.read.parquet(mDir.resolve("residuals").toString))
      }.toMap
    val names = if (metaNames.nonEmpty) metaNames else models.keys.toSeq.sorted
    val configJson = {
      val p = runDir.resolve("config.json")
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    LoadedRun(runId, names, comparison, models, configJson)
  }
}
