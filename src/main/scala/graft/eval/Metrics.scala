package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Forecast metrics. A4 and A5 are aggregate columns plus one decoder
  * each, so they can be computed by their own collect, by one collect
  * together, or observed on a write of the predictions
  * (`Dataset.observe`) at no extra job — the runner does the last.
  * Mirrors eval/metrics.py:108-236 (A4–A6) and eval/slicing.py (A9).
  *
  * std_error is population std (np.std ddof=0, metrics.py:136) — vs the
  * sample std used for sigma_lead; both mapped explicitly.
  */
object Metrics {

  final case class ForecastMetrics(
      n: Long, mae: Double, rmse: Double, bias: Double, stdError: Double, r2: Double)

  /** Reference rounding (metrics.py:42-49); a null aggregate (empty
    * frame) reads NaN. */
  private def round4(v: Any): Double = v match {
    case d: Double => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    case _         => Double.NaN
  }

  /** A4 aggregate columns: n, MAE, RMSE, bias, std(e), R². */
  def forecastColumns(yTrue: String = "y_true_f", yPred: String = "y_pred_f"): Seq[Column] = {
    val e = col(yPred) - col(yTrue)
    Seq(
      count(lit(1)).as("n"),
      avg(abs(e)).as("mae"),
      sqrt(avg(e * e)).as("rmse"),
      avg(e).as("bias"),
      stddev_pop(e).as("std"),
      // try_divide: R² undefined (→ NaN) for constant truth — a tiny or
      // degenerate test split must not crash the run under ANSI mode
      (lit(1.0) - try_divide(avg(e * e), var_pop(col(yTrue)))).as("r2"))
  }

  /** Decode [[forecastColumns]] from an aggregate's values by name,
    * rounded to 4 decimals as the reference does. */
  def forecastResult(values: Map[String, Any]): ForecastMetrics =
    ForecastMetrics(values("n").asInstanceOf[Long], round4(values("mae")),
      round4(values("rmse")), round4(values("bias")), round4(values("std")),
      round4(values("r2")))

  /** A4 in one collect. */
  def forecastMetrics(df: DataFrame, yTrue: String = "y_true_f", yPred: String = "y_pred_f"): ForecastMetrics =
    forecastResult(aggregate(df, forecastColumns(yTrue, yPred)))

  /** z-scores for central-interval levels 50/80/90% — compile-time
    * constants at full double precision (the reference computes them via
    * scipy norm.ppf, metrics.py:173-187; rounded constants shift the
    * coverage threshold by ~1e-5·σ, enough to flip a borderline row). */
  val ZScores: Map[Int, Double] = Map(
    50 -> 0.6744897501960817, 80 -> 1.2815515655446004, 90 -> 1.6448536269514722)

  /** A5 aggregate columns: interval coverage (fraction of |y−μ| ≤ z·σ)
    * and sharpness (mean interval width 2zσ) per level, plus mean σ. */
  def calibrationColumns(
      yTrue: String = "y_true_f", yPred: String = "y_pred_f", sigma: String = "y_pred_sigma_f")
      : Seq[Column] = {
    val e = abs(col(yTrue) - col(yPred))
    ZScores.toSeq.sortBy(_._1).flatMap { case (lvl, z) =>
      Seq(
        avg(when(e <= lit(z) * col(sigma), 1.0).otherwise(0.0)).as(s"coverage_$lvl"),
        avg(lit(2.0 * z) * col(sigma)).as(s"sharpness_$lvl"))
    } :+ avg(col(sigma)).as("mean_sigma") // metrics.py:193
  }

  private val CalibrationNames: Seq[String] =
    ZScores.keys.toSeq.sorted.flatMap(l => Seq(s"coverage_$l", s"sharpness_$l")) :+ "mean_sigma"

  /** Decode [[calibrationColumns]] by name, rounded to 4 decimals. */
  def calibrationResult(values: Map[String, Any]): Map[String, Double] =
    CalibrationNames.map(f => f -> round4(values(f))).toMap

  /** A5 in one collect. */
  def calibrationMetrics(
      df: DataFrame,
      yTrue: String = "y_true_f", yPred: String = "y_pred_f", sigma: String = "y_pred_sigma_f")
      : Map[String, Double] =
    calibrationResult(aggregate(df, calibrationColumns(yTrue, yPred, sigma)))

  /** One global aggregate, collected as name → value. */
  private[eval] def aggregate(df: DataFrame, columns: Seq[Column]): Map[String, Any] = {
    val row = df.agg(columns.head, columns.tail: _*).collect()(0)
    row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq)
  }

  /** A6: pinball loss per quantile column (metrics.py:200-236). */
  def pinballLoss(df: DataFrame, yTrue: String, quantilePreds: Map[Double, String]): Map[Double, Double] = {
    val aggs = quantilePreds.toSeq.sortBy(_._1).map { case (q, c) =>
      val e = col(yTrue) - col(c)
      avg(when(e >= 0, lit(q) * e).otherwise(lit(q - 1) * e)).as(s"pinball_$q")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    quantilePreds.keys.toSeq.sorted.zipWithIndex.map { case (q, i) =>
      q -> BigDecimal(row.getDouble(i)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  /** A9: sliced metric fan-out — ONE shuffle via grouping sets, one set
    * per slice column, instead of the reference's per-dimension loops
    * (eval/slicing.py:22-168). A label is 'ALL' for the dimensions a row
    * is not sliced by. Slices under minCount are dropped. */
  def metricsBySlices(
      df: DataFrame,
      sliceCols: Seq[String],
      yTrue: String = "y_true_f", yPred: String = "y_pred_f",
      minCount: Int = 10): DataFrame = {
    val e = col(yPred) - col(yTrue)
    df.groupingSets(sliceCols.map(c => Seq(col(c))), sliceCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        round(avg(abs(e)), 4).as("mae"),
        round(sqrt(avg(e * e)), 4).as("rmse"),
        round(avg(e), 4).as("bias"))
      .filter(col("n") >= minCount)
      .select(sliceCols.map(c => coalesce(col(c).cast("string"), lit("ALL")).as(c)) ++
        Seq("n", "mae", "rmse", "bias").map(col): _*)
  }

  /** E16: month → meteorological season (eval/slicing.py:87-95). */
  def seasonCol(monthCol: String): org.apache.spark.sql.Column = {
    val m = col(monthCol)
    when(m.isin(12, 1, 2), "DJF").when(m.isin(3, 4, 5), "MAM")
      .when(m.isin(6, 7, 8), "JJA").otherwise("SON")
  }

  /** A8: temperature regimes from exact quartiles at eval scale
    * (slicing.py:146); approx at production scale. */
  def temperatureRegimes(df: DataFrame, yTrue: String, approx: Boolean = false): (Double, Double) = {
    if (approx) {
      val q = df.stat.approxQuantile(yTrue, Array(0.25, 0.75), 1e-4)
      (q(0), q(1))
    } else {
      val row = df.agg(
        expr(s"percentile($yTrue, 0.25)").as("p25"),
        expr(s"percentile($yTrue, 0.75)").as("p75")).collect()(0)
      (row.getDouble(0), row.getDouble(1))
    }
  }
}
