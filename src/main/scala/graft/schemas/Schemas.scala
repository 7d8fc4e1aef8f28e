package graft.schemas

import org.apache.spark.sql.types._

/** QC flag vocabulary — an int bitmask, not an enum; combination is
  * bitwise OR and data is never deleted, only labeled.
  * Mirrors /root/reference/src/tempdata/schemas/qc_flags.py:13-23.
  */
object QcFlags {
  val Ok: Int = 0
  val MissingValue: Int = 1 << 0
  val OutOfRange: Int = 1 << 1
  val SpikeDetected: Int = 1 << 2
  val DuplicateTs: Int = 1 << 3
  val LowCoverage: Int = 1 << 4
  val IncompleteDay: Int = 1 << 5
}

/** Canonical table schemas. Timestamps are UTC instants (session TZ is
  * pinned to UTC); local calendar days are DateType — which removes the
  * reference's tz-strip juggling at join time
  * (features/build_train_daily_tmax.py:58-66).
  *
  * Reference shapes: schemas/hourly_obs.py:32-56, daily_tmax.py:36-63,
  * daily_tmax_forecast.py:31-63, train_daily_tmax.py:30-93.
  */
object Schemas {

  val hourlyObs: StructType = StructType(Seq(
    StructField("ts_utc", TimestampType, nullable = false),
    StructField("station_id", StringType, nullable = false),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("temp_c", DoubleType),
    StructField("source", StringType, nullable = false),
    StructField("qc_flags", LongType, nullable = false)))

  /** LLM-corpus documents table (testdata documents.parquet shape). */
  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val dailyTmax: StructType = StructType(Seq(
    StructField("date_local", DateType, nullable = false),
    StructField("station_id", StringType, nullable = false),
    StructField("tmax_c", DoubleType, nullable = false),
    StructField("tmax_f", DoubleType, nullable = false),
    StructField("coverage_hours", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("qc_flags", LongType, nullable = false),
    StructField("updated_at_utc", TimestampType, nullable = false)))

  val dailyTmaxForecast: StructType = StructType(Seq(
    StructField("station_id", StringType, nullable = false),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("issue_time_utc", TimestampType, nullable = false),
    StructField("target_date_local", DateType, nullable = false),
    StructField("tmax_pred_c", DoubleType),
    StructField("tmax_pred_f", DoubleType),
    StructField("lead_hours", IntegerType, nullable = false),
    StructField("model", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("ingested_at_utc", TimestampType, nullable = false)))

  val trainDailyTmax: StructType = StructType(Seq(
    StructField("station_id", StringType, nullable = false),
    StructField("issue_time_utc", TimestampType, nullable = false),
    StructField("target_date_local", DateType, nullable = false),
    StructField("tmax_pred_f", DoubleType, nullable = false),
    StructField("lead_hours", IntegerType, nullable = false),
    StructField("forecast_source", StringType, nullable = false),
    StructField("sin_doy", DoubleType),
    StructField("cos_doy", DoubleType),
    StructField("month", IntegerType),
    StructField("tmax_actual_f", DoubleType),
    StructField("truth_qc_flags", LongType),
    StructField("coverage_hours", IntegerType),
    StructField("residual_f", DoubleType),
    StructField("bias_7d", DoubleType),
    StructField("bias_14d", DoubleType),
    StructField("bias_30d", DoubleType),
    StructField("rmse_14d", DoubleType),
    StructField("rmse_30d", DoubleType),
    StructField("sigma_lead", DoubleType)))
}
