package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schemas.QcFlags

/** The QC-clean stage: validate-in → dedup → flag-missing →
  * flag+nullify out-of-range → flag spikes → validate-out.
  * Mirrors clean/clean_hourly.py:220-280; principles "flag don't delete,
  * deterministic, idempotent" (clean_hourly.py:11-16).
  *
  * Scale notes: one window spec — partitionBy(station_id) ordered by
  * ts_utc — serves both dedup and spike detection, so the whole stage is
  * a single shuffle on station_id. No global sort: the reference's
  * frame-wide `sort_values("ts_utc")` is only needed per station.
  * Spike detection partitions by station (the reference diffs across the
  * whole frame — single-station assumption; SURVEY §4 flags the
  * generalization).
  */
object CleanHourly {

  /** Dedup on (ts_utc, station_id), keep-first with a deterministic
    * tiebreak (clean_hourly.py:40-62 keeps first occurrence in file
    * order; we order by the tiebreak column — e.g. source or ingest
    * order — to make "first" well-defined under parallel reads). */
  def dedup(df: DataFrame, tiebreak: String = "source"): DataFrame = {
    // secondary order: prefer a non-null reading over a sentinel/null so
    // ties on the tiebreak column stay deterministic under parallel reads
    val w = Window.partitionBy("station_id", "ts_utc")
      .orderBy(col(tiebreak), col("temp_c").asc_nulls_last)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Flag null temps (QC_MISSING_VALUE, clean_hourly.py:59). */
  def flagMissing(df: DataFrame): DataFrame =
    df.withColumn("qc_flags",
      when(col("temp_c").isNull, col("qc_flags").bitwiseOR(QcFlags.MissingValue))
        .otherwise(col("qc_flags")))

  /** Flag AND nullify temps outside [-90, 60]°C
    * (QC_OUT_OF_RANGE, clean_hourly.py:85-114). */
  def flagOutOfRange(df: DataFrame, lo: Double = -90.0, hi: Double = 60.0): DataFrame = {
    val bad = col("temp_c").isNotNull && (col("temp_c") < lo || col("temp_c") > hi)
    df.withColumn("qc_flags",
        when(bad, col("qc_flags").bitwiseOR(QcFlags.OutOfRange)).otherwise(col("qc_flags")))
      .withColumn("temp_c", when(bad, lit(null).cast("double")).otherwise(col("temp_c")))
  }

  /** Flag |first difference| > threshold as spikes — never deletes
    * (QC_SPIKE_DETECTED, clean_hourly.py:117-142). */
  def flagSpikes(df: DataFrame, threshold: Double = 15.0): DataFrame = {
    val w = Window.partitionBy("station_id").orderBy("ts_utc")
    val jump = abs(col("temp_c") - lag(col("temp_c"), 1).over(w))
    df.withColumn("qc_flags",
      when(jump > threshold, col("qc_flags").bitwiseOR(QcFlags.SpikeDetected))
        .otherwise(col("qc_flags")))
  }

  /** The full stage. Input validation is structure-only (the range step
    * below is what fixes out-of-range values); output validation is the
    * full contract except key uniqueness, which [[dedup]] guarantees by
    * construction (row_number() == 1 per (station_id, ts_utc), and the
    * flag steps only add columns) — checking it again would cost a
    * groupBy job over the whole lineage. */
  def apply(df: DataFrame, spikeThreshold: Double = 15.0): DataFrame = {
    val validated = graft.schemas.Checks.validateHourlyObsStructure(df)
    val cleaned = flagSpikes(
      flagOutOfRange(flagMissing(dedup(validated))), spikeThreshold)
    graft.schemas.Checks.validateHourlyObs(cleaned, requireUniqueKeys = false)
  }
}
