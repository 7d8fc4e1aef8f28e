package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Uncertainty models — σ per prediction row.
  * Mirrors eval/uncertainty.py:48-218 (M6–M8).
  *
  * Fitted state is tiny (a global scalar or a handful of buckets),
  * collected once and broadcast back into the prediction expression —
  * no per-row driver work.
  */
object Uncertainty {

  /** M6: GlobalSigma — σ = max(sample-std of train residuals, floor)
    * for every row (uncertainty.py:48-92). */
  final class GlobalSigma(floor: Double = 1.0) {
    private var sigma: Double = Double.NaN
    def fittedSigma: Double = sigma
    def fit(residuals: DataFrame, residCol: String = "residual_f"): Unit = {
      val s = residuals.agg(stddev_samp(col(residCol))).collect()(0).getDouble(0)
      sigma = math.max(s, floor)
    }
    def predictSigma: Column = lit(sigma)
  }

  /** M7: BucketedSigma — σ per lead_hours bucket [lo,hi), min 10 samples
    * per bucket else global fallback; floor applied after
    * (uncertainty.py:95-174; config buckets [[0,36],[36,72],[72,120]]).
    *
    * `sampleStd = false` selects population std (ddof=0) — the
    * reference's np.std spelling (uncertainty.py:138), needed for exact
    * replay of its committed runs; the default keeps this library's
    * original sample-std choice that existing oracles pin. */
  final class BucketedSigma(
      buckets: Seq[(Int, Int)] = Seq((0, 36), (36, 72), (72, 120)),
      minSamples: Int = 10,
      floor: Double = 1.0,
      sampleStd: Boolean = true) {
    private val sd: Column => Column = if (sampleStd) stddev_samp else stddev_pop
    private var bucketSigmas: Map[Int, Double] = Map.empty // index -> sigma
    private var globalSigma: Double = Double.NaN
    def fitted: (Map[Int, Double], Double) = (bucketSigmas, globalSigma)

    private def bucketIdx(lead: Column): Column =
      buckets.zipWithIndex.foldLeft(lit(-1)) { case (acc, ((lo, hi), i)) =>
        when(lead >= lo && lead < hi, i).otherwise(acc)
      }

    /** One aggregate: the global sd and, per bucket, the sd and the row
      * count (a bucket's columns see only its rows; sd skips the nulls
      * `when` leaves elsewhere). Buckets under minSamples rows keep the
      * global fallback. */
    def fit(residuals: DataFrame, residCol: String = "residual_f", leadCol: String = "lead_hours"): Unit = {
      val r = col(residCol)
      val b = bucketIdx(col(leadCol))
      val perBucket = buckets.indices.flatMap { i =>
        Seq(sd(when(b === i, r)).as(s"sd_$i"), count(when(b === i, lit(1))).as(s"n_$i"))
      }
      val row = residuals.agg(sd(r).as("sd"), perBucket: _*).collect()(0)
      globalSigma = row.getDouble(0)
      bucketSigmas = buckets.indices.flatMap { i =>
        val n = row.getLong(2 + 2 * i)
        if (n >= minSamples && n > 0) Some(i -> row.getDouble(1 + 2 * i)) else None
      }.toMap
    }

    def predictSigma(leadCol: String = "lead_hours"): Column = {
      val idx = bucketIdx(col(leadCol))
      val sigma = buckets.indices.foldLeft(lit(globalSigma)) { (acc, i) =>
        bucketSigmas.get(i) match {
          case Some(s) => when(idx === i, s).otherwise(acc)
          case None    => acc
        }
      }
      greatest(sigma, lit(floor))
    }
  }

  /** M8: RollingSigma — σ = max(coalesce(sigma_lead, fallback), floor);
    * pure expression over the W3 expanding-std feature
    * (uncertainty.py:177-218). */
  final class RollingSigma(fallback: Double = 3.0, floor: Double = 1.0) {
    def fit(): Unit = ()
    def predictSigma(sigmaLeadCol: String = "sigma_lead"): Column =
      greatest(coalesce(col(sigmaLeadCol), lit(fallback)), lit(floor))
  }
}
