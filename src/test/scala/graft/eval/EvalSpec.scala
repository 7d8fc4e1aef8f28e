package graft.eval

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Metrics micro-cases (tests/test_eval.py:225-261), ridge closed-form
  * exactness, persistence, kNN, uncertainty models. */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  test("MAE/bias micro-case: pred [70,75,80] vs true [72,73,78] → mae 2.0, bias 2/3") {
    val df = Seq((70.0, 72.0), (75.0, 73.0), (80.0, 78.0)).toDF("y_pred_f", "y_true_f")
    val m = Metrics.forecastMetrics(df)
    assert(m.mae == 2.0)
    assert(m.bias == 0.6667)
    assert(m.n == 3)
  }

  test("perfect predictions with σ=3 → all coverages 1.0") {
    val df = Seq((70.0, 70.0, 3.0), (75.0, 75.0, 3.0), (80.0, 80.0, 3.0))
      .toDF("y_pred_f", "y_true_f", "y_pred_sigma_f")
    val cal = Metrics.calibrationMetrics(df)
    assert(cal("coverage_50") == 1.0 && cal("coverage_80") == 1.0 && cal("coverage_90") == 1.0)
    assert(cal("sharpness_50") ==
      BigDecimal(2 * Metrics.ZScores(50) * 3.0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(cal("mean_sigma") == 3.0)
  }

  test("ridge closed form recovers y = 2x + 1 exactly as alpha → 0") {
    val train = (1 to 50).map(i => (i.toDouble, 2.0 * i + 1.0)).toDF("x", "y")
    val ridge = new Ridge(Seq("x"), "y", alpha = 1e-9)
    ridge.fit(train)
    val (w, b) = ridge.fittedCoefs
    assert(math.abs(w(0) - 2.0) < 1e-6)
    assert(math.abs(b - 1.0) < 1e-4)
  }

  test("ridge shrinks the slope by exactly Sxx/(Sxx+alpha), intercept unpenalized") {
    // sklearn semantics: w = Sxy/(Sxx + α); b = ȳ − w·x̄
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    val ys = Seq(3.0, 5.0, 7.0, 9.0) // y = 2x + 1
    val train = xs.zip(ys).toDF("x", "y")
    val alpha = 5.0
    val xbar = xs.sum / 4; val ybar = ys.sum / 4
    val sxx = xs.map(x => (x - xbar) * (x - xbar)).sum
    val sxy = xs.zip(ys).map { case (x, y) => (x - xbar) * (y - ybar) }.sum
    val wExpected = sxy / (sxx + alpha)
    val ridge = new Ridge(Seq("x"), "y", alpha)
    ridge.fit(train)
    val (w, b) = ridge.fittedCoefs
    assert(math.abs(w(0) - wExpected) < 1e-12)
    assert(math.abs(b - (ybar - wExpected * xbar)) < 1e-12)
  }

  test("ridge zero-fills missing features (handle_missing=fill_zero)") {
    val train = Seq((Option(1.0), 3.0), (None, 1.0), (Option(3.0), 7.0))
      .toDF("x", "y")
    val ridge = new Ridge(Seq("x"), "y", alpha = 1e-9)
    ridge.fit(train) // fits through (1,3),(0,1),(3,7) → y = 2x + 1
    val (w, b) = ridge.fittedCoefs
    assert(math.abs(w(0) - 2.0) < 1e-6 && math.abs(b - 1.0) < 1e-5)
  }

  test("kNN with k=1 returns nearest label; k=3 averages") {
    val train = Seq((0.0, 10.0), (1.0, 20.0), (10.0, 30.0)).toDF("x", "y")
    val test = Seq((0.9, 1L)).toDF("x", "id")
    val knn1 = new KnnRegressor(Seq("x"), "y", k = 1)
    knn1.fit(train)
    assert(knn1.predict(test, "id").collect()(0).getAs[Double]("y_pred_f") == 20.0)
    val knn3 = new KnnRegressor(Seq("x"), "y", k = 3)
    knn3.fit(train)
    assert(knn3.predict(test, "id").collect()(0).getAs[Double]("y_pred_f") == 20.0) // (10+20+30)/3
    // k > n: explicit cap to the train size (models.py:361-363) —
    // degrades to the mean of ALL train labels
    val knn50 = new KnnRegressor(Seq("x"), "y", k = 50)
    knn50.fit(train)
    assert(knn50.predict(test, "id").collect()(0).getAs[Double]("y_pred_f") == 20.0) // (10+20+30)/3
  }

  test("bucketed sigma: per-bucket when n>=min, global fallback otherwise, floor applied") {
    val resid = ((1 to 20).map(i => (if (i % 2 == 0) 5.0 else -5.0, 10)) ++
      Seq((100.0, 50), (-100.0, 50))) // bucket [36,72): only 2 samples
      .toDF("residual_f", "lead_hours")
    val m = new Uncertainty.BucketedSigma(minSamples = 10)
    m.fit(resid)
    val out = resid.select(col("lead_hours"), m.predictSigma().as("sigma"))
      .distinct().collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // bucket [0,36): std of ±5 alternating (n=20) ≈ 5.13; bucket [36,72):
    // n=2 < 10 → global sigma
    assert(out(10) < 10.0)
    assert(out(50) > 20.0) // fell back to global (dominated by ±100)
  }

  test("rolling sigma: coalesce(sigma_lead, fallback) with floor") {
    val df = Seq(Option(2.5), None, Option(0.2)).toDF("sigma_lead")
    val m = new Uncertainty.RollingSigma(fallback = 3.0, floor = 1.0)
    val out = df.select(m.predictSigma().as("s")).as[Double].collect()
    assert(out.toSeq == Seq(2.5, 3.0, 1.0))
  }

  test("sliced metrics via grouping sets drop small slices") {
    val df = ((1 to 20).map(i => ("A", 1.0 + i % 2, 1.0)) ++ Seq(("B", 5.0, 1.0)))
      .toDF("slice", "y_pred_f", "y_true_f")
    val out = Metrics.metricsBySlices(df, Seq("slice"), minCount = 10).collect()
    assert(out.length == 1 && out(0).getAs[String]("slice") == "A") // B has n=1 < 10
  }

  test("sliced metrics leave a user's __slices_in view alone and match the SQL spelling") {
    val df = (1 to 60).map { i =>
      (if (i % 3 == 0) "KLGA" else "KJFK", if (i % 2 == 0) 24 else 48, 70.0 + i % 5, 70.0 + i % 7)
    }.toDF("station_id", "lead_hours", "y_pred_f", "y_true_f").repartition(3)
    spark.range(7).createOrReplaceTempView("__slices_in")
    try {
      val got = Metrics.metricsBySlices(df, Seq("station_id", "lead_hours"), minCount = 12)
      val rows = got.collect().toSeq
      assert(spark.table("__slices_in").count() == 7) // the user's view survived
      // the earlier spelling: a temp view and a GROUPING SETS query
      df.withColumn("__e", $"y_pred_f" - $"y_true_f").createOrReplaceTempView("__slices_ref")
      val ref = spark.sql(
        """SELECT coalesce(CAST(station_id AS STRING), 'ALL') AS station_id,
          |  coalesce(CAST(lead_hours AS STRING), 'ALL') AS lead_hours,
          |  count(*) AS n,
          |  round(avg(abs(__e)), 4) AS mae,
          |  round(sqrt(avg(__e * __e)), 4) AS rmse,
          |  round(avg(__e), 4) AS bias
          |FROM __slices_ref
          |GROUP BY GROUPING SETS ((station_id), (lead_hours))
          |HAVING count(*) >= 12""".stripMargin)
      assert(got.schema == ref.schema)
      assert(rows.sortBy(_.toString) == ref.collect().toSeq.sortBy(_.toString))
      assert(rows.size == 4 && rows.forall(r => r.getString(0) == "ALL" || r.getString(1) == "ALL"))
    } finally {
      spark.catalog.dropTempView("__slices_in")
      spark.catalog.dropTempView("__slices_ref")
    }
  }

  test("bucketed sigma's one aggregate equals a global + groupBy reference on many partitions") {
    val resid = spark.range(0, 2000, 1, 4).select(
      (sin($"id" * 0.37) * 5.0 + ($"id" % 11) * 0.1).as("residual_f"),
      ($"id" % 130).cast("int").as("lead_hours"))
    val buckets = Seq((0, 36), (36, 72), (72, 120))
    for (sampleStd <- Seq(true, false); minSamples <- Seq(10, 600)) {
      val m = new Uncertainty.BucketedSigma(buckets, minSamples = minSamples, sampleStd = sampleStd)
      m.fit(resid)
      val (gotBuckets, gotGlobal) = m.fitted
      // reference: the two queries fit used to run
      val sd: Column => Column =
        if (sampleStd) stddev_samp else stddev_pop
      val refGlobal = resid.agg(sd($"residual_f")).collect()(0).getDouble(0)
      val idx = buckets.zipWithIndex.foldLeft(lit(-1)) { case (acc, ((lo, hi), i)) =>
        when($"lead_hours" >= lo && $"lead_hours" < hi, i).otherwise(acc)
      }
      val refBuckets = resid.withColumn("__b", idx).filter($"__b" >= 0)
        .groupBy($"__b").agg(sd($"residual_f").as("sd"), count(lit(1)).as("n"))
        .filter($"n" >= minSamples).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(math.abs(gotGlobal - refGlobal) <= 1e-12)
      assert(gotBuckets.keySet == refBuckets.keySet)
      gotBuckets.foreach { case (i, s) => assert(math.abs(s - refBuckets(i)) <= 1e-12, s"bucket $i") }
    }
  }
}
