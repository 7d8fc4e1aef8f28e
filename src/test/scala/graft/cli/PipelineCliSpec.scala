package graft.cli

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** Drives the CLI subcommands end-to-end through their public entry
  * (run with an injected session), chaining stage outputs like a
  * reference user would. */
class PipelineCliSpec extends SparkSpec {

  test("ingest-clean → build-daily → build-train → eval chain") {
    val work = Files.createTempDirectory("graft_cli").toString
    // small raw CSV (10 days hourly)
    val sb = new StringBuilder("DATE,TMP,LATITUDE,LONGITUDE\n")
    for (d <- 1 to 10; h <- 0 until 24)
      sb.append(f"2024-06-$d%02dT$h%02d:00:00,+0${200 + h}%03d,1,40.78,-73.87\n".replace(",1,", ",1,").replaceFirst("\\+0(\\d{3}),1", "+0$1,1"))
    Files.writeString(Paths.get(s"$work/raw.csv"), sb.toString)

    Pipeline.run(spark, List("ingest-clean", s"$work/raw.csv", "KLGA", s"$work/hourly"))
    assert(spark.read.parquet(s"$work/hourly").count() == 240)

    Pipeline.run(spark, List("build-daily", s"$work/hourly", "America/New_York", s"$work/daily"))
    val daily = spark.read.parquet(s"$work/daily")
    assert(daily.count() >= 10)

    // forecasts = truth + 1.0, issued the prior day
    import org.apache.spark.sql.functions._
    daily.select(
        col("station_id"),
        (unix_timestamp(col("date_local").cast("timestamp")) - 86400L).cast("timestamp").as("issue_time_utc"),
        col("date_local").as("target_date_local"),
        (col("tmax_f") + 1.0).as("tmax_pred_f"),
        lit(28).as("lead_hours"),
        lit("openmeteo").as("source"))
      .write.mode("overwrite").parquet(s"$work/forecast")

    Pipeline.run(spark, List("build-train", s"$work/forecast", s"$work/daily", s"$work/train"))
    assert(spark.read.parquet(s"$work/train").count() >= 8)

    Pipeline.run(spark, List("eval", s"$work/train", s"$work/run", "passthrough"))
    assert(Files.exists(Paths.get(s"$work/run/comparison.json")))
    assert(Files.exists(Paths.get(s"$work/run/models/Passthrough/metrics.json")))
  }

  test("ingest-era5 parses a real NetCDF file from disk through the clean path") {
    import graft.sources.NcFixture.{FAttr, FDim, FVar, build}
    val work = Files.createTempDirectory("graft_cli_nc").toString
    // 48 hourly records, packed shorts: K = 280 + 0.01·(150 + t)
    val bytes = build(
      dims = Seq(FDim("time", 48), FDim("latitude", 2), FDim("longitude", 1)),
      vars = Seq(
        FVar("latitude", Seq(1), Nil, 5, Seq(40.5, 41.0)),
        FVar("longitude", Seq(2), Nil, 5, Seq(-74.0)),
        FVar("time", Seq(0),
          Seq(FAttr("units", 2, "hours since 2024-06-01 00:00:00")), 4,
          (0 until 48).map(_.toDouble)),
        FVar("t2m", Seq(0, 1, 2),
          Seq(FAttr("scale_factor", 6, Seq(0.01)), FAttr("add_offset", 6, Seq(280.0))), 3,
          (0 until 48).flatMap(t => Seq((150 + t).toDouble, 999.0)))),
      numRecs = 0)
    Files.write(Paths.get(s"$work/era5.nc"), bytes)

    Pipeline.run(spark, List("ingest-era5", s"$work/era5.nc", "KLGA", "40.7", "-73.9", s"$work/hourly"))
    val hourly = spark.read.parquet(s"$work/hourly")
    assert(hourly.count() == 48)
    import org.apache.spark.sql.functions._
    val first = hourly.orderBy("ts_utc").collect()(0)
    assert(math.abs(first.getAs[Double]("temp_c") - (280 + 1.50 - 273.15)) < 1e-9)
    assert(first.getAs[String]("source") == "era5")
    // the clean output chains into build-daily like any other source
    Pipeline.run(spark, List("build-daily", s"$work/hourly", "America/New_York", s"$work/daily"))
    assert(spark.read.parquet(s"$work/daily").count() >= 2)
  }

  test("eval-config runs the configured model and freezes config.json; list-runs sees it") {
    import java.sql.{Date, Timestamp}
    import spark.implicits._
    val work = Files.createTempDirectory("graft_cfg").toString
    (1 to 40).map { i =>
      val actual = 70.0 + (i % 7)
      ("TEST", Timestamp.valueOf(f"2024-07-${(i % 28) + 1}%02d 12:00:00"),
        Date.valueOf(f"2024-08-${(i % 28) + 1}%02d"), actual + 1.5, 28, actual)
    }.toDF("station_id", "issue_time_utc", "target_date_local",
        "tmax_pred_f", "lead_hours", "tmax_actual_f")
      .write.mode("overwrite").parquet(s"$work/train")
    graft.eval.RunConfig(
      runName = "cli_run", stationIds = Seq("TEST"),
      startDateLocal = java.time.LocalDate.parse("2024-07-01"),
      endDateLocal = java.time.LocalDate.parse("2024-09-30"), // covers the fixture's August dates
      model = graft.eval.RunConfig.ModelConfig("passthrough"))
      .save(s"$work/cfg.json")
    // config scoping is applied: a config naming a different station
    // filters everything out and fails fast instead of silently
    // evaluating unscoped data
    graft.eval.RunConfig(
      runName = "wrong_station", stationIds = Seq("OTHER"),
      startDateLocal = java.time.LocalDate.parse("2024-07-01"),
      endDateLocal = java.time.LocalDate.parse("2024-09-30"),
      model = graft.eval.RunConfig.ModelConfig("passthrough"))
      .save(s"$work/bad_cfg.json")
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, List("eval-config", s"$work/train", s"$work/runs/bad", s"$work/bad_cfg.json"))
    }

    Pipeline.run(spark, List("eval-config", s"$work/train", s"$work/runs/r1", s"$work/cfg.json"))
    assert(Files.exists(Paths.get(s"$work/runs/r1/config.json")))
    assert(graft.eval.RunConfig.load(s"$work/runs/r1/config.json").runName == "cli_run")
    assert(Files.exists(Paths.get(s"$work/runs/r1/models/Passthrough/metrics.json")))
    assert(Files.exists(Paths.get(s"$work/runs/r1/models/Passthrough/slices.json")))
    val listed = graft.eval.Runner.listRuns(s"$work/runs")
    assert(listed.map(_.runId) == Seq("r1") && listed.head.modelNames == Seq("Passthrough"))
    Pipeline.run(spark, List("list-runs", s"$work/runs")) // smoke: prints, no throw

    // a knn config runs end-to-end through the same path
    // (create_forecaster parity: every config model type is runnable)
    graft.eval.RunConfig(
      runName = "cli_knn", stationIds = Seq("TEST"),
      startDateLocal = java.time.LocalDate.parse("2024-07-01"),
      endDateLocal = java.time.LocalDate.parse("2024-09-30"),
      model = graft.eval.RunConfig.ModelConfig("knn",
        hyperparams = Map("n_neighbors" -> 3.0), features = Seq("tmax_pred_f")))
      .save(s"$work/knn_cfg.json")
    Pipeline.run(spark, List("eval-config", s"$work/train", s"$work/runs/r2", s"$work/knn_cfg.json"))
    val knnCfg = graft.eval.RunConfig.load(s"$work/runs/r2/config.json")
    assert(knnCfg.model.modelType == "knn" &&
      knnCfg.model.hyperparams == Map("n_neighbors" -> 3.0))
    val back = graft.eval.Runner.loadMultiModelRun(spark, s"$work/runs", "r2")
    assert(back.models.keySet == Set("kNN (k=3)"))
    assert(!back.models("kNN (k=3)").metrics("mae").isNaN)
  }

  test("dedup-docs writes survivors and the group map") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_dd_in").toString
    val outDir = Files.createTempDirectory("graft_dd_out").toString
    Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (9L, "x y z p q r s"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    Pipeline.run(spark, List("dedup-docs", in, outDir))
    val kept = spark.read.parquet(s"$outDir/docs").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 9L))
    assert(spark.read.parquet(s"$outDir/groups").count() == 3)
  }

  test("dedup-batch admits only novel batch docs against the corpus") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_db").toString
    Seq((1L, "a b c d e f g h i j k l m"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/corpus")
    Seq((10L, "a b c d e f g h i j k l m"),      // exact corpus dup
        (11L, "p q r s t u v w x y z a1 b1"),    // novel
        (12L, "p q r s t u v w x y z a1 b1"))    // batch dup of 11
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/batch")
    Pipeline.run(spark, List("dedup-batch", s"$work/corpus", s"$work/batch", s"$work/out"))
    val admitted = spark.read.parquet(s"$work/out/docs")
      .select("doc_id").as[Long].collect().sorted
    assert(admitted.toSeq == Seq(11L))
    val statuses = spark.read.parquet(s"$work/out/status")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(statuses == Map(10L -> "corpus_exact", 11L -> "admitted", 12L -> "batch_dup"))
  }

  test("dedup-index + dedup-admit: stored-index admission, index grows, re-run refused") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_da").toString
    Seq((1L, "a b c d e f g h i j k l m"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/corpus")
    Seq((10L, "a b c d e f g h i j k l m"),      // exact corpus dup
        (11L, "p q r s t u v w x y z a1 b1"))    // novel → admitted + indexed
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/batch1")
    Pipeline.run(spark, List("dedup-index", s"$work/corpus", s"$work/idx"))
    Pipeline.run(spark, List("dedup-admit", s"$work/idx", s"$work/batch1", s"$work/out1"))
    assert(spark.read.parquet(s"$work/out1/docs")
      .select("doc_id").as[Long].collect().toSeq == Seq(11L))
    // the appended generation rejects batch 2's copy of doc 11
    Seq((20L, "p q r s t u v w x y z a1 b1"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/batch2")
    Pipeline.run(spark, List("dedup-admit", s"$work/idx", s"$work/batch2", s"$work/out2"))
    val st2 = spark.read.parquet(s"$work/out2/status")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(st2 == Map(20L -> "corpus_exact"))
    // re-running an already-admitted batch must refuse, not destroy out1
    assertThrows[IllegalArgumentException] {
      Pipeline.run(spark, List("dedup-admit", s"$work/idx", s"$work/batch1", s"$work/out1b"))
    }
    assert(spark.read.parquet(s"$work/out1/docs").count() == 1)
  }

  test("dedup-index + dedup-compact + dedup-admit: the CLI reads the index through its generation") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_dc").toString
    Seq((1L, "a b c d e f g h i j k l m"), (2L, "n o p q r s t u v w x y z"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/corpus")
    Seq((10L, "a b c d e f g h i j k l m"),      // exact corpus dup
        (11L, "p q r s t u v w x y z a1 b1"))    // novel
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/batch")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Pipeline.run(spark, List("dedup-index", s"$work/corpus", s"$work/idx")))
    assert(out.toString.contains("indexed 2 corpus docs (2 fingerprints)"), out.toString)
    Pipeline.run(spark, List("dedup-compact", s"$work/idx"))
    Pipeline.run(spark, List("dedup-admit", s"$work/idx", s"$work/batch", s"$work/out"))
    val statuses = spark.read.parquet(s"$work/out/status")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(statuses == Map(10L -> "corpus_exact", 11L -> "admitted"))
    assert(graft.ops.DedupIndex.read(spark, s"$work/idx").fps
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 11L))
  }

  test("ivf-index + ivf-append + ivf-topk: stored ANN index round trip") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_ivfcli").toString
    // 40 corpus vectors in two well-separated clusters along dim 0
    def vec(sign: Double, jit: Double) =
      Array.tabulate(8)(i => (if (i == 0) sign * 10.0 + jit else jit).toFloat)
    val corpus = (0 until 40).map { i =>
      (i.toLong, vec(if (i % 2 == 0) 1.0 else -1.0, i / 100.0).toSeq)
    }
    corpus.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/emb")
    Pipeline.run(spark, List("ivf-index", s"$work/emb", "2", s"$work/idx"))
    assert(graft.ops.IvfIndex.storedK(spark, s"$work/idx") == 2)

    // append a twin of vector 0 with a fresh id; the stored quantizer
    // must place it in vector 0's cell so a probe of v0 finds it first
    Seq((900L, corpus(0)._2)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/emb2")
    Pipeline.run(spark, List("ivf-append", s"$work/idx", s"$work/emb2"))

    Seq((0L, corpus(0)._2)).toDF("query_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/q")
    Pipeline.run(spark, List("ivf-topk", s"$work/idx", s"$work/q", "1", s"$work/nn"))
    val nn = spark.read.parquet(s"$work/nn").collect()
    assert(nn.length == 1)
    assert(nn(0).getAs[Long]("neighbor_id") == 900L)
    assert(math.abs(nn(0).getAs[Double]("cos") - 1.0) < 1e-9)
  }

  test("bpe-train persists the ranked merge list") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_bpe").toString
    Seq((1L, "abc abc abc abc abc abd abd abd"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/docs")
    Pipeline.run(spark, List("bpe-train", s"$work/docs", "10", s"$work/tok"))
    val merges = spark.read.parquet(s"$work/tok/merges")
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    assert(merges.toSeq == Seq(("a", "b"), ("ab", "c"), ("ab", "d")))
  }

  test("write-zorder lays the table out by the 2-D curve and round-trips rows") {
    val work = Files.createTempDirectory("graft_zo").toString
    spark.range(5000)
      .selectExpr("id", "id * 104729 % 86400 AS t", "id * 7919 % 500 AS u")
      .write.mode("overwrite").parquet(s"$work/in")
    Pipeline.run(spark, List("write-zorder", s"$work/in", "t", "u", s"$work/out"))
    val back = spark.read.parquet(s"$work/out")
    assert(back.count() == 5000)
    assert(back.columns.sorted.toSeq == Seq("id", "t", "u"), "layout key must not leak")
  }

  test("write-bloom lays out point-lookup filters; quantiles prints exact order stats") {
    val work = Files.createTempDirectory("graft_bloomcli").toString
    spark.range(20000)
      .selectExpr("md5(CAST(id AS STRING)) AS key", "CAST(id AS DOUBLE) AS v")
      .write.mode("overwrite").parquet(s"$work/in")
    Pipeline.run(spark, List("write-bloom", s"$work/in", "key:20000", s"$work/out"))
    val back = spark.read.parquet(s"$work/out")
    assert(back.count() == 20000)
    // the layout must carry the filter: parquet-mr exposes it via the
    // row-group metadata — cheap proxy: a miss-lookup decodes 0 rows
    // only when SOMETHING beyond min/max pruned (md5 keys span every
    // group's range)
    assert(back.filter(org.apache.spark.sql.functions.col("key") === "no_such_key").count() == 0)

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Pipeline.run(spark, List("quantiles", s"$work/in", "v", "0.5,0.99"))
    }
    // v = 0..19999 → k50 = ceil(0.5*20000) = 10000 → value 9999.0
    assert(out.toString.contains(""""p50":9999.0"""), out.toString)
    assert(out.toString.contains(""""p99":19799.0"""), out.toString)
  }

  test("snapshot-merge folds new change files into the snapshot across runs") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_snapcli").toString
    Seq((1L, 1L, "a1"), (2L, 1L, "b1"))
      .toDF("k", "ver", "payload").write.parquet(s"$work/changes/f0")
    Pipeline.run(spark, List("snapshot-merge",
      s"$work/changes/*", s"$work/snap", s"$work/ck", "k", "ver,k"))
    val s0 = graft.streaming.Streams.readSnapshot(spark, s"$work/snap").get
    assert(s0.count() == 2)

    // second run: only the NEW file is processed (checkpoint), stale
    // change for k=1 loses, k=3 inserts
    Seq((1L, 0L, "stale"), (3L, 1L, "c1"))
      .toDF("k", "ver", "payload").write.parquet(s"$work/changes/f1")
    Pipeline.run(spark, List("snapshot-merge",
      s"$work/changes/*", s"$work/snap", s"$work/ck", "k", "ver,k"))
    val s1 = graft.streaming.Streams.readSnapshot(spark, s"$work/snap").get
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == Map(1L -> "a1", 2L -> "b1", 3L -> "c1"))
  }

  test("profile-build persists the cell sketch; drift-check scores a shifted table against it") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_profcli").toString
    (0 until 600).map(i => ("s", (i % 100).toDouble)).toDF("seg", "v")
      .write.parquet(s"$work/ref_src")
    (0 until 300).map(i => ("s", (i % 10).toDouble)).toDF("seg", "v")
      .write.parquet(s"$work/cur_src")

    Pipeline.run(spark, List("profile-build", s"$work/ref_src",
      "seg", "v", "10", "0.0", "10.0", s"$work/profile"))
    val cells = spark.read.parquet(s"$work/profile")
    assert(cells.count() == 10) // uniform over 10 bins
    assert(cells.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) == 600L)

    // batch twin of the streaming gate: collapsed distribution → large psi
    Pipeline.run(spark, List("drift-check", s"$work/profile", s"$work/cur_src",
      "seg", "v", "10", "0.0", "10.0"))
    val psi = graft.ops.Profile.psi(cells,
      graft.ops.Profile.cells(spark.read.parquet(s"$work/cur_src"), "seg", "v", 10, 0.0, 10.0),
      bins = 10).head.getDouble(3)
    assert(psi > 0.5)
  }

  test("agg-build + agg-maintain: maintained table equals a fresh agg-build of the fact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft_aggcli").toString
    val base = (1L to 2000L).map(i => (i, (i % 7).toString, ((i * 3) % 53).toDouble))
      .toDF("id", "g", "v")
    base.write.parquet(s"$work/fact_v1")
    Pipeline.run(spark, List("agg-build", s"$work/fact_v1", "g", "v", "v", s"$work/agg_v1"))

    // change feed: delete every 41st row, insert 100 new rows
    val dels = base.filter($"id" % 41 === 0)
    val ins = (2001L to 2100L).map(i => (i, (i % 7).toString, ((i * 5) % 53).toDouble))
      .toDF("id", "g", "v")
    ins.withColumn("w", lit(1L)).unionByName(dels.withColumn("w", lit(-1L)))
      .write.parquet(s"$work/changes")
    base.join(dels.select("id"), Seq("id"), "left_anti").unionByName(ins)
      .write.parquet(s"$work/fact_v2")

    Pipeline.run(spark, List("agg-maintain", s"$work/agg_v1", s"$work/changes",
      s"$work/fact_v2", "g", "v", "v", s"$work/agg_v2"))
    Pipeline.run(spark, List("agg-build", s"$work/fact_v2", "g", "v", "v", s"$work/agg_scratch"))

    def canon(dir: String) = spark.read.parquet(dir)
      .withColumn("sum_v", round($"sum_v", 6)).orderBy("g").collect().toSeq
    assert(canon(s"$work/agg_v2") == canon(s"$work/agg_scratch"))
  }
}
