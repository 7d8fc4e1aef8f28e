package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("hourly sink partitions by station/year and prunes on read") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val df = Seq(
      (Timestamp.valueOf("2023-07-01 00:00:00"), "KLGA", 20.0),
      (Timestamp.valueOf("2024-07-01 00:00:00"), "KLGA", 21.0),
      (Timestamp.valueOf("2024-07-01 00:00:00"), "KJFK", 22.0))
      .toDF("ts_utc", "station_id", "temp_c")
    Sinks.writeHourlyObs(df, dir)
    assert(Files.exists(Paths.get(s"$dir/station_id=KLGA/year=2023")))
    assert(Files.exists(Paths.get(s"$dir/station_id=KJFK/year=2024")))
    val read = spark.read.parquet(dir).filter($"station_id" === "KLGA" && $"year" === 2024)
    assert(read.count() == 1)
    val plan = read.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("station_id"), s"partition pruning missing: $scanLine")
  }

  test("writeSortedBy: disjoint per-file key ranges, sorted within files") {
    val dir = Files.createTempDirectory("graft_sorted").toString
    // scrambled key so the layout is earned by the sink, not the input
    val df = spark.range(10000)
      .select($"id", pmod($"id" * 2654435761L, lit(10007L)).as("k"))
    Sinks.writeSortedBy(df, dir, Seq("k"), numFiles = 4)
    val files = Files.list(Paths.get(dir)).iterator()
    val parts = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(parts.size == 4)
    // per-file min/max spans must not overlap: a range predicate then
    // touches few FILES, and (via the within-file sort) few row groups
    val spans = parts.map { f =>
      val r = spark.read.parquet(f).agg(min($"k"), max($"k")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, prevMax), (nextMin, _)) =>
        assert(prevMax <= nextMin, s"overlapping file ranges: $spans")
      case _ =>
    }
    // rows inside a file are sorted — the property parquet row-group
    // min/max stats need to be narrow
    val ks = spark.read.parquet(parts.head).coalesce(1)
      .select($"k").collect().map(_.getLong(0))
    assert(ks.sameElements(ks.sorted), "rows within a file must be sorted by k")
  }

  test("CLI dedup-docs output is the sorted pruning layout") {
    val in = Files.createTempDirectory("graft_cli_sorted_in").toString
    val outDir = Files.createTempDirectory("graft_cli_sorted_out").toString
    (1 to 400).map(i => (i.toLong, s"unique doc body number $i with words w${i}a w${i}b"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    // AQE rightly coalesces this tiny shuffle to one file at spec scale;
    // disable coalescing here so the range layout is observable
    val prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      graft.cli.Pipeline.run(spark, List("dedup-docs", in, outDir))
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    // per-file doc_id spans disjoint (range partitioning was applied)
    val parts = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.list(Paths.get(s"$outDir/docs")).iterator()).asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(parts.size > 1, "expected multiple range-partitioned files")
    val spans = parts.map { f =>
      val r = spark.read.parquet(f).agg(min($"doc_id"), max($"doc_id")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, prevMax), (nextMin, _)) => assert(prevMax <= nextMin)
      case _ =>
    }
    // rows inside a file sorted → narrow row-group stats; and the range
    // predicate reaches the scan as a pushed filter
    val ids = spark.read.parquet(parts.head).coalesce(1)
      .select($"doc_id").collect().map(_.getLong(0))
    assert(ids.sameElements(ids.sorted))
    val plan = spark.read.parquet(s"$outDir/docs")
      .filter($"doc_id" >= 100L && $"doc_id" < 120L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"))
  }

  test("writeDaily sorts by date within each station partition") {
    val dir = Files.createTempDirectory("graft_daily_sorted").toString
    val df = (1 to 300).map { i =>
      (java.sql.Date.valueOf(f"2024-${i % 12 + 1}%02d-${i % 28 + 1}%02d"),
        if (i % 2 == 0) "KLGA" else "KJFK", 20.0 + i % 15)
    }.toDF("date_local", "station_id", "tmax_c")
    Sinks.writeDaily(df, dir)
    for (st <- Seq("KLGA", "KJFK")) {
      val files = scala.jdk.CollectionConverters.IteratorHasAsScala(
          Files.list(Paths.get(s"$dir/station_id=$st")).iterator()).asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
      files.foreach { f =>
        val ds = spark.read.parquet(f).coalesce(1)
          .select($"date_local").collect().map(_.getDate(0).toString)
        assert(ds.sameElements(ds.sorted), s"dates not sorted within $f")
      }
    }
  }

  test("forecast append overwrites only the re-ingested issue partition") {
    val dir = Files.createTempDirectory("graft_fc").toString
    def part(issue: String, v: Double) = Seq(("KLGA", Timestamp.valueOf(issue), v))
      .toDF("station_id", "issue_time_utc", "tmax_pred_f")
    Sinks.appendForecastPartition(part("2024-07-01 12:00:00", 86.0), dir)
    Sinks.appendForecastPartition(part("2024-07-01 18:00:00", 88.0), dir)
    // re-ingest the 12:00 issue with corrected data
    Sinks.appendForecastPartition(part("2024-07-01 12:00:00", 87.0), dir)
    val out = spark.read.parquet(dir).orderBy("issue_hour")
      .select("tmax_pred_f").as[Double].collect()
    assert(out.toSeq == Seq(87.0, 88.0)) // 12:00 replaced, 18:00 untouched
  }

  test("a forecast append keeps the session's partitionOverwriteMode, during and after the write") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val dir = Files.createTempDirectory("graft_fc_conf").toString
    def part(issue: String) = Seq(("KLGA", Timestamp.valueOf(issue), 86.0))
      .toDF("station_id", "issue_time_utc", "tmax_pred_f")
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "STATIC")
      // each job of a query carries the session's SQL conf as its local
      // properties: what a query running beside the write would see
      val (_, jobs) = jobsOf(Sinks.appendForecastPartition(part("2024-07-01 12:00:00"), dir))
      assert(jobs.nonEmpty)
      assert(jobs.forall(_.getProperty(key) == "STATIC"),
        s"the write changed the session's mode: ${jobs.map(_.getProperty(key))}")
      assert(spark.conf.get(key) == "STATIC")
      spark.conf.unset(key)
      Sinks.appendForecastPartition(part("2024-07-01 18:00:00"), dir)
      assert(!spark.conf.getAll.contains(key), "an unset mode must stay unset")
      assert(spark.read.parquet(dir).count() == 2)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bucketed tables join co-located: no exchange on either side") {
    val left = (1 to 200).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val right = (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("k", "rv")
    Sinks.writeBucketed(left, "bkt_left", "k", 4, sortCols = Seq("k"))
    Sinks.writeBucketed(right, "bkt_right", "k", 4, sortCols = Seq("k"))
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(joined.count() == 200)
      val plan = joined.queryExecution.executedPlan.toString
      // the write-time bucketing satisfies the join's distribution
      // requirement on BOTH sides: shuffle paid once at write, never again
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("ORC interchange: round-trip equality and predicate pushdown into the ORC scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = graft.core.Tables.orders(spark, "/root/testdata/sf0.001")
    Sinks.writeOrcSortedBy(src, s"$dir/orders_orc", Seq("o_orderkey"), numFiles = 4)
    val back = spark.read.orc(s"$dir/orders_orc")
    // round-trip: same rows, same values (sorted compare on the key)
    assert(back.count() == src.count())
    val a = src.orderBy($"o_orderkey").collect()
    val b = back.orderBy($"o_orderkey").collect()
    assert(a.zip(b).forall { case (x, y) => x == y }, "ORC round-trip changed rows")
    // scan contract: a range predicate reaches the ORC reader
    val q = back.filter($"o_orderkey" < 100).select($"o_orderkey", $"o_totalprice")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)]"),
      s"expected the range filter pushed into the ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"expected pruned ORC ReadSchema:\n$plan")
  }
}
