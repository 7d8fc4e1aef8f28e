package perfbench

import java.sql.{Date, Timestamp}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.ops.Manifest
import graft.sources.Sinks

/** Read side of the weather layout: a closed loop of one client per core,
  * each issuing a seeded mix of point and range reads against the tables
  * `WeatherBatch`'s sinks write (built in set-up): a station's daily Tmax
  * over a date range, a station's hourly day, and a station's train-slice
  * error metrics read through the manifest. Station popularity in the
  * query pool is Zipf-skewed. The operation is one lookup. */
object ServeLookups extends Workload {
  // a 10 s run answers about 145 lookups: p90 keeps ten or more samples
  // beyond it
  val opName = "serve.lookup"
  val tailPercentile = 0.9
  val minPasses = 1

  final case class Query(kind: String, station: String, lo: Date, hi: Date)
  private type Answer = Seq[Seq[Any]]

  @volatile private var expected: Map[Query, Answer] = Map.empty
  private var pool: IndexedSeq[Query] = IndexedSeq.empty

  private def layout(ctx: Ctx) = ctx.work.resolve("serve")
  private def hourlyDir(ctx: Ctx) = layout(ctx).resolve("hourly").toString
  private def dailyDir(ctx: Ctx) = layout(ctx).resolve("daily").toString
  private def trainDir(ctx: Ctx) = layout(ctx).resolve("train").toString
  private def manifestDir(ctx: Ctx) = layout(ctx).resolve("train_manifest").toString

  /** Build the layout, then precompute every pool answer by full scans. */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.freshDir("serve")
    WeatherBatch.ingestAndClean(ctx, hourlyDir(ctx))
    WeatherBatch.buildDaily(ctx, hourlyDir(ctx), dailyDir(ctx))
    val unsorted = dir.resolve("train_unsorted").toString
    WeatherBatch.buildTrain(ctx, dailyDir(ctx), unsorted)
    Sinks.writeSortedBy(spark.read.parquet(unsorted), trainDir(ctx), Seq("target_date_local"),
      numFiles = 2 * ctx.cores)
    Stats.deleteTree(java.nio.file.Path.of(unsorted))
    Manifest.write(spark, trainDir(ctx), manifestDir(ctx), Seq("target_date_local"))

    pool = ctx.manifest.get("queries").asScala.toIndexedSeq.map(q =>
      Query(q.get(0).asText, q.get(1).asText, Date.valueOf(q.get(2).asText),
        Date.valueOf(q.get(3).asText)))
    val daily = spark.read.parquet(dailyDir(ctx)).select("station_id", "date_local", "tmax_c")
      .collect().groupBy(_.getString(0))
    val hourly = spark.read.parquet(hourlyDir(ctx)).select("station_id", "ts_utc", "temp_c")
      .collect().groupBy(_.getString(0))
    val train = spark.read.parquet(trainDir(ctx))
      .select("station_id", "target_date_local", "residual_f").collect().groupBy(_.getString(0))
    def inRange(d: Date, q: Query) = !d.before(q.lo) && !d.after(q.hi)
    expected = pool.distinct.map { q =>
      q -> (q.kind match {
        case "daily_range" => daily.getOrElse(q.station, Array.empty[Row])
          .filter(r => inRange(r.getDate(1), q)).map(r => Seq[Any](r.get(1), r.get(2))).toSeq
        case "hourly_day" =>
          val (lo, hi) = dayBounds(q)
          hourly.getOrElse(q.station, Array.empty[Row])
            .filter(r => !r.getTimestamp(1).before(lo) && r.getTimestamp(1).before(hi))
            .map(r => Seq[Any](r.get(1), r.get(2))).toSeq
        case "train_metrics" =>
          val res = train.getOrElse(q.station, Array.empty[Row])
            .filter(r => inRange(r.getDate(1), q)).map(_.getDouble(2))
          val n = res.length.toDouble
          Seq(Seq[Any](res.length.toLong, res.map(math.abs).sum / n,
            math.sqrt(res.map(x => x * x).sum / n), res.sum / n))
      }).sortBy(_.head.toString)
    }.toMap
    // warm the read path
    pool.take(3 * ctx.cores).foreach(q => lookup(ctx, q))
  }

  private def dayBounds(q: Query): (Timestamp, Timestamp) = {
    val lo = Timestamp.valueOf(q.lo.toLocalDate.atStartOfDay())
    (lo, Timestamp.valueOf(q.lo.toLocalDate.plusDays(1).atStartOfDay()))
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(df: DataFrame): Seq[FileSourceScanExec] =
      collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
  }

  /** One lookup, checked against its precomputed answer. */
  def lookup(ctx: Ctx, q: Query): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    t.span(opName) {
      val t0 = System.nanoTime()
      val df = q.kind match {
        case "daily_range" =>
          spark.read.parquet(dailyDir(ctx))
            .filter(col("station_id") === q.station && col("date_local").between(q.lo, q.hi))
            .select("date_local", "tmax_c")
        case "hourly_day" =>
          val (lo, hi) = dayBounds(q)
          spark.read.parquet(hourlyDir(ctx))
            .filter(col("station_id") === q.station &&
              col("year") === q.lo.toLocalDate.getYear &&
              col("ts_utc") >= lo && col("ts_utc") < hi)
            .select("ts_utc", "temp_c")
        case "train_metrics" =>
          t.span("ops.manifest.read_range") {
            Manifest.readRange(spark, trainDir(ctx), manifestDir(ctx), "target_date_local",
              q.lo, q.hi)
          }.filter(col("station_id") === q.station)
            .agg(count(lit(1)), avg(abs(col("residual_f"))),
              sqrt(avg(col("residual_f") * col("residual_f"))), avg(col("residual_f")))
      }
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
      val t2 = System.nanoTime()
      if (t.active) {
        val scans = Scans.of(df)
        val read = scans.map(_.metrics("numOutputRows").value).sum.toDouble
        val returned = if (q.kind == "train_metrics") rows.head.head.asInstanceOf[Long] else rows.size
        t.count("serve.plan_ms", (t1 - t0) / 1e6)
        t.count("serve.exec_ms", (t2 - t1) / 1e6)
        t.count("serve.files_listed",
          scans.map(_.relation.location.inputFiles.length).sum.toDouble)
        t.count("serve.rows_read_per_row_returned", read / math.max(1L, returned))
      }
      val want = expected.get(q)
      if (want.isDefined) ctx.check(same(rows, want.get), s"lookup $q: got $rows, want ${want.get}")
    }
  }

  private def same(a: Answer, b: Answer): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (u: Double, v: Double) => u == v || math.abs(u - v) <= 1e-9 * math.max(1, math.abs(v))
        case (u, v) => u == v
      }
    }

  /** Closed loop for `seconds`; `minPasses` does not apply. */
  def run(ctx: Ctx, seconds: Double, minPasses: Int): Timed = {
    val seed = ctx.manifest.get("seed").asLong
    val lat = new ConcurrentLinkedQueue[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val clients = (0 until ctx.cores).map { c =>
      val th = new Thread(() => {
        val rng = new java.util.Random(seed * 1000 + c)
        while (System.nanoTime() < deadline) {
          val q = pool(rng.nextInt(pool.size))
          val s = System.nanoTime()
          if (ctx.guarded(s"lookup $q")(lookup(ctx, q))) lat.add((System.nanoTime() - s) / 1e6)
        }
      }, s"serve-client-$c")
      th.start()
      th
    }
    clients.foreach(_.join())
    val elapsed = Stats.since(t0)
    val l = lat.asScala.toSeq
    val perS = l.size / elapsed
    val stored = Stats.dirBytes(layout(ctx)).toDouble
    // a pass answers the whole query pool once at the measured rate
    Timed(l, Seq(pool.size / perS), l.size.toDouble, elapsed, stored)
  }
}
