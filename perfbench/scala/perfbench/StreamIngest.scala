package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, min, month, year}

import graft.ops.{CleanHourly, DailyTmax}
import graft.sources.Ingest
import graft.streaming.Streams

/** Incremental daily Tmax: an open loop in which monthly chunks of clean
  * hourly rows land in the stream's input directory on a fixed schedule;
  * each landing runs `Streams.dailyTmaxStream` through
  * `Streams.runAvailableNow` into the parquet sink. A pass streams every
  * chunk from a fresh checkpoint. The operation is one landing, timed
  * from the chunk's due time to its daily rows being committed. A pass's
  * `wall_s` is the engine's busy time, the sum of its landings from file
  * move to commit, not the schedule-bound elapsed time. */
object StreamIngest extends Workload {
  // a run lands a handful of chunks per pass: no percentile below the
  // maximum has ten samples beyond it
  val opName = "streaming.chunk"
  val tailPercentile = 1.0
  val minPasses = 1

  @volatile private var reference: Map[(String, String), (Double, Int)] = Map.empty
  private var staged: IndexedSeq[Path] = IndexedSeq.empty

  private def zone(ctx: Ctx) = ctx.manifest.get("zone").asText
  private def chunks(ctx: Ctx) = ctx.manifest.get("chunks").asInt
  private def interval(ctx: Ctx) = ctx.manifest.get("chunk_interval_s").asDouble

  /** Decode and clean every chunk's hours in one pass into one staged
    * parquet file per chunk, compute the batch DailyTmax over the same
    * hours, and warm the stream path with two chunks, back to back. */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.freshDir("stream_staged")
    val stations = ctx.manifest.get("stations").asScala.map(_.get("id").asText).toSeq
    val decoded = stations.map(s =>
      Ingest.readIsdCsv(spark, ctx.data.resolve(s"chunk_*/isd_$s.csv").toString, s))
      .reduce(_ unionByName _)
    val first = decoded.agg(min(col("ts_utc"))).head().getTimestamp(0).toLocalDateTime
    val chunk = (year(col("ts_utc")) - first.getYear) * 12 + month(col("ts_utc")) - first.getMonthValue
    CleanHourly(decoded).withColumn("chunk", chunk)
      .repartition(col("chunk")).write.mode("overwrite").partitionBy("chunk").parquet(dir.toString)
    staged = (0 until chunks(ctx)).map { i =>
      val st = Files.list(dir.resolve(s"chunk=$i"))
      try st.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    }
    reference = DailyTmax(spark.read.parquet(staged.map(_.toString): _*), zone(ctx))
      .select(col("station_id"), col("date_local").cast("string"), col("tmax_c"),
        col("coverage_hours"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    val warm = ctx.freshDir("stream_warmup")
    streamPass(ctx, warm, 2, 0.0)
    Stats.deleteTree(warm)
  }

  def run(ctx: Ctx, seconds: Double, minPasses: Int): Timed = {
    val rows = ctx.manifest.get("hourly_rows").asDouble
    val lat = Seq.newBuilder[Double]
    val busy = Seq.newBuilder[Double]
    val stored = Seq.newBuilder[Double]
    Stats.repeatFor(seconds, minPasses) { i =>
      val dir = ctx.freshDir(s"pass_$i")
      val t0 = System.nanoTime()
      ctx.guarded(s"stream pass $i") {
        val (l, b) = streamPass(ctx, dir, chunks(ctx), interval(ctx))
        lat ++= l
        busy += b
        checkPass(ctx, dir.resolve("sink"))
      }
      val s = Stats.since(t0)
      stored += (Stats.dirBytes(dir.resolve("ckpt")) + Stats.dirBytes(dir.resolve("sink"))).toDouble
      Stats.deleteTree(dir)
      s
    }
    val busyS = busy.result()
    // hourly rows per second the engine spent on them
    Timed(lat.result(), busyS, rows, Stats.median(busyS), Stats.median(stored.result()))
  }

  /** Land the first `n` chunks on a schedule of one per `everyS` seconds,
    * running the stream after each landing; returns per-chunk latency in
    * ms from due time to commit, and the seconds spent from landing to
    * commit summed over the landings. */
  private def streamPass(ctx: Ctx, dir: Path, n: Int, everyS: Double): (Seq[Double], Double) = {
    val t = ctx.tracer
    val in = Files.createDirectories(dir.resolve("in"))
    val ckpt = dir.resolve("ckpt").toString
    val sink = dir.resolve("sink").toString
    val start = System.nanoTime()
    val due = (0 until n).map(i => start + (i * everyS * 1e9).toLong)
    val lat = Seq.newBuilder[Double]
    var busyNs = 0L
    var next = 0
    while (next < n) {
      val wait = due(next) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      t.span(opName) {
        val now = System.nanoTime()
        val landing = (next until n).takeWhile(i => due(i) <= now)
        landing.foreach { i =>
          val tmp = in.resolve(f".c$i%02d.tmp")
          Files.copy(staged(i), tmp)
          Files.move(tmp, in.resolve(f"c$i%02d.parquet"), StandardCopyOption.ATOMIC_MOVE)
          t.count("streaming.generator_late_ms", (System.nanoTime() - due(i)) / 1e6)
        }
        t.span("streaming.trigger") {
          Streams.runAvailableNow(
            Streams.dailyTmaxStream(Streams.hourlyObsStream(ctx.spark, in.toString), zone(ctx)),
            ckpt, sink)
        }
        val end = System.nanoTime()
        busyNs += end - now
        landing.foreach(i => lat += (end - due(i)) / 1e6)
        if (t.active) {
          val ps = t.drainProgress().map(_.progress)
          def ms(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
          t.count("streaming.query_planning_ms", ms("queryPlanning"))
          t.count("streaming.add_batch_ms", ms("addBatch"))
          t.count("streaming.wal_commit_ms", ms("walCommit"))
          ps.lastOption.foreach { p =>
            t.count("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
            t.count("streaming.state_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0)
          }
        }
        t.count("spark.cached_mb", Stats.cachedMb(ctx.spark))
        next += landing.size
      }
    }
    (lat.result(), busyNs / 1e9)
  }

  /** The streamed daily rows equal batch DailyTmax on the same hours, and
    * every day the watermark has closed was emitted. */
  private def checkPass(ctx: Ctx, sink: Path): Unit = {
    val got = ctx.spark.read.parquet(sink.toString)
      .select(col("station_id"), col("date_local").cast("string"), col("tmax_c"),
        col("coverage_hours"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getInt(3)))
    val wrong = got.filterNot { case (k, v) => reference.get(k).contains(v) }
    ctx.check(wrong.isEmpty && got.length == got.map(_._1).distinct.length,
      s"streamed daily rows differ from batch DailyTmax: ${wrong.take(3).toSeq}")
    // the watermark trails the newest local hour by two days; every day
    // ending at or before it is closed
    val lastDay = reference.keys.map(_._2).max
    val closed = reference.keys.filter(_._2 <
      java.time.LocalDate.parse(lastDay).minusDays(2).toString).toSet
    val missing = closed -- got.map(_._1)
    ctx.check(missing.isEmpty,
      s"${missing.size} closed station-days never emitted, e.g. ${missing.take(3)}")
  }
}
