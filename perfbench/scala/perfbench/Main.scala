package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one timed phase measured. `latMs` holds one latency per
  * operation, `passS` one duration per pass from input to checked result,
  * `items` the completed work units and `storedBytes` what the engine
  * wrote for one pass. */
final case class Timed(latMs: Seq[Double], passS: Seq[Double], items: Double,
    elapsedS: Double, storedBytes: Double)

/** Shared state of one benchmark process. `check` feeds `error_rate`. */
final class Ctx(val spark: SparkSession, val data: Path, val work: Path,
    val cores: Int, val manifest: JsonNode) {
  val tracer = new Tracer(spark, Main.runId)
  var attempted = 0L
  var failed = 0L
  val notes = mutable.LinkedHashMap[String, String]()

  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
    ok
  }

  /** Count an operation that threw as attempted and failed. */
  def guarded(what: String)(body: => Unit): Boolean =
    try { body; true } catch {
      case e: Exception =>
        synchronized { attempted += 1; failed += 1 }
        System.err.println(s"[perfbench] OPERATION FAILED: $what: $e")
        e.printStackTrace()
        false
    }

  /** A fresh, empty directory under the work dir. */
  def freshDir(name: String): Path = {
    val p = work.resolve(name)
    Stats.deleteTree(p)
    Files.createDirectories(p)
    p
  }
}

/** One benchmark workload: `prepare` builds its state and warms the code
  * path it times (part of set-up), `run` is its timed phase: at least
  * `minPasses` passes, and more while the next is expected to end within
  * `seconds`. */
trait Workload {
  /** Fixed percentile reported as `latency_tail_ms`, chosen for the
    * sample count one run produces (see README.md). */
  def tailPercentile: Double
  /** Name of the traced run's root span: one pass (weather, curation) or
    * one operation (stream, serve). */
  def opName: String
  /** Passes an untraced run times, so `wall_s` is a median of them. */
  def minPasses: Int
  def prepare(ctx: Ctx): Unit
  def run(ctx: Ctx, seconds: Double, minPasses: Int): Timed
}

object Main {
  val runId: String = java.util.UUID.randomUUID().toString.take(8)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload: Workload = opt("workload") match {
      case "weather_batch" => WeatherBatch
      case "curation_dedup" => CurationDedup
      case "serve_lookups" => ServeLookups
      case "stream_ingest" => StreamIngest
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(opt("work")).toAbsolutePath
    Stats.deleteTree(work)
    Files.createDirectories(work)

    val spark = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val data = Paths.get(opt("data")).toAbsolutePath
    val manifest = new ObjectMapper().readTree(data.resolve("manifest.json").toFile)
    val ctx = new Ctx(spark, data, work, cores, manifest)
    val t0 = System.nanoTime()
    workload.prepare(ctx)
    val prepS = Stats.since(t0)
    // process start to the start of the timed phase
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    if (seconds <= 0) { // set-up only: records the class archive at build
      spark.stop()
      return
    }

    val out = mutable.LinkedHashMap[String, Double]()
    if (!traced) {
      val t = workload.run(ctx, seconds, workload.minPasses)
      out ++= endToEnd(t, workload.tailPercentile)
      out("setup_s") = setupS
      out("retained_heap_mb") = Stats.retainedHeapMb()
      ctx.notes("latency_tail") =
        s"p${workload.tailPercentile * 100} of ${t.latMs.size} operations"
      ctx.notes("latencies_ms") = t.latMs.map(v => f"$v%.0f").mkString(",")
    } else {
      // an untraced half, then a traced half (one pass each on weather,
      // curation and stream): the difference in the median pass is the
      // tracing overhead
      val plain = workload.run(ctx, seconds / 2, 1)
      ctx.tracer.start()
      val traced = workload.run(ctx, seconds / 2, 1)
      out ++= ctx.tracer.summarize(cores, workload.opName)
      // index bytes the probes read per byte of index stored
      for (r <- out.get("ops.incremental_indexed.read_mb");
           i <- out.get("ops.incremental_indexed.index_mb"))
        out("ops.incremental_indexed.probe_read_share") = r / i
      out("trace.overhead_pct") =
        (Stats.median(traced.passS) / Stats.median(plain.passS) - 1) * 100
      Files.write(work.resolve("spans.jsonl"),
        ctx.tracer.spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    out("error_rate") = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    ctx.notes("prepare_s") = f"$prepS%.3f"
    ctx.notes("session_s") = f"$sessionS%.3f"
    writeResult(Paths.get(opt("out")), ctx, out)
    spark.stop()
  }

  def endToEnd(t: Timed, tailP: Double): Map[String, Double] = Map(
    "wall_s" -> Stats.median(t.passS),
    "items_per_s" -> t.items / t.elapsedS,
    "latency_p50_ms" -> Stats.median(t.latMs),
    "latency_tail_ms" -> Stats.percentile(t.latMs, tailP),
    "stored_mb" -> t.storedBytes / (1024.0 * 1024.0))

  private def writeResult(path: Path, ctx: Ctx, metrics: collection.Map[String, Double]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", ctx.attempted)
    root.put("failed", ctx.failed)
    val mm = root.putObject("metrics")
    metrics.foreach { case (k, v) => mm.put(k, v) }
    val nn = root.putObject("notes")
    ctx.notes.foreach { case (k, v) => nn.put(k, v) }
    Files.write(path, m.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** Data files (not commit markers or checksums) under `p`. */
  def dataFiles(p: Path): Long = {
    val st = Files.walk(p)
    try st.filter(f => Files.isRegularFile(f) && {
      val n = f.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }).count()
    finally st.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally st.close()
  }

  /** JVM heap still live after full collections. Spark's context
    * cleaner frees blocks of collected frames asynchronously, so collect
    * until the live heap stops shrinking. */
  def retainedHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    def live(): Double = {
      System.gc()
      Thread.sleep(300)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = live()
    var cur = live()
    var rounds = 2
    while (prev - cur > 1.0 && rounds < 10) {
      prev = cur
      cur = live()
      rounds += 1
    }
    cur
  }

  /** Storage memory and disk held by cached blocks. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  /** Run `op` (which returns its duration in seconds) at least `minRuns`
    * times, and again while the next run is expected to end within
    * `seconds`. */
  def repeatFor(seconds: Double, minRuns: Int)(op: Int => Double): Seq[Double] = {
    val done = Seq.newBuilder[Double]
    var elapsed = 0.0
    var last = 0.0
    var i = 0
    while (i < minRuns || elapsed + last <= seconds) {
      last = op(i)
      elapsed += last
      done += last
      i += 1
    }
    done.result()
  }

  /** Seconds since `t0` (a System.nanoTime value). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
